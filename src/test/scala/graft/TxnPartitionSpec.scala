package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxnLog

/** Partitioned transaction-log tables: hive-laid staging, path-carried
  * partition values, tier-0 file pruning, the O(1) metadata partition
  * DROP, and hive-layout adoption. The value-level answer is
  * q_txn_partition's oracle; these pin the file-layout and
  * metadata-only mechanics DuckDB cannot see. */
class TxnPartitionSpec extends AnyFunSuite with SparkSpec {

  private def freshTable(tag: String): String = {
    val t = s"${sys.props("java.io.tmpdir")}/graft_part_${spark.sparkContext.applicationId}_$tag"
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    t
  }

  private def fixture(tag: String): String = {
    import spark.implicits._
    val t = freshTable(tag)
    val df = (0L until 300L)
      .map(i => (i, s"n$i", Seq("en", "de", "fr")(i.toInt % 3)))
      .toDF("id", "s", "lang")
    TxnLog.createPartitioned(spark, t,
      df.filter(col("id") < 150).repartition(2), Seq("lang"))
    TxnLog.append(spark, t, df.filter(col("id") >= 150).repartition(2))
    t
  }

  test("create + append lay files out hive-style and the read round-trips " +
       "values, types, and row population exactly") {
    import spark.implicits._
    val t = fixture("roundtrip")
    val rels = TxnLog.snapshot(spark, t)
    assert(rels.nonEmpty && rels.forall(_.matches("stage-[^/]+/lang=[^/]+/.*\\.parquet")),
      s"hive layout expected, got: ${rels.take(3)}")
    assert(TxnLog.partitionColumns(spark, t) === Seq("lang"))
    val got = TxnLog.read(spark, t).as[(Long, String, String)].collect().toSet
    val want = (0L until 300L)
      .map(i => (i, s"n$i", Seq("en", "de", "fr")(i.toInt % 3))).toSet
    assert(got === want)
    // The schema presents the partition column as an ordinary column.
    assert(TxnLog.read(spark, t).schema.fieldNames.toSeq === Seq("id", "s", "lang"))
  }

  test("partition-equality reads prune the FILE LIST before stats " +
       "(tier 0), and readPrunedEq composes the partition tier") {
    val t = fixture("prune")
    val all = TxnLog.snapshotFull(spark, t)
    val enFiles = all.map(_._1).count(_.contains("lang=en"))
    assert(enFiles > 0 && enFiles < all.size)
    // The pruned read scans only the matching partition's files.
    val df = TxnLog.readPrunedPartition(spark, t, "lang", Seq("en"))
    val scanned = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }.sum
    assert(scanned === enFiles, s"scanned $scanned of ${all.size}, want $enFiles")
    assert(df.count() === 100L)
    // readPrunedEq on the partition column prunes identically (tier 0
    // fires — the partition column has no footer stats to consult).
    assert(TxnLog.readPrunedEq(spark, t, "lang", Seq("de")).count() === 100L)
    val kept = TxnLog.pruneFilesEq(spark, t, "lang", Seq("de"), all)
    assert(kept.map(_._1).forall(_.contains("lang=de")))
    // An absent partition value plans to the empty relation.
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("zz")).count() === 0L)
  }

  test("dropPartition is METADATA-ONLY: no byte moves, the snapshot " +
       "excludes the partition, time travel still resolves it, vacuum " +
       "reclaims it") {
    val t = fixture("drop")
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def diskFiles: Int = {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet") &&
            !st.getPath.toString.contains("/_")) n += 1
      }
      n
    }
    val before = diskFiles
    val vBefore = TxnLog.latestVersion(spark, t)
    TxnLog.dropPartition(spark, t, "lang", "en")
    assert(diskFiles === before, "a partition drop must not touch data files")
    assert(TxnLog.latestVersion(spark, t) === vBefore + 1)
    assert(TxnLog.read(spark, t).filter(col("lang") === "en").count() === 0L)
    assert(TxnLog.read(spark, t).count() === 200L)
    // Time travel still serves the dropped partition.
    assert(TxnLog.read(spark, t, Some(vBefore))
      .filter(col("lang") === "en").count() === 100L)
    // Vacuum reclaims the dropped files after retention.
    val swept = TxnLog.vacuum(spark, t, retainVersions = 1, retainMillis = 0L)
    assert(swept.count(_.contains("lang=en")) > 0)
    assert(TxnLog.read(spark, t).count() === 200L)
    // Dropping a non-partition column refuses.
    intercept[IllegalArgumentException] {
      TxnLog.dropPartition(spark, t, "s", "n1")
    }
  }

  test("DML preserves the layout: COW DELETE and MoR UPDATE rewrite " +
       "into hive-laid files and the partition read stays pruned") {
    val t = fixture("dml")
    TxnLog.delete(spark, t, col("id") % 10 === 0)      // COW rewrite
    TxnLog.updateMoR(spark, t, col("id") === 7L,
      Map("s" -> lit("updated")))                      // DV + copy
    val rels = TxnLog.snapshot(spark, t)
    assert(rels.forall(_.contains("lang=")),
      s"every live data file must stay hive-laid: ${rels.filterNot(_.contains("lang="))}")
    // en ⇔ id%3==0 (100 ids); deleted en ids ⇔ id%30==0 (10 ids).
    val en = TxnLog.readPrunedPartition(spark, t, "lang", Seq("en"))
    assert(en.count() === 90L)
    assert(TxnLog.read(spark, t).filter(col("s") === "updated").count() === 1L)
  }

  test("MERGE into a partitioned table resolves by key and keeps the " +
       "layout; the full surface composes") {
    import spark.implicits._
    val t = fixture("merge")
    val delta = Seq((3L, "upd3", "en"), (999L, "new", "de"))
      .toDF("id", "s", "lang")
    TxnLog.merge(spark, t, delta, "id")
    val got = TxnLog.read(spark, t)
      .filter(col("id").isin(3L, 999L))
      .as[(Long, String, String)].collect().toSet
    assert(got === Set((3L, "upd3", "en"), (999L, "new", "de")))
    assert(TxnLog.snapshot(spark, t).forall(_.contains("lang=")))
  }

  test("null and special-char partition values round-trip through the " +
       "path escaping; equality prunes never match the null partition") {
    import spark.implicits._
    val t = freshTable("specials")
    val df = Seq((1L, "a", "with space"), (2L, "b", "pct%40"),
      (3L, "c", null), (4L, "d", "eq=colon:")).toDF("id", "s", "grp")
    TxnLog.createPartitioned(spark, t, df.coalesce(1), Seq("grp"))
    val got = TxnLog.read(spark, t)
      .as[(Long, String, Option[String])].collect().toSet
    assert(got === Set((1L, "a", Some("with space")), (2L, "b", Some("pct%40")),
      (3L, "c", None), (4L, "d", Some("eq=colon:"))))
    assert(TxnLog.readPrunedPartition(spark, t, "grp", Seq("with space"))
      .count() === 1L)
    // Equality probe on the partition column drops the null-partition
    // file (an equality can never match null).
    val all = TxnLog.snapshotFull(spark, t)
    val kept = TxnLog.pruneFilesEq(spark, t, "grp", Seq("pct%40"), all)
    assert(kept.size === 1 && kept.head._1.contains("grp=pct"))
    // dropPartition of one value leaves the null partition alone.
    TxnLog.dropPartition(spark, t, "grp", "eq=colon:")
    assert(TxnLog.read(spark, t).count() === 3L)
  }

  test("a comma in a partition value survives the log: both rows read " +
       "back and the value prunes exactly") {
    import spark.implicits._
    val t = freshTable("comma")
    TxnLog.createPartitioned(spark, t,
      Seq(("a,b", 1L), ("c", 2L)).toDF("city", "x"), Seq("city"))
    assert(TxnLog.read(spark, t).select("city", "x").as[(String, Long)]
      .collect().toSet === Set(("a,b", 1L), ("c", 2L)))
    assert(TxnLog.readPrunedPartition(spark, t, "city", Seq("a,b"))
      .count() === 1L)
  }

  test("integral partition columns prune numerically and round-trip " +
       "their type") {
    import spark.implicits._
    val t = freshTable("intpart")
    val df = (0L until 90L).map(i => (i, i % 3)).toDF("id", "day")
    TxnLog.createPartitioned(spark, t, df.repartition(2), Seq("day"))
    assert(TxnLog.read(spark, t).schema("day").dataType
      === org.apache.spark.sql.types.LongType)
    assert(TxnLog.readPrunedPartition(spark, t, "day", Seq(1L)).count() === 30L)
    assert(TxnLog.readPrunedEq(spark, t, "day", Seq(2L)).count() === 30L)
    assert(TxnLog.read(spark, t).filter(col("day") === 0L)
      .agg(sum("id")).head().getLong(0)
      === (0L until 90L).filter(_ % 3 == 0).sum)
  }

  test("ADOPT harvests a hive layout: partition columns, inferred " +
       "types, pruning, and partition-drop all work on the adopted " +
       "table; a mixed layout refuses") {
    import spark.implicits._
    val t = freshTable("adopt")
    (0L until 200L).map(i => (i, s"n$i", Seq("en", "de")(i.toInt % 2), i % 4))
      .toDF("id", "s", "lang", "bucket")
      .write.partitionBy("lang", "bucket").parquet(t)
    TxnLog.adopt(spark, t)
    assert(TxnLog.partitionColumns(spark, t) === Seq("lang", "bucket"))
    // Discovery-inferred integer type for bucket.
    val dt = TxnLog.read(spark, t).schema("bucket").dataType
    assert(dt === org.apache.spark.sql.types.IntegerType ||
      dt === org.apache.spark.sql.types.LongType, s"got $dt")
    assert(TxnLog.read(spark, t).count() === 200L)
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("de")).count() === 100L)
    val all = TxnLog.snapshotFull(spark, t)
    val kept = TxnLog.pruneFilesEq(spark, t, "bucket", Seq(3L), all)
    assert(kept.nonEmpty && kept.map(_._1).forall(_.contains("bucket=3")))
    TxnLog.dropPartition(spark, t, "lang", "en")
    assert(TxnLog.read(spark, t).count() === 100L)
    // An append after adoption stays hive-laid.
    TxnLog.append(spark, t,
      Seq((999L, "x", "de", 9L)).toDF("id", "s", "lang", "bucket")
        .withColumn("bucket", col("bucket").cast(dt)))
    assert(TxnLog.snapshot(spark, t)
      .filter(_.startsWith("stage-")).forall(_.contains("lang=")))
    assert(TxnLog.read(spark, t).count() === 101L)

    // Mixed layout refuses loudly.
    val t2 = freshTable("adoptmixed")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$t2/flat")
    Seq((2L, "b", "en")).toDF("id", "s", "lang")
      .write.partitionBy("lang").parquet(s"$t2/hive")
    val e = intercept[IllegalArgumentException] { TxnLog.adopt(spark, t2) }
    assert(e.getMessage.contains("inconsistent partition layout"))
  }

  test("partition columns refuse RENAME/DROP COLUMN and bloom " +
       "configuration (their values live in the paths)") {
    val t = fixture("guards")
    val e1 = intercept[Exception] { TxnLog.renameColumn(spark, t, "lang", "l2") }
    assert(e1.getMessage.contains("partition column"))
    val e2 = intercept[Exception] { TxnLog.dropColumn(spark, t, "lang") }
    assert(e2.getMessage.contains("partition column"))
    import spark.implicits._
    val e3 = intercept[IllegalArgumentException] {
      TxnLog.appendWithBloom(spark, t,
        Seq((9999L, "x", "en")).toDF("id", "s", "lang"), Seq("lang"))
    }
    assert(e3.getMessage.contains("partition column"))
    // A bloom on a NON-partition column of a partitioned table works:
    // sidecars build from the hive-laid files (which carry it).
    TxnLog.appendWithBloom(spark, t,
      Seq((10000L, "bloomed", "de")).toDF("id", "s", "lang"), Seq("s"))
    assert(TxnLog.readPrunedEq(spark, t, "s", Seq("bloomed")).count() === 1L)
  }

  test("exactly-once streaming appends land hive-laid on a partitioned " +
       "table and replayed batches stay dropped") {
    import spark.implicits._
    val t = freshTable("stream")
    TxnLog.createPartitioned(spark, t,
      Seq((0L, "seed", "en")).toDF("id", "s", "lang"), Seq("lang"))
    val b0 = Seq((1L, "a", "en"), (2L, "b", "de")).toDF("id", "s", "lang")
    assert(TxnLog.appendBatch(spark, t, b0, "streamA", 0L).isDefined)
    // Replay of the same batchId is dropped without publishing.
    assert(TxnLog.appendBatch(spark, t, b0, "streamA", 0L).isEmpty)
    assert(TxnLog.appendBatch(spark, t,
      Seq((3L, "c", "fr")).toDF("id", "s", "lang"), "streamA", 1L).isDefined)
    assert(TxnLog.read(spark, t).count() === 4L)
    assert(TxnLog.snapshot(spark, t).forall(_.contains("lang=")),
      "streaming batches must stage hive-laid like any other write")
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("de"))
      .as[(Long, String, String)].collect().toSeq === Seq((2L, "b", "de")))
  }

  test("partitions() inventories the live partitions from log metadata " +
       "(file counts + stats-carried row counts, no file opens)") {
    import spark.implicits._
    val t = fixture("inventory")
    val inv = TxnLog.partitions(spark, t)
      .as[(String, Long, Long)].collect().toSeq
    assert(inv.map(_._1) === Seq("lang=de", "lang=en", "lang=fr"))
    assert(inv.map(_._3).sum === 300L, s"stats-carried rows: $inv")
    TxnLog.dropPartition(spark, t, "lang", "fr")
    assert(TxnLog.partitions(spark, t)
      .as[(String, Long, Long)].collect().map(_._1).toSeq
      === Seq("lang=de", "lang=en"))
    // Unpartitioned tables refuse.
    val t2 = freshTable("invflat")
    TxnLog.create(spark, t2, Seq((1L, "x")).toDF("id", "s"))
    intercept[IllegalArgumentException] { TxnLog.partitions(spark, t2) }
  }

  test("range, string-range, and null pruned reads all prune on the " +
       "partition tier (path-synthesized exact stats)") {
    import spark.implicits._
    val t = freshTable("rangeprune")
    val df = (0L until 300L).map(i => (i, s"n$i", i % 3)).toDF("id", "s", "day")
    TxnLog.createPartitioned(spark, t, df.repartition(2), Seq("day"))
    def scannedFiles(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.location.inputFiles.toSeq
      }.flatten
    // LONG range on the integral partition column: only day∈[1,2] dirs.
    val r = TxnLog.readPruned(spark, t, "day", 1L, 2L)
    assert(r.count() === 200L)
    assert(scannedFiles(r).forall(f => f.contains("day=1") || f.contains("day=2")),
      s"range read must prune day=0: ${scannedFiles(r)}")
    // STRING range on a string partition column.
    val t2 = freshTable("strprune")
    val sdf = (0L until 90L).map(i => (i, Seq("aa", "mm", "zz")(i.toInt % 3)))
      .toDF("id", "grp")
    TxnLog.createPartitioned(spark, t2, sdf.repartition(2), Seq("grp"))
    val rs = TxnLog.readPrunedString(spark, t2, "grp", "a", "n")
    assert(rs.count() === 60L)
    assert(scannedFiles(rs).forall(f => f.contains("grp=aa") || f.contains("grp=mm")))
    // NULL reads: the path answers exactly.
    val t3 = freshTable("nullprune")
    val ndf = Seq((1L, "en"), (2L, null), (3L, "en"), (4L, null))
      .toDF("id", "grp")
    TxnLog.createPartitioned(spark, t3, ndf.coalesce(1), Seq("grp"))
    val rn = TxnLog.readPrunedNull(spark, t3, "grp", isNull = true)
    assert(rn.select("id").as[Long].collect().sorted.toSeq === Seq(2L, 4L))
    assert(scannedFiles(rn).forall(_.contains("__HIVE_DEFAULT_PARTITION__")))
    val rnn = TxnLog.readPrunedNull(spark, t3, "grp", isNull = false)
    assert(rnn.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    assert(scannedFiles(rnn).forall(_.contains("grp=en")))
  }

  test("compactPartition rewrites ONE partition's files and leaves " +
       "every other partition's files untouched by identity") {
    val t = fixture("pcompact") // 2 commits x 2 files x 3 langs
    val before = TxnLog.snapshotFull(spark, t)
    val othersBefore = before.filterNot(_._1.contains("lang=en")).toSet
    val enBefore = before.count(_._1.contains("lang=en"))
    assert(enBefore >= 2)
    val r = TxnLog.compactPartition(spark, t, "lang", "en", targetFiles = 1)
    assert(r.isDefined && r.get.removed === enBefore && r.get.added === 1)
    val after = TxnLog.snapshotFull(spark, t)
    assert(after.filterNot(_._1.contains("lang=en")).toSet === othersBefore,
      "non-target partitions must keep their exact file states")
    assert(after.count(_._1.contains("lang=en")) === 1)
    assert(TxnLog.read(spark, t).count() === 300L)
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("en")).count() === 100L)
    // A single-file partition has nothing to compact.
    assert(TxnLog.compactPartition(spark, t, "lang", "en").isEmpty)
    // Non-partition columns refuse.
    intercept[IllegalArgumentException] {
      TxnLog.compactPartition(spark, t, "s", "n1")
    }
  }

  test("column mapping composes with partitioning: renaming a " +
       "NON-partition column leaves the layout and partition reads intact") {
    import spark.implicits._
    val t = fixture("mapinterplay")
    TxnLog.renameColumn(spark, t, "s", "label")
    assert(TxnLog.read(spark, t).schema.fieldNames.toSeq
      === Seq("id", "label", "lang"))
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("en"))
      .filter(col("label") === "n3").count() === 1L)
    // A post-rename append still stages hive-laid (physical slot for
    // 'label' is the old 's'; the partition column keeps its own name).
    TxnLog.append(spark, t, Seq((9999L, "tail", "de")).toDF("id", "label", "lang"))
    assert(TxnLog.snapshot(spark, t).forall(_.contains("lang=")))
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("de"))
      .filter(col("id") === 9999L).select("label").as[String].head() === "tail")
    // And a MoR update on the renamed column under a partition filter.
    TxnLog.updateMoR(spark, t, col("id") === 9999L, Map("label" -> lit("upd")))
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("de"))
      .filter(col("id") === 9999L).select("label").as[String].head() === "upd")
  }

  test("overwritePartition replaces ONE partition atomically: other " +
       "partitions' files are untouched, time travel keeps the old " +
       "partition, the spec owns its column") {
    import spark.implicits._
    val t = fixture("povw") // en/de/fr, 100 rows each
    val before = TxnLog.snapshotFull(spark, t)
    val othersBefore = before.filterNot(_._1.contains("lang=en")).toSet
    val v = TxnLog.latestVersion(spark, t)
    val repl = (1000L until 1005L).map(i => (i, s"new$i")).toDF("id", "s")
    TxnLog.overwritePartition(spark, t, Map("lang" -> "en"), repl)
    assert(TxnLog.latestVersion(spark, t) === v + 1, "one atomic commit")
    val after = TxnLog.snapshotFull(spark, t)
    assert(after.filterNot(_._1.contains("lang=en")).toSet === othersBefore)
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("en"))
      .select("id").as[Long].collect().sorted.toSeq
      === (1000L until 1005L).toSeq)
    assert(TxnLog.read(spark, t).count() === 205L)
    // Time travel still serves the replaced partition.
    assert(TxnLog.read(spark, t, Some(v))
      .filter(col("lang") === "en").count() === 100L)
    // The frame must not carry the spec'd column.
    intercept[IllegalArgumentException] {
      TxnLog.overwritePartition(spark, t, Map("lang" -> "de"),
        Seq((1L, "x", "de")).toDF("id", "s", "lang"))
    }
    // Non-partition spec columns refuse.
    intercept[IllegalArgumentException] {
      TxnLog.overwritePartition(spark, t, Map("s" -> "x"),
        Seq((1L, "en")).toDF("id", "lang"))
    }
  }

  test("overwrite preserves TABLE invariants: partitioning and " +
       "GENERATED definitions survive the schema re-baseline") {
    import spark.implicits._
    val t = fixture("ovw")
    TxnLog.addGeneratedColumn(spark, t, "id2", "id * 2")
    // Overwrite with a frame carrying all columns (bogus id2 values —
    // GENERATED ALWAYS recomputes them).
    val repl = (0L until 50L)
      .map(i => (i, s"r$i", Seq("en", "de")(i.toInt % 2), -999L))
      .toDF("id", "s", "lang", "id2")
    TxnLog.overwrite(spark, t, repl)
    assert(TxnLog.partitionColumns(spark, t) === Seq("lang"),
      "partitioning must survive the overwrite")
    assert(TxnLog.snapshot(spark, t).forall(_.contains("lang=")),
      "the replacement rows must stage hive-laid")
    assert(TxnLog.read(spark, t).agg(sum("id2")).head.getLong(0)
      === 2L * (0L until 50L).sum, "generated values must recompute")
    // Later appends keep deriving and partitioning.
    TxnLog.append(spark, t, Seq((100L, "x", "fr", -1L))
      .toDF("id", "s", "lang", "id2"))
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("fr"))
      .select("id2").as[Long].head() === 200L)
    // Dropping the generated column from the frame drops the invariant
    // (the overwrite owns the shape).
    TxnLog.overwrite(spark, t, Seq((1L, "y")).toDF("id", "s"))
    assert(TxnLog.partitionColumns(spark, t) === Nil)
    assert(TxnLog.read(spark, t).schema.fieldNames.toSeq === Seq("id", "s"))
  }

  test("CDC over a partitioned table carries partition values; a " +
       "dropPartition commit streams as deletes; vacuum sweeps the " +
       "emptied partition directories") {
    import spark.implicits._
    val t = freshTable("cdc")
    val df = (0L until 60L)
      .map(i => (i, Seq("en", "de", "fr")(i.toInt % 3))).toDF("id", "lang")
    TxnLog.createPartitioned(spark, t,
      df.filter(col("id") < 30).coalesce(1), Seq("lang"))          // v0
    TxnLog.append(spark, t, df.filter(col("id") >= 30).coalesce(1)) // v1
    TxnLog.dropPartition(spark, t, "lang", "de")                    // v2
    val ch = TxnLog.changes(spark, t, 1L, 2L)
      .select("_change", "id", "lang").as[(String, Long, String)]
      .collect().toSeq
    assert(ch.forall(c => c._1 == "delete" && c._3 == "de"),
      s"the drop must stream as deletes WITH partition values: ${ch.take(3)}")
    assert(ch.size === 20)
    // Vacuum reclaims the dropped files AND their emptied lang=de dirs.
    TxnLog.vacuum(spark, t, retainVersions = 1, retainMillis = 0L)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftoverDe = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(t), true)
      var found = false
      while (it.hasNext) if (it.next().getPath.toString.contains("lang=de"))
        found = true
      val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(t))
        .filter(_.isDirectory).flatMap(d => fs.listStatus(d.getPath))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("lang=de"))
      found || dirs.nonEmpty
    }
    assert(!leftoverDe, "vacuum must sweep the emptied lang=de directories")
    assert(TxnLog.read(spark, t).count() === 40L)
  }

  test("property: random unicode partition values round-trip the path " +
       "encoding and prune exactly (seeded)") {
    import spark.implicits._
    for (seed <- Seq(7L, 31L)) {
      val rnd = new scala.util.Random(seed)
      val t = freshTable(s"prop$seed")
      // Path-hostile material: spaces, %, =, :, #, quotes, unicode.
      val alphabet = "ab %=:#'\"\\u00e9\\u4e2d?*|<>~`!@$^&()[]{}+-"
      val values = (0 until 8).map { i =>
        (0 until 1 + rnd.nextInt(8)).map(_ =>
          alphabet(rnd.nextInt(alphabet.length))).mkString + i
      }.distinct
      val rows = values.zipWithIndex.flatMap { case (v, i) =>
        (0 until 3).map(j => (i * 10L + j, v))
      }
      TxnLog.createPartitioned(spark, t, rows.toDF("id", "grp").coalesce(1),
        Seq("grp"))
      val got = TxnLog.read(spark, t).as[(Long, String)].collect().toSet
      assert(got === rows.toSet, s"seed=$seed round-trip failed")
      values.foreach { v =>
        val pruned = TxnLog.readPrunedPartition(spark, t, "grp", Seq(v))
        assert(pruned.count() === 3L, s"seed=$seed value '$v' mis-pruned")
        assert(pruned.as[(Long, String)].collect().forall(_._2 == v))
      }
      // Drop one random value; its rows vanish, others are intact.
      val victim = values(rnd.nextInt(values.length))
      TxnLog.dropPartition(spark, t, "grp", victim)
      assert(TxnLog.read(spark, t).filter(col("grp") === victim).count() === 0L)
      assert(TxnLog.read(spark, t).count() === (values.length - 1) * 3L)
    }
  }

  test("partition metadata survives checkpoint replay: 12+ commits, " +
       "log cleanup, then prune/drop still work from the checkpoint") {
    import spark.implicits._
    val t = freshTable("ckpt")
    TxnLog.createPartitioned(spark, t,
      Seq((0L, "v0", "en")).toDF("id", "s", "lang"), Seq("lang"))
    (1L to 12L).foreach { i =>
      TxnLog.append(spark, t,
        Seq((i, s"v$i", Seq("en", "de")(i.toInt % 2))).toDF("id", "s", "lang"))
    }
    // Past CheckpointInterval: resolution now replays a checkpoint.
    TxnLog.cleanupLog(spark, t, retainVersions = 2)
    assert(TxnLog.partitionColumns(spark, t) === Seq("lang"),
      "the checkpointed schema must keep the partition metadata")
    assert(TxnLog.read(spark, t).count() === 13L)
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("de")).count() === 6L)
    TxnLog.dropPartition(spark, t, "lang", "de")
    assert(TxnLog.read(spark, t).count() === 7L)
  }

  test("compaction preserves the hive layout and the restored " +
       "snapshot keeps pruning") {
    val t = fixture("compact")
    TxnLog.compact(spark, t, targetFiles = 1)
    val rels = TxnLog.snapshot(spark, t)
    assert(rels.forall(_.contains("lang=")),
      s"compaction output must stay hive-laid: $rels")
    // One target file PER PARTITION (partitionBy splits the rewrite).
    assert(rels.size === 3, s"one compacted file per partition: $rels")
    assert(TxnLog.read(spark, t).count() === 300L)
    assert(TxnLog.readPrunedPartition(spark, t, "lang", Seq("fr")).count() === 100L)
  }

  test("overwritePartitionsDynamic replaces EXACTLY the partitions the " +
       "frame produces, in one atomic commit; an empty frame is a " +
       "no-op; an unpartitioned table refuses") {
    import spark.implicits._
    val t = fixture("dyn") // 300 rows: en/de/fr x 100 each
    val v0 = TxnLog.latestVersion(spark, t)
    // Recompute de and fr only (ids < 60 of each); en must not move.
    val repl = (0L until 60L).filter(_ % 3 != 0)
      .map(i => (i, s"NEW$i", Seq("en", "de", "fr")(i.toInt % 3)))
      .toDF("id", "s", "lang")
    val r = TxnLog.overwritePartitionsDynamic(spark, t, repl)
    assert(r.version === v0 + 1, "one atomic commit for N partitions")
    val byLang = TxnLog.read(spark, t).groupBy("lang").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byLang === Map("en" -> 100L, "de" -> 20L, "fr" -> 20L),
      s"untouched en, replaced de/fr: $byLang")
    assert(TxnLog.read(spark, t).filter(col("lang") =!= "en")
      .select("s").as[String].collect().forall(_.startsWith("NEW")))
    // Empty frame: nothing replaced, nothing committed.
    val r2 = TxnLog.overwritePartitionsDynamic(spark, t,
      repl.filter(lit(false)))
    assert(r2.version === r.version && r2.added === 0 && r2.removed === 0,
      "dynamic overwrite of an empty frame must not truncate anything")
    assert(TxnLog.read(spark, t).count() === 140L)
    // Unpartitioned tables refuse (use overwrite for a full replace).
    val flat = freshTable("dynflat")
    TxnLog.create(spark, flat, Seq((1L, "a")).toDF("id", "s"))
    intercept[IllegalArgumentException] {
      TxnLog.overwritePartitionsDynamic(spark, flat,
        Seq((2L, "b")).toDF("id", "s"))
    }
    // NULL partition values address the null partition and ONLY it —
    // the replaced set is derived from the staged files' own path
    // segments (round-15 advice), and the null tuple round-trips.
    val tn = freshTable("dynnull")
    TxnLog.createPartitioned(spark, tn,
      Seq((1L, Some("en")), (2L, Option.empty[String]), (3L, Some("de")))
        .toDF("id", "lang"), Seq("lang"))
    TxnLog.overwritePartitionsDynamic(spark, tn,
      Seq((20L, Option.empty[String])).toDF("id", "lang"))
    assert(TxnLog.read(spark, tn).select("id").as[Long].collect().toSet ===
      Set(1L, 3L, 20L),
      "a null-partition dynamic overwrite replaces exactly the null " +
        "partition; en/de never move")
  }

  test("multi-column partition specs: full and PARTIAL specs address " +
       "the matching slice on drop/compact, and dropPartitionsWhere " +
       "drops N partitions in ONE typed-predicate metadata commit") {
    import spark.implicits._
    val t = freshTable("multicol")
    val df = (0L until 120L)
      .map(i => (i, Seq("en", "de", "fr")(i.toInt % 3), i % 2))
      .toDF("id", "lang", "band")
    TxnLog.createPartitioned(spark, t, df.repartition(2),
      Seq("lang", "band"))
    assert(TxnLog.read(spark, t).count() === 120L)
    // Full two-column spec: exactly the (en, 1) slice leaves.
    val v0 = TxnLog.latestVersion(spark, t)
    TxnLog.dropPartition(spark, t, Map("lang" -> "en", "band" -> 1L))
    assert(TxnLog.latestVersion(spark, t) === v0 + 1)
    assert(TxnLog.read(spark, t)
      .filter(col("lang") === "en" && col("band") === 1).count() === 0L)
    assert(TxnLog.read(spark, t).count() === 100L)
    // PARTIAL spec: every de partition (both bands) in one commit.
    TxnLog.dropPartition(spark, t, Map("lang" -> "de"))
    assert(TxnLog.latestVersion(spark, t) === v0 + 2)
    assert(TxnLog.read(spark, t).filter(col("lang") === "de").count() === 0L)
    assert(TxnLog.read(spark, t).count() === 60L)
    // Predicate drop, TYPED: band is a LONG in the tuple relation, so
    // a numeric comparison works (not string compare on path text).
    // Drops (fr, 1) — the only live band >= 1 partition — plus proves
    // multi-partition atomicity with (en|fr, 0) retained.
    val r = TxnLog.dropPartitionsWhere(spark, t, col("band") >= 1)
    assert(r.version === v0 + 3, "N matching partitions, ONE commit")
    assert(TxnLog.read(spark, t).filter(col("band") >= 1).count() === 0L)
    assert(TxnLog.read(spark, t).count() === 40L)
    // Predicate referencing a NON-partition column fails resolution.
    intercept[Exception] {
      TxnLog.dropPartitionsWhere(spark, t, col("id") > 5)
    }
    // Multi-column compact: the (en, 0) slice (2 files from the
    // 2-way staged create) rewrites to 1; the fr slice never moves.
    val frFiles = TxnLog.snapshot(spark, t).filter(_.contains("lang=fr"))
    val rc = TxnLog.compactPartition(spark, t,
      Map("lang" -> "en", "band" -> 0L), targetFiles = 1, clusterBy = Nil)
    assert(rc.exists(_.removed >= 2))
    assert(TxnLog.snapshot(spark, t).filter(_.contains("lang=fr"))
      === frFiles, "compacting one slice must not churn others")
    assert(TxnLog.read(spark, t).count() === 40L)
  }

  test("data writes missing a partition column are REJECTED at schema " +
       "enforcement — flat-staged rows would silently escape " +
       "partition-addressed DROP/OVERWRITE victim selection") {
    import spark.implicits._
    val t = fixture("guard")
    val e = intercept[IllegalArgumentException] {
      TxnLog.append(spark, t, Seq((999L, "x")).toDF("id", "s"))
    }
    assert(e.getMessage.contains("partition column"))
    assert(TxnLog.read(spark, t).count() === 300L, "nothing committed")
  }

  test("concurrent overwritePartition writers on DISJOINT partitions " +
       "all land (retry, never loss); SAME-partition writers " +
       "serialize to exactly one batch's rows (atomic last-wins)") {
    import spark.implicits._
    val t = fixture("conc") // en/de/fr x 100
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // Disjoint: one writer per partition, all replacing concurrently.
    val langs = Seq("en", "de", "fr")
    val disjoint = langs.zipWithIndex.map { case (lang, k) =>
      new Thread(() => {
        try {
          val rows = (0 to k).map(j => (10000L + k * 100 + j, s"W$lang$j"))
          TxnLog.overwritePartition(spark, t, Map("lang" -> lang),
            rows.toDF("id", "s"))
        } catch { case x: Throwable => errs.add(x) }
      })
    }
    disjoint.foreach(_.start()); disjoint.foreach(_.join())
    assert(errs.isEmpty, s"disjoint partition overwrite failed: ${errs.peek()}")
    val byLang = TxnLog.read(spark, t).groupBy("lang").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byLang === Map("en" -> 1L, "de" -> 2L, "fr" -> 3L),
      s"every disjoint writer must land its full batch: $byLang")
    // Same partition: four concurrent replaces of en; the final state
    // must be EXACTLY one writer's batch — serialized last-wins, no
    // interleaved mix, no union.
    val contenders = (1 to 4).map { k =>
      new Thread(() => {
        try {
          val rows = (0 until k).map(j => (20000L + k * 100 + j, s"C$k-$j"))
          TxnLog.overwritePartition(spark, t, Map("lang" -> "en"),
            rows.toDF("id", "s"))
        } catch { case x: Throwable => errs.add(x) }
      })
    }
    contenders.foreach(_.start()); contenders.foreach(_.join())
    assert(errs.isEmpty, s"same-partition overwrite failed: ${errs.peek()}")
    val enIds = TxnLog.read(spark, t).filter(col("lang") === "en")
      .select("id").as[Long].collect().toSet
    val batches = (1 to 4).map(k =>
      (0 until k).map(j => 20000L + k * 100 + j).toSet)
    assert(batches.contains(enIds),
      s"final en partition must be exactly one writer's batch, got $enIds")
    // Other partitions untouched by the en contention.
    assert(TxnLog.read(spark, t).filter(col("lang") =!= "en").count() === 5L)
    // CROSS-VERB disjointness: a COW DELETE inside fr races an
    // overwritePartition of de — victim sets are disjoint (victim
    // scoping subsumes partition scoping), so BOTH land.
    val errs2 = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val crossA = new Thread(() => {
      try TxnLog.overwritePartition(spark, t, Map("lang" -> "de"),
        Seq((30000L, "DE")).toDF("id", "s"))
      catch { case x: Throwable => errs2.add(x) }
    })
    val crossB = new Thread(() => {
      try TxnLog.delete(spark, t,
        col("lang") === "fr" && col("id") >= 10202L)
      catch { case x: Throwable => errs2.add(x) }
    })
    crossA.start(); crossB.start(); crossA.join(); crossB.join()
    assert(errs2.isEmpty, s"disjoint cross-verb race failed: ${errs2.peek()}")
    assert(TxnLog.read(spark, t).filter(col("lang") === "de")
      .select("id").as[Long].collect().toSeq === Seq(30000L))
    assert(TxnLog.read(spark, t).filter(col("lang") === "fr")
      .select("id").as[Long].collect().toSet === Set(10200L, 10201L),
      "the fr delete must land alongside the de overwrite")
  }
}

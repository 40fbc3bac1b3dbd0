package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxnLog

/** Per-file bloom sidecars ([[graft.sources.TxnBloom]]): point-lookup
  * file skipping that min/max stats cannot provide. These pin the
  * mechanics DuckDB cannot see — the kept-file subset, false-negative
  * impossibility, mixed-coverage soundness, and the vacuum sweep; the
  * value-level answer is q_txn_bloom_skip's oracle. */
class BloomIndexSpec extends AnyFunSuite with SparkSpec {

  private def freshTable(tag: String): String = {
    val t = s"${sys.props("java.io.tmpdir")}/graft_bloom_${spark.sparkContext.applicationId}_$tag"
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    t
  }

  private def listSidecars(t: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(t, "_bloom")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap(d =>
      fs.listStatus(d.getPath).toSeq.map(_.getPath.toString))
  }

  /** Residue-banded fixture: every file spans the FULL id range (so
    * min/max stats keep everything) but holds only one residue class
    * (so the bloom is the only metadata that can prune). */
  private def residueTable(tag: String, mod: Int): String = {
    import spark.implicits._
    val t = freshTable(tag)
    val ids = (0L until 400L).map(i => (i, s"name-$i", i % 10))
    val df = ids.toDF("id", "name", "grp")
    TxnLog.createWithBloom(spark, t,
      df.filter(col("id") % mod === 0).coalesce(1), Seq("id", "name"))
    (1 until mod).foreach { r =>
      TxnLog.appendWithBloom(spark, t,
        df.filter(col("id") % mod === r).coalesce(1), Seq("id", "name"))
    }
    t
  }

  test("readPrunedEq matches the plain IN filter exactly (long and string)") {
    val t = residueTable("eq", 4)
    val wantIds = Seq(1L, 5L, 13L, 101L, 399L)
    val got = TxnLog.readPrunedEq(spark, t, "id", wantIds)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    val expected = TxnLog.read(spark, t)
      .filter(col("id").isin(wantIds: _*)).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === expected && got === wantIds.sorted)

    val wantNames = Seq("name-7", "name-42", "name-999999")
    val gotN = TxnLog.readPrunedEq(spark, t, "name", wantNames)
      .orderBy("name").collect().map(_.getString(1)).toSeq
    assert(gotN === Seq("name-42", "name-7"))
  }

  test("bloom prunes files stats cannot: residue-class probes keep only " +
       "the matching residue files") {
    val t = residueTable("prune", 4)
    // All four files span [0,399] on id — stats keep all of them.
    // Ids ≡ 1 (mod 4) live in exactly one file; the bloom must keep
    // only that file (false positives could keep more, but with 4
    // files at ~0.8% fpp keeping all 4 would be a broken filter).
    val probes = Seq(1L, 5L, 9L, 13L)
    val all = TxnLog.snapshotFull(spark, t)
    val kept = graft.sources.TxnBloom.filterByBloom(spark, t, "id", probes, all)
    assert(all.size === 4)
    assert(kept.size < all.size, s"bloom kept ${kept.size} of ${all.size}")
    // And never below 1: the residue-1 file must survive.
    assert(kept.nonEmpty)
  }

  test("no false negatives: every present value survives its file's bloom") {
    val t = residueTable("fneg", 4)
    val all = TxnLog.snapshotFull(spark, t)
    // Probe every id actually present, one at a time, against the full
    // file set — the owning file must always be kept.
    (0L until 400L by 7L).foreach { id =>
      val kept = graft.sources.TxnBloom.filterByBloom(spark, t, "id", Seq(id), all)
      val rows = TxnLog.readPrunedEq(spark, t, "id", Seq(id)).count()
      assert(rows === 1L, s"id=$id lost by pruning (kept ${kept.size} files)")
    }
  }

  test("coverage is a TABLE property: plain appends and compaction " +
       "rewrites keep producing sidecars once configured") {
    import spark.implicits._
    val t = freshTable("tableprop")
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "name")
    TxnLog.createWithBloom(spark, t,
      df.filter(col("id") < 50).coalesce(1), Seq("id"))
    // A PLAIN append after configuration still gets sidecars.
    TxnLog.append(spark, t, df.filter(col("id") >= 50).coalesce(1))
    assert(listSidecars(t).size === 2,
      "the plain append's file must carry a sidecar (config-driven)")
    val got = TxnLog.readPrunedEq(spark, t, "id", Seq(7L, 77L))
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(7L, 77L))
    // A compaction REWRITE keeps coverage: the new file is indexed.
    TxnLog.compact(spark, t, targetFiles = 1)
    val all = TxnLog.snapshotFull(spark, t)
    assert(all.size === 1)
    val kept = graft.sources.TxnBloom.filterByBloom(spark, t, "id",
      Seq(999999L), all)
    assert(kept.isEmpty,
      "the compacted file must have a working sidecar (absent value prunes)")
    assert(TxnLog.readPrunedEq(spark, t, "id", Seq(7L)).count() === 1L)
  }

  test("pre-configuration files have no coverage and never prune " +
       "(mixed coverage is sound)") {
    import spark.implicits._
    val t = freshTable("preconf")
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "name")
    TxnLog.create(spark, t, df.filter(col("id") < 50).coalesce(1)) // no index
    TxnLog.appendWithBloom(spark, t,
      df.filter(col("id") >= 50).coalesce(1), Seq("id"))
    assert(listSidecars(t).size === 1,
      "only the post-configuration file is covered")
    val got = TxnLog.readPrunedEq(spark, t, "id", Seq(7L, 77L))
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(7L, 77L), "the uncovered file must always scan")
  }

  test("unsupported bloom column types fail loudly at write time") {
    import spark.implicits._
    val t = freshTable("types")
    val df = Seq((1L, 1.5)).toDF("id", "f")
    intercept[IllegalArgumentException] {
      TxnLog.createWithBloom(spark, t, df, Seq("f"))
    }
    intercept[IllegalArgumentException] {
      TxnLog.createWithBloom(spark, t, df, Seq("nope"))
    }
  }

  test("RESTORE and the bloom index compose: re-added files keep their " +
       "working sidecars, and pruning serves the restored snapshot") {
    import spark.implicits._
    val t = freshTable("restore")
    val df = (0L until 200L).map(i => (i, s"v$i")).toDF("id", "name")
    TxnLog.createWithBloom(spark, t,
      df.filter(col("id") % 2 === 0).coalesce(1), Seq("id"))
    TxnLog.append(spark, t, df.filter(col("id") % 2 === 1).coalesce(1))
    TxnLog.delete(spark, t, col("id") < 100L) // v2: rewrites survivors
    TxnLog.restore(spark, t, 1L)              // v3: both originals back
    // The restored files' sidecars (written at commit time) still
    // serve: an absent probe prunes everything, a present one answers.
    val all = TxnLog.snapshotFull(spark, t)
    assert(graft.sources.TxnBloom
      .filterByBloom(spark, t, "id", Seq(999999L), all).isEmpty)
    assert(TxnLog.readPrunedEq(spark, t, "id", Seq(7L, 42L))
      .orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(7L, 42L))
    assert(TxnLog.read(spark, t).count() === 200L)
  }

  test("property: across random corpora, present values are NEVER lost " +
       "and the false-positive rate stays near design (seeded)") {
    import spark.implicits._
    for (seed <- Seq(11L, 23L)) {
      val rnd = new scala.util.Random(seed)
      val t = freshTable(s"prop$seed")
      val n = 300 + rnd.nextInt(300)
      // Random longs (sparse key space) and random unicode-ish strings.
      val rows = (0 until n).map { i =>
        (rnd.nextLong(1L << 40),
          new String(Array.fill(2 + rnd.nextInt(10))(
            (0x30 + rnd.nextInt(0x4000)).toChar)) + i)
      }.distinct
      TxnLog.createWithBloom(spark, t,
        rows.toDF("k", "s").repartition(3), Seq("k", "s"))
      val all = TxnLog.snapshotFull(spark, t)
      // No false negatives: every present value keeps >= 1 file and
      // readPrunedEq finds its row(s).
      rnd.shuffle(rows).take(40).foreach { case (k, s) =>
        assert(graft.sources.TxnBloom
          .filterByBloom(spark, t, "k", Seq(k), all).nonEmpty, s"lost k=$k")
        assert(graft.sources.TxnBloom
          .filterByBloom(spark, t, "s", Seq(s), all).nonEmpty, s"lost s=$s")
        assert(TxnLog.readPrunedEq(spark, t, "s", Seq(s)).count() >= 1L)
      }
      // False-positive rate: absent keys should keep ~0 of 3 files
      // (design fpp ~0.8%/file at 10 bits/key; allow generous slack).
      val absentProbes = 200
      val keptFiles = (0 until absentProbes).map { _ =>
        val absent = -1L - rnd.nextLong(1L << 40).abs
        graft.sources.TxnBloom
          .filterByBloom(spark, t, "k", Seq(absent), all).size
      }.sum
      assert(keptFiles <= absentProbes * 3 / 10,
        s"fpp too high: $keptFiles file-hits over $absentProbes probes")
    }
  }

  test("vacuum sweeps sidecars of physically-deleted files, keeps live ones") {
    import spark.implicits._
    val t = freshTable("vac")
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "name")
    TxnLog.createWithBloom(spark, t, df.filter(col("id") < 50).coalesce(1), Seq("id"))
    TxnLog.appendWithBloom(spark, t, df.filter(col("id") >= 50).coalesce(1), Seq("id"))
    assert(listSidecars(t).size === 2)
    // Overwrite removes both original files from the live set; vacuum
    // with zero retention deletes them physically and must take their
    // sidecars along — while the overwrite's OWN file keeps the
    // sidecar the table-property config gave it.
    TxnLog.overwrite(spark, t, df.coalesce(1))
    val deleted = TxnLog.vacuum(spark, t, retainVersions = 1, retainMillis = 0L)
    assert(deleted.count(_.startsWith("_bloom/")) === 2,
      s"vacuum must sweep exactly the two orphaned sidecars, got: $deleted")
    assert(listSidecars(t).size === 1,
      "the live overwrite file keeps its config-driven sidecar")
    assert(TxnLog.readPrunedEq(spark, t, "id", Seq(3L)).count() === 1L)
  }

  test("REINDEX BLOOM backfills pre-configuration files; VACUUM DRY RUN " +
       "reports without deleting") {
    import spark.implicits._
    val t = freshTable("reindex")
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "name")
    TxnLog.create(spark, t, df.filter(col("id") < 50).coalesce(1)) // uncovered
    TxnLog.appendWithBloom(spark, t,
      df.filter(col("id") >= 50).coalesce(1), Seq("id"))
    assert(listSidecars(t).size === 1)
    val reindexed = TxnLog.indexBloom(spark, t)
    assert(reindexed.size === 1, s"one uncovered file expected: $reindexed")
    assert(listSidecars(t).size === 2)
    // Now EVERY file prunes: an absent value keeps zero files.
    val all = TxnLog.snapshotFull(spark, t)
    assert(graft.sources.TxnBloom
      .filterByBloom(spark, t, "id", Seq(424242L), all).isEmpty)
    // Idempotent: nothing left to index.
    assert(TxnLog.indexBloom(spark, t) === Nil)
    // DRY RUN: candidates reported, nothing touched.
    TxnLog.compact(spark, t, targetFiles = 1)
    val preview = TxnLog.vacuum(spark, t, retainVersions = 1,
      retainMillis = 0L, dryRun = true)
    assert(preview.size === 2)
    assert(TxnLog.read(spark, t, Some(1L)).count() === 100L,
      "dry run must not delete anything")
    val real = TxnLog.vacuum(spark, t, retainVersions = 1, retainMillis = 0L)
    assert(real.toSet.intersect(preview.toSet) === preview.toSet)
  }

  test("an ADOPTED table indexes root-level files correctly (rel-path " +
       "derivation is prefix-based, not segment-count-based)") {
    import spark.implicits._
    val t = freshTable("adoptbloom")
    (0L until 200L).map(i => (i, s"n$i")).toDF("id", "name")
      .coalesce(2).write.parquet(t) // plain files AT THE TABLE ROOT
    TxnLog.adopt(spark, t)
    graft.sources.TxnBloom.writeConfig(spark, t, Seq("id"))
    val reindexed = TxnLog.indexBloom(spark, t)
    assert(reindexed.size === 2 && reindexed.forall(!_.contains("/")),
      s"root-level rel paths expected: $reindexed")
    val all = TxnLog.snapshotFull(spark, t)
    assert(graft.sources.TxnBloom
      .filterByBloom(spark, t, "id", Seq(999999L), all).isEmpty,
      "the adopted files' sidecars must actually work")
    assert(TxnLog.readPrunedEq(spark, t, "id", Seq(7L, 150L))
      .orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(7L, 150L))
  }

  test("sidecars consolidate per commit: a multi-file staged batch " +
       "publishes ONE segment per column, not one file per data file") {
    import spark.implicits._
    val t = freshTable("seg")
    val df = (0L until 400L).map(i => (i, s"n$i")).toDF("id", "name")
    TxnLog.createWithBloom(spark, t, df.repartition(8), Seq("id", "name"))
    assert(TxnLog.snapshotFull(spark, t).size === 8)
    val sidecars = listSidecars(t)
    assert(sidecars.size === 2,
      s"8 data files x 2 columns must yield 2 segments, got: $sidecars")
    assert(sidecars.forall(_.endsWith(".gbs")))
    // Every staged file is covered through its segment's index.
    assert(graft.sources.TxnBloom.covered(spark, t, "id").size === 8)
    // And the probe prunes: an absent value keeps zero of 8 files.
    val all = TxnLog.snapshotFull(spark, t)
    assert(graft.sources.TxnBloom
      .filterByBloom(spark, t, "id", Seq(999999L), all).isEmpty)
    assert(TxnLog.readPrunedEq(spark, t, "id", Seq(7L)).count() === 1L)
  }

  test("probe parity: the distributed probe (zero local-open budget) " +
       "keeps EXACTLY the files the driver-serial probe keeps") {
    val t = residueTable("parity", 4)
    val all = TxnLog.snapshotFull(spark, t)
    val probes: Seq[Seq[Any]] = Seq(Seq(1L), Seq(2L, 7L), Seq(999999L),
      Seq("name-3", "name-42"), Seq(0L, 1L, 2L, 3L))
    probes.foreach { vs =>
      val col = if (vs.head.isInstanceOf[String]) "name" else "id"
      // COLD distributed run first (the pinned route forces the Spark
      // job), then a COLD driver-serial run — caches cleared between,
      // so both paths actually exercise their I/O.
      def run(distribute: Boolean): Set[String] = {
        graft.sources.TxnBloom.clearProbeCaches()
        FanoutPin(distribute)(graft.sources.TxnBloom
          .filterByBloom(spark, t, col, vs, all).map(_._1).toSet)
      }
      val dist = run(distribute = true)
      val local = run(distribute = false)
      assert(dist === local, s"probe $vs: distributed=$dist local=$local")
    }
  }

  test("a partially-dead segment survives vacuum whole; a fully-dead " +
       "segment is swept") {
    import spark.implicits._
    val t = freshTable("segvac")
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "name")
    // One two-file commit -> one segment covering both files.
    TxnLog.createWithBloom(spark, t, df.repartition(2), Seq("id"))
    assert(listSidecars(t).size === 1)
    // Compact to 1 file: both originals leave the live set; vacuum
    // deletes them physically -> the segment is fully dead and sweeps,
    // while the rewrite's own segment stays.
    TxnLog.compact(spark, t, targetFiles = 1)
    assert(listSidecars(t).size === 2)
    val deleted = TxnLog.vacuum(spark, t, retainVersions = 1, retainMillis = 0L)
    assert(deleted.count(_.startsWith("_bloom/")) === 1,
      s"exactly the fully-dead segment sweeps, got: $deleted")
    assert(listSidecars(t).size === 1)
    assert(TxnLog.readPrunedEq(spark, t, "id", Seq(7L)).count() === 1L)
  }

  test("corrupt or foreign files under _bloom never prune and never " +
       "crash (false-positive-only even against garbage metadata)") {
    import spark.implicits._
    val t = residueTable("garbage", 4)
    val p = new org.apache.hadoop.fs.Path(t, "_bloom/id")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A truncated legacy sidecar claiming to cover a live file, plus a
    // garbage segment: neither may produce a verdict.
    val rel = TxnLog.snapshot(spark, t).head
    val enc = rel.replace("%", "%25").replace("/", "%2F")
    for (name <- Seq(s"$enc.bloom", "seg-garbage.gbs")) {
      val out = fs.create(new org.apache.hadoop.fs.Path(p, name), true)
      try out.write(Array.fill[Byte](40)(0x5A)) finally out.close()
    }
    val all = TxnLog.snapshotFull(spark, t)
    // Every present id still found (the garbage-covered file stays).
    assert(TxnLog.readPrunedEq(spark, t, "id", Seq(0L, 1L, 2L, 3L))
      .count() === 4L)
    // Distributed path tolerates the garbage too.
    assert(FanoutPin(distribute = true)(graft.sources.TxnBloom
      .filterByBloom(spark, t, "id", Seq(1L), all).nonEmpty))
  }

  test("readPrunedEq composes stats + bloom: stats screen range-disjoint " +
       "files before any sidecar opens") {
    import spark.implicits._
    val t = freshTable("compose")
    val df = (0L until 300L).map(i => (i, s"v$i")).toDF("id", "name")
    // Range-banded commits: stats alone prune two of three.
    TxnLog.createWithBloom(spark, t, df.filter(col("id") < 100).coalesce(1), Seq("id"))
    TxnLog.appendWithBloom(spark, t,
      df.filter(col("id") >= 100 && col("id") < 200).coalesce(1), Seq("id"))
    TxnLog.appendWithBloom(spark, t, df.filter(col("id") >= 200).coalesce(1), Seq("id"))
    val got = TxnLog.readPrunedEq(spark, t, "id", Seq(150L))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(150L))
    // A value outside every band returns empty without scanning.
    assert(TxnLog.readPrunedEq(spark, t, "id", Seq(99999L)).count() === 0L)
  }

  /** Every log event `body` emits at the session's level (WARN), as
    * message plus throwable text. */
  private def logsDuring(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-log-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage +
          Option(e.getThrown).fold("")(t => s" $t"))
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(app)
    try body finally { root.removeAppender(app); app.stop() }
    seen.asScala.toSeq
  }

  test("a bloom build compiles its aggregate input's projection: no " +
       "Janino private-access failure and interpreted fallback") {
    import spark.implicits._
    val t = freshTable("janino")
    val df = (0L until 200L).map(i => (i, s"name-$i")).toDF("id", "name")
    val logs = logsDuring(TxnLog.createWithBloom(spark, t, df.coalesce(2),
      Seq("id", "name")))
    val denied = logs.filter(_.contains("Private member cannot be accessed"))
    assert(denied.isEmpty, denied.headOption.getOrElse("").take(500))
    assert(TxnLog.readPrunedEq(spark, t, "id", Seq(7L, 150L))
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(7L, 150L))
  }
}

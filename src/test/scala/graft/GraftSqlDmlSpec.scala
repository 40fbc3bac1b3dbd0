package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, TxnLog}

/** SQL DML over the transaction log: INSERT through the DSv2 write,
  * DELETE/UPDATE/MERGE through the parser intercept, and DV-masked
  * SELECTs through the resolution rule — the full SQL front door of
  * the lakehouse, running in a dedicated session with the REAL
  * `spark.sql.extensions` wiring (the shared test session is
  * extension-free by design). */
class GraftSqlDmlSpec extends AnyFunSuite with SparkSpec {

  private lazy val dml: SparkSession = GraftSqlDmlSpec.session

  private lazy val root: String = {
    val r = s"${sys.props("java.io.tmpdir")}/graft_sqldml_${System.nanoTime()}"
    dml.conf.set("spark.sql.catalog.lake", classOf[GraftCatalog].getName)
    dml.conf.set("spark.sql.catalog.lake.root", r)
    dml.conf.set("spark.sql.catalog.lake.writable", "true")
    r
  }

  private def freshTable(name: String, rows: Seq[(Long, String)]): String = {
    import dml.implicits._
    val dir = s"$root/ns/$name"
    TxnLog.create(dml, dir, rows.toDF("id", "s"))
    dir
  }

  private def content(table: String): Set[(Long, String)] = {
    import dml.implicits._
    dml.sql(s"SELECT id, s FROM lake.ns.$table")
      .as[(Long, String)].collect().toSet
  }

  test("INSERT INTO appends one commit; INSERT OVERWRITE replaces and " +
       "the old content still time-travels") {
    val dir = freshTable("t_ins", Seq((1L, "a"), (2L, "b")))
    dml.sql("INSERT INTO lake.ns.t_ins VALUES (3, 'c'), (4, 'd')")
    assert(content("t_ins") === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(TxnLog.latestVersion(dml, dir) === 1L, "one commit per INSERT")
    // The API read agrees — both surfaces resolve the same log.
    assert(TxnLog.read(dml, dir).count() === 4)

    dml.sql("INSERT OVERWRITE lake.ns.t_ins VALUES (9, 'z')")
    assert(content("t_ins") === Set((9L, "z")))
    assert(dml.sql("SELECT count(*) AS n FROM lake.ns.t_ins VERSION AS OF 1")
      .head().getLong(0) === 4, "pre-overwrite snapshot must survive")
  }

  /** One SQL DELETE's commit on the merge-on-read layout: the version
    * it published binds a DV and neither adds nor removes a data file. */
  private def assertMoRDelete(dir: String, version: Long): Unit = {
    assert(TxnLog.latestVersion(dml, dir) === version, "one commit per DELETE")
    val c = TxnLog.commit(dml, dir, version)
    assert(c.dvs.nonEmpty, "DELETE must bind a deletion vector")
    assert(c.adds.isEmpty && c.removes.isEmpty, s"no data file may move: $c")
  }

  test("DELETE FROM routes to the merge-on-read delete (alias and " +
       "qualified columns included)") {
    val dir = freshTable("t_del",
      (0L to 9L).map(i => (i, s"r$i")))
    val files0 = TxnLog.snapshot(dml, dir).toSet
    dml.sql("DELETE FROM lake.ns.t_del WHERE id % 2 = 0")
    assert(content("t_del").map(_._1) === Set(1L, 3L, 5L, 7L, 9L))
    assertMoRDelete(dir, 1L)
    // Alias-qualified condition resolves after qualifier stripping.
    dml.sql("DELETE FROM lake.ns.t_del AS x WHERE x.id = 1")
    assert(content("t_del").map(_._1) === Set(3L, 5L, 7L, 9L))
    assertMoRDelete(dir, 2L)
    // MoR: the original files stay live behind the mask.
    val snap = TxnLog.snapshotFull(dml, dir)
    assert(snap.map(_._1).toSet === files0)
    assert(snap.exists(_._2.dv.isDefined))
    val ops = TxnLog.history(dml, dir).select("operation")
      .collect().map(_.getString(0))
    assert(ops.count(_ == "DELETE (merge-on-read)") === 2)
    assert(dml.sql("SELECT count(*) AS n FROM lake.ns.t_del VERSION AS OF 0")
      .head().getLong(0) === 10, "pre-delete snapshot must survive")
    // The API door gives the same answer on the same layout.
    assert(TxnLog.read(dml, dir).count() === 4)
  }

  test("UPDATE routes to the merge-on-read update and SELECT applies " +
       "the deletion-vector mask") {
    val dir = freshTable("t_upd",
      (0L to 5L).map(i => (i, s"v$i")))
    dml.sql("UPDATE lake.ns.t_upd SET s = concat(s, '!') WHERE id >= 3")
    // MoR: the mask is live, no data file was rewritten.
    val snap = TxnLog.snapshotFull(dml, dir)
    assert(snap.exists(_._2.dv.isDefined), "UPDATE must land merge-on-read")
    // The SQL scan must see exactly the API view (masked + copies).
    assert(content("t_upd") ===
      Set((0L, "v0"), (1L, "v1"), (2L, "v2"),
        (3L, "v3!"), (4L, "v4!"), (5L, "v5!")))
    assert(dml.sql("SELECT count(*) AS n FROM lake.ns.t_upd")
      .head().getLong(0) === 6, "update must not change the row count")
    // Aggregations and filters work through the masked plan too.
    assert(dml.sql(
      "SELECT count(*) AS n FROM lake.ns.t_upd WHERE s LIKE '%!'")
      .head().getLong(0) === 3)
  }

  test("MERGE INTO runs the serializable upsert; SQL and API agree") {
    val dir = freshTable("t_mrg", Seq((1L, "a"), (2L, "b"), (3L, "c")))
    dml.sql(
      """MERGE INTO lake.ns.t_mrg AS t
        |USING (SELECT col1 AS id, col2 AS s FROM VALUES (2, 'B'), (9, 'I')) src
        |ON t.id = src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(content("t_mrg") ===
      Set((1L, "a"), (2L, "B"), (3L, "c"), (9L, "I")))
    // One atomic commit; the pre-merge version travels.
    assert(dml.sql("SELECT count(*) AS n FROM lake.ns.t_mrg VERSION AS OF 0")
      .head().getLong(0) === 3)
    // A query (not VALUES) as the source.
    dml.sql(
      """MERGE INTO lake.ns.t_mrg t
        |USING (SELECT id + 100 AS id, upper(s) AS s FROM lake.ns.t_mrg) u
        |ON t.id = u.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(content("t_mrg").size === 8)
  }

  test("unsupported DML shapes fail loudly with the reason; non-txn " +
       "tables are untouched by the intercept") {
    freshTable("t_err", Seq((1L, "a")))
    // UPDATE SET values with subqueries stay rejected (no single-
    // evaluation guarantee inside the mask+copy plan yet).
    val e1 = intercept[UnsupportedOperationException] {
      dml.sql(
        """UPDATE lake.ns.t_err
          |SET s = (SELECT max(s) FROM lake.ns.t_err)""".stripMargin)
    }
    assert(e1.getMessage.contains("subqueries"))
    // DML on a PLAIN parquet table passes through to Spark's own error.
    import dml.implicits._
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite")
      .parquet(s"$root/ns/plain.parquet")
    val e3 = intercept[Exception] {
      dml.sql("DELETE FROM lake.ns.plain WHERE id = 1")
    }
    assert(!e3.isInstanceOf[UnsupportedOperationException] ||
      !e3.getMessage.contains("graft"),
      s"plain-table DML must surface Spark's own error, got: ${e3.getMessage}")
  }

  test("DELETE with an IN subquery condition — the decontamination " +
       "shape — routes to the merge-on-read delete") {
    val dir = freshTable("t_subq", (0L to 9L).map(i => (i, s"r$i")))
    freshTable("t_block", Seq((2L, "x"), (5L, "x"), (7L, "x"), (100L, "x")))
    val files0 = TxnLog.snapshot(dml, dir).toSet
    dml.sql(
      """DELETE FROM lake.ns.t_subq
        |WHERE id IN (SELECT id FROM lake.ns.t_block)""".stripMargin)
    assert(content("t_subq").map(_._1) === Set(0L, 1L, 3L, 4L, 6L, 8L, 9L))
    // MoR, one commit, no file moved, time travel intact.
    assertMoRDelete(dir, 1L)
    assert(TxnLog.snapshot(dml, dir).toSet === files0)
    assert(dml.sql("SELECT count(*) AS n FROM lake.ns.t_subq VERSION AS OF 0")
      .head().getLong(0) === 10)
    // EXISTS composed with plain predicates works through the same
    // positive-match path.
    dml.sql(
      """DELETE FROM lake.ns.t_subq
        |WHERE id = 9
        |  AND EXISTS (SELECT 1 FROM lake.ns.t_block b WHERE b.id < 999)""".stripMargin)
    assert(content("t_subq").map(_._1) === Set(0L, 1L, 3L, 4L, 6L, 8L))
    assertMoRDelete(dir, 2L)
    assert(dml.sql("SELECT count(*) AS n FROM lake.ns.t_subq VERSION AS OF 1")
      .head().getLong(0) === 7)
    // UPDATE with a WHERE subquery (positive filter only — supported).
    dml.sql(
      """UPDATE lake.ns.t_subq SET s = 'hit'
        |WHERE id IN (SELECT id - 96 FROM lake.ns.t_block WHERE id = 100)""".stripMargin)
    assert(content("t_subq").contains((4L, "hit")))
  }

  test("MERGE general clauses: conditional WHEN, column-listed UPDATE " +
       "and INSERT, WHEN MATCHED DELETE") {
    val dir = freshTable("t_gm", Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    dml.sql(
      """MERGE INTO lake.ns.t_gm t
        |USING (SELECT col1 AS id, col2 AS tag FROM
        |        VALUES (1, 'keep'), (2, 'kill'), (3, 'keep'), (9, 'new')) u
        |ON t.id = u.id
        |WHEN MATCHED AND u.tag = 'kill' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET s = concat(t.s, '+', u.tag)
        |WHEN NOT MATCHED AND u.tag = 'new' THEN INSERT (id, s) VALUES (u.id, u.tag)
        |""".stripMargin)
    assert(content("t_gm") ===
      Set((1L, "a+keep"), (3L, "c+keep"), (4L, "d"), (9L, "new")))
    // One atomic commit for the whole clause set.
    assert(TxnLog.latestVersion(dml, dir) === 1L)
    assert(dml.sql("SELECT count(*) AS n FROM lake.ns.t_gm VERSION AS OF 0")
      .head().getLong(0) === 4)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE updates and deletes unmatched " +
       "target rows") {
    freshTable("t_bys", Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    dml.sql(
      """MERGE INTO lake.ns.t_bys t
        |USING (SELECT col1 AS id FROM VALUES (1), (2)) u
        |ON t.id = u.id
        |WHEN MATCHED THEN UPDATE SET s = upper(t.s)
        |WHEN NOT MATCHED BY SOURCE AND t.id = 3 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET s = 'orphan'""".stripMargin)
    assert(content("t_bys") ===
      Set((1L, "A"), (2L, "B"), (4L, "orphan")))
  }

  test("MERGE on a composite equi-key takes the fast path and resolves " +
       "on the whole tuple") {
    import dml.implicits._
    val dir = s"$root/ns/t_mk"
    TxnLog.create(dml, dir,
      Seq((1L, "x", 10L), (1L, "y", 20L), (2L, "x", 30L))
        .toDF("k1", "k2", "v"))
    dml.sql(
      """MERGE INTO lake.ns.t_mk t
        |USING (SELECT col1 AS k1, col2 AS k2, col3 AS v FROM
        |        VALUES (1, 'y', 99), (3, 'z', 7)) u
        |ON t.k1 = u.k1 AND t.k2 = u.k2
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(dml.sql("SELECT k1, k2, v FROM lake.ns.t_mk")
      .as[(Long, String, Long)].collect().toSet ===
      Set((1L, "x", 10L), (1L, "y", 99L), (2L, "x", 30L), (3L, "z", 7L)))
  }

  test("MERGE cardinality violation (one target row, two applicable " +
       "source matches) throws instead of picking arbitrarily") {
    freshTable("t_card", Seq((1L, "a")))
    val e = intercept[Exception] {
      dml.sql(
        """MERGE INTO lake.ns.t_card t
          |USING (SELECT col1 AS id, col2 AS s FROM
          |        VALUES (1, 'x'), (1, 'y')) u
          |ON t.id = u.id
          |WHEN MATCHED AND u.s = 'x' THEN UPDATE SET s = u.s
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    assert(content("t_card") === Set((1L, "a")), "failed merge must not publish")
  }

  test("MERGE ambiguous unqualified reference fails with a clear error") {
    freshTable("t_amb", Seq((1L, "a")))
    val e = intercept[Exception] {
      dml.sql(
        """MERGE INTO lake.ns.t_amb t
          |USING (SELECT col1 AS id, col2 AS s FROM VALUES (1, 'x')) u
          |ON t.id = u.id
          |WHEN MATCHED THEN UPDATE SET s = concat(s, '!')""".stripMargin)
    }
    assert(e.getMessage.toLowerCase.contains("ambiguous"), e.getMessage)
  }

  test("schema enforcement reaches the SQL write path: a mistyped " +
       "INSERT fails, the log stays clean") {
    val dir = freshTable("t_enf", Seq((1L, "a")))
    val before = TxnLog.latestVersion(dml, dir)
    intercept[Exception] {
      // Too many columns: Spark's own insert-schema alignment rejects.
      dml.sql("INSERT INTO lake.ns.t_enf VALUES (2, 'b', 42)")
    }
    assert(TxnLog.latestVersion(dml, dir) === before)
    assert(content("t_enf") === Set((1L, "a")))
  }

  test("writes to a time-traveled snapshot are refused") {
    freshTable("t_tt", Seq((1L, "a")))
    dml.sql("INSERT INTO lake.ns.t_tt VALUES (2, 'b')")
    val e = intercept[Exception] {
      dml.sql("INSERT INTO lake.ns.t_tt VERSION AS OF 0 VALUES (3, 'c')")
    }
    // Either the parser refuses the syntax or the table refuses the
    // write — both are fine; silent tip-redirect is not.
    assert(TxnLog.read(dml, s"$root/ns/t_tt").count() === 2)
  }

  test("CREATE TABLE / CTAS / DROP TABLE complete the SQL lifecycle on " +
       "a writable catalog; the declared schema is enforced from row one") {
    import dml.implicits._
    // root registers the writable catalog lazily.
    val r = root
    dml.sql("CREATE TABLE lake.ns.t_ddl (id BIGINT, s STRING)")
    // Immediately SELECT-able: zero rows, declared schema.
    assert(dml.sql("SELECT * FROM lake.ns.t_ddl").count() === 0)
    assert(dml.table("lake.ns.t_ddl").schema.fieldNames.toSeq === Seq("id", "s"))
    dml.sql("INSERT INTO lake.ns.t_ddl VALUES (1, 'a'), (2, 'b')")
    assert(content("t_ddl") === Set((1L, "a"), (2L, "b")))
    assert(TxnLog.latestVersion(dml, s"$r/ns/t_ddl") === 1L)
    // Duplicate CREATE is an analysis error, not a silent overwrite.
    intercept[Exception] {
      dml.sql("CREATE TABLE lake.ns.t_ddl (x INT)")
    }
    assert(content("t_ddl").size === 2, "failed CREATE must not touch data")
    // CTAS: catalog createTable + the V1 write in one statement.
    dml.sql(
      "CREATE TABLE lake.ns.t_ctas AS SELECT id * 10 AS id, s FROM lake.ns.t_ddl")
    assert(content("t_ctas") === Set((10L, "a"), (20L, "b")))
    // DML runs on the created table like any other.
    dml.sql("DELETE FROM lake.ns.t_ctas WHERE id = 10")
    assert(content("t_ctas") === Set((20L, "b")))
    // DROP removes the txn table; plain parquet stays protected.
    dml.sql("DROP TABLE lake.ns.t_ctas")
    intercept[Exception] { dml.sql("SELECT * FROM lake.ns.t_ctas").collect() }
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite")
      .parquet(s"$r/ns/keepme.parquet")
    val e = intercept[UnsupportedOperationException] {
      dml.sql("DROP TABLE lake.ns.keepme")
    }
    assert(e.getMessage.contains("does not manage"))
    // PARTITIONED BY (identity) is supported since round 14 — the
    // dedicated test below owns it; non-identity transforms refuse.
  }

  test("ALTER TABLE ADD COLUMNS evolves the schema as a data-less " +
       "commit; non-additive changes are refused") {
    import dml.implicits._
    val dir = freshTable("t_alter", Seq((1L, "a")))
    dml.sql("ALTER TABLE lake.ns.t_alter ADD COLUMNS (score BIGINT)")
    // Data-less commit, new column null for existing rows.
    assert(TxnLog.latestVersion(dml, dir) === 1L)
    assert(dml.sql("SELECT id, s, score FROM lake.ns.t_alter")
      .as[(Long, String, Option[Long])].collect().toSeq === Seq((1L, "a", None)))
    // INSERT with the evolved shape lands without any further opt-in.
    dml.sql("INSERT INTO lake.ns.t_alter VALUES (2, 'b', 9)")
    assert(dml.sql("SELECT sum(score) AS x FROM lake.ns.t_alter")
      .head().getLong(0) === 9L)
    // History labels the evolution.
    assert(TxnLog.history(dml, dir).select("operation")
      .collect().map(_.getString(0)).contains("EVOLVE SCHEMA"))
    // Duplicate add fails loudly (Spark's own FIELD_ALREADY_EXISTS
    // analysis check fires before the catalog; either layer is fine).
    val dup = intercept[Exception] {
      dml.sql("ALTER TABLE lake.ns.t_alter ADD COLUMNS (score BIGINT)")
    }
    assert(dup.getMessage.toLowerCase.contains("score"))
    // RENAME/DROP are supported (column mapping, ColumnMappingSpec);
    // a RETYPE would genuinely rewrite immutable files and is refused —
    // by Spark's own ALTER analysis (narrowing cast) or by the catalog
    // (anything else); either layer failing the statement is correct.
    intercept[Exception] {
      dml.sql("ALTER TABLE lake.ns.t_alter ALTER COLUMN score TYPE INT")
    }
  }

  test("SQL scans of a schema-evolved table present the LOG schema — " +
       "identical columns to the API read, old rows null in new columns") {
    import dml.implicits._
    val dir = freshTable("t_evo", Seq((1L, "a"), (2L, "b")))
    TxnLog.append(dml, dir,
      Seq((3L, "c", 7L)).toDF("id", "s", "score"), mergeSchema = true)
    // SQL presents the evolved schema (round-10 advice: plain
    // inference read ONE footer and could miss the new column).
    val viaSql = dml.sql("SELECT id, s, score FROM lake.ns.t_evo ORDER BY id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(viaSql === Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(7L))))
    assert(dml.table("lake.ns.t_evo").schema.fieldNames.toSeq ===
      TxnLog.read(dml, dir).schema.fieldNames.toSeq)
    // A pre-evolution snapshot through SQL still presents the OLD shape.
    assert(dml.sql("SELECT * FROM lake.ns.t_evo VERSION AS OF 0")
      .schema.fieldNames.toSeq === Seq("id", "s"))
  }

  test("table_changes / table_history TVFs expose CDC and the audit " +
       "log through SQL") {
    import dml.implicits._
    val dir = freshTable("t_tvf", Seq((1L, "a"), (2L, "b")))
    dml.sql(s"INSERT INTO lake.ns.t_tvf VALUES (3, 'c')")
    dml.sql(s"DELETE FROM lake.ns.t_tvf WHERE id = 1")
    // v0 create, v1 insert, v2 delete — net change v0→v2.
    val changes = dml.sql(
      s"SELECT _change, id, s FROM table_changes('$dir', 0, 2) ORDER BY id")
      .as[(String, Long, String)].collect().toSeq
    assert(changes === Seq(("delete", 1L, "a"), ("insert", 3L, "c")))
    // The TVF composes like any relation (join back to the table).
    assert(dml.sql(
      s"""SELECT count(*) FROM table_changes('$dir', 0, 2) c
         |JOIN lake.ns.t_tvf t ON c.id = t.id""".stripMargin)
      .head().getLong(0) === 1L)
    val hist = dml.sql(
      s"SELECT version, operation FROM table_history('$dir') ORDER BY version")
      .as[(Long, String)].collect().toSeq
    assert(hist.map(_._1) === Seq(0L, 1L, 2L))
    assert(hist.head._2 === "CREATE")
    assert(hist(2)._2 === "DELETE (merge-on-read)")
    // table_files: one row per live file, log-carried counts, version
    // arg pins a snapshot (v0 had two files' worth of rows = 2).
    val live = dml.sql(s"SELECT path, row_count FROM table_files('$dir')")
      .as[(String, Long)].collect().toSeq
    assert(live.nonEmpty && live.forall(_._2 >= 0L))
    // Post-delete: the merge-on-read delete leaves the files whole
    // (rows 1, 2 and 3) and binds row 1's file to the mask.
    assert(dml.sql(s"SELECT sum(row_count) FROM table_files('$dir')")
      .head().getLong(0) === 3L)
    assert(dml.sql(s"SELECT count(dv_binding) FROM table_files('$dir')")
      .head().getLong(0) === 1L)
    // masked_rows is the mask's cardinality: 3 physical − 1 masked = 2
    // live rows.
    assert(dml.sql(s"SELECT sum(masked_rows) FROM table_files('$dir')")
      .head().getLong(0) === 1L)
    assert(dml.sql(
      s"SELECT sum(row_count - masked_rows) FROM table_files('$dir')")
      .head().getLong(0) === 2L)
    assert(dml.sql(s"SELECT sum(masked_rows) FROM table_files('$dir', 0)")
      .head().getLong(0) === 0L)
    assert(dml.sql(s"SELECT sum(row_count) FROM table_files('$dir', 0)")
      .head().getLong(0) === 2L) // v0: rows 1 and 2
    // Bad arity fails at analysis with the usage string.
    val e = intercept[Exception] { dml.sql(s"SELECT * FROM table_history()") }
    assert(e.getMessage.contains("usage"))
  }

  test("a MoR-masked table joins and aggregates correctly through SQL " +
       "(the masked plan keeps exprId identity)") {
    import dml.implicits._
    val dir = freshTable("t_join", (0L to 9L).map(i => (i, s"k${i % 3}")))
    TxnLog.deleteMoR(dml, dir, col("id") >= 6)
    val got = dml.sql(
      """SELECT a.s, count(*) AS n
        |FROM lake.ns.t_join a JOIN lake.ns.t_join b ON a.id = b.id
        |GROUP BY a.s ORDER BY a.s""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("k0", 2L), ("k1", 2L), ("k2", 2L)))
  }

  test("OPTIMIZE compacts through SQL (clustered, lazy — EXPLAIN runs " +
       "nothing) and VACUUM reports the swept fragments") {
    import dml.implicits._
    val dir = freshTable("t_opt", Seq((5L, "e"), (3L, "c")))
    TxnLog.append(dml, dir, Seq((1L, "a"), (4L, "d")).toDF("id", "s"))
    TxnLog.append(dml, dir, Seq((2L, "b")).toDF("id", "s"))
    val filesBefore = TxnLog.snapshot(dml, dir).size
    assert(filesBefore >= 3)
    // EXPLAIN parses the extension statement without executing it.
    dml.sql(s"EXPLAIN OPTIMIZE '$dir' TARGET 1 FILES").collect()
    assert(TxnLog.snapshot(dml, dir).size === filesBefore,
      "EXPLAIN must not run the compaction")
    val r = dml.sql(s"OPTIMIZE '$dir' TARGET 1 FILES CLUSTER BY (id)")
      .as[(Long, Long, Long)].collect().toSeq
    assert(r.size === 1 && r.head._2 === 1L && r.head._3 === filesBefore.toLong)
    assert(TxnLog.snapshot(dml, dir).size === 1)
    assert(content("t_opt") ===
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // The clustered single file is globally sorted on id.
    val ids = dml.sql(s"SELECT id FROM lake.ns.t_opt")
      .as[Long].collect().toSeq
    assert(ids === ids.sorted, "CLUSTER BY (id) must locally sort the output")
    // VACUUM with zero age floor: the pre-compaction fragments sweep.
    dml.conf.set("spark.graft.vacuum.retainMillis", "0")
    try {
      val swept = dml.sql(s"VACUUM '$dir'").as[String].collect().toSeq
      assert(swept.size >= filesBefore,
        s"expected >= $filesBefore swept fragments, got $swept")
      assert(content("t_opt").size === 5, "vacuum must not touch live data")
    } finally dml.conf.unset("spark.graft.vacuum.retainMillis")
  }

  test("OPTIMIZE without TARGET sizes from the live bytes; RETAIN n " +
       "VERSIONS keeps time travel to the retained window") {
    import dml.implicits._
    val dir = freshTable("t_opt2", (0L to 20L).map(i => (i, s"v$i")))
    TxnLog.append(dml, dir, Seq((21L, "x")).toDF("id", "s"))
    val r = dml.sql(s"OPTIMIZE '$dir'").as[(Long, Long, Long)].head()
    assert(r._2 === 1L, "tiny table: byte-derived target is 1 file")
    dml.conf.set("spark.graft.vacuum.retainMillis", "0")
    try {
      dml.sql(s"VACUUM '$dir' RETAIN 2 VERSIONS").collect()
      // v1 (pre-compaction tip) stays resolvable — and with it v0,
      // whose files are a SUBSET of v1's (append keeps old files):
      // retention is file-based, so earlier versions sharing every
      // file with a retained one ride along.
      assert(TxnLog.read(dml, dir, Some(1L)).count() === 22L)
      assert(TxnLog.read(dml, dir, Some(0L)).count() === 21L)
      // RETAIN 1 sweeps the pre-compaction fragments: only the
      // compacted tip survives.
      dml.sql(s"VACUUM '$dir'").collect()
      assert(TxnLog.read(dml, dir).count() === 22L)
      intercept[Exception] { TxnLog.read(dml, dir, Some(1L)).count() }
    } finally dml.conf.unset("spark.graft.vacuum.retainMillis")
  }

  test("CONVERT TO TXN adopts a plain directory through SQL; the " +
       "catalog then serves it like any txn table") {
    import dml.implicits._
    val dir = s"$root/ns/t_conv"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(dir)
    val r = dml.sql(s"CONVERT TO TXN '$dir'").as[(Long, Long)].head()
    assert(r._1 === 0L && r._2 >= 1L)
    dml.sql("INSERT INTO lake.ns.t_conv VALUES (3, 'c')")
    assert(content("t_conv") === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(dml.sql(s"SELECT count(*) FROM table_files('$dir')")
      .head().getLong(0) >= 2L)
  }

  test("MERGE WITH SCHEMA EVOLUTION: source extras evolve the schema " +
       "inside the merge commit; old rows read null; clause forms refuse") {
    import dml.implicits._
    val dir = freshTable("t_mevo", Seq((1L, "a"), (2L, "b")))
    dml.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO lake.ns.t_mevo t
        |USING (SELECT 2L AS id, 'B' AS s, 99L AS extra
        |       UNION ALL SELECT 3L, 'c', 7L) src
        |ON t.id = src.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = dml.sql(
      "SELECT id, s, extra FROM lake.ns.t_mevo ORDER BY id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(got === Seq((1L, "a", None), (2L, "B", Some(99L)),
      (3L, "c", Some(7L))))
    // One commit did data + schema: time travel to just before shows
    // the pre-evolution two-column shape.
    assert(TxnLog.tableSchema(dml, dir).get.fieldNames.toSeq
      === Seq("id", "s", "extra"))
    assert(TxnLog.tableSchema(dml, dir, Some(0L)).get.fieldNames.toSeq
      === Seq("id", "s"))
    // Without the keyword, extras still refuse (schema enforcement).
    intercept[Exception] {
      dml.sql(
        """MERGE INTO lake.ns.t_mevo t
          |USING (SELECT 9L AS id, 'z' AS s, 1L AS extra, 2L AS more) src
          |ON t.id = src.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    // Clause forms take the keyword too (round-16): no extras in this
    // source, so evolution is a no-op and the DELETE clause just runs
    // through the clause executor (the full matrix is MergeEvolveSpec's).
    dml.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO lake.ns.t_mevo t
        |USING (SELECT 2L AS id, 'x' AS s) src
        |ON t.id = src.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(dml.sql("SELECT id FROM lake.ns.t_mevo ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L))
  }

  test("MERGE WITH SCHEMA EVOLUTION refuses a source MISSING an existing " +
       "table column (evolution admits EXTRAS only — no silent nulling)") {
    import dml.implicits._
    freshTable("t_mevomiss", Seq((1L, "a"), (2L, "b")))
    val e = intercept[IllegalArgumentException] {
      dml.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO lake.ns.t_mevomiss t
          |USING (SELECT 2L AS id, 5L AS extra) src
          |ON t.id = src.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("missing s") &&
      e.getMessage.contains("EXTRAS"))
    // Nothing landed: the guard fired before any commit.
    assert(content("t_mevomiss") === Set((1L, "a"), (2L, "b")))
  }

  test("bloom scan rule never probes through a STRING→numeric cast: " +
       "CAST(s AS BIGINT) = n scans (numeric-image compare, string-hash " +
       "sidecar) instead of wrongly pruning") {
    import dml.implicits._
    import org.apache.spark.sql.functions.col
    val dir = s"$root/ns/t_bloomcast"
    // All-numeric-text keys so the ANSI cast evaluates cleanly;
    // '007' = BIGINT 7 under the cast, but xxhash64('007') is not
    // xxhash64(7L) — a cast-blind probe would prune the file.
    val df = (0L until 40L).map(i => (f"$i%03d", i)).toDF("sid", "v")
    TxnLog.createWithBloom(dml, dir,
      df.filter(col("v") % 2 === 0).coalesce(1), Seq("sid"))
    TxnLog.appendWithBloom(dml, dir,
      df.filter(col("v") % 2 === 1).coalesce(1), Seq("sid"))
    val q = dml.sql(
      "SELECT sid, v FROM lake.ns.t_bloomcast WHERE CAST(sid AS BIGINT) = 7")
    assert(q.as[(String, Long)].collect().toSeq === Seq(("007", 7L)),
      "the numeric-cast probe must scan, not prune the row away")
    // The direct string probe still prunes to one file.
    val q2 = dml.sql("SELECT sid, v FROM lake.ns.t_bloomcast WHERE sid = '007'")
    assert(q2.as[(String, Long)].collect().toSeq === Seq(("007", 7L)))
    val scanned = q2.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }
    assert(scanned.nonEmpty && scanned.sum === 1,
      s"string-literal probe should keep one file, scanned: $scanned")
  }

  test("SQL point-lookup over a bloom-indexed table file-prunes at " +
       "plan time; un-indexed predicates keep the native scan") {
    import dml.implicits._
    import org.apache.spark.sql.functions.col
    val dir = s"$root/ns/t_bloom"
    val df = (0L until 400L).map(i => (i, s"n$i")).toDF("id", "s")
    TxnLog.createWithBloom(dml, dir,
      df.filter(col("id") % 4 === 0).coalesce(1), Seq("id"))
    (1 to 3).foreach(r => TxnLog.appendWithBloom(dml, dir,
      df.filter(col("id") % 4 === r).coalesce(1), Seq("id")))
    // Residue-banded files: every file spans [0,399] on id, so only
    // the bloom can prune; ids ≡ 1 (mod 4) live in ONE file.
    val q = dml.sql("SELECT id, s FROM lake.ns.t_bloom WHERE id IN (1, 5, 9)")
    assert(q.as[(Long, String)].collect().toSet ===
      Set((1L, "n1"), (5L, "n5"), (9L, "n9")))
    val scanned = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }
    assert(scanned.nonEmpty && scanned.sum < 4,
      s"bloom rule must re-plan over a file subset, scanned: $scanned")
    // Un-indexed column: the catalog's native DSv2 scan stays.
    val q2 = dml.sql("SELECT id, s FROM lake.ns.t_bloom WHERE s = 'n3'")
    assert(q2.as[(Long, String)].collect().toSet === Set((3L, "n3")))
    assert(q2.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.isEmpty, "no bloom coverage on s: plan must be untouched")
    // A probe no tier can contain plans to the empty relation.
    assert(dml.sql("SELECT * FROM lake.ns.t_bloom WHERE id = 40000")
      .count() === 0L)
  }

  test("maintenance statements address tables by CATALOG NAME: every " +
       "verb resolves lake.ns.t through the catalog to the txn dir") {
    import dml.implicits._
    val dir = freshTable("t_named", (0L to 19L).map(i => (i, s"r$i")))
    dml.sql("INSERT INTO lake.ns.t_named VALUES (20, 'x')")
    // ALTER forms by name.
    dml.sql("ALTER TABLE lake.ns.t_named ADD CONSTRAINT nonneg CHECK (id >= 0)")
    assert(TxnLog.constraints(dml, dir).contains("nonneg"))
    dml.sql("ALTER TABLE lake.ns.t_named ADD GENERATED COLUMN id2 AS (id * 2)")
    // Pre-addition rows read null; a NEW write derives it (the bogus
    // writer value is recomputed — GENERATED ALWAYS AS semantics).
    dml.sql("INSERT INTO lake.ns.t_named VALUES (21, 'y', -999)")
    assert(dml.sql("SELECT id2 FROM lake.ns.t_named WHERE id = 21")
      .head().getLong(0) === 42L)
    dml.sql("ALTER TABLE lake.ns.t_named DROP CONSTRAINT nonneg")
    assert(!TxnLog.constraints(dml, dir).contains("nonneg"))
    // OPTIMIZE / REINDEX BLOOM / RESTORE / VACUUM by name.
    graft.sources.TxnBloom.writeConfig(dml, dir, Seq("id"))
    assert(dml.sql("REINDEX BLOOM lake.ns.t_named").count() >= 1L)
    dml.sql("OPTIMIZE lake.ns.t_named TARGET 1 FILES").collect()
    dml.sql("RESTORE lake.ns.t_named VERSION AS OF 0").collect()
    assert(content("t_named").map(_._1) === (0L to 19L).toSet)
    dml.conf.set("spark.graft.vacuum.retainMillis", "0")
    try assert(dml.sql("VACUUM lake.ns.t_named").count() >= 1L)
    finally dml.conf.unset("spark.graft.vacuum.retainMillis")
    assert(content("t_named").map(_._1) === (0L to 19L).toSet)
    // TVFs take the same name addressing: a 'catalog.ns.table' string
    // resolves like the statements do (paths keep working verbatim).
    assert(dml.sql("SELECT count(*) FROM table_history('lake.ns.t_named')")
      .head().getLong(0) >= 5L)
    assert(dml.sql("SELECT count(*) FROM table_files('lake.ns.t_named')")
      .head().getLong(0) >= 1L)
    // A graft verb on an unresolvable bare name fails with the remedy.
    val e = intercept[Exception] { dml.sql("VACUUM lake.ns.no_such_table") }
    assert(e.getMessage.contains("does not resolve"))
    // An ALTER CONSTRAINT on a non-graft name falls through to the
    // session grammar (Spark owns ALTERs on other catalogs) — the
    // error is Spark's, not the graft remedy message.
    val e2 = intercept[Exception] {
      dml.sql("ALTER TABLE spark_catalog.default.nope ADD CONSTRAINT c CHECK (1 = 1)")
    }
    assert(!e2.getMessage.contains("does not resolve"))
  }

  test("TIMESTAMP AS OF addresses RESTORE and table_changes through " +
       "commit mtimes (same resolver as the catalog's time travel)") {
    import dml.implicits._
    val dir = freshTable("t_ts", Seq((1L, "a"), (2L, "b")))        // v0
    Thread.sleep(30) // commit-mtime resolution: keep versions apart
    dml.sql("INSERT INTO lake.ns.t_ts VALUES (3, 'c')")            // v1
    Thread.sleep(30)
    dml.sql("DELETE FROM lake.ns.t_ts WHERE id = 1")               // v2
    val logDir = new org.apache.hadoop.fs.Path(dir, "_log")
    val fs = logDir.getFileSystem(dml.sparkContext.hadoopConfiguration)
    def tsOf(v: Long): String = {
      val ms = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(logDir, f"v$v%08d.json")).getModificationTime
      java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    }
    // Changes between the v1 and v2 SNAPSHOT TIMES = the delete diff.
    val changed = dml.sql(
      s"SELECT _change, id FROM table_changes('$dir', '${tsOf(1L)}', '${tsOf(2L)}')")
      .as[(String, Long)].collect().toSet
    assert(changed === Set(("delete", 1L)))
    // RESTORE to the v1 time brings row 1 back.
    dml.sql(s"RESTORE lake.ns.t_ts TIMESTAMP AS OF '${tsOf(1L)}'").collect()
    assert(content("t_ts") === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // A pre-creation timestamp refuses loudly.
    val e = intercept[Exception] {
      dml.sql(s"RESTORE lake.ns.t_ts TIMESTAMP AS OF '1999-01-01'").collect()
    }
    assert(e.getMessage.contains("earliest available commit"))
  }

  test("TIMESTAMP AS OF on a copied table picks the version committed at " +
       "that time, not the copy time") {
    import dml.implicits._
    val src = freshTable("t_tscopy_src", Seq((1L, "a")))            // v0
    Thread.sleep(30)
    dml.sql("INSERT INTO lake.ns.t_tscopy_src VALUES (2, 'b')")       // v1
    Thread.sleep(30)
    dml.sql("INSERT INTO lake.ns.t_tscopy_src VALUES (3, 'c')")       // v2
    val hist = TxnLog.history(dml, src).select("version", "commit_ts")
      .as[(Long, java.sql.Timestamp)].collect().toMap
    Thread.sleep(30)
    // A plain copy: every copied file gets a fresh mtime.
    val dst = s"$root/ns/t_tscopy_dst"
    val srcP = new org.apache.hadoop.fs.Path(src)
    val fs = srcP.getFileSystem(dml.sparkContext.hadoopConfiguration)
    org.apache.hadoop.fs.FileUtil.copy(fs, srcP, fs,
      new org.apache.hadoop.fs.Path(dst), false, dml.sparkContext.hadoopConfiguration)
    TxnLog.clearHistoryCache()
    assert(TxnLog.history(dml, dst).select("version", "commit_ts")
      .as[(Long, java.sql.Timestamp)].collect().toMap === hist)
    val ts = java.time.LocalDateTime.ofInstant(hist(1L).toInstant,
      java.time.ZoneOffset.UTC).format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(dml.sql(s"SELECT id FROM lake.ns.t_tscopy_dst TIMESTAMP AS OF '$ts'")
      .as[Long].collect().toSet === Set(1L, 2L))
  }

  test("SQL RANGE predicates file-prune through the log stats: " +
       "value-banded commits scan only the intersecting band") {
    import dml.implicits._
    import org.apache.spark.sql.functions.col
    val dir = s"$root/ns/t_range"
    val df = (0L until 300L).map(i => (i, s"n$i")).toDF("id", "s")
    // Three value-banded commits: [0,100), [100,200), [200,300).
    TxnLog.create(dml, dir, df.filter(col("id") < 100).coalesce(1))
    TxnLog.append(dml, dir,
      df.filter(col("id") >= 100 && col("id") < 200).coalesce(1))
    TxnLog.append(dml, dir, df.filter(col("id") >= 200).coalesce(1))
    val q = dml.sql(
      "SELECT id, s FROM lake.ns.t_range WHERE id BETWEEN 120 AND 150")
    assert(q.as[(Long, String)].collect().map(_._1).sorted.toSeq
      === (120L to 150L).toSeq)
    val scanned = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }
    assert(scanned.nonEmpty && scanned.sum === 1,
      s"range must keep only the middle band, scanned: $scanned")
    // Strict bounds tighten correctly (id > 199 excludes band 2).
    // The count plan runs under AQE — walk adaptive wrappers.
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(st.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(s.relation.location.inputFiles.length)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val q2 = dml.sql("SELECT count(*) FROM lake.ns.t_range WHERE id > 199")
    assert(q2.head().getLong(0) === 100L)
    val scanned2 = scans(q2.queryExecution.executedPlan)
    assert(scanned2.sum === 1, s"strict bound must prune, scanned: $scanned2")
    // A disjoint range plans to the empty relation.
    assert(dml.sql("SELECT * FROM lake.ns.t_range WHERE id >= 1000")
      .count() === 0L)
  }

  test("bloom scan rule prunes through an IN-SUBQUERY over a small dim; " +
       "an over-cap dim bails out to the native plan") {
    import dml.implicits._
    import org.apache.spark.sql.functions.col
    val dir = s"$root/ns/t_bloomsq"
    val df = (0L until 400L).map(i => (i, s"n$i")).toDF("id", "s")
    TxnLog.createWithBloom(dml, dir,
      df.filter(col("id") % 4 === 0).coalesce(1), Seq("id"))
    (1 to 3).foreach(r => TxnLog.appendWithBloom(dml, dir,
      df.filter(col("id") % 4 === r).coalesce(1), Seq("id")))
    // Residue-banded files: only the bloom can prune; ids ≡ 1 (mod 4)
    // live in ONE file. The dim arrives as a subquery, not literals.
    val q = dml.sql(
      """SELECT id, s FROM lake.ns.t_bloomsq
        |WHERE id IN (SELECT col1 FROM VALUES (1L), (5L), (9L))""".stripMargin)
    assert(q.as[(Long, String)].collect().toSet ===
      Set((1L, "n1"), (5L, "n5"), (9L, "n9")))
    // The semi-join plan runs under AQE — walk adaptive/stage wrappers
    // to reach the file scans.
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(st.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(s.relation.location.inputFiles.length)
      case other =>
        (other.children ++ other.subqueries).flatMap(scans)
    }
    val scanned = scans(q.queryExecution.executedPlan)
    assert(scanned.nonEmpty && scanned.sum < 4,
      s"IN-subquery must file-prune like the literal form, scanned: $scanned")
    // Cap exceeded (or disabled): the native DSv2 plan stays untouched
    // and the answer is identical.
    dml.conf.set("spark.graft.bloom.probe.inSubqueryMaxRows", "0")
    try {
      val q2 = dml.sql(
        """SELECT id, s FROM lake.ns.t_bloomsq
          |WHERE id IN (SELECT col1 FROM VALUES (1L), (5L), (9L))""".stripMargin)
      assert(q2.as[(Long, String)].collect().toSet ===
        Set((1L, "n1"), (5L, "n5"), (9L, "n9")))
      assert(scans(q2.queryExecution.executedPlan).isEmpty,
        "disabled subquery probing must keep the native scan")
    } finally dml.conf.unset("spark.graft.bloom.probe.inSubqueryMaxRows")
  }

  test("CREATE TABLE ... PARTITIONED BY routes to the partitioned " +
       "create: INSERTs lay out hive-style and partition-drop applies") {
    import dml.implicits._
    val dir = s"$root/ns/t_parted"
    dml.sql("CREATE TABLE lake.ns.t_parted (id BIGINT, s STRING, lang STRING) " +
      "PARTITIONED BY (lang)")
    assert(TxnLog.partitionColumns(dml, dir) === Seq("lang"))
    dml.sql("INSERT INTO lake.ns.t_parted VALUES " +
      "(1, 'a', 'en'), (2, 'b', 'de'), (3, 'c', 'en')")
    assert(TxnLog.snapshot(dml, dir).forall(_.contains("lang=")),
      "INSERT INTO must stage hive-laid files")
    val q = dml.sql("SELECT id FROM lake.ns.t_parted WHERE lang = 'en'")
    assert(q.as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // Tier-0 partition pruning fires at plan time: only lang=en files
    // reach the scan.
    val scanned = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("lang=en")),
      s"SQL partition filter must prune the file list, scanned: ${scanned.toSeq}")
    TxnLog.dropPartition(dml, dir, "lang", "en")
    assert(dml.sql("SELECT id, lang FROM lake.ns.t_parted")
      .as[(Long, String)].collect().toSeq === Seq((2L, "de")))
    // Non-identity transforms refuse loudly.
    val e = intercept[Exception] {
      dml.sql("CREATE TABLE lake.ns.t_partbad (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))")
    }
    assert(e.getMessage.contains("identity"))
    // ALTER TABLE ... DROP PARTITION and the inventory TVF: rebuild the
    // dropped partition's data, inventory it, drop it by SQL.
    dml.sql("INSERT INTO lake.ns.t_parted VALUES (4, 'd', 'en'), (5, 'e', 'fr')")
    assert(dml.sql(s"SELECT partition, n_rows FROM table_partitions('$dir')")
      .as[(String, Long)].collect().toMap
      === Map("lang=de" -> 1L, "lang=en" -> 1L, "lang=fr" -> 1L))
    // Partition-scoped OPTIMIZE: two more en inserts (the earlier
    // DROP PARTITION removed en) make two en fragments; the statement
    // compacts exactly them, leaving the other partitions alone.
    dml.sql("INSERT INTO lake.ns.t_parted VALUES (6, 'f', 'en')")
    dml.sql("INSERT INTO lake.ns.t_parted VALUES (7, 'g', 'en')")
    val opt = dml.sql(
      "OPTIMIZE lake.ns.t_parted PARTITION (lang = 'en') TARGET 1 FILES")
      .as[(Long, Long, Long)].head()
    // en fragments: id 4's file (from the earlier insert) + 6 + 7.
    assert(opt._2 === 1L && opt._3 === 3L, s"expected 3->1 rewrite, got $opt")
    assert(dml.sql("SELECT id FROM lake.ns.t_parted WHERE lang = 'en' ORDER BY id")
      .as[Long].collect().toSeq === Seq(4L, 6L, 7L))
    // Clustered single-partition rewrite: z-order the hot partition.
    dml.sql("INSERT INTO lake.ns.t_parted VALUES (8, 'h', 'en')")
    val optC = dml.sql("OPTIMIZE lake.ns.t_parted PARTITION (lang = 'en') " +
      "TARGET 1 FILES CLUSTER BY (id)").as[(Long, Long, Long)].head()
    assert(optC._2 === 1L && optC._3 === 2L, s"clustered rewrite: $optC")
    assert(dml.sql("SELECT id FROM lake.ns.t_parted WHERE lang = 'en'")
      .as[Long].collect().sorted.toSeq === Seq(4L, 6L, 7L, 8L))
    assert(dml.sql(
      "ALTER TABLE lake.ns.t_parted DROP PARTITION (lang = 'en')")
      .head().getLong(0) >= 1L)
    assert(dml.sql("SELECT id FROM lake.ns.t_parted ORDER BY id")
      .as[Long].collect().toSeq === Seq(2L, 5L))
    // INSERT OVERWRITE keeps the table partitioned (overwrite carries
    // the invariant through its re-baseline).
    dml.sql("INSERT OVERWRITE lake.ns.t_parted VALUES (9, 'z', 'es')")
    assert(TxnLog.partitionColumns(dml, dir) === Seq("lang"))
    assert(TxnLog.snapshot(dml, dir).forall(_.contains("lang=")))
    assert(dml.sql("SELECT id, lang FROM lake.ns.t_parted")
      .as[(Long, String)].collect().toSeq === Seq((9L, "es")))
    // STATIC-partition INSERTs: plain INSERT appends with the literal,
    // OVERWRITE replaces exactly that partition.
    dml.sql("INSERT INTO lake.ns.t_parted PARTITION (lang = 'en') " +
      "VALUES (10, 'j'), (11, 'k')")
    assert(dml.sql("SELECT id FROM lake.ns.t_parted WHERE lang = 'en'")
      .as[Long].collect().sorted.toSeq === Seq(10L, 11L))
    dml.sql("INSERT OVERWRITE lake.ns.t_parted PARTITION (lang = 'en') " +
      "VALUES (12, 'm')")
    assert(dml.sql("SELECT id, s, lang FROM lake.ns.t_parted ORDER BY id")
      .as[(Long, String, String)].collect().toSeq
      === Seq((9L, "z", "es"), (12L, "m", "en")),
      "the es partition must survive the en replace")
    // DYNAMIC partition overwrite: replace EXACTLY the partitions the
    // query produces (es and fr here) — en must not move.
    dml.sql("INSERT OVERWRITE lake.ns.t_parted PARTITION (lang) " +
      "VALUES (13, 'n', 'fr'), (14, 'p', 'es')")
    assert(dml.sql("SELECT id, s, lang FROM lake.ns.t_parted ORDER BY id")
      .as[(Long, String, String)].collect().toSeq
      === Seq((12L, "m", "en"), (13L, "n", "fr"), (14L, "p", "es")),
      "dynamic overwrite must replace produced partitions only")
    // Plain INSERT with a dynamic entry is just an append.
    dml.sql("INSERT INTO lake.ns.t_parted PARTITION (lang) VALUES (15, 'q', 'en')")
    assert(dml.sql("SELECT id FROM lake.ns.t_parted WHERE lang = 'en'")
      .as[Long].collect().sorted.toSeq === Seq(12L, 15L))
  }

  test("multi-column partition specs in SQL: DROP PARTITION full/" +
       "partial, DROP PARTITION WHERE (typed), OPTIMIZE PARTITION, " +
       "and mixed static+dynamic INSERT OVERWRITE") {
    import dml.implicits._
    val dir = s"$root/ns/t_mc"
    dml.sql("CREATE TABLE lake.ns.t_mc (id BIGINT, lang STRING, band BIGINT) " +
      "PARTITIONED BY (lang, band)")
    dml.sql("INSERT INTO lake.ns.t_mc VALUES " +
      "(1, 'en', 0), (2, 'en', 1), (3, 'de', 0), (4, 'de', 1), (5, 'fr', 2)")
    def ids: Seq[Long] = dml.sql("SELECT id FROM lake.ns.t_mc ORDER BY id")
      .as[Long].collect().toSeq
    // Full two-column spec drops exactly the (en, 1) slice.
    assert(dml.sql(
      "ALTER TABLE lake.ns.t_mc DROP PARTITION (lang = 'en', band = 1)")
      .head().getLong(0) >= 1L)
    assert(ids === Seq(1L, 3L, 4L, 5L))
    // Partial spec drops the whole matching slice (both de bands).
    dml.sql("ALTER TABLE lake.ns.t_mc DROP PARTITION (lang = 'de')")
    assert(ids === Seq(1L, 5L))
    // Predicate drop is TYPED: band >= 2 is a numeric compare over the
    // decoded tuple, not a string compare on path text.
    val v0 = TxnLog.latestVersion(dml, dir)
    dml.sql("ALTER TABLE lake.ns.t_mc DROP PARTITION WHERE band >= 2")
    assert(TxnLog.latestVersion(dml, dir) === v0 + 1)
    assert(ids === Seq(1L))
    // Malformed specs fail loudly, not by silently dropping pairs.
    val em = intercept[Exception] {
      dml.sql("ALTER TABLE lake.ns.t_mc DROP PARTITION (lang = 'en' oops)")
    }
    assert(em.getMessage.contains("malformed PARTITION spec"))
    // Multi-column partition-scoped OPTIMIZE: fragment (en, 0), then
    // compact exactly that slice.
    dml.sql("INSERT INTO lake.ns.t_mc VALUES (6, 'en', 0)")
    dml.sql("INSERT INTO lake.ns.t_mc VALUES (7, 'en', 0)")
    val opt = dml.sql("OPTIMIZE lake.ns.t_mc PARTITION (lang = 'en', band = 0) " +
      "TARGET 1 FILES").as[(Long, Long, Long)].head()
    assert(opt._2 === 1L && opt._3 === 3L, s"expected 3->1 rewrite, got $opt")
    assert(ids === Seq(1L, 6L, 7L))
    // Mixed static+dynamic OVERWRITE: lang pinned to 'en', band from
    // the rows — replaces exactly (en, 0), leaves (en, 5) alone.
    dml.sql("INSERT INTO lake.ns.t_mc VALUES (8, 'en', 5)")
    dml.sql("INSERT OVERWRITE lake.ns.t_mc PARTITION (lang = 'en', band) " +
      "VALUES (9, 0)")
    assert(dml.sql("SELECT id, lang, band FROM lake.ns.t_mc ORDER BY id")
      .as[(Long, String, Long)].collect().toSeq
      === Seq((8L, "en", 5L), (9L, "en", 0L)),
      "mixed static+dynamic must replace the static-slice x produced bands")
  }

  test("column DEFAULT values: CREATE-time declarations fill " +
       "column-list INSERTs, DEFAULT keywords, and graft-API writes " +
       "omitting the column; explicit NULL stays NULL; ALTER ADD " +
       "with DEFAULT gives pre-existing rows the exists-default") {
    import dml.implicits._
    val dir = s"$root/ns/t_def"
    dml.sql("CREATE TABLE lake.ns.t_def (id BIGINT, " +
      "score BIGINT DEFAULT 42, tag STRING DEFAULT 'none')")
    dml.sql("INSERT INTO lake.ns.t_def VALUES (1, 7, 'a')")
    dml.sql("INSERT INTO lake.ns.t_def (id) VALUES (2)")
    dml.sql("INSERT INTO lake.ns.t_def VALUES (3, DEFAULT, DEFAULT)")
    // The graft API write path fills OMITTED defaulted columns too.
    TxnLog.append(dml, dir, Seq(Tuple1(4L)).toDF("id"))
    // An explicit NULL is a VALUE, not an omission.
    dml.sql("INSERT INTO lake.ns.t_def VALUES (5, NULL, NULL)")
    val got = dml.sql(
      "SELECT id, score, tag FROM lake.ns.t_def ORDER BY id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) "<null>" else r.getString(2))).toSeq
    assert(got === Seq((1L, 7L, "a"), (2L, 42L, "none"),
      (3L, 42L, "none"), (4L, 42L, "none"), (5L, -1L, "<null>")), s"$got")
    // ADD COLUMNS with DEFAULT (round-15 verdict): pre-existing rows
    // read the frozen exists-default (their files physically lack the
    // column — Spark's reader fills EXISTS_DEFAULT schema metadata);
    // new writes materialize it; an explicit NULL written AFTER the
    // add is a value and stays NULL.
    dml.sql("ALTER TABLE lake.ns.t_def ADD COLUMNS (extra BIGINT DEFAULT 9)")
    assert(dml.sql("SELECT extra FROM lake.ns.t_def")
      .collect().forall(r => !r.isNullAt(0) && r.getLong(0) === 9L),
      "every pre-existing row must read the exists-default")
    dml.sql("INSERT INTO lake.ns.t_def VALUES (6, 1, 'b', NULL)")
    dml.sql("INSERT INTO lake.ns.t_def (id) VALUES (7)")
    def extras: Seq[(Long, Long)] = dml.sql(
      "SELECT id, coalesce(extra, -1) AS e FROM lake.ns.t_def " +
        "WHERE id >= 5 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(extras === Seq((5L, 9L), (6L, -1L), (7L, 9L)),
      s"pre-add=default, explicit NULL stays, omitted fills: $extras")
    // A COW rewrite (compact) MATERIALIZES the fill — the semantics
    // survive the old files leaving the snapshot.
    TxnLog.compact(dml, dir, targetFiles = 1)
    assert(extras === Seq((5L, 9L), (6L, -1L), (7L, 9L)),
      "compaction must preserve exists-default fills and explicit NULLs")
  }

  test("GENERATED AS IDENTITY columns: engine-assigned unique values " +
       "across appends, ALWAYS refuses explicit values, BY DEFAULT " +
       "keeps them, concurrent appenders never collide, and RESTORE " +
       "rolls the watermark back with the data") {
    import dml.implicits._
    val dir = s"$root/ns/t_id"
    dml.sql("CREATE TABLE lake.ns.t_id (rid BIGINT GENERATED ALWAYS " +
      "AS IDENTITY (START WITH 10 INCREMENT BY 3), s STRING)")
    def rids: Seq[Long] = dml.sql("SELECT rid FROM lake.ns.t_id")
      .as[Long].collect().sorted.toSeq
    TxnLog.append(dml, dir, Seq("a", "b", "c").toDF("s"))      // v1
    assert(rids === Seq(10L, 13L, 16L))
    TxnLog.append(dml, dir, Seq("d", "e").toDF("s"))           // v2
    assert(rids === Seq(10L, 13L, 16L, 19L, 22L),
      "the watermark must continue across appends")
    // SQL INSERT: NULL placeholder assigns; a non-null value refuses
    // (GENERATED ALWAYS is never writer-owned).
    dml.sql("INSERT INTO lake.ns.t_id VALUES (NULL, 'f')")
    assert(rids === Seq(10L, 13L, 16L, 19L, 22L, 25L))
    val e = intercept[Exception] {
      dml.sql("INSERT INTO lake.ns.t_id VALUES (999, 'g')")
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"))
    // BY DEFAULT: explicit values land as given, NULLs still assign.
    dml.sql("CREATE TABLE lake.ns.t_idd (rid BIGINT GENERATED BY " +
      "DEFAULT AS IDENTITY, s STRING)")
    dml.sql("INSERT INTO lake.ns.t_idd VALUES (100, 'x'), (NULL, 'y')")
    assert(dml.sql("SELECT rid FROM lake.ns.t_idd")
      .as[Long].collect().sorted.toSeq === Seq(1L, 100L))
    // SYNC IDENTITY realigns the watermark past the explicit 100 —
    // the repair that keeps future allocations collision-free.
    dml.sql("ALTER TABLE lake.ns.t_idd SYNC IDENTITY").collect()
    dml.sql("INSERT INTO lake.ns.t_idd VALUES (NULL, 'z')")
    assert(dml.sql("SELECT rid FROM lake.ns.t_idd")
      .as[Long].collect().sorted.toSeq === Seq(1L, 100L, 101L),
      "post-sync allocation must start past the explicit maximum")
    // Already-aligned sync is a version-preserving no-op.
    val vAligned = TxnLog.latestVersion(dml, s"$root/ns/t_idd")
    dml.sql("ALTER TABLE lake.ns.t_idd SYNC IDENTITY").collect()
    assert(TxnLog.latestVersion(dml, s"$root/ns/t_idd") === vAligned)
    // CONCURRENT appenders: the allocation is watermark-checked at
    // commit and restaged on loss, so ids never collide.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { k =>
      new Thread(() => {
        try TxnLog.append(dml, dir,
          (1 to 5).map(j => s"c$k-$j").toDF("s"))
        catch { case x: Throwable => errs.add(x) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent identity append failed: ${errs.peek()}")
    val all = rids
    assert(all.size === 26 && all.distinct.size === 26,
      s"20 concurrent allocations must be unique: $all")
    assert(all === (0 until 26).map(10L + 3L * _),
      "allocations must be exactly the arithmetic sequence — no gaps " +
        s"under contention either: $all")
    // RESTORE rolls the watermark back WITH the data: the next
    // allocation re-issues exactly what the rolled-back commits had.
    dml.sql(s"RESTORE '$dir' VERSION AS OF 1").collect()
    assert(rids === Seq(10L, 13L, 16L))
    TxnLog.append(dml, dir, Seq("z").toDF("s"))
    assert(rids === Seq(10L, 13L, 16L, 19L))
  }

  test("CREATE TABLE ... CLUSTER BY records the layout keys as a table " +
       "property: OPTIMIZE with no clause range-clusters on them, an " +
       "explicit clause overrides, and range scans prune the " +
       "clustered files") {
    import dml.implicits._
    val dir = s"$root/ns/t_cl"
    dml.sql("CREATE TABLE lake.ns.t_cl (id BIGINT, v BIGINT) " +
      "CLUSTER BY (v)")
    assert(TxnLog.clusterColumnsOf(dml, dir) === Seq("v"))
    // Three residue-sliced appends: every file spans the full v range,
    // so range skipping is structurally useless BEFORE clustering.
    (0 to 2).foreach { r =>
      dml.sql(s"INSERT INTO lake.ns.t_cl SELECT id, id * 7 % 1000 " +
        s"FROM range(0, 300) WHERE id % 3 = $r")
    }
    def scannedFiles(q: String): Int = {
      val plan = dml.sql(q).queryExecution.executedPlan
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(s.plan)
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(s.relation.location.inputFiles.length)
          case other => other.children.flatMap(walk)
        }
      walk(plan).sum
    }
    // OPTIMIZE with NO clause: clusters on the RECORDED keys.
    val opt = dml.sql("OPTIMIZE lake.ns.t_cl TARGET 3 FILES")
      .as[(Long, Long, Long)].head()
    assert(opt._2 === 3L && opt._3 >= 3L, s"n->3 clustered rewrite: $opt")
    val scanned = scannedFiles(
      "SELECT id FROM lake.ns.t_cl WHERE v BETWEEN 0 AND 99")
    assert(scanned < 3, s"clustered range scan must prune, scanned $scanned/3")
    // Row population intact through the clustered rewrite.
    assert(dml.sql("SELECT sum(id), count(*) FROM lake.ns.t_cl")
      .as[(Long, Long)].head() === ((300L * 299 / 2, 300L)))
    // An explicit clause still overrides the recorded keys.
    dml.sql("OPTIMIZE lake.ns.t_cl TARGET 2 FILES CLUSTER BY (id)").collect()
    assert(dml.sql("SELECT count(*) FROM lake.ns.t_cl").as[Long].head() === 300L)
    // CLUSTER BY on a column the schema lacks refuses at CREATE.
    intercept[Exception] {
      dml.sql("CREATE TABLE lake.ns.t_clbad (id BIGINT) CLUSTER BY (nope)")
    }
  }

  test("GENERATED ALWAYS AS partition columns — derived partitioning: " +
       "writers omit the column, the engine derives and lays out " +
       "hive-style; bogus writer values recompute; static spec " +
       "mismatches refuse; dynamic overwrite keys on derived values") {
    import dml.implicits._
    val dir = s"$root/ns/t_gp"
    dml.sql("CREATE TABLE lake.ns.t_gp (id BIGINT, ts TIMESTAMP, " +
      "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
      "PARTITIONED BY (day)")
    assert(TxnLog.partitionColumns(dml, dir) === Seq("day"))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // API append WITHOUT the generated partition column: derived
    // inside the staged write, hive-laid under the derived day.
    TxnLog.append(dml, dir, Seq(
      (1L, ts("2026-01-01 12:00:00")),
      (2L, ts("2026-01-02 12:00:00")),
      (3L, ts("2026-01-02 13:00:00"))).toDF("id", "ts"))
    assert(TxnLog.snapshot(dml, dir).filter(_.endsWith(".parquet"))
      .forall(_.contains("day=")), "derived hive layout expected")
    // SQL INSERT with a BOGUS day: GENERATED ALWAYS means the writer
    // never owns it — recomputed from ts.
    dml.sql("INSERT INTO lake.ns.t_gp VALUES " +
      "(4, TIMESTAMP'2026-01-03 12:00:00', DATE'1999-01-01')")
    val got = dml.sql("SELECT id, CAST(day AS STRING) FROM lake.ns.t_gp")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "2026-01-01", 2L -> "2026-01-02",
      3L -> "2026-01-02", 4L -> "2026-01-03"), s"derived days: $got")
    // Tier-0 pruning and the metadata drop work on the DERIVED value.
    assert(TxnLog.readPrunedPartition(dml, dir, "day",
      Seq("2026-01-02")).count() === 2L)
    TxnLog.dropPartition(dml, dir, "day", "2026-01-02")
    assert(dml.sql("SELECT id FROM lake.ns.t_gp ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 4L))
    // A frame missing BOTH the column and its source still rejects
    // (it would stage flat and escape partition-addressed DROP).
    intercept[IllegalArgumentException] {
      TxnLog.append(dml, dir, Seq(Tuple1(9L)).toDF("id"))
    }
    // Static spec whose rows DERIVE a different day refuses — the
    // recompute would land them outside the replaced partition.
    val e = intercept[IllegalArgumentException] {
      TxnLog.overwritePartition(dml, dir, Map("day" -> "2026-01-01"),
        Seq((5L, ts("2026-02-07 12:00:00"))).toDF("id", "ts"))
    }
    assert(e.getMessage.contains("GENERATED"))
    // Dynamic overwrite keys the replaced set on the RECOMPUTED day,
    // even against a bogus writer-supplied value: only 2026-01-03
    // is replaced, 2026-01-01 survives.
    TxnLog.overwritePartitionsDynamic(dml, dir,
      Seq((6L, ts("2026-01-03 12:00:00"), java.sql.Date.valueOf("1999-01-01")))
        .toDF("id", "ts", "day"))
    assert(dml.sql("SELECT id, CAST(day AS STRING) FROM lake.ns.t_gp")
      .as[(Long, String)].collect().toSet ===
      Set((1L, "2026-01-01"), (6L, "2026-01-03")))
  }

  test("INSERT INTO ... REPLACE WHERE replaces exactly the predicate " +
       "region in one commit; escaping rows refuse; EXPLAIN runs " +
       "nothing") {
    import dml.implicits._
    val dir = freshTable("t_rw",
      (0L to 9L).map(i => (i, s"v$i")))
    val v0 = TxnLog.latestVersion(dml, dir)
    // EXPLAIN is lazy — no commit, no data change.
    dml.sql("EXPLAIN INSERT INTO lake.ns.t_rw REPLACE WHERE id >= 5 " +
      "SELECT id + 100, s FROM lake.ns.t_rw WHERE id >= 5").collect()
    assert(TxnLog.latestVersion(dml, dir) === v0, "EXPLAIN must not run")
    dml.sql("INSERT INTO lake.ns.t_rw REPLACE WHERE id >= 5 " +
      "VALUES (7, 'seven'), (99, 'big')")
    assert(content("t_rw") ===
      ((0L to 4L).map(i => (i, s"v$i")).toSet + ((7L, "seven")) + ((99L, "big"))),
      "rows below the predicate survive; the region is exactly replaced")
    assert(TxnLog.latestVersion(dml, dir) === v0 + 1, "one atomic commit")
    // A replacement row OUTSIDE the region fails loudly, no commit.
    val e = intercept[Exception] {
      dml.sql("INSERT INTO lake.ns.t_rw REPLACE WHERE id >= 50 " +
        "VALUES (1, 'escapee')")
    }
    assert(e.getMessage.contains("satisfy the predicate"))
    assert(TxnLog.latestVersion(dml, dir) === v0 + 1)
  }

  test("statement splitter: top-level keyword scan ignores string " +
       "literals, backtick identifiers, parens, and comments") {
    import graft.plans.TxnSqlDml.topLevelKeywordIndex
    val kws = Seq("SELECT", "VALUES", "WITH", "TABLE", "FROM")
    // Keyword inside a string literal never splits.
    val s1 = "name = 'a SELECT b' VALUES (1)"
    assert(topLevelKeywordIndex(s1, kws) === s1.indexOf("VALUES"))
    // Doubled-quote escape stays inside the literal.
    val s2 = "s = 'it''s SELECT x' SELECT 1"
    assert(topLevelKeywordIndex(s2, kws) === s2.lastIndexOf("SELECT"))
    // A parenthesized subquery's SELECT is not top-level.
    val s3 = "k IN (SELECT id FROM bad) SELECT k, v FROM src"
    assert(topLevelKeywordIndex(s3, kws) === s3.indexOf("SELECT k"))
    // Backticked identifier containing a keyword.
    val s4 = "`select` = 3 VALUES (9)"
    assert(topLevelKeywordIndex(s4, kws) === s4.indexOf("VALUES"))
    // Comments (line and nested bracketed) are skipped.
    val s5 = "a = 1 -- SELECT not here\n/* VALUES /* TABLE */ */ SELECT 2"
    assert(topLevelKeywordIndex(s5, kws) === s5.lastIndexOf("SELECT"))
    // Word boundary: SELECTED is not SELECT.
    val s6 = "selected = 1 VALUES (1)"
    assert(topLevelKeywordIndex(s6, kws) === s6.indexOf("VALUES"))
    // No top-level keyword at all → -1.
    assert(topLevelKeywordIndex("a = 'SELECT'", kws) === -1)
  }

  test("REPLACE WHERE predicate containing a keyword inside a string " +
       "literal splits at the real query start") {
    val dir = freshTable("t_rwlit",
      Seq((1L, "a SELECT b"), (2L, "plain")))
    dml.sql("INSERT INTO lake.ns.t_rwlit REPLACE WHERE s = 'a SELECT b' " +
      "VALUES (9, 'a SELECT b')")
    assert(content("t_rwlit") === Set((9L, "a SELECT b"), (2L, "plain")))
    assert(TxnLog.latestVersion(dml, dir) === 1L, "one atomic commit")
  }

  test("REPLACE WHERE id IN (SELECT …) — the decontamination shape — " +
       "materializes the subquery and replaces exactly the listed " +
       "region; EXISTS and over-cap subqueries refuse loudly") {
    import dml.implicits._
    val dir = freshTable("t_rwsub",
      (0L to 9L).map(i => (i, s"v$i")))
    Seq(2L, 5L, 7L).toDF("bad_id").createOrReplaceTempView("rw_bad")
    dml.sql("INSERT INTO lake.ns.t_rwsub " +
      "REPLACE WHERE id IN (SELECT bad_id FROM rw_bad) " +
      "SELECT bad_id, 'clean' FROM rw_bad WHERE bad_id <> 7")
    assert(content("t_rwsub") ===
      ((0L to 9L).filterNot(Set(2L, 5L, 7L)).map(i => (i, s"v$i")).toSet ++
        Set((2L, "clean"), (5L, "clean"))),
      "listed rows replaced (7 dropped — subset replacement); others survive")
    assert(TxnLog.latestVersion(dml, dir) === 1L, "one atomic commit")
    // A replacement row OUTSIDE the materialized list refuses.
    val esc = intercept[Exception] {
      dml.sql("INSERT INTO lake.ns.t_rwsub " +
        "REPLACE WHERE id IN (SELECT bad_id FROM rw_bad) " +
        "VALUES (1, 'escapee')")
    }
    assert(esc.getMessage.contains("satisfy the predicate"))
    // An EMPTY subquery folds the predicate to FALSE: any replacement
    // row is then an escapee — refused, nothing committed.
    val empty = intercept[Exception] {
      dml.sql("INSERT INTO lake.ns.t_rwsub " +
        "REPLACE WHERE id IN (SELECT bad_id FROM rw_bad WHERE bad_id < 0) " +
        "VALUES (1, 'x')")
    }
    assert(empty.getMessage.contains("satisfy the predicate"))
    // EXISTS has no IN-list materialization — loud refusal.
    val ex = intercept[Exception] {
      dml.sql("INSERT INTO lake.ns.t_rwsub " +
        "REPLACE WHERE EXISTS (SELECT 1 FROM rw_bad) " +
        "VALUES (1, 'x')")
    }
    assert(ex.getMessage.contains("IN (SELECT"))
    // Over the row cap: abandons loudly instead of collecting a dim
    // that does not fit the driver.
    dml.conf.set("spark.graft.replaceWhere.inSubqueryMaxRows", "2")
    try {
      val cap = intercept[Exception] {
        dml.sql("INSERT INTO lake.ns.t_rwsub " +
          "REPLACE WHERE id IN (SELECT bad_id FROM rw_bad) " +
          "SELECT bad_id, 'y' FROM rw_bad")
      }
      assert(cap.getMessage.contains("more than 2 rows"))
    } finally dml.conf.unset("spark.graft.replaceWhere.inSubqueryMaxRows")
    assert(TxnLog.latestVersion(dml, dir) === 1L,
      "every refusal left the log untouched")
  }

  test("CLONE <name> TO '<path>' publishes a zero-copy shallow clone; " +
       "VERSION AS OF pins the snapshot; a clone under the catalog " +
       "root is immediately name-addressable") {
    import dml.implicits._
    val dir = freshTable("t_clsrc", Seq((1L, "a"), (2L, "b")))   // v0
    dml.sql("INSERT INTO lake.ns.t_clsrc VALUES (3, 'c')")       // v1
    val dst = s"$root/ns/t_cldup"
    val row = dml.sql(s"CLONE lake.ns.t_clsrc TO '$dst'").head()
    assert(row.getLong(0) === 0L && row.getLong(1) > 0L,
      "the clone's first commit is version 0 referencing the source files")
    assert(dml.sql("SELECT id, s FROM lake.ns.t_cldup")
      .as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // Diverge through SQL on the clone; the source stays put.
    dml.sql("DELETE FROM lake.ns.t_cldup WHERE id = 2")
    assert(content("t_clsrc") === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // VERSION AS OF clones the pinned snapshot; the destination may be
    // a catalog NAME — the clone lands in the catalog layout directly.
    dml.sql("CLONE lake.ns.t_clsrc TO lake.ns.t_clv0 VERSION AS OF 0")
      .collect()
    assert(dml.sql("SELECT id, s FROM lake.ns.t_clv0")
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    assert(TxnLog.latestVersion(dml, dir) === 1L,
      "cloning never commits to the source")
    // A name that already exists refuses before anything stages.
    val taken = intercept[Exception] {
      dml.sql("CLONE lake.ns.t_clsrc TO lake.ns.t_cldup")
    }
    assert(taken.getMessage.contains("already exists"))
  }

  test("RESTORE a merge-on-read UPDATE away and back: the DV binding " +
       "reverts and re-applies with the snapshot") {
    import dml.implicits._
    val dir = freshTable("t_rstdv", Seq((1L, "a"), (2L, "b")))   // v0
    dml.sql("UPDATE lake.ns.t_rstdv SET s = 'z' WHERE id = 2")   // v1: DV + copy
    assert(content("t_rstdv") === Set((1L, "a"), (2L, "z")))
    dml.sql(s"RESTORE '$dir' VERSION AS OF 0").collect()
    assert(content("t_rstdv") === Set((1L, "a"), (2L, "b")))
    // Forward again: the re-added base file carries v1's DV binding.
    dml.sql(s"RESTORE '$dir' VERSION AS OF 1").collect()
    assert(content("t_rstdv") === Set((1L, "a"), (2L, "z")))
  }

  test("RESTORE re-publishes an old snapshot as a NEW commit: data, " +
       "stats, and schema all roll back; history keeps the " +
       "in-between states; restore-of-restore round-trips") {
    import dml.implicits._
    val dir = freshTable("t_rst",
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))   // v0
    // v1: the explicit copy-on-write delete, so v0's file leaves the
    // snapshot and a vacuum can reclaim it (SQL DELETE would mask).
    TxnLog.delete(dml, dir, $"id".isin(2, 4))
    dml.sql("ALTER TABLE lake.ns.t_rst ADD COLUMNS (extra STRING)") // v2
    assert(content("t_rst") === Set((1L, "a"), (3L, "c")))
    val r = dml.sql(s"RESTORE '$dir' TO VERSION AS OF 0")
      .as[(Long, Long, Long)].head()
    assert(r._1 === 3L, "restore is itself a versioned commit")
    // Full v0 state back: rows AND the pre-ALTER two-column schema.
    assert(content("t_rst") ===
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(dml.sql("SELECT * FROM lake.ns.t_rst").columns.toSeq
      === Seq("id", "s"))
    // The in-between states still time-travel.
    assert(TxnLog.read(dml, dir, Some(1L)).count() === 2L)
    assert(TxnLog.tableSchema(dml, dir, Some(2L)).get.fieldNames.toSeq
      === Seq("id", "s", "extra"))
    // Restore forward to the deleted state — RESTORE is symmetric.
    dml.sql(s"RESTORE '$dir' VERSION AS OF 1").collect()
    assert(content("t_rst") === Set((1L, "a"), (3L, "c")))
    // A vacuumed target refuses loudly instead of part-restoring.
    dml.conf.set("spark.graft.vacuum.retainMillis", "0")
    try dml.sql(s"VACUUM '$dir'").collect()
    finally dml.conf.unset("spark.graft.vacuum.retainMillis")
    val e = intercept[Exception] {
      dml.sql(s"RESTORE '$dir' VERSION AS OF 0").collect()
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("bare OPTIMIZE on a CLUSTER BY table clusters INCREMENTALLY: " +
       "a second pass rewrites nothing, a later append clusters at " +
       "cost proportional to the new files, markers survive checkpoint " +
       "replay, and explicit TARGET still full-rewrites") {
    import dml.implicits._
    val dir = s"$root/ns/t_inc"
    dml.sql("CREATE TABLE lake.ns.t_inc (id BIGINT, v BIGINT) " +
      "CLUSTER BY (v)")
    (0 to 2).foreach { r =>
      dml.sql(s"INSERT INTO lake.ns.t_inc SELECT id, id * 7 % 1000 " +
        s"FROM range(0, 300) WHERE id % 3 = $r")
    }
    val n0 = TxnLog.snapshot(dml, dir).size
    def opt(sql: String): (Long, Long, Long) =
      dml.sql(sql).as[(Long, Long, Long)].head()
    val first = opt("OPTIMIZE lake.ns.t_inc")
    assert(first._3 === n0.toLong, "first bare OPTIMIZE clusters every file")
    // Second pass: every live file is marked clustered-at(v) — no-op,
    // no commit published.
    val second = opt("OPTIMIZE lake.ns.t_inc")
    assert(second === ((first._1, 0L, 0L)),
      s"second bare OPTIMIZE must rewrite nothing: $second")
    // New ingest is un-marked; the next pass rewrites ONLY it.
    dml.sql("INSERT INTO lake.ns.t_inc SELECT id, id % 1000 " +
      "FROM range(300, 400)")
    val nAfter = TxnLog.snapshot(dml, dir).size
    val third = opt("OPTIMIZE lake.ns.t_inc")
    assert(third._3 === (nAfter - first._2.toInt).toLong,
      s"incremental pass must rewrite exactly the new files: $third " +
        s"(snapshot $nAfter, clustered ${first._2})")
    assert(dml.sql("SELECT count(*), sum(id) FROM lake.ns.t_inc")
      .as[(Long, Long)].head() === ((400L, 400L * 399 / 2)))
    // Push past a checkpoint (interval 10) — the clustered-at markers
    // must ride checkpoint replay, or the next bare OPTIMIZE would
    // re-cluster the whole table.
    (0 until TxnLog.CheckpointInterval).foreach { i =>
      dml.sql(s"INSERT INTO lake.ns.t_inc VALUES (${1000 + i}, $i)")
    }
    val tail = opt("OPTIMIZE lake.ns.t_inc")
    assert(tail._3 === TxnLog.CheckpointInterval.toLong,
      s"post-checkpoint pass must rewrite only the tail inserts: $tail")
    assert(opt("OPTIMIZE lake.ns.t_inc") === ((tail._1, 0L, 0L)),
      "markers must survive checkpoint replay")
    // Explicit TARGET remains the full rewrite.
    val pre = TxnLog.snapshot(dml, dir).size
    val full = opt("OPTIMIZE lake.ns.t_inc TARGET 1 FILES")
    assert(full._2 === 1L && full._3 === pre.toLong,
      s"explicit TARGET must full-rewrite: $full")
    assert(dml.sql("SELECT count(*) FROM lake.ns.t_inc")
      .as[Long].head() === 410L)
  }

  test("ALTER COLUMN TYPE widens losslessly in place: INT files promote " +
       "to BIGINT per file, values past Int.MaxValue land, narrow " +
       "writers still append, bloom probes survive the widen, and " +
       "lossy retypes refuse (round-15 verdict)") {
    import dml.implicits._
    val dir = s"$root/ns/t_wid"
    dml.sql("CREATE TABLE lake.ns.t_wid (id BIGINT, v INT)")
    TxnLog.append(dml, dir, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    dml.sql("ALTER TABLE lake.ns.t_wid ALTER COLUMN v TYPE BIGINT")
    def vs: Set[Long] = dml.sql("SELECT v FROM lake.ns.t_wid")
      .as[Long].collect().toSet
    assert(vs === Set(10L, 20L), "pre-widen INT32 files must promote")
    dml.sql("INSERT INTO lake.ns.t_wid VALUES (3, 3000000000)")
    // A narrow (INT) writer is still accepted in place post-widen —
    // the file stores INT32, readers promote.
    TxnLog.append(dml, dir, Seq((4L, 40)).toDF("id", "v"))
    assert(vs === Set(10L, 20L, 3000000000L, 40L))
    // Lossy/narrowing retypes refuse loudly; nothing commits.
    val vNow = TxnLog.latestVersion(dml, dir)
    intercept[Exception] {
      dml.sql("ALTER TABLE lake.ns.t_wid ALTER COLUMN v TYPE INT")
    }
    intercept[Exception] { // long -> double loses precision past 2^53
      dml.sql("ALTER TABLE lake.ns.t_wid ALTER COLUMN id TYPE DOUBLE")
    }
    assert(TxnLog.latestVersion(dml, dir) === vNow)
    // BLOOM continuity: integral probes hash through a cast to LONG,
    // so segments built from INT values answer post-widen LONG probes.
    val bt = s"$root/ns/t_widb"
    TxnLog.createWithBloom(dml, bt,
      (0 until 100).map(i => (i, s"n$i")).toDF("k", "s"), Seq("k"))
    TxnLog.widenColumn(dml, bt, "k",
      org.apache.spark.sql.types.LongType)
    val got = TxnLog.readPrunedEq(dml, bt, "k", Seq(7L, 55L))
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(7L, 55L),
      "post-widen long probes must still hit pre-widen bloom segments")
  }

  test("identity columns hold on EVERY write path (round-15 advice): " +
       "MERGE INSERT assigns, UPDATE SET on ALWAYS refuses, " +
       "replace-by-key merge assigns fresh ids, overwrite assigns " +
       "carried NULLs, and the watermark is one sequence across paths") {
    import dml.implicits._
    val dir = s"$root/ns/t_idm"
    dml.sql("CREATE TABLE lake.ns.t_idm (rid BIGINT GENERATED ALWAYS " +
      "AS IDENTITY, id BIGINT, s STRING)")
    dml.sql("INSERT INTO lake.ns.t_idm VALUES (NULL, 1, 'a'), (NULL, 2, 'b')")
    def rows: Set[(Long, Long, String)] =
      dml.sql("SELECT rid, id, s FROM lake.ns.t_idm")
        .as[(Long, Long, String)].collect().toSet
    assert(rows.map(_._1) === Set(1L, 2L))
    // SQL MERGE: the NOT MATCHED INSERT omits rid -> engine-assigned
    // the next watermark value; the matched UPDATE keeps its rid.
    Seq((2L, "B"), (3L, "c")).toDF("id", "s")
      .createOrReplaceTempView("idm_src")
    dml.sql("""MERGE INTO lake.ns.t_idm t USING idm_src s ON t.id = s.id
              |WHEN MATCHED THEN UPDATE SET s = s.s
              |WHEN NOT MATCHED THEN INSERT (id, s) VALUES (s.id, s.s)"""
      .stripMargin)
    assert(rows === Set((1L, 1L, "a"), (2L, 2L, "B"), (3L, 3L, "c")),
      "merge insert must assign the next id; updates keep theirs")
    // UPDATE SET on a GENERATED ALWAYS identity column refuses.
    val e1 = intercept[Exception] {
      dml.sql("""MERGE INTO lake.ns.t_idm t USING idm_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET rid = 99""".stripMargin)
    }
    assert(e1.getMessage.contains("GENERATED ALWAYS"))
    // Replace-by-key merge (API): the delta omits rid entirely, so
    // every delta row gets a fresh id (the replace-the-whole-row
    // contract); untouched rows keep theirs; ids stay unique.
    TxnLog.merge(dml, dir, Seq((3L, "C2"), (4L, "d")).toDF("id", "s"), "id")
    val afterMerge = rows
    assert(afterMerge.map(_._2) === Set(1L, 2L, 3L, 4L))
    assert(afterMerge.map(_._1).size === 4, s"ids must be unique: $afterMerge")
    assert(afterMerge.collect { case (r, 1L, _) => r } === Set(1L),
      "untouched rows keep their ids")
    // An ALWAYS delta carrying explicit values refuses.
    val e2 = intercept[Exception] {
      TxnLog.merge(dml, dir,
        Seq((999L, 5L, "x")).toDF("rid", "id", "s"), "id")
    }
    assert(e2.getMessage.contains("GENERATED ALWAYS"))
    // Overwrite with a CARRIED all-NULL identity column assigns from
    // the continuing watermark — no collision with anything ever
    // handed out, and the next INSERT continues past it.
    val maxBefore = afterMerge.map(_._1).max
    TxnLog.overwrite(dml, dir,
      Seq((Option.empty[Long], 10L, "x"), (Option.empty[Long], 11L, "y"))
        .toDF("rid", "id", "s"))
    val afterOw = rows
    assert(afterOw.map(_._2) === Set(10L, 11L))
    assert(afterOw.map(_._1).forall(_ > maxBefore),
      s"overwrite-assigned ids must come from the continuing watermark: " +
        s"$afterOw (watermark was past $maxBefore)")
    dml.sql("INSERT INTO lake.ns.t_idm VALUES (NULL, 12, 'z')")
    val all = rows.map(_._1)
    assert(all.size === 3 && all.max === afterOw.map(_._1).max + 1,
      s"the sequence continues across paths: $all")
  }

  test("a DEFAULTed partition column exempts the missing-partition-" +
       "column rejection: stage() fills the default BEFORE the " +
       "hive-laid write, so the file lands under its segment " +
       "(round-15 advice, low)") {
    import dml.implicits._
    val dir = s"$root/ns/t_pdef"
    dml.sql("CREATE TABLE lake.ns.t_pdef (id BIGINT, " +
      "region STRING DEFAULT 'emea') PARTITIONED BY (region)")
    // A frame OMITTING the partition column is accepted — the default
    // fills in, and the row is partition-addressable.
    TxnLog.append(dml, dir, Seq(Tuple1(1L)).toDF("id"))
    dml.sql("INSERT INTO lake.ns.t_pdef VALUES (2, 'apac')")
    assert(dml.sql("SELECT id, region FROM lake.ns.t_pdef")
      .as[(Long, String)].collect().toSet ===
      Set((1L, "emea"), (2L, "apac")))
    assert(TxnLog.snapshot(dml, dir).exists(_.contains("region=emea")),
      "the defaulted row must land hive-laid under its segment")
    // ... which makes it a real partition: the O(1) metadata drop
    // removes exactly the defaulted rows.
    TxnLog.dropPartition(dml, dir, "region", "emea")
    assert(dml.sql("SELECT id FROM lake.ns.t_pdef")
      .as[Long].collect().toSeq === Seq(2L))
  }

  test("a malformed spark.graft value fails with an error naming its key") {
    import dml.implicits._
    val dir = s"$root/ns/t_badconf"
    TxnLog.createWithBloom(dml, dir, Seq((1L, "a")).toDF("id", "s"), Seq("id"))
    def append(): Unit = TxnLog.append(dml, dir, Seq((2L, "b")).toDF("id", "s"))
    // (malformed key, valid companion settings, the read that parses it)
    val slow = for (side <- Seq("map", "reduce");
                    k <- Seq("partitions", "sleep.ms", "eachN", "heavy.sleep.ms"))
      yield (s"spark.graft.slow.$side.$k", Map.empty[String, String],
        () => if (side == "map") graft.chaos.SlowInject.mapConf(dml)
              else graft.chaos.SlowInject.reduceConf(dml))
    val cases: Seq[(String, Map[String, String], () => Any)] = Seq(
      ("spark.graft.autoCompact.minFiles", Map.empty[String, String], () => append()),
      ("spark.graft.autoCompact.maxFileBytes",
        Map("spark.graft.autoCompact.minFiles" -> "1000000"), () => append()),
      ("spark.graft.write.clusterOnWrite", Map.empty[String, String], () => append()),
      ("spark.graft.replaceWhere.inSubqueryMaxRows", Map.empty[String, String],
        () => dml.sql("INSERT INTO lake.ns.t_badconf REPLACE WHERE id IN " +
          "(SELECT col1 FROM VALUES (1L)) VALUES (1, 'z')").collect()),
      ("spark.graft.bloom.probe.inSubqueryMaxRows", Map.empty[String, String],
        () => dml.sql("SELECT * FROM lake.ns.t_badconf WHERE id IN " +
          "(SELECT col1 FROM VALUES (1L))").collect()),
      ("spark.graft.vacuum.retainMillis", Map.empty[String, String],
        () => dml.sql(s"VACUUM '$dir'").collect()),
      ("spark.graft.write.rebalance", Map.empty[String, String], () => append()),
      ("spark.graft.nativeRewrite.enabled", Map.empty[String, String],
        () => dml.sql("SELECT md5('a')").collect())) ++ slow
    cases.foreach { case (key, valid, read) =>
      val set = valid + (key -> "x")
      set.foreach { case (k, v) => dml.conf.set(k, v) }
      val e = try intercept[IllegalArgumentException](read())
        finally set.keys.foreach(dml.conf.unset)
      assert(e.getMessage.contains(key), s"$key: ${e.getMessage}")
    }
  }
}

object GraftSqlDmlSpec {
  /** A second session on the shared SparkContext with the REAL
    * extensions config — built once, with the suite-shared session
    * restored as default so other suites are unaffected. */
  lazy val session: SparkSession = {
    val base = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-dml-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TIMESTAMP_MICROS, not the INT96 default: INT96 carries no
      // usable footer statistics, so timestamp columns would lose
      // stats-in-log skipping entirely.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // withExtensions, not the config key: the extensions CONFIG is
      // read from the SparkContext's conf, which is already fixed by
      // the shared test context — builder-level configs can't add it.
      .withExtensions(ext => new GraftExtensions()(ext))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }
}

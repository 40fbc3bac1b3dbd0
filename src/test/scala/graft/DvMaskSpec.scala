package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, TxnLog}

/** Deletion-vector masks as per-file row-index filters: the Spark jobs
  * each lake verb runs on a table that already carries a DV, and the
  * mask's answers across a cold cache, both codegen modes, multi-row-
  * group files, vacuumed DV objects and a recreated table.
  *
  * The job counts are steal-proof (a job is a job on any host). The
  * anti-join form these budgets replaced ran, on the same fixtures:
  * masked count 4, `VERSION AS OF` count 4, `deleteMoR` 9, SQL DELETE
  * (then copy-on-write) 7, `updateMoR` 11, SQL UPDATE 11, key merge 6. */
class DvMaskSpec extends AnyFunSuite with SparkSpec {

  private lazy val dml: SparkSession = GraftSqlDmlSpec.session

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft_dvmask").toString
    dml.conf.set("spark.sql.catalog.dvm", classOf[GraftCatalog].getName)
    dml.conf.set("spark.sql.catalog.dvm.root", r)
    dml.conf.set("spark.sql.catalog.dvm.writable", "true")
    r
  }

  private def rows(from: Long, until: Long): DataFrame =
    dml.range(from, until).select(col("id"), (col("id") % 7).as("g"),
      concat(lit("r"), col("id").cast("string")).as("s"))

  /** 1,000 rows in four files; v1 masks every tenth row and v2 the
    * ids 500–519, so the table carries a DV at v1 and at v2. */
  private def dvTable(name: String): String = {
    val t = s"$root/ns/$name"
    TxnLog.create(dml, t, rows(0, 1000).repartition(4))
    TxnLog.deleteMoR(dml, t, col("id") % 10 === 0)
    TxnLog.deleteMoR(dml, t, col("id").between(500, 519))
    t
  }

  /** The ids a DV table holds, from the model. */
  private val dvIds: Set[Long] =
    (0L until 1000L).filterNot(i => i % 10 == 0 || (i >= 500 && i <= 519)).toSet

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  private def count(sql: String): Long = dml.sql(sql).head().getLong(0)

  test("job budgets on a table that already carries a DV, cache warm") {
    def warm(name: String): String = {
      val t = dvTable(name)
      assert(TxnLog.read(dml, t).count() === dvIds.size.toLong)
      t
    }
    val t = warm("t_read")
    val read = jobsDuring(TxnLog.read(dml, t).count())
    count(s"SELECT count(*) FROM dvm.ns.t_read VERSION AS OF 1")
    val travel = jobsDuring(count(s"SELECT count(*) FROM dvm.ns.t_read VERSION AS OF 1"))
    val apiDel = { val t = warm("t_apidel")
      jobsDuring(TxnLog.deleteMoR(dml, t, col("id").between(100, 149))) }
    val sqlDel = { warm("t_sqldel")
      jobsDuring(dml.sql("DELETE FROM dvm.ns.t_sqldel WHERE id BETWEEN 100 AND 149")) }
    val apiUpd = { val t = warm("t_apiupd")
      jobsDuring(TxnLog.updateMoR(dml, t, col("id").between(100, 149),
        Map("s" -> lit("u")))) }
    val sqlUpd = { warm("t_sqlupd")
      jobsDuring(dml.sql("UPDATE dvm.ns.t_sqlupd SET s = 'u' WHERE id BETWEEN 100 AND 149")) }
    val merge = { val t = warm("t_merge")
      val delta = rows(990, 1010)
      jobsDuring(TxnLog.merge(dml, t, delta, "id")) }
    val got = Map("read" -> read, "travel" -> travel, "deleteMoR" -> apiDel,
      "sqlDelete" -> sqlDel, "updateMoR" -> apiUpd, "sqlUpdate" -> sqlUpd,
      "merge" -> merge)
    val budget = Map("read" -> 2, "travel" -> 2, "deleteMoR" -> 2,
      "sqlDelete" -> 2, "updateMoR" -> 3, "sqlUpdate" -> 3, "merge" -> 4)
    info(s"jobs: $got")
    assert(budget.forall { case (k, b) => got(k) <= b }, s"jobs $got over budget $budget")
    // The verbs did what they say.
    assert(ids(TxnLog.read(dml, s"$root/ns/t_sqldel")) === dvIds.filterNot(i => i >= 100 && i <= 149))
    assert(dml.sql("SELECT count(*) FROM dvm.ns.t_sqlupd WHERE s = 'u'").head().getLong(0) ===
      dvIds.count(i => i >= 100 && i <= 149))
    assert(ids(TxnLog.read(dml, s"$root/ns/t_merge")) === dvIds ++ (990L until 1010L))
  }

  test("a cold cache reads the same rows, for one more job at most") {
    val t = dvTable("t_cold")
    val warmIds = ids(TxnLog.read(dml, t))
    val warmJobs = jobsDuring(TxnLog.read(dml, t).count())
    TxnLog.clearResolveCache()
    val coldJobs = jobsDuring(TxnLog.read(dml, t).count())
    TxnLog.clearResolveCache()
    assert(ids(TxnLog.read(dml, t)) === warmIds)
    assert(warmIds === dvIds)
    assert(coldJobs <= warmJobs + 1, s"cold $coldJobs jobs, warm $warmJobs")
    // Time travel cold, to the first mask.
    TxnLog.clearResolveCache()
    assert(ids(TxnLog.read(dml, t, Some(1))) === (0L until 1000L).filterNot(_ % 10 == 0).toSet)
  }

  test("whole-stage codegen and NO_CODEGEN give the same masked rows") {
    val t = dvTable("t_modes")
    def withConf[A](kv: (String, String)*)(b: => A): A = {
      val old = kv.map { case (k, _) => k -> dml.conf.getOption(k) }
      kv.foreach { case (k, v) => dml.conf.set(k, v) }
      try b finally old.foreach {
        case (k, Some(v)) => dml.conf.set(k, v)
        case (k, None) => dml.conf.unset(k)
      }
    }
    def run(): (Set[Long], Long) = {
      val df = TxnLog.read(dml, t)
      (ids(df), df.filter(col("g") === 3).count())
    }
    val gen = withConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(run())
    val interp = withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(gen === interp)
    assert(gen === ((dvIds, dvIds.count(_ % 7 == 3).toLong)))
  }

  test("a mask on a file with several row groups marks the right rows, " +
       "also when a filter skips row groups") {
    val t = s"$root/ns/t_groups"
    val conf = dml.sparkContext.hadoopConfiguration
    val old = Option(conf.get("parquet.block.size"))
    conf.setInt("parquet.block.size", 8 * 1024)
    try TxnLog.create(dml, t, rows(0, 20000).coalesce(1))
    finally old.fold(conf.unset("parquet.block.size"))(conf.set("parquet.block.size", _))
    val file = TxnLog.snapshot(dml, t).head
    val groups = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(t, file), conf))
      try r.getRowGroups.size finally r.close()
    }
    assert(groups > 2, s"fixture must span row groups, got $groups")
    TxnLog.deleteMoR(dml, t, col("id") % 3 === 0 || col("id") >= 19990)
    val want = (0L until 20000L).filterNot(i => i % 3 == 0 || i >= 19990).toSet
    assert(ids(TxnLog.read(dml, t)) === want)
    assert(ids(TxnLog.read(dml, t).filter(col("id") >= 15000)) === want.filter(_ >= 15000))
    assert(ids(TxnLog.read(dml, t).filter(col("id") < 50)) === want.filter(_ < 50))
  }

  test("time travel to a version whose DV object was vacuumed fails, " +
       "and is never answered from the cache") {
    val t = dvTable("t_vac")
    val dv1 = TxnLog.snapshotFull(dml, t, Some(1)).flatMap(_._2.dv).head
    // Load v1's mask into the cache.
    assert(TxnLog.read(dml, t, Some(1)).count() === 900)
    assert(TxnLog.maskCached(t, dv1))
    val dead = TxnLog.vacuum(dml, t, retainVersions = 1, retainMillis = 0L)
    assert(dead.exists(_.startsWith(dv1 + "/")), s"v1's DV object must go: $dead")
    assert(!TxnLog.maskCached(t, dv1))
    val e = intercept[AnalysisException](TxnLog.read(dml, t, Some(1)).count())
    assert(e.getMessage.contains(dv1), e.getMessage)
    // The file inventory still answers for v1: its DV-bound files
    // report -1 masked rows (unknown), as a missing file reports -1 bytes.
    val masked = TxnLog.files(dml, t, Some(1)).where(col("dv_binding").isNotNull)
      .select("masked_rows").collect().map(_.getLong(0)).toSeq
    assert(masked.nonEmpty && masked.forall(_ == -1L), masked)
    // The tip is untouched, and its inventory counts its live rows.
    assert(ids(TxnLog.read(dml, t)) === dvIds)
    assert(TxnLog.files(dml, t).selectExpr("sum(row_count - masked_rows)")
      .head().getLong(0) === dvIds.size.toLong)
  }

  test("a table dropped and recreated at the same path sees no stale mask") {
    val t = dvTable("t_recreate")
    val dv = TxnLog.snapshotFull(dml, t).flatMap(_._2.dv).head
    assert(ids(TxnLog.read(dml, t)) === dvIds)
    assert(TxnLog.maskCached(t, dv))
    val p = new org.apache.hadoop.fs.Path(t)
    p.getFileSystem(dml.sparkContext.hadoopConfiguration).delete(p, true)
    TxnLog.create(dml, t, rows(0, 1000).repartition(4))
    assert(!TxnLog.maskCached(t, dv))
    assert(ids(TxnLog.read(dml, t)) === (0L until 1000L).toSet)
    TxnLog.deleteMoR(dml, t, col("id") >= 990)
    assert(ids(TxnLog.read(dml, t)) === (0L until 990L).toSet)
    assert(count("SELECT count(*) FROM dvm.ns.t_recreate") === 990)
  }
}

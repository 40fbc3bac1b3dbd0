package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PerFileExpr
import graft.sources.{GraftCatalog, TxnCodec, TxnLog}

/** The lake's per-file keys ([[PerFileExpr]]): the DV/DML file key,
  * the bloom build's key and partition values are computed once per
  * scanned file, match the URL-encoded table prefix, and fail loudly
  * for a scan file outside the table. */
class PerFileKeySpec extends AnyFunSuite with SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_key_$tag").toString

  /** `body` under whole-stage codegen only (a compile failure throws
    * rather than falling back), then fully interpreted; both answers. */
  private def bothModes[A](body: => A): (A, A) = {
    def withConf(kv: (String, String)*)(b: => A): A = {
      val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try b finally old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    (withConf("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")(body),
      withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body))
  }

  test("rows of files A, A, B, A get the right keys, one call per change " +
       "of path, in codegen and interpreted mode alike") {
    val paths = Seq("file:/t/A", "file:/t/A", "file:/t/B", "file:/t/A")
    val strip = PerFileExpr.relativeTo("file:/t/")
    val counted: UTF8String => UTF8String = { p =>
      PerFileKeySpec.calls.incrementAndGet()
      strip(p)
    }
    def run(): (Seq[String], Int) = {
      PerFileKeySpec.calls.set(0)
      val path = element_at(typedLit(paths), (col("id") + 1).cast("int"))
      val keys = spark.range(0, 4, 1, 1)
        .select(org.apache.spark.sql.graftbridge.Bridge.column(
          PerFileExpr(org.apache.spark.sql.graftbridge.Bridge.expression(path), counted)))
        .collect().map(_.getString(0)).toSeq
      (keys, PerFileKeySpec.calls.get)
    }
    val (gen, interp) = bothModes(run())
    assert(gen === ((Seq("A", "A", "B", "A"), 3)))
    assert(interp === gen)
  }

  test("relativeTo: the decoded rest of a path under the prefix, null " +
       "outside it, on non-ASCII prefixes too") {
    def u(s: String) = UTF8String.fromString(s)
    val rel = PerFileExpr.relativeTo("file:/a%20b/é中😀/")
    assert(rel(u("file:/a%20b/é中😀/stage-1/p.parquet")) === u("stage-1/p.parquet"))
    assert(rel(u("file:/a%20b/é中😀/stage-1/g=with%2520space/p+q%25.parquet")) ===
      u("stage-1/g=with%20space/p+q%.parquet"))
    assert(rel(u("file:/a%20b/other/p.parquet")) === null)
    assert(rel(u("file:/a%20b/é中")) === null)
  }

  test("a scan file outside the table still fails DML loudly") {
    import spark.implicits._
    val root = tmp("outside")
    val t = s"$root/t"
    TxnLog.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    // A corrupt entry: a table-relative path that resolves outside the
    // table root.
    Seq((3L, "c")).toDF("id", "s").coalesce(1).write.parquet(s"$root/elsewhere")
    val stray = new java.io.File(s"$root/elsewhere").list()
      .filter(_.endsWith(".parquet")).head
    java.nio.file.Files.write(java.nio.file.Paths.get(t, "_log", "v00000001.json"),
      TxnCodec.encode(TxnCodec.Entry(adds = Seq(s"../elsewhere/$stray"))))
    val e = intercept[Exception](TxnLog.deleteMoR(spark, t, col("id") === 1L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("scan file outside table")), e)
  }

  test("DML keys files under a table root whose name has a space, a % " +
       "and non-ASCII characters") {
    import spark.implicits._
    val dml = GraftSqlDmlSpec.session
    val root = s"${tmp("enc")}/lake dir %41 é中"
    val t = s"$root/ns/t"
    TxnLog.create(spark, t, (0L until 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(3))
    TxnLog.deleteMoR(spark, t, col("id") < 10)
    assert(TxnLog.read(spark, t).count() === 90)
    TxnLog.updateMoR(spark, t, col("id").between(20L, 29L), Map("s" -> lit("u")))
    assert(TxnLog.read(spark, t).filter(col("s") === "u").count() === 10)
    assert(TxnLog.read(spark, t).count() === 90)
    dml.conf.set("spark.sql.catalog.enc", classOf[GraftCatalog].getName)
    dml.conf.set("spark.sql.catalog.enc.root", root)
    dml.conf.set("spark.sql.catalog.enc.writable", "true")
    dml.sql("DELETE FROM enc.ns.t WHERE id >= 90")
    assert(dml.sql("SELECT count(*) FROM enc.ns.t").head().getLong(0) === 80)
    assert(TxnLog.read(spark, t).as[(Long, String)].collect().map(_._1).toSet ===
      (10L until 90L).toSet)
  }

  test("partitioned MoR reads agree in codegen and interpreted mode") {
    import spark.implicits._
    val t = s"${tmp("modes")}/t"
    val df = (0L until 60L).map(i =>
      (i, s"n$i", Seq("with space", "pct%40", "city=a,b")(i.toInt % 3))).toDF("id", "s", "grp")
    TxnLog.createPartitioned(spark, t, df.repartition(2), Seq("grp"))
    TxnLog.deleteMoR(spark, t, col("id") % 5 === 0)
    def read(): Set[Row] = TxnLog.read(spark, t).collect().toSet
    val (gen, interp) = bothModes(read())
    assert(gen === interp)
    assert(gen.map(r => (r.getLong(0), r.getString(2))) ===
      (0L until 60L).filter(_ % 5 != 0)
        .map(i => (i, Seq("with space", "pct%40", "city=a,b")(i.toInt % 3))).toSet)
  }
}

object PerFileKeySpec {
  val calls = new AtomicInteger
}

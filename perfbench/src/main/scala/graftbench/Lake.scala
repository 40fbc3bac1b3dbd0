package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TxnLog

/** The `lake_txn` op loop: seeded writes beside reads on one
  * transaction-log table, through both front doors: every pass runs
  * each write and read verb once through the `TxnLog` Scala API and
  * once as SQL through `GraftCatalog`.
  *
  * A model holds the set of live keys and the row count committed at
  * every version; every write is followed by an untimed count checked
  * against it, and every read and time-travel read is checked against
  * it directly. */
final class Lake(lakeRoot: String, seed: Long, rec: () => Option[Recorder]) {
  val table: String = s"$lakeRoot/ns/orders"
  private val sqlName = "lake.ns.orders"
  private val live = mutable.BitSet.empty
  private val countAt = mutable.LinkedHashMap.empty[Long, Long]
  private var nextKey = 0L
  private val rng = new scala.util.Random(seed)
  private var salt = seed * 1000003L
  /** Rows the user asked to write, for write amplification. */
  var rowsWritten = 0L
  var checksFailed = 0
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Retained versions for vacuum; time travel stays inside them. */
  val Retain = 8

  /** Base-table creation: the set-up step timed by `setup_s`. */
  def create(spark: SparkSession, ordersParquet: String): Unit = {
    val p = new Path(lakeRoot)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    TxnLog.create(spark, table, spark.read.parquet(ordersParquet))
  }

  /** Starts the model from the created table; untimed. */
  def initModel(spark: SparkSession): Unit = {
    val n = rowCount(spark)
    live.clear(); countAt.clear()
    live ++= (0 until n.toInt)
    nextKey = n
    countAt(TxnLog.latestVersion(spark, table)) = n
  }

  /** Deterministic rows for keys [from, until), with the table's schema. */
  private def rows(spark: SparkSession, from: Long, until: Long): DataFrame = {
    salt += 1
    def h(k: Long) = pmod(xxhash64(col("id"), lit(salt + k)), lit(1L << 40))
    def pick(k: Long, xs: String*) =
      element_at(array(xs.map(lit): _*), (h(k) % xs.size + 1).cast("int"))
    spark.range(from, until).select(
      col("id").as("o_orderkey"),
      (h(1) % 15000L).as("o_custkey"),
      pick(2, "F", "O", "P").as("o_orderstatus"),
      round(lit(1000.0) + (h(3) % 49900000L) / 100.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + (h(4) % 2404L) * 86400L).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))
  }

  private def range(width: Int): (Long, Long) = {
    val a = (rng.nextDouble() * math.max(1L, nextKey - width)).toLong
    (a, a + width - 1)
  }

  /** Bytes read and written through Hadoop's local FileSystem. Its
    * read/write op counters are not kept by the local file system (they
    * stay 0), so only the byte counters are recorded. */
  private def fsBytes(): (Long, Long) = {
    val s = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (s.map(_.getBytesRead).sum, s.map(_.getBytesWritten).sum)
  }

  /** One call into the `sources` layer: a `sources.<verb>` span plus the
    * storage bytes it moved, when tracing. */
  private def call[A](verb: String)(body: => A): A = rec() match {
    case None => body
    case Some(r) =>
      val (br, bw) = fsBytes()
      try r.span(s"sources.$verb", "sources")(body)
      finally {
        val (br2, bw2) = fsBytes()
        r.add("sources.fs_read_mb", (br2 - br) / 1048576.0)
        r.add("sources.fs_write_mb", (bw2 - bw) / 1048576.0)
        if (verb != "read" && verb != "time_travel") r.add("lake.write_bytes", (bw2 - bw).toDouble)
      }
  }

  private def rowCount(spark: SparkSession, version: Option[Long] = None): Long =
    TxnLog.read(spark, table, version).count()

  private def check(what: String, got: Long, want: Long): Unit =
    if (got != want) {
      checksFailed += 1
      errors += s"$what: $got rows, model says $want"
    }

  /** Untimed check after a write: the table holds exactly the model's
    * live keys, and the new version's count is recorded for time travel. */
  private def afterWrite(spark: SparkSession, verb: String): Unit = {
    val v = TxnLog.latestVersion(spark, table)
    rec().foreach { r =>
      val t0 = System.nanoTime()
      TxnLog.latestVersion(spark, table)
      TxnLog.snapshot(spark, table)
      r.add("sources.resolve_s", (System.nanoTime() - t0) / 1e9)
    }
    val n = rowCount(spark)
    check(s"after $verb (v$v)", n, live.size.toLong)
    countAt(v) = n
  }

  /** One pass's op cycle as (kind, class, op) triples; the kind is
    * `<verb>.api` or `<verb>.sql` by front door. Every write and read
    * verb runs once through each door, the doors alternating op by op. */
  def cycle(spark: SparkSession): Seq[(String, String, () => Unit)] = {
    val view = "graftbench_delta"
    def sqlFrom(df: DataFrame): String = { df.createOrReplaceTempView(view); view }
    def append(api: Boolean): Unit = {
      val (a, b) = (nextKey, nextKey + 800)
      val df = rows(spark, a, b)
      call("append") {
        if (api) TxnLog.append(spark, table, df)
        else spark.sql(s"INSERT INTO $sqlName SELECT * FROM ${sqlFrom(df)}")
      }
      nextKey = b; live ++= (a until b).map(_.toInt); rowsWritten += b - a
    }
    def read(api: Boolean): Unit = {
      val n = call("read") {
        if (api) TxnLog.read(spark, table).agg(count(lit(1)), sum("o_totalprice")).head().getLong(0)
        else spark.sql(s"SELECT count(*), sum(o_totalprice) FROM $sqlName").head().getLong(0)
      }
      check("snapshot read", n, live.size.toLong)
    }
    def merge(api: Boolean): Unit = {
      val (a, _) = range(300)
      val fresh = (nextKey, nextKey + 300)
      val df = rows(spark, a, a + 300).union(rows(spark, fresh._1, fresh._2))
      call("merge") {
        if (api) TxnLog.merge(spark, table, df, "o_orderkey")
        else spark.sql(
          s"""MERGE INTO $sqlName t USING ${sqlFrom(df)} s ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      live ++= (a until a + 300).map(_.toInt) ++= (fresh._1 until fresh._2).map(_.toInt)
      nextKey = fresh._2; rowsWritten += 600
    }
    def delete(api: Boolean): Unit = {
      val (a, b) = range(400)
      call("delete") {
        if (api) TxnLog.deleteMoR(spark, table, col("o_orderkey").between(a, b))
        else spark.sql(s"DELETE FROM $sqlName WHERE o_orderkey BETWEEN $a AND $b")
      }
      live --= (a to b).map(_.toInt)
    }
    def update(api: Boolean): Unit = {
      val (a, b) = range(400)
      call("update") {
        if (api) TxnLog.updateMoR(spark, table, col("o_orderkey").between(a, b),
          Map("o_totalprice" -> (col("o_totalprice") + 1.0)))
        else spark.sql(
          s"UPDATE $sqlName SET o_totalprice = o_totalprice + 1 WHERE o_orderkey BETWEEN $a AND $b")
      }
      rowsWritten += live.range(a.toInt, b.toInt + 1).size
    }
    def timeTravel(api: Boolean): Unit = {
      // A fixed distance back, inside the vacuum's retention: a seeded
      // choice made the read's cost depend on whether that version
      // carried deletion vectors.
      val latest = countAt.keys.max
      val v = countAt.keys.filter(_ <= latest - 4).maxOption.getOrElse(countAt.keys.min)
      val n = call("time_travel") {
        if (api) rowCount(spark, Some(v))
        else spark.sql(s"SELECT count(*) FROM $sqlName VERSION AS OF $v").head().getLong(0)
      }
      check(s"time travel to v$v", n, countAt(v))
    }
    val verbs: Seq[(String, String, Boolean => () => Unit)] = Seq(
      ("append", "write", b => () => append(b)), ("read", "read", b => () => read(b)),
      ("merge", "write", b => () => merge(b)), ("delete", "write", b => () => delete(b)),
      ("update", "write", b => () => update(b)), ("time_travel", "read", b => () => timeTravel(b)))
    def door(api: Boolean) = if (api) "api" else "sql"
    val both = Seq(true, false).flatMap { first =>
      verbs.zipWithIndex.map { case ((v, cls, op), i) =>
        val api = (i % 2 == 0) == first
        (s"$v.${door(api)}", cls, op(api))
      }
    }
    both ++ Seq(
      ("compact.api", "write", () => call("compact")(TxnLog.compactSmall(spark, table, 512L * 1024, 1))),
      ("vacuum.api", "write", () => call("vacuum")(TxnLog.vacuum(spark, table, Retain, retainMillis = 0L))))
  }

  /** The warm-up: the first half of a cycle (every verb once, the
    * doors alternating), then compact and vacuum. A whole cycle would
    * add about 12 s to every run on a 4-vCPU VM, for code paths the
    * timed pass shares. */
  def warmup(spark: SparkSession): Seq[(String, String, () => Unit)] = {
    val c = cycle(spark)
    c.take(6) ++ c.takeRight(2)
  }

  /** Runs one op; returns its seconds, or None when it threw. */
  def run(verb: String, op: () => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { op(); Some((System.nanoTime() - t0) / 1e9) } catch {
      case e: Exception =>
        errors += s"$verb: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  /** The untimed model check that follows every op. */
  def verify(spark: SparkSession, kind: String, cls: String, ok: Boolean): Unit =
    if (!ok) resync(spark)
    else if (cls == "write" && !kind.startsWith("vacuum")) afterWrite(spark, kind)

  /** After a failed op the model cannot know what committed: re-read it. */
  private def resync(spark: SparkSession): Unit = {
    live.clear()
    live ++= TxnLog.read(spark, table).select("o_orderkey").collect().map(_.getLong(0).toInt)
    countAt(TxnLog.latestVersion(spark, table)) = live.size.toLong
  }

  /** Storage state at the end of the run. */
  def storage(spark: SparkSession): Map[String, Double] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def du(p: Path): Long =
      if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
    val snap = TxnLog.snapshot(spark, table)
    val liveBytes = snap.map { f =>
      val p = new Path(f)
      fs.getFileStatus(if (p.isAbsolute) p else new Path(root, f)).getLen
    }.sum
    val total = du(root)
    Map(
      "space_amp" -> total.toDouble / math.max(1L, liveBytes),
      "live_bytes" -> liveBytes.toDouble,
      "live_rows" -> live.size.toDouble,
      "live_files" -> snap.size.toDouble,
      "versions" -> TxnLog.latestVersion(spark, table).toDouble,
      "log_kb" -> du(new Path(root, "_log")) / 1024.0)
  }
}

package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet source helpers over the driver's synthetic star schema
  * (see /root/repo/TESTDATA.md).
  *
  * All scans are plain `spark.read.parquet`: Catalyst pushes predicates
  * and prunes columns into the scan (verify with
  * `df.explain("formatted")` → `PushedFilters` / `ReadSchema`), which is
  * the scale-critical property — at 100 TB a scan that reads all columns
  * for a 2-column projection is the difference between minutes and hours.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table's scan. The schema comes from [[footerSchema]], so the
    * read runs no Spark job; where that returns None, Spark infers it. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The schema `spark.read.parquet(path)` infers, read from one footer
    * on the driver. Without `mergeSchema`, Spark's inference also reads
    * one data file's footer, but as a Spark job
    * (`mergeSchemasInParallel`), about one per table read. None where
    * inference is more than one footer (schema merging on, partition
    * subdirectories) or the path holds no data file; the caller then
    * lets Spark infer, errors included. */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) return None
    val p = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    // Spark's listing skips these names (InMemoryFileIndex).
    def hidden(n: String) = n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    val files =
      try {
        val st = fs.getFileStatus(p)
        if (st.isFile) Seq(st)
        else fs.listStatus(p).toSeq.filterNot(f => hidden(f.getPath.getName))
      } catch { case _: java.io.FileNotFoundException => Nil }
    if (files.isEmpty || files.exists(_.isDirectory)) None
    else Some(Bridge.parquetFooterSchema(spark,
      files.minBy(_.getPath.getName).getPath, conf))
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * parquet reader rejects outright. Sessions must set
    * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[graft.GraftSession]]
    * / Verify / Bench); the ns longs are then converted to µs timestamps
    * here with exact integral division (the data is µs-aligned, and the
    * DuckDB oracle compares at µs via `epoch_us`). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      // TIMESTAMP(NANOS) fixture flavor, read as ns longs (see scaladoc).
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      // Naive timestamp[us] flavor read as NTZ (a session without
      // inferTimestampNTZ=false): cast to TIMESTAMP — identity on the
      // underlying micros under the UTC session tz all entry points pin.
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

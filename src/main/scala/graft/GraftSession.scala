package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Scale posture (designed for a 1000-executor cluster, tested on
  * `local[N]`):
  *   - AQE on: runtime partition coalescing, skew-join splitting, and
  *     dynamic join-strategy switches replace the reference's manual
  *     split-size tuning (`/root/reference/trace-insertindex-job/src/main/
  *     java/org/example/TraceInsertIndexJob.java:58-63`).
  *   - `spark.sql.shuffle.partitions` defaults to the local core count;
  *     on a real cluster this is overridden to ~2-3x total cores and AQE
  *     coalesces down.
  *   - UTC session time zone so timestamp semantics are stable across
  *     engines (the DuckDB oracle is TZ-naive).
  */
object GraftSession {

  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // The ANN family's per-probe top-k runs as an ObjectHashAggregate
      // (TypedImperativeAggregate buffers); the default 128-key
      // fallback would flip its partial stage to sort-based on any
      // real probe batch, re-sorting the scored pair stream the
      // aggregate exists to avoid. Probe batches are O(corpus/25)
      // groups of ~50-byte buffers — hashing a million of them is MBs,
      // not a spill risk.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 21).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // events.parquet carries TIMESTAMP(NANOS) which the vectorized
      // reader rejects; read as ns-longs and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TIMESTAMP_MICROS, not the INT96 default: INT96 carries no
      // usable footer statistics, so timestamp columns would lose
      // stats-in-log skipping entirely.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Naive parquet timestamps (isAdjustedToUTC=false, the driver's
      // current fixture flavor) must read as TIMESTAMP, not NTZ:
      // unix_micros and interval arithmetic reject NTZ, and with a UTC
      // session the two types carry identical micros anyway.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // The read-only lake catalog: SELECT ... FROM graft.`<sf>`.<table>
      // over SPARK_GRAFT_CATALOG_ROOT (defaults to the driver's
      // testdata layout; any <root>/<ns>/<table>.parquet lake works).
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.root",
        sys.env.getOrElse("SPARK_GRAFT_CATALOG_ROOT", "/root/testdata"))
      .config("spark.ui.enabled", "false")
      // Hadoop's stock local file system forks `ls -ld` per permission
      // read and `chmod` per file create: one process start per lake
      // file written or listed (see ForkFreeLocalFileSystem).
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.ForkFreeLocalFileSystem].getName)

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

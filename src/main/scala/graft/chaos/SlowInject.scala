package graft.chaos

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.util.LongAccumulator

import graft.GraftConf

/** Deterministic slow-task ("straggler") injection — the Spark
  * re-expression of the reference's chaos harness (SURVEY §2.11 T7–T9):
  *
  *  - slow map: sleep per record when the task's partition is targeted
  *    (or its input file path matches) and the record index hits the
  *    every-Nth gate (`/root/reference/trace-insertindex-job/src/main/
  *    java/org/example/TraceInsertIndexMapper.java:27-33,70-80,117-133`);
  *  - slow reduce: the same gates on the post-shuffle side
  *    (`TraceInsertIndexReducer.java:81-87,118-129`);
  *  - heavy key: sleep when processing a specific key — simulated skew
  *    (`TraceInsertIndexReducer.java:108-116`; wired to `zebra`/`the` in
  *    the reference run scripts).
  *
  * Conf keys mirror the reference's (`insertindex.slow.map.*` →
  * `spark.graft.slow.map.*`). Injection is a `mapPartitions` pass-through
  * that preserves rows exactly — chaos must never change query results —
  * and counts hits in a named accumulator (the reference uses Hadoop
  * counters, `TraceSortMapper.java:117,129`). When no sleep is
  * configured the input plan is returned untouched, so production
  * pipelines pay zero overhead.
  *
  * Sleeps are capped (SURVEY §7.4): an injected straggler must stay
  * below task-timeout/speculation thresholds or it becomes a task
  * failure, which is a different experiment.
  */
object SlowInject {

  val MaxSleepMs = 30000L

  final case class SlowConf(
      partitions: Set[Int],
      sleepMs: Long,
      eachN: Long,
      pathContains: Option[String],
      heavyKey: Option[String],
      heavySleepMs: Long) {
    def mapActive: Boolean = sleepMs > 0
    def heavyActive: Boolean = heavyKey.isDefined && heavySleepMs > 0
    def targets(partition: Int, file: String): Boolean =
      (partitions.isEmpty || partitions.contains(partition)) &&
        pathContains.forall(sub => file.contains(sub))
  }

  private def readConf(spark: SparkSession, side: String): SlowConf = {
    // An empty value reads as unset.
    def get[A](k: String)(parse: String => Option[A]): Option[A] =
      GraftConf.get(spark.sessionState.conf, s"spark.graft.slow.$side.$k") { v =>
        if (v.isEmpty) Some(None) else parse(v).map(Some(_))
      }.flatten
    SlowConf(
      partitions = get("partitions")(v =>
        scala.util.Try(v.split(",").map(_.trim.toInt).toSet).toOption)
        .getOrElse(Set.empty),
      sleepMs = math.min(get("sleep.ms")(_.toLongOption).getOrElse(0L), MaxSleepMs),
      eachN = math.max(get("eachN")(_.toLongOption).getOrElse(1L), 1L),
      pathContains = get("input.contains")(Some(_)),
      heavyKey = get("heavy.key")(Some(_)),
      heavySleepMs = math.min(get("heavy.sleep.ms")(_.toLongOption).getOrElse(0L),
        MaxSleepMs))
  }

  def mapConf(spark: SparkSession): SlowConf = readConf(spark, "map")

  /** Reduce-side conf. Input-path targeting is a MAP-side concept (a
    * reducer consumes shuffle blocks, not files — the reference's
    * `slow.input.contains` gates its mapper, `TraceInsertIndexMapper
    * .java:117-133`), so `reduce.input.contains` is stripped here: left
    * in place it would gate every row on `"".contains(sub)` and turn
    * the whole reduce-side experiment into a silent no-op. */
  def reduceConf(spark: SparkSession): SlowConf =
    readConf(spark, "reduce").copy(pathContains = None)

  final case class Injected(df: DataFrame, hits: LongAccumulator)

  /** Map-side injection (T7). Reads `spark.graft.slow.map.*` at plan
    * time; no-op (identity plan) when disabled. */
  def slowMap(df: DataFrame): Injected = {
    val spark = df.sparkSession
    val conf = mapConf(spark)
    val acc = spark.sparkContext.longAccumulator("graft.slow.map.hits")
    if (!conf.mapActive) return Injected(df, acc)

    // Path targeting needs the file name as data: ride it along and drop
    // it after the wrapper (`input_file_name()` ≙ the reference's
    // FileSplit path probe, TraceInsertIndexMapper.java:77-80).
    val withFile = conf.pathContains match {
      case Some(_) => df.withColumn("_graft_file", input_file_name())
      case None    => df
    }
    val schema = withFile.schema
    val hasFile = conf.pathContains.isDefined
    val wrapped = withFile.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var n = 0L
      it.map { row =>
        val file = if (hasFile) row.getString(row.length - 1) else ""
        if (conf.targets(pid, file)) {
          n += 1
          if (n % conf.eachN == 0) { Thread.sleep(conf.sleepMs); acc.add(1) }
        }
        row
      }
    }(Encoders.row(schema))
    val out = if (hasFile) wrapped.drop("_graft_file") else wrapped
    Injected(out, acc)
  }

  /** Post-shuffle injection (T8 partition/eachN gates + T9 heavy key).
    * Apply AFTER the shuffle whose reducers you want to slow (e.g. after
    * a `groupBy().agg()`); `keyCol` is the group key the heavy-key gate
    * compares against. No-op when disabled. */
  def slowReduce(df: DataFrame, keyCol: String): Injected = {
    val spark = df.sparkSession
    val conf = reduceConf(spark)
    val acc = spark.sparkContext.longAccumulator("graft.slow.reduce.hits")
    if (!conf.mapActive && !conf.heavyActive) return Injected(df, acc)

    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val heavy = conf.heavyKey.orNull
    val wrapped = df.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var n = 0L
      it.map { row =>
        if (conf.mapActive && conf.targets(pid, "")) {
          n += 1
          if (n % conf.eachN == 0) { Thread.sleep(conf.sleepMs); acc.add(1) }
        }
        if (heavy != null && conf.heavySleepMs > 0 && !row.isNullAt(keyIdx)
            && row.get(keyIdx).toString == heavy) {
          Thread.sleep(conf.heavySleepMs); acc.add(1)
        }
        row
      }
    }(Encoders.row(schema))
    Injected(wrapped, acc)
  }

  /** Clear every chaos conf on the session. */
  def reset(spark: SparkSession): Unit =
    for (side <- Seq("map", "reduce");
         k <- Seq("partitions", "sleep.ms", "eachN", "input.contains",
           "heavy.key", "heavy.sleep.ms"))
      spark.conf.unset(s"spark.graft.slow.$side.$k")
}

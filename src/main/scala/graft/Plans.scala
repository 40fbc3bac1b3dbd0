package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit utility: print `explain("formatted")` for the named
  * queries (or every query) at an sf dir — the loop behind PLANS.md.
  * With `--jobs`, run each query into a noop sink instead and print the
  * Spark jobs, stages and tasks it submitted (build and action both
  * count), one line per job with its call site — the by-hand check of
  * a query's job budget.
  *
  * {{{
  *   sbt "runMain graft.Plans /root/testdata/sf0.01 q_wordcount q_join_multi"
  *   sbt "runMain graft.Plans /root/testdata/sf0.01"          # all queries
  *   sbt "runMain graft.Plans --jobs /root/testdata/sf0.1 q_triangle_count"
  * }}}
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val jobs = args.headOption.contains("--jobs")
    val rest = if (jobs) args.drop(1) else args
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (rest.length > 1) rest.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.getOrCreate("graft-plans")
    for (n <- names) SparkEntry.queries.get(n) match {
      case Some(fn) if jobs =>
        val c = new JobCounter
        spark.sparkContext.addSparkListener(c)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        } finally {
          val wall = (System.nanoTime() - t0) / 1e9
          org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark.sparkContext)
          spark.sparkContext.removeSparkListener(c)
          graft.queries.StagedCache.releaseAll(blocking = true)
          println(f"===== $n: ${c.jobs.size} jobs, ${c.stages.get} stages, " +
            f"${c.tasks.get} tasks, $wall%.2f s =====")
          c.jobs.forEach(j => println(j))
        }
      case Some(fn) =>
        println(s"===== $n =====")
        println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
      case None =>
        System.err.println(s"unknown query: $n (see SparkEntry.queries)")
    }
    spark.stop()
  }

  /** Jobs (with their call sites), submitted stages and finished tasks. */
  private final class JobCounter extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // The result stage's name is the job's short call site.
      val site = e.stageInfos.maxBy(_.stageId).name
      jobs.add(s"  job ${e.jobId}: ${e.stageInfos.size} stage(s), " +
        s"${e.stageInfos.map(_.numTasks).sum} task(s), $site")
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  }
}

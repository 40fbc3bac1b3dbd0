package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval; times are epoch microseconds. `parent` is the
  * enclosing span's id, -1 for a root. */
final case class Rec(id: Int, parent: Int, name: String, layer: String,
                     start: Long, end: Long, trace: String) {
  def dur: Long = end - start
}

/** The traced run's recorder. Spans come from three places, all
  * registered from the benchmark's own files:
  *  - [[span]] around the benchmark's calls into each module
  *    (`queries.*`, `sources.*`) and around each pass and operation;
  *  - Spark's public listener bus: one `operators` span per job and
  *    per stage, plus task metrics folded into per-pass counters;
  *  - a `QueryExecutionListener`: one `plans` span per
  *    `QueryPlanningTracker` phase of every action.
  * Everything stays in memory until [[write]] at the end of the run.
  * Listener spans are attached to the innermost driver span that
  * contains their start, so self time per layer is a span's duration
  * minus the union of its children. */
final class Recorder(cores: Int) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000L
  def nowUs: Long = epoch0 + (System.nanoTime() - nano0) / 1000L

  private val recs = mutable.ArrayBuffer.empty[Rec]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var trace = ""
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val offClock = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }

  def total(key: String): Double = synchronized(counters.getOrElse(key, 0.0))

  def span[A](name: String, layer: String)(body: => A): A = {
    val (id, parent) = synchronized {
      nextId += 1
      (nextId, stack.headOption.getOrElse(-1))
    }
    stack.push(id)
    val s = nowUs
    try body
    finally {
      stack.pop()
      val r = Rec(id, parent, name, layer, s, nowUs, trace)
      synchronized(recs += r)
    }
  }

  /** A traced pass: one trace id per pass, and the window the listener
    * data is filtered to. */
  def pass[A](name: String)(body: => A): A = {
    trace = java.util.UUID.randomUUID().toString.replace("-", "")
    val s = nowUs
    try span(name, "harness")(body)
    finally synchronized(windows += ((s, nowUs)))
  }

  /** Harness work inside a traced pass that is not part of the measured
    * loop (output checks, heap samples): its interval, and every job,
    * stage, task and planning phase that starts in it, are left out of
    * the layer metrics and self times. */
  def outside[A](body: => A): A = {
    val s = nowUs
    try body finally synchronized(offClock += ((s, nowUs)))
  }

  // ---- listener side (listener-bus thread) -------------------------
  private final case class JobRec(id: Int, start: Long, var end: Long, stages: Seq[Int])
  private final case class StageRec(id: Int, attempt: Int, start: Long, end: Long)
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskDur = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private final case class TaskRec(launch: Long, run: Long, cpuNs: Long, gc: Long, queued: Long,
                                   in: Long, shW: Long, shR: Long, spill: Long, failed: Boolean)
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private final case class PhaseRec(name: String, start: Long, end: Long)
  private val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private final case class ActionRec(time: Long, exchanges: Int)
  private val actions = mutable.ArrayBuffer.empty[ActionRec]
  @volatile private var events = 0L

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      events += 1
      jobs(e.jobId) = JobRec(e.jobId, e.time * 1000, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      events += 1
      jobs.get(e.jobId).foreach(_.end = e.time * 1000)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Recorder.this.synchronized {
      events += 1
      val i = e.stageInfo
      stageSubmit((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Recorder.this.synchronized {
      events += 1
      val i = e.stageInfo
      val key = (i.stageId, i.attemptNumber())
      val s = stageSubmit.getOrElse(key, i.submissionTime.getOrElse(0L) * 1000)
      stages += StageRec(i.stageId, i.attemptNumber(), s,
        i.completionTime.getOrElse(System.currentTimeMillis()) * 1000)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      events += 1
      val ti = e.taskInfo
      val m = e.taskMetrics
      val submit = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), ti.launchTime * 1000)
      taskDur.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        ti.duration
      val failed = e.reason != Success
      tasks += (if (m == null) TaskRec(ti.launchTime * 1000, 0, 0, 0, 0, 0, 0, 0, 0, failed)
      else TaskRec(ti.launchTime * 1000, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        math.max(0L, ti.launchTime * 1000 - submit), m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, failed))
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Recorder.this.synchronized {
      events += 1
      var first = Long.MaxValue
      qe.tracker.phases.foreach { case (name, p) =>
        phases += PhaseRec(name, p.startTimeMs * 1000, p.endTimeMs * 1000)
        first = math.min(first, p.startTimeMs * 1000)
      }
      val n = try Recorder.exchanges(qe.executedPlan) catch { case _: Exception => 0 }
      actions += ActionRec(if (first == Long.MaxValue) nowUs else first, n)
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Waits until the asynchronous listener bus has gone quiet, then
    * detaches both listeners. */
  def uninstall(spark: SparkSession): Unit = {
    var last = -1L
    var stableSince = System.nanoTime()
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - stableSince < 300000000L && System.nanoTime() < deadline) {
      val n = events
      if (n != last) { last = n; stableSince = System.nanoTime() }
      Thread.sleep(25)
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  // ---- aggregation ------------------------------------------------
  private def inWindow(t: Long): Boolean =
    windows.exists { case (a, b) => t >= a && t <= b } &&
      !offClock.exists { case (a, b) => t >= a && t <= b }

  /** Measured wall time of each traced pass, off-clock work taken out. */
  private def passWalls: Seq[Long] =
    windows.toSeq.map { case (a, b) => (b - a) - covered(offClock.toSeq, a, b) }

  /** Total length of the union of `iv`, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Every span of the traced passes: the driver's own, plus jobs,
    * stages and planning phases attached by time containment. */
  def allSpans: Seq[Rec] = synchronized {
    val driver = recs.toVector
    var id = driver.map(_.id).foldLeft(nextId)(math.max)
    def parentOf(t: Long): Rec = {
      val c = driver.filter(r => r.start <= t && r.end >= t)
      if (c.isEmpty) null else c.maxBy(r => (r.start, -r.dur))
    }
    val jobSpans = jobs.values.filter(j => inWindow(j.start) && j.end > 0).toVector.map { j =>
      val p = parentOf(j.start)
      id += 1
      (j, Rec(id, if (p == null) -1 else p.id, s"operators.job.${j.id}", "operators",
        j.start, j.end, if (p == null) "" else p.trace))
    }
    val stageSpans = stages.filter(s => inWindow(s.start)).toVector.flatMap { s =>
      jobSpans.find(_._1.stages.contains(s.id)).map { case (_, jr) =>
        id += 1
        Rec(id, jr.id, s"operators.stage.${s.id}.${s.attempt}", "operators",
          s.start, s.end, jr.trace)
      }
    }
    val phaseSpans = phases.filter(p => inWindow(p.start)).toVector.map { ph =>
      val p = parentOf(ph.start)
      id += 1
      Rec(id, if (p == null) -1 else p.id, s"plans.${ph.name}", "plans",
        ph.start, math.max(ph.end, ph.start), if (p == null) "" else p.trace)
    }
    driver ++ jobSpans.map(_._2) ++ stageSpans ++ phaseSpans
  }

  /** Self time per layer: at every instant the innermost open span owns
    * the time, so a span's self time is its duration minus what its
    * children cover, and overlapping siblings (concurrent jobs, parallel
    * stages) are not counted twice. Off-clock intervals belong to no
    * layer. Sums to the measured wall time of the traced passes. */
  def selfTimes(spans: Seq[Rec]): Map[String, Double] = {
    val byId = spans.map(r => r.id -> r).toMap
    val depth = mutable.HashMap.empty[Int, Int]
    def depthOf(r: Rec): Int = depth.getOrElseUpdate(r.id,
      byId.get(r.parent).fold(0)(p => depthOf(p) + 1))
    val off = offClock.toVector
    val cuts = (spans.flatMap(r => Seq(r.start, r.end)) ++ off.flatMap(o => Seq(o._1, o._2)))
      .distinct.sorted
    val owned = mutable.HashMap.empty[String, Long]
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val open = spans.filter(r => r.start <= a && r.end >= b)
      if (open.nonEmpty && !off.exists(o => o._1 <= a && o._2 >= b)) {
        val layer = open.maxBy(depthOf).layer
        owned(layer) = owned.getOrElse(layer, 0L) + (b - a)
      }
    }
    owned.map { case (l, us) => l -> us / 1e6 }.toMap
  }

  /** The per-layer metrics, per traced pass. */
  def summary(observeSpans: Int): Map[String, Double] = synchronized {
    val n = math.max(1, windows.size).toDouble
    val wall = passWalls.sum
    val spans = allSpans
    val driver = recs.toVector
    def sumDur(pred: Rec => Boolean) = driver.filter(pred).map(_.dur).sum / 1e6
    val ts = tasks.filter(t => inWindow(t.launch)).toVector
    val js = jobs.values.filter(j => inWindow(j.start) && j.end > 0).toVector
    val jobIv = js.map(j => (j.start, j.end))
    val ph = phases.filter(p => inWindow(p.start)).toVector
    def phase(name: String) = ph.filter(_.name == name).map(p => p.end - p.start).sum / 1e6
    val acts = actions.filter(a => inWindow(a.time)).toVector
    val stgs = stages.filter(s => inWindow(s.start)).toVector
    val skews = stgs.flatMap { s =>
      taskDur.get((s.id, s.attempt)).filter(_.size >= 2).map { d =>
        val sorted = d.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) sorted.last / med else 1.0
      }
    }
    val opWall = driver.filter(_.name.startsWith("op."))
      .map(r => r.dur - covered(offClock.toSeq, r.start, r.end)).sum / 1e6
    val planning = phase("analysis") + phase("optimization") + phase("planning")
    val taskRun = ts.map(_.run).sum / 1e3
    val srcRecs = driver.filter(_.layer == "sources")
    val self = selfTimes(spans)
    val mb = 1024.0 * 1024.0
    val m = mutable.LinkedHashMap[String, Double](
      "queries.build_s" -> sumDur(_.name == "queries.build") / n,
      "queries.action_s" -> sumDur(_.name == "queries.action") / n,
      "queries.release_s" -> sumDur(_.name == "queries.release") / n,
      "plans.analysis_s" -> phase("analysis") / n,
      "plans.optimizer_s" -> phase("optimization") / n,
      "plans.physical_s" -> phase("planning") / n,
      "plans.actions" -> acts.size / n,
      "plans.exchanges" -> acts.map(_.exchanges).sum / n,
      "plans.share" -> (if (opWall > 0) planning / opWall else 0.0),
      "operators.jobs" -> js.size / n,
      "operators.stages" -> stgs.size / n,
      "operators.tasks" -> ts.size / n,
      "operators.task_run_s" -> taskRun / n,
      "operators.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "operators.gc_s" -> ts.map(_.gc).sum / 1e3 / n,
      "operators.sched_wait_s" -> ts.map(_.queued).sum / 1e6 / n,
      "operators.core_busy" -> (if (wall > 0) taskRun / (cores * wall / 1e6) else 0.0),
      "operators.driver_only_s" -> windows.map { case (a, b) =>
        (b - a) - covered(jobIv ++ offClock, a, b) }.sum / 1e6 / n,
      "operators.input_mb" -> ts.map(_.in).sum / mb / n,
      "operators.shuffle_write_mb" -> ts.map(_.shW).sum / mb / n,
      "operators.shuffle_read_mb" -> ts.map(_.shR).sum / mb / n,
      "operators.spill_mb" -> ts.map(_.spill).sum / mb / n,
      "operators.failed_tasks" -> ts.count(_.failed) / n,
      "operators.stage_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "sources.meta_s" -> srcRecs.map(r => r.dur - covered(jobIv, r.start, r.end)).sum / 1e6 / n,
      "observe.spans" -> observeSpans / n,
      "observe.spans_per_stage" -> (if (stgs.isEmpty) 0.0 else observeSpans.toDouble / stgs.size)
    )
    Recorder.Verbs.foreach(v => m(s"sources.${v}_s") = sumDur(_.name == s"sources.$v") / n)
    Seq("harness", "queries", "plans", "operators", "sources").foreach { l =>
      m(s"self.${l}_s") = self.getOrElse(l, 0.0) / n
    }
    counters.foreach { case (k, v) => m(k) = v / n }
    m.toMap
  }

  /** Writes every span of the traced passes as one JSON object a line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { r =>
      s"""{"trace":"${r.trace}","id":${r.id},"parent":${r.parent},"name":"${r.name}",""" +
        s""""layer":"${r.layer}","start_us":${r.start},"end_us":${r.end}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Recorder {
  /** `TxnLog` call types, one `sources.<verb>_s` metric each. */
  val Verbs: Seq[String] =
    Seq("append", "merge", "delete", "update", "read", "time_travel", "compact", "vacuum")

  /** Exchanges in an executed plan, looking through adaptive wrappers,
    * query stages and subqueries. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case o => o.children.map(exchanges).sum + o.subqueries.map(exchanges).sum
  }
}

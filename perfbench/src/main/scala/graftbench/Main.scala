package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, JsonUtil, SparkEntry}
import graft.observe.{InMemoryExporter, Trace}
import graft.queries.StagedCache
import graft.sources.Tables

/** One benchmark run in one JVM: one client, closed loop, on
  * `local[N]`. Writes the raw measurements as `result.json` in `--out`;
  * `run.py` turns them into the reported metrics.
  *
  *   --workload queries|lake  --seed N  --seconds S  --trace 0|1
  *   --data DIR (generated inputs)  --check DIR (inputs of the checked
  *   warm-up pass)  --work DIR (scratch)  --out DIR
  *   --queries q1,q2,...  --cores N
  */
object Main {

  final case class Args(kind: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, check: String, work: String, out: String,
                        queries: Seq[String], cores: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m.getOrElse("check", m("data")), m("work"), m("out"),
      m.getOrElse("queries", "-").split(",").filter(q => q.nonEmpty && q != "-").toSeq,
      m("cores").toInt)
  }

  private def session(a: Args): SparkSession = {
    val s = GraftSession.builder("graftbench")
      .config("spark.local.dir", s"${a.work}/spark")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.catalog.graft.root", a.data)
      .config("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.lake.root", s"${a.work}/lake")
      .config("spark.sql.catalog.lake.writable", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use right after full collections: the live set. Spark's
    * ContextCleaner frees broadcast and shuffle blocks on its own thread,
    * only after a collection has dropped their last reference, so collect
    * again until two rounds in a row free less than 1 MB (at most six
    * rounds, 150 ms apart). */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collected(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var cur = collected()
    var stable = 0
    var rounds = 1
    while (stable < 2 && rounds < 6) {
      Thread.sleep(150)
      val next = collected()
      stable = if (cur - next > (1L << 20)) 0 else stable + 1
      cur = math.min(cur, next)
      rounds += 1
    }
    cur / 1048576.0
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var phaseT = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - phaseT) / 1e9
      phaseT = now
    }
    var spark = session(a)
    phase("context")
    val dir = a.data
    val tables = Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

    val rec = if (a.trace) Some(new Recorder(a.cores)) else None
    var tracing = false
    def recorder: Option[Recorder] = if (tracing) rec else None
    val lake = new Lake(s"${a.work}/lake", a.seed, () => recorder)
    // Set-up, repeated three times on the running SparkContext: a new
    // SQL session (catalogs, extensions) plus base tables (the lake's
    // table creation; the query workloads' input footers). The first
    // repetition runs cold; the median is reported.
    val setups = (1 to 3).map { _ =>
      secs {
        spark = spark.newSession()
        if (a.kind == "lake") lake.create(spark, s"${a.data}/orders.parquet")
        else tables.foreach(t => Tables(spark, dir, t).schema)
      }._2
    }
    if (a.kind == "lake") lake.initModel(spark)

    phase("setup")
    val ops = mutable.ArrayBuffer.empty[String]      // JSON rows
    val passes = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val exporter = new InMemoryExporter
    // Work inside a timed pass that is not part of what it measures
    // (output checks, live-heap samples): kept off the pass clock, and
    // out of the traced pass's layer metrics.
    var offClockS = 0.0
    def offClock[A](body: => A): A = {
      val (r, t) = secs(recorder.fold(body)(_.outside(body)))
      offClockS += t
      r
    }
    var heapLiveMb = 0.0
    def sampleHeap(): Unit = offClock { heapLiveMb = math.max(heapLiveMb, liveHeapMb()) }

    // ---- query workloads -------------------------------------------
    val fns = a.queries.map(q => q -> SparkEntry.queries(q))
    def runQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                 sink: Option[String]): Option[Double] = {
      val r = recorder
      def layer[A](n: String)(body: => A): A = r.fold(body)(_.span(n, "queries")(body))
      val t0 = System.nanoTime()
      val off0 = offClockS
      try {
        val df = layer("queries.build")(fn(spark, if (sink.isDefined) a.check else dir))
        layer("queries.action") {
          sink match {
            case Some(p) => df.write.mode("overwrite").parquet(p)
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
        // The staged intermediates are still held here.
        if (sink.isEmpty) sampleHeap()
        Some((System.nanoTime() - t0) / 1e9 - (offClockS - off0))
      } catch {
        case e: Exception =>
          System.err.println(s"[graftbench] $name failed: ${e.getMessage}")
          None
      } finally {
        r.foreach { rr =>
          rr.add("queries.staged_tables", StagedCache.stagedCount.toDouble)
          rr.add("queries.staged_mb", spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum / 1048576.0)
        }
        layer("queries.release")(StagedCache.releaseAll(blocking = true))
      }
    }

    // Warm-up pass, untimed: every query once on the smaller check
    // input, its rows written for the oracle check in run.py, or each
    // lake verb once with its model check.
    if (a.kind == "lake") {
      lake.warmup(spark).foreach { case (kind, cls, op) =>
        attempted += 1
        val r = lake.run(kind, op)
        lake.verify(spark, kind, cls, r.isDefined)
        if (r.isEmpty) failed += 1
      }
    } else {
      fns.foreach { case (q, fn) =>
        attempted += 1
        if (runQuery(q, fn, Some(s"${a.out}/warm/$q")).isEmpty) failed += 1
      }
      val oracle = a.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
      Files.write(Paths.get(s"${a.out}/oracle_sql.json"),
        oracle.map { case (q, s) => s"${JsonUtil.quote(q)}:${JsonUtil.quote(s)}" }
          .mkString("{", ",", "}").getBytes("UTF-8"))
    }

    phase("warmup")
    // ---- timed passes: closed loop for --seconds --------------------
    // At least two passes; a further one starts only when the last one's
    // length still fits, so the pass count (and the run's length) tracks
    // the program's speed. A traced run makes three passes,
    // untraced-traced-untraced, so the tracing overhead is not
    // confounded with the JVM still warming up.
    Host.spinMs() // first spin compiles the loop
    val t0 = System.nanoTime()
    var pass = 0
    var lastWall = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass < (if (a.trace) 3 else 2) || (!a.trace && elapsed + lastWall <= a.seconds)) {
      val traced = a.trace && pass == 1
      val calib = Host.spinMs()
      val cpu0 = Host.cpu()
      if (traced) rec.foreach(_.install(spark))
      val handle = if (traced) Some(Trace.install(spark, exporter)) else None
      tracing = traced
      val p0 = System.nanoTime()
      val off0 = offClockS
      def record(kind: String, cls: String, r: Option[Double]): Unit = {
        if (r.isEmpty) failed += 1
        ops += s"""[$pass,${if (traced) 1 else 0},"$kind","$cls",${r.getOrElse(-1.0)},${r.isDefined}]"""
      }
      def body(): Unit =
        if (a.kind == "lake") {
          lake.cycle(spark).foreach { case (kind, cls, op) =>
            attempted += 1
            val r = recorder.fold(lake.run(kind, op))(
              _.span(s"op.$kind", "harness")(lake.run(kind, op)))
            offClock(lake.verify(spark, kind, cls, r.isDefined))
            record(kind, cls, r)
          }
          sampleHeap()
        } else {
          // The listed order, rotated by one each pass: over as many
          // passes as queries every query runs in every position, so no
          // figure depends on which order a seed would have drawn.
          val order = fns.drop(pass % fns.size) ++ fns.take(pass % fns.size)
          order.foreach { case (q, fn) =>
            attempted += 1
            record(q, "query", recorder.fold(runQuery(q, fn, None))(
              _.span(s"op.$q", "harness")(runQuery(q, fn, None))))
          }
        }
      if (traced) rec.get.pass(s"pass.$pass")(body()) else body()
      val wall = (System.nanoTime() - p0) / 1e9 - (offClockS - off0)
      lastWall = wall
      tracing = false
      handle.foreach(h => Trace.uninstall(spark, h))
      if (traced) rec.foreach(_.uninstall(spark))
      val (steal, other) = Host.shares(cpu0, Host.cpu())
      passes += s"""[$pass,${if (traced) 1 else 0},$wall,$calib,$steal,$other]"""
      pass += 1
    }

    phase("measure")
    // ---- artifact ----------------------------------------------------
    val lakeState = if (a.kind == "lake") lake.storage(spark) else Map.empty[String, Double]
    val layers: Map[String, Double] = rec.map { r =>
      val lakeGauges = lakeState.get("live_bytes").map { liveBytes =>
        val bytesPerRow = liveBytes / math.max(1.0, lakeState("live_rows"))
        Map("sources.versions" -> lakeState("versions"), "sources.log_kb" -> lakeState("log_kb"),
          "sources.live_files" -> lakeState("live_files"),
          "sources.space_amp" -> lakeState("space_amp"),
          "sources.write_amp" -> r.total("lake.write_bytes") /
            math.max(1.0, lake.rowsWritten * bytesPerRow))
      }.getOrElse(Map.empty)
      r.write(Paths.get(s"${a.out}/spans.jsonl"))
      // Layers a workload bypasses report 0.
      val zero = Seq("queries.staged_tables", "queries.staged_mb", "sources.resolve_s",
        "sources.fs_read_mb", "sources.fs_write_mb", "sources.versions", "sources.log_kb",
        "sources.live_files", "sources.space_amp", "sources.write_amp").map(_ -> 0.0).toMap
      zero ++ r.summary(exporter.spans.size) ++ lakeGauges
    }.getOrElse(Map.empty)
    failed += lake.checksFailed
    val errors = lake.errors.map(JsonUtil.quote)
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${JsonUtil.quote(k)}:$v" }.mkString("{", ",", "}")
    val json =
      s"""{"boot_s":$bootS,"setup_s":${bootS + phases("context") + median(setups)},""" +
        s""""setup_reps":${setups.mkString("[", ",", "]")},"heap_live_mb":$heapLiveMb,""" +
        s""""rss_peak_mb":${vmHwmMb()},"attempted":$attempted,"failed":$failed,""" +
        s""""errors":${errors.mkString("[", ",", "]")},"passes":${passes.mkString("[", ",", "]")},""" +
        s""""ops":${ops.mkString("[", ",", "]")},"lake":${obj(lakeState)},"layers":${obj(layers)}}"""
    phase("artifact")
    Files.write(Paths.get(s"${a.out}/result.json"),
      (json.dropRight(1) + s""","phase_s":${obj(phases.toMap)}}""").getBytes("UTF-8"))
    spark.stop()
  }
}

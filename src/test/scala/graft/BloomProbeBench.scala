package graft

import org.apache.hadoop.fs.Path

import graft.sources.{MetaFanout, TxnBloom, TxnLog}

/** One-off micro-benchmark for the bloom point-lookup probe at
  * realistic 100 TB FILE COUNTS (`sbt "Test/runMain graft.BloomProbeBench"`)
  * — NOT a spec: the r13 verdict named the driver-serial sidecar loop
  * the engine's one remaining scale-killer (10⁵–10⁶ serial opens on
  * exactly the workload the index exists for) and asked for a measured
  * many-file point comparing the serial per-file form against the
  * consolidated-segment + distributed probe, recorded in PLANS.md.
  *
  * The data files themselves never open during a probe, so the bench
  * plants METADATA only: N synthetic file entries (1 KiB bitsets,
  * m=2¹³) laid out (a) as N legacy per-file `.bloom` sidecars — the
  * r13 design — and (b) as N/1000 per-commit segments. Verdict parity
  * between every path is asserted, not assumed.
  */
object BloomProbeBench {
  private val LegacyMagic = 0x47424C46
  private val MBits = 1L << 13 // 1 KiB bitsets

  private def plantLegacy(f: org.apache.hadoop.fs.FileSystem, table: String,
      rels: Seq[String], bits: Int => Array[Byte]): Unit = {
    val dir = new Path(table, "_bloom/id")
    f.mkdirs(dir)
    rels.zipWithIndex.foreach { case (rel, i) =>
      val enc = rel.replace("%", "%25").replace("/", "%2F")
      val out = new java.io.DataOutputStream(
        f.create(new Path(dir, s"$enc.bloom"), true))
      try {
        out.writeInt(LegacyMagic); out.writeInt(1)
        out.writeInt(7); out.writeLong(MBits)
        val b = bits(i)
        out.writeInt(b.length); out.write(b)
      } finally out.close()
    }
  }

  private def plantSegments(f: org.apache.hadoop.fs.FileSystem, table: String,
      rels: Seq[String], perSegment: Int, bits: Int => Array[Byte]): Unit = {
    val dir = new Path(table, "_bloom/id")
    f.mkdirs(dir)
    rels.zipWithIndex.grouped(perSegment).zipWithIndex.foreach {
      case (group, g) =>
        TxnBloom.writeSegment(f, new Path(dir, f"seg-bench$g%05d.gbs"),
          group.map { case (rel, i) => (rel, MBits, bits(i)) })
    }
  }

  /** LATENCY-MODEL mode (`… graft.BloomProbeBench sweep <delayMs>`):
    * every source open sleeps `delayMs` first — the object-store
    * metadata-GET model the local FS can't exhibit (~0.3 ms/open vs
    * 10–50 ms real) — and the serial-vs-distributed crossover is swept
    * over cold-source counts next to the measured (unpinned) route.
    * Each source is a legacy per-file sidecar so opens == sources
    * exactly. */
  private def latencySweep(spark: org.apache.spark.sql.SparkSession,
      root: String, f: org.apache.hadoop.fs.FileSystem,
      delayMs: Long): Unit = {
    println(s"== injected per-open latency: ${delayMs}ms ==")
    MetaFanout.testOpDelayMs = delayMs
    try {
      for (k <- Seq(8, 32, 64, 128, 256, 1024)) {
        val t = s"$root/sweep$k"
        val rels = (0 until k).map(i => f"stage-sweep/part-$i%06d.parquet")
        val files = rels.map(r => r -> TxnLog.FileState(None, None))
        def bits(i: Int): Array[Byte] = {
          val rnd = new scala.util.Random(i * 2654435761L)
          Array.fill((MBits / 8).toInt)(rnd.nextInt(256).toByte)
        }
        plantLegacy(f, t, rels, bits)
        val probes = Seq[Any](42L, "doc-abc")
        // Pinned routes: the sweep measures the RAW serial-vs-
        // distributed walls the measured route is tuned FROM.
        def run(distribute: Boolean): (Double, Set[String]) = FanoutPin(distribute) {
          TxnBloom.clearProbeCaches()
          val t0 = System.nanoTime()
          val kept = TxnBloom.filterByBloom(spark, t, "id", probes, files)
            .map(_._1).toSet
          (((System.nanoTime() - t0) / 1e6), kept)
        }
        val (serialMs, kS) = run(distribute = false)
        val (distMs, kD) = run(distribute = true)
        // The measured route (sample-project-decide) must land near
        // the winner, not the loser, at every point.
        TxnBloom.clearProbeCaches()
        val tA = System.nanoTime()
        val kA = TxnBloom.filterByBloom(spark, t, "id", probes, files)
          .map(_._1).toSet
        val adaptiveMs = (System.nanoTime() - tA) / 1e6
        require(kS == kD && kS == kA, s"parity violated at k=$k")
        println(f"cold=$k%5d  serial=${serialMs}%8.0f ms  " +
          f"distributed=${distMs}%8.0f ms  adaptive=${adaptiveMs}%8.0f ms  " +
          f"winner=${if (distMs < serialMs) "distributed" else "serial"}")
      }
    } finally MetaFanout.testOpDelayMs = 0L
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("bloom-probe-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.headOption.contains("sweep")) {
      val delayMs = args.lift(1).map(_.toLong).getOrElse(10L)
      val root = s"${sys.props("java.io.tmpdir")}/graft_bloomsweep_${System.nanoTime()}"
      val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      try latencySweep(spark, root, f, delayMs)
      finally { f.delete(new Path(root), true); spark.stop() }
      return
    }
    val n = args.headOption.map(_.toInt).getOrElse(24000)
    val root = s"${sys.props("java.io.tmpdir")}/graft_bloomprobe_${System.nanoTime()}"
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rels = (0 until n).map(i => f"stage-bench/part-$i%06d.parquet")
    val files = rels.map(r => r -> TxnLog.FileState(None, None))
    // Deterministic per-entry bitsets, ~50% bit density ⇒ ~0.8%
    // per-(file,value) keep rate: most probes prune, hundreds keep —
    // the realistic mixed outcome, and a non-trivial parity check.
    def bits(i: Int): Array[Byte] = {
      val rnd = new scala.util.Random(i * 2654435761L)
      Array.fill((MBits / 8).toInt)(rnd.nextInt(256).toByte)
    }
    val probes = Seq[Any](42L, 7777L, "doc-abc")

    def timed(tag: String)(body: => Set[String]): Set[String] = {
      val t0 = System.nanoTime()
      val kept = body
      println(f"$tag%-46s ${(System.nanoTime() - t0) / 1e6}%8.0f ms  " +
        f"kept=${kept.size}")
      kept
    }

    // (a) r13 design: N per-file sidecars, driver-serial loop. The
    // route is pinned for the serial and distributed legs (the bench
    // measures the raw walls the measured route is tuned from).
    val tLegacy = s"$root/legacy"
    plantLegacy(f, tLegacy, rels, bits)
    MetaFanout.testDistribute = Some(false)
    TxnBloom.clearProbeCaches()
    val keptLegacy = timed(s"legacy  $n per-file sidecars, serial driver") {
      TxnBloom.filterByBloom(spark, tLegacy, "id", probes, files)
        .map(_._1).toSet
    }

    // (b) segments, cold, still driver-serial.
    val tSeg = s"$root/seg"
    plantSegments(f, tSeg, rels, 1000, bits)
    TxnBloom.clearProbeCaches()
    val keptSegSerial = timed(s"segment ${n / 1000} segments, serial driver, cold") {
      TxnBloom.filterByBloom(spark, tSeg, "id", probes, files)
        .map(_._1).toSet
    }

    // (c) segments, cold, DISTRIBUTED probe (one Spark job).
    MetaFanout.testDistribute = Some(true)
    TxnBloom.clearProbeCaches()
    val keptSegDist = timed(s"segment ${n / 1000} segments, distributed, cold") {
      TxnBloom.filterByBloom(spark, tSeg, "id", probes, files)
        .map(_._1).toSet
    }
    // ALSO distribute the legacy layout — the upgrade-free mitigation.
    TxnBloom.clearProbeCaches()
    val keptLegacyDist = timed(s"legacy  $n per-file sidecars, distributed, cold") {
      TxnBloom.filterByBloom(spark, tLegacy, "id", probes, files)
        .map(_._1).toSet
    }
    MetaFanout.testDistribute = None

    // (d) warm repeat: the interactive-session steady state.
    val keptWarm = timed("segment warm (driver cache)") {
      TxnBloom.filterByBloom(spark, tSeg, "id", probes, files)
        .map(_._1).toSet
    }

    require(keptSegSerial == keptLegacy && keptSegDist == keptLegacy &&
      keptLegacyDist == keptLegacy && keptWarm == keptLegacy,
      "probe parity violated across layouts/paths")
    println(s"parity OK: all paths kept the same ${keptLegacy.size} of $n files")
    f.delete(new Path(root), true)
    spark.stop()
  }
}

package graft

import org.apache.hadoop.fs.Path

import graft.sources.{MetaFanout, TxnLog}

/** Latency-model micro-benchmark for the round-17 metadata fan-outs
  * (`sbt "Test/runMain graft.MetaFanoutBench [delayMs]"`) — the
  * BloomProbeBench evidence pattern applied to the two verbs the r16
  * verdict graded `weak` for serial driver I/O: FSCK's per-file
  * existence probe and COPY INTO's source-tree listing. Every
  * metadata op sleeps `delayMs` first (the object-store round-trip
  * model a local FS can't exhibit: ~0.1 ms/op local vs 10–50 ms
  * real), and the pinned serial and distributed walls are swept over
  * file / directory counts next to the measured (unpinned) route,
  * which should land near the winner at every point. Verdict parity
  * between the legs is asserted, not assumed. */
object MetaFanoutBench {

  def main(args: Array[String]): Unit = {
    val delayMs = args.headOption.map(_.toLong).getOrElse(10L)
    val spark = GraftSession.builder("meta-fanout-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = s"${sys.props("java.io.tmpdir")}/graft_metafanout_${System.nanoTime()}"
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      println(s"== injected per-op latency: ${delayMs}ms ==")

      println("-- FSCK existence probe (ops = live files) --")
      for (k <- Seq(32, 128, 512)) {
        import spark.implicits._
        val t = s"$root/fsck$k"
        TxnLog.create(spark, t,
          spark.range(k.toLong).map(i => (i, s"s$i")).toDF("id", "s")
            .repartition(k))
        // Lose a couple of files so the probe has real findings.
        val lost = TxnLog.snapshot(spark, t).sorted.take(2)
        lost.foreach(rel => f.delete(new Path(t, rel), false))
        def run(distribute: Boolean): (Double, Seq[String]) = FanoutPin(distribute) {
          val t0 = System.nanoTime()
          val miss = TxnLog.fsck(spark, t, dryRun = true)
          ((System.nanoTime() - t0) / 1e6, miss)
        }
        MetaFanout.testOpDelayMs = delayMs
        val (serialMs, mS) = run(distribute = false)
        val (distMs, mD) = run(distribute = true)
        val tA = System.nanoTime()
        val mA = TxnLog.fsck(spark, t, dryRun = true)
        val adaptiveMs = (System.nanoTime() - tA) / 1e6
        MetaFanout.testOpDelayMs = 0L
        require(mS == mD && mS == mA && mS.sorted == lost,
          s"fsck parity violated at k=$k")
        println(f"files=$k%5d  serial=${serialMs}%8.0f ms  " +
          f"distributed=${distMs}%8.0f ms  adaptive=${adaptiveMs}%8.0f ms  " +
          f"winner=${if (distMs < serialMs) "distributed" else "serial"}")
      }

      println("-- table_files size probe / probeLens (ops = live files; " +
        "same helper serves auto-compact, compactSmall, clusterIncremental, " +
        "RESTORE, vacuum, stagedStats) --")
      for (k <- Seq(32, 128, 512)) {
        val t = s"$root/fsck$k" // reuse the FSCK fixture tables
        def run(distribute: Boolean): (Double, Long) = FanoutPin(distribute) {
          val t0 = System.nanoTime()
          val n = TxnLog.files(spark, t).where("size_bytes >= 0").count()
          ((System.nanoTime() - t0) / 1e6, n)
        }
        MetaFanout.testOpDelayMs = delayMs
        val (serialMs, nS) = run(distribute = false)
        val (distMs, nD) = run(distribute = true)
        val tA = System.nanoTime()
        val nA = TxnLog.files(spark, t).where("size_bytes >= 0").count()
        val adaptiveMs = (System.nanoTime() - tA) / 1e6
        MetaFanout.testOpDelayMs = 0L
        val expect = TxnLog.snapshot(spark, t).size - 2L // 2 lost above
        require(nS == nD && nS == nA && nS == expect,
          s"size-probe parity violated at k=$k ($nS/$nD/$nA vs $expect)")
        println(f"files=$k%5d  serial=${serialMs}%8.0f ms  " +
          f"distributed=${distMs}%8.0f ms  adaptive=${adaptiveMs}%8.0f ms  " +
          f"winner=${if (distMs < serialMs) "distributed" else "serial"}")
      }

      println("-- raw metadata probe at 10k files (ops = getFileStatus; " +
        "the 100 TB-table scale point the r17 sweep only projected) --")
      locally {
        val big = s"$root/big10k"
        val n = 10000
        val paths = (0 until n).map(i => new Path(big, f"f$i%05d.bin"))
        paths.foreach { p => val o = f.create(p, true); o.writeBytes("x"); o.close() }
        f.delete(paths(17), false); f.delete(paths(4242), false) // 2 lost
        def lens(): Seq[(String, Long)] =
          MetaFanout.adaptiveMap(spark, paths.map(_.toString)) { (conf, ps) =>
            val p = new Path(ps)
            Seq(ps -> (try p.getFileSystem(conf).getFileStatus(p).getLen
              catch { case _: java.io.FileNotFoundException => -1L }))
          }
        def probe(distribute: Boolean): (Double, Long) = FanoutPin(distribute) {
          val t0 = System.nanoTime()
          val res = lens()
          ((System.nanoTime() - t0) / 1e6, res.count(_._2 < 0L))
        }
        MetaFanout.testOpDelayMs = delayMs
        val (serialMs, mS) = probe(distribute = false)
        val (distMs, mD) = probe(distribute = true)
        // The measured route: the sample must send a 10k-file ×
        // object-store-latency probe to the distributed leg on its own.
        val tA = System.nanoTime()
        val resA = lens()
        val adaptiveMs = (System.nanoTime() - tA) / 1e6
        val mA = resA.count(_._2 < 0L).toLong
        MetaFanout.testOpDelayMs = 0L
        require(mS == 2L && mD == 2L && mA == 2L && resA.size == n,
          s"10k probe parity violated ($mS/$mD/$mA, n=${resA.size})")
        println(f"files=$n%5d  serial=${serialMs}%8.0f ms  " +
          f"distributed=${distMs}%8.0f ms  adaptive=${adaptiveMs}%8.0f ms  " +
          f"winner=${if (distMs < serialMs) "distributed" else "serial"}")
        f.delete(new Path(big), true)
      }

      println("-- COPY INTO source listing (ops = directory LISTs) --")
      for (d <- Seq(16, 64, 256)) {
        val src = s"$root/land$d"
        for (i <- 0 until d; j <- 0 until 4) {
          val o = f.create(new Path(src, s"day$i/up$j.csv"), true)
          o.writeBytes("id\n1\n"); o.close()
        }
        def run(distribute: Boolean): (Double, Set[String]) = FanoutPin(distribute) {
          val t0 = System.nanoTime()
          val files = TxnLog.listSourceFiles(spark, src, Set(".csv")).toSet
          ((System.nanoTime() - t0) / 1e6, files)
        }
        MetaFanout.testOpDelayMs = delayMs
        val (serialMs, fS) = run(distribute = false)
        val (distMs, fD) = run(distribute = true)
        val tA = System.nanoTime()
        val fA = TxnLog.listSourceFiles(spark, src, Set(".csv")).toSet
        val adaptiveMs = (System.nanoTime() - tA) / 1e6
        MetaFanout.testOpDelayMs = 0L
        require(fS == fD && fS == fA && fS.size == d * 4,
          s"listing parity violated at d=$d")
        println(f"dirs=$d%5d   serial=${serialMs}%8.0f ms  " +
          f"distributed=${distMs}%8.0f ms  adaptive=${adaptiveMs}%8.0f ms  " +
          f"winner=${if (distMs < serialMs) "distributed" else "serial"}")
      }

      println("-- bloom sidecar footer reads (ops = footer opens per " +
        "staged file; the write itself is a shared constant per leg) --")
      for (k <- Seq(32, 128)) {
        import spark.implicits._
        def write(tag: String, distribute: Option[Boolean]): (Double, Seq[Long]) = {
          val t = s"$root/bloomftr_${k}_$tag"
          MetaFanout.testDistribute = distribute
          val t0 = System.nanoTime()
          try TxnLog.createWithBloom(spark, t,
            spark.range(k * 50L).map(i => (i, s"s$i")).toDF("id", "s")
              .repartition(k), Seq("id"))
          finally MetaFanout.testDistribute = None
          val ms = (System.nanoTime() - t0) / 1e6
          val kept = graft.sources.TxnBloom.filterByBloom(spark, t, "id",
            Seq(7L, k * 25L), TxnLog.snapshotFull(spark, t))
          val ids = spark.read.parquet(kept.map(r => s"$t/${r._1}"): _*)
            .select("id").as[Long].collect().toSeq.sorted
          (ms, ids)
        }
        MetaFanout.testOpDelayMs = delayMs
        val (serialMs, iS) = write("serial", Some(false))
        val (distMs, iD) = write("dist", Some(true))
        val (adaptiveMs, iA) = write("adaptive", None)
        MetaFanout.testOpDelayMs = 0L
        require(iS == iD && iS == iA,
          s"bloom footer parity violated at k=$k")
        println(f"files=$k%5d  serial=${serialMs}%8.0f ms  " +
          f"distributed=${distMs}%8.0f ms  adaptive=${adaptiveMs}%8.0f ms  " +
          f"winner=${if (distMs < serialMs) "distributed" else "serial"}")
      }
    } finally {
      MetaFanout.testOpDelayMs = 0L
      f.delete(new Path(root), true)
      spark.stop()
    }
  }
}

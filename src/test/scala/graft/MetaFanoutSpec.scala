package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{MetaFanout, TxnBloom, TxnLog}

/** Pins for the adaptive metadata fan-out behind every driver-side
  * metadata loop: the serial and distributed legs must return the
  * SAME verdicts — a crossover that changed answers would be a
  * correctness bug wearing a performance hat — and the measured route
  * itself must pick the driver on a local FS and one Spark job at
  * object-store latency. */
class MetaFanoutSpec extends AnyFunSuite with SparkSpec {

  private def root(tag: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_metafanout_${spark.sparkContext.applicationId}_$tag"

  test("adaptiveMap serial and distributed legs agree (order preserved)") {
    val items = (0 until 500).map(_.toLong)
    def run(): Seq[Long] = MetaFanout.adaptiveMap(spark, items) { (_, x) =>
      if (x % 3 == 0) Nil else Seq(x * 2)
    }
    val serial = FanoutPin(distribute = false)(run())
    val dist = FanoutPin(distribute = true)(run())
    val adaptive = run()
    assert(serial === dist)
    assert(serial === adaptive)
    assert(serial === items.filter(_ % 3 != 0).map(_ * 2))
  }

  test("bloom sidecar footer reads: distributed leg builds identical segments") {
    import spark.implicits._
    def build(tag: String): (String, Seq[Long]) = {
      val t = root(s"bloomftr_$tag")
      val p = new Path(t)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val df = (0L until 400L).map(i => (i, s"n$i")).toDF("id", "s")
      TxnLog.createWithBloom(spark, t, df.repartition(8), Seq("id"))
      val probes = Seq(3L, 77L, 399L)
      val kept = graft.sources.TxnBloom.filterByBloom(spark, t, "id",
        probes, TxnLog.snapshotFull(spark, t))
      // The m-bit widths derive from the footer row counts the fan-out
      // read: identical widths ⇒ identical bitsets ⇒ the same rows
      // survive the file screen (rel names differ per table — compare
      // the surviving row ids, not paths).
      val ids = spark.read.parquet(kept.map(r => s"$t/${r._1}"): _*)
        .select("id").as[Long].collect().toSeq.sorted
      (t, ids)
    }
    val (_, serialKept) = FanoutPin(distribute = false)(build("serial"))
    val (_, distKept) = FanoutPin(distribute = true)(build("dist"))
    assert(serialKept === distKept)
  }

  test("FSCK reports the same missing files on the distributed probe") {
    import spark.implicits._
    val t = root("fsck")
    val p = new Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    TxnLog.create(spark, t,
      (0L until 40L).map(i => (i, s"s$i")).toDF("id", "s").repartition(4))
    val lost = TxnLog.snapshot(spark, t).sorted.take(2)
    val lostRows = lost.map(rel =>
      spark.read.parquet(s"$t/$rel").count()).sum
    lost.foreach(rel => assert(fs.delete(new Path(t, rel), false)))
    def dry(): Seq[String] = TxnLog.fsck(spark, t, dryRun = true)
    val serialSaw = FanoutPin(distribute = false)(dry())
    val distSaw = FanoutPin(distribute = true)(dry())
    assert(serialSaw === distSaw)
    assert(serialSaw.sorted === lost)
    // The distributed leg repairs identically.
    assert(FanoutPin(distribute = true)(TxnLog.fsck(spark, t)) === distSaw)
    assert(TxnLog.read(spark, t).count() === 40L - lostRows)
    fs.delete(p, true)
  }

  test("COPY INTO source listing: distributed walk finds the same files " +
       "and the glob still applies") {
    val src = root("copylist")
    val p = new Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    // A nested landing zone: 6 dirs × 4 files + hidden/system noise.
    for (d <- 0 until 6; i <- 0 until 4) {
      val f = fs.create(new Path(src, s"day$d/up$i.csv"), true)
      f.writeBytes("id\n1\n"); f.close()
    }
    fs.create(new Path(src, "day0/_SUCCESS"), true).close()
    fs.create(new Path(src, ".hidden/x.csv"), true).close()
    fs.create(new Path(src, "day1/notdata.txt"), true).close()
    def list(): Seq[String] =
      TxnLog.listSourceFiles(spark, src, Set(".csv", ".tsv")).sorted
    val serial = FanoutPin(distribute = false)(list())
    val dist = FanoutPin(distribute = true)(list())
    assert(serial === dist)
    assert(serial.size === 24)
    assert(serial.forall(_.endsWith(".csv")))
    assert(!serial.exists(_.contains(".hidden")))
    fs.delete(p, true)
  }

  test("the measured route: cold bloom sources stay on the driver at " +
       "local latency and fan out as one job at object-store latency") {
    val t = root("route")
    val p = new Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    // 48 one-entry segments = 48 cold sources. Even files carry an
    // all-ones bitset (always kept), odd ones all-zeros (always pruned).
    val rels = (0 until 48).map(i => f"stage-r/part-$i%03d.parquet")
    rels.zipWithIndex.foreach { case (rel, i) =>
      TxnBloom.writeSegment(fs, new Path(t, f"_bloom/id/seg-$i%03d.gbs"),
        Seq((rel, 1L << 10, Array.fill[Byte](128)(if (i % 2 == 0) -1 else 0))))
    }
    val files = rels.map(_ -> TxnLog.FileState(None, None))
    def probe(): Seq[String] = {
      TxnBloom.clearProbeCaches()
      TxnBloom.filterByBloom(spark, t, "id", Seq(42L), files).map(_._1)
    }
    probe() // warm the code path so the timed sample measures I/O only
    // The route is measured: a GC pause inside the 8-op sample could
    // legitimately fan out, so the local leg gets three tries.
    var local: Seq[String] = Nil
    assert((1 to 3).exists(_ => jobsDuring { local = probe() } == 0))
    assert(local === rels.indices.filter(_ % 2 == 0).map(rels))
    MetaFanout.testOpDelayMs = 50L
    var remote: Seq[String] = Nil
    val jobs = try jobsDuring { remote = probe() } finally MetaFanout.testOpDelayMs = 0L
    assert(jobs === 1)
    assert(remote.toSet === local.toSet)
    fs.delete(p, true)
  }

  test("a 64-file local write reads its footers on the driver: no extra job") {
    import spark.implicits._
    val df = (0L until 640L).map(i => (i, s"n$i")).toDF("id", "s").repartition(64)
    def write(tag: String): Int = {
      val t = root(s"wide_$tag")
      val p = new Path(t)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      try jobsDuring(TxnLog.create(spark, t, df)) finally fs.delete(p, true)
    }
    val serial = FanoutPin(distribute = false)(write("serial"))
    // At about 6 ms a footer open (a fresh Hadoop Configuration per
    // open) the 8-op sample projected past the crossover and the
    // footers fanned out as one more job: serial + 1 before the open
    // took the caller's conf. The route is measured, so a GC pause in
    // the sample gets three tries, as above.
    var seen = Seq.empty[Int]
    val same = (1 to 3).exists { i => seen :+= write(s"adaptive$i"); seen.last == serial }
    info(s"64-file create: $serial jobs serial, measured route ${seen.mkString(", ")}")
    assert(same)
  }

  test("a retired per-site fan-out key fails loudly, naming itself") {
    assert(MetaFanout.RetiredKeys.size === 12)
    MetaFanout.RetiredKeys.foreach { k =>
      spark.conf.set(k, "0")
      val e =
        try intercept[IllegalArgumentException](
          MetaFanout.adaptiveMap(spark, Seq(1))((_, x) => Seq(x)))
        finally spark.conf.unset(k)
      assert(e.getMessage.contains(k) && e.getMessage.contains("retired"))
    }
    spark.conf.set("spark.graft.copy.list.localOps", "0")
    val e =
      try intercept[IllegalArgumentException](
        TxnLog.listSourceFiles(spark, root("retired"), Set(".csv")))
      finally spark.conf.unset("spark.graft.copy.list.localOps")
    assert(e.getMessage.contains("spark.graft.copy.list.localOps"))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxnLog

/** [[TxnLog.cleanupLog]] — the metadata half of vacuum: commit entries
  * a checkpoint supersedes retire; every retained read still resolves
  * (checkpoint + tail), cleaned versions refuse loudly. */
class LogCleanupSpec extends AnyFunSuite with SparkSpec {

  private def freshTable(tag: String): String = {
    val t = s"${sys.props("java.io.tmpdir")}/graft_logclean_${spark.sparkContext.applicationId}_$tag"
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    t
  }

  private def logFiles(t: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(t, "_log")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath.getName).sorted.toSeq
  }

  test("cleanup deletes entries below the covering checkpoint; reads, " +
       "time travel in the window, and new commits all still work") {
    import spark.implicits._
    val t = freshTable("basic")
    TxnLog.create(spark, t, Seq((0L, "r0")).toDF("id", "s"))
    (1L to 24L).foreach(i =>
      TxnLog.append(spark, t, Seq((i, s"r$i")).toDF("id", "s")))
    // Checkpoints at v10 and v20 (interval 10).
    assert(logFiles(t).count(_.startsWith("c")) === 2)

    val deleted = TxnLog.cleanupLog(spark, t, retainVersions = 5)
    // keepFrom = 20, cpCut = 20: v0..v19 and c10 retire.
    assert(deleted.size === 21, s"got ${deleted.sorted}")
    assert(!logFiles(t).exists(_ == "v00000000.json"))
    assert(logFiles(t).contains("c00000020.json"))
    assert(logFiles(t).contains("v00000020.json"))

    // The latest snapshot is intact.
    assert(TxnLog.read(spark, t).count() === 25L)
    // Time travel within the window and AT the checkpoint works…
    assert(TxnLog.read(spark, t, Some(22L)).count() === 23L)
    assert(TxnLog.read(spark, t, Some(20L)).count() === 21L)
    // …below it refuses loudly.
    val e = intercept[IllegalArgumentException] {
      TxnLog.read(spark, t, Some(5L))
    }
    assert(e.getMessage.contains("cleaned"))

    // The table keeps committing and checkpointing normally after.
    (25L to 30L).foreach(i =>
      TxnLog.append(spark, t, Seq((i, s"r$i")).toDF("id", "s")))
    assert(TxnLog.read(spark, t).count() === 31L)
    assert(TxnLog.read(spark, t, Some(30L)).count() === 31L)
  }

  test("checkpoint-only resolution: a version whose v-file was cleaned " +
       "but that HAS a checkpoint resolves from the checkpoint alone") {
    import spark.implicits._
    val t = freshTable("ckptonly")
    TxnLog.create(spark, t, Seq((0L, "r0")).toDF("id", "s"))
    (1L to 12L).foreach(i =>
      TxnLog.append(spark, t, Seq((i, s"r$i")).toDF("id", "s")))
    // Manually delete v10's file, keeping c10 — the cleaned shape.
    val p = new org.apache.hadoop.fs.Path(t, "_log/v00000010.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(p, false))
    assert(TxnLog.read(spark, t, Some(10L)).count() === 11L)
    assert(TxnLog.read(spark, t).count() === 13L)
  }

  test("a stream resuming from a cleaned-away offset fails loudly " +
       "(the log-retention-vs-stream-lag trade), a fresh stream works") {
    import spark.implicits._
    val t = freshTable("streamlag")
    TxnLog.create(spark, t, Seq((0L, "r0")).toDF("id", "s"))
    val ckpt = freshTable("streamlagckpt")
    val dst = s"${freshTable("streamlagdst")}/tbl"
    // Tail into a lake sink (checkpoint-recoverable), then fall far
    // behind while commits + cleanup run.
    def tail(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft-txn").load(t)
        .writeStream.format("graft-txn")
        .option("path", dst).option("streamId", "lag")
        .option("checkpointLocation", ckpt).start()
    val q0 = tail()
    try q0.processAllAvailable() finally q0.stop()
    (1L to 24L).foreach(i =>
      TxnLog.append(spark, t, Seq((i, s"r$i")).toDF("id", "s")))
    assert(TxnLog.cleanupLog(spark, t, retainVersions = 3).nonEmpty)
    // The lagging stream's next offset was retired: loud failure.
    val q1 = tail()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    q1.stop()
    // A FRESH stream (snapshot start) serves the full current state.
    val q2 = spark.readStream.format("graft-txn").load(t)
      .writeStream.format("memory").queryName("lag_fresh").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("lag_fresh").count() === 25L)
    } finally q2.stop()
  }

  test("exactly-once survives cleanup: checkpoints carry stream marks, " +
       "so a replayed batch is refused after its version file is gone") {
    import spark.implicits._
    val t = freshTable("streammark")
    TxnLog.create(spark, t, Seq((0L, "r0")).toDF("id", "s"))
    val batch = Seq((100L, "b0")).toDF("id", "s")
    assert(TxnLog.appendBatch(spark, t, batch, "sink", 0).isDefined)
    (1L to 20L).foreach(i =>
      TxnLog.append(spark, t, Seq((i, s"r$i")).toDF("id", "s")))
    assert(TxnLog.cleanupLog(spark, t, retainVersions = 5)
      .contains("v00000001.json"), "the marker's version file must retire")
    assert(TxnLog.lastCommittedBatch(spark, t, "sink").contains(0L))
    assert(TxnLog.appendBatch(spark, t, batch, "sink", 0).isEmpty)
    assert(TxnLog.read(spark, t).filter(col("id") === 100L).count() === 1L)
  }

  test("no checkpoint at-or-below the retention floor: cleanup is a " +
       "no-op rather than breaking a retained replay") {
    import spark.implicits._
    val t = freshTable("noop")
    TxnLog.create(spark, t, Seq((0L, "r0")).toDF("id", "s"))
    (1L to 5L).foreach(i =>
      TxnLog.append(spark, t, Seq((i, s"r$i")).toDF("id", "s")))
    assert(TxnLog.cleanupLog(spark, t, retainVersions = 2) === Nil)
    assert(TxnLog.read(spark, t, Some(0L)).count() === 1L)
  }
}

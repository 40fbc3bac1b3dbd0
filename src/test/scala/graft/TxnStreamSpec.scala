package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxnLog

/** The graft-txn streaming SOURCE: tailing a TxnLog table's commit log
  * as a Structured Streaming input. Pins the exactly-once contract —
  * initial snapshot, per-commit increments, the non-append fail-fast,
  * and the end-to-end lake-to-lake pipeline with the idempotent
  * appendBatch sink under duplicate delivery. */
class TxnStreamSpec extends AnyFunSuite with SparkSpec {

  private def freshTable(name: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_txnstream_${name}_${System.nanoTime()}"
    dir
  }

  /** Each version's commit time (epoch millis), as `history` reports it. */
  private def commitMillis(table: String): Map[Long, Long] = {
    import spark.implicits._
    TxnLog.history(spark, table).select("version", "commit_ts")
      .as[(Long, java.sql.Timestamp)].collect()
      .map { case (v, t) => v -> t.getTime }.toMap
  }

  test("initial snapshot, then each append arrives exactly once") {
    import spark.implicits._
    val table = freshTable("tail")
    TxnLog.create(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))

    val q = spark.readStream.format("graft-txn").load(table)
      .writeStream.format("memory").queryName("txn_tail").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txn_tail").as[(Long, String)].collect().sorted
        === Array((1L, "a"), (2L, "b")))

      TxnLog.append(spark, table, Seq((3L, "c")).toDF("id", "s"))
      TxnLog.append(spark, table, Seq((4L, "d"), (5L, "e")).toDF("id", "s"))
      q.processAllAvailable()
      assert(spark.table("txn_tail").as[(Long, String)].collect().sorted
        === Array((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    } finally q.stop()
  }

  test("a PARTITIONED table streams with its partition column values " +
       "attached (snapshot and incremental tails alike)") {
    import spark.implicits._
    val table = freshTable("parttail")
    TxnLog.createPartitioned(spark, table,
      Seq((1L, "a", "en"), (2L, "b", "de")).toDF("id", "s", "lang"),
      Seq("lang"))
    val q = spark.readStream.format("graft-txn").load(table)
      .writeStream.format("memory").queryName("txn_parttail").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txn_parttail").as[(Long, String, String)]
        .collect().sorted === Array((1L, "a", "en"), (2L, "b", "de")))
      TxnLog.append(spark, table, Seq((3L, "c", "fr")).toDF("id", "s", "lang"))
      q.processAllAvailable()
      assert(spark.table("txn_parttail").as[(Long, String, String)]
        .collect().sorted
        === Array((1L, "a", "en"), (2L, "b", "de"), (3L, "c", "fr")),
        "the incremental leg must attach partition values from paths too")
    } finally q.stop()
  }

  test("a pre-stream compaction is invisible (snapshot start), but a " +
       "mid-stream rewrite fails fast without ignoreChanges") {
    import spark.implicits._
    val table = freshTable("rewrite")
    TxnLog.create(spark, table, Seq((1L, "a")).toDF("id", "s"))
    TxnLog.append(spark, table, Seq((2L, "b")).toDF("id", "s"))
    TxnLog.compact(spark, table, targetFiles = 1) // pre-stream: fine

    val q = spark.readStream.format("graft-txn").load(table)
      .writeStream.format("memory").queryName("txn_rw").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txn_rw").count() === 2)

      TxnLog.compact(spark, table, targetFiles = 2) // mid-stream: not an append
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getCause.getMessage.contains("non-append commit"))
    } finally q.stop()
  }

  test("ignoreChanges accepts a rewrite commit (documented at-least-once)") {
    import spark.implicits._
    val table = freshTable("ignore")
    TxnLog.create(spark, table, Seq((1L, "a")).toDF("id", "s"))
    val q = spark.readStream.format("graft-txn")
      .option("ignoreChanges", "true").load(table)
      .writeStream.format("memory").queryName("txn_ig").start()
    try {
      q.processAllAvailable()
      TxnLog.compact(spark, table, targetFiles = 1)
      q.processAllAvailable() // redelivers the compacted file, no failure
      assert(spark.table("txn_ig").count() >= 1)
    } finally q.stop()
  }

  test("lake-to-lake: txn source -> appendBatch sink is exactly-once " +
       "even when a batch is delivered twice") {
    import spark.implicits._
    val src = freshTable("src")
    val dst = freshTable("dst")
    TxnLog.create(spark, src, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    TxnLog.create(spark, dst,
      spark.emptyDataset[(Long, String)].toDF("id", "s"))

    val q = spark.readStream.format("graft-txn").load(src)
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // Deliver every batch TWICE — the post-failure replay shape.
        TxnLog.appendBatch(spark, dst, batch, "pipe", id)
        TxnLog.appendBatch(spark, dst, batch, "pipe", id)
        ()
      }.start()
    try {
      q.processAllAvailable()
      TxnLog.append(spark, src, Seq((3L, "c")).toDF("id", "s"))
      q.processAllAvailable()
      assert(TxnLog.read(spark, dst).as[(Long, String)].collect().sorted
        === Array((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("maxFilesPerTrigger drains a commit burst as several bounded " +
       "batches, losing nothing") {
    import spark.implicits._
    val table = freshTable("rate")
    TxnLog.create(spark, table, Seq((0L, "z")).toDF("id", "s"))
    // A burst: 3 appends of 2 files each, landed BEFORE the stream's
    // first increment trigger.
    (1 to 3).foreach { i =>
      TxnLog.append(spark, table,
        Seq((i * 10L, "a"), (i * 10L + 1, "b")).toDF("id", "s").repartition(2))
    }
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-txn")
      .option("maxFilesPerTrigger", "2")
      // Skip the snapshot so every batch is a rate-limited increment.
      .option("startingVersion", "1")
      .load(table)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = b.count(); if (n > 0) batchSizes.add(n); ()
      }.start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val sizes = batchSizes.asScala.toSeq
      assert(sizes.sum === 6, s"burst rows lost/duplicated: $sizes")
      // 2-file cap over 2-file commits → one commit per batch.
      assert(sizes.length === 3 && sizes.forall(_ === 2), s"batches: $sizes")
    } finally q.stop()
  }

  test("startingVersion=latest tails only post-stream commits (no " +
       "history replay)") {
    import spark.implicits._
    val table = freshTable("fromlatest")
    TxnLog.create(spark, table, Seq((1L, "old")).toDF("id", "s"))
    TxnLog.append(spark, table, Seq((2L, "old")).toDF("id", "s"))
    val q = spark.readStream.format("graft-txn")
      .option("startingVersion", "latest").load(table)
      .writeStream.format("memory").queryName("txn_sl").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txn_sl").count() === 0, "history must not replay")
      TxnLog.append(spark, table, Seq((3L, "new")).toDF("id", "s"))
      q.processAllAvailable()
      assert(spark.table("txn_sl").as[(Long, String)].collect().toSeq
        === Seq((3L, "new")))
    } finally q.stop()
  }

  test("startingTimestamp tails from the first commit at-or-after the " +
       "timestamp; a future timestamp tails only new commits") {
    import spark.implicits._
    val table = freshTable("fromts")
    TxnLog.create(spark, table, Seq((1L, "old")).toDF("id", "s"))
    TxnLog.append(spark, table, Seq((2L, "mid")).toDF("id", "s"))
    // Commit times are the entries' `ts`: take v1's as the cutoff, so
    // the stream must deliver v1's adds onward but NOT the v0 snapshot.
    val v1ts = commitMillis(table)(1L)
    // Ensure v0 strictly predates the cutoff on a coarse clock.
    val v0 = java.nio.file.Paths.get(table, "_log", "v00000000.json")
    java.nio.file.Files.writeString(v0, java.nio.file.Files.readString(v0)
      .replaceFirst("\"ts\"\\s*:\\s*\\d+", "\"ts\":" + (v1ts - 10000)))
    TxnLog.clearHistoryCache()
    assert(commitMillis(table)(0L) === v1ts - 10000)
    val q = spark.readStream.format("graft-txn")
      .option("startingTimestamp", v1ts.toString).load(table)
      .writeStream.format("memory").queryName("txn_ts").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txn_ts").as[(Long, String)].collect().toSeq
        === Seq((2L, "mid")), "must start at the first commit >= cutoff")
      TxnLog.append(spark, table, Seq((3L, "new")).toDF("id", "s"))
      q.processAllAvailable()
      assert(spark.table("txn_ts").as[(Long, String)].collect().sorted.toSeq
        === Seq((2L, "mid"), (3L, "new")))
    } finally q.stop()
    // A timestamp past every commit = tail-only (like latest).
    val q2 = spark.readStream.format("graft-txn")
      .option("startingTimestamp", (System.currentTimeMillis() + 3600000L).toString)
      .load(table)
      .writeStream.format("memory").queryName("txn_ts2").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("txn_ts2").count() === 0)
      TxnLog.append(spark, table, Seq((4L, "tail")).toDF("id", "s"))
      q2.processAllAvailable()
      assert(spark.table("txn_ts2").as[(Long, String)].collect().toSeq
        === Seq((4L, "tail")))
    } finally q2.stop()
    // Mutually exclusive with startingVersion.
    intercept[Exception] {
      spark.readStream.format("graft-txn")
        .option("startingVersion", "0").option("startingTimestamp", "0")
        .load(table)
        .writeStream.format("memory").queryName("txn_ts3").start()
    }
  }

  test("startingTimestamp on a copied table starts at the version " +
       "committed at that time, not at the copy time") {
    import spark.implicits._
    val src = freshTable("tscopy_src")
    TxnLog.create(spark, src, Seq((1L, "old")).toDF("id", "s"))
    Thread.sleep(30)
    TxnLog.append(spark, src, Seq((2L, "mid")).toDF("id", "s"))
    Thread.sleep(30)
    TxnLog.append(spark, src, Seq((3L, "new")).toDF("id", "s"))
    val v1ts = commitMillis(src)(1L)
    Thread.sleep(30)
    // A plain copy: every copied file gets a fresh mtime.
    val dst = freshTable("tscopy_dst")
    val conf = spark.sparkContext.hadoopConfiguration
    val srcP = new org.apache.hadoop.fs.Path(src)
    val fs = srcP.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, srcP, fs,
      new org.apache.hadoop.fs.Path(dst), false, conf)
    val q = spark.readStream.format("graft-txn")
      .option("startingTimestamp", v1ts.toString).load(dst)
      .writeStream.format("memory").queryName("txn_tscopy").start()
    try {
      q.processAllAvailable()
      assert(spark.table("txn_tscopy").as[(Long, String)].collect().sorted.toSeq
        === Seq((2L, "mid"), (3L, "new")), "must start at v1, not at v0")
    } finally q.stop()
  }

  test("the graft-txn SINK lands micro-batches exactly once through " +
       "appendBatch (format-level lake-to-lake pipeline)") {
    import spark.implicits._
    val src = freshTable("sinksrc")
    val dst = freshTable("sinkdst")
    val ckpt = freshTable("sinkckpt")
    TxnLog.create(spark, src, Seq((1L, "a")).toDF("id", "s"))

    def run(): Unit = {
      val q = spark.readStream.format("graft-txn").load(src)
        .writeStream.format("graft-txn")
        .option("path", dst).option("streamId", "p1")
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(TxnLog.read(spark, dst).as[(Long, String)].collect().toSeq
      === Seq((1L, "a")))
    // Restart the query over the same checkpoint: nothing re-lands;
    // new source commits flow through.
    TxnLog.append(spark, src, Seq((2L, "b")).toDF("id", "s"))
    run()
    assert(TxnLog.read(spark, dst).as[(Long, String)].collect().sorted.toSeq
      === Seq((1L, "a"), (2L, "b")))
    // The sink refuses anonymous dedup domains and non-append modes.
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-txn").load(src)
        .writeStream.format("graft-txn").option("path", dst).start()
    }
  }

  test("auto-compaction folds small-file hygiene into the sink: the " +
       "ingested table ends with fewer live files, identical rows") {
    import spark.implicits._
    val dst = freshTable("acdst")
    TxnLog.create(spark, dst, Seq((0L, "seed")).toDF("id", "s"))
    spark.conf.set("spark.graft.autoCompact.minFiles", "4")
    try {
      // Each appendBatch is one tiny file; past 4 small files the sink
      // compacts them down as part of its own commit cycle.
      (1L to 8L).foreach(b =>
        TxnLog.appendBatch(spark, dst, Seq((b, s"r$b")).toDF("id", "s"),
          "ac-stream", b))
      val live = TxnLog.snapshot(spark, dst).size
      assert(live < 9, s"auto-compact must have merged small files ($live)")
      assert(TxnLog.read(spark, dst).count() === 9L)
      // Exactly-once replay is untouched: a re-delivered batch no-ops.
      assert(TxnLog.appendBatch(spark, dst,
        Seq((5L, "dup")).toDF("id", "s"), "ac-stream", 5L).isEmpty)
      assert(TxnLog.read(spark, dst).count() === 9L)
    } finally spark.conf.unset("spark.graft.autoCompact.minFiles")
  }

  test("readChangeFeed streams DML commits as net _change-tagged rows " +
       "and an incremental MV folded from them matches the table") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val table = freshTable("cdf")
    TxnLog.create(spark, table,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"))

    // Incremental MV: running SUM(v), folded as +insert / -delete.
    val sum = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("graft-txn")
      .option("readChangeFeed", "true").load(table)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach { r =>
          val delta = r.getAs[Long]("v")
          if (r.getAs[String]("_change") == "insert") sum.addAndGet(delta)
          else sum.addAndGet(-delta)
        }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(sum.get === 60L, "initial snapshot must stream as inserts")

      TxnLog.updateMoR(spark, table, col("id") === 2L,
        Map("v" -> (col("v") + 5L)))            // 20 -> 25
      TxnLog.deleteMoR(spark, table, col("id") === 1L) // -10
      q.processAllAvailable()
      assert(sum.get === 55L, "update must stream as delete+insert, delete as delete")

      // A pure compaction is a no-op in the feed (rows only moved).
      TxnLog.compact(spark, table, targetFiles = 1)
      TxnLog.append(spark, table, Seq((9L, 100L)).toDF("id", "v"))
      q.processAllAvailable()
      assert(sum.get === 155L)
      // The MV equals the table recomputed from scratch.
      assert(sum.get === TxnLog.read(spark, table)
        .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0))
    } finally q.stop()
  }

  test("checkpointed restart resumes from the committed log position") {
    import spark.implicits._
    val table = freshTable("resume")
    val ckpt = freshTable("ckpt")
    TxnLog.create(spark, table, Seq((1L, "a")).toDF("id", "s"))

    val run1 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q1 = spark.readStream.format("graft-txn").load(table)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(Long, String)].collect().foreach(run1.add); ()
      }.start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(run1.toArray(Array.empty[(Long, String)]).toSeq === Seq((1L, "a")))

    TxnLog.append(spark, table, Seq((2L, "b")).toDF("id", "s"))
    val run2 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q2 = spark.readStream.format("graft-txn").load(table)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.as[(Long, String)].collect().foreach(run2.add); ()
      }.start()
    try {
      q2.processAllAvailable()
      // Only the post-restart commit: v0 was consumed under q1's run
      // and the offset checkpoint carries the log position across.
      assert(run2.toArray(Array.empty[(Long, String)]).toSeq === Seq((2L, "b")))
    } finally q2.stop()
  }
}

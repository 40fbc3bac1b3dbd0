package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.{BeforeAndAfterAll, BeforeAndAfterEach}
import org.scalatest.Suite

/** Shared local SparkSession for specs. One session per suite; small
  * shuffle parallelism keeps tiny-fixture tests fast. */
trait SparkSpec extends BeforeAndAfterAll with BeforeAndAfterEach { self: Suite =>

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()

  /** Spark jobs submitted while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(l)
    try { body; Bridge.drainListeners(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  /** Queries that stage intermediates register them in
    * [[graft.queries.StagedCache]]; Bench/Verify release per query, and
    * tests must too — the session is JVM-wide, so an unreleased persist
    * would leak InMemoryRelations into every later suite's plans. */
  override def afterEach(): Unit = {
    graft.queries.StagedCache.releaseAll()
    super.afterEach()
  }
}

object SparkSpec {
  // One JVM-wide session: suites run sequentially in the forked test JVM
  // and session startup dominates tiny-fixture test time.
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TIMESTAMP_MICROS, not the INT96 default: INT96 carries no
      // usable footer statistics, so timestamp columns would lose
      // stats-in-log skipping entirely.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.ForkFreeLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

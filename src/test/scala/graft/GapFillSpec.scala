package graft

import org.scalatest.funsuite.AnyFunSuite

/** q_gap_fill's scale-adaptive staging: below the stage-bytes
  * threshold the query keeps its original two-scan plan; above it the
  * hourly aggregate stages once and the spine derives from it. The
  * two paths must be row-identical — the spine bounds are min/max of
  * the hour column, which survive the GROUP BY user_id, hr unchanged. */
class GapFillSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("staged and two-scan paths produce identical rows") {
    val fn = SparkEntry.queries("q_gap_fill")
    def rows(stageBytes: Long): Seq[String] = {
      spark.conf.set("spark.graft.gapfill.stageBytes", stageBytes.toString)
      try fn(spark, sf).collect().map(_.toString).toSeq
      finally {
        spark.conf.unset("spark.graft.gapfill.stageBytes")
        graft.queries.StagedCache.releaseAll()
      }
    }
    val twoScan = rows(Long.MaxValue) // threshold unreachably high
    val staged = rows(0L)             // every scan counts as big
    assert(staged.nonEmpty)
    assert(staged === twoScan)
  }

  test("default threshold keeps tiny fixtures on the two-scan plan") {
    // No StagedCache registration must happen at the small sf under
    // the default threshold (the driver's bench comparability).
    val fn = SparkEntry.queries("q_gap_fill")
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    assert(graft.queries.StagedCache.stagedCount === 0)
  }

  test("a malformed threshold fails naming its key and value") {
    spark.conf.set("spark.graft.gapfill.stageBytes", "8MB")
    val err =
      try intercept[IllegalArgumentException](
        SparkEntry.queries("q_gap_fill")(spark, sf).collect())
      finally spark.conf.unset("spark.graft.gapfill.stageBytes")
    assert(err.getMessage.contains("spark.graft.gapfill.stageBytes"))
    assert(err.getMessage.contains("'8MB'"))
  }
}

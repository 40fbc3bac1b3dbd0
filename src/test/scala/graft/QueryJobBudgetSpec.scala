package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the two `llm_sf0.1` benchmark queries at sf0.1. A
  * job count is steal-proof where wall time is not, and at this size
  * the queries' time is mostly per-job fixed cost. Each query runs
  * build and action (into a noop sink) inside the count. */
class QueryJobBudgetSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.1"

  private def jobsOf(q: String): Int = {
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val n = jobsDuring(SparkEntry.queries(q)(spark, sf)
      .write.format("noop").mode("overwrite").save())
    info(s"$q: $n jobs")
    n
  }

  // 26 jobs before the driver census, the built band table and the
  // job-free table schema.
  test("q_triangle_count runs at most 10 Spark jobs at sf0.1") {
    assert(jobsOf("q_triangle_count") <= 10)
  }

  // 24 jobs before the driver-held model, the one staged embeddings
  // scan and the job-free table schema.
  test("q_ann_ivfpq runs at most 15 Spark jobs at sf0.1") {
    assert(jobsOf("q_ann_ivfpq") <= 15)
  }
}

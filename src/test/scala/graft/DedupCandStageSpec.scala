package graft

import org.scalatest.funsuite.AnyFunSuite

/** The sampled-shingle candidate generator's scale-adaptive staging:
  * below the stage-bytes threshold the self-join keeps its original
  * recompute-per-side plan; above it the capped (doc_id, h) table
  * stages once and both sides read the cache. Caching changes no rows
  * — the generator is deterministic (hash sampling + deterministic
  * SkewGuard split) — so both paths must be row-identical on every
  * consumer. */
class DedupCandStageSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(name: String, stageBytes: Long): Seq[String] = {
    spark.conf.set("spark.graft.dedup.candStageBytes", stageBytes.toString)
    try SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq
    finally {
      spark.conf.unset("spark.graft.dedup.candStageBytes")
      graft.queries.StagedCache.releaseAll()
    }
  }

  test("staged and recompute paths produce identical rows") {
    for (q <- Seq("q_containment_pairs", "q_ngram_jaccard")) {
      val plain = rows(q, Long.MaxValue) // threshold unreachably high
      val staged = rows(q, 0L)           // every corpus counts as big
      assert(plain.nonEmpty, q)
      assert(staged === plain, q)
    }
  }

  test("default threshold keeps tiny fixtures on the recompute plan") {
    // Only the hashed-shingle base may stage at the small sf under the
    // default threshold (the driver's bench comparability): the
    // candidate table itself must not register.
    SparkEntry.queries("q_containment_pairs")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    assert(graft.queries.StagedCache.stagedCount === 1)
    graft.queries.StagedCache.releaseAll()
  }

  test("a malformed threshold fails naming its key and value") {
    spark.conf.set("spark.graft.dedup.candStageBytes", "1MiB")
    val err =
      try intercept[IllegalArgumentException](
        SparkEntry.queries("q_containment_pairs")(spark, sf).collect())
      finally spark.conf.unset("spark.graft.dedup.candStageBytes")
    assert(err.getMessage.contains("spark.graft.dedup.candStageBytes"))
    assert(err.getMessage.contains("'1MiB'"))
  }
}

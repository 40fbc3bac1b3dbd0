package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.DedupQueries

/** q_triangle_count's driver census against its distributed census:
  * the same row and the same schema on hand-built graphs and on the
  * sf0.01 near-dup graph. */
class TriangleCensusSpec extends AnyFunSuite with SparkSpec {

  private def both(edges: Seq[(Long, Long)]): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    (DedupQueries.localTriangleCensus(spark, edges),
      DedupQueries.distributedTriangleCensus(edges.toDF("doc_a", "doc_b")))
  }

  /** Local == distributed (row and schema); returns the row. */
  private def census(edges: Seq[(Long, Long)]): Row = {
    val (local, dist) = both(edges)
    assert(local.schema === dist.schema)
    val l = local.collect().toSeq
    assert(l === dist.collect().toSeq)
    assert(l.size === 1)
    l.head
  }

  test("empty graph: no nodes, null wedges, gcc 0") {
    assert(census(Nil) === Row(0L, 0L, null, 0L, 0.0))
  }

  test("a star has wedges and no triangle") {
    assert(census((1L to 5L).map(0L -> _)) === Row(6L, 5L, 10L, 0L, 0.0))
  }

  test("K4: four triangles, gcc 1") {
    val k4 = for (a <- 0L to 3L; b <- a + 1 to 3L) yield (a, b)
    assert(census(k4) === Row(4L, 6L, 12L, 4L, 1.0))
  }

  test("(deg, id) ties orient to doc_a and count each triangle once") {
    // Every vertex of both triangles has degree 2: the orientation is
    // decided by id alone.
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L), (8L, 9L), (7L, 9L))
    assert(census(g) === Row(6L, 6L, 6L, 2L, 1.0))
  }

  test("a hub with closed leaf pairs; gcc rounds HALF_UP to 6 places") {
    // Hub 0 (degree 20) with leaves 1..20; leaves 1-2, 3-4, 5-6 closed.
    val g = (1L to 20L).map(0L -> _) ++ Seq((1L, 2L), (3L, 4L), (5L, 6L))
    // wedges: C(20,2) = 190 at the hub + 1 at each closed leaf = 196;
    // gcc = 9 / 196 = 0.0459183673…
    assert(census(g) === Row(21L, 23L, 196L, 3L, 0.045918))
  }

  test("q_triangle_count at sf0.01: the driver census equals the distributed one") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    def run(distributed: Boolean): (Seq[Row], org.apache.spark.sql.types.StructType) = {
      DedupQueries.testDistributedCensus = distributed
      try {
        val df = SparkEntry.queries("q_triangle_count")(spark, sf)
        (df.collect().toSeq, df.schema)
      } finally {
        DedupQueries.testDistributedCensus = false
        graft.queries.StagedCache.releaseAll()
      }
    }
    val (local, ls) = run(distributed = false)
    val (dist, ds) = run(distributed = true)
    assert(ls === ds)
    assert(local === dist)
    assert(local.head.getLong(3) > 0L, "the sf0.01 graph closes triangles")
  }
}

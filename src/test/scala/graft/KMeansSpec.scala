package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.VectorQueries

/** Pins the q_kmeans trainer's defining property: Lloyd iterations
  * never increase total inertia (each assign step is a per-vector
  * argmin; each recompute step is the per-cell mean, the L2-optimal
  * center). A wrong argmin order, a mean computed over the wrong key,
  * or a distance formula drift all break the monotone chain. (The
  * micro-unit rounding perturbs each step by ≤1e-6 per vector — far
  * below the inertia drops on this data — so the assertion holds with
  * a zero tolerance.)
  */
class KMeansSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def totalInertia(iters: Int): Long =
    VectorQueries.kmeansReport(spark, sf, iters)
      .collect().map(_.getLong(2)).sum

  test("total inertia is non-increasing across Lloyd iterations") {
    val chain = (1 to 3).map(totalInertia)
    chain.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"inertia rose across an iteration: $chain")
    }
    // And training actually moves: the first iteration must improve on
    // the seed assignment by a visible margin, or the trainer is a
    // no-op dressed as one.
    assert(chain.last < chain.head, s"training changed nothing: $chain")
  }

  test("µ²-unit distance chain is integer-exact on planted half-point geometry") {
    // The r7–r9 q_kmeans hash-red: distances carried as 6-dp-rounded
    // doubles land on representable halves that round engine-
    // dependently. The fixed chain carries ‖e−c‖²·1e12 as exact longs
    // via the norm identity n2u + c2u − 2·eᵤ·cᵤ. Plant difference
    // vectors whose squared distance sits EXACTLY on a half-µ point
    // (Σd² ≡ 500000 mod 1e6 — e.g. 700² + 100² = 500000): under the
    // old chain these were coin flips; now the DataFrame expression
    // must equal the BigInt model to the last digit, with zero
    // tolerance, at any magnitude the corpus can produce.
    val s = spark
    import s.implicits._
    import graft.functions.VectorFunctions.dotLong
    import org.apache.spark.sql.functions.{col, lit}
    val cases: Seq[(Seq[Long], Seq[Long])] = Seq(
      // half-point: Σd² = 500000
      (Seq(1000700L, 100L, 0L, 7L), Seq(1000000L, 0L, 0L, 7L)),
      // half-point at corpus magnitude (components ~6e5 µ)
      (Seq(577350L, -577350L, 700L, 100L), Seq(577350L, -577350L, 0L, 0L)),
      // another half decomposition: 500² + 400² + 300² = 500000
      (Seq(-500L, 400L, -300L, 0L), Seq(0L, 0L, 0L, 0L)),
      // off-half controls
      (Seq(1L, 2L, 3L, 4L), Seq(4L, 3L, 2L, 1L)),
      (Seq(599999L, -599999L, 599999L, -599999L), Seq(0L, 1L, -1L, 0L)))
    val got = cases.toDF("e_u", "c_u")
      .select(col("e_u"), col("c_u"),
        (dotLong(col("e_u"), col("e_u")) + dotLong(col("c_u"), col("c_u"))
          - lit(2L) * dotLong(col("e_u"), col("c_u"))).as("dist_u"))
      .collect()
    got.foreach { r =>
      val d = r.getSeq[Long](0).zip(r.getSeq[Long](1))
        .map { case (x, y) => BigInt(x - y).pow(2) }.sum
      assert(BigInt(r.getLong(2)) == d,
        s"dist_u ${r.getLong(2)} != exact $d for ${r.getSeq[Long](0)}")
    }
    assert(got.count(_.getLong(2) % 1000000L == 500000L) == 3,
      "planted half-point distances must survive exactly")
  }

  // ---- lloydStep: bit-identity against a plain-Scala reference Lloyd ----

  private type Model = VectorQueries.Model

  /** Half-away-from-zero rounding of sq/n, written from the remainder
    * (not the engine's (2·sq + n) DIV 2n form). */
  private def halfAway(sq: Long, n: Long): Long = {
    val a = BigInt(sq).abs
    val q = a / n + (if ((a % n) * 2 >= n) 1 else 0)
    (if (sq < 0) -q else q).toLong
  }

  private def sqNorm(v: Array[Long]): Long = v.map(x => x * x).sum

  /** One reference Lloyd step: flat argmin over every centroid by
    * (exact squared difference, cid), half-away integer per-cell mean,
    * cells with no members dropped. */
  private def refStep(vs: Seq[Array[Long]], model: Model): Model = {
    def d2(a: Array[Long], b: Array[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x - y).pow(2) }.sum
    val cells = vs.groupBy(v => model.minBy { case (cid, c, _) => (d2(v, c), cid) }._1)
    model.map(_._1).filter(cells.contains).map { cid =>
      val m = cells(cid)
      val cu = m.head.indices.map(p => halfAway(m.map(_(p)).sum, m.size)).toArray
      (cid, cu, sqNorm(cu))
    }
  }

  private def seedOf(vs: Seq[(Long, Array[Long])], k: Long): Model =
    vs.filter(_._1 < k).sortBy(_._1).map { case (id, v) => (id, v, sqNorm(v)) }

  private def show(m: Model): Seq[(Long, Seq[Long], Long)] =
    m.map { case (cid, cu, c2) => (cid, cu.toSeq, c2) }

  private def corpus(vs: Seq[(Long, Array[Long])]) = {
    val s = spark
    import s.implicits._
    vs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "e_u").repartition(3)
  }

  // Planted: c0/c1 sit 4 apart and (2,0,0,0) is EXACTLY between them
  // (tie → cid 0); c2 attracts no vector (dropped); c1's cell averages
  // to exact positive halves, c3's to exact NEGATIVE halves (-12.5,
  // -10.5, -9.5 → -13, -11, -10 half-away, not floor or half-even).
  private val planted: Seq[(Long, Array[Long])] = Seq(
    Array(0L, 0L, 0L, 0L), Array(4L, 0L, 0L, 0L),
    Array(100L, 100L, 100L, 100L), Array(-10L, -10L, -10L, -10L),
    Array(2L, 0L, 0L, 0L), Array(0L, 1L, 0L, 0L), Array(1L, 0L, 0L, 1L),
    Array(5L, 0L, 0L, 0L), Array(4L, 1L, 0L, 0L),
    Array(-12L, -11L, -10L, -9L), Array(-13L, -10L, -10L, -10L))
    .zipWithIndex.map { case (v, i) => (i.toLong + 100, v) }
  private val plantedSeed: Model = planted.take(4)
    .map { case (id, v) => (id - 100, v, sqNorm(v)) }

  private def sliceModel(m: Model, lo: Int, hi: Int): Model =
    m.map { case (cid, cu, _) => val s = cu.slice(lo, hi); (cid, s, sqNorm(s)) }

  test("one Lloyd step matches the reference on planted ties, halves and an empty cell") {
    val got = VectorQueries.lloydStep(corpus(planted.drop(4)), Seq(plantedSeed)).head
    val want = refStep(planted.drop(4).map(_._2), plantedSeed)
    assert(show(got) === show(want))
    assert(got.map(_._1) === Seq(0L, 1L, 3L), "the empty cell must drop out")
    assert(got.find(_._1 == 0L).get._2.toSeq === Seq(1L, 0L, 0L, 0L),
      "the exact tie must go to the smaller cid")
    assert(got.find(_._1 == 1L).get._2.toSeq === Seq(5L, 1L, 0L, 0L))
    assert(got.find(_._1 == 3L).get._2.toSeq === Seq(-13L, -11L, -10L, -10L))
  }

  test("a multi-book pass equals one pass per book") {
    import org.apache.spark.sql.functions.{col, slice}
    val df = corpus(planted.drop(4))
    val books = Seq(sliceModel(plantedSeed, 0, 2), sliceModel(plantedSeed, 2, 4))
    val multi = VectorQueries.lloydStep(df, books)
    val single = books.indices.map(m => VectorQueries.lloydStep(
      df.select(slice(col("e_u"), 2 * m + 1, 2).as("e_u")), Seq(books(m))).head)
    assert(multi.map(show) === single.map(show))
    val ref = books.indices.map(m =>
      refStep(planted.drop(4).map(_._2.slice(2 * m, 2 * m + 2)), books(m)))
    assert(multi.map(show) === ref.map(show))
  }

  /** 300 seeded integer vectors; vec 5 duplicates vec 4, so seed cid 5
    * ties cid 4 exactly at every vector and trains an empty cell. */
  private def randomCorpus(dim: Int): Seq[(Long, Array[Long])] = {
    val r = new scala.util.Random(7)
    val vs = (0 until 300).map(i => (i.toLong, Array.fill(dim)(r.nextInt(101).toLong - 50)))
    vs.updated(5, (5L, vs(4)._2.clone()))
  }

  test("the coarse trainer matches the reference Lloyd chain") {
    val vs = randomCorpus(8)
    val got = VectorQueries.trainCentroidsOn(spark, corpus(vs), 3)
    val k = VectorQueries.derivedK(vs.size.toLong)
    val ref = (1 to 3).foldLeft(seedOf(vs, k))((m, _) => refStep(vs.map(_._2), m))
    assert(show(got) === show(ref))
    assert(!got.exists(_._1 == 5L), "the duplicated seed must train an empty cell")
  }

  test("the PQ trainer matches a reference Lloyd per book") {
    import VectorQueries.{pqIters, pqK, pqM, pqSub}
    val vs = randomCorpus(pqM * pqSub)
    val got = VectorQueries.trainPqBooks(spark, corpus(vs))
    val ref = (0 until pqM).map { m =>
      val sub = vs.map { case (id, v) => (id, v.slice(m * pqSub, (m + 1) * pqSub)) }
      (1 to pqIters).foldLeft(seedOf(sub, pqK))((b, _) => refStep(sub.map(_._2), b))
    }
    assert(got.map(show) === ref.map(show))
  }

  /** Spark jobs submitted while `body` runs. */
  test("each Lloyd iteration is one Spark job") {
    import org.apache.spark.sql.functions.col
    val iters = 3
    val coarse = jobsDuring(VectorQueries.trainCentroids(spark, sf, iters))
    assert(coarse <= iters + 3, s"coarse trainer ran $coarse jobs")
    val emb = graft.sources.Tables.embeddings(spark, sf).select(col("vec_id"),
      graft.functions.VectorFunctions.microUnits(col("embedding")).as("e_u"))
    val pq = jobsDuring(VectorQueries.trainPqBooks(spark, emb))
    assert(pq <= VectorQueries.pqIters + 2, s"PQ trainer ran $pq jobs")
  }
}

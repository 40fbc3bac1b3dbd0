package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.SkewGuard
import graft.sources.{Tables, TxnLog}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim `array<float>`), the similarity-search band of the north-star
  * extension set (SURVEY §7.1 M6; absent from the reference).
  *
  * Plans for the same question, by query shape:
  *  - `q_ann_brute`: exact top-k for a probe subset, broadcast probes ×
  *    full scan. The 100 TB shape for "search the corpus with a small
  *    query batch": the corpus is scanned once, never shuffled, and the
  *    probe batch rides along in the broadcast.
  *  - `q_ann_lsh`: random-hyperplane LSH buckets; top-k within bucket.
  *    The 100 TB shape for all-vectors self-search: one hash-shuffle on
  *    the bucket id replaces the quadratic cross join. Recall trades off
  *    with plane count; planes are a driver-side literal matrix
  *    ([[VectorFunctions.planeMatrix]]), so both engines hash identically.
  *  - `q_ann_lsh_multiprobe` / `q_ann_lsh_mp_self`: the recall-restoring
  *    hamming-1 fan-out, for a probe batch and for every vector.
  *  - `q_ann_ivf`: trained coarse quantizer (one Lloyd iteration),
  *    nprobe=2.
  *
  * All cosine arithmetic is the shared sequential-double fold of
  * [[VectorFunctions]], rounded to 6 dp before ranking so order and
  * threshold cuts are engine-independent.
  */
object VectorQueries extends QueryModule {

  private val dim = 64
  private val nPlanes = 6
  private lazy val planes = VectorFunctions.planeMatrix(nPlanes, dim)

  /** Per-bucket size cap for the LSH self-joins (see
    * [[graft.operators.SkewGuard]]): with 2⁶ hyperplane buckets, bucket
    * population grows linearly with the corpus and pair enumeration
    * quadratically in the skewiest bucket — the cap keeps the join
    * O(n·cap) at any scale. */
  private val bucketCap = 64

  /** Bucketed embedding table (vec_id, embedding, bucket, nrm), staged
    * via [[StagedCache]]: the LSH family consumes it several times per
    * query (SkewGuard's size aggregation + its join input, and both
    * sides of the pair join), and differing projections defeat
    * exchange reuse — without the cache each consumer re-runs the
    * 6-plane projection over the corpus. At 100 TB this is the
    * signature table a production pipeline materializes to storage. */
  private def bucketedBase(s: SparkSession, d: String): DataFrame =
    StagedCache.persist(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        VectorFunctions.lshBucket(col("embedding"), planes).as("bucket"),
        VectorFunctions.l2Norm(col("embedding")).as("nrm")))

  /** Size-capped buckets over [[bucketedBase]], also staged: every
    * consumer (probe and candidate side of the self-joins) reads the
    * capped table from cache instead of re-deriving it. */
  private def capped(b: DataFrame): DataFrame =
    StagedCache.persist(SkewGuard.capBuckets(b, "bucket", col("vec_id"), bucketCap))

  /** TWO deterministic salts per (probe, probed bucket) — the hashed
    * sub-bucket of an over-cap bucket plus its cyclic neighbor, a
    * uniform 2/nsplit sample. The round-6 measured scaling curve caught
    * the original all-salts fan-out visiting the WHOLE probed bucket
    * (per-probe work ∝ bucket size → O(n²/2^planes) for self-search,
    * measured ~n^1.6 at 10×); sampling a CONSTANT number of sub-buckets
    * restores the claimed O(probes·(planes+1)·cap) — and two samples
    * double the candidate pool of the round-6 single-salt form at the
    * same bound (recall@3 numbers in PLANS.md, `runMain graft.Recall`).
    * Sub-bucket membership is itself hash-assigned, so the adjacent
    * sub-bucket is as unbiased a second sample as a second hash draw —
    * and `array_distinct` collapses the pair when nsplit = 1, so
    * sub-cap buckets (every bucket at the oracle scale factors) see
    * exactly the round-6 single-salt behavior. `bsz` must be in scope
    * (the broadcast size join). */
  private def probeSalts(probeId: org.apache.spark.sql.Column,
      pbucket: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val nsplit = ceil(col("bsz") / lit(bucketCap.toDouble)).cast("long")
    val s1 = pmod(
      TextFunctions.hash60(concat(lit("probe:"), probeId.cast("string"),
        lit(":"), pbucket.cast("string"))),
      nsplit)
    array_distinct(array(s1, pmod(s1 + 1, nsplit)))
  }

  /** Rank candidate pairs by cosine and keep the top-3 per probe —
    * via the partial-aggregable [[graft.functions.TopKPairsAgg]], so
    * each scan partition reduces to ≤3 entries per probe map-side and
    * the exchange carries O(probes) rows, never the scored pair stream
    * (the row_number window this replaces shuffled and sorted every
    * candidate pair — tens of millions of rows at 100× sf0.1). Same
    * (cos_sim desc, cand_id) total order, same output columns; the
    * DuckDB oracles keep their window formulation — result-identical. */
  private def topK(pairs: DataFrame): DataFrame =
    pairs.groupBy("probe_id")
      .agg(graft.functions.TopKPairsAgg
        .topk(col("cos_sim"), col("cand_id"), 3).as("tk"))
      .select(col("probe_id"), posexplode(col("tk")).as(Seq("i0", "t")))
      .select(col("probe_id"), col("t.id").as("cand_id"),
        col("t.score").as("cos_sim"), (col("i0") + 1).cast("int").as("rnk"))
      .orderBy("probe_id", "rnk")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact cosine top-3 for probes (vec_id ≡ 0 mod 25), probes broadcast
    // against one pass over the corpus. Norms are staged per side BEFORE
    // the join: each pair then costs one dot-product fold instead of
    // three (cosine's two norm folds would otherwise re-run per pair).
    "q_ann_brute" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
      val probes = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
          col("nrm").as("pnrm"))
      val scored = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          round(VectorFunctions.dot(col("pv"), col("embedding"))
            / (col("pnrm") * col("nrm")), 6).as("cos_sim"))
      topK(scored)
    }),

    // LSH-bucketed top-3 neighbors for every vector: join within
    // (size-capped) bucket.
    "q_ann_lsh" -> ((s, d) => {
      val b = capped(bucketedBase(s, d))
      val probes = b.select(col("bucket"), col("vec_id").as("probe_id"),
        col("embedding").as("pv"), col("nrm").as("pnrm"))
      val cands = b.select(col("bucket"), col("vec_id").as("cand_id"),
        col("embedding").as("cv"), col("nrm").as("cnrm"))
      topK(probes.join(cands, "bucket")
        .filter(col("probe_id") =!= col("cand_id"))
        .select(col("probe_id"), col("cand_id"),
          round(VectorFunctions.dot(col("pv"), col("cv"))
            / (col("pnrm") * col("cnrm")), 6).as("cos_sim")))
    }),

    // Multi-probe LSH for the probe-batch shape: each probe searches its
    // own bucket AND the nPlanes buckets at hamming distance 1 in sign
    // space — the standard recall-restoring complement to the bucket
    // cap (more probes instead of more candidates per bucket). Composes
    // with SkewGuard: the corpus is capped into sub-buckets; probes
    // learn each probed bucket's split count from the broadcast size
    // table and sample TWO deterministic sub-buckets per probed bucket
    // ([[probeSalts]]), keeping enumeration O(probes · (planes+1) · cap)
    // — over-cap buckets trade recall 2/nsplit, the documented
    // SkewGuard trade, identical in the oracle.
    "q_ann_lsh_multiprobe" -> ((s, d) => {
      val b = bucketedBase(s, d)
      val sizes = b.groupBy("bucket").agg(count(lit(1)).as("bsz"))
      val corpus = capped(b)
        .select(col("bucket"), col("vec_id").as("cand_id"),
          col("embedding").as("cv"), col("nrm").as("cnrm"))
      val probeBuckets = array(
        col("bucket") +: (0 until nPlanes).map(j =>
          col("bucket").bitwiseXOR(lit(1L << j))): _*)
      val probes = b.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
          col("nrm").as("pnrm"), explode(probeBuckets).as("pbucket"))
        .join(broadcast(sizes.withColumnRenamed("bucket", "pbucket")), "pbucket")
        .withColumn("salt", explode(probeSalts(col("probe_id"), col("pbucket"))))
        .select(concat(col("pbucket").cast("string"), lit(":"),
            col("salt").cast("string")).as("bucket"),
          col("probe_id"), col("pv"), col("pnrm"))
      // A candidate lives in exactly one (bucket, salt), the probed
      // buckets are distinct, and the two salts per bucket are distinct,
      // so (probe, cand) pairs are already unique.
      topK(probes.join(corpus, "bucket")
        .filter(col("probe_id") =!= col("cand_id"))
        .select(col("probe_id"), col("cand_id"),
          round(VectorFunctions.dot(col("pv"), col("cv"))
            / (col("pnrm") * col("cnrm")), 6).as("cos_sim")))
    }),

    // Multi-probe LSH for the ALL-vectors self-search shape: every
    // vector fans out over its home bucket plus the nPlanes hamming-1
    // buckets (TWO sampled salts each, [[probeSalts]]), searching the
    // same capped corpus as q_ann_lsh. Candidate enumeration grows from
    // O(n·cap) to O(n·(planes+1)·cap) — still linear in the corpus —
    // and recall@3 vs the exact q_ann_brute rises accordingly (numbers
    // in PLANS.md, measured by `runMain graft.Recall`).
    "q_ann_lsh_mp_self" -> ((s, d) => {
      val b = bucketedBase(s, d)
      val sizes = b.groupBy("bucket").agg(count(lit(1)).as("bsz"))
      val corpus = capped(b)
        .select(col("bucket"), col("vec_id").as("cand_id"),
          col("embedding").as("cv"), col("nrm").as("cnrm"))
      val probeBuckets = array(
        col("bucket") +: (0 until nPlanes).map(j =>
          col("bucket").bitwiseXOR(lit(1L << j))): _*)
      val probes = b
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
          col("nrm").as("pnrm"), explode(probeBuckets).as("pbucket"))
        .join(broadcast(sizes.withColumnRenamed("bucket", "pbucket")), "pbucket")
        .withColumn("salt", explode(probeSalts(col("probe_id"), col("pbucket"))))
        .select(concat(col("pbucket").cast("string"), lit(":"),
            col("salt").cast("string")).as("bucket"),
          col("probe_id"), col("pv"), col("pnrm"))
      topK(probes.join(corpus, "bucket")
        .filter(col("probe_id") =!= col("cand_id"))
        .select(col("probe_id"), col("cand_id"),
          round(VectorFunctions.dot(col("pv"), col("cv"))
            / (col("pnrm") * col("cnrm")), 6).as("cos_sim")))
    }),

    // IVF (inverted-file) ANN with a TRAINED coarse quantizer. Seed
    // centroids are the first K vectors with K = max(16, n/targetCell)
    // — derived from the corpus count so cell population stays ~2k at
    // any scale (see [[derivedK]]) — refined by deterministic Lloyd
    // iterations with per-cell means in exact integer micro-units
    // (order-independent, mirrored bit-for-bit by DuckDB; a naive float
    // sum would hash-diverge under Spark's parallel aggregation order).
    // The operating point (ivfLloydIters=3, ivfNProbe=4) is the KNEE of
    // the round-8 recall sweep (PLANS.md): training saturates at 3
    // iterations (3 ≡ 6 on every nprobe), and nprobe=4 buys recall@3
    // 0.367 → 0.617 for a 2× probe-side fan-out only. At 100 TB the
    // quantizer trains on a sample as a small driver-side artifact and
    // the search stays one broadcast-assign + equi-join per probe
    // batch, both linear shapes; nprobe never multiplies corpus-side
    // state.
    "q_ann_ivf" -> ((s, d) => ivfTopK(s, d, nprobe = ivfNProbe,
      lloydIters = ivfLloydIters)),

    // The HIGH-RECALL notch of the round-8 sweep, shipped as its own
    // oracle-checked query: nprobe=8 over the same trained quantizer —
    // recall@3 0.883 / 0.790 (sf0.01 / 10×, PLANS.md) for one more
    // probe-side doubling; corpus-side state and training identical to
    // q_ann_ivf, so a consumer picks the recall/fan-out point per
    // workload without a new index.
    "q_ann_ivf_hi" -> ((s, d) => ivfTopK(s, d, nprobe = 8,
      lloydIters = ivfLloydIters)),

    // The PERSISTED-index form of q_ann_ivf: inverted lists written as
    // a cell-partitioned parquet dataset, probes read back through a
    // dynamic-partition-pruned scan (see [[ivfPersistTopK]]). Same
    // trained quantizer, same assignment, same rerank — bit-identical
    // results, same oracle.
    "q_ann_ivf_persist" -> ((s, d) => ivfPersistTopK(s, d,
      nprobe = ivfNProbe, lloydIters = ivfLloydIters)),

    // INCREMENTAL index maintenance: the corpus is a TxnLog table that
    // ADVANCES (base create, then an append of 1/5 of the vectors);
    // the persisted IVF index follows it by adding one postings
    // GENERATION for just the appended rows under the quantizer
    // trained at the BASE version — no retrain, refresh cost ∝ batch
    // (see [[ensureIvfIndexIncremental]]). The oracle trains its
    // Lloyd chain on the base population only and assigns everything,
    // exactly the pinned-quantizer semantics; chain/no-retrain/
    // fallback mechanics are IvfRefreshSpec's.
    "q_ann_ivf_refresh" -> ((s, d) => ivfRefreshTopK(s, d,
      nprobe = ivfNProbe, lloydIters = ivfLloydIters)),

    // Full k-means trainer (K = [[derivedK]], 3 Lloyd iterations) — the model-
    // training twin of q_ann_ivf's coarse quantizer, reporting
    // the trained model per cell: size, inertia (Σ‖e−c‖² in exact µ²
    // units), and a centroid checksum. INTEGER END-TO-END: vectors are
    // µ-unit longs, distances the exact norm identity on them, means
    // half-away integer division, inertia a pure long sum — nothing in
    // the hashed output ever passes through a rounded double (the
    // r7–r9 hash-red was a representable half at the 6th decimal
    // rounding differently across engines), so DuckDB mirrors the
    // whole 3-iteration training run bit-for-bit. 100 TB shape:
    // each iteration is ONE Spark job ([[lloydStep]]): every task
    // assigns its rows through the K-centroid index it carries and
    // sums them per cell in place, and the K·dim partial sums merge
    // by tree reduce — independent of corpus size; the trained
    // 16-row model stays on the driver, and both final consumers
    // (assignment report, checksum join) read it from there.
    "q_kmeans" -> ((s, d) => kmeansReport(s, d, iters = 3)),

    // Quantized ANN search — q_quantize_embed put to WORK, the SQ8
    // serving pattern COMPOSED with the trained IVF index: every
    // vector carries PHYSICAL int8 codes (array<tinyint> — 1 byte per
    // component in Tungsten, 4× smaller than the float embedding);
    // per probe, candidates come from the probe's ivfNProbe nearest
    // trained cells (the SAME staged r1 assignment q_ann_ivf reads),
    // are first ranked by the DEQUANTIZED approximate cosine (an
    // integer-exact int8·int8 dot — products ≤ 127²·dim are exactly
    // representable, so the double fold is deterministic — scaled
    // back by the two scales), the top-10 survivors are reranked by
    // EXACT cosine, and the final top-3 is the answer. The round-8
    // form shortlisted over BRUTE pairs — correct but O(n²), among
    // the worst ratios in the 100× sweep; with the IVF candidate
    // generator (derived-K cells, see [[derivedK]]) the int8 pass
    // scans ~nprobe·targetCell candidates per probe and the exact
    // pass touches 10, both corpus-size-free. One cell-keyed
    // equi-join; no cross join anywhere.
    "q_ann_quantized" -> ((s, d) => {
      val e = embWithEu(s, d)
        .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
        .withColumn("scale", greatest(array_max(transform(col("embedding"),
          x => abs(x.cast("double")))), lit(1e-30)))
        .withColumn("qv", transform(col("embedding"),
          x => round(x.cast("double") / col("scale") * 127).cast("tinyint")))
      val model = trainCentroids(s, d, ivfLloydIters)
      val probes = assignNearest(e.filter(col("vec_id") % 25 === 0),
          model, keep = ivfNProbe)
        .select(col("cid").as("cell"), col("vec_id").as("probe_id"),
          col("embedding").as("pv"), col("nrm").as("pnrm"),
          col("scale").as("ps"), col("qv").as("pq"))
      val cands = assignMin(e, model)
        .select(col("cid").as("cell"), col("vec_id").as("cand_id"),
          col("embedding").as("cv"), col("nrm").as("cnrm"),
          col("scale").as("cs"), col("qv").as("cq"))
      // int8 shortlist: score every in-cell pair, keep the top-10 ids
      // per probe via the map-side-combined top-k aggregate (same
      // total order as the row_number form; no pair-row shuffle).
      val short10 = probes.join(cands, "cell")
        .filter(col("probe_id") =!= col("cand_id"))
        .withColumn("score_q", round(VectorFunctions.dot(col("pq"), col("cq"))
          * col("ps") * col("cs") / lit(16129.0) / col("pnrm") / col("cnrm"), 6))
        .groupBy("probe_id")
        .agg(graft.functions.TopKPairsAgg
          .topk(col("score_q"), col("cand_id"), 10).as("tk"))
        .select(col("probe_id"), explode(col("tk.id")).as("cand_id"))
      // Exact rerank: fetch full vectors BY ID for the ≤10 survivors —
      // the serving-shape lookup (probe batch broadcast; candidate
      // fetch an id equi-join against the raw corpus scan, never the
      // assignment lineage).
      val pvecs = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
          col("nrm").as("pnrm"))
      val cvecs = e.select(col("vec_id").as("cand_id"),
        col("embedding").as("cv"), col("nrm").as("cnrm"))
      topK(short10
        .join(broadcast(pvecs), "probe_id")
        .join(cvecs, "cand_id")
        .select(col("probe_id"), col("cand_id"),
          round(VectorFunctions.dot(col("pv"), col("cv"))
            / (col("pnrm") * col("cnrm")), 6).as("cos_sim")))
    }),

    // Symmetric int8 vector quantization — the storage/serving format
    // an ANN index actually holds: per vector, scale = max|xᵢ| and
    // qᵢ = round(xᵢ/scale·127) ∈ [−127,127]. Reported per vector:
    // the micro-unit scale, the saturated-component count, and an
    // order-weighted integer checksum Σ i·qᵢ — one transposed or
    // mis-rounded component anywhere flips the hash. Entirely map-side
    // (higher-order folds over the array, no explode, no shuffle
    // before the ordered dump) — the embarrassingly-parallel shape at
    // any scale. The float→double widenings and the power-of-127
    // scaling are computed in the same order DuckDB computes them, so
    // the rounding cuts identically.
    "q_quantize_embed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val absMax = array_max(transform(col("embedding"),
        x => abs(x.cast("double"))))
      val scale = greatest(absMax, lit(1e-30))
      val q = transform(col("embedding"),
        x => round(x.cast("double") / col("_scale") * 127).cast("long"))
      e.withColumn("_scale", scale)
        .withColumn("_q", q)
        .select(col("vec_id"),
          round(col("_scale") * 1e6).cast("long").as("scale_u"),
          size(filter(col("_q"), x => abs(x) === 127L)).cast("long")
            .as("n_sat"),
          aggregate(
            zip_with(col("_q"), sequence(lit(1), lit(dim)), (qi, i) => qi * i),
            lit(0L), (acc, x) => acc + x).as("encode_sum"))
        .orderBy("vec_id")
    }),

    // Product quantization with asymmetric distance (IVF-PQ's
    // compression half; Jégou, Douze, Schmid, "Product Quantization
    // for Nearest Neighbor Search", TPAMI 2011): the embedding splits
    // into pqM=8 subspaces of 8 components; each subspace trains its
    // own pqK=32-codeword book (the SAME integer micro-unit Lloyd the
    // coarse quantizer uses, so argmin/tie/mean never pass through a
    // rounded double); every vector encodes to 8 small codes (40
    // bits). Search is the ADC scan: each probe precomputes one
    // 32-entry lookup table per subspace (its exact sub-vector dotted
    // with every codeword), and a candidate then costs EIGHT table
    // lookups — the compressed-domain full scan whose memory
    // footprint is codes (~5 bytes/vector), not floats (256 bytes),
    // which is the entire reason PQ serves billion-vector indexes.
    // Top-pqShort shortlist per probe by ADC (map-side-combined
    // top-k), then exact cosine rerank of the survivors — the
    // standard serving pipeline; the (8, 32, 32) operating point is
    // the measured knee of the Recall sweep (recall@3 0.542 at sf0.1,
    // ABOVE the uncompressed IVF/SQ8 pair's 0.525 — PLANS.md
    // round-16). Books are a driver-side literal (8×32 codewords);
    // encode is a pure map over the corpus scan (CentroidIndex per
    // subspace, codegen'd, zero exchange).
    "q_ann_pq" -> ((s, d) => {
      val books = trainPqBooks(s,
        StagedCache.persist(embWithEu(s, d).select(col("vec_id"), col("e_u"))))
      val idxs = books.map(b => graft.functions.CentroidIndex.buildCached(b))
      def bookArr(m: Int) = typedlit((0L until pqK).map(c =>
        books(m).find(_._1 == c).map(_._2.toSeq).getOrElse(Seq.fill(pqSub)(0L))))
      def bookN2(m: Int) = typedlit((0L until pqK).map(c =>
        books(m).find(_._1 == c).map(_._3).getOrElse(0L)))
      val e = embWithEu(s, d)
        .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
      // Encode every vector: per-subspace argmin codeword, map-only.
      val enc0 = (0 until pqM).foldLeft(e) { (df, m) =>
        val su = slice(col("e_u"), m * pqSub + 1, pqSub)
        df.withColumn(s"code$m", graft.functions.CentroidIndex
          .nearest(su, VectorFunctions.dotLong(su, su), idxs(m))
          .getField("cid"))
      }
      val cands = enc0.withColumn("rn2u",
          (0 until pqM).map(m => element_at(bookN2(m),
            col(s"code$m").cast("int") + 1)).reduce(_ + _))
        .select(Seq(col("vec_id").as("cand_id"), col("rn2u")) ++
          (0 until pqM).map(m => col(s"code$m")): _*)
      // Probes carry their per-subspace ADC lookup tables.
      val probes = e.filter(col("vec_id") % 25 === 0)
        .select(Seq(col("vec_id").as("probe_id"), col("nrm").as("pnrm")) ++
          (0 until pqM).map(m => transform(bookArr(m), cw =>
            VectorFunctions.dotLong(slice(col("e_u"), m * pqSub + 1, pqSub),
              cw)).as(s"lut$m")): _*)
      val short10 = cands.join(broadcast(probes),
          col("probe_id") =!= col("cand_id"))
        .withColumn("adc_u", (0 until pqM).map(m =>
          element_at(col(s"lut$m"), col(s"code$m").cast("int") + 1))
          .reduce(_ + _))
        .withColumn("rnrm", sqrt(col("rn2u").cast("double")) / lit(1e6))
        .withColumn("score_q", round(col("adc_u").cast("double") / lit(1e12)
          / col("pnrm") / col("rnrm"), 6))
        .groupBy("probe_id")
        .agg(graft.functions.TopKPairsAgg
          .topk(col("score_q"), col("cand_id"), pqShort).as("tk"))
        .select(col("probe_id"), explode(col("tk.id")).as("cand_id"))
      // Exact rerank of the ≤pqShort survivors, by id against the raw scan.
      val pvecs = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
          col("nrm").as("pnrm"))
      val cvecs = e.select(col("vec_id").as("cand_id"),
        col("embedding").as("cv"), col("nrm").as("cnrm"))
      topK(short10
        .join(broadcast(pvecs), "probe_id")
        .join(cvecs, "cand_id")
        .select(col("probe_id"), col("cand_id"),
          round(VectorFunctions.dot(col("pv"), col("cv"))
            / (col("pnrm") * col("cnrm")), 6).as("cos_sim")))
    }),

    // IVF-PQ — the COMPOSED billion-vector serving shape (Jégou et
    // al. 2011 §IV, WITH the paper's residual refinement): the
    // trained coarse quantizer restricts each probe's search to its
    // nprobe nearest cells (corpus/K per cell); vectors encode their
    // RESIDUAL against their cell centroid (integer subtraction —
    // the micro-unit determinism survives), which is what makes a
    // small codebook sharp (residual energy ≪ vector energy); each
    // probe builds, per visited cell, per-subspace lookup tables of
    // the exact per-codeword L2 term, so a candidate costs pqM
    // lookups and the summed entries are ‖pr − q(r)‖² — asymmetric
    // distance computation, ranked ascending. Shortlist + exact
    // cosine rerank exactly as q_ann_pq.
    "q_ann_ivfpq" -> ((s, d) => {
      // One staged scan feeds training, assignment and the rerank.
      val e = StagedCache.persist(embWithEu(s, d)
        .withColumn("nrm", VectorFunctions.l2Norm(col("embedding"))))
      val model = trainCentroidsOn(s, e, ivfLloydIters)
      // Each cell's centroid from a plan literal indexed by cid: cids
      // are seed vec_ids, 0 ≤ cid ≤ the model's last, and a cell that
      // trained empty holds an empty array no vector is assigned to.
      val byCid = model.map(m => m._1 -> m._2.toSeq).toMap
      val centArr = typedlit((0L to model.last._1).map(byCid.getOrElse(_, Seq.empty[Long])))
      def centOf(cell: String) = element_at(centArr, col(cell).cast("int") + 1)
      // Every vector's RESIDUAL against its own cell centroid — exact
      // integer subtraction, so the whole residual chain inherits the
      // micro-unit determinism.
      val assigned = StagedCache.persist(
        assignMin(e, model).withColumnRenamed("cid", "cell")
          .withColumn("r_u", zip_with(col("e_u"), centOf("cell"),
            (a, b) => a - b)))
      // Books train over the residual population (pooled across
      // cells — the standard IVF-PQ regime).
      val books = trainPqBooks(s,
        assigned.select(col("vec_id"), col("r_u").as("e_u")))
      val idxs = books.map(b => graft.functions.CentroidIndex.buildCached(b))
      def bookArr(m: Int) = typedlit((0L until pqK).map(c =>
        books(m).find(_._1 == c).map(_._2.toSeq).getOrElse(Seq.fill(pqSub)(0L))))
      def bookN2(m: Int) = typedlit((0L until pqK).map(c =>
        books(m).find(_._1 == c).map(_._3).getOrElse(0L)))
      val cands = (0 until pqM).foldLeft(assigned) { (df, m) =>
          val su = slice(col("r_u"), m * pqSub + 1, pqSub)
          df.withColumn(s"code$m", graft.functions.CentroidIndex
            .nearest(su, VectorFunctions.dotLong(su, su), idxs(m))
            .getField("cid"))
        }
        .select(Seq(col("cell"), col("vec_id").as("cand_id")) ++
          (0 until pqM).map(m => col(s"code$m")): _*)
      // Probes: one row per visited cell, residual against THAT cell,
      // and per-subspace lookup tables of the per-codeword L2 term
      // (pr2 + cw2 − 2·pr·cw) — so a candidate costs pqM lookups and
      // the summed table entries ARE ‖pr − q(r)‖², the paper's ADC.
      val probes0 = assignNearest(e.filter(col("vec_id") % 25 === 0),
          model, keep = ivfNProbe)
        .withColumnRenamed("cid", "cell")
        .withColumn("pr_u", zip_with(col("e_u"), centOf("cell"),
          (a, b) => a - b))
      val probes = (0 until pqM).foldLeft(probes0) { (df, m) =>
          val su = slice(col("pr_u"), m * pqSub + 1, pqSub)
          df.withColumn(s"pr2_$m", VectorFunctions.dotLong(su, su))
            .withColumn(s"lut$m", zip_with(bookArr(m), bookN2(m),
              (cw, c2) => col(s"pr2_$m") + c2
                - lit(2L) * VectorFunctions.dotLong(su, cw)))
        }
        .select(Seq(col("cell"), col("vec_id").as("probe_id")) ++
          (0 until pqM).map(m => col(s"lut$m")): _*)
      val short = cands.join(probes, "cell")
        .filter(col("probe_id") =!= col("cand_id"))
        .withColumn("d_u", (0 until pqM).map(m =>
          element_at(col(s"lut$m"), col(s"code$m").cast("int") + 1))
          .reduce(_ + _))
        .groupBy("probe_id")
        .agg(graft.functions.TopKPairsAgg
          .topk((-col("d_u")).cast("double"), col("cand_id"), pqShort)
          .as("tk"))
        .select(col("probe_id"), explode(col("tk.id")).as("cand_id"))
      val pvecs = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
          col("nrm").as("pnrm"))
      val cvecs = e.select(col("vec_id").as("cand_id"),
        col("embedding").as("cv"), col("nrm").as("cnrm"))
      topK(short
        .join(broadcast(pvecs), "probe_id")
        .join(cvecs, "cand_id")
        .select(col("probe_id"), col("cand_id"),
          round(VectorFunctions.dot(col("pv"), col("cv"))
            / (col("pnrm") * col("cnrm")), 6).as("cos_sim")))
    }),

    // Embedding-cosine near-dup pairs: same (capped) LSH bucket ∧
    // cosine ≥ 0.35.
    "q_embed_near_dup" -> ((s, d) => {
      val b = capped(bucketedBase(s, d))
      val l = b.select(col("bucket"), col("vec_id").as("vec_a"),
        col("embedding").as("va"), col("nrm").as("na"))
      val r = b.select(col("bucket"), col("vec_id").as("vec_b"),
        col("embedding").as("vb"), col("nrm").as("nb"))
      l.join(r, "bucket")
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(VectorFunctions.dot(col("va"), col("vb"))
            / (col("na") * col("nb")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.35)
        .orderBy("vec_a", "vec_b")
    }),

    // Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv 2303.09540):
    // cluster the corpus with the trained coarse quantizer (the SAME
    // shared Lloyd chain as q_kmeans/q_ann_ivf — integer micro-unit
    // centroids), enumerate cosine pairs WITHIN SkewGuard-capped cells
    // only, and drop every vector that has a lower-id in-cell neighbor
    // with cos ≥ semTau. Output is a per-vector verdict; `rep` is the
    // lowest-id WITNESS neighbor, which in a similarity chain may
    // itself be dropped (a→b→c with cos(a,c) < τ keeps only a) —
    // consumers needing one canonical survivor per group resolve
    // chains with the q_dedup_clusters connected-components pass, the
    // same two-stage composition q_cluster_keep_best ships.
    // 100 TB: K grows with the corpus so
    // cells stay bounded, the cap makes the worst cell O(cap·n)
    // regardless, and the quadratic stage never sees the whole corpus —
    // the paper's exact reason for clustering before comparing.
    "q_semdedup" -> ((s, d) => {
      val e = embWithEu(s, d)
        .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
      val model = trainCentroids(s, d, ivfLloydIters)
      val cells = StagedCache.persist(SkewGuard.capBuckets(
        assignMin(e, model)
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("cid").as("cell")),
        "cell", col("vec_id"), semCellCap))
      val a = cells.select(col("cell"), col("vec_id").as("vec_a"),
        col("embedding").as("va"), col("nrm").as("na"))
      val b = cells.select(col("cell"), col("vec_id").as("vec_b"),
        col("embedding").as("vb"), col("nrm").as("nb"))
      // Merge-hinted: both sides are corpus-sized, so the pair join
      // must shuffle on the cell key — never broadcast the corpus
      // (the same discipline as the dedup verify joins).
      val dropped = a.hint("merge").join(b.hint("merge"), "cell")
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_b").as("vec_id"), col("vec_a"),
          round(VectorFunctions.dot(col("va"), col("vb"))
            / (col("na") * col("nb")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= semTau)
        .groupBy("vec_id")
        .agg(min(col("vec_a")).as("rep"), max(col("cos_sim")).as("max_cos"),
          count(lit(1)).as("n_nbrs"))
      cells.select(col("vec_id"))
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("rep").isNull, "kept").otherwise("dropped").as("status"),
          coalesce(col("rep"), lit(-1L)).as("rep"),
          coalesce(col("max_cos"), lit(0.0)).as("max_cos"),
          coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"))
        .orderBy("vec_id")
    }),

    // Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    // the standard way a RAG pipeline combines a lexical ranker (BM25
    // over the query terms) with a semantic one (cosine against the
    // query embedding — vec_id 42 stands in for the encoded query).
    // Each arm keeps only its top-50 via a distributed TakeOrdered, so
    // the fusion itself — full-outer join + RRF sum + final rank — runs
    // over ≤ 100 rows no matter the corpus size; the corpus is scanned
    // once per arm and never shuffled beyond BM25's matched-token
    // groupBy. Determinism: ranks come from total orders (score desc,
    // id), and each rank's RRF contribution 1/(60+rnk) is micro-scaled
    // to a long BEFORE the sum, so fused scores compare exactly; a doc
    // missing from an arm contributes 0 (the coalesce), which is RRF's
    // defined behavior, not a null-arithmetic accident.
    // Per-source embedding centroids + pairwise centroid cosine — the
    // semantic complement of the shingle-based q_source_similarity
    // (lexical overlap vs. embedding-space direction: two sources can
    // share no vocabulary yet sit in the same semantic region). Exact
    // arithmetic end-to-end: per-(source, dim) sums of micro-unit
    // longs, sign-symmetric half-away integer means, integer dot
    // products over the 64-dim centroid pairs — the ONLY floating
    // operation is the final cosine normalization (one sqrt + divide
    // on exact integers, deterministic on any engine). Plan: one
    // doc_id join + one (source, pos) shuffle of partial sums; the
    // pairwise stage runs on #sources×64 rows.
    "q_source_centroids" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val cents = StagedCache.persist(e.join(src, "doc_id")
        .select(col("source"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("source", "pos")
        .agg(sum(round(col("v").cast("double") * 1e6).cast("long")).as("sum_u"),
          count(lit(1)).as("n"))
        .withColumn("c_u", expr("CAST(CASE WHEN sum_u >= 0" +
          " THEN (sum_u * 2 + n) DIV (2 * n)" +
          " ELSE -((-sum_u * 2 + n) DIV (2 * n)) END AS BIGINT)"))
        .select(col("source"), col("pos"), col("c_u")))
      cents.as("a")
        .join(cents.as("b"), col("a.pos") === col("b.pos")
          && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(sum(col("a.c_u") * col("b.c_u")).as("num_u"),
          sum(col("a.c_u") * col("a.c_u")).as("na_u"),
          sum(col("b.c_u") * col("b.c_u")).as("nb_u"))
        .select(col("source_a"), col("source_b"),
          round(col("num_u").cast("double") /
            sqrt(col("na_u").cast("double") * col("nb_u").cast("double")), 6)
            .as("cos_sim"))
        .orderBy("source_a", "source_b")
    }),

    "q_hybrid_rrf" -> ((s, d) => {
      val kArm = 50
      val byLex = Window.orderBy(col("score_u").desc, col("doc_id"))
      val lex = CorpusQueries.bm25Scores(s, d)
        .orderBy(col("score_u").desc, col("doc_id")).limit(kArm)
        .withColumn("lex_rnk", row_number().over(byLex).cast("long"))
        .select(col("doc_id"), col("lex_rnk"))
      // The semantic arm retrieves through the PERSISTED IVF index
      // (the q_ann_ivf_persist build), not a corpus brute scan — the
      // round-10 finding: the pipeline built an index and then didn't
      // use it. The query embedding (vec 42) takes its ivfNProbe
      // nearest trained cells; only those cells' partitions are read
      // (dynamic partition pruning, pinned in PlanAuditSpec). The
      // DuckDB oracle mirrors the same cell-bounded retrieval, so the
      // documented ANN recall trade lives in BOTH engines identically.
      val e = embWithEu(s, d)
        .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
      val (index, model) = ensureIvfIndex(s, d, ivfLloydIters)
      val probe = withPcell(assignNearest(e.filter(col("vec_id") === 42),
          model, keep = ivfNProbe)
        .select(col("cid").cast("int").as("cell"),
          col("embedding").as("pv"), col("nrm").as("pnrm")))
      val bySem = Window.orderBy(col("cos_sim").desc, col("doc_id"))
      val sem = broadcast(probe).join(index, Seq("pcell", "cell"))
        .filter(col("cand_id") =!= 42)
        .select(col("cand_id").as("doc_id"),
          round(VectorFunctions.dot(col("pv"), col("cv2"))
            / (col("pnrm") * col("cnrm")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("doc_id")).limit(kArm)
        .withColumn("sem_rnk", row_number().over(bySem).cast("long"))
        .select(col("doc_id"), col("sem_rnk"))
      def contrib(r: org.apache.spark.sql.Column) =
        coalesce(round(lit(1e6) / (lit(60L) + r)).cast("long"), lit(0L))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf_u", contrib(col("lex_rnk")) + contrib(col("sem_rnk")))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("rrf_u").desc, col("doc_id"))).cast("long"))
        .filter(col("rnk") <= 20)
        .select(col("doc_id"), col("lex_rnk"), col("sem_rnk"),
          col("rrf_u"), col("rnk"))
        .orderBy("rnk")
    })
  )

  /** The shipped q_ann_ivf operating point — the knee of the round-8
    * nprobe/iters recall sweep (PLANS.md; recall@3 0.617 vs 0.367 at
    * the old (2, 1)). The oracle CTE chain mirrors these values. */
  private[graft] val ivfNProbe = 4
  private[graft] val ivfLloydIters = 3

  /** Product-quantization shape: pqM subspaces of pqSub components,
    * pqK codewords per subspace, pqIters Lloyd iterations per book.
    * pqK is FIXED (the codebook is the compressed alphabet — its size
    * is a format constant, not a corpus property; 16 here where a
    * production index uses 256, same structure). */
  private[graft] val pqM = 8
  private[graft] val pqSub = dim / pqM
  private[graft] val pqK = 32
  private[graft] val pqIters = 2
  private[graft] val pqShort = 32

  /** Train the pqM per-subspace codebooks over a (vec_id, e_u) corpus
    * (IVF-PQ trains on residuals) — the SAME integer micro-unit Lloyd
    * as [[trainCentroidsOn]]: seed = the first-pqK vectors' sub-slices,
    * then one [[lloydStep]] job per iteration trains all pqM books,
    * each on its own sub-slice. Training scans the full corpus: with
    * pqK fixed the per-iteration cost is pqK·n sub-dots — linear in the
    * corpus at any scale. Returns per subspace the (cid, codeword_u,
    * c2u) rows. Every iteration re-scans `corpus`, so callers pass a
    * staged frame; nothing is staged here. */
  private[graft] def trainPqBooks(s: SparkSession,
      corpus: DataFrame): Seq[Model] = {
    val e = corpus.select(col("vec_id"), col("e_u"))
    val seed = collectVecs(e.filter(col("vec_id") < pqK))
    var books: Seq[Model] = (0 until pqM).map(m => seed.map { case (cid, eu) =>
      val cu = eu.slice(m * pqSub, (m + 1) * pqSub)
      (cid, cu, sqNorm(cu))
    })
    for (_ <- 1 to pqIters) books = lloydStep(e, books)
    books
  }

  /** SemDeDup drop threshold + within-cell cap. τ matches
    * q_embed_near_dup's 0.35 (the fixture's planted-near-dup band);
    * the cap keeps the within-cell pair stage O(cap·n) even if a cell
    * degenerates (sub-cap cells — every cell at oracle scale — see
    * salt 0, i.e. uncapped semantics). */
  private[graft] val semTau = 0.35
  private[graft] val semCellCap = 64

  /** Embeddings with the micro-unit integer carrier of the Lloyd /
    * k-means chain: e_u = round(v·1e6) per component (array<long>) and
    * its exact squared norm n2u = Σe_u². Every distance downstream is
    * the norm identity on these integers — ‖e−c‖²·1e12 = n2u + c2u −
    * 2·e_u·c_u, ONE native long-dot fold per (vector, centroid) pair —
    * so argmin, tie-break, and inertia never pass through a rounded
    * double (the r7–r9 q_kmeans hash-red was a representable half at
    * the 6th decimal rounding differently across engines). */
  private def embWithEu(s: SparkSession, d: String): DataFrame =
    withEu(Tables.embeddings(s, d))

  /** (vec_id, embedding) + the integer µ-unit carrier (e_u, n2u), from
    * any embeddings-shaped source (the directory table or a TxnLog
    * snapshot/delta). */
  private def withEu(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      VectorFunctions.microUnits(col("embedding")).as("e_u"))
      .withColumn("n2u", VectorFunctions.dotLong(col("e_u"), col("e_u")))

  /** Top-`keep` nearest-centroid assignment (the probe-side nprobe
    * fan-out) — the SAME pruned exact index as [[assignMin]], top-m
    * form: per probe ~2·√K dot folds instead of the K the old
    * crossJoin+window form materialized. The window form was "fine for
    * a probe batch" only while probes stayed tiny relative to K — this
    * suite's probe set is corpus/25, so at 1000× sf0.1 the probe-side
    * window was 2.4 M × 29 k = 70 G pair rows, a resurrection of the
    * exact wall [[assignMin]] killed (caught by the round-11 1000×
    * measurement run). Results are BIT-IDENTICAL to the
    * `row_number() OVER (ORDER BY dist_u, cid) <= keep` rows the
    * DuckDB oracles compute (exact top-m, same total order, ties
    * included). Output: e.*, dist_u, cid, rn (1-based). */
  private def assignNearest(e: DataFrame, model: Model,
      keep: Int): DataFrame = {
    val index = graft.functions.CentroidIndex.buildCached(model)
    val base = e.columns.toSeq
    e.withColumn("_nk",
        graft.functions.CentroidIndex.nearestK(col("e_u"), col("n2u"),
          index, keep))
      .select(base.map(col) :+ posexplode(col("_nk")).as(Seq("_i0", "_m")): _*)
      .withColumn("dist_u", col("_m.dist_u"))
      .withColumn("cid", col("_m.cid"))
      .withColumn("rn", (col("_i0") + 1).cast("int"))
      .drop("_i0", "_m")
  }

  /** Nearest-centroid (argmin) assignment of EVERY vector — the 100 TB
    * corpus scan stage of IVF/k-means. The K-row trained model builds
    * a [[graft.functions.CentroidIndex]] (two-level, triangle-pruned,
    * EXACT — see its scaladoc) that rides the scan as one codegen
    * reference object: each row answers its argmin in ~2·√K dot folds
    * instead of the K the old crossJoin form materialized (n·K pair
    * rows of compute — the round-10 `weak` mark: with derived
    * K = n/2048 that assign stage was the family's third-decade
    * O(n²/2048) wall). No exchange at all — the assignment is a pure
    * map over the corpus scan; payload columns ride the row untouched.
    * The result is bit-identical to the flat
    * min(struct(dist_u, cid)) with its (dist_u, cid) tie-break — the
    * rn=1 row of [[assignNearest]], which is what the DuckDB oracle
    * computes. Output: vec_id, dist_u, cid, payload.
    *
    * Driver state: the K-row model the trainer already holds;
    * K = n/2048 stays a model-artifact size (29 k rows ≈ 15 MB at
    * 1000× sf0.1). */
  private[graft] def assignMin(e: DataFrame, model: Model): DataFrame = {
    val index = graft.functions.CentroidIndex.buildCached(model)
    val payload = e.columns.filterNot(_ == "vec_id").toSeq
    e.withColumn("_nc",
        graft.functions.CentroidIndex.nearest(col("e_u"), col("n2u"), index))
      .select(Seq(col("vec_id"), col("_nc.dist_u").as("dist_u"),
        col("_nc.cid").as("cid")) ++ payload.map(col): _*)
  }

  /** A trained model: (cid, c_u, c2u) rows, cid-sorted. */
  private[graft] type Model = Seq[(Long, Array[Long], Long)]

  /** A persisted model artifact's rows (cid, c_u, c2u), driver-side and
    * cid-sorted. */
  private def collectModel(cent: DataFrame): Model =
    cent.select(col("cid"), col("c_u"), col("c2u")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)

  /** (vec_id, e_u) rows, driver-side and vec_id-sorted. */
  private def collectVecs(df: DataFrame): Seq[(Long, Array[Long])] =
    df.select(col("vec_id"), col("e_u")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).sortBy(_._1)

  /** Exact Σvᵢ² in µ² units — [[VectorFunctions.dotLong]] of v with itself. */
  private def sqNorm(v: Array[Long]): Long = v.foldLeft(0L)((s, x) => s + x * x)

  /** One Lloyd iteration of every model as ONE Spark job; model m
    * trains on e_u[m·sub, (m+1)·sub), sub its codeword width. Each task
    * assigns through [[graft.functions.CentroidIndex]]'s exact argmin
    * and keeps, per touched cell, a count and exact Long sums (a map-side
    * combine); treeReduce merges them. Long sums are associative, so the
    * half-away integer mean is bit-identical to [[lloydIterSql]]'s
    * GROUP BY, and a cell with no members drops out as it does there. */
  private[graft] def lloydStep(train: DataFrame, models: Seq[Model]): Seq[Model] = {
    val idx = models.map(graft.functions.CentroidIndex.build).toArray
    val sub = idx(0).vecs(0).length
    val sums = train.select(col("e_u")).queryExecution.toRdd
      .mapPartitions { rows =>
        val cells = idx.map(b => new Array[Array[Long]](b.k))
        rows.filter(!_.isNullAt(0)).foreach { r =>
          val eu = r.getArray(0).toLongArray()
          for (m <- idx.indices) {
            val part = java.util.Arrays.copyOfRange(eu, m * sub, (m + 1) * sub)
            val cid = idx(m).assign(UnsafeArrayData.fromPrimitiveArray(part),
              sqNorm(part)).getLong(1)
            val j = java.util.Arrays.binarySearch(idx(m).cids, cid)
            if (cells(m)(j) == null) cells(m)(j) = new Array[Long](sub + 1)
            cells(m)(j)(0) += 1
            for (p <- 0 until sub) cells(m)(j)(p + 1) += part(p)
          }
        }
        Iterator.single(cells)
      }
      .treeReduce { (a, b) =>
        for (m <- a.indices; j <- a(m).indices if b(m)(j) != null) {
          if (a(m)(j) == null) a(m)(j) = b(m)(j)
          else for (p <- 0 to sub) a(m)(j)(p) += b(m)(j)(p)
        }
        a
      }
    idx.indices.map { m =>
      idx(m).cids.indices.filter(sums(m)(_) != null).map { j =>
        val n = sums(m)(j)(0)
        val cu = Array.tabulate(sub) { p =>
          val sq = sums(m)(j)(p + 1)
          if (sq >= 0) (sq * 2 + n) / (2 * n) else -((-sq * 2 + n) / (2 * n))
        }
        (idx(m).cids(j), cu, sqNorm(cu))
      }
    }
  }

  /** Target Lloyd cell population: K = max(16, n DIV targetCell), so
    * cells hold ~2k vectors at ANY corpus size. This is the structural
    * scale property of the whole IVF/k-means/SemDeDup family — a FIXED
    * K makes per-probe cell scans grow ∝ corpus/K (the measured
    * two-decade wall: the round-8 100× suite sweep ran its budget dry
    * inside the ANN band), while K ∝ corpus keeps probe cost constant
    * and the centroid table a corpus-independent broadcast per decade
    * (732 rows at 100× sf0.1 — still trivially broadcastable; each
    * Lloyd step's merged partial sums stay K·dim longs). The oracle
    * derives the SAME K from count(*), so small scale factors
    * (n < 16·targetCell) are bit-identical to the historical K=16. */
  private[graft] val targetCell = 2048L

  /** The derived cell count for a corpus of `n` vectors. */
  private[graft] def derivedK(n: Long): Long = math.max(16L, n / targetCell)

  /** The derived cell count for a corpus directory — one metadata-only
    * parquet count. */
  private[graft] def derivedK(s: SparkSession, d: String): Long =
    derivedK(Tables.embeddings(s, d).count())

  /** Lloyd-train K = [[derivedK]] centroids for `iters` iterations
    * from the first-K seed, one [[lloydStep]] job per iteration over
    * the persisted training sample; the K-row model returns to the
    * driver in between, so no iteration plans over a lineage chain.
    * Returns that driver-held [[Model]] — all integer micro-units,
    * bit-identical to the oracle's [[lloydIterSql]] chain; a caller
    * that needs rows wraps it with [[modelFrame]]. Shared by the
    * k-means trainer, the IVF quantizer, and Recall. */
  private[graft] def trainCentroids(s: SparkSession, d: String,
      iters: Int): Model =
    trainCentroidsOn(s, embWithEu(s, d), iters)

  /** [[trainCentroids]] over an explicit corpus DataFrame (vec_id,
    * e_u — extra columns ignored): the form a TxnLog-backed
    * corpus trains through, where "the corpus" is a versioned snapshot
    * rather than a directory. K/seed/stride all derive from THIS
    * population, so a base-version training run is reproducible from
    * the base snapshot alone — what keeps an incrementally-refreshed
    * index's quantizer pinned and oracle-mirrorable. */
  private[graft] def trainCentroidsOn(s: SparkSession, corpus: DataFrame,
      iters: Int): Model = {
    // An RDD count of the scan: one job, where Dataset.count's partial
    // aggregate and exchange are two under AQE.
    val n = corpus.select(col("vec_id")).queryExecution.toRdd.count()
    val k = derivedK(n)
    // Train the quantizer on a deterministic ~64·K subsample (every
    // stride-th vec_id) — the standard IVF training regime (~30–256
    // points per centroid): full-corpus Lloyd costs n·K dot folds per
    // iteration, which with K ∝ n is the next quadratic wall after
    // derived-K; the sample caps per-cell training points at ~64
    // regardless of corpus size, while the FINAL assignment (the part
    // whose output is reported) still scans every vector. stride = 1
    // whenever n ≤ 64·K·… — in particular at every oracle scale
    // factor, where training remains bit-identical full-corpus Lloyd.
    val stride = math.max(1L, n / (64L * k))
    // Trimmed to the integer carrier; persisted because every
    // iteration re-scans it.
    val e = corpus.select(col("vec_id"), col("e_u"))
    val tr = StagedCache.persist(e.filter(col("vec_id") % stride === 0))
    var model = collectVecs(e.filter(col("vec_id") < k))
      .map { case (cid, cu) => (cid, cu, sqNorm(cu)) }
    for (_ <- 1 to iters) model = lloydStep(tr, Seq(model)).head
    model
  }

  /** A model as a local DataFrame (cid, c_u, csum, c2u), csum the
    * integer centroid checksum: for the joins and artifact writes that
    * need rows. */
  private def modelFrame(s: SparkSession, model: Model): DataFrame = {
    import s.implicits._
    model.map { case (cid, cu, c2u) => (cid, cu.toSeq, cu.sum, c2u) }
      .toDF("cid", "c_u", "csum", "c2u")
  }

  /** The q_kmeans trainer, iteration count exposed so KMeansSpec can
    * pin Lloyd monotonicity (total inertia non-increasing in `iters`).
    * inertia_u is Σ dist_u per cell — exact squared distance in µ²
    * units, a pure long sum. */
  private[graft] def kmeansReport(s: SparkSession, d: String,
      iters: Int): DataFrame = {
    val model = trainCentroids(s, d, iters)
    assignMin(embWithEu(s, d)
        .select(col("vec_id"), col("e_u"), col("n2u")), model)
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), sum(col("dist_u")).as("inertia_u"))
      .join(broadcast(modelFrame(s, model)
        .select(col("cid"), col("csum").as("cent_sum_u"))), "cid")
      .select(col("cid"), col("n"), col("inertia_u"), col("cent_sum_u"))
      .orderBy("cid")
  }

  /** IVF search, quantizer training depth and probe fan-out exposed for
    * the Recall sweep: `lloydIters` refinement iterations train the
    * coarse quantizer, probes search their `nprobe` nearest cells,
    * candidates live in their 1 nearest. At 100 TB the quantizer trains
    * on a sample as a small driver-side artifact and the search stays
    * one broadcast-assign + equi-join per probe batch, both linear
    * shapes; nprobe multiplies only the probe-side fan-out, never the
    * corpus-side state. */
  private[graft] def ivfTopK(s: SparkSession, d: String, nprobe: Int,
      lloydIters: Int): DataFrame = {
    val e = embWithEu(s, d)
      .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
    val model = trainCentroids(s, d, lloydIters)
    // Probes (corpus/25) take their nprobe nearest cells through the
    // windowed form — a small batch; candidates (the WHOLE corpus) go
    // through the map-side-combined argmin, never a pair-row shuffle.
    val probesR = assignNearest(e.filter(col("vec_id") % 25 === 0),
        model, keep = nprobe)
      .select(col("cid").as("cell"), col("vec_id").as("probe_id"),
        col("embedding").as("pv"), col("nrm").as("pnrm"))
    val cands = assignMin(e, model)
      .select(col("cid").as("cell"), col("vec_id").as("cand_id"),
        col("embedding").as("cv2"), col("nrm").as("cnrm"))
    topK(probesR.join(cands, "cell")
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(VectorFunctions.dot(col("pv"), col("cv2"))
          / (col("pnrm") * col("cnrm")), 6).as("cos_sim")))
  }

  /** The trained quantizer as a driver-side model artifact —
    * (cid, c_u, c2u) rows, K = [[derivedK]] of them. This is the
    * model-refresh output the streaming ingest kernel
    * ([[graft.streaming.StreamingKernels.annAssign]]) embeds as a plan
    * literal: K is corpus-derived but stays a broadcast-scale artifact
    * per decade (16 at the oracle SFs, 732 at 100× sf0.1). */
  private[graft] def trainedCentroidModel(s: SparkSession, d: String,
      iters: Int): Seq[(Long, Seq[Long], Long)] =
    trainCentroids(s, d, iters).map { case (cid, cu, c2u) => (cid, cu.toSeq, c2u) }

  /** Batch twin of the streaming ANN-ingest assignment — every corpus
    * vector's (cid, dist_u) under the trained quantizer, row-level.
    * StreamingSpec pins the streaming kernel bit-identical to this. */
  private[graft] def batchAssign(s: SparkSession, d: String,
      iters: Int): DataFrame = {
    assignMin(embWithEu(s, d).select(col("vec_id"), col("e_u"),
      col("n2u")), trainCentroids(s, d, iters))
      .select(col("vec_id"), col("cid"), col("dist_u"))
  }

  /** IVF with a PERSISTED index — the build-once / probe-many serving
    * split that [[ivfTopK]]'s in-memory form amortizes away. The
    * inverted lists are written ONCE as a parquet dataset PARTITIONED
    * BY CELL (each `cell=N/` directory IS an IVF posting list:
    * candidate id, float vector for the exact rerank, cached norm);
    * probe batches then read the index back and equi-join on the
    * partition column with the probe side broadcast, so Spark's
    * dynamic partition pruning turns "which cells does this probe
    * batch touch" into a METADATA decision — unprobed cells' files
    * are never opened (PlanAuditSpec pins the dynamicpruning
    * expression on the scan). At 100 TB this is the shape that
    * matters: the index build is one corpus scan amortized over every
    * subsequent probe batch, a production probe batch is a tiny query
    * set touching ≤ nprobe·batch of the K = n/2048 cells, and the
    * probe cost is cells-read-bounded, not corpus-bounded. Here the
    * build runs inside the query (the oracle gate is hermetic) and
    * the probe batch is corpus/25, so the measured time is
    * build + probe; results are bit-identical to q_ann_ivf (same
    * trained quantizer, same assignment, same rerank), which is what
    * lets the SAME oracle SQL check both. `cell` is written as int on
    * both sides so no implicit cast lands on the partition column
    * (a cast there defeats pruning). */
  private[graft] def ivfPersistTopK(s: SparkSession, d: String,
      nprobe: Int, lloydIters: Int): DataFrame = {
    val e = embWithEu(s, d)
      .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
    val (index, model) = ensureIvfIndex(s, d, lloydIters)
    val probesR = withPcell(assignNearest(e.filter(col("vec_id") % 25 === 0),
        model, keep = nprobe)
      .select(col("cid").cast("int").as("cell"),
        col("vec_id").as("probe_id"),
        col("embedding").as("pv"), col("nrm").as("pnrm")))
    topK(broadcast(probesR).join(index, Seq("pcell", "cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(VectorFunctions.dot(col("pv"), col("cv2"))
          / (col("pnrm") * col("cnrm")), 6).as("cos_sim")))
  }

  /** Directory fan-out cap for the persisted index: cells hash into at
    * most this many partition DIRECTORIES. With derived K the cell
    * count grows with the corpus — partitioning by raw cell wrote 29 k
    * directories × writer-task files at 1000× sf0.1 (a filesystem
    * metadata storm measured at ~2× the whole query); hashing cells
    * into a bounded pcell keeps the layout metadata-sane while probes
    * still prune: a probe batch touches ≤ nprobe·batch pcells of 1024.
    * Below the cap (every oracle SF) pcell ≡ cell — layout unchanged. */
  private val ivfMaxDirs = 1024

  /** The LIFECYCLE-MANAGED persisted IVF index: resolve (building at
    * most once per corpus content) the cell-partitioned inverted-file
    * artifact and return both its scan — (pcell int partition, cell
    * int, cand_id, cv2, cnrm) — and the TRAINED QUANTIZER it was
    * built under (read back from the artifact, so a reuse skips
    * retraining entirely — training is the expensive half). Probes
    * join on (pcell, cell): pcell is derived from cell, so the join
    * is semantically on cell while dynamic partition pruning binds to
    * the directory column. The write repartitions by pcell so each
    * directory gets a handful of files, not one per writer task.
    *
    * Shared by [[ivfPersistTopK]] and the hybrid-retrieval semantic
    * arm — ONE artifact, not a rebuild per consumer: within a session
    * the second consumer resolves instantly; across sessions the
    * content address ([[graft.operators.AnnIndexStore]]) revalidates
    * against the corpus fingerprint, which is the round-11 "index
    * rebuilds per query" scale-killer closed. Deterministic training
    * keeps a reused artifact bit-identical to a fresh build, so the
    * DuckDB oracle holds either way. */
  private def ensureIvfIndex(s: SparkSession, d: String,
      lloydIters: Int): (DataFrame, Model) = {
    val dir = graft.operators.AnnIndexStore.ensure(s, d, "ivf",
      s"iters=$lloydIters,dirs=$ivfMaxDirs,cell=$targetCell,v=1") { out =>
      val e = embWithEu(s, d)
        .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
      val model = trainCentroids(s, d, lloydIters)
      modelFrame(s, model).coalesce(1).write.parquet(s"$out/model")
      writeIvfGeneration(e, model, out)
    }
    (s.read.parquet(s"$dir/postings"), collectModel(s.read.parquet(s"$dir/model")))
  }

  /** Add the probe-side pcell key matching [[persistedIvfIndex]]. */
  private def withPcell(probes: DataFrame): DataFrame =
    probes.withColumn("pcell", pmod(col("cell"), lit(ivfMaxDirs)).cast("int"))

  /** Scratch root for TxnLog-backed vector corpora (the refresh query
    * writes a real versioned table), keyed like LakeQueries' so
    * concurrent Bench/Verify sessions never collide. */
  private def vecScratch(s: SparkSession, d: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_vec_${s.sparkContext.applicationId}_${new java.io.File(d).getName}"

  /** Write one postings GENERATION for `e` (must carry vec_id,
    * embedding, e_u, n2u, nrm) under `out` — the same cell-partitioned
    * layout as [[ensureIvfIndex]], so every generation of a chain
    * shares the directory shape and one multi-root scan partition-
    * prunes across all of them. */
  private def writeIvfGeneration(e: DataFrame, model: Model,
      out: String): Unit =
    assignMin(e, model)
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv2"),
        col("nrm").as("cnrm"), col("cid").cast("int").as("cell"))
      .withColumn("pcell", pmod(col("cell"), lit(ivfMaxDirs)).cast("int"))
      .repartition(col("pcell"))
      .write.partitionBy("pcell").parquet(s"$out/postings")

  /** The INCREMENTALLY-MAINTAINED persisted IVF index over a TxnLog
    * corpus ([[graft.operators.AnnIndexStore.ensureIncremental]]): the
    * first resolution trains the quantizer on the corpus snapshot and
    * writes the full postings; every later corpus ADVANCE adds one
    * postings generation holding only the appended rows' assignments
    * under the SAME pinned quantizer — refresh cost ∝ batch, never
    * ∝ corpus, which is what lets the index follow a streaming ingest
    * at 100 TB (a delete/rewrite in the interval falls back to a full
    * retrain — the correctness-preserving policy). Returns the chain
    * (one postings directory per generation) and the pinned
    * quantizer. */
  private[graft] def ensureIvfIndexIncremental(s: SparkSession,
      table: String, lloydIters: Int)
      : (graft.operators.AnnIndexStore.ChainedIndex, DataFrame) = {
    def corpusAt(v: Option[Long]): DataFrame =
      withEu(TxnLog.read(s, table, v))
        .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
    val chain = graft.operators.AnnIndexStore.ensureIncremental(
      s, table, "ivftxn",
      s"iters=$lloydIters,dirs=$ivfMaxDirs,cell=$targetCell,v=1") {
      (out, trainV) =>
        val corpus = corpusAt(Some(trainV))
        val model = trainCentroidsOn(s, corpus, lloydIters)
        modelFrame(s, model).coalesce(1).write.parquet(s"$out/model")
        writeIvfGeneration(corpus, model, out)
    } { (parent, out, fromV, toV) =>
      // The pinned quantizer: copied forward (K rows — model-artifact
      // sized) so every generation self-serves model + delta postings.
      val model = s.read.parquet(s"$parent/model")
      model.coalesce(1).write.parquet(s"$out/model")
      val delta = withEu(TxnLog.readAppended(s, table, fromV, Some(toV)))
        .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
      writeIvfGeneration(delta, collectModel(model), out)
    }
    (chain, s.read.parquet(s"${chain.dir}/model"))
  }

  /** q_ann_ivf_refresh body: base corpus (vec_id ≢ 0 mod 5) as a
    * TxnLog table, index built at v0 (quantizer trains on BASE only),
    * delta appended at v1, index REFRESHED (delta generation, no
    * retrain), then the standard probe batch (vec_id ≡ 0 mod 25, over
    * the full corpus) served from the chained index. */
  private[graft] def ivfRefreshTopK(s: SparkSession, d: String,
      nprobe: Int, lloydIters: Int): DataFrame = {
    val table = s"${vecScratch(s, d)}/annrefresh"
    val p = new org.apache.hadoop.fs.Path(table)
    val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fsys.exists(p)) fsys.delete(p, true)
    val emb = Tables.embeddings(s, d)
    TxnLog.create(s, table, emb.filter(col("vec_id") % 5 =!= 0))
    ensureIvfIndexIncremental(s, table, lloydIters) // v0: trains on base
    TxnLog.append(s, table, emb.filter(col("vec_id") % 5 === 0))
    val (chain, trained) =
      ensureIvfIndexIncremental(s, table, lloydIters) // v1: delta generation
    val e = withEu(TxnLog.read(s, table))
      .withColumn("nrm", VectorFunctions.l2Norm(col("embedding")))
    val probesR = withPcell(assignNearest(
        e.filter(col("vec_id") % 25 === 0), collectModel(trained), keep = nprobe)
      .select(col("cid").cast("int").as("cell"),
        col("vec_id").as("probe_id"),
        col("embedding").as("pv"), col("nrm").as("pnrm")))
    // One broadcast join PER GENERATION (a multi-root partitioned read
    // trips Spark's conflicting-directory check): each generation's
    // scan keeps its own partition pruning on pcell, and the scored
    // pairs union BEFORE the single top-k — generation count is
    // refresh cadence (small by policy), never data-sized.
    val pairs = chain.postingsDirs.map { dir =>
      broadcast(probesR).join(s.read.parquet(dir), Seq("pcell", "cell"))
        .filter(col("probe_id") =!= col("cand_id"))
        .select(col("probe_id"), col("cand_id"),
          round(VectorFunctions.dot(col("pv"), col("cv2"))
            / (col("pnrm") * col("cnrm")), 6).as("cos_sim"))
    }.reduce(_.unionByName(_))
    topK(pairs)
  }

  import OracleSql.{cappedBucket, dot, dotLong, l2Norm, lshBucket, microUnits}

  private def cosSql(a: String, b: String): String =
    s"round(${dot(a, b, dim)} / (${l2Norm(a, dim)} * ${l2Norm(b, dim)}), 6)"

  /** One Lloyd iteration as a CTE block (shared by the q_kmeans and
    * q_ann_ivf oracles): assign every vector to its nearest centroid
    * from `prev` (argmin on the exact µ²-unit norm-identity distance —
    * pure BIGINT arithmetic, no float rounding anywhere in the ranking
    * key), then the half-away INTEGER micro-unit per-cell mean (cvp_u)
    * and the integer centroid checksum — the same argmin, tie-break
    * and mean the Spark-side [[lloydStep]] computes, so every iteration
    * matches bit-for-bit with no representable-half rounding hazard.
    * Expects CTEs `base` (vec_id, embedding, e_u, n2u) and `$prev`
    * (cid, c_u, c2u) in scope; defines `t$i` (cid, c_u, csum, c2u). */
  private def lloydIterSql(i: Int, prev: String): String =
    s""" d$i AS (SELECT b.vec_id, b.e_u, cid,
       |    (b.n2u + c2u - 2 * ${dotLong("b.e_u", "c_u", dim)})::BIGINT AS dist_u
       |   FROM tr b CROSS JOIN $prev),
       | a$i AS (SELECT vec_id, e_u, cell0, dist_u FROM (
       |    SELECT vec_id, e_u, cid AS cell0, dist_u, row_number() OVER
       |      (PARTITION BY vec_id ORDER BY dist_u, cid) AS rn
       |    FROM d$i) WHERE rn = 1),
       | m$i AS (SELECT cell0, pos, sum(v_u)::BIGINT AS sq, count(*) AS n
       |   FROM (SELECT cell0, unnest(e_u) AS v_u,
       |      unnest(generate_series(1, $dim)) AS pos FROM a$i)
       |   GROUP BY cell0, pos),
       | u$i AS (SELECT cell0, pos,
       |    (CASE WHEN sq >= 0 THEN (sq * 2 + n) // (2 * n)
       |      ELSE -((-sq * 2 + n) // (2 * n)) END)::BIGINT AS cvp_u
       |   FROM m$i),
       | c$i AS (SELECT cell0 AS cid,
       |    list(cvp_u ORDER BY pos) AS c_u,
       |    sum(cvp_u)::BIGINT AS csum
       |   FROM u$i GROUP BY cell0),
       | t$i AS (SELECT cid, c_u, csum, ${dotLong("c_u", "c_u", dim)} AS c2u
       |   FROM c$i)""".stripMargin

  /** The full `iters`-deep training chain `seed → t1 → … → t$iters`. */
  private def lloydTrainSql(iters: Int): String =
    (1 to iters).map(i => lloydIterSql(i, if (i == 1) "seed" else s"t${i - 1}"))
      .mkString(",")

  /** Shared oracle prefix of the Lloyd family: embeddings with their
    * µ-unit integer carrier (e_u, n2u), the first-K seed with K
    * derived from count(*) exactly as [[derivedK]] does, and the
    * stride-sampled training subset `tr` (the [[trainCentroids]]
    * mirror: stride = max(1, n / (64·K)), which is 1 — full corpus —
    * at every oracle scale factor). */
  private val baseSeedSql =
    s"""WITH base AS (SELECT vec_id, embedding, e_u,
       |    ${dotLong("e_u", "e_u", dim)} AS n2u
       |   FROM (SELECT vec_id, embedding,
       |     ${microUnits("embedding")} AS e_u FROM embeddings)),
       | seed AS (SELECT vec_id AS cid, e_u AS c_u, n2u AS c2u
       |   FROM base WHERE vec_id <
       |     (SELECT greatest(16, count(*) // $targetCell) FROM base)),
       | tr AS (SELECT * FROM base WHERE vec_id %
       |   (SELECT greatest(1, count(*) //
       |      (64 * greatest(16, count(*) // $targetCell))) FROM base) = 0)"""
      .stripMargin

  /** One subspace's PQ chain: sub-slice carrier, first-pqK seed,
    * pqIters integer Lloyd iterations (the exact mirror of
    * [[trainPqBooks]]'s per-subspace chain), and the per-vector
    * encode (argmin codeword, (dist, cid) tie-break — the same total
    * order [[graft.functions.CentroidIndex]] computes). */
  private def pqSubspaceSql(m: Int, src: String = "base"): String = {
    val lo = m * pqSub + 1
    val hi = (m + 1) * pqSub
    val carrier =
      s""" p${m}b AS (SELECT vec_id, e_u[$lo:$hi] AS s_u FROM $src),
         | p${m}b2 AS (SELECT vec_id, s_u,
         |   ${dotLong("s_u", "s_u", pqSub)} AS s2u FROM p${m}b),
         | p${m}t0 AS (SELECT vec_id AS cid, s_u AS c_u, s2u AS c2u
         |   FROM p${m}b2 WHERE vec_id < $pqK)""".stripMargin
    val iters = (1 to pqIters).map { i =>
      s""" p${m}d$i AS (SELECT b.vec_id, b.s_u, cid,
         |    (b.s2u + c2u - 2 * ${dotLong("b.s_u", "c_u", pqSub)})::BIGINT
         |      AS dist_u
         |   FROM p${m}b2 b CROSS JOIN p${m}t${i - 1}),
         | p${m}a$i AS (SELECT vec_id, s_u, cell0 FROM (
         |    SELECT vec_id, s_u, cid AS cell0, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY dist_u, cid) AS rn
         |    FROM p${m}d$i) WHERE rn = 1),
         | p${m}m$i AS (SELECT cell0, pos, sum(v_u)::BIGINT AS sq,
         |    count(*) AS n
         |   FROM (SELECT cell0, unnest(s_u) AS v_u,
         |      unnest(generate_series(1, $pqSub)) AS pos FROM p${m}a$i)
         |   GROUP BY cell0, pos),
         | p${m}u$i AS (SELECT cell0, pos,
         |    (CASE WHEN sq >= 0 THEN (sq * 2 + n) // (2 * n)
         |      ELSE -((-sq * 2 + n) // (2 * n)) END)::BIGINT AS cvp_u
         |   FROM p${m}m$i),
         | p${m}t$i AS (SELECT cid, c_u, ${dotLong("c_u", "c_u", pqSub)} AS c2u
         |   FROM (SELECT cell0 AS cid, list(cvp_u ORDER BY pos) AS c_u
         |     FROM p${m}u$i GROUP BY cell0))""".stripMargin
    }.mkString(",")
    val encode =
      s""" p${m}e AS (SELECT vec_id, cid AS code$m, c_u AS cw$m, c2u AS c2_$m
         |  FROM (SELECT b.vec_id, t.cid, t.c_u, t.c2u, row_number() OVER
         |     (PARTITION BY b.vec_id ORDER BY
         |       (b.s2u + t.c2u - 2 * ${dotLong("b.s_u", "t.c_u", pqSub)})::BIGINT,
         |       t.cid) AS rn
         |    FROM p${m}b2 b CROSS JOIN p${m}t$pqIters t) WHERE rn = 1)"""
        .stripMargin
    s"$carrier,$iters,$encode"
  }

  /** IVF oracle at the shipped training depth: the shared
    * [[lloydIterSql]] quantizer chain (the same CTEs the q_kmeans
    * oracle trains), then reassignment — probes take their `nprobe`
    * nearest trained cells, candidates their 1 nearest. */
  private def ivfOracleSql(nprobe: Int): String = {
    val t = s"t$ivfLloydIters"
    s"""$baseSeedSql,
       |${lloydTrainSql(ivfLloydIters)},
       | dfin AS (SELECT b.vec_id, b.embedding, cid,
       |    (b.n2u + c2u - 2 * ${dotLong("b.e_u", "c_u", dim)})::BIGINT AS dist_u
       |   FROM base b CROSS JOIN $t),
       | r1 AS (SELECT vec_id, embedding, cid AS cell, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY dist_u, cid) AS rn FROM dfin),
       | probes AS (SELECT cell, vec_id AS probe_id, embedding AS pv
       |   FROM r1 WHERE vec_id % 25 = 0 AND rn <= $nprobe),
       | cands AS (SELECT cell, vec_id AS cand_id, embedding AS cv2
       |   FROM r1 WHERE rn = 1),
       | scored AS (SELECT probe_id, cand_id,
       |   ${cosSql("pv", "cv2")} AS cos_sim
       |  FROM probes p JOIN cands c ON c.cell = p.cell
       |   AND c.cand_id != p.probe_id),
       |$topKSql""".stripMargin.replace("\n", "")
  }

  /** q_ann_ivf_refresh's oracle: identical probe/cand/rerank chain to
    * [[ivfOracleSql]], except the quantizer (seed, K, training stride
    * and sample) derives from the BASE population (vec_id ≢ 0 mod 5)
    * while the final assignment covers EVERYTHING — the
    * pinned-quantizer + delta-generation semantics of the incremental
    * index, recomposed by DuckDB from the source table alone. */
  private def refreshOracleSql(nprobe: Int): String = {
    val t = s"t$ivfLloydIters"
    s"""WITH allv AS (SELECT vec_id, embedding, e_u,
       |    ${dotLong("e_u", "e_u", dim)} AS n2u
       |   FROM (SELECT vec_id, embedding,
       |     ${microUnits("embedding")} AS e_u FROM embeddings)),
       | base AS (SELECT * FROM allv WHERE vec_id % 5 != 0),
       | seed AS (SELECT vec_id AS cid, e_u AS c_u, n2u AS c2u
       |   FROM base WHERE vec_id <
       |     (SELECT greatest(16, count(*) // $targetCell) FROM base)),
       | tr AS (SELECT * FROM base WHERE vec_id %
       |   (SELECT greatest(1, count(*) //
       |      (64 * greatest(16, count(*) // $targetCell))) FROM base) = 0),
       |${lloydTrainSql(ivfLloydIters)},
       | dfin AS (SELECT b.vec_id, b.embedding, cid,
       |    (b.n2u + c2u - 2 * ${dotLong("b.e_u", "c_u", dim)})::BIGINT AS dist_u
       |   FROM allv b CROSS JOIN $t),
       | r1 AS (SELECT vec_id, embedding, cid AS cell, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY dist_u, cid) AS rn FROM dfin),
       | probes AS (SELECT cell, vec_id AS probe_id, embedding AS pv
       |   FROM r1 WHERE vec_id % 25 = 0 AND rn <= $nprobe),
       | cands AS (SELECT cell, vec_id AS cand_id, embedding AS cv2
       |   FROM r1 WHERE rn = 1),
       | scored AS (SELECT probe_id, cand_id,
       |   ${cosSql("pv", "cv2")} AS cos_sim
       |  FROM probes p JOIN cands c ON c.cell = p.cell
       |   AND c.cand_id != p.probe_id),
       |$topKSql""".stripMargin.replace("\n", "")
  }

  private val bucketCte =
    s"""WITH buck0 AS (SELECT vec_id, embedding,
       |   ${lshBucket("embedding", planes, dim)} AS bucket0 FROM embeddings),
       | sized AS (SELECT vec_id, embedding, bucket0,
       |   count(*) OVER (PARTITION BY bucket0) AS bsz FROM buck0),
       | buck AS (SELECT vec_id, embedding,
       |   ${cappedBucket("bucket0", "vec_id", "bsz", bucketCap)} AS bucket FROM sized)"""
      .stripMargin.replace("\n", "")

  private val topKSql =
    """ r AS (SELECT probe_id, cand_id, cos_sim, row_number() OVER
      |   (PARTITION BY probe_id ORDER BY cos_sim DESC, cand_id) AS rnk FROM scored)
      |SELECT probe_id, cand_id, cos_sim, rnk FROM r WHERE rnk <= 3
      |ORDER BY probe_id, rnk""".stripMargin.replace("\n", "")

  /** Shared multi-probe CTE chain: probes (from `probeSrc`) fan out
    * over home + hamming-1 buckets, TWO hash-sampled salts per probed
    * bucket (the mirror of [[probeSalts]]: the hashed sub-bucket and
    * its cyclic neighbor, collapsed to one when the bucket isn't
    * split). */
  private def multiProbeSql(probeFilter: String): String = {
    val neighborList = ("bucket0" +: (0 until nPlanes).map(j =>
      s"xor(bucket0, ${1L << j})")).mkString("[", ", ", "]")
    val saltSql = s"(${OracleSql.hash60(
      "'probe:' || probe_id::VARCHAR || ':' || pbucket::VARCHAR")} " +
      s"% ceil(bsz / ${bucketCap.toDouble})::BIGINT)"
    s"""$bucketCte,
       | sizes AS (SELECT bucket0 AS pbucket, count(*) AS bsz
       |   FROM buck0 GROUP BY bucket0),
       | pk AS (SELECT vec_id AS probe_id, embedding AS pv,
       |    unnest($neighborList) AS pbucket
       |   FROM buck0 $probeFilter),
       | psalt AS (SELECT probe_id, pv, pbucket, $saltSql AS salt1,
       |    ceil(bsz / ${bucketCap.toDouble})::BIGINT AS nsplit
       |   FROM pk JOIN sizes USING (pbucket)),
       | pexp AS (SELECT probe_id, pv, pbucket,
       |    unnest(list_distinct([salt1, (salt1 + 1) % nsplit])) AS salt
       |   FROM psalt),
       | probes AS (SELECT probe_id, pv,
       |    pbucket::VARCHAR || ':' || salt::VARCHAR AS bucket FROM pexp),
       | scored AS (SELECT probe_id, c.vec_id AS cand_id,
       |   ${cosSql("pv", "c.embedding")} AS cos_sim
       |  FROM probes p JOIN buck c ON c.bucket = p.bucket
       |   AND c.vec_id != p.probe_id),
       |$topKSql""".stripMargin.replace("\n", "")
  }

  def oracle: Map[String, String] = Map(
    "q_ann_brute" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pv
         |   FROM embeddings WHERE vec_id % 25 = 0),
         | scored AS (SELECT probe_id, e.vec_id AS cand_id,
         |   ${cosSql("pv", "e.embedding")} AS cos_sim
         |  FROM p, embeddings e WHERE e.vec_id != probe_id),
         |$topKSql""".stripMargin.replace("\n", ""),

    "q_ann_lsh" ->
      s"""$bucketCte,
         | scored AS (SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
         |   ${cosSql("a.embedding", "b.embedding")} AS cos_sim
         |  FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id != b.vec_id),
         |$topKSql""".stripMargin.replace("\n", ""),

    "q_ann_lsh_multiprobe" -> multiProbeSql("WHERE vec_id % 25 = 0"),

    "q_ann_lsh_mp_self" -> multiProbeSql(""),

    "q_ann_ivf" -> ivfOracleSql(ivfNProbe),

    "q_ann_ivf_hi" -> ivfOracleSql(8),

    // The persisted-index variant is result-identical to q_ann_ivf by
    // construction (same quantizer, assignment, rerank — only the
    // candidate TRANSPORT differs: parquet round-trip + pruned scan
    // instead of an in-memory join), so the same CTE chain checks it.
    "q_ann_ivf_persist" -> ivfOracleSql(ivfNProbe),
    "q_ann_ivf_refresh" -> refreshOracleSql(ivfNProbe),

    "q_kmeans" ->
      s"""$baseSeedSql,
         |${lloydTrainSql(3)},
         | df AS (SELECT b.vec_id, cid,
         |    (b.n2u + c2u - 2 * ${dotLong("b.e_u", "c_u", dim)})::BIGINT AS dist_u
         |   FROM base b CROSS JOIN t3),
         | af AS (SELECT vec_id, cid, dist_u FROM (
         |    SELECT vec_id, cid, dist_u, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY dist_u, cid) AS rn FROM df)
         |   WHERE rn = 1),
         | rep AS (SELECT cid, count(*)::BIGINT AS n,
         |    sum(dist_u)::BIGINT AS inertia_u
         |   FROM af GROUP BY cid)
         |SELECT rep.cid AS cid, n, inertia_u, t3.csum AS cent_sum_u
         | FROM rep JOIN t3 ON rep.cid = t3.cid
         | ORDER BY cid""".stripMargin.replace("\n", ""),

    "q_ann_quantized" ->
      s"""$baseSeedSql,
         |${lloydTrainSql(ivfLloydIters)},
         | s0 AS (SELECT vec_id, embedding, ${l2Norm("embedding", dim)} AS nrm,
         |   greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))),
         |     1e-30) AS scale FROM embeddings),
         | qz AS (SELECT vec_id, embedding, nrm, scale,
         |   list_transform(generate_series(1, $dim),
         |     i -> CAST(round(embedding[i]::DOUBLE / scale * 127) AS TINYINT))
         |     AS qv FROM s0),
         | dfin AS (SELECT b.vec_id, cid,
         |    (b.n2u + c2u - 2 * ${dotLong("b.e_u", "c_u", dim)})::BIGINT AS dist_u
         |   FROM base b CROSS JOIN t$ivfLloydIters),
         | r1 AS (SELECT vec_id, cid AS cell, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY dist_u, cid) AS rn FROM dfin),
         | pr AS (SELECT cell, r.vec_id AS probe_id, embedding AS pv,
         |   nrm AS pnrm, scale AS ps, qv AS pq
         |  FROM r1 r JOIN qz q ON q.vec_id = r.vec_id
         |  WHERE r.vec_id % 25 = 0 AND rn <= $ivfNProbe),
         | ca AS (SELECT cell, r.vec_id AS cand_id, embedding AS cv,
         |   nrm AS cnrm, scale AS cs, qv AS cq
         |  FROM r1 r JOIN qz q ON q.vec_id = r.vec_id WHERE rn = 1),
         | ap AS (SELECT probe_id, cand_id, pv, cv, pnrm, cnrm,
         |   round(${dot("pq", "cq", dim)} * ps * cs / 16129.0 / pnrm / cnrm, 6)
         |     AS score_q
         |  FROM pr p JOIN ca c ON c.cell = p.cell AND c.cand_id != p.probe_id),
         | t10 AS (SELECT * FROM (SELECT *, row_number() OVER
         |    (PARTITION BY probe_id ORDER BY score_q DESC, cand_id) AS rq
         |   FROM ap) WHERE rq <= 10),
         | scored AS (SELECT probe_id, cand_id, ${cosSql("pv", "cv")} AS cos_sim
         |   FROM t10),
         |$topKSql""".stripMargin.replace("\n", ""),

    // The PQ mirror: per-subspace integer Lloyd books, argmin encode,
    // exact-int ADC, the same rounded score and (DESC, cand_id) ties.
    "q_ann_pq" ->
      s"""$baseSeedSql,
         |${(0 until pqM).map(m => pqSubspaceSql(m)).mkString(",")},
         | encj AS (SELECT e0.vec_id,
         |    ${(0 until pqM).map(m => s"e$m.cw$m, e$m.c2_$m").mkString(", ")}
         |  FROM p0e e0 ${(1 until pqM).map(m =>
              s"JOIN p${m}e e$m USING (vec_id)").mkString(" ")}),
         | cands AS (SELECT vec_id AS cand_id,
         |    ${(0 until pqM).map(m => s"cw$m").mkString(", ")},
         |    (${(0 until pqM).map(m => s"c2_$m").mkString(" + ")})::BIGINT
         |      AS rn2u FROM encj),
         | pr AS (SELECT vec_id AS probe_id, e_u,
         |    ${l2Norm("embedding", dim)} AS pnrm
         |   FROM base WHERE vec_id % 25 = 0),
         | ap AS (SELECT probe_id, cand_id,
         |    (${(0 until pqM).map(m => dotLong(
              s"p.e_u[${m * pqSub + 1}:${(m + 1) * pqSub}]", s"c.cw$m",
              pqSub)).mkString(" + ")})::BIGINT AS adc_u,
         |    pnrm, sqrt(rn2u::DOUBLE) / 1e6 AS rnrm
         |   FROM pr p CROSS JOIN cands c WHERE probe_id != cand_id),
         | ap2 AS (SELECT probe_id, cand_id,
         |    round(adc_u::DOUBLE / 1e12 / pnrm / rnrm, 6) AS score_q FROM ap),
         | t10 AS (SELECT probe_id, cand_id FROM (SELECT *, row_number() OVER
         |    (PARTITION BY probe_id ORDER BY score_q DESC, cand_id) AS rq
         |   FROM ap2) WHERE rq <= $pqShort),
         | scored AS (SELECT t.probe_id, t.cand_id,
         |    ${cosSql("pe.embedding", "ce.embedding")} AS cos_sim
         |   FROM t10 t JOIN embeddings pe ON pe.vec_id = t.probe_id
         |   JOIN embeddings ce ON ce.vec_id = t.cand_id),
         |$topKSql""".stripMargin.replace("\n", ""),

    // IVF-PQ mirror: the shared coarse Lloyd chain restricts cells,
    // residuals (exact integer subtraction) feed the PQ chains, and
    // the ADC is the summed per-subspace ‖pr − cw‖² term, ascending.
    "q_ann_ivfpq" ->
      s"""$baseSeedSql,
         |${lloydTrainSql(ivfLloydIters)},
         | dfin AS (SELECT b.vec_id, cid,
         |    (b.n2u + c2u - 2 * ${dotLong("b.e_u", "c_u", dim)})::BIGINT
         |      AS dist_u
         |   FROM base b CROSS JOIN t$ivfLloydIters),
         | r1 AS (SELECT vec_id, cid AS cell, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY dist_u, cid) AS rn FROM dfin),
         | resid AS (SELECT r.vec_id, r.cell,
         |    list_transform(generate_series(1, $dim),
         |      i -> b.e_u[i] - t.c_u[i]) AS e_u
         |   FROM r1 r JOIN t$ivfLloydIters t ON t.cid = r.cell
         |   JOIN base b ON b.vec_id = r.vec_id WHERE rn = 1),
         |${(0 until pqM).map(m => pqSubspaceSql(m, "resid")).mkString(",")},
         | encj AS (SELECT e0.vec_id,
         |    ${(0 until pqM).map(m => s"e$m.cw$m, e$m.c2_$m").mkString(", ")}
         |  FROM p0e e0 ${(1 until pqM).map(m =>
              s"JOIN p${m}e e$m USING (vec_id)").mkString(" ")}),
         | ca AS (SELECT r.cell, q.vec_id AS cand_id,
         |    ${(0 until pqM).map(m => s"cw$m, c2_$m").mkString(", ")}
         |  FROM encj q JOIN resid r ON r.vec_id = q.vec_id),
         | pr AS (SELECT r.cell, r.vec_id AS probe_id,
         |    list_transform(generate_series(1, $dim),
         |      i -> b.e_u[i] - t.c_u[i]) AS pr_u
         |  FROM r1 r JOIN t$ivfLloydIters t ON t.cid = r.cell
         |  JOIN base b ON b.vec_id = r.vec_id
         |  WHERE r.vec_id % 25 = 0 AND rn <= $ivfNProbe),
         | ap AS (SELECT probe_id, cand_id,
         |    (${(0 until pqM).map { m =>
                val sl = s"p.pr_u[${m * pqSub + 1}:${(m + 1) * pqSub}]"
                s"(${dotLong(sl, sl, pqSub)} + c.c2_$m" +
                  s" - 2 * ${dotLong(sl, s"c.cw$m", pqSub)})"
              }.mkString(" + ")})::BIGINT AS d_u
         |   FROM pr p JOIN ca c ON c.cell = p.cell
         |     AND c.cand_id != p.probe_id),
         | t10 AS (SELECT probe_id, cand_id FROM (SELECT *, row_number() OVER
         |    (PARTITION BY probe_id ORDER BY d_u, cand_id) AS rq
         |   FROM ap) WHERE rq <= $pqShort),
         | scored AS (SELECT t.probe_id, t.cand_id,
         |    ${cosSql("pe.embedding", "ce.embedding")} AS cos_sim
         |   FROM t10 t JOIN embeddings pe ON pe.vec_id = t.probe_id
         |   JOIN embeddings ce ON ce.vec_id = t.cand_id),
         |$topKSql""".stripMargin.replace("\n", ""),

    "q_quantize_embed" ->
      s"""WITH t AS (SELECT vec_id, embedding,
         |   greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))),
         |     1e-30) AS scale FROM embeddings),
         | q AS (SELECT vec_id, scale,
         |   list_transform(generate_series(1, $dim),
         |     i -> CAST(round(embedding[i]::DOUBLE / scale * 127) AS BIGINT))
         |     AS qv FROM t)
         |SELECT vec_id, CAST(round(scale * 1e6) AS BIGINT) AS scale_u,
         | len(list_filter(qv, x -> abs(x) = 127))::BIGINT AS n_sat,
         | CAST(list_sum(list_transform(generate_series(1, $dim), i -> qv[i] * i))
         |   AS BIGINT) AS encode_sum
         | FROM q ORDER BY vec_id""".stripMargin.replace("\n", ""),

    "q_embed_near_dup" ->
      s"""$bucketCte
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |   ${cosSql("a.embedding", "b.embedding")} AS cos_sim
         | FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         | WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35
         | ORDER BY vec_a, vec_b""".stripMargin.replace("\n", ""),

    // The SAME shared Lloyd quantizer chain as q_kmeans/q_ann_ivf, then
    // within-cell pairs under the mirrored SkewGuard cap.
    "q_semdedup" ->
      s"""$baseSeedSql,
         |${lloydTrainSql(ivfLloydIters)},
         | dfin AS (SELECT b.vec_id, b.embedding, cid,
         |    (b.n2u + c2u - 2 * ${dotLong("b.e_u", "c_u", dim)})::BIGINT AS dist_u
         |   FROM base b CROSS JOIN t$ivfLloydIters),
         | asg AS (SELECT vec_id, embedding, cid AS cell0 FROM (
         |    SELECT vec_id, embedding, cid, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY dist_u, cid) AS rn FROM dfin)
         |   WHERE rn = 1),
         | sized AS (SELECT vec_id, embedding, cell0,
         |    count(*) OVER (PARTITION BY cell0) AS csz FROM asg),
         | cells AS (SELECT vec_id, embedding,
         |    ${cappedBucket("cell0", "vec_id", "csz", semCellCap)} AS cell
         |   FROM sized),
         | pairs AS (SELECT b.vec_id AS vec_id, a.vec_id AS vec_a,
         |    ${cosSql("a.embedding", "b.embedding")} AS cos_sim
         |   FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         | drp AS (SELECT vec_id, min(vec_a)::BIGINT AS rep,
         |    max(cos_sim) AS max_cos, count(*)::BIGINT AS n_nbrs
         |   FROM pairs WHERE cos_sim >= $semTau GROUP BY vec_id)
         |SELECT c.vec_id,
         | CASE WHEN d.rep IS NULL THEN 'kept' ELSE 'dropped' END AS status,
         | coalesce(d.rep, -1)::BIGINT AS rep,
         | coalesce(d.max_cos, 0.0) AS max_cos,
         | coalesce(d.n_nbrs, 0)::BIGINT AS n_nbrs
         | FROM cells c LEFT JOIN drp d ON d.vec_id = c.vec_id
         | ORDER BY c.vec_id""".stripMargin.replace("\n", ""),

    // Both arms replayed (BM25 mirrors q_bm25's CTEs; the semantic arm
    "q_source_centroids" ->
      s"""WITH dims AS (SELECT source, pos, round(v::DOUBLE * 1e6)::BIGINT AS v_u
         |   FROM (SELECT d0.source, unnest(e.embedding) AS v,
         |      unnest(generate_series(1, $dim)) AS pos
         |     FROM embeddings e JOIN documents d0 ON d0.doc_id = e.vec_id)),
         | cm AS (SELECT source, pos, sum(v_u)::BIGINT AS sum_u,
         |    count(*)::BIGINT AS n FROM dims GROUP BY source, pos),
         | cent AS (SELECT source, pos,
         |    (CASE WHEN sum_u >= 0 THEN (sum_u * 2 + n) // (2 * n)
         |      ELSE -((-sum_u * 2 + n) // (2 * n)) END)::BIGINT AS c_u
         |   FROM cm),
         | pr AS (SELECT a.source AS source_a, b.source AS source_b,
         |    sum(a.c_u * b.c_u)::BIGINT AS num_u,
         |    sum(a.c_u * a.c_u)::BIGINT AS na_u,
         |    sum(b.c_u * b.c_u)::BIGINT AS nb_u
         |   FROM cent a JOIN cent b ON a.pos = b.pos AND a.source < b.source
         |   GROUP BY source_a, source_b)
         |SELECT source_a, source_b,
         | round(num_u::DOUBLE / sqrt(na_u::DOUBLE * nb_u::DOUBLE), 6) AS cos_sim
         | FROM pr ORDER BY source_a, source_b""".stripMargin.replace("\n", ""),

    // is the IVF-cell-bounded retrieval over the shared Lloyd chain —
    // the persisted-index arm), fused with the same micro-scaled
    // 1/(60+rnk) longs.
    "q_hybrid_rrf" ->
      s"""$baseSeedSql,
         |${lloydTrainSql(ivfLloydIters)},
         | docs AS (SELECT doc_id, t, len(t)::BIGINT AS dl
         |   FROM (SELECT doc_id, ${OracleSql.toks("text")} AS t FROM documents)),
         | stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl
         |   FROM docs),
         | tf AS (SELECT doc_id, dl, x AS term, count(*)::BIGINT AS tf
         |   FROM (SELECT doc_id, dl, unnest(t) AS x FROM docs)
         |   WHERE x IN ('hash','join','query','dup','zorder')
         |   GROUP BY 1, 2, 3),
         | df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
         | c AS (SELECT doc_id,
         |   round(ln((n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0)
         |     * ((tf::DOUBLE * 2.2) / (tf::DOUBLE
         |       + 1.2 * (0.25 + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
         |     * 1e6, 0)::BIGINT AS cu
         |  FROM tf JOIN df USING (term) CROSS JOIN stats),
         | sc AS (SELECT doc_id, sum(cu)::BIGINT AS score_u FROM c GROUP BY doc_id),
         | ltop AS (SELECT doc_id, row_number() OVER
         |    (ORDER BY score_u DESC, doc_id)::BIGINT AS lex_rnk
         |   FROM (SELECT * FROM sc ORDER BY score_u DESC, doc_id LIMIT 50)),
         | hdf AS (SELECT b.vec_id, b.embedding, cid,
         |    (b.n2u + c2u - 2 * ${dotLong("b.e_u", "c_u", dim)})::BIGINT AS dist_u
         |   FROM base b CROSS JOIN t$ivfLloydIters),
         | hr1 AS (SELECT vec_id, embedding, cid AS cell, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY dist_u, cid) AS rn FROM hdf),
         | qp AS (SELECT cell, embedding AS pv FROM hr1
         |   WHERE vec_id = 42 AND rn <= $ivfNProbe),
         | hca AS (SELECT cell, vec_id AS cand_id, embedding AS cv2
         |   FROM hr1 WHERE rn = 1),
         | semsc AS (SELECT cand_id AS doc_id,
         |    ${cosSql("pv", "cv2")} AS cos_sim
         |   FROM qp p JOIN hca c ON c.cell = p.cell AND c.cand_id != 42),
         | stop AS (SELECT doc_id, row_number() OVER
         |    (ORDER BY cos_sim DESC, doc_id)::BIGINT AS sem_rnk
         |   FROM (SELECT * FROM semsc ORDER BY cos_sim DESC, doc_id LIMIT 50)),
         | fused AS (SELECT coalesce(l.doc_id, st.doc_id) AS doc_id,
         |    lex_rnk, sem_rnk,
         |    (coalesce(round(1e6 / (60 + lex_rnk), 0)::BIGINT, 0)
         |     + coalesce(round(1e6 / (60 + sem_rnk), 0)::BIGINT, 0)) AS rrf_u
         |   FROM ltop l FULL OUTER JOIN stop st ON st.doc_id = l.doc_id)
         |SELECT doc_id, lex_rnk, sem_rnk, rrf_u, rnk FROM (
         |  SELECT *, row_number() OVER (ORDER BY rrf_u DESC, doc_id)
         |    ::BIGINT AS rnk FROM fused) WHERE rnk <= 20 ORDER BY rnk"""
        .stripMargin.replace("\n", "")
  )
}

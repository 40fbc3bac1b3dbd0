package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.TextFunctions
import graft.sources.Tables

/** Deduplication operators for LLM-data pipelines over the `documents`
  * table — the north-star extension band (SURVEY §7.1 M6; the reference
  * has no dedup, its closest artifact is the inverted index's in-reducer
  * `HashSet` dedup, `trace-insertindex-job/.../TraceInsertIndexReducer.java:132-135`).
  *
  * Every pipeline here is bucketed, never all-pairs: candidate pairs come
  * from equality joins on deterministic keys (fingerprints, MinHash
  * bands, sampled shingle hashes, SimHash halves), so at 100 TB each is
  * one hash-shuffle on the candidate key followed by a verify join —
  * the same shape Spark would use for any large equi-join, AQE-coalesced
  * and skew-splittable. The hash family is md5-based ([[TextFunctions]])
  * and engine-independent, so dedup decisions are reproducible when the
  * corpus is re-sharded, and DuckDB mirrors them bit-for-bit.
  */
object DedupQueries extends QueryModule {

  /** doc_id + DISTINCT 60-bit hashes of the 3-token shingles — the unit
    * of near-dup similarity. The whole near-dup band runs on hashed
    * shingles, never shingle strings: Jaccard over 60-bit hash sets
    * equals string-set Jaccard up to vanishing collision probability,
    * the arrays are 8-byte longs instead of ~20-byte strings (cheaper
    * intersects at verify time), and DuckDB mirrors the hashing exactly.
    *
    * Staging discipline (measured at sf0.1):
    *  - `toks` is a real projection column — a lambda body referencing
    *    an inlined `split(regexp_…)` re-runs the tokenizer per array
    *    element (70+ s before staging, ~2 s after);
    *  - the emptiness filter sits on the CHEAP token stage: Catalyst
    *    pushes filters below projections by substituting aliases, so a
    *    size-of-shingles predicate would inline the whole shingle tree
    *    into the filter (10.7 s vs 0.2 s). */
  private def hashedShingles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      // Sorted so the verify join can use the native sorted-merge
      // Jaccard ([[graft.functions.JaccardExpr]]); sortedness changes
      // no set semantics (minhash/sampling are order-independent).
      // One native pass (ShingleHashExpr) — the declarative
      // shingles→hash60→distinct→sort chain it replaced is interpreted
      // (HOFs are CodegenFallback) and allocated every shingle string.
      .select(col("doc_id"),
        TextFunctions.hashedShingleSet(col("toks"), 3).as("hs"))

  /** Verify join: attach both (sorted) hashed-shingle sets to candidate
    * (doc_a, doc_b) pairs and keep those with Jaccard ≥ `thresh`. The
    * similarity is the native sorted-merge [[graft.functions.JaccardExpr]]
    * — O(n+m) per pair, no per-pair hash-set build. UNORDERED: the
    * presentation sort is the output queries' concern — an operator
    * consuming pairs (q_dedup_clusters) must not inherit a range
    * shuffle + sort its union immediately destroys. */
  private def verifyPairs(cand: DataFrame, base: DataFrame, thresh: Double): DataFrame =
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(graft.functions.JaccardExpr(col("hs_a"), col("hs_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= thresh)

  private val minhashSeeds = 8 // 4 bands × 2 rows

  /** MinHash banded candidates + exact-Jaccard verify over a STAGED
    * hashed-shingle table (`base` must already be in StagedCache: it
    * feeds signature generation AND both verify-join sides, whose
    * differing projections defeat exchange reuse — at 100 TB this is
    * the staged signature table a production dedup writes to storage).
    * Signature components come from the native one-pass
    * [[graft.functions.MinHashExpr]] (bit-identical to the
    * per-component folds, so the oracle mirrors them unchanged). */
  /** Banded-LSH candidate pairs alone (no verify) — shared by the
    * Jaccard-verified [[minhashPairs]] and the edit-distance-verified
    * q_edit_near_dup, which differ only in the verify metric. */
  private def minhashCandidates(base: DataFrame): DataFrame = {
    val sigs = base.select(col("doc_id"),
      graft.functions.MinHashExpr(col("hs"), minhashSeeds).as("sig"))
    // Staged too: both candidate-join sides read the band table, and
    // recomputing it would re-run the signature pass per side. Built
    // now, which also builds a lazily staged `base` under it: the
    // candidate join and the verify join then find both materialized,
    // where a lazy stage is built once per scan in the plan.
    val bands = StagedCache.persistBuilt(sigs.select(col("doc_id"),
      explode(array((0 until minhashSeeds / 2).map(j =>
        concat_ws(":", lit(j.toString),
          element_at(col("sig"), 2 * j + 1).cast("string"),
          element_at(col("sig"), 2 * j + 2).cast("string"))): _*)).as("bkey")))
    bands.as("a")
      .join(bands.as("b"), col("a.bkey") === col("b.bkey")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private def minhashPairs(base: DataFrame): DataFrame =
    verifyPairs(minhashCandidates(base), base, 0.5)

  /** Edge-row cap of the driver-side triangle census. (long, long)
    * edges are 16 bytes, so the cap holds the collected edge list to
    * about 16 MB, and the census's hash maps to a few times that. The
    * census is O(m^1.5) work: at the cap it measured 1.3–1.8 s warm
    * (random and hub-heavy graphs, 4-vCPU VM), where the distributed
    * census pays about 14 sequential stage jobs at any size. A
    * constant, like [[graft.operators.ConnectedComponents]]'s
    * partition sizing. */
  private[graft] val TriangleLocalRows = 1 << 20

  /** Forces q_triangle_count's distributed census at any edge count:
    * the parity legs compare it with the local one. Static like
    * [[graft.sources.MetaFanout.testDistribute]], never a conf. */
  @volatile private[graft] var testDistributedCensus = false

  /** The census's output schema, shared by both censuses. */
  private[graft] val triangleSchema = StructType(Seq(
    StructField("n_nodes", LongType, nullable = false),
    StructField("n_edges", LongType, nullable = false),
    StructField("n_wedges", LongType, nullable = true),
    StructField("n_triangles", LongType, nullable = false),
    StructField("gcc", DoubleType, nullable = true)))

  /** Triangle census of a distinct, canonical (doc_a < doc_b) edge list.
    * Edges are ORIENTED from the (degree, id)-smaller endpoint, so each
    * triangle is generated exactly once and wedge fan-out is bounded by
    * out-degrees of the min-degree orientation — the classic O(m^1.5)
    * triangle-enumeration bound instead of max-degree² hub explosion.
    * Wedge closure is a pure EQUI-join on the canonicalized (least,
    * greatest) pair key; no OR-condition join (which would plan a
    * BroadcastNestedLoop) exists. `deg` and `oriented` are not staged:
    * their second reads are identical subtrees, which exchange reuse
    * answers from the first read's shuffle. */
  private[graft] def distributedTriangleCensus(pairs: DataFrame): DataFrame = {
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val oriented = pairs
      .join(deg.select(col("v").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("v").as("doc_b"), col("deg").as("db")), "doc_b")
      // Ties fall to doc_a: pairs are canonical doc_a < doc_b, so
      // (deg, id) is a total order and each triangle has exactly ONE
      // all-outgoing vertex.
      .select(when(col("da") <= col("db"), col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(col("da") <= col("db"), col("doc_b")).otherwise(col("doc_a")).as("dst"))
    // x.dst < y.dst in the join already canonicalizes the closing
    // pair key (pairs are doc_a < doc_b) — no least/greatest needed.
    val wedges = oriented.as("x")
      .join(oriented.as("y"), col("x.src") === col("y.src")
        && col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("doc_a"), col("y.dst").as("doc_b"))
    val tri = wedges.join(pairs, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_triangles"))
    val ns = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("CAST(deg * (deg - 1) DIV 2 AS BIGINT)")).as("n_wedges"))
    val es = pairs.agg(count(lit(1)).as("n_edges"))
    // 1-row × 1-row crossJoins: broadcast-tiny by construction.
    ns.crossJoin(broadcast(es)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles") / col("n_wedges"))
          .otherwise(lit(0.0)), 6).as("gcc"))
  }

  /** [[distributedTriangleCensus]] on the driver, as one local row: the
    * same degrees, the same (deg, id) orientation with ties to doc_a,
    * the same closure of each out-neighbour wedge, a null `n_wedges` on
    * an empty graph (a SUM over no rows) and `gcc` rounded HALF_UP to 6
    * places as Spark's `round` does (through the same decimal string). */
  private[graft] def localTriangleCensus(s: SparkSession,
      pairs: Seq[(Long, Long)]): DataFrame = {
    import scala.collection.mutable.{ArrayBuilder, LongMap}
    val deg = LongMap.empty[Long]
    for ((a, b) <- pairs) {
      deg(a) = deg.getOrElse(a, 0L) + 1
      deg(b) = deg.getOrElse(b, 0L) + 1
    }
    val out = LongMap.empty[ArrayBuilder.ofLong]   // src → its out-neighbours
    val above = LongMap.empty[ArrayBuilder.ofLong] // doc_a → its doc_b's
    for ((a, b) <- pairs) {
      val (src, dst) = if (deg(a) <= deg(b)) (a, b) else (b, a)
      out.getOrElseUpdate(src, new ArrayBuilder.ofLong) += dst
      above.getOrElseUpdate(a, new ArrayBuilder.ofLong) += b
    }
    val closing = above.mapValuesNow { bl => val v = bl.result(); java.util.Arrays.sort(v); v }
    var triangles = 0L
    out.foreachValue { bl =>
      val ds = bl.result()
      java.util.Arrays.sort(ds)
      for (i <- ds.indices; up <- closing.get(ds(i)); j <- i + 1 until ds.length)
        if (java.util.Arrays.binarySearch(up, ds(j)) >= 0) triangles += 1
    }
    val wedges: java.lang.Long =
      if (deg.isEmpty) null else deg.valuesIterator.map(d => d * (d - 1) / 2).sum
    val gcc =
      if (wedges != null && wedges > 0)
        BigDecimal(3.0 * triangles / wedges.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
    s.createDataFrame(java.util.List.of(Row(deg.size.toLong, pairs.size.toLong,
      wedges, triangles, gcc)), triangleSchema)
  }

  /** Sampled-shingle candidate pairs (hash ≡ 0 mod 8 keys, SkewGuard
    * cap 64) — shared by q_ngram_jaccard and q_containment_pairs. For
    * CONTAINMENT this generator is the correct one where minhash bands
    * are not: bands are tuned to collide at high JACCARD, so a small
    * doc fully contained in a large one (containment 1, Jaccard
    * |small|/|large| → 0) almost never shares a band — but it shares
    * ALL its shingles, so each of its ~|small|/8 sampled keys collides
    * with the container; the miss probability is (7/8)^(|small|/8·8),
    * vanishing for any doc with dozens of shingles, independent of
    * Jaccard. */
  private def sampledShingleCandidates(base: DataFrame): DataFrame = {
    // No distinct on the exploded pairs: `hs` is per-doc distinct (see
    // q_ngram_jaccard's staging notes); the pair-level distinct below
    // is still required. SkewGuard cap bounds a popular key's group
    // (uncapped measured ~n^1.5 at 10×); the shingle-hash domain is
    // unbounded, so the size table is NOT broadcast-hinted.
    // STAGED past a size threshold, for the same reason
    // [[minhashCandidates]] stages its band table: BOTH self-join sides
    // read it, and un-staged each side re-runs the explode AND
    // SkewGuard's per-key count shuffle (the two subtrees don't
    // exchange-reuse — r18 plan audit). Measured ×10-inflation A/B
    // (32 c, 7–9 samples): q_containment_pairs 6.59 → 4.84 s,
    // q_ngram_jaccard 3.56 → 2.35 s staged; at sf0.1 the cache write
    // costs more than the saved re-compute (2.72 → 3.05 / 1.40 → 1.89),
    // so the crossover is conf-parameterized with the local default
    // between the two measured base-stats points (166 KB / 2.2 MB) —
    // the sf0.1 bench plan stays byte-identical, and a 100 TB corpus
    // (far past any threshold) always stages.
    val stageBytes = graft.GraftConf.get(base.sparkSession.sessionState.conf,
      "spark.graft.dedup.candStageBytes")(_.toLongOption).getOrElse(1L * 1024 * 1024)
    val sampledPlain = graft.operators.SkewGuard.capBuckets(
      base.select(col("doc_id"), explode(col("hs")).as("h"))
        .filter(col("h") % 8 === 0),
      "h", col("doc_id"), 64, broadcastSizes = false)
    val sampled =
      if (base.queryExecution.optimizedPlan.stats.sizeInBytes >=
        BigInt(stageBytes)) StagedCache.persist(sampledPlain)
      else sampledPlain
    sampled.as("a")
      .join(sampled.as("b"), col("a.h") === col("b.h")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group by content fingerprint, keep the min doc_id.
    // One shuffle on the fingerprint (window ≡ groupBy partitioning).
    "q_dedup_exact" -> ((s, d) => {
      val w = Window.partitionBy("fp")
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.fingerprintExact(col("text")).as("fp"))
        .withColumn("keeper_id", min("doc_id").over(w))
        .withColumn("is_keeper", col("doc_id") === col("keeper_id"))
        .orderBy("doc_id")
    }),

    // Order/duplication-insensitive dedup: docs whose sorted distinct
    // token sets collide (detects shuffled copies). Report groups ≥ 2.
    "q_dedup_shuffled" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.fingerprintShuffle(col("text")).as("fp"))
        .groupBy("fp")
        .agg(count("*").as("dup_count"), min("doc_id").as("keeper_id"),
          concat_ws(",", transform(array_sort(collect_list(col("doc_id"))),
            _.cast("string"))).as("doc_ids"))
        .filter(col("dup_count") >= 2)
        .orderBy("fp")),

    // Keep-BEST dedup policy: where q_dedup_exact/shuffled keep the
    // min-doc_id member of each duplicate group, production pipelines
    // keep the highest-QUALITY member (here: most tokens — shuffled
    // copies share a distinct-token set but differ in repetition, so
    // the policy genuinely chooses) and report the tokens the drop
    // saves. Plan shape: the rank window and the group aggregate key
    // on the SAME column, so Catalyst plans ONE fp exchange reused by
    // both — still the single-shuffle dedup.
    "q_dedup_keep_best" -> ((s, d) => {
      val staged = Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.fingerprintShuffle(col("text")).as("fp"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      val w = Window.partitionBy("fp")
        .orderBy(col("n_tokens").desc, col("doc_id"))
      staged
        .withColumn("rnk", row_number().over(w))
        .groupBy("fp")
        .agg(count(lit(1)).as("dup_count"),
          max(when(col("rnk") === 1, col("doc_id"))).as("keeper_id"),
          max(when(col("rnk") === 1, col("n_tokens"))).as("keeper_tokens"),
          sum(when(col("rnk") > 1, col("n_tokens")).otherwise(0L))
            .as("tokens_dropped"))
        .filter(col("dup_count") >= 2)
        .orderBy("fp")
    }),

    // MinHash + banded LSH near-dup: 8 signature components (one md5
    // pass per doc + 8 universal-hash mixes) in 4 bands of 2; docs
    // agreeing on any band become candidates (bucket join on the band
    // key — never all-pairs), then exact Jaccard ≥ 0.5 verify.
    "q_near_dup_minhash" -> ((s, d) =>
      minhashPairs(StagedCache.persist(hashedShingles(s, d)))
        .orderBy("doc_a", "doc_b")),

    // Near-dup CLUSTER resolution: connected components over the
    // verified minhash pairs, labels = component-min doc_id — the step
    // that turns pairwise verdicts into "keep one doc per cluster"
    // (pairs alone can't: a~b and b~c must collapse to ONE keeper even
    // when a~c was never a candidate). Iterate-to-convergence min-label
    // propagation: each round is one distributed join + aggregation;
    // the DRIVER only coordinates rounds and checks the converged
    // count (O(cluster diameter) rounds — near-dup clusters are
    // shallow; a 20-round cap guards pathological chains). The DuckDB
    // mirror is a recursive CTE computing the same component minima
    // exactly, so convergence — not round count — defines the result.
    "q_dedup_clusters" -> ((s, d) => {
      val base = StagedCache.persist(hashedShingles(s, d))
      val pairs = minhashPairs(base).select(col("doc_a"), col("doc_b"))
      val labels = graft.operators.ConnectedComponents(pairs, "doc_a", "doc_b")
        .withColumnRenamed("node_id", "doc_id")
      val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy("doc_id")
    }),

    // Canonical-doc selection per NEAR-dup cluster — the step after
    // cluster resolution: within each connected component of the
    // verified near-dup graph, keep the highest-quality member (most
    // tokens, doc_id tiebreak) and report what the drop saves. This is
    // q_dedup_keep_best lifted from exact-fingerprint groups to
    // transitive near-dup clusters: the full composition a production
    // dedup runs (LSH candidates → Jaccard verify → connected
    // components → keep-best). Plan adds one doc_id join (labels are
    // only the docs in verified pairs — tiny next to the corpus) and
    // reuses the cluster_id exchange between window and aggregate.
    "q_cluster_keep_best" -> ((s, d) => {
      val base = StagedCache.persist(hashedShingles(s, d))
      val pairs = minhashPairs(base).select(col("doc_a"), col("doc_b"))
      val labels = graft.operators.ConnectedComponents(pairs, "doc_a", "doc_b")
        .withColumnRenamed("node_id", "doc_id")
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextFunctions.tokens(col("text"))).cast("long").as("n_tokens"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_tokens").desc, col("doc_id"))
      labels.join(toks, "doc_id")
        .withColumn("rnk", row_number().over(w))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"),
          max(when(col("rnk") === 1, col("doc_id"))).as("keeper_id"),
          max(when(col("rnk") === 1, col("n_tokens"))).as("keeper_tokens"),
          sum(when(col("rnk") > 1, col("n_tokens")).otherwise(0L))
            .as("tokens_dropped"))
        .orderBy("cluster_id")
    }),

    // PageRank over the verified near-dup graph — "which documents sit
    // at the center of duplication mass": node = doc, edge = verified
    // Jaccard ≥ 0.5 pair, 3 iterations in EXACT integer micro-units
    // (see [[graft.operators.PageRank]]: the contribution is the
    // integer division (rank_u·85) div (100·deg), so the ITERATION is
    // bit-reproducible on any engine/sharding — not merely the rounded
    // presentation). The DuckDB mirror unrolls the three rounds as
    // plain CTEs with `//`. Plan: each round is one node-keyed join
    // against the staged (src, dst, deg) edge table + one
    // partial-aggregated sum — data-linear per round at 100 TB.
    "q_pagerank" -> ((s, d) => {
      val base = StagedCache.persist(hashedShingles(s, d))
      val pairs = minhashPairs(base).select(col("doc_a"), col("doc_b"))
      graft.operators.PageRank(pairs, "doc_a", "doc_b", iters = 3)
        .select(col("node_id").as("doc_id"), col("rank_u"),
          round(col("rank_u").cast("double") / lit(1e6), 6).as("rank"))
        .orderBy("doc_id")
    }),

    // n-gram Jaccard near-dup with sampled-shingle candidates: shingles
    // whose hash ≡ 0 (mod 8) act as candidate keys (~1/8 of shingles;
    // a J≥0.5 pair shares dozens, so the miss probability is <0.2% —
    // and identical in the oracle since the sampling is deterministic).
    "q_ngram_jaccard" -> ((s, d) => {
      // Same staged-table materialization as q_near_dup_minhash.
      val base = StagedCache.persist(hashedShingles(s, d))
      // No distinct here: `hs` is array_distinct per doc, so the
      // exploded (doc_id, h) pairs are already unique — a distinct()
      // would add a full shuffle for nothing (removed after plan
      // review; the pair-level distinct below is still required, since
      // two docs can share several sampled hashes). NOT staged
      // (measured): both candidate-join sides share the exchange of
      // the same subplan, so caching the wide exploded table costs
      // more than it saves — 1.80 s → 2.56 s when persisted at sf0.1.
      // Candidate generation factored to [[sampledShingleCandidates]]
      // (SkewGuard-capped sampled keys; the scaling-curve history and
      // cap rationale live on the helper).
      verifyPairs(sampledShingleCandidates(base), base, 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // Benchmark decontamination: flag train docs whose hashed-shingle
    // containment against any eval-set doc reaches 0.5 — the check a
    // training pipeline runs so benchmark text doesn't leak into the
    // corpus. The eval set here is the deterministic slice doc_id ≡ 7
    // (mod 10) AND doc_id < 2000 standing in for a real benchmark
    // table — the absolute id bound keeps the stand-in FIXED-size
    // (≤200 docs) as the corpus scale factor grows, so the broadcast
    // below stays constant-size rather than 10%-of-corpus. The
    // 100 TB shape: eval sets are small (benchmarks, not corpora), so
    // their exploded shingle-key table BROADCASTS — the train corpus
    // is scanned once and never shuffled to find candidates; only the
    // (train, eval) candidate pairs (bounded by eval size × shared
    // keys) reach the pair aggregation. Containment = |∩| / |eval
    // shingles| (not Jaccard: a short benchmark fully contained in a
    // long train doc must flag even though its Jaccard is low).
    "q_decontaminate" -> ((s, d) => {
      val base = StagedCache.persist(hashedShingles(s, d))
      val ev = base.filter(col("doc_id") % 10 === 7 && col("doc_id") < 2000)
        .select(col("doc_id").as("eval_id"), col("hs").as("ehs"))
      val evalKeys = ev.select(col("eval_id"), explode(col("ehs")).as("h"))
      val trainKeys = base.filter(!(col("doc_id") % 10 === 7 && col("doc_id") < 2000))
        .select(col("doc_id").as("train_id"), explode(col("hs")).as("h"))
      trainKeys.join(broadcast(evalKeys), "h")
        .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
        .join(broadcast(ev.select(col("eval_id"),
          size(col("ehs")).cast("long").as("n_eval"))), "eval_id")
        .withColumn("containment",
          round(col("n_shared").cast("double") / col("n_eval"), 6))
        .filter(col("containment") >= 0.5)
        .select(col("train_id"), col("eval_id"), col("n_shared"), col("containment"))
        .orderBy("train_id", "eval_id")
    }),

    // SimHash near-dup: 32-bit token-vote signature; candidates share a
    // 16-bit half, verified by hamming distance ≤ 8. Banding here is a
    // deterministic heuristic candidate filter: 2 halves guarantee full
    // recall only for hamming ≤ 1 (pigeonhole — 2 differing bits can
    // split 1/1 across the halves); recall for hamming 2..8 is < 1, and
    // exact recall at the ≤8 cutoff would need 9 bands. The oracle uses
    // identical banding, so the miss set is identical on both engines.
    "q_near_dup_simhash" -> ((s, d) => {
      // Stage tokens then token hashes as real columns: one tokenizer
      // pass + one md5 pass per row; the 32 bit-folds are arithmetic
      // over the staged long array.
      // Staged: the signature table is read three times (band
      // generation + both verify-join sides) — one tokenizer + md5 +
      // bit-fold pass instead of three.
      val sh = StagedCache.persist(Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          transform(col("toks"), t => TextFunctions.hash60(t)).as("thashes"))
        .select(col("doc_id"),
          graft.functions.SimHashExpr(col("thashes")).as("sh")))
      val bands0 = sh.select(col("doc_id"), explode(array(
        concat_ws(":", lit("0"), (col("sh").bitwiseAND(lit(0xFFFFL))).cast("string")),
        concat_ws(":", lit("1"), shiftright(col("sh"), 16).cast("string"))))
        .as("bkey"))
      // Half-buckets hold ~n/65k docs each — linear in corpus size, so
      // the within-bucket pair join is quadratic in the skewiest bucket
      // at scale; the deterministic cap bounds it (SkewGuard scaladoc).
      // Staged: SkewGuard scans its input twice (sizes + join) and the
      // pair join reads the capped table from both sides.
      val bands = StagedCache.persist(
        graft.operators.SkewGuard.capBuckets(bands0, "bkey", col("doc_id"), 64))
      val cand = bands.as("a")
        .join(bands.as("b"), col("a.bkey") === col("b.bkey")
          && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 8)
        .orderBy("doc_a", "doc_b")
    }),

    // Incremental ingest dedup, Bloom-accelerated: an incoming batch
    // (doc_id ≡ 0 mod 5) is deduped against the historical corpus (the
    // rest) by content hash. The 100 TB shape: the history's
    // fingerprints compress into ONE fixed-size Bloom filter (scalar
    // subquery — built once, a literal thereafter); bloom-NEGATIVE
    // incoming rows are DEFINITIVELY new (no false negatives) and
    // bypass the anti-join entirely, so the anti-join's shuffle
    // carries only the bloom-positive suspects (true dups + ~fpp of
    // the batch) instead of the whole batch. Result ≡ the plain
    // anti join — the oracle states exactly that.
    "q_dedup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.graftbridge.Bridge
      import graft.functions.{BloomBuildAgg, BloomMightContain}
      val fp = TextFunctions.hash60(col("text"))
      val docs = Tables.documents(s, d)
      val hist = docs.filter(col("doc_id") % 5 =!= 0).select(fp.as("fp"))
      val incoming = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), fp.as("fp"))
      val bloom = Bridge.scalarSubquery(
        hist.agg(BloomBuildAgg(col("fp"), 65536L, 0.01).as("bf")))
      val definitelyNew = incoming
        .where(!BloomMightContain(bloom, col("fp")))
      val suspects = incoming
        .where(BloomMightContain(bloom, col("fp")))
        .join(hist, Seq("fp"), "left_anti")
        .select(col("doc_id"), col("fp"))
      definitelyNew.unionByName(suspects).orderBy("doc_id")
    }),

    // Containment near-dup — the ASYMMETRIC verify that catches subset
    // copies Jaccard misses: a short doc fully quoted inside a long
    // one has |∩|/|∪| ≈ |short|/|long| (arbitrarily small) but
    // containment |∩|/min(|A|,|B|) = 1. Candidates come from the
    // SAMPLED-SHINGLE generator, not minhash bands: bands collide at
    // high Jaccard, so they systematically miss exactly the
    // high-containment/low-Jaccard pairs this query exists for, while
    // a contained doc shares every sampled key with its container
    // (see [[sampledShingleCandidates]]). The verify divides the
    // sorted-merge intersection by the SMALLER set; jaccard is
    // reported alongside so the consumer sees which regime each pair
    // is in (high-containment/low-jaccard = subset copy; both high =
    // full duplicate).
    "q_containment_pairs" -> ((s, d) => {
      val base = StagedCache.persist(hashedShingles(s, d))
      val cand = sampledShingleCandidates(base)
      cand
        .join(base.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
        .join(base.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
            .as("n_common"),
          least(size(col("hs_a")), size(col("hs_b"))).cast("long").as("n_min"),
          round(graft.functions.JaccardExpr(col("hs_a"), col("hs_b")), 6)
            .as("jaccard"))
        .withColumn("containment",
          round(col("n_common").cast("double") / col("n_min"), 6))
        .filter(col("containment") >= 0.8)
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_min"),
          col("jaccard"), col("containment"))
        .orderBy("doc_a", "doc_b")
    }),

    // Cross-language duplication audit — the translation-contamination
    // signal: verified near-dup pairs whose endpoints carry DIFFERENT
    // lang labels (a multilingual corpus sharing shingle content
    // across langs means mislabeled or machine-translated copies; the
    // mC4/CCNet pipelines audit exactly this before per-lang dedup).
    // Pair langs are canonicalized (least, greatest) so (de,en) and
    // (en,de) collapse into one audit cell. The lang lookup joins are
    // merge-hinted: the (doc_id, lang) table is corpus-sized and must
    // shuffle on doc_id, not broadcast (same hazard q_edit_near_dup
    // measured).
    "q_cross_lang_dup" -> ((s, d) => {
      val base = StagedCache.persist(hashedShingles(s, d))
      val pairs = minhashPairs(base).select(col("doc_a"), col("doc_b"))
      val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      pairs
        .join(langs.select(col("doc_id").as("doc_a"), col("lang").as("la"))
          .hint("merge"), "doc_a")
        .join(langs.select(col("doc_id").as("doc_b"), col("lang").as("lb"))
          .hint("merge"), "doc_b")
        .select(least(col("la"), col("lb")).as("lang_a"),
          greatest(col("la"), col("lb")).as("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_cross", col("lang_a") =!= col("lang_b"))
        .orderBy("lang_a", "lang_b")
    }),

    // Corpus-level source-similarity matrix via the kmv_values SET
    // sketch: per-source k-minimum shingle hashes (k=256), pairwise
    // Jaccard estimated with the standard KMV set-operation estimator
    // — take the k smallest of the union, count how many lie in both.
    // This is what the mergeable-sketch design buys at 100 TB: each
    // source's entire shingle population compresses to k longs through
    // map-side partials and ONE shuffle, and the 20×20 pairwise stage
    // runs on a #sources-row table (the non-equi self-join is
    // broadcast-tiny by construction). Deterministic: the sketch
    // depends only on the input SET, so DuckDB rebuilds it exactly
    // with a rank window.
    "q_source_similarity" -> ((s, d) => {
      val k = 256
      val sh = Tables.documents(s, d)
        .select(col("source"), TextFunctions.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("source"),
          explode(TextFunctions.hashedShingleSet(col("toks"), 3)).as("h"))
      val sk = StagedCache.persist(sh.groupBy("source")
        .agg(graft.functions.KmvValuesAgg(col("h"), k).as("mins")))
      sk.select(col("source").as("source_a"), col("mins").as("ma"))
        .join(sk.select(col("source").as("source_b"), col("mins").as("mb")),
          col("source_a") < col("source_b"))
        .withColumn("x",
          slice(array_sort(array_distinct(concat(col("ma"), col("mb")))), 1, k))
        .withColumn("n_common", size(filter(col("x"),
          v => array_contains(col("ma"), v) && array_contains(col("mb"), v)))
          .cast("long"))
        .select(col("source_a"), col("source_b"),
          size(col("ma")).cast("long").as("n_a"),
          size(col("mb")).cast("long").as("n_b"),
          size(col("x")).cast("long").as("n_union_mins"),
          col("n_common"),
          round(col("n_common").cast("double") / size(col("x")), 6)
            .as("est_jaccard"))
        .orderBy("source_a", "source_b")
    }),

    // Triangle census of the verified near-dup graph — the structural
    // signal the pairwise/cluster views can't give: a triangle-dense
    // component is a genuine duplicate FAMILY (every member resembles
    // every other), a triangle-free chain is drift (a~b~c where a and
    // c share nothing — e.g. incremental edits), and the global
    // clustering coefficient summarizes which regime the corpus is in.
    // Scale shape: see [[distributedTriangleCensus]].
    "q_triangle_count" -> ((s, d) => {
      val base = StagedCache.persist(hashedShingles(s, d))
      val pairs = StagedCache.persist(
        minhashPairs(base).select(col("doc_a"), col("doc_b")))
      // The ACTUAL row count decides, never an estimate: at or below
      // the cap the staged edges come to the driver and the census
      // runs there, saving the distributed census's chain of about 14
      // sequential stage jobs over a graph of a few hundred edges.
      val few = pairs.limit(TriangleLocalRows + 1).collect()
      if (few.length <= TriangleLocalRows && !testDistributedCensus)
        localTriangleCensus(s, few.map(r => (r.getLong(0), r.getLong(1))).toSeq)
      else distributedTriangleCensus(pairs)
    }),

    // Edit-distance-verified near-dup: the SAME banded-LSH candidate
    // generator as q_near_dup_minhash, but the verify metric is
    // character-level Levenshtein similarity instead of shingle
    // Jaccard — the metric that distinguishes "same words, light
    // edits" (high) from "same vocabulary, rewritten" (low), which
    // set-based Jaccard cannot. Scale shape: Levenshtein is O(L²) per
    // pair, so the verify runs on a FIXED 256-char normalized prefix —
    // bounded constant work per candidate regardless of document
    // length (the policy a production pipeline needs at 100 TB, where
    // a single 1 MB×1 MB pair would otherwise stall its task). Both
    // engines compute plain Levenshtein on the identical prefix.
    "q_edit_near_dup" -> ((s, d) => {
      val base = StagedCache.persist(hashedShingles(s, d))
      val cand = minhashCandidates(base)
      val ptx = Tables.documents(s, d).select(col("doc_id"),
        substring(TextFunctions.normalizeText(col("text")), 1, 256).as("ptxt"))
      // The prefix table is CORPUS-sized: merge-hint both verify sides
      // so they shuffle on doc_id (data-linear). Without the hint,
      // Catalyst's size estimate for the unstaged substring projection
      // lands under the broadcast threshold and it ships the whole
      // corpus's prefixes to every task — measured ~5× slower at 10×
      // data, and a driver OOM at real scale.
      cand
        .join(ptx.select(col("doc_id").as("doc_a"), col("ptxt").as("pa"))
          .hint("merge"), "doc_a")
        .join(ptx.select(col("doc_id").as("doc_b"), col("ptxt").as("pb"))
          .hint("merge"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"),
          round(lit(1.0) - levenshtein(col("pa"), col("pb")).cast("double") /
            greatest(length(col("pa")), length(col("pb"))), 6).as("edit_sim"))
        .filter(col("edit_sim") >= 0.6)
        .orderBy("doc_a", "doc_b")
    }),

    // Cross-source duplication audit: for every source pair, how many
    // duplicate content groups they share (off-diagonal = one source
    // copying another; diagonal = within-source duplication). The
    // dup key is the order/repetition-insensitive shuffle fingerprint
    // (this fixture's duplicates are shuffled copies — exact fps never
    // collide across docs here). Plan shape at 100 TB: one shuffle on
    // fp for the (fp, source) rollup; the self-join on fp is bounded —
    // each fp group holds at most #sources rows (a few dozen), so the
    // pair fan-out is ≤ C(#sources,2) per fp, never quadratic in docs.
    "q_source_overlap" -> ((s, d) => {
      val g = StagedCache.persist(Tables.documents(s, d)
        .select(TextFunctions.fingerprintShuffle(col("text")).as("fp"), col("source"))
        .groupBy("fp", "source").agg(count(lit(1)).as("n")))
      g.as("a")
        .join(g.as("b"), col("a.fp") === col("b.fp") &&
          (col("a.source") < col("b.source") ||
            (col("a.source") === col("b.source") && col("a.n") >= 2)))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("shared_fps"),
          sum(col("na")).as("docs_a"), sum(col("nb")).as("docs_b"))
        .orderBy("source_a", "source_b")
    }),

    // Duplicated-SPAN detection at stride-1 window granularity (the
    // exact-substring dedup of Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better", arXiv:2107.06499,
    // at token-window resolution): every 16-token window of every doc
    // is hashed; windows appearing in ≥ 2 docs are duplicated spans,
    // and each doc reports what fraction of its distinct windows is
    // duplicated elsewhere. Catches PARTIAL overlap — a copied
    // paragraph inside an otherwise-novel doc — that whole-doc
    // fingerprints and disjoint-chunk dedup (q_chunk_dedup) both miss.
    // Plan shape: the window table is ~tokens-per-corpus rows (stride
    // 1 ⇒ one row per token position — data-linear, the honest cost);
    // the dup detection is one groupBy on the window hash, and the
    // per-doc rollups reuse that same hash-partitioned exchange for
    // the semi-join side. No pair join exists anywhere — this scales
    // as ONE aggregation, not as candidates × verify.
    "q_span_dup" -> ((s, d) => {
      val w = 16
      val spans = StagedCache.persist(Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= w)
        .select(col("doc_id"),
          explode(TextFunctions.hashedShingleSet(col("toks"), w)).as("h")))
      val dup = spans.groupBy("h").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2).select("h")
      val perDoc = spans.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      val dupPerDoc = spans.join(dup, Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
      perDoc.join(dupPerDoc, "doc_id")
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
            .as("dup_frac"))
        .orderBy("doc_id")
    })
  )

  import OracleSql._

  /** Shared CTE prefix: tokens → distinct hashed 3-shingles per doc
    * (mirror of [[hashedShingles]]). */
  private val baseCte =
    s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
       | base AS (SELECT doc_id,
       |   list_distinct(list_transform(
       |     list_transform(generate_series(1, len(t)-2),
       |       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
       |     s -> ${hash60("s")})) AS hs
       |  FROM tok WHERE len(t) >= 3)""".stripMargin.replace("\n", "")

  private def jaccardSql(a: String, b: String): String =
    s"round(len(list_intersect($a,$b))::DOUBLE / (len($a)+len($b)-len(list_intersect($a,$b))), 6)"

  private val verifySql =
    s""", pairs AS (SELECT doc_a, doc_b, ${jaccardSql("sa.hs", "sb.hs")} AS jaccard
       |  FROM cand JOIN base sa ON sa.doc_id = cand.doc_a
       |            JOIN base sb ON sb.doc_id = cand.doc_b)
       |SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin.replace("\n", "")

  /** Mirror of [[sampledShingleCandidates]]: baseCte → mod-8 sampled
    * shingle keys → SkewGuard-capped buckets → candidate pairs. */
  private lazy val sampledCandCtes =
    s"""$baseCte,
       | raw AS (SELECT doc_id, h FROM (
       |    SELECT doc_id, unnest(hs) AS h FROM base)
       |   WHERE h % 8 = 0),
       | hsz AS (SELECT h, count(*) AS bsz FROM raw GROUP BY h),
       | sampled AS (SELECT doc_id,
       |    ${OracleSql.cappedBucket("raw.h", "doc_id", "bsz", 64)} AS h
       |   FROM raw JOIN hsz USING (h)),
       | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |   FROM sampled a JOIN sampled b ON a.h = b.h AND a.doc_id < b.doc_id)"""
      .stripMargin.replace("\n", "")

  /** Shared CTE chain baseCte → minhash signatures → band keys →
    * candidate pairs (mirror of [[minhashPairs]] up to the verify). */
  private lazy val minhashCandCtes = {
    val p = TextFunctions.MixP
    val sigCols = (0 until minhashSeeds).map { i =>
      val (a, b) = TextFunctions.mixConsts(i)
      s"list_min(list_transform(hs, h -> ((h % $p) * $a + $b) % $p)) AS sig$i"
    }.mkString(", ")
    val bandList = (0 until minhashSeeds / 2).map(j =>
      s"'$j:' || sig${2 * j}::VARCHAR || ':' || sig${2 * j + 1}::VARCHAR")
      .mkString("[", ", ", "]")
    s"""$baseCte,
       | sig AS (SELECT doc_id, $sigCols FROM base),
       | bands AS (SELECT doc_id, unnest($bandList) AS bkey FROM sig),
       | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |   FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)"""
      .stripMargin.replace("\n", "")
  }

  def oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      s"""SELECT doc_id, md5(${norm("text")}) AS fp,
         | min(doc_id) OVER (PARTITION BY md5(${norm("text")})) AS keeper_id,
         | doc_id = min(doc_id) OVER (PARTITION BY md5(${norm("text")})) AS is_keeper
         | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", ""),

    "q_dedup_shuffled" ->
      s"""SELECT fp, count(*) AS dup_count, min(doc_id) AS keeper_id,
         | array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
         | FROM (SELECT doc_id,
         |   md5(array_to_string(list_sort(list_distinct(${toks("text")})), ' ')) AS fp
         |  FROM documents) GROUP BY fp HAVING count(*) >= 2 ORDER BY fp"""
        .stripMargin.replace("\n", ""),

    "q_dedup_keep_best" ->
      s"""WITH t AS (SELECT doc_id,
         |   md5(array_to_string(list_sort(list_distinct(${toks("text")})), ' '))
         |     AS fp,
         |   len(${toks("text")})::BIGINT AS n_tokens FROM documents),
         | r AS (SELECT *, row_number() OVER (PARTITION BY fp
         |     ORDER BY n_tokens DESC, doc_id) AS rnk FROM t)
         |SELECT fp, count(*)::BIGINT AS dup_count,
         | max(CASE WHEN rnk = 1 THEN doc_id END) AS keeper_id,
         | max(CASE WHEN rnk = 1 THEN n_tokens END) AS keeper_tokens,
         | sum(CASE WHEN rnk > 1 THEN n_tokens ELSE 0 END)::BIGINT
         |   AS tokens_dropped
         | FROM r GROUP BY fp HAVING count(*) >= 2 ORDER BY fp"""
        .stripMargin.replace("\n", ""),

    "q_near_dup_minhash" ->
      s"""$minhashCandCtes
         |$verifySql""".stripMargin.replace("\n", ""),

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE ${minhashCandCtes.stripPrefix("WITH ")},
         | vpairs AS (SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, ${jaccardSql("sa.hs", "sb.hs")} AS jaccard
         |     FROM cand JOIN base sa ON sa.doc_id = cand.doc_a
         |               JOIN base sb ON sb.doc_id = cand.doc_b)
         |   WHERE jaccard >= 0.5),
         | sym AS (SELECT doc_a AS src, doc_b AS dst FROM vpairs
         |   UNION ALL SELECT doc_b, doc_a FROM vpairs),
         | nodes AS (SELECT DISTINCT src AS doc_id FROM sym),
         | reach(doc_id, lab) AS (
         |   SELECT doc_id, doc_id FROM nodes
         |   UNION
         |   SELECT s.src, r.lab FROM reach r JOIN sym s ON s.dst = r.doc_id),
         | labels AS (SELECT doc_id, min(lab) AS cluster_id
         |   FROM reach GROUP BY doc_id),
         | sizes AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
         |   FROM labels GROUP BY cluster_id)
         |SELECT doc_id, cluster_id, cluster_size
         | FROM labels JOIN sizes USING (cluster_id)
         | ORDER BY doc_id""".stripMargin.replace("\n", ""),

    "q_cluster_keep_best" ->
      s"""WITH RECURSIVE ${minhashCandCtes.stripPrefix("WITH ")},
         | vpairs AS (SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, ${jaccardSql("sa.hs", "sb.hs")} AS jaccard
         |     FROM cand JOIN base sa ON sa.doc_id = cand.doc_a
         |               JOIN base sb ON sb.doc_id = cand.doc_b)
         |   WHERE jaccard >= 0.5),
         | sym AS (SELECT doc_a AS src, doc_b AS dst FROM vpairs
         |   UNION ALL SELECT doc_b, doc_a FROM vpairs),
         | nodes AS (SELECT DISTINCT src AS doc_id FROM sym),
         | reach(doc_id, lab) AS (
         |   SELECT doc_id, doc_id FROM nodes
         |   UNION
         |   SELECT s.src, r.lab FROM reach r JOIN sym s ON s.dst = r.doc_id),
         | labels AS (SELECT doc_id, min(lab) AS cluster_id
         |   FROM reach GROUP BY doc_id),
         | tk AS (SELECT doc_id, len(${toks("text")})::BIGINT AS n_tokens
         |   FROM documents),
         | jn AS (SELECT cluster_id, labels.doc_id AS doc_id, n_tokens
         |   FROM labels JOIN tk USING (doc_id)),
         | rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |     ORDER BY n_tokens DESC, doc_id) AS rnk FROM jn)
         |SELECT cluster_id, count(*)::BIGINT AS cluster_size,
         | max(CASE WHEN rnk = 1 THEN doc_id END) AS keeper_id,
         | max(CASE WHEN rnk = 1 THEN n_tokens END) AS keeper_tokens,
         | sum(CASE WHEN rnk > 1 THEN n_tokens ELSE 0 END)::BIGINT
         |   AS tokens_dropped
         | FROM rk GROUP BY cluster_id ORDER BY cluster_id"""
        .stripMargin.replace("\n", ""),

    "q_pagerank" -> {
      // One PageRank round as a CTE: the same integer-division
      // contribution sum the operator runs (`//` = Spark's `div` on
      // positive BIGINTs), summed in exact integer arithmetic.
      def rnd(prev: String, next: String): String =
        s""" $next AS (SELECT s.dst AS node_id,
           |   150000 + sum((r.rank_u * 85) // (100 * g.deg))::BIGINT AS rank_u
           |  FROM sym s JOIN $prev r ON r.node_id = s.src
           |   JOIN deg g ON g.src = s.src GROUP BY s.dst)""".stripMargin
      s"""WITH ${minhashCandCtes.stripPrefix("WITH ")},
         | vpairs AS (SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, ${jaccardSql("sa.hs", "sb.hs")} AS jaccard
         |     FROM cand JOIN base sa ON sa.doc_id = cand.doc_a
         |               JOIN base sb ON sb.doc_id = cand.doc_b)
         |   WHERE jaccard >= 0.5),
         | sym AS (SELECT doc_a AS src, doc_b AS dst FROM vpairs
         |   UNION ALL SELECT doc_b, doc_a FROM vpairs),
         | deg AS (SELECT src, count(*)::BIGINT AS deg FROM sym GROUP BY src),
         | r0 AS (SELECT src AS node_id, 1000000::BIGINT AS rank_u FROM deg),
         |${rnd("r0", "r1")},
         |${rnd("r1", "r2")},
         |${rnd("r2", "r3")}
         |SELECT node_id AS doc_id, rank_u,
         | round(rank_u / 1000000.0, 6) AS rank
         | FROM r3 ORDER BY doc_id""".stripMargin.replace("\n", "")
    },

    "q_ngram_jaccard" ->
      s"""$sampledCandCtes
         |$verifySql""".stripMargin.replace("\n", ""),

    "q_decontaminate" ->
      s"""$baseCte,
         | ev AS (SELECT doc_id AS eval_id, hs AS ehs FROM base
         |   WHERE doc_id % 10 = 7 AND doc_id < 2000),
         | ek AS (SELECT eval_id, unnest(ehs) AS h FROM ev),
         | tk AS (SELECT doc_id AS train_id, unnest(hs) AS h FROM base
         |   WHERE NOT (doc_id % 10 = 7 AND doc_id < 2000)),
         | ov AS (SELECT train_id, eval_id, count(*)::BIGINT AS n_shared
         |   FROM tk JOIN ek USING (h) GROUP BY train_id, eval_id),
         | sz AS (SELECT eval_id, len(ehs)::BIGINT AS n_eval FROM ev)
         |SELECT train_id, eval_id, n_shared,
         |  round(n_shared::DOUBLE / n_eval, 6) AS containment
         | FROM ov JOIN sz USING (eval_id)
         | WHERE round(n_shared::DOUBLE / n_eval, 6) >= 0.5
         | ORDER BY train_id, eval_id""".stripMargin.replace("\n", ""),

    "q_near_dup_simhash" -> {
      val bitVotes = (0 until 32).map(b =>
        s"(CASE WHEN list_sum(list_transform(t, x -> CASE WHEN (${hash60("x")} >> $b) % 2 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)")
        .mkString("(", " + ", ")::BIGINT")
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         | sh AS (SELECT doc_id, $bitVotes AS sh FROM tok),
         | bands0 AS (SELECT doc_id, unnest([
         |    '0:' || (sh & 65535)::VARCHAR, '1:' || (sh >> 16)::VARCHAR]) AS bkey0 FROM sh),
         | sized AS (SELECT doc_id, bkey0,
         |    count(*) OVER (PARTITION BY bkey0) AS bsz FROM bands0),
         | bands AS (SELECT doc_id,
         |    ${OracleSql.cappedBucket("bkey0", "doc_id", "bsz", 64)} AS bkey FROM sized),
         | cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |   FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, bit_count(xor(sa.sh, sb.sh))::BIGINT AS hamming
         | FROM cand JOIN sh sa ON sa.doc_id = cand.doc_a
         |           JOIN sh sb ON sb.doc_id = cand.doc_b
         | WHERE bit_count(xor(sa.sh, sb.sh)) <= 8
         | ORDER BY doc_a, doc_b""".stripMargin.replace("\n", "")
    },

    // The bloom pre-screen is semantically invisible: the oracle is the
    // PLAIN anti join of incoming fingerprints against history.
    "q_dedup_incremental" ->
      s"""SELECT doc_id, ${OracleSql.hash60("text")} AS fp
         | FROM documents
         | WHERE doc_id % 5 = 0
         |   AND NOT EXISTS (SELECT 1 FROM documents h
         |        WHERE h.doc_id % 5 != 0
         |          AND ${OracleSql.hash60("h.text")} = ${OracleSql.hash60("documents.text")})
         | ORDER BY doc_id""".stripMargin.replace("\n", ""),

    "q_containment_pairs" ->
      s"""$sampledCandCtes,
         | pr AS (SELECT doc_a, doc_b,
         |    len(list_intersect(sa.hs, sb.hs))::BIGINT AS n_common,
         |    least(len(sa.hs), len(sb.hs))::BIGINT AS n_min,
         |    ${jaccardSql("sa.hs", "sb.hs")} AS jaccard
         |   FROM cand JOIN base sa ON sa.doc_id = cand.doc_a
         |             JOIN base sb ON sb.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, n_common, n_min, jaccard,
         | round(n_common::DOUBLE / n_min, 6) AS containment
         | FROM pr WHERE round(n_common::DOUBLE / n_min, 6) >= 0.8
         | ORDER BY doc_a, doc_b""".stripMargin.replace("\n", ""),

    "q_cross_lang_dup" ->
      s"""$minhashCandCtes,
         | vpairs AS (SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, ${jaccardSql("sa.hs", "sb.hs")} AS jaccard
         |     FROM cand JOIN base sa ON sa.doc_id = cand.doc_a
         |               JOIN base sb ON sb.doc_id = cand.doc_b)
         |   WHERE jaccard >= 0.5),
         | lp AS (SELECT least(a.lang, b.lang) AS lang_a,
         |    greatest(a.lang, b.lang) AS lang_b
         |   FROM vpairs JOIN documents a ON a.doc_id = vpairs.doc_a
         |               JOIN documents b ON b.doc_id = vpairs.doc_b)
         |SELECT lang_a, lang_b, count(*)::BIGINT AS n_pairs,
         | lang_a != lang_b AS is_cross
         | FROM lp GROUP BY lang_a, lang_b ORDER BY lang_a, lang_b"""
        .stripMargin.replace("\n", ""),

    "q_source_similarity" ->
      s"""WITH tok AS (SELECT doc_id, source, ${toks("text")} AS t FROM documents),
         | sdoc AS (SELECT source,
         |   list_distinct(list_transform(
         |     list_transform(generate_series(1, len(t)-2),
         |       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
         |     s -> ${hash60("s")})) AS hs
         |  FROM tok WHERE len(t) >= 3),
         | sh AS (SELECT DISTINCT source, h FROM (
         |    SELECT source, unnest(hs) AS h FROM sdoc)),
         | rk AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh),
         | sk AS (SELECT source, list(h ORDER BY h) AS mins FROM rk
         |   WHERE rn <= 256 GROUP BY source),
         | pr AS (SELECT a.source AS source_a, b.source AS source_b,
         |    a.mins AS ma, b.mins AS mb
         |   FROM sk a JOIN sk b ON a.source < b.source),
         | ex AS (SELECT source_a, source_b, ma, mb,
         |    list_sort(list_distinct(list_concat(ma, mb)))[1:256] AS x FROM pr),
         | cm AS (SELECT source_a, source_b, ma, mb, x,
         |    len(list_filter(x, v -> list_contains(ma, v)
         |      AND list_contains(mb, v)))::BIGINT AS n_common FROM ex)
         |SELECT source_a, source_b, len(ma)::BIGINT AS n_a,
         | len(mb)::BIGINT AS n_b, len(x)::BIGINT AS n_union_mins, n_common,
         | round(n_common::DOUBLE / len(x), 6) AS est_jaccard
         | FROM cm ORDER BY source_a, source_b""".stripMargin.replace("\n", ""),

    "q_triangle_count" ->
      s"""${minhashCandCtes},
         | vpairs AS (SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, ${jaccardSql("sa.hs", "sb.hs")} AS jaccard
         |     FROM cand JOIN base sa ON sa.doc_id = cand.doc_a
         |               JOIN base sb ON sb.doc_id = cand.doc_b)
         |   WHERE jaccard >= 0.5),
         | deg AS (SELECT v, count(*)::BIGINT AS deg FROM (
         |    SELECT doc_a AS v FROM vpairs
         |    UNION ALL SELECT doc_b FROM vpairs) GROUP BY v),
         | e AS (SELECT
         |    CASE WHEN da.deg <= db.deg THEN doc_a ELSE doc_b END AS src,
         |    CASE WHEN da.deg <= db.deg THEN doc_b ELSE doc_a END AS dst
         |   FROM vpairs JOIN deg da ON da.v = doc_a
         |               JOIN deg db ON db.v = doc_b),
         | w AS (SELECT x.dst AS doc_a, y.dst AS doc_b
         |   FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst),
         | tri AS (SELECT count(*)::BIGINT AS n_triangles
         |   FROM w JOIN vpairs p USING (doc_a, doc_b)),
         | ns AS (SELECT count(*)::BIGINT AS n_nodes,
         |    sum(deg * (deg - 1) // 2)::BIGINT AS n_wedges FROM deg),
         | es AS (SELECT count(*)::BIGINT AS n_edges FROM vpairs)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         | round(CASE WHEN n_wedges > 0
         |   THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END, 6) AS gcc
         | FROM ns, es, tri""".stripMargin.replace("\n", ""),

    "q_edit_near_dup" ->
      s"""$minhashCandCtes,
         | ptx AS (SELECT doc_id, substr(${norm("text")}, 1, 256) AS ptxt
         |   FROM documents),
         | pairs AS (SELECT doc_a, doc_b,
         |    levenshtein(pa.ptxt, pb.ptxt)::BIGINT AS edit_dist,
         |    round(1.0 - levenshtein(pa.ptxt, pb.ptxt)::DOUBLE /
         |      greatest(len(pa.ptxt), len(pb.ptxt)), 6) AS edit_sim
         |   FROM cand JOIN ptx pa ON pa.doc_id = cand.doc_a
         |             JOIN ptx pb ON pb.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, edit_dist, edit_sim FROM pairs
         | WHERE edit_sim >= 0.6 ORDER BY doc_a, doc_b"""
        .stripMargin.replace("\n", ""),

    "q_source_overlap" ->
      s"""WITH g AS (SELECT
         |   md5(array_to_string(list_sort(list_distinct(${toks("text")})), ' '))
         |     AS fp,
         |   source, count(*)::BIGINT AS n FROM documents GROUP BY fp, source)
         |SELECT a.source AS source_a, b.source AS source_b,
         | count(*)::BIGINT AS shared_fps,
         | sum(a.n)::BIGINT AS docs_a, sum(b.n)::BIGINT AS docs_b
         | FROM g a JOIN g b ON a.fp = b.fp AND
         |   (a.source < b.source OR (a.source = b.source AND a.n >= 2))
         | GROUP BY source_a, source_b ORDER BY source_a, source_b"""
        .stripMargin.replace("\n", ""),

    "q_span_dup" -> {
      val w16 = OracleSql.shingles("t", 16)
      s"""WITH tok AS (SELECT doc_id, ${toks("text")} AS t FROM documents),
         | base AS (SELECT doc_id,
         |    list_distinct(list_transform($w16, s -> ${hash60("s")})) AS ws
         |   FROM tok WHERE len(t) >= 16),
         | sp AS (SELECT doc_id, unnest(ws) AS h FROM base),
         | dup AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
         | pd AS (SELECT doc_id, count(*)::BIGINT AS n_windows FROM sp
         |   GROUP BY doc_id),
         | dd AS (SELECT doc_id, count(*)::BIGINT AS n_dup_windows
         |   FROM sp JOIN dup USING (h) GROUP BY doc_id)
         |SELECT doc_id, n_windows, n_dup_windows,
         | round(n_dup_windows::DOUBLE / n_windows, 6) AS dup_frac
         | FROM pd JOIN dd USING (doc_id) ORDER BY doc_id"""
        .stripMargin.replace("\n", "")
    }
  )
}

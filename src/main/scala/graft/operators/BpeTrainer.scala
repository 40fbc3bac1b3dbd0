package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.queries.StagedCache

/** Distributed byte-pair-encoding (BPE) tokenizer training — the
  * subword-vocabulary build every LLM data pipeline runs before token
  * counting and sequence packing (Sennrich et al. 2016, the GPT-2/
  * RoBERTa recipe). No reference counterpart (the reference corpus is
  * whitespace tokens only, `TraceWordCountMapper.java:108-115`);
  * brief-driven.
  *
  * Scale design — why this shape survives 100 TB:
  *   - The corpus is scanned ONCE, into a (word, count) frequency
  *     table. Training iterates over that |vocab|-sized table, never
  *     the corpus again — the standard trick that makes BPE training
  *     cheap: 100 TB of text is maybe 10^7-10^8 word types.
  *   - Each merge round is one partial-agg'd pair-count shuffle over
  *     the vocab table plus a 1-row `TakeOrderedAndProject` argmax;
  *     only that single (left, right) pair crosses to the driver, so
  *     driver state after K rounds is K pairs — bounded by
  *     construction.
  *   - The merge apply is a map-only string `replace` (codegen'd, no
  *     UDF) over the staged vocab table; the new state is re-staged
  *     WITH LINEAGE TRUNCATION (`StagedCache.persistTruncated`), so
  *     round k+1 neither recomputes rounds 1..k nor re-plans their
  *     nested chain — plan depth is constant in the round number.
  *
  * Merge semantics — exact greedy BPE via plain `replace`:
  * a word's symbol state is kept as a DOUBLE-delimited string
  * `||s1||s2||...||sn||`. Merging pair (a, b) replaces `|a||b|` with
  * `|ab|` — each match consumes ONE delimiter from the two-delimiter
  * boundary on each side, so after a match the neighbouring boundaries
  * still carry a delimiter and an immediately following occurrence
  * still matches. Left-to-right non-overlapping `replace` is then
  * EXACTLY the greedy BPE merge, including runs: `||a||a||a||a||` →
  * `||aa||aa||` (both merge) but `||a||a||a||` → `||aa||a||` (the
  * tail single stays), with no regex lookarounds — so the DuckDB
  * oracle (RE2, no lookbehind) can mirror it with its own literal
  * `replace`. Symbols are drawn from `[a-z0-9]` (normalized tokens),
  * so `|` can never occur inside a symbol. BpeSpec pins this against
  * a plain-Scala greedy-BPE model, run cases included.
  */
object BpeTrainer {

  /** One learned merge: `rank` is 1-based merge order. */
  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** (word, cnt, rep) frequency table from a token column: the one
    * corpus-wide scan. `rep` is the double-delimited character state. */
  def wordTable(tokens: DataFrame): DataFrame = {
    require(tokens.columns.contains("word"), "expected a 'word' column")
    // Empty words would produce a zero-symbol rep (harmless but
    // meaningless); the delimiter contract below needs '|'-free words.
    tokens.filter(length(col("word")) > 0 && !col("word").contains("|"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("rep", concat(
        regexp_replace(col("word"), "(.)", "\\|\\|$1"), lit("||")))
  }

  /** Adjacent symbol pairs of the current state, count-weighted.
    * The split on `||` yields a leading and trailing empty string —
    * dropped by the filter — and the pair explode counts every
    * adjacent POSITION (so `aaa` contributes (a,a) twice), the
    * Sennrich `get_pair_statistics` convention. */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"),
        filter(split(col("rep"), "\\|\\|"), s => length(s) > 0).as("s"))
      .filter(size(col("s")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("s")) - 1),
        i => struct(element_at(col("s"), i).as("left"),
          element_at(col("s"), i + 1).as("right")))).as("p"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum("cnt").as("pair_cnt"))

  /** Merging a pair seen once can never pay for a vocab slot; the
    * reference implementation (Sennrich's `learn_bpe --min-frequency`)
    * defaults to the same floor. */
  val MinPairFrequency = 2L

  /** The winning pair this round: count desc, then (left, right) asc —
    * a total order, so the argmax is engine-independent. Pairs below
    * [[MinPairFrequency]] end training instead of minting a merge. */
  def topPair(words: DataFrame): Option[Merge] =
    pairCounts(words)
      .filter(col("pair_cnt") >= MinPairFrequency)
      .orderBy(col("pair_cnt").desc, col("left"), col("right"))
      .limit(1).collect().headOption
      .map(r => Merge(0, r.getString(0), r.getString(1), r.getLong(2)))

  /** Apply one merge: the delimiter-consuming literal replace. */
  def applyMerge(words: DataFrame, m: Merge): DataFrame = {
    require(!m.left.contains("|") && !m.right.contains("|"),
      s"merge operands must be delimiter-free: $m")
    val pat = s"|${m.left}||${m.right}|"
    val rep = s"|${m.left}${m.right}|"
    words.withColumn("rep",
      call_function("replace", col("rep"), lit(pat), lit(rep)))
  }

  /** Train `k` merges over a token column; returns the ranked merges
    * and the final (word, cnt, rep) state. Stops early if the corpus
    * runs out of repeatable pairs. */
  def train(tokens: DataFrame, k: Int): (Seq[Merge], DataFrame) = {
    // persistTruncated, not persist: each round's state must re-root at
    // a LogicalRDD or the analyzed plan nests the whole merge chain —
    // at K=256 the driver OOMs building plan strings (see StagedCache).
    var words = StagedCache.persistTruncated(wordTable(tokens))
    // Rolling two-table window over the staged Lloyd-style chain: round
    // r's eager re-stage MATERIALIZES round r's word table, at which
    // point round r−1's (its checkpoint input) is dead — released here
    // so a K-merge run pins 2 staged vocab copies, not K+1.
    var prev: Option[DataFrame] = None
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      val top = topPair(words)
      top match {
        case Some(m) =>
          merges += m.copy(rank = rank)
          val next = StagedCache.persistTruncated(applyMerge(words, m))
          prev.foreach(StagedCache.release(_))
          prev = Some(words)
          words = next
          rank += 1
        case None => done = true
      }
    }
    (merges.result(), words)
  }

  /** Symbol count of the current state (tokens-per-word after the
    * learned merges): |split| minus the two boundary empties. */
  def symbolCount(rep: Column): Column =
    (size(split(rep, "\\|\\|")) - 2).cast("long")
}

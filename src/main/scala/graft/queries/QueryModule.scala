package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named batch of oracle-checked queries. Each query takes the session
  * and the scale-factor directory (parquet tables per TESTDATA.md) and
  * returns a deterministic DataFrame; `oracle` holds per-query ANSI SQL
  * that DuckDB evaluates over the same tables for the hash compare.
  *
  * Contract (driver compare): column NAMES must match between the Spark
  * result and the oracle result — alias every computed column on both
  * sides. Results must be deterministic: stable ORDER BY with a unique
  * tiebreaker, and floating aggregates rounded.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

/** Tracks DataFrames persisted as staged intermediates inside a query
  * (e.g. the hashed-shingle table both sides of a dedup verify join
  * read). A long-lived session running many queries (Bench, Verify, a
  * notebook) must release them between queries or cached blocks
  * accumulate; harnesses call [[releaseAll]] after each query's action.
  */
object StagedCache {
  private val staged =
    scala.collection.mutable.ArrayBuffer.empty[(DataFrame, Boolean => Unit)]
  def persist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(); staged += ((p, b => p.unpersist(b))); p
  }

  /** [[persist]], and build the cached blocks now, as one job. Under
    * AQE every scan of a cached frame is its own cache stage, and AQE
    * does not reuse them: a lazily staged frame scanned twice in one
    * plan is built twice, by two concurrent jobs. A frame built here is
    * already materialized for every plan that scans it. */
  def persistBuilt(df: DataFrame): DataFrame = {
    val p = persist(df)
    org.apache.spark.sql.graftbridge.Bridge.buildCache(p)
    p
  }

  /** Persist AND truncate lineage — for driver-looped trainers whose
    * round-k state is built on round k−1's (BPE merges, Lloyd): a plain
    * [[persist]] caches the ROWS but the analyzed plan still nests the
    * whole chain, so analyze/explain cost grows linearly per round and
    * quadratically per run — measured: a K=256 BPE training run OOMs
    * the driver building AQE plan-update strings long before any
    * executor is short of memory. `localCheckpoint` materializes the
    * rows eagerly and re-roots the frame at a `LogicalRDD`, so every
    * round plans against a constant-depth tree (the same pattern
    * [[graft.operators.ConnectedComponents]] uses per label round).
    * Registered here with an RDD-level releaser so the rolling-release
    * discipline and [[stagedCount]] accounting still hold. */
  def persistTruncated(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true) // eager: runs a job; keep outside the lock
    val releaser: Boolean => Unit = b =>
      cp.queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(b)
        case _ => ()
      }
    synchronized { staged += ((cp, releaser)) }
    cp
  }

  /** Release ONE staged table mid-scope — the iterative-trainer pattern
    * (BPE, Lloyd): round k's word table is dead the moment round k+1's
    * has materialized, and keeping the chain staged pins K+1 corpus
    * copies for a K-merge training run. Identity match, so two stages
    * built from equal plans release independently. No-op for frames
    * this registry never staged. */
  def release(df: DataFrame, blocking: Boolean = false): Unit = synchronized {
    val i = staged.indexWhere(_._1 eq df)
    if (i >= 0) { val (_, rel) = staged.remove(i); rel(blocking) }
  }

  /** Number of currently staged tables — test/observability hook for
    * the rolling-release discipline above. */
  def stagedCount: Int = synchronized(staged.size)

  /** Release every staged table. `blocking = true` waits for block
    * removal — benchmark harnesses use it so one sample's teardown
    * cannot bleed into the next sample's timing. */
  def releaseAll(blocking: Boolean = false): Unit = synchronized {
    staged.foreach(_._2(blocking)); staged.clear()
  }

  /** Loan pattern for direct API users: run `body` (build a query AND
    * execute its action inside), then release every intermediate it
    * staged — so a notebook or service calling query builders directly
    * cannot leak InMemoryRelations into the shared session. Bench,
    * Verify, and the test harness release per query/test themselves.
    * The registry is process-global and NOT scope-nested: releaseAll
    * drops everything currently staged, so run scopes sequentially
    * (the same discipline the harnesses follow). */
  def withScope[A](body: => A): A =
    try body finally releaseAll()
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Event-stream analytics over the `events` table: JSON extraction,
  * gap-based sessionization, per-type tumbling-window rollups. These are
  * the batch twins of the Structured Streaming pipelines in
  * [[graft.streaming]] — same logical plan, bounded source.
  *
  * Timestamp discipline: events `ts` is µs-aligned; comparisons are done
  * on `unix_micros` so Spark (µs) and DuckDB (ns) agree exactly. Never
  * emit raw ns timestamps.
  */
object EventQueries extends QueryModule {

  /** 30-minute inactivity gap. */
  private val SessionGapUs = 1800L * 1000000L

  /** Bounded range join via time-bucketing: for every error event, the
    * number of same-user clicks within ±5 minutes. A naive inequality
    * join plans as BroadcastNestedLoopJoin (quadratic); bucketing the
    * time axis at the window width and exploding one side to its three
    * candidate buckets turns it into an equi-join on (user, bucket) —
    * one linear hash shuffle — with an exact |Δt| filter after. Every
    * (error, click) pair matches in exactly one bucket (click's own),
    * so no dedup is needed. */
  private def rangeJoinQuery(s: SparkSession, d: String): DataFrame = {
    val winUs = 300L * 1000000L // 5 minutes in µs
    val e = Tables.events(s, d)
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts"))
      .withColumn("e_us", unix_micros(col("err_ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_us"))
      .withColumn("c_bucket", expr(s"c_us DIV $winUs"))
    val counted = errors
      .withColumn("e_bucket0", expr(s"e_us DIV $winUs"))
      .withColumn("e_bucket", explode(array(
        col("e_bucket0") - 1, col("e_bucket0"), col("e_bucket0") + 1)))
      .join(clicks, col("user_id") === col("c_user")
        && col("e_bucket") === col("c_bucket"))
      .filter(abs(col("e_us") - col("c_us")) <= winUs)
      .groupBy("err_id").agg(count(lit(1)).as("n_clicks"))
    errors.select(col("err_id"), col("user_id"), col("err_ts"))
      .join(counted, Seq("err_id"), "left")
      .withColumn("n_clicks", coalesce(col("n_clicks"), lit(0L)))
      .orderBy("err_id")
  }

  /** Ordered conversion funnel signup → click → purchase: stage n+1
    * counts only events strictly after the user's stage-n anchor. Three
    * stage aggregations, each one hash shuffle on user_id — the funnel
    * shape that stays linear at any event volume (no self-join over the
    * whole event stream, no window over all events per user). */
  private def funnelQuery(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val signup = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("signup_ts"))
    val click = e.filter(col("event_type") === "click")
      .join(signup, "user_id")
      .filter(col("ts") > col("signup_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("click_ts"))
    val purchase = e.filter(col("event_type") === "purchase")
      .join(click, "user_id")
      .filter(col("ts") > col("click_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("purchase_ts"))
    signup.agg(count(lit(1)).as("n_signup"))
      .crossJoin(click.agg(count(lit(1)).as("n_signup_click")))
      .crossJoin(purchase.agg(count(lit(1)).as("n_full_funnel")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_asof_join" -> (asofQuery _),

    "q_asof_join_forward" -> (asofForwardQuery _),

    "q_range_join" -> (rangeJoinQuery _),

    // Purchase→click attribution in a bounded 30-minute look-back —
    // the BATCH TWIN of [[graft.streaming.StreamingKernels
    // .clickAttribution]], run through the IDENTICAL DataFrame graph
    // (withWatermark is a no-op on a bounded source): the one
    // Structured-Streaming join shape (watermarked stream-stream
    // interval join) is oracle-checked here, the q_event_window_agg
    // precedent. Plan: the user-key equality makes it an equi-join
    // (one hash shuffle per side, NO BroadcastNestedLoop) with the
    // interval as a post-join filter; per-user fan-in bounds the pair
    // count at any scale, and in the streaming form the same interval
    // bounds each side's buffered state to the watermark+interval
    // horizon.
    "q_click_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
          col("ts").as("p_ts"))
      graft.streaming.StreamingKernels.clickAttribution(clicks, purchases)
        .orderBy("p_id", "click_ts")
    }),

    "q_funnel" -> (funnelQuery _),

    // Weekly cohort retention — the product-analytics matrix: users
    // cohorted by first-seen ISO week, each later week's activity
    // reported as a retention rate against the cohort size. Plan
    // shape at 100 TB: one shuffle on user_id builds the cohort
    // assignment (min week per user), the distinct (user, week)
    // activity reuses the same user partitioning for its join, and
    // everything after is #weeks² rows. Offsets are exact integer
    // day-diffs DIV 7; rates are exact micro-unit integer divisions.
    "q_cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      val activity = ev.distinct()
      val cohorts = StagedCache.persist(
        activity.groupBy("user_id").agg(min(col("wk")).as("cohort_week")))
      val sizes = cohorts.groupBy("cohort_week")
        .agg(count(lit(1)).as("n_cohort"))
      activity.join(cohorts, "user_id")
        .select(col("cohort_week"),
          (datediff(col("wk"), col("cohort_week")) / 7).cast("long")
            .as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), "cohort_week")
        .withColumn("retention_u",
          expr("CAST((n_active * 1000000) DIV n_cohort AS BIGINT)"))
        .select(col("cohort_week"), col("week_offset"), col("n_active"),
          col("n_cohort"), col("retention_u"))
        .orderBy("cohort_week", "week_offset")
    }),

    "q_json_extract" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    // Gap-based sessionization via window lag — one shuffle on user_id,
    // then per-user linear scan; scales as long as a single user's
    // events fit a partition (true for any realistic user).
    "q_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("_prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("_new_s",
          when(col("_prev_us").isNotNull &&
               (unix_micros(col("ts")) - col("_prev_us")) > SessionGapUs, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
             (sum("_new_s") + 1).cast("long").as("n_sessions"))
        .orderBy("user_id")
    }),

    // Tumbling hourly window per event type (batch twin of the streaming
    // windowed aggregation).
    "q_event_window_agg" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(
          date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
             round(sum("value"), 4).as("sum_value"))
        .orderBy("hour_start", "event_type")),

    // Time-series gap-fill + forward fill: a per-user hourly spine over
    // the user's observed range, empty hours get n_events = 0 and carry
    // the last observed value forward — the resampling step feeding any
    // downstream time-series model. Scale shape: the spine is GENERATED
    // per user (sequence + explode — its size is the time range, not
    // the event count), the per-hour pick is max_by on the globally
    // unique event_id (deterministic, no ts-precision dependence), and
    // the forward fill is a user-PARTITIONED running window — no global
    // single-partition stage anywhere. The value is copied verbatim
    // (no float arithmetic), so the hash compare is exact.
    "q_gap_fill" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"),
          col("event_id"), col("value"))
      // ONE event scan instead of two when the scan is big enough to
      // beat the staging write: the hourly aggregate stages and the
      // spine bounds derive from IT (min/max of hourly.hr ≡ min/max of
      // ev.hr — hourly groups by hr, so the bounds are identical).
      // Measured ×10-inflation A/B (9 samples, 32 cores): two-scan
      // 19.97 s vs staged 8.63 s median; at sf0.1 the staging write
      // costs more than the saved 2 MB re-scan (r17 A/B: 1.88 → 2.00),
      // so the crossover is conf-parameterized with a local default
      // between the two measured points — the sf0.1 bench plan stays
      // byte-identical, and a 100 TB events table (far past any
      // threshold) always takes the one-scan path.
      val stageBytes = graft.GraftConf.get(s.sessionState.conf,
        "spark.graft.gapfill.stageBytes")(_.toLongOption).getOrElse(8L * 1024 * 1024)
      val big = ev.queryExecution.optimizedPlan.stats.sizeInBytes >=
        BigInt(stageBytes)
      val hourlyPlain = ev.groupBy("user_id", "hr")
        .agg(count(lit(1)).as("n_events"),
          max_by(col("value"), col("event_id")).as("last_val"))
      val hourly =
        if (big) graft.queries.StagedCache.persist(hourlyPlain) else hourlyPlain
      val spineSrc =
        if (big) hourly.select(col("user_id"), col("hr"))
        else ev.select(col("user_id"), col("hr"))
      val spine = spineSrc.groupBy("user_id")
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hr"))
      spine.join(hourly, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("last_val"), ignoreNulls = true).over(
            Window.partitionBy("user_id").orderBy("hr")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("filled_value"))
        .orderBy("user_id", "hr")
    }),

    // Z-order layout key over (user_id, minute-of-day): the clustering
    // column a 100 TB table is range-written by so scans filtering on
    // EITHER dimension prune row groups (locality proven on real files
    // in ZOrderSpec; this query oracle-checks the key arithmetic
    // digit-for-digit — pure integer shifts and masks both engines
    // compute identically).
    // Distribution-drift monitor: total-variation distance between the
    // first and second half of the event stream (by time midpoint),
    // over 20 equi-width value buckets anchored at [vmin, vmax] — NOT
    // [0, vmax], which would collapse any offset-heavy distribution
    // into the top buckets and read real drift as zero. TVD instead
    // of PSI/KL on purpose: those need ln(), whose last ulp is
    // libm-dependent across engines, while TVD is pure rational
    // arithmetic — bucket ids and per-bucket shares are integer
    // micro-units end-to-end via the shared zero-guarded
    // [[OracleSql.shareUSpark]] form (exact below ~4.6e12 rows per
    // bucket-half; pre-scale counts beyond). Plan: one scan + one
    // 20-key partial-agg shuffle; the time/value bounds ride a
    // broadcast scalar.
    "q_drift_tvd" -> ((s, d) => {
      val e = Tables.events(s, d).select(
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("v_u"))
      val bounds = e.agg(min("ts_us").as("t0"), max("ts_us").as("t1"),
        min("v_u").as("vmin"), max("v_u").as("vmax"))
      val bucketed = e.crossJoin(broadcast(bounds))
        .withColumn("is_base", col("ts_us") * 2 < col("t0") + col("t1"))
        .withColumn("bucket",
          least(greatest(expr("((v_u - vmin) * 20) DIV (vmax - vmin + 1)"),
            lit(0L)), lit(19L)))
        .groupBy("bucket")
        .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
          sum(when(!col("is_base"), 1L).otherwise(0L)).as("n_delta"))
      val totals = bucketed.agg(sum("n_base").as("nb"), sum("n_delta").as("nd"))
      bucketed.crossJoin(broadcast(totals))
        .withColumn("p_u", expr(OracleSql.shareUSpark("n_base", "nb")))
        .withColumn("q_u", expr(OracleSql.shareUSpark("n_delta", "nd")))
        .withColumn("dpq_u", abs(col("p_u") - col("q_u")))
        .select("bucket", "n_base", "n_delta", "p_u", "q_u", "dpq_u")
        .orderBy("bucket")
    }),

    // Tolerant JSON ingest: malformed payloads (planted by truncating
    // every 7th event's props) must degrade to NULL and be COUNTED,
    // never fail the job — the PERMISSIVE-mode contract a 100 TB
    // ingest relies on (one poison record must not kill a 6-hour
    // scan). Single aggregate scan; the malformed count is the
    // dead-letter metric a production pipeline alerts on.
    "q_json_tolerant" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_id"),
        when(col("event_id") % 7 === 0, expr("substr(props, 1, 4)"))
          .otherwise(col("props")).as("props"))
      // Digits-guarded cast, NOT a bare .cast: under ANSI mode (this
      // environment's default) casting a non-integral extraction like
      // "abc" or "1.5" THROWS — the exact poison-record job kill this
      // query exists to prevent — and DuckDB's cast of '1.5' rounds
      // where Spark errors, so the guard also pins cross-engine
      // agreement on every input, not just the fixture.
      val ks = get_json_object(col("props"), "$.k")
      e.select(col("event_id"),
          when(ks.rlike("^-?[0-9]{1,18}$"), ks.cast("long")).as("k"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_malformed"),
          sum(coalesce(col("k"), lit(0L))).as("k_sum"))
    }),

    "q_zorder_key" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          expr("(unix_micros(ts) DIV 60000000) % 1440").as("minute"))
        .select(col("event_id"), col("user_id"), col("minute"),
          graft.functions.ZOrder.zvalue(col("user_id"), col("minute")).as("z"))
        .orderBy("event_id"))
  )

  /** Custom-operator query: each purchase joined to the user's latest
    * click at or before it ([[graft.operators.AsOf]] — custom
    * LogicalPlan/Strategy/SparkPlan; the DuckDB oracle uses its native
    * ASOF LEFT JOIN, making this an engine-vs-engine semantic check). */
  private def asofQuery(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    graft.operators.AsOf.join(purchases, clicks,
        "user_id", "c_user", "ts", "click_ts")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("click_id"), col("click_ts"))
      .orderBy("event_id")
  }

  /** Forward variant of [[asofQuery]]: each error event joined to the
    * user's EARLIEST click at or after it — "what did the user do next"
    * — exercising the `forward = true` direction of the custom operator
    * against DuckDB's `ASOF LEFT JOIN ... ON l.ts <= r.ts` form (DuckDB
    * picks the nearest matching row for either inequality direction). */
  private def asofForwardQuery(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    graft.operators.AsOf.join(errors, clicks,
        "user_id", "c_user", "ts", "click_ts", forward = true)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_id"), col("click_ts"))
      .orderBy("event_id")
  }

  def oracle: Map[String, String] = Map(
    // The malformed-JSON guard must hold under EAGER evaluation:
    // DuckDB's vectorized executor may evaluate both legs of an AND /
    // CASE for a whole chunk, so `json_valid(props) AND
    // json_extract(props, ...)` can still feed malformed bytes into
    // json_extract and throw (observed at sf0.1 — a whole-chunk
    // evaluation the sf0.01 row count happened not to trigger). The
    // valid-or-'{}' indirection makes json_extract's INPUT
    // unconditionally valid, and TRY_CAST keeps the cast non-throwing
    // regardless of evaluation order.
    "q_json_tolerant" ->
      """WITH p AS (SELECT event_id,
        |    CASE WHEN event_id % 7 = 0 THEN substr(props, 1, 4)
        |         ELSE props END AS props FROM events),
        | v AS (SELECT event_id,
        |    CASE WHEN json_valid(props) THEN props ELSE '{}' END AS js
        |   FROM p),
        | x AS (SELECT event_id,
        |    CASE WHEN regexp_matches(
        |           coalesce(json_extract_string(js, '$.k'), ''),
        |           '^-?[0-9]{1,18}$')
        |         THEN TRY_CAST(json_extract_string(js, '$.k') AS BIGINT)
        |         ELSE NULL END AS k FROM v)
        |SELECT count(*)::BIGINT AS n_events,
        |  sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_malformed,
        |  sum(coalesce(k, 0))::BIGINT AS k_sum FROM x"""
        .stripMargin.replace("\n", ""),

    "q_drift_tvd" ->
      s"""WITH e AS (SELECT epoch_us(ts) AS ts_us,
         |    CAST(round(value * 100) AS BIGINT) AS v_u FROM events),
         | bounds AS (SELECT min(ts_us) AS t0, max(ts_us) AS t1,
         |    min(v_u) AS vmin, max(v_u) AS vmax FROM e),
         | bk AS (SELECT
         |    least(greatest(((v_u - vmin) * 20) // (vmax - vmin + 1), 0), 19)
         |     AS bucket,
         |    (ts_us * 2 < t0 + t1) AS is_base
         |   FROM e CROSS JOIN bounds),
         | agg AS (SELECT bucket,
         |    sum(CASE WHEN is_base THEN 1 ELSE 0 END)::BIGINT AS n_base,
         |    sum(CASE WHEN is_base THEN 0 ELSE 1 END)::BIGINT AS n_delta
         |   FROM bk GROUP BY bucket),
         | tot AS (SELECT sum(n_base)::BIGINT AS nb,
         |    sum(n_delta)::BIGINT AS nd FROM agg),
         | sh AS (SELECT bucket, n_base, n_delta,
         |    ${OracleSql.shareU("n_base", "nb")} AS p_u,
         |    ${OracleSql.shareU("n_delta", "nd")} AS q_u
         |   FROM agg CROSS JOIN tot)
         |SELECT bucket, n_base, n_delta, p_u, q_u,
         |  abs(p_u - q_u)::BIGINT AS dpq_u
         | FROM sh ORDER BY bucket""".stripMargin.replace("\n", ""),

    "q_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |   date_trunc('week', ts)::DATE AS wk FROM events),
        | c AS (SELECT user_id, min(wk) AS cohort_week FROM a
        |   GROUP BY user_id),
        | sz AS (SELECT cohort_week, count(*)::BIGINT AS n_cohort FROM c
        |   GROUP BY cohort_week),
        | act AS (SELECT cohort_week,
        |   ((wk - cohort_week) // 7)::BIGINT AS week_offset,
        |   count(*)::BIGINT AS n_active
        |  FROM a JOIN c USING (user_id)
        |  GROUP BY cohort_week, week_offset)
        |SELECT cohort_week, week_offset, n_active, n_cohort,
        | ((n_active * 1000000) // n_cohort)::BIGINT AS retention_u
        | FROM act JOIN sz USING (cohort_week)
        | ORDER BY cohort_week, week_offset"""
        .stripMargin.replace("\n", ""),

    "q_funnel" ->
      """WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |   WHERE event_type = 'signup' GROUP BY user_id),
        | c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
        |   JOIN s ON e.user_id = s.user_id AND e.ts > s.signup_ts
        |   WHERE e.event_type = 'click' GROUP BY e.user_id),
        | p AS (SELECT e.user_id FROM events e
        |   JOIN c ON e.user_id = c.user_id AND e.ts > c.click_ts
        |   WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM s)::BIGINT AS n_signup,
        | (SELECT count(*) FROM c)::BIGINT AS n_signup_click,
        | (SELECT count(*) FROM p)::BIGINT AS n_full_funnel"""
        .stripMargin.replace("\n", ""),

    "q_range_join" ->
      """WITH errors AS (SELECT event_id AS err_id, user_id, ts AS err_ts
        |   FROM events WHERE event_type = 'error'),
        | clicks AS (SELECT user_id AS c_user, ts AS click_ts
        |   FROM events WHERE event_type = 'click'),
        | agg AS (SELECT err_id, count(*)::BIGINT AS n_clicks
        |  FROM errors e JOIN clicks c ON e.user_id = c.c_user
        |   AND abs(epoch_us(e.err_ts) - epoch_us(c.click_ts)) <= 300000000
        |  GROUP BY err_id)
        |SELECT e.err_id, e.user_id, e.err_ts, coalesce(a.n_clicks, 0) AS n_clicks
        | FROM errors e LEFT JOIN agg a USING (err_id) ORDER BY err_id"""
        .stripMargin.replace("\n", ""),

    "q_click_attribution" ->
      """SELECT p.event_id AS p_id, p.user_id AS user_id,
        | p.ts AS p_ts, c.ts AS click_ts
        | FROM events p JOIN events c ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
        | ORDER BY p_id, click_ts""".stripMargin.replace("\n", ""),

    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, p.ts, p.value,
        | c.event_id AS click_id, c.ts AS click_ts
        | FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        | ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |   ON p.user_id = c.user_id AND p.ts >= c.ts
        | ORDER BY p.event_id""".stripMargin.replace("\n", ""),

    "q_asof_join_forward" ->
      """SELECT e.event_id, e.user_id, e.ts,
        | c.event_id AS click_id, c.ts AS click_ts
        | FROM (SELECT * FROM events WHERE event_type = 'error') e
        | ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |   ON e.user_id = c.user_id AND e.ts <= c.ts
        | ORDER BY e.event_id""".stripMargin.replace("\n", ""),
    "q_json_extract" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        | FROM events ORDER BY event_id""".stripMargin.replace("\n", ""),
    "q_sessionize" ->
      """WITH g AS (
        | SELECT user_id,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s
        | FROM events)
        | SELECT user_id, count(*) AS n_events,
        |  CAST(sum(new_s) + 1 AS BIGINT) AS n_sessions
        | FROM g GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replace("\n", ""),
    "q_event_window_agg" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        | event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        | FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""
        .stripMargin.replace("\n", ""),

    "q_gap_fill" ->
      """WITH ev AS (SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
        |   event_id, value FROM events),
        | hourly AS (SELECT user_id, hr, count(*)::BIGINT AS n_events,
        |   arg_max(value, event_id) AS last_val FROM ev GROUP BY 1, 2),
        | bounds AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM ev GROUP BY 1),
        | spine AS (SELECT user_id,
        |   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM bounds),
        | j AS (SELECT s.user_id, s.hr,
        |   coalesce(h.n_events, 0)::BIGINT AS n_events, h.last_val
        |  FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hr = h.hr)
        |SELECT user_id, hr, n_events,
        | last_value(last_val IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        | FROM j ORDER BY user_id, hr""".stripMargin.replace("\n", ""),

    "q_zorder_key" -> {
      // The 4-step magic-number bit spread, mirrored step by step.
      def spread(in: String, pfx: String): Seq[String] = Seq(
        s"($in & 65535) AS ${pfx}0",
        s"((${pfx}0 | (${pfx}0 << 8)) & 16711935) AS ${pfx}1",
        s"((${pfx}1 | (${pfx}1 << 4)) & 252645135) AS ${pfx}2",
        s"((${pfx}2 | (${pfx}2 << 2)) & 858993459) AS ${pfx}3",
        s"((${pfx}3 | (${pfx}3 << 1)) & 1431655765) AS ${pfx}4")
      val steps = (spread("user_id", "a") ++ spread("minute", "b"))
        .map(sel => s"SELECT *, $sel")
      val chain = steps.zipWithIndex.map { case (sel, i) =>
        s"s$i AS ($sel FROM ${if (i == 0) "m" else s"s${i - 1}"})"
      }.mkString(", ")
      s"""WITH m AS (SELECT event_id, user_id,
         |   (epoch_us(ts) // 60000000) % 1440 AS minute FROM events),
         | $chain
         |SELECT event_id, user_id, minute, (a4 | (b4 << 1)) AS z
         | FROM s9 ORDER BY event_id""".stripMargin.replace("\n", "")
    }
  )
}

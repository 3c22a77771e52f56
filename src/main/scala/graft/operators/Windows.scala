package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** Typed rows for [[Windows.sessionizeTyped]]'s Dataset path. */
final case class SessEvent(user_id: Long, event_id: Long, ts_us: Long)
final case class SessOut(user_id: Long, session_id: Long, n_events: Long,
                         session_start_us: Long, session_end_us: Long)

/** Event-time windowing tier: tumbling windows, session windows, frame-based
  * moving aggregates. Batch formulations with streaming-equivalent semantics
  * (SURVEY §2.2 "Streaming") — the same groupings run under Structured
  * Streaming with a watermark (see graft.streaming.StreamOps); batch is the
  * deterministic, oracle-checkable twin.
  * Timestamps flow as epoch-µs BIGINT (ns-parquet-safe, engine-agnostic).
  */
object Windows {

  private val HourUs = 3600L * 1000 * 1000

  /** Tumbling 1-hour event-time window counts/sums. Equivalent to
    * `groupBy(window($"ts", "1 hour"))` in Structured Streaming; expressed
    * as epoch arithmetic so the bucket boundary is bit-identical in the
    * oracle. One hash-agg shuffle on the bucket key.
    */
  def tumbling(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      events(spark, sfDir)
        .groupBy(((col("ts_us") / HourUs).cast("long") * HourUs).as("window_start_us"))
        .agg(count(lit(1)).as("n_events"),
             // exact decimal sum (value is 2-decimal): double summation order
             // differs between Spark's partial/final tree and DuckDB's
             // sequential scan, and could flip the r4 boundary
             r4(sum(money(col("value"))).cast("double")).as("sum_value"),
             countDistinct(col("user_id")).as("n_users")),
      "window_start_us")

  /** Session windows via the 30-minute-gap rule (SURVEY §2.3): lag() flags a
    * new session when the gap from the previous event of the same user
    * STRICTLY exceeds 30 min (`>`, pinned — SURVEY §7.5.5), a running sum of
    * flags numbers sessions. Same rewrite as
    * `session_window($"ts", "30 minutes")` in Structured Streaming. Two
    * window passes over one user-partitioned sort — a single shuffle.
    */
  def sessionGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    val sessions = events(spark, sfDir)
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ordered(
      sessions.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts_us")).as("session_start_us"),
             max(col("ts_us")).as("session_end_us")),
      "user_id", "session_id")
  }

  /** Ranking-function family (completes §2.2 windows beyond row_number):
    * rank / dense_rank / ntile / percent_rank over order value per
    * priority class. One window sort, all functions share it.
    */
  def windowRanks(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    ordered(
      t(spark, sfDir, "orders")
        .filter(col("o_totalprice") > 450000.0)
        .select(col("o_orderkey"), col("o_orderpriority"),
                r4(col("o_totalprice")).as("o_totalprice"),
                rank().over(w).cast("long").as("rnk"),
                dense_rank().over(w).cast("long").as("drnk"),
                ntile(4).over(w).cast("long").as("quartile"),
                r4(percent_rank().over(w)).as("pct_rank")),
      "o_orderpriority", "rnk", "o_orderkey")
  }

  /** Cohort retention — users bucketed by first-active month (cohort),
    * counted per months-since-cohort offset: the standard retention
    * triangle. Distinct (user, month) pairs → per-user min month → offset
    * join → count-distinct per (cohort, offset). All hash aggregates and
    * one same-key join; months are encoded as year·12+month ints so the
    * offset arithmetic is engine-portable integer math.
    */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val ts = timestamp_micros(col("ts_us"))
    val ue = events(spark, sfDir)
      .select(col("user_id"), (year(ts) * 12 + month(ts)).as("ym"))
      .distinct()
    val cohort = ue.groupBy(col("user_id")).agg(min(col("ym")).as("cohort_ym"))
    ordered(
      ue.join(cohort, "user_id")
        .groupBy(col("cohort_ym"), (col("ym") - col("cohort_ym")).as("month_offset"))
        .agg(countDistinct(col("user_id")).as("n_users")),
      "cohort_ym", "month_offset")
  }

  /** Funnel analysis — ordered event-sequence matching (signup → view →
    * purchase), the product-analytics staple over event streams: per user,
    * first signup, then first view strictly after it, then first purchase
    * strictly after that; only completed funnels emit. Three filtered
    * aggregates chained by inner joins on user_id — each stage is a
    * partial+final min-agg and a same-key join, no window over the event
    * stream and nothing resembling a cross join, so the plan is three
    * cheap shuffles on user_id at any scale.
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir).select(col("user_id"), col("event_type"), col("ts_us"))
    val s0 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_signup"))
    val v0 = ev.filter(col("event_type") === "view")
      .join(s0, "user_id").filter(col("ts_us") > col("t_signup"))
      .groupBy(col("user_id"), col("t_signup")).agg(min(col("ts_us")).as("t_view"))
    val p0 = ev.filter(col("event_type") === "purchase")
      .join(v0, "user_id").filter(col("ts_us") > col("t_view"))
      .groupBy(col("user_id"), col("t_signup"), col("t_view"))
      .agg(min(col("ts_us")).as("t_purchase"))
    ordered(p0, "user_id")
  }

  /** Funnel conversion-time distribution — how LONG signup→purchase takes
    * ([[funnel]] counts who converts; this is the latency side every
    * activation team actually tunes). Per user: first signup, first
    * strictly-later purchase; the conversion lag distribution summarized
    * as interpolated quartiles + p90 in minutes, plus the conversion
    * rate. Lags stay exact BIGINT µs until the percentile; the converted
    * population is user-grain (aggregate-first), so the percentile state
    * is dimension-sized — at 100 TB the same plan swaps in
    * approx_percentile, unchanged shape.
    */
  def funnelTime(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir).select(col("user_id"), col("event_type"), col("ts_us"))
    val s0 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_signup"))
    val p0 = ev.filter(col("event_type") === "purchase")
      .join(s0, "user_id").filter(col("ts_us") > col("t_signup"))
      .groupBy(col("user_id"), col("t_signup")).agg(min(col("ts_us")).as("t_purchase"))
      .withColumn("lag_us", col("t_purchase") - col("t_signup"))
    val nSignup = s0.agg(count(lit(1)).as("n_signup"))
    def pMin(p: Double) = r4(percentile(col("lag_us"), lit(p)) / lit(6.0e7))
    p0.agg(count(lit(1)).as("n_converted"),
           pMin(0.25).as("p25_minutes"), pMin(0.5).as("p50_minutes"),
           pMin(0.75).as("p75_minutes"), pMin(0.9).as("p90_minutes"))
      .crossJoin(broadcast(nSignup))
      .select(col("n_signup"), col("n_converted"),
              r4(col("n_converted").cast("double") / col("n_signup").cast("double"))
                .as("conv_rate"),
              col("p25_minutes"), col("p50_minutes"),
              col("p75_minutes"), col("p90_minutes"))
  }

  /** Inter-purchase interval distribution per market segment — the
    * purchase-cadence statistics (mean / median / p90 gap days) behind
    * replenishment forecasts and churn-risk windows ("a customer 2×
    * past their segment's p90 gap is at risk"; [[churnMonthly]] counts
    * the lost, this prices WHEN to worry). Gaps come from per-customer
    * lag() over the order stream ordered by (date, key) — customer-
    * sharded, no global sort; day gaps stay exact integers into the
    * mean (exact sum ÷ count) and interpolated percentiles.
    */
  def interPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d").asc, col("o_orderkey").asc)
    val gaps = graft.util.Tables.t(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
              col("o_orderdate").cast("date").as("d"))
      .withColumn("prev_d", lag(col("d"), 1).over(w))
      .filter(col("prev_d").isNotNull)
      .select(col("o_custkey"),
              datediff(col("d"), col("prev_d")).cast("long").as("gap_days"))
    ordered(
      gaps
        .join(graft.util.Tables.t(spark, sfDir, "customer"),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_gaps"),
             r4(sum(col("gap_days")).cast("double") / count(lit(1)))
               .as("mean_gap_days"),
             r4(percentile(col("gap_days"), lit(0.5))).as("p50_gap_days"),
             r4(percentile(col("gap_days"), lit(0.9))).as("p90_gap_days")),
      "c_mktsegment")
  }

  /** Stream disorder rate — how out-of-order the fact stream actually
    * arrives: among consecutive records in SEQUENCE order (the surrogate
    * key, i.e. insertion order) per entity, the share whose EVENT TIME
    * runs backwards, plus the worst and p99 lateness — THE number that
    * sizes every watermark and late-arriving-dimension window (a 1-hour
    * watermark is a guess until this query says what lateness the feed
    * really has). Measured on the per-customer order stream (o_orderkey
    * sequence vs o_orderdate — the events table is generated perfectly
    * time-sorted, which would make the query a hollow zero). Per-entity
    * lag() windows (key-sharded, no global sort); lateness stays exact
    * integer days; the p99 runs over the inversion population only.
    */
  def disorderRate(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey").asc)
    val pairs = graft.util.Tables.t(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
              col("o_orderdate").cast("date").as("d"))
      .withColumn("prev_d", lag(col("d"), 1).over(w))
      .filter(col("prev_d").isNotNull)
      .withColumn("late_days",
        when(col("d") < col("prev_d"),
             datediff(col("prev_d"), col("d")).cast("long")))
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      count(col("late_days")).as("n_inversions"),
      r4(count(col("late_days")).cast("double") / count(lit(1)).cast("double"))
        .as("disorder_rate"),
      max(col("late_days")).as("max_late_days"),
      r4(percentile(col("late_days"), lit(0.99))).as("p99_late_days"))
  }

  /** Frame-spec moving average (SURVEY §2.2 window completion): per user,
    * ordered by event time, mean of the current + 3 preceding values.
    * Exact-decimal frame sum ÷ frame count (value is 2-decimal data), one
    * double division at the end — avg(double) over a frame sums in the
    * engine's own evaluation order (Spark: frame scan; DuckDB: segment
    * tree), which need not agree at the r4 boundary.
    */
  def windowFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(-3, Window.currentRow)
    ordered(
      events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
                r4(sum(money(col("value"))).over(w).cast("double")
                   / count(lit(1)).over(w)).as("mavg4")),
      "user_id", "ts_us", "event_id")
  }

  /** Window value-function family (completes §2.2 windows beyond ranking):
    * lag, first_value, nth_value, last_value over the per-user event
    * timeline. One user-partitioned sort shared by every function; the
    * growing frame (first/nth) and the full frame (last) are spelled
    * explicitly so both engines bind the same frames. Tie-broken by
    * event_id so the sort is total (SURVEY §7.5 determinism rule).
    */
  def windowValues(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val growing = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ordered(
      events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
                lag(col("event_type"), 1).over(w).as("prev_type"),
                r4(lag(col("value"), 1).over(w)).as("prev_value"),
                first(col("event_id")).over(growing).as("first_event"),
                nth_value(col("event_id"), 3).over(growing).as("third_event"),
                last(col("event_id")).over(full).as("last_event")),
      "user_id", "ts_us", "event_id")
  }

  /** Rolling exact median of the last 7 events per user — the robust-moving-
    * statistic twin of [[windowFrame]]'s moving average (medians shrug off
    * the value spikes that drag a mean). Exact `percentile` over a 7-row
    * frame: per-frame cost is constant, the only shuffle is the per-user
    * window sort on a high-cardinality key. Interpolation semantics match
    * DuckDB's quantile_cont (proven portable by q_quantiles_exact).
    */
  def rollingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(-6, Window.currentRow)
    ordered(
      events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("ts_us"),
                r4(expr("percentile(value, 0.5)").over(w)).as("med7")),
      "user_id", "ts_us", "event_id")
  }

  /** Gaps-and-islands: maximal runs of CONSECUTIVE active days per user —
    * the grid-aligned twin of [[sessionGaps]]' time-gap sessions (calendar
    * streaks vs activity bursts). Classic rn-difference technique: within a
    * user, `day − row_number` is constant exactly along a consecutive run,
    * so one distinct + one window + one hash agg finds every island. The
    * window partitions on user_id (high cardinality) over the per-user
    * DISTINCT day set — bounded by the calendar, not the event volume.
    */
  def gapsIslands(spark: SparkSession, sfDir: String): DataFrame = {
    val d = events(spark, sfDir)
      .select(col("user_id"), to_date(timestamp_micros(col("ts_us"))).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
    ordered(
      d.withColumn("grp",
          datediff(col("day"), lit("1970-01-01").cast("date")) - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
             count(lit(1)).as("n_days"))
        .drop("grp"),
      "user_id", "start_day")
  }

  /** cume_dist per customer over order value — the last window function the
    * §2.2 family lacked (rank/dense_rank/ntile/percent_rank live in
    * [[windowRanks]]). Partitioned on o_custkey — high cardinality, so the
    * window sort spreads across the cluster instead of funneling through a
    * handful of reducers. The order is total (totalprice + orderkey), so
    * every row is its own peer group and cume_dist is exactly rank/n — a
    * rational both engines compute bit-identically.
    */
  def windowCume(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    ordered(
      t(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
                r4(col("o_totalprice")).as("o_totalprice"),
                r4(cume_dist().over(w)).as("cume")),
      "o_custkey", "o_orderkey")
  }

  /** Temporal gap-fill with LOCF (last observation carried forward): every
    * user's daily value series densified to a gapless day spine, missing
    * days filled from the most recent observed day — the time-series
    * completion every reporting layer needs before window math (a moving
    * average over a gappy series silently weights active days).
    *
    * Shape: daily totals are one hash aggregate (exact-decimal sums); the
    * per-user spine fans out from a (min_day, max_day) pair via
    * sequence+explode — no calendar cross join; the fill is one
    * last(ignoreNulls) pass per user timeline (user-keyed windows: as many
    * partitions as users). Days are epoch-day integers end to end —
    * no timezone, no date-type cross-engine drift.
    */
  def gapFillLocf(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = events(spark, sfDir)
      .withColumn("day", expr("ts_us div 86400000000L"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(money(col("value"))).cast("double").as("v"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
              explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordered(
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
                r4(last(col("v"), ignoreNulls = true).over(w)).as("v_filled"),
                col("v").isNull.cast("int").as("is_filled")),
      "user_id", "day")
  }

  /** First-order Markov transition matrix over each user's event-type
    * sequence — the clickstream model behind next-action prediction and
    * funnel leak analysis. Successor pairs come from per-user lead()
    * windows (user-keyed: fully parallel, no global sort); transition
    * probability P(next|cur) = pair count / outgoing count is a single
    * division of exact integers. Output is |event types|² rows — driver
    * scale at any corpus size.
    */
  def markovTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val pairs = events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("cur"), col("next_type").as("nxt"))
    val trans = pairs.groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
    val outgoing = trans.groupBy(col("cur")).agg(sum(col("n")).as("n_out"))
    ordered(
      trans.join(outgoing, "cur")
        .select(col("cur"), col("nxt"), col("n"),
                r4(col("n").cast("double") / col("n_out").cast("double")).as("p")),
      "cur", "nxt")
  }

  /** Top event-path trigrams — the path-analysis extension of
    * [[markovTransitions]]'s pair matrix: the most common three-step
    * journeys (signup → view → purchase beats two disconnected pair
    * counts for funnel design). Two lead() taps on the same user-keyed
    * window (ONE window exchange serves both), filter to complete
    * triples, one hash-agg; output is ≤ |event types|³ rows — driver
    * scale at any event volume. Share = trigram count / total triples,
    * a single division of exact counts.
    */
  def eventTrigrams(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val triples = events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(col("event_type").as("e1"), col("e2"), col("e3"))
    val counts = triples.groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("n_total"))
    ordered(
      counts.crossJoin(broadcast(total))
        .select(col("e1"), col("e2"), col("e3"), col("n"),
                r4(col("n").cast("double") / col("n_total").cast("double"))
                  .as("share")),
      "e1", "e2", "e3")
  }

  /** Year-over-year delta per market segment — the period-over-period
    * report: revenue by (segment, order year), previous year via lag()
    * over the AGGREGATED frame (|segments|·|years| rows — a window here
    * costs nothing; the fact table only ever hash-aggregates). Deltas
    * subtract exact DECIMALs; the percent change is one mirrored double
    * division at the output boundary.
    */
  def yoyDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val yearly = t(spark, sfDir, "orders")
      .join(t(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), year(col("o_orderdate")).as("yr"))
      .agg(sum(money(col("o_totalprice"))).as("rev_dec"))
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("yr").asc)
    ordered(
      yearly
        .withColumn("prev_dec", lag(col("rev_dec"), 1).over(w))
        .select(col("c_mktsegment"), col("yr"),
                r4(col("rev_dec").cast("double")).as("revenue"),
                r4((col("rev_dec") - col("prev_dec")).cast("double")).as("delta"),
                r4((col("rev_dec") - col("prev_dec")).cast("double") /
                   col("prev_dec").cast("double")).as("pct_change")),
      "c_mktsegment", "yr")
  }

  /** Linearly-decaying weighted moving average per user: the current event
    * plus its 4 predecessors weighted 5,4,3,2,1 — the time-decay smoother
    * (EWMA's role) whose weights are exact small INTEGERS, so both engines
    * compute bit-identical weighted sums (pow(1-α, d) would hit libm ULP
    * differences between the JVM and C). A window frame can't vary a weight
    * by offset-within-frame, so the frame is expressed as a banded
    * row-number self-join (0 ≤ rnᵃ−rnᵇ < 5): per-user sequence numbers
    * first (parallel windows), then an equi-join on user_id with the band
    * as a residual predicate — the join fans each row out at most 5×,
    * partition-partitioned by user, never a global sort. Early rows
    * normalize by the weights actually present.
    */
  def wma(spark: SparkSession, sfDir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val e = events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("rn", row_number().over(seq))
    val cur = e.select(col("user_id"), col("event_id"), col("ts_us"), col("rn"))
    // values quantized to fixed-point longs (floor(v·10⁴+0.5), the portable
    // r4 rounding) so the weighted sum is INTEGER arithmetic — associative,
    // partition-order independent, hash-identical to DuckDB's fold
    val hist = e.select(col("user_id"), col("rn").as("rn_b"),
      floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("q_b"))
    ordered(
      cur.join(hist, Seq("user_id"))
        .filter(col("rn") - col("rn_b") >= 0 && col("rn") - col("rn_b") < 5)
        .withColumn("w", (lit(5) - (col("rn") - col("rn_b"))).cast("long"))
        .groupBy(col("user_id"), col("event_id"), col("ts_us"))
        .agg(sum(col("q_b") * col("w")).as("sq"), sum(col("w")).as("sw"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
                r4(col("sq").cast("double") / lit(10000.0) / col("sw").cast("double"))
                  .as("wma5")),
      "user_id", "ts_us", "event_id")
  }

  /** True EWMA (α = 1/2, truncated at 5 lags) — the exponential-decay
    * smoother [[wma]] deliberately stood in for: with a dyadic α the lag
    * weights are exact powers of two (16 >> lag — no pow(), no libm ULP
    * gap between engines), so the weighted sum stays INTEGER arithmetic
    * end-to-end and hash-matches DuckDB's fold exactly. Same banded
    * row-number self-join shape as wma (per-user sequence numbers, band
    * 0 ≤ lag < 5 as residual predicate, ≤5× fan-out, user-sharded — never
    * a global sort); early rows normalize by the weights actually present,
    * which for a truncated EWMA is the standard "adjusted" form.
    */
  def ewma(spark: SparkSession, sfDir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val e = events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("rn", row_number().over(seq))
    val cur = e.select(col("user_id"), col("event_id"), col("ts_us"), col("rn"))
    val hist = e.select(col("user_id"), col("rn").as("rn_b"),
      floor(col("value") * lit(10000.0) + lit(0.5)).cast("long").as("q_b"))
    ordered(
      cur.join(hist, Seq("user_id"))
        .filter(col("rn") - col("rn_b") >= 0 && col("rn") - col("rn_b") < 5)
        .withColumn("w", expr("shiftright(16L, cast(rn - rn_b as int))"))
        .groupBy(col("user_id"), col("event_id"), col("ts_us"))
        .agg(sum(col("q_b") * col("w")).as("sq"), sum(col("w")).as("sw"))
        .select(col("user_id"), col("event_id"), col("ts_us"),
                r4(col("sq").cast("double") / lit(10000.0) / col("sw").cast("double"))
                  .as("ewma5")),
      "user_id", "ts_us", "event_id")
  }

  /** nth_value + boolean-aggregate completions — the last members of the
    * window/aggregate families: per user, the value of their 3rd event
    * (nth_value over the full partition frame), whether ALL their events
    * carry positive value and whether ANY is an error (bool_and/bool_or as
    * min/max over int flags — exact, engine-portable). One user-sharded
    * window plus one hash aggregate.
    */
  def nthValueBoolAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ordered(
      events(spark, sfDir)
        .withColumn("third_value", nth_value(col("value"), 3).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             // every row in the group carries the same full-frame nth value;
             // min() collapses it portably (first() is order-dependent in
             // the oracle engine). Flags surface as INT 1/0 — boolean
             // serialization differs between engines' python bridges.
             r4(min(col("third_value"))).as("third_value"),
             min(when(col("value") > 0, 1).otherwise(0)).as("all_positive"),
             max(when(col("event_type") === "error", 1).otherwise(0)).as("any_error")),
      "user_id")
  }

  /** Sessionization through the TYPED Dataset API — groupByKey +
    * flatMapGroups with compiled per-group Scala, the escape hatch for
    * per-entity logic no window frame expresses (multi-state machines,
    * custom lifecycles). Registered with the SAME oracle as
    * [[sessionGaps]]: the hash gate proves the typed row-at-a-time state
    * machine ≡ the declarative gaps-and-islands window, and exercises the
    * Encoder path (serialization across the groupByKey exchange) in the
    * driver gate rather than only in unit tests. Each group is one user's
    * events — bounded, sorted in memory per group; the shuffle is the
    * same single user_id exchange the window variant pays.
    */
  def sessionizeTyped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    val ds = events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_us")).as[SessEvent]
    ordered(
      ds.groupByKey(_.user_id)
        .flatMapGroups { (uid: Long, it: Iterator[SessEvent]) =>
          val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
          var sid = 0L; var start = 0L; var end = 0L; var n = 0L
          var prev = Long.MinValue
          evs.foreach { e =>
            if (prev == Long.MinValue || e.ts_us - prev > gapUs) {
              if (n > 0) out += SessOut(uid, sid, n, start, end)
              sid += 1; n = 0; start = e.ts_us
            }
            n += 1; end = e.ts_us; prev = e.ts_us
          }
          if (n > 0) out += SessOut(uid, sid, n, start, end)
          out.iterator
        }.toDF(),
      "user_id", "session_id")
  }

  /** Trailing-7-day distinct active users per day (rolling DAU/WAU) —
    * COUNT(DISTINCT) over a sliding window, which no window frame can
    * express (frames aggregate, they don't dedup). Shape: collapse the
    * event stream to distinct (user, day) FIRST — the only pass that
    * touches raw events — then band-join that slim activity table to the
    * distinct-day calendar (broadcast: a calendar is ≤ a few thousand rows
    * at any scale) and count distinct users per anchor day. The fan-out is
    * ×7 on the already-collapsed activity table, never on the stream.
    */
  def slidingDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = events(spark, sfDir)
      .select(col("user_id"), to_date(timestamp_micros(col("ts_us"))).as("d"))
      .distinct()
    val days = ud.select(col("d").as("anchor")).distinct()
    ordered(
      ud.join(broadcast(days),
              col("d") >= date_sub(col("anchor"), 6) && col("d") <= col("anchor"))
        .groupBy(col("anchor"))
        .agg(countDistinct(col("user_id")).as("active_7d")),
      "anchor")
  }

  /** Daily new-vs-returning user split — the growth-accounting primitive
    * (is today's traffic acquisition or retention?) that q_retention's
    * cohort matrix summarizes but doesn't expose day-by-day. Two hash-aggs
    * and one user-keyed join: distinct (user, epoch-day) pairs, min-day
    * first-seen per user, then a per-day conditional count — no window at
    * all, so the plan is flat at any event volume. The epoch-day key is
    * integer µs division, bit-identical in the oracle.
    */
  def newVsReturning(spark: SparkSession, sfDir: String): DataFrame = {
    val ud = events(spark, sfDir)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .distinct()
    val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    ordered(
      ud.join(first, "user_id")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("active_users"),
             sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
               .as("new_users"))
        .select(col("day"), col("active_users"), col("new_users"),
                (col("active_users") - col("new_users")).as("returning_users")),
      "day")
  }

  /** Monthly customer churn — per month: active customers, how many of
    * them place NO order the following month (churned), and the churn
    * rate; the month-grain lifecycle report [[newVsReturning]]'s daily
    * acquisition split and [[retentionCohorts]]'s cohort matrix both
    * leave out ("how many did we LOSE, month by month"). WINDOWLESS like
    * newVsReturning: distinct (customer, month) activity pairs, one
    * self-join shifted by a month (add_months on the month-start DATE —
    * exact integer calendar arithmetic on both engines), one per-month
    * conditional count — flat plan at any order volume. The last month is
    * excluded in-plan via a 1-row max aggregate (churn is undefined
    * without a following month), no driver collect.
    */
  def churnMonthly(spark: SparkSession, sfDir: String): DataFrame = {
    val cm = graft.util.Tables.t(spark, sfDir, "orders")
      .select(col("o_custkey").as("ck"),
              date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nxt = cm.select(col("ck"), add_months(col("m"), -1).as("m"), lit(1).as("nx"))
    val maxM = cm.agg(max(col("m")).as("max_m"))
    ordered(
      cm.join(nxt, Seq("ck", "m"), "left")
        .groupBy(col("m"))
        .agg(count(lit(1)).as("active"),
             sum(when(col("nx").isNull, 1L).otherwise(0L)).as("churned"))
        .crossJoin(broadcast(maxM))
        .filter(col("m") < col("max_m"))
        .select(col("m"), col("active"), col("churned"),
                r4(col("churned").cast("double") / col("active").cast("double"))
                  .as("churn_rate")),
      "m")
  }

  /** Per-user time-weighted average event value — the irregular-sampling
    * mean (sensor readings, price ticks, engagement states) where each
    * value holds until the NEXT observation: twa = Σ value·Δt / Σ Δt over
    * lead() intervals. User-sharded window (ts_us, event_id tie-break —
    * the [[markovTransitions]] ordering), so the sort is per-user and
    * shuffles once on user_id. Exact: value → integer cents, Δt → BIGINT
    * micros, products at DECIMAL(18,0)×DECIMAL(18,0) → DECIMAL-exact sums
    * (cents·µs reaches ~1e18 and would wrap a BIGINT); the twa is one
    * mirrored double chain (num/total/100), r4-rounded. Single-event users
    * have no interval and zero-span users no weight — both drop on the
    * total_us > 0 guard, mirrored as HAVING in the oracle.
    */
  def timeWeightedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val iv = events(spark, sfDir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
              floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vc"))
      .withColumn("next_ts", lead(col("ts_us"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .withColumn("dur", col("next_ts") - col("ts_us"))
    ordered(
      iv.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
             sum(col("dur")).as("total_us"),
             sum(col("vc").cast("decimal(18,0)") *
                 col("dur").cast("decimal(18,0)")).as("num"))
        .filter(col("total_us") > 0)
        .select(col("user_id"), col("n_intervals"), col("total_us"),
                r4(col("num").cast("double") / col("total_us").cast("double") /
                   lit(100.0)).as("twa")),
      "user_id")
  }

  /** Peak concurrency per day — "how many sessions were live at once":
    * the classic ±1 boundary sweep over the 30-minute-gap sessions
    * ([[sessionGaps]]' construction). Every session contributes a +1 at
    * its start and a −1 one µs after its last event (inclusive ends);
    * the running boundary sum IS the live-session count, and its per-day
    * max is the capacity-planning number. The sweep's global order runs
    * through [[graft.util.PrefixSum]] (range partition + local window +
    * tiny offsets join), NEVER a single-reducer global window — the
    * boundary frame is 2 rows per session at any event scale. Equal
    * timestamps order +1 before −1, so back-to-back sessions at the same
    * µs count as overlapping (the conservative capacity answer); the max
    * is permutation-invariant within exact (ts, delta) ties.
    *
    * Cross-midnight carry-in (the ADVICE r8 fix): a day whose first ±1
    * boundary is a session END would otherwise miss the concurrency
    * carried in from the previous day, and a day fully inside one long
    * session would emit no row at all. Every midnight a session spans
    * therefore seeds a ZERO-DELTA boundary — it changes no running sum,
    * but materializes the carry-in run at 00:00 so the per-day max sees
    * it, and gives boundary-free covered days their row
    * (`n_boundaries` = 0; the column counts real ±1 boundaries only).
    * Seeds order between +1 and −1 at an equal µs, so a session
    * starting exactly at midnight is counted live at that midnight —
    * the same conservative tie rule as above. Seed volume is
    * days-spanned per session, so the frame stays event-scale-free.
    */
  def concurrentSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val sessions = events(spark, sfDir)
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("s"), max(col("ts_us")).as("e"))
    // one pass per session row emits start (+1), end (−1), and a
    // zero-delta seed at every midnight strictly inside [s, e] — a
    // 3-way union would reference the unpersisted window pipeline three
    // times. The de > ds guard keeps sequence() ascending (Spark's
    // default step flips to -1 day when start > stop — a silent
    // reversed range); the per-session seed array is days-spanned long,
    // so the interpreted transform() lambda runs over session counts,
    // never event counts.
    val ds = to_date(timestamp_micros(col("s")))
    val de = to_date(timestamp_micros(col("e")))
    val bounds = sessions
      .select(explode(concat(
        array(struct(col("s").as("bts"), lit(1L).as("delta")),
              struct((col("e") + 1L).as("bts"), lit(-1L).as("delta"))),
        transform(
          when(de > ds, sequence(date_add(ds, 1), de))
            .otherwise(array().cast("array<date>")),
          d => struct((unix_date(d).cast("long") * lit(86400000000L)).as("bts"),
                      lit(0L).as("delta"))))).as("b"))
      .select(col("b.bts").as("bts"), col("b.delta").as("delta"))
    val run = graft.util.PrefixSum
      .exclusiveCols(bounds, Seq(col("bts").asc, col("delta").desc),
                     col("delta"), "run0")
      .withColumn("run", col("run0") + col("delta"))
    ordered(
      run.groupBy(to_date(timestamp_micros(col("bts"))).as("day"))
        .agg(max(col("run")).as("peak_concurrency"),
             sum(when(col("delta") =!= 0L, 1L).otherwise(0L)).as("n_boundaries")),
      "day")
  }

  /** Per-user interval-union coverage — each event opens a half-open
    * 10-minute activity interval [ts, ts+10m); overlapping and adjacent
    * intervals merge, and the user's covered time is the union length
    * (the "active minutes" metric every engagement dashboard wants; the
    * [[sessionGaps]] sessions can't express it because gap-split sessions
    * NEVER overlap — this is the genuinely interval-algebraic op). The
    * classic running-max-end merge: within a user ordered by start, a new
    * island begins exactly when the start clears every previous end; one
    * user-partitioned window (high-cardinality key — the sort spreads),
    * one hash-agg per island, one per user. Also reports the largest
    * island's event count (how bursty the activity is) from the same
    * ordered pass.
    */
  def intervalCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val lenUs = 10L * 60 * 1000 * 1000
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("s").asc, col("event_id").asc)
    val prevMax = max(col("e")).over(
      byUser.rowsBetween(Window.unboundedPreceding, -1))
    val marked = events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_us").as("s"),
              (col("ts_us") + lenUs).as("e"))
      .withColumn("pmax", prevMax)
      .withColumn("new_island",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val islands = marked.groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("n_ev"), min(col("s")).as("is"),
           max(col("e")).as("ie"))
    ordered(
      islands.groupBy(col("user_id"))
        .agg(sum(col("n_ev")).as("n_events"),
             count(lit(1)).as("n_islands"),
             sum(col("ie") - col("is")).as("covered_us"),
             max(col("n_ev")).as("max_island_events")),
      "user_id")
  }

  /** V-shape pattern detection on the daily revenue series — the
    * MATCH_RECOGNIZE(PATTERN (DOWN+ UP+)) substitute for the standard-SQL
    * feature Spark lacks: find days where revenue DROPS at least
    * `dropPct` percent from the previous day and RECOVERS to at least
    * the pre-drop level within `horizon` days — the dip-and-rebound
    * every incident review and promo post-mortem looks for. Expressed as
    * lag/lead window taps over the day-scale series (one global-order
    * window, driver-scale): the drop test is an exact integer
    * cross-multiplication (100·cents_t < (100−dropPct)·cents_{t−1} — no
    * float percentage), recovery is the max of the next `horizon` days
    * vs the pre-drop level. Output: each dip day with depth and
    * days-to-recovery (null = never recovered inside the horizon).
    */
  def matchVShape(spark: SparkSession, sfDir: String, dropPct: Int = 30,
                  horizon: Int = 3): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
    // round 11: expressed through the parameterized [[Patterns
    // .triggerResolve]] (PATTERN (A B{1,h})) — trigger = the exact integer
    // cross-multiplied drop test, resolve = recovery to the pre-drop level.
    // Same window taps as the bespoke construction it replaces; the driver
    // hash gate pins the output unchanged.
    ordered(
      Patterns.triggerResolve(daily, Seq(), Seq(col("d").asc), col("cents"),
          horizon,
          trigger = (cur, prev) => cur * 100 < prev * (100 - dropPct),
          resolve = (lead_, prev, _) => lead_ >= prev)
        .withColumnRenamed("match_at", "rec_day")
        .select(col("d").as("dip_day"),
                r4(col("prev").cast("double") / 100.0).as("pre_drop_revenue"),
                r4(col("cents").cast("double") / 100.0).as("dip_revenue"),
                r4(lit(1.0) - col("cents").cast("double") /
                   col("prev").cast("double")).as("drop_frac"),
                col("rec_day").as("days_to_recovery")),
      "dip_day")
  }

  /** Spike-then-decay detection on the daily revenue series — the INVERSE
    * V (PATTERN (UP DOWN{1,h})): days where revenue JUMPS at least
    * `spikePct` percent over the previous day and falls back to or below
    * the pre-spike level within `horizon` days — the flash-sale /
    * bot-burst / double-charge signature, transient by construction. The
    * SAME [[Patterns.triggerResolve]] operator as [[matchVShape]] with the
    * two predicates flipped — the parameterization is the point (round-11:
    * one pattern family, not per-shape bespoke queries). Exact integer
    * cross-multiplied spike test; NULL days_to_decay = the new level held
    * past the horizon (a step change, not a spike).
    */
  def matchSpikeDecay(spark: SparkSession, sfDir: String, spikePct: Int = 40,
                      horizon: Int = 3): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
    ordered(
      Patterns.triggerResolve(daily, Seq(), Seq(col("d").asc), col("cents"),
          horizon,
          trigger = (cur, prev) => cur * 100 > prev * (100 + spikePct),
          resolve = (lead_, prev, _) => lead_ <= prev)
        .select(col("d").as("spike_day"),
                r4(col("prev").cast("double") / 100.0).as("pre_spike_revenue"),
                r4(col("cents").cast("double") / 100.0).as("spike_revenue"),
                r4(col("cents").cast("double") /
                   col("prev").cast("double") - lit(1.0)).as("spike_frac"),
                col("match_at").as("days_to_decay")),
      "spike_day")
  }

  /** Longest strictly-rising revenue streak per market segment (monthly
    * grain) — the run-length pattern (MATCH_RECOGNIZE (RISE+)) as
    * gaps-and-islands: a rise flag from one lag tap, island ids as the
    * running sum of streak BREAKS (the standard islands trick — exact
    * integers, no session state), longest island per segment with its
    * start/end months and total climb. Segment-sharded windows over a
    * month-grain frame: driver-scale after one fact hash-agg. Round 11:
    * the islands machinery lives in [[Patterns.islands]].
    */
  def risingStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = t(spark, sfDir, "orders")
      .join(t(spark, sfDir, "customer")
              .select(col("c_custkey"), col("c_mktsegment").as("seg")),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), date_trunc("month", col("o_orderdate").cast("date"))
                 .cast("date").as("m"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
    // round 11: expressed through the parameterized [[Patterns.islands]]
    // (PATTERN (STEP+)) with step = strict rise — the same gaps-and-islands
    // arithmetic as the bespoke construction it replaces (hash-pinned)
    val streaks = Patterns.islands(monthly, Seq(col("seg")),
        Seq(col("m").asc), col("cents"),
        step = (cur, prev) => cur > prev)
      .groupBy(col("seg"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("m")).as("start_m"),
           max(col("m")).as("end_m"),
           (max(col("cents")) - min(col("cents"))).as("climb_cents"))
    val wBest = Window.partitionBy(col("seg"))
      .orderBy(col("len").desc, col("start_m").asc)
    ordered(
      streaks.withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(col("seg"), col("len").as("streak_months"),
                col("start_m"), col("end_m"),
                r4(col("climb_cents").cast("double") / 100.0).as("climb")),
      "seg")
  }

  /** Moving-average crossover events on the daily revenue series — the
    * golden-cross/death-cross signal (the state-change member of the
    * round-11 pattern family): fast = `fast`-day trailing mean, slow =
    * `slow`-day trailing mean, a CROSSOVER is any day whose above/below
    * state differs from the previous day's. The comparison is an exact
    * integer cross-multiplication (sum_f·n_s > sum_s·n_f — no mean
    * division anywhere), warm-up rows before one full slow window are
    * excluded, and the state-change detection is [[Patterns
    * .triggerResolve]] with trigger = state ≠ previous state (PATTERN (A)
    * over the state series — the same operator as the V-shape and
    * spike-decay queries, third predicate instantiation). Output: each
    * crossover day, its direction, and both averages.
    */
  def emaCrossover(spark: SparkSession, sfDir: String, fast: Int = 5,
                   slow: Int = 20): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val w = Window.orderBy(col("d").asc)
    val flagged = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("sf", sum(col("cents")).over(w.rowsBetween(-(fast - 1), 0)))
      .withColumn("nf", count(lit(1)).over(w.rowsBetween(-(fast - 1), 0)))
      .withColumn("ss", sum(col("cents")).over(w.rowsBetween(-(slow - 1), 0)))
      .withColumn("ns", count(lit(1)).over(w.rowsBetween(-(slow - 1), 0)))
      .filter(col("rn") >= slow)
      .withColumn("above",
        (col("sf") * col("ns") > col("ss") * col("nf")).cast("int"))
    ordered(
      Patterns.triggerResolve(flagged, Seq(), Seq(col("d").asc),
          col("above"), 1,
          trigger = (cur, prev) => cur =!= prev,
          resolve = (_, _, _) => lit(true))
        .select(col("d").as("cross_day"),
                when(col("above") === 1, lit("golden")).otherwise(lit("death"))
                  .as("direction"),
                r4(col("sf").cast("double") /
                   (col("nf").cast("double") * 100.0)).as("fast_avg"),
                r4(col("ss").cast("double") /
                   (col("ns").cast("double") * 100.0)).as("slow_avg")),
      "cross_day")
  }

  /** Peak detection with a prominence guard on weekly revenue — the
    * signal-processing "find the real spikes" op (scipy.find_peaks
    * semantics, the windowed-argmax form): a week is a PEAK when it is
    * strictly the maximum of its ±`halfWidth`-week neighborhood AND
    * exceeds the neighborhood mean (excluding itself) by at least
    * `promPct` percent — the prominence test that kills plateau noise.
    * Both tests are exact-integer: strict-max via windowed max taps,
    * prominence via cross-multiplication against the exact neighborhood
    * sum. One global-order window over the week-scale series. Top
    * peaks by rounded prominence.
    */
  def peakDetection(spark: SparkSession, sfDir: String, halfWidth: Int = 3,
                    promPct: Int = 20): DataFrame = {
    val weekly = t(spark, sfDir, "orders")
      .groupBy(date_trunc("week", col("o_orderdate").cast("date"))
                 .cast("date").as("wk"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val w = Window.orderBy(col("wk").asc)
    val nb = Window.orderBy(col("wk").asc)
      .rowsBetween(-halfWidth, halfWidth)
    val others = Seq((-halfWidth to -1), (1 to halfWidth)).flatten
      .map(i => lag(col("cents"), -i).over(w))
    // ALL window taps over the FULL weekly series, THEN the edge filter —
    // filtering first would shift the lag/lead frame and let boundary
    // rows compare against the wrong (truncated) neighborhood
    val stats = weekly
      .withColumn("nb_sum", sum(col("cents")).over(nb))
      .withColumn("nb_cnt", count(col("cents")).over(nb))
      // strict-max test compares against the greatest of the 2·halfWidth
      // EXPLICIT neighbor taps (excluding self — a frame max would tie
      // with the candidate itself); prominence uses the exact
      // neighbor-sum arithmetic below
      .withColumn("max_other", others.reduce((a, b) => greatest(a, b)))
      // full neighborhood only (series edges excluded — a peak claim
      // needs both shoulders)
      .filter(col("nb_cnt") === 2 * halfWidth + 1)
      .withColumn("nb_sum_others", col("nb_sum") - col("cents"))
      .withColumn("nb_cnt_others", col("nb_cnt") - 1)
    ordered(
      stats
        .filter(col("cents") > col("max_other") &&
                col("cents") * col("nb_cnt_others") * 100 >
                  col("nb_sum_others") * (100 + promPct))
        .select(col("wk").as("peak_week"),
                r4(col("cents").cast("double") / 100.0).as("revenue"),
                r4(col("cents").cast("double") * col("nb_cnt_others")
                     .cast("double") /
                   col("nb_sum_others").cast("double") - 1.0)
                  .as("prominence")),
      "peak_week")
  }

  /** Windowed funnel depth (the ClickHouse `windowFunnel` semantic, here
    * first-anchor greedy): how FAR each user gets through signup → view →
    * purchase when every later step must land within Δ = 7 days of the
    * user's FIRST signup — [[funnel]] without the deadline counts
    * eventual converters; this counts converters while the activation
    * window is still open, which is what a growth team can act on.
    * Greedy deterministic chain: t₁ = first signup; t₂ = first view in
    * (t₁, t₁+Δ]; t₃ = first purchase in (t₂, t₁+Δ]. Same three
    * min-agg + user-key join stages as [[funnel]] (no windows over the
    * stream, no cross join); output is the depth histogram with
    * conversion shares — 3 rows at any scale.
    */
  def windowFunnel(spark: SparkSession, sfDir: String,
                   windowDays: Int = 7): DataFrame = {
    val deltaUs = windowDays * 86400000000L
    val ev = events(spark, sfDir).select(col("user_id"), col("event_type"),
                                         col("ts_us"))
    val s0 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
    val v0 = ev.filter(col("event_type") === "view")
      .join(s0, "user_id")
      .filter(col("ts_us") > col("t1") && col("ts_us") <= col("t1") + deltaUs)
      .groupBy(col("user_id"), col("t1")).agg(min(col("ts_us")).as("t2"))
    val p0 = ev.filter(col("event_type") === "purchase")
      .join(v0, "user_id")
      .filter(col("ts_us") > col("t2") && col("ts_us") <= col("t1") + deltaUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3"))
    val depth = s0.select(col("user_id"))
      .join(v0.select(col("user_id"), lit(1).as("has2")), Seq("user_id"),
            "left_outer")
      .join(p0.select(col("user_id"), lit(1).as("has3")), Seq("user_id"),
            "left_outer")
      .select(col("user_id"),
              (lit(1) + coalesce(col("has2"), lit(0)) +
               coalesce(col("has3"), lit(0))).cast("long").as("depth"))
    val tot = depth.agg(count(lit(1)).as("n_entered"))
    ordered(
      depth.groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(tot))
        .select(col("depth"), col("n_users"), col("n_entered"),
                r4(col("n_users").cast("double") /
                   col("n_entered").cast("double")).as("share")),
      "depth")
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** Data-quality tier: window dedup, group-average imputation, z-score
  * outlier capping, conditional rewrite (ref
  * /root/reference/etl/transform_load.sql:9–38). All window/group shapes —
  * one shuffle on the partition key each, partial aggregation map-side.
  */
object Quality {

  /** Reusable keyed dedup: keep exactly one row per key with a DETERMINISTIC
    * tiebreaker. The reference dedups with `ROW_NUMBER() OVER (PARTITION BY
    * city_name, date ORDER BY (SELECT NULL))` and keeps an arbitrary row
    * (transform_load.sql:9–16) — nondeterministic by construction; we define
    * latest-then-highest-id order instead (documented divergence, SURVEY
    * §7.5.3) so results hash-match across engines and runs.
    */
  def dedupLatest(df: DataFrame, keys: Seq[String], orderDesc: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderDesc.map(c => col(c).desc): _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Latest event per (user_id, event_type) — the reference's staging dedup
    * re-expressed (transform_load.sql:9–16). Ties on ts_us break by
    * event_id desc.
    */
  def dedupRownum(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      dedupLatest(events(spark, sfDir), Seq("user_id", "event_type"),
                  Seq("ts_us", "event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"),
                col("ts_us"), r4(col("value")).as("value")),
      "user_id", "event_type")

  /** Missing-value imputation by group average (ref transform_load.sql:20–24;
    * README.md:230). The reference's correlated scalar subqueries become one
    * group-stats aggregate joined back to the fact. Deliberately replicated quirk: a row with EITHER
    * measure NULL gets BOTH measures overwritten by the group average (the
    * reference UPDATE's WHERE hits the row once and SETs both columns).
    * NULLs are synthesized deterministically from lineitem (testdata has
    * none): m1 missing when l_linenumber=3, m2 missing when l_linenumber=4;
    * group = (l_returnflag, month of shipdate) mirroring (city, month).
    */
  def imputeAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_returnflag"),
      month(col("l_shipdate")).as("mo"),
      when(col("l_linenumber") =!= 3, col("l_quantity")).as("m1"),
      when(col("l_linenumber") =!= 4, col("l_discount")).as("m2"))
    // Group stats via groupBy + broadcast join-back, NOT a window: a window
    // partitioned by (flag, month) has ~36 distinct keys, so at 100 TB the
    // whole fact would sort on ≤36 reducers. The aggregate shuffles one row
    // per (group × partition); the tiny stats table broadcasts back.
    // Averages are exact-decimal-sum / count (both inputs are ≤2-decimal
    // money-like doubles) so the result is independent of partial-aggregation
    // order — double summation order would differ between Spark's partial/
    // final tree and DuckDB's sequential scan right at the r4 boundary.
    val stats = li.groupBy(col("l_returnflag"), col("mo"))
      .agg((sum(money(col("m1"))).cast("double") / count(col("m1"))).as("avg1"),
           (sum(money(col("m2"))).cast("double") / count(col("m2"))).as("avg2"))
    val needs = col("m1").isNull || col("m2").isNull
    ordered(
      li.join(broadcast(stats), Seq("l_returnflag", "mo"))
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_returnflag"), col("mo"),
          r4(when(needs, col("avg1")).otherwise(col("m1"))).as("m1_filled"),
          r4(when(needs, col("avg2")).otherwise(col("m2"))).as("m2_filled")),
      "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_returnflag", "mo", "m1_filled", "m2_filled")
  }

  /** Z-score outlier capping (ref transform_load.sql:27–38; README.md:231):
    * per event_type mean/stddev_samp; |x−μ|/σ > 3 ⇒ replace with μ.
    * Semantic trap handled per SURVEY §2 op 10: SQL Server raises div/0 for
    * σ=0 and yields NULL comparisons for 1-row groups (keeping the value);
    * Spark would silently produce NaN/Inf — so σ=0-or-NULL keeps the
    * original value, mirrored as nullif(stddev,0) in the oracle.
    * Group stats via one aggregate + broadcast-join back (groups are few);
    * at 100 TB this stays two scans of the fact with a tiny broadcast,
    * never a window sort over the whole table.
    */
  def outlierZscore(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    // mu as exact-decimal-sum / count (value is 2-decimal): the capped rows
    // emit r4(mu), so mu itself must be partition-order independent. sigma
    // only gates the |x−mu|/σ ≤ 3 comparison — far from the boundary in
    // practice — and stays a double stddev on both engines.
    val stats = ev.groupBy(col("event_type"))
      .agg((sum(money(col("value"))).cast("double") / count(col("value"))).as("mu"),
           stddev_samp(col("value")).as("sigma"))
    val keep = col("sigma").isNull || col("sigma") === 0.0 ||
               abs(col("value") - col("mu")) / col("sigma") <= 3.0
    ordered(
      ev.join(broadcast(stats), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
                r4(when(keep, col("value")).otherwise(col("mu"))).as("value_capped")),
      "event_id")
  }

  /** Data-profiling summary — the on-load quality report a warehouse runs
    * before accepting a batch (the reference's cleaning stages imply it:
    * null imputation and outlier capping both start from "how bad is the
    * data"). Long format, one row per profiled measure: row/null counts,
    * min/max, exact distinct. Single pass over the fact; stack() fans the
    * measures out map-side and every aggregate is partial+final.
    */
  def dqProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val long = t(spark, sfDir, "lineitem").select(
      expr("stack(4, 'l_quantity', l_quantity, 'l_extendedprice', l_extendedprice, " +
           "'l_discount', l_discount, 'l_tax', l_tax)").as(Seq("column_name", "v")))
    ordered(
      long.groupBy(col("column_name")).agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_nulls"),
        r4(min(col("v"))).as("min_v"),
        r4(max(col("v"))).as("max_v"),
        countDistinct(col("v")).as("n_distinct")),
      "column_name")
  }

  /** Fixed-width histogram of order value — profiling companion to
    * dqProfile (the distribution view the reference's outlier stage
    * implicitly assumes). Bucket index is pure portable arithmetic
    * (floor of a double division, clamped to the last bucket), one
    * hash-agg over the fact.
    */
  def histogram(spark: SparkSession, sfDir: String,
                bucketWidth: Double = 11000.0, nBuckets: Int = 10): DataFrame =
    ordered(
      t(spark, sfDir, "lineitem")
        .select(least(lit(nBuckets - 1),
                      floor(col("l_extendedprice") / lit(bucketWidth)))
                  .cast("int").as("bucket"),
                col("l_extendedprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
             r4(min(col("l_extendedprice"))).as("min_price"),
             r4(max(col("l_extendedprice"))).as("max_price")),
      "bucket")

  /** Conditional in-place rewrite (ref transform_load.sql:34–38 — UPDATE …
    * CASE … FROM self-join). Same CASE shape on its own: cap quantity at 30
    * for returned ('R') items. Narrow map, zero shuffle.
    */
  def updateConditional(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      t(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
                col("l_suppkey"), col("l_returnflag"),
                when(col("l_returnflag") === "R" && col("l_quantity") > 30, lit(30.0))
                  .otherwise(col("l_quantity")).as("qty_capped")),
      "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_returnflag", "qty_capped")

  /** Robust outlier profile per event type: median, MAD (median absolute
    * deviation) and the count beyond the 3σ-equivalent fence
    * |x − med| > 3·1.4826·MAD — the heavy-tail-safe alternative to
    * [[outlierZscore]] (a single extreme value shifts mean/σ but not
    * med/MAD). Two grouped exact-percentile passes with a broadcast
    * join-back between them; medians are sort-based, not accumulation-
    * based, so results are partition-order-proof. At 100 TB both passes
    * swap for approx_percentile with the same plan shape.
    */
  def outlierMad(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    ordered(
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             r4(min(col("med"))).as("med"),
             r4(min(col("mad"))).as("mad"),
             sum(when(col("adev") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
               .as("n_outliers")),
      "event_type")
  }

  /** Seasonality-adjusted anomaly detection: a flat per-type z-score
    * ([[outlierZscore]]) flags every nightly batch spike; baselining per
    * (event_type, hour-of-day) compares each value against its OWN season.
    * Same scale shape as the other two-pass quality ops — grouped baseline
    * aggregate (24×types rows), broadcast join-back, per-row test; the
    * event stream never reshuffles. mu is exact-decimal-sum/count (the
    * emitted column); sigma gates only the |x−mu| > 2σ comparison
    * (zscore-precedent: double stddev, far from boundaries in practice).
    */
  def seasonalAnomaly(spark: SparkSession, sfDir: String, k: Double = 2.0): DataFrame = {
    val ev = graft.util.Tables.events(spark, sfDir)
      .withColumn("hour", expr("ts_us div 3600000000L") % 24L)
      .select(col("event_id"), col("event_type"), col("hour"), col("value"))
    val base = ev.groupBy(col("event_type"), col("hour"))
      .agg((sum(money(col("value"))).cast("double") / count(col("value"))).as("mu"),
           stddev_samp(col("value")).as("sigma"))
    ordered(
      ev.join(broadcast(base), Seq("event_type", "hour"))
        .filter(col("sigma").isNotNull && col("sigma") > 0.0 &&
                abs(col("value") - col("mu")) > lit(k) * col("sigma"))
        .select(col("event_id"), col("event_type"), col("hour"),
                r4(col("value")).as("value"), r4(col("mu")).as("mu")),
      "event_id")
  }

  /** Winsorization: cap values at the per-type [p05, p95] band instead of
    * dropping them — the outlier treatment that preserves row count (vs
    * [[outlierZscore]]/[[outlierMad]] which only FLAG). Same two-pass shape
    * as [[imputeAvg]]: one grouped aggregate for the edges (exact
    * percentile — portable interpolation proven by q_quantiles_exact),
    * broadcast join-back, per-row clamp. The corpus never reshuffles; at
    * 100 TB the second pass is a map over the scan with a tiny dim join.
    */
  def winsorize(spark: SparkSession, sfDir: String,
                lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val ev = graft.util.Tables.t(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val edges = ev.groupBy(col("event_type")).agg(
      percentile(col("value"), lit(lo)).as("p_lo"),
      percentile(col("value"), lit(hi)).as("p_hi"))
    ordered(
      ev.join(broadcast(edges), "event_type")
        .select(col("event_id"), col("event_type"), r4(col("value")).as("value"),
                r4(when(col("value") < col("p_lo"), col("p_lo"))
                  .when(col("value") > col("p_hi"), col("p_hi"))
                  .otherwise(col("value"))).as("value_w")),
      "event_id")
  }

  /** IQR-fence (Tukey) outlier detection per segment — the third member of
    * the outlier family (z-score: parametric; MAD: robust-scale; IQR:
    * quartile fences, the boxplot rule). Quartiles come from the exact
    * interpolated percentile aggregate (the pattern q_quantiles_exact
    * already gates); fences are one mirrored IEEE chain and the verdict is
    * a plain comparison — group stats broadcast back onto the row stream,
    * never a window over the fact.
    */
  def outlierIqr(spark: SparkSession, sfDir: String): DataFrame = {
    val fences = t(spark, sfDir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(percentile(col("c_acctbal"), lit(0.25)).as("q1"),
           percentile(col("c_acctbal"), lit(0.75)).as("q3"))
      .select(col("c_mktsegment"),
              (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
              (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
    ordered(
      t(spark, sfDir, "customer")
        .join(broadcast(fences), "c_mktsegment")
        .filter(col("c_acctbal") < col("lo") || col("c_acctbal") > col("hi"))
        .select(col("c_mktsegment"), col("c_custkey"),
                r4(col("c_acctbal")).as("c_acctbal"),
                r4(col("lo")).as("fence_lo"), r4(col("hi")).as("fence_hi"),
                when(col("c_acctbal") < col("lo"), "low").otherwise("high")
                  .as("side")),
      "c_mktsegment", "c_custkey")
  }

  /** Population Stability Index — the standard "did the feature
    * distribution drift between two periods" monitor every production ML
    * pipeline runs before trusting a trained model on new data:
    * PSI = Σ_bins (p_b − q_b)·ln(p_b/q_b) over a shared binning, with the
    * conventional reading ≥0.2 = significant drift. Baseline = orders
    * through 1997, current = 1998 on (the testdata date range is
    * 1995–2001, so both periods are populated). Engineering discipline, all
    * repo-standard: prices quantize to integer cents, the 10 equi-width
    * bin edges are INTEGER arithmetic over the in-plan (min,max) range —
    * `least(9, (vc−mn)·10 div (mx−mn+1))` — so bin membership can never
    * drift on a float boundary between engines; add-1 smoothing keeps
    * empty bins finite; every bin row is generated (0..9) so both engines
    * agree on the row set; the per-bin term runs ONE mirrored IEEE chain
    * (two divides + ln, both correctly-rounded — the q_perplexity/q_tfidf
    * precedent) and is floored to 1e-6 fixed point BEFORE the total sums,
    * making the grand PSI an exact integer sum. Scale shape: one pass to
    * cents+period flag, one 2-row-bounded range aggregate broadcast, one
    * 10-group hash-agg — the fact table shuffles (bin, period) partials
    * only.
    */
  def psiDrift(spark: SparkSession, sfDir: String, bins: Int = 10): DataFrame = {
    val o = t(spark, sfDir, "orders")
      .select(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
                .cast("long").as("vc"),
              (year(col("o_orderdate")) <= 1997).as("is_base"))
    val rng = o.agg(min(col("vc")).as("mn"), max(col("vc")).as("mx"))
    val cnts = o.crossJoin(broadcast(rng))
      .select(expr(s"least(${bins - 1}, ((vc - mn) * $bins) div (mx - mn + 1))")
                .as("bin"), col("is_base"))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("c_base"),
           sum(when(!col("is_base"), 1L).otherwise(0L)).as("c_curr"))
    val tot = o.agg(sum(when(col("is_base"), 1L).otherwise(0L)).as("na"),
                    sum(when(!col("is_base"), 1L).otherwise(0L)).as("nc"))
    val allBins = spark.range(bins).select(col("id").cast("long").as("bin"))
    val pp = (col("c_base") + lit(1)).cast("double") /
             (col("na") + lit(bins)).cast("double")
    val pq = (col("c_curr") + lit(1)).cast("double") /
             (col("nc") + lit(bins)).cast("double")
    val termFp = floor((pp - pq) * log(pp / pq) * lit(1000000.0) + lit(0.5))
      .cast("long")
    val terms = allBins
      .join(cnts, Seq("bin"), "left")
      .select(col("bin"),
              coalesce(col("c_base"), lit(0L)).as("c_base"),
              coalesce(col("c_curr"), lit(0L)).as("c_curr"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("c_base"), col("c_curr"), termFp.as("psi_term_fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = terms.agg(sum(col("psi_term_fp")).as("psi_total_fp"))
    ordered(terms.crossJoin(broadcast(total)), "bin")
  }

  /** CUSUM changepoint scan over daily revenue — the drift detector for
    * incremental loads (did the upstream feed shift mid-month?). The CUSUM
    * curve Σ_{j≤i}(x_j − μ) is computed SCALED BY n so it stays integer-
    * exact: dev_i = n·prefix_i − i·total (BIGINT cents through DECIMAL(38,0)
    * products — mirrors DuckDB's HUGEINT), divided back out only at the
    * output boundary. The window runs over the DAILY AGGREGATE (≤ ~10⁴ rows
    * at any fact scale), never the fact table; the peak |dev| day — the
    * changepoint estimate — is flagged by an exact integer comparison.
    */
  def cusumChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("decimal(38,0)").as("cents"))
    val w = Window.orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("prefix", sum(col("cents")).over(w))
      .withColumn("i", row_number().over(Window.orderBy(col("d").asc)).cast("long"))
    val totals = daily.agg(count(lit(1)).as("n"),
                           sum(col("cents")).as("total"))
    val dev = (col("n") * col("prefix") - col("i") * col("total"))
      .cast("decimal(38,0)")
    val scored = cum.crossJoin(broadcast(totals)).withColumn("dev", dev)
    val peak = scored.agg(max(abs(col("dev"))).as("peak_dev"))
    ordered(
      scored.crossJoin(broadcast(peak))
        .select(col("d"),
                r4(col("cents").cast("double") / lit(100.0)).as("revenue"),
                r4(col("dev").cast("double") /
                   (lit(100.0) * col("n").cast("double"))).as("cusum"),
                when(abs(col("dev")) === col("peak_dev"), 1).otherwise(0)
                  .as("is_peak")),
      "d")
  }

  /** Higher-moment distribution profile per market segment — skewness and
    * excess-free kurtosis of account balances, the DQ screen that catches
    * a distribution-shape drift a mean/σ profile misses. The four power
    * sums are EXACT: balances as BIGINT cents, x² and x³ still in BIGINT,
    * x⁴ through DECIMAL(38,0) (1e24 per row needs 128-bit — DuckDB sums
    * the same in HUGEINT), so both engines feed bit-identical inputs into
    * one mirrored IEEE chain (σ^1.5 as m2·√m2 — never pow(), whose libm
    * results differ across runtimes).
    */
  def momentsProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val x = (money(col("c_acctbal")) * 100).cast("long")
    val sums = t(spark, sfDir, "customer")
      .select(col("c_mktsegment"), x.as("x"))
      .withColumn("x2", col("x") * col("x"))
      .withColumn("x3", col("x2") * col("x"))
      .withColumn("x4", (col("x2").cast("decimal(38,0)") * col("x2")).cast("decimal(38,0)"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           sum(col("x").cast("decimal(38,0)")).as("s1"),
           sum(col("x2").cast("decimal(38,0)")).as("s2"),
           sum(col("x3").cast("decimal(38,0)")).as("s3"),
           sum(col("x4")).as("s4"))
    val nd = col("n").cast("double")
    val mu = col("s1").cast("double") / nd
    val m2 = col("s2").cast("double") / nd - mu * mu
    val m3 = col("s3").cast("double") / nd - lit(3.0) * mu * (col("s2").cast("double") / nd) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4").cast("double") / nd - lit(4.0) * mu * (col("s3").cast("double") / nd) +
      lit(6.0) * mu * mu * (col("s2").cast("double") / nd) - lit(3.0) * mu * mu * mu * mu
    ordered(
      sums.select(col("c_mktsegment"), col("n"),
                  r4(mu / lit(100.0)).as("mean"),
                  when(m2 > 0, r4(m3 / (m2 * sqrt(m2)))).as("skewness"),
                  when(m2 > 0, r4(m4 / (m2 * m2))).as("kurtosis")),
      "c_mktsegment")
  }
}

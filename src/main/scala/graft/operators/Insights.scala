package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.util.Tables._
import graft.util.{Iterate, PrefixSum, TopK}

/** Analytics-insight tier: the BI/statistics operators a warehouse's
  * consumers run on top of the star schema the reference builds
  * (ref: /root/reference/README.md:48–51 star schema; :344–351 "analytics
  * ready" goal) — market-basket association rules, RFM segmentation,
  * marketing attribution, skyline/Pareto queries, equi-depth histograms,
  * stratified sampling, two-sample KS tests, Gini concentration and
  * chi-square independence.
  *
  * Determinism discipline (SURVEY §2 preamble): counts and sums stay
  * integer/DECIMAL-exact through every aggregation; doubles appear only at
  * the output boundary as single divisions (or mirrored IEEE op chains) of
  * exact inputs, r4-rounded. Where a sum OF doubles is semantically
  * unavoidable (chi-square total), each term is cast to DECIMAL(28,8) first
  * so the sum is associative — the same pattern q_token_entropy uses.
  */
object Insights {

  /** Exact global NTILE(k) without the single-reducer global window — and
    * SINGLE-PASS: one two-phase distributed rank
    * ([[PrefixSum.exclusiveColsTotal]] — range partition + local window +
    * tiny offsets join) whose offsets frame already yields N, so no
    * separate count() scan of the input. The closed NTILE formula on
    * (rank, N) runs as pure integer column arithmetic (`div`, never a
    * rounding-prone double division); output matches
    * `NTILE(k) OVER (ORDER BY orderCols)` bucket-for-bucket — the first
    * N mod k buckets get ⌈N/k⌉ rows, the rest ⌊N/k⌋ (cross-checked
    * against Spark's window ntile in InsightsSpec + PropertySpec).
    */
  def ntileGlobal(df: DataFrame, orderCols: Seq[Column], k: Int,
                  outCol: String): DataFrame = {
    val rn = PrefixSum
      .exclusiveColsTotal(df, orderCols, lit(1L), "_nt_rn0", "_nt_n")
      .withColumn("_nt_rn", col("_nt_rn0") + lit(1L)).drop("_nt_rn0")
    // q = N div k, m = N mod k; the ELSE arm divides by q and is only
    // reachable when N >= k (q >= 1) — the N < k guard keeps ANSI mode
    // from ever seeing a div-by-zero
    val bucket = when(col("_nt_n") < k, col("_nt_rn")).otherwise(expr(
      s"CASE WHEN _nt_rn <= (_nt_n % $k) * ((_nt_n div $k) + 1) " +
      s"THEN ((_nt_rn - 1) div ((_nt_n div $k) + 1)) + 1 " +
      s"ELSE (_nt_n % $k) + ((_nt_rn - (_nt_n % $k) * ((_nt_n div $k) + 1) - 1) " +
      s"div (_nt_n div $k)) + 1 END"))
    rn.withColumn(outCol, bucket.cast("int")).drop("_nt_rn", "_nt_n")
  }

  /** Market-basket association rules over (order, part-brand) baskets —
    * support / confidence / lift for every co-occurring brand pair. The
    * self-join is keyed on the order (baskets are TPC-H-small, ≤ ~7 lines),
    * so pair expansion is bounded per order and the plan is one shuffle on
    * l_orderkey; brand counts and the order total are broadcast scalars.
    * All three metrics are single divisions of exact BIGINT counts
    * (lift as np·N / (ca·cb) — integer products, one division).
    */
  def assocRules(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE shuffle on the order key builds each basket as a sorted distinct
    // brand array (collect_set dedups in the aggregate — no separate
    // DISTINCT pass, no basket self-join); pair expansion is an array HOF
    // over the ≤-basket-sized array, and Catalyst's ReuseExchange serves
    // the basket exchange to all three consuming branches.
    val baskets = t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("br"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("br"))).as("brs"))
    val itemCounts = baskets.select(explode(col("brs")).as("br"))
      .groupBy(col("br")).agg(count(lit(1)).as("c"))
    val totals = baskets.agg(count(lit(1)).as("n_orders"))
    val pairs = baskets
      .select(explode(expr(
        "flatten(transform(brs, (x, i) -> " +
        "transform(slice(brs, i + 2, size(brs)), y -> struct(x AS bra, y AS brb))))"))
        .as("p"))
      .select(col("p.bra").as("bra"), col("p.brb").as("brb"))
      .groupBy(col("bra"), col("brb")).agg(count(lit(1)).as("np"))
    val ia = itemCounts.select(col("br").as("bra"), col("c").as("ca"))
    val ib = itemCounts.select(col("br").as("brb"), col("c").as("cb"))
    ordered(
      pairs.join(broadcast(ia), "bra").join(broadcast(ib), "brb")
        .crossJoin(broadcast(totals))
        .select(
          col("bra").as("brand_a"), col("brb").as("brand_b"),
          col("np").as("pair_n"),
          r4(col("np").cast("double") / col("n_orders").cast("double")).as("support"),
          r4(col("np").cast("double") / col("ca").cast("double")).as("confidence"),
          r4((col("np") * col("n_orders")).cast("double") /
             (col("ca") * col("cb")).cast("double")).as("lift")),
      "brand_a", "brand_b")
  }

  /** RFM customer segmentation — recency/frequency/monetary quintiles, the
    * classic mart query over the fact table. Per-customer R/F/M aggregate
    * first (facts never see a window), then three exact global NTILE(5)
    * passes via [[ntileGlobal]] — each a two-phase distributed rank, so no
    * global single-reducer sort even when the customer dimension is 100M
    * rows. Tie-breaks on custkey make every quintile assignment total-order
    * deterministic.
    */
  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val c0 = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("last_d"),
           count(lit(1)).as("f"),
           sum(money(col("o_totalprice"))).as("m"))
    // rank the three metrics independently off the same base aggregate
    // (no rank-over-rank lineage — chaining would recompute everything
    // upstream per pass), then join the slim (custkey, score) tables
    // back — three cheap same-key shuffles, zero count() jobs.
    def score(orderCol: Column, out: String) =
      ntileGlobal(c0, Seq(orderCol.asc, col("custkey").asc), 5, out)
        .select(col("custkey"), col(out))
    ordered(
      score(col("last_d"), "r_score")
        .join(score(col("f"), "f_score"), "custkey")
        .join(score(col("m"), "m_score"), "custkey")
        .select(col("custkey"), col("r_score"), col("f_score"), col("m_score"),
                (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("rfm")),
      "custkey")
  }

  /** Last-touch attribution — each purchase credits the user's most recent
    * preceding non-purchase event type ("channel"); purchases with no prior
    * touch fall to '(direct)'. One window per user (parallel across users —
    * the natural event-stream partitioning), then a grouped rollup of
    * conversion counts and DECIMAL-exact revenue.
    */
  def attributionLastTouch(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = events(spark, sfDir)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
             ignoreNulls = true).over(w))
    ordered(
      touched.filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("(direct)")).as("channel"))
        .agg(count(lit(1)).as("conversions"),
             r4(sum(money(col("value"))).cast("double")).as("revenue")),
      "channel")
  }

  /** Time-decay attribution — each purchase credits EVERY prior touch in
    * a 7-day lookback, weighted exp(−Δt/τ) with τ = 1 day (the standard
    * third attribution model next to [[attributionLastTouch]] and
    * first-touch: recency-weighted multi-touch instead of
    * winner-takes-all). Per-conversion weights normalize to shares, so a
    * conversion's revenue is split exactly once; weight and credit sums
    * go through DECIMAL(28,8) terms (associative), the exp/division
    * chain is mirrored, and the conversion×touch join is user-sharded
    * with a time-band predicate — per-user fan-out is bounded by the
    * lookback window, the same shape every production attribution job
    * runs at fact scale.
    */
  def attributionTimeDecay(spark: SparkSession, sfDir: String,
                           lookbackDays: Int = 7): DataFrame = {
    val ev = events(spark, sfDir)
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("tc"), col("event_id").as("cid"),
              floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("vc"))
    val touch = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts_us").as("tt"), col("event_type").as("channel"))
    val band = lit(lookbackDays.toLong * 86400000000L)
    val tau = lit(86400000000.0)
    val j = conv.join(touch, Seq("user_id"))
      .filter(col("tt") < col("tc") && col("tc") - col("tt") <= band)
      .withColumn("w", exp((col("tt") - col("tc")).cast("double") / tau))
    val ct = j.groupBy(col("user_id"), col("cid"), col("vc"), col("channel"))
      .agg(sum(col("w").cast("decimal(28,8)")).as("wt"),
           count(lit(1)).as("n_touches"))
    val tot = ct.groupBy(col("user_id"), col("cid"))
      .agg(sum(col("wt")).as("wtot"))
    val credit = ct.join(tot, Seq("user_id", "cid"))
      .withColumn("cr",
        (col("wt").cast("double") / col("wtot").cast("double") *
         (col("vc").cast("double") / lit(100.0))).cast("decimal(28,8)"))
    ordered(
      credit.groupBy(col("channel"))
        .agg(sum(col("n_touches")).as("n_touches"),
             count(lit(1)).as("n_conversion_links"),
             r4(sum(col("cr")).cast("double")).as("credited_revenue")),
      "channel")
  }

  /** Pareto frontier (skyline) of parts on (price ↓ better, size ↑ better):
    * parts no other part beats on both axes. NOT the O(n²) NOT-EXISTS
    * formulation — a part is on the frontier iff it has the max size at its
    * price AND that size strictly exceeds the running max over all cheaper
    * prices. One groupBy(price) collapses the table to distinct prices;
    * the running max over the collapsed grid goes through the two-phase
    * [[graft.util.PrefixSum.exclusiveMax]] scan — prices are nearly unique
    * per part in TPC-H, so the "collapsed" grid is ~|part| rows and a
    * single-reducer cummax window would be the whole job at 100×. A join
    * back then tags frontier parts.
    */
  def paretoFront(spark: SparkSession, sfDir: String): DataFrame = {
    val part = t(spark, sfDir, "part")
    val perPrice = part.groupBy(col("p_retailprice").as("pr"))
      .agg(max(col("p_size")).as("meq"))
    val frontier = graft.util.PrefixSum
      .exclusiveMax(perPrice, Seq(col("pr").asc), col("meq"), "mprev")
      .filter(col("mprev").isNull || col("meq") > col("mprev"))
      .select(col("pr"), col("meq"))
    ordered(
      part.join(frontier,
                part("p_retailprice") === frontier("pr") &&
                part("p_size") === frontier("meq"))
        .select(col("p_partkey"), col("p_name"),
                r4(col("p_retailprice")).as("price"), col("p_size")),
      "p_partkey")
  }

  /** Equi-depth (equi-height) histogram of l_extendedprice — 10 buckets of
    * equal row count, the optimizer-statistics primitive every engine
    * builds. Bucket assignment is an exact global NTILE(10) via
    * [[ntileGlobal]]'s distributed rank (total order: price, orderkey,
    * linenumber), so the 100 TB path never funnels through one reducer;
    * per-bucket bounds and DECIMAL-exact amounts follow from one hash
    * aggregation.
    */
  def equiDepthHist(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .select(col("l_extendedprice").as("p"), col("l_orderkey"), col("l_linenumber"))
    val bucketed = ntileGlobal(
      li, Seq(col("p").asc, col("l_orderkey").asc, col("l_linenumber").asc),
      10, "bucket")
    ordered(
      bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
             r4(min(col("p"))).as("lo"),
             r4(max(col("p"))).as("hi"),
             r4(sum(money(col("p"))).cast("double")).as("amount")),
      "bucket")
  }

  /** Deterministic stratified sample — fixed n per stratum (market
    * segment), ordered by a keyed multiplicative-hash pseudo-random
    * permutation ((custkey·2654435761) mod 1000000007, the Knuth scheme)
    * so both engines draw the identical "random" sample with no RNG.
    * Rank-per-stratum runs through [[TopK.perGroup]]'s two-phase top-k:
    * per-physical-partition candidates first, then a merge of ≤ k·parts
    * survivors — never a full sort of a stratum on one reducer.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    // key reduced mod p BEFORE the multiply: the product stays < 2⁶³ for any
    // int64 key, where the unreduced form wraps in Spark but RAISES in
    // DuckDB at key ranges beyond the tested SFs (engine divergence).
    // Below p the reduction is the identity, so tested-SF results are
    // unchanged.
    val pseudo = ((col("c_custkey") % lit(1000000007L)) * lit(2654435761L)) % lit(1000000007L)
    ordered(
      TopK.perGroup(
          t(spark, sfDir, "customer")
            .select(col("c_mktsegment"), col("c_custkey"), col("c_name")),
          Seq(col("c_mktsegment")),
          Seq(pseudo.asc, col("c_custkey").asc), k)
        .select(col("c_mktsegment"), col("rn"), col("c_custkey"), col("c_name")),
      "c_mktsegment", "rn")
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) two-sample test — the
    * nonparametric "did group A's distribution shift vs B" test that
    * doesn't assume normality (the rank-based partner of the A/B z-test
    * and the KS statistic): urgent-priority orders vs the rest on order
    * value. Everything up to the final z is EXACT integer arithmetic:
    * prices collapse to per-VALUE counts (one hash-agg — ranks of a 100 TB
    * fact reduce to its distinct-value histogram), tie-averaged ranks come
    * from the two-phase distributed prefix sum over the value histogram —
    * never a single-reducer global window — and are kept as DOUBLED
    * integers (2·avgRank = 2·cumBefore + cnt + 1, integral even for .5
    * ties). The doubled rank-sum, U statistic and tie-correction
    * Σ(t³−t) ACCUMULATE as DECIMAL(38,0) (w2a reaches ~2·n·na — past
    * BIGINT once n is in the low billions, the same reason the sibling
    * spearman moment sums are decimal); the z-score is one mirrored IEEE
    * chain (divide + sqrt, both correctly-rounded ops) taken straight off
    * the decimal sums, so z stays exact-input at any scale. The integer
    * diagnostic columns are cast back to BIGINT for the gate (exact for
    * n ≲ 2e9; z never saturates). Scale shape: hash-agg → value-histogram prefix sum →
    * one 1-row aggregate; nothing is ever globally sorted through one
    * reducer.
    */
  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
      .select(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long").as("v"),
              when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("ga"))
    val vals = o.groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"), sum(col("ga")).as("cnta"))
    val cum = PrefixSum.exclusiveCols(vals, Seq(col("v").asc), col("cnt"), "cumb")
    val d38 = "decimal(38,0)"
    val agg = cum.agg(
      sum(col("cnta")).as("na"),
      sum(col("cnt")).as("n"),
      sum(col("cnta").cast(d38) *
          (lit(2).cast(d38) * col("cumb").cast(d38) + col("cnt").cast(d38) +
           lit(1).cast(d38))).as("w2a"),
      sum(col("cnt").cast(d38) * col("cnt").cast(d38) * col("cnt").cast(d38) -
          col("cnt").cast(d38)).as("ties"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = (col("n_a") + col("n_b")).cast("double")
    val z = (col("u2d").cast("double") / lit(2.0) - naD * nbD / lit(2.0)) /
      sqrt(naD * nbD / lit(12.0) *
           ((nD + lit(1.0)) - col("tied").cast("double") / (nD * (nD - lit(1.0)))))
    agg
      .select(col("na").as("n_a"), (col("n") - col("na")).as("n_b"),
              col("w2a").as("w2d"),
              (col("w2a") - col("na").cast(d38) *
                (col("na").cast(d38) + lit(1).cast(d38))).as("u2d"),
              col("ties").as("tied"))
      .select(col("n_a"), col("n_b"),
              col("w2d").cast("long").as("w2_a"),
              col("u2d").cast("long").as("u2_a"),
              col("tied").cast("long").as("tie_sum"),
              r4(z).as("z"))
  }

  /** Join-key skew report — the diagnostic an operator runs BEFORE picking
    * a salting factor or trusting AQE's skew-join split (util/Skew's
    * decision input, promoted to a first-class query): per-key cardinality
    * profile of a join key collapsed to one metrics row — key count, row
    * count, the heaviest key, mean rows/key, skew ratio (max/mean — the
    * straggler multiplier a shuffled join on this key pays), and the share
    * of all rows held by the top-20 keys (concentration: how much a cap or
    * salt on just those keys buys). One hash-agg over the fact plus a
    * bounded TakeOrderedAndProject top-k and two 1-row aggregates — the
    * profile costs one shuffle of (key, count) partials at any scale.
    * Ratios are r4 fixed-point over exact integers, so the report is
    * hash-gated like any other query.
    */
  def skewReport(spark: SparkSession, sfDir: String): DataFrame = {
    val cnts = t(spark, sfDir, "lineitem")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top20 = cnts.orderBy(col("cnt").desc, col("l_partkey").asc).limit(20)
      .agg(sum(col("cnt")).as("top20_rows"))
    cnts.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
             max(col("cnt")).as("max_cnt"))
      .crossJoin(broadcast(top20))
      .select(col("n_keys"), col("n_rows"), col("max_cnt"),
              r4(col("n_rows").cast("double") / col("n_keys").cast("double"))
                .as("mean_cnt"),
              r4(col("max_cnt").cast("double") * col("n_keys").cast("double") /
                 col("n_rows").cast("double")).as("skew_ratio"),
              r4(col("top20_rows").cast("double") / col("n_rows").cast("double"))
                .as("top20_share"))
  }

  /** Spearman rank correlation — the nonparametric "does order value move
    * with customer balance" monotone-association measure (robust to the
    * outliers and skew that wreck Pearson on raw money columns):
    * ρ = Pearson correlation of the two variables' tie-averaged ranks.
    * Exactness discipline: both measures quantize to integer cents;
    * tie-averaged ranks come per VALUE from the two-phase distributed
    * prefix sum over each value histogram (the [[mannWhitney]] machinery —
    * ranks of a 100 TB join collapse to its distinct-value counts, never
    * a global row sort) and are kept DOUBLED so .5 ties stay integral;
    * the five moment sums run as DECIMAL(38,0) — Σ(2r)² reaches ~4N³,
    * past BIGINT at warehouse scale — and ρ is ONE mirrored IEEE chain
    * (a divide and a sqrt over exactly-agreed integers; the doubling
    * cancels). Scale shape: one fact-dim join, two value-histogram
    * aggregates + prefix sums, two shuffled rank joins ON VALUE, one
    * 1-row moment aggregate.
    */
  def spearman(spark: SparkSession, sfDir: String): DataFrame = {
    val base = t(spark, sfDir, "orders")
      .join(t(spark, sfDir, "customer"),
            col("o_custkey") === col("c_custkey"))
      .select(floor(col("o_totalprice") * lit(100.0) + lit(0.5))
                .cast("long").as("x"),
              floor(col("c_acctbal") * lit(100.0) + lit(0.5))
                .cast("long").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def ranks(v: String): DataFrame = {
      val h = base.groupBy(col(v)).agg(count(lit(1)).as("cnt"))
      PrefixSum.exclusiveCols(h, Seq(col(v).asc), col("cnt"), "cumb")
        .select(col(v), (lit(2) * col("cumb") + col("cnt") + lit(1)).as(s"r_$v"))
    }
    val d38 = "decimal(38,0)"
    val agg = base
      .join(ranks("x"), Seq("x"))
      .join(ranks("y"), Seq("y"))
      .agg(count(lit(1)).cast(d38).as("n"),
           sum(col("r_x").cast(d38)).as("sa"),
           sum(col("r_y").cast(d38)).as("sb"),
           sum(col("r_x").cast(d38) * col("r_x").cast(d38)).as("saa"),
           sum(col("r_y").cast(d38) * col("r_y").cast(d38)).as("sbb"),
           sum(col("r_x").cast(d38) * col("r_y").cast(d38)).as("sab"))
    val num = (col("n") * col("sab") - col("sa") * col("sb")).cast("double")
    val denx = (col("n") * col("saa") - col("sa") * col("sa")).cast("double")
    val deny = (col("n") * col("sbb") - col("sb") * col("sb")).cast("double")
    agg.select(col("n").cast("long").as("n_pairs"),
               r4(num / sqrt(denx * deny)).as("rho"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic (BUILDING vs MACHINERY
    * account balances): D = max over the pooled support of |F₁(x) − F₂(x)|.
    * The support collapses to distinct values by a hash aggregation; both
    * cumulative counts come from the two-phase [[PrefixSum]] scan (no
    * global single-reducer window); each ECDF gap is two exact-count
    * divisions and one subtraction, and max() is order-independent — the
    * whole statistic is bit-deterministic.
    */
  def ksTest(spark: SparkSession, sfDir: String): DataFrame = {
    val v = t(spark, sfDir, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select(col("c_acctbal").as("val"),
              when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("ga"),
              when(col("c_mktsegment") === "MACHINERY", 1L).otherwise(0L).as("gb"))
    val byVal = v.groupBy(col("val"))
      .agg(sum(col("ga")).as("ca"), sum(col("gb")).as("cb"))
    val cumA = PrefixSum.exclusiveCols(byVal, Seq(col("val").asc), col("ca"), "ea")
    val cum = PrefixSum.exclusiveCols(cumA, Seq(col("val").asc), col("cb"), "eb")
      .withColumn("cuma", col("ea") + col("ca"))
      .withColumn("cumb", col("eb") + col("cb"))
    val totals = v.agg(sum(col("ga")).as("n1"), sum(col("gb")).as("n2"))
    cum.crossJoin(broadcast(totals))
      .groupBy(col("n1"), col("n2"))
      .agg(r4(max(abs(col("cuma").cast("double") / col("n1").cast("double") -
                      col("cumb").cast("double") / col("n2").cast("double")))).as("ks_d"))
  }

  /** Gini coefficient of customer spend per nation — inequality of the
    * revenue distribution, by the exact rank formula
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending spend. Both moments
    * stay integer-exact to the end: spend in BIGINT cents, Σ i·xᵢ summed as
    * DECIMAL(38,0) (mirrors DuckDB's HUGEINT sum), so G is a fixed chain of
    * four IEEE ops on exact inputs. The rank window partitions by nation
    * over the per-customer AGGREGATE (dimension-sized, facts never sorted).
    */
  def giniByNation(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey")).agg(sum(money(col("o_totalprice"))).as("m"))
      .join(t(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, sfDir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_custkey").as("ck"),
              (col("m") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("cents").asc, col("ck").asc)
    val ranked = spend.withColumn("i", row_number().over(w).cast("long"))
    ordered(
      ranked.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"),
             sum(qmul(col("i"), col("cents"))).as("s1"),
             sum(col("cents").cast("decimal(38,0)")).as("s2"))
        .select(col("n_name"), col("n"),
                r4(lit(2.0) * col("s1").cast("double") /
                     (col("n").cast("double") * col("s2").cast("double")) -
                   (col("n").cast("double") + lit(1.0)) / col("n").cast("double"))
                  .as("gini")),
      "n_name")
  }

  /** Exact weighted median — the quantity-weighted median extended price
    * per return-flag segment ("the price level at which half the shipped
    * VOLUME sits below", which the unweighted q_quantiles_exact cannot
    * answer). Scale-safe exact selection by weight mass WITHOUT a
    * fact-sized per-group window: the fact collapses to (group, value)
    * grain first, the in-group cumulative weight comes from ONE global
    * two-phase [[graft.util.PrefixSum]] over (group, value) order minus a
    * per-group offset (min prefix within the group = mass before the
    * group starts — exact because the prefix is monotone along the global
    * order), and the lower weighted median is the minimum value whose
    * inclusive in-group cumulative weight reaches half the group total
    * (2·cum ≥ W in exact BIGINT centi-units — no double boundary flips).
    * Values and weights both fold to exact integer units at read. The
    * global order rides a NUMERIC composite key gidx·10¹² + value (the
    * PrefixSum bucketer needs a numeric leading key, and the composite
    * also splits LARGE groups across range buckets instead of pinning
    * each group to one reducer); gidx comes from a window over the
    * group-count-sized distinct frame, broadcast back.
    */
  def weightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    // deliberately NOT persisted: the value-grain agg feeds four legs
    // (PrefixSum stats + body, offsets, totals) but is one cheap
    // map-side-combined scan — caching it measured 2.3 s → 6.1 s at sf0.1
    // (cache-write cost + lost pipelining exceed three recomputes)
    val grain = t(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("grp"),
              floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long").as("v"),
              floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long").as("wq"))
      .groupBy(col("grp"), col("v")).agg(sum(col("wq")).as("w"))
    val gidx = grain.select(col("grp")).distinct()
      .withColumn("gidx",
        row_number().over(Window.orderBy(col("grp"))).cast("long"))
    val keyed = grain.join(broadcast(gidx), "grp")
      .withColumn("ck", col("gidx") * lit(1000000000000L) + col("v"))
    val ps = graft.util.PrefixSum
      .exclusiveCols(keyed, Seq(col("ck").asc), col("w"), "cum0")
    // Per-group starting offset WITHOUT re-executing the PrefixSum machinery
    // (r15, guide §2.4): the old `ps.groupBy(grp).min(cum0)` leg re-ran the
    // whole two-phase scan a second time just to read each group's first
    // exclusive prefix — which, because the composite key makes groups
    // contiguous in the global order, is exactly the sum of the PRECEDING
    // groups' total weights: one window over the group-count-sized totals
    // frame. min(cum0) over a group ≡ Σ_{g' before g} tw(g') row for row.
    val tot = grain.groupBy(col("grp")).agg(sum(col("w")).as("tw"))
    val off = tot.join(broadcast(gidx), "grp")
      .withColumn("off",
        coalesce(sum(col("tw")).over(
          Window.orderBy(col("gidx"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("grp"), col("off"))
    ordered(
      ps.join(off, "grp").join(tot, "grp")
        .filter((col("cum0") - col("off") + col("w")) * 2 >= col("tw"))
        .groupBy(col("grp"))
        .agg(min(col("v")).as("mc"), max(col("tw")).as("total_weight"))
        .select(col("grp").as("l_returnflag"), col("total_weight"),
                r4(col("mc").cast("double") / lit(100.0)).as("weighted_median")),
      "l_returnflag")
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over the brand
    * co-occurrence graph — the near-linear community-detection baseline
    * (PageRank ranks nodes, LPA GROUPS them), run for a FIXED `rounds`
    * supersteps so the plan shape is static (the bounded-gated-query
    * discipline of q_pagerank/q_kcore). Each superstep: one join of the
    * node-sized label frame against the adjacency, one (node, label)
    * count, one max-count per node, and a deterministic min-label
    * tie-break — all hash-aggs on exact counts, no windows, no doubles
    * anywhere, so a 32-way parallel run hash-matches the oracle's
    * sequential unrolled rounds EXACTLY. Per-superstep cost is one
    * edge-linear shuffle; label state is node-sized.
    */
  def labelProp(spark: SparkSession, sfDir: String,
                minSup: Int = 5, rounds: Int = 3): DataFrame = {
    val edges = brandEdges(spark, sfDir, minSup)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = edges.select(col("a").as("v"), col("b").as("u"))
      .union(edges.select(col("b").as("v"), col("a").as("u")))
    var labels = adj.select(col("v")).distinct().withColumn("lab", col("v"))
    // per-round: one edge-linear join-shuffle, one (node,label) hash-agg,
    // then the argmax-with-min-tiebreak as ONE window over the node key
    // (degree-bounded partitions) whose exchange the final same-key
    // hash-agg reuses — no second aggregate-and-join-back pass
    val wv = Window.partitionBy(col("v"))
    for (_ <- 1 to rounds) {
      val nl = adj
        .join(labels.withColumnRenamed("v", "u"), "u")
        .groupBy(col("v"), col("lab")).agg(count(lit(1)).as("cnt"))
      labels = nl.withColumn("mc", max(col("cnt")).over(wv))
        .filter(col("cnt") === col("mc"))
        .groupBy(col("v")).agg(min(col("lab")).as("lab"))
    }
    ordered(labels.select(col("v").as("brand"), col("lab").as("community")),
            "brand")
  }

  /** Classical additive seasonal decomposition of the monthly revenue
    * series — revenue = trend + seasonal + residual, the first report any
    * time-series consumer asks for (and the input to deseasonalized
    * comparisons; [[Quality.seasonalAnomaly]] flags points, this exposes
    * the components). AGGREGATE-FIRST: facts collapse to one DECIMAL
    * row per month before any window, so every window below runs over a
    * CALENDAR-BOUNDED frame. Trend is the standard centered 12-month
    * moving average for an even period — the mean of the two off-by-one
    * 12-windows, computed as (Σ[-6,+5] + Σ[-5,+6])/24 with BOTH sums
    * DECIMAL-exact and defined only where both windows are full (the
    * first/last 6 months surface NULL trend/residual, as the textbook
    * method does). The seasonal index is the mean detrended value per
    * month-of-year (terms DECIMAL(28,8) for associativity), centered by
    * subtracting the index mean so the components sum back to the series.
    */
  def seasonalDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = t(spark, sfDir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .agg(sum(money(col("o_totalprice"))).as("rev"))
    val w1 = Window.orderBy(col("m")).rowsBetween(-6, 5)
    val w2 = Window.orderBy(col("m")).rowsBetween(-5, 6)
    val tr = monthly
      .withColumn("s1", sum(col("rev")).over(w1))
      .withColumn("c1", count(lit(1)).over(w1))
      .withColumn("s2", sum(col("rev")).over(w2))
      .withColumn("c2", count(lit(1)).over(w2))
      .withColumn("trend",
        when(col("c1") === 12 && col("c2") === 12,
             (col("s1") + col("s2")).cast("double") / lit(24.0)))
      .withColumn("det", col("rev").cast("double") - col("trend"))
    val sidx = tr.filter(col("det").isNotNull)
      .groupBy(month(col("m")).as("moy"))
      .agg((sum(col("det").cast("decimal(28,8)")).cast("double") /
            count(lit(1))).as("raw"))
    val meanRaw = sidx.agg(
      (sum(col("raw").cast("decimal(28,8)")).cast("double") /
       count(lit(1))).as("m0"))
    val season = sidx.crossJoin(broadcast(meanRaw))
      .select(col("moy"), (col("raw") - col("m0")).as("seasonal"))
    ordered(
      tr.join(season, month(col("m")) === col("moy"), "left")
        .select(col("m"), r4(col("rev").cast("double")).as("revenue"),
                r4(col("trend")).as("trend"),
                r4(col("seasonal")).as("seasonal"),
                r4(col("det") - col("seasonal")).as("resid")),
      "m")
  }

  /** Kaplan–Meier survival curve over customer lifetimes — THE
    * right-censored time-to-event estimator (Kaplan & Meier 1958): how
    * long do customers stay active, accounting honestly for the ones
    * still active at observation end (censoring naive "average lifetime"
    * reports get wrong). Lifetime = days from first to last order; a
    * customer whose last order is within 90 days of the global horizon
    * is CENSORED (still at risk), else their lifetime ended. The fact
    * table collapses to per-customer (duration, event) rows, then to
    * DURATION-grain (calendar-bounded — ≤ span-in-days rows at any fact
    * volume), where the at-risk count n_t = N − (#lifetimes < t) is an
    * exclusive prefix sum and S(t) = Π(1 − dᵢ/nᵢ) becomes
    * exp(Σ ln((nᵢ−dᵢ)/nᵢ)) — the product as a cumulative sum of
    * DECIMAL(28,8)-cast ln terms (associative), with the n = d terminal
    * case handled by an explicit hit-zero flag (ln 0 never evaluated).
    * Output: one row per event time with at-risk, deaths, and survival.
    */
  def survivalKm(spark: SparkSession, sfDir: String,
                 censorDays: Int = 90): DataFrame = {
    val perCust = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate").cast("date")).as("f"),
           max(col("o_orderdate").cast("date")).as("l"))
    val horizon = t(spark, sfDir, "orders")
      .agg(max(col("o_orderdate").cast("date")).as("hz"))
    val dur = perCust.crossJoin(broadcast(horizon))
      .select(datediff(col("l"), col("f")).cast("long").as("t"),
              when(datediff(col("hz"), col("l")) > censorDays, 1L)
                .otherwise(0L).as("ev"))
    val grain = dur.groupBy(col("t"))
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("c"))
    val wOrd = Window.orderBy(col("t").asc)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val total = grain.agg(sum(col("c")).as("n_total"))
    val curve = grain.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
      .withColumn("term",
        when(col("d") > 0 && col("n_risk") > col("d"),
             log((col("n_risk") - col("d")).cast("double") /
                 col("n_risk").cast("double")).cast("decimal(28,8)"))
          .otherwise(lit(0).cast("decimal(28,8)")))
      .withColumn("zero",
        max(when(col("n_risk") === col("d"), 1).otherwise(0)).over(wCum))
      .withColumn("lnsum", sum(col("term")).over(wCum))
    ordered(
      curve.filter(col("d") > 0)
        .select(col("t").as("duration_days"), col("n_risk"), col("d").as("deaths"),
                when(col("zero") === 1, lit(0.0))
                  .otherwise(r4(exp(col("lnsum").cast("double")))).as("survival")),
      "duration_days")
  }

  /** Cohort lifetime-value matrix — customers cohorted by first-order
    * month, each cohort's revenue accumulated by month-age: the LTV
    * curve ("how much has the Jan-2023 cohort spent per head by month
    * 6") that q_retention's activity matrix prices out. Aggregate-first:
    * facts collapse to (cohort, age) DECIMAL cells before the cumulative
    * window, which then runs over a CALENDAR² -bounded frame; per-head
    * LTV divides by the cohort's fixed size (first-month headcount).
    * Ages are exact integer month-index differences.
    */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
      .select(col("o_custkey").as("ck"),
              (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"),
              money(col("o_totalprice")).as("v"))
    val first = o.groupBy(col("ck")).agg(min(col("mi")).as("cohort"))
    val cells = o.join(first, "ck")
      .groupBy(col("cohort"), (col("mi") - col("cohort")).as("age"))
      .agg(sum(col("v")).as("rev"))
    val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("n_customers"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordered(
      cells.join(sizes, "cohort")
        .withColumn("cum_rev", sum(col("rev")).over(w))
        .select(col("cohort").cast("long").as("cohort"),
                col("age").cast("long").as("age"), col("n_customers"),
                col("rev").cast("double").as("revenue"),
                col("cum_rev").cast("double").as("cum_revenue"),
                r4(col("cum_rev").cast("double") /
                   col("n_customers").cast("double")).as("ltv_per_customer")),
      "cohort", "age")
  }

  /** Bollinger bands on the daily revenue series — the rolling
    * mean ± k·σ envelope (Bollinger 1980s; the volatility-normalized
    * anomaly screen [[Quality.seasonalAnomaly]]'s per-weekday z-score
    * doesn't give). AGGREGATE-FIRST: facts collapse to one DECIMAL row
    * per day, then one calendar-bounded 20-day window carries BOTH
    * moments (Σ, Σ² — the square sums DECIMAL(38,4), associative);
    * bands and the breakout flag are one mirrored double chain on exact
    * window sums, emitted only where the window is full (count = 20).
    */
  def bollingerBands(spark: SparkSession, sfDir: String,
                     winDays: Int = 20, k: Double = 2.0): DataFrame = {
    // daily revenue folds to exact CENTS before the window, so both
    // moments are INTEGER sums (squares in DECIMAL(38,0)) — the
    // decimal-multiply route rounds its (28,2)×(28,2) product on one
    // engine and not the other (one sub-ulp flip at sf0.01 surfaced it)
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("rc"))
    val w = Window.orderBy(col("d")).rowsBetween(-(winDays - 1), 0)
    val nD = lit(winDays.toDouble)
    val wf = daily
      .withColumn("s", sum(col("rc")).over(w))
      // cents cast to DECIMAL *before* the square — a LONG·LONG product
      // wraps past rc ≈ 3e9 (the r7 ADVICE overflow class); (19,0)×(19,0)
      // is exact at (38,0) on both engines
      .withColumn("ss",
        sum((col("rc").cast("decimal(19,0)") * col("rc")).cast("decimal(38,0)"))
          .over(w))
      .withColumn("c", count(lit(1)).over(w))
      .filter(col("c") === winDays)
    val mean = col("s").cast("double") / nD / lit(100.0)
    val sd = sqrt((col("ss").cast("double") - col("s").cast("double") *
                   col("s").cast("double") / nD) / nD) / lit(100.0)
    val revD = col("rc").cast("double") / lit(100.0)
    ordered(
      wf.select(col("d"), r4(revD).as("revenue"),
                r4(mean).as("mid"),
                r4(mean + lit(k) * sd).as("upper"),
                r4(mean - lit(k) * sd).as("lower"),
                (revD > mean + lit(k) * sd || revD < mean - lit(k) * sd)
                  .as("breakout")),
      "d")
  }

  /** Drawdown series of daily revenue — running peak and percentage
    * drawdown from it (the worst-dip-so-far risk measure finance runs on
    * every equity curve; here: how far below the best day-so-far each
    * day's revenue sits). The running peak is a cumulative MAX of exact
    * DECIMALs over the calendar-bounded daily frame — no doubles until
    * the one mirrored division at the boundary.
    */
  def drawdown(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(money(col("o_totalprice"))).as("rev"))
    val wCum = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordered(
      daily.withColumn("peak", max(col("rev")).over(wCum))
        .select(col("d"), r4(col("rev").cast("double")).as("revenue"),
                r4(col("peak").cast("double")).as("peak"),
                r4((col("peak") - col("rev")).cast("double") /
                   col("peak").cast("double")).as("drawdown")),
      "d")
  }

  /** Seasonality and trend STRENGTH of the monthly revenue series —
    * Hyndman's F_seasonal = max(0, 1 − Var(R)/Var(S+R)) and
    * F_trend = max(0, 1 − Var(R)/Var(T+R)) over the
    * [[seasonalDecompose]] components: the 0..1 summary that says
    * whether the decomposition's seasonal/trend parts carry signal
    * (the decompose emits the curves; this is the decision number).
    * Variances are assembled from DECIMAL(28,8) term sums over the
    * calendar-bounded component frame; one 1-row output.
    */
  def seasonalStrength(spark: SparkSession, sfDir: String): DataFrame = {
    val f = seasonalDecompose(spark, sfDir)
      .filter(col("resid").isNotNull)
      .select(col("resid").as("r"),
              (col("seasonal") + col("resid")).as("sr"),
              (col("trend") + col("resid")).as("tr"))
    def moments(c: Column, p: String) = Seq(
      sum(c.cast("decimal(28,8)")).as(s"${p}_s"),
      sum((c * c).cast("decimal(28,8)")).as(s"${p}_ss"))
    val agg = f.agg(count(lit(1)).as("n_months"),
      (moments(col("r"), "r") ++ moments(col("sr"), "sr") ++
       moments(col("tr"), "tr")): _*)
    def varOf(p: String) = {
      val nD = col("n_months").cast("double")
      (col(s"${p}_ss").cast("double") -
       col(s"${p}_s").cast("double") * col(s"${p}_s").cast("double") / nD) / nD
    }
    agg.select(col("n_months"),
               r4(greatest(lit(0.0), lit(1.0) - varOf("r") / varOf("sr")))
                 .as("f_seasonal"),
               r4(greatest(lit(0.0), lit(1.0) - varOf("r") / varOf("tr")))
                 .as("f_trend"))
  }

  /** Decile lift (gains) table — the marketing-analytics staple: customers
    * ranked into spend deciles (via the single-pass exact [[ntileGlobal]]),
    * each decile reporting its revenue share and the cumulative share
    * ("top 10% of customers carry X% of revenue"). Per-decile sums stay
    * DECIMAL-exact; shares are single divisions; the cumulative runs over
    * the 10-row decile frame — free at any scale.
    */
  def decileLift(spark: SparkSession, sfDir: String): DataFrame = {
    val spend = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(money(col("o_totalprice"))).as("m"))
    val ranked = ntileGlobal(spend, Seq(col("m").desc, col("ck").asc), 10, "decile")
    val perDecile = ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("m")).as("rev_dec"))
    val total = perDecile.agg(sum(col("rev_dec")).as("total_dec"))
    val w = Window.orderBy(col("decile").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordered(
      perDecile.crossJoin(broadcast(total))
        .withColumn("cum_dec", sum(col("rev_dec")).over(w))
        .select(col("decile"), col("n_customers"),
                r4(col("rev_dec").cast("double")).as("revenue"),
                r4(col("rev_dec").cast("double") / col("total_dec").cast("double"))
                  .as("pct_of_total"),
                r4(col("cum_dec").cast("double") / col("total_dec").cast("double"))
                  .as("cum_pct")),
      "decile")
  }

  /** ABC inventory classification — parts bucketed by cumulative revenue
    * share (A ≤ 80%, B ≤ 95%, C the tail), the Pareto-analysis operator
    * every inventory mart ships. The cumulative share comes from the
    * two-phase [[PrefixSum]] over the per-part aggregate (parts ranked by
    * revenue desc, key-tiebroken) — no single-reducer window even when the
    * part dimension is 10⁹ rows; class thresholds compare exact DECIMAL
    * cumulative sums against DECIMAL-scaled totals (80·total ≤ 100·cum —
    * integer-exact, no double boundary flips).
    */
  def abcClassification(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = t(spark, sfDir, "lineitem")
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(money(col("l_extendedprice"))).as("rev"))
    val cum = graft.util.PrefixSum
      .exclusiveColsTotal(rev, Seq(col("rev").desc, col("pk").asc),
                          col("rev"), "cum0", "total")
      .withColumn("cum", col("cum0") + col("rev"))
    ordered(
      cum.select(col("pk").as("p_partkey"),
                 r4(col("rev").cast("double")).as("revenue"),
                 r4(col("cum").cast("double") / col("total").cast("double"))
                   .as("cum_share"),
                 when(col("cum") * 100 <= col("total") * 80, "A")
                   .when(col("cum") * 100 <= col("total") * 95, "B")
                   .otherwise("C").as("abc_class")),
      "p_partkey")
  }

  /** Single most-likely changepoint of the daily revenue series under a
    * mean-shift model (binary segmentation, the building block of every
    * changepoint detector): the split k minimizing SSE_left + SSE_right,
    * equivalently maximizing the variance explained by splitting — the
    * "when did the level change" question [[cusum]]'s control chart
    * flags but doesn't localize. AGGREGATE-FIRST to exact daily CENTS;
    * all candidate costs come from ONE pass of prefix sums (count, Σ,
    * Σ² — squares DECIMAL(38,0) via pre-multiply DECIMAL cast) over the
    * calendar-bounded daily frame, and the argmin is a deterministic
    * struct-min on (cost, day) — doubles computed identically on both
    * engines, day as the tie-break. Output: the split with both
    * segment means and the SSE improvement.
    */
  def changepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("rc"))
    val wCum = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = daily
      .withColumn("i", count(lit(1)).over(wCum))
      .withColumn("s", sum(col("rc")).over(wCum))
      .withColumn("q",
        sum((col("rc").cast("decimal(19,0)") * col("rc")).cast("decimal(38,0)"))
          .over(wCum))
    val tot = pre.agg(max(col("i")).as("n"), max(col("s")).as("st"),
                      max(col("q")).as("qt"))
    val iD = col("i").cast("double"); val nD = col("n").cast("double")
    val sD = col("s").cast("double"); val qD = col("q").cast("double")
    val stD = col("st").cast("double"); val qtD = col("qt").cast("double")
    val sseL = qD - sD * sD / iD
    val sseR = (qtD - qD) - (stD - sD) * (stD - sD) / (nD - iD)
    val cand = pre.crossJoin(broadcast(tot))
      .filter(col("i") < col("n"))
      .withColumn("cost", sseL + sseR)
    val best = cand
      .agg(min(struct(col("cost"), col("d"), col("i"), col("s"),
                      col("n"), col("st"), col("qt"))).as("b"))
      .select(col("b.*"))
    val bi = col("i").cast("double"); val bn = col("n").cast("double")
    val bs = col("s").cast("double"); val bst = col("st").cast("double")
    val sseTotal = col("qt").cast("double") - bst * bst / bn
    // dimensionless variance-explained ratio, not raw SSE: cents² SSE
    // magnitudes overflow Spark's floor(double)→LONG inside r4 (DuckDB's
    // floor stays double — the mirror breaks exactly there), and the
    // ratio is the number a changepoint consumer wants anyway
    best.select(col("d").as("split_after"),
                col("i").as("n_left"), (col("n") - col("i")).as("n_right"),
                r4(bs / bi / lit(100.0)).as("mean_left"),
                r4((bst - bs) / (bn - bi) / lit(100.0)).as("mean_right"),
                r4((sseTotal - col("cost")) / sseTotal).as("improvement_ratio"))
  }

  /** ABC–XYZ inventory matrix — the two-axis classification every
    * inventory planner crosses: revenue importance ([[abcClassification]]
    * reused verbatim — same gate, same classes) × demand VARIABILITY
    * (XYZ by the coefficient of variation of monthly shipped quantity:
    * X < 0.5 steady, Y < 1.0 variable, Z erratic or too thin to assess).
    * Monthly stats are per-part DECIMAL moments (aggregate-first, months
    * calendar-bounded); CV is one mirrored double chain; parts with a
    * single active month have no sample variance and land in Z
    * explicitly. Output: the 9-cell matrix with part counts and revenue.
    */
  def abcXyz(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = t(spark, sfDir, "lineitem")
      .groupBy(col("l_partkey").as("pk"),
               date_trunc("month", col("l_shipdate")).cast("date").as("m"))
      .agg((sum(money(col("l_quantity"))) * 100).cast("long").as("qc"))
    val stats = monthly.groupBy(col("pk"))
      .agg(count(lit(1)).as("nm"), sum(col("qc")).as("sq"),
           sum((col("qc").cast("decimal(19,0)") * col("qc")).cast("decimal(38,0)"))
             .as("qq"))
    val nmD = col("nm").cast("double"); val sqD = col("sq").cast("double")
    val mean = sqD / nmD
    val sd = sqrt((col("qq").cast("double") - sqD * sqD / nmD) / (nmD - lit(1.0)))
    val cv = sd / mean
    val xyz = stats.withColumn("xyz_class",
      when(col("nm") < 2, "Z")
        .when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z"))
    ordered(
      abcClassification(spark, sfDir)
        .select(col("p_partkey").as("pk"), col("abc_class"), col("revenue"))
        .join(xyz.select(col("pk"), col("xyz_class")), "pk")
        .groupBy(col("abc_class"), col("xyz_class"))
        .agg(count(lit(1)).as("n_parts"),
             r4(sum(col("revenue").cast("decimal(18,4)")).cast("double"))
               .as("revenue")),
      "abc_class", "xyz_class")
  }

  /** Price elasticity of demand per brand — the OLS slope of ln(quantity)
    * on ln(unit price) over line items (the log-log specification whose
    * slope IS the elasticity; [[Relational.regrAgg]] fits the plain
    * linear model — economics wants this one). Unit price folds to exact
    * cents before the logs; every regression moment is a DECIMAL(28,8)
    * term sum (associative), the slope/intercept one mirrored chain per
    * brand. One map-side-combined hash-agg; brand-grain output.
    */
  def priceElasticity(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
              floor(col("l_extendedprice") / col("l_quantity") * lit(100.0) + lit(0.5))
                .cast("long").as("upc"),
              floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long").as("qc"))
    val x = log(col("upc").cast("double") / lit(100.0))
    val y = log(col("qc").cast("double") / lit(100.0))
    val g = li.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
           sum(x.cast("decimal(28,8)")).as("sx"),
           sum(y.cast("decimal(28,8)")).as("sy"),
           sum((x * y).cast("decimal(28,8)")).as("sxy"),
           sum((x * x).cast("decimal(28,8)")).as("sxx"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val slope = (nD * col("sxy").cast("double") - sxD * syD) /
      (nD * col("sxx").cast("double") - sxD * sxD)
    ordered(
      g.select(col("p_brand"), col("n"),
               r4(slope).as("elasticity"),
               r4((syD - slope * sxD) / nD).as("intercept")),
      "p_brand")
  }

  /** Return rate per brand with a Wilson 95% interval — the
    * proportion-with-uncertainty report (a 30% return rate on 10 lines
    * and on 10,000 lines are different facts; the Wilson score interval
    * is the standard small-n-safe CI, never leaving [0,1] like the
    * normal approximation does). Counts are one conditional hash-agg;
    * the Wilson chain is pure mirrored doubles on two exact integers.
    */
  def returnRateCi(spark: SparkSession, sfDir: String): DataFrame = {
    val g = t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
    val nD = col("n").cast("double"); val kD = col("k").cast("double")
    val z = lit(1.96); val z2 = z * z
    val p = kD / nD
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / nD +
                        z2 / (lit(4.0) * nD * nD)) / denom
    ordered(
      g.select(col("p_brand"), col("n"), col("k").as("returns"),
               r4(p).as("return_rate"),
               r4(center - half).as("wilson_lo"),
               r4(center + half).as("wilson_hi")),
      "p_brand")
  }

  /** Supplier lead-time distribution per nation — order date → ship date
    * lag percentiles, the fulfilment-SLA report (mean hides the tail; a
    * p90 of 120 days is the number the contract argues about). Lags are
    * exact integer days from one fact-linear join; stats per nation
    * (dimension-grain output) with exact mean and interpolated
    * percentiles — the approx_percentile swap applies at 100 TB, same
    * shape.
    */
  def leadtimePercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val lags = t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
              datediff(col("l_shipdate").cast("date"),
                       col("o_orderdate").cast("date")).cast("long").as("lag_days"))
    ordered(
      lags
        .join(t(spark, sfDir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(spark, sfDir, "nation")),
              col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_lines"),
             r4(sum(col("lag_days")).cast("double") / count(lit(1)))
               .as("mean_days"),
             r4(percentile(col("lag_days"), lit(0.5))).as("p50_days"),
             r4(percentile(col("lag_days"), lit(0.9))).as("p90_days"),
             max(col("lag_days")).as("max_days")),
      "n_name")
  }

  /** First-touch attribution — the acquisition-channel twin of
    * [[attributionLastTouch]]: each purchase credits the user's EARLIEST
    * preceding non-purchase event (first(..., ignoreNulls) over the same
    * user-sharded frame). Registered separately because the two models
    * answer different questions (acquisition vs conversion) and their
    * grouped outputs differ.
    */
  def attributionFirstTouch(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = events(spark, sfDir)
      .withColumn("touch",
        first(when(col("event_type") =!= "purchase", col("event_type")),
              ignoreNulls = true).over(w))
    ordered(
      touched.filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("(direct)")).as("channel"))
        .agg(count(lit(1)).as("conversions"),
             r4(sum(money(col("value"))).cast("double")).as("revenue")),
      "channel")
  }

  /** Triangle enumeration on the brand co-occurrence graph — the graph-
    * analytics primitive (clustering coefficient, community seeds) run on
    * the market-basket edge list. Edges are brand pairs co-occurring in
    * ≥ minSup orders, canonically a<b; triangles come from the standard
    * two-hop edge-edge-edge join with the a<b<c orientation, so each
    * triangle is emitted exactly once and the join fan-out is bounded by
    * the (support-thresholded) edge list — the same degree-bounding that
    * makes distributed triangle counting viable on web-scale graphs.
    */
  def triangles(spark: SparkSession, sfDir: String, minSup: Int = 5): DataFrame = {
    // persisted (r15): the closure references the edge list from THREE legs
    // (e1/e2/e3) — unpersisted, each leg re-ran the whole basket fan-out +
    // two shuffles (the clusteringCoeff persist rationale; same aggregated
    // pair list, orders smaller than the fact table). Self-persisted class:
    // harness callers clearCache() between queries.
    val edges = brandEdges(spark, sfDir, minSup)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e1 = edges.select(col("a").as("x"), col("b").as("y"))
    val e2 = edges.select(col("a").as("y"), col("b").as("z"))
    val e3 = edges.select(col("a").as("x"), col("b").as("z"))
    ordered(
      e1.join(e2, "y").join(e3, Seq("x", "z"))
        .select(col("x").as("brand_a"), col("y").as("brand_b"), col("z").as("brand_c")),
      "brand_a", "brand_b", "brand_c")
  }

  /** Support-thresholded brand co-occurrence edge list (canonical a < b),
    * shared by [[triangles]] and [[clusteringCoeff]]: per-order sorted
    * brand baskets, in-basket pair fan-out (bounded by basket size — TPC-H
    * orders hold ≤ ~7 lines, so the explode is constant-factor, never
    * quadratic in the fact table), one hash-agg on the pair, support
    * filter. One shuffle on l_orderkey + one on the brand pair.
    */
  private[operators] def brandEdges(spark: SparkSession, sfDir: String,
                                    minSup: Int): DataFrame = {
    val baskets = t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("br"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("br"))).as("brs"))
    baskets
      .select(explode(expr(
        "flatten(transform(brs, (x, i) -> " +
        "transform(slice(brs, i + 2, size(brs)), y -> struct(x AS a, y AS b))))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("np"))
      .filter(col("np") >= minSup)
      .select(col("a"), col("b"))
  }

  /** Per-node local clustering coefficient over the brand co-occurrence
    * graph — lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the standard
    * neighborhood-density measure triangle counts feed. Wedges centered at
    * v (ordered neighbor pairs x < y from the undirected adjacency) are
    * closed against the canonical a<b edge list, so each triangle at v is
    * counted exactly once; wedge volume is Σ deg(v)² over the SUPPORT-
    * THRESHOLDED graph, the same degree bounding that makes [[triangles]]
    * viable at scale. The edge list feeds three legs (two adjacency
    * copies + the closure probe), so it is persisted — it is an aggregated
    * pair list, orders of magnitude smaller than the fact table.
    * deg < 2 nodes have no wedges: lcc is 0.0 by convention (not NULL), so
    * the output is total on the node set. Exact: tri/deg are BIGINTs, lcc
    * is one mirrored double expression r4-rounded.
    */
  def clusteringCoeff(spark: SparkSession, sfDir: String,
                      minSup: Int = 5): DataFrame = {
    val edges = brandEdges(spark, sfDir, minSup)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = edges.select(col("a").as("v"), col("b").as("u"))
      .union(edges.select(col("b").as("v"), col("a").as("u")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val wedges = adj.select(col("v"), col("u").as("x"))
      .join(adj.select(col("v"), col("u").as("y")), "v")
      .filter(col("x") < col("y"))
    val tri = wedges
      .join(edges, wedges("x") === edges("a") && wedges("y") === edges("b"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    val degD = col("deg").cast("double")
    ordered(
      deg.join(tri, Seq("v"), "left")
        .select(col("v").as("brand"), col("deg"),
                coalesce(col("n_tri"), lit(0L)).as("n_tri"),
                when(col("deg") < 2, lit(0.0)).otherwise(
                  r4(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
                     (degD * (degD - lit(1.0))))).as("lcc")),
      "brand")
  }

  /** Log2-binned degree distribution of the part co-purchase graph — the
    * first diagnostic on any large graph (is it power-law? where does the
    * skew live?), and the sizing input for the hot-key lanes the salted
    * joins use. Degree = distinct co-purchase neighbors (the q_pagerank
    * edge relation); the bucket is the INTEGER bit length of the degree
    * (length(bin(deg)) − 1 — exact on both engines, where floor(log2(x))
    * through libm could straddle the floor boundary at powers of two).
    * Two hash-aggs after the per-order pair fan-out; output is ≤ 64 rows
    * regardless of graph size.
    */
  def degreeDist(spark: SparkSession, sfDir: String): DataFrame = {
    val items = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val deg = items.select(col("l_orderkey"), col("l_partkey").as("src"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("dst")),
            "l_orderkey")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
    ordered(
      deg.withColumn("bucket", (length(bin(col("deg"))) - lit(1)).cast("int"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_nodes"),
             min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg")),
      "bucket")
  }

  /** PageRank over the part co-purchase graph — the iterative link-analysis
    * primitive (product importance / seed ranking), run for a FIXED
    * [[Iters]] rounds so the plan shape is static. All arithmetic is
    * integer fixed-point: total rank mass 10¹² micro-units, per-edge
    * contribution `(r·w) div w_out`, damping `(85·Σ) div 100` — floor
    * division on BIGINTs is portable (Spark `div` ≡ DuckDB `//` on
    * non-negative operands), so a 32-way parallel run hash-matches the
    * oracle's sequential fold EXACTLY, the same discipline as the
    * hierarchy/CC gates. Scale shape: each round is one join of the rank
    * frame (|parts| rows, node+rank only — never the edge payload) with
    * the persisted edge list plus one hash aggregate; the edge list is
    * built once (order-basket self-pairs, the assoc-rules shape) and
    * reused by all rounds. Rank mass ≤10¹² and w ≤ |orders-per-pair|
    * keep every product far under Long overflow.
    */
  val PrIters = 5

  /** Weighted co-purchase edge list (src, dst, w): parts sharing an order,
    * w = number of distinct orders pairing them — the basket self-pair
    * shape q_assoc_rules uses. Shared by [[pageRank]] and [[shortestPath]].
    */
  private def coPurchaseEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val items = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    pairs.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  def pageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = coPurchaseEdges(spark, sfDir)
    val wout = edges.groupBy(col("src")).agg(sum(col("w")).as("w_out"))
    val e = edges.join(wout, "src")
      .select(col("src"), col("dst"), col("w"), col("w_out"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // co-purchase edges are symmetric, so src covers every connected node
    val nodes = e.select(col("src").as("node")).distinct()
    val nN = nodes.agg(count(lit(1)).as("n_nodes"))
    // per-node share of the 1e12 mass, and the (1-d) teleport base
    val withN = nodes.crossJoin(broadcast(nN))
    val r0 = withN.select(col("node"),
      expr("1000000000000 div n_nodes").as("r"), col("n_nodes"))

    def step(rank: DataFrame): DataFrame = {
      val contrib = e.join(rank.select(col("node"), col("r")),
                           col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(expr("(r * w) div w_out")).as("s"))
      rank.select(col("node"), col("n_nodes"))
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (expr("(15 * (1000000000000 div n_nodes)) div 100") +
            expr("(85 * coalesce(s, 0L)) div 100")).as("r"),
          col("n_nodes"))
    }

    val rFinal = (1 to PrIters).foldLeft(r0)((r, _) => step(r))
    ordered(rFinal.select(col("node").as("part_id"), col("r").as("rank_fp")),
            "part_id")
  }

  /** Rounds of hub/authority refinement in [[hits]]; fixed so the plan is
    * static and the oracle can unroll the same fold (the q_pagerank
    * discipline).
    */
  val HitsRounds = 3

  /** HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    * co-purchase graph — [[reciprocity]]'s consecutive-line-item edges,
    * where PageRank's undirected basket graph can't separate "parts that
    * lead baskets" (hubs) from "parts baskets lead to" (authorities).
    * Weighted mutual refinement: a = Aᵀh, h = Aa, each L1-normalized per
    * round, run for [[HitsRounds]] fixed rounds.
    *
    * All arithmetic is Long fixed-point (the q_pagerank discipline):
    * scores carry ~10¹² mass, and the per-round normalization is
    * `x div greatest(1, S div 10¹²)` — DIVIDING by the scale factor
    * instead of multiplying by the target keeps every intermediate below
    * ~10¹⁶ (a `raw · 10¹²` product would overflow Long at realistic
    * degrees), and `greatest(1, ·)` guards the degenerate S < 10¹² mass
    * collapse. Spark `div` ≡ DuckDB `//` on non-negative operands, so
    * the 32-way run hash-matches the oracle's sequential fold EXACTLY.
    * Scale shape: per round, two joins of a (node, score) frame against
    * the persisted edge list, two hash-aggs, and two 1-Long normalizer
    * aggregates COLLECTED eagerly (job-per-superstep — the in-body
    * comment explains why lazy broadcast normalizers are a 4^rounds
    * lineage bomb here; ScaleInfraSpec's iterative exemption names this
    * entry); no stage ever holds more than node-count rows.
    */
  def hits(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val byOrder = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber").asc, col("l_partkey").asc,
               col("l_suppkey").asc)
    val e = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
              col("l_suppkey"))
      .withColumn("nxt", lead(col("l_partkey"), 1).over(byOrder))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("l_partkey"))
      .groupBy(col("l_partkey").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nN = nodes.agg(count(lit(1)).as("n_nodes"))
    // Per-round L1 normalization needs the GLOBAL mass of the frame being
    // normalized — the normalizer is ONE Long, so each round COLLECTS it
    // (GraphX's job-per-superstep shape, the ScaleInfraSpec iterative
    // exemption's rationale) and folds it back as a literal. Round frames
    // are EAGER localCheckpoints through Iterate, not lazy persist marks:
    // both lazy variants were measured and rejected — broadcast-agg
    // normalizers double the raw-score reference (plan grows 4^rounds;
    // 54 s at sf0.1), and even with collected normalizers + persisted+
    // counted predecessors, round walls GREW geometrically (round 3: 4.3/
    // 8.1/16.5/30.7 s per stage — cache-state/canonicalization drag over
    // the ever-deeper logical plans). Checkpoint truncation makes every
    // round O(1): same stages measured 0.1–0.2 s in round 3, 67 s → ~2 s
    // total. Frames are (node, score) pairs, ≤16 B·|nodes| each.
    // SPARSE round frames (r15 optimization, guide §2.4): rounds carry only
    // nodes with a NON-ZERO score. The old shape densified every half-round
    // (nodes ⋈ raw, coalesce 0, checkpoint — 2 extra eager jobs + 2 joins
    // per round) but zero-score nodes contribute exactly 0 to the next
    // round's Σ h·w / Σ a·w, and `0 div d = 0`, so dropping them changes no
    // arithmetic; densification happens ONCE at the end (the same left-join
    // + coalesce 0), yielding the identical total row set. Half-rounds keep
    // the eager checkpoint on the RAW aggregate only (the normalizer
    // collect needs it materialized anyway); the normalized frame is a lazy
    // depth-1 projection over that checkpoint — 6 eager jobs + 6 node joins
    // per full loop → 2 checkpoints + 2 collects (measured: 63 → 46 jobs,
    // 973 → 557 tasks, 39 → 23 MB shuffled at sf0.1).
    val h0 = nodes.crossJoin(broadcast(nN))
      .select(col("node"), expr("1000000000000 div n_nodes").as("h"))
      .localCheckpoint(true)
    def divisor(raw: DataFrame, c: String): Long = // non-negative: floor div
      math.max(1L, raw.agg(sum(col(c))).head().getLong(0) / 1000000000000L)
    // state: Seq(h0), then Seq(a, h) after every round
    val Seq(a, h) = Iterate(Seq(h0), HitsRounds)(identity) { (s, _) =>
      val araw = e.join(s.last, col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("h") * col("w")).as("ar"))
        .localCheckpoint(true)
      val a = araw.select(col("dst").as("node"),
                          expr(s"ar div ${divisor(araw, "ar")}L").as("a"))
      val hraw = e.join(a.select(col("node").as("an"), col("a")),
                        col("dst") === col("an"))
        .groupBy(col("src")).agg(sum(col("a") * col("w")).as("hr"))
        .localCheckpoint(true)
      Seq(a, hraw.select(col("src").as("node"),
                         expr(s"hr div ${divisor(hraw, "hr")}L").as("h")))
    }
    // the returned plan reads only the final checkpointed frames; densify
    // the sparse score frames ONCE (zero-score nodes surface as 0, exactly
    // the per-round coalesce the old shape applied)
    e.unpersist()
    ordered(
      nodes.join(a, Seq("node"), "left").join(h, Seq("node"), "left")
        .select(col("node").as("part_id"),
                coalesce(col("a"), lit(0L)).as("auth_fp"),
                coalesce(col("h"), lit(0L)).as("hub_fp")),
      "part_id")
  }

  /** Rounds of Bellman–Ford relaxation in [[shortestPath]]; fixed so the
    * plan shape is static and the oracle can unroll the same fold.
    */
  val SpRounds = 4

  /** Single-source weighted shortest path over the co-purchase graph —
    * the "how related is this product to the anchor" distance query —
    * bounded to walks of at most [[SpRounds]] edges. Edge cost is integer
    * `1 + (1000 div (w + 1))` (more shared baskets → cheaper), the source
    * is the smallest part id in the graph. Formulated as min-plus FRONTIER
    * EXPANSION, not textbook relaxation: `f_k(n) = min over k-edge walks`
    * via `f_k = min-agg(f_{k-1} ⋈ e)`, and the answer is the min across
    * `f_0..f_R` (min-plus matrix powers; associativity of min makes the
    * per-round group-min lossless). Equivalent to R rounds of Bellman–Ford
    * — the oracle IS the unrolled relaxation fold, and the hash gate
    * proves the two formulations agree — but each round references the
    * previous frontier exactly ONCE, so the static plan grows linearly in
    * R where the relaxation form (`d` used both as join input and merge
    * base) doubled per round: measured 25 s of mostly Catalyst analysis
    * over 502 Exchanges at sf0.1 vs 1.3 s for this shape. Same lesson as
    * connectedComponents' localCheckpoint, solved without eager actions —
    * rounds here are a FIXED constant, so the registry entry stays a pure
    * lazy plan (both eager rewrites measured 4–8× slower; in-body
    * comment). Scale shape: each round shuffles a ≤|nodes| frontier of
    * two BIGINTs against the persisted edge list; all arithmetic is BIGINT
    * (max cost 1001 per hop), so the 32-way fold hash-matches the oracle's
    * sequential fold EXACTLY, the q_pagerank discipline.
    */
  def shortestPath(spark: SparkSession, sfDir: String): DataFrame = {
    val e = coPurchaseEdges(spark, sfDir)
      .select(col("src"), col("dst"),
        (lit(1L) + expr("1000 div (w + 1)")).as("cost"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // symmetric edges: src covers every connected node
    val srcNode = e.agg(min(col("src")).as("src_node"))
    val f0 = e.crossJoin(broadcast(srcNode))
      .filter(col("src") === col("src_node"))
      .select(col("src").as("node"), lit(0L).as("dist"))
      .distinct()

    // Each frontier is referenced TWICE — once by the next round's relax
    // and once by the final union — so without a cache boundary frontier k
    // is recomputed (R−k) times and the physical plan carries O(R²)
    // expansion joins (measured: 90 exchanges, ~12 s at sf0.1). Persisting
    // every frontier collapses the recomputation to one expansion per round
    // (plan shows InMemoryTableScan at each reuse) while staying a pure
    // lazy plan: persist marks, the single gate action materializes. The
    // frontier frames are (node, dist) pairs only — never edge payloads —
    // so the cached footprint is ≤|nodes|·16 B per round at any scale.
    // The last frontier is referenced ONCE (the union) — no persist mark.
    //
    // Round-9 volatility postmortem (VERDICT r8's one over-tolerance
    // entry): BOTH eager-materialization rewrites were measured and
    // REJECTED — full spFixpoint discipline (checkpoint frontier + merged
    // best per round, unpersist-as-you-go) 15.2 s, frontier-only eager
    // checkpoints 8.5 s, vs 1.8 s for this lazy shape, all min-of-3
    // isolated at sf0.1. A separate job per round pays scheduler + AQE +
    // checkpoint-write latency ~1.7 s/round that the single pipelined
    // gate action never pays — the q_kcore eager-rewrite lesson (1.6 →
    // 4.7 s) repeats even with tiny frontiers, so in-suite variance on a
    // ~2 s query is priced into its BASELINE.md pin (observed driver
    // ceiling across r5–r8: 4.04 s) rather than "fixed" by a 4–8×
    // slowdown that would make every reading deterministic-but-worse.
    val inner = Iterator.iterate(f0)(f =>
        relax(e, f).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      .take(SpRounds).toSeq
    val frontiers = inner :+ relax(e, inner.last)
    val best = frontiers.reduce(_ union _)
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    ordered(best.select(col("node").as("part_id"), col("dist").as("dist_fp")),
            "part_id")
  }

  /** One min-plus frontier expansion — the shared round of [[shortestPath]]
    * and [[spFixpoint]]: the cheapest one-edge extension of a (node, dist)
    * frontier over (src, dst, cost) edges, per reached node.
    */
  private def relax(e: DataFrame, frontier: DataFrame): DataFrame =
    e.join(frontier, col("src") === col("node"))
      .groupBy(col("dst").as("n"))
      .agg(min(col("dist") + col("cost")).as("d"))
      .select(col("n").as("node"), col("d").as("dist"))

  /** Rounds of peeling in [[kcore]]; fixed so the plan is static and the
    * oracle can unroll the same fold (the q_shortest_path discipline).
    */
  val KcoreRounds = 3

  /** One k-core peel round — the shared round of [[kcore]] and
    * [[kcoreFixpoint]], which differ only in how k arrives (`atLeastK`
    * filters the (src, dg) degree frame): the kept node list, persisted
    * because BOTH semi-joins read it (≤|nodes| rows, so the degree
    * aggregate runs once per round, not twice), and the lazy (src, dst)
    * edges between kept nodes.
    */
  private def peel(e: DataFrame)(
      atLeastK: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val keep = atLeastK(e.groupBy(col("src")).agg(count(lit(1)).as("dg")))
      .select(col("src").as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (keep, e.join(keep.select(col("n").as("src")), Seq("src"), "left_semi")
      .join(keep.select(col("n").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst")))
  }

  /** k-core peeling over the co-purchase graph — the graph-density filter
    * every recommendation/graph-feature pipeline runs to separate the
    * densely connected "core" catalog from long-tail products: repeatedly
    * drop nodes whose degree falls below k, where removing a node can
    * drag its neighbors below k in the next round. k is DATA-DERIVED —
    * ¾ of the mean degree, computed in-plan with integer div so both
    * engines floor identically — which keeps the query meaningful at
    * every SF (a fixed k either peels nothing or empties the graph as
    * density scales). Bounded to [[KcoreRounds]] peel rounds: the exact
    * core is the fixpoint, and a fixed round count is the standard
    * bounded-iteration surrogate (same contract as [[SpRounds]] /
    * [[PrIters]]) that keeps the plan static for the unrolled oracle.
    *
    * Scale shape: each round is one degree hash-aggregate over the
    * surviving edges plus two semi-joins against the ≤|nodes| keep list —
    * the shuffles carry (node, degree) pairs and edge endpoints only.
    * Every round's edge frame is lazily persisted: round r's edges are
    * referenced by BOTH the next round's degree aggregate and its
    * semi-joins, the exact double-reference that made the un-persisted
    * shortest-path plan O(R²) (scaladoc above). Peeling converges
    * geometrically on real graphs, so small fixed R captures most of the
    * fixpoint; at 100 TB each round is edge-linear with no all-pairs
    * stage anywhere.
    *
    * Cache contract: the per-round persist marks are lazy and are NOT
    * unpersisted by this builder — callers that run many queries in one
    * session (the Verify/Bench harnesses do) must `spark.catalog
    * .clearCache()` between queries, or use [[kcoreFixpoint]], whose
    * eager rounds unpersist superseded frames as they go.
    */
  def kcore(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val e0 = coPurchaseEdges(spark, sfDir)
      .select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // k = (3/4)·mean degree, exact integer arithmetic (degrees positive)
    val kv = e0.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      .agg(expr("(sum(dg) * 3) div (count(1) * 4)").as("k"))

    // Rounds are LAZY persist marks (cache boundaries for the
    // double-referenced frames), not eager checkpoints: an eager
    // localCheckpoint per round costs one synchronous job + a full
    // deserialized copy per round and measured 1.6 s → 4.7 s on this
    // query (round-8 isolation) for zero result difference. The price of
    // laziness is that superseded round caches live until the session
    // drops them: bounded-round callers (the bench/Verify harnesses)
    // clearCache() per query; LONG-LIVED sessions should call
    // [[kcoreFixpoint]] instead, which materializes per round exactly so
    // it can free superseded frames as it goes (the ADVICE r7 leak-free
    // contract lives there).
    val eFinal = (1 to KcoreRounds).foldLeft(e0) { (e, _) =>
      peel(e)(_.crossJoin(broadcast(kv)).filter(col("dg") >= col("k")))._2
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    ordered(
      eFinal.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("part_id"), col("deg")),
      "part_id")
  }

  /** Convergence-detected k-core — the exact fixpoint the bounded
    * [[kcore]] query approximates with [[KcoreRounds]] rounds: peel nodes
    * of degree < k repeatedly until a round removes NOTHING (delta-count
    * termination), rounds run through [[graft.util.Iterate]]. The bounded
    * registry query stays the oracle-gated surface (a static plan the
    * DuckDB fold can unroll); this is the lib entry point a real "give me
    * THE k-core" caller wants.
    *
    * Per-round shape is [[kcore]]'s [[peel]] — one degree hash-aggregate
    * plus two semi-joins, shuffling only (node, degree) pairs and edge
    * endpoints — so the 100 TB story is unchanged; the only addition is
    * one count() per round over the already-checkpointed edge frame
    * (cached partitions, no recomputation). Termination needs no extra
    * pass: edges only shrink, so the round-over-round edge count is the
    * complete convergence signal. Superseded round frames are freed as
    * soon as their successor is materialized (the leak-free long-session
    * discipline ADVICE r7 asked for).
    *
    * `edges0` must be a symmetric (src, dst) edge list (both directions
    * present, no self-loops), e.g. the co-purchase graph.
    */
  def kcoreFixpoint(edges0: DataFrame, k: Long, maxIter: Int = 50): DataFrame = {
    val e0 = edges0.select(col("src"), col("dst")).localCheckpoint(true)
    val n0 = e0.count()
    // state: (edges, edge count)
    val (e, _) = Iterate((e0, n0), if (n0 == 0) 0 else maxIter)(
        s => Seq(s._1), (prev, next) => prev._2 == next._2) { case ((e, _), _) =>
      val (keep, kept) = peel(e)(_.filter(col("dg") >= k))
      val next = kept.localCheckpoint(true)
      keep.unpersist()
      (next, next.count())
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  /** Convergence-detected single-source shortest path — the exact fixpoint
    * the bounded [[shortestPath]] query approximates with [[SpRounds]]
    * frontier rounds: Bellman–Ford via min-plus frontier expansion,
    * iterating until the (node count, dist sum) of the best-known distance
    * frame stops changing. Distances only DECREASE and the reached set
    * only GROWS, so that one 2-value aggregate per round is a complete
    * convergence signal — no self-join against the previous round needed.
    *
    * Per-round shape matches the bounded query ([[relax]]): the frontier
    * (nodes whose dist improved last round — Δ-stepping's "only relax what
    * changed") joins the persisted edge list, a group-min merges
    * candidates into the running best, and both frames localCheckpoint
    * eagerly through [[graft.util.Iterate]], which keeps round r's plan
    * O(1) instead of O(r) and frees superseded rounds. All arithmetic
    * BIGINT, so results hash-match the sequential fold at any partitioning.
    *
    * `edges0` must carry (src, dst, cost ≥ 0); unreachable nodes are
    * absent from the output (the honest miss).
    */
  def spFixpoint(edges0: DataFrame, srcNode: Long, maxIter: Int = 50): DataFrame = {
    val e = edges0.select(col("src"), col("dst"), col("cost"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val best0 = e.sparkSession.range(1)
      .select(lit(srcNode).as("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // state: (best, frontier, (reached count, dist sum) — monotone signal)
    val (best, _, _) = Iterate((best0, best0, (1L, 0L)), maxIter)(
        s => Seq(s._1, s._2), (prev, next) => prev._3 == next._3) {
      case ((best, frontier, _), _) =>
        val merged = best.union(relax(e, frontier))
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint(true)
        // next frontier = nodes whose best improved this round; anti-joining
        // the (node, dist) PAIRS finds exactly those (dists only decrease)
        val nextFrontier = merged.join(best, Seq("node", "dist"), "left_anti")
          .localCheckpoint(true)
        val agg = merged.agg(count(lit(1)), sum(col("dist"))).head()
        (merged, nextFrontier, (agg.getLong(0), agg.getLong(1)))
    }
    e.unpersist()
    best
  }

  /** Curriculum bucketing — order the corpus by quality score and cut it
    * into 4 equal-depth curriculum phases (easy→hard scheduling for LLM
    * training). The score is [[Text.QScore]]'s exact expression mix (scored
    * identically to q_quality_score by construction); phase assignment is
    * an exact global NTILE(4) on (r4(score), doc_id) via [[ntileGlobal]]'s
    * two-phase distributed rank — the 100 TB corpus never funnels through
    * one reducer to get its curriculum order.
    */
  def curriculumPhases(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = t(spark, sfDir, "documents")
      .select(col("doc_id"), r4(Text.QScore.score).as("quality_score"))
    ordered(
      ntileGlobal(scored, Seq(col("quality_score").asc, col("doc_id").asc),
                  4, "phase")
        .select(col("doc_id"), col("quality_score"), col("phase")),
      "doc_id")
  }

  /** Chi-square independence cells for order priority × status: observed
    * count, expected under independence (row·col/N — one division of exact
    * BIGINT products), per-cell contribution (obs−exp)²/exp, and the grand
    * χ² total. The total is a sum OF doubles, so each contribution is cast
    * to DECIMAL(28,8) before summing (associative, partition-order-proof —
    * the q_token_entropy pattern). The contingency table is |priorities|×
    * |statuses| rows; everything after the first groupBy is broadcast-sized.
    */
  def chi2Independence(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority").as("pr"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("obs"))
    val rt = o.groupBy(col("pr")).agg(sum(col("obs")).as("r"))
    val ct = o.groupBy(col("st")).agg(sum(col("obs")).as("c"))
    val nn = o.agg(sum(col("obs")).as("nn"))
    val cells = o.join(broadcast(rt), "pr").join(broadcast(ct), "st")
      .crossJoin(broadcast(nn))
      .withColumn("ex", (col("r") * col("c")).cast("double") / col("nn").cast("double"))
      .withColumn("contrib",
        (col("obs").cast("double") - col("ex")) *
        (col("obs").cast("double") - col("ex")) / col("ex"))
    val total = cells.agg(
      sum(col("contrib").cast("decimal(28,8)")).cast("double").as("chi2"))
    ordered(
      cells.crossJoin(broadcast(total))
        .select(col("pr").as("o_orderpriority"), col("st").as("o_orderstatus"),
                col("obs"), r4(col("ex")).as("expected"),
                r4(col("contrib")).as("contrib"),
                r4(col("chi2")).as("chi2_total")),
      "o_orderpriority", "o_orderstatus")
  }

  /** Lag-1..maxLag autocorrelation of the daily revenue series — the
    * time-series memory diagnostic (seasonality / momentum screening)
    * behind forecast-model choice. AGGREGATE-FIRST: the 100 TB fact table
    * collapses to one DECIMAL-exact row per calendar day before any window
    * touches it, so the single-partition lead() window sorts a calendar-
    * bounded series (~thousands of rows at any fact scale), never the fact
    * table. Per-lag Pearson moments follow the [[Relational.corrAgg]]
    * discipline: DECIMAL(38,4) products summed associatively, doubles only
    * in the final mirrored corr expression, r4-rounded. The lagged frame
    * feeds one aggregate per lag, so it is persisted (a ~day-count×4 frame).
    *
    * Estimator choice (deliberate): each lag's value is the PEARSON
    * CORRELATION OF THE (x_t, x_{t+l}) PAIRS — per-lag means and
    * variances over the overlap window — not the textbook ACF that
    * normalizes every lag's autocovariance by the full-series variance
    * about the global mean (statsmodels/R `acf`). The Pearson form is
    * exactly SQL-expressible with the mirrored-moment discipline (so the
    * oracle hash-gates it) and the two agree asymptotically; expect
    * small finite-sample differences vs `acf` output at the tails.
    */
  def autocorr(spark: SparkSession, sfDir: String, maxLag: Int = 3): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      // down-cast the day sum to (18,2) so the cross products stay inside
      // DECIMAL(38,4) on BOTH engines (DuckDB errors on (38,2)×(38,2))
      .agg(sum(money(col("o_totalprice"))).cast("decimal(18,2)").as("rev"))
    val w = Window.orderBy(col("d").asc)
    val lagged = daily.select(
      col("d") +: col("rev") +:
      (1 to maxLag).map(l => lead(col("rev"), l).over(w).as(s"rev_$l")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perLag = (1 to maxLag).map { l =>
      def x = col("rev"); def y = col(s"rev_$l")
      lagged.filter(y.isNotNull)
        .agg(count(lit(1)).as("n"),
             sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
             sum((x * y).cast("decimal(38,4)")).cast("double").as("sxy"),
             sum((x * x).cast("decimal(38,4)")).cast("double").as("sxx"),
             sum((y * y).cast("decimal(38,4)")).cast("double").as("syy"))
        .select(lit(l).as("lag"), col("n").as("n_pairs"),
                r4((col("n") * col("sxy") - col("sx") * col("sy")) /
                   (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                    sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
                  .as("acf"))
    }
    ordered(perLag.reduce(_ unionAll _), "lag")
  }

  /** Mann–Kendall trend test per return-flag segment — the nonparametric
    * monotone-trend detector (no distributional assumption, robust to
    * outliers) on the MONTHLY shipped-quantity series. AGGREGATE-FIRST:
    * the fact table collapses to a DECIMAL-exact (group × month) frame, so
    * the O(m²) sign-pair self-join runs over calendar-bounded series
    * (~84 months → ~3.5k pairs per group at ANY fact scale) — the pair
    * volume is a property of the calendar, not the data. S = Σ_{i<j}
    * sign(x_j − x_i) on exact DECIMAL comparisons; the tie-corrected
    * variance numerator var18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5) stays
    * BIGINT (18·VarS, division deferred); z is the one mirrored IEEE
    * chain (continuity-corrected, 0.0 at S=0), r4-rounded. The monthly
    * frame feeds four legs (pair join twice, n, ties) → persisted.
    */
  def mkTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag").as("grp"),
               date_trunc("month", col("l_shipdate")).cast("date").as("m"))
      .agg(sum(money(col("l_quantity"))).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s = monthly.select(col("grp"), col("m").as("mi"), col("v").as("vi"))
      .join(monthly.select(col("grp"), col("m").as("mj"), col("v").as("vj")),
            "grp")
      .filter(col("mi") < col("mj"))
      .groupBy(col("grp"))
      .agg(sum(when(col("vj") > col("vi"), 1L)
                 .when(col("vj") < col("vi"), -1L).otherwise(0L)).as("s"))
    val n = monthly.groupBy(col("grp")).agg(count(lit(1)).as("n_periods"))
    val ties = monthly.groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("grp"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tsum"))
    val nL = col("n_periods")
    val var18 = nL * (nL - 1) * (lit(2) * nL + 5) - col("tsum")
    val sD = col("s").cast("double")
    val zRaw = when(col("s") > 0, (sD - lit(1.0)) / sqrt(col("var18").cast("double") / lit(18.0)))
      .when(col("s") < 0, (sD + lit(1.0)) / sqrt(col("var18").cast("double") / lit(18.0)))
      .otherwise(lit(0.0))
    ordered(
      n.join(s, "grp").join(ties, "grp")
        .withColumn("var18", var18)
        .select(col("grp").as("l_returnflag"), col("n_periods"), col("s"),
                col("var18"), r4(zRaw).as("z")),
      "l_returnflag")
  }

  /** Seasonal Mann–Kendall (Hirsch & Slack 1984) on the monthly revenue
    * series — the published fix for [[mkTrend]]'s blind spot: a strong
    * seasonal cycle swamps the plain MK statistic, so the test runs
    * WITHIN each season (month-of-year) and sums the per-season S and
    * variance (seasons are independent under H₀). Output: one row per
    * season (moy 1–12: years compared, S_m, var18_m) plus the TOTAL row
    * (moy 0) carrying the continuity-corrected z — the only row a
    * decision reads, the per-season rows being the diagnostic. Same
    * AGGREGATE-FIRST shape as mkTrend: pair volume is years²·12, a
    * calendar property at any fact scale; S from exact DECIMAL
    * comparisons, variances BIGINT, z one mirrored chain.
    */
  def seasonalMk(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = t(spark, sfDir, "orders")
      .groupBy(month(col("o_orderdate")).as("moy"),
               year(col("o_orderdate")).as("yr"))
      .agg(sum(money(col("o_totalprice"))).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s = monthly.select(col("moy"), col("yr").as("yi"), col("v").as("vi"))
      .join(monthly.select(col("moy"), col("yr").as("yj"), col("v").as("vj")),
            "moy")
      .filter(col("yi") < col("yj"))
      .groupBy(col("moy"))
      .agg(sum(when(col("vj") > col("vi"), 1L)
                 .when(col("vj") < col("vi"), -1L).otherwise(0L)).as("s"))
    val n = monthly.groupBy(col("moy")).agg(count(lit(1)).as("n_years"))
    val ties = monthly.groupBy(col("moy"), col("v"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("moy"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tsum"))
    val nL = col("n_years")
    val perSeason = n.join(s, "moy").join(ties, "moy")
      .select(col("moy"), col("n_years"), col("s"),
              (nL * (nL - 1) * (lit(2) * nL + 5) - col("tsum")).as("var18"))
    val total = perSeason.agg(sum(col("n_years")).as("n_years"),
                              sum(col("s")).as("s"),
                              sum(col("var18")).as("var18"))
      .withColumn("moy", lit(0))
    val sD = col("s").cast("double")
    val zExpr = when(col("s") > 0,
                     (sD - lit(1.0)) / sqrt(col("var18").cast("double") / lit(18.0)))
      .when(col("s") < 0,
            (sD + lit(1.0)) / sqrt(col("var18").cast("double") / lit(18.0)))
      .otherwise(lit(0.0))
    ordered(
      perSeason.withColumn("z", lit(null).cast("double"))
        .unionByName(total.withColumn("z", r4(zExpr)))
        .select(col("moy"), col("n_years"), col("s"), col("var18"), col("z")),
      "moy")
  }

  /** Grubbs' outlier statistic on the daily revenue series — "is the most
    * extreme day a statistical outlier": G = max|xᵢ − x̄|/s (Grubbs
    * 1950), with WHICH day it is. [[outlierZscore]] flags every point
    * against a threshold; this reports the single worst one with its
    * test statistic. Moments from exact cents (squares DECIMAL(38,0) via
    * the pre-multiply cast); the argmax is a deterministic struct-min on
    * (−deviation, day) — exact-tie days resolve to the earliest.
    */
  def grubbs(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("rc"))
    val m = daily.agg(count(lit(1)).as("n"), sum(col("rc")).as("s"),
                      sum((col("rc").cast("decimal(19,0)") * col("rc"))
                        .cast("decimal(38,0)")).as("ss"))
    val nD = col("n").cast("double")
    val mean = col("s").cast("double") / nD
    val sd = sqrt((col("ss").cast("double") -
                   col("s").cast("double") * col("s").cast("double") / nD) /
                  (nD - lit(1.0)))
    val dev = abs(col("rc").cast("double") - mean)
    val best = daily.crossJoin(broadcast(m))
      .withColumn("negdev", -dev)
      .agg(min(struct(col("negdev"), col("d"), col("rc"),
                      col("n"), col("s"), col("ss"))).as("b"))
      .select(col("b.*"))
    best.select(col("n").as("n_days"),
                r4(mean / lit(100.0)).as("mean_rev"),
                r4(sd / lit(100.0)).as("sd_rev"),
                col("d").as("outlier_day"),
                r4(col("rc").cast("double") / lit(100.0)).as("outlier_rev"),
                r4(-col("negdev") / sd).as("g"))
  }

  /** Hurst exponent of the daily revenue series by rescaled-range (R/S)
    * analysis (Hurst 1951; Mandelbrot's long-memory diagnostic — H ≈ 0.5
    * is a random walk, H > 0.5 persistent trends, H < 0.5 mean
    * reversion; the companion [[autocorr]] sees only fixed small lags).
    * The series splits into FULL blocks of n ∈ {8,16,32,64} days; per
    * block, R = range of the cumulative deviations from the block mean
    * and S = the population sd, both assembled from exact-cents prefix
    * sums (block windows are ≤ 64 rows by construction); H is the OLS
    * slope of ln(mean R/S) on ln(n) — the regression runs over FOUR
    * rows. Everything before the per-block windows is the one
    * aggregate-first daily frame, calendar-bounded at any fact volume.
    */
  def hurstExponent(spark: SparkSession, sfDir: String,
                    blockSizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    import spark.implicits._
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("rc"))
      .withColumn("i", row_number().over(Window.orderBy(col("d"))).cast("long"))
    // ONE pipeline over (block size × day) instead of |blockSizes| unioned
    // window branches: the 4-way union measured 2.66 s isolated at sf0.1
    // (pure stage-count overhead on a calendar-bounded frame); the
    // cross-joined shape runs the same windows once, partitioned by
    // (bn, block) — also exactly the oracle's formulation
    val sizesDf = blockSizes.toDF("bn")
    val blk = daily.crossJoin(broadcast(sizesDf))
      .withColumn("b", expr("(i - 1) div bn"))
    val wAll = Window.partitionBy(col("bn"), col("b"))
    val wCum = wAll.orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bnD = col("bn").cast("double")
    val withStats = blk
      .withColumn("cnt", count(lit(1)).over(wAll))
      .filter(col("cnt") === col("bn"))
      .withColumn("s", sum(col("rc")).over(wAll))
      .withColumn("ss", sum((col("rc").cast("decimal(19,0)") * col("rc"))
        .cast("decimal(38,0)")).over(wAll))
      .withColumn("cum", sum(col("rc")).over(wCum))
      .withColumn("k", count(lit(1)).over(wCum))
    val z = col("cum").cast("double") -
      col("k").cast("double") * (col("s").cast("double") / bnD)
    val perN = withStats
      .groupBy(col("bn"), col("b"))
      .agg(max(z).as("zmax"), min(z).as("zmin"),
           // s/ss are block constants — max() is just the deterministic pick
           max(col("s")).as("bs"), max(col("ss")).as("bss"))
      .select(col("bn"),
              ((col("zmax") - col("zmin")) /
               sqrt((col("bss").cast("double") -
                     col("bs").cast("double") * col("bs").cast("double") / bnD)
                    / bnD)).as("rs"))
      .filter(col("rs").isNotNull)
      .groupBy(col("bn"))
      .agg(count(lit(1)).as("n_blocks"),
           (sum(col("rs").cast("decimal(28,8)")).cast("double") /
            count(lit(1))).as("mean_rs"))
      .select(col("bn").as("block_n"), col("n_blocks"), col("mean_rs"))
    val pts = perN
      .withColumn("x", log(col("block_n").cast("double")))
      .withColumn("y", log(col("mean_rs")))
    val fit = pts.agg(count(lit(1)).as("np"),
                      sum(col("x").cast("decimal(28,8)")).as("sx"),
                      sum(col("y").cast("decimal(28,8)")).as("sy"),
                      sum((col("x") * col("y")).cast("decimal(28,8)")).as("sxy"),
                      sum((col("x") * col("x")).cast("decimal(28,8)")).as("sxx"))
    val npD = col("np").cast("double")
    val slope = (npD * col("sxy").cast("double") -
                 col("sx").cast("double") * col("sy").cast("double")) /
      (npD * col("sxx").cast("double") -
       col("sx").cast("double") * col("sx").cast("double"))
    ordered(
      pts.crossJoin(broadcast(fit.select(r4(slope).as("hurst"))))
        .select(col("block_n"), col("n_blocks"),
                r4(col("mean_rs")).as("mean_rs"), col("hurst")),
      "block_n")
  }

  /** Herfindahl–Hirschman concentration index of supplier revenue per
    * nation — the market-concentration screen (monopoly risk / supplier
    * diversification) over the star schema. HHI = 10000·Σ share_i² =
    * 10000·Σ rev_i² / (Σ rev_i)²: both sums are DECIMAL-exact (revenue in
    * exact money, squares at DECIMAL(38,4)), so the index is one mirrored
    * double expression of two exact inputs, r4-rounded. Two hash-aggs
    * (supplier grain, then nation grain) after the dimension joins — the
    * supplier-grain frame is dimension-sized, never fact-sized.
    */
  def hhi(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(spark, sfDir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(sum(money(col("l_extendedprice"))).cast("decimal(18,2)").as("rev"))
    ordered(
      rev.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
             sum(col("rev")).cast("double").as("total"),
             sum((col("rev") * col("rev")).cast("decimal(38,4)")).cast("double").as("sq"))
        .select(col("n_name"), col("n_suppliers"),
                col("total").as("total_rev"),
                r4(lit(10000.0) * col("sq") / (col("total") * col("total"))).as("hhi")),
      "n_name")
  }

  /** Degree assortativity of the part co-purchase graph — the Pearson
    * correlation of (deg(src), deg(dst)) over the directed edge list, the
    * standard "do hubs connect to hubs?" diagnostic (positive: social-like;
    * negative: hub-and-spoke — decides whether hub-targeted salting or
    * degree-based partitioning pays off). Degrees come from one hash-agg;
    * two co-keyed joins attach them to both endpoints; the moment sums run
    * in DECIMAL(38,0) (deg² summed over the edge set wraps a BIGINT once
    * Σdeg³-ish mass passes ~9e18 — the mannWhitney discipline), and r is
    * one mirrored double chain on six exact scalars.
    */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val items = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val edges = items.select(col("l_orderkey"), col("l_partkey").as("src"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("dst")),
            "l_orderkey")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val d38 = "decimal(38,0)"
    val dx = col("dx").cast(d38); val dy = col("dy").cast(d38)
    val g = edges
      .join(deg.select(col("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), "dst")
      .agg(count(lit(1)).as("n_edges"),
           sum(dx).cast("double").as("sx"), sum(dy).cast("double").as("sy"),
           sum(dx * dy).cast("double").as("sxy"),
           sum(dx * dx).cast("double").as("sxx"),
           sum(dy * dy).cast("double").as("syy"))
    g.select(col("n_edges"),
             r4((col("n_edges") * col("sxy") - col("sx") * col("sy")) /
                (sqrt(col("n_edges") * col("sxx") - col("sx") * col("sx")) *
                 sqrt(col("n_edges") * col("syy") - col("sy") * col("sy"))))
               .as("assortativity"))
  }

  /** Per-event-type burstiness of the daily arrival counts — the Fano
    * factor (variance/mean of active-day counts; 1 = Poisson, >1 =
    * bursty/clumped) and the Goh–Barabási burstiness B = (σ−μ)/(σ+μ) ∈
    * (−1, 1). The capacity-planning screen for event pipelines: a bursty
    * type needs peak-sized sinks, a regular one doesn't. AGGREGATE-FIRST:
    * the event stream collapses to (type × epoch-day) BIGINT counts (the
    * day key is integer epoch-µs div, bit-identical in the oracle), then
    * one tiny moments agg per type; count squares sum in DECIMAL(38,0)
    * (a 1e10-events/day key wraps BIGINT at the square). Active-day
    * dispersion by design — zero-event days are not imputed.
    */
  def burstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val DayUs = 86400000000L
    val daily = events(spark, sfDir)
      .groupBy(col("event_type"), expr(s"ts_us div $DayUs").as("day"))
      .agg(count(lit(1)).as("c"))
    val d38 = "decimal(38,0)"
    val g = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
           sum(col("c")).as("sc"),
           sum(col("c").cast(d38) * col("c").cast(d38)).cast("double").as("scc"))
    val nD = col("n_days").cast("double")
    val mean = col("sc").cast("double") / nD
    val variance = (nD * col("scc") -
                    col("sc").cast("double") * col("sc").cast("double")) /
                   (nD * (nD - lit(1.0)))
    val sigma = sqrt(variance)
    ordered(
      g.select(col("event_type"), col("n_days"), col("sc").as("n_events"),
               r4(variance / mean).as("fano"),
               r4((sigma - mean) / (sigma + mean)).as("burstiness")),
      "event_type")
  }

  /** Kendall's τ-b between the monthly quantity and revenue series per
    * return-flag segment — the robust rank-concordance companion to
    * [[Relational.corrAgg]]'s Pearson and spearman's ρ (τ is the one with a
    * direct probabilistic reading: P(concordant) − P(discordant)).
    * AGGREGATE-FIRST like [[mkTrend]]: the fact table collapses to
    * DECIMAL-exact (group × month) rows, so the O(m²) pair join is
    * calendar-bounded at any fact scale. nc − nd = Σ sign(Δx)·sign(Δy)
    * from exact DECIMAL comparisons; tie terms n1 = Σt_x(t_x−1)/2 and
    * n2 = Σt_y(t_y−1)/2 stay BIGINT; τ-b = (nc−nd)/√((n0−n1)(n0−n2)) is
    * one mirrored double chain, r4-rounded.
    */
  def kendallTau(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag").as("grp"),
               date_trunc("month", col("l_shipdate")).cast("date").as("m"))
      .agg(sum(money(col("l_quantity"))).as("x"),
           sum(money(col("l_extendedprice"))).as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def sign(a: Column, b: Column): Column =
      when(b > a, 1L).when(b < a, -1L).otherwise(0L)
    val s = monthly.select(col("grp"), col("m").as("mi"),
                           col("x").as("xi"), col("y").as("yi"))
      .join(monthly.select(col("grp"), col("m").as("mj"),
                           col("x").as("xj"), col("y").as("yj")), "grp")
      .filter(col("mi") < col("mj"))
      .groupBy(col("grp"))
      .agg(sum(sign(col("xi"), col("xj")) * sign(col("yi"), col("yj")))
             .as("s"))
    val n = monthly.groupBy(col("grp")).agg(count(lit(1)).as("n_periods"))
    def tiePairs(c: String, out: String) =
      monthly.groupBy(col("grp"), col(c)).agg(count(lit(1)).as("t"))
        .groupBy(col("grp"))
        .agg(sum(col("t") * (col("t") - 1)).as(out)) // doubled pair count
    val tx = tiePairs("x", "tx2"); val ty = tiePairs("y", "ty2")
    val n02 = col("n_periods") * (col("n_periods") - 1) // doubled n0
    ordered(
      n.join(s, "grp").join(tx, "grp").join(ty, "grp")
        .select(col("grp").as("l_returnflag"), col("n_periods"), col("s"),
                // integer `div`, not `/` (which is a DOUBLE divide on longs)
                expr("tx2 div 2").as("n1"), expr("ty2 div 2").as("n2"),
                // doubled counts cancel: (n0−n1)(n0−n2) = (n02−tx2)(n02−ty2)/4
                r4(col("s").cast("double") /
                   sqrt((n02 - col("tx2")).cast("double") *
                        (n02 - col("ty2")).cast("double") / lit(4.0)))
                  .as("tau_b")),
      "l_returnflag")
  }

  /** Cramér's V for the priority × status contingency table — the 0..1
    * effect-size companion to [[chi2Independence]] (a χ² alone grows with
    * N; V answers "how strong is the association"). Same exact pipeline:
    * BIGINT contingency counts, per-cell contributions summed through
    * DECIMAL(28,8) (associative, partition-order-proof), then
    * V = √(χ²/(N·min(r−1, c−1))) as one mirrored double chain. Output is
    * a single row: the table dimensions, χ² and V.
    */
  def cramersV(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority").as("pr"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("obs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rt = o.groupBy(col("pr")).agg(sum(col("obs")).as("r"))
    val ct = o.groupBy(col("st")).agg(sum(col("obs")).as("c"))
    val dims = o.agg(countDistinct(col("pr")).as("n_rows_dim"),
                     countDistinct(col("st")).as("n_cols_dim"),
                     sum(col("obs")).as("n"))
    val chi2 = o.join(broadcast(rt), "pr").join(broadcast(ct), "st")
      .crossJoin(broadcast(dims.select(col("n"))))
      .withColumn("ex", (col("r") * col("c")).cast("double") / col("n").cast("double"))
      .withColumn("contrib",
        (col("obs").cast("double") - col("ex")) *
        (col("obs").cast("double") - col("ex")) / col("ex"))
      .agg(sum(col("contrib").cast("decimal(28,8)")).cast("double").as("chi2"))
    dims.crossJoin(broadcast(chi2))
      .select(col("n_rows_dim"), col("n_cols_dim"), col("n"),
              r4(col("chi2")).as("chi2"),
              r4(sqrt(col("chi2") /
                 (col("n").cast("double") *
                  least(col("n_rows_dim") - 1, col("n_cols_dim") - 1)
                    .cast("double")))).as("cramers_v"))
  }

  /** One-way ANOVA F-statistic of line quantity across return-flag groups —
    * the parametric k-sample mean-difference test ([[mannWhitney]]'s
    * 2-sample nonparametric cousin). Per-group DECIMAL-exact moments
    * (n, Σx, Σx²) come from ONE map-side-combined hash-agg; SSB and SSW
    * need per-group double terms (Σx_g²/n_g), so each term is cast to
    * DECIMAL(28,8) before the k-row sum (associative — the χ² pattern);
    * F = (SSB/(k−1))/(SSW/(N−k)) is one mirrored chain on two exact-ish
    * scalars, r4-rounded. Output: k, N, SSB, SSW, F.
    */
  def anovaF(spark: SparkSession, sfDir: String): DataFrame = {
    def x = money(col("l_quantity"))
    val g = t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("ng"),
           sum(x).as("sg"), // native (28,2) — no down-cast, nothing squares it
           sum((x * x).cast("decimal(30,4)")).cast("double").as("ssg"))
    val terms = g.select(
      col("ng"), col("ssg"), col("sg"),
      ((col("sg").cast("double") * col("sg").cast("double")) /
        col("ng").cast("double")).cast("decimal(28,8)").as("sq_over_n"))
    val agg = terms.agg(
      count(lit(1)).as("k"), sum(col("ng")).as("n"),
      // grand sum through DECIMAL (not a sum OF doubles — k-row order
      // differs between engines and could flip an r4 boundary)
      sum(col("sg")).cast("double").as("sx"),
      sum(col("sq_over_n")).cast("double").as("sqn"),
      sum(col("ssg").cast("decimal(28,8)")).cast("double").as("ssq"))
    val ssb = col("sqn") - (col("sx") * col("sx")) / col("n").cast("double")
    val ssw = col("ssq") - col("sqn")
    agg.select(col("k"), col("n"),
               r4(ssb).as("ssb"), r4(ssw).as("ssw"),
               r4((ssb / (col("k") - 1).cast("double")) /
                  (ssw / (col("n") - col("k")).cast("double"))).as("f"))
  }

  /** Cohen's d for urgent vs non-urgent order value — the standardized
    * mean difference (the magnitude companion to a t/z test, in pooled-SD
    * units). Both groups' moments come from ONE conditional-aggregation
    * pass over the fact table (no second scan, no join): n/Σx/Σx² per arm
    * with DECIMAL-exact sums, then pooled variance and d as one mirrored
    * double chain. Sample variances (n−1 denominators), the textbook
    * pooled form.
    */
  def cohensD(spark: SparkSession, sfDir: String): DataFrame = {
    def v = money(col("o_totalprice"))
    val urgent = col("o_orderpriority") === "1-URGENT"
    val agg = t(spark, sfDir, "orders").agg(
      sum(when(urgent, 1L).otherwise(0L)).as("n_a"),
      sum(when(!urgent, 1L).otherwise(0L)).as("n_b"),
      sum(when(urgent, v).otherwise(lit(null))).cast("double").as("sa"),
      sum(when(!urgent, v).otherwise(lit(null))).cast("double").as("sb"),
      sum(when(urgent, (v * v).cast("decimal(30,4)")).otherwise(lit(null)))
        .cast("double").as("ssa"),
      sum(when(!urgent, (v * v).cast("decimal(30,4)")).otherwise(lit(null)))
        .cast("double").as("ssb"))
    val naD = col("n_a").cast("double"); val nbD = col("n_b").cast("double")
    val ma = col("sa") / naD; val mb = col("sb") / nbD
    val va = (col("ssa") - col("sa") * col("sa") / naD) / (naD - lit(1.0))
    val vb = (col("ssb") - col("sb") * col("sb") / nbD) / (nbD - lit(1.0))
    val sp = sqrt(((naD - lit(1.0)) * va + (nbD - lit(1.0)) * vb) /
                  (naD + nbD - lit(2.0)))
    agg.select(col("n_a"), col("n_b"),
               r4(ma - mb).as("mean_diff"),
               r4((ma - mb) / sp).as("cohens_d"))
  }

  /** Rank-biserial effect size for the [[mannWhitney]] two-sample test —
    * the magnitude companion the z-score lacks (how OFTEN does an urgent
    * order out-price a non-urgent one, as a −1..1 correlation):
    * r_rb = 1 − 2U/(n_a·n_b), computed from the test's own exact doubled-U
    * BIGINT so the two queries can never disagree. One extra projection on
    * the single-row test output; the division is the only double op.
    */
  def rankBiserial(spark: SparkSession, sfDir: String): DataFrame =
    mannWhitney(spark, sfDir)
      .select(col("n_a"), col("n_b"), col("u2_a"),
              // n_a·n_b as a DOUBLE product, not LONG·LONG — the BIGINT
              // product wraps silently once both sides pass ~3e9 rows
              // (the r7 ADVICE overflow class); the double product is the
              // same IEEE op the oracle runs, so the mirror holds
              r4(lit(1.0) - col("u2_a").cast("double") /
                 (col("n_a").cast("double") * col("n_b").cast("double")))
                .as("r_rb"))

  /** Welch's t-test for urgent vs non-urgent order value — the
    * unequal-variance two-sample mean test (the form that stays valid when
    * the arms' spreads differ, which [[cohensD]]'s pooled SD assumes away)
    * with the Welch–Satterthwaite degrees of freedom. Same single
    * conditional-aggregation pass as cohensD: n/Σx/Σx² per arm, sums
    * DECIMAL-exact (squares at (30,4)), then t and df as one mirrored
    * double chain of the six exact aggregates — a 1-row output whose cost
    * is one map-side-combined scan at any fact volume.
    */
  def welchT(spark: SparkSession, sfDir: String): DataFrame = {
    def v = money(col("o_totalprice"))
    val urgent = col("o_orderpriority") === "1-URGENT"
    val agg = t(spark, sfDir, "orders").agg(
      sum(when(urgent, 1L).otherwise(0L)).as("n_a"),
      sum(when(!urgent, 1L).otherwise(0L)).as("n_b"),
      sum(when(urgent, v).otherwise(lit(null))).cast("double").as("sa"),
      sum(when(!urgent, v).otherwise(lit(null))).cast("double").as("sb"),
      sum(when(urgent, (v * v).cast("decimal(30,4)")).otherwise(lit(null)))
        .cast("double").as("ssa"),
      sum(when(!urgent, (v * v).cast("decimal(30,4)")).otherwise(lit(null)))
        .cast("double").as("ssb"))
    val naD = col("n_a").cast("double"); val nbD = col("n_b").cast("double")
    val ma = col("sa") / naD; val mb = col("sb") / nbD
    val va = (col("ssa") - col("sa") * col("sa") / naD) / (naD - lit(1.0))
    val vb = (col("ssb") - col("sb") * col("sb") / nbD) / (nbD - lit(1.0))
    val sea = va / naD; val seb = vb / nbD
    val tStat = (ma - mb) / sqrt(sea + seb)
    val df = (sea + seb) * (sea + seb) /
      (sea * sea / (naD - lit(1.0)) + seb * seb / (nbD - lit(1.0)))
    agg.select(col("n_a"), col("n_b"),
               r4(ma).as("mean_a"), r4(mb).as("mean_b"),
               r4(tStat).as("t"), r4(df).as("df"))
  }

  /** Adamic–Adar link prediction over the part co-purchase graph — the
    * standard common-neighbor score AA(x,y) = Σ_{v ∈ N(x)∩N(y)} 1/ln(deg v)
    * (Adamic & Adar 2003), ranking NON-adjacent part pairs by how many
    * rare shared neighbors connect them ("customers who bought both X and
    * V, and V and Y — will X and Y co-purchase next?"). The graph is the
    * SUPPORT-THRESHOLDED co-purchase graph (parts co-ordered ≥ minSup
    * times; the 25-brand graph the other graph ops use is a near-clique —
    * complete graphs have no links to predict — while the part graph is
    * sparse at every scale). Candidate pairs come from the same wedge
    * enumeration as [[clusteringCoeff]] (ordered neighbor pairs around
    * each center), so candidate volume is Σ deg² over the thresholded
    * graph, and existing edges are removed with one anti-join on the
    * canonical a<b edge list. Each wedge center contributes 1/ln(deg v)
    * (deg ≥ 2 for any wedge center, so ln > 0); terms are cast
    * DECIMAL(28,8) before the per-pair sum so the double additions are
    * associative (the chi-square/entropy discipline). The edge frame feeds
    * four legs → persisted.
    */
  def adamicAdar(spark: SparkSession, sfDir: String,
                 minSup: Int = 2): DataFrame = {
    val items = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val edges = items.select(col("l_orderkey"), col("l_partkey").as("a"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("b")),
            "l_orderkey")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("np"))
      .filter(col("np") >= minSup)
      .select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = edges.select(col("a").as("v"), col("b").as("u"))
      .union(edges.select(col("b").as("v"), col("a").as("u")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val wedges = adj.select(col("v"), col("u").as("x"))
      .join(adj.select(col("v"), col("u").as("y")), "v")
      .filter(col("x") < col("y"))
    val scored = wedges
      .join(deg, "v")
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_common"),
           sum((lit(1.0) / log(col("deg").cast("double")))
             .cast("decimal(28,8)")).as("aa_sum"))
    ordered(
      scored
        .join(edges, scored("x") === edges("a") && scored("y") === edges("b"),
              "left_anti")
        .select(col("x").as("part_a"), col("y").as("part_b"),
                col("n_common"), r4(col("aa_sum").cast("double")).as("aa_score")),
      "part_a", "part_b")
  }

  /** Neighbor-set Jaccard link prediction (the Liben-Nowell–Kleinberg
    * baseline next to [[adamicAdar]]'s log-weighted score): for
    * NON-adjacent part pairs sharing ≥ 1 common co-purchase neighbor,
    * J = |N(x)∩N(y)| / (deg x + deg y − |N(x)∩N(y)|), top-50. Same
    * wedge-join shape as adamicAdar (common neighbors enumerated through
    * the shared endpoint — never a node×node cross), with degrees joined
    * per endpoint and the union size by inclusion-exclusion from exact
    * integer counts; one r4 double at the end, total-order tiebreak on
    * the pair ids. At 100 TB the wedge volume is Σ_v deg(v)² — bounded
    * by the same min-support prune that keeps adamicAdar's hub wedges
    * in check.
    */
  def linkPredJaccard(spark: SparkSession, sfDir: String,
                      minSup: Int = 2, k: Int = 50): DataFrame = {
    val items = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val edges = items.select(col("l_orderkey"), col("l_partkey").as("a"))
      .join(items.select(col("l_orderkey"), col("l_partkey").as("b")),
            "l_orderkey")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("np"))
      .filter(col("np") >= minSup)
      .select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = edges.select(col("a").as("v"), col("b").as("u"))
      .union(edges.select(col("b").as("v"), col("a").as("u")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val wedges = adj.select(col("v"), col("u").as("x"))
      .join(adj.select(col("v"), col("u").as("y")), "v")
      .filter(col("x") < col("y"))
    val common = wedges.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_common"))
    val jac = col("n_common").cast("double") /
              (col("dx") + col("dy") - col("n_common")).cast("double")
    common
      .join(edges, common("x") === edges("a") && common("y") === edges("b"),
            "left_anti")
      .join(deg.select(col("v").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("deg").as("dy")), "y")
      .select(col("x").as("part_a"), col("y").as("part_b"),
              col("n_common"), r4(jac).as("jaccard"))
      .orderBy(col("jaccard").desc, col("part_a").asc, col("part_b").asc)
      .limit(k)
  }

  /** Partial autocorrelation (lags 1–3) of the daily revenue series via
    * the Durbin–Levinson recursion over the CONVENTIONAL ACF (full-series
    * variance about the global mean — the statsmodels/R normalization,
    * deliberately the OTHER estimator from [[autocorr]]'s documented
    * Pearson-of-pairs choice: PACF's recursion assumes a common
    * denominator, so this op carries its own ACF). Exactness: daily cents
    * are exact BIGINTs, centering multiplies through by n (cxₜ = n·xₜ − S,
    * integer — no rational mean), and every autocovariance is one
    * associative DECIMAL(38,0) sum of cx products; the n² factors cancel
    * in each ratio. Doubles appear only in the final mirrored r/φ
    * expressions (the corrAgg discipline). AGGREGATE-FIRST: the fact
    * table collapses to one row per day before the calendar-bounded
    * single-partition lead() window touches anything.
    */
  def pacf(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val st = daily.agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val w = Window.orderBy(col("d").asc)
    val cx = daily.crossJoin(broadcast(st))
      .select(col("d"),
              (qmul(col("n"), col("cents")) - col("s")).cast("decimal(18,0)").as("cx"))
    val led = cx.select(col("cx"),
      lead(col("cx"), 1).over(w).as("c1"),
      lead(col("cx"), 2).over(w).as("c2"),
      lead(col("cx"), 3).over(w).as("c3"))
    val moments = led.agg(
      sum((col("cx") * col("cx")).cast("decimal(38,0)")).as("den"),
      sum((col("cx") * col("c1")).cast("decimal(38,0)")).as("n1"),
      sum((col("cx") * col("c2")).cast("decimal(38,0)")).as("n2"),
      sum((col("cx") * col("c3")).cast("decimal(38,0)")).as("n3"))
    moments
      .select(
        (col("n1").cast("double") / col("den").cast("double")).as("r1"),
        (col("n2").cast("double") / col("den").cast("double")).as("r2"),
        (col("n3").cast("double") / col("den").cast("double")).as("r3"))
      .select(col("r1"), col("r2"), col("r3"),
              expr("(r2 - r1 * r1) / (1.0 - r1 * r1)").as("p22"))
      .select(col("r1"), col("r2"), col("r3"), col("p22"),
              expr("r1 - p22 * r1").as("p21"))
      .select(
        r4(col("r1")).as("acf1"), r4(col("r2")).as("acf2"),
        r4(col("r3")).as("acf3"),
        r4(col("r1")).as("pacf1"), r4(col("p22")).as("pacf2"),
        r4(expr("(r3 - p21 * r2 - p22 * r1) / (1.0 - p21 * r1 - p22 * r2)"))
          .as("pacf3"))
  }

  /** Lead–lag cross-correlation between daily order revenue and daily
    * shipped quantity (lags −3..+3 days) — the "does booking predict
    * shipping" diagnostic a forecasting pipeline runs before picking
    * exogenous regressors. AGGREGATE-FIRST to two calendar-bounded daily
    * series (exact cents / quantity-cents BIGINTs), then each lag pairs
    * x(d) with y(d+lag) by an EQUI-join on the shifted date (the lag
    * column rides an explode of 7 literals — never a range join), and
    * one grouped aggregate computes the five Pearson moments per lag as
    * associative DECIMAL(38,0) sums; doubles only in the final mirrored
    * corr expression (the corrAgg discipline, per-lag means over the
    * overlap — the [[autocorr]] estimator family).
    */
  def crossCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val xs = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("xc"))
    val ys = t(spark, sfDir, "lineitem")
      .groupBy(col("l_shipdate").cast("date").as("d2"))
      .agg(sum(floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long"))
        .as("yc"))
    val d380 = "decimal(38,0)"
    val paired = xs
      .select(col("d"), col("xc"),
              explode(array((-3 to 3).map(l => lit(l)): _*)).as("lag"))
      .withColumn("dj", expr("date_add(d, lag)"))
      .join(ys, col("d2") === col("dj"))
    ordered(
      paired.groupBy(col("lag").cast("long").as("lag"))
        .agg(count(lit(1)).as("n_days"),
             sum(col("xc").cast(d380)).as("sx"),
             sum(col("yc").cast(d380)).as("sy"),
             sum((col("xc").cast("decimal(18,0)") * col("yc").cast("decimal(18,0)"))
               .cast(d380)).as("sxy"),
             sum((col("xc").cast("decimal(18,0)") * col("xc").cast("decimal(18,0)"))
               .cast(d380)).as("sxx"),
             sum((col("yc").cast("decimal(18,0)") * col("yc").cast("decimal(18,0)"))
               .cast(d380)).as("syy"))
        .select(col("lag"), col("n_days"),
          r4(expr(
            """(cast(n_days as double) * cast(sxy as double)
              | - cast(sx as double) * cast(sy as double))
              |/ sqrt((cast(n_days as double) * cast(sxx as double)
              |        - cast(sx as double) * cast(sx as double))
              |       * (cast(n_days as double) * cast(syy as double)
              |          - cast(sy as double) * cast(sy as double)))""".stripMargin
              .replace("\n", " "))).as("xcorr")),
      "lag")
  }

  /** McNemar's test for paired binary outcomes — per customer, flag A =
    * "has a finalized (status F) order", flag B = "has an urgent-priority
    * order"; the test asks whether the two flags flip in one direction
    * more than the other, from the DISCORDANT cells only (b = A-only,
    * c = B-only): χ² = (|b−c|−1)²/(b+c), the continuity-corrected form
    * (documented choice). One customer-grain hash-agg for the flags, one
    * 1-row conditional aggregate for the 2×2 cells — exact integers until
    * the single final division.
    */
  def mcnemar(spark: SparkSession, sfDir: String): DataFrame = {
    val flags = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("a"),
           max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("b"))
    flags.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L)).as("n_both"),
        sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L)).as("a_only"),
        sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L)).as("b_only"),
        sum(when(col("a") === 0 && col("b") === 0, 1L).otherwise(0L)).as("n_neither"))
      .select(col("n_pairs"), col("n_both"), col("a_only"), col("b_only"),
              col("n_neither"),
              r4(expr(
                """cast((abs(a_only - b_only) - 1) * (abs(a_only - b_only) - 1)
                  |  as double) / cast(a_only + b_only as double)"""
                  .stripMargin.replace("\n", " "))).as("chi2_cc"))
  }


  /** Growth accounting — the monthly MAU ledger (new / retained /
    * resurrected / churned) every growth dashboard opens with, over
    * customer order activity: a customer-month is NEW when it is the
    * customer's first active month, RETAINED when the previous calendar
    * month was active, RESURRECTED when the customer returns after a gap,
    * and a customer CHURNS INTO month m when m−1 was active and m is not
    * (reported on m, the month the loss is visible). One distinct
    * customer-month frame, one per-customer lag/lead window (frames
    * bounded by a customer's active-month count), two grouped aggregates
    * stitched on the month spine — fact-linear at any scale, and a
    * balance check holds by construction: active(m) = new + retained +
    * resurrected.
    */
  def growthAccounting(spark: SparkSession, sfDir: String): DataFrame = {
    val um = t(spark, sfDir, "orders")
      .select(col("o_custkey").as("c"),
              date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .distinct()
    val w = Window.partitionBy(col("c")).orderBy(col("m").asc)
    val flagged = um
      .withColumn("prev_m", lag(col("m"), 1).over(w))
      .withColumn("next_m", lead(col("m"), 1).over(w))
    val classes = flagged.groupBy(col("m"))
      .agg(count(lit(1)).as("n_active"),
           sum(when(col("prev_m").isNull, 1L).otherwise(0L)).as("n_new"),
           sum(when(col("prev_m") === add_months(col("m"), -1), 1L)
             .otherwise(0L)).as("n_retained"),
           sum(when(col("prev_m").isNotNull &&
                    col("prev_m") < add_months(col("m"), -1), 1L)
             .otherwise(0L)).as("n_resurrected"))
    // a row churns INTO m+1 when its next active month skips m+1 (or
    // never comes); aggregate on the month it lands in
    val churn = flagged
      .filter(col("next_m").isNull || col("next_m") > add_months(col("m"), 1))
      .groupBy(add_months(col("m"), 1).as("m"))
      .agg(count(lit(1)).as("n_churned"))
    ordered(
      classes.join(churn, Seq("m"), "left")
        .select(col("m").as("month"), col("n_active"), col("n_new"),
                col("n_retained"), col("n_resurrected"),
                coalesce(col("n_churned"), lit(0L)).as("n_churned")),
      "month")
  }

  /** Cochran's Q — the k-treatment extension of [[mcnemar]] for correlated
    * binary outcomes: per customer (block), three flags (has a finalized
    * order / has an urgent order / has a high-priority order); Q tests
    * whether the three rates differ, from exact integer column totals T_j
    * and row totals R_i: Q = (k−1)·(k·ΣT_j² − (ΣT_j)²) / (k·ΣR_i − ΣR_i²).
    * One customer-grain hash-agg, one 1-row aggregate, a single final
    * division.
    */
  def cochranQ(spark: SparkSession, sfDir: String): DataFrame = {
    val flags = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("x1"),
           max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("x2"),
           max(when(col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L)).as("x3"))
    flags
      .select(col("x1"), col("x2"), col("x3"),
              (col("x1") + col("x2") + col("x3")).as("r"))
      .agg(count(lit(1)).as("n_blocks"),
           sum(col("x1")).as("t1"), sum(col("x2")).as("t2"),
           sum(col("x3")).as("t3"),
           sum(col("r")).as("sr"), sum(col("r") * col("r")).as("sr2"))
      .select(col("n_blocks"), col("t1"), col("t2"), col("t3"),
              r4(expr(
                ("cast(2 * (3 * (t1 * t1 + t2 * t2 + t3 * t3)" +
                 " - (t1 + t2 + t3) * (t1 + t2 + t3)) as double)" +
                 " / cast(3 * sr - sr2 as double)"))).as("q_stat"))
  }

  /** First-order partial correlation — revenue vs quantity per order,
    * CONTROLLING for discount: r_xy·z = (r_xy − r_xz·r_yz) /
    * √((1−r_xz²)(1−r_yz²)). The three pairwise Pearson r's come from one
    * order-grain projection (exact cents / quantity / discount basis
    * points) and ONE wide aggregate of nine DECIMAL(38,0) moments;
    * doubles only in the mirrored final expressions (the corrAgg
    * discipline). The "is the raw correlation just the discount channel"
    * screen, one hash-agg at any scale.
    */
  def partialCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val d190 = "decimal(19,0)"
    val per = t(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(floor(col("l_quantity") * 100.0 + 0.5).cast("long")).as("x"),
           sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")).as("y"),
           sum(floor(col("l_discount") * 10000.0 + 0.5).cast("long")).as("z"))
    val m = per.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum(col("z").cast("decimal(38,0)")).as("sz"),
      sum((col("x").cast(d190) * col("y").cast(d190)).cast("decimal(38,0)")).as("sxy"),
      sum((col("x").cast(d190) * col("z").cast(d190)).cast("decimal(38,0)")).as("sxz"),
      sum((col("y").cast(d190) * col("z").cast(d190)).cast("decimal(38,0)")).as("syz"),
      sum((col("x").cast(d190) * col("x").cast(d190)).cast("decimal(38,0)")).as("sxx"),
      sum((col("y").cast(d190) * col("y").cast(d190)).cast("decimal(38,0)")).as("syy"),
      sum((col("z").cast(d190) * col("z").cast(d190)).cast("decimal(38,0)")).as("szz"))
    def corr(nm: String, sab: String, sa: String, sb: String,
             saa: String, sbb: String) =
      expr(s"""(cast(n as double) * cast($sab as double)
              | - cast($sa as double) * cast($sb as double))
              |/ sqrt((cast(n as double) * cast($saa as double)
              |        - cast($sa as double) * cast($sa as double))
              |       * (cast(n as double) * cast($sbb as double)
              |          - cast($sb as double) * cast($sb as double)))"""
        .stripMargin.replace("\n", " ")).as(nm)
    m.select(col("n").as("n_orders"),
             corr("rxy", "sxy", "sx", "sy", "sxx", "syy"),
             corr("rxz", "sxz", "sx", "sz", "sxx", "szz"),
             corr("ryz", "syz", "sy", "sz", "syy", "szz"))
      .select(col("n_orders"), r4(col("rxy")).as("r_xy"),
              r4(col("rxz")).as("r_xz"), r4(col("ryz")).as("r_yz"),
              r4(expr("(rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))"))
                .as("r_xy_given_z"))
  }

  /** Difference-in-differences — the quasi-experimental effect estimate:
    * treated = BUILDING-segment customers, post = orders from 1998-01-01,
    * outcome = mean order value. DiD = (ȳ_T,post − ȳ_T,pre) −
    * (ȳ_C,post − ȳ_C,pre), from four exact DECIMAL sums/counts in one
    * grouped aggregate. The customer→treated map is fact-scaling (customer
    * grows with SF), so NO broadcast hint — AQE broadcasts the 2-column
    * projection while it fits and degrades to a shuffled join at 100 TB.
    * Doubles only in the four means and the final difference.
    */
  def did(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = "1998-01-01"
    val grp = t(spark, sfDir, "orders")
      .join(t(spark, sfDir, "customer")
        .select(col("c_custkey"), (col("c_mktsegment") === "BUILDING").as("treated")),
        col("o_custkey") === col("c_custkey"))
      .select(col("treated"),
              (col("o_orderdate").cast("date") >= lit(cut).cast("date")).as("post"),
              money(col("o_totalprice")).as("tp"))
      .groupBy(col("treated"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("tp")).as("s"))
      .select(col("treated"), col("post"),
              (col("s").cast("double") / col("n").cast("double")).as("mean"))
    val wide = grp.agg(
      max(when(col("treated") && col("post"), col("mean"))).as("tp1"),
      max(when(col("treated") && !col("post"), col("mean"))).as("tp0"),
      max(when(!col("treated") && col("post"), col("mean"))).as("cp1"),
      max(when(!col("treated") && !col("post"), col("mean"))).as("cp0"))
    wide.select(r4(col("tp0")).as("treated_pre"), r4(col("tp1")).as("treated_post"),
                r4(col("cp0")).as("control_pre"), r4(col("cp1")).as("control_post"),
                r4(expr("(tp1 - tp0) - (cp1 - cp0)")).as("did"))
  }

  /** Sample-ratio mismatch check — the experiment-health gate run before
    * trusting any A/B readout: observed [[graft.operators.Text.splitAssign]]
    * bucket counts vs the DESIGNED 80/10/10 allocation, per-split χ²
    * contribution from exact counts (expected = total·p computed as an
    * integer-scaled product, one double division per cell). A real SRM
    * fires an alert; here the deterministic modulo split is exact by
    * construction, so contributions hover at rounding-level — which is
    * itself the assertion.
    */
  def srmCheck(spark: SparkSession, sfDir: String): DataFrame = {
    // designed allocation in permille: train 800, val 100, test 100
    val alloc = Seq(("train", 800L), ("val", 100L), ("test", 100L))
    val allocDf = {
      import spark.implicits._
      alloc.toDF("split", "permille")
    }
    val obs = Text.splitAssign(spark, sfDir)
      .groupBy(col("split")).agg(count(lit(1)).as("observed"))
    val tot = obs.agg(sum(col("observed")).as("total"))
    ordered(
      obs.join(broadcast(allocDf), "split")
        .crossJoin(broadcast(tot))
        .select(col("split"), col("observed"),
                r4(expr("cast(total * permille as double) / 1000.0")).as("expected"),
                r4(expr(
                  """(cast(observed as double) - cast(total * permille as double) / 1000.0)
                    |* (cast(observed as double) - cast(total * permille as double) / 1000.0)
                    |/ (cast(total * permille as double) / 1000.0)"""
                    .stripMargin.replace("\n", " "))).as("chi2_contrib")),
      "split")
  }

  /** Log-rank test — the two-group survival comparison (Mantel 1966): do
    * BUILDING-segment customers stay active longer than the rest? Same
    * lifetime/censoring construction as [[survivalKm]] (duration = first→
    * last order, censored within `censorDays` of the horizon), but the
    * duration grain now carries per-group deaths/totals. At each event
    * time the group-1 expected deaths e₁ = d·n₁/n and hypergeometric
    * variance v = d·(n₁/n)·(n₂/n)·(n−d)/(n−1) accumulate as
    * DECIMAL(28,8)-cast terms (associative — partition-order independent,
    * the survivalKm ln-sum discipline); χ² = (O₁−E₁)²/V is one final
    * double. The grain is calendar-bounded (≤ span-in-days rows at any
    * fact volume), so the unpartitioned prefix-sum windows run over a
    * broadcast-sized frame no matter the SF — the same scale argument as
    * the KM curve itself.
    */
  def logrank(spark: SparkSession, sfDir: String,
              censorDays: Int = 90): DataFrame = {
    val perCust = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate").cast("date")).as("f"),
           max(col("o_orderdate").cast("date")).as("l"))
    val seg = t(spark, sfDir, "customer")
      .select(col("c_custkey"),
              when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L).as("g1"))
    val horizon = t(spark, sfDir, "orders")
      .agg(max(col("o_orderdate").cast("date")).as("hz"))
    // customer scales with SF: no broadcast hint — AQE decides (q_did rule)
    val dur = perCust
      .join(seg, col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(horizon))
      .select(datediff(col("l"), col("f")).cast("long").as("t"),
              col("g1"),
              when(datediff(col("hz"), col("l")) > censorDays, 1L)
                .otherwise(0L).as("ev"))
    val grain = dur.groupBy(col("t"))
      .agg(sum(col("ev") * col("g1")).as("d1"),
           sum(col("ev") * (lit(1L) - col("g1"))).as("d2"),
           sum(col("g1")).as("c1"),
           sum(lit(1L) - col("g1")).as("c2"))
    val wOrd = Window.orderBy(col("t").asc)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val total = grain.agg(sum(col("c1")).as("nt1"), sum(col("c2")).as("nt2"))
    val curve = grain.crossJoin(broadcast(total))
      .withColumn("n1", col("nt1") - coalesce(sum(col("c1")).over(wPrev), lit(0L)))
      .withColumn("n2", col("nt2") - coalesce(sum(col("c2")).over(wPrev), lit(0L)))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("n", col("n1") + col("n2"))
      .filter(col("d") > 0)
      .withColumn("e1",
        (col("d").cast("double") * col("n1").cast("double") /
         col("n").cast("double")).cast("decimal(28,8)"))
      .withColumn("v",
        when(col("n") > 1,
          (col("d").cast("double") * col("n1").cast("double") *
           col("n2").cast("double") * (col("n") - col("d")).cast("double") /
           (col("n").cast("double") * col("n").cast("double") *
            (col("n") - 1).cast("double"))).cast("decimal(28,8)"))
          .otherwise(lit(0).cast("decimal(28,8)")))
    curve.agg(max(col("nt1")).as("n_group1"), max(col("nt2")).as("n_group2"),
              sum(col("d1")).as("o1"), sum(col("e1")).as("se1"),
              sum(col("d2")).as("o2"), sum(col("v")).as("sv"))
      .select(col("n_group1"), col("n_group2"),
              col("o1").as("observed1"),
              r4(col("se1").cast("double")).as("expected1"),
              col("o2").as("observed2"),
              r4(expr("""(cast(o1 as double) - cast(se1 as double))
                        |* (cast(o1 as double) - cast(se1 as double))
                        |/ cast(sv as double)"""
                .stripMargin.replace("\n", " "))).as("chi2"))
  }

  /** Nelson–Aalen cumulative-hazard estimator — the additive dual of the
    * KM product: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over the SAME duration grain as
    * [[survivalKm]], with each hazard increment cast to DECIMAL(28,8) so
    * the running sum is associative, plus the Fleming–Harrington survival
    * S̃(t) = e^(−H(t)) it implies. Where the KM curve needed a hit-zero
    * flag for the n = d terminal time, the NA estimator just adds 1 —
    * hazard stays finite, which is WHY actuaries plot H. Same
    * calendar-bounded grain ⇒ same 100 TB shape.
    */
  def nelsonAalen(spark: SparkSession, sfDir: String,
                  censorDays: Int = 90): DataFrame = {
    val perCust = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate").cast("date")).as("f"),
           max(col("o_orderdate").cast("date")).as("l"))
    val horizon = t(spark, sfDir, "orders")
      .agg(max(col("o_orderdate").cast("date")).as("hz"))
    val dur = perCust.crossJoin(broadcast(horizon))
      .select(datediff(col("l"), col("f")).cast("long").as("t"),
              when(datediff(col("hz"), col("l")) > censorDays, 1L)
                .otherwise(0L).as("ev"))
    val grain = dur.groupBy(col("t"))
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("c"))
    val wOrd = Window.orderBy(col("t").asc)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val total = grain.agg(sum(col("c")).as("n_total"))
    ordered(
      grain.crossJoin(broadcast(total))
        .withColumn("n_risk",
          col("n_total") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
        .withColumn("hterm",
          (col("d").cast("double") / col("n_risk").cast("double"))
            .cast("decimal(28,8)"))
        .withColumn("h", sum(col("hterm")).over(wCum))
        .filter(col("d") > 0)
        .select(col("t").as("duration_days"), col("n_risk"),
                col("d").as("deaths"),
                r4(col("h").cast("double")).as("cum_hazard"),
                r4(exp(-col("h").cast("double"))).as("fh_survival")),
      "duration_days")
  }

  /** Durbin–Watson statistic — the first-order autocorrelation screen on
    * regression residuals: daily revenue regressed on the day index (the
    * exact-moment OLS of q_regr_agg), then DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² over the
    * date-ordered residual series. Slope/intercept come from one wide
    * aggregate of DECIMAL(38,0) integer moments (cents × day-index —
    * exact); residuals are per-row doubles from those exact inputs, and
    * both quadratic sums accumulate as DECIMAL(28,8) casts so the answer
    * is partition-order independent. The series is DATE-grain — calendar-
    * bounded, so the unpartitioned lag window is broadcast-sized at any
    * SF; the fact table only ever feeds one hash-agg.
    */
  def durbinWatson(spark: SparkSession, sfDir: String): DataFrame = {
    val d190 = "decimal(19,0)"
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("y"))
    val base = daily.agg(min(col("d")).as("d0"))
    val pts = daily.crossJoin(broadcast(base))
      .select(datediff(col("d"), col("d0")).cast("long").as("x"), col("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = pts.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("x").cast(d190) * col("y").cast(d190)).cast("decimal(38,0)")).as("sxy"),
      sum((col("x").cast(d190) * col("x").cast(d190)).cast("decimal(38,0)")).as("sxx"))
      .select(col("n"),
              expr("""(cast(n as double) * cast(sxy as double)
                     | - cast(sx as double) * cast(sy as double))
                     |/ (cast(n as double) * cast(sxx as double)
                     |   - cast(sx as double) * cast(sx as double))"""
                .stripMargin.replace("\n", " ")).as("b"),
              expr("cast(sy as double) / cast(n as double)").as("my"),
              expr("cast(sx as double) / cast(n as double)").as("mx"))
    val wOrd = Window.orderBy(col("x").asc)
    val resid = pts.crossJoin(broadcast(m))
      .select(col("x"), col("n"),
              (col("y").cast("double") -
               (col("my") + col("b") * (col("x").cast("double") - col("mx"))))
                .as("e"))
      .withColumn("ep", lag(col("e"), 1).over(wOrd))
    // (38,8), not the suite's usual (28,8): residuals are daily-revenue
    // cents, so e² needs ~2·log10(daily volume) integer digits — (38,8)'s
    // 30 give headroom past a 10⁵× volume scale-up where (28,8) overflows
    // already at the 10× decade
    resid.agg(
        max(col("n")).as("n_days"),
        sum((col("e") * col("e")).cast("decimal(38,8)")).as("sse"),
        sum(when(col("ep").isNotNull,
                 ((col("e") - col("ep")) * (col("e") - col("ep")))
                   .cast("decimal(38,8)"))
              .otherwise(lit(0).cast("decimal(38,8)"))).as("sdd"))
      .select(col("n_days"),
              r4(expr("cast(sdd as double) / cast(sse as double)")).as("dw"))
  }

  /** Ljung–Box portmanteau test — "is this series white noise", the
    * companion diagnostic to [[autocorr]]: Q(m) = n(n+2)·Σ_{k≤m} r²ₖ/(n−k)
    * over the daily order-count series, lags 1–5. Unlike autocorr's
    * Pearson-of-pairs estimator this uses the TEXTBOOK ACF — r_k =
    * c_k/c_0 about the global mean — and because counts are integers the
    * mean-centered products clear denominators exactly:
    * (yₜ−S/n)(yₜ₊ₖ−S/n)·n² = (n·yₜ−S)(n·yₜ₊ₖ−S), so every r_k is a ratio
    * of two exact DECIMAL(38,0) sums and the n³ scale factors cancel.
    * The series is date-grain (calendar-bounded ⇒ the 5-lag window and
    * the final fold run on a broadcast-sized frame); the fact table feeds
    * one hash-agg. Output: one row per lag with r_k and the cumulative Q.
    */
  def ljungBox(spark: SparkSession, sfDir: String, m: Int = 5): DataFrame = {
    val d190 = "decimal(19,0)"
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val wOrd = Window.orderBy(col("d").asc)
    // centered value scaled by n: z_t = n*y_t - S (exact integers)
    val z = daily.crossJoin(broadcast(tot))
      .select(col("d"), col("n"), (col("n") * col("y") - col("s")).as("z"))
    val lagged = (1 to m).foldLeft(z) { (df, k) =>
      df.withColumn(s"z$k", lag(col("z"), k).over(wOrd))
    }
    val aggs =
      sum((col("z").cast(d190) * col("z").cast(d190)).cast("decimal(38,0)")).as("c0") +:
      (1 to m).map(k =>
        sum(when(col(s"z$k").isNotNull,
                 (col("z").cast(d190) * col(s"z$k").cast(d190)).cast("decimal(38,0)"))
              .otherwise(lit(0).cast("decimal(38,0)"))).as(s"c$k"))
    val wide = lagged.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(tot.select(col("n"))))
    // unpivot lags to rows, then cumulative Q over the m-row frame
    val stacked = wide.select(col("n"),
      expr((1 to m).map(k => s"$k, cast(c$k as double) / cast(c0 as double)")
        .mkString("stack(" + m + ", ", ", ", ") as (lag, rk)")))
    val wCum = Window.orderBy(col("lag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordered(
      stacked
        .withColumn("qterm",
          // r²/(n−k) ~ 1e-7: (38,18) keeps ~11 significant digits where
          // the suite's usual (28,8) would keep one
          ((col("rk") * col("rk")).cast("double") /
           (col("n") - col("lag")).cast("double")).cast("decimal(38,18)"))
        .withColumn("qsum", sum(col("qterm")).over(wCum))
        .select(col("lag").cast("long").as("lag_k"), r4(col("rk")).as("acf"),
                r4(col("n").cast("double") * (col("n") + 2).cast("double") *
                   col("qsum").cast("double")).as("q_stat")),
      "lag_k")
  }

  /** Two-predictor OLS — revenue ~ quantity + discount at line grain via
    * closed-form normal equations, the multiple-regression step up from
    * q_regr_agg's simple fit: b = (XᵀX)⁻¹Xᵀy computed from ONE wide
    * aggregate of exact DECIMAL(38,0) integer moments (cents / quantity
    * cents / discount basis points — the [[partialCorr]] discipline),
    * centered sums Sxx = n·Σx²−(Σx)² etc. combined in doubles only in the
    * final 2×2 Cramer solve. Also reports R². One fact-linear hash-agg,
    * nothing else touches the data — the regression that runs at 100 TB
    * because it never materializes a design matrix.
    */
  def olsMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val d190 = "decimal(19,0)"
    val li = t(spark, sfDir, "lineitem")
      .select(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("y"),
              floor(col("l_quantity") * 100.0 + 0.5).cast("long").as("x"),
              floor(col("l_discount") * 10000.0 + 0.5).cast("long").as("z"))
    val m = li.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum(col("z").cast("decimal(38,0)")).as("sz"),
      sum((col("x").cast(d190) * col("y").cast(d190)).cast("decimal(38,0)")).as("sxy"),
      sum((col("x").cast(d190) * col("z").cast(d190)).cast("decimal(38,0)")).as("sxz"),
      sum((col("y").cast(d190) * col("z").cast(d190)).cast("decimal(38,0)")).as("szy"),
      sum((col("x").cast(d190) * col("x").cast(d190)).cast("decimal(38,0)")).as("sxx"),
      sum((col("y").cast(d190) * col("y").cast(d190)).cast("decimal(38,0)")).as("syy"),
      sum((col("z").cast(d190) * col("z").cast(d190)).cast("decimal(38,0)")).as("szz"))
    // centered second moments (×n² scale cancels in every ratio below)
    val cent = m.select(col("n"),
      expr("cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)").as("cxx"),
      expr("cast(n as double) * cast(szz as double) - cast(sz as double) * cast(sz as double)").as("czz"),
      expr("cast(n as double) * cast(sxz as double) - cast(sx as double) * cast(sz as double)").as("cxz"),
      expr("cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)").as("cxy"),
      expr("cast(n as double) * cast(szy as double) - cast(sz as double) * cast(sy as double)").as("czy"),
      expr("cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)").as("cyy"),
      expr("cast(sx as double) / cast(n as double)").as("mx"),
      expr("cast(sz as double) / cast(n as double)").as("mz"),
      expr("cast(sy as double) / cast(n as double)").as("my"))
    cent
      .withColumn("det", expr("cxx * czz - cxz * cxz"))
      .withColumn("b1", expr("(czz * cxy - cxz * czy) / det"))
      .withColumn("b2", expr("(cxx * czy - cxz * cxy) / det"))
      .select(col("n").as("n_lines"),
              r4(expr("my - b1 * mx - b2 * mz")).as("intercept"),
              r4(col("b1")).as("b_quantity"),
              r4(col("b2")).as("b_discount"),
              r4(expr("(b1 * cxy + b2 * czy) / cyy")).as("r2"))
  }

  /** Benjamini–Hochberg FDR control — the multiple-testing gate every
    * per-segment metric scan needs: per part-brand z-test of mean
    * quantity against the corpus mean (σ from the global series, exact
    * integer moments), two-sided p via the Abramowitz–Stegun 7.1.26 erfc
    * polynomial (max abs error 1.5e-7 — a FIXED closed-form arithmetic
    * formula, so any engine reproduces it bit-for-bit modulo one exp
    * call), then the BH step-up at α = 0.05: sort p ascending, reject
    * ranks ≤ max{i : pᵢ ≤ i·α/m}, and report the monotone q-value
    * (suffix-min of m·pᵢ/i). Group count m is brand-bounded (~25) at any
    * SF, so the rank/suffix windows run on a broadcast-sized frame; the
    * fact table feeds exactly one hash-agg.
    */
  def bhFdr(spark: SparkSession, sfDir: String,
            alphaBp: Int = 500): DataFrame = {
    val d190 = "decimal(19,0)"
    val li = t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "part").select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
              floor(col("l_quantity") * 100.0 + 0.5).cast("long").as("x"))
    val g = li.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("ng"), sum(col("x").cast("decimal(38,0)")).as("sg"))
    val tot = li.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("s"),
      sum((col("x").cast(d190) * col("x").cast(d190)).cast("decimal(38,0)")).as("s2"))
    // z = (m_g - mu) * sqrt(ng) / sigma; two-sided p = erfc(|z|/sqrt2)
    // computed DIRECTLY as the A&S 7.1.26 tail polynomial (not 1 - erf,
    // which underflows to exactly 0 long before the polynomial does)
    val erfcTail = """(((((1.061405429 * tt - 1.453152027) * tt
                   | + 1.421413741) * tt - 0.284496736) * tt
                   | + 0.254829592) * tt) * exp(-az * az)"""
      .stripMargin.replace("\n", " ")
    val scored = g.crossJoin(broadcast(tot))
      .withColumn("mu", expr("cast(s as double) / cast(n as double)"))
      .withColumn("sigma",
        expr("""sqrt((cast(s2 as double)
               | - cast(s as double) * cast(s as double) / cast(n as double))
               |/ cast(n as double))""".stripMargin.replace("\n", " ")))
      .withColumn("z",
        expr("(cast(sg as double) / cast(ng as double) - mu) * sqrt(cast(ng as double)) / sigma"))
      .withColumn("az", expr("abs(z) / sqrt(2.0)"))
      .withColumn("tt", expr("1.0 / (1.0 + 0.3275911 * az)"))
      .withColumn("p", expr(erfcTail))
    val mCnt = scored.agg(count(lit(1)).as("m"))
    val wRank = Window.orderBy(col("p").asc, col("p_brand").asc)
    val wSuffix = Window.orderBy(col("p").desc, col("p_brand").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = scored.crossJoin(broadcast(mCnt))
      .withColumn("i", row_number().over(wRank))
      .withColumn("qraw",
        expr("cast(m as double) * p / cast(i as double)"))
      .withColumn("q", min(col("qraw")).over(wSuffix))
      .withColumn("pass", col("p") <= col("i").cast("double") *
        lit(alphaBp.toDouble / 10000.0) / col("m").cast("double"))
    val kMax = Window.orderBy(col("i").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ordered(
      ranked
        .withColumn("discovery", max(when(col("pass"), 1).otherwise(0)).over(kMax) === 1)
        .select(col("p_brand"), col("ng").as("n_lines"),
                r4(col("z")).as("z"), r4(col("p")).as("p_value"),
                r4(col("q")).as("q_value"), col("discovery")),
      "p_brand")
  }

  /** Newman–Girvan modularity of a label-propagation partition — the
    * "did community detection find anything" score LPA itself never
    * reports: per community c, Q_c = e_c/m − (d_c/2m)², where e_c is
    * intra-community edges, d_c the community degree sum, m the edge
    * count. Runs on the PART co-purchase graph at co-order support ≥ 2
    * (the q_link_pred_jaccard graph) — deliberately NOT the 25-node brand
    * graph, which is complete at every SF and makes Q identically zero —
    * with 3 LPA supersteps inline (the bounded-round q_label_prop shape:
    * per round one edge-linear join, one (node,label) hash-agg, one
    * node-keyed argmax window). Everything is exact integer aggregates
    * until the per-community contributions.
    */
  def modularity(spark: SparkSession, sfDir: String,
                 minSup: Int = 2, rounds: Int = 3): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = coPurchaseEdges(spark, sfDir)
      .filter(col("w") >= minSup && col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val adj = edges.select(col("a").as("v"), col("b").as("u"))
      .union(edges.select(col("b").as("v"), col("a").as("u")))
    var labels = adj.select(col("v")).distinct().withColumn("lab", col("v"))
    val wv = Window.partitionBy(col("v"))
    for (_ <- 1 to rounds) {
      val nl = adj
        .join(labels.withColumnRenamed("v", "u"), "u")
        .groupBy(col("v"), col("lab")).agg(count(lit(1)).as("cnt"))
      labels = nl.withColumn("mc", max(col("cnt")).over(wv))
        .filter(col("cnt") === col("mc"))
        .groupBy(col("v")).agg(min(col("lab")).as("lab"))
    }
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val mm = edges.agg(count(lit(1)).as("m"))
    val lab2 = labels.persist(StorageLevel.MEMORY_AND_DISK)
    val intra = edges
      .join(lab2.select(col("v").as("a"), col("lab").as("ca")), "a")
      .join(lab2.select(col("v").as("b"), col("lab").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_c"))
    val degc = lab2.join(deg, "v")
      .groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("d_c"))
    ordered(
      degc.join(intra, Seq("community"), "left")
        .crossJoin(broadcast(mm))
        .select(col("community"), col("n_nodes"),
                coalesce(col("e_c"), lit(0L)).as("intra_edges"), col("d_c"),
                r4(coalesce(col("e_c"), lit(0L)).cast("double") / col("m").cast("double") -
                   (col("d_c").cast("double") / (col("m") * 2).cast("double")) *
                   (col("d_c").cast("double") / (col("m") * 2).cast("double")))
                  .as("q_contrib")),
      "community")
  }

  /** Rich-club coefficient φ(k) over the co-purchase graph — do
    * high-degree parts preferentially co-occur with EACH OTHER (hub
    * cliquishness, the assortativity question q_assortativity answers
    * with one number, resolved by threshold): φ(k) = 2·E_k/(N_k·(N_k−1)),
    * the density of the subgraph induced by nodes with degree > k. The
    * thresholds are DATA-ADAPTIVE — the exact p50/p75/p90/p95 degree
    * quantiles (fixed small k's saturate: every node in a dense
    * co-purchase graph clears them and φ flatlines) — found on the
    * degree-GRAIN frame (≤ max-degree rows at any SF) with the
    * q_moods_median rank-selection shape. The edge list is annotated
    * with both endpoint degrees ONCE; each quantile row is answered from
    * that one frame via a broadcast grid. Integer counts throughout.
    */
  def richClub(spark: SparkSession, sfDir: String,
               pcts: Seq[Int] = Seq(50, 75, 90, 95)): DataFrame = {
    import spark.implicits._
    val e = coPurchaseEdges(spark, sfDir)
      .select(col("src"), col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact lower-quantile degrees from the degree-grain frame
    val grain = deg.groupBy(col("dg")).agg(count(lit(1)).as("c"))
    val tot = deg.agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy(col("dg").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grain.withColumn("cc", sum(col("c")).over(wCum))
      .crossJoin(broadcast(tot))
    val grid = pcts.toDF("pct")
    val ks = cum.crossJoin(broadcast(grid))
      .filter(col("cc") * 100 >= col("pct") * col("n"))
      .groupBy(col("pct")).agg(min(col("dg")).as("k"))
    val und = e.filter(col("src") < col("dst"))
      .join(deg.select(col("src"), col("dg").as("ds")), "src")
      .join(deg.select(col("src").as("dst"), col("dg").as("dd")), "dst")
    val nk = deg.crossJoin(broadcast(ks))
      .groupBy(col("pct"), col("k"))
      .agg(sum(when(col("dg") > col("k"), 1L).otherwise(0L)).as("n_k"))
    val ek = und.crossJoin(broadcast(ks))
      .groupBy(col("pct"), col("k"))
      .agg(sum(when(least(col("ds"), col("dd")) > col("k"), 1L).otherwise(0L))
             .as("e_k"))
    ordered(
      nk.join(ek, Seq("pct", "k"))
        .select(col("pct").cast("long").as("pct"), col("k"), col("n_k"), col("e_k"),
                when(col("n_k") >= 2,
                     r4((col("e_k") * 2).cast("double") /
                        (col("n_k") * (col("n_k") - 1)).cast("double")))
                  .as("phi")),
      "pct")
  }

  /** Seasonal-naive forecast accuracy — the baseline every forecasting
    * effort must beat, scored honestly: forecast ŷₜ = yₜ₋₇ (weekly cycle
    * on the observed-day series — ROW lag, stated because calendar gaps
    * make day-7-back ≠ row-7-back), with MAE (exact integer sum), MAPE
    * and sMAPE (per-term rationals accumulated as DECIMAL(38,18) — a
    * plain double sum would be partition-order dependent), and MASE
    * scaled by the naive-1 in-sample MAE (a ratio of two exact integer
    * sums — the scale-free score that survives unit changes).
    */
  def forecastAcc(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("y"))
    val wOrd = Window.orderBy(col("d").asc)
    val lagged = daily
      .withColumn("f7", lag(col("y"), 7).over(wOrd))
      .withColumn("f1", lag(col("y"), 1).over(wOrd))
    lagged.agg(
        count(lit(1)).as("n_days"),
        sum(when(col("f7").isNotNull, 1L).otherwise(0L)).as("n7"),
        sum(when(col("f7").isNotNull, abs(col("y") - col("f7")))
              .otherwise(0L)).as("ae7"),
        sum(when(col("f1").isNotNull, 1L).otherwise(0L)).as("n1"),
        sum(when(col("f1").isNotNull, abs(col("y") - col("f1")))
              .otherwise(0L)).as("ae1"),
        sum(when(col("f7").isNotNull,
                 (abs(col("y") - col("f7")).cast("double") /
                  col("y").cast("double")).cast("decimal(38,18)"))
              .otherwise(lit(0).cast("decimal(38,18)"))).as("ape"),
        sum(when(col("f7").isNotNull,
                 ((abs(col("y") - col("f7")) * 2).cast("double") /
                  (col("y") + col("f7")).cast("double")).cast("decimal(38,18)"))
              .otherwise(lit(0).cast("decimal(38,18)"))).as("sape"))
      .select(col("n_days"), col("n7").as("n_forecast"),
              r4(col("ae7").cast("double") / col("n7").cast("double")).as("mae"),
              r4(col("ape").cast("double") / col("n7").cast("double")).as("mape"),
              r4(col("sape").cast("double") / col("n7").cast("double")).as("smape"),
              r4((col("ae7").cast("double") / col("n7").cast("double")) /
                 (col("ae1").cast("double") / col("n1").cast("double"))).as("mase"))
  }

  /** AR(2) fit via the Yule–Walker equations — the two-line closed form
    * the Durbin–Levinson recursion ([[pacf]]) generalizes: φ₁ =
    * r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²) from the exact textbook ACF
    * of the daily order-count series (integer counts ⇒ r₁, r₂ are ratios
    * of exact DECIMAL(38,0) sums, the [[ljungBox]] construction), plus
    * the innovation-variance ratio σ²ₑ/σ²ᵧ = 1 − φ₁r₁ − φ₂r₂. One
    * fact-linear hash-agg, one calendar-bounded lag window.
    */
  def ar2Yw(spark: SparkSession, sfDir: String): DataFrame = {
    val d190 = "decimal(19,0)"
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val wOrd = Window.orderBy(col("d").asc)
    val z = daily.crossJoin(broadcast(tot))
      .select(col("d"), col("n"), (col("n") * col("y") - col("s")).as("z"))
      .withColumn("z1", lag(col("z"), 1).over(wOrd))
      .withColumn("z2", lag(col("z"), 2).over(wOrd))
    val m = z.agg(
      max(col("n")).as("n_days"),
      sum((col("z").cast(d190) * col("z").cast(d190)).cast("decimal(38,0)")).as("c0"),
      sum(when(col("z1").isNotNull,
               (col("z").cast(d190) * col("z1").cast(d190)).cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("c1"),
      sum(when(col("z2").isNotNull,
               (col("z").cast(d190) * col("z2").cast(d190)).cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("c2"))
    m.select(col("n_days"),
             expr("cast(c1 as double) / cast(c0 as double)").as("r1"),
             expr("cast(c2 as double) / cast(c0 as double)").as("r2"))
      .withColumn("phi1", expr("r1 * (1.0 - r2) / (1.0 - r1 * r1)"))
      .withColumn("phi2", expr("(r2 - r1 * r1) / (1.0 - r1 * r1)"))
      .select(col("n_days"), r4(col("r1")).as("acf1"), r4(col("r2")).as("acf2"),
              r4(col("phi1")).as("phi1"), r4(col("phi2")).as("phi2"),
              r4(expr("1.0 - phi1 * r1 - phi2 * r2")).as("innov_var_ratio"))
  }

  /** G-test of independence (the likelihood-ratio χ²) on the order
    * priority × status table — the log-likelihood twin of q_chi2, which
    * dominates it for small expected counts: G = 2·Σ O·ln(O/E), E from
    * exact row/col/total integers, each O·ln(O/E) term DECIMAL(28,8)-cast
    * so the cell fold (≤ |priorities|·|statuses| rows) is
    * partition-order independent; O = 0 cells contribute the limit 0.
    */
  def gtest(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority").as("pr"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("obs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rt = o.groupBy(col("pr")).agg(sum(col("obs")).as("rn"))
    val ct = o.groupBy(col("st")).agg(sum(col("obs")).as("cn"))
    val nn = o.agg(sum(col("obs")).as("n"),
                   countDistinct(col("pr")).as("npr"),
                   countDistinct(col("st")).as("nst"))
    o.join(broadcast(rt), "pr").join(broadcast(ct), "st")
      .crossJoin(broadcast(nn))
      .select(col("n"), col("npr"), col("nst"),
              when(col("obs") > 0,
                   (col("obs").cast("double") *
                    log(col("obs").cast("double") * col("n").cast("double") /
                        (col("rn").cast("double") * col("cn").cast("double"))))
                     .cast("decimal(28,8)"))
                .otherwise(lit(0).cast("decimal(28,8)")).as("term"))
      .groupBy(col("n"), col("npr"), col("nst"))
      .agg(sum(col("term")).as("sg"))
      .select(col("n").as("n_total"),
              ((col("npr") - 1) * (col("nst") - 1)).as("dof"),
              r4(col("sg").cast("double") * 2.0).as("g_stat"))
  }

  /** One-sample Kolmogorov–Smirnov test against the fitted normal — the
    * distribution-shape screen (q_ks_test is the two-sample version;
    * q_jarque_bera tests the same null via moments): D = max over sample
    * points of the gap between the empirical CDF (BOTH one-sided jumps —
    * cum/n and (cum−c)/n, the textbook sup over the step function) and
    * Φ((v−μ)/σ), with Φ from the A&S 7.1.26 erfc polynomial (the
    * [[bhFdr]] kernel — a fixed arithmetic formula both engines evaluate
    * identically). Value-grain counts + [[graft.util.PrefixSum]]'s
    * two-phase scan, so no global sort at any SF; the final D is one max
    * aggregate (order-independent).
    */
  def ksNormal(spark: SparkSession, sfDir: String): DataFrame = {
    val d190 = "decimal(19,0)"
    val vals = t(spark, sfDir, "orders")
      .select(floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("v"))
    val grain = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val ps = graft.util.PrefixSum
      .exclusiveCols(grain, Seq(col("v").asc), col("c"), "cum0")
    val m = vals.agg(
      count(lit(1)).as("n"),
      sum(col("v").cast("decimal(38,0)")).as("s"),
      sum((col("v").cast(d190) * col("v").cast(d190)).cast("decimal(38,0)")).as("s2"))
      .select(col("n"),
              expr("cast(s as double) / cast(n as double)").as("mu"),
              expr("""sqrt((cast(s2 as double)
                     | - cast(s as double) * cast(s as double) / cast(n as double))
                     |/ cast(n as double))""".stripMargin.replace("\n", " ")).as("sigma"))
    val erfcTail = """(((((1.061405429 * tt - 1.453152027) * tt
                   | + 1.421413741) * tt - 0.284496736) * tt
                   | + 0.254829592) * tt) * exp(-az * az)"""
      .stripMargin.replace("\n", " ")
    val gaps = ps.crossJoin(broadcast(m))
      .withColumn("z", expr("(cast(v as double) - mu) / sigma"))
      .withColumn("az", expr("abs(z) / sqrt(2.0)"))
      .withColumn("tt", expr("1.0 / (1.0 + 0.3275911 * az)"))
      .withColumn("phi",
        expr(s"CASE WHEN z >= 0.0 THEN 1.0 - 0.5 * ($erfcTail) " +
             s"ELSE 0.5 * ($erfcTail) END"))
      .withColumn("fhi", expr("cast(cum0 + c as double) / cast(n as double)"))
      .withColumn("flo", expr("cast(cum0 as double) / cast(n as double)"))
    gaps.agg(
        max(col("n")).as("n"),
        max(col("mu")).as("muv"), max(col("sigma")).as("sigmav"),
        max(greatest(abs(col("fhi") - col("phi")),
                     abs(col("flo") - col("phi")))).as("d"))
      .select(col("n").as("n_orders"),
              r4(col("muv") / 100.0).as("mean_value"),
              r4(col("sigmav") / 100.0).as("sd_value"),
              r4(col("d")).as("d_stat"),
              r4(sqrt(col("n").cast("double")) * col("d")).as("sqrt_n_d"))
  }

  /** Two-proportion power analysis — the "how long must this A/B run"
    * calculator: baseline conversion p₁ = purchase share of ALL events
    * (exact integer counts — NOT purchases/views, which exceeds 1 on this
    * uniform synthetic stream and is degenerate as a proportion), target
    * p₂ = 1.1·p₁ (a 10% relative MDE), n-per-arm =
    * (z_{α/2}·√(2p̄q̄) + z_β·√(p₁q₁+p₂q₂))²/δ² at α = 0.05, power = 0.8
    * (the z constants are fixed literals, not computed — no
    * inverse-normal needed). One events hash-agg; everything after is a
    * 1-row expression. ceil() to whole subjects.
    */
  def powerAnalysis(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = graft.util.Tables.events(spark, sfDir)
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
    counts
      .withColumn("p1", expr("cast(purchases as double) / cast(n_events as double)"))
      .withColumn("p2", expr("p1 * 1.1"))
      .withColumn("pbar", expr("(p1 + p2) / 2.0"))
      .withColumn("nraw", expr(
        """pow(1.959963985 * sqrt(2.0 * pbar * (1.0 - pbar))
          | + 0.8416212336 * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)), 2)
          |/ ((p2 - p1) * (p2 - p1))""".stripMargin.replace("\n", " ")))
      .select(col("n_events"), col("purchases").as("n_purchases"),
              r4(col("p1")).as("baseline_rate"), r4(col("p2")).as("target_rate"),
              ceil(col("nraw")).cast("long").as("n_per_arm"),
              (ceil(col("nraw")) * 2).cast("long").as("n_total"))
  }

  /** Deterministic uniform k-sample — the "give me 100 random docs,
    * reproducibly" primitive: rank every doc by a multiplicative-hash
    * key (the [[Text.corpusMix]] LCG, prime modulus so ids don't alias),
    * take the k smallest (hash, id) pairs. Plans as TakeOrderedAndProject
    * — k rows per partition travel, no global sort, and a re-run (or a
    * different engine) selects the SAME rows: the property that makes
    * eval sets and spot-check samples stable across pipeline runs.
    */
  def uniformSampleK(spark: SparkSession, sfDir: String,
                     k: Int = 100): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
              pmod(col("doc_id") * 48271L + 11L, lit(1000003L)).as("h"))
      .orderBy(col("h").asc, col("doc_id").asc)
      .limit(k)

  /** Customer-class migration matrix — Kimball's "customer migration
    * report": each customer's activity class per month (light/regular/
    * heavy by exact order count), transitions counted between
    * CONSECUTIVE calendar months both active (the month-over-month
    * movement marketing reads; appear/disappear flows are
    * q_growth_accounting's ledger). Customer-month grain is one
    * fact-linear hash-agg; the transition pairing is a per-customer lead
    * window over month-bounded partitions; the matrix is class² rows.
    */
  def customerMigration(spark: SparkSession, sfDir: String): DataFrame = {
    val cls = when(col("n_orders") >= 3, "heavy")
      .when(col("n_orders") === 2, "regular").otherwise("light")
    val cm = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey").as("ck"),
               (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .agg(count(lit(1)).as("n_orders"))
      .select(col("ck"), col("mi"), cls.as("cls"))
    val w = Window.partitionBy(col("ck")).orderBy(col("mi").asc)
    ordered(
      cm.withColumn("mi_next", lead(col("mi"), 1).over(w))
        .withColumn("cls_next", lead(col("cls"), 1).over(w))
        .filter(col("mi_next") === col("mi") + 1)
        .groupBy(col("cls").as("class_from"), col("cls_next").as("class_to"))
        .agg(count(lit(1)).as("n_transitions")),
      "class_from", "class_to")
  }

  /** Hour-of-day × day-of-week activity profile with independence
    * residuals — the ops heatmap every event stream gets, plus the χ²
    * cell contributions that tell real hot spots from marginal effects.
    * Pure integer epoch-µs arithmetic for the calendar cells (hour =
    * (ts div 3.6e9) mod 24; dow anchored so epoch day 0 = Thursday → 0 =
    * Monday), exact margins, one fact-linear hash-agg into a ≤168-row
    * frame.
    */
  def hourlyProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.util.Tables.events(spark, sfDir)
      .select((expr("ts_us div 3600000000L") % 24).as("hour"),
              ((expr("ts_us div 86400000000L") + 3) % 7).as("dow"))
    val o = ev.groupBy(col("dow"), col("hour")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rt = o.groupBy(col("dow")).agg(sum(col("n")).as("rn"))
    val ct = o.groupBy(col("hour")).agg(sum(col("n")).as("cn"))
    val nn = o.agg(sum(col("n")).as("total"))
    ordered(
      o.join(broadcast(rt), "dow").join(broadcast(ct), "hour")
        .crossJoin(broadcast(nn))
        .select(col("dow"), col("hour"), col("n"),
                r4(expr("cast(rn as double) * cast(cn as double) / cast(total as double)"))
                  .as("expected"),
                r4(expr(
                  """(cast(n as double) - cast(rn as double) * cast(cn as double)
                    |   / cast(total as double))
                    |* (cast(n as double) - cast(rn as double) * cast(cn as double)
                    |   / cast(total as double))
                    |/ (cast(rn as double) * cast(cn as double) / cast(total as double))"""
                    .stripMargin.replace("\n", " "))).as("chi2_contrib")),
      "dow", "hour")
  }

  /** Cook's distance — per-point influence on the daily-revenue OLS fit
    * ([[durbinWatson]]'s regression, completed with the diagnostic that
    * finds the days DRIVING the slope): D_i = e_i²·h_ii/(p·s²·(1−h_ii)²)
    * with leverage h_ii = 1/n + (x_i−x̄)²/S_xx, p = 2, s² = SSE/(n−2),
    * everything in closed form from the exact integer moment fit (no
    * per-point refit — the O(n) formulation). Top-10 by the r4-rounded D
    * (date tiebreak). Date-grain frame throughout.
    */
  def cooksDistance(spark: SparkSession, sfDir: String,
                    k: Int = 10): DataFrame = {
    val d190 = "decimal(19,0)"
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("y"))
    val base = daily.agg(min(col("d")).as("d0"))
    val pts = daily.crossJoin(broadcast(base))
      .select(col("d"), datediff(col("d"), col("d0")).cast("long").as("x"), col("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = pts.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("x").cast(d190) * col("y").cast(d190)).cast("decimal(38,0)")).as("sxy"),
      sum((col("x").cast(d190) * col("x").cast(d190)).cast("decimal(38,0)")).as("sxx"))
      .select(col("n"),
              expr("""(cast(n as double) * cast(sxy as double)
                     | - cast(sx as double) * cast(sy as double))
                     |/ (cast(n as double) * cast(sxx as double)
                     |   - cast(sx as double) * cast(sx as double))"""
                .stripMargin.replace("\n", " ")).as("b"),
              expr("cast(sy as double) / cast(n as double)").as("my"),
              expr("cast(sx as double) / cast(n as double)").as("mx"),
              expr("""(cast(n as double) * cast(sxx as double)
                     | - cast(sx as double) * cast(sx as double))
                     |/ cast(n as double)""".stripMargin.replace("\n", " ")).as("sxxc"))
    val resid = pts.crossJoin(broadcast(m))
      .withColumn("e",
        col("y").cast("double") -
          (col("my") + col("b") * (col("x").cast("double") - col("mx"))))
      .withColumn("h",
        expr("1.0 / cast(n as double)") +
          (col("x").cast("double") - col("mx")) *
          (col("x").cast("double") - col("mx")) / col("sxxc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val s2 = resid.agg(
      (sum((col("e") * col("e")).cast("decimal(38,8)")).cast("double") /
        (max(col("n")) - 2).cast("double")).as("s2"))
    resid.crossJoin(broadcast(s2))
      .select(col("d").as("day"),
              r4(col("y").cast("double") / 100.0).as("revenue"),
              r4(col("e") / 100.0).as("residual"),
              r4(col("h")).as("leverage"),
              r4(col("e") * col("e") * col("h") /
                 (lit(2.0) * col("s2") * (lit(1.0) - col("h")) *
                  (lit(1.0) - col("h")))).as("cooks_d"))
      .orderBy(col("cooks_d").desc, col("day").asc)
      .limit(k)
  }

  /** One-step-ahead OLS prediction interval — the forecast the
    * daily-revenue fit exists to serve, with honest uncertainty:
    * ŷ(x₀) ± z·s·√(1 + 1/n + (x₀−x̄)²/S_xx) at x₀ = last day + 1,
    * z = 1.959963985 as a literal. All terms from the same exact-moment
    * fit as [[cooksDistance]]; one date-grain aggregate for SSE.
    */
  def predictionInterval(spark: SparkSession, sfDir: String): DataFrame = {
    val d190 = "decimal(19,0)"
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("y"))
    val base = daily.agg(min(col("d")).as("d0"))
    val pts = daily.crossJoin(broadcast(base))
      .select(datediff(col("d"), col("d0")).cast("long").as("x"), col("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = pts.agg(
      count(lit(1)).as("n"),
      max(col("x")).as("xmax"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("x").cast(d190) * col("y").cast(d190)).cast("decimal(38,0)")).as("sxy"),
      sum((col("x").cast(d190) * col("x").cast(d190)).cast("decimal(38,0)")).as("sxx"))
      .select(col("n"), col("xmax"),
              expr("""(cast(n as double) * cast(sxy as double)
                     | - cast(sx as double) * cast(sy as double))
                     |/ (cast(n as double) * cast(sxx as double)
                     |   - cast(sx as double) * cast(sx as double))"""
                .stripMargin.replace("\n", " ")).as("b"),
              expr("cast(sy as double) / cast(n as double)").as("my"),
              expr("cast(sx as double) / cast(n as double)").as("mx"),
              expr("""(cast(n as double) * cast(sxx as double)
                     | - cast(sx as double) * cast(sx as double))
                     |/ cast(n as double)""".stripMargin.replace("\n", " ")).as("sxxc"))
    val sse = pts.crossJoin(broadcast(m))
      .select(((col("y").cast("double") -
                (col("my") + col("b") * (col("x").cast("double") - col("mx")))) *
               (col("y").cast("double") -
                (col("my") + col("b") * (col("x").cast("double") - col("mx")))))
                .cast("decimal(38,8)").as("e2"))
      .agg(sum(col("e2")).as("sse"))
    m.crossJoin(broadcast(sse))
      .withColumn("x0", (col("xmax") + 1).cast("double"))
      .withColumn("s", sqrt(col("sse").cast("double") / (col("n") - 2).cast("double")))
      .withColumn("yhat", col("my") + col("b") * (col("x0") - col("mx")))
      .withColumn("sep",
        col("s") * sqrt(lit(1.0) + lit(1.0) / col("n").cast("double") +
          (col("x0") - col("mx")) * (col("x0") - col("mx")) / col("sxxc")))
      .select(col("n").as("n_days"), (col("xmax") + 1).as("x0_day"),
              r4(col("yhat") / 100.0).as("forecast"),
              r4((col("yhat") - lit(1.959963985) * col("sep")) / 100.0).as("pi_lo"),
              r4((col("yhat") + lit(1.959963985) * col("sep")) / 100.0).as("pi_hi"))
  }

  /** Exact 5% trimmed mean per group — the robust location estimate that
    * survives the fat tails q_winsorize clamps: drop exactly g = ⌊n/20⌋
    * observations from EACH end (per group) and average the rest, on the
    * value-grain + PrefixSum shape (no per-group sort of raw rows): each
    * distinct value contributes c_eff = clamp overlap of its rank
    * interval with [g+1, n−g] — all integer arithmetic, one division at
    * the end.
    */
  def trimmedMean(spark: SparkSession, sfDir: String): DataFrame = {
    val grain = t(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("grp"),
              floor(col("l_quantity") * 100.0 + 0.5).cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("c"))
    val gidx = grain.select(col("grp")).distinct()
      .withColumn("gidx",
        row_number().over(Window.orderBy(col("grp"))).cast("long"))
    val keyed = grain.join(broadcast(gidx), "grp")
      .withColumn("ck", col("gidx") * lit(1000000000000L) + col("v"))
    val ps = graft.util.PrefixSum
      .exclusiveCols(keyed, Seq(col("ck").asc), col("c"), "cum0")
    val off = ps.groupBy(col("grp")).agg(min(col("cum0")).as("off"))
    val tot = grain.groupBy(col("grp")).agg(sum(col("c")).as("n"))
    ordered(
      ps.join(off, "grp").join(tot, "grp")
        .withColumn("lo", col("cum0") - col("off"))            // exclusive rank before
        .withColumn("g", expr("n div 20"))
        .withColumn("keepLo", greatest(col("lo"), col("g")))
        .withColumn("keepHi", least(col("lo") + col("c"), col("n") - col("g")))
        .withColumn("ceff", greatest(col("keepHi") - col("keepLo"), lit(0L)))
        .groupBy(col("grp"))
        .agg(max(col("n")).as("n"), max(col("g")).as("n_trimmed_each"),
             sum(col("ceff") * col("v")).as("s"), sum(col("ceff")).as("nk"))
        .select(col("grp").as("l_returnflag"), col("n"), col("n_trimmed_each"),
                r4(col("s").cast("double") / col("nk").cast("double") / 100.0)
                  .as("trimmed_mean")),
      "l_returnflag")
  }

  /** Cliff's delta — the ordinal effect size the Mann–Whitney z
    * ([[mannWhitney]]) doesn't report: δ = P(X>Y) − P(X<Y) =
    * 2U/(n₁n₂) − 1, computed from the SAME tie-averaged doubled-rank
    * machinery (value-grain counts + PrefixSum, ties contributing zero),
    * so the two queries are mutually consistent by construction — the
    * spec asserts δ's sign matches the z's. |δ| bands (0.147/0.33/0.474,
    * Romano et al. 2006) label the magnitude.
    */
  def cliffsDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
      .select(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long").as("v"),
              when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("ga"))
    val vals = o.groupBy(col("v"))
      .agg(count(lit(1)).as("cnt"), sum(col("ga")).as("cnta"))
    val cum = graft.util.PrefixSum
      .exclusiveCols(vals, Seq(col("v").asc), col("cnt"), "cumb")
    val d38 = "decimal(38,0)"
    cum.agg(
        sum(col("cnta")).as("na"),
        sum(col("cnt")).as("n"),
        sum(col("cnta").cast(d38) *
            (lit(2).cast(d38) * col("cumb").cast(d38) + col("cnt").cast(d38) +
             lit(1).cast(d38))).as("w2a"))
      .select(col("na").as("n_a"), (col("n") - col("na")).as("n_b"),
              (col("w2a") - col("na").cast(d38) *
                (col("na").cast(d38) + lit(1).cast(d38))).as("u2d"))
      .withColumn("delta",
        expr("cast(u2d as double) / (cast(n_a as double) * cast(n_b as double)) - 1.0"))
      .select(col("n_a"), col("n_b"), r4(col("delta")).as("cliffs_delta"),
              when(abs(col("delta")) < 0.147, "negligible")
                .when(abs(col("delta")) < 0.33, "small")
                .when(abs(col("delta")) < 0.474, "medium")
                .otherwise("large").as("magnitude"))
  }

  /** Shapley-value channel attribution — the game-theoretic credit split
    * (Shapley 1953; Zhao et al. 2018 applied it to marketing paths) over
    * the four non-purchase event channels: each user contributes an
    * exposure BITMASK (view=1, click=2, signup=4, error=8) and a
    * converted flag; the coalition value v(S) = converted users whose
    * exposure ⊆ S comes from one subset-lattice join of the 16-row mask
    * frame against itself ((sub & S) = sub — no 2^k literal grids), and
    * φᵢ = Σ_{S∌i} w(|S|)·(v(S∪i) − v(S)) uses 24·w ∈ {6,2,2,6} so the
    * weighting is exact integers until one final division. The fact
    * table feeds ONE user-grain hash-agg; everything after is a ≤16-row
    * lattice. Efficiency axiom Σφᵢ = v(full) − v(∅) is the spec's check.
    */
  def shapleyAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.util.Tables.events(spark, sfDir)
    val users = ev.groupBy(col("user_id"))
      .agg((max(when(col("event_type") === "view", 1L).otherwise(0L)) +
            max(when(col("event_type") === "click", 2L).otherwise(0L)) +
            max(when(col("event_type") === "signup", 4L).otherwise(0L)) +
            max(when(col("event_type") === "error", 8L).otherwise(0L))).as("mask"),
           max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
    val perMask = users.groupBy(col("mask"))
      .agg(sum(col("conv")).as("nconv"), count(lit(1)).as("nusers"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lattice = (0 until 16).map(_.toLong).toDF("s")
    // v(S) = converted users with mask ⊆ S (missing masks contribute 0)
    val v = lattice.join(perMask,
        expr("(mask & s) = mask"), "left")
      .groupBy(col("s")).agg(coalesce(sum(col("nconv")), lit(0L)).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val channels = Seq(("view", 1L), ("click", 2L), ("signup", 4L), ("error", 8L))
      .toDF("channel", "bit")
    // marginals: for each channel i and each S without i, w24 = |S|!(3-|S|)!·(24/4!)... (4 channels)
    val pairs = channels.crossJoin(v.select(col("s"), col("v").as("v_s")))
      .filter(expr("(s & bit) = 0"))
      .join(v.select(col("s").as("s1"), col("v").as("v_s1")),
            expr("s1 = s + bit"))
      .withColumn("ssize", expr("bit_count(s)"))
      .withColumn("w24",
        when(col("ssize") === 0, 6L).when(col("ssize") === 1, 2L)
          .when(col("ssize") === 2, 2L).otherwise(6L))
    val tot = v.filter(col("s") === 15).select(col("v").as("v_full"))
      .crossJoin(v.filter(col("s") === 0).select(col("v").as("v_empty")))
    ordered(
      pairs.groupBy(col("channel"))
        .agg(sum(col("w24") * (col("v_s1") - col("v_s"))).as("num24"))
        .crossJoin(broadcast(tot))
        .select(col("channel"),
                r4(col("num24").cast("double") / 24.0).as("shapley_conversions"),
                r4(col("num24").cast("double") / 24.0 /
                   (col("v_full") - col("v_empty")).cast("double")).as("credit_share")),
      "channel")
  }

  /** Iterative proportional fitting (raking) — the survey-weighting
    * workhorse: rescale the priority × status contingency table so its
    * margins match UNIFORM targets, three unrolled row/column rounds
    * (the q_pagerank bounded-iteration discipline — a fixed plan, an
    * unrolled oracle). Cell weights start at the observed counts; each
    * round multiplies rows then columns by target/current margin.
    * Reports the fitted weights and the post-fit margin errors — IPF's
    * convergence is geometric, so round-3 errors are already
    * rounding-grade on this table. Cell frame is domain-bounded (≤15
    * rows); the fact table feeds one hash-agg.
    */
  def rakingIpf(spark: SparkSession, sfDir: String,
                rounds: Int = 3): DataFrame = {
    val cells0 = t(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority").as("pr"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("obs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dims = cells0.agg(sum(col("obs")).as("n"),
                          countDistinct(col("pr")).as("npr"),
                          countDistinct(col("st")).as("nst"))
    var w = cells0.crossJoin(broadcast(dims))
      .select(col("pr"), col("st"), col("obs"), col("n"), col("npr"), col("nst"),
              col("obs").cast("double").as("w"))
    // margins as WINDOW sums over the cell frame, not aggregate-and-join-
    // back: the join formulation nests the plan tree exponentially in the
    // round count (each margin frame embeds the whole previous tree twice
    // — measured 11.3 s isolated vs 0.5 s for this shape; the lazy-HITS
    // lesson at 15 rows), while a chained window is one projection per
    // half-round with linear depth
    val wPr = Window.partitionBy(col("pr"))
    val wSt = Window.partitionBy(col("st"))
    for (_ <- 1 to rounds) {
      w = w.withColumn("w",
        col("w") * (col("n").cast("double") / col("npr").cast("double")) /
          sum(col("w").cast("decimal(38,18)")).over(wPr).cast("double"))
      w = w.withColumn("w",
        col("w") * (col("n").cast("double") / col("nst").cast("double")) /
          sum(col("w").cast("decimal(38,18)")).over(wSt).cast("double"))
    }
    ordered(
      w.select(col("pr"), col("st"), col("obs"),
               r4(col("w")).as("raked_weight"),
               r4(col("w") / col("obs").cast("double")).as("weight_ratio")),
      "pr", "st")
  }

  /** Lorenz curve points — the decile-resolution curve behind q_gini's
    * single number: customers ranked by exact revenue, cumulative
    * revenue share at each decile boundary. Ranking via the two-phase
    * PrefixSum over the value grain (no global sort of raw rows);
    * shares are ratios of exact DECIMAL sums. The "top 10% of customers
    * hold X% of revenue" report.
    */
  def lorenzPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val per = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("v"))
    val grain = per.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val ps = graft.util.PrefixSum
      .exclusiveCols(grain, Seq(col("v").asc), col("c"), "cum0")
    val tot = per.agg(count(lit(1)).as("n"),
                      sum(col("v").cast("decimal(38,0)")).as("s"))
    import org.apache.spark.sql.functions.{sequence => seqf}
    val deciles = tot.select(col("n"), col("s"),
        explode(seqf(lit(1), lit(10))).as("decile"))
      .withColumn("k", expr("(decile * n) div 10"))
    // cumulative revenue of the k poorest customers: full values below the
    // boundary value + the boundary value times the remaining count
    val withVals = deciles.join(ps, col("cum0") < col("k"))
      .groupBy(col("decile"), col("k"), col("n"), col("s"))
      .agg(sum(least(col("c"), col("k") - col("cum0")) * col("v")).as("cumrev"))
    ordered(
      withVals.select(col("decile"),
                      col("k").as("n_customers"),
                      r4(col("cumrev").cast("double") / col("s").cast("double"))
                        .as("cum_revenue_share")),
      "decile")
  }

  /** Point-in-time features — the leakage-free feature join every ML
    * training set needs: for each order, the customer's PRIOR order
    * count, prior revenue, and days since the previous order, computed
    * with an expanding per-customer window that ends STRICTLY BEFORE the
    * current row (rowsBetween(unboundedPreceding, −1) over a total
    * per-customer order). Using the current row — or any same-instant
    * aggregate — is target leakage; this is the operator that makes it
    * structurally impossible. One per-customer window pass over the
    * fact; DECIMAL revenue (exact), day diffs as integers.
    */
  def pitFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d").asc, col("o_orderkey").asc)
    val wPrior = w.rowsBetween(Window.unboundedPreceding, -1)
    ordered(
      t(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
                col("o_orderdate").cast("date").as("d"),
                floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
        .select(col("o_orderkey"), col("o_custkey"),
                coalesce(count(lit(1)).over(wPrior), lit(0L)).as("prior_n_orders"),
                r4(coalesce(sum(col("cents")).over(wPrior), lit(0L)).cast("double")
                     / 100.0).as("prior_revenue"),
                datediff(col("d"), lag(col("d"), 1).over(w)).cast("long")
                  .as("days_since_prev")),
      "o_orderkey")
  }

  /** Leave-one-out target encoding — the categorical-feature encoder
    * that doesn't leak its own row's target: encode(brand, row i) =
    * (Σ_brand target − targetᵢ)/(n_brand − 1), from ONE brand-grain
    * hash-agg joined back (never a self-join of the fact). Exact integer
    * sums; singleton categories fall back to the global prior (stated —
    * the standard LOO convention). Output bounded to a deterministic
    * 1/97 orderkey sample so the gate stays small while the encoding is
    * computed corpus-wide.
    */
  def targetEncodingLoo(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "part").select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
              col("p_brand"),
              floor(col("l_quantity") * 100.0 + 0.5).cast("long").as("x"))
    val g = li.groupBy(col("p_brand"))
      .agg(sum(col("x")).as("sg"), count(lit(1)).as("ng"))
    val tot = li.agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    // (orderkey, linenumber) is NOT unique in the synthetic lineitem
    // (Tables.scala total-order rule) — the sort includes brand + quantity
    // so the output order is total
    ordered(
      li.join(g, "p_brand").crossJoin(broadcast(tot))
        .filter(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("ln").as("l_linenumber"), col("p_brand"),
                r4(col("x").cast("double") / 100.0).as("quantity"),
                r4(when(col("ng") > 1,
                        (col("sg") - col("x")).cast("double") /
                        (col("ng") - 1).cast("double"))
                     .otherwise(col("s").cast("double") / col("n").cast("double"))
                   / 100.0).as("loo_encoding")),
      "l_orderkey", "l_linenumber", "p_brand", "quantity")
  }

  /** Poisson-bootstrap confidence interval for the mean order value —
    * the resampling technique that actually runs at 100 TB (Chamandy et
    * al. 2012, "Estimating Uncertainty for Massive Data Streams"):
    * instead of materializing B resamples of n draws, every row gets an
    * independent Poisson(1) weight per replicate, so the whole bootstrap
    * is ONE fact×B fan-out into ONE hash-agg — no sorting, no sampling
    * state, embarrassingly parallel. Determinism: the Poisson draw is
    * the inverse-CDF of a HASHED uniform (multiplicative hash of
    * (orderkey, replicate) over a 2²⁰ lattice, thresholds as fixed
    * literals), so any engine reproduces the exact weights; each
    * replicate mean is then a ratio of two exact integer sums. The CI is
    * the 2.5%/97.5% order statistics of the B = 100 replicate means
    * (3rd/98th smallest — exact ranks, stated); the SE is their sample
    * sd with DECIMAL-accumulated moments.
    */
  def poissonBootstrap(spark: SparkSession, sfDir: String,
                       b: Int = 100): DataFrame = {
    import spark.implicits._
    val reps = (0 until b).toDF("rep")
    val rows = t(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"),
              floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("x"))
    val full = rows.agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    // pre-reduce k mod 2^20 before multiplying (489905 = 2654435761 mod 2^20;
    // only the low 20 bits survive the outer pmod, so the reduction is
    // value-identical) — the unreduced k*2654435761 overflows int64 once
    // orderkey exceeds ~3.5e9, i.e. exactly the 100 TB design target, and
    // Spark would wrap silently while other engines error/promote
    val u = "cast(pmod(pmod(k, 1048576) * 489905 + rep * 40503 + 7, 1048576) as double) / 1048576.0"
    val w = s"""CASE WHEN $u < 0.36787944117144233 THEN 0
               | WHEN $u < 0.7357588823428847 THEN 1
               | WHEN $u < 0.9196986029286058 THEN 2
               | WHEN $u < 0.9810118431238462 THEN 3
               | WHEN $u < 0.9963401531726563 THEN 4
               | ELSE 5 END""".stripMargin.replace("\n", " ")
    val repMeans = rows.crossJoin(broadcast(reps))
      .select(col("rep"), expr(w).as("w"), col("x"))
      .groupBy(col("rep"))
      .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
      .select(col("rep"),
              (col("swx").cast("double") / col("sw").cast("double")).as("m"))
    val wOrd = Window.orderBy(col("m").asc, col("rep").asc)
    val ranked = repMeans.withColumn("i", row_number().over(wOrd))
    val lo = (b * 25 + 999) / 1000   // ceil(0.025·B) = 3rd smallest at B=100
    val hi = (b * 975 + 999) / 1000  // ceil(0.975·B) = 98th
    val stats = repMeans.agg(
      count(lit(1)).as("nb"),
      sum(col("m").cast("decimal(38,18)")).as("sm"),
      sum((col("m") * col("m")).cast("decimal(38,18)")).as("sm2"))
    ranked.filter(col("i") === lo || col("i") === hi)
      .agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(full))
      .select(col("nb").as("n_replicates"),
              r4(expr("cast(sx as double) / cast(n as double) / 100.0")).as("mean_value"),
              r4(expr("lo / 100.0")).as("ci_lo"),
              r4(expr("hi / 100.0")).as("ci_hi"),
              r4(expr(
                """sqrt((cast(sm2 as double)
                  | - cast(sm as double) * cast(sm as double) / cast(nb as double))
                  |/ cast(nb - 1 as double)) / 100.0"""
                  .stripMargin.replace("\n", " "))).as("se"))
  }

  /** Page's trend test for ordered alternatives — "does revenue rise
    * across quarters WITHIN years" (the monotone-dose version of the
    * Friedman test already in the suite): rank the four quarterly
    * revenue totals inside each year block (exact DECIMAL cell sums; the
    * no-ties assumption is discharged by a deterministic (value,
    * quarter) total order, stated), L = Σ j·R_j over treatment rank
    * sums, z via the exact-moment normal approximation. Blocks×k cells
    * from one fact-linear hash-agg; everything after is a ≤28-row frame.
    */
  def pageTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = t(spark, sfDir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
               quarter(col("o_orderdate")).as("q"))
      .agg(sum(money(col("o_totalprice"))).as("rev"))
    // Page's L assumes complete blocks: drop partial years (the data's
    // first/last calendar year may not cover all four quarters)
    val complete = cells.groupBy(col("yr")).agg(count(lit(1)).as("nq"))
      .filter(col("nq") === 4).select(col("yr"))
    val wBlk = Window.partitionBy(col("yr"))
      .orderBy(col("rev").asc, col("q").asc)
    val ranked = cells.join(complete, "yr")
      .withColumn("rk", row_number().over(wBlk).cast("long"))
    val rsums = ranked.groupBy(col("q")).agg(sum(col("rk")).as("rj"),
                                             count(lit(1)).as("nb"))
    rsums.agg(max(col("nb")).as("b"), count(lit(1)).as("k"),
              sum(col("q").cast("long") * col("rj")).as("l"))
      .select(col("b").as("n_blocks"), col("k").as("k_treatments"),
              col("l").as("l_stat"),
              r4(expr(
                """(12.0 * cast(l as double)
                  | - 3.0 * cast(b as double) * cast(k as double)
                  |   * cast(k + 1 as double) * cast(k + 1 as double))
                  |/ sqrt(cast(b as double) * cast(k as double) * cast(k as double)
                  |       * cast(k + 1 as double)
                  |       * (cast(k as double) * cast(k as double) - 1.0))"""
                  .stripMargin.replace("\n", " "))).as("z"))
  }

  /** Mood's median test — the nonparametric two-group location test that
    * only needs counts: is an URGENT order's value distribution shifted
    * vs the rest? Global LOWER MEDIAN of order value (exact cents) found
    * WITHOUT a global sort: value-grain counts (one hash-agg), then
    * [[graft.util.PrefixSum]]'s two-phase exclusive scan — the
    * q_weighted_median discipline, so the median lookup scales. The 2×2
    * table (group × above/at-or-below median) is exact integers; χ²
    * (1 df) = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is one final division.
    */
  def moodsMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val vals = t(spark, sfDir, "orders")
      .select((col("o_orderpriority") === "1-URGENT").as("g1"),
              floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("v"))
    val grain = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val ps = graft.util.PrefixSum
      .exclusiveCols(grain, Seq(col("v").asc), col("c"), "cum0")
    val tot = grain.agg(sum(col("c")).as("n"))
    // lower median: first value whose inclusive cum count reaches ceil(n/2)
    val med = ps.crossJoin(broadcast(tot))
      .filter(col("cum0") + col("c") >= expr("(n + 1) div 2"))
      .agg(min(col("v")).as("med"))
    val cells = vals.crossJoin(broadcast(med))
      .groupBy(col("g1"))
      .agg(sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("above"),
           sum(when(col("v") <= col("med"), 1L).otherwise(0L)).as("at_below"))
    cells.agg(
        max(when(col("g1"), col("above"))).as("a"),
        max(when(col("g1"), col("at_below"))).as("b"),
        max(when(!col("g1"), col("above"))).as("c"),
        max(when(!col("g1"), col("at_below"))).as("d"))
      .crossJoin(broadcast(med))
      .select(r4(col("med").cast("double") / 100.0).as("median_value"),
              col("a").as("g1_above"), col("b").as("g1_at_below"),
              col("c").as("g2_above"), col("d").as("g2_at_below"),
              r4(expr("""cast(a + b + c + d as double)
                        |* cast(a * d - b * c as double)
                        |* cast(a * d - b * c as double)
                        |/ (cast(a + b as double) * cast(c + d as double)
                        |   * cast(a + c as double) * cast(b + d as double))"""
                .stripMargin.replace("\n", " "))).as("chi2"))
  }

  /** Bartlett's test for homogeneity of variances across the k = 3
    * return-flag groups — the ANOVA precondition check (Brown–Forsythe,
    * already in the suite, is its robust cousin; Bartlett is the
    * textbook-sensitive one). Per-group exact integer moments → per-group
    * sample variances as doubles; the three cross-group sums — (nᵢ−1)Sᵢ²,
    * (nᵢ−1)ln Sᵢ², and 1/(nᵢ−1) — accumulate as DECIMAL casts ((28,8) for
    * the first two, (38,18) for the reciprocals ~1e-5) so the k-row fold
    * is partition-order independent. χ² = [(N−k)ln Sp² − Σ(nᵢ−1)ln Sᵢ²]/C
    * with the Bartlett correction C. Group count is bounded by the flag
    * domain, facts feed exactly one hash-agg.
    */
  def bartlett(spark: SparkSession, sfDir: String): DataFrame = {
    val d190 = "decimal(19,0)"
    val g = t(spark, sfDir, "lineitem")
      .select(col("l_returnflag").as("grp"),
              floor(col("l_quantity") * 100.0 + 0.5).cast("long").as("x"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("ng"),
           sum(col("x").cast("decimal(38,0)")).as("sg"),
           sum((col("x").cast(d190) * col("x").cast(d190)).cast("decimal(38,0)")).as("s2g"))
      .withColumn("si2",
        expr("""(cast(ng as double) * cast(s2g as double)
               | - cast(sg as double) * cast(sg as double))
               |/ (cast(ng as double) * cast(ng - 1 as double))"""
          .stripMargin.replace("\n", " ")))
    val m = g.agg(
      sum(col("ng")).as("n"), count(lit(1)).as("k"),
      sum(((col("ng") - 1).cast("double") * col("si2")).cast("decimal(28,8)")).as("sv"),
      sum(((col("ng") - 1).cast("double") * log(col("si2"))).cast("decimal(28,8)")).as("slog"),
      sum((lit(1.0) / (col("ng") - 1).cast("double")).cast("decimal(38,18)")).as("srec"))
    m.select(col("n").as("n_total"), col("k").as("n_groups"),
             r4(expr("cast(sv as double) / cast(n - k as double)")).as("pooled_var"),
             r4(expr(
               """((cast(n - k as double) * ln(cast(sv as double) / cast(n - k as double))
                 |  - cast(slog as double)))
                 |/ (1.0 + (cast(srec as double) - 1.0 / cast(n - k as double))
                 |         / (3.0 * cast(k - 1 as double)))"""
                 .stripMargin.replace("\n", " "))).as("chi2"))
  }

  /** KPSS level-stationarity statistic (Kwiatkowski et al. 1992, lag-0
    * long-run variance — the short-run variant, stated in the docstring
    * because the Bartlett-window lrv is a tuning choice, not a
    * correctness one; the ADF test in the suite is its unit-root dual):
    * η = Σ Sₜ²/(n²σ̂²) over the daily order-count series. Integer counts
    * make everything EXACT until the single final division: demeaned
    * values ×n (zₜ = n·yₜ − S), partial sums Sₜ = Σzₜ (a calendar-bounded
    * window), and both Σ Sₜ² and σ̂²'s numerator Σ zₜ² as DECIMAL(38,0) —
    * the n-scales cancel in the ratio: η = Σ Sₜ²/(n·Σ zₜ²).
    */
  def kpss(spark: SparkSession, sfDir: String): DataFrame = {
    val d190 = "decimal(19,0)"
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("y"))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val wCum = Window.orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val z = daily.crossJoin(broadcast(tot))
      .select(col("d"), col("n"), (col("n") * col("y") - col("s")).as("z"))
      .withColumn("st", sum(col("z")).over(wCum))
    z.agg(
        max(col("n")).as("n_days"),
        sum((col("z").cast(d190) * col("z").cast(d190)).cast("decimal(38,0)")).as("c0"),
        sum((col("st").cast(d190) * col("st").cast(d190)).cast("decimal(38,0)")).as("ss"))
      .select(col("n_days"),
              r4(expr(
                "cast(ss as double) / (cast(n_days as double) * cast(c0 as double))"))
                .as("kpss_stat"))
  }

  /** Granger causality, lag 1 — "does yesterday's shipped quantity help
    * predict today's revenue beyond yesterday's revenue?": F-test of the
    * restricted (y ~ y₋₁) vs unrestricted (y ~ y₋₁ + x₋₁) regression,
    * both solved in closed form from ONE wide aggregate of exact
    * DECIMAL(38,0) moments over the lagged day-grain frame (the
    * [[olsMulti]] normal-equation discipline; RSS·n = C_yy − b₁C₁y − b₂C₂y
    * so the n-scales cancel inside F). The two daily series collapse
    * fact-linearly before any window; the lag join is one
    * calendar-bounded window pass.
    */
  def granger(spark: SparkSession, sfDir: String): DataFrame = {
    val d190 = "decimal(19,0)"
    val rev = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(floor(col("o_totalprice") * 100.0 + 0.5).cast("long")).as("y"))
    val qty = t(spark, sfDir, "lineitem")
      .groupBy(col("l_shipdate").cast("date").as("d"))
      .agg(sum(floor(col("l_quantity") * 100.0 + 0.5).cast("long")).as("x"))
    val wOrd = Window.orderBy(col("d").asc)
    val lagged = rev.join(qty, "d")
      .select(col("d"), col("y"),
              lag(col("y"), 1).over(wOrd).as("yl"),
              lag(col("x"), 1).over(wOrd).as("xl"))
      .filter(col("yl").isNotNull && col("xl").isNotNull)
    val m = lagged.agg(
      count(lit(1)).as("n"),
      sum(col("yl").cast("decimal(38,0)")).as("s1"),
      sum(col("xl").cast("decimal(38,0)")).as("s2"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum((col("yl").cast(d190) * col("y").cast(d190)).cast("decimal(38,0)")).as("s1y"),
      sum((col("xl").cast(d190) * col("y").cast(d190)).cast("decimal(38,0)")).as("s2y"),
      sum((col("yl").cast(d190) * col("xl").cast(d190)).cast("decimal(38,0)")).as("s12"),
      sum((col("yl").cast(d190) * col("yl").cast(d190)).cast("decimal(38,0)")).as("s11"),
      sum((col("xl").cast(d190) * col("xl").cast(d190)).cast("decimal(38,0)")).as("s22"),
      sum((col("y").cast(d190) * col("y").cast(d190)).cast("decimal(38,0)")).as("syy"))
    val cent = m.select(col("n"),
      expr("cast(n as double) * cast(s11 as double) - cast(s1 as double) * cast(s1 as double)").as("c11"),
      expr("cast(n as double) * cast(s22 as double) - cast(s2 as double) * cast(s2 as double)").as("c22"),
      expr("cast(n as double) * cast(s12 as double) - cast(s1 as double) * cast(s2 as double)").as("c12"),
      expr("cast(n as double) * cast(s1y as double) - cast(s1 as double) * cast(sy as double)").as("c1y"),
      expr("cast(n as double) * cast(s2y as double) - cast(s2 as double) * cast(sy as double)").as("c2y"),
      expr("cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)").as("cyy"))
    cent
      .withColumn("det", expr("c11 * c22 - c12 * c12"))
      .withColumn("b1", expr("(c22 * c1y - c12 * c2y) / det"))
      .withColumn("b2", expr("(c11 * c2y - c12 * c1y) / det"))
      .withColumn("rss_u", expr("cyy - b1 * c1y - b2 * c2y"))
      .withColumn("rss_r", expr("cyy - c1y * c1y / c11"))
      .select(col("n").as("n_days"),
              r4(col("b1")).as("b_rev_lag"),
              r4(col("b2")).as("b_qty_lag"),
              r4(expr(
                "(rss_r - rss_u) / (rss_u / cast(n - 3 as double))")).as("f_stat"))
  }

  /** Theil–Sen slope of the monthly quantity series per return-flag
    * segment — the robust trend MAGNITUDE estimator that pairs with
    * [[mkTrend]]'s Mann–Kendall direction test (the standard published
    * combination: MK says "is there a monotone trend", Sen says "how steep",
    * both immune to outliers a least-squares fit would chase). Same
    * AGGREGATE-FIRST shape as mkTrend: the fact table collapses to ≤ months
    * rows per group before the O(m²) pair join, so pair volume is a
    * CALENDAR property at any fact scale. Slope per pair = Δvalue/Δmonths
    * with Δvalue DECIMAL-exact and Δmonths an exact integer month index
    * difference (year·12+month — never a day-count approximation), the
    * division being the single IEEE op, mirrored in the oracle. The median
    * slope is the exact lower median (element ⌈k/2⌉ of the slope sort,
    * tie-broken by pair id) picked by a per-group window over the
    * calendar-bounded pair frame — deterministic, hashable, no
    * interpolation between doubles.
    */
  def theilSen(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag").as("grp"),
               (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).as("mi"))
      .agg(sum(money(col("l_quantity"))).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = monthly.select(col("grp"), col("mi"), col("v").as("vi"))
      .join(monthly.select(col("grp"), col("mi").as("mj"), col("v").as("vj")),
            "grp")
      .filter(col("mi") < col("mj"))
      .select(col("grp"), col("mi"), col("mj"),
              ((col("vj") - col("vi")).cast("double") /
               (col("mj") - col("mi")).cast("double")).as("slope"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("slope").asc, col("mi").asc, col("mj").asc)
    val ranked = pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("k", count(lit(1)).over(Window.partitionBy(col("grp"))))
    ordered(
      ranked.filter(col("rn") * 2 === col("k") || col("rn") * 2 === col("k") + 1)
        .select(col("grp").as("l_returnflag"), col("k").as("n_pairs"),
                r4(col("slope")).as("sen_slope")),
      "l_returnflag")
  }

  /** Kruskal–Wallis H test (Kruskal & Wallis 1952) — "do the k order
    * priorities draw from the same revenue distribution": the k-sample
    * generalization of [[mannWhitney]], on exactly its machinery. Ranks
    * come from the VALUE HISTOGRAM (one hash-agg + [[PrefixSum]] — a
    * 100 TB fact ranks via its distinct-value counts, never a global row
    * sort) and stay DOUBLED so .5 mid-ranks are integral; per-group
    * doubled rank sums 2R_j accumulate as DECIMAL(38,0) (2R_j reaches
    * ~N² — past BIGINT at warehouse scale, the [[mannWhitney]]/ spearman
    * discipline). The k per-group terms (2R_j)²/n_j are each ONE IEEE
    * division of exactly-agreed integers, cast to DECIMAL(28,8) so the
    * cross-group sum is associative (the chi2 pattern); H and its
    * tie-corrected twin are one mirrored double chain. Output: one row
    * per priority (n_j, mean rank) plus the 'ALL' decision row carrying
    * H — per-group rows are the diagnostic, H the decision.
    */
  def kruskalWallis(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val o = t(spark, sfDir, "orders")
      .select(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long").as("v"),
              col("o_orderpriority").as("grp"))
    val gv = o.groupBy(col("grp"), col("v")).agg(count(lit(1)).as("cgv"))
    val vals = gv.groupBy(col("v")).agg(sum(col("cgv")).as("cnt"))
    val cum = PrefixSum.exclusiveCols(vals, Seq(col("v").asc), col("cnt"), "cumb")
    // doubled mid-rank of every row holding value v: 2r(v) = 2·cumb + cnt + 1
    val perGroup = gv.join(cum, "v")
      .groupBy(col("grp"))
      .agg(sum(col("cgv")).as("nj"),
           sum(col("cgv").cast(d38) *
               (lit(2).cast(d38) * col("cumb").cast(d38) + col("cnt").cast(d38) +
                lit(1).cast(d38))).as("r2j"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ties = cum.agg(
      sum(col("cnt").cast(d38) * col("cnt").cast(d38) * col("cnt").cast(d38) -
          col("cnt").cast(d38)).as("tie3"))
    // Σ_j R_j²/n_j with R_j = r2j/2: each term one IEEE divide, then the
    // associative DECIMAL(28,8) sum (terms ~N²·mean-rank² / n_j — far
    // inside (28,8) even at the decade)
    val term = (col("r2j").cast("double") * col("r2j").cast("double") /
                lit(4.0) / col("nj").cast("double")).cast("decimal(28,8)")
    val tot = perGroup.agg(sum(col("nj")).as("n"),
                           sum(term).cast("double").as("rsum"))
      .crossJoin(broadcast(ties))
    val nD = col("n").cast("double")
    val hRaw = lit(12.0) / (nD * (nD + lit(1.0))) * col("rsum") -
               lit(3.0) * (nD + lit(1.0))
    val hTie = hRaw / (lit(1.0) - col("tie3").cast("double") /
                       (nD * nD * nD - nD))
    val groupRows = perGroup.select(
      col("grp").as("o_orderpriority"), col("nj").as("n"),
      r4(col("r2j").cast("double") / (lit(2.0) * col("nj").cast("double")))
        .as("mean_rank"),
      lit(null).cast("double").as("h"), lit(null).cast("double").as("h_tie"))
    val totalRow = tot.select(
      lit("ALL").as("o_orderpriority"), col("n"),
      lit(null).cast("double").as("mean_rank"),
      r4(hRaw).as("h"), r4(hTie).as("h_tie"))
    ordered(groupRows.unionByName(totalRow), "o_orderpriority")
  }

  /** Jarque–Bera normality test (Jarque & Bera 1980) on the daily revenue
    * series — JB = n/6·(S² + K²/4) from sample skewness S and excess
    * kurtosis K: "are the daily totals normal enough for z-score-based
    * monitoring" (the formal companion to [[outlierZscore]]/[[grubbs]],
    * which ASSUME normality). AGGREGATE-FIRST + CENTERED + SCALED: the
    * fact collapses to exact day cents, a first 1-row pass picks the
    * integer anchor a = ⌊Σ/n⌋ (exact `div` on both engines), and the
    * moment sums run over SCALED deviations x = (rc−a)/10⁶ — anchoring
    * kills the catastrophic cancellation of raw moments, scaling keeps
    * Σx⁴ orders of magnitude inside DECIMAL(38,8) at any revenue decade
    * (raw Σd⁴ in cents overflowed 38 digits at the 10× sweep), and S, K
    * and JB are scale-invariant so the output is unchanged. Each power
    * term is one deterministic IEEE chain cast to DECIMAL(38,8) so the
    * cross-day sums are associative (the chi2 pattern); central moments
    * about the true mean follow from the binomial shift by δ = (mean−a)
    * /10⁶ in one mirrored double chain. Both passes scan the CALENDAR-
    * bounded daily frame, not the fact.
    */
  def jarqueBera(spark: SparkSession, sfDir: String): DataFrame = {
    val d388 = "decimal(38,8)"
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("rc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // integer floor division (Spark `/` on longs is DOUBLE division —
    // inexact past 2^53; `div` keeps the anchor exact on both engines)
    val anchor = daily.agg(expr("sum(rc) div count(1)").cast("long").as("a"))
    val xCol = (col("rc") - col("a")).cast("double") / lit(1.0e6)
    val m = daily.crossJoin(broadcast(anchor)).select(xCol.as("x"))
      .agg(count(lit(1)).as("n"),
           sum(col("x").cast(d388)).as("s1"),
           sum((col("x") * col("x")).cast(d388)).as("s2"),
           sum((col("x") * col("x") * col("x")).cast(d388)).as("s3"),
           sum((col("x") * col("x") * col("x") * col("x")).cast(d388)).as("s4"))
    val nD = col("n").cast("double")
    val dl = col("s1").cast("double") / nD // δ = (mean − a)/1e6
    val r2 = col("s2").cast("double") / nD
    val r3 = col("s3").cast("double") / nD
    val r4c = col("s4").cast("double") / nD
    val m2 = r2 - dl * dl
    val m3 = r3 - lit(3.0) * dl * r2 + lit(2.0) * dl * dl * dl
    val m4 = r4c - lit(4.0) * dl * r3 + lit(6.0) * dl * dl * r2 -
             lit(3.0) * dl * dl * dl * dl
    val skew = m3 / (m2 * sqrt(m2))
    val kurtX = m4 / (m2 * m2) - lit(3.0)
    m.select(col("n").as("n_days"),
             graft.util.Tables.r4(skew).as("skewness"),
             graft.util.Tables.r4(kurtX).as("kurtosis_excess"),
             graft.util.Tables.r4(nD / lit(6.0) *
               (skew * skew + kurtX * kurtX / lit(4.0))).as("jb"))
  }

  /** Wald–Wolfowitz runs test (1940) on the daily revenue series — "is
    * the above/below-median sign sequence random, or does revenue cluster
    * in streaks": counts maximal runs of same-sign days around the
    * discrete median and scores R against its exact null mean/variance.
    * The trend tests ([[mkTrend]], [[seasonalMk]]) ask about MONOTONIC
    * drift; this asks about serial clustering at any shape. The median is
    * the rank-⌈n/2⌉ value via one row_number window; equal-to-median days
    * drop (the standard dichotomization); run boundaries come from one
    * lag() — all three windows run on the CALENDAR-bounded daily frame.
    */
  def runsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("rc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = daily
      .withColumn("rn", row_number().over(Window.orderBy(col("rc").asc,
                                                         col("d").asc)))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
    val med = ranked.filter(col("rn") * 2 === col("nn") ||
                            col("rn") * 2 === col("nn") + 1)
      .filter(col("rn") * 2 <= col("nn") + 1) // lower middle: rank ⌈n/2⌉
      .select(col("rc").as("med"))
    val signs = daily.crossJoin(broadcast(med))
      .filter(col("rc") =!= col("med"))
      .select(col("d"), when(col("rc") > col("med"), 1L).otherwise(0L).as("sg"))
    val w = Window.orderBy(col("d").asc)
    val runs = signs
      .withColumn("brk", when(lag(col("sg"), 1).over(w).isNull ||
                              lag(col("sg"), 1).over(w) =!= col("sg"), 1L)
                           .otherwise(0L))
      .agg(sum(when(col("sg") === 1L, 1L).otherwise(0L)).as("n_above"),
           sum(when(col("sg") === 0L, 1L).otherwise(0L)).as("n_below"),
           sum(col("brk")).as("runs"))
    val n1 = col("n_above").cast("double")
    val n2 = col("n_below").cast("double")
    val nD = n1 + n2
    val mu = lit(2.0) * n1 * n2 / nD + lit(1.0)
    val sg2 = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nD) /
              (nD * nD * (nD - lit(1.0)))
    runs.select(col("n_above"), col("n_below"), col("runs"),
                r4((col("runs").cast("double") - mu) / sqrt(sg2)).as("z"))
  }

  /** Brown–Forsythe test (1974) — the median-centered Levene test for
    * VARIANCE homogeneity across groups: "do the return-flag classes
    * differ in quantity SPREAD, not just level" (the assumption behind
    * any pooled-variance comparison, [[multMeans]]' ANOVA included,
    * checked with the robust median-centered variant). Runs ENTIRELY on
    * the (flag, quantity) HISTOGRAM — quantity's value domain is ~50
    * integers, so the per-group discrete medians, the absolute
    * deviations z = |q − med_g|, and the one-way ANOVA F on z all come
    * from weighted integer arithmetic over a ~150-cell frame; the fact
    * is touched by exactly one hash-agg. Deviation sums stay BIGINT /
    * DECIMAL(38,0); F is one mirrored double chain with the
    * DECIMAL(28,8) cross-group term sums (the chi2 pattern).
    */
  def leveneBrownForsythe(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val hist = t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag").as("grp"),
               col("l_quantity").cast("long").as("qv"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wg = Window.partitionBy(col("grp")).orderBy(col("qv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = hist
      .withColumn("cum", sum(col("c")).over(wg))
      .withColumn("ng", sum(col("c")).over(Window.partitionBy(col("grp"))))
    // discrete median: the least value whose cumulative count reaches ⌈n/2⌉
    val meds = withCum.filter(col("cum") * 2 >= col("ng"))
      .groupBy(col("grp")).agg(min(col("qv")).as("med"))
    val zc = hist.join(broadcast(meds), "grp")
      .select(col("grp"), col("c"),
              abs(col("qv") - col("med")).as("z"))
    val perGroup = zc.groupBy(col("grp"))
      .agg(sum(col("c")).as("nj"),
           sum(col("c") * col("z")).as("sz"),
           sum((col("c").cast("decimal(19,0)") * col("z") * col("z"))
             .cast(d38)).as("szz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SSW_j = Σz² − (Σz)²/n_j and the grand pieces, each term one IEEE
    // divide over exact integers then the associative decimal sum
    val sswTerm = (col("szz").cast("double") -
                   col("sz").cast("double") * col("sz").cast("double") /
                   col("nj").cast("double")).cast("decimal(28,8)")
    val sbTerm = (col("sz").cast("double") * col("sz").cast("double") /
                  col("nj").cast("double")).cast("decimal(28,8)")
    val tot = perGroup.agg(
      count(lit(1)).as("k"), sum(col("nj")).as("n"), sum(col("sz")).as("szAll"),
      sum(sswTerm).cast("double").as("ssw"),
      sum(sbTerm).cast("double").as("sb"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val ssb = col("sb") - col("szAll").cast("double") *
              col("szAll").cast("double") / nD
    val f = (ssb / (kD - lit(1.0))) / (col("ssw") / (nD - kD))
    val groupRows = perGroup.join(broadcast(meds), "grp").select(
      col("grp").as("l_returnflag"), col("nj").as("n"),
      col("med").as("median_qty"),
      r4(col("sz").cast("double") / col("nj").cast("double")).as("mean_absdev"),
      lit(null).cast("double").as("f"))
    val totalRow = tot.select(
      lit("ALL").as("l_returnflag"), col("n"),
      lit(null).cast("long").as("median_qty"),
      lit(null).cast("double").as("mean_absdev"), r4(f).as("f"))
    ordered(groupRows.unionByName(totalRow), "l_returnflag")
  }

  /** Directed-graph reciprocity over the sequential co-purchase graph —
    * edge (a→b) when part b follows part a on consecutive lines of one
    * order, weighted by how often. Reciprocity r = share of directed
    * edges whose reverse also exists; the weighted variant
    * Σ min(w_ab, w_ba) / Σ w_ab (Garlaschelli & Loffredo 2004) measures
    * how much of the FLOW is mutual. The undirected co-purchase ops
    * ([[clusteringCoeff]], [[adamicAdar]], q_triangles) can't see edge
    * direction at all — this is the one statistic that needs the
    * directed multigraph kept directed. Scale shape: one lead() window
    * per order (orders are ≤7 lines; the key is high-cardinality), one
    * hash-agg to the weighted edge list, ONE self-join on the reversed
    * key, one 1-row aggregate. Ratios are r4 single divisions of exact
    * BIGINT counts.
    */
  def reciprocity(spark: SparkSession, sfDir: String): DataFrame = {
    // (linenumber, partkey, suppkey): linenumber alone is NOT unique per
    // order in this testdata — the lead() order must be total or the
    // edge set is permutation-dependent (Tables.scala sort-key rule)
    val byOrder = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber").asc, col("l_partkey").asc,
               col("l_suppkey").asc)
    val edges = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
              col("l_suppkey"))
      .withColumn("nxt", lead(col("l_partkey"), 1).over(byOrder))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("l_partkey"))
      .groupBy(col("l_partkey").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("w"))
    val rev = edges.select(col("b").as("a"), col("a").as("b"),
                           col("w").as("wr"))
    edges.join(rev, Seq("a", "b"), "left")
      .agg(count(lit(1)).as("n_edges"),
           sum(col("w")).as("total_w"),
           sum(when(col("wr").isNotNull, 1L).otherwise(0L)).as("n_recip"),
           sum(least(col("w"), coalesce(col("wr"), lit(0L)))).as("recip_w"))
      .select(col("n_edges"), col("n_recip"), col("total_w"), col("recip_w"),
              r4(col("n_recip").cast("double") / col("n_edges").cast("double"))
                .as("reciprocity"),
              r4(col("recip_w").cast("double") / col("total_w").cast("double"))
                .as("weighted_reciprocity"))
  }

  /** Mutual information between a document's language and its source —
    * "does WHERE a doc comes from predict WHAT language it's in": the
    * information-theoretic association measure, in nats, next to the
    * frequency-domain [[chi2Independence]]/[[cramersV]] pair (MI is the
    * one that composes with the corpus entropy ops: MI = H(L) + H(S) −
    * H(L,S)). Every entropy uses the EXACT Σc·ln c form (H = ln N −
    * Σ c ln c / N — one associative DECIMAL(28,8) sum of per-cell IEEE
    * terms, the tokenEntropy idiom, no per-cell division); NMI normalizes
    * by √(H_L·H_S). The contingency table is one hash-agg of the corpus
    * (|langs|×|sources| cells), marginals two tiny re-aggs of it.
    */
  def mutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val d288 = "decimal(28,8)"
    val clnc = (c: Column) => (c.cast("double") * log(c.cast("double"))).cast(d288)
    val cells = t(spark, sfDir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val joint = cells.agg(sum(col("c")).as("n"),
                          sum(clnc(col("c"))).as("slj"))
    val lm = cells.groupBy(col("lang")).agg(sum(col("c")).as("cl"))
      .agg(sum(clnc(col("cl"))).as("sll"))
    val sm = cells.groupBy(col("source")).agg(sum(col("c")).as("cs"))
      .agg(sum(clnc(col("cs"))).as("sls"))
    val nD = col("n").cast("double")
    val hL = log(nD) - col("sll").cast("double") / nD
    val hS = log(nD) - col("sls").cast("double") / nD
    val hJ = log(nD) - col("slj").cast("double") / nD
    val mi = hL + hS - hJ
    joint.crossJoin(broadcast(lm)).crossJoin(broadcast(sm))
      .select(col("n").as("n_docs"),
              r4(hL).as("h_lang"), r4(hS).as("h_source"),
              r4(hJ).as("h_joint"), r4(mi).as("mi_nats"),
              r4(mi / sqrt(hL * hS)).as("nmi"))
  }

  /** Theil inequality indices of per-customer revenue — T = (1/n)Σ
    * (xᵢ/μ)ln(xᵢ/μ) (top-sensitive) and L = (1/n)Σ ln(μ/xᵢ)
    * (bottom-sensitive), the entropy-based decomposable companions to
    * [[gini]] (Theil's T is the one that ADDS across population
    * subgroups — the property concentration dashboards want). Closed
    * forms over two exact sums: T = Σx·ln x/S − ln μ and L = ln μ −
    * Σln x/n, each term one IEEE chain over exact cents cast to
    * DECIMAL(28,8) for associativity; one fact hash-agg to customer
    * grain, one 1-row aggregate after.
    */
  def theilIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val d288 = "decimal(28,8)"
    val cust = t(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("x"))
    val xD = col("x").cast("double")
    val agg = cust.agg(
      count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum((xD * log(xD)).cast(d288)).as("sxlx"),
      sum(log(xD).cast(d288)).as("slx"))
    val nD = col("n").cast("double")
    val lnMu = log(col("s").cast("double") / nD)
    agg.select(col("n").as("n_customers"),
               r4(col("sxlx").cast("double") / col("s").cast("double") - lnMu)
                 .as("theil_t"),
               r4(lnMu - col("slx").cast("double") / nD).as("theil_l"))
  }

  /** Dickey–Fuller unit-root regression on the daily revenue series —
    * Δxₜ = α + γ·xₜ₋₁ + ε, reporting γ̂ and its t-statistic (the DF test
    * statistic; strongly negative ⇒ mean-reverting/stationary, near 0 ⇒
    * random walk). [[autocorr]] describes the memory, [[hurstExponent]]
    * its long-range decay; this is the formal stationarity decision in
    * the family. The ANCHOR discipline of jarqueBera applies to the
    * LEVEL side (xₜ₋₁ spans the revenue magnitude, so raw moment
    * cross-products would cancel catastrophically): levels are centered
    * by the integer ⌊mean⌋ before the OLS moments, differences are small
    * by construction, and all five sums are exact integer products
    * (DECIMAL(38,0) here, HUGEINT in the oracle). The lag() window runs
    * on the calendar-bounded daily frame; γ̂, SE and t are one mirrored
    * double chain over the exact sums.
    */
  def adfTest(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("rc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val anchor = daily.agg(expr("sum(rc) div count(1)").cast("long").as("a"))
    val w = Window.orderBy(col("d").asc)
    val pairs = daily
      .withColumn("prev", lag(col("rc"), 1).over(w))
      .filter(col("prev").isNotNull)
      .crossJoin(broadcast(anchor))
      .select((col("prev") - col("a")).as("x"),
              (col("rc") - col("prev")).as("y"))
    val m = pairs.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x").cast("decimal(19,0)") * col("y")).cast(d38)).as("sxy"),
      sum((col("x").cast("decimal(19,0)") * col("x")).cast(d38)).as("sxx"),
      sum((col("y").cast("decimal(19,0)") * col("y")).cast(d38)).as("syy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val sxxC = col("sxx").cast("double") - sxD * sxD / nD
    val sxyC = col("sxy").cast("double") - sxD * syD / nD
    val syyC = col("syy").cast("double") - syD * syD / nD
    val gamma = sxyC / sxxC
    val sse = syyC - gamma * sxyC
    val se = sqrt(sse / (nD - lit(2.0)) / sxxC)
    m.select(col("n").as("n_pairs"),
             r4(gamma).as("gamma"),
             r4(se).as("se"),
             r4(gamma / se).as("t_stat"))
  }

  /** Historical Value-at-Risk and expected shortfall of the daily
    * revenue log-returns — "how bad is the worst 5% of day-over-day
    * swings": VaR₅ is the return at ascending rank ⌈0.05·n⌉ (discrete,
    * a member of the data — the [[runsTest]] median convention at the
    * tail), ES₅ the mean of the returns at or below that rank (the
    * coherent tail measure VaR alone isn't). [[drawdown]] tracks the
    * cumulative path; this prices the single-day tail. Returns are one
    * mirrored ln(rcₜ/rcₜ₋₁) chain over exact day cents; the rank pass
    * and the ⌈αn⌉-row tail mean both run on the calendar-bounded return
    * frame, tail terms DECIMAL(28,8) for the associative mean.
    */
  def varEs(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("rc"))
    val w = Window.orderBy(col("d").asc)
    val rets = daily
      .withColumn("prev", lag(col("rc"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("d"),
              log(col("rc").cast("double") / col("prev").cast("double"))
                .as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = rets
      .withColumn("rn", row_number().over(Window.orderBy(col("r").asc,
                                                         col("d").asc)))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
      .withColumn("k", ceil(col("nn") * lit(0.05)).cast("long"))
    val varRow = ranked.filter(col("rn") === col("k"))
      .select(col("r").as("var_5"), col("nn").as("n_returns"), col("k"))
    val tail = ranked.filter(col("rn") <= col("k"))
      .agg(sum(col("r").cast("decimal(28,8)")).cast("double").as("tsum"),
           count(lit(1)).as("tc"))
    varRow.crossJoin(broadcast(tail))
      .select(col("n_returns"), col("k").as("n_tail"),
              r4(col("var_5")).as("var_5"),
              r4(col("tsum") / col("tc").cast("double")).as("es_5"))
  }

  /** Friedman test (1937) — the BLOCKED rank test: month-blocks ×
    * priority-treatments on exact monthly revenue, "do the priorities
    * rank consistently within months" (the repeated-measures companion
    * to [[kruskalWallis]]' independent-samples design; blocking removes
    * the between-month level shifts KW would absorb into noise). Ranks
    * are DOUBLED midranks within each complete block — 2·mid = 2·rank +
    * (ties−1) from one rank() + count() over the (block, value) frame,
    * both windows on the calendar-bounded monthly aggregate; χ²_F =
    * 12/(nk(k+1))·ΣR_j² − 3n(k+1) with the (2R_j)²/4 terms summed
    * DECIMAL(28,8). Per-treatment diagnostic rows + the 'ALL' decision
    * row, the KW output shape.
    */
  def friedman(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = t(spark, sfDir, "orders")
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
                 .as("blk"),
               col("o_orderpriority").as("trt"))
      .agg(sum(money(col("o_totalprice"))).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val k = monthly.select(col("trt")).distinct()
      .agg(count(lit(1)).as("k"))
    val complete = monthly
      .withColumn("bc", count(lit(1)).over(Window.partitionBy(col("blk"))))
      .crossJoin(broadcast(k))
      .filter(col("bc") === col("k"))
    val ranked = complete
      .withColumn("rnk", rank().over(
        Window.partitionBy(col("blk")).orderBy(col("v").asc)))
      .withColumn("tie", count(lit(1)).over(
        Window.partitionBy(col("blk"), col("v"))))
      .withColumn("r2", lit(2) * col("rnk") + col("tie") - 1) // doubled midrank
    val perTrt = ranked.groupBy(col("trt"))
      .agg(count(lit(1)).as("n_blocks"), sum(col("r2")).as("r2j"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val term = (col("r2j").cast("double") * col("r2j").cast("double") /
                lit(4.0)).cast("decimal(28,8)")
    val tot = perTrt.agg(max(col("n_blocks")).as("n"),
                         count(lit(1)).as("kk"),
                         sum(term).cast("double").as("rsum"))
    val nD = col("n").cast("double"); val kD = col("kk").cast("double")
    val chi2 = lit(12.0) / (nD * kD * (kD + lit(1.0))) * col("rsum") -
               lit(3.0) * nD * (kD + lit(1.0))
    val trtRows = perTrt.select(
      col("trt").as("o_orderpriority"), col("n_blocks"),
      r4(col("r2j").cast("double") /
         (lit(2.0) * col("n_blocks").cast("double"))).as("mean_rank"),
      lit(null).cast("double").as("chi2_f"))
    val totalRow = tot.select(
      lit("ALL").as("o_orderpriority"), col("n").as("n_blocks"),
      lit(null).cast("double").as("mean_rank"), r4(chi2).as("chi2_f"))
    ordered(trtRows.unionByName(totalRow), "o_orderpriority")
  }

  // -------------------------------------------------------------------
  // Round-10a tier: robust model fitting (RANSAC, ESD, Tukey HSD, DES)
  // -------------------------------------------------------------------

  /** RANSAC line fit (Fischler & Bolles 1981) on the (orders-per-day,
    * revenue-per-day) scatter — the robust regression that survives a
    * contaminated series where OLS chases outlier days (measured on this
    * corpus: residual sd ≈ 1.4× the $200k inlier band, so ~56% of days
    * are outliers to the dominant trend and a least-squares fit is pulled
    * visibly off it). Fully deterministic: the "random" support pairs
    * come from a multiplicative hash over a 2²⁰ lattice of the day index
    * (the [[poissonBootstrap]] pre-reduced recipe), candidate k's two
    * support days are hash-rank 1 and 2; consensus = days within $200k
    * vertical residual of the candidate line, slope/intercept doubles
    * derived from exact cent/count integers. Scale shape: the fact is
    * touched ONCE by the day-grain hash-agg; everything after is
    * days × 32-candidates — driver-scale at any corpus size, which is
    * why sample-consensus fitting runs at 100 TB where least-median
    * re-scans cannot. Top-5 candidates by consensus (the rank-1/rank-2
    * margin is the fit-stability diagnostic).
    */
  def ransacLine(spark: SparkSession, sfDir: String,
                 nCand: Int = 32): DataFrame = {
    import spark.implicits._
    val sample = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("qx"),
           (sum(money(col("o_totalprice"))) * 100).cast("long").as("qy"))
      .select((row_number().over(Window.orderBy(col("d").asc)) - 1)
                .cast("long").as("k"),
              col("qx"), col("qy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = (0 until nCand).toDF("cand")
    val h = expr("pmod(pmod(k, 1048576) * 489905 " +
                 "+ cand * 40503 + 17, 1048576)")
    val wCand = Window.partitionBy(col("cand"))
      .orderBy(col("h").asc, col("k").asc)
    val support = sample.crossJoin(broadcast(cands))
      .select(col("cand"), col("k"), col("qx"), col("qy"), h.as("h"))
      .withColumn("rn", row_number().over(wCand))
      .filter(col("rn") <= 2)
    val lines = support.groupBy(col("cand"))
      .agg(max(when(col("rn") === 1, col("qx"))).as("x1"),
           max(when(col("rn") === 1, col("qy"))).as("y1"),
           max(when(col("rn") === 2, col("qx"))).as("x2"),
           max(when(col("rn") === 2, col("qy"))).as("y2"))
      .filter(col("x1") =!= col("x2"))
      .select(col("cand"),
              ((col("y2") - col("y1")).cast("double") /
               (col("x2") - col("x1")).cast("double")).as("m"),
              col("x1"), col("y1"))
    val nS = sample.agg(count(lit(1)).as("n_sample"))
    val scored = sample.crossJoin(broadcast(lines))
      .filter(abs(col("qy").cast("double") -
                  (col("m") * (col("qx") - col("x1")).cast("double") +
                   col("y1").cast("double"))) <= lit(20000000.0))
      .groupBy(col("cand"), col("m"), col("x1"), col("y1"))
      .agg(count(lit(1)).as("n_inliers"))
    val wBest = Window.orderBy(col("n_inliers").desc, col("cand").asc)
    ordered(
      scored.withColumn("rank", row_number().over(wBest).cast("long"))
        .filter(col("rank") <= 5)
        .crossJoin(broadcast(nS))
        .select(col("rank"), col("cand").cast("long").as("cand"),
                col("n_inliers"), col("n_sample"),
                // slope in $ per order/day, intercept in $
                r4(col("m") / 100.0).as("slope"),
                r4((col("y1").cast("double") - col("m") * col("x1").cast("double"))
                     / 100.0).as("intercept"),
                r4(col("n_inliers").cast("double") / col("n_sample").cast("double"))
                  .as("consensus")),
      "rank")
  }

  /** Generalized ESD outlier detection (Rosner 1983) on the daily revenue
    * series, 3 unrolled rounds: each round computes mean/sd over the
    * REMAINING days from exact integer moments, extracts the most extreme
    * day (max |x−x̄|/s, date-asc tiebreak on the quantized score), and
    * excludes it from the next round — the iterative re-fitting that makes
    * ESD robust to masking where a single-pass z-score ([[q_grubbs]]'s
    * one-shot) stops at the first outlier. Rounds are UNROLLED (fixed
    * k = 3), so the plan is static: 3 × (1-row aggregate + broadcast +
    * rank window) over a driver-scale daily frame — fact touched once by
    * the daily hash-agg, any corpus size.
    */
  def esdOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def round(remaining: DataFrame, j: Int): (DataFrame, DataFrame) = {
      val st = remaining.agg(count(lit(1)).as("n"),
                             sum(col("cents")).as("s"),
                             // cast BEFORE multiplying: daily cents² wraps
                             // int64 at the 100× decade (4e9² = 1.6e19)
                             sum(col("cents").cast("decimal(19,0)") *
                                   col("cents")).as("s2"))
      val scoredRows = remaining.crossJoin(broadcast(st))
        .select(col("d"), col("cents"), col("n"),
                // R_j = |x − mean| / sd, sd over the remaining sample,
                // quantized so the argmax tiebreak is engine-portable
                r4(abs(col("cents").cast("double") -
                       col("s").cast("double") / col("n").cast("double")) /
                   sqrt((col("s2").cast("double") -
                         col("s").cast("double") * col("s").cast("double") /
                           col("n").cast("double")) /
                        (col("n") - 1).cast("double"))).as("r_stat"))
      val top = scoredRows
        .withColumn("rn", row_number().over(
          Window.orderBy(col("r_stat").desc, col("d").asc)))
        .filter(col("rn") === 1)
        .select(lit(j.toLong).as("round"), col("d").as("outlier_day"),
                col("cents"), col("n").as("n_remaining"), col("r_stat"))
      (top, remaining.join(top.select(col("outlier_day").as("d")), Seq("d"),
                           "left_anti"))
    }
    val (t1, r1) = round(daily, 1)
    val (t2, r2) = round(r1, 2)
    val (t3, _) = round(r2, 3)
    ordered(t1.unionByName(t2).unionByName(t3)
              .select(col("round"), col("outlier_day"),
                      r4(col("cents").cast("double") / 100.0).as("revenue"),
                      col("n_remaining"), col("r_stat")),
            "round")
  }

  /** Tukey–Kramer HSD pairwise comparisons — the post-hoc that belongs
    * after [[anovaF]]'s omnibus "segments differ": WHICH market segments
    * differ, with the studentized-range statistic q = |x̄_g − x̄_h| /
    * √(MSE/2·(1/n_g+1/n_h)) per pair (unequal-n Kramer form). Group
    * moments are exact integer cent sums from one fact-linear hash-agg;
    * MSE pools within-group variance from those same moments; the 10
    * segment pairs are a broadcast self-join of a 5-row frame. Doubles
    * appear only in the mirrored final formula.
    */
  def tukeyHsd(spark: SparkSession, sfDir: String): DataFrame = {
    val g = t(spark, sfDir, "orders")
      .join(t(spark, sfDir, "customer")
              .select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
              floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("x"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
           sum((col("x") * col("x")).cast("decimal(38,0)")).as("s2"))
    val mse = g.agg(sum(col("n")).as("nt"), count(lit(1)).as("k"),
                    sum((col("s2").cast("double") -
                         col("s").cast("double") * col("s").cast("double") /
                           col("n").cast("double")).cast("decimal(38,8)"))
                      .as("sse"))
      .select(col("nt"), col("k"),
              (col("sse").cast("double") /
               (col("nt") - col("k")).cast("double")).as("mse"))
    val a = g.select(col("seg").as("seg_a"), col("n").as("na"), col("s").as("sa"))
    val b = g.select(col("seg").as("seg_b"), col("n").as("nb"), col("s").as("sb"))
    ordered(
      a.crossJoin(b).filter(col("seg_a") < col("seg_b"))
        .crossJoin(broadcast(mse))
        .select(col("seg_a"), col("seg_b"),
                r4((col("sa").cast("double") / col("na").cast("double") -
                    col("sb").cast("double") / col("nb").cast("double")) / 100.0)
                  .as("mean_diff"),
                r4(abs(col("sa").cast("double") / col("na").cast("double") -
                       col("sb").cast("double") / col("nb").cast("double")) /
                   sqrt(col("mse") / 2.0 *
                        (lit(1.0) / col("na").cast("double") +
                         lit(1.0) / col("nb").cast("double")))).as("q_stat")),
      "seg_a", "seg_b")
  }

  /** Brown's double exponential smoothing (level + trend) on daily
    * revenue with α = 1/2 and the 5-tap integer kernel the [[Windows
    * .ewma]] family established: weights 16,8,4,2,1 are exact longs, so
    * S1 (smoothed level) is an integer numerator over the constant 31,
    * S2 (smoothed S1) an integer numerator over 31², and the DES level
    * a = 2S1−S2, trend b = S1−S2 (α/(1−α) = 1), one-step forecast
    * a + b = (93·A − 2·B)/961 are single exact-integer divisions at the
    * output boundary — no pow(), no order-dependent float accumulation,
    * engine-identical. The 5-tap truncation is the stated tradeoff
    * (weights below 1/31 dropped); output restricted to days with both
    * kernels full. Daily frame is driver-scale; the one global-order
    * window is over dates, not facts. Last 10 days emitted.
    */
  def desForecast(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val w = Window.orderBy(col("d").asc)
    val taps = (0 until 5).map(i =>
      lag(col("cents"), i).over(w) * lit(16L >> i))
    val s1 = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("a_num", taps.reduce(_ + _))
    val taps2 = (0 until 5).map(i =>
      lag(col("a_num"), i).over(w) * lit(16L >> i))
    val both = s1.withColumn("b_num", taps2.reduce(_ + _))
      .filter(col("rn") >= 9) // both kernels full
    val wLast = Window.orderBy(col("d").desc)
    ordered(
      both.withColumn("rk", row_number().over(wLast))
        .filter(col("rk") <= 10)
        .select(col("d"),
                r4(col("cents").cast("double") / 100.0).as("revenue"),
                r4(col("a_num").cast("double") / 31.0 / 100.0).as("s1"),
                r4(col("b_num").cast("double") / 961.0 / 100.0).as("s2"),
                r4((lit(2.0) * col("a_num").cast("double") * 31.0 -
                    col("b_num").cast("double")) / 961.0 / 100.0).as("level"),
                r4((col("a_num").cast("double") * 31.0 -
                    col("b_num").cast("double")) / 961.0 / 100.0).as("trend"),
                r4((lit(93.0) * col("a_num").cast("double") -
                    lit(2.0) * col("b_num").cast("double")) / 961.0 / 100.0)
                  .as("forecast_next")),
      "d")
  }

  // -------------------------------------------------------------------
  // Round-10b tier: spectral and motif analysis of the revenue series
  // -------------------------------------------------------------------

  /** Square-wave (Walsh first-harmonic) periodogram of daily revenue —
    * period detection with EXACT integer arithmetic end to end: for each
    * candidate period p the basis is w_t = +1 when 2·(t mod p) < p else
    * −1 (the sign square wave), so the correlation Σ w_t·cx_t of the
    * n-multiplied centered series is an exact integer, its square an
    * exact DECIMAL, and the normalized score (Σw·cx)²/(Σcx²·n) a single
    * boundary division — sidestepping sin/cos entirely, whose libm
    * last-ulp differences between engines would poison the hash gate.
    * The square wave carries ~81% (8/π²) of the sine fundamental's
    * power, ample for peak DETECTION (the weekly cycle stands out by
    * orders of magnitude). One fact-linear hash-agg to days; days × 13
    * periods is driver-scale.
    */
  def periodogram(spark: SparkSession, sfDir: String,
                  maxPeriod: Int = 14): DataFrame = {
    import spark.implicits._
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val st = daily.agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val idx = daily.crossJoin(broadcast(st))
      .select((row_number().over(Window.orderBy(col("d").asc)) - 1).as("t"),
              (qmul(col("n"), col("cents")) - col("s")).cast("decimal(19,0)").as("cx"),
              col("n"))
    val periods = (2 to maxPeriod).toDF("p")
    val corr = idx.crossJoin(broadcast(periods))
      .select(col("p"), col("n"),
              (when(pmod(col("t"), col("p")) * 2 < col("p"), lit(1))
                 .otherwise(lit(-1)) * col("cx")).as("wcx"),
              (col("cx") * col("cx")).cast("decimal(38,0)").as("cx2"))
      .groupBy(col("p"), col("n"))
      .agg(sum(col("wcx")).cast("decimal(38,0)").as("swc"),
           sum(col("cx2")).as("scx2"))
    ordered(
      corr.select(col("p").cast("long").as("period"),
                  r4((col("swc") * col("swc")).cast("decimal(38,0)")
                       .cast("double") /
                     (col("scx2").cast("double") * col("n").cast("double")))
                    .as("power_share")),
      "period")
  }

  /** Windowed pair frame shared by [[tsMotif]] and [[tsDiscord]]: all
    * pairs of non-overlapping w-day windows of the daily revenue series
    * with their z-normalized squared distance d² = 2w(1−r), where r is
    * the Pearson correlation of the two windows computed ENTIRELY from
    * exact integer sums. Plan shape: each day carries its next w values
    * as w PLAIN lead() columns (one global-order window over the
    * day-scale series), so Σx, Σx², Σxy are inline codegen'd integer
    * expressions and the whole n² pair set is ONE broadcast
    * nested-loop join with no per-pair shuffle or sort at all — the
    * first draft's per-gap running-window formulation shuffled+sorted a
    * 2.8M-row product frame twice and measured 14 s/35 s per query;
    * this one is sub-second on the same series. Values are quantized to
    * HUNDRED-DOLLAR units (cents div 10000) so every product and sum
    * stays int64-exact at the 100× decade (daily revenue there is
    * ~1.5·10⁹ dollars — whole-dollar squares already wrap int64, caught
    * by the ANSI overflow error in the decade run; at 10⁻⁴ relative
    * resolution the z-normalized correlation is unaffected). n windows ×
    * n partners is series²-scale, independent of fact volume; the daily
    * agg is the only fact pass.
    */
  private def windowPairs(spark: SparkSession, sfDir: String,
                          w: Int): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val idx = daily
      .select((row_number().over(Window.orderBy(col("d").asc)) - 1).as("t"),
              col("d"), expr("cents div 10000").as("x"))
    val wLead = Window.orderBy(col("t").asc)
    val leads = (0 until w).map(i => lead(col("x"), i).over(wLead).as(s"x$i"))
    val vec = idx.select(col("t") +: col("d") +: leads: _*)
      .filter(col(s"x${w - 1}").isNotNull) // full windows only (dense t)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(tag: String, tn: String, dn: String): DataFrame =
      vec.select(col("t").as(tn) +: col("d").as(dn) +:
        (0 until w).map(i => col(s"x$i").as(s"$tag$i")): _*)
    val sxy = (0 until w).map(i => col(s"a$i") * col(s"b$i")).reduce(_ + _)
    val sx1 = (0 until w).map(i => col(s"a$i")).reduce(_ + _)
    val sx2 = (0 until w).map(i => col(s"b$i")).reduce(_ + _)
    val sxx1 = (0 until w).map(i => col(s"a$i") * col(s"a$i")).reduce(_ + _)
    val sxx2 = (0 until w).map(i => col(s"b$i") * col(s"b$i")).reduce(_ + _)
    val den1 = (lit(w.toLong) * sxx1 - sx1 * sx1).cast("double")
    val den2 = (lit(w.toLong) * sxx2 - sx2 * sx2).cast("double")
    side("a", "t1", "d1")
      .join(side("b", "t2", "d2"), col("t2") - col("t1") >= w)
      .filter(den1 > 0 && den2 > 0)
      .select(col("t1"), col("t2"), col("d1"), col("d2"),
              ((lit(w.toLong) * sxy - sx1 * sx2).cast("double") /
               sqrt(den1 * den2)).as("r"))
      .select(col("t1"), col("t2"), col("d1"), col("d2"), r4(col("r")).as("r"),
              r4(lit(2.0 * w) * (lit(1.0) - col("r"))).as("d2z"))
  }

  /** Time-series MOTIF — the most similar pair of non-overlapping 7-day
    * revenue windows (matrix-profile-lite; Yeh et al. 2016 define the
    * exact-search objective, computed here set-wise instead of via the
    * streaming dot-product recursion): top-5 pairs by z-normalized
    * distance. The repeated shape is the series' template week — what a
    * forecaster should treat as the seasonal prototype.
    */
  def tsMotif(spark: SparkSession, sfDir: String, w: Int = 7): DataFrame = {
    val wRank = Window.orderBy(col("d2z").asc, col("t1").asc, col("t2").asc)
    ordered(
      windowPairs(spark, sfDir, w)
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("rank"), col("d1"), col("d2"), col("r"), col("d2z")),
      "rank")
  }

  /** Time-series DISCORD — the 7-day window FARTHEST from its nearest
    * non-overlapping neighbor (max-min over the same pair frame as
    * [[tsMotif]]): the week least like any other week, the
    * matrix-profile anomaly. Top-5 discords with their nearest-neighbor
    * distance and that neighbor's start date.
    */
  def tsDiscord(spark: SparkSession, sfDir: String, w: Int = 7): DataFrame = {
    val pairs = windowPairs(spark, sfDir, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // each window's nearest neighbor over pairs in EITHER role — two
    // min-struct hash-aggs (map-side combining, (d2z, nn_d) lexicographic
    // tie rule) instead of a rank window over the n²-row symmetrized
    // frame: the window formulation shuffled+sorted 5.7M rows and
    // measured 3 s slower on the same series
    def nnAgg(tc: String, dc: String, oc: String): DataFrame =
      pairs.groupBy(col(tc).as("t"), col(dc).as("d"))
        .agg(min(struct(col("d2z").as("z"), col(oc).as("nd"))).as("m"))
    val nn = nnAgg("t1", "d1", "d2").unionByName(nnAgg("t2", "d2", "d1"))
      .groupBy(col("t"), col("d")).agg(min(col("m")).as("m"))
      .select(col("t"), col("d"), col("m.nd").as("nn_d"),
              col("m.z").as("nn_d2z"))
    val wRank = Window.orderBy(col("nn_d2z").desc, col("d").asc)
    ordered(
      nn.withColumn("rank", row_number().over(wRank).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("rank"), col("d"), col("nn_d"), col("nn_d2z")),
      "rank")
  }

  /** Bipartite co-purchase projection — the part–part graph induced by
    * shared orders (the "customers who bought A also bought B" edge
    * list), cosine-normalized: weight = n_ab/√(n_a·n_b) so mega-popular
    * parts don't dominate raw co-counts. Pair generation is WITHIN-order
    * (distinct parts per order self-joined on the order key), so the
    * blow-up is Σ basket², bounded by the basket-size cap every real
    * catalog pipeline enforces (TPC-H baskets ≤ 7; at 100 TB add a
    * degree cap exactly like [[Dedup.bucketCandidates]]'s hot-bucket
    * rule). Top-30 edges by rounded cosine.
    */
  def bipartiteProjection(spark: SparkSession, sfDir: String,
                          topN: Int = 30): DataFrame = {
    val op = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = op.groupBy(col("pk")).agg(count(lit(1)).as("n_orders"))
    val co = op.select(col("ok"), col("pk").as("part_a"))
      .join(op.select(col("ok"), col("pk").as("part_b")), "ok")
      .filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_co"))
    // top-N via TakeOrdered + rank over the N-row result (r15, the r13
    // rank-leg kill applied here too: the global-window rank funneled the
    // ENTIRE pair-grain cosine frame through one reducer to keep 30 rows;
    // graft.util.Ranked's equivalence argument — rank ≤ N ⟺ membership in
    // the ordered N-prefix — makes the rewrite row-identical)
    ordered(
      graft.util.Ranked.topkRanked(
        co.join(deg.select(col("pk").as("part_a"), col("n_orders").as("na")),
                "part_a")
          .join(deg.select(col("pk").as("part_b"), col("n_orders").as("nb")),
                "part_b")
          .select(col("part_a"), col("part_b"), col("n_co"), col("na"), col("nb"),
                  r4(col("n_co").cast("double") /
                     sqrt(col("na").cast("double") * col("nb").cast("double")))
                    .as("cosine")),
        topN, "rank",
        col("cosine").desc, col("part_a").asc, col("part_b").asc)
        .withColumn("rank", col("rank").cast("long")),
      "rank")
  }

  /** Hash-deterministic randomization test (the permutation test in its
    * scalable Fisher–Pitman form): is the order-value difference between
    * two priority classes explainable by chance? B = 100 pseudo-label
    * reassignments per contrast; each replicate reassigns every order to
    * the treat side with probability n_t/n via the 2²⁰ lattice hash (the
    * [[poissonBootstrap]] recipe; the threshold test u·n < n_t·2²⁰ is an
    * exact integer cross-multiplication, no float probability), the null
    * distribution of mean differences falls out of ONE fact×B fan-out
    * into ONE hash-agg, and p = (#{|Δ_b| ≥ |Δ_obs|} + 1)/(B+1) with the
    * add-one correction. The binomial-reassignment variant (marginal
    * group sizes vary per replicate) is the form that runs at 100 TB —
    * fixed-size permutation needs a global shuffle per replicate.
    * Extremeness compares r4-quantized |Δ| on both engines. Two
    * contrasts emitted (URGENT vs LOW, HIGH vs MEDIUM).
    */
  def permutationTest(spark: SparkSession, sfDir: String,
                      b: Int = 100): DataFrame = {
    import spark.implicits._
    val reps = (0 until b).toDF("rep")
    def contrast(idx: Int, pa: String, pb: String): DataFrame = {
      val rows = t(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === pa || col("o_orderpriority") === pb)
        .select(col("o_orderkey").as("k"),
                (col("o_orderpriority") === pa).cast("int").as("is_t"),
                floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("x"))
      val obs = rows.agg(
        sum(col("is_t")).cast("long").as("nt"), count(lit(1)).as("n"),
        sum(col("is_t") * col("x")).as("st"),
        sum((lit(1) - col("is_t")) * col("x")).as("sc"))
        .select(col("nt"), col("n"),
                (col("st").cast("double") / col("nt").cast("double") -
                 col("sc").cast("double") / (col("n") - col("nt")).cast("double"))
                  .as("obs_diff"))
      val u = "pmod(pmod(k, 1048576) * 489905 + rep * 40503 + 29, 1048576)"
      val nulls = rows.crossJoin(broadcast(reps)).crossJoin(broadcast(obs))
        .select(col("rep"), col("x"), col("nt"), col("n"),
                (expr(u) * col("n") < col("nt") * lit(1048576L))
                  .cast("int").as("pt"))
        .groupBy(col("rep"))
        .agg(sum(col("pt") * col("x")).as("st"), sum(col("pt")).as("ct"),
             sum((lit(1) - col("pt")) * col("x")).as("sc"),
             sum(lit(1) - col("pt")).as("cc"))
        .filter(col("ct") > 0 && col("cc") > 0)
        .select(col("rep"),
                (col("st").cast("double") / col("ct").cast("double") -
                 col("sc").cast("double") / col("cc").cast("double")).as("d"))
      nulls.crossJoin(broadcast(obs))
        .select(lit(idx.toLong).as("contrast_id"),
                lit(s"$pa vs $pb").as("contrast"),
                col("nt"), col("n"), col("obs_diff"),
                (r4(abs(col("d"))) >= r4(abs(col("obs_diff"))))
                  .cast("long").as("ext"))
        .groupBy(col("contrast_id"), col("contrast"), col("nt"), col("n"))
        .agg(first(r4(col("obs_diff") / 100.0)).as("obs_diff"),
             count(lit(1)).as("n_reps"), sum(col("ext")).as("n_extreme"))
        .select(col("contrast_id"), col("contrast"), col("nt").as("n_treat"),
                (col("n") - col("nt")).as("n_ctrl"), col("obs_diff"),
                col("n_reps"), col("n_extreme"),
                r4((col("n_extreme") + 1).cast("double") /
                   (col("n_reps") + 1).cast("double")).as("p_value"))
    }
    ordered(contrast(1, "1-URGENT", "5-LOW")
              .unionByName(contrast(2, "2-HIGH", "3-MEDIUM")),
            "contrast_id")
  }

  /** Overdispersion profile of the orders-per-customer count by segment:
    * dispersion index D = s²/x̄ (Poisson ⇒ 1) plus the
    * method-of-moments negative-binomial fit r̂ = x̄²/(s²−x̄),
    * p̂ = x̄/s² where overdispersed — the distributional check behind
    * every count-model choice. Zero-order customers INCLUDED via the
    * dimension left join (dropping them biases x̄ up and D down — the
    * classic mistake); moments exact integers off one fact hash-agg +
    * one dim-grain agg.
    */
  def overdispersion(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = t(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      .join(t(spark, sfDir, "orders")
              .groupBy(col("o_custkey")).agg(count(lit(1)).as("k")),
            col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("seg"), coalesce(col("k"), lit(0L)).as("k"))
    val m = col("s").cast("double") / col("n_customers").cast("double")
    val v = (col("s2").cast("double") -
             col("s").cast("double") * col("s").cast("double") /
               col("n_customers").cast("double")) /
            (col("n_customers") - 1).cast("double")
    ordered(
      perCust.groupBy(col("seg"))
        .agg(count(lit(1)).as("n_customers"), sum(col("k")).as("s"),
             sum(col("k") * col("k")).as("s2"))
        .select(col("seg"), col("n_customers"),
                r4(m).as("mean_orders"), r4(v).as("var_orders"),
                r4(v / m).as("dispersion"),
                r4(when(v > m, m * m / (v - m))).as("nb_r"),
                r4(when(v > m, m / v)).as("nb_p")),
      "seg")
  }

  /** ε-differentially-private count release via the GEOMETRIC mechanism
    * (Ghosh–Roughgarden–Sundararajan 2009: the discrete, utility-optimal
    * Laplace analogue) — the aggregate-release shape a warehouse uses to
    * publish group counts without exposing individuals. The noise draw is
    * DERANDOMIZED for the gate: u = the md5-48 uniform of the group key
    * (both engines compute the identical hash), inverted through the
    * two-sided geometric CDF as a LADDER of precomputed threshold
    * literals (F(k) = α^|k|/(1+α) below zero, 1 − α^(k+1)/(1+α) above;
    * α = e^(−ε) evaluated ONCE in Scala and inlined into both plans —
    * no transcendental evaluated by either engine, the q_hll_gated
    * discipline). Production swaps u for a real RNG; mechanism, ladder
    * and release arithmetic are exactly what the gate pins. Noise is
    * truncated to ±12 (tail mass < 0.3% at ε = 0.5 — the standard bounded
    * release). Scale: one hash-agg to group counts, map-only release.
    */
  def dpGeometric(spark: SparkSession, sfDir: String,
                  epsilon: Double = 0.5): DataFrame = {
    val alpha = math.exp(-epsilon)
    val B = 12
    // F(k), k in [-B, B-1]: the CASE ladder's ascending thresholds
    def cdf(k: Int): Double =
      if (k < 0) math.pow(alpha, -k) / (1.0 + alpha)
      else 1.0 - math.pow(alpha, k + 1) / (1.0 + alpha)
    val u = conv(substring(md5(col("o_orderpriority")), 1, 12), 16, 10)
      .cast("long").cast("double") / lit(281474976710656.0)
    val noise = (-B until B).foldRight(lit(B.toLong)) { (k, rest) =>
      when(u < lit(cdf(k)), lit(k.toLong)).otherwise(rest)
    }
    ordered(
      t(spark, sfDir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("true_count"))
        .withColumn("noise", noise)
        .select(col("o_orderpriority"), col("true_count"), col("noise"),
                (col("true_count") + col("noise")).as("released_count")),
      "o_orderpriority")
  }

  /** CUPED variance reduction for the A/B readout (Deng et al. 2013 —
    * the pre-period covariate adjustment every experimentation platform
    * runs): Y = a user's post-period spend, X = the same user's
    * PRE-period spend (the experiment can't have caused it), θ =
    * cov(X,Y)/var(X) pooled, and the adjusted variant means are
    * mean_Y − θ·(mean_X − mean_X_pooled) — algebraically the mean of the
    * per-user CUPED metric, but assembled ONLY from group sums so every
    * aggregate is an exact integer (per-user doubles would make the mean
    * summation-order dependent). The pre/post split is the event-time
    * midpoint ((min+max) div 2 epoch-µs — data-derived, deterministic);
    * variants are the q_abtest user_id parity. Output: one row with the
    * raw and adjusted variant means, their diffs, θ, and the variance-
    * reduction fraction ρ² = cov²/(var_X·var_Y) — the number that says
    * how much experiment runtime CUPED buys. Sums of products ride
    * [[graft.util.Tables.qmul]] (user-level spend² exceeds int64 at the
    * 100 TB grain). Two hash-aggs (user grain, then variant grain).
    */
  def abtestCuped(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .select(col("user_id"), col("ts_us"),
              floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
                .as("cents"))
    val cut = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("cut"))
    val perUser = ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts_us") < col("cut"), col("cents")).otherwise(0L))
             .as("x"),
           sum(when(col("ts_us") >= col("cut"), col("cents")).otherwise(0L))
             .as("y"))
      .select((col("user_id") % 2 === 0).as("is_a"), col("x"), col("y"))
    val g = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(qmul(col("x"), col("y"))).as("sxy"),
      sum(qsq(col("x"))).as("sxx"), sum(qsq(col("y"))).as("syy"),
      sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("is_a"), col("x")).otherwise(0L)).as("sxa"),
      sum(when(col("is_a"), col("y")).otherwise(0L)).as("sya"),
      sum(when(!col("is_a"), col("x")).otherwise(0L)).as("sxb"),
      sum(when(!col("is_a"), col("y")).otherwise(0L)).as("syb"))
    val nD = col("n").cast("double")
    val cov = (nD * col("sxy").cast("double") -
               col("sx").cast("double") * col("sy").cast("double"))
    val varX = (nD * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double"))
    val varY = (nD * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))
    val theta = cov / varX
    val nA = col("n_a").cast("double")
    val nB = (col("n") - col("n_a")).cast("double")
    val meanXAll = col("sx").cast("double") / nD / 100.0
    val myA = col("sya").cast("double") / nA / 100.0
    val myB = col("syb").cast("double") / nB / 100.0
    val mxA = col("sxa").cast("double") / nA / 100.0
    val mxB = col("sxb").cast("double") / nB / 100.0
    val cA = myA - theta * (mxA - meanXAll)
    val cB = myB - theta * (mxB - meanXAll)
    g.select(col("n_a"), (col("n") - col("n_a")).as("n_b"),
             r4(theta).as("theta"),
             r4(myA).as("mean_y_a"), r4(myB).as("mean_y_b"),
             r4(cA).as("cuped_mean_a"), r4(cB).as("cuped_mean_b"),
             r4(myA - myB).as("diff_raw"),
             r4(cA - cB).as("diff_cuped"),
             r4(cov * cov / (varX * varY)).as("var_reduction"))
  }

  /** Holt–Winters-SHAPED seasonal forecast (level + trend + weekly
    * seasonal) in the same truncated-window form as [[desForecast]]:
    * exponential recursions are replaced by 5-tap dyadic-weight kernels
    * (exact integers at the ×31/×961 scales — the Brown double-smoothing
    * construction the DES oracle pins), and the additive weekly seasonal
    * index is the mean deviation cents·961 − level_num over the FOUR most
    * recent same-weekday observations (a dow-partitioned trailing window —
    * exact integers until the one mirrored output division). Forecast for
    * the same weekday next week = level + 7·trend + seasonal, assembled as
    * a single integer-ratio expression so cnt divides exactly once.
    * Day-of-week is epoch-day arithmetic ((days+3) mod 7 — no engine
    * calendar functions). Output: the last 14 days. Scale: day-grain
    * series after one fact hash-agg; calendar-bounded windows.
    */
  def hwForecast(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val w = Window.orderBy(col("d").asc)
    val taps = (0 until 5).map(i => lag(col("cents"), i).over(w) * lit(16L >> i))
    val s1 = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("dow",
        (datediff(col("d"), lit("1970-01-01").cast("date")) + 3) % 7)
      .withColumn("a_num", taps.reduce(_ + _))
    val taps2 = (0 until 5).map(i => lag(col("a_num"), i).over(w) * lit(16L >> i))
    val both = s1.withColumn("b_num", taps2.reduce(_ + _))
      .filter(col("rn") >= 9)
      .withColumn("level_num",
        lit(2L) * col("a_num") * 31L - col("b_num")) // x961 scale
      .withColumn("trend_num", col("a_num") * 31L - col("b_num"))
      .withColumn("dev_num", col("cents") * 961L - col("level_num"))
    val wDow = Window.partitionBy(col("dow")).orderBy(col("d").asc)
      .rowsBetween(-3, 0)
    val seasoned = both
      .withColumn("sdev", sum(col("dev_num")).over(wDow))
      .withColumn("scnt", count(lit(1)).over(wDow))
    val wLast = Window.orderBy(col("d").desc)
    ordered(
      seasoned.withColumn("rk", row_number().over(wLast))
        .filter(col("rk") <= 14)
        .select(col("d"),
                r4(col("cents").cast("double") / 100.0).as("revenue"),
                r4(col("level_num").cast("double") / 961.0 / 100.0).as("level"),
                r4(col("trend_num").cast("double") / 961.0 / 100.0).as("trend"),
                r4(col("sdev").cast("double") /
                   (col("scnt").cast("double") * 961.0 * 100.0)).as("seasonal"),
                r4(((col("level_num") + lit(7L) * col("trend_num"))
                      .cast("double") * col("scnt").cast("double") +
                    col("sdev").cast("double")) /
                   (col("scnt").cast("double") * 961.0 * 100.0))
                  .as("forecast_next_week")),
      "d")
  }

  /** SAX symbolization of the daily revenue series (Lin/Keogh 2003 —
    * the symbolic index behind wholesale motif/anomaly search): the
    * series is z-normalized against its OWN exact moments (integer cents
    * sums; variance numerator n·Σx²−(Σx)² via the overflow-safe [[graft
    * .util.Tables.qsq]] DECIMAL square), PAA-compressed into `w` equal
    * segments by pure integer index arithmetic ((rn−1)·w div n — no
    * float boundaries), and each segment's mean maps to a 4-letter
    * alphabet through the standard Gaussian breakpoints (−0.6745, 0,
    * 0.6745 — quartile literals, no distribution functions evaluated).
    * Every engine-evaluated step is either exact-integer or one mirrored
    * IEEE expression of exact inputs. Output: per segment, its day count,
    * PAA mean (dollars), z-score and symbol — the [[tsMotif]] family's
    * missing representation layer. Scale: day-grain series after one
    * fact hash-agg; one global window (calendar-bounded).
    */
  def saxSymbols(spark: SparkSession, sfDir: String, w: Int = 16): DataFrame = {
    val daily = t(spark, sfDir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg((sum(money(col("o_totalprice"))) * 100).cast("long").as("cents"))
    val st = daily.agg(count(lit(1)).as("n"),
                       sum(col("cents")).as("sx"),
                       sum(qsq(col("cents"))).as("sxx"))
    val seg = daily
      .withColumn("rn", row_number().over(Window.orderBy(col("d").asc)))
      .crossJoin(broadcast(st))
      .withColumn("seg", expr(s"(rn - 1) * $w div n"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_days"),
           sum(col("cents")).as("seg_sum"),
           min(col("n")).as("n"), min(col("sx")).as("sx"),
           min(col("sxx")).as("sxx"))
    val nD = col("n").cast("double")
    val mu = col("sx").cast("double") / nD
    val sd = sqrt((nD * col("sxx").cast("double") -
                   col("sx").cast("double") * col("sx").cast("double")) /
                  (nD * nD))
    val paa = col("seg_sum").cast("double") / col("n_days").cast("double")
    val z = (paa - mu) / sd
    ordered(
      seg.select(col("seg"), col("n_days"),
                 r4(paa / lit(100.0)).as("paa_revenue"),
                 r4(z).as("z"),
                 when(z < lit(-0.6745), lit("a"))
                   .when(z < lit(0.0), lit("b"))
                   .when(z < lit(0.6745), lit("c"))
                   .otherwise(lit("d")).as("symbol")),
      "seg")
  }

  /** Split-conformal prediction intervals — distribution-free coverage
    * for a point predictor (Vovk et al., "Algorithmic Learning in a Random
    * World" 2005; the split/inductive form of Papadopoulos et al. 2002,
    * popularized by Lei et al., JASA 2018): train a predictor on one
    * split, take the ⌈(n+1)(1−α)⌉-th smallest absolute residual on a
    * CALIBRATION split as the interval half-width q̂, and the interval
    * pred ± q̂ covers a fresh point with probability ≥ 1−α, no
    * distributional assumptions. The ML-eval primitive for "how wide must
    * the error bars be" — complements q_prediction_interval's Gaussian
    * regression bands with the assumption-free version.
    *
    * Deterministic derivation: events split 3 ways by event_id mod 3
    * (train/calibration/test), predictor = per-event_type train mean in
    * floor-divided MICRO-cents, q̂ = the exact order statistic at rank
    * min(⌈(n_cal+1)·0.9⌉, n_cal) in (residual, event_id) order — the rank
    * rule spelled explicitly like percentileDisc, so both engines agree
    * on duplicate residuals — and the TEST split reports empirical
    * coverage in basis points (≈ 9000 at α = 0.1, the guarantee made
    * measurable). Integer micro-cents end to end; no doubles anywhere in
    * the output.
    *
    * Scale note: the order statistic is a per-event_type window rank —
    * the exact tier (percentileDisc's documented discipline); at 100 TB
    * the q̂ leg swaps to the approx-quantile sketch, same contract.
    */
  def conformalPi(spark: SparkSession, sfDir: String,
                  alphaBp: Int = 1000): DataFrame = {
    val ev = events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
              floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
                .as("cents"))
    val mu = ev.filter(col("event_id") % 3 === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_train"),
           expr("sum(cents) * 1000000 div count(1)").as("mu_micro"))
    val calib = ev.filter(col("event_id") % 3 === 1)
      .join(broadcast(mu), "event_type")
      .select(col("event_type"), col("event_id"),
              abs(col("cents") * lit(1000000L) - col("mu_micro")).as("r"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("r").asc, col("event_id").asc)
    val ranked = calib
      .withColumn("rn", row_number().over(w))
      .withColumn("n_cal",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
    // exactly one row per event_type survives the rank filter; the
    // trailing Aggregate is value-identical and states the bound IN THE
    // PLAN for the broadcast-hint scale guard
    val qhat = ranked
      .filter(col("rn") ===
        least(ceil((col("n_cal") + lit(1L)) * lit(1.0 - alphaBp / 10000.0)),
              col("n_cal")))
      .groupBy(col("event_type"))
      .agg(max(col("n_cal")).as("n_cal"), max(col("r")).as("q_micro"))
    val test = ev.filter(col("event_id") % 3 === 2)
      .join(broadcast(mu), "event_type")
      .join(broadcast(qhat), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_test"),
           sum(when(abs(col("cents") * lit(1000000L) - col("mu_micro"))
                      <= col("q_micro"), 1L).otherwise(0L)).as("covered"))
    ordered(
      mu.join(qhat, "event_type").join(test, "event_type")
        .select(col("event_type"), col("n_train"), col("n_cal"),
                col("n_test"), col("mu_micro"), col("q_micro"),
                expr("covered * 10000 div n_test").as("coverage_bp")),
      "event_type")
  }

  /** Coarsened Exact Matching ATT — causal effect estimation when
    * treatment isn't randomized (Iacus, King & Porro, "Causal Inference
    * without Balance Checking: Coarsened Exact Matching", Political
    * Analysis 2012): coarsen pre-treatment covariates into bins, exact-
    * match treated/control within strata, DISCARD strata lacking either
    * arm, and weight stratum-level outcome differences by treated counts.
    * Complements the existing causal tier (q_did's parallel trends,
    * q_abtest_cuped's variance reduction) with the matching leg.
    *
    * Deterministic derivation: treatment = user_id parity (the abtest
    * convention), covariates = PRE-period spend (exact cents) and event
    * count coarsened by FIXED cutpoints (data-independent bins — the
    * "coarsened exact" in CEM; no quantile fitting), outcome = POST-period
    * spend, the pre/post cut the same (min+max)/2 timestamp midpoint as
    * abtestCuped. Arithmetic is integer end to end: per-stratum mean
    * difference in floor-divided MICRO-cents (positive sums, floor ≡
    * trunc), treated-weighted and summed exactly in BIGINT; the single
    * final division to ATT cents is one IEEE double op under the r4
    * convention. Magnitude audit: stratum spend sums ≤ ~10¹² cents at the
    * 100× decade → ·10⁶ < 2⁶³.
    *
    * Scale: one shuffle on user_id for the per-user frame, one hash-agg to
    * the ≤25-row strata table; everything after is driver-trivial.
    */
  def cemAtt(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
      .select(col("user_id"), col("ts_us"),
              floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
                .as("cents"))
    val cut = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("cut"))
    val pu = ev.crossJoin(broadcast(cut))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts_us") < col("cut"), col("cents")).otherwise(0L))
             .as("pre"),
           sum(when(col("ts_us") < col("cut"), 1L).otherwise(0L)).as("pre_n"),
           sum(when(col("ts_us") >= col("cut"), col("cents")).otherwise(0L))
             .as("y"))
      .select((col("user_id") % 2 === 0).as("treated"),
              least(lit(4L), expr("pre div 60000")).as("spend_bin"),
              least(lit(4L), expr("pre_n div 12")).as("act_bin"),
              col("y"))
    val strata = pu.groupBy(col("spend_bin"), col("act_bin"))
      .agg(sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
           sum(when(col("treated"), col("y")).otherwise(0L)).as("s_t"),
           sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
           sum(when(!col("treated"), col("y")).otherwise(0L)).as("s_c"))
    val matched = strata.filter(col("n_t") > 0L && col("n_c") > 0L)
      .select(col("n_t"),
              (col("n_t") *
               (expr("s_t * 1000000 div n_t") -
                expr("s_c * 1000000 div n_c"))).as("wdiff"))
    val nTreated = pu.agg(
      sum(when(col("treated"), 1L).otherwise(0L)).as("n_treated"))
    matched.agg(count(lit(1)).cast("long").as("n_strata_matched"),
                sum(col("n_t")).as("n_matched_treated"),
                sum(col("wdiff")).as("total_micro"))
      .crossJoin(broadcast(nTreated))
      .select(col("n_treated"), col("n_matched_treated"),
              expr("n_matched_treated * 10000 div n_treated").as("matched_bp"),
              col("n_strata_matched"),
              r4(col("total_micro").cast("double") /
                 (col("n_matched_treated").cast("double") * lit(1000000.0)))
                .as("att_cents"))
  }

  /** Bradley–Terry preference strengths from pairwise comparisons — the
    * preference-data primitive of reward modeling (Bradley & Terry 1952;
    * RLHF reward models ARE BT fits over human preference pairs, Ouyang
    * et al. 2022 §3.3; fitted via Hunter's MM algorithm, Annals of
    * Statistics 2004, eq. 1.4: θᵢ ← Wᵢ / Σⱼ nᵢⱼ/(θᵢ+θⱼ), a fixed number
    * of rounds so the plan is static).
    *
    * Comparisons derive deterministically from the events table: per user,
    * event type a "beats" b when the user's total spend (exact integer
    * cents) on a exceeds b — each user contributes one pairwise vote per
    * ordered type pair, ties abstain. The MM rounds run in FIXED-POINT
    * micro-units end to end (θ as BIGINT micros, each round two integer
    * floor-divisions at 10¹² scale), so every round is exactly
    * reproducible in ANSI SQL — no float drift, hash-gated like the rest
    * of the registry. Magnitude audit: nᵢⱼ ≤ users ≤ 2·10⁵ at the 100×
    * decade → nᵢⱼ·10¹² ≤ 2·10¹⁷ < 2⁶³; Wᵢ·10¹² ≤ 8·10¹⁷ < 2⁶³. Types
    * with ZERO directed wins are kept at a 1-micro theta floor (the MM
    * limit θ→0) rather than dropped, so their nᵢⱼ terms keep deflating
    * opponents' denominators exactly as Hunter's update prescribes.
    *
    * Scale: the vote join is per-user over the ≤|event_types|² per-user
    * type totals (bounded fan-out, shuffles on user_id once); everything
    * after aggregates to the |event_types|²-row win matrix, and the MM
    * rounds iterate a ≤25-row frame — driver-trivial at any corpus.
    * Output: (event_type, wins, comparisons, theta_micro, rank).
    */
  def bradleyTerry(spark: SparkSession, sfDir: String,
                   rounds: Int = 3): DataFrame = {
    val ut = events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
              floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
                .as("cents"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("cents")).as("v"))
    val dir = ut.select(col("user_id"), col("event_type").as("i"),
                        col("v").as("va"))
      .join(ut.select(col("user_id"), col("event_type").as("j"),
                      col("v").as("vb")), "user_id")
      .filter(col("i") =!= col("j") && col("va") > col("vb"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = dir.select(col("i"), col("j"), col("w"))
      .unionByName(dir.select(col("j").as("i"), col("i").as("j"), col("w")))
      .groupBy(col("i"), col("j")).agg(sum(col("w")).as("n_ij"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wt = dir.groupBy(col("i")).agg(sum(col("w")).as("wi"))
    val init = n.select(col("i")).distinct()
      .withColumn("t", lit(1000000L))
    // the theta/win frames are |event_types|-row (Deduplicate/Aggregate
    // bounded in-plan) — broadcast them so each MM round is map-side over
    // the already-tiny win matrix instead of three shuffles of it
    // LEFT-join wt with a 1-micro theta floor: a type with ZERO directed
    // wins (possible under fixture drift — every spend comparison lost)
    // stays in the iteration at the MM limit theta->0 instead of silently
    // vanishing after round 1 and deflating every OTHER type's n_ij
    // denominator from round 2 on
    def round(theta: DataFrame): DataFrame = {
      val ti = theta.select(col("i"), col("t").as("ti"))
      val tj = theta.select(col("i").as("j"), col("t").as("tj"))
      n.join(broadcast(ti), "i").join(broadcast(tj), "j")
        .select(col("i"),
                expr("n_ij * 1000000000000 div (ti + tj)").as("s_ij"))
        .groupBy(col("i")).agg(sum(col("s_ij")).as("si"))
        .join(broadcast(wt), Seq("i"), "left")
        .select(col("i"),
          expr("greatest(1, coalesce(wi, 0) * 1000000000000 div si)")
            .as("t"))
    }
    val fin = (1 to rounds).foldLeft(init)((t, _) => round(t))
    ordered(
      fin.join(broadcast(wt), Seq("i"), "left")
        .withColumn("wi", coalesce(col("wi"), lit(0L)))
        .join(broadcast(n.groupBy(col("i")).agg(sum(col("n_ij")).as("n_i"))),
              "i")
        .select(col("i").as("event_type"), col("wi").as("wins"),
                col("n_i").as("comparisons"), col("t").as("theta_micro"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("theta_micro").desc,
                                           col("event_type")))
            .cast("long")),
      "event_type")
  }
}

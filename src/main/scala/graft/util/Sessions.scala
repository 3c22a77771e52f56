package graft.util

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** Session tuning applied by every entry point (Verify, Bench, tests).
  *
  * These are runtime SQL confs, safe to set on an already-built session.
  * Cluster-scale rationale per conf is inline — the same settings are what
  * we'd ship in a 1000-executor deployment (with shuffle.partitions sized to
  * ~2-3× total cores there; the driver harness sets it to local CPU count).
  *
  * The one static conf is the generated-code class cache,
  * `spark.sql.codegen.cache.maxEntries`. Spark keeps every class Janino
  * compiled in one JVM-wide cache keyed by (thread context class loader,
  * generated source), sized once, when `CodeGenerator` initializes at the
  * first code generation. In local mode the driver thread and the task
  * threads run under two different context class loaders and both compile
  * each class, so every class takes two keys, and the default of 100
  * entries evicted a working set of ~200 keys (`iterative_ml`'s four
  * entries) before it was reused: every query ran Janino again on code it
  * had already compiled. `tune` writes [[CodegenCacheEntries]] straight
  * into the session's SQLConf (the runtime `conf.set` path refuses static
  * keys), which is where `CodeGenerator` reads it, as long as no code was
  * generated in the JVM before the first `tune`; if some was, the cache
  * size is already fixed and `tune` logs one WARN instead of failing.
  */
object Sessions {
  /** Entries of the generated-code class cache, sized from a count. With
    * the cache unbounded, one `iterative_ml` benchmark run compiles 207
    * distinct keys and one `daily_etl` run 119; in a `graft.Bench` pass of
    * all 403 queries the largest single query (`q_ivfpq_recall`) compiles
    * 200 on its first run. The cache is four LRU segments of a quarter of
    * the entries each (Guava's default concurrency), so 250 entries would
    * hold `iterative_ml`'s keys at about 52 ± 6 per 62-entry segment; 500
    * is the smallest round value that keeps every segment at most half
    * full, and it leaves no steady-state recompile that an unbounded cache
    * avoids.
    */
  val CodegenCacheEntries = 500

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val codegenChecked = new AtomicBoolean(false)

  def tune(spark: SparkSession): SparkSession = {
    spark.sessionState.conf.setConfString(
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toString)
    if (codegenChecked.compareAndSet(false, true) &&
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0)
      log.warn("code was generated before the first Sessions.tune: the " +
        "codegen class cache keeps its earlier size instead of " +
        s"$CodegenCacheEntries entries, and queries may recompile classes")
    val c = spark.conf
    // events.parquet is TIMESTAMP(NANOS); Spark has no ns timestamp type, so
    // read it as raw LongType (epoch nanos) and normalize in Tables.events.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Deterministic cross-engine comparison: UTC everywhere.
    c.set("spark.sql.session.timeZone", "UTC")
    // AQE: runtime shuffle coalescing + skew-join splitting — the 100 TB
    // safety net for skewed keys without hand-salting every join.
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // Dims (region/nation/customer/part/supplier) stay broadcast-able well
    // past sf0.1; 64 MB covers a 100×-scale dim while fact tables shuffle.
    c.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // Let the planner pick shuffled-hash over sort-merge when its size
    // conditions hold (guide §3.1/§9): SHJ skips both sort legs and its
    // build side is size-gated by the same planner conditions at any
    // scale — oversize builds keep SMJ, so the preference is
    // scale-neutral, not a local-mode tune. ADOPTED round 16 on a clean
    // back-to-back full-suite A/B (flag the only diff, idle box):
    // geomean 0.979 over all 403, 0.956 over the 217 queries ≥0.3 s,
    // totals 245.3 → 239.9 s (OPTIMIZATION_r16.md). Env-overridable so
    // the A/B stays reproducible.
    c.set("spark.sql.join.preferSortMergeJoin",
      sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "false"))
    // The default 128-group threshold exists for UNBOUNDED object buffers
    // (collect_list): past it, ObjectHashAggregate sorts its input instead
    // of hash-aggregating. Our three typed imperative aggregates all have
    // buffers sized by their arguments, not their input, so 64k in-flight
    // groups bound a task's buffers at:
    //  - MinHashAggregator (a group per doc): 32 longs, ~16 MB in all;
    //  - CountMinAggregator (one global group): 4 × 1024 longs = 32 KB;
    //  - VecSumLong (`vec_sum_q`, Ivf.lloyd's means, a group per (group
    //    key, cell)): dim longs = 512 B at dim 64, ~32 MB in all; the fits
    //    hold at most groups·k = 256 such groups.
    // Lloyd's Carry rule also keeps a copy of the fit state (k·dim longs)
    // in each of its k cell buffers. That k²·dim·8 B (34 MB at k = 256)
    // grows with k, not with the group count, so this threshold does not
    // bound it; Ivf.lloyd's scaladoc states the k it is safe for.
    // Hash aggregation stays safe far past the per-partition doc counts any
    // sane 100 TB partitioning produces, and the sort of the (much larger)
    // pre-aggregate shingle stream never happens.
    c.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
    // Engine optimizer rules for already-built sessions (the
    // spark.sql.extensions=GraftExtensions path needs to be set at session
    // build; experimental.extraOptimizations is the runtime-injectable
    // equivalent). Idempotent: adding the same rule object twice would run
    // it twice per plan for no benefit.
    if (!spark.experimental.extraOptimizations.contains(graft.plans.BandedLevenshteinRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.BandedLevenshteinRule
    // Broadcast guard: forced broadcast() hints on relations estimated past
    // spark.graft.broadcastGuard.maxBytes are stripped (AQE then owns the
    // strategy) — the compile-time backstop for the one hint failure mode
    // that does not degrade at 100×.
    if (!spark.experimental.extraOptimizations.contains(graft.plans.BroadcastGuardRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.BroadcastGuardRule
    // Engine planner strategies (the custom-physical-operator tier): same
    // runtime-injectable path as the optimizer rules above.
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsofJoinStrategy
    spark
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions — the 100 TB discipline (SURVEY §7.5.6) encoded
  * as tests: filters reach the Parquet scan, projections prune the read
  * schema, dimension joins broadcast, top-k never globally sorts.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter predicate is pushed down to the Parquet scan") {
    val p = plan(SparkEntry.queries("q_filter_predicate")(spark, Sf))
    assert(p.contains("PushedFilters:"), p.take(2000))
    assert(p.contains("GreaterThan(l_discount"), "discount filter must reach the scan")
  }

  test("projection prunes the Parquet read schema") {
    val p = plan(SparkEntry.queries("q_scan_project")(spark, Sf))
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"),
      s"scan must not read untouched columns: $readSchema")
  }

  test("fact-dim join broadcasts the dimension side") {
    val p = plan(SparkEntry.queries("q_join_inner_equi")(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dim join must not shuffle the fact")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(SparkEntry.queries("q_topk")(spark, Sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("group aggregate uses partial (map-side) aggregation") {
    val p = plan(SparkEntry.queries("q_agg_group")(spark, Sf))
    assert(p.contains("HashAggregate"), p.take(2000))
    // partial+final pair → two HashAggregate nodes around the exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("semi/anti joins stay semi/anti at the physical level") {
    val semi = plan(SparkEntry.queries("q_join_semi")(spark, Sf))
    val anti = plan(SparkEntry.queries("q_join_anti")(spark, Sf))
    assert(semi.contains("LeftSemi"), semi.take(1500))
    assert(anti.contains("LeftAnti"), anti.take(1500))
  }

  test("batched ANN broadcasts the probe batch — the corpus never shuffles for scoring") {
    val p = plan(SparkEntry.queries("q_ann_batch")(spark, Sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"),
      "probe scoring must broadcast, never a shuffled cartesian:\n" + p.take(2000))
  }

  test("percent_total joins two aggregate outputs — no window over pre-aggregate rows") {
    val p = plan(SparkEntry.queries("q_percent_total")(spark, Sf))
    assert(!p.contains("Window"), "share division must not window the fact:\n" + p.take(2000))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("knn_classify picks the majority label via max_by aggregate, not a ranking window") {
    // the only windows allowed are the two-phase TopK's neighbor ranking
    // (partitioned on probe_id); the vote argmax itself must be max_by
    val p = plan(SparkEntry.queries("q_knn_classify")(spark, Sf))
    assert(p.contains("max_by"), "vote argmax must be a max_by aggregate:\n" + p.take(2000))
    val windowLines = p.linesIterator.filter(_.contains("Arguments: [row_number()")).toSeq
    assert(windowLines.forall(_.contains("probe_id")),
      s"only the TopK per-probe ranking may window: $windowLines")
  }

  test("imputation computes group stats via aggregate + broadcast join, not a window") {
    // a Window over (l_returnflag, month) would sort the whole fact on ≤36
    // reducers at 100 TB — the plan must show groupBy + broadcast join-back
    val p = plan(SparkEntry.queries("q_impute_avg")(spark, Sf))
    assert(!p.contains("Window"), "impute plan must not contain a window:\n" + p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("IVF list assignment aggregates with max_by, not a window over n×k rows") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val emb = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val cents = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("centroid_id", "centroid")
    val p = plan(graft.operators.Ivf.assignLists(emb, cents))
    assert(!p.contains("Window"), "assignment must not window-sort n×k rows:\n" + p.take(2000))
    assert(p.contains("max_by") || p.contains("HashAggregate"), p.take(2000))
  }

  test("weighted sampling is two-phase: local top-k before the per-lang window") {
    val p = plan(SparkEntry.queries("q_sample_weighted")(spark, Sf))
    // two window nodes: (lang, partition-id) local phase + per-lang merge
    assert("Window".r.findAllIn(p).length >= 2, p.take(3000))
    assert(p.contains("SPARK_PARTITION_ID") || p.contains("spark_partition_id"), p.take(3000))
  }

  test("chunking and scrubbing are shuffle-free up to the output sort") {
    // narrow fan-out / per-row regex: the only exchange allowed is the
    // range partitioning of the deterministic output ORDER BY
    for (name <- Seq("q_doc_chunk", "q_pii_scrub")) {
      val p = plan(SparkEntry.queries(name)(spark, Sf))
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name must not shuffle:\n" + p.take(2000))
    }
  }

  test("contamination broadcasts the benchmark shingle set") {
    val p = plan(SparkEntry.queries("q_contamination")(spark, Sf))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("cross join of dims plans as BroadcastNestedLoopJoin — never a shuffled cartesian") {
    val p = plan(SparkEntry.queries("q_cross_join")(spark, Sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), "keyless dim join must broadcast")
  }

  test("bm25 pushes the term filter below the tf aggregate and takes top-k ordered") {
    val df = SparkEntry.queries("q_bm25")(spark, Sf)
    val simple = df.queryExecution.executedPlan.toString
    assert(simple.contains("TakeOrderedAndProject"), "global top-k must not sort the corpus")
    // the IN(join,hash,scan) predicate must sit BELOW the tf aggregate in the
    // tree (descendants print after ancestors), so the shuffle carries only
    // query-term hits
    val filterIdx = simple.linesIterator.indexWhere(l => l.contains("Filter") && l.contains(" IN ("))
    val aggIdx = simple.linesIterator.indexWhere(_.contains("HashAggregate"))
    assert(filterIdx >= 0 && aggIdx >= 0 && filterIdx > aggIdx,
           s"term predicate must feed the aggregate (filter@$filterIdx agg@$aggIdx):\n" +
           simple.take(1500))
  }

  test("equi-depth ntile rank is range-partitioned, never a window NTILE") {
    val p = plan(SparkEntry.queries("q_equi_depth_hist")(spark, Sf))
    assert(!p.contains("ntile("), "must use the two-phase rank, not window NTILE")
    assert(p.contains("rangepartitioning"),
           "distributed rank is range-partitioned: " + p.take(1500))
  }

  test("attribution windows partition by user — no global event-stream sort") {
    val p = plan(SparkEntry.queries("q_attribution")(spark, Sf))
    assert(p.contains("Window"), p.take(1200))
    assert(p.contains("hashpartitioning(user_id"), "window must shard by user_id")
  }

  test("sliding distinct broadcasts the day calendar, not the activity table") {
    val p = plan(SparkEntry.queries("q_sliding_distinct")(spark, Sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("scd3 pushes the change-stream type filter down to the events scan") {
    val p = plan(SparkEntry.queries("q_scd3")(spark, Sf))
    assert(p.contains("EqualTo(event_type,signup)"),
      "the signup filter must reach the Parquet scan:\n" + p.take(2000))
  }

  test("accumulating snapshot prunes the lineitem read to its three milestone columns") {
    val p = plan(SparkEntry.queries("q_accumulating_snapshot")(spark, Sf))
    val readSchemas = p.linesIterator.filter(_.trim.startsWith("ReadSchema")).mkString("\n")
    assert(readSchemas.contains("l_shipdate") && readSchemas.contains("l_quantity"))
    assert(!readSchemas.contains("l_extendedprice") && !readSchemas.contains("l_discount"),
      s"milestone fold must not read measure columns it never touches: $readSchemas")
  }

  test("welch t-test is ONE conditional-aggregation pass: a single scan of orders") {
    val df = SparkEntry.queries("q_welch_t")(spark, Sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size === 1,
      s"both arms' moments must come from one scan, found ${scans.size}")
  }

  test("round-11: PQ ADC joins ride broadcasts — the code table and probe " +
       "never shuffle the corpus") {
    val p = plan(SparkEntry.queries("q_ann_pq")(spark, Sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    // the ADC top-k is a bounded TakeOrdered, never a global sort
    assert(p.contains("TakeOrderedAndProject"), "ADC top-k must TakeOrdered")
  }

  test("PQ queries encode each vector once and sum its ADC map-side: no " +
       "Union and no vec_id-keyed Exchange ahead of the top-k") {
    // one encode pass scores all subspaces per row, so there is neither a
    // per-subspace union nor a regroup of the scored rows by vec_id
    Seq("q_ann_pq", "q_ann_ivf_pq").foreach { qn =>
      val p = plan(SparkEntry.queries(qn)(spark, Sf))
      assert(!p.contains("Union"), s"$qn plan has a Union:\n${p.take(3000)}")
      assert("hashpartitioning\\(vec_id#".r.findFirstIn(p).isEmpty,
        s"$qn shuffles on vec_id:\n" +
          p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n"))
      assert(p.contains("TakeOrderedAndProject"), s"$qn top-k must TakeOrdered")
    }
  }

  test("round-11: rrfFusion's dense leg broadcasts the 1-row probe and the " +
       "final fuse joins two rank-bounded legs") {
    val p = plan(SparkEntry.queries("q_rrf_fusion")(spark, Sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), "fusion top-k must TakeOrdered")
  }

  test("round-11: the IVF candidate miners never carry the 64-long vectors " +
       "through the dedup exchange — only ids, labels and the scored cosine") {
    val df = graft.operators.Similarity.hardNegativesIvf(spark, Sf)
    val lines = plan(df).linesIterator.toSeq
    // the dedup exchange partitions on (a_id, b_id); its Input line (the
    // shipped schema, printed just above Arguments in formatted mode) must
    // not contain the vector columns — scoring happened BEFORE the dedup,
    // so only ids/labels/cos (and their first() buffers) ride the wire.
    // The cell-join exchanges DO carry vectors by necessity (both sides
    // need them to score in place) — that is the documented Σ|cell| shape.
    val dedupIdx = lines.indexWhere(l =>
      l.contains("hashpartitioning(a_id") && l.contains("b_id"))
    assert(dedupIdx > 0, "dedup exchange on (a_id, b_id) not found")
    val input = lines(dedupIdx - 1)
    assert(input.contains("Input"), input)
    assert(!input.contains("qa#") && !input.contains("qb#"),
      s"candidate dedup exchange carries vectors: $input")
  }

  test("round-13: filtered ANN serving is MAP-SIDE — the parity tag is a " +
       "PushedFilter on the labeled codes scan and the filtered serve " +
       "plan adds ZERO Exchanges over the unfiltered one") {
    import graft.operators.Ivf
    def exchanges(p: String): Int = "(?m)Exchange".r.findAllIn(p).size
    val unfiltered = plan(Ivf.annIvfPqServed(spark, Sf, 16, 4, 8, 8, 10))
    val filtered = plan(Ivf.annFilteredServed(spark, Sf, 16, 4, 8, 8, 10))
    assert(filtered.contains("codes_v2_labeled"),
      "filtered serve must read the format-bumped labeled codes table")
    assert(filtered.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(label_parity,0\\).*"),
      "parity predicate must reach the parquet reader as a PushedFilter:\n" +
        filtered.linesIterator.filter(_.contains("PushedFilters"))
          .mkString("\n"))
    assert(exchanges(filtered) <= exchanges(unfiltered),
      s"filtered serve plan grew Exchanges: ${exchanges(filtered)} > " +
        s"${exchanges(unfiltered)} — the r12 id-keyed filter shuffle is back")
  }

  test("whole-stage codegen covers the scalar-function hot path") {
    // AQE shows codegen spans only in the executed (final) plan
    val df = SparkEntry.queries("q_scalar_math_funcs")(spark, Sf)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    // codegen spans render as "*(n) Operator" in the executed plan
    assert(executed.contains("*("), executed.take(1500))
  }
}

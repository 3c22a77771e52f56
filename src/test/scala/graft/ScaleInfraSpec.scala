package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore
import graft.util.Skew

/** Scale infrastructure: partition pruning on date-partitioned fact
  * snapshots, and salted joins/aggregations matching their unsalted
  * equivalents exactly.
  */
class ScaleInfraSpec extends SparkSpec {

  test("date-partitioned snapshot prunes partitions at the scan") {
    val dir = Files.createTempDirectory("graft_snap").toString
    val orders = graft.util.Tables.t(spark, Sf, "orders")
    SnapshotStore.writeFact(orders, dir, "o_orderdate")
    val snap = SnapshotStore.read(spark, dir)
      .filter(col("part_date") === lit("1997-03-01").cast("date"))
    snap.collect()
    val scan = snap.queryExecution.executedPlan.toString
    // partition filter must appear as PartitionFilters, not a data Filter
    assert(scan.contains("PartitionFilters") && scan.contains("part_date"),
      scan.take(1200))
    // round-trip preserves rows for that date
    val expected = orders.filter(to_date(col("o_orderdate")) === lit("1997-03-01").cast("date")).count()
    assert(snap.count() === expected)
  }

  test("dim-filtered join triggers dynamic partition pruning on the fact scan") {
    // The runtime twin of static pruning: the fact's partition filter isn't
    // known until the dim side is evaluated — DPP broadcasts the dim's
    // surviving partition keys into the fact scan. At 100 TB this is the
    // difference between scanning the whole fact and scanning the handful
    // of dates a dim predicate selects.
    val dir = Files.createTempDirectory("graft_dpp").toString
    val orders = graft.util.Tables.t(spark, Sf, "orders")
    SnapshotStore.writeFact(orders, dir, "o_orderdate")
    val dim = orders.select(to_date(col("o_orderdate")).as("d")).distinct()
      .withColumn("is_hot", col("d") === lit("1997-03-01").cast("date"))
    val fact = SnapshotStore.read(spark, dir)
    val joined = fact.join(dim.filter(col("is_hot")), fact("part_date") === dim("d"))
    val n = joined.count()
    val expected = orders
      .filter(to_date(col("o_orderdate")) === lit("1997-03-01").cast("date")).count()
    assert(n === expected)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"fact scan must carry a dynamic pruning subquery:\n${plan.take(1500)}")
  }

  test("value-clustered snapshot skips row groups: the scan reads a fraction of the rows") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
        p.collect {
          case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
          case s: FileSourceScanExec => Seq(s)
        }.flatten
      scans(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
    }
    val li = graft.util.Tables.t(spark, Sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val total = li.count()
    val clustered = Files.createTempDirectory("graft_clu").toString
    val unclustered = Files.createTempDirectory("graft_unc").toString
    SnapshotStore.writeFactClustered(li, clustered, "l_extendedprice",
      files = 8, rowGroupBytes = 64L * 1024)
    li.repartition(8).write.mode("overwrite").parquet(unclustered) // every file spans the full range
    val pred = col("l_extendedprice") > 900.0 && col("l_extendedprice") < 1100.0
    val cluRead = scanRows(spark.read.parquet(clustered).filter(pred))
    val uncRead = scanRows(spark.read.parquet(unclustered).filter(pred))
    // same answer either way
    assert(spark.read.parquet(clustered).filter(pred).count() ===
           spark.read.parquet(unclustered).filter(pred).count())
    // unclustered layout defeats min/max skipping (every group spans the range);
    // clustered layout lets the pushed predicate eliminate most groups
    assert(uncRead.toDouble >= total * 0.9, s"expected near-full read, got $uncRead/$total")
    assert(cluRead.toDouble <= total * 0.5,
      s"clustered scan must skip most row groups: read $cluRead of $total rows")
  }

  test("z-order layout skips row groups on BOTH clustering columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
        p.collect {
          case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
          case s: FileSourceScanExec => Seq(s)
        }.flatten
      scans(df.queryExecution.executedPlan).map(_.metrics("numOutputRows").value).sum
    }
    val li = graft.util.Tables.t(spark, Sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val total = li.count()
    val zDir = Files.createTempDirectory("graft_z").toString
    val linDir = Files.createTempDirectory("graft_lin").toString
    SnapshotStore.writeFactZOrdered(li, zDir, "l_partkey", "l_suppkey",
      files = 8, rowGroupBytes = 16L * 1024)
    // linear clustering on partkey only — the layout z-order improves on
    SnapshotStore.writeFactClustered(li, linDir, "l_partkey",
      files = 8, rowGroupBytes = 16L * 1024)
    val predA = col("l_partkey") < 50L           // ~quarter of the partkey range
    val predB = col("l_suppkey") === 3L          // one supplier
    val zA = scanRows(spark.read.parquet(zDir).filter(predA))
    val zB = scanRows(spark.read.parquet(zDir).filter(predB))
    val linB = scanRows(spark.read.parquet(linDir).filter(predB))
    // correctness first: layouts never change answers
    assert(spark.read.parquet(zDir).filter(predA).count() === li.filter(predA).count())
    assert(spark.read.parquet(zDir).filter(predB).count() === li.filter(predB).count())
    // z-order skips on both dimensions…
    assert(zA.toDouble <= total * 0.6, s"z-order must skip on col A: read $zA/$total")
    assert(zB.toDouble <= total * 0.6, s"z-order must skip on col B: read $zB/$total")
    // …where single-column clustering reads ~everything on the other column
    assert(linB.toDouble >= total * 0.8,
      s"linear clustering shouldn't skip on the non-clustered column: read $linB/$total")
  }

  test("compaction collapses small files and preserves rows + pruning layout") {
    import scala.jdk.CollectionConverters._
    val inDir = Files.createTempDirectory("graft_frag").toString
    val outDir = Files.createTempDirectory("graft_compact").toString
    val orders = graft.util.Tables.t(spark, Sf, "orders").limit(2000)
    // simulate an accreted snapshot: month partitions, each fragmented into
    // one sliver per upstream task
    orders.withColumn("part_date", to_date(date_trunc("month", col("o_orderdate"))))
      .repartition(32)
      .write.mode("overwrite").partitionBy("part_date").parquet(inDir)
    def parquetFiles(dir: String): Long =
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .count(p => p.toString.endsWith(".parquet")).toLong
    val before = parquetFiles(inDir)
    SnapshotStore.compactFact(spark, inDir, outDir, targetRowsPerFile = 1000L)
    val after = parquetFiles(outDir)
    assert(after < before / 4,
      s"compaction must collapse the small files: $before -> $after")
    // identical content, partition layout (and thus pruning) preserved
    val a = spark.read.parquet(inDir); val b = spark.read.parquet(outDir)
    assert(b.count() === a.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(Files.list(java.nio.file.Paths.get(outDir)).iterator().asScala
      .exists(_.getFileName.toString.startsWith("part_date=")))
  }

  test("compaction splits a hot partition across files instead of one giant file") {
    import scala.jdk.CollectionConverters._
    val inDir = Files.createTempDirectory("graft_hot").toString
    val outDir = Files.createTempDirectory("graft_hot_out").toString
    // one skewed date holding every row: slot salting must still honor the
    // per-file row target rather than funneling the date into one task/file
    graft.util.Tables.t(spark, Sf, "orders").limit(1000)
      .withColumn("part_date", lit("2024-01-01").cast("date"))
      .repartition(16)
      .write.mode("overwrite").partitionBy("part_date").parquet(inDir)
    SnapshotStore.compactFact(spark, inDir, outDir, targetRowsPerFile = 100L)
    val files = Files.walk(java.nio.file.Paths.get(outDir)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
    assert(files >= 5 && files <= 20,
      s"hot date must split near 1000/100 files, got $files")
    assert(spark.read.parquet(outDir).count() === 1000L)
  }

  test("bucketed tables join without any shuffle exchange") {
    val orders = graft.util.Tables.t(spark, Sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val li = graft.util.Tables.t(spark, Sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    SnapshotStore.writeFactBucketed(orders, "b_orders", "o_orderkey", 4)
    SnapshotStore.writeFactBucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", "o_orderkey", 4)
    // force the non-broadcast path so the exchange question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n${plan.take(1500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("daily merge over a bucketed fact snapshot shuffles only the batch") {
    import graft.operators.Warehouse
    // the recurring-merge story end-to-end: the fact snapshot lands bucketed
    // by the merge key ONCE (shuffle paid at write), then every daily
    // mergeUpsert re-run joins exchange-free on the fact side — only the
    // (tiny) daily batch shuffles. At 100 TB this is the difference between
    // re-shuffling the whole fact per day and per never.
    val orders = graft.util.Tables.t(spark, Sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    SnapshotStore.writeFactBucketed(orders, "b_fact", "o_orderkey", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = spark.table("b_fact")
      // a thin daily slice via filter — limit() would add its own
      // SinglePartition exchange and muddy the count below
      val batch = orders.filter(col("o_orderkey") % 151 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val merged = Warehouse.mergeUpsert(fact, batch, Seq("o_orderkey"),
        Seq("o_custkey", "o_totalprice"), nullSafeKeys = false)
      merged.collect()
      // AQE's toString appends "== Initial Plan ==" after the final plan —
      // count exchanges only in what actually ran
      val plan = merged.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val exchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      assert(exchanges === 1,
        s"only the batch side may shuffle (got $exchanges):\n${plan.take(2000)}")
      assert(plan.contains("Bucketed: true"),
        s"fact side must read bucketed:\n${plan.take(2000)}")
      // and the merge itself is still a correct upsert
      assert(merged.count() === orders.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      spark.sql("DROP TABLE IF EXISTS b_fact")
    }
  }

  test("salted join equals plain join result exactly") {
    val li = graft.util.Tables.t(spark, Sf, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"))
    val part = graft.util.Tables.t(spark, Sf, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val plain = li.join(part, "l_partkey")
      .groupBy("p_brand").agg(count(lit(1)).as("n"))
    val salted = Skew.saltedJoin(li, part, "l_partkey", "l_extendedprice", 8)
      .groupBy("p_brand").agg(count(lit(1)).as("n"))
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("hotColdJoinWith: hot-lane spreading is result-identical to the plain join") {
    import spark.implicits._
    // one genuinely hot key (500 left rows) + cold keys; the driver-chosen
    // hot set forces the salted lane so this test covers it even where the
    // production thresholds wouldn't fire at test scale
    val big = ((1 to 500).map(i => (1L, i.toLong)) ++ Seq((2L, 7L), (3L, 9L)))
      .toDF("k", "spread")
    val right = (1L to 3L).flatMap(k => (1 to 40).map(j => (k, s"v${k}_$j")))
      .toDF("k", "payload")
    val hot = Seq(Tuple1(1L)).toDF("k")
    val plain = big.join(right, Seq("k"))
    val salted = Skew.hotColdJoinWith(big, right, "k", "spread", 8, hot)
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty,
      "conditional salting must be a physical-only change")
    assert(salted.count() === 500L * 40 + 2 * 40)
    // an over-approximate hot set (a cold key marked hot) stays correct
    val overHot = Seq(1L, 2L).toDF("k")
    val salted2 = Skew.hotColdJoinWith(big, right, "k", "spread", 8, overHot)
    assert(plain.exceptAll(salted2).isEmpty && salted2.exceptAll(plain).isEmpty)
  }

  test("salted two-phase aggregation equals direct aggregation") {
    val ev = graft.util.Tables.events(spark, Sf)
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    val salted = Skew.saltedSumCount(ev, "event_type", "value", 8)
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getAs[Long]("n_rows")))
    assert(direct.toSeq === salted.toSeq)
  }

  test("no registry plan carries a broadcast HINT on an SF-scaling relation") {
    // A broadcast *hint* (unlike AQE's runtime choice) does not degrade: at
    // 100 TB it hits the 8 GB broadcast ceiling / driver OOM and the query
    // dies. Hints are therefore only legal on subtrees whose output is
    // bounded at ANY scale factor: (a) subtrees reading only the static
    // dims nation/region, or (b) subtrees that pass through an Aggregate or
    // a Limit before the hint (1-row totals, top-k vocab, bounded-key
    // stats frames — each audited at its definition site). Anything else —
    // a raw scan of customer/orders/part/... under a hint — is a
    // scale-killer and fails here.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val staticDims = Set("nation", "region")

    // SF-scaling leaf tables reachable from `p` without crossing an
    // Aggregate or Limit (both bound output cardinality independent of SF).
    def unboundedScalingLeaves(p: LogicalPlan): Seq[String] = p match {
      case _: Aggregate   => Nil
      case _: GlobalLimit => Nil
      case _: LocalLimit  => Nil
      case _: Deduplicate => Nil // distinct() pre-optimizer (e.g. a calendar)
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
            .filterNot(staticDims).toSeq
        case _ => Seq("non-fs-relation")
      }
      case other => other.children.flatMap(unboundedScalingLeaves)
    }

    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, build) =>
      val df = build(spark, Sf)
      df.queryExecution.analyzed.collectWithSubqueries {
        case ResolvedHint(child, hints) if hints.strategy.contains(BROADCAST) =>
          unboundedScalingLeaves(child).map(tbl => s"$name: broadcast hint over $tbl")
      }.flatten
    }
    assert(violations.isEmpty,
      s"forced broadcasts on SF-scaling relations:\n${violations.mkString("\n")}")
  }

  test("broadcast guard: oversized hinted side loses its hint, small dim keeps it, " +
       "results unchanged") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, BROADCAST}
    import org.apache.spark.sql.functions.broadcast
    val li = graft.util.Tables.t(spark, Sf, "lineitem")
    val nat = graft.util.Tables.t(spark, Sf, "nation")
    val sup = graft.util.Tables.t(spark, Sf, "supplier")

    def hintStrategies(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case Join(_, _, _, _, h) => Seq(h.leftHint, h.rightHint).flatten.flatMap(_.strategy)
      }.flatten

    spark.conf.set(graft.plans.BroadcastGuardRule.ConfKey, "1024") // 1 KB: everything is oversized
    try {
      // a deliberately bad user hint: broadcast the fact table
      val bad = sup.join(broadcast(li), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_suppkey")).count()
      assert(!hintStrategies(bad).contains(BROADCAST),
        "guard must strip the BROADCAST hint off an oversized side")
      // stripping a hint never changes results (also proven by the oracle
      // suite running entirely under this rule)
      val unhinted = sup.join(li, col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("s_suppkey")).count()
      assert(bad.orderBy("s_suppkey").collect().toSeq ===
             unhinted.orderBy("s_suppkey").collect().toSeq)
    } finally spark.conf.unset(graft.plans.BroadcastGuardRule.ConfKey)

    // default guard (512 MB): a genuinely small dim keeps its hint
    val dim = sup.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
    assert(hintStrategies(dim).contains(BROADCAST),
      "guard must leave hints on genuinely small relations alone")
  }

  test("registry is uniformly lazy: building a frame starts zero Spark jobs " +
       "(iterative fixed-point entries exempt)") {
    // `SparkEntry.queries` hands out DataFrames — PLANS, not results. A
    // builder that runs a driver action (count/collect/head) at
    // construction time breaks that contract: callers that only inspect
    // the plan pay full jobs. Formerly-eager paths now in-plan:
    // cmsHeavyHitters' sketch point query, Ivf.trainCentroids' sampled
    // k-means fit, and Tables.t's schema (memoized driver-side footer read
    // instead of a per-call inference job).
    //
    // Exempt BY NAME: entries built on data-dependent fixed-point loops
    // (connected-components label propagation, hierarchy pointer jumping).
    // Their round count is a runtime property of the data — the same
    // reason GraphX's Pregel runs a job per superstep — so they cannot be
    // one static plan; their rounds run through graft.util.Iterate, whose
    // per-round checkpoints are the only legal build-time jobs in the
    // registry. (q_kcore briefly joined this set with eager per-round
    // checkpoints; that cost 1.6 s → 4.7 s isolated for zero result
    // difference, so its bounded rounds went back to lazy persist marks —
    // long-lived sessions use Insights.kcoreFixpoint, whose Iterate rounds
    // free superseded frames as they go.)
    val iterative = Set("q_doc_dedup_components", "q_dedup_components_editdist",
                        "q_doc_dedup_embed", "q_hierarchy",
                        // built ON dedupComponentsEditdist's CC fixpoint, so
                        // they inherit the loop's build-time checkpoints
                        "q_dup_cluster_hist", "q_dup_by_source",
                        // per-round L1 normalization: the 1-Long global
                        // mass is COLLECTED each superstep and rounds are
                        // eager Iterate checkpoints (both lazy variants
                        // measured geometrically worse — 54-67 s vs ~2 s
                        // at sf0.1; Insights.hits in-body comment)
                        "q_hits",
                        // same shape: power-iteration Iterate rounds
                        // checkpoint and collect the exact L1 normalizer
                        // (a DECIMAL whose floor-div exceeds Long at the
                        // 100x decade, so it splices back as a decimal
                        // literal)
                        "q_embed_pca_power",
                        // greedy sequential selection: round j's pick
                        // depends on rounds 1..j-1's VALUES, and the lazy
                        // nested-TakeOrdered plan re-planned every stage
                        // (measured 5.9 s vs 1.3 s eager at k=5 — the
                        // rakingIpf plan-nesting lesson); the checkpointed
                        // frame is k rows, driver-trivial at any scale
                        "q_mmr_diversity",
                        // IVFPQ: the coarse fit and the tagged union of the
                        // 4 PQ codebooks are one-shot leaf checkpoints of
                        // <=16/<=32-row frames referenced from ~10 legs
                        // (residuals, probe cells, ADC tables, code
                        // assignments); lazy marks re-analyzed the fit
                        // subtrees per reference — 22.3 s at sf0.1 (11.7 s
                        // pure Catalyst analysis) vs ~7 s with the fitted
                        // frames checkpointed to leaves (Ivf.annIvfPq note)
                        "q_ann_ivf_pq",
                        // builds the full IVFPQ index twice (index + truth
                        // comparison) — inherits annIvfPq's checkpoints
                        "q_ivfpq_recall",
                        // build-once/serve-many: the builder PERSISTS the
                        // IVFPQ index on first call (the nightly-build half
                        // of the lifecycle — running jobs at build time is
                        // the whole point); the serve plan itself is lazy
                        // and fit-free (PlanSpec asserts it)
                        "q_ann_ivf_pq_served",
                        // corpus-ADAPTIVE sizing: nLists is a function of
                        // the corpus count, which is a driver-collected
                        // 1-row scalar by definition of data-dependent
                        // sizing (the q_hits normalizer precedent)
                        "q_ann_ivf_adaptive",
                        // lifecycle CRUD steps (tombstone erase, append
                        // seeding, compaction commit, retention expiry)
                        // are run-once jobs behind a marker; later calls
                        // are fs-metadata probes + a lazy serve/report plan
                        "q_index_delete_served", "q_index_compact",
                        "q_index_expire",
                        // serve THROUGH annIvfPqServed — inherit the
                        // build-once first-call jobs, lazy afterwards
                        "q_ann_rerank_served", "q_ann_filtered_served",
                        // r13: CDC version-history seeding is a run-once
                        // job behind a committedVersions probe; later
                        // calls are manifest listings + a lazy log plan
                        "q_cdc_all_changes", "q_cdc_net_changes",
                        // r14: the bookmark consumer reads ONE watermark
                        // scalar per cycle (the reference's own pattern,
                        // extract_weather.py:26-28) and commits replica/
                        // bookmark snapshots when behind — consume cycles
                        // ARE jobs by design
                        "q_cdc_incremental_consume",
                        // r14: cleanup reads the SAME one-row bookmark
                        // scalar (the low-water clamp is a driver decision
                        // by definition) + run-once change-table commits
                        // behind a committedVersions probe
                        "q_cdc_cleanup",
                        // r13: the miner family serves from the persisted
                        // scored candidate stream (build-once jobs on
                        // first call, lazy parquet reads afterwards)
                        "q_hard_negatives_ivf", "q_knn_label_noise_ivf",
                        "q_hard_negatives_recall", "q_knn_noise_recall")
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val perEntry = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, build) =>
        val before = counter.get()
        build(spark, Sf)
        // the loops' checkpoint actions BLOCK inside build, so their
        // onJobStart events are posted before it returns; a short drain
        // keeps the async listener bus from misattributing to the next entry
        Thread.sleep(50)
        name -> (counter.get() - before)
      }
      val violations = perEntry.filter { case (name, jobs) =>
        jobs > 0 && !iterative(name)
      }
      assert(violations.isEmpty,
        s"non-exempt builders ran Spark jobs at construction time: " +
          violations.map { case (n, j) => s"$n ($j jobs)" }.mkString(", "))
      // and the exempt set actually needs its exemption — if a loop becomes
      // lazy someday, shrink the allowlist. q_ann_ivf_pq_served is the one
      // legitimately ZERO-job exempt entry once its persisted index exists
      // (the build-once fast path runs no jobs; first-build runs many).
      val mayBeZero = Set("q_ann_ivf_pq_served",
                          // same build-once fast path: once the marker and
                          // persisted artifacts exist, zero build-time jobs
                          "q_index_delete_served", "q_index_compact",
                          "q_index_expire", "q_ann_rerank_served",
                          "q_ann_filtered_served", "q_cdc_all_changes",
                          "q_cdc_net_changes",
                          "q_hard_negatives_ivf", "q_knn_label_noise_ivf",
                          "q_hard_negatives_recall", "q_knn_noise_recall")
      (iterative -- mayBeZero).foreach { n =>
        assert(perEntry.toMap.getOrElse(n, 0) > 0, s"$n no longer needs the exemption")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("round-9 top-k queries plan as TakeOrderedAndProject, never a " +
       "global sort") {
    // the limit-after-orderBy shape must stay TakeOrdered: only k rows per
    // partition travel. A global Sort before the Limit means a full
    // shuffle of the scored frame — the plan regression this guards.
    Seq("q_uniform_sample_k", "q_llr_collocations", "q_cooks_distance")
      .foreach { qn =>
        val plan = SparkEntry.queries(qn)(spark, Sf)
          .queryExecution.executedPlan.toString
        assert(plan.contains("TakeOrderedAndProject"), s"$qn plan:\n$plan")
      }
  }

  test("parDedup's first-occurrence window shuffles digests, never " +
       "paragraph text") {
    // the dedup exchange must carry (doc_id, par_idx, sha2 digest) only —
    // shipping paragraph TEXT through the window shuffle is the 100 TB
    // mistake the digest projection exists to prevent
    val plan = graft.operators.Text.parDedup(spark, Sf, 20)
      .queryExecution.executedPlan.toString
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty, s"no window in plan:\n$plan")
    windowLines.foreach { l =>
      assert(!l.contains("par_text"), s"window carries text: $l")
    }
  }

  test("manifest commit protocol: two interleaved writers, no torn read") {
    import graft.sources.SnapshotStore._
    val dir = Files.createTempDirectory("graft_acid").toString
    val base = graft.util.Tables.t(spark, Sf, "nation")
    // writer 1 commits version 0
    val v0 = commitSnapshot(base.filter(col("n_nationkey") < 10), dir)
    assert(v0 === 0L)
    val rows0 = readCommitted(spark, dir).count()

    // writer A stages (data fully written, NOT published) …
    val stagedA = stageSnapshot(base.filter(col("n_nationkey") < 20), dir)
    // … a reader right now must still see exactly version 0 — the staged
    // directory is invisible because readers resolve manifests only
    assert(committedVersions(spark, dir) === Seq(0L))
    assert(readCommitted(spark, dir).count() === rows0)

    // writer B stages AND publishes first — wins version 1
    val stagedB = stageSnapshot(base, dir)
    val vB = publishSnapshot(spark, dir, stagedB)
    assert(vB === 1L)
    assert(readCommitted(spark, dir).count() === base.count())

    // writer A publishes late — serializes after B, never overwrites it
    val vA = publishSnapshot(spark, dir, stagedA)
    assert(vA === 2L)
    assert(readCommitted(spark, dir).count() ===
           base.filter(col("n_nationkey") < 20).count())
    // time travel: each committed version remains readable, complete
    assert(readCommitted(spark, dir, asOf = 0L).count() === rows0)
    assert(readCommitted(spark, dir, asOf = 1L).count() === base.count())
  }

  test("manifest commit protocol: collision on the same version retries " +
       "to the next slot; vacuum reclaims only unreferenced staging dirs") {
    import graft.sources.SnapshotStore._
    val dir = Files.createTempDirectory("graft_acid2").toString
    val base = graft.util.Tables.t(spark, Sf, "region")
    commitSnapshot(base, dir)
    // simulate a racing writer that already owns v1's manifest: the
    // create-if-absent must fail and the late writer must land on v2
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val squatter = new org.apache.hadoop.fs.Path(s"$dir/_commits/v00001.json")
    val out = fs.create(squatter, false)
    out.write("""{"version": 1, "data": "data-squat"}""".getBytes("UTF-8"))
    out.close()
    val staged = stageSnapshot(base.limit(2), dir)
    assert(publishSnapshot(spark, dir, staged) === 2L)
    assert(readCommitted(spark, dir).count() === 2L)
    // a crashed writer's orphan stage is reclaimed; referenced dirs survive.
    // Under the DEFAULT retention window the freshly staged dir is left
    // alone (it could belong to an in-flight writer between staging and
    // publishing — deleting it would commit a dangling manifest); minAge=0
    // models the dir having aged past retention
    val orphan = stageSnapshot(base.limit(1), dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(orphan)))
    assert(vacuumOrphans(spark, dir) === 0) // default 24h retention: kept
    assert(fs.exists(new org.apache.hadoop.fs.Path(orphan)))
    val removed = vacuumOrphans(spark, dir, minAgeMs = 0L)
    assert(removed === 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)))
    assert(readCommitted(spark, dir).count() === 2L) // still intact
    // a writer whose staged dir was vacuumed (stalled past retention) must
    // fail LOUDLY at publish instead of committing a dangling manifest
    val gone = stageSnapshot(base.limit(1), dir)
    vacuumOrphans(spark, dir, minAgeMs = 0L)
    intercept[IllegalArgumentException] {
      publishSnapshot(spark, dir, gone)
    }
  }

  test("manifest commit protocol: key-range fence — overlapping concurrent " +
       "writers conflict, disjoint writers both commit") {
    import graft.sources.SnapshotStore._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_acid4").toString
    commitSnapshot(Seq((1L, "a"), (5L, "b"), (9L, "c")).toDF("k", "v"), dir)

    // two writers derive from version 0 concurrently: A rewrites keys 1–5,
    // B rewrites keys 4–9 (overlap). A commits first; B must CONFLICT, not
    // silently last-writer-win.
    val baseV = committedVersions(spark, dir).last
    val stagedA = stageSnapshot(Seq((1L, "a2"), (5L, "b2")).toDF("k", "v"), dir)
    val stagedB = stageSnapshot(Seq((4L, "x"), (9L, "y")).toDF("k", "v"), dir)
    val vA = publishSnapshotFenced(spark, dir, stagedA, "k", 1L, 5L, baseV)
    assert(vA === baseV + 1)
    intercept[SnapshotConflictException] {
      publishSnapshotFenced(spark, dir, stagedB, "k", 4L, 9L, baseV)
    }
    // B re-derives from the NEW latest (the conflict contract) and commits
    val vB2 = publishSnapshotFenced(spark, dir, stagedB, "k", 4L, 9L,
                                    baseVersion = vA)
    assert(vB2 === vA + 1)

    // disjoint writers from the same base both commit, auto-serialized
    val base2 = committedVersions(spark, dir).last
    val stagedC = stageSnapshot(Seq((100L, "c1")).toDF("k", "v"), dir)
    val stagedD = stageSnapshot(Seq((200L, "d1")).toDF("k", "v"), dir)
    val vC = publishSnapshotFenced(spark, dir, stagedC, "k", 100L, 100L, base2)
    val vD = publishSnapshotFenced(spark, dir, stagedD, "k", 200L, 200L, base2)
    assert(vC === base2 + 1 && vD === base2 + 2)

    // the convenience wrapper stamps the band from the staged data itself
    val vE = commitSnapshotFenced(Seq((300L, "e")).toDF("k", "v"), dir, "k")
    assert(vE === vD + 1)
    assert(readCommitted(spark, dir).count() === 1)

    // round-12 advice hardening: an EMPTY staged frame (or all-NULL keys)
    // has no band to fence on — fail with the real reason, not an NPE
    intercept[IllegalArgumentException] {
      commitSnapshotFenced(Seq((300L, "e")).toDF("k", "v").limit(0), dir, "k")
    }
    // ...and a torn/unparsable manifest NEWER than the fence base is a
    // CONFLICT (cannot verify disjointness), never silently unfenced
    val (fs, _) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    val torn = committedVersions(spark, dir).last + 1
    val tornPath = new org.apache.hadoop.fs.Path(f"$dir/_commits/v$torn%05d.json")
    val out = fs.create(tornPath, false); out.close() // empty body
    val stagedF = stageSnapshot(Seq((301L, "f")).toDF("k", "v"), dir)
    intercept[SnapshotConflictException] {
      publishSnapshotFenced(spark, dir, stagedF, "k", 301L, 301L,
                            baseVersion = torn - 1)
    }
    fs.delete(tornPath, false)
  }

  test("manifest commit protocol: schema evolution, right-to-erasure, " +
       "and retention expiry compose over committed versions") {
    import graft.sources.SnapshotStore._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_acid3").toString
    // v0: two columns; v1 adds a column (schema evolution)
    commitSnapshot(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    commitSnapshot(Seq((3L, "c", 9.9)).toDF("id", "v", "score"), dir)
    val hist = readCommittedHistory(spark, dir)
    assert(hist.columns.toSet === Set("id", "v", "score"))
    assert(hist.count() === 3)
    // v0 rows surface with NULL score under the merged schema
    assert(hist.filter(col("score").isNull).count() === 2)

    // right-to-erasure: new version without id=2; old versions intact
    val (vNew, erased) = eraseKeys(spark, dir, "id",
                                   Seq(2L, 999L).toDF("id"))
    assert(vNew === 2L && erased === 0L) // latest (v1) holds only id=3
    val (vNew2, erased2) = eraseKeys(
      spark, s"$dir", "id", Seq(3L).toDF("id"))
    assert(vNew2 === 3L && erased2 === 1L)
    assert(readCommitted(spark, dir).filter(col("id") === 3L).count() === 0)
    // audit window: the pre-erasure version is still readable by number
    assert(readCommitted(spark, dir, asOf = 1L)
             .filter(col("id") === 3L).count() === 1)

    // retention expiry: keep last 2 → v0/v1 gone, data dirs vacuumed,
    // latest reads unaffected
    val expired = expireVersions(spark, dir, keepLast = 2)
    assert(expired === Seq(0L, 1L))
    assert(committedVersions(spark, dir) === Seq(2L, 3L))
    assert(readCommitted(spark, dir).count() === 0) // v3 = v1 minus id 3
    intercept[IllegalArgumentException] {
      readCommitted(spark, dir, asOf = 1L)
    }
  }

  test("round-10 plans: permutation grid broadcasts, bipartite pairs " +
       "equi-join, mining runs the dot_q codegen kernel shuffle-free") {
    // permutationTest: the B-row replicate grid must arrive by broadcast
    // (the poissonBootstrap discipline) — a shuffled join would move the
    // fact table B times
    val permPlan = graft.operators.Insights.permutationTest(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(permPlan.contains("BroadcastExchange"), permPlan.take(1200))
    assert(!permPlan.contains("CartesianProduct"), permPlan.take(1200))
    // bipartiteProjection: within-order pairs are an EQUI-join on the
    // order key — never a cross product
    val bipPlan = graft.operators.Insights.bipartiteProjection(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!bipPlan.contains("CartesianProduct") &&
           !bipPlan.contains("BroadcastNestedLoopJoin"), bipPlan.take(1200))
    // hardNegatives: scoring must run the native dot_q kernel (codegen),
    // not an interpreted HOF fold
    val hnPlan = graft.operators.Similarity.hardNegatives(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(hnPlan.contains("dot_q"), hnPlan.take(1200))
    // knnLabelNoise: the n² pair stream must NOT be exchanged — the only
    // hash exchanges are the 20k-row anchor repartition and the tiny
    // post-vote label aggregate; pair-grain columns (b_id / cos) never
    // appear in an Exchange's partitioning expressions
    val knnPlan = graft.operators.Similarity.knnLabelNoise(spark, Sf)
      .queryExecution.executedPlan.toString
    val exchanges = knnPlan.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).toSeq
    exchanges.foreach { l =>
      assert(!l.contains("b_id") && !l.contains("cos#"),
        s"pair-grain exchange leaked into the kNN plan: $l")
    }
  }

  test("poissonBootstrap broadcasts the replicate grid — the corpus " +
       "never shuffles before the replicate aggregate") {
    val plan = graft.operators.Insights.poissonBootstrap(spark, Sf, 100)
      .queryExecution.executedPlan.toString
    // the B-row grid arrives via BroadcastExchange (nested-loop fan-out);
    // a shuffled join here would move the fact table B times
    assert(plan.contains("BroadcastExchange"), s"plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  // shared by the fixed-width (r13) and adaptive-width (r14) probe-batch
  // flatness assertions below
  private def assertServedBatchBounded(nLists: Int): Unit = {
    import graft.operators.Ivf
    val nProbes = 256
    val df = Ivf.annIvfPqServed(spark, Sf, nLists, 4, 8, nProbes, 10)
    val plan = df.queryExecution.executedPlan.toString
    // all four per-subspace ADC lookups ride BroadcastHashJoins keyed on
    // code_s; a SortMergeJoin anywhere means a corpus-sized shuffle
    // entered the serve path
    (0 until 4).foreach { sIdx =>
      assert(plan.contains(s"code_$sIdx"),
        s"ADC join for subspace $sIdx missing from the serve plan")
    }
    assert(!plan.contains("SortMergeJoin"),
      "serve plan sort-merge-joins — a corpus-sized shuffle entered serving")
    val nBroadcast = "BroadcastExchange".r.findAllIn(plan).size
    assert(nBroadcast >= 4, s"expected >=4 ADC broadcasts, got $nBroadcast")
    // the broadcast bound is probe-batch-shaped, not corpus-shaped: each
    // per-subspace ADC table is exactly (probes that matched) x nprobe x
    // codes rows <= 256*4*8 = 8192 — measure the actual table the plan
    // would broadcast (same lineage the serve plan builds)
    val out = df.groupBy(col("p_id")).count()
      .agg(count(lit(1)).as("probes"), min(col("count")).as("min_k"),
           max(col("count")).as("max_k")).collect()(0)
    assert(out.getLong(0) === nProbes.toLong,
      s"batch incomplete: ${out.getLong(0)} of $nProbes probes returned")
    assert(out.getLong(2) <= 10L, "a probe exceeded k rows")
    assert(out.getLong(1) >= 1L, "a probe returned nothing")
  }

  test("round-13: 256-probe batch through the served IVFPQ index — per-" +
       "probe cost flatness structure: ADC broadcasts stay bounded by " +
       "(probes x nprobe x codes), never by the corpus, and the corpus " +
       "side never sort-merge-joins") {
    assertServedBatchBounded(nLists = 16)
  }

  test("round-14: the same probe-batch bound holds at the ADAPTIVE index " +
       "width (nLists = ceil(sqrt(n)), the q_ann_ivf_adaptive production " +
       "sizing — the width the decade flatness measurement runs at)") {
    val n = graft.util.Tables.t(spark, Sf, "embeddings").count()
    val adaptive = math.max(4L, math.min(256L,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    assertServedBatchBounded(nLists = adaptive)
  }

  test("no registry query feeds an unbounded frame through an " +
       "unpartitioned window (the single-reducer rank-leg sweep)") {
    // The r13-verdict scale-killer class: row_number()/sum().over(
    // Window.orderBy(...)) with no partition plans as Exchange
    // SinglePartition -> Sort -> Window — the ENTIRE input through one
    // task. Legal only when the window's input is provably BOUNDED
    // (top-k limits, the PrefixSum per-bucket offsets frame, global
    // aggregates) or on the justified whitelist below. Boundedness is
    // decided on the optimized logical plan:
    //  - Limit => bounded (orderBy+limit plans as TakeOrderedAndProject);
    //  - Aggregate => bounded iff it groups by the PrefixSum bucket id
    //    `_pid` (<= numParts rows) or by nothing (one row);
    //  - joins/unions of bounded inputs stay bounded (<= product/sum);
    //  - literal ranges and local relations are bounded;
    //  - any other unary node inherits its child; leaves are unbounded.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.types.DateType
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case a: Aggregate =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(
            _.references.forall(_.name == "_pid")) ||
          // date-grain series: grouping purely by calendar dates bounds the
          // frame to the time domain (~thousands of rows at ANY corpus size)
          a.groupingExpressions.forall(_.dataType == DateType)
      case j: Join  => bounded(j.left) && bounded(j.right)
      case u: Union => u.children.forall(bounded)
      case r: Range => r.numElements.isValidLong && r.numElements.toLong <= 100000L
      case _: LocalRelation | _: OneRowRelation => true
      case other if other.children.size == 1 => bounded(other.children.head)
      case _ => false
    }
    // Queries whose unpartitioned windows run over frames that ARE bounded,
    // but by a domain argument the plan can't express mechanically. Every
    // entry carries its row-count argument; additions need one.
    val whitelist: Map[String, String] = Map(
      "q_bh_fdr"         -> "test grain: one row per p_brand hypothesis (taxonomy-bounded)",
      "q_bradley_terry"  -> "event_type grain: one row per compared item (taxonomy-bounded)",
      "q_decile_lift"    -> "decile grain: exactly 10 rows by construction",
      "q_junk_dim"       -> "junk-dim combination grain: |status|x|priority|x2 rows",
      "q_length_bucketing" -> "bucket grain: <= max_seq_len/16 length buckets",
      "q_logrank"        -> "duration grain: distinct day-counts, calendar-bounded",
      "q_nelson_aalen"   -> "duration grain: distinct day-counts, calendar-bounded",
      "q_survival_km"    -> "duration grain: distinct day-counts, calendar-bounded",
      "q_poisson_bootstrap" -> "replicate grain: fixed bootstrap replicate count",
      "q_rich_club"      -> "degree grain: distinct degrees << nodes (report frame)",
      "q_scd4_minidim"   -> "mini-dim combination grain: |band|x|segment| rows",
      "q_token_budget_mix" -> "source grain: one row per corpus source (taxonomy-bounded)",
      "q_trimmed_mean"   -> "group-domain grain: l_returnflag has 3 values",
      "q_weighted_median" -> "group-domain grain: l_returnflag has 3 values",
      // self-persisted date-grain series: the persist boundary shows as an
      // opaque InMemoryRelation leaf; the cached frame is the daily series
      "q_adf"            -> "self-persisted daily series (date grain)",
      "q_runs_test"      -> "self-persisted daily series (date grain)",
      "q_var_es"         -> "self-persisted daily series (date grain)",
      "q_durbin_watson"  -> "self-persisted daily series (date grain)",
      "q_pacf"           -> "self-persisted daily series (date grain)")
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) if !whitelist.contains(name) =>
        // earlier queries' persisted frames would otherwise substitute into
        // this plan as opaque InMemoryRelation leaves (hiding the bounding
        // Limit inside the cached plan) — inspect the uncached shape
        spark.sharedState.cacheManager.clearCache()
        val plan = build(spark, Sf).queryExecution.optimizedPlan
        val bad = plan.collect {
          case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) => w
        }
        if (bad.isEmpty) Nil else Seq(name -> bad.size)
      case _ => Nil
    }
    assert(violations.isEmpty,
      "unpartitioned windows over unbounded frames in: " +
        violations.map { case (n, c) => s"$n ($c)" }.mkString(", "))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.util.Tables._

/** IVF (inverted-file) approximate nearest-neighbor search — the coarse-
  * quantizer scale path for embedding similarity (the LSH alternative lives
  * in Similarity.annLshPairs).
  *
  * Build: k-means coarse centroids over a bounded corpus sample, then
  * assign every vector to its nearest centroid — the "inverted list" is
  * just a `centroid_id` column, i.e. a partition key.
  *
  * Search: a probe scores only the vectors in its `nprobe` nearest lists —
  * at 100 TB with k=4096 lists and nprobe=8, each query touches ~0.2% of
  * the corpus, and the list assignment is a broadcast-able centroid table
  * regardless of corpus size. Exact cosine re-ranks within the probed
  * lists (same native kernel as brute force).
  */
object Ivf {

  /** Training-set cap: k-means converges on a representative sample; fitting
    * on the full corpus would be 10 full passes over 100 TB for centroids
    * that a few ×10⁴ vectors pin down just as well (IVF quantizers are
    * conventionally trained on samples, e.g. ≤256·k points).
    */
  val TrainCap = 20000

  /** Lloyd's iterations — fixed count, not convergence-tested, so the plan
    * shape is static and deterministic.
    */
  val Iters = 5

  /** Embedding width of the corpus (testdata embeddings are 64-float
    * vectors; PQ sub-vectors are [[PqSubDim]]-wide slices of it). The r16
    * fits size their buffers from the data ([[graft.functions.VecSumLong]]),
    * so this constant only parameterizes non-fit consumers (PCA).
    */
  val EmbDim = 64

  /** Centroids as (centroid_id, centroid float array) — a fully LAZY plan:
    * nothing here runs a job at DataFrame-construction time (the registry's
    * uniform-laziness contract, asserted in ScaleInfraSpec).
    *
    * Training is the FAISS shape re-expressed in-plan. The sample is a
    * deterministic pseudo-random top-[[TrainCap]]-by-xxhash64(vec_id) —
    * one `TakeOrderedAndProject` pass over the corpus, bounded output at
    * ANY corpus size — persisted so the [[Iters]] Lloyd's iterations (each
    * a subtree referencing it) scan the corpus once, not once per
    * iteration. Init = k evenly spaced sample points (global ntile window:
    * single-reducer, but over the CACHED ≤20k-row sample, never the
    * corpus). Each iteration is a map-only argmax assignment (see
    * [[assignLists]]) followed by an element-wise DECIMAL mean — decimal
    * sums are order-independent, so the fit is deterministic under any
    * partitioning. Empty lists keep their previous centroid via a left
    * join, exactly like the classical driver-local formulation.
    */
  def trainCentroids(spark: SparkSession, emb: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val sample = emb.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(TrainCap)
      .persist(StorageLevel.MEMORY_AND_DISK)
    kmeansFit(sample, k, Iters).persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Cosine Lloyd's fit over an arbitrary (vec_id, embedding) point frame
    * — the float twin of the integer [[lloyd]] [[Carry]] fit, factored out
    * of [[trainCentroids]] so the same fit runs at both levels of the
    * hierarchical quantizer ([[assignListsHier]] fits the coarse level
    * over the fine-centroid frame with it). It stays a separate core: its
    * metric is cosine and its means are DECIMAL averages cast to float,
    * so sharing [[lloyd]] would make the core branch on its caller.
    *
    * Size bound of the `_cents` carry: the (centroid_id, pos) aggregate is
    * a SortAggregate that holds one group at a time, and the explode
    * attaches the carried array (about 4.5·k·dim bytes) to each point's
    * pos = 0 row only, so a round sorts n·dim small rows plus n copies of
    * the array: about 9 MB at n = 2,000, k = 16, dim 64, where carrying
    * it on every (point, pos) row sorted 0.6 GB (`q_ann_ivf`, sf0.1: the
    * largest Sort's peak memory fell from 642 MB to 38 MB).
    *
    * Zero-row `points`: the first round's `first(_p2)` runs over no rows,
    * so `_cents` becomes NULL; the final explode turns it into zero
    * centroid rows, as many as the (empty) init holds.
    */
  private def kmeansFit(points: DataFrame, k: Int, iters: Int): DataFrame = {
    graft.functions.GraftFunctions.register(points.sparkSession)
    val init = points
      .withColumn("tile", ntile(k).over(Window.orderBy(col("vec_id"))))
      .groupBy(col("tile"))
      .agg(min_by(col("embedding"), col("vec_id")).as("centroid"))
      .select((col("tile") - 1).cast("int").as("centroid_id"), col("centroid"))
    // LINEAR-lineage carry fit, the [[lloyd]] [[Carry]] shape: the round
    // state is the ONE-ROW id-sorted struct array, each round references
    // the previous round exactly ONCE, and the empty-cell carry is an
    // in-row map-lookup merge instead of a second (plan-doubling) join
    // reference. The per-element decimal means keep the EXACT r14/r15
    // expression — posexplode → avg(v cast decimal(28,12)) per (cid, pos)
    // — so every mean value is bit-identical. The previous array is put
    // on each point's pos = 0 element INSIDE the exploded array (NULL on
    // the others), so the sort ahead of the aggregate carries it once per
    // point, not once per (point, pos); first(..., ignoreNulls) picks it
    // up — constant within its group, and every non-empty cell has pos = 0
    // rows.
    val init1 = init
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("centroid"))))
        .as("_cents"))

    def step(centArr: DataFrame): DataFrame = {
      // the assignLists argmax, inlined so the round keeps `_cents`
      val sims = transform(col("_cents"),
        c => call_function("cosine_sim", col("embedding"), c.getField("centroid")))
      points.crossJoin(broadcast(centArr)) // the round's ONLY prev reference
        .withColumn("_sims", sims)
        .withColumn("centroid_id",
          element_at(col("_cents"),
            array_position(col("_sims"), array_max(col("_sims"))).cast("int"))
            .getField("centroid_id"))
        .select(col("centroid_id"),
                posexplode(transform(col("embedding"), (v, i) =>
                  struct(v.as("v"), when(i === 0, col("_cents")).as("c"))))
                  .as(Seq("pos", "e")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("e.v").cast("decimal(28,12)")).as("mv"),
             first(col("e.c"), ignoreNulls = true).as("_p1"))
        .groupBy(col("centroid_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pv"),
             first(col("_p1"), ignoreNulls = true).as("_p2"))
        .select(col("centroid_id"),
                transform(col("pv"), x => x.getField("mv").cast("float"))
                  .as("newc"),
                col("_p2"))
        .agg(map_from_entries(collect_list(struct(col("centroid_id"),
               col("newc")))).as("_nm"),
             first(col("_p2"), ignoreNulls = true).as("_prev"))
        .select(transform(col("_prev"),
          c => struct(c.getField("centroid_id").as("centroid_id"),
                      coalesce(element_at(col("_nm"), c.getField("centroid_id")),
                               c.getField("centroid")).as("centroid")))
          .as("_cents"))
    }
    // back to the k-row (centroid_id, centroid) caller contract
    (1 to iters).foldLeft(init1)((c, _) => step(c))
      .select(explode(col("_cents")).as("c"))
      .select(col("c.centroid_id").as("centroid_id"),
              col("c.centroid").as("centroid"))
  }

  /** Assign each vector to its nearest centroid by cosine — MAP-ONLY.
    * The k-row centroid table folds into ONE broadcast row of id-sorted
    * (centroid_id, centroid) structs; each vector then computes its sim
    * array and takes the first position of the max. Ties resolve to the
    * LOWEST centroid_id (the struct array is id-sorted and array_position
    * returns the first hit — same result as max_by on (sim, -id)).
    * The corpus never shuffles: at 100 TB the index build is a single map
    * pass, where a crossJoin + groupBy(vec_id) max_by formulation would
    * re-shuffle the entire corpus with its embedding payload to reduce
    * the n×k scored rows.
    */
  def assignLists(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val centArr = centroids
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("centroid"))))
        .as("_cents"))
    val sims = transform(col("_cents"),
      c => call_function("cosine_sim", col("embedding"), c.getField("centroid")))
    emb.crossJoin(broadcast(centArr))
      .withColumn("_sims", sims)
      .withColumn("centroid_id",
        element_at(col("_cents"),
          array_position(col("_sims"), array_max(col("_sims"))).cast("int"))
          .getField("centroid_id"))
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
  }

  /** PRODUCTION hierarchical (coarse→fine) cell assignment — the float/
    * cosine twin of [[gatedHierAssign]], for the nLists regime where the
    * flat [[assignLists]] argmax (corpus × nLists kernel calls) dominates:
    * a [[CoarseIters]]-round cosine k-means over the nLists fine-centroid
    * VECTORS yields ~√nLists coarse groups; each corpus vector argmaxes
    * over the (live) coarse groups, then over only that group's fine
    * centroids — corpus × (nCoarse + nLists/nCoarse) calls, minimized at
    * nCoarse = √nLists. Both levels fold into ONE broadcast row; the
    * corpus never shuffles, exactly like the flat path. With nCoarse = 1
    * the routing is exact (one group holds every fine centroid, arrays
    * id-sorted so ties resolve identically) — the spec's equivalence
    * anchor; larger nCoarse buys the kernel-call reduction at the
    * standard coarse-routing recall tradeoff.
    */
  def assignListsHier(emb: DataFrame, fine: DataFrame, nCoarse: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val finePoints = fine.select(col("centroid_id").cast("long").as("vec_id"),
                                 col("centroid").as("embedding"))
    val coarse = kmeansFit(finePoints, nCoarse, CoarseIters)
    val fineTagged = assignLists(finePoints, coarse)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("fcent"),
              col("centroid_id").as("gid"))
    val liveCoarse = coarse.join(
      fineTagged.select(col("gid").as("centroid_id")).distinct(),
      Seq("centroid_id"), "left_semi")
    // map-folded fine level — same once-per-row discipline as
    // [[gatedHierAssign]] (a filter-lambda would re-evaluate the coarse
    // argmax per array element after CollapseProject inlining)
    val fmap = fineTagged.groupBy(col("gid"))
      .agg(array_sort(collect_list(struct(col("cid"), col("fcent")))).as("arr"))
      .agg(map_from_entries(collect_list(struct(col("gid"), col("arr"))))
        .as("_fm"))
    val folded = liveCoarse
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("centroid"))))
        .as("_g"))
      .crossJoin(fmap)
    val gs = transform(col("_g"),
      c => call_function("cosine_sim", col("embedding"), c.getField("centroid")))
    // single-pass struct-max fine stage (the [[gatedHierAssign]] shape):
    // max similarity with ties to the LOWEST cid via the negated-cid
    // struct field — no per-reference copying of candidate vectors
    emb.crossJoin(broadcast(folded))
      .withColumn("_gs", gs)
      .withColumn("_gid",
        element_at(col("_g"),
          array_position(col("_gs"), array_max(col("_gs"))).cast("int"))
          .getField("centroid_id"))
      .withColumn("centroid_id",
        -array_max(transform(element_at(col("_fm"), col("_gid")),
          f => struct(call_function("cosine_sim", col("embedding"),
                                    f.getField("fcent")).as("s"),
                      (-f.getField("cid")).as("nc"))))
          .getField("nc"))
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
  }

  /** End-to-end IVF query: top-k cosine neighbors of probe vec_id=0,
    * searching only the nprobe nearest inverted lists. List pruning
    * broadcasts only the nprobe-row probe-list frame — the corpus side
    * never rides a broadcast. No-oracle (k-means internals are
    * engine-specific); DedupSimilaritySpec checks recall against the
    * exact brute-force top-k.
    */
  def ivfTopK(spark: SparkSession, sfDir: String, k: Int = 10,
              nLists: Int = 16, nprobe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val emb = t(spark, sfDir, "embeddings")
    val centroids = trainCentroids(spark, emb, nLists)
    val lists = assignLists(emb, centroids)
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb")).limit(1)
    // nprobe nearest lists for the probe
    val probeLists = centroids.crossJoin(broadcast(probe))
      .withColumn("sim", call_function("cosine_sim", col("centroid"), col("probe_emb")))
      .orderBy(col("sim").desc, col("centroid_id").asc)
      .limit(nprobe)
      .select(col("centroid_id"))
    lists.join(broadcast(probeLists), "centroid_id")
      .crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
              r4(call_function("cosine_sim", col("embedding"), col("probe_emb"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Fixed-point positive-offset integer form of the embeddings —
    * the shared input of every gated integer-L2 path.
    */
  private[graft] def gatedQemb(emb: DataFrame): DataFrame = {
    val Off = 16384L
    emb.select(col("vec_id"),
      transform(col("embedding"),
        x => (floor(x.cast("double") * lit(10000.0) + lit(0.5)).cast("long") +
              lit(Off))).as("qv"))
  }

  /** Map-only integer argmin against the single-row folded centroid table
    * (the gated twin of [[assignLists]]).
    */
  private[graft] def gatedWithBest(df: DataFrame, cent: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val centArr = cent
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("centroid"))))
        .as("_cents"))
    val dists = transform(col("_cents"),
      c => call_function("sq_l2", col("qv"), c.getField("centroid")))
    df.crossJoin(broadcast(centArr))
      .withColumn("_d", dists)
      .withColumn("centroid_id",
        element_at(col("_cents"),
          array_position(col("_d"), array_min(col("_d"))).cast("int"))
          .getField("centroid_id"))
      .drop("_cents", "_d")
  }

  /** Integer squared L2 over two fixed-point arrays — the native
    * [[graft.functions.SquaredL2Long]] codegen kernel (bit-identical to
    * the `aggregate(zip_with(...))` chain it replaced; the HOF form
    * dispatches an interpreted closure per element, which dominated the
    * multi-probe pair scan at the 10× decade). Callers must have
    * registered GraftFunctions (gatedWithBest/gatedWithBest2 do).
    */
  private def gatedL2(a: Column, b: Column): Column =
    call_function("sq_l2", a, b)

  /** How a Lloyd's round treats a cell that no point chose: [[Carry]]
    * keeps its previous centroid (the flat fits' frozen oracles), [[Drop]]
    * removes it (the PQ, adaptive and hierarchical oracles).
    */
  sealed trait EmptyCell
  case object Carry extends EmptyCell
  case object Drop extends EmptyCell

  /** The integer Lloyd's fit, keyed by group: `points` is a
    * (grp, vec_id, qv) frame and every group gets its own independent
    * k-means, all in one plan — a single fit is one group, the PQ
    * codebooks key by subspace, the hierarchy's fine level by coarse group.
    * Returns (grp, centroid_id, centroid).
    *
    *  - init: `ntile(k)` partitioned by grp, ordered by vec_id, with the
    *    min-id point of each tile as the starting centroid (centroid_id =
    *    tile − 1);
    *  - state: per group one id-sorted (centroid_id, centroid) array,
    *    folded into ONE broadcast row (map grp → array); each round
    *    references the previous state exactly once, so the lineage grows
    *    linearly in rounds;
    *  - assignment: map-only `sq_l2` argmin inside the point's group, ties
    *    to the lowest centroid_id (the oracles' `ORDER BY d, cid`);
    *  - means: count + `vec_sum_q` + per-element `div` — exact integers,
    *    partition-order-independent, and positive-domain (the +16384
    *    offset of [[gatedQemb]]), so Spark's `div` ≡ DuckDB's `//`;
    *  - empty cells: [[Carry]] rides the previous state through the means
    *    aggregate as a `first` (constant in every group, collapsed
    *    map-side) and keeps `coalesce(new, prev)` per cell; [[Drop]]
    *    keeps only the cells that received points.
    *
    * Size bound of the [[Carry]] ride: the means aggregate is an
    * ObjectHashAggregate (`vec_sum_q` is a typed imperative aggregate), so
    * a task holds up to (groups × k) buffers, each with its own copy of the
    * whole state (groups·k·dim longs). Carry callers fit one group, at
    * k = nLists (16 in the registry) and k = nCoarse; k = 256 would hold
    * 34 MB per task at dim 64 — safe while k²·dim ≤ 2²². A Carry fit at
    * k = 2048 would hold 2.1 GB per task, and the object-aggregate
    * fallback, which counts groups (65,536), would not catch it. [[Drop]]
    * rides nothing, so its buffers are one dim-long sum per (group, cell).
    *
    * Zero-row `points`: the init fold is an empty map, every round's means
    * are empty, and the result has zero rows under both rules.
    */
  private[graft] def lloyd(points: DataFrame, k: Int, iters: Int,
                           empty: EmptyCell): DataFrame = {
    graft.functions.GraftFunctions.register(points.sparkSession)
    val init = points
      .withColumn("tile", ntile(k).over(
        Window.partitionBy(col("grp")).orderBy(col("vec_id"))))
      .groupBy(col("grp"), col("tile"))
      .agg(min_by(col("qv"), col("vec_id")).as("centroid"))
      .select(col("grp"), (col("tile") - 1).cast("int").as("centroid_id"),
              col("centroid"))
    // one round's per-cell means over the folded `state`, with `ride`
    // aggregated alongside; the state's ONLY reference is the broadcast
    def means(state: DataFrame, ride: Column*): DataFrame = points
      .crossJoin(broadcast(state))
      .withColumn("centroid_id", nearest(element_at(col("_fm"), col("grp"))))
      .groupBy(col("grp"), col("centroid_id"))
      .agg(count(lit(1)).as("_n"),
           call_function("vec_sum_q", col("qv")).as("_s") +: ride: _*)
      .withColumn("centroid", expr("transform(_s, x -> x div _n)"))
    // Carry's next state: the previous one, each cell's centroid replaced
    // by its mean where the cell has one (looked up by grp·k + id)
    def key(g: Column, cid: Column): Column = g.cast("long") * k + cid
    def carried(state: DataFrame): DataFrame =
      means(state, first(col("_fm")).as("_prev"))
        .agg(map_from_entries(collect_list(struct(
               key(col("grp"), col("centroid_id")), col("centroid")))).as("_nm"),
             first(col("_prev")).as("_prev"))
        .select(transform_values(col("_prev"), (g, cells) => transform(cells,
          c => struct(c.getField("centroid_id").as("centroid_id"),
                      coalesce(element_at(col("_nm"), key(g, c.getField("centroid_id"))),
                               c.getField("centroid")).as("centroid"))))
          .as("_fm"))
    require(iters >= 1, s"lloyd needs at least one round, got $iters")
    val last = (2 to iters).foldLeft(foldByGroup(init)) { (state, _) =>
      if (empty == Drop) foldByGroup(means(state)) else carried(state)
    }
    // the final round's cells: Drop's means ARE the cells (folding and
    // unfolding them again measurably slowed the hierarchy's planning);
    // Carry unfolds its merged state
    if (empty == Drop) means(last).select(col("grp"), col("centroid_id"), col("centroid"))
    else carried(last)
      .select(explode(col("_fm")).as(Seq("grp", "_a")))
      .select(col("grp"), explode(col("_a")).as("c"))
      .select(col("grp"), col("c.centroid_id").as("centroid_id"),
              col("c.centroid").as("centroid"))
  }

  /** Folds a (grp, centroid_id, centroid) frame into ONE broadcastable
    * row: `_fm`, a map grp → id-sorted (centroid_id, centroid) array —
    * [[lloyd]]'s round state and the hierarchy's fine routing table.
    */
  private def foldByGroup(cells: DataFrame): DataFrame = cells
    .groupBy(col("grp"))
    .agg(array_sort(collect_list(struct(col("centroid_id"), col("centroid"))))
      .as("_a"))
    .agg(map_from_entries(collect_list(struct(col("grp"), col("_a")))).as("_fm"))

  /** [[lloyd]] over ONE group: a (vec_id, qv) frame in, the
    * (centroid_id, centroid) frame out.
    */
  private def lloydFlat(points: DataFrame, k: Int, iters: Int,
                        empty: EmptyCell): DataFrame =
    lloyd(points.select(lit(0).as("grp"), col("vec_id"), col("qv")), k, iters, empty)
      .drop("grp")

  /** The id of the centroid nearest `qv` (integer squared L2) in an array
    * of (centroid_id, centroid) structs, ties to the lowest id: one pass,
    * a lexicographic struct-min on (d, id).
    */
  private def nearest(cells: Column): Column =
    array_min(transform(cells,
      c => struct(gatedL2(col("qv"), c.getField("centroid")).as("d"),
                  c.getField("centroid_id").as("id"))))
      .getField("id")

  /** The md5-ordered bounded training sample: top-[[TrainCap]] rows by
    * md5(vec_id) (a portable hash order, unlike xxhash64), persisted
    * because every fit round scans it.
    */
  private def md5Sample(df: DataFrame): DataFrame = df
    .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    .limit(TrainCap)
    .persist(StorageLevel.MEMORY_AND_DISK)

  /** The gated k-means fit: md5-ordered bounded sample, spaced init,
    * [[Iters]] [[Carry]] Lloyd's rounds over exact integers. Returns the
    * persisted (centroid_id, centroid) frame. Shared by [[ivfGatedTopK]]
    * and [[semanticDedupGated]].
    */
  private[graft] def gatedCentroids(qemb: DataFrame, nLists: Int): DataFrame =
    lloydFlat(md5Sample(qemb), nLists, Iters, Carry)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** IVF under the EXACT hash gate — the gated twin of [[ivfTopK]],
    * putting the ENTIRE mechanism (bounded sample → spaced init → Lloyd's
    * iterations → inverted-list assignment → nprobe pruning → re-rank)
    * under the DuckDB oracle. Portability swaps, one per float hazard:
    *  - metric: integer SQUARED L2 over fixed-point components
    *    (floor(v·10⁴+0.5) + 16384 — the offset keeps every value
    *    positive, so Spark's truncating `div` and DuckDB's flooring `//`
    *    agree on the centroid means; a common offset cancels in every
    *    distance). All argmins compare exact BIGINTs — no IEEE anywhere.
    *  - sample: top-[[TrainCap]] by md5(vec_id) (portable hash order)
    *    instead of xxhash64.
    *  - centroid means: integer floor-division, positive domain.
    * Assignment is the same map-only folded-centroid argmin as
    * production ([[assignLists]] shape) with ties to the lowest id
    * (id-sorted struct array + first-position match ≡ the oracle's
    * row_number over (d, cid)). Output is the integer-L2 top-k — the
    * twin gates mechanism, not cosine values, which stay the production
    * path's job.
    */
  def ivfGatedTopK(spark: SparkSession, sfDir: String, k: Int = 10,
                   nLists: Int = 16, nprobe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val emb = t(spark, sfDir, "embeddings")
    val qemb = gatedQemb(emb)
    val cents = gatedCentroids(qemb, nLists)
    def l2(a: Column, b: Column): Column = gatedL2(a, b)
    val lists = gatedWithBest(qemb, cents)
    val probe = qemb.filter(col("vec_id") === 0).select(col("qv").as("pq")).limit(1)
    val probeLists = cents.crossJoin(broadcast(probe))
      .withColumn("d", l2(col("centroid"), col("pq")))
      .orderBy(col("d").asc, col("centroid_id").asc)
      .limit(nprobe)
      .select(col("centroid_id"))
    lists.join(broadcast(probeLists), "centroid_id")
      .crossJoin(broadcast(probe))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), l2(col("qv"), col("pq")).as("l2q"))
      .orderBy(col("l2q").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Top-2 cell assignment against the folded centroid table — the
    * multi-probe twin of [[gatedWithBest]]: cid1 is the argmin cell, cid2
    * the runner-up (ties to the lowest centroid_id in both, exactly the
    * oracle's `row_number() OVER (ORDER BY d, cid) <= 2`). Still map-only:
    * the second minimum is found by masking the winning slot and re-running
    * array_min — two passes over a k-element array per row, no extra
    * shuffle or join.
    */
  private def gatedWithBest2(df: DataFrame, cent: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val centArr = cent
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("centroid"))))
        .as("_cents"))
    val dists = transform(col("_cents"),
      c => call_function("sq_l2", col("qv"), c.getField("centroid")))
    df.crossJoin(broadcast(centArr))
      .withColumn("_d", dists)
      .withColumn("_p1", array_position(col("_d"), array_min(col("_d"))).cast("int"))
      .withColumn("_d2arr",
        zip_with(col("_d"),
                 sequence(lit(1), size(col("_d"))),
                 (dv, idx) => when(idx === col("_p1"), lit(Long.MaxValue))
                   .otherwise(dv)))
      .withColumn("_p2",
        array_position(col("_d2arr"), array_min(col("_d2arr"))).cast("int"))
      .withColumn("cid1",
        element_at(col("_cents"), col("_p1")).getField("centroid_id"))
      .withColumn("cid2",
        element_at(col("_cents"), col("_p2")).getField("centroid_id"))
      .drop("_cents", "_d", "_d2arr", "_p1", "_p2")
  }

  /** Top-2 gated integer cell probes, near AND far — the multi-probe
    * candidate GENERATOR the bucketed pair miners share
    * ([[graft.operators.Similarity.hardNegativesIvf]] /
    * [[Similarity.knnLabelNoiseIvf]], round 11): one md5-sampled integer
    * k-means fit, then TWO map-only top-2 argmin passes over the same
    * broadcast centroids —
    *  - (near1, near2): the vector's own two nearest cells (index
    *    membership AND the near-neighbor probe set);
    *  - (far1, far2): the two cells nearest the REFLECTED vector
    *    2·Off − qv (the offset-space image of −v) — minimum dot product
    *    is nearest-neighbor of the negation, so these are the cells where
    *    FARTHEST-point candidates (hardest positives) live.
    * Both passes are map-only over the corpus; the fit stays
    * [[TrainCap]]-bounded. Output: (vec_id, near1, near2, far1, far2).
    */
  private[operators] def gatedProbes2(spark: SparkSession, sfDir: String,
                                      nLists: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val qemb = gatedQemb(t(spark, sfDir, "embeddings"))
    val cents = gatedCentroids(qemb, nLists)
    val near = gatedWithBest2(qemb, cents)
      .select(col("vec_id"), col("cid1").as("near1"), col("cid2").as("near2"))
    val refl = qemb.select(col("vec_id"),
      transform(col("qv"), v => lit(32768L) - v).as("qv"))
    val far = gatedWithBest2(refl, cents)
      .select(col("vec_id"), col("cid1").as("far1"), col("cid2").as("far2"))
    near.join(far, "vec_id")
  }

  /** Multi-probe variant of [[semanticDedupGated]] — closes the cross-cell
    * recall gap that single-cell clustering documents as its tradeoff:
    * every vector belongs to its TWO nearest cells, pairs form inside any
    * shared cell (distinct across the two memberships), and the
    * keep-lowest-id rule runs on the widened pair set. A near-dup pair
    * split by a cell boundary is found whenever either doc's second cell
    * is the other's first — the standard multi-probe argument, at ~4× the
    * single-probe pair volume (each cell doubles its membership) and
    * IDENTICAL shuffle shape: the corpus never all-pairs, the fit stays
    * [[TrainCap]]-bounded, assignment stays map-only. `cluster_id` in the
    * output remains the PRIMARY cell, so flags are directly comparable
    * with the single-probe twin (spec asserts the dup set is a superset).
    */
  def semanticDedupMultiprobe(spark: SparkSession, sfDir: String,
                              nLists: Int = 16,
                              thr: Long = 130000000L): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val emb = t(spark, sfDir, "embeddings")
    val qemb = gatedQemb(emb)
    val cents = gatedCentroids(qemb, nLists)
    val asg = gatedWithBest2(qemb, cents)
      .select(col("vec_id"), col("qv"), col("cid1"), col("cid2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // two membership rows per vector, then a per-cell self-join
    val mem = asg.select(col("vec_id"), col("qv"),
        explode(array(col("cid1"), col("cid2"))).as("cell"))
    val pairs = mem.select(col("cell"), col("vec_id").as("a_id"), col("qv").as("aq"))
      .join(mem.select(col("cell"), col("vec_id").as("b_id"), col("qv").as("bq")),
            Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .select(col("b_id"), col("a_id"), gatedL2(col("aq"), col("bq")).as("d2"))
      .filter(col("d2") <= thr)
      .dropDuplicates("b_id", "a_id")
    val dup = pairs.groupBy(col("b_id"))
      .agg(min(col("a_id")).as("dup_of"), min(col("d2")).as("min_d2"))
    ordered(
      asg.select(col("vec_id"), col("cid1"))
        .join(dup, col("vec_id") === col("b_id"), "left")
        .select(col("vec_id"), col("cid1").cast("long").as("cluster_id"),
                col("dup_of").isNotNull.as("is_dup"),
                col("dup_of"), col("min_d2")),
      "vec_id")
  }

  /** Product-quantization geometry: 4 subspaces × 16 dims over the 64-dim
    * vectors. PQ splits the space, fits an independent small codebook per
    * subspace, and represents each vector as S code ids — at 256 codes and
    * 8 subspaces a 64-float vector compresses to 8 bytes, which is why PQ
    * is the billion-vector serving standard (Jégou et al. 2011). Gate
    * scale uses 8 codes/subspace; the mechanism is code-count-agnostic.
    */
  val PqSubs = 4
  val PqSubDim = 16

  /** One fixed-point sub-vector slice per subspace (1-based slice —
    * subspace s covers dims s·16+1 .. (s+1)·16).
    */
  private def pqSliced(qemb: DataFrame, s: Int): DataFrame =
    qemb.select(col("vec_id"),
                slice(col("qv"), s * PqSubDim + 1, PqSubDim).as("qv"))

  /** The [[PqSubs]] independent PQ codebooks as ONE [[Drop]] fit keyed by
    * subspace: each sample row of `sample` (vec_id, `vec`) becomes its
    * PqSubs sub-vectors with grp = subspace, so the four fits share one
    * plan — init, rounds and means all group by subspace. Returns the
    * persisted-table schema (subspace, code, centroid).
    */
  private def pqFit(sample: DataFrame, vec: String, codes: Int): DataFrame =
    lloyd(sample.select(explode(sequence(lit(0L), lit(PqSubs - 1L))).as("grp"),
                        col("vec_id"), col(vec))
            .select(col("grp"), col("vec_id"),
                    slice(col(vec), col("grp").cast("int") * PqSubDim + 1,
                          lit(PqSubDim)).as("qv")),
          codes, Iters, Drop)
      .select(col("grp").as("subspace"), col("centroid_id").as("code"),
              col("centroid"))

  /** Subspace `s`'s (centroid_id, centroid) codebook out of a [[pqFit]]
    * table.
    */
  private def codebook(cbs: DataFrame, s: Int): DataFrame =
    cbs.filter(col("subspace") === s)
      .select(col("code").as("centroid_id"), col("centroid"))

  /** The raw-vector PQ codebooks over the md5-sampled corpus — one
    * [[pqFit]], persisted (every caller scans it several times). Returns
    * (subspace, codebook) where codebook = (centroid_id, centroid
    * sub-vector).
    */
  private def pqCodebooks(spark: SparkSession, sfDir: String,
                          codes: Int): (DataFrame, Seq[(Int, DataFrame)]) = {
    graft.functions.GraftFunctions.register(spark)
    val qemb = gatedQemb(t(spark, sfDir, "embeddings"))
    val cbs = pqFit(md5Sample(qemb), "qv", codes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    (qemb, (0 until PqSubs).map(s => s -> codebook(cbs, s)))
  }

  /** PQ codebook build report under the EXACT hash gate: per (subspace,
    * code), the number of assigned corpus vectors and their total/mean
    * integer squared reconstruction error — the table that tells an
    * operator whether the codebook count is adequate (mean error per
    * subspace IS the quantization distortion that bounds ADC accuracy).
    * Everything integer: fit, assignment, per-vector error (native sq_l2
    * kernel), error sums as DECIMAL. Scale: fits are [[TrainCap]]-bounded;
    * assignment is S map-only passes; the report is one hash-agg.
    */
  def pqCodebook(spark: SparkSession, sfDir: String,
                 codes: Int = 8): DataFrame = {
    val (qemb, cbs) = pqCodebooks(spark, sfDir, codes)
    val perSub = cbs.map { case (s, cb) =>
      gatedWithBest(pqSliced(qemb, s), cb)
        .join(cb, "centroid_id")
        .select(lit(s.toLong).as("subspace"),
                col("centroid_id").cast("long").as("code"),
                call_function("sq_l2", col("qv"), col("centroid")).as("err"))
    }
    ordered(
      perSub.reduce(_ unionByName _)
        .groupBy(col("subspace"), col("code"))
        .agg(count(lit(1)).as("n_members"),
             sum(col("err").cast("decimal(38,0)")).as("sum_err"))
        .select(col("subspace"), col("code"), col("n_members"),
                col("sum_err").cast("double").as("sum_err"),
                r4(col("sum_err").cast("double") /
                   col("n_members").cast("double")).as("mean_err")),
      "subspace", "code")
  }

  /** PQ asymmetric-distance (ADC) top-k under the EXACT hash gate — the
    * serving-path mechanism: the probe (vec 0) stays FULL precision, each
    * corpus vector is its S code ids, and the approximate distance is the
    * sum of S table lookups d(probe_slice_s, centroid(code_s)) — S·codes
    * integer L2 evaluations total for the TABLE (broadcast-sized at any
    * corpus), then one map-side sum per vector. Ties to the lower vec_id.
    * The honest approximation: ADC distances are quantized, so the top-k
    * is the PQ answer, not the exact one — [[pqCodebook]]'s mean errors
    * bound the gap, and production re-ranks a shortlist at full precision
    * exactly like [[ivfTopKQuantized]].
    */
  def annPq(spark: SparkSession, sfDir: String, codes: Int = 8,
            k: Int = 10): DataFrame = {
    val (qemb, cbs) = pqCodebooks(spark, sfDir, codes)
    val perSub = cbs.map { case (s, cb) =>
      val probeSlice = pqSliced(qemb.filter(col("vec_id") === 0), s)
        .select(col("qv").as("pq")).limit(1)
      val dtable = broadcast(
        cb.crossJoin(broadcast(probeSlice))
          .select(col("centroid_id"),
                  call_function("sq_l2", col("centroid"), col("pq")).as("d")))
      gatedWithBest(pqSliced(qemb, s), cb)
        .join(dtable, "centroid_id")
        .select(col("vec_id"), col("d"))
    }
    perSub.reduce(_ unionByName _)
      .filter(col("vec_id") =!= 0)
      .groupBy(col("vec_id"))
      .agg(sum(col("d")).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Full IVFPQ under the EXACT hash gate (Jégou et al. 2011, the
    * canonical billion-vector index, composed end-to-end from the gated
    * pieces): coarse integer k-means cells ([[gatedCentroids]] +
    * [[gatedWithBest]]), RESIDUAL encoding (r = qv − coarse centroid —
    * what real IVFPQ quantizes; raw-vector PQ wastes codebook entropy on
    * the coarse structure), 4 independent drop-empty PQ codebooks over the
    * md5-sampled residual sub-vectors, and the IVFPQ serving path: the
    * probe picks its `nprobe` nearest cells, builds a PER-CELL ADC table
    * (the probe's residual differs per cell, so each probed cell gets its
    * own S × codes integer-L2 table — nprobe·S·codes evaluations total,
    * broadcast-sized at any corpus), and every vector IN a probed cell is
    * scored by S table lookups. Exact integers end to end; ties to the
    * lower vec_id. Scale shape: fits are [[TrainCap]]-bounded, cell and
    * code assignments are map-only broadcast argmins, candidate pruning is
    * corpus ⋈ broadcast(nprobe rows), and the ADC sum is one map-side
    * aggregation — the corpus never all-pairs and never broadcasts.
    */
  def annIvfPq(spark: SparkSession, sfDir: String, nLists: Int = 16,
               nprobe: Int = 4, codes: Int = 8, k: Int = 10): DataFrame =
    annIvfPqParts(spark, sfDir, nLists, nprobe, codes, k).topk

  /** [[annIvfPq]]'s intermediate frames alongside its top-k result, so
    * [[ivfPqRecall]] can reuse the fitted coarse quantizer, the persisted
    * residual/cell assignment and the probed-cell set instead of refitting
    * and re-assigning the corpus a second time (r15 optimization — the
    * recall query previously paid the whole coarse fit + one extra corpus
    * assignment pass for frames annIvfPq had already built; the fit is
    * deterministic, so reuse is value-identical).
    */
  private case class IvfPqParts(cents: DataFrame, resid: DataFrame,
                                probeCells: DataFrame, topk: DataFrame)

  /** The IVFPQ fit shared by [[annIvfPq]] and [[buildIvfPqIndex]]: md5
    * sample → [[Drop]] coarse fit → residuals r = qv − centroid(cell) →
    * md5 sample of the residuals → one subspace-keyed [[pqFit]]. Both
    * fits are [[Drop]] because the IVFPQ oracles pin the drop-empty rule.
    * `samples` are the two persisted training samples, for callers that
    * release them.
    */
  private case class IvfPqFit(qemb: DataFrame, cents: DataFrame,
                              resid: DataFrame, codebooks: DataFrame,
                              samples: Seq[DataFrame])

  private def ivfPqFit(spark: SparkSession, sfDir: String, nLists: Int,
                       codes: Int): IvfPqFit = {
    graft.functions.GraftFunctions.register(spark)
    val qemb = gatedQemb(t(spark, sfDir, "embeddings"))
    val csample = md5Sample(qemb)
    // EAGER lineage truncation on the fitted frames (the q_mmr_diversity /
    // q_hits exemption class, recorded in ScaleInfraSpec's laziness spec):
    // cents is <=nLists rows and the codebooks <=PqSubs·codes rows, but
    // their fit chains are deep — and [[annIvfPq]] references them from
    // ~10 legs (residuals, probe cells, 4 ADC tables, 4 assignments).
    // Lazy persist marks leave every reference re-analyzing the full fit
    // subtree: with both fits keyed, `q_ann_ivf_pq` took 20.6–27.4 s lazy
    // vs 5.9–6.8 s checkpointed (fresh JVMs, sf0.1, 4 cores). The
    // checkpointed frames are driver-trivial at any corpus scale.
    val cents = lloydFlat(csample, nLists, Iters, Drop).localCheckpoint(true)
    // residual frame: map-only argmin + one broadcast join against the
    // nLists-row centroid table
    val resid = gatedWithBest(qemb, cents)
      .join(broadcast(cents), "centroid_id")
      .select(col("vec_id"), col("centroid_id").as("cell"),
              zip_with(col("qv"), col("centroid"), (a, b) => a - b).as("rv"))
      // persist, NOT checkpoint: resid is corpus-sized — an eager corpus
      // materialization bought 0.6 s at sf0.1 (6.6 vs 7.2) for a full
      // extra copy of the corpus in executor storage; with cents a leaf,
      // resid's own lineage is shallow and the lazy mark suffices
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rsample = md5Sample(resid)
    val codebooks = pqFit(rsample, "rv", codes).localCheckpoint(true)
    IvfPqFit(qemb, cents, resid, codebooks, Seq(csample, rsample))
  }

  private def annIvfPqParts(spark: SparkSession, sfDir: String, nLists: Int,
                            nprobe: Int, codes: Int, k: Int): IvfPqParts = {
    val IvfPqFit(qemb, cents, resid, cbAll, _) =
      ivfPqFit(spark, sfDir, nLists, codes)
    val cbs = (0 until PqSubs).map(s => s -> codebook(cbAll, s))
    // probe machinery: nprobe nearest cells, then a residual PER CELL
    val probe = qemb.filter(col("vec_id") === 0)
      .select(col("qv").as("pq")).limit(1)
    val probeCells = cents.crossJoin(broadcast(probe))
      .withColumn("d", call_function("sq_l2", col("centroid"), col("pq")))
      .orderBy(col("d").asc, col("centroid_id").asc)
      .limit(nprobe)
      .select(col("centroid_id").as("cell"),
              zip_with(col("pq"), col("centroid"), (a, b) => a - b).as("prv"))
    // ADC tables: per (cell, subspace, code) the integer L2 between the
    // probe's cell-residual sub-vector and the codebook centroid
    val dtables = cbs.map { case (s, cb) =>
      broadcast(
        probeCells.crossJoin(broadcast(cb))
          .select(col("cell"), col("centroid_id"),
                  call_function("sq_l2",
                    slice(col("prv"), s * PqSubDim + 1, PqSubDim),
                    col("centroid")).as("d")))
    }
    // candidate vectors = members of probed cells; ADC = Σ_s dtable lookups
    val perSub = cbs.zip(dtables).map { case ((s, cb), dt) =>
      gatedWithBest(rvSlice(resid, s), cb)
        .join(dt, Seq("cell", "centroid_id")) // broadcast: prunes + looks up
        .select(col("vec_id"), col("d"))
    }
    val topk = perSub.reduce(_ unionByName _)
      .filter(col("vec_id") =!= 0)
      .groupBy(col("vec_id"))
      .agg(sum(col("d")).as("adc_dist"),
           count(lit(1)).as("_subs"))
      // a candidate must have been scored in ALL subspaces (it always is —
      // membership is per-vector, not per-subspace; the guard states it)
      .filter(col("_subs") === PqSubs)
      .drop("_subs")
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(k)
    IvfPqParts(cents, resid, probeCells, topk)
  }

  /** Measured IVFPQ recall vs the exact integer-cosine top-k — the
    * q_lsh_recall discipline applied to the ANN capstone: what fraction of
    * the TRUE top-k does the compressed index return, and how far apart
    * are the two result sets' ADC ranks? One row: k, hits, recall, plus
    * the coarse-pruning and quantization losses separated — `cell_hits`
    * counts true neighbors whose CELL was probed (missed ⇒ coarse loss),
    * so recall − cell-recall isolates the PQ quantization loss from the
    * nprobe routing loss, which is exactly the knob-tuning signal an IVFPQ
    * operator needs (raise nprobe vs raise codes). All counts integer.
    */
  def ivfPqRecall(spark: SparkSession, sfDir: String, nLists: Int = 16,
                  nprobe: Int = 4, codes: Int = 8, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // exact truth by the ·10⁶ integer cosine (the brute-force yardstick)
    val v6 = t(spark, sfDir, "embeddings").select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000000.0 + 0.5).cast("long")).as("qv"))
      .withColumn("n2", call_function("dot_q", col("qv"), col("qv")))
    val probe6 = v6.filter(col("vec_id") === 0)
      .select(col("qv").as("pq"), col("n2").as("pn2")).limit(1)
    val cos = r4(call_function("dot_q", col("qv"), col("pq")).cast("double") /
                 (sqrt(col("n2").cast("double")) *
                  sqrt(col("pn2").cast("double"))))
    // truth = TakeOrdered top-k (k rows per partition travel) — never a
    // global-window rank of the corpus-sized cosine frame
    val truth = v6.crossJoin(broadcast(probe6))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), cos.as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"))
    // the index's fitted frames, reused (r15): `parts.resid` IS the
    // corpus cell assignment (cell = gatedWithBest's argmin — identical to
    // the re-assignment this query used to run), `parts.probeCells` the
    // same nprobe-nearest-cell selection (d asc, centroid_id asc over the
    // same deterministic fit), so the old standalone refit + corpus
    // re-assignment computed exactly these rows a second time.
    val parts = annIvfPqParts(spark, sfDir, nLists, nprobe, codes, k)
    val got = parts.topk.select(col("vec_id"))
    // probed-cell membership of the TRUE neighbors (coarse-loss isolation)
    val probeCells = parts.probeCells.select(col("cell").as("centroid_id"))
    val inProbed = parts.resid.select(col("vec_id"), col("cell").as("centroid_id"))
      .join(broadcast(probeCells), "centroid_id")
      .select(col("vec_id"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(truth.join(got, Seq("vec_id"), "left_semi")
                   .agg(count(lit(1)).as("n_hit")))
      .crossJoin(truth.join(inProbed, Seq("vec_id"), "left_semi")
                   .agg(count(lit(1)).as("n_cell_hit")))
      .select(col("n_truth"), col("n_hit"), col("n_cell_hit"),
              r4(col("n_hit").cast("double") / col("n_truth").cast("double"))
                .as("recall"),
              r4(col("n_cell_hit").cast("double") /
                 col("n_truth").cast("double")).as("cell_recall"))
  }

  // ---------------------------------------------------------------------
  // Round 12: build-once / serve-many IVFPQ (the r11-verdict top item).
  // q_ann_ivf_pq proves the MECHANISM end-to-end but rebuilds the coarse
  // quantizer + 4 PQ codebooks inside every query and serves exactly one
  // probe — the shape that cannot amortize at any scale. Real ANN
  // infrastructure is the reference's own warehouse lifecycle transposed
  // to vectors (nightly transform_load.sql build, all-day queries,
  // README.md:48–51): fit ONCE, persist the index as a versioned
  // snapshot, serve probe BATCHES from it with zero fit work in the
  // serve plan.
  // ---------------------------------------------------------------------

  /** Versioned on-disk root for a persisted IVFPQ index over `sfDir`'s
    * embeddings ([[graft.util.Tables.storeRoot]]: keyed on the embedding
    * files, the fit parameters and the `ivfpq-v1` format tag). Lives
    * under the JVM temp dir — the stand-in for the warehouse's index
    * volume; at a real deployment this is one line pointing at the object
    * store.
    */
  private def indexRoot(spark: SparkSession, sfDir: String, nLists: Int,
                        codes: Int): String =
    storeRoot(spark, sfDir, Seq("embeddings"), "ivfpq-v1", s"-n$nLists-c$codes")

  /** 1-based 16-dim residual slice for subspace `s` over a (vec_id, cell,
    * rv) frame — the shared slicer of the build and serve paths.
    */
  private def rvSlice(df: DataFrame, s: Int): DataFrame =
    df.select(col("vec_id"), col("cell"),
              slice(col("rv"), s * PqSubDim + 1, PqSubDim).as("qv"))

  /** Build and PERSIST the IVFPQ index (idempotent — returns immediately
    * when a committed index already exists): exactly [[annIvfPq]]'s fit
    * ([[ivfPqFit]]), then three SnapshotStore tables under the index
    * root —
    *  - `centroids`: (centroid_id, centroid) — nLists rows;
    *  - `codebooks`: (subspace, code, centroid) — 4·codes rows;
    *  - `codes`:     (vec_id, cell, code_0..code_3) — ONE row per corpus
    *    vector, the 8-bytes-per-vector layout PQ exists for.
    * The per-vector codes come out of ONE map pass: all four codebooks
    * fold into a single broadcast row and each subspace's argmin runs
    * inline per row — no corpus-with-corpus join, no shuffle; the build's
    * only corpus cost is the residual pass + this code pass + the write.
    * Deterministic end to end (integer arithmetic, md5 sample order), so
    * concurrent builders racing on the same root commit identical content
    * and any committed version serves correctly.
    */
  def buildIvfPqIndex(spark: SparkSession, sfDir: String, nLists: Int = 16,
                      codes: Int = 8): String = {
    import graft.sources.SnapshotStore
    val root = indexRoot(spark, sfDir, nLists, codes)
    if (SnapshotStore.committedVersions(spark, s"$root/codes").nonEmpty)
      return root
    val fit = ivfPqFit(spark, sfDir, nLists, codes)
    SnapshotStore.commitSnapshot(fit.cents, s"$root/centroids")
    SnapshotStore.commitSnapshot(fit.codebooks, s"$root/codebooks")
    SnapshotStore.commitSnapshot(encodeAgainst(fit.resid, fit.codebooks),
                                 s"$root/codes")
    (fit.resid +: fit.samples).foreach(_.unpersist())
    root
  }

  /** PQ-encode a residual frame (vec_id, cell, rv) against an EXISTING
    * codebook table (subspace, code, centroid) — all 4 codebooks fold into
    * ONE broadcast row and every subspace's argmin runs inline per row:
    * one map pass, no shuffle, no fit. Shared by the index build and the
    * incremental/streaming ingest paths.
    */
  private def encodeAgainst(resid: DataFrame, codebooks: DataFrame): DataFrame = {
    val folded = (0 until PqSubs).map { s =>
      codebooks.filter(col("subspace") === s)
        .agg(array_sort(collect_list(
          struct(col("code").as("centroid_id"), col("centroid")))).as(s"_cb$s"))
    }.reduce(_ crossJoin _)
    def codeCol(s: Int): Column = {
      val dists = transform(col(s"_cb$s"),
        c => call_function("sq_l2",
               slice(col("rv"), s * PqSubDim + 1, PqSubDim),
               c.getField("centroid")))
      element_at(col(s"_cb$s"),
        array_position(dists, array_min(dists)).cast("int"))
        .getField("centroid_id").as(s"code_$s")
    }
    resid.crossJoin(broadcast(folded))
      .select(col("vec_id") +: col("cell") +:
              (0 until PqSubs).map(codeCol): _*)
  }

  /** Encode NEW vectors against an EXISTING persisted index (centroids +
    * codebooks frames as [[buildIvfPqIndex]] committed them): cell
    * assignment into the existing coarse cells (stateless argmin — the
    * [[ivfIncremental]] no-refit contract), residual against the owning
    * centroid, and the one-pass PQ code assignment. Returns
    * (vec_id, cell, code_0..code_3) rows ready to append to the codes
    * snapshot — the daily/streaming embedding-batch ingest step, zero fit
    * work at any batch size.
    */
  private[graft] def encodeVectors(qemb: DataFrame, cents: DataFrame,
                                   codebooks: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(qemb.sparkSession)
    val resid = gatedWithBest(qemb, cents)
      .join(broadcast(cents), "centroid_id")
      .select(col("vec_id"), col("centroid_id").as("cell"),
              zip_with(col("qv"), col("centroid"), (a, b) => a - b).as("rv"))
    encodeAgainst(resid, codebooks)
  }

  /** Serve a probe BATCH from the PREBUILT IVFPQ index — the query half of
    * the build/serve split: reads only the persisted snapshot tables (plus
    * the probes' own full-precision vectors), contains NO k-means fit (no
    * iteration subtree, no ntile init, no posexplode means — PlanSpec
    * asserts it), and scores candidates through per-(probe, cell) ADC
    * tables exactly like [[annIvfPq]]'s tail. Batch shape: probes are
    * vec_id < `nProbes` (the matryoshkaRecall %N-anchor discipline); per
    * probe the nprobe nearest cells, per (probe, cell, subspace) a
    * codes-row ADC table (nProbes·nprobe·4·codes rows TOTAL — broadcast
    * at any corpus), then FOUR map-side broadcast lookups against the
    * corpus codes table (no corpus shuffle before the per-probe top-k,
    * which is two-phase [[graft.util.TopK]]). Self-matches excluded.
    * Output: (p_id, vec_id, adc_dist) — k rows per probe.
    *
    * Serving cost at 100 TB: the corpus-side work is ONE broadcast-pruned
    * scan of the 8-byte-per-vector codes table; the index build is paid
    * once per corpus version, not per query — the amortization
    * q_ann_ivf_pq structurally cannot express.
    */
  def annIvfPqServed(spark: SparkSession, sfDir: String, nLists: Int = 16,
                     nprobe: Int = 4, codes: Int = 8, nProbes: Int = 8,
                     k: Int = 10,
                     extraCodes: Option[DataFrame] = None,
                     codesOverride: Option[DataFrame] = None): DataFrame = {
    import graft.sources.SnapshotStore
    graft.functions.GraftFunctions.register(spark)
    val root = buildIvfPqIndex(spark, sfDir, nLists, codes)
    val cents = SnapshotStore.readCommitted(spark, s"$root/centroids")
    val cb = SnapshotStore.readCommitted(spark, s"$root/codebooks")
    // the serveable corpus = the base snapshot plus any incrementally
    // appended code versions ([[graft.streaming.StreamOps.indexCodesStream]]
    // arrivals) — new vectors become retrievable with zero index rebuild.
    // `codesOverride` swaps the base leg entirely (the tombstoned or
    // compacted codes table of [[indexDeleteServe]]/[[indexCompact]]).
    val codesT = extraCodes.foldLeft(
      codesOverride.getOrElse(
        SnapshotStore.readCommitted(spark, s"$root/codes")))(_ unionByName _)
    val probes = gatedQemb(t(spark, sfDir, "embeddings"))
      .filter(col("vec_id") < nProbes).limit(nProbes)
      .select(col("vec_id").as("p_id"), col("qv").as("pq"))
    // nprobe nearest cells per probe + the probe's PER-CELL residual
    // (bounded: nProbes × nLists scored rows, nProbes × nprobe kept)
    val pc = probes.crossJoin(broadcast(
        cents.agg(array_sort(collect_list(struct(col("centroid_id"),
          col("centroid")))).as("_cents"))))
      .select(col("p_id"), col("pq"),
              explode(col("_cents")).as("c"))
      .select(col("p_id"), col("c.centroid_id").as("cell"),
              call_function("sq_l2", col("c.centroid"), col("pq")).as("d"),
              zip_with(col("pq"), col("c.centroid"), (a, b) => a - b).as("prv"))
    val pcTop = graft.util.TopK.perGroup(pc, Seq(col("p_id")),
        Seq(col("d").asc, col("cell").asc), nprobe)
      .select(col("p_id"), col("cell"), col("prv"))
    // per-(probe, cell, subspace) ADC tables — broadcast-sized always; the
    // limit(codes) states the codebook's bound IN THE PLAN (a PQ codebook
    // has exactly `codes` rows per subspace, but the hint guard can only
    // see plan-level bounds — the matryoshkaRecall probe-batch discipline)
    val dts = (0 until PqSubs).map { s =>
      broadcast(
        pcTop.crossJoin(broadcast(
            cb.filter(col("subspace") === s).limit(codes)))
          .select(col("p_id"), col("cell"), col("code").as(s"code_$s"),
                  call_function("sq_l2",
                    slice(col("prv"), s * PqSubDim + 1, PqSubDim),
                    col("centroid")).as(s"d_$s")))
    }
    // candidates = codes-table members of probed cells; ADC = 4 broadcast
    // lookups summed map-side — the corpus never shuffles before the top-k
    val cand = codesT
      .join(broadcast(pcTop.select(col("p_id"), col("cell"))), "cell")
    val scored = dts.zipWithIndex.foldLeft(cand) { case (df, (dt, s)) =>
      df.join(dt, Seq("p_id", "cell", s"code_$s"))
    }
      .filter(col("vec_id") =!= col("p_id"))
      .select(col("p_id"), col("vec_id"),
              (col("d_0") + col("d_1") + col("d_2") + col("d_3")).as("adc_dist"))
    ordered(
      graft.util.TopK.perGroup(scored, Seq(col("p_id")),
          Seq(col("adc_dist").asc, col("vec_id").asc), k)
        .select(col("p_id"), col("vec_id"), col("adc_dist")),
      "p_id", "adc_dist", "vec_id")
  }

  /** FILTERED vector search over the served index — top-k restricted to a
    * metadata predicate (here: even labels), the capability every vector
    * store ships because raw nearest-neighbors are useless when the caller
    * needs "nearest IN category / with license / after date". Semantics
    * are PRE-filtering: the predicate prunes the candidate stream BEFORE
    * the top-k, so all k results satisfy it (post-filtering returns < k
    * whenever the predicate thins the neighborhood — the classic filtered-
    * ANN pitfall).
    *
    * MAP-SIDE as of round 13 (r12 verdict item 5): the hot filter
    * attribute is EMBEDDED in the codes table — a run-once
    * `codes_v2_labeled` sibling snapshot (format-bumped name, per the
    * watch-list rule: schema changes to served artifacts never reuse the
    * old table) joins labels to codes ONCE at build and materializes the
    * parity tag as a stored column; the serve path is then a parquet scan
    * with an equality PushedFilter on the tag — zero
    * additional Exchanges vs the unfiltered serve plan, where the r12
    * shape paid two id-keyed shuffles (codes ⋈ labels) per query. At
    * 100 TB serve-path shuffles are the latency floor; the one-off build
    * join is amortized across every filtered query. PlanSpec asserts the
    * Exchange count and the pushed filter. Everything else is
    * [[annIvfPqServed]]'s fit-free broadcast shape.
    */
  def annFilteredServed(spark: SparkSession, sfDir: String, nLists: Int = 16,
                        nprobe: Int = 4, codes: Int = 8, nProbes: Int = 8,
                        k: Int = 10): DataFrame = {
    import graft.sources.SnapshotStore
    val root = buildIvfPqIndex(spark, sfDir, nLists, codes)
    val labeledDir = s"$root/codes_v2_labeled"
    if (SnapshotStore.committedVersions(spark, labeledDir).isEmpty) {
      // materialize the parity TAG (not just the raw label): an equality
      // on a stored column reaches the parquet reader as a PushedFilter;
      // `label % 2 = 0` would stay a post-scan expression filter
      val labels = t(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("label"),
                (col("label") % 2).cast("int").as("label_parity"))
      SnapshotStore.commitSnapshot(
        SnapshotStore.readCommitted(spark, s"$root/codes")
          .join(labels, "vec_id"), labeledDir)
    }
    val filtered = SnapshotStore.readCommitted(spark, labeledDir)
      .filter(col("label_parity") === 0)
      .drop("label", "label_parity") // downstream schema = the v1 codes table
    annIvfPqServed(spark, sfDir, nLists, nprobe, codes, nProbes, k,
      codesOverride = Some(filtered))
  }

  /** Exact RE-RANKING over the served ADC shortlist — the two-stage serving
    * pattern production ANN actually ships (Jégou et al.'s IVFADC+R,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011 §V):
    * the PQ index routes and scores a cheap kAdc-deep shortlist from
    * 8-byte codes, then ONLY those nProbes·kAdc candidates fetch their
    * full-precision vectors for an exact distance re-rank to the final
    * top-k. Quantization error affects WHICH kAdc candidates surface, not
    * their final order — the recall lift over raw ADC@k is structural
    * (every truth member the shortlist catches is returned; Round12OpsSpec
    * asserts rerank-recall ≥ ADC-recall against the exact truth).
    *
    * Scale: the shortlist is plan-bounded (two TopK passes inside
    * [[annIvfPqServed]]), so the full-precision fetch is a BROADCAST
    * semi-join against the embeddings table — nProbes·kAdc vector reads
    * regardless of corpus size, the re-rank itself nProbes·kAdc·64
    * integer ops. The serve plan stays fit-free.
    */
  def annRerankServed(spark: SparkSession, sfDir: String, nLists: Int = 16,
                      nprobe: Int = 4, codes: Int = 8, nProbes: Int = 8,
                      kAdc: Int = 50, k: Int = 10): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val shortlist = annIvfPqServed(spark, sfDir, nLists, nprobe, codes,
                                   nProbes, kAdc)
    val qemb = gatedQemb(t(spark, sfDir, "embeddings"))
    val probes = qemb.filter(col("vec_id") < nProbes).limit(nProbes)
      .select(col("vec_id").as("p_id"), col("qv").as("pq"))
    // limit() states the shortlist's nProbes·kAdc bound IN THE PLAN (a
    // true pass-through: the two TopK passes inside annIvfPqServed already
    // cap it there) so the broadcast-hint scale guard can prove it bounded
    val exact = qemb
      .join(broadcast(shortlist.limit(nProbes * kAdc)), "vec_id")
      .join(broadcast(probes), "p_id")
      .select(col("p_id"), col("vec_id"), col("adc_dist"),
              call_function("sq_l2", col("qv"), col("pq")).as("l2q"))
    ordered(
      graft.util.TopK.perGroup(exact, Seq(col("p_id")),
          Seq(col("l2q").asc, col("vec_id").asc), k)
        .select(col("p_id"), col("vec_id"), col("adc_dist"), col("l2q")),
      "p_id", "l2q", "vec_id")
  }

  /** Retention EXPIRY on the tombstone-erased codes table — the lifecycle's
    * last step (the reference's warehouse keeps history until a retention
    * window closes; SnapshotStore.expireVersions is this repo's): the
    * pre-delete version 0 of `codes_del` ages out, its manifest and data
    * directory are reclaimed, and the post-erase version becomes the
    * oldest readable snapshot. The report is a pure LAZY plan over the
    * surviving snapshot — retained version count, row count, and the same
    * exact integer code checksum [[indexCompact]] pins — so the oracle
    * verifies that expiry preserved the post-erase CONTENT bit-for-bit
    * (rows = corpus minus the vec_id%10=7 tombstones; checksum = full
    * checksum minus the tombstoned slice). GDPR note: expiry after erasure
    * is what makes the erasure PHYSICAL — until version 0 ages out, the
    * erased keys still exist in history; after it, no committed version
    * contains them (spec-asserted). Runs on its OWN lifecycle copy
    * (`codes_exp`), never on [[indexDeleteServe]]'s `codes_del` — that
    * query's time-travel guarantee (pre-delete v0 readable) must hold
    * regardless of registry build order.
    */
  def indexExpire(spark: SparkSession, sfDir: String, nLists: Int = 16,
                  codes: Int = 8, delMod: Int = 7): DataFrame = {
    import graft.sources.SnapshotStore
    val root = buildIvfPqIndex(spark, sfDir, nLists, codes)
    val expDir = s"$root/codes_exp"
    withMarker(spark, s"$expDir/_expired") {
      if (SnapshotStore.committedVersions(spark, expDir).isEmpty)
        SnapshotStore.commitSnapshot(
          SnapshotStore.readCommitted(spark, s"$root/codes"), expDir)
      val tomb = SnapshotStore.readCommitted(spark, expDir)
        .filter(col("vec_id") % 10 === delMod).select(col("vec_id"))
      if (!tomb.isEmpty)
        SnapshotStore.eraseKeys(spark, expDir, "vec_id", tomb)
      // retain only the newest version: the pre-delete v0 ages out and its
      // data directory is vacuumed (minAge 0 — the fixture's stand-in for
      // a closed retention window; expireVersions vacuums at the default
      // 24h retention, so the just-expired v0 data needs the explicit
      // immediate pass)
      SnapshotStore.expireVersions(spark, expDir, keepLast = 1)
      SnapshotStore.vacuumOrphans(spark, expDir, minAgeMs = 0L)
    }
    val versions = SnapshotStore.committedVersions(spark, expDir)
    val latest = SnapshotStore.readCommitted(spark, expDir)
    latest.agg(
        count(lit(1)).cast("long").as("rows_retained"),
        sum(col("cell").cast("long") + col("code_0") + col("code_1") +
            col("code_2") + col("code_3")).cast("long").as("code_checksum"))
      .select(lit(versions.size.toLong).as("versions_retained"),
              col("rows_retained"), col("code_checksum"))
  }

  /** Corpus-ADAPTIVE IVF sizing under the EXACT hash gate — the registered
    * form of the raise-nLists-with-corpus rule every fixed-k gate query
    * documents in prose (r11-verdict item 3): nLists = clamp(⌈√n⌉, 4, 256)
    * is computed FROM the corpus count, the gated integer fit/assignment
    * run at that k, and the output is the one-row sizing report an index
    * operator reads — corpus size, chosen k, live cells, max cell share,
    * within-cell pair volume, and the CANDIDATE SHARE in basis points
    * (pair volume over all-pairs n(n−1)/2). Because k grows as √n, the
    * candidate share FALLS as the corpus grows (≈1/k for balanced cells):
    * sf0.01 (n=500, k=23) → sf0.1 (n=2000, k=45) → 10× decade (n=20000,
    * k=142) — the decade row in SURVEY §2.41 records the measured drop.
    * The corpus count is a driver-collected 1-row scalar (data-DEPENDENT
    * sizing is the point — the laziness registry exempts this entry); the
    * oracle mirrors the rule with a `(SELECT k FROM params)` tile count.
    */
  def ivfAdaptive(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val emb = t(spark, sfDir, "embeddings")
    val n = emb.select(col("vec_id")).count()
    val nLists = math.max(4L, math.min(256L,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
    val qemb = gatedQemb(emb)
    // [[Drop]], because this query's oracle pins the drop-empty arithmetic
    // from birth (the annIvfPq precedent)
    val cents = lloydFlat(md5Sample(qemb), nLists, Iters, Drop)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cellN = gatedWithBest(qemb, cents)
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("nm"))
    cellN.agg(count(lit(1)).as("live_cells"),
              max(col("nm")).as("mx"),
              sum(expr("nm * (nm - 1) div 2")).as("pair_volume"))
      .select(lit(n).as("n_corpus"), lit(nLists.toLong).as("n_lists"),
              col("live_cells"),
              expr(s"mx * 10000 div CAST($n AS BIGINT)").as("max_share_bp"),
              col("pair_volume"),
              expr(s"pair_volume * 10000 div " +
                   s"(CAST($n AS BIGINT) * CAST(${n - 1} AS BIGINT) div 2)")
                .as("cand_share_bp"))
  }

  /** INCREMENTAL index maintenance under the EXACT hash gate (r11-verdict
    * item 4 — the reference's daily-batch lifecycle, extract_weather.py:
    * 26–34, transposed to vectors): yesterday's corpus (vec_id % 10 ≠ 9)
    * owns the fitted centroids; today's batch (vec_id % 10 = 9) is
    * ASSIGNED into the EXISTING cells with zero refit work — assignment
    * is a stateless per-row argmin, so batch-assign ≡ full-assign by
    * construction (Round12OpsSpec asserts it). Per cell the report an
    * index operator acts on: old/new member counts, the new batch's share
    * in basis points, and the DRIFT SIGNAL — exact-integer cosine between
    * the cell's old-member and new-member centroid SUM vectors (the
    * [[graft.operators.Similarity.centroidDrift]] statistic scoped to
    * cells) — with `refit_flag` raised when the new batch's centroid has
    * drifted below `driftThr`. Cells with no new members report NULL
    * drift and no flag. Scale: fit cost is zero (that is the point);
    * assignment is map-only; the drift sums are one posexplode hash-agg.
    */
  def ivfIncremental(spark: SparkSession, sfDir: String, nLists: Int = 16,
                     driftThr: Double = 0.45): DataFrame =
    ivfIncrementalParts(spark, sfDir, nLists, driftThr)._1

  /** [[ivfIncremental]]'s report alongside its fitted centroids and the
    * full-corpus cell assignment, so [[ivfRefitOnDrift]] can REUSE them
    * (r16 — the drift report used to run the identical TrainCap carry fit
    * AND the identical corpus argmin pass a second time for its `oldCents`
    * / `asgOld` legs; the fit and assignment are deterministic, so reuse
    * is value-identical and saves one full fit lineage + one corpus pass
    * from the most expensive registry entry).
    */
  private def ivfIncrementalParts(spark: SparkSession, sfDir: String,
                                  nLists: Int, driftThr: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(spark)
    val emb = t(spark, sfDir, "embeddings")
    val cents = gatedCentroids(gatedQemb(emb.filter(col("vec_id") % 10 =!= 9)),
                               nLists)
    val asg = gatedWithBest(gatedQemb(emb), cents)
      .select(col("vec_id"), (col("vec_id") % 10 === 9).as("is_new"),
              col("centroid_id").cast("long").as("cell_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val counts = asg.groupBy(col("cell_id"))
      .agg(sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_old"),
           sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"))
    // drift over the ·10⁶ integer form WITHOUT the +16384 offset: the
    // offset direction dominates cosine and would read ~1.0 everywhere
    val ex = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"),
              floor(col("v").cast("double") * 1000000.0 + 0.5).cast("long")
                .as("q"))
    val sums = asg.join(ex, "vec_id")
      .groupBy(col("cell_id"), col("is_new"), col("pos"))
      .agg(sum(col("q")).as("s"))
    val a = sums.filter(!col("is_new"))
      .select(col("cell_id"), col("pos"), col("s").as("sa"))
    val b = sums.filter(col("is_new"))
      .select(col("cell_id"), col("pos"), col("s").as("sb"))
    val drift = a.join(b, Seq("cell_id", "pos"))
      .groupBy(col("cell_id"))
      .agg(sum(col("sa").cast("decimal(38,0)") * col("sb")).as("dab"),
           sum(col("sa").cast("decimal(38,0)") * col("sa")).as("daa"),
           sum(col("sb").cast("decimal(38,0)") * col("sb")).as("dbb"))
      .select(col("cell_id"),
              r4(col("dab").cast("double") /
                 (sqrt(col("daa").cast("double")) *
                  sqrt(col("dbb").cast("double")))).as("drift_cos"))
    val report = ordered(
      counts.join(drift, Seq("cell_id"), "left")
        .select(col("cell_id"), col("n_old"), col("n_new"),
                expr("n_new * 10000 div (n_old + n_new)").as("new_share_bp"),
                col("drift_cos"),
                (col("drift_cos").isNotNull &&
                 col("drift_cos") < driftThr).as("refit_flag")),
      "cell_id")
    (report, cents, asg)
  }

  /** A `java.io.File`-free HDFS-API marker check/set — lifecycle steps
    * (tombstone erase, append seeding) are run-once per index root; the
    * marker makes every later call a pure fs-metadata probe with zero
    * Spark jobs, so the registered queries stay lazy after first build.
    */
  private def withMarker(spark: SparkSession, markerPath: String)
                        (step: => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(markerPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      step
      fs.create(p, true).close()
    }
  }

  /** Tombstone DELETES against the persisted IVFPQ index — the warehouse's
    * CDC-delete/GDPR-erasure discipline (the reference's MERGE lifecycle,
    * transform_load.sql:50–70, has no delete leg; SnapshotStore.eraseKeys
    * is this repo's, and here it is applied to the ANN index): the base
    * codes snapshot is copied into a side-versioned `codes_del` table
    * (version 1), every vec_id ≡ `delMod` (mod 10) is erased through the
    * atomic read-rewrite-publish protocol (version 2 — the pre-delete
    * version stays readable for time travel, exactly like the warehouse
    * fact), and the probe batch is served from the POST-delete version:
    * deleted vectors are structurally unreachable (their code rows no
    * longer exist), not filtered at query time. Deleted vectors can still
    * QUERY (probes carry their own full-precision vectors) — removal from
    * the corpus and removal from the query side are independent, as in any
    * retrieval system honoring erasure.
    *
    * Scale: the erase rewrite is one scan of the 8-byte-per-vector codes
    * table (not the embeddings), the serve plan is [[annIvfPqServed]]'s
    * fit-free broadcast shape unchanged, and the run-once marker makes
    * repeat calls pure fs-metadata probes + a lazy serve plan.
    */
  def indexDeleteServe(spark: SparkSession, sfDir: String, nLists: Int = 16,
                       nprobe: Int = 4, codes: Int = 8, nProbes: Int = 8,
                       k: Int = 10, delMod: Int = 7): DataFrame = {
    import graft.sources.SnapshotStore
    val root = buildIvfPqIndex(spark, sfDir, nLists, codes)
    val delDir = s"$root/codes_del"
    withMarker(spark, s"$delDir/_erased") {
      if (SnapshotStore.committedVersions(spark, delDir).isEmpty)
        SnapshotStore.commitSnapshot(
          SnapshotStore.readCommitted(spark, s"$root/codes"), delDir)
      val tomb = SnapshotStore.readCommitted(spark, delDir)
        .filter(col("vec_id") % 10 === delMod).select(col("vec_id"))
      SnapshotStore.eraseKeys(spark, delDir, "vec_id", tomb)
    }
    annIvfPqServed(spark, sfDir, nLists, nprobe, codes, nProbes, k,
      codesOverride = Some(SnapshotStore.readCommitted(spark, delDir)))
  }

  /** COMPACTION of streamed index appends — the small-files half of the
    * ingest lifecycle ([[graft.streaming.StreamOps.indexCodesStream]]
    * writes one parquet dir per micro-batch; a day of batches is thousands
    * of small files the serve path unions forever): fold the base codes
    * snapshot plus every append batch into ONE new snapshot, resolving
    * at-least-once re-delivery by LATEST-WINS per vec_id (append batches
    * are id-keyed and idempotent, so a re-delivered batch is a duplicate
    * id with identical content — max-version-wins is deterministic).
    *
    * The run-once seeding stages the lifecycle deterministically: batch
    * v00000 = the `vec_id % 10 = 9` embeddings re-keyed as NEW ids
    * (+ the first power of ten strictly above max(vec_id), so re-keyed
    * ids can NEVER collide with base ids at any corpus size — a fixed
    * +100000 would silently latest-wins-replace base rows once the corpus
    * holds ≥100000 vectors and break the rows_out = n + n9 oracle),
    * PQ-encoded against the EXISTING index (zero fit — the
    * [[encodeVectors]] contract); batch v00001 = the SAME batch
    * re-delivered. Compaction then writes `codes_compacted` version 1 and
    * the REPORT this query returns is a pure lazy plan over the persisted
    * artifacts (counts + an exact integer code checksum), so the oracle
    * pins both the bookkeeping AND the encode arithmetic end to end.
    * Round12OpsSpec asserts serve-from-compacted ≡ serve-from-(base ∪
    * appends) — compaction is invisible to queries, the whole point.
    *
    * Scale: compaction cost is one shuffle of the narrow codes rows on
    * vec_id (8 bytes of payload per vector — never the embeddings); the
    * serve path afterwards reads ONE snapshot instead of base + N unions.
    */
  def indexCompact(spark: SparkSession, sfDir: String, nLists: Int = 16,
                   codes: Int = 8): DataFrame = {
    import graft.sources.SnapshotStore
    val root = buildIvfPqIndex(spark, sfDir, nLists, codes)
    val appDir = s"$root/appends"
    val cmpDir = s"$root/codes_compacted"
    withMarker(spark, s"$appDir/_seeded") {
      val cents = SnapshotStore.readCommitted(spark, s"$root/centroids")
      val cb = SnapshotStore.readCommitted(spark, s"$root/codebooks")
      // re-key offset = first power of ten above max(vec_id): a scalar
      // aggregate (run-once, seed path only), never a data-sized collect
      val maxId = t(spark, sfDir, "embeddings")
        .agg(max(col("vec_id"))).first().getLong(0)
      val offset = Iterator.iterate(10L)(_ * 10).dropWhile(_ <= maxId).next()
      val arrivals = gatedQemb(
        t(spark, sfDir, "embeddings").filter(col("vec_id") % 10 === 9)
          .select((col("vec_id") + offset).as("vec_id"), col("embedding")))
      val batch = encodeVectors(arrivals, cents, cb)
        .persist(StorageLevel.MEMORY_AND_DISK)
      batch.write.mode("overwrite").parquet(s"$appDir/v00000")
      // the SAME batch re-delivered — at-least-once ingest, the duplicate
      // ids compaction exists to resolve
      batch.write.mode("overwrite").parquet(s"$appDir/v00001")
      batch.unpersist()
    }
    val base = SnapshotStore.readCommitted(spark, s"$root/codes")
    val batches = SnapshotStore.snapshotVersions(spark, appDir)
      .map(v => f"$appDir/v$v%05d")
    val all = batches.zipWithIndex.foldLeft(
        base.withColumn("_ver", lit(0L))) { case (acc, (p, i)) =>
      acc.unionByName(spark.read.parquet(p).withColumn("_ver", lit(i + 1L)))
    }
    withMarker(spark, s"$cmpDir/_compacted") {
      val compacted = graft.util.TopK.perGroup(all, Seq(col("vec_id")),
          Seq(col("_ver").desc), 1)
        .drop("_ver", "rn")
      SnapshotStore.commitSnapshot(compacted, cmpDir)
    }
    val cmp = SnapshotStore.readCommitted(spark, cmpDir)
    val inAgg = all.agg(
      count(lit(1)).cast("long").as("rows_in"),
      (count(lit(1)) - countDistinct(col("vec_id"))).cast("long").as("dup_keys"))
    val outAgg = cmp.agg(
      count(lit(1)).cast("long").as("rows_out"),
      sum(col("cell").cast("long") + col("code_0") + col("code_1") +
          col("code_2") + col("code_3")).cast("long").as("code_checksum"))
    inAgg.crossJoin(outAgg)
      .select(lit(1L + batches.size).as("versions_in"), col("rows_in"),
              col("dup_keys"), col("rows_out"), col("code_checksum"))
  }

  /** Routing-recall OPERATING CURVE — recall@k as a function of nprobe,
    * the tuning measurement every IVF deployment runs before picking its
    * latency/recall operating point (q_ivfpq_recall fixes nprobe and
    * splits routing loss from quantization loss; THIS query sweeps the
    * routing knob): per probe (vec_id < nProbes) the cells are ranked once
    * by gated integer L2, candidates carry their cell rank, and the sweep
    * values {1, 2, 4} reuse the ONE scored candidate frame — three
    * rank-filtered top-k passes, not three index probes. Truth = exact
    * gated top-k over the full corpus per probe. Output one row per sweep
    * value: (nprobe, hits, recall_bp) — recall is monotone in nprobe by
    * construction (candidate sets are nested), which the oracle proves
    * value-exactly.
    *
    * Scale: candidates are corpus × (maxSweep/nLists) rows per probe with
    * only (p_id, vec_id, rank, d) carried after scoring; the truth leg is
    * a deliberate nProbes-bounded exact scan (a measurement harness, not a
    * production operator — the q_knn_noise_recall precedent).
    */
  def ivfRecallCurve(spark: SparkSession, sfDir: String, nLists: Int = 16,
                     k: Int = 10, nProbes: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val sweep = Seq(1, 2, 4)
    val maxSweep = sweep.max
    val qemb = gatedQemb(t(spark, sfDir, "embeddings"))
    val cents = gatedCentroids(qemb, nLists)
    // limit() states the probe-batch bound IN THE PLAN (the
    // annIvfPqServed/matryoshkaRecall discipline) so the broadcast-hint
    // scale guard can prove every hinted subtree bounded at any SF
    val probes = qemb.filter(col("vec_id") < nProbes).limit(nProbes)
      .select(col("vec_id").as("p_id"), col("qv").as("pq"))
    // ranked cells per probe: nProbes × nLists scored rows, top-maxSweep
    // kept with their rank — broadcast-bounded at any corpus
    val pc = probes.crossJoin(broadcast(
        cents.agg(array_sort(collect_list(struct(col("centroid_id"),
          col("centroid")))).as("_cents"))))
      .select(col("p_id"), col("pq"), explode(col("_cents")).as("c"))
      .select(col("p_id"), col("pq"),
              col("c.centroid_id").as("centroid_id"),
              call_function("sq_l2", col("c.centroid"), col("pq")).as("d"))
    val pr = graft.util.TopK.perGroup(pc, Seq(col("p_id")),
        Seq(col("d").asc, col("centroid_id").asc), maxSweep)
      .select(col("p_id"), col("pq"), col("centroid_id"),
              col("rn").as("cell_rank"))
    // scored candidates: corpus members of each probe's top-maxSweep cells
    val cand = gatedWithBest(qemb, cents)
      .join(broadcast(pr), "centroid_id")
      .filter(col("vec_id") =!= col("p_id"))
      .select(col("p_id"), col("vec_id"), col("cell_rank"),
              call_function("sq_l2", col("qv"), col("pq")).as("d"))
    // exact truth: the nProbes-bounded brute-force top-k
    val truth = graft.util.TopK.perGroup(
        qemb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("p_id"))
          .select(col("p_id"), col("vec_id"),
                  call_function("sq_l2", col("qv"), col("pq")).as("d")),
        Seq(col("p_id")), Seq(col("d").asc, col("vec_id").asc), k)
      .select(col("p_id"), col("vec_id"))
    val sweepDf = sweep.foldLeft(Option.empty[DataFrame]) { (acc, v) =>
      val one = spark.range(1).select(lit(v.toLong).as("nprobe"))
      Some(acc.fold(one)(_ unionByName one))
    }.get
    val ivfk = graft.util.TopK.perGroup(
        sweepDf.join(cand, col("cell_rank") <= col("nprobe")),
        Seq(col("nprobe"), col("p_id")),
        Seq(col("d").asc, col("vec_id").asc), k)
      .select(col("nprobe"), col("p_id"), col("vec_id"))
    val hits = ivfk.join(truth, Seq("p_id", "vec_id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("h"))
    ordered(
      sweepDf.join(hits, Seq("nprobe"), "left")
        .select(col("nprobe"), coalesce(col("h"), lit(0L)).as("hits"))
        .withColumn("recall_bp",
          expr(s"hits * 10000 div ${nProbes.toLong * k}")),
      "nprobe")
  }

  /** Drift-triggered REFIT decision report — the CONSUMER of
    * [[ivfIncremental]]'s signal (the r11 verdict noted the trigger was
    * measured but nothing acted on it; this closes the maintenance loop):
    * one row that an index operator reads to decide the nightly rebuild.
    * In ONE lazy plan it computes (a) the incremental path's per-cell
    * drift cosines and the count of cells below `driftThr`
    * (`cells_flagged`, `refit_triggered`), and (b) what a refit would
    * actually CHANGE — the full corpus assigned against yesterday's STALE
    * centroids vs against freshly refit centroids, with the moved-vector
    * count and share (`n_moved`, `moved_bp`) and live-cell counts before/
    * after. No driver collect, no conditional branch: the report always
    * quantifies both legs and the trigger bit gates the operator's action,
    * not the measurement.
    *
    * Scale: two TrainCap-sampled fits (bounded at any corpus) + two
    * map-only argmin passes over the corpus + one narrow id-keyed join of
    * the two assignment columns — the same shape as serving twice.
    */
  def ivfRefitOnDrift(spark: SparkSession, sfDir: String, nLists: Int = 16,
                      driftThr: Double = 0.45): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // r16: reuse the incremental path's fitted centroids AND its persisted
    // full-corpus assignment instead of refitting the identical TrainCap
    // carry fit and re-running the identical corpus argmin for the
    // `asgOld` leg ([[ivfIncrementalParts]] — deterministic fit/argmin ⇒
    // value-identical; drops one of the three fit lineages and one of the
    // three corpus assignment passes from this plan).
    val (inc, _, asg) = ivfIncrementalParts(spark, sfDir, nLists, driftThr)
    val flags = inc.agg(
      sum(when(col("refit_flag"), 1L).otherwise(0L)).as("cells_flagged"))
    val emb = t(spark, sfDir, "embeddings")
    val qemb = gatedQemb(emb)
    val newCents = gatedCentroids(qemb, nLists)
    val asgOld = asg.select(col("vec_id"), col("cell_id").as("c_old"))
    val asgNew = gatedWithBest(qemb, newCents)
      .select(col("vec_id"), col("centroid_id").as("c_new"))
    val moved = asgOld.join(asgNew, "vec_id").agg(
      count(lit(1)).cast("long").as("n_vectors"),
      sum(when(col("c_old") =!= col("c_new"), 1L).otherwise(0L))
        .as("n_moved"))
    val liveOld = asgOld.agg(countDistinct(col("c_old")).as("live_cells_old"))
    val liveNew = asgNew.agg(countDistinct(col("c_new")).as("live_cells_new"))
    flags.crossJoin(moved).crossJoin(liveOld).crossJoin(liveNew)
      .select(col("cells_flagged"),
              (col("cells_flagged") > 0L).as("refit_triggered"),
              col("n_vectors"), col("n_moved"),
              expr("n_moved * 10000 div n_vectors").as("moved_bp"),
              col("live_cells_old"), col("live_cells_new"))
  }

  /** Lloyd's rounds for the coarse level of the hierarchical quantizer —
    * few, because the coarse fit clusters only the nLists fine centroids.
    */
  val CoarseIters = 3

  /** Coarse quantizer OVER the fine centroids — level two of the
    * hierarchical (coarse→fine) IVF assignment: k-means with
    * [[CoarseIters]] rounds fit on the nLists fine-centroid VECTORS
    * (nLists points — driver-trivial at any corpus scale), then each fine
    * centroid tagged with its coarse group by the same map-only integer
    * argmin as every other gated assignment (ties to the lowest gid).
    * Returns (coarse (centroid_id, centroid) restricted to NON-EMPTY
    * groups, fineTagged (cid, fcent, gid)) — restricting to live groups
    * keeps the corpus-side coarse argmin from ever routing a vector into
    * a group with no fine members.
    */
  private def gatedCoarseOverFine(fine: DataFrame, nCoarse: Int)
      : (DataFrame, DataFrame) = {
    val finePoints = fine.select(col("centroid_id").cast("long").as("vec_id"),
                                 col("centroid").as("qv"))
    val coarse = lloydFlat(finePoints, nCoarse, CoarseIters, Carry)
    val fineTagged = gatedWithBest(finePoints, coarse)
      .select(col("vec_id").cast("int").as("cid"), col("qv").as("fcent"),
              col("centroid_id").as("gid"))
    val liveCoarse = coarse.join(
      fineTagged.select(col("gid").as("centroid_id")).distinct(),
      Seq("centroid_id"), "left_semi")
    (liveCoarse, fineTagged)
  }

  /** Hierarchical (coarse→fine) map-only cell assignment — the 100 TB
    * regime's answer to the flat argmin's corpus × nLists kernel-call
    * cost: each vector first argmins over the ~√nLists coarse groups,
    * then over only the fine centroids OF that group — corpus ×
    * (nCoarse + nLists/nCoarse) kernel calls, minimized at
    * nCoarse = √nLists (2·√nLists, a 22× reduction at nLists = 2048).
    * Still strictly map-only: BOTH levels fold into one broadcast row
    * (coarse array + gid-tagged fine array, each id-sorted so first-
    * position argmin ties resolve to the lowest id, exactly the oracle's
    * `row_number() OVER (ORDER BY d, id)`), and the corpus never
    * shuffles. The price is the standard routing approximation: a vector
    * whose true nearest fine centroid lives in a runner-up coarse group
    * is assigned to its routed group's best — the same recall tradeoff
    * IVF-HNSW-style two-level quantizers accept, and the hash gate
    * (q_semantic_dedup_hier) pins the exact mechanism, approximation
    * included.
    */
  private def gatedHierAssign(df: DataFrame, fine: DataFrame,
                              nCoarse: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val (coarse, fineTagged) = gatedCoarseOverFine(fine, nCoarse)
    // the fine level folds as a MAP gid → id-sorted (cid, fcent) array,
    // NOT a flat array filtered per row: a `filter(_f, gid == _gid)`
    // lambda gets `_gid`'s whole 45-kernel-call tree inlined INTO the
    // lambda body by CollapseProject (single-use aliases collapse, and
    // HOF bodies get no common-subexpression elimination), re-evaluating
    // it per ARRAY ELEMENT — measured 499 s vs flat's 169 s at the 100×
    // decade. element_at(map, _gid) keeps every expensive tree at
    // once-per-row evaluation.
    val fmap = fineTagged.groupBy(col("gid"))
      .agg(array_sort(collect_list(struct(col("cid"), col("fcent")))).as("arr"))
      .agg(map_from_entries(collect_list(struct(col("gid"), col("arr"))))
        .as("_fm"))
    val folded = coarse
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("centroid"))))
        .as("_g"))
      .crossJoin(fmap)
    val gd = transform(col("_g"),
      c => call_function("sq_l2", col("qv"), c.getField("centroid")))
    // fine stage: ONE pass — transform the looked-up candidate array to
    // (d, cid) structs and take the lexicographic array_min (min distance,
    // ties to the LOWEST cid — exactly the oracle's ORDER BY d, cid).
    // The two-column (_cands, _fd) formulation referenced the looked-up
    // array twice, copying each candidate's 64-long vector per reference
    // (~46 KB/row at nLists=2048 — measured as the whole hier overhead at
    // the 100× decade); the struct-min materializes only (long, int)
    // pairs.
    df.crossJoin(broadcast(folded))
      .withColumn("_gd", gd)
      .withColumn("_gid",
        element_at(col("_g"),
          array_position(col("_gd"), array_min(col("_gd"))).cast("int"))
          .getField("centroid_id"))
      .withColumn("centroid_id",
        array_min(transform(element_at(col("_fm"), col("_gid")),
          f => struct(call_function("sq_l2", col("qv"), f.getField("fcent"))
                        .as("d"),
                      f.getField("cid").as("cid"))))
          .getField("cid"))
      .drop("_g", "_fm", "_gd", "_gid")
  }

  /** IVF index-health report under the EXACT hash gate (round 11 —
    * the registered twin of [[assignDiag]]): one row per LIVE cell of the
    * gated integer k-means assignment with its member count, member share
    * in basis points of corpus size, and the within-cell pair volume
    * n·(n−1)/2 — the table an index operator reads before trusting any
    * clustered dedup/ANN run (a 90%-mass cell means the fit collapsed and
    * every within-cell scan is quadratic again). Fit is [[TrainCap]]-
    * bounded, assignment map-only, stats one hash-agg — corpus-linear.
    */
  def cellStats(spark: SparkSession, sfDir: String,
                nLists: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val qemb = gatedQemb(t(spark, sfDir, "embeddings"))
    val cents = gatedCentroids(qemb, nLists)
    val asg = gatedWithBest(qemb, cents)
    val tot = asg.agg(count(lit(1)).as("n_total"))
    ordered(
      asg.groupBy(col("centroid_id").cast("long").as("cell_id"))
        .agg(count(lit(1)).as("n_members"))
        .crossJoin(broadcast(tot))
        // integer `div`, not `/`: Spark's `/` is double division, and the
        // positive domain makes trunc ≡ floor ≡ DuckDB's `//`
        .select(col("cell_id"), col("n_members"),
                expr("n_members * 10000 div n_total").as("share_bp"),
                expr("n_members * (n_members - 1) div 2").as("pair_volume")),
      "cell_id")
  }

  /** Dev diagnostic (Decade harness): one row of cell statistics for the
    * flat vs hierarchical assignment paths — cells, max cell, and the
    * within-cell pair volume Σ n·(n−1)/2 that drives the dedup scan.
    * Timing the action also isolates fit+assignment wall from the pair
    * scan.
    */
  def assignDiag(spark: SparkSession, sfDir: String, nLists: Int,
                 nCoarse: Int, hier: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val qemb = gatedQemb(t(spark, sfDir, "embeddings"))
    val cents = gatedCentroids(qemb, nLists)
    val asg = if (hier) gatedHierAssign(qemb, cents, nCoarse)
              else gatedWithBest(qemb, cents)
    asg.groupBy(col("centroid_id")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("cells"), max(col("n")).as("max_cell"),
           sum(col("n") * (col("n") - 1) / 2).as("pair_volume"))
  }

  /** FULLY hierarchical semantic dedup under the EXACT hash gate — BOTH
    * quantizer stages are two-level, which is what actually survives the
    * nLists-scaling rule at the 100× decade:
    *
    *  - **fit**: a [[CoarseIters]]-round coarse k-means over the bounded
    *    sample (sample × nCoarse kernel calls per round), the sample
    *    routed ONCE to its coarse group, then `nCoarse` INDEPENDENT
    *    fine k-means run in parallel inside one grouped dataframe —
    *    per-group spaced init (ntile PARTITION BY group, no global
    *    window) and [[Iters]] Lloyd's rounds at sample × kPerGroup
    *    kernel calls per round. Total fit cost sample × (nCoarse·3 +
    *    kPerGroup·5) vs the flat fit's sample × nLists·5 — ~22× fewer
    *    kernel calls at the 2048-cell regime, which the 100× decade
    *    showed was the DOMINANT cost (the flat fit, not the corpus
    *    assignment, was the wall).
    *  - **routing**: corpus vectors argmin over the (live) coarse
    *    groups, then over only that group's fine centroids — corpus ×
    *    (nCoarse + kPerGroup) calls, both levels folded into one
    *    broadcast row (coarse array + group-keyed map of fine arrays),
    *    the corpus never shuffling. Single-pass struct-min per level
    *    (ties to the lowest id — the oracle's ORDER BY d, id), with the
    *    expensive coarse-argmin tree kept OUT of any lambda body
    *    (CollapseProject inlines single-use aliases into HOF lambdas,
    *    where they re-evaluate per array element — measured 3× the
    *    whole query).
    *
    * Cells are (gid, fcid) pairs, exported as cluster_id = gid·kPerGroup
    * + fcid; the within-cell pair scan and keep-lowest-id rule are
    * [[semanticDedupGated]]'s, unchanged. The whole mechanism — both
    * fits, the routing, live-group restriction, dedup tail — sits under
    * the DuckDB oracle.
    */
  def semanticDedupHier(spark: SparkSession, sfDir: String, nCoarse: Int = 4,
                        kPerGroup: Int = 4,
                        thr: Long = 130000000L): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val emb = t(spark, sfDir, "embeddings")
    val qemb = gatedQemb(emb)
    val sample = md5Sample(qemb)
    val coarse = lloydFlat(sample, nCoarse, CoarseIters, Drop)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val routed = gatedWithBest(sample, coarse)
      .select(col("centroid_id").as("grp"), col("vec_id"), col("qv"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the nCoarse fine fits: ONE [[Drop]] fit keyed by coarse group (the
    // oracle runs every per-group fit in the same CTEs, keyed by gid)
    val fine = lloyd(routed, kPerGroup, Iters, Drop)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // corpus routing over LIVE coarse groups only (a group whose sample
    // slice was empty has no fine cells and must not attract vectors)
    val live = coarse.join(fine.select(col("grp").as("centroid_id")).distinct(),
                           Seq("centroid_id"), "left_semi")
    val folded = live
      .agg(array_sort(collect_list(struct(col("centroid_id"), col("centroid"))))
        .as("_g"))
      .crossJoin(foldByGroup(fine))
    val gd = transform(col("_g"),
      c => gatedL2(col("qv"), c.getField("centroid")))
    val asg = qemb.crossJoin(broadcast(folded))
      .withColumn("_gd", gd)
      .withColumn("gid",
        element_at(col("_g"),
          array_position(col("_gd"), array_min(col("_gd"))).cast("int"))
          .getField("centroid_id"))
      .withColumn("fcid", nearest(element_at(col("_fm"), col("gid"))))
      .select(col("vec_id"), col("qv"),
              (col("gid").cast("long") * kPerGroup + col("fcid")).as("cid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = asg.select(col("cid"), col("vec_id").as("a_id"), col("qv").as("aq"))
      .join(asg.select(col("cid"), col("vec_id").as("b_id"), col("qv").as("bq")),
            Seq("cid"))
      .filter(col("a_id") < col("b_id"))
      .select(col("b_id"), col("a_id"), gatedL2(col("aq"), col("bq")).as("d2"))
      .filter(col("d2") <= thr)
    val dup = pairs.groupBy(col("b_id"))
      .agg(min(col("a_id")).as("dup_of"), min(col("d2")).as("min_d2"))
    ordered(
      asg.select(col("vec_id"), col("cid"))
        .join(dup, col("vec_id") === col("b_id"), "left")
        .select(col("vec_id"), col("cid").cast("long").as("cluster_id"),
                col("dup_of").isNotNull.as("is_dup"),
                col("dup_of"), col("min_d2")),
      "vec_id")
  }

  /** Cross-corpus approximate-nearest-neighbor JOIN under the EXACT hash
    * gate — the "align dataset A to dataset B" op (entity matching,
    * train/eval contamination lookup, embedding-space record linkage)
    * rather than self-dedup: odd vec_ids stand in for the query corpus A,
    * even vec_ids for the reference corpus B. The k-means fit runs ON B
    * ONLY (the reference side owns the index — A must never shift B's
    * cells), both sides take the map-only cell assignment, candidates are
    * A⋈B WITHIN a cell, and each A vector keeps its single best match by
    * lexicographic (d2, b_id) min — a one-aggregate argmin with
    * deterministic ties, no window. A vectors whose cell holds no B
    * member (or no match under `thr`) report NULL — the honest miss, not
    * a silent drop. Scale shape: index cost is B-linear once, lookup cost
    * is A-linear times the B-cell size (driven down by nLists exactly as
    * [[semanticDedupGated]] documents); neither corpus ever all-pairs or
    * broadcasts.
    */
  def annJoinGated(spark: SparkSession, sfDir: String, nLists: Int = 16,
                   thr: Long = 130000000L): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val emb = t(spark, sfDir, "embeddings")
    val qemb = gatedQemb(emb)
    val qa = qemb.filter(col("vec_id") % 2 === 1)
    val qb = qemb.filter(col("vec_id") % 2 === 0)
    val cents = gatedCentroids(qb, nLists)
    val asgA = gatedWithBest(qa, cents)
      .select(col("vec_id"), col("qv"), col("centroid_id").as("cid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val asgB = gatedWithBest(qb, cents)
      .select(col("vec_id").as("b_id"), col("qv").as("bq"),
              col("centroid_id").as("cid"))
    val best = asgA.select(col("cid"), col("vec_id").as("a_id"), col("qv").as("aq"))
      .join(asgB, Seq("cid"))
      .select(col("a_id"),
              struct(gatedL2(col("aq"), col("bq")).as("d2"),
                     col("b_id")).as("cand"))
      .groupBy(col("a_id"))
      .agg(min(col("cand")).as("m"))
      .select(col("a_id"), col("m.b_id").as("match_id"), col("m.d2").as("match_d2"))
      .filter(col("match_d2") <= thr)
    ordered(
      asgA.select(col("vec_id"), col("cid").cast("long").as("cell_id"))
        .join(best, col("vec_id") === col("a_id"), "left")
        .select(col("vec_id"), col("cell_id"),
                col("match_id").isNotNull.as("is_match"),
                col("match_id"), col("match_d2")),
      "vec_id")
  }

  /** Embedding-space (semantic) deduplication under the EXACT hash gate —
    * the cluster-then-compare shape every large-corpus semantic dedup uses
    * (cluster the embedding space, compare only WITHIN a cluster, keep one
    * representative per near-identical group): the gated integer k-means
    * ([[gatedCentroids]]) partitions the corpus into `nLists` cells, a
    * within-cell self-join scores pairs by exact integer squared L2, and
    * a vector is marked duplicate when a LOWER-id vector sits within
    * `thr` of it in the same cell — the keep-lowest-id rule, so the kept
    * set is deterministic without computing transitive closure (a doc is
    * dropped iff its cell contains a closer-than-thr predecessor; the
    * predecessor chain always bottoms out at a kept doc).
    *
    * Scale shape: the all-pairs comparison never happens — pair volume is
    * Σ_cell |cell|²/2, driven to corpus-linear by raising `nLists` with
    * corpus size (the standard IVF-cell sizing rule); the fit cost is
    * bounded by [[TrainCap]] regardless of corpus, and assignment is the
    * same map-only broadcast-argmin as the gated IVF. Cross-cell
    * near-dups are the documented recall tradeoff of every clustered
    * dedup; production raises recall with multi-probe assignment (assign
    * to the 2 nearest cells), same plan shape at 2× pair volume.
    * Everything is BIGINT arithmetic, so the whole pipeline — fit,
    * assignment, pair distances, dup marking — hash-matches the oracle's
    * unrolled sequential fold.
    */
  def semanticDedupGated(spark: SparkSession, sfDir: String, nLists: Int = 16,
                         thr: Long = 130000000L): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val emb = t(spark, sfDir, "embeddings")
    val qemb = gatedQemb(emb)
    val cents = gatedCentroids(qemb, nLists)
    // assignments feed three legs (both self-join sides + the final left
    // join) — persist, or the fit+assign subtree runs once per leg
    val asg = gatedWithBest(qemb, cents)
      .select(col("vec_id"), col("qv"), col("centroid_id").as("cid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = asg.select(col("cid"), col("vec_id").as("a_id"), col("qv").as("aq"))
      .join(asg.select(col("cid"), col("vec_id").as("b_id"), col("qv").as("bq")),
            Seq("cid"))
      .filter(col("a_id") < col("b_id"))
      .select(col("b_id"), col("a_id"), gatedL2(col("aq"), col("bq")).as("d2"))
      .filter(col("d2") <= thr)
    val dup = pairs.groupBy(col("b_id"))
      .agg(min(col("a_id")).as("dup_of"), min(col("d2")).as("min_d2"))
    ordered(
      asg.select(col("vec_id"), col("cid"))
        .join(dup, col("vec_id") === col("b_id"), "left")
        .select(col("vec_id"), col("cid").cast("long").as("cluster_id"),
                col("dup_of").isNotNull.as("is_dup"),
                col("dup_of"), col("min_d2")),
      "vec_id")
  }

  /** IVF search over int8-QUANTIZED vectors with full-precision re-rank —
    * the realistic billion-vector serving shape: the index holds 4×-smaller
    * quantized vectors (memory bandwidth is the ANN bottleneck, not
    * flops), candidate scoring runs on them, and only the shortlist (3k)
    * is re-scored at full precision. Symmetric-quantization insight: the
    * per-vector scale CANCELS in cosine, so quantized cosine needs no
    * dequantization — the int8 codes are cast to float arrays and scored
    * by the same native codegen kernel as the exact path.
    *
    * Scale shape: quantization is computed ON the assigned frame (which
    * already carries the embedding), so candidate pruning is
    * corpus ⋈ broadcast(nprobe-row list frame) — the corpus-sized
    * candidate set itself is NEVER broadcast, and the only bounded
    * broadcasts are the probe vector and the 3k-row shortlist.
    * No-oracle (k-means + quantization layouts are engine-specific); the
    * spec checks recall against brute-force exact top-k.
    */
  def ivfTopKQuantized(spark: SparkSession, sfDir: String, k: Int = 10,
                       nLists: Int = 16, nprobe: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val emb = t(spark, sfDir, "embeddings")
    val centroids = trainCentroids(spark, emb, nLists)
    // assignment carries the embedding: quantize it in place — no
    // corpus-with-corpus join between codes and list ids
    val scale = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    val qvec = transform(col("embedding"),
      x => floor(x.cast("double") / col("scale") * lit(127.0) + lit(0.5))
        .cast("float"))
    val quant = assignLists(emb, centroids)
      .withColumn("scale", scale).filter(col("scale") > 0)
      .withColumn("qvec", qvec)
    // the probe's code needs only ITS OWN row — quantize it straight from
    // the corpus table rather than through `quant`, whose lineage is the
    // corpus-wide centroid assignment (routing the 1-row probe through it
    // would run that corpus×k crossJoin+agg a second time per action)
    val probeQ = emb.filter(col("vec_id") === 0)
      .withColumn("scale", scale).filter(col("scale") > 0)
      .withColumn("qvec", qvec)
      .select(col("qvec").as("probe_q")).limit(1)
    val probeF = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe_emb")).limit(1)
    val probeLists = centroids.crossJoin(broadcast(probeF))
      .withColumn("sim", call_function("cosine_sim", col("centroid"), col("probe_emb")))
      .orderBy(col("sim").desc, col("centroid_id").asc)
      .limit(nprobe)
      .select(col("centroid_id"))
    // stage 1: quantized scoring inside the probed lists only — prune by
    // joining the corpus against the BROADCAST nprobe-row list frame
    val shortlist = quant.join(broadcast(probeLists), "centroid_id")
      .crossJoin(broadcast(probeQ))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
              call_function("cosine_sim", col("qvec"), col("probe_q")).as("q_sim"))
      .orderBy(col("q_sim").desc, col("vec_id").asc)
      .limit(3 * k)
    // stage 2: full-precision re-rank of the shortlist
    emb.join(broadcast(shortlist.select(col("vec_id"))), "vec_id")
      .crossJoin(broadcast(probeF))
      .select(col("vec_id"),
              r4(call_function("cosine_sim", col("embedding"), col("probe_emb"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }
}

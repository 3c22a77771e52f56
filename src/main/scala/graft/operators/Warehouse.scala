package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Iterate
import graft.util.Tables._

/** Warehouse tier: incremental watermarks, SCD merges, fact upserts, CDC
  * diffs, date dimension. The reference's in-place MERGE/UPDATE statements
  * (ref /root/reference/etl/transform_load.sql) become immutable
  * read → transform → new-snapshot dataflows (no Delta jars ⇒ no
  * transactional MERGE), which is also the only shape that scales: a 100 TB
  * fact is rewritten per-partition, never row-locked.
  */
object Warehouse {

  // ── reusable merge library (SURVEY §7.3 step 3) ────────────────────────

  /** Insert-only dimension merge (ref transform_load.sql:43–47: MERGE …
    * WHEN NOT MATCHED THEN INSERT — never updates existing rows). New keys
    * arrive via left-anti join; unseen attribute columns stay NULL exactly
    * like the reference's INSERT of only (city_name).
    */
  def mergeInsertNew(target: DataFrame, source: DataFrame, key: String): DataFrame = {
    val newKeys = source.select(col(key)).distinct()
      .join(target, Seq(key), "left_anti")
    target.unionByName(newKeys, allowMissingColumns = true)
  }

  /** Keyed upsert via full-outer join + per-column coalesce (ref
    * transform_load.sql:50–70: MATCHED → UPDATE measures, NOT MATCHED →
    * INSERT). `updateCols` take the source value when present; all other
    * target columns survive. Caller must pre-dedup the source on the key —
    * SQL Server's MERGE errors on duplicate source keys, and we assert the
    * same invariant upstream (Quality.dedupLatest).
    * Scale note: this is one shuffle on the merge key for each side; with
    * both snapshots bucketed by the key it becomes a zero-shuffle join.
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, keys: Seq[String],
                  updateCols: Seq[String],
                  nullSafeKeys: Boolean = true): DataFrame = {
    // string-qualified refs ("mt.k") — target/source usually share lineage
    // (both snapshots of one table), so DataFrame-apply refs are ambiguous
    val t = target.alias("mt")
    val s = source.alias("ms")
    def mt(c: String) = col(s"mt.$c"); def ms(c: String) = col(s"ms.$c")
    // <=> tolerates NULL keys, but Spark plans null-safe equi-joins on
    // (coalesce(k), isnull(k)) — a distribution a bucketed-by-k snapshot
    // can't satisfy, so the 100 TB fact would re-shuffle every merge. When
    // the merge key is a primary key by construction (the common warehouse
    // case), pass nullSafeKeys=false: plain equality keeps the bucketed
    // side exchange-free and only the daily batch shuffles.
    val cond = keys.map(k =>
      if (nullSafeKeys) mt(k) <=> ms(k) else mt(k) === ms(k)).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")
    val keyCols = keys.map(k => coalesce(ms(k), mt(k)).as(k))
    val updCols = updateCols.map(c => coalesce(ms(c), mt(c)).as(c))
    val passCols = target.columns.toSeq.filterNot(c => keys.contains(c) || updateCols.contains(c))
      .map(c => mt(c).as(c))
    joined.select(keyCols ++ updCols ++ passCols: _*)
  }

  // ── SURVEY §2 operators ────────────────────────────────────────────────

  /** Incremental watermark: scalar MAX with an equality-filtered dimension
    * lookup (ref extract_weather.py:26–28). The dim filter reduces to one
    * key before touching the fact; no broadcast HINT — customer scales
    * with SF, and AQE sees the post-filter size (~1 row) at runtime and
    * broadcasts it on its own, so the hint buys nothing and would force a
    * broadcast even if the predicate were loosened to match millions.
    */
  def watermarkMax(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = t(spark, sfDir, "customer").filter(col("c_name") === "Customer#000000042")
    t(spark, sfDir, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .agg(max(col("o_orderdate").cast("date")).as("max_date"))
  }

  /** NULL-default on an empty watermark (ref extract_weather.py:28 —
    * `fetchone()[0] or datetime(2000,1,1)`): the probe key matches no dim
    * row, MAX over zero rows is NULL, COALESCE supplies the epoch default.
    */
  def coalesceDefault(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = t(spark, sfDir, "customer").filter(col("c_name") === "Customer#NOSUCH")
    t(spark, sfDir, "orders")
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .agg(coalesce(max(col("o_orderdate").cast("date")),
                    lit("2000-01-01").cast("date")).as("since_date"))
  }

  /** Incremental window arithmetic (ref extract_weather.py:31–34): per key,
    * start = watermark + 1 day, end = fixed cutoff (stand-in for
    * `current_date`, pinned for determinism), keep keys where start <= end.
    */
  def incrRangeFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("2000-06-01").cast("date")
    ordered(
      t(spark, sfDir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate").cast("date")).as("last_date"))
        .withColumn("start_date", date_add(col("last_date"), 1))
        .withColumn("end_date", cutoff)
        .filter(col("start_date") <= col("end_date")),
      "o_custkey")
  }

  /** Dimension insert-new over testdata: dim = customers 0–99 (the "known"
    * dimension), staging = distinct order customers; never-seen keys enter
    * with NULL attributes (ref transform_load.sql:43–47).
    */
  def scdInsertNew(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = t(spark, sfDir, "customer").filter(col("c_custkey") < 100)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val stg = t(spark, sfDir, "orders").select(col("o_custkey").as("c_custkey"))
    ordered(mergeInsertNew(dim, stg, "c_custkey"), "c_custkey")
  }

  /** Fact upsert over testdata (ref transform_load.sql:50–70): target =
    * historical orders snapshot, source = a "restated" slice (totalprice
    * +10%) of recent orders; matched keys take the restated measures, new
    * keys insert, unmatched history survives.
    */
  def mergeUpsertQ(spark: SparkSession, sfDir: String): DataFrame = {
    // widen money to scale 4 up front: ×1.1 yields ≤3 decimals, so every
    // later cast is exact — a narrowing cast would round-half differently
    // on the two engines (Spark HALF_UP vs DuckDB HALF_EVEN)
    val orders = t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              money(col("o_totalprice")).cast("decimal(30,4)").as("o_totalprice"),
              col("o_orderdate").cast("date").as("o_orderdate"))
    val cut = lit("1999-01-01").cast("date")
    val target = orders.filter(col("o_orderdate") < cut)
    val source = orders.filter(col("o_orderdate") >= lit("1998-01-01").cast("date"))
      .withColumn("o_totalprice",
        (col("o_totalprice") * lit(1.1).cast("decimal(2,1)")).cast("decimal(30,4)"))
      .withColumn("o_orderstatus", lit("R"))
    ordered(
      mergeUpsert(target, source, Seq("o_orderkey"),
                  Seq("o_totalprice", "o_orderstatus", "o_custkey", "o_orderdate"))
        // DECIMAL stays internal (exact ×1.1 restatement); the output column
        // surfaces as an r4 DOUBLE so both engines serialize it identically
        .withColumn("o_totalprice", r4(col("o_totalprice").cast("double"))),
      "o_orderkey")
  }

  /** Whole-table bookkeeping flag flip (ref transform_load.sql:73 —
    * `UPDATE stg SET is_processed = 1` unconditionally). Pure narrow map +
    * snapshot overwrite; zero shuffle.
    */
  def markProcessed(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      graft.util.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .withColumn("is_processed", lit(true)),
      "event_id")

  // ── change capture (ref CDC.sql:1–2), shared with graft.streaming ─────

  /** The change-capture kernel: the per-key diff of two snapshots of a
    * keyed table as (key, op, img) rows with SQL Server's `__$operation`
    * codes — 1 = delete (old image), 2 = insert (new image), 3 and 4 =
    * update old and new image (an update emits both rows). Keys whose
    * value did not change emit nothing. Every capture path is this plan
    * plus its own columns: the batch log ([[cdcAllChanges]]) and the
    * streaming feed (`StreamOps.cdcFeedBatch`) add their `lsn`; the net
    * views ([[cdcNetChanges]], [[cdcChanges]]) drop the op-3 rows.
    *
    * One keyed full-outer join; the `ina`/`inb` presence markers tell a
    * missing side from a NULL value, and updates fan out through a per-row
    * ≤2-element explode, never a self-join. NULL images: the update test
    * is SQL `<>` (the rule the `q_cdc_*` oracles share), so a value that
    * changes between NULL and non-NULL compares as NULL and is NOT
    * captured.
    */
  def changeRows(prev: DataFrame, next: DataFrame, key: String,
                 value: String): DataFrame = {
    val ao = prev.select(col(key), col(value).as("pa"), lit(1).as("ina"))
    val bo = next.select(col(key), col(value).as("pb"), lit(1).as("inb"))
    bo.join(ao, Seq(key), "full_outer")
      .select(col(key),
        when(col("ina").isNull,
             array(struct(lit(2L).as("op"), col("pb").as("img"))))
        .when(col("inb").isNull,
             array(struct(lit(1L).as("op"), col("pa").as("img"))))
        .when(col("pa") =!= col("pb"),
             array(struct(lit(3L).as("op"), col("pa").as("img")),
                   struct(lit(4L).as("op"), col("pb").as("img"))))
        .otherwise(lit(null)).as("ops"))
      .select(col(key), explode(col("ops")).as("o"))
      .select(col(key), col("o.op").as("op"), col("o.img").as("img"))
  }

  /** The net-apply kernel: the replica (key, p) after applying a slice of
    * (lsn, key, op, img) change rows. Update-old images drop, each key
    * keeps its (lsn, op)-max row, op-1 keys are deleted and 2/4 images
    * upserted — one keyed aggregate plus an anti-join and a union of
    * change-bounded frames. Idempotent: applying a slice to its own result
    * changes nothing (a delete of an absent key and an upsert of an equal
    * image are no-ops), which is what both consumers' crash-window replay
    * rests on ([[cdcIncrementalConsume]], `StreamOps.cdcApplyBatch`).
    */
  def applyNetChanges(replica: DataFrame, changes: DataFrame,
                      key: String): DataFrame = {
    val finals = changes.filter(col("op") =!= 3L)
      .groupBy(col(key))
      .agg(max_by(struct(col("op"), col("img")),
                  struct(col("lsn"), col("op"))).as("f"))
      .select(col(key), col("f.op").as("op"), col("f.img").as("img"))
    replica.join(finals, Seq(key), "left_anti")
      .unionByName(finals.filter(col("op") =!= 1L)
        .select(col(key), col("img").as("p")))
  }

  /** Display name of an `__$operation` code. At `net` grain there is no
    * update-old row and code 4 is the plain "update".
    */
  private def opName(op: Column, net: Boolean = false): Column =
    when(op === 1L, "delete").when(op === 2L, "insert")
      .when(op === 3L, "update_old")
      .otherwise(if (net) "update" else "update_new")

  /** CDC as snapshot diff (ref CDC.sql:1–2; README.md:375–384): classify
    * rows between two snapshots as insert / update / DELETE via a keyed
    * full-outer comparison — the no-Delta replacement for
    * `cdc.dbo_fact_weather_CT`. SQL Server CDC captures deletes too, so the
    * diff must be full-outer, not left: keys present only in the old
    * snapshot classify as 'delete' (new_price NULL, like the CT's delete
    * row). Unchanged rows are filtered out, like a CDC change table.
    */
  def cdcChanges(spark: SparkSession, sfDir: String): DataFrame = {
    // scale-4 money so the ×1.05 restatement (≤4 decimals) stays exact on
    // both engines — see mergeUpsertQ note on narrowing-cast rounding
    val orders = t(spark, sfDir, "orders")
      .select(col("o_orderkey"),
              money(col("o_totalprice")).cast("decimal(30,4)").as("o_totalprice"),
              col("o_orderdate").cast("date").as("o_orderdate"),
              col("o_orderpriority"))
    val oldSnap = orders.filter(col("o_orderdate") < lit("1997-06-01").cast("date"))
    // new snapshot: later cutoff (→ inserts), urgent rows restated ×1.05
    // (→ updates), 3-MEDIUM rows purged (→ deletes)
    val newSnap = orders.filter(col("o_orderdate") < lit("1998-01-01").cast("date") &&
                                col("o_orderpriority") =!= "3-MEDIUM")
      .withColumn("o_totalprice",
        when(col("o_orderpriority") === "1-URGENT",
             (col("o_totalprice") * lit(1.05).cast("decimal(3,2)")).cast("decimal(30,4)"))
        .otherwise(col("o_totalprice")))
    ordered(
      changeRows(oldSnap, newSnap, "o_orderkey", "o_totalprice")
        .filter(col("op") =!= 3L)
        .select(col("o_orderkey"),
                when(col("op") =!= 1L, r4(col("img").cast("double"))).as("new_price"),
                opName(col("op"), net = true).as("change_type")),
      "o_orderkey")
  }

  /** Versioned on-disk root for the CDC change-log dimension history over
    * `sfDir` — [[graft.util.Tables.storeRoot]] keyed on the `orders` files
    * and the `cdclog-v1` format tag (change it if the snapshot derivation
    * changes, so stale histories never serve).
    */
  private[graft] def cdcRoot(spark: SparkSession, sfDir: String): String =
    storeRoot(spark, sfDir, Seq("orders"), "cdclog-v1")

  /** The three deterministic dimension snapshots the ordered change log is
    * derived from (run-once committed to SnapshotStore, recomputable by
    * the oracle straight from `orders`): v1 = base cut; v2 widens the date
    * cut (→ inserts), restates 1-URGENT ×1.05 (→ updates) and purges
    * 3-MEDIUM (→ deletes); v3 widens again, restates 2-HIGH ×1.10 and
    * purges 5-LOW — so BOTH diff steps exercise all four operation codes.
    * Money stays scale-4 DECIMAL (×1.05 / ×1.10 on 2-decimal inputs ≤4
    * decimals, exact on both engines — see [[mergeUpsertQ]]).
    */
  private[graft] def cdcSnap(spark: SparkSession, sfDir: String, v: Int): DataFrame = {
    val o = t(spark, sfDir, "orders")
      .select(col("o_orderkey"),
              money(col("o_totalprice")).cast("decimal(30,4)").as("p"),
              col("o_orderdate").cast("date").as("d"), col("o_orderpriority"))
    val restatedUrgent = when(col("o_orderpriority") === "1-URGENT",
        (col("p") * lit(1.05).cast("decimal(3,2)")).cast("decimal(30,4)"))
      .otherwise(col("p"))
    v match {
      case 0 => o.filter(col("d") < lit("1997-06-01").cast("date"))
        .select(col("o_orderkey"), col("p"), col("o_orderpriority"))
      case 1 => o.filter(col("d") < lit("1997-09-01").cast("date") &&
                         col("o_orderpriority") =!= "3-MEDIUM")
        .select(col("o_orderkey"), restatedUrgent.as("p"), col("o_orderpriority"))
      case 2 => o.filter(col("d") < lit("1998-01-01").cast("date") &&
                         !col("o_orderpriority").isin("3-MEDIUM", "5-LOW"))
        .select(col("o_orderkey"),
                when(col("o_orderpriority") === "2-HIGH",
                     (col("p") * lit(1.1).cast("decimal(2,1)"))
                       .cast("decimal(30,4)"))
                  .otherwise(restatedUrgent).as("p"),
                col("o_orderpriority"))
    }
  }

  /** Run-once seeding of the CDC dimension history (shared by
    * [[cdcAllChanges]] and [[cdcNetChanges]]): commits exactly the
    * missing prefix of the three [[cdcSnap]] versions, so a partial
    * earlier run resumes instead of double-committing. Returns the dim
    * root and the first three committed versions in order.
    */
  private def ensureCdcHistory(spark: SparkSession,
                               sfDir: String): (String, Seq[Long]) = {
    import graft.sources.SnapshotStore
    val dim = s"${cdcRoot(spark, sfDir)}/dim"
    val have = SnapshotStore.committedVersions(spark, dim).size
    (have until 3).foreach(v => SnapshotStore.commitSnapshot(
      cdcSnap(spark, sfDir, v), dim))
    (dim, SnapshotStore.committedVersions(spark, dim).sorted.take(3))
  }

  /** The raw LSN-ordered change log behind [[cdcAllChanges]] — (lsn,
    * o_orderkey, op, img DECIMAL), unformatted so consumers
    * ([[cdcIncrementalConsume]]) can apply exact images instead of the
    * display-rounded price.
    */
  private def cdcLogRaw(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val (dim, vs) = ensureCdcHistory(spark, sfDir)
    val frames = vs.map(v => SnapshotStore.readCommitted(spark, dim, v))
    frames.sliding(2).zipWithIndex.map { case (pair, i) =>
      changeRows(pair.head, pair(1), "o_orderkey", "p")
        .select(lit(i + 1L).as("lsn"), col("o_orderkey"), col("op"), col("img"))
    }.reduce(_ unionByName _)
  }

  /** CDC ALL-CHANGES ordered log (ref CDC.sql:1–2 `sys.sp_cdc_enable_table`;
    * README.md:375–384) — where [[cdcChanges]] is the two-snapshot NET
    * diff, this is `sys.sp_cdc_get_all_changes_*`: EVERY intermediate
    * operation across the committed version history, in LSN order, with
    * SQL Server's `__$operation` codes (1 = delete, 2 = insert,
    * 3 = update-old-image, 4 = update-new-image — updates emit BOTH rows,
    * like `@row_filter_option = 'all update old'`). The history is three
    * SnapshotStore-committed dimension versions (run-once seeding; the
    * log itself is a pure lazy plan over the committed snapshots), so a
    * consumer can REPLAY the log onto version 1 and reconstruct version 3
    * exactly — Round13OpsSpec asserts that round trip.
    *
    * Scale: each LSN step is one keyed full-outer join of two DIMENSION
    * snapshots (change-bounded, not fact-bounded) shuffled on the key;
    * update rows fan out via a per-row ≤2-element array explode, never a
    * self-join. The log is linear in versions × changed keys — the same
    * bound the LSN-indexed change table gives SQL Server.
    */
  def cdcAllChanges(spark: SparkSession, sfDir: String): DataFrame = {
    val steps = cdcLogRaw(spark, sfDir)
    ordered(
      steps.select(col("lsn"), col("o_orderkey"), col("op"),
        opName(col("op")).as("op_name"),
        r4(col("img").cast("double")).as("price")),
      "lsn", "o_orderkey", "op")
  }

  /** CDC NET changes (ref CDC.sql:1–2; `sys.sp_cdc_get_net_changes_*` —
    * the per-key collapsed sibling of [[cdcAllChanges]]): ONE row per key
    * describing the net effect across the WHOLE committed version history
    * — first vs last committed snapshot, keyed full-outer. Net semantics
    * the all-changes log cannot give a consumer for free: a key inserted
    * mid-history and deleted before the end NETS TO NOTHING (our fixture
    * plants exactly that — the 5-LOW rows widened in at version 2 and
    * purged at version 3 appear twice in the all-changes log and never
    * here; Round13OpsSpec asserts both sides), an insert-then-update
    * nets to one insert carrying the FINAL values. Operation codes match
    * SQL Server's net mask: 1 = delete, 2 = insert, 4 = update (net
    * updates report the new image; there is no code-3 old-image row at
    * net grain). Same scale shape as the per-step diff: one keyed
    * full-outer join of two change-bounded dimension snapshots.
    */
  def cdcNetChanges(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.SnapshotStore
    val (dim, vs) = ensureCdcHistory(spark, sfDir)
    ordered(
      changeRows(SnapshotStore.readCommitted(spark, dim, vs.min),
                 SnapshotStore.readCommitted(spark, dim, vs.max), "o_orderkey", "p")
        .filter(col("op") =!= 3L)
        .select(col("o_orderkey"), col("op"),
                opName(col("op"), net = true).as("op_name"),
                r4(col("img").cast("double")).as("price")),
      "o_orderkey")
  }

  /** CDC consumer with a persisted LSN bookmark — the reference's
    * watermark pattern (extract_weather.py:26–28: read MAX(date) from the
    * target, fetch only rows beyond it) applied to its own change table
    * (CDC.sql:1–2): a downstream replica consumes [[cdcAllChanges]]'s log
    * FROM the bookmark, applies the net effect per key, and advances the
    * bookmark — the incremental-subscriber loop every CDC deployment runs.
    *
    * Exactly-once without a transaction across two stores: the replica
    * snapshot commits BEFORE the bookmark advances, and the application is
    * a net UPSERT/DELETE of final images — so a crash in the window
    * between the two commits replays the same (bookmark, latest] slice
    * onto the already-advanced replica and lands on the identical state
    * (delete of an absent key and upsert of an equal image are no-ops).
    * Round14OpsSpec kills the consumer in exactly that window and asserts
    * the net effect is applied once. The bookmark read is ONE driver
    * scalar (the watermark-query class, q_watermark_max's shape); the
    * apply is a keyed aggregate + anti-join/union of change-bounded
    * frames — never fact-bounded.
    *
    * Output: the consumed replica (which must equal the latest dimension
    * snapshot — the oracle recomputes it directly from `orders`) plus the
    * consumed LSN on every row.
    */
  def cdcIncrementalConsume(spark: SparkSession, sfDir: String,
                            rootOverride: Option[String] = None,
                            crashBeforeBookmark: Boolean = false,
                            maxLsn: Long = Long.MaxValue): DataFrame = {
    import graft.sources.SnapshotStore
    val (dim, vs) = ensureCdcHistory(spark, sfDir)
    val root = rootOverride.getOrElse(s"${cdcRoot(spark, sfDir)}/consumer")
    val replicaDir = s"$root/replica"
    val bookmarkDir = s"$root/bookmark"
    // seed: replica = the base snapshot at bookmark 0 (enabling CDC emits
    // nothing for pre-existing rows — SQL Server's rule)
    if (SnapshotStore.committedVersions(spark, replicaDir).isEmpty)
      SnapshotStore.commitSnapshot(
        SnapshotStore.readCommitted(spark, dim, vs.min)
          .select(col("o_orderkey"), col("p")), replicaDir)
    if (SnapshotStore.committedVersions(spark, bookmarkDir).isEmpty)
      SnapshotStore.commitSnapshot(
        spark.range(1).select(lit(0L).as("lsn")), bookmarkDir)
    val b = SnapshotStore.readCommitted(spark, bookmarkDir)
      .agg(max(col("lsn"))).collect()(0).getLong(0)
    // a deliberately lagging consumer (cleanup's safety fixture) stops at
    // maxLsn; the default consumes to the head of the log
    val latest = math.min((vs.size - 1).toLong, maxLsn)
    if (b < latest) {
      val delta = cdcLogRaw(spark, sfDir)
        .filter(col("lsn") > b && col("lsn") <= latest)
      val next = applyNetChanges(SnapshotStore.readCommitted(spark, replicaDir),
                                 delta, "o_orderkey")
      // replica FIRST, bookmark SECOND — the crash window the replay
      // idempotency argument (and the Round14 spec) covers
      SnapshotStore.commitSnapshot(next, replicaDir)
      if (!crashBeforeBookmark)
        SnapshotStore.commitSnapshot(
          spark.range(1).select(lit(latest).as("lsn")), bookmarkDir)
    }
    // the broadcast side passes through an Aggregate so the 1-row bound is
    // visible IN THE PLAN (the broadcast-hint sweep's legality rule), not
    // just true of the bookmark file's content
    ordered(
      SnapshotStore.readCommitted(spark, replicaDir)
        .crossJoin(broadcast(SnapshotStore.readCommitted(spark, bookmarkDir)
          .agg(max(col("lsn")).as("lsn"))))
        .select(col("o_orderkey"), r4(col("p").cast("double")).as("price"),
                col("lsn").as("consumed_lsn")),
      "o_orderkey")
  }

  /** CDC change-table retention cleanup — `sys.sp_cdc_cleanup_change_table`
    * (ref CDC.sql:1–2 enables the capture job; SQL Server pairs it with a
    * cleanup job that prunes change rows at or below a retention-derived
    * low-water LSN). SQL Server's documented hazard is that retention alone
    * can outrun a slow subscriber and silently destroy changes it never
    * consumed; this cleanup clamps the low-water mark at the lowest
    * consumer bookmark: `lwm = min(retention cutoff, min(bookmarks))` —
    * retention never prunes past an unconsumed LSN.
    *
    * Mechanics: the change log is materialized ONCE as an LSN-partitioned
    * committed snapshot (the change table — `lsn=N/` directories, the
    * layout a 100 TB change table needs); a deliberately lagging consumer
    * (bookmark at LSN 1 of 2 — [[cdcIncrementalConsume]] with maxLsn=1,
    * own state root) supplies the clamp; cleanup commits a NEW change-table
    * version holding only `lsn > lwm`, a partition-PRUNED scan (the
    * pruned directories are never read, only survivors rewrite). Steady
    * state cost is O(retained window), never O(history) — and under a
    * metadata-layer store (Delta/Iceberg; SnapshotStore's documented swap
    * path) the survivor rewrite becomes a metadata-only partition drop.
    * Run-once discipline: v1 = full log, v2 = cleaned — re-runs are pure
    * reads; the aggressive retention (cutoff = head LSN) exists so the
    * fixture PROVES the bookmark clamp is what held LSN 2 back.
    *
    * Output: the surviving change rows ([[cdcAllChanges]] shape) plus the
    * low-water mark on every row; the bookmark enters the plan through a
    * 1-row aggregate broadcast (the plan-visible bound rule).
    */
  def cdcCleanup(spark: SparkSession, sfDir: String,
                 rootOverride: Option[String] = None): DataFrame = {
    import graft.sources.SnapshotStore
    val (_, vs) = ensureCdcHistory(spark, sfDir)
    val head = (vs.size - 1).toLong // newest LSN in the log (= 2)
    val root = rootOverride.getOrElse(s"${cdcRoot(spark, sfDir)}/cleanup")
    val tableDir = s"$root/changetable"
    if (SnapshotStore.committedVersions(spark, tableDir).isEmpty)
      SnapshotStore.commitSnapshotPartitioned(
        cdcLogRaw(spark, sfDir), tableDir, Seq("lsn"))
    // the lagging subscriber: consumed through LSN 1, bookmark persisted
    cdcIncrementalConsume(spark, sfDir, Some(s"$root/consumer"), maxLsn = 1L)
    val bookmark = SnapshotStore.readCommitted(spark, s"$root/consumer/bookmark")
      .agg(max(col("lsn"))).collect()(0).getLong(0)
    // retention cutoff = head (prune every applied LSN by age alone) — the
    // clamp, not the retention, must be what keeps LSN 2 alive
    val lwm = math.min(head, bookmark)
    if (SnapshotStore.committedVersions(spark, tableDir).size < 2)
      SnapshotStore.commitSnapshotPartitioned(
        SnapshotStore.readCommitted(spark, tableDir)
          .filter(col("lsn") > lwm), // partition-pruned: lsn is a directory
        tableDir, Seq("lsn"))
    val cleaned = SnapshotStore.readCommitted(spark, tableDir)
    ordered(
      cleaned
        .crossJoin(broadcast(
          SnapshotStore.readCommitted(spark, s"$root/consumer/bookmark")
            .agg(max(col("lsn")).as("blsn"))))
        .select(col("lsn").cast("long").as("lsn"), col("o_orderkey"),
          col("op"), opName(col("op")).as("op_name"),
          r4(col("img").cast("double")).as("price"),
          least(lit(head), col("blsn")).as("low_water_mark")),
      "lsn", "o_orderkey", "op")
  }

  /** Incremental aggregate maintenance — the materialized-view shape of the
    * reference's incremental load: a base aggregate snapshot absorbs a
    * delta batch by merging PARTIAL aggregates (decimal sums and counts
    * add; no refetch of history). The oracle is the full recompute over
    * base+delta, so the hash gate itself proves merge ≡ recompute — which
    * holds exactly because the sums are DECIMAL (associative), the entire
    * point of the money() discipline. At 100 TB this is the difference
    * between touching one day and re-aggregating years.
    */
  def incrAggMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = t(spark, sfDir, "orders")
      .select(col("o_custkey"), money(col("o_totalprice")).as("p"),
              col("o_orderdate").cast("date").as("d"))
    def aggOf(df: DataFrame) = df.groupBy(col("o_custkey"))
      .agg(sum(col("p")).as("s"), count(lit(1)).as("c"))
    val base = aggOf(orders.filter(col("d") < lit("1997-01-01").cast("date"))).as("b")
    val delta = aggOf(orders.filter(col("d") >= lit("1997-01-01").cast("date") &&
                                    col("d") < lit("1998-01-01").cast("date"))).as("dl")
    val merged = base.join(delta, col("b.o_custkey") === col("dl.o_custkey"), "full_outer")
      .select(
        coalesce(col("b.o_custkey"), col("dl.o_custkey")).as("o_custkey"),
        (coalesce(col("b.s"), lit(0).cast("decimal(18,2)")) +
         coalesce(col("dl.s"), lit(0).cast("decimal(18,2)"))).as("s"),
        (coalesce(col("b.c"), lit(0L)) + coalesce(col("dl.c"), lit(0L))).as("c"))
    ordered(
      merged.select(col("o_custkey"),
                    r4(col("s").cast("double")).as("total_spend"),
                    col("c").as("n_orders")),
      "o_custkey")
  }

  /** Parameterized date-dimension generator (ref README.md:49 — "date
    * dimension pre-built for 2000 to current year"; declared, never coded in
    * the reference). sequence()+explode generates distributed rows without a
    * driver-side loop; any range — 2000→current-year included — is one call.
    */
  def dateDim(spark: SparkSession, startDate: String, endDate: String): DataFrame = {
    val days = spark.range(1)
      .select(explode(sequence(lit(startDate).cast("date"),
                               lit(endDate).cast("date"),
                               expr("interval 1 day"))).as("d"))
    days.select(
      col("d"),
      year(col("d")).as("yr"),
      quarter(col("d")).as("qtr"),
      month(col("d")).as("mo"),
      dayofmonth(col("d")).as("dom"),
      // ISO day-of-week 1=Mon..7=Sun — identical to DuckDB's isodow()
      (weekday(col("d")) + 1).as("dow_iso"),
      (weekday(col("d")) + 1 >= 6).as("is_weekend"))
  }

  /** The registered query pins 2000→2002 so the oracle stays deterministic
    * (a current-year end date would drift run to run).
    */
  def dateDimGenerate(spark: SparkSession, sfDir: String): DataFrame =
    ordered(dateDim(spark, "2000-01-01", "2002-12-31"), "d")

  /** SCD Type 2 intervals (ref README.md:88–91 — system-versioned dim_city):
    * explicit valid_from/valid_to via lead() over each key's change stream;
    * open interval (NULL valid_to) marks the current row. Timestamps surface
    * as epoch-µs BIGINT (ns-safe vs the oracle).
    */
  def scd2Versions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc, col("event_id").asc)
    val ev = graft.util.Tables.events(spark, sfDir)
      .filter(col("event_type") === "signup")
    ordered(
      ev.select(
          col("user_id"), col("event_id"),
          col("ts_us").as("valid_from_us"),
          lead(col("ts_us"), 1).over(w).as("valid_to_us"))
        .withColumn("is_current", col("valid_to_us").isNull),
      "user_id", "valid_from_us", "event_id")
  }

  /** Point-in-time dimension lookup — SQL Server's `FOR SYSTEM_TIME AS OF`
    * (the query shape the reference's system-versioned dim_city exists to
    * serve, README.md:88–91) over the explicit [[scd2Versions]] intervals:
    * the one version per key whose half-open [valid_from, valid_to)
    * interval covers the as-of instant. The interval predicate lands on the
    * version table AFTER its per-key window — at 100 TB the version table
    * is the small one (one row per change, not per event), so this is a
    * cheap filtered scan, and a time-travel join against it broadcasts.
    */
  def scd2AsOf(spark: SparkSession, sfDir: String,
               asOfUs: Long = 1705276800000000L /* 2024-01-15T00:00Z */): DataFrame =
    ordered(
      scd2Versions(spark, sfDir)
        .filter(col("valid_from_us") <= asOfUs &&
                (col("valid_to_us").isNull || col("valid_to_us") > asOfUs)),
      "user_id")

  /** Temporal RANGE lookup — SQL Server's `FOR SYSTEM_TIME FROM <lo> TO
    * <hi>` (README.md:88–91; the interval sibling of [[scd2AsOf]]'s point
    * lookup): every version whose half-open [valid_from, valid_to)
    * validity OVERLAPS the query interval, under SQL Server's exact
    * boundary rule — `valid_from < hi AND valid_to > lo`, both strict, so
    * a version that became active exactly AT the upper bound is excluded
    * and a version that closed exactly AT the lower bound is excluded
    * (Round13OpsSpec pins both edges). NULL valid_to = open/current row,
    * which overlaps any interval it starts before. Defaults cover
    * 2024-Q1. Same scale shape as AS OF: a filtered scan of the
    * change-bounded version table, broadcastable into any time-travel
    * join.
    */
  def scd2Between(spark: SparkSession, sfDir: String,
                  loUs: Long = 1704067200000000L /* 2024-01-01T00:00Z */,
                  hiUs: Long = 1711929600000000L /* 2024-04-01T00:00Z */)
      : DataFrame =
    ordered(
      scd2Versions(spark, sfDir)
        .filter(col("valid_from_us") < hiUs &&
                (col("valid_to_us").isNull || col("valid_to_us") > loUs)),
      "user_id", "valid_from_us", "event_id")

  /** The third SQL Server temporal predicate — `FOR SYSTEM_TIME CONTAINED
    * IN (lo, hi)` (README.md:88–91): only versions whose ENTIRE validity
    * lies inside the query interval — `valid_from >= lo AND valid_to <=
    * hi`, both INCLUSIVE per SQL Server's rule (the opposite polarity of
    * FROM..TO's strict overlap — Round13OpsSpec pins both edges against
    * [[scd2Between]]'s). Open/current versions (NULL valid_to) are never
    * contained — they have no end to contain. This is the audit question
    * ("which versions lived and died entirely within Q1?") as opposed to
    * FROM..TO's activity question. Completes the temporal family: AS OF
    * (point), FROM..TO (overlap), CONTAINED IN (containment). Same
    * filtered-scan scale shape over the change-bounded version table.
    */
  def scd2ContainedIn(spark: SparkSession, sfDir: String,
                      loUs: Long = 1704067200000000L /* 2024-01-01 */,
                      hiUs: Long = 1719792000000000L /* 2024-07-01 */)
      : DataFrame =
    ordered(
      scd2Versions(spark, sfDir)
        .filter(col("valid_from_us") >= loUs &&
                col("valid_to_us").isNotNull && col("valid_to_us") <= hiUs),
      "user_id", "valid_from_us", "event_id")

  /** The fourth and last SQL Server temporal predicate — `FOR SYSTEM_TIME
    * ALL` (README.md:88–91): the row-grain union of the CURRENT table and
    * the HISTORY table as ONE relation, every version of every key with
    * its validity interval, which table it came from, and its 1-based
    * per-key version ordinal. SQL Server serves this by concatenating
    * dim_city with dim_city_history; here the split is reconstructed from
    * the [[scd2Versions]] intervals (open valid_to = the current-table
    * row; closed = history) so the union is total and disjoint —
    * Round14OpsSpec pins ALL ⊇ AS OF / FROM..TO / CONTAINED IN on the
    * same fixture. The ordinal window partitions BY KEY (change-bounded
    * per-key version counts, never a global window); same filtered-scan
    * scale shape as the other three predicates.
    */
  def scd2All(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from_us").asc, col("event_id").asc)
    ordered(
      scd2Versions(spark, sfDir)
        .withColumn("version_no", row_number().over(w).cast("long"))
        .select(col("user_id"), col("event_id"), col("valid_from_us"),
                col("valid_to_us"), col("is_current"), col("version_no"),
                when(col("is_current"), lit("current")).otherwise(lit("history"))
                  .as("src_table")),
      "user_id", "valid_from_us", "event_id")
  }

  /** History-table retention — SQL Server temporal tables'
    * `HISTORY_RETENTION_PERIOD` (`ALTER TABLE … SET (SYSTEM_VERSIONING =
    * ON (HISTORY_RETENTION_PERIOD = …))`; the reference's
    * system-versioned dim README.md:88–91 ages its history under exactly
    * this knob). The temporal twin of [[cdcCleanup]]'s change-table
    * retention: purge CLOSED versions whose validity ended at or before
    * the retention cutoff; CURRENT (open) rows are NEVER aged out however
    * long they've been open — SQL Server's cleanup task touches only the
    * history table. Output is the retained version relation with ordinals
    * recomputed over survivors (dense 1..m — what a reader of the
    * retained table observes; Round14OpsSpec pins survivors ≡ the
    * [[scd2All]] rows passing the predicate, and that every key's current
    * row survives). Scale: one filtered scan of the change-bounded
    * version table — prunable at directory grain when history is
    * date-partitioned on valid_to (the [[graft.sources.SnapshotStore]]
    * fact layout); the ordinal window partitions BY KEY, never global.
    */
  def scd2Retention(spark: SparkSession, sfDir: String,
                    cutoffUs: Long = 1705276800000000L /* 2024-01-15T00:00Z */): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from_us").asc, col("event_id").asc)
    ordered(
      scd2Versions(spark, sfDir)
        .filter(col("is_current") || col("valid_to_us") > cutoffUs)
        .withColumn("version_no", row_number().over(w).cast("long"))
        .select(col("user_id"), col("event_id"), col("valid_from_us"),
                col("valid_to_us"), col("is_current"), col("version_no"),
                lit(cutoffUs).as("retention_cutoff_us")),
      "user_id", "valid_from_us", "event_id")
  }

  /** Temporal alignment of two SCD2 attribute timelines — the query every
    * bitemporal mart needs and plain SQL makes painful: given per-key
    * interval histories of TWO attributes (here: a customer's order
    * PRIORITY timeline and STATUS timeline, each valid from its order date
    * until the key's next order date, open at the end), produce the
    * merged timeline whose rows are the interval INTERSECTIONS —
    * from = max(starts), to = min(ends) (NULL = open), kept when
    * non-empty. The join is a per-key equi-join with an overlap
    * post-filter: both sides hash-partition on the key, and per-key
    * version counts are change-bounded (not fact-bounded), so the
    * quadratic-per-key worst case is the SCD2 table's own design bound —
    * the shape that survives 100 TB because version tables are small by
    * construction. Day grain; multiple same-day orders collapse
    * deterministically (min priority / min status per day).
    */
  def scd2TimelineJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def timeline(attr: String, out: String): DataFrame = {
      val w = Window.partitionBy(col("ck")).orderBy(col("d").asc)
      t(spark, sfDir, "orders")
        .groupBy(col("o_custkey").as("ck"),
                 col("o_orderdate").cast("date").as("d"))
        .agg(min(col(attr)).as(out))
        .select(col("ck"), col("d").as("valid_from"),
                lead(col("d"), 1).over(w).as("valid_to"), col(out))
    }
    val a = timeline("o_orderpriority", "priority")
      .select(col("ck"), col("valid_from").as("fa"),
              col("valid_to").as("ta"), col("priority"))
    val b = timeline("o_orderstatus", "status")
      .select(col("ck"), col("valid_from").as("fb"),
              col("valid_to").as("tb"), col("status"))
    val inf = lit("9999-12-31").cast("date")
    ordered(
      a.join(b, "ck")
        .filter(col("fa") < coalesce(col("tb"), inf) &&
                col("fb") < coalesce(col("ta"), inf))
        .select(col("ck").as("c_custkey"),
                greatest(col("fa"), col("fb")).as("valid_from"),
                when(coalesce(col("ta"), inf) <= coalesce(col("tb"), inf),
                     col("ta")).otherwise(col("tb")).as("valid_to"),
                col("priority"), col("status")),
      "c_custkey", "valid_from")
  }

  /** Aggregate navigation — Kimball's "aggregate tables must answer
    * exactly like the base fact": a monthly (nation × month) revenue
    * aggregate is built IN-PLAN, and the yearly-per-nation query is
    * answered FROM that aggregate; the DuckDB oracle computes the same
    * yearly answer directly from the base facts, so the hash gate IS the
    * rewrite-equivalence proof. DECIMAL money all the way to the final
    * double (re-aggregating doubles would drift; re-aggregating DECIMAL
    * cannot). The monthly aggregate is the 100 TB serving shape: facts
    * collapse once, every rollup after that is calendar² -bounded.
    */
  def aggRewrite(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = t(spark, sfDir, "orders")
      .join(t(spark, sfDir, "customer"),
            col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, sfDir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
               (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .agg(sum(money(col("o_totalprice"))).as("rev"))
    ordered(
      monthly.groupBy(col("n_name"),
                      expr("(mi - 1) div 12").cast("long").as("yr"))
        .agg(sum(col("rev")).as("rev"))
        .select(col("n_name"), col("yr"),
                r4(col("rev").cast("double")).as("revenue")),
      "n_name", "yr")
  }

  /** Snapshot reconciliation between two point-in-time views of the SCD2
    * dimension — the audit a warehouse runs after every load window:
    * [[scd2AsOf]] at t₁ vs t₂, full-outer-joined on the key, counting
    * keys added, removed, version-changed and unchanged, so a bad load
    * (mass deletes, version churn) is one report away. A signup-only
    * version stream can never REMOVE a key, so n_removed ≡ 0 here — the
    * invariant the spec asserts rather than a missing case. Version
    * tables are change-bounded: both as-of frames and the join are small
    * at any fact volume.
    */
  def snapshotReconcile(spark: SparkSession, sfDir: String,
                        t1Us: Long = 1704844800000000L /* 2024-01-10 */,
                        t2Us: Long = 1705276800000000L /* 2024-01-15 */): DataFrame = {
    val a = scd2AsOf(spark, sfDir, t1Us)
      .select(col("user_id"), col("event_id").as("v1"))
    val b = scd2AsOf(spark, sfDir, t2Us)
      .select(col("user_id"), col("event_id").as("v2"))
    a.join(b, Seq("user_id"), "full_outer")
      .agg(
        sum(when(col("v1").isNotNull, 1L).otherwise(0L)).as("n_t1"),
        sum(when(col("v2").isNotNull, 1L).otherwise(0L)).as("n_t2"),
        sum(when(col("v1").isNull && col("v2").isNotNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("v1").isNotNull && col("v2").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("v1").isNotNull && col("v2").isNotNull &&
                 col("v1") =!= col("v2"), 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("v1") === col("v2"), 1L).otherwise(0L)).as("n_unchanged"))
  }

  /** Late-arriving dimension handling (Kimball "inferred members"): facts
    * referencing customer keys the dimension feed hasn't delivered yet get
    * placeholder dim rows instead of being dropped or failing the FK. The
    * delivered dim here is customers with custkey % 10 ≠ 0 (a deterministic
    * stand-in for the late 10%); missing keys observed in orders
    * materialize as UNKNOWN# rows flagged `is_inferred = 1`, to be
    * type-1-overwritten when the real row lands ([[mergeUpsert]]).
    * Scale shape: distinct fact keys is one hash agg on the fact, the
    * missing set arrives via left-anti join, and the union appends — no
    * step touches more than (distinct keys) rows after the first agg.
    */
  def lateArrivingDim(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = t(spark, sfDir, "customer")
      .filter(col("c_custkey") % 10 =!= 0)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val inferred = t(spark, sfDir, "orders")
      .select(col("o_custkey").as("c_custkey")).distinct()
      .join(dim.select(col("c_custkey")), Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"),
              concat(lit("UNKNOWN#"), col("c_custkey")).as("c_name"),
              lit(-1).cast("int").as("c_nationkey"))
    ordered(
      dim.withColumn("is_inferred", lit(0))
        .unionByName(inferred.withColumn("is_inferred", lit(1))),
      "c_custkey")
  }

  /** Dense surrogate-key assignment for a dimension load: sk =
    * row_number() over the natural-key order, WITHOUT the single-reducer
    * global window that formulation implies — [[graft.util.PrefixSum]]'s
    * two-phase scan (parallel per-range-partition windows + broadcast
    * per-partition offsets) computes the identical numbering with every
    * stage distributed. The oracle IS the naive global window, so the
    * hash gate proves two-phase ≡ row_number exactly. SQL Server hands
    * this to IDENTITY; at 100 TB nothing may serialize through one task.
    */
  def surrogateKeys(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      graft.util.PrefixSum.exclusive(
          t(spark, sfDir, "customer").select(col("c_custkey")),
          "c_custkey", lit(1L), "sk0")
        .select(col("c_custkey"), (col("sk0") + lit(1L)).as("sk")),
      "c_custkey")

  /** Role-playing date dimension — ONE generated calendar joined twice
    * under different roles (order date, ship date), the Kimball pattern
    * the reference's planned date dim (README.md:88) exists to serve.
    * Both role joins BROADCAST (a 7-year calendar is ~2.5k rows at any
    * fact scale), so the only exchange in the plan is the fact-fact
    * lineitem⋈orders join; the grouped result is (order-quarter ×
    * ship-quarter) revenue — the shipping-lag matrix.
    */
  def rolePlayingDim(spark: SparkSession, sfDir: String): DataFrame = {
    val dd = dateDim(spark, "1995-01-01", "2001-12-31")
    val od = dd.select(col("d").as("o_d"), col("yr").as("order_yr"), col("qtr").as("order_qtr"))
    val sd = dd.select(col("d").as("s_d"), col("yr").as("ship_yr"), col("qtr").as("ship_qtr"))
    val f = t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderdate").cast("date").as("o_d"),
              col("l_shipdate").cast("date").as("s_d"),
              col("l_extendedprice"), col("l_discount"))
    ordered(
      f.join(broadcast(od), "o_d").join(broadcast(sd), "s_d")
        .groupBy(col("order_yr"), col("order_qtr"), col("ship_yr"), col("ship_qtr"))
        .agg(count(lit(1)).as("n_items"),
             sum(money(col("l_extendedprice")) * (lit(1) - money(col("l_discount"))))
               .as("rev_dec"))
        .select(col("order_yr"), col("order_qtr"), col("ship_yr"), col("ship_qtr"),
                col("n_items"), r4(col("rev_dec").cast("double")).as("revenue")),
      "order_yr", "order_qtr", "ship_yr", "ship_qtr")
  }

  /** Calendar resampling — the periodic-snapshot rollup: daily order events
    * downsampled to (ISO week, status) grain. `date_trunc('week')` starts
    * weeks on Monday on both engines, so the bucket boundary is portable;
    * money sums stay DECIMAL through the aggregate. One hash aggregate over
    * the fact — the week column is derived per-row, so partition pruning on
    * the underlying date column still applies when the scan is bounded.
    */
  def resampleWeekly(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      t(spark, sfDir, "orders")
        .groupBy(date_trunc("week", col("o_orderdate")).cast("date").as("week_start"),
                 col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
             sum(money(col("o_totalprice"))).as("rev_dec"),
             max(money(col("o_totalprice"))).as("max_dec"))
        .select(col("week_start"), col("o_orderstatus"), col("n_orders"),
                r4(col("rev_dec").cast("double")).as("revenue"),
                r4(col("max_dec").cast("double")).as("max_price")),
      "week_start", "o_orderstatus")

  /** Incremental JOIN maintenance — the delta algebra behind every
    * materialized join view: with each side split into base ∪ delta (the
    * nightly increment), A⋈B ≡ Aᵦ⋈Bᵦ ∪ Aᵦ⋈Bᵈ ∪ Aᵈ⋈Bᵦ ∪ Aᵈ⋈Bᵈ, so the
    * refresh only joins DELTA-sized inputs against the other side — at
    * 100 TB the three delta terms shuffle a day's increment, never the
    * base×base re-join the oracle performs. Registered with the FULL
    * recompute as its oracle: the hash gate proves the delta algebra
    * exactly, not approximately. Split is by order date (orders) /
    * ship date (lineitem) — deltas are what "arrived" after the cutoff.
    */
  def incrJoinMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1997-01-01").cast("date")
    val o = t(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"), col("l_discount"))
    val oB = o.filter(col("o_orderdate") < cutoff)
    val oD = o.filter(col("o_orderdate") >= cutoff)
    val lB = li.filter(col("l_shipdate") < cutoff)
    val lD = li.filter(col("l_shipdate") >= cutoff)
    def j(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_orderdate"),
                col("l_extendedprice"), col("l_discount"))
    val incremental = j(oB, lB).unionAll(j(oB, lD))
      .unionAll(j(oD, lB)).unionAll(j(oD, lD))
    ordered(
      incremental
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_items"),
             r4(sum(money(col("l_extendedprice")) *
                    (lit(1).cast("decimal(18,2)") - money(col("l_discount"))))
               .cast("double")).as("revenue")),
      "yr", "mo")
  }

  /** Hierarchy flattening — every node's root ancestor and depth, the
    * parent-child → flattened-dimension transform behind ragged org
    * charts, BOM explosions and account rollups (the recursive-CTE
    * workload a warehouse on SQL Server would hand to WITH RECURSIVE).
    *
    * The hierarchy is derived deterministically from the part dimension
    * (parent(k) = k div 10, roots are keys < 10 — a 10-ary forest ~5 deep
    * at any scale), and traversal is POINTER JUMPING, not per-level
    * iteration: each round joins the (node → ancestor, steps) mapping to
    * itself, doubling the pointer distance, so a depth-d hierarchy
    * converges in ⌈log₂ d⌉ rounds of same-key shuffles instead of d —
    * at 100 TB the round count, not the row count, is what hurts. Rounds
    * are lineage-truncated through [[graft.util.Iterate]]; convergence is
    * an exact emptiness check, and composing through a root is stable
    * (root maps to itself with 0 steps). The 64-round cap is never reached:
    * doubling covers any chain shorter than 2^64 steps. The oracle is
    * DuckDB's WITH RECURSIVE — the hash gate proves log-round jumping ≡
    * row-at-a-time recursion.
    */
  def hierarchyFlatten(spark: SparkSession, sfDir: String): DataFrame = {
    val m0 = t(spark, sfDir, "part")
      .select(col("p_partkey").as("node"))
      .withColumn("anc", when(col("node") < 10, col("node"))
                           .otherwise(expr("node div 10")))
      .withColumn("d", when(col("node") < 10, lit(0L)).otherwise(lit(1L)))
      .localCheckpoint(true)
    val m = Iterate(m0, 64)(
        Seq(_), (_, next) => next.filter(col("anc") >= 10).isEmpty) { (m, _) =>
      val j = m.select(col("node").as("jn"), col("anc").as("janc"), col("d").as("jd"))
      m.join(j, m("anc") === col("jn"))
        .select(m("node"), col("janc").as("anc"), (m("d") + col("jd")).as("d"))
        .localCheckpoint(true)
    }
    ordered(m.select(col("node").as("p_partkey"), col("anc").as("root_key"),
                     col("d").as("depth")),
            "p_partkey")
  }

  /** Many-to-many bridge table with allocation factors — the Kimball
    * pattern for crediting an ORDER-grain measure down to parts when an
    * order spans several parts (the reference's star schema stops at the
    * fact grain; this is the standard extension every revenue-attribution
    * mart needs). The bridge is (order, part, line revenue); each part's
    * allocation of the order-level `o_totalprice` (which includes
    * order-grain amounts no line carries) is its line-revenue share.
    * Exactness discipline: line revenue sums in DECIMAL (associative),
    * shares are applied as one integer multiply-then-floor-divide in
    * CENTS — (otp_cents · lr_fp) div orv_fp with positive BIGINTs, so
    * Spark `div` ≡ DuckDB `//` and no IEEE division ever happens; the
    * final dollar column is presentation-only r4. Scale shape: two hash
    * aggregates (bridge grain, order grain) + two shuffled joins on the
    * order key + one hash aggregate on the part key — fact-linear, no
    * broadcast of anything data-sized, the exact plan a 100 TB allocation
    * run wants.
    */
  def bridgeAllocation(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_partkey"))
      .agg(sum(money(col("l_extendedprice")) *
               (lit(1) - money(col("l_discount")))).as("lr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val orv = li.groupBy(col("l_orderkey")).agg(sum(col("lr")).as("orv"))
    val otp = t(spark, sfDir, "orders")
      .select(col("o_orderkey").as("l_orderkey"),
              floor(col("o_totalprice") * lit(100.0) + lit(0.5))
                .cast("long").as("otp_c"))
    val alloc = li
      .join(orv, Seq("l_orderkey"))
      .join(otp, Seq("l_orderkey"))
      .select(col("l_partkey"),
              (col("lr") * lit(10000)).cast("long").as("lr_q"),
              (col("orv") * lit(10000)).cast("long").as("orv_q"),
              col("otp_c"))
      .select(col("l_partkey"),
              expr("(otp_c * lr_q) div orv_q").as("ac"))
    ordered(
      alloc.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"), sum(col("ac")).as("alloc_cents"))
        .select(col("l_partkey").as("part_id"), col("n_lines"),
                col("alloc_cents"),
                r4(col("alloc_cents").cast("double") / lit(100.0)).as("alloc_rev")),
      "part_id")
  }

  /** SCD Type 3 dimension build — current + prior attribute in ONE row per
    * key, the Kimball "alternate reality" pattern that completes the SCD
    * trio the reference's warehouse design implies (Type 1 = overwrite is
    * [[mergeUpsert]], Type 2 = full history is [[scd2Versions]]; Type 3
    * keeps exactly one step of history as a column, the shape BI tools
    * want for "current vs previous segment" reports). Change stream = each
    * user's signup events ordered by (ts, event_id); the tracked attribute
    * is the event value in exact CENTS (floor(v·100+0.5) BIGINT — the
    * portable double→cents fold used throughout). One user-sharded window
    * computes the per-key recency rank, then one hash-agg folds rank 1 and
    * rank 2 into (current, prior) via conditional MAX — no self-join, no
    * second scan, and the output is dimension-sized (one row per key) at
    * any event volume. Keys with a single version surface prior = NULL and
    * changed_at = their only version's timestamp, exactly like a Type 3
    * column that has never been overwritten.
    */
  def scd3CurrentPrior(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val versions = graft.util.Tables.events(spark, sfDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"), col("ts_us"),
              floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      .withColumn("rn", row_number().over(w))
    ordered(
      versions.groupBy(col("user_id"))
        .agg(max(when(col("rn") === 1, col("cents"))).as("cur_cents"),
             max(when(col("rn") === 2, col("cents"))).as("prior_cents"),
             max(when(col("rn") === 1, col("ts_us"))).as("changed_at_us"),
             count(lit(1)).as("n_versions")),
      "user_id")
  }

  /** Periodic snapshot fact — the Kimball monthly-balance table (one row
    * per supplier per calendar month: quantity shipped that month + running
    * balance to date), the second of the three fact-table grains the
    * reference's transactional fact ladder is missing. DENSE calendar: the
    * month spine is generated IN-PLAN from a 1-row min/max aggregate of the
    * fact (sequence + explode — no driver-side collect), cross-joined with
    * the supplier dimension, so months with zero movement still snapshot
    * (qty 0, balance carried) — the property that makes period-over-period
    * queries windowless downstream. Scale shape: one fact-linear hash-agg
    * to (supplier × month) grain, one dim × calendar cross join (the
    * snapshot's DEFINED output size — |dim|·|months|, never fact-sized),
    * one left join back, and a per-supplier running sum whose window is
    * calendar-bounded (≤ months rows per key, regardless of fact volume).
    * Balances accumulate in DECIMAL (associative, partition-order-proof);
    * doubles only at the output boundary.
    */
  def periodicSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(spark, sfDir, "lineitem")
    val monthly = li
      .groupBy(col("l_suppkey").as("s_suppkey"),
               date_trunc("month", col("l_shipdate")).cast("date").as("m"))
      .agg(sum(money(col("l_quantity"))).as("qty"))
    val spine = li
      .agg(date_trunc("month", min(col("l_shipdate"))).cast("date").as("lo"),
           date_trunc("month", max(col("l_shipdate"))).cast("date").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 month"))).as("m"))
    val grid = t(spark, sfDir, "supplier").select(col("s_suppkey")).crossJoin(spine)
    val w = Window.partitionBy(col("s_suppkey")).orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordered(
      grid.join(monthly, Seq("s_suppkey", "m"), "left")
        .select(col("s_suppkey"), col("m"),
                coalesce(col("qty"), lit(0).cast("decimal(18,2)")).as("q"))
        .withColumn("balance", sum(col("q")).over(w))
        .select(col("s_suppkey"), col("m"),
                col("q").cast("double").as("qty_shipped"),
                col("balance").cast("double").as("balance")),
      "s_suppkey", "m")
  }

  /** Accumulating snapshot fact — the Kimball milestone table (one row per
    * order carrying every lifecycle milestone date + the lag measures
    * between them), the third fact grain: placed (order date), first ship,
    * last ship, line count, total quantity, days-to-first-ship and
    * ship-span. In a mutable warehouse this row is UPDATEd as milestones
    * land; in the immutable engine it is a pure fold — one fact-linear
    * hash-agg on the order key (min/max dates + counts combine map-side)
    * joined to the order header, output order-grain. Lags are integer day
    * differences of DATEs (exact on both engines); quantity sums in
    * DECIMAL, double only at the boundary.
    */
  def accumulatingSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val ms = t(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(min(col("l_shipdate").cast("date")).as("first_ship"),
           max(col("l_shipdate").cast("date")).as("last_ship"),
           count(lit(1)).as("n_lines"),
           sum(money(col("l_quantity"))).as("qty"))
    ordered(
      t(spark, sfDir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("placed"))
        .join(ms, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("placed"), col("first_ship"),
                col("last_ship"), col("n_lines"),
                col("qty").cast("double").as("total_qty"),
                datediff(col("first_ship"), col("placed")).cast("long").as("days_to_first_ship"),
                datediff(col("last_ship"), col("first_ship")).cast("long").as("ship_span_days")),
      "o_orderkey")
  }

  /** SCD Type-4 mini-dimension — the Kimball answer to RAPIDLY-changing
    * customer attributes (ref transform_load.sql's type-1 overwrite
    * would thrash, SCD2 would version-explode): the volatile attributes
    * (account-balance band, market segment) split into their OWN small
    * dimension of distinct combinations with surrogate keys, and the
    * customer row carries just the FK. Surrogate keys are deterministic
    * dense ranks over the combination's natural order (the
    * [[surrogateKeys]] discipline — no monotonically_increasing_id,
    * which is partition-layout-dependent); the mini-dim is bounded by
    * the attribute domain (bands × segments), NOT the customer count, so
    * the frame stays broadcastable at any scale. Output: the mini-dim
    * with per-combo membership counts — the profile a dimension
    * designer reads to validate the split.
    */
  def scd4MiniDim(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val combos = t(spark, sfDir, "customer")
      .select(floor(col("c_acctbal") / lit(1000.0)).cast("long").as("bal_band"),
              col("c_mktsegment").as("segment"))
      .groupBy(col("bal_band"), col("segment"))
      .agg(count(lit(1)).as("n_customers"))
    // the window runs over the ~70-row combo frame, never the customers
    ordered(
      combos.withColumn("mini_key",
        row_number().over(Window.orderBy(col("bal_band").asc,
                                         col("segment").asc)).cast("long"))
        .select(col("mini_key"), col("bal_band"), col("segment"),
                col("n_customers")),
      "mini_key")
  }

  /** Factless coverage fact — the Kimball "what DIDN'T happen" pattern:
    * the eligibility spine (customer × month between their first and
    * last order) is a factless fact, and the question it exists for is
    * the anti-join against actual activity — eligible-but-SILENT cells.
    * Per month: eligible customers, active customers, silent count and
    * rate. The spine fans out via sequence() over each customer's
    * [first, last] month pair — calendar-bounded per customer (≤ ~85
    * cells at 7 years), so the explode is linear in customers, never
    * customers × calendar; activity joins back on the (customer, month)
    * grain. [[Windows.churnMonthly]] asks "active last month, gone now";
    * this asks "inside their lifetime, how often silent" — the coverage
    * question.
    */
  def factlessCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val cm = t(spark, sfDir, "orders")
      .select(col("o_custkey").as("ck"),
              date_trunc("month", col("o_orderdate")).cast("date").as("m"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spine = cm.groupBy(col("ck"))
      .agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
      .select(col("ck"),
              explode(expr("sequence(m0, m1, interval 1 month)")).as("m"))
    ordered(
      spine.join(cm.withColumn("active", lit(1L)), Seq("ck", "m"), "left")
        .groupBy(col("m"))
        .agg(count(lit(1)).as("n_eligible"),
             sum(coalesce(col("active"), lit(0L))).as("n_active"))
        .select(col("m"), col("n_eligible"), col("n_active"),
                (col("n_eligible") - col("n_active")).as("n_silent"),
                r4((col("n_eligible") - col("n_active")).cast("double") /
                   col("n_eligible").cast("double")).as("silent_rate")),
      "m")
  }

  /** Junk dimension — the Kimball pattern for unrelated low-cardinality
    * flags: order status, priority, and a FACT-DERIVED has-returns flag
    * (any lineitem returned) combine into one junk dimension of observed
    * combinations with deterministic surrogate keys, instead of three
    * near-empty dimensions or three fact columns. The has-returns flag
    * costs one map-side-combined lineitem aggregate joined at order
    * grain; the junk frame itself is bounded by the flag domain
    * (statuses × priorities × 2), broadcastable forever. Output: junk
    * rows with order counts and revenue — the designer's validation
    * profile.
    */
  def junkDim(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hasRet = t(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("has_returns"))
    val flags = t(spark, sfDir, "orders")
      .join(hasRet, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderstatus").as("status"),
              col("o_orderpriority").as("priority"),
              coalesce(col("has_returns"), lit(0L)).as("has_returns"),
              col("o_totalprice"))
    val combos = flags
      .groupBy(col("status"), col("priority"), col("has_returns"))
      .agg(count(lit(1)).as("n_orders"),
           sum(money(col("o_totalprice"))).as("rev"))
    ordered(
      combos.withColumn("junk_key",
        row_number().over(Window.orderBy(col("status").asc, col("priority").asc,
                                         col("has_returns").asc)).cast("long"))
        .select(col("junk_key"), col("status"), col("priority"),
                col("has_returns"), col("n_orders"),
                r4(col("rev").cast("double")).as("revenue")),
      "junk_key")
  }

  /** SCD Type 6 — the hybrid 1+2+3 dimension (Kimball's "all three at
    * once"): full type-2 version history per key with validity intervals,
    * PLUS the type-1 current value overwritten onto every historical row
    * (so point-in-time facts can group by the CURRENT attribute without a
    * self-join at query time), PLUS the type-3 prior value per version.
    * Built over the same signup-event change stream as [[scd2Versions]]/
    * [[scd3CurrentPrior]], tracked attribute = the cents-quantized event
    * value. ONE window pass per key computes version number, validity
    * interval (lead), prior value (lag) and current value (last over the
    * unbounded frame) — the per-key frame is version-count-bounded, so a
    * 100 TB fact history pays one change-table-sized shuffle, never a
    * per-fact one.
    */
  def scd6Hybrid(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val versions = graft.util.Tables.events(spark, sfDir)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"), col("ts_us"),
              floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
    ordered(
      versions.select(
        col("user_id"),
        row_number().over(w).cast("long").as("version_n"),
        col("ts_us").as("valid_from_us"),
        lead(col("ts_us"), 1).over(w).as("valid_to_us"),
        col("cents"),                                  // type 2: as-was
        lag(col("cents"), 1).over(w).as("prior_cents"), // type 3
        last(col("cents")).over(wAll).as("current_cents")) // type 1
        .withColumn("is_current", col("valid_to_us").isNull),
      "user_id", "version_n")
  }

  /** Audit dimension — Kimball's load-batch bookkeeping row: one row per
    * load batch (stand-in grain: order month) carrying row counts,
    * distinct-key counts, key range, the exact DECIMAL money total, and a
    * PORTABLE integer content checksum (sum of (31-bit mixed key hash)
    * per row — associative, partition-order independent, identical
    * arithmetic on both engines; an engine hash like xxhash64 would gate
    * nothing). The audit row is what a load writes alongside its data so
    * downstream can detect truncated/duplicated batches without rescanning
    * them; one fact-linear hash-agg at any scale.
    */
  def auditDim(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      t(spark, sfDir, "orders")
        .select(date_trunc("month", col("o_orderdate")).cast("date").as("batch_month"),
                col("o_orderkey"), col("o_custkey"),
                graft.util.Tables.money(col("o_totalprice")).as("tp"),
                ((col("o_orderkey") * lit(1000003L) + col("o_custkey")) % lit(2147483647L))
                  .as("rh"))
        .groupBy(col("batch_month"))
        .agg(count(lit(1)).as("n_rows"),
             countDistinct(col("o_orderkey")).as("n_orders"),
             countDistinct(col("o_custkey")).as("n_customers"),
             min(col("o_orderkey")).as("min_key"),
             max(col("o_orderkey")).as("max_key"),
             r4(sum(col("tp")).cast("double")).as("total_price"),
             sum(col("rh")).as("content_checksum")),
      "batch_month")

  /** Bitemporal as-of query — BOTH time axes at once (Snodgrass's
    * valid-time × transaction-time), the dimension discipline SCD2
    * ([[scd2AsOf]]) only half-covers: scd2's single axis is transaction
    * time, so it can answer "what did the table say on date T" but not
    * "what did the table say ON T about the value EFFECTIVE on day V" —
    * the question every restated-metrics audit asks. Fixture: the event
    * stream as a bitemporally corrected measure feed — each event's
    * value is EFFECTIVE (valid time) `event_id mod 3` days before its
    * arrival timestamp (transaction time), the backdated-correction
    * shape of real feeds. The as-of read at (V, T): among events with
    * valid_day ≤ V recorded at ts ≤ T, the one with the latest
    * (valid_day, ts, event_id) per user. Two system times T₁ < T₂ are
    * evaluated at the same V; `corrected` flags users whose history at V
    * was RESTATED between the reads — the bitemporal signature an
    * SCD2-only model cannot express. Per-user min-struct aggregation,
    * fact-linear, no windows over the stream.
    */
  def bitemporalAsOf(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir).select(
      col("user_id"), col("event_id"), col("ts_us"),
      (expr("ts_us div 86400000000L") - col("event_id") % 3).as("valid_day"),
      floor(col("value") * 10000.0 + 0.5).cast("long").as("vq"))
    val bounds = ev.agg(min(col("valid_day")).as("d0"))
    // query point: V = d0+15 (mid-stream of the ~30-day event window);
    // T₁ = end of valid-day V itself, so the backdated corrections
    // arriving on V+1/V+2 are NOT yet visible; T₂ = +25 days (every
    // correction landed) — the restatement gap between the two reads
    val withQ = ev.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("valid_day"),
              col("vq"), (col("d0") + 15).as("v_q"),
              ((col("d0") + 16) * lit(86400000000L)).as("t1_us"),
              ((col("d0") + 41) * lit(86400000000L)).as("t2_us"))
    def asOf(tCol: Column, label: String): DataFrame =
      withQ.filter(col("valid_day") <= col("v_q") && col("ts_us") < tCol)
        .groupBy(col("user_id"))
        .agg(max(struct(col("valid_day"), col("ts_us"), col("event_id"),
                        col("vq"))).as("m"))
        .select(col("user_id"), col("m.valid_day").as(s"valid_day_$label"),
                col("m.event_id").as(s"event_id_$label"),
                r4(col("m.vq").cast("double") / 10000.0).as(s"value_$label"))
    ordered(
      asOf(col("t1_us"), "t1").join(asOf(col("t2_us"), "t2"), Seq("user_id"),
                                    "full_outer")
        .select(col("user_id"),
                col("valid_day_t1"), col("event_id_t1"), col("value_t1"),
                col("valid_day_t2"), col("event_id_t2"), col("value_t2"),
                (coalesce(col("event_id_t1"), lit(-1L)) =!=
                 coalesce(col("event_id_t2"), lit(-1L))).as("corrected")),
      "user_id")
  }

  /** Data Vault 2.0 load profile (Linstedt's public modeling standard) —
    * the OTHER warehouse modeling school next to the reference's Kimball
    * star (ref README.md:48–51): business keys → hubs with deterministic
    * md5 hash keys, relationships → links keyed by the md5 of the
    * concatenated parent keys, descriptive attributes → satellites with
    * an md5 HASHDIFF over the attribute payload (the change-detection
    * column an incremental satellite load diffs against). Emits one
    * profile row per vault table: row count, distinct-hash-key count
    * (hk collisions or key duplication surface as n_rows ≠ n_distinct),
    * and the min/max hash key — 32-hex-exact on both engines, so the
    * gate pins the entire hashing discipline, not just counts. All four
    * profiles are fact-linear hash-aggs; hash keys are what make the
    * vault load embarrassingly parallel at 100 TB (no surrogate-key
    * sequence bottleneck — the reason Data Vault scales writes).
    */
  def dataVault(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = t(spark, sfDir, "orders")
    val hubCustomer = t(spark, sfDir, "customer")
      .select(md5(col("c_custkey").cast("string")).as("hk"))
    val hubOrder = orders
      .select(md5(col("o_orderkey").cast("string")).as("hk"))
    val linkOC = orders
      .select(md5(concat_ws("|", col("o_orderkey").cast("string"),
                            col("o_custkey").cast("string"))).as("hk"))
    val satOrder = orders
      .select(md5(concat_ws("|", col("o_orderkey").cast("string"))).as("hk"),
              md5(concat_ws("|", col("o_orderstatus"),
                            floor(col("o_totalprice") * 100.0 + 0.5)
                              .cast("long").cast("string"),
                            col("o_orderdate").cast("date").cast("string"),
                            col("o_orderpriority"))).as("hashdiff"))
    def profile(name: String, df: DataFrame, extra: Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
             countDistinct(col("hk")).as("n_distinct_hk"),
             min(col("hk")).as("min_hk"), max(col("hk")).as("max_hk"),
             extra.as("n_distinct_payload"))
        .select(lit(name).as("vault_table"), col("n_rows"),
                col("n_distinct_hk"), col("n_distinct_payload"),
                col("min_hk"), col("max_hk"))
    ordered(
      profile("hub_customer", hubCustomer, countDistinct(col("hk")))
        .unionByName(profile("hub_order", hubOrder, countDistinct(col("hk"))))
        .unionByName(profile("link_order_customer", linkOC,
                             countDistinct(col("hk"))))
        .unionByName(profile("sat_order", satOrder,
                             countDistinct(col("hashdiff")))),
      "vault_table")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming formulations of the windowing tier (SURVEY §2.2
  * "Streaming"): the reference is a daily batch with CDC as its only change
  * feed; real-time is its declared growth path (README.md:390). These
  * transforms run identically on a batch DataFrame or a `readStream` source
  * — the batch twins in operators.Windows are the oracle-checkable
  * equivalents, and StreamingSpec proves batch/stream agreement over
  * MemoryStream input.
  *
  * Scale notes: watermarks bound state (late events beyond 1 hour are
  * dropped, so state per key is finite); both aggregations shuffle once on
  * the window/session key, the same plan shape as their batch twins.
  */
object StreamOps {

  /** Tumbling 1-hour event-time counts. On a stream: append-mode output
    * once the watermark passes the window end.
    */
  def tumblingCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "1 hour")
      .groupBy(window(col(tsCol), "1 hour").as("win"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("window_start"), col("n_events"), col("sum_value"))

  /** Session windows with a 30-minute inactivity gap, per user — the
    * built-in session_window (state-backed on a stream); the batch twin is
    * Windows.sessionGaps' lag+cumsum rewrite.
    */
  def sessionCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "1 hour")
      .groupBy(col("user_id"), session_window(col(tsCol), "30 minutes").as("win"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("win.start").as("session_start"), col("n_events"))

  /** Stream-stream interval join: each event on stream B pairs with the
    * same user's stream-A event at most 1 hour earlier (the streaming twin
    * of the batch interval/as-of joins in operators.RangeJoins/TimeJoins).
    * Inner-join matches emit eagerly; the watermark + time-bound condition
    * are what let the join STATE expire — without both, a stream-stream
    * join buffers forever. Runs identically on batch frames.
    */
  def intervalJoin(evA: DataFrame, evB: DataFrame): DataFrame = {
    val a = evA.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("a_ts"))
    val b = evB.withWatermark("ts", "1 hour")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"), col("value"))
    a.join(b,
        col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("interval 1 hour"))
      .select(col("user_id"), col("a_ts"), col("b_ts"), col("value"))
  }

  /** Watermarked streaming dedup — the reference's staging dedup
    * (transform_load.sql:9–16) as a stream: at most one row per
    * (user_id, event_type) within the watermark horizon, state bounded by
    * the watermark instead of growing forever. STREAM-ONLY: Spark rejects
    * dropDuplicatesWithinWatermark on batch frames (AnalysisException) —
    * the batch twin on the same keys is Quality.dedupRownum; StreamingSpec
    * verifies the stream behavior across micro-batches.
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** LEFT OUTER stream-stream interval join — the outer variant of
    * [[intervalJoin]]: stream-A events with NO matching B event within the
    * hour still emit (NULL-extended) once the watermark proves no match
    * can arrive. This is the semantically hard streaming join — the
    * NULL row can only be emitted when event-time has passed the join
    * window, so BOTH watermarks and the time-bound condition are load-
    * bearing (they bound state AND gate the null emission). Runs on batch
    * frames as a plain left outer range join.
    */
  def intervalJoinOuter(evA: DataFrame, evB: DataFrame): DataFrame = {
    val a = evA.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("a_ts"))
    val b = evB.withWatermark("ts", "1 hour")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"), col("value"))
    a.join(b,
        col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("interval 1 hour"),
        "left_outer")
      .select(col("user_id"), col("a_ts"), col("b_ts"), col("value"))
  }

  /** Stream-static dimension enrichment — the streaming half of the
    * reference's fact-load join against dim_city (transform_load.sql:52–58):
    * each micro-batch joins the unbounded stream against a bounded
    * dimension snapshot. The static side is explicitly broadcast — on a
    * cluster the dim ships once per executor and the stream NEVER
    * shuffles for the join (stateless, no watermark needed; the dim is
    * re-resolvable per micro-batch, which is how dimension updates become
    * visible mid-stream). Runs identically on batch frames.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    key: String = "user_id"): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  case class UserEvent(ts: java.sql.Timestamp, user_id: Long, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, total_value: Double,
                         first_seen_us: Long, last_seen_us: Long)

  /** Custom per-key state via flatMapGroupsWithState (the reference's
    * `is_processed` bookkeeping generalized to a live running profile):
    * each user's event count / value total / first+last seen, updated
    * incrementally per micro-batch and emitted on every change.
    *
    * Scale notes: state is one fixed-size record per user held in the state
    * store (RocksDB in production), sharded by the groupBy key across
    * executors; ProcessingTimeTimeout lets idle keys be expired by a later
    * round's policy without a full-state scan.
    */
  def runningUserProfile(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(
            UserRunning(userId, 0L, 0.0, Long.MaxValue, Long.MinValue))
          val next = batch.foldLeft(prev) { (acc, e) =>
            val us = e.ts.getTime * 1000L
            UserRunning(userId, acc.n_events + 1, acc.total_value + e.value,
                        math.min(acc.first_seen_us, us), math.max(acc.last_seen_us, us))
          }
          if (next.n_events == prev.n_events) Iterator.empty
          else { state.update(next); Iterator.single(next) }
      }
  }

  case class UserDayEvent(user_id: Long, day: Long)
  case class UserDayFlag(user_id: Long, day: Long, is_new: Boolean)
  case class DaysSeen(first_day: Long, days: Set[Long])

  /** Streaming new-vs-returning classification — the continuously-updated
    * twin of [[graft.operators.Windows.newVsReturning]]: each arriving
    * (user, epoch-day) activity emits ONE flag the first time that day is
    * seen for that user, is_new iff the day is the user's FIRST seen day.
    * Aggregating flags per day yields the live acquisition/retention
    * dashboard the batch query computes nightly.
    *
    * State per user is (first_day, seen-day set) — bounded by the CALENDAR
    * (days per user, not events per user), the same aggregate-first bound
    * the batch twin rides; a production deployment would cap it with an
    * idle-user timeout. Arrival defines "first": when events arrive in
    * day order (the append-only log case) the emitted flags aggregate to
    * EXACTLY the batch answer (StreamingSpec); a late out-of-order
    * earlier-day event classifies as returning — the same
    * arrival-defines-prior contract as [[streamingNearDupCandidates]].
    */
  def newVsReturningStream(events: Dataset[UserDayEvent]): Dataset[UserDayFlag] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DaysSeen, UserDayFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[UserDayEvent], state: GroupState[DaysSeen]) =>
          val prev = state.getOption.getOrElse(DaysSeen(Long.MaxValue, Set.empty))
          // in-batch days rank ascending so the smallest unseen day is
          // "first" exactly like the batch min(day) when state is empty
          val newDays = batch.map(_.day).toSeq.distinct.sorted
            .filterNot(prev.days.contains)
          if (newDays.isEmpty) Iterator.empty
          else {
            // arrival defines "first": once a user has state, every later
            // day — even an out-of-order EARLIER calendar day — returns
            val isFirstEver = prev.days.isEmpty
            val firstDay = if (isFirstEver) newDays.head else prev.first_day
            state.update(DaysSeen(firstDay, prev.days ++ newDays))
            newDays.iterator.map(d =>
              UserDayFlag(userId, d, isFirstEver && d == firstDay))
          }
      }
  }

  case class BandHit(band_id: Int, band_hash: Long, doc_id: Long)
  case class NearDupHit(doc_id: Long, band_id: Int, band_hash: Long,
                        canon_id: Long)

  /** Streaming incremental near-duplicate detection — the training-data
    * ingestion gate run CONTINUOUSLY: each arriving document computes its
    * MinHash signature map-side (the fused [[graft.functions.MinHashSig]]
    * kernel — streams never shuffle shingles), explodes to its LSH band
    * buckets, and checks each bucket's state for an earlier occupant.
    * State per (band, bucket) key is ONE long — the bucket's canonical
    * (minimum) doc_id — so the state store holds 8 bytes per distinct
    * band-hash ever seen, sharded by the group key across executors, and
    * a doc is emitted once per band that links it to an earlier document.
    *
    * Semantics: a doc is flagged against the canonical of its bucket as of
    * its OWN micro-batch (docs inside one micro-batch rank by doc_id, so
    * the smaller id wins ties exactly like the batch formulation). When
    * ingestion order follows doc_id — the append-only corpus case — the
    * emitted set is EXACTLY the batch twin [[nearDupAgainstPriorBatch]],
    * proven in StreamingSpec; under out-of-order arrival a late small-id
    * doc becomes the new canonical and is not flagged, the
    * dup-against-previously-INGESTED contract (arrival defines "prior",
    * exactly like the batch incremental dedup's seen-corpus anti-join).
    * Consumers aggregate per doc (`max(1)` over bands) or feed the pairs
    * to connected components; NoTimeout keeps every bucket's canonical
    * forever — a production deployment would expire idle buckets by
    * ingestion-policy timeout instead of keeping 8 B × |buckets|.
    */
  def streamingNearDupCandidates(docs: DataFrame): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    val banded = graft.operators.Dedup
      .bandExplode(graft.operators.Dedup.minhashSignatures(docs), carry = Nil)
      .select(col("band_id"), col("band_hash"), col("doc_id")).as[BandHit]
    banded.groupByKey(h => (h.band_id, h.band_hash))
      .flatMapGroupsWithState[Long, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((bandId, bandHash), batch, state) =>
          val ids = batch.map(_.doc_id).toVector
          val canon = (state.getOption.toVector ++ ids).min
          state.update(canon)
          ids.sorted.iterator.filter(_ > canon)
            .map(d => NearDupHit(d, bandId, bandHash, canon))
      }
  }

  case class ParArrival(doc_id: Long, par_idx: Long, dg: String)
  case class ParKeep(doc_id: Long, par_idx: Long)

  /** Streaming first-occurrence paragraph dedup — the CCNet pass
    * ([[graft.operators.Text.parDedup]]) as a continuous ingest stage:
    * state per paragraph digest is one Boolean; the first arrival of a
    * digest (min (doc_id, par_idx) within its micro-batch) is KEPT,
    * every later copy — same batch or any later one — is dropped.
    * Under doc_id-ordered ingestion the kept set is EXACTLY the batch
    * operator's (StreamingSpec proves it); out-of-order arrival keeps
    * the FIRST-ARRIVED copy — the dedup-against-previously-ingested
    * contract every incremental pipeline actually has. State is
    * 1 bit × |distinct paragraphs| (production would expire idle digests
    * by timeout policy); text never enters the state store — only
    * digests shuffle, the batch operator's rule.
    */
  def streamingParKeep(docs: DataFrame, parWords: Int = 20): Dataset[ParKeep] = {
    import docs.sparkSession.implicits._
    val pars = graft.operators.Text.paragraphs(docs, parWords)
      .select(col("doc_id"), col("par_idx"),
              sha2(col("par_text"), 256).as("dg")).as[ParArrival]
    pars.groupByKey(_.dg)
      .flatMapGroupsWithState[Boolean, ParKeep](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, batch, state) =>
          if (state.getOption.contains(true)) Iterator.empty
          else {
            val first = batch.minBy(p => (p.doc_id, p.par_idx))
            state.update(true)
            Iterator.single(ParKeep(first.doc_id, first.par_idx))
          }
      }
  }

  /** The batch twin of [[streamingNearDupCandidates]] under doc_id-ordered
    * ingestion: a doc is a candidate in each band bucket whose minimum
    * doc_id is smaller — one banding pass, one aggregate for the bucket
    * minima, one join back. (This is also the "dedup a new corpus against
    * itself, oldest doc wins" batch formulation.)
    */
  def nearDupAgainstPriorBatch(docs: DataFrame): DataFrame = {
    val banded = graft.operators.Dedup
      .bandExplode(graft.operators.Dedup.minhashSignatures(docs), carry = Nil)
    val canon = banded.groupBy(col("band_id"), col("band_hash"))
      .agg(min(col("doc_id")).as("canon_id"))
    banded.join(canon, Seq("band_id", "band_hash"))
      .filter(col("doc_id") > col("canon_id"))
      .select(col("doc_id"), col("band_id"), col("band_hash"), col("canon_id"))
  }

  /** Continuous warehouse maintenance — the streaming↔warehouse bridge:
    * each micro-batch is key-deduped (latest row per key wins) and MERGEd
    * into a VERSIONED parquet snapshot via foreachBatch, the reference's
    * daily MERGE lifecycle (transform_load.sql:50–70) made incremental.
    *
    * Exactly-once without a transactional table format: the output dir is
    * named by the micro-batch id and written with overwrite, and a batch
    * merges onto the latest version strictly BELOW its id. A batch
    * delivered again after its write therefore reads the same predecessor
    * as the first time and rewrites its own version instead of
    * double-applying (reading its own version would overwrite the
    * directory it reads from and leave it empty). The content is the same
    * when the redelivered rows are, except that rows of one key tying on
    * `orderCol` pick an arbitrary winner. The query checkpoints under
    * `baseDir/_checkpoint`, so a restart continues the batch ids; a fresh
    * checkpoint would number from 0 again and write versions that the
    * older, higher ones hide. This id-keyed sink is the standard
    * foreachBatch discipline on plain object storage. Scale: the merge is
    * [[graft.operators.Warehouse.mergeUpsert]] — with the snapshot
    * bucketed on the key only the micro-batch shuffles.
    */
  def mergeStreamToSnapshot(stream: DataFrame, baseDir: String,
                            keys: Seq[String], updateCols: Seq[String],
                            orderCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$baseDir/_checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        mergeBatch(batch.toDF(), id, baseDir, keys, updateCols, orderCol)
      }
      .start()

  /** One micro-batch of [[mergeStreamToSnapshot]], factored out so the
    * replay contract is directly testable (the [[cdcFeedBatch]] pattern).
    */
  def mergeBatch(batch: DataFrame, id: Long, baseDir: String,
                 keys: Seq[String], updateCols: Seq[String],
                 orderCol: String): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc)
    val deduped = batch.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    val cur = latestSnapshot(batch.sparkSession, baseDir, batch.schema, below = id)
    graft.operators.Warehouse
      .mergeUpsert(cur, deduped, keys, updateCols, nullSafeKeys = false)
      .write.mode("overwrite").parquet(f"$baseDir/v$id%05d")
  }

  /** Streaming ANN-index maintenance — the [[mergeStreamToSnapshot]]
    * lifecycle transposed to vectors (round 12; the reference's
    * incremental daily batch, extract_weather.py:26–34, for an embedding
    * corpus): each arriving (vec_id, embedding) micro-batch is PQ-encoded
    * against the EXISTING persisted index (coarse cell assignment +
    * residual + 4 code argmins, all map-only against broadcast index
    * tables — ZERO fit work, the [[graft.operators.Ivf.ivfIncremental]]
    * no-refit contract) and the resulting (vec_id, cell, code_0..3) rows
    * land as an id-keyed versioned parquet append — the same
    * deterministic-replay idempotent sink as the warehouse merge bridge.
    * Serving reads (base codes ∪ appended versions); drift-triggered
    * refits are the q_centroid_drift / q_ivf_incremental signal's job,
    * out of band, exactly like the nightly rebuild in the reference.
    * Scale: per micro-batch cost is batch-linear; the index tables ride
    * one broadcast regardless of corpus size.
    */
  def indexCodesStream(embStream: DataFrame, indexRoot: String,
                       outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    embStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        val cents = graft.sources.SnapshotStore
          .readCommitted(spark, s"$indexRoot/centroids")
        val cb = graft.sources.SnapshotStore
          .readCommitted(spark, s"$indexRoot/codebooks")
        graft.operators.Ivf
          .encodeVectors(graft.operators.Ivf.gatedQemb(batch.toDF()), cents, cb)
          .write.mode("overwrite").parquet(f"$outDir/v$id%05d")
        ()
      }
      .start()

  /** Streaming CDC change feed — [[graft.operators.Warehouse.cdcAllChanges]]
    * as a LIVE tail (the reference's `cdc.fn_cdc_get_all_changes_*` consumer
    * loop, CDC.sql:1–2 / README.md:375–384, fed by a stream instead of a
    * polled table): each arriving micro-batch is the FULL new state of a
    * dimension (a snapshot stream — the shape warehouse CDC connectors
    * emit); the first batch PRIMES the persisted state with no change rows
    * (enabling CDC on an existing table emits nothing for existing rows —
    * SQL Server's rule), and every later batch diffs against the previous
    * state and appends LSN-ordered change rows with the `__$operation`
    * codes (1=delete, 2=insert, 3=update-old, 4=update-new; updates emit
    * BOTH images). StreamingSpec replays the three [[graft.operators
    * .Warehouse.cdcSnap]] versions through the feed and asserts the
    * accumulated change log EQUALS the batch `cdcAllChanges` output —
    * stream ≡ batch, the mergeStreamToSnapshot discipline.
    *
    * Scale: per micro-batch cost is ONE keyed full-outer join of two
    * change-bounded dimension snapshots (never fact-bounded); the feed
    * sink is append-only versioned parquet, replay-idempotent per batch id.
    */
  def cdcChangeFeed(snapshots: DataFrame, feedDir: String,
                    key: String, valueCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshots.writeStream
      .outputMode("append")
      // durable checkpoint (r15, ADVICE fix): the feed's prev-state lookup
      // keys on the batch id, so a restart with a fresh temp checkpoint
      // would renumber from 0 and diff against the wrong predecessor; a
      // checkpoint under the feed root resumes the id sequence durably.
      .option("checkpointLocation", s"$feedDir/_checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        cdcFeedBatch(batch.toDF(), id, feedDir, key, valueCol)
      }
      .start()

  /** One micro-batch of [[cdcChangeFeed]], factored out so the replay
    * contract is directly testable: prev = the latest state version
    * STRICTLY BELOW this batch id — a redelivered batch (state/vN written,
    * checkpoint not yet committed) must diff against the same predecessor
    * it saw the first time, never against the state it already wrote
    * itself (which would overwrite changes/vN with an empty diff and
    * silently lose that LSN's rows). The LSN is the batch id, not a
    * state-dir count that could drift from the changes/v$id file name.
    * StreamingSpec redelivers a batch after its state write and asserts
    * changes/vN is byte-identical.
    */
  def cdcFeedBatch(batch: DataFrame, id: Long, feedDir: String,
                   key: String, valueCol: String): Unit = {
    val stateDir = s"$feedDir/state"
    graft.sources.SnapshotStore
      .readVersionBelow(batch.sparkSession, stateDir, id, batch.schema)
      .foreach { prev =>
        graft.operators.Warehouse.changeRows(prev, batch, key, valueCol)
          .select(lit(id).as("lsn"), col(key), col("op"), col("img"))
          .write.mode("overwrite").parquet(f"$feedDir/changes/v$id%05d")
      }
    batch.write.mode("overwrite").parquet(f"$stateDir/v$id%05d")
  }

  /** Streaming CDC CONSUMER — the live twin of [[graft.operators
    * .Warehouse.cdcIncrementalConsume]] (round 14; completes the CDC
    * story: capture batch+stream, log all/net, consumer batch+stream):
    * a stream of `__$operation` change rows (lsn, key, op, img — the
    * [[cdcChangeFeed]] output shape) applies to a persisted replica
    * snapshot, one micro-batch at a time. Per batch: drop update-OLD
    * images, net per key by (lsn, op)-max, delete op-1 keys, upsert 2/4
    * final images — then commit the replica BEFORE advancing the applied-
    * batch bookmark, the batch consumer's crash-window order.
    *
    * Exactly-once: Structured Streaming redelivers only the latest
    * uncommitted batch, so a replayed id re-applies ITS OWN slice onto
    * the already-advanced replica — a no-op by the net-apply idempotency
    * argument (delete of an absent key / upsert of an equal image);
    * batches at or below the bookmark are skipped outright. StreamingSpec
    * drives the three dimension versions through feed → consumer and
    * asserts the streamed replica EQUALS the batch consumer's, plus the
    * direct-redelivery fixture.
    */
  def cdcConsumeStream(changes: DataFrame, consumerRoot: String,
                       key: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode("append")
      // durable checkpoint under the consumer root (r15, ADVICE fix): a
      // temp checkpoint renumbers batch ids from 0 on restart; the
      // bookmark below is LSN-based so renumbering can no longer lose
      // data, but a durable checkpoint additionally prevents re-reading
      // the whole source after a restart.
      .option("checkpointLocation", s"$consumerRoot/_checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        cdcApplyBatch(batch.toDF(), id, consumerRoot, key)
      }
      .start()

  /** One micro-batch of [[cdcConsumeStream]], factored out so the replay
    * contract is directly testable (the [[cdcFeedBatch]] pattern).
    */
  def cdcApplyBatch(batch: DataFrame, id: Long, consumerRoot: String,
                    key: String): Unit = {
    import graft.sources.SnapshotStore
    val spark = batch.sparkSession
    val replicaDir = s"$consumerRoot/replica"
    val bookDir = s"$consumerRoot/bookmark"
    // The bookmark is the max applied LSN taken from the batch's ROWS —
    // NOT the ephemeral foreachBatch id (r15, ADVICE fix): a restart with
    // a fresh checkpoint renumbers batch ids from 0, so an id-based
    // `id <= applied` skip could drop a batch carrying NEW lsn slices
    // outright (silent data loss). Row-level filtering skips exactly the
    // rows at or below the high-water mark, whatever the delivery
    // batching: stale replays net to empty, partial overlaps apply only
    // their new slices, and the crash window (replica committed, bookmark
    // not) re-applies idempotently exactly as before. Backward-compatible
    // read of the pre-r15 bookmark column name.
    val applied = SnapshotStore.committedVersions(spark, bookDir)
      .lastOption.map { _ =>
        val bm = SnapshotStore.readCommitted(spark, bookDir)
        val c = if (bm.columns.contains("applied_lsn")) "applied_lsn"
                else "batch_id"
        bm.agg(max(col(c))).collect()(0).getLong(0)
      }.getOrElse(-1L)
    val fresh = batch.filter(col("lsn") > applied)
    val hiRow = fresh.agg(max(col("lsn"))).collect()(0)
    // nothing above the bookmark: stale replay — skip, never re-apply old
    // images (and never churn a replica/bookmark version)
    if (hiRow.isNullAt(0)) return
    val hi = hiRow.getLong(0)
    val next = graft.operators.Warehouse.applyNetChanges(
      SnapshotStore.readCommitted(spark, replicaDir), fresh, key)
    // replica FIRST, bookmark SECOND — the crash window idempotency covers
    SnapshotStore.commitSnapshot(next, replicaDir)
    SnapshotStore.commitSnapshot(
      spark.range(1).select(lit(hi).as("applied_lsn")), bookDir)
    ()
  }

  /** The latest id-keyed version under `baseDir` strictly below `below`
    * (a foreachBatch body passes its own batch id, so a redelivered batch
    * never reads its own output; the default reads the newest version),
    * or an empty frame of `schema` when there is none. Versions come from
    * [[graft.sources.SnapshotStore.readVersionBelow]] in numeric order.
    */
  def latestSnapshot(spark: SparkSession, baseDir: String,
                     schema: org.apache.spark.sql.types.StructType,
                     below: Long = Long.MaxValue): DataFrame =
    graft.sources.SnapshotStore.readVersionBelow(spark, baseDir, below, schema)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** End-to-end streaming corpus ingest — the three gates every
    * training-data pipeline runs at the door, composed into ONE
    * foreachBatch pipeline over a document stream:
    *
    *  1. **DQ quarantine** ([[dqQuarantineStream]]'s row-level split,
    *     stateless, runs identically on the micro-batch): violators land
    *     in `baseDir/quarantine/v<batch>` WITH their violation tags.
    *  2. **Near-dup gate** against a PERSISTED band index (the
    *     incremental-minhash batch shape made continuous): each clean
    *     doc's LSH band buckets probe the index snapshot; a doc is
    *     dropped when any bucket holds a smaller-id doc from a prior
    *     batch OR from this batch (within-batch minima rank by doc_id,
    *     the batch formulation's tie rule). Arrival defines "prior" —
    *     the dup-against-previously-INGESTED contract
    *     ([[streamingNearDupCandidates]] scaladoc).
    *  3. **Merge** of the survivors into `baseDir/accepted/v<batch>` and
    *     the band index into `baseDir/index/v<batch>` (bucket → min
    *     doc_id ever seen, the 8-bytes-per-bucket state).
    *
    * Exactly-once on plain parquet: every sink dir is keyed by the
    * micro-batch id and written with overwrite, and the band index is read
    * strictly below that id — a replayed batch rewrites the SAME versions
    * with the SAME content (the [[mergeStreamToSnapshot]] idempotent-sink
    * discipline, durable checkpoint included). Scale shape
    * per batch: signature kernel map-side (no shingle shuffle), one band
    * shuffle of the BATCH only, one join against the bounded per-bucket
    * index, one anti-join — batch-linear, corpus never rescanned.
    * StreamingSpec proves ≡ the batch pipeline (DQ enforce → band-minima
    * dedup → union) on id-ordered arrival across 3 micro-batches, and
    * pins the arrival-defines-prior semantics on out-of-order arrival.
    */
  def ingestStream(docs: DataFrame, baseDir: String,
                   rules: Seq[graft.operators.DqRule])
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      // durable, like mergeStreamToSnapshot's: the index read below keys on
      // the batch id, which a fresh checkpoint would restart from 0
      .option("checkpointLocation", s"$baseDir/_checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        ingestBatch(batch, baseDir, rules, id)
      }
      .start()

  private val IndexSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("band_id",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("band_hash",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("canon_id",
      org.apache.spark.sql.types.LongType)))

  /** One micro-batch of [[ingestStream]] — public so the spec can drive
    * batches directly and so a nightly BATCH ingest can reuse the exact
    * same gate (stream/batch parity by construction).
    */
  def ingestBatch(batch: Dataset[org.apache.spark.sql.Row], baseDir: String,
                  rules: Seq[graft.operators.DqRule], id: Long): Unit = {
    val spark = batch.sparkSession
    val (clean, quarantined) = dqQuarantineStream(batch.toDF(), rules)
    val banded = graft.operators.Dedup
      .bandExplode(graft.operators.Dedup.minhashSignatures(clean), carry = Nil)
      .select(col("band_id"), col("band_hash"), col("doc_id"))
      .persist()
    val prior = latestSnapshot(spark, s"$baseDir/index", IndexSchema, below = id)
    // bucket minima of THIS batch ∪ the prior index, bucket-wise min
    val batchMin = banded.groupBy(col("band_id"), col("band_hash"))
      .agg(min(col("doc_id")).as("bmin"))
    val merged = batchMin
      .join(prior, Seq("band_id", "band_hash"), "full_outer")
      .select(col("band_id"), col("band_hash"),
              least(coalesce(col("bmin"), col("canon_id")),
                    coalesce(col("canon_id"), col("bmin"))).as("canon_id"))
    // a doc is a dup when any of its buckets holds a smaller id (prior
    // batches via the index, this batch via the bucket minimum)
    val dupDocs = banded
      .join(merged, Seq("band_id", "band_hash"))
      .filter(col("doc_id") > col("canon_id"))
      .select(col("doc_id")).distinct()
    val accepted = clean.join(dupDocs, Seq("doc_id"), "left_anti")
    accepted.write.mode("overwrite").parquet(f"$baseDir/accepted/v$id%05d")
    quarantined.write.mode("overwrite").parquet(f"$baseDir/quarantine/v$id%05d")
    merged.write.mode("overwrite").parquet(f"$baseDir/index/v$id%05d")
    banded.unpersist()
    ()
  }

  /** The batch twin of the [[ingestStream]] near-dup gate over a STATIC
    * corpus (id-ordered ingestion): DQ split, then drop every doc whose
    * band bucket holds a smaller doc_id — [[nearDupAgainstPriorBatch]]'s
    * flagging inverted into a keep-filter. Returns (accepted, quarantined).
    */
  def ingestBatchTwin(docs: DataFrame,
                      rules: Seq[graft.operators.DqRule])
      : (DataFrame, DataFrame) = {
    val (clean, quarantined) = dqQuarantineStream(docs, rules)
    val dupDocs = nearDupAgainstPriorBatch(clean).select(col("doc_id")).distinct()
    (clean.join(dupDocs, Seq("doc_id"), "left_anti"), quarantined)
  }

  /** Streaming DQ quarantine lane — the declarative rule engine
    * ([[graft.operators.DqRules]]) applied at INGEST time instead of after
    * landing: every micro-batch row is tagged with the row-level rules it
    * violates, clean rows flow on, violators divert to the quarantine
    * sink WITH their violation tags (`_dq_violations`) so triage never
    * re-derives why a row was held. Works unchanged on a streaming frame
    * because row-level rules are stateless projections — no aggregation,
    * no watermark, fully pipelined inside the micro-batch (the split is
    * two sinks over one tagged source). Table-level rules (Unique,
    * RefIntegrity, KAnonymity) are deliberately rejected here: they have
    * no single offending row and require cross-batch state — they belong
    * to the landed-table [[graft.operators.DqRules.validate]] report, the
    * same split the CsvQuarantine batch lane draws. StreamingSpec proves
    * micro-batched output ≡ the batch `enforce` twin row-for-row,
    * tags included.
    */
  def dqQuarantineStream(stream: DataFrame,
                         rules: Seq[graft.operators.DqRule])
      : (DataFrame, DataFrame) = {
    require(rules.forall(_.violation.isDefined),
      "streaming DQ accepts row-level rules only (table-level rules need " +
      "cross-batch state; run them on the landed table via DqRules.validate)")
    val tags = array(rules.map(r =>
      when(r.violation.get, lit(r.name)).otherwise(lit(null))): _*)
    val tagged = stream.withColumn("_dq_violations", filter(tags, _.isNotNull))
    (tagged.filter(size(col("_dq_violations")) === 0).drop("_dq_violations"),
     tagged.filter(size(col("_dq_violations")) > 0))
  }

  case class LineArrival(o_orderkey: Long, ship_day: Long, qty_cents: Long)
  case class Milestone(o_orderkey: Long, first_ship_day: Long,
                       last_ship_day: Long, n_lines: Long, qty_cents: Long)

  /** Streaming accumulating snapshot — the Kimball milestone fact
    * (q_accumulating_snapshot) maintained INCREMENTALLY as line shipments
    * arrive: per-order typed state holds (first ship, last ship, line
    * count, quantity) and each micro-batch folds its arrivals in and
    * emits the REVISED milestone row — exactly the "UPDATE the fact row
    * as milestones land" semantics the mutable reference warehouse would
    * run, expressed as mapGroupsWithState in update mode. State per order
    * is four longs; all folds are min/max/add, so arrival order — across
    * or within micro-batches — cannot change the final row, and the
    * latest emission per key equals the batch twin on the same input
    * (StreamingSpec, including out-of-order arrivals). At scale the state
    * store shards by the order key across executors; orders stop
    * arriving after fulfilment, so idle state can be aged out with a
    * ProcessingTimeTimeout in a long-running deployment.
    */
  def milestoneStream(lines: Dataset[LineArrival]): Dataset[Milestone] = {
    import lines.sparkSession.implicits._
    lines.groupByKey(_.o_orderkey)
      .mapGroupsWithState[Milestone, Milestone](GroupStateTimeout.NoTimeout()) {
        (ok: Long, batch: Iterator[LineArrival], state: GroupState[Milestone]) =>
          val init = state.getOption
            .getOrElse(Milestone(ok, Long.MaxValue, Long.MinValue, 0L, 0L))
          val ms = batch.foldLeft(init) { (m, l) =>
            Milestone(ok, math.min(m.first_ship_day, l.ship_day),
                      math.max(m.last_ship_day, l.ship_day),
                      m.n_lines + 1L, m.qty_cents + l.qty_cents)
          }
          state.update(ms)
          ms
      }
  }

  /** Batch twin of [[milestoneStream]] — the same milestone fold as one
    * hash-agg (the integer-day core of q_accumulating_snapshot).
    */
  def milestoneBatch(lines: DataFrame): DataFrame =
    lines.groupBy(col("o_orderkey"))
      .agg(min(col("ship_day")).as("first_ship_day"),
           max(col("ship_day")).as("last_ship_day"),
           count(lit(1)).as("n_lines"),
           sum(col("qty_cents")).as("qty_cents"))
}

package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** Structured Streaming ↔ batch agreement: the same StreamOps transform fed
  * through a MemoryStream must produce exactly the rows of its batch
  * execution (SURVEY §2.2 — streaming is the declared growth path; batch
  * twins are the verified contract).
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val sample = Seq(
    (ts("2024-01-01 00:05:00"), 1L, 10.0),
    (ts("2024-01-01 00:45:00"), 1L, 20.0),
    (ts("2024-01-01 01:10:00"), 1L, 30.0), // next hour, >30min gap → new session
    (ts("2024-01-01 00:20:00"), 2L, 5.0),
    (ts("2024-01-01 02:00:00"), 2L, 7.0),
  )

  test("tumbling window: stream output equals batch execution") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val streamDf = mem.toDF().toDF("ts", "user_id", "value")
    val q = StreamOps.tumblingCounts(streamDf)
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tumbling_out")
      .orderBy("window_start").collect().toSeq
    val batch = StreamOps.tumblingCounts(sample.toDF("ts", "user_id", "value"))
      .orderBy("window_start").collect().toSeq
    assert(streamed === batch)
    assert(batch.map(_.getAs[Long]("n_events")).sum === sample.length)
  }

  test("session window: stream output equals batch execution") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val q = StreamOps.sessionCounts(mem.toDF().toDF("ts", "user_id", "value"))
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    mem.addData(sample: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("session_out")
      .orderBy("user_id", "session_start").collect().toSeq
    val batch = StreamOps.sessionCounts(sample.toDF("ts", "user_id", "value"))
      .orderBy("user_id", "session_start").collect().toSeq
    assert(streamed === batch)
    // user 1: 00:05 | 00:45+01:10 (40min gap splits, 25min gap merges) → 2
    // sessions; user 2: 00:20 | 02:00 → 2 sessions
    assert(batch.count(_.getAs[Long]("user_id") == 1L) === 2)
    assert(batch.count(_.getAs[Long]("user_id") == 2L) === 2)
  }

  test("flatMapGroupsWithState: per-user state accumulates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
      .as[StreamOps.UserEvent]
    val q = StreamOps.runningUserProfile(events)
      .writeStream.format("memory").queryName("running_out")
      .outputMode("append").start()
    // micro-batch 1
    mem.addData((ts("2024-01-01 00:05:00"), 1L, 10.0),
                (ts("2024-01-01 00:06:00"), 1L, 5.0))
    q.processAllAvailable()
    // micro-batch 2: state must carry over, not reset
    mem.addData((ts("2024-01-01 00:30:00"), 1L, 1.0),
                (ts("2024-01-01 00:31:00"), 2L, 7.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("running_out")
      .orderBy("user_id", "n_events").collect()
    val u1 = out.filter(_.getAs[Long]("user_id") == 1L)
    // two emissions for user 1: (2 events, 15.0) then (3 events, 16.0)
    assert(u1.map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSeq
      === Seq((2L, 15.0), (3L, 16.0)))
    val u2 = out.filter(_.getAs[Long]("user_id") == 2L)
    assert(u2.map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSeq
      === Seq((1L, 7.0)))
  }

  test("stream-stream interval join: stream output equals batch execution") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Timestamp, Long, Double)]
    val memB = MemoryStream[(Timestamp, Long, Double)]
    val dfA = memA.toDF().toDF("ts", "user_id", "value")
    val dfB = memB.toDF().toDF("ts", "user_id", "value")
    val q = StreamOps.intervalJoin(dfA, dfB)
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    val aRows = Seq((ts("2024-01-01 00:00:00"), 1L, 0.0),
                    (ts("2024-01-01 03:00:00"), 2L, 0.0))
    val bRows = Seq(
      (ts("2024-01-01 00:30:00"), 1L, 11.0), // within the hour → joins
      (ts("2024-01-01 02:30:00"), 1L, 12.0), // 2.5h later → no match
      (ts("2024-01-01 03:10:00"), 2L, 13.0)) // within → joins
    memA.addData(aRows: _*)
    memB.addData(bRows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ssjoin_out")
      .orderBy("user_id", "b_ts").collect().toSeq
    val batch = StreamOps.intervalJoin(
        aRows.toDF("ts", "user_id", "value"), bRows.toDF("ts", "user_id", "value"))
      .orderBy("user_id", "b_ts").collect().toSeq
    assert(streamed === batch)
    assert(batch.map(_.getAs[Double]("value")) === Seq(11.0, 13.0))
  }

  test("dedup within watermark: duplicate keys collapse across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamOps.dedupWithinWatermark(mem.toDF().toDF("ts", "user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    mem.addData((ts("2024-01-01 00:05:00"), 1L, "click"),
                (ts("2024-01-01 00:06:00"), 1L, "click"))   // same key, same batch
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 00:10:00"), 1L, "click"),   // same key, later batch
                (ts("2024-01-01 00:07:00"), 1L, "view"))    // new key
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"))).toSeq
    // state holds the key within the watermark horizon: exactly one row each
    assert(keys.sorted === Seq((1L, "click"), (1L, "view")))
  }

  test("foreachBatch merge: streamed micro-batches converge to the batch merge, versioned per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("merge_stream").toString
    val mem = MemoryStream[(Long, String, Double, Long)]
    val q = StreamOps.mergeStreamToSnapshot(
      mem.toDF().toDF("k", "status", "value", "seq"),
      base, keys = Seq("k"), updateCols = Seq("status", "value", "seq"),
      orderCol = "seq")
    // batch 0: two inserts, one key duplicated in-batch (latest seq wins)
    mem.addData((1L, "new", 10.0, 1L), (2L, "new", 20.0, 2L), (1L, "upd", 11.0, 3L))
    q.processAllAvailable()
    // batch 1: one update, one insert
    mem.addData((2L, "upd", 21.0, 4L), (3L, "new", 30.0, 5L))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$base/v00001")
      .orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("status"),
                 r.getAs[Double]("value"), r.getAs[Long]("seq"))).toSeq
    assert(got === Seq((1L, "upd", 11.0, 3L), (2L, "upd", 21.0, 4L), (3L, "new", 30.0, 5L)))
    // both versions exist (id-keyed idempotent publication), and the reader
    // helper picks the latest
    assert(new java.io.File(s"$base/v00000").isDirectory)
    val latest = StreamOps.latestSnapshot(spark, base,
        spark.read.parquet(s"$base/v00001").schema)
      .orderBy("k").collect().map(_.getAs[Long]("k")).toSeq
    assert(latest === Seq(1L, 2L, 3L))
  }

  test("left-outer interval join: unmatched rows emit NULL once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Timestamp, Long, Double)]
    val memB = MemoryStream[(Timestamp, Long, Double)]
    val q = StreamOps.intervalJoinOuter(
        memA.toDF().toDF("ts", "user_id", "value"),
        memB.toDF().toDF("ts", "user_id", "value"))
      .writeStream.format("memory").queryName("outer_join_out")
      .outputMode("append").start()
    // user 1: A at 00:05 with B match at 00:45; user 7: A at 00:10, no B ever
    memA.addData((ts("2024-01-01 00:05:00"), 1L, 1.0), (ts("2024-01-01 00:10:00"), 7L, 2.0))
    memB.addData((ts("2024-01-01 00:45:00"), 1L, 99.0))
    q.processAllAvailable()
    // advance BOTH watermarks far past the join window so the null emits
    memA.addData((ts("2024-01-01 09:00:00"), 99L, 0.0))
    memB.addData((ts("2024-01-01 09:00:00"), 98L, 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("outer_join_out").collect()
    val u1 = out.filter(_.getAs[Long]("user_id") == 1L)
    val u7 = out.filter(_.getAs[Long]("user_id") == 7L)
    assert(u1.length === 1 && u1.head.getAs[Double]("value") === 99.0)
    assert(u7.length === 1 && u7.head.isNullAt(u7.head.fieldIndex("b_ts")),
           "watermark-expired unmatched row must emit NULL-extended")
  }

  test("stream-static dim join: every micro-batch row enriched, stream equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val streamDf = mem.toDF().toDF("ts", "user_id", "value")
    val q = StreamOps.enrichWithDim(streamDf, dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    mem.addData(sample: _*)
    mem.addData((ts("2024-01-01 03:00:00"), 9L, 1.0)) // no dim row → left join keeps it
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("enrich_out")
      .orderBy("user_id", "ts").collect().toSeq
    val batch = StreamOps.enrichWithDim(
        (sample :+ ((ts("2024-01-01 03:00:00"), 9L, 1.0))).toDF("ts", "user_id", "value"), dim)
      .orderBy("user_id", "ts").collect().toSeq
    assert(streamed === batch)
    assert(streamed.count(_.isNullAt(3)) === 1, "unmatched key survives the left join")
  }

  test("streaming near-dup: id-ordered ingestion over real docs equals the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(docs.length > 50)
    val (h1, rest) = docs.splitAt(docs.length / 3)
    val (h2, h3) = rest.splitAt(docs.length / 3)
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF().toDF("doc_id", "text")
    val q = StreamOps.streamingNearDupCandidates(streamDf)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    // three id-ordered micro-batches — state carries canonicals across them
    mem.addData(h1: _*); q.processAllAvailable()
    mem.addData(h2: _*); q.processAllAvailable()
    mem.addData(h3: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("neardup_out")
      .select("doc_id", "band_id", "band_hash", "canon_id")
      .collect().map(_.toSeq).toSet
    val batch = StreamOps.nearDupAgainstPriorBatch(
        docs.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    // out-of-order: a smaller late id becomes canonical, NOT a dup
    val big = (900000L, docs.head._2)  // exact text of doc arriving later
    val small = (1L, "zz completely unrelated text qq ww ee rr tt yy uu ii")
    val mem2 = MemoryStream[(Long, String)]
    val q2 = StreamOps.streamingNearDupCandidates(
        mem2.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_ooo")
      .outputMode("append").start()
    mem2.addData(big); q2.processAllAvailable()
    mem2.addData(small); q2.processAllAvailable()
    mem2.addData((900001L, docs.head._2)); q2.processAllAvailable()
    q2.stop()
    val ooo = spark.table("neardup_ooo").collect()
    assert(!ooo.exists(_.getAs[Long]("doc_id") === 1L),
           "late small id is a new canonical, never flagged")
    assert(ooo.exists(r => r.getAs[Long]("doc_id") === 900001L &&
                           r.getAs[Long]("canon_id") === 900000L),
           "twin of the first-arrived doc links to the ARRIVAL canonical")
  }

  test("streaming DQ quarantine: micro-batched split equals the batch enforce twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{NotNull, InRange, InSet}
    val rules = Seq(NotNull("status"), InRange("amount", 0.0, 1000.0),
                    InSet("status", Seq("F", "O", "P")))
    // rows spanning clean, single-rule, and multi-rule violations
    val rows = Seq(
      (1L, "F", 10.0), (2L, "O", 999.0),          // clean
      (3L, null.asInstanceOf[String], 5.0),       // null status (NotNull only: InSet passes NULLs)
      (4L, "X", 50.0),                            // bad status
      (5L, "P", -3.0), (6L, "F", 5000.0),         // out of range
      (7L, null.asInstanceOf[String], 2000.0))    // everything wrong
    val mem = MemoryStream[(Long, String, Double)]
    val streamDf = mem.toDF().toDF("id", "status", "amount")
    val (clean, quar) = StreamOps.dqQuarantineStream(streamDf, rules)
    val q1 = clean.writeStream.format("memory").queryName("dq_clean")
      .outputMode("append").start()
    val q2 = quar.writeStream.format("memory").queryName("dq_quar")
      .outputMode("append").start()
    val (b1, b2) = rows.splitAt(3)
    mem.addData(b1: _*); q1.processAllAvailable(); q2.processAllAvailable()
    mem.addData(b2: _*); q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()
    val batch = graft.operators.DqRules.enforce(
      rows.toDF("id", "status", "amount"), rules)
    val sc = spark.table("dq_clean").collect().map(_.getAs[Long]("id")).toSet
    val bc = batch.clean.collect().map(_.getAs[Long]("id")).toSet
    assert(sc === bc && sc === Set(1L, 2L))
    val sq = spark.table("dq_quar")
      .select(col("id"), col("_dq_violations")).collect()
      .map(r => r.getAs[Long]("id") -> r.getSeq[String](1).toSet).toMap
    val bq = batch.quarantine
      .select(col("id"), col("_dq_violations")).collect()
      .map(r => r.getAs[Long]("id") -> r.getSeq[String](1).toSet).toMap
    assert(sq === bq, "violation tags must match the batch twin")
    assert(sq(7L).size === 2 && sq(3L).size === 1 && sq(4L).size === 1)
    // table-level rules are rejected loudly, not silently dropped
    intercept[IllegalArgumentException] {
      StreamOps.dqQuarantineStream(streamDf, Seq(graft.operators.Unique("id")))
    }
  }

  test("ingest stream: 3 id-ordered micro-batches ≡ the batch twin (DQ → dedup → merge)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Check, NotNull}
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val rules = Seq(NotNull("text"), Check("min_len", length(col("text")) < 10))
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words about spark query engines here now"),
      (3L, "short")) // DQ violation
    val b2 = Seq(
      (4L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
      (5L, "some fresh new sentence with plenty of words inside it"))
    val b3 = Seq(
      (6L, "completely different words about spark query engines here now"), // dup of 2
      (7L, "the quick brown fox jumps over the lazy dog today")) // dup of 1
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.ingestStream(mem.toDF().toDF("doc_id", "text"), dir, rules)
    Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    val acc = spark.read.parquet(s"$dir/accepted/*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val quar = spark.read.parquet(s"$dir/quarantine/*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch twin over the SAME full input
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    val (twinAcc, twinQuar) = StreamOps.ingestBatchTwin(all, rules)
    assert(acc === twinAcc.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(quar === twinQuar.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(acc === Set(1L, 2L, 5L), "dups 4/6/7 dropped, 3 quarantined")
    assert(quar === Set(3L))

    // idempotent replay: re-running a finished batch rewrites identical
    // content (the id-keyed overwrite discipline), not double-applies
    val before = spark.read.parquet(s"$dir/accepted/v00001")
      .collect().map(_.toSeq).toSet
    StreamOps.ingestBatch(b2.toDF("doc_id", "text"), dir, rules, 1L)
    val after = spark.read.parquet(s"$dir/accepted/v00001")
      .collect().map(_.toSeq).toSet
    assert(before === after)
  }

  test("ingest stream: FILE-backed source end-to-end — files landing in a " +
       "watched dir drive the same gates as MemoryStream (the declared " +
       "Kafka growth path at the semantics level)") {
    import graft.operators.{Check, NotNull}
    // the reference's growth path (README.md:390) is a message-bus feed;
    // Structured Streaming's file source has the same contract surface
    // (append-only arrivals, per-micro-batch progress tracking), so this
    // proves the ingest pipeline end-to-end off a REAL source: payload
    // files land in a watched directory exactly like HttpSnapshotSource's
    // pre-fetched payload dir, one json file per arrival wave
    val watch = java.nio.file.Files.createTempDirectory("graft_watch").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ingest_file").toString
    val rules = Seq(NotNull("text"), Check("min_len", length(col("text")) < 10))
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words about spark query engines here now"),
      (3L, "short")) // DQ violation
    val b2 = Seq(
      (4L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
      (5L, "some fresh new sentence with plenty of words inside it"))
    val b3 = Seq(
      (6L, "completely different words about spark query engines here now"), // dup of 2
      (7L, "the quick brown fox jumps over the lazy dog today")) // dup of 1
    def land(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$watch/$name.json"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("", "\n", "\n"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // schema DECLARED, never inferred (the CsvQuarantine discipline); one
    // file per trigger so each landed file is its own micro-batch
    land("b1", b1)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(watch)
    val q = StreamOps.ingestStream(src, out, rules)
    q.processAllAvailable()
    land("b2", b2); q.processAllAvailable()
    land("b3", b3); q.processAllAvailable()
    q.stop()

    val acc = spark.read.parquet(s"$out/accepted/*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val quar = spark.read.parquet(s"$out/quarantine/*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // identical gate outcomes to the MemoryStream + batch-twin runs
    assert(acc === Set(1L, 2L, 5L), "dups 4/6/7 dropped, 3 quarantined")
    assert(quar === Set(3L))
    // three arrival waves -> three versioned index snapshots, and the
    // band index still carries only minimal canonical state
    val vdirs = new java.io.File(s"$out/index").listFiles().map(_.getName).sorted
    assert(vdirs.length === 3)
    import spark.implicits._
    val canon = spark.read.parquet(s"$out/index/${vdirs.last}")
      .select("canon_id").as[Long].collect().toSet
    assert(canon.subsetOf(Set(1L, 2L, 5L)),
      "index canonicals must be accepted survivors")
  }

  test("ingest stream: out-of-order arrival keeps the arrival-defines-prior contract") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_ooo").toString
    val text = "the quick brown fox jumps over the lazy dog today"
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.ingestStream(mem.toDF().toDF("doc_id", "text"), dir, Nil)
    mem.addData((10L, text)); q.processAllAvailable() // big id lands first
    mem.addData((2L, text)); q.processAllAvailable()  // late small id
    mem.addData((11L, text)); q.processAllAvailable() // new dup after the canonical moved
    q.stop()
    val acc = spark.read.parquet(s"$dir/accepted/*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 10 was accepted on arrival and is NOT retro-flagged; the late 2
    // becomes the new canonical and is accepted too (the documented
    // arrival contract: a late small-id doc is never flagged); 11 then
    // flags against the UPDATED canonical 2
    assert(acc === Set(10L, 2L))
    val idx = spark.read.parquet(s"$dir/index/v00002")
      .select("canon_id").collect().map(_.getLong(0)).toSet
    assert(idx === Set(2L), "the index canonical must move to the smallest id seen")
  }

  test("newVsReturningStream: in-order flags aggregate to the batch twin, " +
       "late earlier days classify as returning") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // in-order feed over the real testdata, split into 3 micro-batches by day
    val ud = graft.util.Tables.events(spark, Sf)
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .distinct().orderBy("day", "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val days = ud.map(_._2).distinct.sorted
    val cut1 = days(days.length / 3); val cut2 = days(2 * days.length / 3)
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.newVsReturningStream(
        mem.toDF().toDF("user_id", "day").as[StreamOps.UserDayEvent])
      .toDF()
      .writeStream.format("memory").queryName("nvr_out")
      .outputMode("append").start()
    mem.addData(ud.filter(_._2 <= cut1).toSeq); q.processAllAvailable()
    mem.addData(ud.filter(r => r._2 > cut1 && r._2 <= cut2).toSeq); q.processAllAvailable()
    mem.addData(ud.filter(_._2 > cut2).toSeq); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("nvr_out")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_users"),
           sum(when(col("is_new"), 1L).otherwise(0L)).as("new_users"))
      .withColumn("returning_users", col("active_users") - col("new_users"))
      .orderBy("day").collect().map(_.toSeq).toSeq
    val batch = graft.operators.Windows.newVsReturning(spark, Sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)

    // out-of-order contract: a user's late EARLIER day returns, not news
    val mem2 = MemoryStream[(Long, Long)]
    val q2 = StreamOps.newVsReturningStream(
        mem2.toDF().toDF("user_id", "day").as[StreamOps.UserDayEvent])
      .toDF()
      .writeStream.format("memory").queryName("nvr_ooo")
      .outputMode("append").start()
    mem2.addData((1L, 10L)); q2.processAllAvailable()
    mem2.addData((1L, 3L)); q2.processAllAvailable()  // late earlier day
    mem2.addData((1L, 10L)); q2.processAllAvailable() // repeat: no re-emit
    q2.stop()
    val ooo = spark.table("nvr_ooo")
      .orderBy("day").collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Boolean]("is_new"))).toSeq
    assert(ooo === Seq((3L, false), (10L, true)))
  }

  test("milestoneStream: latest emission per order equals the batch milestone fold, " +
       "arrival order immaterial, and matches q_accumulating_snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // real lineitem rows at integer-day/cents grain, split into 3
    // micro-batches by a NON-chronological key (linenumber) so later
    // batches revise earlier milestones — the accumulating-snapshot case
    val li = graft.util.Tables.t(spark, Sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
              datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
                .cast("long").as("ship_day"),
              floor(col("l_quantity") * lit(100.0) + lit(0.5)).cast("long").as("qty_cents"))
      .collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber"),
                 r.getAs[Long]("ship_day"), r.getAs[Long]("qty_cents")))
    val mem = MemoryStream[(Long, Long, Long)]
    val q = StreamOps.milestoneStream(
        mem.toDF().toDF("o_orderkey", "ship_day", "qty_cents")
          .as[StreamOps.LineArrival])
      .toDF()
      .writeStream.format("memory").queryName("ms_out")
      .outputMode("update").start()
    for (ln <- Seq(Seq(1, 4, 6), Seq(3, 5, 7), Seq(2))) {
      mem.addData(li.filter(r => ln.contains(r._2)).map(r => (r._1, r._3, r._4)).toSeq)
      q.processAllAvailable()
    }
    q.stop()
    // per-key LATEST emission: n_lines is strictly increasing per key, so
    // the max-n_lines row is the final state
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("n_lines").desc)
    val streamed = spark.table("ms_out")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val batch = StreamOps.milestoneBatch(
        li.toSeq.toDF("o_orderkey", "l_linenumber", "ship_day", "qty_cents"))
      .select(col("o_orderkey"), col("first_ship_day"), col("last_ship_day"),
              col("n_lines"), col("qty_cents"))
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    // and the fold IS the oracled accumulating snapshot's lineitem core
    val snap = graft.operators.Warehouse.accumulatingSnapshot(spark, Sf)
      .select(col("o_orderkey"),
              datediff(col("first_ship"), lit("1970-01-01").cast("date"))
                .cast("long").as("first_ship_day"),
              datediff(col("last_ship"), lit("1970-01-01").cast("date"))
                .cast("long").as("last_ship_day"),
              col("n_lines"))
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(streamed.map(_.take(4)) === snap)
  }

  test("streaming paragraph dedup: micro-batched first-occurrence keep " +
       "set equals the batch parDedup twin under id-ordered ingestion") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.util.Tables.t(spark, Sf, "documents")
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (h1, rest) = docs.splitAt(docs.length / 3)
    val (h2, h3) = rest.splitAt(rest.length / 2)
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamOps.streamingParKeep(
        mem.toDF().toDF("doc_id", "text", "source"), 20)
      .writeStream.format("memory").queryName("parkeep_out")
      .outputMode("append").start()
    mem.addData(h1.toSeq: _*); q.processAllAvailable()
    mem.addData(h2.toSeq: _*); q.processAllAvailable()
    mem.addData(h3.toSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("parkeep_out")
      .select("doc_id", "par_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // sequential batch truth: first occurrence in (doc_id, par_idx) order
    val seen = scala.collection.mutable.Set.empty[String]
    val expect = docs.flatMap { case (id, text, _) =>
      val w = text.split(" ", -1)
      (0 until w.length by 20).flatMap { i =>
        val p = w.slice(i, math.min(i + 20, w.length)).mkString(" ")
        if (seen(p)) None else { seen += p; Some((id, (i / 20).toLong)) }
      }
    }.toSet
    assert(streamed === expect)
    // and the kept docs/paragraph counts agree with the batch operator
    val batchKept = graft.operators.Text.parDedup(spark, Sf, 20).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_pars") - r.getAs[Long]("n_removed"))).toMap
    val streamedPerDoc = streamed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    batchKept.foreach { case (id, nk) =>
      assert(streamedPerDoc.getOrElse(id, 0L) === nk, s"doc $id kept count")
    }
  }

  private val wireLines = Seq(
    graft.streaming.WireIngest.formatLine("berlin",
      """{"daily": {"time": ["2024-01-01"], "temperature_2m_max": [5.5],""" +
      """ "temperature_2m_min": [-1.0], "precipitation_sum": [0.3]}}"""),
    graft.streaming.WireIngest.formatLine("paris",
      """{"daily": {"time": ["2024-01-01"], "temperature_2m_max": [8.0],""" +
      """ "temperature_2m_min": [2.5], "precipitation_sum": [0.0]}}"""),
    graft.streaming.WireIngest.formatLine("oslo", """{"daily": not json"""),
    "no-tab-in-this-line")

  test("wire parser: stream output equals the batch lane's schema and " +
       "quarantine split, row for row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = graft.streaming.WireIngest
      .parsePayloadLines(mem.toDF(), sourceTag = "test")
      .writeStream.format("memory").queryName("wire_out")
      .outputMode("append").start()
    mem.addData(wireLines: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("wire_out")
    // batch twin: the same parser over a static frame
    val batch = graft.streaming.WireIngest
      .parsePayloadLines(wireLines.toDF("value"), sourceTag = "test")
    assert(rows(streamed.orderBy("city_name")) ===
           rows(batch.orderBy("city_name")))
    // quarantine contract: both malformed lines flagged, both good ones ok
    assert(streamed.filter(col("payload_ok")).count() === 2)
    assert(streamed.filter(!col("payload_ok")).count() === 2)
    // the clean lane feeds the batch payload parser unchanged — end-to-end
    // parity with the HTTP snapshot lane's downstream
    val parsed = graft.sources.WeatherApiSource.parsePayloads(
      streamed.filter(col("payload_ok"))
        .select(col("city_name"), col("payload_json")))
    assert(parsed.count() === 2)
    assert(rows(parsed.select("city_name", "temp_max").orderBy("city_name"))
           === Seq(Seq("berlin", BigDecimal("5.50")),
                   Seq("paris", BigDecimal("8.00"))).map(_.map {
                     case bd: BigDecimal => bd.bigDecimal; case x => x }))
  }

  test("socket adapter: lines pushed through a real TCP socket arrive " +
       "parsed — batch-identical rows") {
    val server = new java.net.ServerSocket(0)
    server.setSoTimeout(30000)
    val port = server.getLocalPort
    val q = graft.streaming.WireIngest
      .socketPayloadStream(spark, "localhost", port)
      .writeStream.format("memory").queryName("socket_out")
      .outputMode("append").start()
    try {
      val sock = server.accept() // the socket source dials us on start
      val w = new java.io.PrintWriter(
        new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"), true)
      wireLines.foreach(w.println)
      w.flush()
      // drain until all four lines land (receiver thread ↔ micro-batch race)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("socket_out").count() < wireLines.size &&
             System.nanoTime() < deadline) {
        q.processAllAvailable(); Thread.sleep(50)
      }
      sock.close()
    } finally { q.stop(); server.close() }
    import spark.implicits._
    val streamed = spark.table("socket_out")
    val batch = graft.streaming.WireIngest.parsePayloadLines(
      wireLines.toDF("value"), sourceTag = s"socket://localhost:$port")
    assert(rows(streamed.orderBy("city_name", "payload_json")) ===
           rows(batch.orderBy("city_name", "payload_json")))
  }

  test("wire-to-warehouse end-to-end: socket ingest → quarantine → streamed " +
       "MERGE → manifest-committed snapshot, asserted batch ≡ stream") {
    // the reference's full lifecycle (extract_weather.py fetch →
    // transform_load.sql MERGE → committed warehouse state) over only
    // public adapters: WireIngest.socketPayloadStream feeds a quarantine
    // lane (versioned per micro-batch) and a clean lane that parses to
    // typed staging rows and MERGEs into versioned snapshots
    // (StreamOps.mergeStreamToSnapshot); the final state is published
    // through the manifest commit protocol and read back via
    // SnapshotStore.readCommitted. The socket source instantiates per
    // query, so the two lanes are two subscriber connections — the test
    // writes each wire line to both (a fan-out tap).
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    val root = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val mergeDir = s"$root/merged"; val quarDir = s"$root/quarantine"
    val whDir = s"$root/warehouse"

    def payload(tmax: Double, tmin: Double, prec: Double) =
      s"""{"daily": {"time": ["2024-01-01"], "temperature_2m_max": [$tmax],""" +
      s""" "temperature_2m_min": [$tmin], "precipitation_sum": [$prec]}}"""
    val day1 = Seq(
      graft.streaming.WireIngest.formatLine("berlin", payload(5.5, -1.0, 0.3)),
      graft.streaming.WireIngest.formatLine("paris", payload(8.0, 2.5, 0.0)),
      graft.streaming.WireIngest.formatLine("oslo", """{"daily": not json"""))
    val day2 = Seq(
      graft.streaming.WireIngest.formatLine("berlin", payload(6.25, 0.0, 1.2)), // UPDATE
      graft.streaming.WireIngest.formatLine("rome", payload(12.0, 7.5, 0.0)),   // INSERT
      "no-tab-line") // → quarantine

    val keys = Seq("city_name", "date")
    // is_processed rides as an update column so INSERTs carry it (a pure
    // pass-through column is taken from the TARGET side, which is the
    // empty frame on the stream's first micro-batch)
    val upd = Seq("temp_max", "temp_min", "precipitation", "is_processed")
    def staging(df: org.apache.spark.sql.DataFrame) =
      graft.sources.WeatherApiSource.parsePayloads(
        df.filter(col("payload_ok"))
          .select(col("city_name"), col("payload_json")))

    val server = new java.net.ServerSocket(0)
    server.setSoTimeout(30000)
    val port = server.getLocalPort
    def wire() = graft.streaming.WireIngest
      .socketPayloadStream(spark, "localhost", port)
    val qQuar = wire().filter(!col("payload_ok"))
      .writeStream.outputMode("append")
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (!b.isEmpty) b.write.mode("overwrite").json(f"$quarDir/v$id%05d")
        ()
      }.start()
    val staged = staging(wire())
    val qMerge = StreamOps.mergeStreamToSnapshot(
      staged, mergeDir, keys, upd, orderCol = "date")

    def quarCount(): Long =
      scala.util.Try(spark.read.json(s"$quarDir/v*").count()).getOrElse(0L)
    def mergedNow() = StreamOps.latestSnapshot(spark, mergeDir, staged.schema)
    def berlinMax(): Option[java.math.BigDecimal] =
      mergedNow().filter(col("city_name") === "berlin")
        .collect().headOption.map(_.getDecimal(2))
    try {
      // both lanes dial in
      val socks = Seq(server.accept(), server.accept())
      val ws = socks.map(s => new java.io.PrintWriter(
        new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8"), true))
      def push(lines: Seq[String]): Unit =
        ws.foreach { w => lines.foreach(w.println); w.flush() }
      def drain(done: => Boolean): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!done && System.nanoTime() < deadline) {
          qQuar.processAllAvailable(); qMerge.processAllAvailable()
          Thread.sleep(50)
        }
        assert(done, "stream did not converge inside the deadline")
      }
      push(day1)
      drain(mergedNow().count() === 2 && quarCount() === 1)
      push(day2) // the berlin UPDATE lands in a later micro-batch by construction
      drain(mergedNow().count() === 3 && quarCount() === 2 &&
            berlinMax().exists(_.compareTo(new java.math.BigDecimal("6.25")) == 0))
      socks.foreach(_.close())
    } finally { qQuar.stop(); qMerge.stop(); server.close() }

    // batch twin: the same lifecycle as two batch MERGEs
    def parsedBatch(lines: Seq[String]) = staging(
      graft.streaming.WireIngest.parsePayloadLines(lines.toDF("value")))
    val expected = graft.operators.Warehouse.mergeUpsert(
      parsedBatch(day1), parsedBatch(day2), keys, upd, nullSafeKeys = false)
    val merged = mergedNow()
    assert(rows(merged.orderBy("city_name")) ===
           rows(expected.orderBy("city_name")))

    // manifest-committed publication: the stream's final state becomes an
    // atomically committed warehouse version, resolved via manifests only
    val v = graft.sources.SnapshotStore.commitSnapshot(merged, whDir)
    assert(v === 0L)
    assert(rows(graft.sources.SnapshotStore.readCommitted(spark, whDir)
                  .orderBy("city_name")) ===
           rows(expected.orderBy("city_name")))

    // the quarantine lane holds exactly the two malformed wire lines
    val quar = spark.read.json(s"$quarDir/v*")
    assert(quar.count() === 2)
    assert(quar.select("payload_ok").distinct().collect()
             .map(_.getBoolean(0)).toSeq === Seq(false))
  }

  test("rate-limited replay: each landed payload emitted exactly once, " +
       "parsed rows equal the batch lane") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val landed = Seq(
      ("berlin", """{"d": 1}"""), ("paris", """{"d": 2}"""),
      ("rome", """{"d": 3}"""))
      .toDF("city_name", "payload_json")
    landed.write.mode("overwrite").parquet(dir)
    val q = graft.streaming.WireIngest
      .ratePayloadReplay(spark, dir, rowsPerSec = 100)
      .writeStream.format("memory").queryName("replay_out")
      .outputMode("append").start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("replay_out").count() < 3 &&
             System.nanoTime() < deadline) {
        q.processAllAvailable(); Thread.sleep(50)
      }
    } finally q.stop()
    val streamed = spark.table("replay_out")
    // exactly once: three rows, no duplicates, all payload_ok
    assert(streamed.count() === 3)
    assert(streamed.select("city_name").distinct().count() === 3)
    assert(streamed.filter(!col("payload_ok")).count() === 0)
    assert(rows(streamed.select("city_name", "payload_json")
                  .orderBy("city_name")) ===
           rows(landed.orderBy("city_name")))
  }

  test("streaming ANN-index maintenance: arriving embedding batches encode " +
       "against the persisted index with zero refit — stream == batch, " +
       "centroids untouched") {
    import spark.implicits._
    import graft.operators.Ivf
    import graft.sources.SnapshotStore
    implicit val sqlCtx = spark.sqlContext
    val root = Ivf.buildIvfPqIndex(spark, Sf, 16, 8) // idempotent
    val centsBefore = rows(
      SnapshotStore.readCommitted(spark, s"$root/centroids").orderBy("centroid_id"))
    // "today's batch": the vec_id%10==9 arrivals as NEW ids (+100000 —
    // arriving vectors are new corpus members, not re-ingests), split
    // across two micro-batches (the ivfIncremental fixture, streamed)
    val arriving = graft.util.Tables.t(spark, Sf, "embeddings")
      .filter(col("vec_id") % 10 === 9)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0) + 100000L, r.getSeq[Float](1)))
    val (b0, b1) = arriving.splitAt(arriving.length / 2)
    val out = java.nio.file.Files.createTempDirectory("annstream").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.indexCodesStream(
      mem.toDF().toDF("vec_id", "embedding"), root, out)
    mem.addData(b0.toSeq: _*); q.processAllAvailable()
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    q.stop()
    // stream == batch: the appended code versions equal one batch encode
    val streamed = spark.read.parquet(s"$out/v00000", s"$out/v00001")
    val batch = Ivf.encodeVectors(
      Ivf.gatedQemb(graft.util.Tables.t(spark, Sf, "embeddings")
        .filter(col("vec_id") % 10 === 9)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))),
      SnapshotStore.readCommitted(spark, s"$root/centroids"),
      SnapshotStore.readCommitted(spark, s"$root/codebooks"))
    assert(rows(streamed).toSet === rows(batch).toSet)
    assert(streamed.count() === arriving.length.toLong)
    // no refit: the persisted centroids are byte-identical afterwards
    val centsAfter = rows(
      SnapshotStore.readCommitted(spark, s"$root/centroids").orderBy("centroid_id"))
    assert(centsAfter === centsBefore)
    // ...and the arrivals are SERVEABLE with zero rebuild: the serve path
    // over (base codes ∪ appended versions) surfaces new ids, and a new id
    // served alongside its identical-embedding base twin carries the SAME
    // ADC distance (determinism of the encode + scoring chain)
    val servedUnion = rows(
      Ivf.annIvfPqServed(spark, Sf, 16, 4, 8, 8, 10, Some(streamed)))
      .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long],
                 r(2).asInstanceOf[Long]))
    val newServed = servedUnion.filter(_._2 >= 100000L)
    assert(newServed.nonEmpty, "no appended vector reached any probe's top-k")
    val byProbe = servedUnion.groupBy(_._1)
    newServed.foreach { case (p, v, d) =>
      byProbe(p).find(_._2 == v - 100000L).foreach { case (_, _, d0) =>
        assert(d0 === d, s"clone $v adc $d != base twin ${v - 100000L} adc $d0")
      }
    }
    // ...and the lifecycle's last step is invisible to queries: compacting
    // (base ∪ streamed appends) into ONE snapshot with latest-wins serves
    // the identical batch — stream → append → compact → serve, continuous
    val all = SnapshotStore.readCommitted(spark, s"$root/codes")
      .withColumn("_ver", lit(0L))
      .unionByName(spark.read.parquet(s"$out/v00000").withColumn("_ver", lit(1L)))
      .unionByName(spark.read.parquet(s"$out/v00001").withColumn("_ver", lit(2L)))
    val compacted = graft.util.TopK.perGroup(all, Seq(col("vec_id")),
        Seq(col("_ver").desc), 1).drop("_ver", "rn")
    val cmpDir = java.nio.file.Files.createTempDirectory("annstreamcmp").toString
    SnapshotStore.commitSnapshot(compacted, s"$cmpDir/codes")
    val servedCompacted = rows(
      Ivf.annIvfPqServed(spark, Sf, 16, 4, 8, 8, 10,
        codesOverride = Some(SnapshotStore.readCommitted(spark, s"$cmpDir/codes"))))
      .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long],
                 r(2).asInstanceOf[Long]))
    assert(servedCompacted.toSet === servedUnion.toSet,
      "compaction changed the served answer — the lifecycle is not continuous")
  }

  test("cdcChangeFeed: tailing the three dimension versions through the " +
       "stream accumulates EXACTLY the batch cdcAllChanges log (first " +
       "batch primes state, no change rows)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Warehouse
    import graft.util.Tables.r4
    val feed = java.nio.file.Files.createTempDirectory("cdcfeed").toString
    def snapRows(v: Int): Seq[(Long, BigDecimal, String)] =
      rows(Warehouse.cdcSnap(spark, Sf, v)).map(r =>
        (r.head.asInstanceOf[Long],
         BigDecimal(r(1).asInstanceOf[java.math.BigDecimal]),
         r(2).asInstanceOf[String]))
    val mem = MemoryStream[(Long, BigDecimal, String)]
    val q = StreamOps.cdcChangeFeed(
      mem.toDF().toDF("o_orderkey", "p", "o_orderpriority"),
      feed, "o_orderkey", "p")
    (0 to 2).foreach { v =>
      mem.addData(snapRows(v): _*); q.processAllAvailable()
    }
    q.stop()
    // batch 0 primed: no changes dir for v00000
    val fs = new org.apache.hadoop.fs.Path(feed)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$feed/changes/v00000")),
      "the priming batch must emit no change rows")
    val streamed = rows(
      spark.read.parquet(s"$feed/changes/v00001", s"$feed/changes/v00002")
        .select(col("lsn"), col("o_orderkey"), col("op"),
                r4(col("img").cast("double")).as("price"))).toSet
    val batch = rows(
      Warehouse.cdcAllChanges(spark, Sf)
        .select(col("lsn"), col("o_orderkey"), col("op"), col("price"))).toSet
    assert(streamed === batch,
      s"stream feed != batch log (${streamed.size} vs ${batch.size} rows)")
    assert(streamed.nonEmpty)
  }

  test("cdcFeedBatch: redelivering a batch AFTER its state write " +
       "regenerates the same change rows, never an empty diff (r13 " +
       "ADVICE: crash between state write and checkpoint commit)") {
    import graft.operators.Warehouse
    import graft.streaming.StreamOps
    val feed = java.nio.file.Files.createTempDirectory("cdcredeliver").toString
    def snap(v: Int) = Warehouse.cdcSnap(spark, Sf, v)
      .select(col("o_orderkey"), col("p"))
    // normal delivery: batch 0 primes, batch 1 diffs against state/v00000
    StreamOps.cdcFeedBatch(snap(0), 0L, feed, "o_orderkey", "p")
    StreamOps.cdcFeedBatch(snap(1), 1L, feed, "o_orderkey", "p")
    val first = rows(spark.read.parquet(s"$feed/changes/v00001")
                       .select(col("lsn"), col("o_orderkey"), col("op"))).toSet
    assert(first.nonEmpty, "fixture produced no v1 changes")
    // crash scenario: state/v00001 exists, checkpoint did not commit —
    // the engine REDELIVERS batch 1. The old dir-count logic diffed the
    // batch against its own state (empty diff) and wiped changes/v00001.
    StreamOps.cdcFeedBatch(snap(1), 1L, feed, "o_orderkey", "p")
    val replayed = rows(spark.read.parquet(s"$feed/changes/v00001")
                          .select(col("lsn"), col("o_orderkey"), col("op"))).toSet
    assert(replayed === first,
      "redelivered batch rewrote its change log with different rows")
    // and the next batch is unaffected by the replay
    StreamOps.cdcFeedBatch(snap(2), 2L, feed, "o_orderkey", "p")
    val all = rows(
      spark.read.parquet(s"$feed/changes/v00001", s"$feed/changes/v00002")
        .select(col("lsn"), col("o_orderkey"), col("op"),
                graft.util.Tables.r4(col("img").cast("double")).as("price"))).toSet
    val batchLog = rows(
      Warehouse.cdcAllChanges(spark, Sf)
        .select(col("lsn"), col("o_orderkey"), col("op"), col("price"))).toSet
    assert(all === batchLog, "post-replay feed diverged from the batch log")
  }

  test("cdcConsumeStream: the feed's change files stream into a replica " +
       "that lands EXACTLY on the latest snapshot; a redelivered batch " +
       "re-applies idempotently and a stale batch is skipped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Warehouse
    import graft.streaming.StreamOps
    import graft.sources.SnapshotStore
    val feed = java.nio.file.Files.createTempDirectory("cdcfc").toString
    def snap(v: Int) = Warehouse.cdcSnap(spark, Sf, v)
      .select(col("o_orderkey"), col("p"))
    (0 to 2).foreach(v => StreamOps.cdcFeedBatch(
      snap(v), v.toLong, feed, "o_orderkey", "p"))
    // consumer seeds its replica from the base snapshot (enable-on-existing
    // emits nothing) and TAILS the feed's change files as a stream
    val root = java.nio.file.Files.createTempDirectory("cdccons").toString
    SnapshotStore.commitSnapshot(snap(0), s"$root/replica")
    val changeSchema = spark.read.parquet(s"$feed/changes/v00001").schema
    val mem = MemoryStream[(Long, Long, Long, BigDecimal)]
    val changeStream = mem.toDF()
      .toDF("lsn", "o_orderkey", "op", "img")
      .select(col("lsn"), col("o_orderkey"), col("op"),
              col("img").cast("decimal(30,4)").as("img"))
    val q = StreamOps.cdcConsumeStream(changeStream, root, "o_orderkey")
    def changeRows(v: Int): Seq[(Long, Long, Long, BigDecimal)] =
      rows(spark.read.schema(changeSchema).parquet(f"$feed/changes/v$v%05d"))
        .map(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long],
                   r(2).asInstanceOf[Long],
                   BigDecimal(r(3).asInstanceOf[java.math.BigDecimal])))
    Seq(1, 2).foreach { v =>
      mem.addData(changeRows(v): _*); q.processAllAvailable()
    }
    q.stop()
    def replicaNow() = rows(
      SnapshotStore.readCommitted(spark, s"$root/replica")
        .select(col("o_orderkey"), col("p"))).toSet
    val streamed = replicaNow()
    assert(streamed === rows(snap(2)).toSet,
      "streamed replica != latest snapshot")
    // and it EQUALS the batch consumer's replica on the same history
    val batchReplica = rows(
      Warehouse.cdcIncrementalConsume(spark, Sf)
        .select(col("o_orderkey"), col("price"))).map(_.head).toSet
    assert(streamed.map(_.head) === batchReplica,
      "stream consumer and batch consumer diverge on the same history")
    // redelivery of the LATEST batch id (crash between replica commit and
    // bookmark advance): re-applies, state unchanged
    val nVersions = SnapshotStore.committedVersions(spark, s"$root/replica").size
    StreamOps.cdcApplyBatch(
      spark.read.schema(changeSchema).parquet(s"$feed/changes/v00002")
        .select(col("lsn"), col("o_orderkey"), col("op"),
                col("img").cast("decimal(30,4)").as("img")),
      2L, root, "o_orderkey")
    assert(replicaNow() === streamed, "redelivered latest batch changed state")
    // a STALE batch (id below the bookmark) is skipped outright — applying
    // lsn-1 images now would resurrect values lsn-2 already overwrote
    StreamOps.cdcApplyBatch(
      spark.read.schema(changeSchema).parquet(s"$feed/changes/v00001")
        .select(col("lsn"), col("o_orderkey"), col("op"),
                col("img").cast("decimal(30,4)").as("img")),
      1L, root, "o_orderkey")
    assert(replicaNow() === streamed, "stale batch was re-applied")
    assert(SnapshotStore.committedVersions(spark, s"$root/replica").size
             >= nVersions, "sanity: version listing readable")
  }

  private val MergeCols = Seq("k", "status", "value", "seq")

  /** Runs `body` with adaptive execution off. With it on, the exchange
    * under a join finishes reading its input before an overwrite deletes
    * the output directory, which hides a batch that reads the directory it
    * overwrites; with it off the scan runs inside the writing stage.
    */
  private def withoutAqe(body: => Unit): Unit = {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, was)
  }

  test("mergeBatch: the latest batch delivered again after its write " +
       "rewrites the same version, never an empty one") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("merge_replay").toString
    def merge(rs: Seq[(Long, String, Double, Long)], id: Long): Unit =
      StreamOps.mergeBatch(rs.toDF(MergeCols: _*), id, base, Seq("k"),
                           Seq("status", "value", "seq"), "seq")
    val b1 = Seq((2L, "upd", 21.0, 3L), (3L, "new", 30.0, 4L))
    merge(Seq((1L, "new", 10.0, 1L), (2L, "new", 20.0, 2L)), 0L)
    merge(b1, 1L)
    def v1() = rows(spark.read.parquet(s"$base/v00001")).toSet
    val first = v1()
    assert(first === Set(Seq(1L, "new", 10.0, 1L), Seq(2L, "upd", 21.0, 3L),
                         Seq(3L, "new", 30.0, 4L)))
    // v00001 is the latest version: the redelivery must merge onto v00000
    // again, not read the directory it is about to overwrite
    withoutAqe(merge(b1, 1L))
    assert(v1() === first, "redelivered batch changed its own version")
    assert(graft.sources.SnapshotStore.snapshotVersions(spark, base) ===
           Seq(0L, 1L))
  }

  test("ingestBatch: the latest batch delivered again after its write " +
       "leaves accepted, quarantine and index unchanged") {
    import spark.implicits._
    import graft.operators.{Check, NotNull}
    val dir = java.nio.file.Files.createTempDirectory("ingest_replay").toString
    val rules = Seq(NotNull("text"), Check("min_len", length(col("text")) < 10))
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words about spark query engines here now"),
      (3L, "short"))
    val b1 = Seq(
      (4L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
      (5L, "some fresh new sentence with plenty of words inside it"),
      (6L, "tiny"))
    StreamOps.ingestBatch(b0.toDF("doc_id", "text"), dir, rules, 0L)
    StreamOps.ingestBatch(b1.toDF("doc_id", "text"), dir, rules, 1L)
    def sinks() = Seq("accepted", "quarantine", "index").map(d =>
      rows(spark.read.parquet(s"$dir/$d/v00001")).map(_.toString).toSet)
    val first = sinks()
    assert(first.head.size === 1, "doc 5 accepted, its dup 4 dropped")
    assert(first(1).size === 1, "doc 6 quarantined")
    withoutAqe(StreamOps.ingestBatch(b1.toDF("doc_id", "text"), dir, rules, 1L))
    assert(sinks() === first, "redelivered batch changed its own versions")
  }

  test("mergeStreamToSnapshot: a restarted query continues its batch ids, " +
       "so the post-restart batch reaches the latest snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("merge_restart").toString
    val mem = MemoryStream[(Long, String, Double, Long)]
    def start() = StreamOps.mergeStreamToSnapshot(
      mem.toDF().toDF(MergeCols: _*), base, Seq("k"),
      Seq("status", "value", "seq"), "seq")
    val q1 = start()
    mem.addData((1L, "new", 10.0, 1L)); q1.processAllAvailable()
    mem.addData((2L, "new", 20.0, 2L)); q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    mem.addData((3L, "new", 30.0, 3L)); q2.processAllAvailable()
    q2.stop()
    val schema = spark.read.parquet(s"$base/v00000").schema
    val latest = StreamOps.latestSnapshot(spark, base, schema)
      .orderBy("k").collect().map(_.getAs[Long]("k")).toSeq
    assert(latest === Seq(1L, 2L, 3L), "post-restart batch is not visible")
    assert(graft.sources.SnapshotStore.snapshotVersions(spark, base) ===
           Seq(0L, 1L, 2L))
  }

  test("ingestStream: a restarted query continues its batch ids, so the " +
       "post-restart batch reaches the latest band index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_restart").toString
    val mem = MemoryStream[(Long, String)]
    def start() = StreamOps.ingestStream(
      mem.toDF().toDF("doc_id", "text"), dir, Nil)
    val q1 = start()
    mem.addData((1L, "the quick brown fox jumps over the lazy dog today"))
    q1.processAllAvailable()
    mem.addData((2L, "completely different words about spark query engines here now"))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    mem.addData((3L, "some fresh new sentence with plenty of words inside it"))
    q2.processAllAvailable()
    q2.stop()
    val vs = graft.sources.SnapshotStore.snapshotVersions(spark, s"$dir/index")
    assert(vs === Seq(0L, 1L, 2L))
    val canon = spark.read.parquet(f"$dir/index/v${vs.last}%05d")
      .select("canon_id").as[Long].collect().toSet
    assert(canon === Set(1L, 2L, 3L), "post-restart batch is not in the index")
  }
}

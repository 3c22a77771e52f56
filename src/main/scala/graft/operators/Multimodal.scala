package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** Multimodal-column plumbing: media as opaque `binary` payloads + typed
  * metadata, decoded batch-wise per partition.
  *
  * The decode itself is a clearly-marked deterministic STUB (image/audio
  * codecs are not in this container) — what is real and tested is the
  * Spark-side shape a 100 TB media pipeline needs:
  *  - binary column + typed metadata schema (payload never leaves binary);
  *  - partition-batched processing via `mapPartitions` over a typed
  *    Dataset (the Scala analogue of `mapInPandas` batch decode: one
  *    decoder init per partition, not per row);
  *  - decoded features land in a columnar DataFrame for downstream
  *    relational ops.
  */
object Multimodal {

  case class MediaIn(doc_id: Long, payload: Array[Byte])
  case class MediaMeta(doc_id: Long, byte_len: Long, media_format: String,
                       width: Long, height: Long, n_frames: Long)

  /** STUB decoder: deterministic pseudo-metadata derived from doc_id and
    * payload size. A real deployment replaces the body with an actual codec
    * call (e.g. javax.imageio / ffmpeg JNI) — signature and batching stay.
    */
  def decodeStub(m: MediaIn): MediaMeta = {
    val fmt = Seq("jpeg", "png", "webp")((m.doc_id % 3).toInt)
    MediaMeta(
      doc_id = m.doc_id,
      byte_len = m.payload.length.toLong,
      media_format = fmt,
      width = 64L + (m.doc_id * 2654435761L) % 512L,
      height = 64L + (m.doc_id * 40503L) % 512L,
      n_frames = 1L + m.doc_id % 30L)
  }

  /** Decoded metadata as an unordered columnar frame — the shared decode
    * stage: binary encode → partition-batched decode → columnar metadata.
    */
  def decodedMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = t(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaIn]
    // one decoder instance per partition: init cost amortizes over the batch
    media.mapPartitions { batch => batch.map(decodeStub) }.toDF()
  }

  /** Media metadata extraction over binary payloads. Documents' text bytes
    * stand in for media blobs (the testdata has no real media); the
    * pipeline — binary encode → partition-batched decode → columnar
    * metadata — is the real thing.
    */
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame =
    ordered(decodedMeta(spark, sfDir), "doc_id")

  /** Aspect-preserving resize planning: fit each media's (width, height)
    * into a `box`×`box` target, never upscaling — the geometry stage of an
    * image pipeline, pure per-row arithmetic over decoded metadata (zero
    * shuffle; the actual pixel resample would run inside the same
    * partition-batched decoder as decodeStub).
    */
  def mediaResize(spark: SparkSession, sfDir: String, box: Int = 224): DataFrame = {
    val scale = least(lit(1.0),
      least(lit(box.toDouble) / col("width"), lit(box.toDouble) / col("height")))
    ordered(
      decodedMeta(spark, sfDir)
        .select(col("doc_id"), col("width"), col("height"),
                greatest(lit(1L), floor(col("width") * scale).cast("long")).as("out_w"),
                greatest(lit(1L), floor(col("height") * scale).cast("long")).as("out_h")),
      "doc_id")
  }

  case class MediaFeat(doc_id: Long, dim: Int, feat_0: Double, l2: Double)

  /** Feature extraction over binary payloads: one stub embedding per media,
    * computed batch-wise in mapPartitions (the exact shape a real
    * CLIP/whisper encoder plugs into — model loads once per partition,
    * batch runs through it). The stub derives a `dim`-float vector from the
    * payload's byte length with double-precision arithmetic, so the
    * reported first component and L2 norm are engine-portable and the
    * whole pipeline stays oracled despite running through typed JVM code.
    */
  def mediaEmbedStub(spark: SparkSession, sfDir: String, dim: Int = 16): DataFrame = {
    import spark.implicits._
    val media = t(spark, sfDir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaIn]
    val feats = media.mapPartitions { batch =>
      // a real encoder initializes here, once per partition
      batch.map { m =>
        val len = m.payload.length.toLong
        val ints = Array.tabulate(dim)(j => (len * 131L + 37L * j) % 1000L)
        // norm from the exact integer sum of squares, then ONE division —
        // float-summation order can never move the result across engines
        MediaFeat(m.doc_id, dim, ints.head.toDouble / 1000.0,
                  math.sqrt(ints.map(x => x * x).sum.toDouble) / 1000.0)
      }
    }
    ordered(
      feats.toDF().select(col("doc_id"), col("dim"),
                          r4(col("feat_0")).as("feat_0"), r4(col("l2")).as("l2")),
      "doc_id")
  }

  /** Frame sampling over decoded video metadata: every `step`-th frame index
    * per media becomes a row (the shape a frame-extraction stage fans out
    * on before per-frame feature UDFs), with a deterministic stub luma
    * feature standing in for the decoded frame statistic. sequence+explode
    * generates frames distributed — a 30-frame/media corpus fans out 6× at
    * step 5 with zero shuffle; downstream per-frame work partitions freely.
    */
  def frameSample(spark: SparkSession, sfDir: String, step: Int = 5): DataFrame =
    ordered(
      decodedMeta(spark, sfDir)
        .select(col("doc_id"), col("n_frames"),
                explode(sequence(lit(0L), col("n_frames") - 1L, lit(step.toLong)))
                  .as("frame_idx"))
        .withColumn("luma_stub",
          r4(((col("doc_id") * 31L + col("frame_idx") * 7L) % 256L).cast("double")
             / lit(255.0))),
      "doc_id", "frame_idx")

  /** The 8 aHash band bytes per document — the banding signature
    * [[mediaDedup]] joins candidates on (exposed to the spec so the
    * bucketed candidate bound is asserted against the real signature).
    */
  private[graft] def aHashBands(spark: SparkSession, sfDir: String): DataFrame = {
    val d = t(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val chars = d.select(col("doc_id"), length(col("text")).cast("long").as("len"),
        posexplode(split(col("text"), "")).as(Seq("p", "c")))
      .select(col("doc_id"), col("len"), col("p").cast("long").as("p"),
              ascii(col("c")).cast("long").as("code"))
    val luma = chars.groupBy(col("doc_id"), expr("p * 64 div len").as("seg"))
      .agg(sum(col("code")).as("luma"))
    val tot = luma.groupBy(col("doc_id")).agg(sum(col("luma")).as("total"))
    // dense 64-segment grid per doc: payloads shorter than 64 chars leave
    // empty segments, which must still contribute a 0 bit
    val grid = d.select(col("doc_id"), explode(sequence(lit(0L), lit(63L))).as("seg"))
    val pow2 = array((0 until 8).map(i => lit(1L << i)): _*)
    grid.join(luma, Seq("doc_id", "seg"), "left")
      .join(tot, "doc_id")
      .select(col("doc_id"), expr("seg div 8").as("band"),
              when(coalesce(col("luma"), lit(0L)) * 64 > col("total"), 1L)
                .otherwise(0L).as("bit"),
              element_at(pow2, (col("seg") % 8 + 1).cast("int")).as("w"))
      .groupBy(col("doc_id"), col("band"))
      .agg(sum(col("bit") * col("w")).as("bv"))
  }

  /** Hot-bucket cap for the aHash banding join (the
    * [[graft.operators.Dedup]] clone-corpus guard, measured here: the 10×
    * perturbed decade's 50k docs put 2,305 hashes in the hottest
    * (band, value) bucket and 84.25M pairs in the uncapped join — 6.7% of
    * all-pairs, quadratic; with buckets over this cap star-linked through
    * their min-id anchor the volume is 741k, 0.06%). Cold buckets keep the
    * full pigeonhole guarantee (hamming ≤ 7 ⇒ ≥1 shared band); hot-bucket
    * members are compared only against the anchor — the documented recall
    * tradeoff, and a no-op at gate scale (hottest sf0.001/sf0.01 bucket:
    * 29 members).
    */
  val BandCap = 64

  /** Banded candidate pairs (a_id < b_id), hot buckets star-linked — the
    * generation stage [[mediaDedup]] verifies (exposed so the spec asserts
    * the bucketed volume bound against the real generator).
    */
  private[graft] def aHashCandidates(bands: DataFrame): DataFrame = {
    val bstat = bands.groupBy(col("band"), col("bv"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("anchor"))
    val tagged = bands.join(bstat, Seq("band", "bv"))
    val cold = tagged.filter(col("n") <= BandCap)
    val coldPairs = cold.select(col("band"), col("bv"), col("doc_id").as("a_id"))
      .join(cold.select(col("band"), col("bv"), col("doc_id").as("b_id")),
            Seq("band", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    val hotPairs = tagged
      .filter(col("n") > BandCap && col("doc_id") > col("anchor"))
      .select(col("anchor").as("a_id"), col("doc_id").as("b_id"))
    coldPairs.union(hotPairs).distinct()
  }

  /** Perceptual-hash (average-hash) NEAR-DUPLICATE detection over decoded
    * media — the image-dedup modality every multimodal training pipeline
    * runs (r11-verdict item 5), on the same deterministic decode stand-in
    * as [[decodeStub]]: the payload's byte stream (documents' UTF-8 text
    * bytes, surfaced as per-character code points — the corpus is ASCII)
    * plays the decoded pixel grid. The real aHash recipe, re-expressed
    * relationally:
    *  1. "resize" to 64 cells: character p of an L-char payload lands in
    *     segment p·64 div L; the cell "luma" is the segment's code-point
    *     sum (a real deployment sums pixel lumas inside the partition-
    *     batched decoder — same shape);
    *  2. threshold at the global mean WITHOUT division (luma·64 > total);
    *  3. the 64 bits pack into 8 band BYTES (values 0..255) — the
    *     SimHash-style banding key: two hashes within Hamming distance 7
    *     must agree on ≥1 of 8 bands, so candidates are generated by an
    *     equality JOIN on (band, value), never all-pairs;
    *  4. verification: exact Hamming distance = Σ_bands bit_count(a⊕b)
    *     over the 8-row band join, duplicates at ≤ `thr`, keep-lowest-id
    *     (the [[graft.operators.Ivf.semanticDedupGated]] rule).
    * Everything is integer arithmetic → fully DuckDB-oracled. Scale: the
    * hash is one scan + two hash-aggs; candidate volume is Σ_{cold bucket}
    * n·(n−1)/2 + Σ_{hot bucket} (n−1) — buckets over [[BandCap]] members
    * star-link through their min-id anchor ([[aHashCandidates]], the
    * MinHash-banding hot-bucket guard with MEASURED decade numbers in its
    * scaladoc; Round12OpsSpec pins the volume bound against the real
    * generator).
    */
  def mediaDedup(spark: SparkSession, sfDir: String, thr: Int = 6): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val d = t(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val bands = aHashBands(spark, sfDir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = aHashCandidates(bands)
    val ham = cand
      .join(bands.select(col("doc_id").as("a_id"), col("band"),
                         col("bv").as("av")), Seq("a_id"))
      .join(bands.select(col("doc_id").as("b_id"), col("band"),
                         col("bv").as("bvb")), Seq("b_id", "band"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(bit_count(col("av").bitwiseXOR(col("bvb"))).cast("long"))
             .as("hamming"))
      .filter(col("hamming") <= thr)
    val dup = ham.groupBy(col("b_id"))
      .agg(min(col("a_id")).as("dup_of"), min(col("hamming")).as("min_hamming"))
    ordered(
      d.select(col("doc_id"))
        .join(dup, col("doc_id") === col("b_id"), "left")
        .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
                col("dup_of"), col("min_hamming")),
      "doc_id")
  }

  /** Audio-style segmentation planning: cut each media's duration into
    * overlapping windows (30 s window, 25 s stride — the standard ASR
    * chunking shape) as (chunk_idx, start, end) rows. Stub duration derives
    * from doc_id (the decode stand-in, same policy as decodeStub); the
    * fan-out is sequence+explode — distributed, zero shuffle, each chunk
    * row ready for the per-chunk decode/transcribe UDF downstream. The
    * final short window clamps to the duration; strides beyond it generate
    * nothing (start stays < duration by construction).
    */
  def mediaChunk(spark: SparkSession, sfDir: String,
                 winMs: Long = 30000L, strideMs: Long = 25000L): DataFrame =
    ordered(
      t(spark, sfDir, "documents")
        .select(col("doc_id"),
                (lit(1000L) + (col("doc_id") * 7919L) % 600000L).as("duration_ms"))
        .select(col("doc_id"), col("duration_ms"),
                explode(sequence(lit(0L), col("duration_ms") - 1L, lit(strideMs)))
                  .as("chunk_start"))
        .withColumn("chunk_idx", expr(s"chunk_start div ${strideMs}L"))
        .withColumn("chunk_end", least(col("chunk_start") + winMs, col("duration_ms")))
        .select(col("doc_id"), col("duration_ms"), col("chunk_idx"),
                col("chunk_start"), col("chunk_end")),
      "doc_id", "chunk_idx")
}

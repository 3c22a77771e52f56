package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Iterate
import graft.util.Tables._

/** Near-duplicate detection for LLM-data pipelines: MinHash+LSH and SimHash.
  * Neither is ANSI-SQL-expressible (xxhash64 signatures), so these are
  * no-oracle operators — covered by unit tests instead (DedupSpec).
  *
  * Scale design: both avoid any O(n²) comparison. Candidate generation is
  * banded LSH — docs collide only inside a (band, bucket) shuffle key, so
  * the self-join is per-bucket; the full cross join never materializes.
  * Signatures are fixed-width (32 longs / 1 long), so the shuffled rows are
  * tiny regardless of document size — the 100 TB corpus shuffles ~40 bytes
  * per doc per band.
  */
object Dedup {

  val NumHashes = 32
  val Bands = 8 // → 4 rows per band; P(collide) = 1-(1-j^4)^8 for Jaccard j

  /** Hot-bucket guard: a bucket with more members than this switches from
    * all-pairs to star linking. Mass-duplicate corpora (the 100 TB failure
    * mode: thousands of identical boilerplate pages collapse into one
    * bucket) would otherwise generate a per-bucket n² candidate set.
    */
  val HotBucketCap = 64

  /** Candidate pairs from LSH buckets, hot-bucket-capped. `banded` must hold
    * one row per (bucket keys, id, payload…). Buckets with ≤ cap members
    * emit all pairs (id_a < id_b); larger buckets emit each member paired
    * with the bucket's min-id anchor only — still O(n) per bucket, and a
    * duplicate CLUSTER stays connected through its canonical representative,
    * which is exactly what downstream connected-components dedup needs.
    * Output columns: `<c>_a` / `<c>_b` for id and each payload column,
    * deduped across buckets/bands. Both legs join on the bucket keys — the
    * same shuffle the uncapped self-join already paid; the member count and
    * anchor ride along from one extra aggregate on that key.
    *
    * The banded input is persisted (MEMORY_AND_DISK): it feeds four plan
    * legs (stats aggregate, stats join, both self-join sides) whose
    * differing output aliases defeat Spark's exchange reuse, so an
    * unpersisted input would recompute the upstream signature pipeline —
    * the expensive part — once per leg (measured 2× wall time). This is
    * the same move a 100 TB pipeline makes by writing the signature table
    * before self-joining it; entries are evicted LRU and each is
    * fixed-width per doc, never document text.
    */
  def bucketCandidates(banded: DataFrame, bucketKeys: Seq[String], idCol: String,
                       payloadCols: Seq[String], cap: Int = HotBucketCap): DataFrame = {
    val carried = idCol +: payloadCols
    val bandedP = banded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = bandedP.groupBy(bucketKeys.map(col): _*)
      .agg(count(lit(1)).as("_bn"), min(col(idCol)).as("_anchor"))
    val bs = bandedP.join(stats, bucketKeys)
    def side(df: DataFrame, sfx: String) =
      df.select(bucketKeys.map(col) ++ carried.map(c => col(c).as(s"${c}_$sfx")): _*)
    val small = bs.filter(col("_bn") <= cap)
    val smallPairs = side(small, "a").join(side(small, "b"), bucketKeys)
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
    val hot = bs.filter(col("_bn") > cap)
    val hotPairs = side(hot.filter(col(idCol) === col("_anchor")), "a")
      .join(side(hot.filter(col(idCol) =!= col("_anchor")), "b"), bucketKeys)
    smallPairs.unionByName(hotPairs)
      .select(carried.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
      .dropDuplicates(s"${idCol}_a", s"${idCol}_b")
  }

  /** Per-doc MinHash signature in ONE codegen map pass — the fused
    * [[graft.functions.MinHashSig]] expression walks a document's shingles
    * keeping 32 running minimums, so signature generation involves NO
    * aggregation and NO shuffle at all: the first exchange in the whole
    * dedup pipeline is the LSH band shuffle of 256-byte signatures. At
    * 100 TB this removes the exploded-shingle aggregation state entirely.
    * Bit-identical to [[minhashSignaturesExploded]] (DedupSimilaritySpec
    * cross-checks all three paths).
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
                call_function("minhash_sig", col("text"), lit(NumHashes)).as("sig"))
      .filter(size(col("sig")) > 0)
  }

  /** The compositional formulation the fused expression replaces: explode
    * distinct 3-gram shingles, take the min of xxhash64(seed, shingle) per
    * seed (one explode + one hash-agg with map-side partial min). Kept as
    * the differential twin for the kernel — and as the shape a plain-SQL
    * user without the extension jar would write.
    */
  def minhashSignaturesExploded(docs: DataFrame): DataFrame = {
    val sh = Text.shingleRows(docs).withColumnRenamed("s", "sh")
    val minExprs = (0 until NumHashes).map(s => min(xxhash64(lit(s), col("sh"))).as(s"h$s"))
    sh.groupBy(col("doc_id"))
      .agg(minExprs.head, minExprs.tail: _*)
      .select(col("doc_id"), array((0 until NumHashes).map(s => col(s"h$s")): _*).as("sig"))
  }

  /** LSH banding → hot-bucket-capped candidate pairs → Jaccard estimate
    * from signature agreement. Returns the top-k pairs (est desc, ids asc)
    * OVER THE CAPPED CANDIDATE SET: inside a bucket bigger than
    * [[HotBucketCap]] only anchor-linked pairs exist, so non-anchor pairs
    * of a mass-duplicate cluster (which all have the same estimate as the
    * anchor pairs) are represented by their anchor, not enumerated.
    */
  def minhashPairs(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    minhashPairsFor(t(spark, sfDir, "documents"), k)

  /** DataFrame-level minhash pipeline (spec entry point for synthetic
    * mass-duplicate corpora).
    */
  def minhashPairsFor(docs: DataFrame, k: Int): DataFrame =
    pairsFromSignatures(minhashSignatures(docs), k)

  /** Same pipeline with signatures computed by the typed
    * [[graft.functions.MinHashAggregator]] UDAF instead of the expression
    * path — bit-identical signatures (cross-checked in DedupSimilaritySpec),
    * registered as its own query so the custom Aggregator executes in the
    * driver gate, not just in unit tests.
    */
  def minhashPairsUdaf(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    pairsFromSignatures(minhashSignaturesUdaf(t(spark, sfDir, "documents")), k)

  /** MinHash signatures via the typed UDAF (partial+final elementwise-min
    * merge, 256-byte buffer per doc — same shuffle profile as the
    * expression path). Registered through functions.udaf so it runs inside
    * the untyped hash-aggregate operator on a plain groupBy — the
    * groupByKey/mapValues typed route would re-encode every shingle row
    * through the object path (measured ~2.5× slower).
    */
  def minhashSignaturesUdaf(docs: DataFrame): DataFrame = {
    val mh = udaf(new graft.functions.MinHashAggregator(NumHashes),
                  org.apache.spark.sql.Encoders.BINARY)
    Text.shingleRows(docs)
      .groupBy(col("doc_id")).agg(mh(col("s").cast("binary")).as("sig"))
  }

  /** Explodes a (doc_id, sig, …) signature frame to one row per LSH band:
    * band hash = xxhash64 over the band's signature slice. Map-only.
    */
  def bandExplode(sigs: DataFrame, carry: Seq[String] = Seq("sig")): DataFrame = {
    val rowsPerBand = NumHashes / Bands
    sigs.select(
      col("doc_id") +: carry.map(col) :+
      posexplode(array((0 until Bands).map { b =>
        xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("sig"), i + 1)): _*)
      }: _*)).as(Seq("band_id", "band_hash")): _*)
  }

  /** Banding + hot-bucket-capped candidates + agreement estimate over a
    * (doc_id, sig) signature table — the full scored candidate stream
    * (no order/limit), shared by the top-k queries and the component
    * clustering below.
    */
  def scoredPairs(sigs: DataFrame): DataFrame = {
    val banded = bandExplode(sigs)
    val cand = bucketCandidates(banded, Seq("band_id", "band_hash"), "doc_id", Seq("sig"))
    // native codegen agreement kernel — the zip_with/filter/size HOF chain
    // evaluates interpreted per candidate pair (graft.functions scaladoc)
    graft.functions.GraftFunctions.register(sigs.sparkSession)
    val matches = call_function("sig_match", col("sig_a"), col("sig_b"))
    cand.select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
                r4(matches.cast("double") / lit(NumHashes.toDouble)).as("jaccard_est"))
  }

  private def pairsFromSignatures(sigs: DataFrame, k: Int): DataFrame =
    scoredPairs(sigs)
      .orderBy(col("jaccard_est").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(k)

  /** Connected components over an undirected pair list — the tail of every
    * near-dup pipeline: similar PAIRS become duplicate CLUSTERS, each
    * labeled by its minimum member id (the canonical document).
    *
    * Iterative min-label propagation with pointer jumping: per round,
    * (1) every node takes the min label over itself and its neighbors
    * (one groupBy + one join), then (2) labels chase their own label's
    * label (one self-join) — the doubling step that makes long chains
    * converge in O(log diameter) rounds instead of O(diameter). Early-stops
    * when a round changes nothing. Each round shuffles only (node, label)
    * pairs — never payloads — and the node set is only the docs that appear
    * in a candidate pair, a tiny fraction of the corpus.
    *
    * Labels are EAGERLY lineage-truncated per round through
    * [[graft.util.Iterate]] (the pointer-jump self-join references the
    * round's frame twice; its scaladoc has the plan-doubling rationale).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 15): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // both edge directions from ONE pass over the pairs subtree (an explode,
    // not a self-union — the union scanned the expensive upstream candidate
    // pipeline twice when materializing the persist)
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // seed with round 0's neighbor-min directly: one aggregate replaces the
    // old identity-label init (distinct) + first propagate round (2 joins)
    val labels0 = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("m"))
      .select(col("node"), least(col("node"), col("m")).as("label"))
      .localCheckpoint(true)
    // labels only decrease, so changed ⇔ any label < its round-start value;
    // the probe is a filter over the already-checkpointed frame, no join
    def unchanged(jumped: DataFrame): Boolean =
      jumped.filter(col("label") =!= col("old")).limit(1).count() == 0
    val jumped = Iterate(labels0, maxIter)(Seq(_), (_, j) => unchanged(j)) { (r, _) =>
      val labels = r.select(col("node"), col("label"))
      // (1) neighbor-min propagation, carrying the round-start label as
      // `old` so change detection needs no extra join
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("label").as("nbr_label")), "dst")
        .groupBy(col("src").as("node")).agg(min(col("nbr_label")).as("nbr_label"))
      val propagated = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
                least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // (2) pointer jump: label := label(label)
      propagated
        .join(propagated.select(col("node").as("label"), col("label").as("label2")),
              Seq("label"), "left")
        .select(col("node"), col("old"), coalesce(col("label2"), col("label")).as("label"))
        .localCheckpoint(true)
    }
    edges.unpersist()
    jumped.select(col("node"), col("label"))
  }

  /** Full-corpus canonical assignment from a components labeling: every id
    * reports its component (singletons self-map) plus the `is_canonical`
    * "keep one per cluster" flag — the table a training-data pipeline joins
    * against to drop duplicates. Shared by the minhash and embedding dedup
    * paths.
    */
  def canonicalAssignment(corpus: DataFrame, idCol: String, cc: DataFrame): DataFrame =
    ordered(
      corpus.select(col(idCol))
        .join(cc.withColumnRenamed("node", idCol), Seq(idCol), "left")
        .select(col(idCol), coalesce(col("label"), col(idCol)).as("component_id"))
        .withColumn("is_canonical", col(idCol) === col("component_id")),
      idCol)

  /** Near-dup canonical assignment over `documents`: minhash pairs at
    * estimated Jaccard ≥ minEst, clustered into components, joined back to
    * the FULL corpus via [[canonicalAssignment]].
    */
  def dedupComponents(spark: SparkSession, sfDir: String,
                      minEst: Double = 0.8): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val pairs = scoredPairs(minhashSignatures(docs))
      .filter(col("jaccard_est") >= minEst)
    canonicalAssignment(docs, "doc_id", connectedComponents(pairs, "doc_a", "doc_b"))
  }

  /** Canonical cluster assignment over the EDIT-DISTANCE pair graph — the
    * one dedup pipeline whose every stage is ANSI-SQL-expressible, so the
    * distributed connected-components + canonical-assignment tail itself
    * runs under the driver's hash gate (the minhash/simhash/embed variants
    * are gated only up to their signature stage). The oracle recomputes the
    * clustering with a recursive-CTE transitive closure; hash equality
    * proves the O(log d) label-propagation loop reaches the exact same
    * fixpoint as sequential closure.
    */
  def dedupComponentsEditdist(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val pairs = editDistPairs(spark, sfDir, 40, 8)
    canonicalAssignment(docs, "doc_id", connectedComponents(pairs, "a_id", "b_id"))
  }

  /** Duplicate concentration by source — which crawl slices ARE the
    * near-dup problem: per source, how many docs sit in multi-doc
    * clusters of the (oracled) edit-distance components, how many a
    * keep-one-per-cluster dedup would drop, and the drop rate. The
    * report that turns a corpus-wide dedup number into a per-supplier
    * action ("src7 is 40% boilerplate — renegotiate or drop the feed").
    * Two hash-aggs on the assignment (component sizes, then source
    * grain) + one doc-keyed join to the source column.
    */
  def dupBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val assign = dedupComponentsEditdist(spark, sfDir)
    val sizes = assign.groupBy(col("component_id"))
      .agg(count(lit(1)).as("csize"))
    ordered(
      assign.join(sizes, "component_id")
        .join(t(spark, sfDir, "documents").select(col("doc_id"), col("source")),
              "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("csize") >= 2, 1L).otherwise(0L)).as("n_clustered"),
             sum(when(!col("is_canonical"), 1L).otherwise(0L)).as("n_dropped"))
        .withColumn("drop_rate",
          r4(col("n_dropped").cast("double") / col("n_docs").cast("double"))),
      "source")
  }

  /** Duplicate-cluster size histogram over the (oracled) edit-distance
    * connected components — the curation diagnostic behind "how much of
    * the corpus is near-dup mass, and in what shapes": cluster_size 1 is
    * the unique tail, 2 the twin pairs, heavy sizes are template/boiler
    * clusters worth inspecting before dedup deletes them. Two hash-aggs
    * on top of [[dedupComponentsEditdist]]'s assignment (component grain,
    * then size grain — output bounded by the largest cluster size); the
    * CC fixpoint is the only iterative piece and is already gated by the
    * recursive-CTE oracle of q_dedup_components_editdist.
    */
  def dupClusterHist(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = dedupComponentsEditdist(spark, sfDir)
      .groupBy(col("component_id")).agg(count(lit(1)).as("cluster_size"))
    ordered(
      sizes.groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
             min(col("component_id")).as("example_component")),
      "cluster_size")
  }

  /** Per-doc 64-bit SimHash over word hashes: bit b is the sign of
    * Σ_words (±1 by bit b of xxhash64(word)). One native codegen pass via
    * [[graft.functions.SimHash64]] — zero shuffle; the
    * explode → 64×sum(when) → pack formulation it replaces (bit-identical,
    * VectorFunctionsSpec) shuffled a 64-column aggregation state per doc.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
                call_function("simhash64", col("text")).as("simhash"))
  }

  /** SimHash near-dup pairs: candidates from 4×16-bit chunk collisions
    * (a pair within Hamming distance 3 must agree on ≥1 chunk — standard
    * pigeonhole banding), hot-bucket-capped (top-k is over the capped
    * candidate set — see minhashPairs), then exact Hamming distance via
    * bit_count(xor).
    */
  def simhashPairs(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    simhashPairsFor(t(spark, sfDir, "documents"), k)

  /** DataFrame-level simhash pipeline (spec entry point). */
  def simhashPairsFor(docs: DataFrame, k: Int): DataFrame =
    simhashPairsFromSigs(simhashSignatures(docs)
      .withColumnRenamed("simhash", "sig"), chunkBits = 16, k = k)

  /** The production simhash candidate machinery downstream of the
    * signature: 4 pigeonhole chunks of `chunkBits` bits, hot-bucket-capped
    * candidates, exact bit_count(xor) Hamming, total-order top-k. Factored
    * over (doc_id, sig) so the SAME code path runs over the gated twin's
    * md5-48 signatures (chunkBits = 12) in the differential spec —
    * production ≡ gated modulo the word hash, which shrinks the production
    * op's unverified surface to exactly the xxhash64 word-hash kernel.
    */
  def simhashPairsFromSigs(sigs: DataFrame, chunkBits: Int, k: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1L
    val chunked = sigs.select(
      col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * chunkBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("chunk_id", "chunk")))
    val cand = bucketCandidates(chunked, Seq("chunk_id", "chunk"), "doc_id", Seq("sig"))
    cand.select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
                bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(k)
  }

  /** Hash-GATED SimHash twin: the same banding + Hamming arithmetic as
    * [[simhashPairsFor]], but with the per-word hash swapped from the
    * engine-specific xxhash64 kernel to the first 48 bits of md5(word) —
    * a hash BOTH engines compute identically — so the whole pair path
    * (sign-sum signature, 4×12-bit pigeonhole chunks, candidate join,
    * bit_count(xor) Hamming, total-order top-k) runs under the DuckDB
    * oracle's row/schema/hash gate. This is the correctness proof for the
    * production simhash op, whose only non-portable piece is the word
    * hash; the production path keeps the single-pass codegen kernel and
    * the hot-bucket cap (the twin's plain in-bucket join states the exact
    * pair algebra the cap approximates, which is the point of a gate
    * query, not a scale path).
    */
  def simhashGatedPairs(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val sigs = simhashGatedSigs(t(spark, sfDir, "documents"))
    val chunked = sigs.select(
      col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 12).bitwiseAND(lit(0xFFFL))): _*))
        .as(Seq("chunk_id", "chunk")))
    val a = chunked.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("a_id"), col("sig").as("a_sig"))
    val b = chunked.select(col("chunk_id"), col("chunk"),
      col("doc_id").as("b_id"), col("sig").as("b_sig"))
    val pairs = a.join(b, Seq("chunk_id", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sig"), col("b_sig"))
      .distinct() // a pair may collide on several chunks
    pairs
      .select(col("a_id"), col("b_id"),
              bit_count(col("a_sig").bitwiseXOR(col("b_sig")))
                .cast("long").as("hamming"))
      .orderBy(col("hamming").asc, col("a_id").asc, col("b_id").asc)
      .limit(k)
  }

  /** The md5-48 signature stage of the gated SimHash twin, exposed for
    * [[simhashGatedPairs]] and for the differential spec that runs the
    * PRODUCTION candidate machinery ([[simhashPairsFromSigs]]) over these
    * portable signatures. Output: (doc_id, sig) — a 48-bit sign-sum
    * SimHash whose per-word hash is the md5 hex prefix both engines
    * compute identically.
    */
  def simhashGatedSigs(docs: DataFrame): DataFrame = {
    val B = 48
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    // 48-bit word hash from the md5 hex prefix — portable across engines
    val hw = words.select(col("doc_id"),
      conv(substring(md5(col("w")), 1, 12), 16, 10).cast("long").as("h"))
    val bitSums = (0 until B).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
            .otherwise(-1)).as(s"s$b"))
    val sums = hw.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until B).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    sums.select(col("doc_id"), sig.as("sig"))
  }

  /** MinHash near-dup pairs under the EXACT hash gate — the gated twin of
    * [[minhashPairs]], putting the ENTIRE minhash pipeline (shingling →
    * permutations → signature minima → banding → candidate pairs →
    * agreement estimate) under the DuckDB oracle. Two portability swaps,
    * exactly the simhash/LSH-gate trick:
    *  - the per-shingle base hash is the md5 hex prefix reduced mod the
    *    Mersenne prime 2³¹−1 (`md5()` exists in both engines);
    *  - the 32 permutations are Carter–Wegman `(aⱼ·h + bⱼ) mod p` with
    *    aⱼ/bⱼ THEMSELVES md5-derived (31-bit), so products stay < 2⁶²:
    *    exact in both engines' 64-bit integers — no overflow-wrap
    *    divergence (DuckDB raises where Spark wraps), no float anywhere.
    * Structure mirrors production: distinct 3-gram shingles (built-in
    * sequence/substr — the plain-SQL shape), min per permutation in ONE
    * hash aggregate, 8 bands × 4 rows with string band keys, a<b distinct
    * candidates, estimate = matching positions / 32. The production op
    * keeps the faster fused xxhash64 kernel; its unverified surface
    * shrinks to exactly that hash family.
    */
  def minhashGatedPairs(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val banded = bandedGatedSignatures(t(spark, sfDir, "documents"))
    // the production hot-bucket cap, mirrored in the oracle SQL: the
    // synthetic corpus' small trigram vocabulary makes shared minima (and
    // so giant band buckets) common — exactly the degenerate-corpus case
    // the cap exists for; uncapped, the sf0.1 self-join is ~30× the wall
    val cand = bucketCandidates(banded, Seq("band_id", "bkey"), "doc_id", Seq("sig"))
    cand.select(col("doc_id_a").as("a_id"), col("doc_id_b").as("b_id"),
        r4(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
                       m => m)).cast("double") / lit(NumHashes.toDouble))
          .as("jaccard_est"))
      .orderBy(col("jaccard_est").desc, col("a_id").asc, col("b_id").asc)
      .limit(k)
  }

  /** md5-derived Carter–Wegman coefficient (shared by the Spark builder
    * and the generated oracle SQL, which inlines the same values).
    */
  def cwCoef(tag: String, j: Int, mod: Long, offset: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${tag}_$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % mod + offset
  }

  /** (doc_id, sig array, band_id, bkey) for the gated minhash path —
    * one map pass to distinct shingles, one hash aggregate to the 32
    * minima, map-side banding.
    */
  private def bandedGatedSignatures(docs: DataFrame): DataFrame =
    bandedGatedFrom(docs.filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3))))).as("s")))

  /** Distinct word-3-gram shingle rows in the portable (built-in-only)
    * shape — the SAME shingle definition as [[graft.operators.Text
    * .jaccardPrefixJoin]]'s native `shingles` kernel, re-expressed with
    * split/slice/concat_ws so the oracle SQL can mirror it verbatim.
    * Used where a gated signature chain must share its set definition
    * with the exact word-shingle joins (recall measurement).
    */
  private def wordShingleRows(docs: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    docs.select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("w")) - 2),
          i => concat_ws(" ", slice(col("w"), i, lit(3)))))).as("s"))
  }

  /** The Carter–Wegman signature + banding chain over an arbitrary
    * (doc_id, s) shingle frame — shared by the char-3-gram gated twin,
    * the word-shingle recall gate, and the incremental gate.
    */
  private def bandedGatedFrom(sh: DataFrame): DataFrame = {
    val P = 2147483647L
    val rowsPerBand = NumHashes / Bands
    val hashed = sh.select(col("doc_id"),
      (conv(substring(md5(col("s")), 1, 12), 16, 10).cast("long") % P).as("h"))
    val mins = (0 until NumHashes).map { j =>
      val a = cwCoef("a", j, P - 1, 1L)  // [1, p-1]
      val b = cwCoef("b", j, P, 0L)      // [0, p-1]
      min((lit(a) * col("h") + lit(b)) % P).as(s"h$j")
    }
    val sigs = hashed.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    sigs.select(col("doc_id"),
        array((0 until NumHashes).map(j => col(s"h$j")): _*).as("sig"),
        posexplode(array((0 until Bands).map { bnd =>
          concat_ws("_", (bnd * rowsPerBand until (bnd + 1) * rowsPerBand)
            .map(j => col(s"h$j")): _*)
        }: _*)).as(Seq("band_id", "bkey")))
  }

  /** Incremental near-dup gate — the nightly-batch shape of minhash dedup:
    * docs with `doc_id % 10 = 0` stand in for today's batch, the rest for
    * the already-ingested corpus, and each new doc is checked against the
    * corpus WITHOUT any corpus-with-corpus work. The trick that makes this
    * linear in the batch: the corpus side collapses to per-bucket STATS
    * (min doc_id per (band, bkey) — in production, the persisted band
    * index maintained across ingests), so flagging is one join of the
    * batch's ≤8·|batch| band rows against bounded 1-row-per-bucket stats —
    * no pair explosion, no hot-bucket cap needed, and the first-match
    * semantics are EXACT (min over bucket minima). The flagged doc's
    * agreement estimate is computed against that one first-match partner
    * via a single signature fetch join. Same Carter–Wegman/md5 chain as
    * [[minhashGatedPairs]], so the whole path sits under the hash gate.
    */
  def incrMinhashGated(spark: SparkSession, sfDir: String): DataFrame = {
    val banded = bandedGatedSignatures(t(spark, sfDir, "documents"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val isNew = col("doc_id") % 10 === 0
    val stats = banded.filter(!isNew)
      .groupBy(col("band_id"), col("bkey"))
      .agg(min(col("doc_id")).as("first_id"))
    val hits = banded.filter(isNew)
      .join(stats, Seq("band_id", "bkey"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_bands"), min(col("first_id")).as("first_match"))
    val newSigs = banded.filter(isNew)
      .select(col("doc_id"), col("sig")).dropDuplicates("doc_id")
    val corpSigs = banded.filter(!isNew)
      .select(col("doc_id").as("first_match"), col("sig").as("msig"))
      .dropDuplicates("first_match")
    val est = size(filter(zip_with(col("sig"), col("msig"), (x, y) => x === y),
                          m => m))
    val matched = hits.join(corpSigs, Seq("first_match"))
      .join(newSigs, Seq("doc_id"))
      .select(col("doc_id").as("new_id"), col("n_hit_bands"), col("first_match"),
              r4(est.cast("double") / lit(NumHashes.toDouble)).as("first_est"))
    ordered(
      newSigs.select(col("doc_id").as("new_id"))
        .join(matched, Seq("new_id"), "left")
        .select(col("new_id"),
                col("n_hit_bands").isNotNull.as("is_dup"),
                coalesce(col("n_hit_bands"), lit(0L)).as("n_hit_bands"),
                col("first_match"), col("first_est")),
      "new_id")
  }

  /** Word-shingle Carter–Wegman band candidate pairs (hot-bucket-capped)
    * for an ARBITRARY (doc_id, text) frame — the candidate leg of
    * [[lshRecallGated]] exposed at frame level so specs can drive it over
    * synthetic mass-duplicate corpora where the cap actually bites (the
    * real testdata's clone groups sit under [[HotBucketCap]], so the
    * registry query measures recall 1.0 there — the spec proves the
    * metric MOVES when the cap truncates a 200-member bucket).
    */
  def wordMinhashCandidates(docs: DataFrame): DataFrame =
    bucketCandidates(bandedGatedFrom(wordShingleRows(docs)),
                     Seq("band_id", "bkey"), "doc_id", Seq())
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"))

  /** Measured LSH recall — the index-quality report every near-dup
    * pipeline owes its operators: what fraction of the TRUE J ≥ ½ pairs
    * (exact word-shingle Jaccard, [[graft.operators.Text
    * .jaccardPrefixJoin]]'s lossless prefix-filtered join) does the
    * banded-minhash candidate generator actually surface? Both legs run
    * the SAME word-3-gram shingle definition, and the candidate leg is
    * the REAL pipeline — Carter–Wegman signatures, 8×4 banding, the
    * hot-bucket star cap — so the number is the production recall
    * including the cap's deliberate losses, not a theoretical band
    * probability. One output row: truth size, candidate volume, hits,
    * fixed-point recall. Everything is integer counts, so the whole
    * measurement sits under the hash gate: the oracle recomputes truth
    * with the NAIVE inverted-index join and candidates from the same
    * CW chain. Scale shape: the truth leg is the prefix join (postings-
    * linear), the candidate leg is the banded self-join (bucket-capped);
    * the comparison itself is one semi-join on pair keys plus three
    * 1-row aggregates.
    */
  def lshRecallGated(spark: SparkSession, sfDir: String,
                     num: Int = 1, den: Int = 2): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val truth = graft.operators.Text.jaccardPrefixJoin(spark, sfDir, num, den)
      .select(col("doc_a"), col("doc_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = wordMinhashCandidates(t(spark, sfDir, "documents"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val hit = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
              r4(col("n_hit").cast("double") / col("n_truth").cast("double"))
                .as("recall"))
  }

  /** Blocked edit-distance near-dup pairs — the character-level dedup
    * modality (catches small insertions/typos that shuffle-invariant
    * minhash treats as identical-set noise, and vice versa). Unlike the
    * signature family this IS ANSI-SQL-expressible, so it's a hash-oracled
    * gate query.
    *
    * Scale shape: Levenshtein is O(len²) per pair, so the all-pairs corpus
    * is out at any scale. Three bounds keep the quadratic work contained:
    * (1) docs are blocked on (lang, n_chars div 8) — a cheap equi-join key
    * whose tightness directly controls the per-block pair count (div 64
    * measured 394k pairs at sf0.1; div 8 is 50k); (2) the distance runs on
    * fixed-length prefixes, so the DP is bounded by prefixLen² regardless
    * of document size; (3) the THRESHOLDED 3-arg levenshtein early-exits
    * outside the ±maxDist diagonal band — O(maxDist·len) per pair, not
    * O(len²). The shuffle carries (id, prefix), never full text.
    * Block-boundary straddlers are the documented recall tradeoff of every
    * blocking scheme; widen with a second shifted blocking pass when recall
    * matters more than one extra shuffle.
    */
  def editDistPairs(spark: SparkSession, sfDir: String,
                    prefixLen: Int = 40, maxDist: Int = 8): DataFrame = {
    val d = t(spark, sfDir, "documents").select(
      col("doc_id"), col("lang"), expr("n_chars div 8").as("blk"),
      substring(col("text"), 1, prefixLen).as("head"))
    val a = d.select(col("lang"), col("blk"), col("doc_id").as("a_id"), col("head").as("a_head"))
    val b = d.select(col("lang"), col("blk"), col("doc_id").as("b_id"), col("head").as("b_head"))
    a.join(b, Seq("lang", "blk"))
      .filter(col("a_id") < col("b_id"))
      // banded DP: returns -1 when the distance exceeds maxDist
      .withColumn("dist", levenshtein(col("a_head"), col("b_head"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist").cast("long").as("dist"))
      .orderBy(col("a_id").asc, col("b_id").asc)
  }
}

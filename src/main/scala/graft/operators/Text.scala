package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** Text-analysis tier for LLM-data pipelines (driver north star beyond the
  * reference surface): per-document statistics, token counting, quality
  * scoring, language heuristics, fingerprinting, exact dedup. All
  * whole-stage-codegen'd built-ins — narrow maps + one hash-agg where
  * grouped; at 100 TB these are embarrassingly parallel scans.
  */
object Text {

  private val docs = (s: SparkSession, d: String) => t(s, d, "documents")

  /** Per-language corpus statistics: doc counts, size, mean length. */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      docs(spark, sfDir)
        .select(col("lang"), length(col("text")).as("nc"),
                size(split(col("text"), " ")).cast("long").as("nw"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("nc").cast("long")).as("total_chars"),
             // exact long sum ÷ count, one double division — avg(double)
             // would sum in unpinned partial-aggregation order
             r4(sum(col("nw")).cast("double") / count(lit(1))).as("avg_words")),
      "lang")

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * lexer (letter runs | digit runs | single non-alphanumeric) — the
    * standard pre-tokenizer shape for byte-pair encoders.
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      docs(spark, sfDir).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("long")
          .as("bpe_ish_tokens")),
      "doc_id")

  /** Quality-score ingredient expressions over a `text` column, shared by
    * [[qualityScore]] (per-doc report) and [[qualityBand]] (percentile-band
    * filter) so both operators score identically by construction.
    */
  private[operators] object QScore {
    val n: Column = length(col("text")).cast("double")
    val alpha: Column =
      (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z]", ""))).cast("double")
    val spaces: Column =
      (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("double")
    val stops: Column =
      regexp_count(col("text"), lit("\\bthe\\b|\\ba\\b|\\bof\\b")).cast("double")
    val avgWordLen: Column = (n - spaces) / (spaces + lit(1.0))
    val score: Column = lit(0.5) * (alpha / n) +
      lit(0.3) * least(lit(1.0), avgWordLen / lit(8.0)) +
      lit(0.2) * least(lit(1.0), stops / lit(10.0))
  }

  /** Document quality scoring: alphabetic ratio, whitespace ratio, stopword
    * hits, mean word length → weighted score in [0,1]. The exact heuristic
    * mix is fixed and documented; what matters is the shape (pure per-row
    * expression arithmetic, no shuffle).
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    import QScore._
    ordered(
      docs(spark, sfDir).select(
        col("doc_id"), col("n_chars"),
        r4(alpha / n).as("alpha_ratio"),
        r4(avgWordLen).as("avg_word_len"),
        stops.cast("long").as("stopword_hits"),
        r4(score).as("quality_score")),
      "doc_id")
  }

  /** Language-ID heuristic (n-gram evidence): frequency of the English
    * marker bigram "th" and marker stopwords per 100 chars. The corpus is
    * synthetic ASCII word-soup, so the heuristic's value is the operator
    * shape (pure expression scan), not linguistic accuracy; a production
    * model swaps in a bigger n-gram table, same plan.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val thCnt = expr("(length(text) - length(replace(text, 'th', ''))) div 2")
    val enStops = regexp_count(col("text"), lit("\\bthe\\b|\\band\\b|\\bis\\b")).cast("long")
    val per100 = (thCnt + enStops).cast("double") * lit(100.0) / length(col("text")).cast("double")
    ordered(
      docs(spark, sfDir).select(
        col("doc_id"), col("lang"),
        thCnt.as("th_bigrams"),
        enStops.as("en_stopwords"),
        r4(per100).as("evidence_per_100"),
        when(per100 >= 3.0, "en").otherwise("other").as("lang_pred")),
      "doc_id")
  }

  /** Content fingerprinting: md5 over normalized text (lower/trim/collapse
    * whitespace) + a 16-hex prefix bucket — the exact-dedup key and the
    * shard key a 100 TB dedup would partition on.
    */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    ordered(
      docs(spark, sfDir).select(
        col("doc_id"),
        md5(norm).as("fingerprint"),
        substring(md5(norm), 1, 8).as("fp_bucket")),
      "doc_id")
  }

  /** Deterministic train/val/test split assignment — the reproducibility
    * primitive every dataset release needs: membership must be a pure
    * function of the stable doc id, never of partitioning, sampling state,
    * or row order. Bucket = doc_id mod 10 → 8/1/1 split. Zero shuffle
    * (scan + project up to the output sort); at 100 TB this is a
    * map-only pass, and any engine (or the oracle) recomputes identical
    * membership from the ids alone.
    */
  def splitAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = pmod(col("doc_id"), lit(10L))
    ordered(
      docs(spark, sfDir).select(
        col("doc_id"), col("lang"),
        bucket.as("bucket"),
        when(bucket < 8, lit("train"))
          .when(bucket === 8, lit("val"))
          .otherwise(lit("test")).as("split")),
      "doc_id")
  }

  /** Incremental dedup — the daily-batch shape of exact dedup: only docs
    * from the NEW increment (stand-in: doc_id mod 5 = 4) whose normalized
    * fingerprint never appeared in the already-ingested corpus survive.
    * One anti-join on the digest: the shuffle carries (digest, id) pairs,
    * never text, and the "seen" side is the fingerprint column of the
    * existing corpus snapshot — at 100 TB that's the persisted fingerprint
    * table [[docFingerprint]] writes, re-read here, so each increment pays
    * one digest scan + one hash anti-join, not a full-corpus recompute.
    */
  def incrDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val fp = docs(spark, sfDir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(5L)).as("m"),
              md5(norm).as("fingerprint"))
    val batch = fp.filter(col("m") === 4)
    val seen = fp.filter(col("m") =!= 4).select(col("fingerprint"))
    ordered(
      batch.join(seen, Seq("fingerprint"), "left_anti")
        .select(col("doc_id"), col("fingerprint")),
      "doc_id")
  }

  /** Exact/normalized deduplication: group documents by normalized-content
    * fingerprint, keep the lowest doc_id as canonical. Hash-groupBy on the
    * digest — the only shuffle carries (digest, doc_id), never text, which
    * is what makes it viable at 100 TB.
    */
  def docDedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    ordered(
      docs(spark, sfDir)
        .select(col("doc_id"), md5(norm).as("content_key"))
        .groupBy(col("content_key"))
        .agg(min(col("doc_id")).as("canonical_id"),
             count(lit(1)).as("n_copies")),
      "canonical_id")
  }

  /** Deterministic weighted sampling per group — the corpus-subsampling op
    * every training-data pipeline needs ("take k docs per language,
    * longer docs more likely"). Efraimidis–Spirakis A-Res: key =
    * ln(u)/weight with u a per-row uniform; top-k keys per group win.
    * The uniform comes from pure integer arithmetic (Knuth-hash mod prime)
    * so the sample is reproducible on any engine — no rand(), no
    * engine-specific hash.
    *
    * Distributed shape: two-phase per-group top-k via [[graft.util.TopK]] —
    * a single window partitioned by `lang` (~5 values) would sort the whole
    * corpus on ≤5 reducers at 100 TB.
    */
  def sampleWeighted(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val prime = 1000003L
    val u = ((col("doc_id") * lit(2654435761L)) % lit(prime) + lit(1L)).cast("double") /
            lit((prime + 1).toDouble)
    val key = log(u) / col("n_chars").cast("double")
    ordered(
      graft.util.TopK.perGroup(
          docs(spark, sfDir).withColumn("skey", key),
          Seq(col("lang")), Seq(col("skey").desc, col("doc_id").asc), k)
        .select(col("lang"), col("doc_id"), col("n_chars"), col("rn").cast("long").as("rn")),
      "lang", "rn")
  }

  /** Fixed-size overlapping word-window chunking — the context-window prep
    * stage of every LLM ingest pipeline: chunk i covers words
    * [i·stride, i·stride + size), trailing chunk may run short. One
    * sequence+explode fan-out, array slice per chunk — no shuffle at all;
    * chunks inherit the scan's partitioning.
    */
  def docChunk(spark: SparkSession, sfDir: String,
               chunkWords: Int = 100, stride: Int = 80): DataFrame =
    ordered(
      docs(spark, sfDir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("n", size(col("w")))
        .select(col("doc_id"), col("w"), col("n"),
                explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
        .select(
          col("doc_id"),
          expr(s"start div $stride").as("chunk_id"),
          array_join(slice(col("w"), col("start") + 1, lit(chunkWords)), " ").as("chunk_text"),
          least(lit(chunkWords), col("n") - col("start")).cast("long").as("n_words")),
      "doc_id", "chunk_id")

  /** Non-overlapping fixed-width word chunks — the "paragraph" unit of the
    * CCNet-style dedup below (the synthetic corpus has no newline structure,
    * so width stands in for paragraph boundaries). Same zero-shuffle
    * sequence+explode fan-out as [[docChunk]].
    */
  private[graft] def paragraphs(d: DataFrame, parWords: Int): DataFrame =
    d.select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")))
      .select(col("doc_id"), col("source"), col("w"),
              explode(sequence(lit(0), col("n") - 1, lit(parWords))).as("start"))
      .select(col("doc_id"), col("source"),
              expr(s"start div $parWords").cast("long").as("par_idx"),
              array_join(slice(col("w"), col("start") + 1, lit(parWords)), " ")
                .as("par_text"))

  /** Paragraph-level dedup with reassembly — the CCNet move (Wenzek et al.
    * 2020): drop every paragraph that already occurred earlier in the
    * corpus (first occurrence = lowest (doc_id, par_idx)), keep each doc's
    * surviving paragraphs in order. Kills boilerplate and cross-doc quoting
    * that whole-doc dedup can't see. Shuffle discipline: first-occurrence
    * selection runs on (doc_id, par_idx, sha2-digest) rows — paragraph TEXT
    * never enters the dedup shuffle (the q_doc_dedup_exact rule, at
    * paragraph grain); the keeper id-set then left-semi joins the
    * recomputed zero-shuffle paragraph fan-out, and only KEPT text moves in
    * the per-doc reassembly agg. Every stage is corpus-linear.
    */
  def parDedup(spark: SparkSession, sfDir: String,
               parWords: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pars = paragraphs(docs(spark, sfDir), parWords)
    val marked = pars.select(col("doc_id"), col("par_idx"),
                             sha2(col("par_text"), 256).as("dg"))
    val w = Window.partitionBy(col("dg"))
      .orderBy(col("doc_id").asc, col("par_idx").asc)
    val keep = marked.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("par_idx"))
    val kept = pars.join(keep, Seq("doc_id", "par_idx"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
           array_join(
             expr("transform(array_sort(collect_list(struct(par_idx, par_text))), x -> x.par_text)"),
             " ").as("kept_text"))
    val totals = pars.groupBy(col("doc_id")).agg(count(lit(1)).as("n_pars"))
    ordered(
      totals.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_pars"),
                (col("n_pars") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
                coalesce(col("kept_text"), lit("")).as("kept_text")),
      "doc_id")
  }

  /** Per-source boilerplate profile — the report that decides whether a
    * crawl source needs the paragraph-dedup pass: paragraph instances,
    * distinct paragraphs, and the count/share of paragraphs appearing in
    * ≥2 DISTINCT docs of the SAME source (nav bars, footers, license
    * blurbs — the within-site repetition signature). Digest-grain
    * aggregation (text never shuffles); the per-(source, digest) doc-count
    * frame is paragraph-linear, the final rollup is source-bounded.
    */
  def boilerplateReport(spark: SparkSession, sfDir: String,
                        parWords: Int = 20): DataFrame = {
    val pars = paragraphs(docs(spark, sfDir), parWords)
      .select(col("source"), col("doc_id"), sha2(col("par_text"), 256).as("dg"))
    val perPar = pars.groupBy(col("source"), col("dg"))
      .agg(count(lit(1)).as("n_inst"),
           countDistinct(col("doc_id")).as("n_docs"))
    ordered(
      perPar.groupBy(col("source"))
        .agg(sum(col("n_inst")).as("n_par_instances"),
             count(lit(1)).as("n_distinct_pars"),
             sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_boilerplate"))
        .select(col("source"), col("n_par_instances"), col("n_distinct_pars"),
                col("n_boilerplate"),
                r4(col("n_boilerplate").cast("double") /
                   col("n_distinct_pars").cast("double")).as("boilerplate_ratio")),
      "source")
  }

  /** Token-budget corpus mix — the greedy waterfill that answers "which
    * sources fill a B-token training budget, ranked by quality": per-source
    * token counts (whitespace tokens) and a utility score (corpus-exact
    * distinct-word/word ratio — ONE division of two exact integer sums per
    * source, so the ranking key is engine-portable; per-doc ratio averages
    * would sum doubles in nondeterministic order), then sources take
    * tokens in utility order until the budget exhausts:
    * alloc = clamp(B − cum_before, 0, available). The rank/prefix windows
    * run on the source-bounded frame; the corpus feeds one hash-agg.
    */
  def tokenBudgetMix(spark: SparkSession, sfDir: String,
                     budget: Long = 50000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = docs(spark, sfDir)
      .select(col("source"),
              size(split(col("text"), " ")).cast("long").as("nw"),
              size(array_distinct(split(col("text"), " "))).cast("long").as("ndw"))
      .groupBy(col("source"))
      .agg(sum(col("nw")).as("toks"), sum(col("ndw")).as("dtoks"))
      .withColumn("util",
        col("dtoks").cast("double") / col("toks").cast("double"))
    val wOrd = Window.orderBy(col("util").desc, col("source").asc)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    ordered(
      per.withColumn("rank", row_number().over(wOrd).cast("long"))
        .withColumn("cum_before", coalesce(sum(col("toks")).over(wPrev), lit(0L)))
        .withColumn("alloc",
          greatest(lit(0L), least(col("toks"), lit(budget) - col("cum_before"))))
        .select(col("source"), col("rank"), col("toks").as("tokens_available"),
                r4(col("util")).as("utility"), col("alloc").as("tokens_allocated"),
                r4(col("alloc").cast("double") / col("toks").cast("double"))
                  .as("fill_frac")),
      "source")
  }

  /** Corpus vocabulary: top-k lowercased words by frequency (count desc,
    * word asc). Explode + hash-agg with map-side partials; the top-k is
    * TakeOrdered — only k rows per partition travel.
    */
  def vocabTopK(spark: SparkSession, sfDir: String, k: Int = 100): DataFrame =
    docs(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(k)

  /** PII scrubbing: redact email-shaped tokens and digit runs, reporting
    * per-doc redaction counts — pure per-row regex expressions, zero
    * shuffle, the compliance pass a training corpus runs before anything
    * else. Patterns stay in the RE2-compatible subset so engines agree.
    */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val num = "[0-9]+"
    ordered(
      docs(spark, sfDir).select(
        col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(num)).cast("long").as("n_numbers"),
        regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"), num, "<NUM>")
          .as("scrubbed")),
      "doc_id")
  }

  /** Intra-document repetition scoring — the boilerplate/spam signal every
    * corpus quality filter uses: 1 − (distinct 3-gram shingles / total
    * 3-gram positions). A document that repeats itself has far fewer
    * distinct shingles than positions. Zero extra scan machinery: total
    * positions = word count − 2, distinct count comes from the shared
    * shingle pipeline's per-doc aggregate.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val words = d.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_words"))
    val distinctSh = shingleRows(d).groupBy(col("doc_id")).agg(count(lit(1)).as("n_distinct_sh"))
    ordered(
      words.join(distinctSh, Seq("doc_id"), "left")
        .filter(col("n_words") >= 3)
        .select(col("doc_id"), col("n_words"),
                coalesce(col("n_distinct_sh"), lit(0L)).as("n_distinct_sh"),
                r4(lit(1.0) - coalesce(col("n_distinct_sh"), lit(0L)).cast("double") /
                   (col("n_words") - 2).cast("double")).as("repetition_ratio")),
      "doc_id")
  }

  /** Corpus-wide repeated-span report — the exact-substring dedup
    * diagnostic (the ExactSubstr idea at n-gram granularity): which exact
    * 3-gram spans occur in ≥ 2 DISTINCT documents, ranked by document
    * frequency, with min/max doc ids as example occurrences. Because the
    * shared shingle pipeline is distinct-per-doc, `count(*)` per span IS
    * its document frequency — one wide hash-agg (map-side combined), a
    * HAVING filter, then global top-k via orderBy+limit
    * (TakeOrderedAndProject: per-partition heaps, k rows to the driver).
    * At 100 TB the agg would shuffle span digests rather than text; here
    * the raw span rides along because the report needs it verbatim.
    */
  def dupSpans(spark: SparkSession, sfDir: String, k: Int = 100): DataFrame =
    shingleRows(docs(spark, sfDir))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("s").asc)
      .limit(k)

  /** ExactSubstr span-removal dedup (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" span-granular family, at
    * word-3-gram granularity): a span occurring in ≥ 2 DISTINCT documents
    * is duplicated TEXT, and every word covered by such a span is removed
    * from every document containing it — keeping the rest of the doc,
    * the half of the dedup story whole-doc operators can't express.
    * [[dupSpans]] reports these spans; this operator removes them.
    *
    * Pipeline: positional spans via the native `pos_shingles` codegen
    * kernel ([[graft.functions.PositionalShingles]] — one pass, zero
    * shuffle, element i is the span at word i so positions index
    * directly into `split(text, " ")`); the duplicated-span set by one
    * hash-agg (count(DISTINCT doc_id) ≥ 2 — within-doc repetition alone
    * is [[repetitionRatio]]'s business, not corpus duplication); covered
    * word positions by exploding each flagged span occurrence to its 3
    * indices; then a left-anti join tokens × covered and one per-doc
    * reassembly aggregate (array_sort over (pos, word) structs —
    * aggregate state bounded by DOCUMENT length, never corpus size).
    *
    * Scale shape: every stage is token-linear — no pairwise anything.
    * The span frame is consumed twice (agg + flag join), costing one
    * extra codegen corpus scan instead of caching an exploded corpus
    * (scans beat materializing token-grain state at 100 TB). The span
    * hash-agg shuffles raw span text for oracle parity; at real scale
    * you'd shuffle xxhash64(span) digests (the [[docFingerprint]]
    * trade) and sacrifice the human-readable report column.
    */
  def dedupExactSubstr(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val d = docs(spark, sfDir).select(col("doc_id"), col("text"))
    val spans = d.select(col("doc_id"),
      posexplode(call_function("pos_shingles", col("text"), lit(3)))
        .as(Seq("pos", "s")))
    val dup = spans.groupBy(col("s"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("s"))
    val covered = spans.join(dup, "s")
      .select(col("doc_id"),
              explode(sequence(col("pos"), col("pos") + 2)).as("pos"))
      .distinct()
    val toks = d.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
           array_join(
             expr("transform(array_sort(collect_list(struct(pos, word))), x -> x.word)"),
             " ").as("kept_text"))
    ordered(
      d.select(col("doc_id"),
               size(split(col("text"), " ")).cast("long").as("n_words"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
                (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
                coalesce(col("kept_text"), lit("")).as("kept_text")),
      "doc_id")
  }

  /** Benchmark-contamination screen: fraction of each document's distinct
    * 3-gram shingles that appear in a benchmark set's shingles (here: the
    * doc_id % mod == 0 documents stand in for the benchmark suite). No
    * broadcast HINT on the benchmark side: a REAL benchmark suite is a
    * small fixed artifact AQE will broadcast on its own, but this stand-in
    * is a 1/mod sample of the corpus and scales with it — a forced
    * broadcast would die at 100 TB while AQE degrades to a shuffled join.
    * Per-doc overlap is one hash-agg either way.
    */
  def contamination(spark: SparkSession, sfDir: String,
                    mod: Long = 97, tau: Double = 0.5): DataFrame = {
    // shingles feed three legs (benchmark set, per-doc sizes, overlap) —
    // materialize once, same rationale as Dedup.bucketCandidates
    val sh = shingleRows(docs(spark, sfDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bench = sh.filter(col("doc_id") % mod === 0).select(col("s")).distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val ov = sh.join(bench, "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("overlap"))
    ordered(
      sizes.join(ov, Seq("doc_id"), "left")
        .filter(col("nsh") > 0)
        .select(
          col("doc_id"),
          col("nsh").cast("long").as("n_shingles"),
          coalesce(col("overlap"), lit(0L)).cast("long").as("overlap"),
          r4(coalesce(col("overlap"), lit(0L)).cast("double") / col("nsh").cast("double"))
            .as("overlap_ratio"),
          (coalesce(col("overlap"), lit(0L)).cast("double") >= lit(tau) * col("nsh").cast("double"))
            .as("is_contaminated")),
      "doc_id")
  }

  /** Distinct word 3-gram shingles as rows (doc_id, s) — shared by the
    * near-dup family. One native codegen pass via the `shingles` expression
    * ([[graft.functions.DistinctShingles]]): per-doc distinct n-grams come
    * out of a single scan, so this has ZERO shuffles — the posexplode +
    * windowed lead() + dropDuplicates formulation it replaces shuffled the
    * exploded corpus twice (per-doc window sort, then distinct) before any
    * signature work. (A higher-order transform() lambda is no alternative:
    * array lambdas run on Catalyst's interpreted path, measured ~7 ms/doc.)
    */
  def shingleRows(d: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(d.sparkSession)
    d.select(col("doc_id"),
             explode(call_function("shingles", col("text"), lit(n))).as("s"))
  }

  /** N-gram Jaccard near-dup scoring within language blocks: exact set
    * Jaccard over 3-gram shingles for candidate pairs, blocked by `lang`
    * so the self-join is per-block, never a full cross join. Top-50 most
    * similar pairs. At 100 TB the block key would be a coarser LSH bucket
    * (see Dedup.minhashPairs) — the plan shape is identical.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // inverted-index formulation: explode (doc, shingle), self-join on the
    // shingle within a (lang, length-band) block, count matches per pair,
    // then |A∩B|/(|A|+|B|-|A∩B|). Never materializes per-pair arrays and
    // only generates pairs that share ≥1 shingle — the join volume is
    // Σ_shingle count² (measured 62k rows at sf0.1 vs 119k full pairs with
    // ~52-element array intersections each). This is the formulation that
    // survives 100 TB: both sides shuffle on (blk, shingle), rare-shingle
    // skew is bounded by the block, and hot shingles can be dropped like
    // stopwords without changing the plan.
    // All joins against per-doc frames (block map, shingle-set sizes) are
    // plain shuffled joins on doc_id / pair ids — one row per DOCUMENT, so
    // broadcasting them would ship a corpus-sized table to every executor
    // at 100 TB. The pair table after the groupBy is the small side anyway.
    val fr = docs(spark, sfDir).filter(col("lang") === "fr")
    val blkMap = fr.select(col("doc_id"), expr("n_chars div 200").as("blk"))
    val e = shingleRows(fr).join(blkMap, "doc_id")
    val sizes = e.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val a = e.select(col("blk"), col("s"), col("doc_id").as("doc_a"))
    val b = e.select(col("blk"), col("s"), col("doc_id").as("doc_b"))
    val common = a.join(b, Seq("blk", "s")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("c"))
    val za = sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na"))
    val zb = sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb"))
    val jac = col("c").cast("double") /
              (col("na") + col("nb") - col("c")).cast("double")
    common.join(za, "doc_a").join(zb, "doc_b")
      .select(col("doc_a"), col("doc_b"), r4(jac).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(50)
  }

  /** Exact Jaccard THRESHOLD self-join (J ≥ num/den) with AllPairs/PPJoin
    * prefix filtering (Bayardo et al. WWW'07; Xiao et al. WWW'08 — public
    * textbook algorithms): order each doc's shingles by ascending global
    * frequency and index only the first `nsh - ceil(t·nsh) + 1` of them.
    * Any pair with J ≥ t must share an indexed shingle (overlap
    * c ≥ ceil(t·max(na,nb)) leaves too few unindexed slots to miss), so
    * pruning is LOSSLESS — the oracle runs the NAIVE full inverted-index
    * join and the hash gate proves the pruned plan returns the identical
    * pair set. The final J ≥ t test is the integer cross-multiplication
    * `c·(num+den) ≥ num·(na+nb)` — no float threshold drift between
    * engines. Scale shape: the candidate join volume drops from
    * Σ_shingle count² over ALL postings to the same sum over rare-prefix
    * postings only (hot shingles — the skew drivers — are exactly the ones
    * the prefix excludes); verification joins each candidate pair against
    * per-doc shingle rows, Σ_cand |A| rows, linear in candidates. This is
    * the exact-similarity-join plan that survives 100 TB: frequency
    * ranking is one hash agg, prefix selection a per-doc window, and no
    * stage ever materializes per-pair arrays. Deliberately CORPUS-WIDE —
    * no lang/length blocking: the synthetic near-dup twins carry
    * perturbed lang labels (verified: most J≈0.99 pairs straddle langs),
    * exactly the noisy-metadata situation real crawls have, where a
    * metadata block silently loses recall. Prefix filtering needs no
    * metadata and stays lossless.
    */
  def jaccardPrefixJoin(spark: SparkSession, sfDir: String,
                        num: Int = 1, den: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = shingleRows(docs(spark, sfDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = e.groupBy(col("s")).agg(count(lit(1)).as("f"))
    // rank AND set size from ONE per-doc window pass (same partition key →
    // one exchange feeds both) instead of joining a separate sizes
    // aggregate against the full shingle corpus
    val byDoc = Window.partitionBy(col("doc_id"))
    val rk = e.join(freq, "s")
      .withColumn("rk", row_number().over(
        byDoc.orderBy(col("f").asc, col("s").asc)))
      .withColumn("nsh", count(lit(1)).over(byDoc))
    // prefix length nsh - ceil(t*nsh) + 1, ceil done in integers
    // persist the PRUNED prefix frame: it feeds the candidate self-join
    // (twice) AND the hot-doc bound below — without the cache each consumer
    // re-runs the full-posting window sort, the pipeline's dearest stage
    // (measured r9: 4.4 s → 3.0 s isolated at sf0.1). ~(1−t)·postings rows.
    val prefF = rk
      .filter(col("rk") <=
        col("nsh") - expr(s"($num * nsh + ${den - 1}) div $den") + lit(1))
      .select(col("doc_id"), col("s"), col("nsh"), col("f"), col("rk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pref = prefF.select(col("doc_id"), col("s"), col("nsh"), col("rk"))
    // PPJoin length filter: J ≥ num/den and c ≤ min(na,nb) force
    // den·min(na,nb) ≥ num·max(na,nb) — a necessary condition, so the
    // prune stays lossless (24% of sf0.1 candidates die here before the
    // verification joins ever see them).
    // PPJoin POSITIONAL filter (r16, guide §3 — Xiao et al. WWW'08 §3.2):
    // for a shared prefix shingle at frequency-order ranks (ra, rb), the
    // overlap is bounded by ub = 1 + min(na − ra, nb − rb) WHEN that
    // shingle is the pair's FIRST common one (nothing common precedes it,
    // and at most min(remaining) can follow). J ≥ t needs
    // c·(num+den) ≥ num·(na+nb); a pair's max(ub) over its shared prefix
    // shingles is ≥ the first-common-token bound ≥ c, so dropping pairs
    // with max(ub)·(num+den) < num·(na+nb) is LOSSLESS — proven by this
    // query's naive oracle. Measured at sf0.1: 309,803 → 124,979
    // candidate pairs (60% pruned), cutting the verification join's
    // Σ_cand |A| fan-out from 21.1M rows proportionally. The groupBy
    // replaces the old distinct() — same exchange, narrow extra columns.
    val cand = pref.select(col("s"), col("doc_id").as("doc_a"),
                           col("nsh").as("na"), col("rk").as("ra"))
      .join(pref.select(col("s"), col("doc_id").as("doc_b"),
                        col("nsh").as("nb"), col("rk").as("rb")), Seq("s"))
      .filter(col("doc_a") < col("doc_b") &&
              greatest(col("na"), col("nb")) * lit(num) <=
                least(col("na"), col("nb")) * lit(den))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(max(lit(1) + least(col("na") - col("ra"), col("nb") - col("rb")))
        .as("_mub"))
      .filter(col("_mub") * lit(num + den) >= (col("na") + col("nb")) * lit(num))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      // referenced by the verification fan-out AND the final size
      // re-attach — persist (pair-level, prefix-pruned) or the candidate
      // self-join runs twice (the prefF rationale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // verification: each candidate pair joins the per-doc shingle rows.
    // The doc_a key is the skew hazard — a clone cluster or mega-doc
    // appears in MANY candidate pairs, so its shingle fan-out lands on
    // one reducer. Hot/cold split (q_skew_report's decision in-plan),
    // with hotness from the PREFIX-INDEX STATS the pipeline already
    // computed: a doc's candidate count is ≤ Σ f over its prefix
    // shingles (rare by construction — a large bound means a clone
    // cluster), so the hot set costs one small aggregate over prefix
    // rows, never a second pass over the candidate pipeline. Hot docs'
    // verification spreads by hash(doc_b) over 8 salted reducers; result
    // ≡ the plain join — proven by THIS query's naive oracle, which is
    // the result-neutrality gate for the salting.
    val hotDocs = prefF.groupBy(col("doc_id"))
      .agg(sum(col("f")).as("_cb"))
      .filter(col("_cb") > 1024L)
      .select(col("doc_id").as("doc_a"))
    // the verification fan-out carries pair ids only; (na, nb) re-attach
    // from the pair-level cand frame AFTER the per-pair count — one join
    // against ≤|cand| rows instead of the two doc-level sizes joins (the
    // cand frame now carries the exact same per-doc posting counts the
    // sizes aggregate computed — nsh is the same window count)
    val common = graft.util.Skew
      .hotColdJoinWith(cand.select(col("doc_a"), col("doc_b")),
                       e.select(col("doc_id").as("doc_a"), col("s")),
                       "doc_a", "doc_b", salts = 8, hotKeys = hotDocs)
      .join(e.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") /
              (col("na") + col("nb") - col("c")).cast("double")
    ordered(common.join(cand, Seq("doc_a", "doc_b"))
              .filter(col("c") * lit(num + den) >= (col("na") + col("nb")) * lit(num))
              .select(col("doc_a"), col("doc_b"), r4(jac).as("jaccard")),
            "doc_a", "doc_b")
  }

  /** Asymmetric containment self-join — the quote/subsumption detector:
    * pairs (a, b), a ≠ b, where C(A,B) = |A∩B|/|A| ≥ t over 3-gram
    * shingle sets (a document near-fully contained in another, whatever
    * the container's size — the case Jaccard misses, since J shrinks as
    * |B| grows). Same prefix-filter machinery as [[jaccardPrefixJoin]]
    * with the containment-specific bound: C ≥ t forces overlap
    * c ≥ ceil(t·na), so at most na − ceil(t·na) unindexed slots exist and
    * indexing the na − ceil(t·na) + 1 globally-rarest shingles of the
    * CONTAINED side cannot miss a qualifying pair; the container side is
    * probed via its full posting list (containment puts no lower bound on
    * what b shares from ITS rare end, so b must stay fully indexed).
    * Pruning is lossless by the same argument as the Jaccard join, and
    * the DuckDB oracle runs the NAIVE full inverted-index join to prove
    * it. Threshold as integer cross-multiplication c·den ≥ num·na.
    * Scale shape: prefix postings are ~(1−t)·|corpus postings| of the
    * contained side only, and the verification join is linear in
    * candidates; hot-shingle skew on the probe side would take the same
    * bucket cap as Dedup.bucketCandidates at 100 TB.
    */
  def containmentJoin(spark: SparkSession, sfDir: String,
                      num: Int = 4, den: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = shingleRows(docs(spark, sfDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = e.groupBy(col("s")).agg(count(lit(1)).as("f"))
    val byDoc = Window.partitionBy(col("doc_id"))
    // persist the RANKED full-posting frame (r16): the positional filter
    // below needs the container side's frequency-order rank too, so the
    // cache moves one step up from the pruned prefix (prefF is now a lazy
    // filter over it — same window computed once, one cache)
    val rkF = e.join(freq, "s")
      .withColumn("rk", row_number().over(
        byDoc.orderBy(col("f").asc, col("s").asc)))
      .withColumn("nsh", count(lit(1)).over(byDoc))
      .select(col("doc_id"), col("s"), col("f"), col("rk"), col("nsh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefF = rkF
      .filter(col("rk") <=
        col("nsh") - expr(s"($num * nsh + ${den - 1}) div $den") + lit(1))
    val pref = prefF.select(col("doc_id").as("doc_a"), col("s"),
                            col("nsh").as("na"), col("rk").as("ra"))
    // positional filter (r16, guide §3 — the jaccardPrefixJoin argument
    // transposed to containment): for the pair's FIRST common shingle in
    // the global (f, s) order, c ≤ 1 + min(na − ra, nb − rb), and
    // C ≥ num/den needs c·den ≥ num·na; max(ub) over shared indexed
    // shingles dominates the first-common bound, so the prune is LOSSLESS
    // (this query's naive oracle proves it). The groupBy replaces the old
    // distinct(); (na) rides along — functionally determined by doc_a —
    // so the final size join collapses into the pair frame.
    val cand = pref
      .join(rkF.select(col("doc_id").as("doc_b"), col("s"),
                       col("nsh").as("nb"), col("rk").as("rb")), Seq("s"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"))
      .agg(max(lit(1) + least(col("na") - col("ra"), col("nb") - col("rb")))
        .as("_mub"))
      .filter(col("_mub") * lit(den) >= col("na") * lit(num))
      .select(col("doc_a"), col("doc_b"), col("na"))
      // double-referenced (verification fan-out + final size re-attach)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same hot/cold salted verification lane as jaccardPrefixJoin, same
    // prefix-stat hotness bound (the containment candidate set is even
    // more probe-side-skewed: a doc whose prefix shingles are common
    // collects every posting holder as a candidate container)
    val hotDocs = prefF.groupBy(col("doc_id"))
      .agg(sum(col("f")).as("_cb"))
      .filter(col("_cb") > 1024L)
      .select(col("doc_id").as("doc_a"))
    val common = graft.util.Skew
      .hotColdJoinWith(cand.select(col("doc_a"), col("doc_b")),
                       e.select(col("doc_id").as("doc_a"), col("s")),
                       "doc_a", "doc_b", salts = 8, hotKeys = hotDocs)
      .join(e.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("c"))
    ordered(common.join(cand, Seq("doc_a", "doc_b"))
              .filter(col("c") * lit(den) >= col("na") * lit(num))
              .select(col("doc_a"), col("doc_b"),
                      r4(col("c").cast("double") / col("na").cast("double"))
                        .as("containment")),
            "doc_a", "doc_b")
  }

  /** Corpus mixture sampling — deterministic per-language keep rates, the
    * blending step that reweights a training mix (downsample the dominant
    * language, keep the rest). Membership is a pure hash of doc_id against
    * the row's rate — no RNG state, so the sample is reproducible across
    * runs, executors, and retries, and a re-run selects the SAME rows (the
    * property that makes incremental corpus builds sane). Rates arrive as a
    * tiny DataFrame broadcast-joined in; the corpus never shuffles.
    * (Production corpora with >2^31 docs would widen the multiplicative
    * hash to xxhash64 — same shape, engine-specific constant.)
    */
  def corpusMix(d: DataFrame, rates: Map[String, Double]): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.toDF("lang", "rate")
      .select(col("lang"), (col("rate") * 1000).cast("long").as("rate_m"))
    d.join(broadcast(ratesDf), Seq("lang"))
      .filter(pmod(col("doc_id") * 48271L + 11L, lit(1000L)) < col("rate_m"))
      .drop("rate_m")
  }

  /** Temperature-scaled corpus mixing — [[corpusMix]] takes the rates as
    * GIVEN; this computes them from the data the way multilingual LLM
    * pipelines actually do (Conneau & Lample's XLM, NeurIPS 2019 §3.1;
    * the LLaMA-style p_i ∝ share_i^τ rule): per-language sampling weights
    * proportional to (token share)^τ, which UP-weights tail languages and
    * down-weights the dominant crawl language as τ falls below 1.
    *
    * τ = 0.5 exactly, so the power is ONE IEEE sqrt — correctly rounded
    * in every engine — over an integer-scaled share, floored straight
    * back to BIGINT: every sum and division is exact integer arithmetic,
    * zero doubles in the output. The share is computed over PRE-REDUCED
    * counts so no intermediate can overflow BIGINT: red = max(1,
    * total div 10⁶), tr = total div red ∈ [10⁶, 2·10⁶) once total ≥ 10⁶,
    * tk = tokens div red ≤ tr. Magnitude audit: tk·10¹² < 2·10⁶·10¹² =
    * 2·10¹⁸ < 2⁶³ at ANY corpus size (the unreduced tokens·10¹² form
    * overflows once one language holds >9.2M tokens); tk·10⁴ < 2·10¹⁰;
    * s ≤ 10⁶ so s·10⁴ ≤ 10¹⁰ and s_total ≤ |langs|·10⁶. Per language:
    * docs, tokens, natural share (bp), temperature weight (bp), and
    * boost_bp = weight/share — the up/down-sampling factor an epoch
    * scheduler consumes (>10000 = oversample). Sub-1-bp tail languages
    * (share_bp = 0 — exactly the ones temperature mixing exists to
    * up-weight) get boost against a 1-bp floor instead of dividing by
    * zero. One hash-agg to a ≤|langs|-row frame; driver-trivial after
    * the scan at any corpus.
    */
  def mixTemperature(spark: SparkSession, sfDir: String): DataFrame =
    mixTemperatureOf(
      docs(spark, sfDir)
        .select(col("lang"),
                size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens")))

  /** [[mixTemperature]]'s arithmetic over a pre-aggregated (lang, n_docs,
    * tokens) frame — factored out so the ultra-tail reduction boundary is
    * testable on a synthetic corpus where `tokens < red` (the r13 ADVICE
    * fixture: at real corpus sizes red = total div 10⁶ > 1, and a language
    * below red tokens must keep a nonzero temperature weight). The reduced
    * count is floored at 1 — `greatest(tokens div red, 1)` — in BOTH the
    * Spark plan and the DuckDB oracle, so sub-red tail languages (the ones
    * temperature mixing exists to up-weight) never silently zero out.
    */
  private[graft] def mixTemperatureOf(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("tokens")).as("total"))
    val scaled = counts.crossJoin(broadcast(tot))
      .withColumn("red", expr("greatest(1, total div 1000000)"))
      .select(col("lang"), col("n_docs"), col("tokens"),
              expr("greatest(tokens div red, 1) * 10000 div (total div red)")
                .as("share_bp"),
              floor(sqrt(
                expr("greatest(tokens div red, 1) * 1000000000000 " +
                     "div (total div red)")
                  .cast("double"))).cast("long").as("s"))
    val sTot = scaled.agg(sum(col("s")).as("s_total"))
    ordered(
      scaled.crossJoin(broadcast(sTot))
        .select(col("lang"), col("n_docs"), col("tokens"), col("share_bp"),
                expr("s * 10000 div s_total").as("weight_bp"))
        .withColumn("boost_bp",
                    expr("weight_bp * 10000 div greatest(share_bp, 1)")),
      "lang")
  }

  /** q_corpus_mix: halve English, trim French/Spanish slightly, keep the
    * rest — the canonical "don't let the web crawl drown the mix" rebalance.
    */
  def corpusMixQ(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      corpusMix(docs(spark, sfDir),
        Map("en" -> 0.5, "fr" -> 0.8, "es" -> 0.9, "de" -> 1.0, "zh" -> 1.0))
        .select(col("doc_id"), col("lang"), col("source")),
      "doc_id")

  /** Sequence packing — the concat-and-chunk step every LLM training
    * pipeline runs before the data loader: documents are laid end to end in
    * a deterministic corpus order (doc_id) and cut into fixed-token-budget
    * training sequences. Each doc gets its global token offset, the id of
    * the sequence its first token lands in, and the offset within that
    * sequence.
    *
    * The global running total is [[graft.util.PrefixSum]]'s two-phase scan —
    * parallel per-range-partition windows plus a broadcast of one offset
    * row per partition — NOT `Window.orderBy(doc_id)` with no partition,
    * which would funnel 100 TB through a single reducer. The oracle states
    * the same quantity as the naive global window, so the driver gate
    * proves distributed scan ≡ sequential scan.
    */
  def seqPack(spark: SparkSession, sfDir: String, seqLen: Long = 2048L): DataFrame = {
    val toks = docs(spark, sfDir).select(
      col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    ordered(
      graft.util.PrefixSum.exclusive(toks, "doc_id", col("n_tokens"), "tok_start")
        .select(col("doc_id"), col("n_tokens"), col("tok_start"),
                expr(s"tok_start div $seqLen").as("seq_id"),  // exact integer div
                pmod(col("tok_start"), lit(seqLen)).as("seq_offset")),
      "doc_id")
  }

  /** Length-grouped batch packing with MEASURED padding waste — the
    * batching step between [[seqPack]]-style corpus prep and the data
    * loader: naive fixed-size batches pad every sequence to the batch
    * max, so one long document taxes seven short ones; production
    * loaders group by length first (the dynamic-batching /
    * length-bucketing trick every training stack ships). Documents land
    * in fixed-width token-length buckets (width 16 — an integer-exact
    * `((n+15) div 16)·16`, no float log2 whose exact-power boundaries
    * round differently across engines), are ranked inside each bucket by
    * (n_tokens desc, doc_id), and cut into batches of 8. Per bucket:
    * docs, batches, pad-token waste; every row also carries the naive
    * (doc_id-order batching) total and the savings in basis points — the
    * number that justifies the shuffle.
    *
    * The in-bucket rank is the [[graft.util.PrefixSum]] two-phase scan
    * (global exclusive rank in (bucket, n desc, doc_id) order minus the
    * broadcast per-bucket start offsets — buckets are contiguous in that
    * order), NOT a per-bucket `row_number` window: a single hot bucket
    * can hold most of a 100 TB corpus, and the naive window would funnel
    * it through one reducer. The oracle states the same quantity with
    * plain partitioned windows, so the hash gate proves two-phase ≡
    * windowed, the [[seqPack]] discipline.
    */
  def lengthBucketing(spark: SparkSession, sfDir: String,
                      batch: Int = 8, width: Long = 16L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(spark, sfDir).select(
      col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    val bucketed = toks.withColumn("bucket",
      expr(s"((n + ${width - 1}) div $width) * $width"))
    val g = graft.util.PrefixSum.exclusiveCols(bucketed,
      Seq(col("bucket").asc, col("n").desc, col("doc_id").asc),
      lit(1L), "g")
    // per-bucket start offsets: a window over the <=|buckets|-row
    // aggregate frame (the PrefixSum phase-2 shape — tiny by construction)
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bstart = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("bucket"),
              coalesce(sum(col("cnt")).over(w), lit(0L)).as("bstart"))
    val batches = g.join(broadcast(bstart), "bucket")
      .withColumn("batch_id", expr(s"(g - bstart) div $batch"))
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("bdocs"),
           (max(col("n")) * count(lit(1)) - sum(col("n"))).as("waste"))
    val perBucket = batches.groupBy(col("bucket"))
      .agg(sum(col("bdocs")).as("n_docs"),
           count(lit(1)).as("n_batches"),
           sum(col("waste")).as("pad_tokens"))
    val naive = graft.util.PrefixSum.exclusive(toks, "doc_id", lit(1L), "gn")
      .withColumn("batch_id", expr(s"gn div $batch"))
      .groupBy(col("batch_id"))
      .agg((max(col("n")) * count(lit(1)) - sum(col("n"))).as("wst"))
      .agg(sum(col("wst")).as("naive_pad_total"))
    val tot = perBucket.agg(sum(col("pad_tokens")).as("bucketed_pad_total"))
    ordered(
      perBucket.crossJoin(broadcast(naive)).crossJoin(broadcast(tot))
        .withColumn("savings_bp",
          expr("(naive_pad_total - bucketed_pad_total) * 10000" +
               " div greatest(naive_pad_total, 1)")),
      "bucket")
  }

  /** TF-IDF top-k terms per document — the classic relevance/keyword
    * extraction stage. Three shuffles, all on bounded keys: tf groups the
    * token stream by (doc_id, term); df re-groups one row per (doc, term)
    * by term; the corpus size is a broadcast scalar. Ranking is the
    * two-phase [[graft.util.TopK]] — no corpus-wide window.
    *
    * Determinism: tf, df, n_docs are exact integers; tfidf = tf·ln(N/df) is
    * one multiply + one log from identical integers on both engines, and
    * ties (equal tf AND equal df) are exactly equal doubles broken by term.
    */
  def tfidf(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val d = docs(spark, sfDir)
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = d.groupBy().agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf").cast("double") * log(col("n_docs").cast("double") / col("df").cast("double")))
    ordered(
      graft.util.TopK.perGroup(scored, Seq(col("doc_id")),
          Seq(col("tfidf").desc, col("term").asc), k)
        .select(col("doc_id"), col("rn").cast("long").as("rn"), col("term"),
                col("tf"), col("df"), r4(col("tfidf")).as("tfidf")),
      "doc_id", "rn")
  }

  /** Per-language Shannon entropy of the token distribution (nats) — a
    * corpus-diversity signal (low entropy ⇒ templated/boilerplate text).
    * H = ln(N) − (Σ c·ln c)/N over per-term counts c: the Σ is summed as
    * DECIMAL(28,8) so the partial-aggregation tree is associative and
    * partition-order-proof — raw double accumulation would be order-
    * dependent at scale (the class this repo's money() contract bans).
    * Two shuffles: token counts by (lang, term), then one row per term
    * into the per-lang aggregate.
    */
  def tokenEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = docs(spark, sfDir)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val cnt = toks.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("c"))
    ordered(
      cnt.groupBy(col("lang"))
        .agg(sum(col("c")).as("n_tokens"),
             count(lit(1)).as("n_terms"),
             sum((col("c").cast("double") * log(col("c").cast("double")))
               .cast("decimal(28,8)")).as("sclogc"))
        .select(col("lang"), col("n_tokens"), col("n_terms"),
                r4(log(col("n_tokens").cast("double"))
                   - col("sclogc").cast("double") / col("n_tokens").cast("double"))
                  .as("entropy_nats")),
      "lang")
  }

  /** Percentile-band quality filter — "drop the worst 10% and the
    * too-good-to-be-true top 10%" curation step. Exact percentiles of the
    * corpus score (same [[QScore]] arithmetic as q_quality_score) form a
    * 1-row threshold frame broadcast back over the scan: two passes total,
    * no window, filter stays codegen'd. At 100 TB the exact percentile
    * swaps for approx_percentile (same plan shape, fixed-memory sketch).
    */
  def qualityBand(spark: SparkSession, sfDir: String,
                  lo: Double = 0.1, hi: Double = 0.9): DataFrame = {
    val scored = docs(spark, sfDir).select(col("doc_id"), col("lang"), QScore.score.as("q"))
    val th = scored.groupBy().agg(
      percentile(col("q"), lit(lo)).as("p_lo"),
      percentile(col("q"), lit(hi)).as("p_hi"))
    ordered(
      scored.crossJoin(broadcast(th))
        .filter(col("q") >= col("p_lo") && col("q") <= col("p_hi"))
        .select(col("doc_id"), col("lang"), r4(col("q")).as("quality_score")),
      "doc_id")
  }

  /** Flesch reading-ease readability per document — the classic quality
    * heuristic (206.835 − 1.015·words/sentences − 84.6·syllables/words)
    * with the standard cheap proxies: sentences = punctuation-run count
    * floored at 1, syllables = vowel-group count ([aeiouy]+ runs, the
    * textbook approximation). On this synthetic corpus the texts carry no
    * sentence punctuation, so n_sentences is ~always 1 and the
    * words/sentences term degenerates to document length — the operator
    * is the real formula regardless; one codegen projection, zero
    * shuffles, embarrassingly parallel at any scale.
    */
  def readability(spark: SparkSession, sfDir: String): DataFrame = {
    val nw = size(split(col("text"), " ")).cast("long")
    val ns = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    val syl = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    ordered(
      docs(spark, sfDir).select(
        col("doc_id"), nw.as("n_words"), ns.as("n_sentences"),
        syl.as("n_syllables"),
        r4(lit(206.835) -
           lit(1.015) * (nw.cast("double") / ns.cast("double")) -
           lit(84.6) * (syl.cast("double") / nw.cast("double"))).as("flesch")),
      "doc_id")
  }

  /** Collocation extraction: corpus bigrams scored by pointwise mutual
    * information — the phrase-mining pass (multi-word expressions, entity
    * names) a tokenizer-training pipeline runs over raw text. Bigrams come
    * from posexplode + a per-document lead() window (windows keyed by
    * doc_id: millions of partitions, fully parallel — never a corpus-wide
    * sort); unigram and bigram counts are two hash aggregates, and PMI
    * assembles from EXACT integer counts with one double expression at the
    * end, spelled identically in the oracle:
    * ln((c_xy·W·W)/(B·c_x·c_y)). Empty tokens (split artifacts) never form
    * bigrams but also never bridge one: a pair with an empty side is
    * dropped AFTER adjacency, so "a□□b" yields no (a,b) bigram on either
    * engine. min-count threshold keeps the long tail out of the join.
    */
  def collocations(spark: SparkSession, sfDir: String, minCount: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")).as(Seq("pos", "word")))
    val pairs = toks
      .withColumn("nxt", lead(col("word"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(length(col("word")) > 0 && length(col("nxt")) > 0)
      .select(col("word").as("w1"), col("nxt").as("w2"))
    val uni = toks.filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val totalW = uni.agg(sum(col("c")).as("w_total"))
    val totalB = pairs.groupBy().agg(count(lit(1)).as("b_total"))
    val big = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy")).filter(col("c_xy") >= minCount)
    ordered(
      big
        .join(uni.select(col("word").as("w1"), col("c").as("c_x")), "w1")
        .join(uni.select(col("word").as("w2"), col("c").as("c_y")), "w2")
        .crossJoin(broadcast(totalW)).crossJoin(broadcast(totalB))
        .select(col("w1"), col("w2"), col("c_xy"),
          r4(log((col("c_xy").cast("double") * col("w_total") * col("w_total")) /
                 (col("b_total").cast("double") * col("c_x") * col("c_y")))).as("pmi")),
      "w1", "w2")
  }

  /** Bigram language model: for each context word, the top-k next words by
    * add-one-smoothed conditional probability P(w2|w1) = (c12+1)/(c1+V) —
    * the n-gram LM every tokenizer-training / perplexity-filtering pipeline
    * builds before a neural one exists. Counts come from two hash aggregates
    * over the same tokenized stream (bigrams via per-doc lead() windows —
    * doc-keyed, fully parallel); V (vocabulary size) is a 1-row broadcast.
    * The probability is a single IEEE division of exact integers, so both
    * engines rank on bit-identical doubles; (p desc, w2 asc) is total within
    * each w1. The per-context rank runs on the AGGREGATED bigram frame
    * (|distinct bigrams| rows, not corpus tokens), where a plain window is
    * the right tool — two-phase TopK buys nothing after aggregation.
    */
  def ngramLm(spark: SparkSession, sfDir: String,
              minCount: Int = 5, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")).as(Seq("pos", "word")))
    val pairs = toks
      .withColumn("nxt", lead(col("word"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(length(col("word")) > 0 && length(col("nxt")) > 0)
      .select(col("word").as("w1"), col("nxt").as("w2"))
    val uni = toks.filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val vocab = uni.groupBy().agg(count(lit(1)).as("v"))
    val big = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy")).filter(col("c_xy") >= minCount)
    val scored = big
      .join(uni.select(col("word").as("w1"), col("c").as("c_x")), "w1")
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), col("c_xy"),
              ((col("c_xy") + 1).cast("double") / (col("c_x") + col("v")).cast("double"))
                .as("p_smooth"))
    ordered(
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("w1")).orderBy(col("p_smooth").desc, col("w2").asc)))
        .filter(col("rk") <= k)
        .select(col("w1"), col("rk").cast("long").as("rk"), col("w2"),
                col("c_xy"), r4(col("p_smooth")).as("p_smooth")),
      "w1", "rk")
  }

  /** BPE merge mining — the first iteration of byte-pair-encoding tokenizer
    * training at corpus scale: count adjacent CHARACTER pairs inside words,
    * weighted by word frequency (exactly what BPE's merge-selection step
    * computes over its word-count table). The heavy lift is one hash
    * aggregate to the word-count table — pairs then explode off |vocab|
    * rows, not corpus tokens, so a 100 TB corpus pays the pair fan-out on
    * its (tiny) vocabulary. Top-k merges ranked on exact integer counts.
    */
  def bpeMerges(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val words = docs(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    val pairs = words
      .select(col("word"), col("wc"),
              explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("wc"), expr("substring(word, i, 2)").as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
    pairs
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** Merge rounds in [[bpeTrain]]; fixed so the plan shape is static and
    * the oracle can unroll the same fold (the q_pagerank / SpRounds
    * discipline).
    */
  val BpeRounds = 5

  /** Iterated BPE training — [[bpeMerges]] mines ONE merge step; this runs
    * the actual tokenizer-training loop for [[BpeRounds]] rounds: count
    * adjacent SYMBOL pairs weighted by word frequency, adopt the most
    * frequent pair as a merge rule (ties → lexicographically smallest
    * (a, b) — deterministic on both engines), apply it everywhere, repeat.
    * Output is the ordered merge table (round, a, b, merged, n) — the
    * artifact a BPE tokenizer ships.
    *
    * The symbol sequence of each vocab word is one STRING `"(a)(b)(c)"`
    * (chars wrapped at init; merged symbols concatenate inside one paren
    * pair), because literal `replace(repr, "(a)(b)", "(ab)")` IS greedy
    * left-to-right non-overlapping merge application — exactly BPE's
    * apply step, identical in Spark and DuckDB, no per-row loop. Vocab is
    * restricted to lowercase alphabetic words (parens stay meta-safe; the
    * classic clean-vocab BPE setup).
    *
    * Scale shape: ONE corpus-scale hash-agg builds the word-frequency
    * table; every round after that works on |vocab| rows — pair counts
    * explode off the vocab, the argmax is a 1-row limit, and the merge
    * rule applies via a broadcast cross join (1 row × vocab). Rounds are
    * lazy persist marks on the vocab frame ([[graft.operators.Insights]]
    * shortestPath discipline — each round's frame is referenced by both
    * the next round's pair count and the merge application, so an
    * unpersisted chain recomputes geometrically); the registry entry
    * stays a pure lazy plan.
    */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val w0 = docs(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]{2,}$"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("wc"), regexp_replace(col("word"), "(.)", "($1)").as("repr"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    def pairCounts(w: DataFrame): DataFrame =
      w.select(col("wc"),
          split(expr("substring(repr, 2, length(repr) - 2)"), "\\)\\(").as("sym"))
        .filter(size(col("sym")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(0, size(sym) - 2), i -> struct(sym[i] AS a, sym[i + 1] AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("n"))

    val (_, bests) = (1 to BpeRounds).foldLeft((w0, Seq.empty[DataFrame])) {
      case ((w, acc), r) =>
        val best = pairCounts(w)
          .orderBy(col("n").desc, col("a").asc, col("b").asc).limit(1)
          .select(lit(r.toLong).as("merge_round"), col("a"), col("b"), col("n"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // the final round's vocab rewrite feeds nothing — skip it
        val w2 = if (r == BpeRounds) w
          else w.crossJoin(broadcast(best.select(col("a"), col("b"))))
            .select(col("wc"), expr(
              "replace(repr, concat('(', a, ')(', b, ')'), concat('(', a, b, ')'))")
              .as("repr"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        (w2, acc :+ best)
    }
    bests.reduce(_ unionByName _)
      .select(col("merge_round"), col("a"), col("b"),
              concat(col("a"), col("b")).as("merged"), col("n"))
      .orderBy(col("merge_round"))
  }

  /** BPE tokenizer APPLICATION — the other half of the [[bpeTrain]] story:
    * take the learned merge table and tokenize every document with it,
    * reporting per-doc token counts before/after and the compression the
    * merges bought. The 5 rules pivot into ONE broadcast row (conditional
    * aggregate over the merge table — the rules are DATA, never collected
    * to the driver), and application is 5 nested literal `replace()`
    * calls over the same wrapped-symbol strings training used — greedy
    * left-to-right, rule order = merge-round order, exactly how a BPE
    * tokenizer applies its merge list. Scale shape: the train pipeline's
    * vocab-only rounds plus ONE corpus-scale projection for the apply —
    * per-word work is string-linear, and the broadcast rule row is 10
    * symbols wide whatever the corpus size.
    */
  def bpeApply(spark: SparkSession, sfDir: String): DataFrame = {
    val ruleCols = (1 to BpeRounds).flatMap(r => Seq(
      max(when(col("merge_round") === r, col("a"))).as(s"a$r"),
      max(when(col("merge_round") === r, col("b"))).as(s"b$r")))
    val rules = bpeTrain(spark, sfDir).groupBy()
      .agg(ruleCols.head, ruleCols.tail: _*)
    val applied = (1 to BpeRounds).foldLeft("regexp_replace(word, '(.)', '($1)')") {
      (acc, r) =>
        s"replace($acc, concat('(', a$r, ')(', b$r, ')'), concat('(', a$r, b$r, ')'))"
    }
    ordered(
      docs(spark, sfDir)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
        .filter(col("word").rlike("^[a-z]{2,}$"))
        .crossJoin(broadcast(rules))
        .select(col("doc_id"), length(col("word")).cast("long").as("n_chars"),
                regexp_count(expr(applied), lit("\\(")).cast("long").as("n_sym"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_alpha_words"),
             sum(col("n_chars")).as("n_chars_tokens"),
             sum(col("n_sym")).as("n_bpe_tokens"))
        .select(col("doc_id"), col("n_alpha_words"), col("n_chars_tokens"),
                col("n_bpe_tokens"),
                r4(col("n_bpe_tokens").cast("double") /
                   col("n_chars_tokens").cast("double")).as("compression")),
      "doc_id")
  }

  /** Perplexity filtering — score every document by its average bigram
    * negative log-likelihood under the corpus's own add-one-smoothed LM
    * (the CCNet/Wikipedia-LM quality gate, here self-trained so no external
    * model ships). Per-bigram NLL = -ln((c₁₂+1)/(c₁+V)) is computed from
    * exact integer counts, then QUANTIZED to 1e-6 fixed-point longs before
    * the per-doc sum — integer summation is associative, so the score is
    * partition-order independent and the keep/drop decision is an EXACT
    * integer comparison (sum < maxNll·10⁶·n), immune to float boundary
    * flips. Scale shape: the tokenized corpus shuffles once to join the
    * count tables (at 100 TB you'd broadcast a top-V pruned count table
    * instead — same plan minus the exchange); everything after is one
    * per-doc hash aggregate.
    */
  def perplexityFilter(spark: SparkSession, sfDir: String,
                       maxNll: Double = 8.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")).as(Seq("pos", "word")))
    val pairs = toks
      .withColumn("nxt", lead(col("word"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(length(col("word")) > 0 && length(col("nxt")) > 0)
      .select(col("doc_id"), col("word").as("w1"), col("nxt").as("w2"))
    val uni = toks.filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val vocab = uni.groupBy().agg(count(lit(1)).as("v"))
    val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
    val nllQ = floor(-log((col("c_xy") + 1).cast("double") /
                          (col("c_x") + col("v")).cast("double")) * lit(1000000.0) + lit(0.5))
      .cast("long")
    ordered(
      pairs
        .join(big, Seq("w1", "w2"))
        .join(uni.select(col("word").as("w1"), col("c").as("c_x")), "w1")
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), nllQ.as("nll_q"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_q")).as("snll"))
        .select(col("doc_id"), col("n_bigrams"),
                r4(col("snll").cast("double") / lit(1000000.0) /
                   col("n_bigrams").cast("double")).as("avg_nll"),
                (col("snll") < lit((maxNll * 1000000.0).toLong) * col("n_bigrams"))
                  .as("is_kept")),
      "doc_id")
  }

  /** Per-domain quota sampling: keep at most `cap` documents per source,
    * ranked by (n_chars desc, doc_id asc) — the per-domain cap every
    * web-crawl corpus applies so one mega-site can't dominate the training
    * mix. Ranking runs through the two-phase [[graft.util.TopK]] (local
    * top-cap per partition, then merge survivors), so no single reducer
    * ever sorts a whole domain — the exact failure mode a 100 TB crawl
    * with a 10⁹-page domain hits with a naive window. Oracle is the
    * single-window formulation: the hash gate proves two-phase ≡ window
    * on the (source) grouping too.
    */
  def domainCap(spark: SparkSession, sfDir: String, cap: Int = 10): DataFrame =
    ordered(
      graft.util.TopK.perGroup(
          docs(spark, sfDir).select(col("doc_id"), col("source"), col("n_chars")),
          Seq(col("source")),
          Seq(col("n_chars").desc, col("doc_id").asc), cap)
        .select(col("source"), col("rn").cast("long").as("rk"),
                col("doc_id"), col("n_chars")),
      "source", "rk")

  /** Out-of-vocabulary rate per document against the corpus's own top-k
    * vocabulary — the tokenizer-coverage report run before committing a
    * vocab size. The vocab (top `vocabSize` words by frequency, word-asc
    * tie-break) is BROADCAST — at any corpus scale the vocab is small by
    * construction; per-doc hits come from one left join + conditional
    * count, and the rate is one mirrored division of exact counts.
    */
  def oovRate(spark: SparkSession, sfDir: String, vocabSize: Int = 200): DataFrame = {
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val vocab = toks.groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc).limit(vocabSize)
      .select(col("word"), lit(1).as("in_vocab"))
    ordered(
      toks.join(broadcast(vocab), Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
             count(col("in_vocab")).as("n_in_vocab"),
             r4(lit(1.0) - count(col("in_vocab")).cast("double") /
                count(lit(1)).cast("double")).as("oov_rate")),
      "doc_id")
  }

  /** Sequence-length distribution per language — the context-window sizing
    * report (p50/p90/p99/max token counts) every packing/truncation policy
    * is tuned against. Token counts are exact ints from one expression
    * scan; percentiles are the exact interpolated aggregate the
    * q_quantiles_exact pattern already proves portable.
    */
  def seqlenPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val nTok = size(filter(split(col("text"), " "), x => x =!= lit("")))
      .cast("long")
    ordered(
      docs(spark, sfDir).select(col("lang"), nTok.as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             r4(percentile(col("n_tokens"), lit(0.5))).as("p50"),
             r4(percentile(col("n_tokens"), lit(0.9))).as("p90"),
             r4(percentile(col("n_tokens"), lit(0.99))).as("p99"),
             max(col("n_tokens")).as("max_tokens")),
      "lang")
  }

  /** Dedup-savings report — the cluster-size distribution of exact
    * duplicates ("how much smaller does the corpus get"): for each cluster
    * size s, how many clusters and how many documents dedup removes
    * ((s−1) per cluster). Two hash aggregations over the [[docDedupExact]]
    * normalization; all counts exact.
    */
  def dedupSavings(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val clusters = docs(spark, sfDir)
      .select(md5(norm).as("content_key"))
      .groupBy(col("content_key")).agg(count(lit(1)).as("sz"))
    ordered(
      clusters.groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
             (sum(col("sz") - 1)).as("docs_removed")),
      "cluster_size")
  }

  /** Count-Min heavy hitters — approximate frequencies of the corpus's
    * top-k words from ONE 32 KB sketch ([[graft.functions.CountMinAggregator]],
    * partial+final merged like any aggregate: the shuffle carries the
    * sketch, never token counts). At 100 TB this replaces a groupBy whose
    * distinct-token key space (billions) would swamp the shuffle; here the
    * exact counts are ALSO computed so the gate-visible output carries the
    * estimate alongside its ground truth and the CMS one-sided error
    * (est ≥ exact, est ≤ exact + εN) is checkable row by row. No oracle:
    * the sketch's hash layout is engine-specific (same category as the
    * HLL/MinHash ops); DedupSimilaritySpec-style bounds live in
    * InsightsSpec.
    */
  def cmsHeavyHitters(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val depth = 4
    val width = 1024
    val cms = udaf(new graft.functions.CountMinAggregator(depth, width),
                   org.apache.spark.sql.Encoders.BINARY)
    val toks = docs(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    // ONE lazy composed plan (registry laziness contract, ScaleInfraSpec):
    // the 1-row 32 KB sketch crossJoins the exact top-k, and the point
    // query runs IN-PLAN — est = min over rows d of sketch[d·width +
    // (xxh64(bytes, seed=d) mod width)], exactly CountMinAggregator
    // .estimate's arithmetic (xxh64_seed ≡ the aggregator's jpountz hash,
    // proven bit-equal in InsightsSpec).
    val sketch = toks.agg(cms(col("word").cast("binary")).as("s"))
    val exact = toks.groupBy(col("word")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("word").asc).limit(k)
    val est = least((0 until depth).map { d =>
      val slot = pmod(call_function("xxh64_seed", col("word").cast("binary"), lit(d.toLong)),
                      lit(width.toLong))
      element_at(col("s"), (slot + lit(d.toLong * width) + lit(1L)).cast("int"))
    }: _*)
    ordered(
      exact.crossJoin(broadcast(sketch))
        .select(col("word"), col("exact_n"), est.as("cms_est")),
      "word")
  }

  /** Count-min sketch under the EXACT hash gate — the gated twin of
    * [[cmsHeavyHitters]]: the full CMS mechanism (hash each occurrence to
    * one cell per depth row, sum cells, point-estimate = min over the
    * key's cells) expressed as portable relational algebra, with the
    * engine-specific xxhash64 swapped for md5-base + Carter–Wegman rows
    * ([[graft.operators.Dedup.cwCoef]] — same coefficients inlined in the
    * oracle SQL). The cell table IS the sketch: the aggregate shuffles at
    * most depth·width = 4096 partial rows regardless of corpus size,
    * exactly the bounded-state argument of the real aggregator; estimates
    * are hash-gated including their one-sided error (est ≥ exact by
    * construction, both engines agreeing cell-for-cell).
    */
  def cmsGated(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val P = 2147483647L
    val depth = 4
    val width = 1024
    def coefA(d: Int) = graft.operators.Dedup.cwCoef("cmsa", d, P - 1, 1L)
    def coefB(d: Int) = graft.operators.Dedup.cwCoef("cmsb", d, P, 0L)
    val toks = docs(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val baseHash = conv(substring(md5(col("word")), 1, 12), 16, 10)
      .cast("long") % P
    def slot(d: Int) = (lit(coefA(d)) * col("h") + lit(coefB(d))) % P % width
    val hw = toks.select(col("word"), baseHash.as("h"))
    val cells = hw
      .select(col("h"), posexplode(array((0 until depth).map(slot): _*))
        .as(Seq("d", "slot")))
      .groupBy(col("d"), col("slot")).agg(count(lit(1)).as("cell"))
    val exact = toks.groupBy(col("word")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("word").asc).limit(k)
    val eh = exact.withColumn("h", baseHash)
      .select(col("word"), col("exact_n"),
        posexplode(array((0 until depth).map(slot): _*)).as(Seq("d", "slot")))
    ordered(
      eh.join(cells, Seq("d", "slot"))
        .groupBy(col("word"), col("exact_n"))
        .agg(min(col("cell")).as("cms_est")),
      "word")
  }

  /** HyperLogLog under the EXACT hash gate — the gated twin of the
    * approx-distinct sketch: 1024 registers over a 48-bit md5 base hash
    * (idx = h mod 1024, rho = leading-zero rank of h div 1024 via the
    * bin()-length trick — identical minimal-width bin() in both engines),
    * raw HLL estimator αm·m²/Σ2^(−Mⱼ) WITHOUT the small-range ln
    * correction, so the whole chain stays transcendental-free: 2^(−M) is
    * computed as 1.0/(1 << M) — an exact dyadic double — and the harmonic
    * sum of 1024 such terms spans < 53 bits of exponent, so it is EXACT
    * under any aggregation order; the one multiply/divide at the end is
    * mirrored IEEE and r4-rounded. The register table shuffles ≤ 1024
    * rows regardless of corpus size — the sketch's bounded-state argument,
    * hash-gated. (Production approx ops keep Spark's HLL++
    * `approx_count_distinct`; this gates the mechanism.)
    */
  def hllGated(spark: SparkSession, sfDir: String): DataFrame = {
    val m = 1024
    // key set: order keys off the fact table — tens of thousands of
    // distinct values, so the registers saturate and the RAW estimator is
    // in its accurate regime (the small-range correction this twin omits
    // to stay transcendental-free only matters when most registers are
    // empty)
    val toks = t(spark, sfDir, "lineitem")
      .select(col("l_orderkey").cast("string").as("word"))
    val hw = toks.select(col("word")).distinct()
      .select(col("word"),
        conv(substring(md5(col("word")), 1, 12), 16, 10).cast("long").as("h"))
    val w = expr("h div 1024")
    val rho = when(w > 0, lit(39) - length(bin(w))).otherwise(lit(39))
    val regs = hw.select((col("h") % m).as("idx"), rho.as("rho"))
      .groupBy(col("idx")).agg(max(col("rho")).as("mj"))
    val agg = regs.agg(count(lit(1)).as("occ"),
      sum(lit(1.0) / expr("cast(shiftleft(cast(1 as bigint), mj) as double)"))
        .as("hsum"))
    val exact = toks.agg(countDistinct(col("word")).as("exact_distinct"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    exact.crossJoin(broadcast(agg))
      .select(col("exact_distinct"),
        (lit(m.toLong) - col("occ")).as("empty_registers"),
        r4(alpha * lit(m.toDouble) * lit(m.toDouble) /
           (col("hsum") + (lit(m.toLong) - col("occ")).cast("double")))
          .as("hll_est"))
  }

  /** BM25 document ranking for a fixed term set — the retrieval scorer the
    * contamination/dedup tier's exact-match cousins feed into. Standard
    * Robertson/Sparck-Jones shape: idf = ln(1 + (N−df+0.5)/(df+0.5)),
    * per-term score idf·tf·(k₁+1)/(tf + k₁·(1−b+b·len/avglen)).
    *
    * Every input to the IEEE chain is an exact count (tf, df, N, len,
    * Σlen), each per-(doc,term) score is one mirrored expression, and the
    * per-doc SUM of term scores goes through the DECIMAL(28,8) cast so the
    * partial-aggregate tree is associative. Plan: one token explode
    * filtered to the query terms (predicate applied before the tf
    * aggregate — the shuffle carries only query-term hits, a tiny slice of
    * the corpus), df and corpus stats broadcast, global top-k as
    * TakeOrderedAndProject.
    */
  def bm25(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame =
    bm25Scores(spark, sfDir)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)

  /** The full BM25-scored doc frame behind [[bm25]] (no order/limit) —
    * factored out in round 11 so the hybrid-retrieval fusion
    * ([[graft.operators.Similarity.rrfFusion]]) ranks over the same
    * scores the registered q_bm25 pins.
    */
  private[operators] def bm25Scores(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    val terms = Seq("join", "hash", "scan")
    val k1 = 1.2
    val b = 0.75
    val withLen = docs(spark, sfDir).select(
      col("doc_id"), col("text"),
      size(filter(split(col("text"), " "), x => x =!= lit(""))).cast("long").as("len"))
    val stats = withLen.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
    val tf = withLen
      .select(col("doc_id"), col("len"),
              explode(split(lower(col("text")), " ")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("len"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nd = col("n_docs").cast("double")
    val dfd = col("df").cast("double")
    val tfd = col("tf").cast("double")
    val avglen = col("sum_len").cast("double") / nd
    val idf = log(lit(1.0) + (nd - dfd + lit(0.5)) / (dfd + lit(0.5)))
    val score = idf * (tfd * lit(k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("len").cast("double") / avglen))
    tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
      .withColumn("s", score)
      .groupBy(col("doc_id"))
      .agg(r4(sum(col("s").cast("decimal(28,8)")).cast("double")).as("bm25"))
  }

  /** Gopher-style composite quality filter (Rae et al. 2021, "Scaling
    * Language Models", Appendix A — the published repetition/format rule
    * set every LLM curation pipeline starts from) with PER-RULE boolean
    * flags, not just a verdict — the operator a curation run needs to
    * answer "WHY was this doc dropped". Thresholds adapted to the
    * synthetic corpus's scale (docs are ~50 words): word count in
    * [20, 1000] (Gopher: [50, 100k]), mean word length in [3, 10]
    * (Gopher's own bounds), ≥80% alphabetic words, ≥2 distinct common
    * stop words (Gopher: ≥2 of a fixed 8-word list). Everything is exact
    * integer/string arithmetic over one projection — no shuffle at all
    * until the output sort; mean word length exploits the single-space
    * corpus (chars − (words−1) = total word chars), mirrored as one
    * double division.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val words = size(split(col("text"), " ")).cast("long")
    val mwl = (length(col("text")).cast("long") - (words - 1)).cast("double") /
      words.cast("double")
    val alphaWords =
      size(expr("filter(split(text, ' '), w -> w rlike '[A-Za-z]')")).cast("long")
    val stopHits = Seq("the", "a", "of", "and", "to", "with")
      .map(w => array_contains(split(col("text"), " "), w).cast("int"))
      .reduce(_ + _)
    ordered(
      docs(spark, sfDir).select(
        col("doc_id"), words.as("n_words"), r4(mwl).as("mean_word_len"),
        alphaWords.as("n_alpha_words"), stopHits.cast("long").as("n_stopwords"),
        (words >= 20 && words <= 1000).as("r_word_count"),
        (mwl >= 3.0 && mwl <= 10.0).as("r_mean_word_len"),
        (alphaWords * 5 >= words * 4).as("r_alpha_ratio"), // ≥80%, integer cross-mult
        (stopHits >= 2).as("r_stopwords"))
        .withColumn("keep",
          col("r_word_count") && col("r_mean_word_len") &&
          col("r_alpha_ratio") && col("r_stopwords")),
      "doc_id")
  }

  /** Heaps'-law vocabulary growth curve — cumulative distinct 3-gram
    * shingles as the corpus is read in doc_id order, the scaling-law
    * diagnostic (is vocabulary still growing sublinearly, or has the
    * corpus saturated?) curation runs plot before sizing a tokenizer.
    * Novel-per-doc counts come from the [[ngramNovelty]] first-occurrence
    * map (one shingle hash-agg + join back); the cumulative sum is the
    * two-phase distributed [[PrefixSum]] — never a single-reducer global
    * window, so the curve computes at any corpus size.
    */
  def heapsLaw(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingleRows(docs(spark, sfDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firsts = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    val novel = sh.join(firsts, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
             .as("novel"))
    val cum = graft.util.PrefixSum
      .exclusiveCols(novel, Seq(col("doc_id").asc), col("novel"), "cum0")
    ordered(
      cum.select(col("doc_id"), col("n_shingles"), col("novel"),
                 (col("cum0") + col("novel")).as("cum_vocab")),
      "doc_id")
  }

  /** Per-document n-gram novelty — the marginal-contribution diagnostic a
    * corpus-curation pipeline ranks sources by (RefinedWeb-style "what does
    * this doc add that the corpus doesn't already have"): the fraction of a
    * doc's distinct 3-gram shingles whose FIRST corpus occurrence (minimum
    * doc_id) is this document. Complements [[contamination]] (overlap with
    * a fixed benchmark set) and [[dupSpans]] (corpus-wide repeats): novelty
    * is per-doc and ordered, so near-dup clusters show up as one novel doc
    * followed by near-zero-novelty copies. Plan: one shingle-keyed hash-agg
    * for the first-occurrence map, one co-partitioned join back (same key,
    * AQE reuses the exchange), one doc-keyed agg — no pair stage at all,
    * linear in shingle volume at any corpus size. The shingle frame feeds
    * both legs → persisted, the [[contamination]] rationale.
    */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingleRows(docs(spark, sfDir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firsts = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    ordered(
      sh.join(firsts, "s")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
             sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
               .as("novel"))
        .select(col("doc_id"), col("n_shingles"), col("novel"),
                r4(col("novel").cast("double") /
                   col("n_shingles").cast("double")).as("novelty_ratio")),
      "doc_id")
  }

  /** Jensen–Shannon divergence of each source's unigram distribution from
    * the whole-corpus distribution — the per-domain drift report a corpus
    * mix decision reads (which crawl slices are lexically far from the
    * blend; symmetric, bounded ≤ ln 2, finite even on disjoint support —
    * everything KL is not). JS(p‖q) = ½Σp·ln(p/m) + ½Σq·ln(q/m), m=(p+q)/2
    * with p the source's term distribution and q the corpus-wide one. The
    * second sum runs over the FULL vocabulary per source (q>0 terms
    * contribute even where the source lacks the term), so the compute frame
    * is the source × vocabulary grid — VOCABULARY-bounded, not
    * corpus-bounded, and built as one cross join of the (tiny) per-source
    * totals against the vocab frame with a left join back for the source
    * counts. Probabilities are single IEEE divisions of exact BIGINT
    * counts; each ln term is cast DECIMAL(28,8) before the per-source sum
    * (associative — the entropy/chi² discipline), doubles only in the
    * final ½·(Σ+Σ) boundary expression.
    */
  def jsDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = docs(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val cs = tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("cs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = cs.groupBy(col("term")).agg(sum(col("cs")).as("cg"))
    val srcTotals = cs.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val ng = vocab.agg(sum(col("cg")).as("ng"))
    val grid = srcTotals.crossJoin(vocab).crossJoin(ng)
      .join(cs, Seq("source", "term"), "left")
      .select(col("source"), col("ns"),
              coalesce(col("cs"), lit(0L)).cast("double").as("csd"),
              col("cg").cast("double").as("cgd"), col("ng").cast("double").as("ngd"))
    val p = col("csd") / col("ns").cast("double")
    val qq = col("cgd") / col("ngd")
    val m = (p + qq) / lit(2.0)
    ordered(
      grid.select(col("source"), col("ns"),
                  when(col("csd") > 0, p * log(p / m)).otherwise(lit(0.0))
                    .cast("decimal(28,8)").as("tp"),
                  (qq * log(qq / m)).cast("decimal(28,8)").as("tq"))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_tokens"),
             sum(col("tp")).as("sp"), sum(col("tq")).as("sq"))
        .select(col("source"), col("n_tokens"),
                r4(lit(0.5) * (col("sp").cast("double") + col("sq").cast("double")))
                  .as("js_nats")),
      "source")
  }

  /** Dedup threshold curve — how many near-dup pairs (and docs) an EXACT
    * set-Jaccard dedup would act on at each candidate threshold: the
    * decision curve behind "dedup at 0.8 or 0.7?" that a single-threshold
    * run never shows. Pairs come from the same inverted-index
    * formulation as [[ngramJaccard]] (blocked by (lang, length band),
    * distinct shingles, pair volume Σ count² over within-block postings);
    * the threshold test is INTEGER cross-multiplication
    * (100·|A∩B| ≥ t·|A∪B|) — no double boundary flips at exactly-t
    * pairs. One pair frame feeds every threshold row.
    *
    * `n_droppable` counts DIRECT-PAIR droppable docs — docs with at
    * least one above-threshold neighbor of smaller id — NOT the
    * transitive keep-one-per-cluster count a connected-components dedup
    * ([[graft.operators.Dedup.dedupComponents]]) would drop: chain-
    * connected docs whose only above-threshold edges point to larger
    * ids are not counted, so the curve LOWER-BOUNDS CC-based drops at
    * each threshold. The direct-pair form needs no fixpoint, which is
    * what lets one lazy pair frame price every threshold in a single
    * pass.
    */
  def dedupThresholdCurve(spark: SparkSession, sfDir: String,
                          thresholds: Seq[Int] = Seq(50, 60, 70, 80, 90)): DataFrame = {
    import spark.implicits._
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), expr("n_chars div 200").as("blk"))
    // shingles() already emits the distinct shingle SET per doc (the
    // ngramJaccard oracle's list_distinct hash-matches it) — no dedup pass
    val e = shingleRows(docs(spark, sfDir)).join(d, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = e.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val a = e.select(col("lang"), col("blk"), col("s"), col("doc_id").as("doc_a"))
    val b = e.select(col("lang"), col("blk"), col("s"), col("doc_id").as("doc_b"))
    val common = a.join(b, Seq("lang", "blk", "s"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("c"))
    val pairs = common
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("c"),
              (col("na") + col("nb") - col("c")).as("u"))
    val th = thresholds.toDF("threshold_pct")
    ordered(
      pairs.crossJoin(broadcast(th))
        .filter(col("c") * 100 >= col("threshold_pct") * col("u"))
        .groupBy(col("threshold_pct"))
        .agg(count(lit(1)).as("n_pairs"),
             countDistinct(col("doc_b")).as("n_droppable")),
      "threshold_pct")
  }

  /** Quality-filter token budget — for each [[gopherRules]] rule, the
    * docs it fails alone and the TOKENS that fail with them, plus the
    * composite: the "what does each filter cost us" report a curation
    * run reads before tuning thresholds (a rule that kills 40% of
    * tokens gets re-examined; one that kills 0.1% is free). One
    * projection reusing the gopherRules flags, one conditional
    * aggregate, unpivoted to one row per rule via stack — no second
    * corpus scan per rule.
    */
  def filterBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val g = gopherRules(spark, sfDir)
      .select(col("n_words"), col("r_word_count"), col("r_mean_word_len"),
              col("r_alpha_ratio"), col("r_stopwords"), col("keep"))
    val agg = g.agg(
      sum(col("n_words")).as("total_tokens"),
      sum(when(!col("r_word_count"), 1L).otherwise(0L)).as("d_wc"),
      sum(when(!col("r_word_count"), col("n_words")).otherwise(lit(0L))).as("t_wc"),
      sum(when(!col("r_mean_word_len"), 1L).otherwise(0L)).as("d_mwl"),
      sum(when(!col("r_mean_word_len"), col("n_words")).otherwise(lit(0L))).as("t_mwl"),
      sum(when(!col("r_alpha_ratio"), 1L).otherwise(0L)).as("d_ar"),
      sum(when(!col("r_alpha_ratio"), col("n_words")).otherwise(lit(0L))).as("t_ar"),
      sum(when(!col("r_stopwords"), 1L).otherwise(0L)).as("d_sw"),
      sum(when(!col("r_stopwords"), col("n_words")).otherwise(lit(0L))).as("t_sw"),
      sum(when(!col("keep"), 1L).otherwise(0L)).as("d_all"),
      sum(when(!col("keep"), col("n_words")).otherwise(lit(0L))).as("t_all"))
    ordered(
      agg.select(expr(
        "stack(5, 'alpha_ratio', d_ar, t_ar, 'composite', d_all, t_all, " +
        "'mean_word_len', d_mwl, t_mwl, 'stopwords', d_sw, t_sw, " +
        "'word_count', d_wc, t_wc) AS (rule, n_docs_failing, tokens_removed)"),
        col("total_tokens"))
        .withColumn("pct_tokens",
          r4(col("tokens_removed").cast("double") /
             col("total_tokens").cast("double"))),
      "rule")
  }

  /** Vocabulary coverage curve — what share of all corpus tokens the
    * top-k vocabulary covers, at several k: THE tokenizer-sizing curve
    * ([[vocabTopK]] lists the words; this says when to stop adding
    * them — 95% coverage at k=30 means a 10k vocab buys nothing here).
    * Ranks and the cumulative token mass come from the same two-phase
    * distributed [[graft.util.PrefixSum]] as [[zipfSlope]] (no global
    * window); each requested k picks the row at rank min(k, |vocab|)
    * via a broadcast join — one lookup per k.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String,
                    ks: Seq[Int] = Seq(5, 10, 20, 50)): DataFrame = {
    import spark.implicits._
    val freq = docs(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val withRank = graft.util.PrefixSum
      .exclusiveCols(
        graft.util.PrefixSum.exclusiveColsTotal(
          freq, Seq(col("c").desc, col("term").asc), col("c"), "cum0", "total"),
        Seq(col("c").desc, col("term").asc), lit(1L), "r0")
      .withColumn("r", col("r0") + lit(1L))
    val nTerms = withRank.agg(max(col("r")).as("n_terms"))
    val kdf = ks.toDF("k").crossJoin(broadcast(nTerms))
      .withColumn("r", least(col("k").cast("long"), col("n_terms")))
    ordered(
      withRank.join(broadcast(kdf), "r")
        .select(col("k"), col("r").as("vocab_used"),
                r4((col("cum0") + col("c")).cast("double") /
                   col("total").cast("double")).as("coverage")),
      "k")
  }

  /** Emerging terms — the vocabulary with the steepest frequency growth
    * between the early and late corpus halves (split at the median
    * doc_id, the arrival proxy): the topic-drift screen a recurring
    * crawl runs before re-balancing its mix ([[jsDivergence]] says THAT
    * a slice drifted; this says WHICH words). Add-1-smoothed growth
    * ratio (late+1)/(early+1) on exact counts; top-50 by the UNROUNDED
    * ratio with a lexical tie-break, ratio r4 at the boundary. Two
    * hash-aggs over the token stream; the median id is a 1-row
    * broadcast.
    */
  def emergingTerms(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame = {
    val mid = docs(spark, sfDir).agg(percentile(col("doc_id"), lit(0.5)).as("mid"))
    val halves = docs(spark, sfDir).crossJoin(broadcast(mid))
      .select(explode(split(col("text"), " ")).as("term"),
              (col("doc_id") <= col("mid")).as("early"))
      .filter(col("term") =!= "")
    val counts = halves.groupBy(col("term"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("early_n"),
           sum(when(!col("early"), 1L).otherwise(0L)).as("late_n"))
    val growth = (col("late_n") + 1).cast("double") /
      (col("early_n") + 1).cast("double")
    counts
      .withColumn("g", growth)
      .orderBy(col("g").desc, col("term").asc)
      .limit(k)
      .select(col("term"), col("early_n"), col("late_n"), r4(col("g")).as("growth"))
  }

  /** Language-ID confusion matrix — declared `lang` vs [[langId]]'s
    * predicted label, with each cell's share of its declared-language
    * row: the corpus-metadata QA report ("how much of the zh slice does
    * the detector think is English") that decides whether the lang
    * column can be trusted for routing/filtering. One projection (the
    * langId expressions) into two hash-aggs; output is
    * |langs| × |predictions| — driver scale at any corpus size.
    */
  def langIdConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = langId(spark, sfDir)
      .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    ordered(
      cells.join(totals, "lang")
        .select(col("lang"), col("lang_pred"), col("n"),
                r4(col("n").cast("double") / col("n_lang").cast("double"))
                  .as("share")),
      "lang", "lang_pred")
  }

  /** Cross-split PARAGRAPH-level leakage — the train/test contamination
    * audit run before any eval is trusted: for each ordered split pair,
    * the count of 20-word paragraphs present in BOTH splits and the
    * count of LATER-split docs carrying a paragraph the earlier split
    * already has (the docs whose eval scores are memorization).
    * Paragraph grain, not whole-doc fingerprints: the near-dup corpus
    * has ZERO exact cross-split doc twins (measured — a doc-grain audit
    * returns an empty, self-satisfied report) while paragraph overlap is
    * real; partial memorization is exactly what doc-grain audits miss.
    * Digest joins only — text never enters the dedup shuffle.
    */
  def splitLeakage(spark: SparkSession, sfDir: String,
                   parWords: Int = 20): DataFrame = {
    val bucket = pmod(col("doc_id"), lit(10L))
    val fp = paragraphs(docs(spark, sfDir), parWords)
      .select(col("doc_id"),
              when(bucket < 8, lit("train")).when(bucket === 8, lit("val"))
                .otherwise(lit("test")).as("split"),
              when(bucket < 8, 0).when(bucket === 8, 1).otherwise(2).as("rk"),
              sha2(col("par_text"), 256).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sets = fp.select(col("fp"), col("split"), col("rk")).distinct()
    val pairsFp = sets.select(col("fp"), col("split").as("split_a"), col("rk").as("ra"))
      .join(sets.select(col("fp"), col("split").as("split_b"), col("rk").as("rb")), "fp")
      .filter(col("ra") < col("rb"))
    val shared = pairsFp.groupBy(col("split_a"), col("split_b"))
      .agg(countDistinct(col("fp")).as("n_shared_fps"))
    val leaked = fp.select(col("fp"), col("doc_id"), col("split").as("split_b"),
                           col("rk").as("rb"))
      .join(sets.select(col("fp"), col("split").as("split_a"), col("rk").as("ra")), "fp")
      .filter(col("ra") < col("rb"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(countDistinct(col("doc_id")).as("n_leaked_docs"))
    ordered(
      shared.join(leaked, Seq("split_a", "split_b"), "full_outer")
        .select(col("split_a"), col("split_b"),
                coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"),
                coalesce(col("n_leaked_docs"), lit(0L)).as("n_leaked_docs")),
      "split_a", "split_b")
  }

  /** nDCG / precision / recall @ k of the [[bm25]] ranking against a
    * binary ground truth (doc contains ALL three query words, each ≥3
    * times — the ≥1 form makes 270/500 docs relevant and every top-20 is
    * trivially all-relevant, nDCG pinned at 1.0; the strict form leaves
    * ~27 relevant docs, so the metric actually discriminates) — the
    * retrieval-eval triple every ranking change is judged by. The ranking
    * is the r4-rounded-score total order bm25 itself emits (engine-
    * portable, the cosineTopKBatch lesson); DCG terms accumulate as
    * DECIMAL(28,8); IDCG places the min(k, R) relevant docs at the top.
    * Everything after the bm25 scan is a k-row frame plus one corpus
    * hash-agg for R.
    */
  def ndcgAt(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val terms = Seq("join", "hash", "scan")
    val relCol = terms.map(t =>
      size(filter(split(lower(col("text")), " "), x => x === lit(t))) >= 3)
      .reduce(_ && _)
    val rel = docs(spark, sfDir).select(col("doc_id"), relCol.as("relevant"))
    val totalRel = rel.agg(sum(when(col("relevant"), 1L).otherwise(0L)).as("r"))
    // TakeOrdered top-k with the rank over the k-row result (util.Ranked)
    val ranked = graft.util.Ranked.topkRanked(
      bm25Scores(spark, sfDir), k, "i",
      col("bm25").desc, col("doc_id").asc)
    val scored = ranked.join(rel, "doc_id")
      .select(col("i"),
              when(col("relevant"),
                   (lit(1.0) / log2(col("i").cast("double") + 1.0))
                     .cast("decimal(28,8)"))
                .otherwise(lit(0).cast("decimal(28,8)")).as("dcg_term"),
              when(col("relevant"), 1L).otherwise(0L).as("rel"))
      .agg(sum(col("dcg_term")).as("dcg"), sum(col("rel")).as("hits"))
    val idcg = totalRel
      // r = 0 ⇒ zero-row output on BOTH engines: DuckDB's generate_series(1,0)
      // is empty, while Spark's sequence(1, 0) would auto-step -1 and yield
      // [1, 0] (a spurious 1/log2(1) = ∞ IDCG term) — filter aligns the
      // degenerate branch (unreachable on current fixtures, r ≈ 27)
      .filter(col("r") > 0)
      .select(explode(sequence(lit(1), least(lit(k), col("r").cast("int")))).as("i"),
              col("r"))
      .groupBy(col("r"))
      .agg(sum((lit(1.0) / log2(col("i").cast("double") + 1.0))
                 .cast("decimal(28,8)")).as("idcg"))
    scored.crossJoin(broadcast(idcg))
      .select(lit(k.toLong).as("k"), col("r").as("n_relevant_total"),
              col("hits").as("n_relevant_topk"),
              r4(col("dcg").cast("double")).as("dcg"),
              r4(col("idcg").cast("double")).as("idcg"),
              r4(col("dcg").cast("double") / col("idcg").cast("double")).as("ndcg"),
              r4(col("hits").cast("double") / lit(k.toDouble)).as("precision_k"),
              r4(col("hits").cast("double") / col("r").cast("double")).as("recall_k"))
  }

  /** Per-source distinctive terms by LIFT — each source's term share over
    * the corpus term share, lift = (tf_t,s/total_s)/(tf_t/total). The
    * idf-weighted c-TF-IDF variant degenerates on a shared-vocabulary
    * corpus (measured here: 31-word vocab, every term in 17–20 of 20
    * sources ⇒ idf ≈ 0 everywhere), while lift discriminates whenever
    * relative frequencies differ at all. Top-3 per source by the
    * r4-ROUNDED lift (portable total order, term tiebreak). Term×source
    * cells come out of one exploded hash-agg; the rank window partitions
    * on source over vocab-bounded cells. The "what does this crawl
    * over-index on" report.
    */
  def distinctiveTerms(spark: SparkSession, sfDir: String,
                       topN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = docs(spark, sfDir)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = cells.groupBy(col("source")).agg(sum(col("tf")).as("total"))
    val tfc = cells.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val grand = cells.agg(sum(col("tf")).as("g"))
    val scoredCells = cells.join(totals, "source").join(tfc, "term")
      .crossJoin(broadcast(grand))
      .select(col("source"), col("term"), col("tf"),
              r4((col("tf").cast("double") / col("total").cast("double")) /
                 (col("ctf").cast("double") / col("g").cast("double")))
                .as("lift"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("lift").desc, col("term").asc)
    ordered(
      scoredCells.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= topN)
        .select(col("source"), col("rank"), col("term"), col("tf"), col("lift")),
      "source", "rank")
  }

  /** Calibration bins + per-bin gaps for the [[langId]] evidence score
    * read as P(en) (p̂ = min(1, evidence/6) — a fixed monotone squash,
    * deterministic on both engines): decile-binned reliability table
    * (n, mean score, observed en-rate, gap), the input to a reliability
    * diagram and the per-bin terms of ECE. Mean scores accumulate as
    * DECIMAL(38,18) (per-row doubles summed in partition order
    * otherwise); observed rates are exact integer ratios. One
    * corpus-linear hash-agg into a ≤10-row frame.
    */
  def calibrationBins(spark: SparkSession, sfDir: String): DataFrame = {
    val per100 = (expr("(length(text) - length(replace(text, 'th', ''))) div 2") +
      regexp_count(col("text"), lit("\\bthe\\b|\\band\\b|\\bis\\b")).cast("long"))
      .cast("double") * lit(100.0) / length(col("text")).cast("double")
    val scored = docs(spark, sfDir).select(
      (col("lang") === "en").as("truth_en"),
      least(lit(1.0), per100 / lit(6.0)).as("p_hat"))
    ordered(
      scored
        .select(least(lit(9L), floor(col("p_hat") * 10.0).cast("long")).as("bin"),
                col("p_hat"), col("truth_en"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
             sum(col("p_hat").cast("decimal(38,18)")).as("sp"),
             sum(when(col("truth_en"), 1L).otherwise(0L)).as("n_en"))
        .select(col("bin"), col("n"),
                r4(expr("cast(sp as double) / cast(n as double)")).as("avg_score"),
                r4(expr("cast(n_en as double) / cast(n as double)")).as("obs_rate"),
                r4(expr("abs(cast(sp as double) / cast(n as double)" +
                        " - cast(n_en as double) / cast(n as double))")).as("gap")),
      "bin")
  }

  /** Dunning log-likelihood-ratio collocations — the statistically honest
    * cousin of [[collocations]]' PMI (which over-rewards rare pairs): per
    * bigram, the G-statistic of its 2×2 contingency table (k11 = pair
    * count, margins from unigram-position counts), LLR =
    * 2·Σ kᵢⱼ·ln(kᵢⱼ·N/(rowᵢ·colⱼ)) over the four cells — all four terms
    * in ONE row expression from exact integer counts, so no cross-row
    * double summation exists to order. Top-20 by the r4-rounded LLR
    * (w1/w2 tiebreak). Same bigram/unigram hash-agg machinery; the rank
    * is TakeOrdered.
    */
  def llrCollocations(spark: SparkSession, sfDir: String,
                      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs(spark, sfDir)
      .select(col("doc_id"),
              posexplode(split(lower(col("text")), " ")).as(Seq("pos", "word")))
    val pairs = toks
      .withColumn("nxt", lead(col("word"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(length(col("word")) > 0 && length(col("nxt")) > 0)
      .select(col("word").as("w1"), col("nxt").as("w2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("k11"))
    val left = pairs.groupBy(col("w1")).agg(count(lit(1)).as("r1"))
    val right = pairs.groupBy(col("w2")).agg(count(lit(1)).as("c1"))
    val tot = pairs.agg(count(lit(1)).as("nn"))
    val cells = big.join(left, "w1").join(right, "w2").crossJoin(broadcast(tot))
      .withColumn("k12", col("r1") - col("k11"))
      .withColumn("k21", col("c1") - col("k11"))
      .withColumn("k22", col("nn") - col("r1") - col("c1") + col("k11"))
    def term(kc: String, rowm: String, colm: String) =
      expr(s"""CASE WHEN $kc > 0 THEN cast($kc as double)
              | * ln(cast($kc as double) * cast(nn as double)
              |      / (cast($rowm as double) * cast($colm as double)))
              | ELSE 0.0 END""".stripMargin.replace("\n", " "))
    cells
      .withColumn("llr",
        (term("k11", "r1", "c1") + term("k12", "r1", "nn - c1") +
         term("k21", "nn - r1", "c1") + term("k22", "nn - r1", "nn - c1")) * 2.0)
      .select(col("w1"), col("w2"), col("k11").as("n_pair"), r4(col("llr")).as("llr"))
      .orderBy(col("llr").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Cohen's kappa between the [[langId]] heuristic and the ground-truth
    * label (binarized en/other) — chance-corrected agreement, the honest
    * version of q_langid_confusion's raw shares: κ = (p_o − p_e)/(1 − p_e)
    * with p_o the diagonal share and p_e the marginal-product chance
    * agreement, all from four exact integer cells (one corpus-linear
    * hash-agg; doubles only in the last three divisions). The metric any
    * classifier-vs-gold eval in the corpus pipeline reports.
    */
  def cohensKappa(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .select((col("lang") === "en").as("truth_en"),
              (col("lang_pred") === "en").as("pred_en"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("truth_en") && col("pred_en"), 1L).otherwise(0L)).as("n11"),
           sum(when(!col("truth_en") && col("pred_en"), 1L).otherwise(0L)).as("n01"),
           sum(when(col("truth_en") && !col("pred_en"), 1L).otherwise(0L)).as("n10"),
           sum(when(!col("truth_en") && !col("pred_en"), 1L).otherwise(0L)).as("n00"))
      .select(col("n").as("n_docs"), col("n11").as("both_en"),
              col("n01").as("pred_only"), col("n10").as("truth_only"),
              col("n00").as("both_other"),
              r4(expr("cast(n11 + n00 as double) / cast(n as double)")).as("p_observed"),
              r4(expr(
                """(cast(n11 + n10 as double) * cast(n11 + n01 as double)
                  | + cast(n00 + n01 as double) * cast(n00 + n10 as double))
                  |/ (cast(n as double) * cast(n as double))"""
                  .stripMargin.replace("\n", " "))).as("p_expected"),
              r4(expr(
                """(cast(n11 + n00 as double) / cast(n as double)
                  | - (cast(n11 + n10 as double) * cast(n11 + n01 as double)
                  |    + cast(n00 + n01 as double) * cast(n00 + n10 as double))
                  |   / (cast(n as double) * cast(n as double)))
                  |/ (1.0 - (cast(n11 + n10 as double) * cast(n11 + n01 as double)
                  |          + cast(n00 + n01 as double) * cast(n00 + n10 as double))
                  |         / (cast(n as double) * cast(n as double)))"""
                  .stripMargin.replace("\n", " "))).as("kappa"))

  /** Tokenizer fertility per language — the bytes-per-token and
    * BPE-tokens-per-word ratios a tokenizer sizing decision reads
    * (fertility > 1 means the pre-tokenizer splits words; high
    * bytes/token means the vocabulary underfits the language — the
    * standard multilingual-tokenizer efficiency report). One shuffle-free
    * projection (byte length + the two token counts q_token_count
    * defines) into one map-side-combined hash-agg; ratios are single
    * divisions of exact BIGINT sums, r4 at the boundary.
    */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame =
    ordered(
      docs(spark, sfDir)
        .select(col("lang"), octet_length(col("text")).cast("long").as("nb"),
                size(split(col("text"), " ")).cast("long").as("ws"),
                regexp_count(col("text"),
                  lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("long").as("bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("nb")).as("total_bytes"),
             sum(col("ws")).as("ws_tokens"),
             sum(col("bpe")).as("bpe_tokens"))
        .select(col("lang"), col("n_docs"), col("total_bytes"),
                col("ws_tokens"), col("bpe_tokens"),
                r4(col("bpe_tokens").cast("double") /
                   col("ws_tokens").cast("double")).as("fertility"),
                r4(col("total_bytes").cast("double") /
                   col("bpe_tokens").cast("double")).as("bytes_per_token")),
      "lang")

  /** Zipf's-law fit of the corpus rank–frequency curve — the OLS slope of
    * ln(freq) on ln(rank) over the full vocabulary (natural text ≈ −1; a
    * flat slope flags synthetic/templated corpora, the companion diagnostic
    * to [[heapsLaw]]'s vocabulary-growth curve). Ranks are exact and
    * deterministic (ORDER BY freq DESC, term — ties broken lexically) and
    * come from the two-phase distributed [[graft.util.PrefixSum]], never a
    * single-reducer global window, so the rank assignment scales with the
    * vocabulary. The regression moments are sums of DECIMAL(28,8)-cast
    * ln-terms (associative), and slope/intercept are one mirrored double
    * chain over the five exact aggregates; 1-row output.
    */
  def zipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    val freq = docs(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val ranked = graft.util.PrefixSum
      .exclusiveCols(freq, Seq(col("c").desc, col("term").asc), lit(1L), "r0")
      .withColumn("r", col("r0") + lit(1L))
    val x = log(col("r").cast("double")); val y = log(col("c").cast("double"))
    val agg = ranked.agg(
      count(lit(1)).as("n_terms"),
      sum(x.cast("decimal(28,8)")).as("sx"),
      sum(y.cast("decimal(28,8)")).as("sy"),
      sum((x * y).cast("decimal(28,8)")).as("sxy"),
      sum((x * x).cast("decimal(28,8)")).as("sxx"))
    val nD = col("n_terms").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val slope = (nD * col("sxy").cast("double") - sxD * syD) /
      (nD * col("sxx").cast("double") - sxD * sxD)
    agg.select(col("n_terms"),
               r4(slope).as("zipf_slope"),
               r4((syD - slope * sxD) / nD).as("intercept"))
  }

  /** Corpus entropy rate — the conditional entropy H(w₂|w₁) of the token
    * stream, in nats: how predictable the NEXT token is given the
    * current one. [[tokenEntropy]] measures the unigram distribution;
    * the gap H(w) − H(w₂|w₁) is exactly the sequential structure a
    * 1-gram LM can't see ([[ngramLm]] holds the probabilities, this
    * holds the single corpus-level number). Chain rule over the bigram
    * multiset: H(w₂|w₁) = H(w₁,w₂) − H(w₁), both entropies in the exact
    * Σc·ln c form (one associative DECIMAL(28,8) sum each — the
    * tokenEntropy idiom), both marginals hash-re-aggs of the ONE bigram
    * count frame; bigrams from one lead() per doc (documents are
    * bounded-length, the key is high-cardinality).
    */
  def entropyRate(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d288 = "decimal(28,8)"
    val clnc = (c: Column) => (c.cast("double") * log(c.cast("double"))).cast(d288)
    val toks = docs(spark, sfDir)
      .select(col("doc_id"),
              posexplode(split(lower(col("text")), " ")).as(Seq("pos", "word")))
    val pairs = toks
      .withColumn("nxt", lead(col("word"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(length(col("word")) > 0 && length(col("nxt")) > 0)
      .groupBy(col("word").as("w1"), col("nxt").as("w2"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val joint = pairs.agg(sum(col("c")).as("b"),
                          count(lit(1)).as("n_distinct_bigrams"),
                          sum(clnc(col("c"))).as("slj"))
    val first = pairs.groupBy(col("w1")).agg(sum(col("c")).as("cf"))
      .agg(sum(clnc(col("cf"))).as("slf"))
    val bD = col("b").cast("double")
    val hJoint = log(bD) - col("slj").cast("double") / bD
    val hFirst = log(bD) - col("slf").cast("double") / bD
    joint.crossJoin(broadcast(first))
      .select(col("b").as("n_bigrams"), col("n_distinct_bigrams"),
              r4(hJoint).as("h_joint"), r4(hFirst).as("h_first"),
              r4(hJoint - hFirst).as("h_cond"))
  }

  // -------------------------------------------------------------------
  // Round-10c tier: corpus estimation (how much is there that we have
  // NOT seen — the coverage questions every crawl budget hangs on)
  // -------------------------------------------------------------------

  /** Good–Turing unseen-mass and Chao1 richness estimates per language —
    * "how much probability mass sits on words this corpus has never
    * seen, and how many word types exist in the population": P₀ = N₁/N
    * (Good 1953), coverage Ĉ = 1 − N₁/N, Chao1 V̂ = V + N₁(N₁−1)/(2(N₂+1))
    * (Chao 1984, bias-corrected). The whole estimate reads off the
    * frequency-of-frequencies histogram — two hash-aggs off one type
    * explode, exact integers until the output divisions. The crawl-
    * budget instrument: a language whose Ĉ is still low buys more crawl;
    * one within ε of 1 is saturated. The type universe is word 5-GRAMS,
    * not unigrams: the synthetic corpus has a closed ~31-word vocabulary,
    * so unigram N₁ saturates to 0 at every scale (measured — the
    * degenerate shape assertNonDegenerate exists to catch), while the
    * 31⁵-point 5-gram space stays sparsely sampled and the estimator
    * genuinely discriminates; on a real crawl both universes work and
    * the n-gram one is what contamination/memorization audits use.
    */
  def goodTuring(spark: SparkSession, sfDir: String): DataFrame = {
    val w = split(lower(col("text")), " ")
    val tok = docs(spark, sfDir)
      .select(col("lang"), w.as("wd"))
      .filter(size(col("wd")) >= 5)
      .select(col("lang"),
              explode(transform(sequence(lit(1), size(col("wd")) - 4),
                i => concat_ws(" ", slice(col("wd"), i, lit(5))))).as("w"))
    val types = tok.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    ordered(
      types.groupBy(col("lang"))
        .agg(count(lit(1)).as("v_types"), sum(col("c")).as("n_tokens"),
             sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
             sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
        .select(col("lang"), col("v_types"), col("n_tokens"), col("n1"),
                col("n2"),
                r4(col("n1").cast("double") / col("n_tokens").cast("double"))
                  .as("p_unseen"),
                r4(lit(1.0) - col("n1").cast("double") /
                   col("n_tokens").cast("double")).as("coverage"),
                r4(col("v_types").cast("double") +
                   (col("n1") * (col("n1") - 1)).cast("double") /
                   (lit(2.0) * (col("n2") + 1).cast("double"))).as("chao1")),
      "lang")
  }

  /** Capture–recapture corpus-size estimate per language (Chapman's
    * bias-corrected Lincoln–Petersen): two INDEPENDENT deterministic
    * 1/8 samples (md5 of salted doc_id — engine-portable, no RNG state),
    * overlap m, N̂ = (n₁+1)(n₂+1)/(m+1) − 1. Emitted next to the true
    * count, so the output is simultaneously the estimator and its own
    * validation — the same two-sample trick estimates the overlap of two
    * crawls or the residual dup rate after a dedup pass at 100 TB, where
    * the exact intersection is a full corpus join but two thin hash
    * samples are almost free.
    */
  def captureRecapture(spark: SparkSession, sfDir: String): DataFrame = {
    def inSample(salt: String): Column =
      conv(substring(md5(concat(lit(salt), col("doc_id").cast("string"))),
                     1, 12), 16, 10).cast("long") % 8 === 0
    val d = docs(spark, sfDir).select(
      col("lang"),
      inSample("cr1_").cast("int").as("s1"),
      inSample("cr2_").cast("int").as("s2"))
    ordered(
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("true_n"), sum(col("s1")).as("n1"),
             sum(col("s2")).as("n2"),
             sum(col("s1") * col("s2")).as("m"))
        .select(col("lang"), col("true_n"), col("n1"), col("n2"), col("m"),
                r4((col("n1") + 1).cast("double") *
                   (col("n2") + 1).cast("double") /
                   (col("m") + 1).cast("double") - 1.0).as("n_hat")),
      "lang")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much more likely its words are under the TARGET domain's unigram
    * LM (English here — the stand-in for "looks like the eval set") than
    * under the full-corpus source LM, log w(d) = Σ_w tf_w·(log p̂_t(w) −
    * log p̂_s(w)), both LMs add-1 smoothed on the shared vocabulary. The
    * per-word log-ratio is quantized to an exact integer (·10⁶, the
    * [[perplexityFilter]] portability pattern) BEFORE the per-doc sum, so
    * accumulation is engine-exact. Scale shape: two vocab-sized LM
    * aggregates + one token-grain join on the word — fact-linear, the
    * 100 TB resampling pass verbatim. Top-20 docs by weight.
    */
  def dsirWeights(spark: SparkSession, sfDir: String,
                  topN: Int = 20): DataFrame = {
    val tok = docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
              explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val src = tok.groupBy(col("w")).agg(count(lit(1)).as("cs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tgt = tok.filter(col("lang") === "en")
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))
    val totals = src.agg(sum(col("cs")).as("ns"), count(lit(1)).as("v"))
      .crossJoin(tok.filter(col("lang") === "en")
                   .agg(count(lit(1)).as("nt")))
    // per-word quantized log-ratio over the SOURCE vocab (ct defaults 0)
    val lm = src.join(tgt, Seq("w"), "left_outer")
      .crossJoin(broadcast(totals))
      .select(col("w"),
              floor((log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
                         (col("nt") + col("v")).cast("double")) -
                     log((col("cs") + 1).cast("double") /
                         (col("ns") + col("v")).cast("double"))) *
                    lit(1000000.0) + 0.5).cast("long").as("lr_q"))
    // top-topN as TakeOrdered + rank over the topN-row result (util.Ranked)
    // — never a global-window rank of the doc-grain scored frame
    val scored = tok.join(lm, "w")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lr_q")).as("slr"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
              r4(col("slr").cast("double") / 1000000.0).as("logw"))
    ordered(
      graft.util.Ranked.topkRanked(scored, topN, "rank0",
                                   col("logw").desc, col("doc_id").asc)
        .select(col("rank0").cast("long").as("rank"), col("doc_id"),
                col("lang"), col("n_tokens"), col("logw")),
      "rank")
  }

  /** Posting-list length distribution of the word inverted index — the
    * search-index health histogram (a handful of stopword-class terms with
    * corpus-sized postings dominate index cost; a long unique tail inflates
    * the dictionary): per log2-sized document-frequency bucket (bucket =
    * bit length of df via the bin()-length trick both engines compute
    * identically — no log()), the number of terms, total postings mass,
    * and the df extremes. Two hash-aggs (term grain, then bucket grain) —
    * postings-linear, the [[vocabTopk]] scan shape. Round 11c.
    */
  def postingStats(spark: SparkSession, sfDir: String): DataFrame = {
    val df = docs(spark, sfDir)
      .select(col("doc_id"),
              explode(array_distinct(split(lower(col("text")), " "))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    ordered(
      df.groupBy(length(bin(col("df"))).cast("long").as("df_bucket"))
        .agg(count(lit(1)).as("n_terms"),
             sum(col("df")).as("postings"),
             min(col("df")).as("min_df"), max(col("df")).as("max_df")),
      "df_bucket")
  }
}

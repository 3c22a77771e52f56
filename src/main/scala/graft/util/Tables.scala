package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loading + output-determinism helpers shared by every operator.
  *
  * Determinism contract (SURVEY.md §2 preamble): every query result that is
  * hash-compared against the DuckDB oracle gets (a) a total-order sort on a
  * unique key, (b) doubles rounded to 4 decimals or cast to decimal before
  * output, (c) timestamps reduced to DATE or epoch-microsecond BIGINT so the
  * nanosecond-precision `events.ts` column hashes identically on both engines.
  */
object Tables {

  /** Load one driver testdata table. Plain columnar Parquet scan — Catalyst
    * pushes filters/projections into the vectorized reader, so callers should
    * NOT cache or materialize these: compose lazily and let the optimizer
    * prune. At cluster scale the same call reads a partitioned table; nothing
    * here assumes single-file layout.
    *
    * The schema is supplied explicitly, memoized from ONE driver-side footer
    * read per path: schema-less `spark.read.parquet` runs a Spark
    * schema-inference JOB on every call, which breaks the registry's
    * uniform-laziness contract (ScaleInfraSpec: building a frame must start
    * zero jobs) and, at 170 queries × several tables each, pays hundreds of
    * redundant footer jobs per suite run. One footer per table is exactly
    * what inference reads anyway (mergeSchema=false); the conversion goes
    * through Spark's own ParquetToSparkSchemaConverter driven by the live
    * SQLConf, so session flags like `parquet.nanosAsLong` (events' NANOS
    * timestamp) behave identically to built-in inference.
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // nanosAsLong changes the inferred type of events.ts — key the cache on
    // it so an untuned session can never poison a tuned one (or vice versa)
    val nanosFlag = spark.sessionState.conf
      .getConfString("spark.sql.legacy.parquet.nanosAsLong", "false")
    val schema = schemaCache.computeIfAbsent(s"$nanosFlag:$path",
      _ => readFooterSchema(spark, path))
    spark.read.schema(schema).parquet(path)
  }

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def readFooterSchema(spark: SparkSession,
                               dir: String): org.apache.spark.sql.types.StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val first =
      if (status.isFile) root
      else fs.listStatus(root).iterator
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath).minBy(_.getName)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(first, conf))
    try {
      new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
        spark.sessionState.conf)
        .convert(reader.getFooter.getFileMetaData.getSchema)
    } finally reader.close()
  }

  /** On-disk root, under the JVM temp dir, of a build-once artifact
    * derived from `sfDir`'s `tables`: `graft-<tag>-<key><suffix>`. The key
    * is an md5 over the format tag, the sf path, and the path, length and
    * modification time of every file of each input table, so rewriting an
    * input moves the root and an artifact built from the old files can
    * never serve. `tag` names the artifact's format (say `ivfpq-v1`):
    * change it when the artifact's arithmetic changes. A missing table
    * contributes no files, so the build's own read reports it.
    */
  def storeRoot(spark: SparkSession, sfDir: String, tables: Seq[String],
                tag: String, suffix: String = ""): String = {
    val conf = spark.sessionState.newHadoopConf()
    val files = tables.flatMap { name =>
      val path = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
      val fs = path.getFileSystem(conf)
      if (!fs.exists(path)) Nil
      else {
        val it = fs.listFiles(path, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").toList.sorted
      }
    }
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((tag +: sfDir +: files).mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    s"${sys.props("java.io.tmpdir")}/graft-$tag-$key$suffix"
  }

  /** `events` with the nanosecond timestamp normalized to an epoch-microsecond
    * BIGINT column `ts_us` (truncating division, matching DuckDB's ns→µs cast)
    * so every downstream comparison/window agrees with the oracle exactly.
    * Spark reads parquet TIMESTAMP(NANOS) as LongType under
    * `spark.sql.legacy.parquet.nanosAsLong` (set in [[Sessions.tune]]).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = t(spark, sfDir, "events")
    val tsUs = raw.schema("ts").dataType match {
      // integer `div`, NOT `/`: double division of epoch-nanos (~1.7e18,
      // beyond 2^53) silently loses microseconds and breaks the oracle hash
      case org.apache.spark.sql.types.LongType => expr("ts div 1000L")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    raw.withColumn("ts_us", tsUs)
  }

  /** Portable 4-decimal rounding: floor(x·10⁴ + 0.5)/10⁴ evaluated in pure
    * IEEE double arithmetic, so Spark and the oracle compute bit-identical
    * results from bit-identical inputs. Built-in round() is NOT portable:
    * Spark rounds the shortest decimal repr HALF_UP while DuckDB rounds the
    * scaled binary value, and exact .xxxx5 midpoints (common from 2-decimal
    * money inputs) diverge by 1e-4. The oracle SQL mirrors this formula
    * verbatim: floor(x * 10000.0 + 0.5) / 10000.0.
    */
  def r4(c: Column): Column = floor(c * lit(10000.0) + lit(0.5)) / lit(10000.0)

  /** Exact money arithmetic: cast a double measure to DECIMAL(18,2) before
    * SUM so the aggregation is associative and partition-order independent —
    * double summation order differs between Spark partial/final aggregation
    * and DuckDB's sequential scan, and at 100 TB the partial-aggregate tree
    * shape is nondeterministic run to run. Decimals make it exact.
    */
  def money(c: Column): Column = c.cast("decimal(18,2)")

  /** Overflow-safe integer multiply (round-11 audit helper): promote the
    * LEFT operand to DECIMAL(38,0) BEFORE multiplying, so the product is
    * computed in decimal — `(a * b).cast("decimal(38,0)")` multiplies in
    * Int64 FIRST and silently wraps past 2⁶³ (the class that bit the
    * bootstrap-hash and motif/discord squares at the 100× decade: daily
    * cents ≈ 4·10⁹, their squares ≈ 1.6·10¹⁹ > Long.MaxValue). In decimal
    * a genuine >10³⁸ overflow surfaces as NULL (loud in every gate) rather
    * than a silently wrong value. Use for any product of two aggregated
    * integer measures whose magnitudes are not structurally bounded (row
    * counts × cents, rank × value, value²).
    */
  def qmul(a: Column, b: Column): Column = a.cast("decimal(38,0)") * b

  /** Overflow-safe integer square — see [[qmul]]. */
  def qsq(a: Column): Column = qmul(a, a)

  /** Total-order sort with explicit NULLS FIRST ascending semantics on both
    * engines (Spark's ASC default; the oracle SQL must spell NULLS FIRST).
    */
  def ordered(df: DataFrame, keys: String*): DataFrame =
    df.orderBy(keys.map(k => col(k).asc_nulls_first): _*)
}

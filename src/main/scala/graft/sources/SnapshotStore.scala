package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Immutable-snapshot storage layer — the engine's replacement for the
  * reference's in-place table mutation (SURVEY §1.4: every UPDATE/MERGE
  * becomes read → transform → write-new-snapshot).
  *
  * Layout contract for 100 TB facts:
  *  - fact snapshots are written partitioned by a date-derived column
  *    (`part_date`), so incremental loads rewrite only touched partitions
  *    and date-filtered queries prune at the directory level before any
  *    I/O happens;
  *  - dimension snapshots are small and unpartitioned (broadcast-sized);
  *  - a new snapshot is a new directory version — readers of version N are
  *    never disturbed by the writer of N+1 (the poor man's transaction,
  *    given no Delta/Iceberg jars in this environment; swapping this
  *    object's write path to Delta is a one-line change per method).
  */
object SnapshotStore {

  /** Write a fact snapshot partitioned by the given date column. Partition
    * count per date stays whatever the upstream shuffle produced — size
    * `spark.sql.shuffle.partitions` so each file lands near the 128 MB
    * sweet spot at the deployment's scale.
    */
  def writeFact(df: DataFrame, path: String, dateCol: String): Unit =
    df.withColumn("part_date", to_date(col(dateCol)))
      .write.mode("overwrite")
      .partitionBy("part_date")
      .parquet(path)

  def writeDim(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Value-clustered fact layout — data skipping for non-partition
    * predicates. Range-repartition + sort-within-partitions on the
    * clustering column gives every file (and every parquet row group
    * inside it) a narrow min/max band on that column; a pushed-down range
    * predicate then eliminates whole row groups in the reader, before any
    * decode. Partition-by-date prunes directories; clustering prunes
    * INSIDE what's left — the two compose, and at 100 TB the second one is
    * what turns "scan the month" into "scan the price band". The smaller
    * row-group size trades a little metadata for finer skip granularity
    * (default 128 MB groups make min/max bands too coarse to skip on).
    * ScaleInfraSpec proves the effect through scan metrics: the same
    * query reads a fraction of the rows off a clustered snapshot vs an
    * unclustered one.
    */
  def writeFactClustered(df: DataFrame, path: String, clusterCol: String,
                         files: Int = 8, rowGroupBytes: Long = 1L << 20): Unit =
    df.repartitionByRange(files, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)

  /** Z-ORDER clustered fact layout — data skipping on TWO columns at once.
    * Linear clustering ([[writeFactClustered]]) gives perfect min/max bands
    * on one column and none on any other; interleaving the bits of both
    * columns' scaled values (the Morton / Z-curve) makes every contiguous
    * z-range a small rectangle in (A,B) space, so each file and row group
    * gets a NARROW min/max band on BOTH columns and pushed-down range
    * predicates on either column skip most granules (ScaleInfraSpec proves
    * both directions through scan metrics, plus the ~full read that linear
    * clustering pays on its non-clustered column).
    *
    * Columns are scaled to `bits`-bit integers by linear min/max mapping —
    * one tiny pre-pass aggregate (two scalars per column, any scale). For
    * heavily skewed columns swap the linear map for quantile-rank bucketing
    * (approxQuantile edges, broadcast) — the interleave and layout below are
    * unchanged; uniform-ish keys like the TPC-H surrogates don't need it.
    * The z value itself is `2·bits` OR/shift terms — pure codegen, and it is
    * dropped before the write (layout metadata, not data).
    */
  def writeFactZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                        files: Int = 8, rowGroupBytes: Long = 1L << 20,
                        bits: Int = 12): Unit = {
    import org.apache.spark.sql.Column
    val hi = (1L << bits) - 1
    val r = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    def scaled(c: Column, lo: Double, up: Double): Column = {
      val span = if (up > lo) up - lo else 1.0
      least(lit(hi), greatest(lit(0L),
        floor((coalesce(c.cast("double"), lit(lo)) - lit(lo)) / lit(span) * lit(hi.toDouble))
          .cast("long")))
    }
    val a = scaled(col(colA), r.getDouble(0), r.getDouble(1))
    val b = scaled(col(colB), r.getDouble(2), r.getDouble(3))
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
         .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    df.withColumn("_z", z)
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes.toString)
      .parquet(path)
  }

  /** ORC interchange snapshots — same layout contract as the parquet fact
    * path, for pipelines whose upstream or downstream speaks ORC (the other
    * columnar format Spark ships a vectorized, predicate-pushing reader
    * for). SourcesSpec proves filters reach the ORC scan like they do the
    * parquet one.
    */
  def writeFactOrc(df: DataFrame, path: String, dateCol: String): Unit =
    df.withColumn("part_date", to_date(col(dateCol)))
      .write.mode("overwrite")
      .partitionBy("part_date")
      .orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Bucketed fact table: rows hash-distributed into `buckets` files by the
    * join/merge key at WRITE time, so every subsequent join or aggregation
    * on that key is exchange-free — the shuffle is paid once when the
    * snapshot lands instead of on every query. This is how the recurring
    * fact-merge (Warehouse.mergeUpsert on the same key every day) avoids
    * re-shuffling 100 TB per run. Bucketing requires the table catalog
    * (saveAsTable), not a bare path.
    */
  def writeFactBucketed(df: DataFrame, table: String, key: String,
                        buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Versions present under an id-keyed snapshot root (`v00000`,
    * `v00001`, … one directory per batch id, as the foreachBatch sinks in
    * graft.streaming and the IVF append batches write them), ascending.
    * The one listing of such roots; one directory listing, no manifest —
    * the poor-man's transaction log that suffices when writers serialize
    * (foreachBatch guarantees that).
    */
  def snapshotVersions(spark: SparkSession, baseDir: String): Seq[Long] = {
    val (fs, path) = fsFor(spark, baseDir)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.matches("v\\d+"))
      .map(_.drop(1).toLong).sorted.toSeq
  }

  /** The highest id-keyed version strictly below `below`, read under the
    * given `schema` (no inference job), or None when there is none. A
    * batch with id N reads its predecessor with `below = N`, so a batch
    * delivered again after it wrote `vN` sees the same input as the first
    * time, never its own output.
    */
  def readVersionBelow(spark: SparkSession, baseDir: String, below: Long,
                       schema: org.apache.spark.sql.types.StructType)
      : Option[DataFrame] =
    snapshotVersions(spark, baseDir).filter(_ < below).lastOption
      .map(v => spark.read.schema(schema).parquet(f"$baseDir/v$v%05d"))

  /** Table-level time travel — `FOR SYSTEM_TIME AS OF` at snapshot
    * granularity (the dimension-row twin is Warehouse.scd2AsOf): read the
    * highest version <= `asOf`, i.e. the table exactly as the pipeline
    * left it after that batch. Each version is a full self-contained
    * snapshot, so time travel is one pruned read — no log replay.
    */
  def readSnapshotAsOf(spark: SparkSession, baseDir: String, asOf: Long): DataFrame = {
    val vs = snapshotVersions(spark, baseDir).filter(_ <= asOf)
    require(vs.nonEmpty, s"no snapshot version <= $asOf under $baseDir")
    spark.read.parquet(f"$baseDir/v${vs.max}%05d")
  }

  // ---------------------------------------------------------------------
  // Manifest-versioned commit protocol — near-ACID snapshot publication
  // without Delta/Iceberg jars (environment constraint, SURVEY §1.4).
  //
  // The reference's MERGE (transform_load.sql:50–70) runs inside a SQL
  // Server transaction; the snapshot-rewrite emulation above is safe for a
  // SINGLE writer but a second concurrent writer could tear a reader that
  // lists data directories while a write is in flight. This closes that
  // gap with the public log-store pattern (the same contract Delta's
  // HDFSLogStore documents): data is staged under an unlisted uuid
  // directory, and a version becomes visible ONLY when its manifest file
  // is published with an atomic create-if-absent. Readers trust manifests
  // exclusively — they never list data directories — so a read sees either
  // version N or version N+1 in full, never a partially written directory.
  // Two racing writers both targeting version N: exactly one wins the
  // create-if-absent; the loser retries at N+1 with its already-staged
  // data (optimistic concurrency, serialized commits, no lock server).
  // Atomicity of create-if-absent holds on HDFS and on object stores with
  // put-if-absent; on the local filesystem it is check-then-create (the
  // documented HDFSLogStore caveat) — fine for tests and single-host runs.
  // ---------------------------------------------------------------------

  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Committed versions under a manifest-versioned root, ascending — one
    * listing of the (tiny) `_commits` directory, never of the data dirs.
    */
  def committedVersions(spark: SparkSession, baseDir: String): Seq[Long] = {
    val (fs, _) = fsFor(spark, baseDir)
    val commits = new org.apache.hadoop.fs.Path(s"$baseDir/_commits")
    if (!fs.exists(commits)) Seq.empty
    else fs.listStatus(commits).map(_.getPath.getName)
      .filter(_.matches("v\\d+\\.json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).sorted.toSeq
  }

  /** Stage a snapshot's data WITHOUT publishing it: write to a uuid
    * directory no reader will ever resolve. Returns the staged path.
    * Split out from [[commitSnapshot]] so a writer crash between staging
    * and publishing leaves only an orphan directory (reclaimed by
    * [[vacuumOrphans]]), never a half-visible version.
    */
  def stageSnapshot(df: DataFrame, baseDir: String): String = {
    val dataDir = s"$baseDir/data-${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.mode("error").parquet(dataDir)
    dataDir
  }

  /** [[commitSnapshot]] with a directory-partitioned layout — for
    * append-mostly logs (CDC change tables) whose retention cleanup and
    * bookmark reads filter on a coarse key (LSN, date): the key becomes a
    * partition directory, so `lsn > bookmark` reads and `lsn <= low-water`
    * prunes touch only the matching directories, never the full history.
    * Note parquet partition discovery type-infers the partition column on
    * read (an integer-looking LSN comes back as INT) — readers cast.
    */
  def commitSnapshotPartitioned(df: DataFrame, baseDir: String,
                                partCols: Seq[String]): Long = {
    val spark = df.sparkSession
    val dataDir = s"$baseDir/data-${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.mode("error").partitionBy(partCols: _*).parquet(dataDir)
    publishSnapshot(spark, baseDir, dataDir)
  }

  /** Publish a staged directory as the next version. The commit point is
    * the atomic create-if-absent of `_commits/v{N}.json`; on collision the
    * writer retries at N+1 (its staged data is version-agnostic). Returns
    * the committed version number.
    *
    * Failure discipline (round-11 advice items): the staged directory must
    * still EXIST at publish time (a retention-expired vacuum or manual
    * delete would otherwise commit a manifest pointing at nothing and break
    * every read of that version); only create-if-absent COLLISIONS take the
    * retry path (FileAlreadyExistsException / "exists" — a lost race), while
    * any other I/O failure between create() succeeding and close() deletes
    * the partial manifest and rethrows, so committedVersions never lists a
    * truncated manifest and persistent errors (permissions, disk full)
    * surface as themselves instead of burning 50 version slots.
    */
  def publishSnapshot(spark: SparkSession, baseDir: String, dataDir: String,
                      maxRetries: Int = 50): Long =
    publishFencedInternal(spark, baseDir, dataDir, None, maxRetries)

  /** A concurrent-writer key-range conflict — the MERGE-semantics fence:
    * the losing writer's staged data was derived from a snapshot that no
    * longer reflects the keys it touches, so auto-retrying would silently
    * last-writer-win. The caller must re-derive from the new latest and
    * re-commit.
    */
  final class SnapshotConflictException(msg: String)
    extends RuntimeException(msg)

  /** Publish with a KEY-RANGE CONFLICT FENCE (the optimistic-concurrency
    * contract the reference's transactional MERGE gives for free,
    * transform_load.sql:50–70): the manifest records the [keyMin, keyMax]
    * band of `keyCol` this snapshot wrote; when the create-if-absent
    * collides, every manifest that landed after `baseVersion` (the version
    * this writer's data was derived from) is inspected and the retry is
    * REFUSED with [[SnapshotConflictException]] if any recorded band on the
    * same key overlaps ours — two writers merging disjoint key ranges (the
    * partitioned-backfill shape) both commit; overlapping writers
    * serialize at the application level instead of silently losing one
    * update. Key bands are LONG (surrogate/order keys — the merge keys the
    * warehouse actually uses).
    */
  def publishSnapshotFenced(spark: SparkSession, baseDir: String,
                            dataDir: String, keyCol: String, keyMin: Long,
                            keyMax: Long, baseVersion: Long,
                            maxRetries: Int = 50): Long =
    publishFencedInternal(spark, baseDir, dataDir,
      Some((keyCol, keyMin, keyMax, baseVersion)), maxRetries)

  private def publishFencedInternal(spark: SparkSession, baseDir: String,
                                    dataDir: String,
                                    fence: Option[(String, Long, Long, Long)],
                                    maxRetries: Int): Long = {
    val (fs, _) = fsFor(spark, baseDir)
    // a manifest must never point at a directory that is already gone
    // (e.g. vacuumed while this writer stalled past the retention window)
    require(fs.exists(new org.apache.hadoop.fs.Path(dataDir)),
      s"publishSnapshot: staged dir $dataDir no longer exists")
    val relData = dataDir.stripPrefix(baseDir).stripPrefix("/")
    val fenceJson = fence.fold("") { case (c, lo, hi, _) =>
      s""", "keyCol": "$c", "keyMin": $lo, "keyMax": $hi"""
    }
    var attempts = 0
    while (attempts < maxRetries) {
      val committed = committedVersions(spark, baseDir)
      // fence check BEFORE each attempt: any commit that landed after this
      // writer's derivation base and recorded an overlapping band on the
      // same key invalidates the staged rewrite (commits without a recorded
      // fence are invisible to the check — mixing fenced and unfenced
      // writers on one table forfeits the guarantee, by contract)
      fence.foreach { case (keyCol, lo, hi, baseV) =>
        committed.filter(_ > baseV).foreach { cv =>
          manifestKeyRange(spark, baseDir, cv)
            .filter { case (c, mlo, mhi) =>
              c == keyCol && mlo <= hi && lo <= mhi }
            .foreach { case (_, mlo, mhi) =>
              throw new SnapshotConflictException(
                s"publishSnapshotFenced: version $cv committed keys " +
                s"[$mlo,$mhi] of '$keyCol' overlapping this writer's " +
                s"[$lo,$hi] (derived from version $baseV) — re-derive " +
                s"and retry")
            }
        }
      }
      val v = committed.lastOption.getOrElse(-1L) + 1
      if (tryCreateManifest(fs, baseDir, v, relData, fenceJson)) return v
      attempts += 1 // collision: someone committed v first — re-fence, retry
    }
    sys.error(s"publishSnapshot: gave up after $maxRetries contended commits")
  }

  /** The (keyCol, keyMin, keyMax) fence a committed manifest records, if
    * any — None for unfenced commits. A manifest that EXISTS but carries no
    * parsable body (no "version" field) is treated as a CONFLICT, not as
    * unfenced: with the rename-based commit it cannot happen, but a legacy
    * or foreign writer's torn manifest must fail the fence check loudly
    * rather than silently authorize an overlapping commit (round-11 advice
    * item — the lost update the fence exists to prevent).
    */
  private def manifestKeyRange(spark: SparkSession, baseDir: String,
                               v: Long): Option[(String, Long, Long)] = {
    val (fs, _) = fsFor(spark, baseDir)
    val manifest = new org.apache.hadoop.fs.Path(f"$baseDir/_commits/v$v%05d.json")
    if (!fs.exists(manifest)) return None
    val in = fs.open(manifest)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    if (!body.contains("\"version\""))
      throw new SnapshotConflictException(
        s"publishSnapshotFenced: manifest v$v is empty or unparsable " +
        s"($body) — cannot verify key-range disjointness; re-derive and " +
        "retry after the competing writer resolves")
    for {
      c <- """"keyCol":\s*"([^"]+)"""".r.findFirstMatchIn(body).map(_.group(1))
      lo <- """"keyMin":\s*(-?\d+)""".r.findFirstMatchIn(body).map(_.group(1).toLong)
      hi <- """"keyMax":\s*(-?\d+)""".r.findFirstMatchIn(body).map(_.group(1).toLong)
    } yield (c, lo, hi)
  }

  /** Stage + fenced-publish in one call: records `keyCol`'s [min, max]
    * band (one column-pruned aggregate over the staged files) and the
    * latest committed version at entry as the derivation base. Returns
    * the committed version; throws [[SnapshotConflictException]] when an
    * overlapping-key commit landed in between.
    */
  def commitSnapshotFenced(df: DataFrame, baseDir: String,
                           keyCol: String): Long = {
    val spark = df.sparkSession
    val baseV = committedVersions(spark, baseDir).lastOption.getOrElse(-1L)
    val staged = stageSnapshot(df, baseDir)
    val r = spark.read.parquet(staged)
      .agg(min(col(keyCol)).cast("long"), max(col(keyCol)).cast("long"))
      .head()
    // an empty staged frame (or an all-NULL key column) has no key band to
    // fence on — fail with the real reason instead of an opaque NPE after
    // staging data that never publishes (round-11 advice item)
    require(!r.isNullAt(0) && !r.isNullAt(1),
      s"commitSnapshotFenced: staged data under $staged is empty or its " +
      s"'$keyCol' is all NULL — nothing to fence; use commitSnapshot for " +
      "empty/unkeyed writes")
    publishSnapshotFenced(spark, baseDir, staged, keyCol,
                          r.getLong(0), r.getLong(1), baseV)
  }

  /** Stage + publish in one call — the writer API. Concurrent callers
    * serialize into distinct consecutive versions; a reader at any moment
    * sees the highest PUBLISHED version, complete.
    */
  def commitSnapshot(df: DataFrame, baseDir: String): Long =
    publishSnapshot(df.sparkSession, baseDir,
                    stageSnapshot(df, baseDir))

  private def manifestData(spark: SparkSession, baseDir: String,
                           v: Long): String = {
    val (fs, _) = fsFor(spark, baseDir)
    val manifest = new org.apache.hadoop.fs.Path(f"$baseDir/_commits/v$v%05d.json")
    val in = fs.open(manifest)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    // single-purpose field extraction — the manifest is engine-authored,
    // two fixed fields, no nested JSON
    val m = """"data":\s*"([^"]+)"""".r.findFirstMatchIn(body)
      .getOrElse(sys.error(s"malformed manifest $manifest: $body"))
    s"$baseDir/${m.group(1)}"
  }

  /** Read the latest committed version (or a pinned one via `asOf`) —
    * manifest-resolved, so in-flight writers are invisible.
    */
  def readCommitted(spark: SparkSession, baseDir: String,
                    asOf: Long = Long.MaxValue): DataFrame = {
    val vs = committedVersions(spark, baseDir).filter(_ <= asOf)
    require(vs.nonEmpty, s"no committed snapshot version <= $asOf under $baseDir")
    spark.read.parquet(manifestData(spark, baseDir, vs.max))
  }

  /** Read ACROSS committed versions with schema evolution: the union of
    * version `from..to` under the MERGED schema (columns added in later
    * versions read as NULL in earlier ones — parquet mergeSchema
    * semantics, resolved over the manifest-listed directories only, so
    * in-flight writers stay invisible). The audit/backfill read shape:
    * "every row this table ever held, under today's schema". Column
    * REMOVALS are additive-history-safe by the same rule (the removed
    * column survives as NULL-padded history); incompatible TYPE changes
    * fail loudly in the parquet merger, which is the correct contract.
    */
  def readCommittedHistory(spark: SparkSession, baseDir: String,
                           from: Long = 0L,
                           to: Long = Long.MaxValue): DataFrame = {
    val vs = committedVersions(spark, baseDir).filter(v => v >= from && v <= to)
    require(vs.nonEmpty, s"no committed versions in [$from, $to] under $baseDir")
    val dirs = vs.map(v => manifestData(spark, baseDir, v))
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  /** Right-to-erasure rewrite (the GDPR/CCPA delete a warehouse on
    * immutable snapshots actually performs): publish a NEW version equal
    * to the latest committed snapshot minus the given keys, through the
    * same atomic commit protocol — readers flip atomically from
    * version N to the erased N+1, and prior versions remain for the
    * retention-window audit until [[expireVersions]] drops them. The
    * erase itself is one anti-join against a broadcastable key list
    * (erasure requests are human-scale even at 100 TB facts). Returns
    * (newVersion, rowsErased).
    *
    * Validated read-modify-write (round-11 advice item): the version read
    * is recorded and the rewrite only publishes if it is STILL the latest
    * at commit time — a commit landing in between would otherwise be
    * silently excluded from the erased snapshot (lost update). On conflict
    * the erase re-reads the new latest and retries, so interleaved commits
    * delay the erase but never lose data.
    */
  def eraseKeys(spark: SparkSession, baseDir: String, keyCol: String,
                keys: DataFrame, maxRetries: Int = 5): (Long, Long) = {
    val keyList = broadcast(keys.select(col(keyCol)).distinct())
    val (fs, _) = fsFor(spark, baseDir)
    var attempts = 0
    while (attempts < maxRetries) {
      val baseV = committedVersions(spark, baseDir).lastOption.getOrElse(
        sys.error(s"eraseKeys: no committed snapshot under $baseDir"))
      val current = readCommitted(spark, baseDir, asOf = baseV)
      val kept = current.join(keyList, Seq(keyCol), "left_anti")
      val erased = current.join(keyList, Seq(keyCol), "left_semi").count()
      val staged = stageSnapshot(kept, baseDir)
      // commit at EXACTLY baseV+1 (no auto-retry at higher slots): the
      // create-if-absent doubles as the still-latest check, atomically —
      // a wrong-base rewrite is never visible, not even transiently
      if (tryPublishAt(spark, baseDir, staged, baseV + 1))
        return (baseV + 1, erased)
      // an interleaved commit took baseV+1: our rewrite misses its rows —
      // drop the stale staging and re-derive from the new latest
      fs.delete(new org.apache.hadoop.fs.Path(staged), true)
      attempts += 1
    }
    sys.error(s"eraseKeys: lost the read-modify-write race $maxRetries times")
  }

  /** Create-if-absent at exactly version `v` — true on success, false when
    * that slot is already taken (the caller decides whether a higher slot
    * is acceptable). Same truncated-manifest cleanup as [[publishSnapshot]].
    */
  private def tryPublishAt(spark: SparkSession, baseDir: String,
                           dataDir: String, v: Long): Boolean = {
    val (fs, _) = fsFor(spark, baseDir)
    require(fs.exists(new org.apache.hadoop.fs.Path(dataDir)),
      s"tryPublishAt: staged dir $dataDir no longer exists")
    tryCreateManifest(fs, baseDir, v,
                      dataDir.stripPrefix(baseDir).stripPrefix("/"), "")
  }

  /** The atomic commit primitive: the manifest body is written IN FULL to a
    * hidden temp file (`.tmp-*`, invisible to [[committedVersions]]'s
    * `v\d+\.json` filter), then RENAMED into `_commits/v{N}.json` — rename
    * is the put-if-absent commit point, so a manifest is either absent or
    * complete; no reader can ever observe a created-but-not-yet-written
    * manifest, and a crash at any point leaves only an unlisted temp file
    * (reclaimed by [[vacuumOrphans]]), never a permanently empty version
    * (the round-11 advice item: the old create-then-write had a visible-
    * while-empty window AND a crash mode that bricked every read of the
    * version). On HDFS/ABFS rename-to-existing fails atomically; on the
    * local filesystem the exists-check before rename carries the same
    * documented check-then-act caveat the old create path had.
    *
    * True = this writer owns version v; false = the slot was taken (a lost
    * race — the ONLY retryable signal, confirmed by the destination
    * actually existing rather than by grepping exception messages, which
    * misclassified "does not exist" failures as races). Any other failure
    * deletes the temp file and surfaces as itself.
    */
  private def tryCreateManifest(fs: org.apache.hadoop.fs.FileSystem,
                                baseDir: String, v: Long, relData: String,
                                extraJson: String): Boolean = {
    val manifest = new org.apache.hadoop.fs.Path(f"$baseDir/_commits/v$v%05d.json")
    val tmp = new org.apache.hadoop.fs.Path(
      s"$baseDir/_commits/.tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    try {
      val out = fs.create(tmp, false)
      try out.write(
        s"""{"version": $v, "data": "$relData"$extraJson}""".getBytes("UTF-8"))
      finally out.close()
      if (fs.exists(manifest)) { fs.delete(tmp, false); return false }
      if (fs.rename(tmp, manifest)) true
      else {
        fs.delete(tmp, false)
        // rename refused without throwing: a racer owns the slot iff the
        // destination now exists — anything else is a real filesystem
        // failure and must not burn retry slots as a phantom collision
        if (fs.exists(manifest)) false
        else sys.error(s"tryCreateManifest: rename $tmp -> $manifest " +
          "failed with no competing manifest present")
      }
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        e match {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException
            if fs.exists(manifest) => false // racer won the slot
          case _ => throw e
        }
    }
  }

  /** Drop committed versions older than `keepLast` (retention-window
    * cleanup): deletes the expired manifests FIRST (the version vanishes
    * atomically from every reader's listing), then the now-unreferenced
    * data directories via [[vacuumOrphans]]. The latest version is never
    * expirable. Returns the expired version numbers.
    */
  def expireVersions(spark: SparkSession, baseDir: String,
                     keepLast: Int): Seq[Long] = {
    val (fs, _) = fsFor(spark, baseDir)
    val vs = committedVersions(spark, baseDir)
    val expired = vs.dropRight(math.max(1, keepLast))
    expired.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(f"$baseDir/_commits/v$v%05d.json"),
                false)
    }
    vacuumOrphans(spark, baseDir)
    expired
  }

  /** Default vacuum retention: an unreferenced staging directory younger
    * than this is assumed to belong to an IN-FLIGHT writer (staged, not yet
    * published) and is left alone — the same reason Delta's VACUUM has a
    * retention window. 24h default; tests pass 0 to reclaim immediately.
    */
  val VacuumRetentionMs: Long = 24L * 3600 * 1000

  /** Delete staged data directories no manifest references — crashed or
    * race-losing writers' leftovers. Never touches a referenced directory,
    * so concurrent readers of any committed version are unaffected; never
    * touches an unreferenced directory younger than `minAgeMs` (its writer
    * may be between staging and publishing — deleting it would let the
    * racing publish commit a manifest pointing at deleted data, breaking
    * the 'reader sees version N or N+1 in full' contract; round-11 advice
    * item). publishSnapshot additionally verifies the staged dir still
    * exists, so a >retention-stalled writer fails loudly instead of
    * committing a dangling manifest.
    */
  def vacuumOrphans(spark: SparkSession, baseDir: String,
                    minAgeMs: Long = VacuumRetentionMs): Int = {
    val (fs, base) = fsFor(spark, baseDir)
    if (!fs.exists(base)) return 0
    val referenced = committedVersions(spark, baseDir)
      .map(v => manifestData(spark, baseDir, v).split('/').last).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val orphans = fs.listStatus(base).filter(_.isDirectory)
      .filter { s =>
        s.getPath.getName.startsWith("data-") &&
        !referenced.contains(s.getPath.getName) &&
        s.getModificationTime <= cutoff
      }.map(_.getPath)
    orphans.foreach(p => fs.delete(p, true))
    // crashed writers' never-renamed manifest temp files (unlisted by
    // committedVersions; same retention rule as the data orphans)
    val commits = new org.apache.hadoop.fs.Path(s"$baseDir/_commits")
    if (fs.exists(commits))
      fs.listStatus(commits)
        .filter(s => s.getPath.getName.startsWith(".tmp-") &&
                     s.getModificationTime <= cutoff)
        .foreach(s => fs.delete(s.getPath, false))
    orphans.length
  }

  /** Small-file compaction: rewrite a snapshot so each partition directory
    * holds ~`targetRowsPerFile` rows per file instead of one sliver per
    * upstream task. Incremental loads naturally accrete small files (one
    * batch = a few rows per touched date); at 100 TB the resulting
    * file-listing and task-scheduling overhead dominates read cost long
    * before the data does. Row-count is the proxy for bytes here
    * (row width is stable within a fact table); compaction preserves the
    * partition layout so pruning is unaffected.
    *
    * Skew-safe twice over: the writer's maxRecordsPerFile cap guarantees no
    * file exceeds the target no matter how AQE lays out tasks, and each
    * date additionally salts across ⌈rows/target⌉ slots so a hot date's
    * files are WRITTEN in parallel — repartitioning on part_date alone
    * would funnel a 100M-row date through one task (one straggler writing
    * 100 sequential files).
    */
  def compactFact(spark: SparkSession, inPath: String, outPath: String,
                  targetRowsPerFile: Long): Unit = {
    val df = spark.read.parquet(inPath)
    if (df.columns.contains("part_date")) {
      // per-date row counts are one row per date — broadcastable at any scale
      val slots = df.groupBy(col("part_date"))
        .agg(count(lit(1)).as("_rows"))
        .select(col("part_date"),
                greatest(lit(1L),
                  ((col("_rows") + targetRowsPerFile - 1) / targetRowsPerFile)
                    .cast("long")).as("_n_slots"))
      val salted = df.join(broadcast(slots), "part_date")
        .withColumn("_slot",
          pmod(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)), col("_n_slots")))
      salted.repartition(col("part_date"), col("_slot"))
        .drop("_slot", "_n_slots")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", targetRowsPerFile)
        .partitionBy("part_date").parquet(outPath)
    } else {
      val total = df.count()
      val nFiles = math.max(1L, (total + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      df.repartition(nFiles).write.mode("overwrite")
        .option("maxRecordsPerFile", targetRowsPerFile)
        .parquet(outPath)
    }
  }
}

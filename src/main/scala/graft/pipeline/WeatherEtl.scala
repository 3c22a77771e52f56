package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Warehouse

/** The reference's daily transform+load pipeline as a composed library of
  * pure DataFrame → DataFrame stages (ref /root/reference/etl/
  * transform_load.sql — the statement sequence at §3.1 step 6 of SURVEY.md):
  *
  *   dedup (sql:9–16) → impute (sql:20–24) → capOutliers (sql:27–38)
  *   → dimInsertNew (sql:43–47) → factMerge (sql:50–70)
  *   → markProcessed (sql:73)
  *
  * Each stage function alone is lazy. [[runBatch]] cleans the batch once,
  * as the reference cleans its staging table once in place: one hash
  * exchange on `city_name` feeds all three cleaning windows ([[clean]]),
  * and two eager `localCheckpoint`s (the cleaned batch and the new
  * dimension) are what the three returned snapshots read, so no commit
  * re-plans or re-runs the cleaning. The checkpoint blocks stay live while
  * a returned frame is reachable; Spark's ContextCleaner frees them once
  * the frames are dropped. The in-place UPDATE/MERGE statements of the
  * reference become new immutable snapshots (no row locks,
  * partition-parallel rewrite — the only shape that works at 100 TB).
  *
  * Schemas are the weather fixtures of FIXTURES.md §B, mirroring the
  * reference DDL (README.md:81–113).
  */
object WeatherEtl {

  val StagingKeys = Seq("city_name", "date")

  /** Stage 1 — staging dedup (ref transform_load.sql:9–16). The reference
    * keeps an arbitrary row (`ORDER BY (SELECT NULL)`); we keep the max by
    * measures for determinism (documented divergence, SURVEY §7.5.3).
    * Scoping matches the reference exactly: the DELETE's CTE filters
    * `is_processed = 0` (transform_load.sql:14), so only UNPROCESSED rows
    * dedup against each other — already-processed rows pass through
    * untouched, and a duplicate spanning a processed and an unprocessed row
    * keeps both (the reference never compares across the flag either).
    * The flag is a window key, so the stage reads its input once and keeps
    * a `city_name` partitioning (a filter per flag and a union would read
    * it twice); rows with a NULL flag are neither processed nor
    * unprocessed and are dropped.
    */
  def dedupStaging(stg: DataFrame): DataFrame = {
    val w = Window.partitionBy((StagingKeys :+ "is_processed").map(col): _*)
      .orderBy(col("temp_max").desc_nulls_last, col("temp_min").desc_nulls_last,
               col("precipitation").desc_nulls_last)
    stg.filter(col("is_processed").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("is_processed") || col("rn") === 1).drop("rn")
  }

  /** Stage 2 — missing-value imputation (ref transform_load.sql:20–24):
    * per-(city, month) average; a row with EITHER temp NULL gets BOTH temps
    * overwritten (faithful reference quirk — the UPDATE sets both columns
    * for every row its WHERE clause matches).
    */
  def imputeMissing(stg: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("city_name"), month(col("date")))
    val needs = col("temp_max").isNull || col("temp_min").isNull
    stg.withColumn("avg_max", avg(col("temp_max")).over(w))
      .withColumn("avg_min", avg(col("temp_min")).over(w))
      .withColumn("temp_max",
        when(needs, col("avg_max").cast("decimal(5,2)")).otherwise(col("temp_max")))
      .withColumn("temp_min",
        when(needs, col("avg_min").cast("decimal(5,2)")).otherwise(col("temp_min")))
      .drop("avg_max", "avg_min")
  }

  /** Stage 3 — z-score outlier capping (ref transform_load.sql:27–38):
    * |x−μ|/σ > 3 per city ⇒ replace with μ. σ=0 or NULL (constant or 1-row
    * city) keeps the original value — SQL Server would error on div/0;
    * Spark would silently NaN (SURVEY §2 op 10 trap). The per-city
    * statistics are window aggregates, so a `city_name`-partitioned input
    * needs no exchange and no broadcast. A NULL city has no statistics
    * row in the reference's join and is dropped.
    */
  def capOutliers(stg: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("city_name"))
    val keep = col("sigma").isNull || col("sigma") === 0.0 ||
               abs(col("temp_max") - col("mu")) / col("sigma") <= 3.0
    stg.filter(col("city_name").isNotNull)
      .withColumn("mu", avg(col("temp_max")).over(w))
      .withColumn("sigma", stddev_samp(col("temp_max")).over(w))
      .withColumn("temp_max",
        when(keep, col("temp_max")).otherwise(col("mu").cast("decimal(5,2)")))
      .drop("mu", "sigma")
  }

  /** Stages 1–3 over one hash exchange on `city_name`: that partitioning
    * clusters every window the three stages use — (city, date) for dedup,
    * (city, month) for impute, city for capping. Lazy.
    */
  def clean(stg: DataFrame): DataFrame =
    capOutliers(imputeMissing(dedupStaging(stg.repartition(col("city_name")))))

  /** Stage 4 — dimension insert-new (ref transform_load.sql:43–47):
    * never-seen city names enter with NULL attributes but get surrogate
    * city_ids — the reference's `city_id INT IDENTITY` (README.md:82)
    * assigns ids on insert, reproduced as max(existing)+row_number over a
    * deterministic order (SURVEY §1.3: never monotonically_increasing_id
    * where determinism matters). The unpartitioned window runs only over
    * the handful of NEW keys per batch, never the dimension itself.
    */
  def dimInsertNew(dim: DataFrame, stg: DataFrame): DataFrame = {
    val newKeys = stg.select(col("city_name")).distinct()
      .join(dim, Seq("city_name"), "left_anti")
    val maxId = dim.agg(coalesce(max(col("city_id")), lit(0)).as("max_id"))
    val newRows = newKeys.crossJoin(broadcast(maxId))
      .withColumn("city_id",
        (col("max_id") + row_number().over(Window.orderBy(col("city_name")))).cast("int"))
      .drop("max_id")
    dim.unionByName(newRows, allowMissingColumns = true)
  }

  /** Stage 5 — fact merge (ref transform_load.sql:50–70): source = staging
    * ⋈ dim on city_name (small dim ⇒ broadcast) with unprocessed rows only;
    * upsert on (city_id, date). The reference's MERGE duplicate-source-key
    * error is enforced upstream by dedupStaging (SQL Server would raise;
    * we guarantee by construction).
    */
  def factMerge(fact: DataFrame, stg: DataFrame, dim: DataFrame): DataFrame = {
    val source = stg.filter(!col("is_processed"))
      .join(broadcast(dim.select(col("city_id"), col("city_name"))), Seq("city_name"))
      .select(col("city_id"), col("date"), col("temp_max"), col("temp_min"),
              col("precipitation"), current_timestamp().as("load_timestamp"))
    Warehouse.mergeUpsert(
      fact.select(col("city_id"), col("date"), col("temp_max"), col("temp_min"),
                  col("precipitation"), col("load_timestamp")),
      source,
      keys = Seq("city_id", "date"),
      updateCols = Seq("temp_max", "temp_min", "precipitation", "load_timestamp"))
  }

  /** Stage 6 — unconditional bookkeeping flip (ref transform_load.sql:73). */
  def markProcessed(stg: DataFrame): DataFrame =
    stg.withColumn("is_processed", lit(true))

  /** The full composed batch: returns (newDim, newFact, processedStaging),
    * the snapshots a driver writes back. Eager: the cleaned batch and the
    * new dimension are materialized once here (two local checkpoints), and
    * the three returned frames read them.
    */
  def runBatch(stg: DataFrame, dim: DataFrame, fact: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val cleaned = clean(stg).localCheckpoint()
    val newDim = dimInsertNew(dim, cleaned).localCheckpoint()
    (newDim, factMerge(fact, cleaned, newDim), markProcessed(cleaned))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REPARTITION_BY_COL,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import graft.pipeline.WeatherEtl

/** End-to-end test of the composed reference lifecycle (SURVEY §3.4) on
  * weather-shaped fixtures covering every documented quirk (FIXTURES.md §B):
  * duplicate staging keys, single-null imputation rows, 1-row and
  * zero-variance cities, a never-seen dim city, matched + unmatched merge
  * keys.
  */
class PipelineSpec extends SparkSpec {

  private def stg: DataFrame = {
    import spark.implicits._
    Seq(
      // duplicate (city, date) — dedup keeps the max-temp row
      ("London", "2024-01-01", "10.00", "3.00", "1.00", false),
      ("London", "2024-01-01", "11.00", "4.00", "0.00", false),
      // missing temp_max → BOTH temps overwritten by (city, month) averages
      ("London", "2024-01-02", null, "5.00", "0.50", false),
      ("London", "2024-01-03", "14.00", "6.00", "0.00", false),
      // zero-variance city: stddev = 0 → z-score guard keeps values
      ("Dubai", "2024-01-01", "30.00", "20.00", "0.00", false),
      ("Dubai", "2024-01-02", "30.00", "21.00", "0.00", false),
      ("Dubai", "2024-01-03", "30.00", "22.00", "0.00", false),
      // 1-row city: stddev NULL → guard keeps value
      ("Oslo", "2024-01-01", "-5.00", "-12.00", "2.00", false),
      // city absent from dim → SCD insert-new
      ("Lahore", "2024-01-01", "25.00", "15.00", "0.00", false),
    ).toDF("city_name", "date_s", "tmax_s", "tmin_s", "prec_s", "is_processed")
      .select(col("city_name"), col("date_s").cast("date").as("date"),
              col("tmax_s").cast("decimal(5,2)").as("temp_max"),
              col("tmin_s").cast("decimal(5,2)").as("temp_min"),
              col("prec_s").cast("decimal(5,2)").as("precipitation"),
              col("is_processed"))
  }

  private def dim: DataFrame = {
    import spark.implicits._
    Seq((1, "London"), (2, "Dubai"), (3, "Oslo"))
      .toDF("city_id", "city_name")
      .withColumn("country", lit(null).cast("string"))
  }

  private def fact: DataFrame = {
    import spark.implicits._
    // existing (London, 2024-01-01) row — must be UPDATED by the merge
    Seq((1, "2024-01-01", "9.00", "2.00", "0.10"))
      .toDF("city_id", "date_s", "tmax_s", "tmin_s", "prec_s")
      .select(col("city_id"), col("date_s").cast("date").as("date"),
              col("tmax_s").cast("decimal(5,2)").as("temp_max"),
              col("tmin_s").cast("decimal(5,2)").as("temp_min"),
              col("prec_s").cast("decimal(5,2)").as("precipitation"),
              lit("2024-01-01 00:00:00").cast("timestamp").as("load_timestamp"))
  }

  /** A seeded batch of 330-odd rows over Jan–Apr 2024: five cities, two of
    * them absent from `dim`; about one key in ten duplicated; NULL temps;
    * one planted >3σ temp_max per city; and already-processed rows, some
    * sharing a key with an unprocessed row.
    */
  private def seeded: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val climate = Seq("London" -> 8.0, "Dubai" -> 30.0, "Oslo" -> -2.0,
                      "Lahore" -> 25.0, "Sydney" -> 22.0)
    val start = java.time.LocalDate.of(2024, 1, 1)
    def temp(mu: Double) = if (rnd.nextDouble() < 0.05) None else Some(mu + 2 * rnd.nextGaussian())
    val base = for {
      (city, mu) <- climate
      day <- 0 until 120 by 2
    } yield {
      // the outlier keeps both temps, so imputation cannot overwrite it
      val (tmax, tmin) =
        if (day == 20) (Some(mu + 40.0), Some(mu - 8)) else (temp(mu), temp(mu - 8))
      (city, start.plusDays(day).toString, tmax, tmin, rnd.nextInt(50) / 10.0,
       rnd.nextDouble() < 0.1)
    }
    val dups = base.filter(_ => rnd.nextDouble() < 0.1).map {
      case (c, d, tx, tn, pr, _) =>
        (c, d, tx.map(_ + rnd.nextInt(3) - 1), tn, pr, rnd.nextDouble() < 0.3)
    }
    (base ++ dups).toDF("city_name", "date_s", "tmax", "tmin", "prec", "is_processed")
      .select(col("city_name"), col("date_s").cast("date").as("date"),
              col("tmax").cast("decimal(5,2)").as("temp_max"),
              col("tmin").cast("decimal(5,2)").as("temp_min"),
              col("prec").cast("decimal(5,2)").as("precipitation"),
              col("is_processed"))
  }

  /** Existing facts for `seeded`: London's January keys (matched by the
    * merge) and one Dubai key outside the batch (carried unchanged).
    */
  private def seededFact: DataFrame = {
    import spark.implicits._
    ((1 to 31).map(d => (1, f"2024-01-$d%02d")) :+ ((2, "2023-12-31")))
      .toDF("city_id", "date_s")
      .select(col("city_id"), col("date_s").cast("date").as("date"),
              lit("1.00").cast("decimal(5,2)").as("temp_max"),
              lit("0.00").cast("decimal(5,2)").as("temp_min"),
              lit("0.00").cast("decimal(5,2)").as("precipitation"),
              lit("2024-01-01 00:00:00").cast("timestamp").as("load_timestamp"))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  test("dedup keeps exactly one deterministic row per (city, date)") {
    val d = WeatherEtl.dedupStaging(stg)
    assert(d.count() === 8)
    val kept = d.filter(col("city_name") === "London" && col("date") === lit("2024-01-01").cast("date"))
      .select("temp_max").collect().map(_.getDecimal(0).toPlainString)
    assert(kept.toSeq === Seq("11.00")) // max-temp tiebreaker, not arbitrary
  }

  test("dedup is idempotent") {
    val once = WeatherEtl.dedupStaging(stg)
    val twice = WeatherEtl.dedupStaging(once)
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("dedup scopes to unprocessed rows only (transform_load.sql:14 semantics)") {
    import spark.implicits._
    // a key duplicated across the flag: one processed, one unprocessed —
    // the reference CTE filters is_processed = 0, so BOTH rows survive;
    // two unprocessed duplicates still collapse to one
    val s = Seq(
      ("Paris", "2024-02-01", "8.00", true),
      ("Paris", "2024-02-01", "9.00", false),
      ("Rome", "2024-02-01", "12.00", false),
      ("Rome", "2024-02-01", "13.00", false))
      .toDF("city_name", "date_s", "tmax_s", "is_processed")
      .select(col("city_name"), col("date_s").cast("date").as("date"),
              col("tmax_s").cast("decimal(5,2)").as("temp_max"),
              lit(null).cast("decimal(5,2)").as("temp_min"),
              lit(null).cast("decimal(5,2)").as("precipitation"),
              col("is_processed"))
    val d = WeatherEtl.dedupStaging(s)
    assert(d.filter(col("city_name") === "Paris").count() === 2)
    val rome = d.filter(col("city_name") === "Rome")
    assert(rome.count() === 1)
    assert(rome.select("temp_max").head().getDecimal(0).toPlainString === "13.00")
  }

  test("imputation fills BOTH temps when either is NULL (reference quirk)") {
    val i = WeatherEtl.imputeMissing(WeatherEtl.dedupStaging(stg))
    val r = i.filter(col("city_name") === "London" && col("date") === lit("2024-01-02").cast("date"))
      .select("temp_max", "temp_min").head()
    // London Jan avgs over non-null values: max (11+14)/2 = 12.50; the
    // present temp_min 5.00 is ALSO overwritten by avg(4,5,6) = 5.00
    assert(r.getDecimal(0).toPlainString === "12.50")
    assert(r.getDecimal(1).toPlainString === "5.00")
    // rows with both temps present are untouched
    val untouched = i.filter(col("city_name") === "Dubai").select("temp_max")
      .collect().map(_.getDecimal(0).toPlainString).toSet
    assert(untouched === Set("30.00"))
  }

  test("z-score capping survives zero-variance and single-row groups") {
    val c = WeatherEtl.capOutliers(WeatherEtl.imputeMissing(WeatherEtl.dedupStaging(stg)))
    // Dubai sigma=0 → unchanged; Oslo 1-row sigma NULL → unchanged
    assert(c.filter(col("city_name") === "Dubai").select("temp_max")
      .collect().forall(_.getDecimal(0).toPlainString == "30.00"))
    assert(c.filter(col("city_name") === "Oslo").head().getAs[java.math.BigDecimal]("temp_max")
      .toPlainString === "-5.00")
  }

  test("full batch: dim gains only the unseen city; fact upserts + inserts") {
    val (newDim, newFact, processed) = WeatherEtl.runBatch(stg, dim, fact)
    // dim: 3 existing + Lahore with a freshly assigned surrogate id
    // (IDENTITY semantics); non-key attributes stay NULL like the reference
    assert(newDim.count() === 4)
    val lahore = newDim.filter(col("city_name") === "Lahore").head()
    assert(lahore.getAs[Int]("city_id") === 4)
    assert(lahore.isNullAt(lahore.fieldIndex("country")))
    // fact: 8 deduped staging rows land on (city,date) keys; the matched
    // (London, 2024-01-01) row is updated not duplicated
    assert(newFact.count() === 8)
    val updated = newFact.filter(col("city_id") === 1 && col("date") === lit("2024-01-01").cast("date")).head()
    assert(updated.getAs[java.math.BigDecimal]("temp_max").toPlainString === "11.00")
    // staging: every row flagged processed
    assert(processed.filter(!col("is_processed")).isEmpty)
  }

  test("run report: per-stage rows-in/out + wall over the weather batch, " +
       "quarantine accounted from the CSV ingest lane") {
    import graft.pipeline.RunReport
    // ingest lane: a CSV landing file with 2 malformed rows -> quarantine
    val dir = java.nio.file.Files.createTempDirectory("runreport").toString
    val csv =
      """city_name,date,temp_max,temp_min,precipitation,is_processed
        |London,2024-01-01,10.00,3.00,1.00,false
        |London,2024-01-02,11.00,4.00,0.00,false
        |Dubai,2024-01-01,30.00,20.00,0.00,false
        |BROKEN LINE THAT IS NOT A ROW,,,,not-a-bool,nope
        |Oslo,2024-01-01,-5.00,not-a-number,2.00,false
        |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/landing.csv"), csv)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("city_name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("temp_max", org.apache.spark.sql.types.DataTypes.createDecimalType(5, 2)),
      org.apache.spark.sql.types.StructField("temp_min", org.apache.spark.sql.types.DataTypes.createDecimalType(5, 2)),
      org.apache.spark.sql.types.StructField("precipitation", org.apache.spark.sql.types.DataTypes.createDecimalType(5, 2)),
      org.apache.spark.sql.types.StructField("is_processed", org.apache.spark.sql.types.BooleanType)))
    val ingest = graft.sources.CsvQuarantine.readTyped(spark, s"$dir/landing.csv", schema)
    val nQuarantined = ingest.quarantine.count()
    assert(nQuarantined === 2L) // both malformed rows, neither dropped silently nor fatal
    assert(ingest.clean.count() === 3L)

    // transform stages of the weather batch, timed + row-accounted
    val (cleaned, runs) = RunReport.timed(stg, Seq(
      "dedup_staging" -> WeatherEtl.dedupStaging,
      "impute_missing" -> WeatherEtl.imputeMissing,
      "cap_outliers" -> WeatherEtl.capOutliers))
    val byName = runs.map(r => r.stage -> r).toMap
    // dedup drops exactly the 1 duplicate (9 -> 8); the other stages are 1:1
    assert(byName("dedup_staging").rows_in === 9L)
    assert(byName("dedup_staging").rows_out === 8L)
    assert(byName("dedup_staging").rows_dropped === 1L)
    assert(byName("impute_missing").rows_in === 8L)
    assert(byName("impute_missing").rows_out === 8L)
    assert(byName("cap_outliers").rows_out === 8L)
    // chain consistency: each stage's rows_in is the previous rows_out,
    // and the final frame matches the last accounted count
    assert(runs.sliding(2).forall {
      case Seq(a, b) => b.rows_in === a.rows_out
      case _ => true
    })
    assert(cleaned.count() === runs.last.rows_out)
    assert(runs.forall(_.wall_ms >= 0L))
    assert(runs.map(_.stage_id) === Seq(1L, 2L, 3L))
    // and the report frame a driver would persist carries the full schema
    val rep = RunReport.toDF(spark, runs)
    assert(rep.columns.toSeq === Seq("stage_id", "stage", "rows_in",
      "rows_out", "rows_dropped", "wall_ms"))
    assert(rep.count() === 3L)
    ingest.unpersist()
  }

  test("re-running the merge with the same source is a no-op (idempotence)") {
    val cleaned = WeatherEtl.capOutliers(WeatherEtl.imputeMissing(WeatherEtl.dedupStaging(stg)))
    val d2 = WeatherEtl.dimInsertNew(dim, cleaned)
    val f1 = WeatherEtl.factMerge(fact, cleaned, d2).drop("load_timestamp")
    val f2 = WeatherEtl.factMerge(f1.withColumn("load_timestamp", current_timestamp()),
                                  cleaned, d2).drop("load_timestamp")
    assert(f1.exceptAll(f2).isEmpty && f2.exceptAll(f1).isEmpty)
  }

  /** runBatch's three outputs equal the unshared stage composition over
    * the raw input, ignoring the merge's load_timestamp.
    */
  private def assertSharedEqualsUnshared(stg: DataFrame, fact: DataFrame): Unit = {
    val (newDim, newFact, processed) = WeatherEtl.runBatch(stg, dim, fact)
    val cleaned = WeatherEtl.capOutliers(WeatherEtl.imputeMissing(WeatherEtl.dedupStaging(stg)))
    val dim0 = WeatherEtl.dimInsertNew(dim, cleaned)
    val pairs = Seq(
      "dim" -> (newDim, dim0),
      "fact" -> (newFact.drop("load_timestamp"),
                 WeatherEtl.factMerge(fact, cleaned, dim0).drop("load_timestamp")),
      "staging" -> (processed, WeatherEtl.markProcessed(cleaned)))
    pairs.foreach { case (name, (shared, unshared)) =>
      assert(shared.columns.toSeq === unshared.columns.toSeq, name)
      assert(shared.exceptAll(unshared).isEmpty && unshared.exceptAll(shared).isEmpty, name)
    }
  }

  test("runBatch equals the unshared composition on the quirk fixture") {
    assertSharedEqualsUnshared(stg, fact)
  }

  test("runBatch equals the unshared composition on a seeded four-month batch") {
    val s = seeded
    // the fixture exercises every quirk the stages handle
    assert(s.count() > 300)
    assert(s.filter(col("is_processed")).count() > 0)
    assert(s.filter(col("temp_max").isNull || col("temp_min").isNull).count() > 0)
    assert(s.filter(!col("is_processed")).groupBy("city_name", "date").count()
      .filter(col("count") > 1).count() > 0)
    assert(s.select(month(col("date"))).distinct().count() >= 3)
    assert(s.join(dim, Seq("city_name"), "left_anti").select("city_name").distinct().count() === 2)
    val imputed = WeatherEtl.imputeMissing(WeatherEtl.dedupStaging(s))
    val capped = WeatherEtl.capOutliers(imputed)
    assert(capped.exceptAll(imputed).count() >= 5) // the planted outliers are capped
    assertSharedEqualsUnshared(s, seededFact)
  }

  test("cleaning over the city-partitioned batch plans one exchange and no broadcast") {
    val chained = WeatherEtl.capOutliers(WeatherEtl.imputeMissing(
      WeatherEtl.dedupStaging(seeded.repartition(col("city_name")))))
    Seq(chained, WeatherEtl.clean(seeded)).foreach { df =>
      df.collect() // settle the adaptive plan
      val plan = df.queryExecution.executedPlan
      val shuffles = Plans.collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.map(_.shuffleOrigin) === Seq(REPARTITION_BY_COL), plan)
      assert(Plans.collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan)
    }
  }

  test("runBatch cleans once: two checkpoints, no cache entry, no Window in the outputs") {
    // the session is shared with earlier suites, which may leave cached frames
    spark.sharedState.cacheManager.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (newDim, newFact, processed) = WeatherEtl.runBatch(seeded, dim, seededFact)
    val added = spark.sparkContext.getPersistentRDDs -- before
    assert(added.size === 2 && added.values.forall(_.isCheckpointed))
    assert(spark.sharedState.cacheManager.isEmpty)
    Seq(newDim, newFact, processed).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(Plans.collectWithSubqueries(plan) { case w: WindowExec => w }.isEmpty, plan)
    }
  }
}

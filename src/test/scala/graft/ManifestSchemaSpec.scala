package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore._

/** `readCommitted` reads a version under the schema its manifest records,
  * so resolving the read runs no Parquet schema-inference job; manifests
  * without a schema keep inference.
  */
class ManifestSchemaSpec extends SparkSpec {
  /** Spark jobs started while `body` runs. Listener events are delivered
    * asynchronously; the pause lets the bus catch up.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val v = body
      Thread.sleep(300)
      (v, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Every column kind a snapshot holds, NULLs included. */
  private def frame: DataFrame = spark.range(0, 40, 1, 2).select(
    col("id"),
    (col("id") * 3).cast("int").as("i"),
    concat(lit("s"), col("id")).as("s"),
    (col("id") / 7).cast("decimal(9,2)").as("d"),
    date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("dt"),
    timestamp_seconds(col("id") * 3600).as("ts"),
    array(col("id"), lit(null).cast("long")).as("arr"),
    struct(col("id").as("a"), lit("x").as("b")).as("st"),
    when(col("id") % 5 === 0, lit(null).cast("double")).otherwise(col("id") / 3).as("n"))

  private def manifest(dir: String, v: Int): String =
    new String(Files.readAllBytes(Paths.get(f"$dir/_commits/v$v%05d.json")), "UTF-8")

  private def dataDir(dir: String, v: Int): String =
    s"$dir/" + new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(manifest(dir, v)).get("data").asText

  private def sortedRows(df: DataFrame) = df.orderBy("id").collect().toSeq

  test("a version with a recorded schema reads with no job and equals the inferred read") {
    val dir = Files.createTempDirectory("graft_manifest_schema").toString
    commitSnapshot(frame, dir)
    assert(manifest(dir, 0).contains("\"schema\""))
    val (recorded, jobs) = jobsDuring(readCommitted(spark, dir))
    assert(jobs === 0)
    val (inferred, inferJobs) = jobsDuring(spark.read.parquet(dataDir(dir, 0)))
    assert(inferJobs >= 1, "the listener must see the inference job it exists to rule out")
    assert(recorded.schema === inferred.schema)
    assert(sortedRows(recorded) === sortedRows(inferred))
  }

  test("a manifest without a schema still reads, by inference") {
    val dir = Files.createTempDirectory("graft_manifest_legacy").toString
    val staged = stageSnapshot(frame, dir)
    Files.createDirectories(Paths.get(s"$dir/_commits"))
    Files.write(Paths.get(s"$dir/_commits/v00000.json"),
      s"""{"version": 0, "data": "${Paths.get(staged).getFileName}"}""".getBytes("UTF-8"))
    val (legacy, jobs) = jobsDuring(readCommitted(spark, dir))
    assert(jobs >= 1)
    val inferred = spark.read.parquet(staged)
    assert(legacy.schema === inferred.schema)
    assert(sortedRows(legacy) === sortedRows(frame))
  }

  test("partitioned roots record no schema and keep partition discovery") {
    val dir = Files.createTempDirectory("graft_manifest_part").toString
    commitSnapshotPartitioned(frame.withColumn("p", (col("id") % 3).cast("int")), dir, Seq("p"))
    assert(!manifest(dir, 0).contains("\"schema\""))
    val back = readCommitted(spark, dir)
    assert(back.schema("p").dataType === org.apache.spark.sql.types.IntegerType)
    assert(back.count() === 40L)
  }
}

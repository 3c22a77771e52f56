package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf
import graft.util.Sessions

/** Spark's generated-code class cache holds the engine's working set.
  * Three of the `iterative_ml` benchmark entries compile about 130 classes
  * at sf0.001, more than Spark's default 100-entry cache holds, so before
  * [[Sessions.tune]] sized the cache, each pass over them ran Janino again
  * on classes it had already compiled. The fourth entry,
  * `q_doc_dedup_components`, is left out: its adaptive re-plans number
  * their codegen stages differently from run to run, so a few of its
  * classes are new on every pass whatever the cache holds.
  */
class CodegenCacheSpec extends SparkSpec {
  private val shapes = Seq("q_kcore", "q_hits", "q_dedup_components_editdist")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while every shape is materialized once. */
  private def pass(): Long = {
    val before = compiles
    shapes.foreach { n =>
      SparkEntry.queries(n)(spark, Sf).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    compiles - before
  }

  test("tune is idempotent and sizes the codegen class cache") {
    Sessions.tune(spark)
    val confs = spark.conf.getAll
    val rules = spark.experimental.extraOptimizations
    val strategies = spark.experimental.extraStrategies
    Sessions.tune(spark)
    assert(spark.conf.getAll === confs)
    assert(spark.experimental.extraOptimizations === rules)
    assert(spark.experimental.extraStrategies === strategies)
    assert(spark.sessionState.conf.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) ===
      Sessions.CodegenCacheEntries)
  }

  test("a second pass over the iterative_ml shapes compiles no class") {
    pass()
    assert(pass() === 0L)
  }
}

package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round tooling: run queries once and report DETERMINISTIC
  * plan-execution counters (jobs, stages, tasks, shuffle bytes, input
  * bytes) — the noise-immune before/after evidence for structural changes
  * (wall clock on this box swings ±2× with host contention).
  *
  * Usage: runMain graft.StageCount <q_a,q_b,...>
  *
  * Each counted pass also prints one `[codegen]` line: the classes Janino
  * compiled during the pass and their compile time (a steady-state pass of
  * a query whose classes are cached compiles none). With `SC_TRACE_JOBS=1`
  * every job prints its call site and the operator scopes of its stages
  * (`Exchange`, `BroadcastExchange`, `WriteFiles`, …): Spark submits AQE
  * query-stage and broadcast jobs from a thread pool, so their call site
  * names no query code and the scopes are what tell them apart.
  */
object StageCount {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufR = new AtomicLong; val shufW = new AtomicLong
    val input = new AtomicLong
    val traceJobs = sys.env.contains("SC_TRACE_JOBS")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (traceJobs) {
          val d = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          // Spark names every stage after its job's call site
          // ("count at X.scala:N"); `callSite.short` is only a job
          // property when someone called setCallSite
          val cs = j.stageInfos.headOption.map(_.name).getOrElse("")
          // newest RDD first, so the list opens with the operator whose
          // output the job computes; codegen stages carry their id
          // ("WholeStageCodegen (3)")
          val ops = j.stageInfos.flatMap(_.rddInfos).sortBy(-_.id).flatMap(_.scope)
            .map(_.name.replaceAll(" \\(\\d+\\)$", "")).distinct
          System.err.println(s"[job] ${j.jobId} stages=${j.stageInfos.size} cs=$cs ops=${ops.mkString(",")} desc=${d.take(80)}")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    })
    names.foreach { n =>
      // one warm pass absorbs codegen/JIT bring-up; the counted pass is
      // steady-state
      try { SparkEntry.queries(n)(spark, sfDir).count() } catch { case _: Throwable => () }
      spark.catalog.clearCache(); System.gc()
      Thread.sleep(300)
      jobs.set(0); stages.set(0); tasks.set(0)
      shufR.set(0); shufW.set(0); input.set(0)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val rc = try { SparkEntry.queries(n)(spark, sfDir).count() }
               catch { case e: Throwable => System.err.println(s"$n FAILED: $e"); -1L }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener drain
      println(f"[stagecount] $n%-28s jobs=${jobs.get}%4d stages=${stages.get}%4d tasks=${tasks.get}%6d shufR=${shufR.get / 1024}%8dKB shufW=${shufW.get / 1024}%8dKB input=${input.get / 1024}%8dKB rows=$rc%8d wall=$wall%7.2f")
      println(f"[codegen] $n%-28s compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0}%4d compile_s=${(CodeGenerator.compileTime - compileNs0) / 1e9}%6.2f")
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}

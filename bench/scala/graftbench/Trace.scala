package graftbench

import scala.collection.mutable
import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of one op. `parent` is the enclosing span's name. */
final case class Span(op: Int, name: String, parent: String, startNs: Long, endNs: Long)

/** Span recorder plus the listeners that attribute Spark work to ops.
  *
  * Spans and counters stay in memory and are written out once, when the
  * run ends. Jobs are attributed through the job group, which the harness
  * sets to `<opId>:<span>` before each span, so jobs a builder starts are
  * charged to that op's build span.
  */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  /** Per op id: counter name → value. */
  val counters = mutable.LinkedHashMap[Int, mutable.LinkedHashMap[String, Double]]()

  private val sc = spark.sparkContext
  private val listener = new GroupListener
  private val qes = mutable.ArrayBuffer[QueryExecution]()
  sc.addSparkListener(listener)
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.synchronized { qes += qe }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  def add(op: Int, key: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(op, mutable.LinkedHashMap())
    m(key) = m.getOrElse(key, 0.0) + v
  }
  def max(op: Int, key: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(op, mutable.LinkedHashMap())
    m(key) = math.max(m.getOrElse(key, 0.0), v)
  }

  /** Run `body` as span `name` of op `op`; Spark jobs it starts carry the
    * group `<op>:<name>`. Returns the body's value and the captured query
    * executions that completed inside the span.
    */
  def span[T](op: Int, name: String, parent: String)(body: => T): (T, Seq[QueryExecution]) = {
    drain()
    sc.setJobGroup(s"$op:$name", name, interruptOnCancel = false)
    listener.openStorageWindow()
    val t0 = System.nanoTime()
    val out = try body finally {
      val t1 = System.nanoTime()
      spans += Span(op, name, parent, t0, t1)
      sc.clearJobGroup()
    }
    drain()
    listener.closeStorageWindow(op, this)
    (out, takeQes())
  }

  /** An op-level span that wraps child spans. */
  def opSpan[T](op: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans += Span(op, "op", "", t0, System.nanoTime())
  }

  def drain(): Unit = BenchBridge.drainListeners(sc)

  private def takeQes(): Seq[QueryExecution] = qes.synchronized {
    val out = qes.toList; qes.clear(); out
  }

  /** Fold the listener's per-group task counters into op counters. */
  def collectGroup(op: Int, span: String, prefix: String): Unit = {
    drain()
    listener.take(s"$op:$span").foreach { case (k, v) =>
      if (k == "peak_exec_mem_bytes") max(op, s"$prefix$k", v) else add(op, s"$prefix$k", v)
    }
  }

  /** Catalyst phases, graft rule time and final-plan SQLMetrics of the
    * query executions an op's execute span ran.
    */
  def recordPlans(op: Int, execQes: Seq[QueryExecution], phaseQes: Seq[QueryExecution]): Unit = {
    phaseQes.foreach { qe =>
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble / 1e3).getOrElse(0.0)
      add(op, "spark.catalyst.analysis_s", ms("analysis"))
      add(op, "spark.catalyst.optimize_s", ms("optimization"))
      add(op, "spark.catalyst.planning_s", ms("planning"))
      val graftNs = qe.tracker.rules.collect {
        case (rule, s) if rule.startsWith("graft.plans.") => s.totalTimeNs
      }.sum
      add(op, "plans.rule_s", graftNs / 1e9)
    }
    execQes.foreach { qe =>
      val nodes = Tracer.nodes(qe.executedPlan)
      add(op, "spark.catalyst.plan_nodes", nodes.size.toDouble)
      nodes.foreach { n =>
        Tracer.kind(n).foreach { k =>
          val timeS = n.metrics.values.collect {
            case m if m.metricType == "timing" => m.value / 1e3
            case m if m.metricType == "nsTiming" => m.value / 1e9
          }.sum
          add(op, s"spark.exec.op.$k.time_s", timeS)
          val rows = n.metrics.get("numOutputRows").orElse(n.metrics.get("shuffleRecordsWritten"))
          add(op, s"spark.exec.op.$k.rows", rows.map(_.value.toDouble).getOrElse(0.0))
        }
      }
    }
  }

  /** Listener state, keyed by job group. */
  private final class GroupListener extends SparkListener {
    private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val acc = mutable.HashMap[String, mutable.HashMap[String, Double]]()
    private val blocks = mutable.HashMap[String, (Long, Long)]()
    private var memNow, diskNow, memPeak, diskPeak = 0L
    private var written = 0L

    private def bump(g: String, k: String, v: Double): Unit = acc.synchronized {
      val m = acc.getOrElseUpdate(g, mutable.HashMap())
      m(k) = if (k == "peak_exec_mem_bytes") math.max(m.getOrElse(k, 0.0), v)
             else m.getOrElse(k, 0.0) + v
    }
    def take(g: String): Map[String, Double] = acc.synchronized {
      acc.remove(g).map(_.toMap).getOrElse(Map.empty)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("none")
      e.stageIds.foreach(stageGroup.put(_, g))
      bump(g, "jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      bump(stageGroup.getOrDefault(e.stageInfo.stageId, "none"), "stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.getOrDefault(e.stageId, "none")
      val m = e.taskMetrics
      bump(g, "tasks", 1)
      if (m != null) {
        val sr = m.shuffleReadMetrics
        if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0) bump(g, "empty_tasks", 1)
        bump(g, "task_run_s", m.executorRunTime / 1e3)
        bump(g, "task_cpu_s", m.executorCpuTime / 1e9)
        bump(g, "gc_s", m.jvmGCTime / 1e3)
        bump(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        bump(g, "shuffle_read_bytes", sr.totalBytesRead.toDouble)
        bump(g, "shuffle_fetch_wait_s", sr.fetchWaitTime / 1e3)
        bump(g, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        bump(g, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        bump(g, "peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = blocks.synchronized {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD) {
        val (m0, d0) = blocks.getOrElse(i.blockId.name, (0L, 0L))
        if (i.memSize + i.diskSize > 0 && m0 + d0 == 0) written += 1
        if (i.memSize + i.diskSize == 0) blocks.remove(i.blockId.name)
        else blocks(i.blockId.name) = (i.memSize, i.diskSize)
        memNow += i.memSize - m0
        diskNow += i.diskSize - d0
        memPeak = math.max(memPeak, memNow)
        diskPeak = math.max(diskPeak, diskNow)
      }
    }
    def openStorageWindow(): Unit = blocks.synchronized {
      memPeak = memNow; diskPeak = diskNow; written = 0
    }
    def closeStorageWindow(op: Int, t: Tracer): Unit = blocks.synchronized {
      t.max(op, "spark.storage.mem_bytes_peak", memPeak.toDouble)
      t.max(op, "spark.storage.disk_bytes_peak", diskPeak.toDouble)
      t.add(op, "spark.storage.blocks_written", written.toDouble)
    }
  }
}

object Tracer {
  /** Every physical node of an executed plan, final AQE plans and
    * subqueries included; a reused exchange counts once.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private val kinds = Map(
    "FileSourceScanExec" -> "Scan", "BatchScanExec" -> "Scan",
    "InMemoryTableScanExec" -> "Scan", "RowDataSourceScanExec" -> "Scan",
    "ShuffleExchangeExec" -> "Exchange", "SortExec" -> "Sort",
    "HashAggregateExec" -> "HashAggregate",
    "ObjectHashAggregateExec" -> "ObjectHashAggregate",
    "ShuffledHashJoinExec" -> "ShuffledHashJoin",
    "SortMergeJoinExec" -> "SortMergeJoin",
    "BroadcastExchangeExec" -> "BroadcastExchange",
    "WindowExec" -> "Window", "AsofJoinExec" -> "AsofJoinExec")

  def kind(p: SparkPlan): Option[String] = kinds.get(p.getClass.getSimpleName)
}

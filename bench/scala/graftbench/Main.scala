package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.pipeline.WeatherEtl
import graft.sources.SnapshotStore
import graft.streaming.StreamOps

/** Benchmark harness: one closed-loop client, one op at a time, every op
  * materialized into Spark's `noop` sink.
  *
  * Arguments are `key=value` pairs written by `bench/run.py`:
  * `workload`, `data` (generated inputs), `run` (per-run scratch root),
  * `seconds`, `passes` (the fewest passes to time), `trace` (0/1), `cpus`,
  * `ops` (comma list,
  * already in seed order; query workloads), `dump` (their output dump),
  * `days`/`warm_days` (daily_etl), `out` (result JSON). Everything the run
  * writes lives under `run`.
  */
object Main {
  final case class OpRec(id: Int, name: String, pass: Int, wallS: Double,
                         error: String)

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val data = a("data")
    val run = a("run")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val minPasses = a("passes").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$run/tmp")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Sessions.tune(spark)
    graft.functions.GraftFunctions.register(spark)

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val res = new Result
    val w: Workload = workload match {
      case "daily_etl" => new DailyEtl(spark, data, run, a("days").toInt, a("warm_days").toInt)
      case _ => new Queries(spark, data, a("ops").split(",").toSeq.filter(_.nonEmpty), a("dump"))
    }

    // set-up: tuned session plus one untimed warm pass of the workload's ops
    w.setup(res)
    res.num("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    // the first timed op must not pay for the warm pass's garbage
    settle(spark)

    Rss.resetPeak()
    var opId = 0
    val t0 = System.nanoTime()
    var pass = 0
    var more = true
    while (more && (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds)) {
      more = w.pass { (name, body) =>
        val id = opId; opId += 1
        val s = System.nanoTime()
        val err = try { tracer match {
            case Some(t) => t.opSpan(id)(body(id, Some(t)))
            case None => body(id, None)
          }; "" }
          catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
        res.ops += OpRec(id, name, pass, (System.nanoTime() - s) / 1e9, err)
        System.err.println(f"[op] $id $name ${res.ops.last.wallS}%.3f s $err")
        settle(spark)
      }
      pass += 1
    }
    res.num("timed_wall_s", (System.nanoTime() - t0) / 1e9)
    res.num("peak_rss_mb", Rss.peakKb() / 1024.0)
    res.num("passes", pass)

    tracer.foreach { t =>
      w.traceExtras(t, res)
      Probes.functions(spark, data, res)
    }
    res.write(Paths.get(a("out")), tracer)
    spark.stop()
  }

  /** Release what the last op pinned, collect its garbage and give the
    * ContextCleaner time to delete its shuffle and broadcast blocks, so
    * every op starts from the same heap and no cleanup runs inside the
    * next op's timing.
    */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(SettleMs)
  }
  val SettleMs = 250L

  /** Materialize a frame into the `noop` sink (no output I/O). */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def timed[T](body: => T): (T, Double) = {
    val s = System.nanoTime(); val v = body; (v, (System.nanoTime() - s) / 1e9)
  }
}

/** A workload: set-up (ending with its warm pass), timed passes, and the
  * layer measurements only its traced run takes.
  */
trait Workload {
  type Body = (Int, Option[Tracer]) => Unit
  def setup(res: Result): Unit
  /** Run one pass; `op(name, body)` times one op. Returns false when the
    * workload has no more ops to offer.
    */
  def pass(op: (String, Body) => Unit): Boolean
  def traceExtras(t: Tracer, res: Result): Unit = ()
}

/** Registry queries: one op per query, built through `SparkEntry.queries`. */
final class Queries(spark: SparkSession, data: String, names: Seq[String],
                    dump: String) extends Workload {
  import Main._
  private val registry = SparkEntry.queries

  /** The warm pass writes each op's output once, for the oracle check, with
    * the oracle SQL of the ops that have one.
    */
  def setup(res: Result): Unit = {
    names.foreach { n =>
      val s = System.nanoTime()
      try registry(n)(spark, data).write.mode("overwrite").parquet(s"$dump/$n")
      catch { case NonFatal(e) => res.checkErrors += n -> String.valueOf(e.getMessage) }
      System.err.println(f"[warm] $n ${(System.nanoTime() - s) / 1e9}%.3f s")
      spark.catalog.clearCache()
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(Paths.get(s"$dump/oracle_sql.json"),
      Result.obj(oracles.map { case (k, v) => k -> Result.str(v) }).getBytes("UTF-8"))
  }

  def pass(op: (String, Body) => Unit): Boolean = {
    names.foreach { name =>
      op(name, {
        case (_, None) => noop(registry(name)(spark, data))
        case (id, Some(t)) =>
          val (df, _) = t.span(id, "build", "op")(registry(name)(spark, data))
          t.collectGroup(id, "build", "operators.build_")
          t.span(id, "plan", "op")(df.queryExecution.executedPlan)
          t.collectGroup(id, "plan", "operators.build_")
          val (_, execQes) = t.span(id, "execute", "op")(noop(df))
          t.collectGroup(id, "execute", "spark.exec.")
          t.recordPlans(id, execQes, df.queryExecution +: execQes)
          // the same frame through count(), which Catalyst prunes; run.py
          // leaves this span out of the traced op wall
          t.span(id, "count", "op")(df.count())
      })
    }
    true
  }
}

/** The write path: a history load in set-up, then one op per day. */
final class DailyEtl(spark: SparkSession, data: String, run: String,
                     days: Int, warmDays: Int) extends Workload {
  import Main._
  private val store = s"$run/store"
  private val dimDir = s"$store/dim"
  private val factDir = s"$store/fact"
  private val stgDir = s"$store/stg"
  private val feedDir = s"$store/cdc"
  private var day = 0

  /** CDC key and image of a fact row: (city_id, date) packed in one long,
    * measures as one comparable string (load_timestamp is excluded).
    */
  private def cdcView(fact: DataFrame): DataFrame =
    fact.select((col("city_id").cast("long") * 100000L +
                 datediff(col("date"), lit("1970-01-01").cast("date"))).as("fkey"),
                to_json(struct(col("temp_max"), col("temp_min"), col("precipitation"))).as("img"))

  private def dayPath(d: Int) = f"$data/day_$d%04d.parquet"

  def setup(res: Result): Unit = {
    val hist = spark.read.parquet(s"$data/history.parquet")
    val dim0 = spark.read.parquet(s"$data/dim_city.parquet")
    val fact0 = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "city_id int, date date, temp_max decimal(5,2), temp_min decimal(5,2), " +
        "precipitation decimal(5,2), load_timestamp timestamp"))
    val (dim, fact, stg) = WeatherEtl.runBatch(hist, dim0, fact0)
    SnapshotStore.commitSnapshot(dim, dimDir)
    SnapshotStore.commitSnapshot(fact, factDir)
    SnapshotStore.commitSnapshot(stg, stgDir)
    StreamOps.cdcFeedBatch(cdcView(SnapshotStore.readCommitted(spark, factDir)), 0L, feedDir, "fkey", "img")
    (0 until warmDays).foreach { _ => runDay(day, None, 0); day += 1 }
  }

  private def runDay(d: Int, t: Option[Tracer], id: Int): Unit = {
    def sp[T](name: String)(body: => T): T = t match {
      case Some(tr) =>
        val (v, qes) = tr.span(id, name, "op")(body)
        if (name == "commit" || name == "cdc") tr.recordPlans(id, qes, qes)
        v
      case None => body
    }
    val (newDim, newFact, processed) = sp("build") {
      val (dim, rd) = timed(SnapshotStore.readCommitted(spark, dimDir))
      val (fact, rf) = timed(SnapshotStore.readCommitted(spark, factDir))
      t.foreach(_.add(id, "sources.read_latest_s", rd + rf))
      WeatherEtl.runBatch(spark.read.parquet(dayPath(d)), dim, fact)
    }
    t.foreach(_.collectGroup(id, "build", "operators.build_"))
    sp("plan") { Seq(newDim, newFact, processed).foreach(_.queryExecution.executedPlan) }
    val before = t.map(_ => Fs.usage(store))
    sp("commit") {
      SnapshotStore.commitSnapshot(newDim, dimDir)
      SnapshotStore.commitSnapshot(newFact, factDir)
      SnapshotStore.commitSnapshot(processed, stgDir)
    }
    t.foreach { tr =>
      val after = Fs.usage(store)
      tr.add(id, "sources.bytes_written", (after._1 - before.get._1).toDouble)
      tr.add(id, "sources.files_written", (after._2 - before.get._2).toDouble)
      tr.collectGroup(id, "commit", "spark.exec.")
    }
    sp("cdc") {
      StreamOps.cdcFeedBatch(cdcView(SnapshotStore.readCommitted(spark, factDir)),
                             d + 1L, feedDir, "fkey", "img")
    }
    t.foreach(_.collectGroup(id, "cdc", "spark.exec."))
  }

  /** One pass is one day. */
  def pass(op: (String, Body) => Unit): Boolean = {
    val d = day
    op(f"day_$d%04d", {
      case (_, None) => runDay(d, None, 0)
      case (id, Some(t)) =>
        runDay(d, Some(t), id)
        val spans = t.spans.filter(_.op == id)
        def dur(n: String) = spans.filter(_.name == n).map(s => (s.endNs - s.startNs) / 1e9).sum
        t.add(id, "sources.commit_s", dur("commit"))
        t.add(id, "streaming.cdc_s", dur("cdc"))
    })
    day += 1
    day < days
  }

  /** Per-stage prefixes of one extra day's batch (each prefix materialized)
    * and the store's end-of-run shape. Runs after the timed loop.
    */
  override def traceExtras(t: Tracer, res: Result): Unit = {
    val stg = spark.read.parquet(dayPath(math.min(day, days - 1)))
    val dim = SnapshotStore.readCommitted(spark, dimDir)
    val fact = SnapshotStore.readCommitted(spark, factDir)
    val dedup = WeatherEtl.dedupStaging(stg)
    val impute = WeatherEtl.imputeMissing(dedup)
    val cap = WeatherEtl.capOutliers(impute)
    val dimIns = WeatherEtl.dimInsertNew(dim, cap)
    val stages = Seq("dedup" -> dedup, "impute" -> impute, "cap_outliers" -> cap,
      "dim_insert" -> dimIns, "fact_merge" -> WeatherEtl.factMerge(fact, cap, dimIns),
      "mark_processed" -> WeatherEtl.markProcessed(cap))
    stages.foreach { case (name, df) =>
      noop(df) // warm
      val walls = (1 to 3).map(_ => timed(noop(df))._2)
      res.num(s"pipeline.prefix.${name}_s", walls.sorted.apply(1))
      res.num(s"pipeline.$name.rows_out", df.count().toDouble)
    }
    val versions = Seq(dimDir, factDir, stgDir).map(SnapshotStore.committedVersions(spark, _).size).sum
    res.num("sources.versions", versions)
    val live = Fs.usage(liveDir(factDir))._1
    res.num("sources.space_amp", Fs.usage(factDir)._1.toDouble / math.max(1L, live))
  }

  private def liveDir(base: String): String = {
    val v = SnapshotStore.committedVersions(spark, base).max
    val body = new String(Files.readAllBytes(Paths.get(f"$base/_commits/v$v%05d.json")), "UTF-8")
    s"$base/" + """"data":\s*"([^"]+)"""".r.findFirstMatchIn(body).get.group(1)
  }
}

/** Native-kernel probes: one fixed single-expression query per kernel over
  * the generated embeddings/documents, minus a plain projection of the same
  * input. Reported as ns per input row (median of five).
  */
object Probes {
  import Main._
  def functions(spark: SparkSession, data: String, res: Result): Unit = {
    def fn(name: String, cs: org.apache.spark.sql.Column*) = call_function(name, cs: _*)
    val q = transform(col("embedding"), v => floor(v.cast("double") * 1000000.0 + 0.5).cast("long"))
    // replicate the inputs to ~100k vectors / ~20k documents so the kernel
    // time clears the per-job overhead the baseline subtracts
    val embRows = spark.read.parquet(s"$data/embeddings.parquet").count()
    val docRows = spark.read.parquet(s"$data/documents.parquet").count()
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
      .crossJoin(spark.range(math.max(1L, 100000L / embRows)).withColumnRenamed("id", "rep"))
      .select(col("embedding"), q.as("qv"), reverse(q).as("qw"), col("rep"))
      .persist()
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .crossJoin(spark.range(math.max(1L, 20000L / docRows)).withColumnRenamed("id", "rep"))
      .select(concat(col("text"), lit(" "), col("rep").cast("string")).as("text"))
      .persist()
    val nEmb = emb.count().toDouble
    val nDocs = docs.count().toDouble
    def med(df: DataFrame): Double = {
      noop(df)
      (1 to 5).map(_ => timed(noop(df))._2).sorted.apply(2)
    }
    val embBase = med(emb.select(size(col("qv")) + size(col("qw"))))
    val aggBase = med(emb.groupBy(col("rep")).agg(count(col("qv"))))
    val docBase = med(docs.select(length(col("text"))))
    val probes = Seq(
      ("dot_q", med(emb.select(fn("dot_q", col("qv"), col("qw")))), embBase, nEmb),
      ("sq_l2", med(emb.select(fn("sq_l2", col("qv"), col("qw")))), embBase, nEmb),
      ("vec_sum_q", med(emb.groupBy(col("rep")).agg(fn("vec_sum_q", col("qv")))), aggBase, nEmb),
      ("hyperplane_bands", med(emb.select(fn("hyperplane_bands", col("embedding")))), embBase, nEmb),
      ("shingles", med(docs.select(size(fn("shingles", col("text"), lit(5))))), docBase, nDocs),
      ("minhash_sig", med(docs.select(fn("minhash_sig", col("text"), lit(graft.operators.Dedup.NumHashes)))), docBase, nDocs))
    probes.foreach { case (k, t, base, n) =>
      res.num(s"functions.$k.ns_per_row", (t - base) * 1e9 / n)
    }
    emb.unpersist(); docs.unpersist()
  }
}

/** Peak resident set of this JVM, from `/proc/self/status`. */
object Rss {
  def resetPeak(): Unit =
    try { val o = new java.io.FileOutputStream("/proc/self/clear_refs"); try o.write('5') finally o.close() }
    catch { case NonFatal(_) => () }
  def peakKb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
  }
}

object Fs {
  /** (bytes, files) under a directory. */
  def usage(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var b = 0L; var n = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => b += Files.size(f); n += 1 }
        (b, n)
      } finally s.close()
    }
  }
}

object Result {
  def str(x: String): String = "\"" + x.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def d(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Everything a run reports, written as one JSON object. */
final class Result {
  val ops = mutable.ArrayBuffer[Main.OpRec]()
  val nums = mutable.LinkedHashMap[String, Double]()
  val checkErrors = mutable.LinkedHashMap[String, String]()
  def num(k: String, v: Double): Unit = nums(k) = v

  def write(path: Path, tracer: Option[Tracer]): Unit = {
    import Result._
    def s(x: String) = str(x)
    val parts = mutable.ArrayBuffer[(String, String)]()
    parts += "ops" -> ops.map(o => obj(Seq("id" -> o.id.toString, "name" -> s(o.name),
      "pass" -> o.pass.toString, "wall_s" -> d(o.wallS), "error" -> s(o.error)))).mkString("[", ",", "]")
    parts += "nums" -> obj(nums.map { case (k, v) => k -> d(v) })
    parts += "check_errors" -> obj(checkErrors.map { case (k, v) => k -> s(v) })
    tracer.foreach { t =>
      parts += "spans" -> t.spans.map(sp => obj(Seq("op" -> sp.op.toString, "name" -> s(sp.name),
        "parent" -> s(sp.parent), "start_ns" -> sp.startNs.toString, "end_ns" -> sp.endNs.toString)))
        .mkString("[", ",", "]")
      parts += "counters" -> obj(t.counters.map { case (op, m) =>
        op.toString -> obj(m.map { case (k, v) => k -> d(v) }) })
    }
    Files.write(path, obj(parts).getBytes("UTF-8"))
  }
}

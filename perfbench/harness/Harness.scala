package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.streaming.CdcStream

/** JVM side of the benchmark: one workload per process.
  *
  * Usage: `Harness <workload> <inputDir> <outDir> <seconds> <trace 0|1> <cores> <steps>`
  * where `<steps>` is `key=span,key=span,…` for the batch workloads.
  *
  * It calls the program only through its public entry points: frozen
  * `SparkEntry.queries` keys (each step's result is WRITTEN, so no count()
  * pruning can skip work the user pays for), `SparkEntry.oracleSql`,
  * `GraftSession`, SQL text over `graft_snap` and `CdcStream.startAtomic`.
  * Timings, read digests and (in traced mode) spans and listener counters go
  * to `<outDir>/result.json`; the Python side checks and reports them. */
object Harness {

  final case class Span(id: Int, name: String, layer: String, iter: Int,
                        parent: Int, startMs: Double, var endMs: Double = 0.0,
                        var ok: Boolean = true) {
    def toJson: Json.Obj = Json.obj("id" -> id, "name" -> name, "layer" -> layer, "iter" -> iter,
      "parent" -> parent, "start_ms" -> startMs, "end_ms" -> endMs, "ok" -> ok)
  }

  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  val spans = ArrayBuffer.empty[Span]
  def open(name: String, layer: String, iter: Int, parent: Int): Span = synchronized {
    val s = Span(spans.size, name, layer, iter, parent, nowMs)
    spans += s
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, outDir, secondsS, traceS, coresS, stepsS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    new File(outDir).mkdirs()
    val res = new Json.Obj
    res("cores") = cores
    res("max_heap_mb") = Runtime.getRuntime.maxMemory / (1 << 20)

    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$outDir/ckpt-default"))
      .getOrCreate()
    GraftSession.registerAll(spark)
    spark.sparkContext.setLogLevel("ERROR")
    res("session_ready_ms") = nowMs

    val tracer = new Tracer(spark)
    try {
      workload match {
        case "lakehouse_mix" => Lakehouse.run(spark, inDir, outDir, seconds, trace, tracer, res)
        case w =>
          val steps = stepsS.split(",").toSeq.map { kv => val Array(k, v) = kv.split("="); (k, v) }
          Batch.run(spark, w, steps, inDir, outDir, seconds, trace, tracer, res)
      }
    } finally {
      tracer.detach()
      res("vm_hwm_kb") = vmHwmKb()
      res("spans") = spans.map(_.toJson)
      if (trace) res("trace") = tracer.toJson
      Files.write(Paths.get(s"$outDir/result.json"), Json.render(res).getBytes(UTF_8))
      spark.stop()
    }
  }

  /** The timed phase: `unit` (a pass or a round) repeated until `seconds`
    * have passed, at least `minUnits` times. Traced mode alternates an
    * untraced and a traced unit for twice as long, so JIT warming drifts
    * both sides alike and their difference is the tracing overhead. */
  def timedPhase(seconds: Double, minUnits: Int, trace: Boolean, tracer: Tracer,
                 res: Json.Obj)(unit: String => Unit): Unit = {
    res("timed_start_ms") = nowMs
    val end = System.nanoTime() + (seconds * (if (trace) 2 else 1) * 1e9).toLong
    var n = 0
    while (n < minUnits || System.nanoTime() < end) {
      unit("timed")
      if (trace) { tracer.attach(); unit("traced"); tracer.detach() }
      n += 1
    }
    res("timed_end_ms") = nowMs
  }

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def stackLine(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ")
    s"${e.getClass.getName}: ${m.take(300)}"
  }

  /** Persisted RDDs a step left behind, then the benchmark's own drain
    * (untimed), so every step starts from the same storage state. */
  def drain(spark: SparkSession): Int = {
    val left = spark.sparkContext.getPersistentRDDs.size
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    left
  }
}

/** curation_batch / corpus_curation: closed-loop passes over the steps. */
object Batch {
  import Harness._

  def run(spark: SparkSession, workload: String, steps: Seq[(String, String)],
          inDir: String, outDir: String, seconds: Double, trace: Boolean,
          tracer: Tracer, res: Json.Obj): Unit = {
    val oracle = new Json.Obj
    steps.foreach { case (k, _) => SparkEntry.oracleSql.get(k).foreach(q => oracle(k) = q) }
    Files.write(Paths.get(s"$outDir/oracle.json"), Json.render(oracle).getBytes(UTF_8))

    val passes = new Json.Arr
    var iter = 0
    def pass(phase: String): Double = {
      val root = open(s"pass-$iter", "pass", iter, -1)
      val stepTimes = new Json.Obj
      val leftBehind = new Json.Obj
      val errors = new Json.Obj
      var total = 0.0
      steps.foreach { case (key, layer) =>
        val sp = open(key, layer, iter, root.id)
        if (trace) spark.sparkContext.addJobTag(s"graftbench-span-${sp.id}")
        val t = System.nanoTime()
        try {
          SparkEntry.queries(key)(spark, inDir)
            .write.mode("overwrite").parquet(s"$outDir/out/p$iter/$key")
        } catch { case e: Throwable => sp.ok = false; errors(key) = stackLine(e) }
        val dt = (System.nanoTime() - t) / 1e9
        sp.endMs = nowMs
        if (trace) spark.sparkContext.removeJobTag(s"graftbench-span-${sp.id}")
        total += dt
        stepTimes(key) = dt
        leftBehind(key) = drain(spark)
      }
      root.endMs = nowMs
      passes += Json.obj("iter" -> iter, "phase" -> phase, "pass_s" -> total, "steps_s" -> stepTimes,
        "persisted_left" -> leftBehind, "errors" -> errors)
      iter += 1
      total
    }

    // two untimed passes: the first pays class loading and codegen, the
    // second most of the JIT warming that follows (measured: the first pass
    // after a single warm-up still ran 30-40% slow on curation_batch)
    pass("warmup")
    pass("warmup")
    System.gc()
    // at least three passes so the median has a middle
    timedPhase(seconds, 3, trace, tracer, res) { phase => pass(phase); () }
    res("passes") = passes
  }
}

/** lakehouse_mix: one SQL client, a CDC stream and periodic maintenance on
  * one snapshot table, following the generated plan line by line. */
object Lakehouse {
  import Harness._

  val OpsSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("cust", LongType),
    StructField("status", StringType), StructField("price_cents", LongType),
    StructField("ver", LongType), StructField("op", StringType)))

  def digest(rows: Seq[org.apache.spark.sql.Row]): String = {
    val lines = rows.map(r => (r.getLong(0), r)).sortBy(_._1).map { case (_, r) =>
      s"${r.getLong(0)}|${r.getLong(1)}|${r.getString(2)}|${r.getLong(3)}|${r.getLong(4)}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(lines.mkString("\n").getBytes(UTF_8)).map(b => f"$b%02x").mkString
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def run(spark: SparkSession, inDir: String, outDir: String, seconds: Double,
          trace: Boolean, tracer: Tracer, res: Json.Obj): Unit = {
    val tableDir = s"$outDir/table"
    val stageDir = s"$outDir/stage"
    new File(stageDir).mkdirs()
    spark.read.parquet(s"$inDir/base.parquet").createOrReplaceTempView("graftbench_base")
    spark.sql(s"CREATE TABLE graft_snap.t OPTIONS (path '$tableDir') AS " +
      "SELECT * FROM graftbench_base").collect()
    val stream: StreamingQuery = CdcStream.startAtomic(
      spark.readStream.schema(OpsSchema).parquet(stageDir), tableDir, "k", "op",
      s"$outDir/cdc-ckpt")
    val plan = scala.io.Source.fromFile(s"$inDir/plan.tsv").getLines().toVector
      .map { l => val Array(kind, arg) = l.split("\t", 2); (kind, arg) }
    res("table_ready_ms") = nowMs

    val ops = new Json.Arr
    val rounds = new Json.Arr
    val layouts = new Json.Arr
    var line = 0
    var iter = 0
    var untimedNs = 0L  // the benchmark's own layout listing inside a round

    def exec(phase: String, round: Span): Unit = {
      val (kind, arg) = plan(line)
      val o = Json.obj("line" -> line, "kind" -> kind, "phase" -> phase, "iter" -> iter)
      // the layout each traced read resolves, sampled before its span opens
      // and taken out of the round's time
      if (kind == "R" && phase == "traced") {
        val t = System.nanoTime()
        layouts += tableLayout(tableDir)
        untimedNs += System.nanoTime() - t
      }
      val sp = open(kind match { case "W" => "write"; case "R" => "read"; case _ => arg.split(" ")(0).toLowerCase },
        kind match { case "W" => "cdc"; case "R" => "sql"; case _ => "maintenance" }, iter, round.id)
      if (trace) spark.sparkContext.addJobTag(s"graftbench-span-${sp.id}")
      val t = System.nanoTime()
      try kind match {
        case "W" =>
          val tmp = Paths.get(s"$outDir/$arg")
          Files.copy(Paths.get(s"$inDir/batches/$arg"), tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, Paths.get(s"$stageDir/$arg"), StandardCopyOption.ATOMIC_MOVE)
          stream.processAllAvailable()
          stream.exception.foreach(e => throw e)
        case "R" =>
          val rows = spark.sql("SELECT k, cust, status, price_cents, ver FROM graft_snap.t " +
            s"WHERE $arg").collect().toSeq
          o("rows") = rows.size; o("digest") = digest(rows)
        case "M" => spark.sql(arg).collect(); ()
      } catch { case e: Throwable => sp.ok = false; o("error") = stackLine(e) }
      o("ms") = (System.nanoTime() - t) / 1e6
      sp.endMs = nowMs
      if (trace) spark.sparkContext.removeJobTag(s"graftbench-span-${sp.id}")
      ops += o
      line += 1
    }

    /** One round: a write, then the read and maintenance the plan puts
      * after it, up to the next write. */
    def round(phase: String): Unit = {
      require(line < plan.length && plan(line)._1 == "W", "plan exhausted: generate more batches")
      untimedNs = 0L
      val r = open(s"round-$iter", "round", iter, -1)
      do exec(phase, r) while (line < plan.length && plan(line)._1 != "W")
      r.endMs = nowMs
      rounds += Json.obj("iter" -> iter, "phase" -> phase, "untimed_ms" -> untimedNs / 1e6,
        "round_s" -> ((r.endMs - r.startMs) / 1e3 - untimedNs / 1e9))
      iter += 1
    }

    // warm-up: one round, checked like every other op
    round("warmup")
    System.gc()
    timedPhase(seconds, 1, trace, tracer, res)(round)
    stream.stop()
    res("ops") = ops
    res("rounds") = rounds
    res("layouts") = layouts
    spark.sql("SELECT k, cust, status, price_cents, ver FROM graft_snap.t")
      .write.mode("overwrite").parquet(s"$outDir/final")
    res("table_bytes") = dirBytes(new File(tableDir))
    res("final_bytes") = Option(new File(s"$outDir/final").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(".parquet")).map(_.length).sum
  }

  /** Table layout read from the directory, not from the program: manifest
    * bytes of the current snapshot, retained manifests and live files. */
  def tableLayout(tableDir: String): Json.Obj = {
    val o = Json.obj()
    val files = Option(new File(tableDir).listFiles()).getOrElse(Array.empty[File])
    val snaps = files.filter(f => f.getName.matches("snap-\\d+"))
    o("snapshot_chain") = snaps.length
    val cur = if (snaps.isEmpty) None else Some(snaps.maxBy(_.getName.stripPrefix("snap-").toLong))
    o("manifest_bytes") = cur.map(_.length).getOrElse(0L)
    val listed = cur.toSeq.flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
      .flatMap(l => l.split("\\s+").toSeq)
      .filter(tok => tok.matches("(data|delete|posdelete)/.+"))
      .distinct
    o("files_live") = listed.map { d =>
      Option(new File(s"$tableDir/$d").listFiles()).getOrElse(Array.empty[File])
        .count(f => f.getName.endsWith(".parquet"))
    }.sum
    o
  }
}

/** Traced mode only: a SparkListener and a QueryExecutionListener that record
  * jobs, stages, task metrics and Catalyst phase times with wall-clock
  * stamps; the Python side attributes them to spans by job tag or by time
  * window (exact: there is one client). */
class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private var attached = false
  val jobs = ArrayBuffer.empty[Json.Obj]
  val queries = ArrayBuffer.empty[Json.Obj]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Double, Int)]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stages = scala.collection.mutable.Map.empty[Int, Int]
  private val jobAgg = scala.collection.mutable.Map.empty[Int, Array[Double]]
  // tasks, task_ms, cpu_ms, gc_ms, shuffle write, shuffle read, spill, input bytes
  private def agg(job: Int) = jobAgg.getOrElseUpdate(job, new Array[Double](8))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
      val span = tags.split(",").find(_.startsWith("graftbench-span-"))
        .map(_.stripPrefix("graftbench-span-").toInt).getOrElse(-1)
      jobStart(e.jobId) = (e.time.toDouble, span)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      stages(e.jobId) = e.stageIds.size
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (st, span) =>
        val a = agg(e.jobId)
        val o = Json.obj("id" -> e.jobId, "start_ms" -> st, "end_ms" -> e.time.toDouble, "span" -> span,
          "stages" -> stages.getOrElse(e.jobId, 0))
        Seq("tasks", "task_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
          "spill_bytes", "input_bytes").zip(a).foreach { case (k, v) => o(k) = v }
        jobs += o
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).foreach { j =>
        val a = agg(j)
        val m = e.taskMetrics
        a(0) += 1
        if (m != null) {
          a(1) += m.executorRunTime
          a(2) += m.executorCpuTime / 1e6
          a(3) += m.jvmGCTime
          a(4) += m.shuffleWriteMetrics.bytesWritten
          a(5) += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          a(6) += m.diskBytesSpilled
          a(7) += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val o = Json.obj("func" -> funcName, "ok" -> ok)
    val phases = qe.tracker.phases
    var first = Double.MaxValue
    Seq("analysis", "optimization", "planning").foreach { p =>
      val ms = phases.get(p).map { s => first = math.min(first, s.startTimeMs.toDouble); s.durationMs }
      o(s"${p}_ms") = ms.getOrElse(0L)
    }
    val plan: SparkPlan = qe.executedPlan
    o("physical_ops") = collect(plan) { case p => p }.size
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    o("files_read") = scans.flatMap(_.metrics.get("numFiles").map(_.value)).sum
    o("files_bytes") = scans.flatMap(_.metrics.get("filesSize").map(_.value)).sum
    o("start_ms") = if (first == Double.MaxValue) System.currentTimeMillis().toDouble else first
    synchronized { queries += o }
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    // deliver every queued event before the listeners go
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def toJson: Json.Obj = synchronized { Json.obj("jobs" -> jobs, "queries" -> queries) }
}

/** The result file's JSON: ordered maps and buffers, written by the Jackson
  * that ships with Spark. */
object Json {
  type Obj = mutable.LinkedHashMap[String, Any]
  type Arr = ArrayBuffer[Any]
  def obj(kvs: (String, Any)*): Obj = mutable.LinkedHashMap(kvs: _*)
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}

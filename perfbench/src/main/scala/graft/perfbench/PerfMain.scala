package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, sum, xxhash64}
import org.apache.spark.sql.graftbench.LayerListener

/** One timed operation: its kind (a build step, a query or a route),
  * wall time, and whether it succeeded. `detail` carries what the
  * correctness checks need (a response body, an error message). */
final case class Op(kind: String, ms: Double, ok: Boolean, detail: String)

/** A workload: set-up (warm-up operation included), whole rounds of a
  * fixed list of operations, and the data the checks read afterwards. */
trait Workload {
  def setup(): Unit
  def round(r: Int): Seq[Op]
  /** Per-layer metrics specific to this workload, over the timed phase
    * (spans that start at or after `from`). */
  def layerMetrics(from: Long): Map[String, Double] = Map.empty
  /** Extra fields for the result file (check inputs). */
  def report: Map[String, Any] = Map.empty
  def close(): Unit = ()
}

/** The JVM side of the benchmark: drives graft's public entry points
  * for one workload and writes timings (and, traced, per-layer
  * counters and spans) as JSON for `run.py`, which checks outputs and
  * prints the metrics.
  *
  * Usage: PerfMain --workload W --data DIR --work DIR --out FILE
  *   --rounds R --trace 0|1 --cores N
  */
object PerfMain {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val work = Paths.get(a("work"))
    val rounds = a("rounds").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.GraftExtensions)
      // the settings graft's own mains run with (BuildMain, Verify; FAIR
      // as in Bench, for the REST server's per-request scheduler pools)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(trace)
    val listener = if (trace) {
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

    val wl: Workload = workload match {
      case "etl_build" => new EtlBuild(spark, data, work, tracer)
      case "analytics_batch" => new AnalyticsBatch(spark, data, work, tracer)
      case "dashboard_wide" =>
        new Dashboard(spark, data, work, tracer, clients = math.max(1, cores / 2))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: a warm scan of the inputs, then the workload's own set-up
    // (its warm-up operation)
    warmScan(spark, data)
    wl.setup()
    val setupDoneMs = System.currentTimeMillis()

    // timed phase: a fixed number of whole rounds
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val before = listener.map(_.snapshot(spark.sparkContext))
    val codegen0 = CodeGenerator.compileTime
    val gc0 = gcMs
    val cpu0 = os.getProcessCpuTime
    val phaseStart = System.nanoTime()
    val ops = (0 until rounds).flatMap(r => tracer.span("round", r.toLong)(wl.round(r)))
    val phaseS = (System.nanoTime() - phaseStart) / 1e9
    val phaseCpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val codegenMs = (CodeGenerator.compileTime - codegen0) / 1e6
    val gcPhaseS = (gcMs - gc0) / 1e3
    val after = listener.map(_.snapshot(spark.sparkContext))
    // check inputs first: the harness drops what it held for them, so
    // the heap reading is graft's own live data
    val report = wl.report
    // the second GC frees what Spark's ContextCleaner released after the
    // first one collected the frames its broadcasts and shuffles hung off
    System.gc()
    Thread.sleep(500)
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // per-layer figures are totals over the timed phase, like run_s
    val layers: Map[String, Double] = (before, after) match {
      case (Some(b), Some(e)) =>
        val d = e.map { case (k, v) => k -> (v - b(k)) }
        Map(
          "plan.analysis_ms" -> d("analysis_ms"),
          "plan.optimization_ms" -> d("optimization_ms"),
          "plan.planning_ms" -> d("planning_ms"),
          "spark.codegen_ms" -> codegenMs,
          "spark.jobs" -> d("jobs"), "spark.stages" -> d("stages"),
          "spark.tasks" -> d("tasks"),
          "spark.scheduler_wait_s" -> d("scheduler_wait_s"),
          "spark.task_run_s" -> d("task_run_s"),
          "spark.task_cpu_s" -> d("task_cpu_s"), "spark.gc_s" -> d("gc_s"),
          "spark.cores_busy" -> d("task_run_s") / (phaseS * cores),
          "spark.input_mb" -> d("input_mb"),
          "spark.shuffle_read_mb" -> d("shuffle_read_mb"),
          "spark.shuffle_write_mb" -> d("shuffle_write_mb"),
          "spark.spill_mb" -> d("spill_mb"), "spark.output_mb" -> d("output_mb"),
          "spark.failed_tasks" -> d("failed_tasks"),
          "spark.jobs_per_request" -> d("jobs") / ops.size,
          "jvm.gc_s" -> gcPhaseS,
          "jvm.live_heap_after_phase_mb" -> liveHeapMb) ++
          wl.layerMetrics(phaseStart)
      case _ => Map.empty
    }
    if (trace) tracer.writeJsonl(work.resolve("spans.jsonl"))

    json.writeValue(Paths.get(a("out")).toFile, Map[String, Any](
      "setup_done_ms" -> setupDoneMs,
      "rounds" -> rounds,
      "phase_s" -> phaseS,
      "phase_cpu_s" -> phaseCpuS,
      "ops" -> ops,
      "live_heap_mb" -> liveHeapMb,
      "layers" -> layers) ++ report)
    wl.close()
    spark.stop()
  }

  /** Writes the result file and the span file. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Reads every input table once so the page cache is warm. Plain
    * parquet reads, outside graft's own table loaders. */
  def warmScan(spark: SparkSession, data: String): Unit =
    Files.list(Paths.get(data)).iterator.asScala.toSeq.sortBy(_.toString)
      .filter(_.toString.endsWith(".parquet")).foreach { p =>
        spark.read.parquet(p.toString).agg(sum(xxhash64(col("*")))).collect()
      }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  /** Time `body` as one operation of `kind`; a throw is a failed op. */
  def timed(kind: String)(body: => String): Op = {
    val t0 = System.nanoTime()
    try {
      val detail = body
      Op(kind, (System.nanoTime() - t0) / 1e6, ok = true, detail)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Op(kind, (System.nanoTime() - t0) / 1e6, ok = false,
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
    }
  }

  /** Count and total size of the files under `dir`. */
  def fileStats(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val walk = Files.walk(dir)
    try {
      val files = walk.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally walk.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally walk.close()
  }
}

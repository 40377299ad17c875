package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options of one run, parsed from `--key value` pairs. */
final case class RunOpts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, out: Path, cores: Int, tables: Option[Path],
    rate: Option[Double])

/** What a workload hands back: metrics by name, operation accounting and
  * the correctness checks it made outside the clock.
  */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }
}

/** Harness entry point: one workload per JVM, result written as JSON. */
object Main {

  def parse(args: Array[String]): RunOpts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    RunOpts(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("out")).toAbsolutePath, m.getOrElse("cores", "4").toInt,
      m.get("tables").map(Paths.get(_).toAbsolutePath), m.get("rate").map(_.toDouble))
  }

  def session(o: RunOpts): SparkSession = {
    val w = o.work
    Files.createDirectories(w.resolve("spark-local"))
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", w.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", w.resolve("warehouse").toString)
      .config("spark.graft.index.dir", w.resolve("index").toString)
      .config("spark.sql.streaming.checkpointLocation", w.resolve("ckpt-default").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of finished Spark tasks: the engine's work without the JIT
    * compiler, GC and driver threads that `cpuNs` also counts.
    */
  private val taskCpu = new java.util.concurrent.atomic.AtomicLong()
  private val taskCpuListener = new org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) taskCpu.addAndGet(e.taskMetrics.executorCpuTime)
  }

  /** Heap in use after a full collection; the largest value seen is kept
    * as `live_heap_peak_mb`. Workloads call it only outside their clocks.
    */
  def heapCheckpoint(out: Outcome): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val peak = out.info.get("live_heap_peak_mb").collect { case d: Double => d }
    out.info("live_heap_peak_mb") = math.max(used, peak.getOrElse(0.0))
  }

  def taskCpuNs(spark: SparkSession): Long = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    taskCpu.get()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = session(o)
    spark.sparkContext.addSparkListener(taskCpuListener)
    val out = new Outcome
    out.info("session_start_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val trace = new Trace(o.trace, spark.sparkContext)
    try {
      o.workload match {
        case "index" => new IndexWorkload(spark, o, trace, out).run()
        case "query_suite" => new QuerySuite(spark, o, trace, out).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (o.trace) {
        org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
        Layers.summarize(trace, out, o.workload)
        trace.writeJsonl(o.out.resolveSibling("spans.jsonl"))
      }
    } catch {
      case e: Throwable =>
        out.check("workload_completed", ok = false,
          s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      trace.stop()
      val conf = Map(
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "heap_committed_mb" ->
          ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0)
      spark.stop()
      val failedChecks = out.checks.filterNot(_._2)
      val res = mutable.LinkedHashMap[String, Any](
        "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
        "attempted" -> out.attempted, "failed" -> out.failed,
        "checks_total" -> out.checks.size,
        "checks_failed" -> failedChecks.map { case (n, _, d) => Map("check" -> n, "detail" -> d) },
        "metrics" -> out.metrics, "info" -> out.info, "engine" -> conf)
      Files.writeString(o.out, Json.obj(res))
    }
  }
}

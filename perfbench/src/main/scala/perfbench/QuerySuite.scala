package perfbench

import java.nio.file.Files

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry

/** `query_suite`: one session, one client, one timed pass over a fixed
  * list of `SparkEntry.queries`, one query per operator family. The timed
  * pass is the session's first: a warm second pass spread wider run to run,
  * because how much JIT compilation lands in it varies.
  */
final class QuerySuite(spark: SparkSession, o: RunOpts, trace: Trace,
    out: Outcome) {
  import QuerySuite._

  private val dir = o.tables.getOrElse(
    throw new IllegalArgumentException("query_suite needs --tables")).toString

  private val stateRows = mutable.ArrayBuffer.empty[Double]
  private val stateCommitMs = mutable.ArrayBuffer.empty[Double]
  private val stateListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      stateRows.synchronized {
        e.progress.stateOperators.foreach { s =>
          stateRows += s.numRowsTotal.toDouble
          stateCommitMs += s.commitTimeMs.toDouble
        }
      }
  }

  /** Exchanges in a query's physical plan, before adaptive execution. */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  /** Spark-only warm-up, no graft code: the first jobs of a fresh session
    * pay class loading and JIT that would otherwise land on whichever
    * query runs first.
    */
  private def warmEngine(): Unit = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val p = o.work.resolve("warmup").toString
    (1 to 2).foreach { _ =>
      spark.range(0, 200000, 1, 4).select(col("id"), (col("id") % 97).as("k"),
          concat(lit("v"), col("id").cast("string")).as("s"))
        .groupBy("k").agg(count(lit(1)), max("s"), sum("id"))
        .write.mode("overwrite").parquet(p)
      spark.read.parquet(p).join(spark.range(0, 97).toDF("k"), "k").collect()
    }
    out.info("engine_warmup_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Set-up through graft: open every input table with graft's loaders
    * and prime the row counts its adaptive operators read.
    */
  private def loadTables(): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach(graft.Tables.tableCount(spark, dir, _))
    graft.Tables.eventCount(spark, dir)
  }

  def run(): Unit = {
    val fns = SparkEntry.queries
    val missing = Queries.map(_._1).filterNot(fns.contains)
    require(missing.isEmpty, s"queries not in SparkEntry: ${missing.mkString(",")}")
    val results = o.out.resolveSibling("results")
    Files.createDirectories(results)
    Files.writeString(o.out.resolveSibling("oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.filter { case (n, _) => Queries.exists(_._1 == n) }))
    if (trace.enabled) spark.streams.addListener(stateListener)

    warmEngine()
    trace.span("sources", "load_tables", "setup")(loadTables())
    out.metrics("setup_s") = Main.cpuNs() / 1e9
    Main.heapCheckpoint(out)

    // One timed pass in a fixed order. Each query is timed while its result
    // is written as parquet, which consumes every output column; the files
    // are checked afterwards.
    val times = mutable.LinkedHashMap.empty[String, Double]
    val cpu0 = Main.cpuNs()
    val task0 = Main.taskCpuNs(spark)
    Queries.foreach { case (name, family) =>
      out.attempted += 1
      val layer = family match {
        case "streaming" => "streaming"
        case "chain" => "indexer"
        case _ => "operators"
      }
      try {
        val q0 = System.nanoTime()
        trace.span(layer, s"query.$name", name) {
          val df = trace.span("plans", "build")(fns(name)(spark, dir))
          trace.span(layer, "execute") {
            df.write.mode("overwrite").parquet(results.resolve(name).toString)
          }
        }
        times(name) = (System.nanoTime() - q0) / 1e9
      } catch {
        case e: Throwable =>
          out.failed += 1
          out.check(s"suite.$name", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      graft.Tables.releaseIntermediates(spark)
    }
    val cpuMs = (Main.cpuNs() - cpu0) / 1e6
    val taskMs = (Main.taskCpuNs(spark) - task0) / 1e6
    Main.heapCheckpoint(out)
    out.info("suite_cpu_s") = cpuMs / 1000
    val suiteS = times.values.sum
    out.metrics("ops_per_s") = times.size / suiteS
    out.metrics("op_latency_p50_ms") = Stats.pct(times.values.toSeq, 50) * 1000
    out.metrics("op_latency_p90_ms") = Stats.pct(times.values.toSeq, 90) * 1000
    val ran = math.max(1, times.size)
    out.metrics("cpu_ms_per_op") = cpuMs / ran
    out.metrics("task_cpu_ms_per_op") = taskMs / ran
    out.info("suite_s") = suiteS
    out.info("query_s") = times

    if (trace.enabled) {
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      Queries.foreach { case (name, _) =>
        times.get(name).foreach(t => out.metrics(s"query.${name}_s") = t)
      }
      val byFamily = Queries.groupBy(_._2)
      byFamily.foreach { case (family, qs) =>
        val secs = qs.map(q => times.getOrElse(q._1, 0.0)).sum
        family match {
          case "streaming" => out.metrics("streaming.stream_family_s") = secs
          case "chain" => out.metrics("indexer.chain_s") = secs
          case f => out.metrics(s"operators.${f}_s") = secs
        }
        out.metrics(s"plans.exchanges.$family") = qs.map { case (n, _) =>
          exchanges(fns(n)(spark, dir).queryExecution.executedPlan).toDouble
        }.sum
        // engine counters of the family's query spans
        val ids = trace.all.filter(s => s.name.startsWith("query.") &&
          qs.exists(q => s.name == s"query.${q._1}")).map(_.id).toSet
        val kids = trace.all.filter(s => ids(s.parent)).map(_.id)
        val cs = (ids ++ kids).toSeq.map(trace.countersOf)
        out.metrics(s"engine.shuffle_write_bytes.$family") =
          cs.map(_.shuffleWriteBytes).sum.toDouble
        out.metrics(s"engine.executor_cpu_s.$family") =
          cs.map(_.executorCpuNs).sum / 1e9
      }
      stateRows.synchronized {
        out.metrics("streaming.state_rows") = stateRows.sum
        out.metrics("streaming.state_commit_ms") = stateCommitMs.sum
      }
      spark.streams.removeListener(stateListener)
    }
  }
}

object QuerySuite {
  /** (query, family): one query per operator family, in run order. */
  val Queries: Seq[(String, String)] = Seq(
    "q05_region_revenue" -> "relational",
    "ev_sessionize" -> "events",
    "text_tokens" -> "text",
    "dd_dup_spans" -> "dedup",
    "sim_lsh_topk" -> "similarity",
    "pipe_clean_corpus" -> "pipeline",
    "samp_weighted" -> "sampling",
    "stream_ema_scores" -> "streaming",
    "chain_topic_scores" -> "chain")

  val Families: Seq[String] = Queries.map(_._2).distinct
}

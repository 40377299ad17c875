package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, GraftTestBridge}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The codegen policy ([[SessionConf.codegenConf]]) on the query path:
  * every `SparkEntry.queries` entry over a small `dir` builds and runs
  * interpreted, and leaves the caller's session as it found it.
  */
class CodegenPolicySpec extends SparkSpec {

  private val factoryMode = SQLConf.CODEGEN_FACTORY_MODE.key

  /** Every node of an executed plan, through adaptive stages and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => (other.children ++ other.subqueries).flatMap(nodes)
  })

  private def run(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df
  }

  test("a small-dir query runs without whole-stage codegen and leaves the " +
      "session conf as it was, also when its build throws") {
    val before = spark.conf.getAll
    val df = SparkEntry.queries("q05_region_revenue")(spark, sfDir)
    assert(StrategyLog.lastChoice("codegen").exists(c => c.startsWith("interpreted ") &&
      c.contains(s"input_bytes=${SessionConf.parquetBytes(spark, sfDir)} ") &&
      c.contains(s"bound=${SessionConf.InterpretedBelowBytes}")), StrategyLog.lastChoice("codegen"))
    assert(spark.conf.getAll === before, "the build must restore the conf")
    df.collect()
    assert(spark.conf.getAll === before, "the action must not touch the caller's conf")
    assert(df.sparkSession.conf.get(factoryMode) === "NO_CODEGEN")
    val plan = nodes(df.queryExecution.executedPlan)
    assert(plan.nonEmpty && !plan.exists(_.isInstanceOf[WholeStageCodegenExec]),
      df.queryExecution.executedPlan.toString)

    val boom = intercept[RuntimeException](SessionConf.sized(
      (_, _) => throw new RuntimeException("boom"))(spark, sfDir))
    assert(boom.getMessage === "boom")
    assert(spark.conf.getAll === before, "a failed build must restore the conf")
  }

  test("the decision flips exactly at the bound") {
    val b = SessionConf.InterpretedBelowBytes
    assert(SessionConf.codegenConf("spec", b - 1) === Seq(factoryMode -> "NO_CODEGEN"))
    assert(StrategyLog.lastChoice("codegen") ===
      Some(s"interpreted site=spec input_bytes=${b - 1} bound=$b"))
    assert(SessionConf.codegenConf("spec", b) === Nil)
    assert(StrategyLog.lastChoice("codegen") ===
      Some(s"compiled site=spec input_bytes=$b bound=$b"))
    // a query over a dir of B - 1 bytes is rebound to a clone; over B
    // bytes it is the caller's own frame (sparse files: no disk is used)
    def dirOf(bytes: Long): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-codegen-bound")
      val f = new java.io.RandomAccessFile(dir.resolve("t.parquet").toFile, "rw")
      try f.setLength(bytes) finally f.close()
      dir.toString
    }
    val query = SessionConf.sized((s, _) => s.range(1).toDF())
    assert(query(spark, dirOf(b - 1)).sparkSession ne spark)
    assert(query(spark, dirOf(b)).sparkSession eq spark)
    assert(SessionConf.parquetBytes(spark, "/nonexistent/graft-dir") === 0L)
  }

  test("a stream replay in the build reports progress to the caller's listeners") {
    val s = spark.newSession()
    val progress = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.incrementAndGet()
    }
    s.streams.addListener(listener)
    try {
      run(SparkEntry.queries("stream_ema_scores")(s, sfDir))
      GraftBridge.drainListenerBus(s)
    } finally s.streams.removeListener(listener)
    assert(progress.get > 0, "the caller's listener saw no stream progress")
  }

  test("a TopKPerKey query plans TopKStrategy after the rebind") {
    // a new session has no experimental strategies: the build registers it
    val s = spark.newSession()
    assert(!s.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
    val df = run(SparkEntry.queries("sim_topk_bruteforce")(s, sfDir))
    assert(df.sparkSession ne s)
    assert(df.sparkSession.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
    assert(nodes(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]), df.queryExecution.executedPlan.toString)
  }

  test("200 builds and runs of one query leave the listener bus as they found it") {
    val s = spark.newSession()
    val query = SparkEntry.queries("q06_forecast_revenue")
    run(query(s, sfDir)) // warm: lazy session state and caches
    GraftBridge.drainListenerBus(s)
    val before = GraftTestBridge.busListeners(s)
    (1 to 200).foreach(_ => run(query(s, sfDir)))
    GraftBridge.drainListenerBus(s)
    assert(GraftTestBridge.busListeners(s) === before)
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts on this thread (its job group), counted
    * once the listener bus is drained, so every job start has been
    * delivered.
    */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted jobs")
    try body
    finally {
      sc.clearJobGroup()
      GraftBridge.drainListenerBus(spark)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.GraftExtensions()) // prod wiring incl. SQL MERGE
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // hermetic per-JVM index root: the default /tmp root persists
      // committed layouts (skip/split/components caches) across test
      // JVMs, which would make build-vs-serve behavior — and the
      // StrategyLog lines some specs assert on — depend on what a
      // PREVIOUS test run left behind
      .config("spark.graft.index.dir",
        java.nio.file.Files.createTempDirectory("graft-test-idx").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. A full warmup pass runs first so measurements see
  * steady-state (codegen compiled, parquet footers cached) rather than JVM
  * startup — the number the driver compares against BASELINE should be the
  * throughput a long-running cluster would see.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional args = subset of query names (local iteration aid).
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }
    // Query-boundary reclamation, OUTSIDE the clock: Spark frees shuffle
    // files and broadcast blocks only when the driver GCs their handles
    // (ContextCleaner is reference-triggered), and a large mostly-idle
    // heap may not GC for the whole suite — so a long chunk accumulates
    // hundreds of dead shuffles in the one local JVM and late queries
    // run against that pressure, not their own cost (measured at sf10:
    // samp_weighted 7.2 s late in a 40-query chunk vs 1.34 s standalone,
    // same build/substrate). An explicit GC at each query boundary makes
    // every query start from a reclaimed state; each still pays its own
    // materialization inside the clock.
    // SPARK_GRAFT_BENCH_GC=0 disables the explicit GC — an A/B isolation
    // aid for timing investigations (used to exonerate the GC when a
    // repeated-execution slowdown was traced to a localCheckpoint barrier).
    def reclaim(): Unit = {
      Tables.releaseIntermediates(spark)
      if (sys.env.get("SPARK_GRAFT_BENCH_GC").forall(_ == "1")) System.gc()
    }
    // Warmup: one untimed pass over every query.
    selected.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      reclaim()
    }
    // Three timed runs per query. `queries` carries each query's MEDIAN
    // and `value` their sum; the min/median/max spread goes to a file, so
    // published claims can show run-to-run variance. Checkpoint blocks are
    // released AFTER the clock stops — each query still pays its own
    // materialization cost, but queries don't tax each other through
    // block-manager pressure. SPARK_GRAFT_BENCH_RUNS overrides for very
    // large SFs where a single run is minutes and three would burn the
    // measurement budget; the emitted JSON records whatever was used.
    val timedRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)
    // A failed run must NOT become a timing sample: elapsed-to-exception
    // would publish a broken query as the suite's fastest. Failures are
    // reported by name in `failed` and excluded from every statistic.
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      Tables.releaseIntermediates(spark)
      if (ok) Some(dt) else None
    }
    val all = selected.map { case (name, fn) =>
      val ts = Seq.fill(timedRuns)(timeOnce(fn))
      reclaim()
      name -> ts
    }
    val failed = all.collect { case (n, ts) if ts.exists(_.isEmpty) => n }.toSeq.sorted
    val samples = all.collect { case (n, ts) if ts.forall(_.isDefined) =>
      n -> ts.flatten.sorted
    }
    def d3(x: Double): String = String.format(java.util.Locale.ROOT, "%.3f", x)
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val medians = samples.map { case (k, ts) => k -> ts(ts.size / 2) }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The spread lives in a file named by sf and core count, so runs at
    // different scales or widths never overwrite each other's copy.
    val sfName = new java.io.File(sfDir).getName
    val spreadFile = new java.io.File(s"bench_spread_${sfName}_${cpus}c.json")
    val spread = obj(samples.map { case (k, ts) =>
      k -> obj(Seq("min" -> d3(ts.head), "med" -> d3(ts(ts.size / 2)),
        "max" -> d3(ts.last)))
    })
    val w = new java.io.PrintWriter(spreadFile, "UTF-8")
    try w.println(s"""{"sf":"$sfDir","cpus":$cpus,"runs":$timedRuns,"spread":$spread}""")
    finally w.close()
    // stdout ENDS with the one contract line: medians at 3 decimals keep
    // it a few KB for the whole suite, so a consumer keeping a bounded
    // stdout tail still gets it whole.
    val qs = obj(medians.map { case (k, v) => k -> d3(v) })
    println(s"""{"metric":"total","value":${d3(medians.values.sum)},"unit":"sec",""" +
      s""""runs":$timedRuns,"failed":$failedJson,"queries":$qs,""" +
      s""""spread_file":"${spreadFile.getAbsolutePath}","sf":"$sfDir"}""")
    spark.stop()
  }
}

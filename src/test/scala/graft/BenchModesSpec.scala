package graft

/** The `graft.Bench` modes run on the shared session: each prints its
  * report, refuses an unknown query name or mode flag before any Spark job
  * runs, and leaves the session as it found it.
  */
class BenchModesSpec extends SparkSpec {

  private def stdoutOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8")
  }

  test("--plans prints the query's header and its physical plan") {
    val out = stdoutOf(Bench.plans(spark, sfDir, Seq("q05_region_revenue")))
    assert(out.contains("========== q05_region_revenue =========="))
    assert(out.contains("== Physical Plan =="))
    assert(!out.contains("explain failed"), out)
  }

  test("--plans renders centroids, codebooks and partition functions by " +
      "content and name, so two renderings in one JVM are equal") {
    val names = Seq("sim_ivf_topk", "sim_pq_topk", "sim_ivfpq_topk") ++
      SparkEntry.queries.keys.filter(_.startsWith("mm_")).toSeq.sorted
    // expression, exchange and lambda-variable ids are the tokens that move
    def render() = stdoutOf(Bench.plans(spark, sfDir, names))
      .replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("(lambda [a-z]+)_\\d+", "$1_N").split("\n").toSeq
    val first = render()
    assert(first.exists(_.contains("graft_nearest_cells(embedding#N, centroids[")) &&
      first.exists(_.contains("graft_pq_encode(embedding#N, codebooks[")))
    assert(!first.exists(l => l.contains("[[D@") || l.contains("$Lambda")), first)
    assert(!first.exists(_.contains("explain failed")), first)
    val diff = first.zipAll(render(), "", "").filter { case (a, b) => a != b }
    assert(diff.isEmpty, diff.take(5))
  }

  test("--skew prints a per-query wall line") {
    val out = stdoutOf(Bench.skew(spark, sfDir, Seq("q05_region_revenue")))
    assert(out.contains("== q05_region_revenue wall="), out)
  }

  test("--state prints the stream's batches and leaves no listener behind") {
    val before = spark.streams.listListeners().toSeq
    val out = stdoutOf(Bench.state(spark, sfDir, Seq("stream_ema_scores")))
    assert(out.contains("== stream_ema_scores wall="), out)
    assert(out.linesIterator.exists(_.trim.startsWith("batch=")), out)
    assert(spark.streams.listListeners().toSeq === before)
  }

  test("--recall prints recall lines and restores the blocking conf") {
    val before = spark.conf.getAll.get("spark.sql.graft.embBlocking")
    val out = stdoutOf(Bench.recall(spark, sfDir, Nil))
    assert(out.contains("RECALL sim_lsh_topk recall@3="), out)
    assert(out.contains("RECALL dd_embedding_blocked[ivf] pairRecall="), out)
    assert(out.contains("RECALL dd_embedding_blocked[imi] pairRecall="), out)
    assert(spark.conf.getAll.get("spark.sql.graft.embBlocking") === before)
  }

  test("an unknown query name or mode flag is refused before any Spark job") {
    val jobs = jobsOf {
      intercept[IllegalArgumentException](Bench.parse(Seq("q05_regon_revenue")))
      intercept[IllegalArgumentException](Bench.parse(Seq("--plan")))
      intercept[IllegalArgumentException](Bench.parse(Seq("--plans", "--skew")))
      intercept[IllegalArgumentException](
        Bench.skew(spark, sfDir, Seq("q05_region_revenue", "nope")))
      intercept[IllegalArgumentException](Bench.recall(spark, sfDir, Seq("dd_exact")))
    }
    assert(jobs === 0)
    val (mode, names) = Bench.parse(Seq("--plans", "q05_region_revenue"))
    assert(mode eq Bench.modes("--plans"))
    assert(names === Seq("q05_region_revenue"))
    assert(Bench.select(Nil).map(_._1).toSet === SparkEntry.queries.keySet)
  }

  test("the shared session is still usable after the modes") {
    assert(spark.range(10).count() === 10)
    assert(Bench.select(Seq("q05_region_revenue")).head._2(spark, sfDir).count() > 0)
  }
}

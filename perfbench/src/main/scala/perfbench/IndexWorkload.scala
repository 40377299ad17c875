package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.indexer.{Ingest, LiveIndexer}
import graft.sinks.{ManifestCommit, ParquetMergeSink}
import graft.sources.DirHeightClient

/** One committed micro-batch of the pump: its height range and the time
  * its last table merge ended.
  */
final case class Batch(id: Long, lo: Long, hi: Long, endNs: Long)

/** The `index` workload. Set-up writes a landing zone of heights 1..n and
  * preloads it as history through one `LiveIndexer.mergeAll`. Timed:
  * `LiveIndexer.start` drains the same heights from genesis into empty
  * tables (backfill), then a processing-time pump extends the history with
  * heights one generator thread publishes at the chain's block rate
  * (live). Afterwards one client reads the lake through `GraftCatalog`.
  */
final class IndexWorkload(spark: SparkSession, o: RunOpts, trace: Trace,
    out: Outcome) {
  import IndexWorkload._

  private val decoder = classOf[Ingest.JsonPassthroughDecoder].getName
  private val params = GenParams()
  private val gen = new ChainGen(o.seed, params)
  private val rnd = new scala.util.Random(o.seed)
  private val progress = new ConcurrentLinkedQueue[
    StreamingQueryListener.QueryProgressEvent]()
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
  }
  if (o.trace) spark.streams.addListener(progressListener)

  out.info("generator") = params.toMap

  /** End height of batch `id`, read from the offset log the engine writes
    * before it runs the batch (the source's offset is the bare height).
    */
  private def offsetOf(ckpt: Path, id: Long, before: Long): Long =
    if (id < 0) before
    else {
      val f = ckpt.resolve("offsets").resolve(id.toString)
      Files.readAllLines(f).asScala.map(_.trim).filter(_.nonEmpty).last.toLong
    }

  /** afterTable seam: closes the table's merge span, opens the next one,
    * and stamps the batch when its last table is merged.
    */
  private final class MergeClock(ckpt: Path, firstHeight: Long) {
    val batches = new ConcurrentLinkedQueue[Batch]()
    @volatile private var open = 0L
    var afterLast: (Long, Long, Long) => Unit = (_, _, _) => ()
    /** With `LiveIndexer.start` the benchmark has no hook at batch start,
      * so the next batch's first merge span opens when this one ends.
      */
    var chainNext = false

    def begin(id: Long, table: String): Unit =
      open = trace.begin("sinks", s"merge.$table", s"trigger-$id")

    def apply(id: Long, table: String): Unit = {
      val now = System.nanoTime()
      trace.end(open)
      open = 0L
      val idx = Tables.indexOf(table)
      if (idx + 1 < Tables.size) begin(id, Tables(idx + 1))
      else {
        val lo = offsetOf(ckpt, id - 1, firstHeight - 1) + 1
        val hi = offsetOf(ckpt, id, firstHeight - 1)
        batches.add(Batch(id, lo, hi, now))
        afterLast(id, lo, hi)
        if (chainNext) begin(id + 1, Tables.head)
      }
    }

    def close(): Unit = { trace.cancel(open); open = 0L }
  }

  // ---- traced probes: the per-layer costs the pump does not expose -------

  /** Fetch the batch's heights with the source's client, then run the
    * routed frames over them with a noop write, each in its own span.
    */
  private def probe(landing: Path, id: Long, lo: Long, hi: Long): Unit = {
    if (!trace.enabled || hi < lo) return
    val group = s"trigger-$id"
    val p0 = System.nanoTime()
    val blocks = trace.span("sources", "fetch", group) {
      val c = new DirHeightClient(landing.toString)
      (lo to hi).map(h => (h, c.fetchBlock(h)))
    }
    fetchMs += (System.nanoTime() - p0) / 1e6
    fetchHeights += blocks.size
    import spark.implicits._
    val raw = blocks.toDF("height", "block_json")
    LiveIndexer.tablesOf(raw, decoder).foreach { case (name, df, _, _) =>
      val r0 = System.nanoTime()
      trace.span("indexer", s"route.$name", group) {
        df.write.format("noop").mode("overwrite").save()
      }
      routeMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - r0) / 1e6
    }
    probeNs += System.nanoTime() - p0
  }
  private var fetchMs = 0.0
  private var fetchHeights = 0L
  private var probeNs = 0L
  private val routeMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def probeMetrics(windowNs: Long): Unit = {
    out.metrics("sources.fetch_ms_per_height") = fetchMs / math.max(1L, fetchHeights)
    routeMs.foreach { case (t, xs) => out.metrics(s"indexer.route_ms.$t") = Stats.median(xs.toSeq) }
    out.metrics("trace.probe_share") = probeNs.toDouble / math.max(1L, windowNs)
  }

  // ---- checks (outside the clock) ----------------------------------------

  private def read(root: Path, t: String): DataFrame =
    ParquetMergeSink.read(spark, root.resolve(t).toString)

  private def checkTables(root: Path, exp: Expected, tag: String): Unit = {
    Tables.foreach { t =>
      val n = read(root, t).count()
      out.check(s"$tag.rows.$t", n == exp.tableRows(t),
        s"$t has $n rows, generator emitted ${exp.tableRows(t)}")
    }
    val byTopic = read(root, "scores").groupBy("topic_id")
      .agg(count(lit(1)).as("n"), sum("value").as("s")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    val want = exp.scoreCountByTopic.keys.map(t =>
      t -> (exp.scoreCountByTopic(t), exp.scoreSumByTopic(t))).toMap
    out.check(s"$tag.scores_by_topic", byTopic == want,
      s"per-topic (count, sum) differ: got ${byTopic.toSeq.sorted.take(4)}, want ${want.toSeq.sorted.take(4)}")
    val lc = read(root, "last_commits")
      .select("topic_id", "is_worker", "height_tx", "height").collect()
      .map(r => (r.getInt(0), r.getBoolean(1)) -> (r.getLong(2), r.getLong(3))).toMap
    out.check(s"$tag.last_commits", lc == exp.lastCommits.toMap,
      s"latest-wins rows differ: got ${lc.size} keys, want ${exp.lastCommits.size}")
  }

  /** Every table of `root` as a sorted list of stringified rows. */
  private def snapshot(root: Path): Map[String, Seq[String]] =
    Tables.map { t =>
      val df = read(root, t)
      val cols = df.columns.sorted.toSeq
      t -> df.select(cols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    }.toMap

  // ---- lake reads through the SQL catalog --------------------------------

  private def lakeQueries(root: Path, exp: Expected, versionPrevOk: Long => Boolean,
      lo: Long, hi: Long): Seq[(String, String, Array[Row] => (Boolean, String))] = {
    val topic = exp.scoreCountByTopic.keys.toSeq.sorted.apply(
      rnd.nextInt(exp.scoreCountByTopic.size))
    val span = math.max(1L, (hi - lo) / 4)
    val a = lo + rnd.nextLong(math.max(1L, hi - lo - span))
    val b = a + span
    val blocks = new org.apache.hadoop.fs.Path(root.resolve("block_info").toString)
    val version = ManifestCommit.latest(
      blocks.getFileSystem(spark.sparkContext.hadoopConfiguration), blocks)
      .map(_.version).getOrElse(1L)
    val topActors = exp.scoreSumByAddress.toSeq
      .sortBy { case (addr, s) => (-s, addr) }.take(10)
    Seq(
      ("topic_scores",
        "SELECT topic_id, count(*) AS n, sum(value) AS s FROM graft.scores GROUP BY topic_id",
        (rs: Array[Row]) => {
          val got = rs.map(r => r.getInt(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
          val want = exp.scoreCountByTopic.keys.map(t =>
            t -> (exp.scoreCountByTopic(t), exp.scoreSumByTopic(t))).toMap
          (got == want, s"${got.size} topics vs ${want.size}")
        }),
      ("actor_scores",
        "SELECT address, sum(value) AS s FROM graft.scores GROUP BY address ORDER BY s DESC, address LIMIT 10",
        (rs: Array[Row]) => {
          val got = rs.map(r => (r.getString(0), BigDecimal(r.getDecimal(1)))).toSeq
          (got == topActors, s"top actors $got vs $topActors")
        }),
      ("latest_commit_per_topic",
        "SELECT topic_id, max(height_tx) FROM graft.last_commits GROUP BY topic_id",
        (rs: Array[Row]) => {
          val got = rs.map(r => r.getInt(0) -> r.getLong(1)).toMap
          val want = exp.lastCommits.toSeq.groupBy(_._1._1)
            .map { case (t, xs) => t -> xs.map(_._2._1).max }
          (got == want, s"${got.size} topics vs ${want.size}")
        }),
      ("height_range_messages",
        s"SELECT count(*), count(DISTINCT sender) > 0 FROM graft.messages WHERE height BETWEEN $a AND $b",
        (rs: Array[Row]) => {
          val want = (b - a + 1) * params.txsPerBlock * params.msgsPerTx
          (rs.head.getLong(0) == want, s"${rs.head.getLong(0)} messages vs $want")
        }),
      ("events_by_category",
        "SELECT category, count(*) FROM graft.events GROUP BY category",
        (rs: Array[Row]) => {
          val got = rs.map(r => r.getString(0) -> r.getLong(1)).toMap
          (got == exp.eventsByCategory.toMap, s"$got vs ${exp.eventsByCategory}")
        }),
      ("block_join",
        s"SELECT count(*), count(DISTINCT b.proposer_address) FROM graft.scores s JOIN graft.block_info b ON s.height_tx = b.height WHERE s.topic_id = $topic",
        (rs: Array[Row]) => {
          val want = exp.scoreCountByTopic(topic)
          (rs.head.getLong(0) == want, s"${rs.head.getLong(0)} joined rows vs $want")
        }),
      ("version_as_of_previous",
        s"SELECT count(*), max(height) FROM graft.block_info VERSION AS OF ${version - 1}",
        (rs: Array[Row]) => {
          val n = rs.head.getLong(0)
          (versionPrevOk(n) && rs.head.getLong(1) == n, s"$n rows at version ${version - 1}")
        }))
  }

  /** Run the lake reads `rounds` times in seeded order; returns
    * (query, latency ms) per execution.
    */
  private def lakeReads(root: Path, exp: Expected, versionPrevOk: Long => Boolean,
      lo: Long, hi: Long, rounds: Int): Seq[(String, Double)] = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", root.toString)
    val qs = lakeQueries(root, exp, versionPrevOk, lo, hi)
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    (1 to rounds).foreach { round =>
      rnd.shuffle(qs).foreach { case (name, sql, verify) =>
        out.attempted += 1
        val t0 = System.nanoTime()
        val rows = trace.span("sources", s"catalog.$name", s"read-$round-$name") {
          val df = trace.span("sources", "catalog.plan") {
            val d = spark.sql(sql)
            d.queryExecution.executedPlan
            d
          }
          trace.span("sources", "catalog.exec")(df.collect())
        }
        lat += name -> (System.nanoTime() - t0) / 1e6
        val (ok, detail) = verify(rows)
        if (!out.check(s"lake.$name", ok, detail)) out.failed += 1
      }
    }
    lat.toSeq
  }

  // ---- per-layer figures of the traced run -------------------------------

  private def tableStats(root: Path, landingBytes: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var bytes = 0L
    Tables.foreach { t =>
      val p = new org.apache.hadoop.fs.Path(root.resolve(t).toString)
      val m = ManifestCommit.latest(fs, p)
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) bytes += st.getLen
      }
      val live = m.toSeq.flatMap(_.dirs.values).map(d =>
        fs.listStatus(new org.apache.hadoop.fs.Path(p, d))
          .count(_.getPath.getName.endsWith(".parquet")))
      out.metrics(s"sinks.table_files.$t") = live.sum.toDouble
      out.metrics(s"sinks.manifest_version.$t") = m.map(_.version).getOrElse(0L).toDouble
    }
    out.metrics("sinks.bytes_written_per_landing_byte") =
      bytes.toDouble / math.max(1L, landingBytes)
  }

  /** Progress figures of the live pump's non-empty triggers. */
  private def streamingStats(live: java.util.UUID): Unit = {
    val ps = progress.asScala.toSeq.map(_.progress)
      .filter(p => p.id == live && p.numInputRows > 0)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    if (ps.nonEmpty) {
      Seq("triggerExecution" -> "trigger", "addBatch" -> "add_batch",
        "queryPlanning" -> "query_planning", "walCommit" -> "wal_commit",
        "commitOffsets" -> "commit_offsets", "latestOffset" -> "latest_offset")
        .foreach { case (k, n) => out.metrics(s"streaming.${n}_ms") = Stats.median(dur(k)) }
      out.metrics("sources.latest_offset_ms") = out.metrics("streaming.latest_offset_ms")
      out.metrics("streaming.heights_per_batch") = Stats.median(ps.map(_.numInputRows.toDouble))
      val parts = Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets",
        "latestOffset", "getBatch")
      val unattributed = ps.map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        d.getOrElse("triggerExecution", 0L) - parts.map(d.getOrElse(_, 0L)).sum
      }
      out.metrics("streaming.unattributed_ms_per_trigger") =
        Stats.median(unattributed.map(_.toDouble))
    }
  }

  // ---- the index workload -------------------------------------------------

  def run(): Unit = {
    import spark.implicits._
    val n = HistoryHeights
    val landing = o.work.resolve("landing")
    val root = o.work.resolve("lake")
    val backfillRoot = o.work.resolve("lake-backfill")
    val exp = new Expected
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    out.info("phase_s") = phases

    // set-up: the landing zone of heights 1..n, preloaded as history
    // through one LiveIndexer.mergeAll into the lake the live pump extends
    gen.publishRange(landing, 1, n, exp)
    trace.span("indexer", "preload", "setup") {
      val c = new DirHeightClient(landing.toString)
      val hist = (1L to n).map(h => (h, c.fetchBlock(h))).toDF("height", "block_json")
      LiveIndexer.mergeAll(hist, root.toString, decoder)
    }
    out.metrics("setup_s") = Main.cpuNs() / 1e9
    phase("setup")
    Main.heapCheckpoint(out)
    val cpu0 = Main.cpuNs()
    val task0 = Main.taskCpuNs(spark)

    // backfill: closed loop, one pump, LiveIndexer.start drains 1..n
    // from genesis into empty tables
    val backfillCkpt = o.work.resolve("backfill-ckpt")
    val drainClock = new MergeClock(backfillCkpt, 1L)
    drainClock.afterLast = (id, lo, hi) => probe(landing, id, lo, hi)
    drainClock.chainNext = true
    drainClock.begin(0, Tables.head)
    val d0 = System.nanoTime()
    val drainQ = LiveIndexer.start(spark, landing.toString, backfillRoot.toString,
      backfillCkpt.toString, maxHeightsPerTrigger = Some(BackfillPerTrigger.toLong),
      afterTable = (id, t) => drainClock(id, t))
    try drainQ.awaitTermination() finally drainClock.close()
    val drainS = (System.nanoTime() - d0) / 1e9
    val drained = drainClock.batches.asScala.toSeq.sortBy(_.id)
    val drainedHeights = drained.map(b => b.hi - b.lo + 1).sum
    out.attempted += drained.size
    if (!out.check("backfill.all_heights_committed", drainedHeights == n,
        s"backfill committed $drainedHeights of $n heights")) out.failed += 1
    out.metrics("ops_per_s") = drainedHeights / drainS
    phase("backfill")

    // live: open loop at the chain's block rate into a processing-time
    // pump that extends the preloaded history
    val start = n + 1L
    val liveCkpt = o.work.resolve("live-ckpt")
    val clock = new MergeClock(liveCkpt, start)
    clock.afterLast = (id, lo, hi) => probe(landing, id, lo, hi)
    val q = spark.readStream.format("graft.sources.HeightPollSource")
      .option("clientArg", landing.toString)
      .option("startHeight", start.toString)
      .load()
      .writeStream
      .option("checkpointLocation", liveCkpt.toString)
      .trigger(Trigger.ProcessingTime(LiveTriggerMs))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        trace.span("streaming", "foreach_batch", s"live-trigger-$id") {
          clock.begin(id, Tables.head)
          LiveIndexer.mergeAll(batch, root.toString, decoder,
            afterTable = (i, t) => clock(i, t), batchId = id)
        }
      }
      .start()

    val rate = o.rate.getOrElse(1.0 / params.blockSeconds)
    val published = math.max(1, (o.seconds * rate).toInt)
    val lateMs = new Array[Double](published)
    val t0 = System.nanoTime() + 100000000L
    def due(k: Long): Long = t0 + (k * 1e9 / rate).toLong
    val genThread = new Thread(() => {
      var k = 0
      while (k < published) {
        val wait = due(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        lateMs(k) = (System.nanoTime() - due(k)) / 1e6
        gen.publish(landing, start + k, exp)
        k += 1
      }
    }, "perfbench-generator")
    genThread.start()
    genThread.join()
    val lastH = start + published - 1
    val drainDeadline = System.nanoTime() + LiveDrainGraceS * 1000000000L
    while (clock.batches.asScala.forall(_.hi < lastH) &&
        System.nanoTime() < drainDeadline && q.exception.isEmpty)
      Thread.sleep(10)
    val tEnd = System.nanoTime()
    val cpuMs = (Main.cpuNs() - cpu0) / 1e6
    q.stop()
    val taskMs = (Main.taskCpuNs(spark) - task0) / 1e6
    clock.close()
    Main.heapCheckpoint(out)
    q.exception.foreach(e => out.check("live.pump", ok = false, e.getMessage))

    val batches = clock.batches.asScala.toSeq.sortBy(_.id)
    val committed = batches.map(b => b.hi - b.lo + 1).sum
    out.attempted += batches.size + published
    out.failed += published - committed
    out.check("live.all_heights_committed", committed == published,
      s"$committed of $published heights committed by the drain deadline")
    val fresh = batches.flatMap(b => (b.lo to b.hi).map(h => (b.endNs - due(h - start)) / 1e6))
    out.metrics("op_latency_p50_ms") = Stats.pct(fresh, 50)
    out.metrics("op_latency_p90_ms") = Stats.pct(fresh, 90)
    out.info("freshness_p99_ms") = Stats.pct(fresh, 99)
    out.metrics("cpu_ms_per_op") = cpuMs / (drainedHeights + committed)
    out.metrics("task_cpu_ms_per_op") = taskMs / (drainedHeights + committed)
    out.metrics("load.generator_late_p99_ms") = Stats.pct(lateMs.toSeq, 99)
    // backlog: published minus committed heights at each trigger's end,
    // by least squares over the run; near 0 when the pump keeps up
    val backlog = batches.map { b =>
      val pub = math.min(published.toLong, ((b.endNs - t0) * rate / 1e9).toLong + 1)
      ((b.endNs - t0) / 1e9, (pub - (b.hi - start + 1)).toDouble)
    }
    out.metrics("load.backlog_slope_heights_per_s") = Stats.slope(backlog)
    out.info("index") = Map(
      "history_heights" -> n, "backfill_heights" -> n, "max_heights_per_trigger" -> BackfillPerTrigger,
      "backfill_triggers" -> drained.size, "backfill_s" -> drainS,
      "live_rate_heights_per_s" -> rate, "live_published" -> published,
      "live_triggers" -> batches.size, "trigger_interval_ms" -> LiveTriggerMs,
      "freshness_samples" -> fresh.size, "live_s" -> (tEnd - t0) / 1e9,
      "backfill_trigger_end_s" -> drained.map(b => (b.endNs - d0) / 1e9),
      "live_batches" -> batches.map(b => Seq[Any](b.hi - b.lo + 1, (b.endNs - t0) / 1e9)))
    out.info("landing_crc32") = java.lang.Long.toHexString(exp.crc.getValue)
    out.info("landing_bytes") = exp.landingBytes
    out.info("malformed_scores_dropped") = exp.malformedDropped

    phase("live")
    // checks and reads, outside the clock; the backfilled tables must
    // hold exactly what the generator emitted for 1..n
    val histExp = new Expected
    (1L to n).foreach(h => gen.envelope(h, histExp))
    Seq((root, exp, "lake"), (backfillRoot, histExp, "backfill")).foreach {
      case (r, e, tag) =>
        val before = out.checks.count(!_._2)
        checkTables(r, e, tag)
        if (out.checks.count(!_._2) > before) out.failed += 1
    }
    phase("check_tables")
    // the lake's commits end at the preloaded history and at each live batch
    val ends = batches.map(_.hi).toSet + n
    val lat = lakeReads(root, exp, ends.contains, 1, lastH, ReadRounds)
    out.info("read_samples") = lat.size
    out.info("lake_sql_p50_ms") = Stats.pct(lat.map(_._2), 50)
    out.info("lake_sql_p90_ms") = Stats.pct(lat.map(_._2), 90)
    phase("lake_reads")
    if (trace.enabled) {
      out.metrics("sources.catalog_exec_p90_ms") = Stats.pct(lat.map(_._2), 90)
      tableStats(root, exp.landingBytes)
      streamingStats(q.id)
      rowsOut(root, lastH)
      probeMetrics(tEnd - d0)
    }
    // replaying the last live trigger through mergeAll must change nothing;
    // a mergeAll costs as much as a trigger, so only traced runs pay for it
    if (trace.enabled) batches.lastOption.foreach { b =>
      val beforeRows = snapshot(root)
      val c = new DirHeightClient(landing.toString)
      val replay = (b.lo to b.hi).map(h => (h, c.fetchBlock(h))).toDF("height", "block_json")
      LiveIndexer.mergeAll(replay, root.toString, decoder)
      val after = snapshot(root)
      out.attempted += 1
      if (!out.check("index.replay_last_trigger_idempotent", after == beforeRows,
          "tables changed after replaying the last trigger: " +
            Tables.filter(t => after(t) != beforeRows(t)).mkString(","))) out.failed += 1
    }
    phase("replay_check")
    Main.heapCheckpoint(out)
  }

  private def rowsOut(root: Path, heights: Long): Unit =
    Tables.foreach { t =>
      out.metrics(s"indexer.rows_out.$t") = read(root, t).count().toDouble / heights
    }
}

object IndexWorkload {
  val Tables: Seq[String] =
    Seq("block_info", "messages", "events", "scores", "last_commits")
  /** Heights preloaded as history in set-up, and drained again from
    * genesis by the backfill.
    */
  val HistoryHeights = 240
  val BackfillPerTrigger = 120
  val LiveTriggerMs = 500L
  val LiveDrainGraceS = 40
  val ReadRounds = 3
}

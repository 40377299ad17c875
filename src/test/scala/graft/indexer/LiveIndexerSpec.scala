package graft.indexer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.sinks.ParquetMergeSink

/** End-to-end live-indexer lineage: HeightPollSource → decode → route →
  * merge-sink, one streaming query — killed mid-batch BETWEEN two tables'
  * merges, resumed from the checkpoint, and proven row-identical to the
  * batch flow over the same landing data (the reference's single worker
  * loop, main.go:255-312 + process_tx.go + db.go ON CONFLICT).
  */
class LiveIndexerSpec extends SparkSpec {

  /** JSON-escape a string for embedding as a JSON string literal. */
  private def q(s: String): String = "\"" + s.replace("\"", "\\\"") + "\""

  private def txJson(h: Long): String =
    s"""{"body":{"messages":[{"@type":"/emissions.v3.MsgInsertWorkerPayload","sender":"allo1w$h","topic_id":"7"}]}}"""

  private def blockJson(h: Long): String =
    s"""{"header":{"chain_id":"testchain-1","height":"$h","time":"2024-05-01T10:00:0${h % 10}Z","proposer_address":"P$h"},"data":{"txs":[${q(txJson(h))}]}}"""

  private def resultsJson(h: Long): String =
    s"""{"height":"$h","finalize_block_events":[
       {"type":"emissions.v3.EventScoresSet","attributes":[
         {"key":"topic_id","value":"\\"7\\""},
         {"key":"actor_type","value":"\\"inferer\\""},
         {"key":"block_height","value":"\\"${h - 1}\\""},
         {"key":"addresses","value":"[\\"allo1a\\",\\"allo1b\\"]"},
         {"key":"scores","value":"[\\"0.2$h\\",\\"-0.5\\"]"}]},
       {"type":"emissions.v3.EventWorkerLastCommitSet","attributes":[
         {"key":"topic_id","value":"\\"7\\""},
         {"key":"block_height","value":"\\"$h\\""},
         {"key":"nonce","value":"{\\"block_height\\":\\"${h - 1}\\"}"}]}],
       "txs_results":[]}""".replaceAll("\n\\s*", "")

  private def envelope(h: Long): String =
    s"""{"block":${blockJson(h)},"block_results":${resultsJson(h)}}"""

  private def writeLanding(dir: String, heights: Range): Unit =
    heights.foreach { h =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"$h.json"), envelope(h).getBytes)
    }

  private def tableRows(root: String, name: String): Set[Seq[Any]] =
    rowsOf(ParquetMergeSink.read(spark, s"$root/$name"))

  /** Canonical column order + stringified cells (attributes arrays etc.). */
  private def rowsOf(df: DataFrame): Set[Seq[Any]] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf)).toSet
  }

  private val tableNames =
    Seq("block_info", "messages", "events", "scores", "last_commits")

  test("one streaming lineage: kill between table merges, resume, " +
      "row-identical to the batch flow") {
    val landing = java.nio.file.Files.createTempDirectory("graft-live").toString
    val base = java.nio.file.Files.createTempDirectory("graft-live-out").toString
    val streamRoot = base + "/stream"
    val batchRoot = base + "/batch"
    val ckpt = base + "/ckpt"
    writeLanding(landing, 1 to 6)

    // First run: 2 heights per trigger; crash batch 1 AFTER block_info's
    // merge committed but BEFORE messages/events/scores/last_commits —
    // the worst crash window (tables of one batch out of sync on disk).
    val boom = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q1 = LiveIndexer.start(spark, landing, streamRoot, ckpt,
      maxHeightsPerTrigger = Some(2L),
      afterTable = (id, table) =>
        if (id == 1 && table == "block_info" && boom.getAndSet(false))
          throw new RuntimeException("injected crash between table merges"))
    val failed = intercept[StreamingQueryException] { q1.awaitTermination() }
    assert(failed.getMessage.contains("injected crash") ||
      Option(failed.getCause).exists(_.getMessage.contains("injected crash")))

    // The crash left batch 1 HALF-merged: block_info holds heights 3-4,
    // messages (merged after the crash point) does not.
    val partialBlocks = ParquetMergeSink.read(spark, s"$streamRoot/block_info")
      .select("height").collect().map(_.getLong(0)).sorted.toSeq
    assert(partialBlocks === (1L to 4L), s"expected half-merged state, got $partialBlocks")
    val partialMsgs = ParquetMergeSink.read(spark, s"$streamRoot/messages")
      .select("height").collect().map(_.getLong(0)).sorted.toSeq
    assert(partialMsgs === Seq(1L, 2L), s"messages must lag block_info, got $partialMsgs")

    // Resume from the checkpoint: the uncommitted batch replays whole
    // (its block_info half converges via the keyed merge), then the pump
    // drains to the tip.
    val q2 = LiveIndexer.start(spark, landing, streamRoot, ckpt,
      maxHeightsPerTrigger = Some(2L))
    q2.awaitTermination()

    // Batch flow over the same landing files — identical lineage, one go.
    import spark.implicits._
    val all = (1 to 6).map(h => (h.toLong, envelope(h))).toDF("height", "block_json")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    LiveIndexer.mergeAll(all, batchRoot,
      classOf[Ingest.JsonPassthroughDecoder].getName)
    // the parsed-batch barrier and every merge's staged batch are released
    // on return — none waits for a GC and the ContextCleaner
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"mergeAll left persisted RDDs behind: $leaked")

    tableNames.foreach { t =>
      assert(tableRows(streamRoot, t) === tableRows(batchRoot, t),
        s"stream and batch flows diverged on table $t")
    }

    // Shape sanity: every height exactly once (exactly-once through the
    // replayed crash window), scores zip-exploded, last-commit update-wins.
    assert(tableRows(streamRoot, "block_info").size === 6)
    assert(tableRows(streamRoot, "messages").size === 6)
    assert(tableRows(streamRoot, "scores").size === 12) // 6 heights × 2 addrs
    val lc = ParquetMergeSink.read(spark, s"$streamRoot/last_commits").collect()
    assert(lc.length === 1, "update-wins table must hold one row per key")
    assert(lc(0).getAs[Long]("height_tx") === 6L,
      "latest-wins must keep the newest commit")
  }

  test("crash right after an append commits: the replay merges the " +
      "committed tables, appends the rest, and converges") {
    val landing = java.nio.file.Files.createTempDirectory("graft-live-app").toString
    val base = java.nio.file.Files.createTempDirectory("graft-live-app-out").toString
    writeLanding(landing, 1 to 6)
    // the path the table's merge just took
    def path() =
      graft.StrategyLog.lastChoice("merge_commit").getOrElse("").split(" ").head
    // batch 0 creates the tables; batch 1 appends past their hwm and
    // dies right after `events` commits its append
    var crashedOn = ""
    val q1 = LiveIndexer.start(spark, landing, s"$base/stream", s"$base/ckpt",
      maxHeightsPerTrigger = Some(2L),
      afterTable = (id, table) =>
        if (id == 1 && table == "events") {
          crashedOn = path()
          throw new RuntimeException("injected crash after an append")
        })
    intercept[StreamingQueryException](q1.awaitTermination())
    assert(crashedOn === "append", "batch 1 must commit events as an append")

    val replayed = scala.collection.mutable.Map.empty[(Long, String), String]
    LiveIndexer.start(spark, landing, s"$base/stream", s"$base/ckpt",
      maxHeightsPerTrigger = Some(2L),
      afterTable = (id, table) => replayed((id, table)) = path())
      .awaitTermination()
    assert(Seq("block_info", "messages", "events").map(t => replayed((1L, t))) ===
      Seq("merge", "merge", "merge"), s"committed tables must merge: $replayed")
    assert(replayed((1L, "scores")) === "append", s"$replayed")
    assert(replayed((1L, "last_commits")) === "merge", s"$replayed")
    assert(Seq("block_info", "messages", "events", "scores")
      .forall(t => replayed((2L, t)) == "append"), s"$replayed")

    LiveIndexer.start(spark, landing, s"$base/clean", s"$base/ckpt-clean",
      maxHeightsPerTrigger = Some(2L)).awaitTermination()
    // layout: each of the clean run's three triggers appended ONE segment
    // of one file to each append table; last_commits drained into buckets
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    tableNames.foreach { t =>
      val root = new org.apache.hadoop.fs.Path(s"$base/clean/$t")
      val dirs = graft.sinks.ManifestCommit.latest(fs, root).get.dirs
      if (t == "last_commits") assert(!dirs.keys.exists(_.startsWith("+")), s"$t: $dirs")
      else {
        assert(dirs.size === 3 && dirs.keys.forall(_.startsWith("+")), s"$t: $dirs")
        dirs.values.foreach(rel => assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, rel))
          .count(_.getPath.getName.endsWith(".parquet")) === 1, s"$t: $rel"))
      }
    }
    import spark.implicits._
    val keysOf = LiveIndexer.tablesOf(
      Seq((1L, envelope(1))).toDF("height", "block_json"),
      classOf[Ingest.JsonPassthroughDecoder].getName)
      .map { case (name, _, keys, _) => name -> keys }.toMap
    tableNames.foreach { t =>
      assert(tableRows(s"$base/stream", t) === tableRows(s"$base/clean", t),
        s"crashed and clean runs diverged on table $t")
      val df = ParquetMergeSink.read(spark, s"$base/stream/$t")
      assert(df.count() === df.select(keysOf(t).map(col): _*).distinct().count(),
        s"a key of $t is stored twice")
    }
  }

  test("mergeAll under the persist barrier releases a LogicalRDD-rooted batch") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = java.nio.file.Files.createTempDirectory("graft-live-persist").toString
    // the cluster default: a non-local master with no checkpoint dir
    val s = spark.newSession()
    s.conf.set("spark.sql.graft.barrier", "persist")
    // a foreachBatch micro-batch's shape: the frame's own plan is a LogicalRDD
    val raw = s.createDataFrame(
      s.sparkContext.parallelize((1 to 3).map(h => Row(h.toLong, envelope(h))), 2),
      StructType(Seq(StructField("height", LongType), StructField("block_json", StringType))))
    assert(raw.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    val cache = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val cacheWasEmpty = cache.isEmpty
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet

    LiveIndexer.mergeAll(raw, root, classOf[Ingest.JsonPassthroughDecoder].getName)

    assert(raw.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "the raw batch's cache entry must be dropped")
    assert(cache.isEmpty === cacheWasEmpty)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"mergeAll left persisted RDDs behind: $leaked")
    assert(tableRows(root, "block_info").size === 3)
    assert(tableRows(root, "scores").size === 6)
  }

  private val decoder = classOf[Ingest.JsonPassthroughDecoder].getName
  private val factoryMode =
    org.apache.spark.sql.internal.SQLConf.CODEGEN_FACTORY_MODE.key

  private def rawBatch(s: org.apache.spark.sql.SparkSession,
      heights: Range): DataFrame =
    s.createDataFrame(heights.map(h => (h.toLong, envelope(h))))
      .toDF("height", "block_json")

  test("a warm live trigger compiles no generated class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = java.nio.file.Files.createTempDirectory("graft-live-interp").toString
    LiveIndexer.mergeAll(rawBatch(spark, 1 to 1), root, decoder) // warm-up
    val batch = rawBatch(spark, 2 to 2)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    LiveIndexer.mergeAll(batch, root, decoder)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled === 0L, s"a one-height trigger compiled $compiled classes")
    assert(tableRows(root, "block_info").size === 2)
  }

  test("mergeAll leaves the session's codegen factory mode as it found it") {
    val s = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory("graft-live-mode").toString
    def mode = s.conf.getAll.get(factoryMode)
    val during = scala.collection.mutable.Set.empty[Option[String]]
    val record: (Long, String) => Unit = (_, _) => during += mode

    assert(mode === None)
    LiveIndexer.mergeAll(rawBatch(s, 1 to 1), root, decoder, record)
    assert(mode === None, "an unset factory mode must stay unset")

    s.conf.set(factoryMode, "CODEGEN_ONLY")
    LiveIndexer.mergeAll(rawBatch(s, 2 to 2), root, decoder, record)
    assert(mode === Some("CODEGEN_ONLY"))

    s.conf.set(factoryMode, "FALLBACK")
    val boom = intercept[RuntimeException] {
      LiveIndexer.mergeAll(rawBatch(s, 3 to 3), root, decoder,
        (_, table) => if (table == "events") throw new RuntimeException("boom"))
    }
    assert(boom.getMessage === "boom")
    assert(mode === Some("FALLBACK"), "a failed trigger must restore the mode")
    assert(during === Set(Some("NO_CODEGEN")), "a trigger runs interpreted")
  }

  test("an interpreted trigger writes exactly what codegen merges write") {
    val base = java.nio.file.Files.createTempDirectory("graft-live-codegen").toString
    val raw = rawBatch(spark, 1 to 8)
    LiveIndexer.mergeAll(raw, s"$base/interpreted", decoder)
    graft.SessionConf.withConf(spark, factoryMode -> "CODEGEN_ONLY") {
      LiveIndexer.tablesOf(raw, decoder).foreach { case (name, df, keys, version) =>
        ParquetMergeSink.merge(df, s"$base/codegen/$name", keys, version)
      }
    }
    tableNames.foreach { t =>
      val a = ParquetMergeSink.read(spark, s"$base/interpreted/$t")
      val b = ParquetMergeSink.read(spark, s"$base/codegen/$t")
      assert(a.count() === b.count(), s"row counts differ on $t")
      assert(tableRows(s"$base/interpreted", t) === tableRows(s"$base/codegen", t),
        s"interpreted and codegen merges diverged on table $t")
    }
  }

  /** Landed documents the live path must take, each as (height, landed
    * document, block document, block_results document).
    */
  private val edgeLandings: Seq[(Long, String, String, Option[String])] = {
    def env(h: Long, results: String) =
      (h, s"""{"block":${blockJson(h)},"block_results":$results}""", blockJson(h),
        Some(results))
    // the block-level event list of resultsJson(h)
    def events(h: Long) = resultsJson(h)
      .replaceAll(""".*"finalize_block_events":(\[.*\]),"txs_results".*""", "$1")
    val truncated = envelope(5).take(40)
    Seq(
      (1L, blockJson(1), blockJson(1), None), // a plain block document
      env(2, s"""{"height":"2","finalize_block_events":${events(2)},"txs_results":null}"""),
      env(3, s"""{"height":"3","finalize_block_events":${events(3)},"txs_results":[]}"""),
      // a tx with null events beside one with events: a flatten of the
      // two lists is null, so a naive single explode drops the sibling's
      env(4, s"""{"height":"4","finalize_block_events":null,"txs_results":[""" +
        s"""{"code":0,"events":null},{"code":0,"events":${events(4)}}]}"""),
      (5L, truncated, truncated, None)) // a malformed envelope
  }

  test("mergeAll and the JSON-string entry points build identical rows " +
      "from plain, partial and malformed landings") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-live-edge").toString
    val raw = spark.sparkContext.parallelize(edgeLandings.map(l => (l._1, l._2)), 2)
      .toDF("height", "block_json")
    LiveIndexer.mergeAll(raw, root, decoder)

    val blocks = edgeLandings.map(l => (l._1, l._3)).toDF("height", "block_json")
    val results = edgeLandings.flatMap(l => l._4.map(l._1 -> _)).toDF("height", "results_json")
    val events = Ingest.events(results)
    val expected = Map(
      "block_info" -> Ingest.blockInfo(blocks),
      "messages" -> Ingest.messages(Ingest.decodeTxs(Ingest.txsFromBlocks(blocks), decoder)),
      "events" -> Routers.routeEvents(events),
      "scores" -> Routers.scores(events),
      "last_commits" -> Routers.actorLastCommit(events))
    tableNames.foreach { t =>
      assert(tableRows(root, t) === rowsOf(expected(t)), s"table $t")
    }
    // the shapes the fixtures stand for
    def heights(t: String) = ParquetMergeSink.read(spark, s"$root/$t")
      .select("height").as[Long].collect().groupBy(identity).map { case (h, hs) => h -> hs.length }
    assert(heights("block_info") === (1L to 5L).map(_ -> 1).toMap)
    assert(heights("messages") === (1L to 4L).map(_ -> 1).toMap)
    assert(heights("events") === Map(2L -> 2, 3L -> 2, 4L -> 2),
      "height 4's second tx must keep its events")
    assert(ParquetMergeSink.read(spark, s"$root/block_info")
      .filter(col("height") === 5L && col("chain_id").isNull).count() === 1)
  }

  test("a one-height trigger runs 16 jobs, and only its barrier parses the " +
      "landed JSON") {
    import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, JsonToStructs}
    import org.apache.spark.sql.execution.QueryExecution
    // a from_json of a block or block_results document, or of an envelope
    // holding one
    val documents = Set[org.apache.spark.sql.types.DataType](
      Model.blockSchema, Model.blockResultsSchema)
    def landed(j: JsonToStructs) = documents(j.schema) || (j.schema match {
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => documents(f.dataType))
      case _ => false
    })
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val root = java.nio.file.Files.createTempDirectory("graft-live-jobs").toString
    LiveIndexer.mergeAll(rawBatch(spark, 1 to 1), root, decoder) // the tables exist
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq((2L, envelope(2))), 1)).toDF("height", "block_json")
    spark.listenerManager.register(listener)
    val jobs = try jobsOf(LiveIndexer.mergeAll(batch, root, decoder))
      finally spark.listenerManager.unregister(listener)

    assert(jobs === 16, "one barrier job, then three jobs per table merge")
    // (action, get_json_object count, from_json-of-the-landing count)
    val parses = plans.toArray(Array.empty[(String, QueryExecution)]).toSeq.map { case (f, qe) =>
      val exprs = qe.optimizedPlan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case e => e })
      (f, exprs.count(_.isInstanceOf[GetJsonObject]),
        exprs.count { case j: JsonToStructs => landed(j); case _ => false })
    }
    assert(parses.map(_._2).sum === 0, s"get_json_object in a trigger's plans: $parses")
    assert(parses.filter(_._3 > 0) === Seq(("localCheckpoint", 0, 1)),
      s"the landed JSON must be parsed once, by the barrier: $parses")
  }

  test("HTTP client polls a loopback server end-to-end through the " +
      "same lineage") {
    // A real network hop behind the two-method SPI: a loopback
    // HttpServer implements the documented REST contract
    // (GET /latest_height → tip, GET /block/<h> → envelope), and the
    // pump runs with HttpHeightClient — nothing else changes.
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(
        java.net.InetAddress.getLoopbackAddress, 0), 0)
    val tip = new java.util.concurrent.atomic.AtomicLong(4L)
    def reply(ex: com.sun.net.httpserver.HttpExchange, code: Int,
        body: String): Unit = {
      val b = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    server.createContext("/latest_height",
      (ex: com.sun.net.httpserver.HttpExchange) =>
        reply(ex, 200, tip.get.toString))
    server.createContext("/block/",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val h = ex.getRequestURI.getPath.stripPrefix("/block/").toLongOption
        h.filter(x => x >= 1 && x <= tip.get) match {
          case Some(x) => reply(ex, 200, envelope(x))
          case None => reply(ex, 404, "no such height")
        }
      })
    server.start()
    val endpoint =
      s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val base = java.nio.file.Files.createTempDirectory("graft-http").toString
      val httpRoot = base + "/http"
      val ckpt = base + "/ckpt"
      // client unit contract: tip read, block read, 404 throws (task
      // retry seam)
      val c = new graft.sources.HttpHeightClient(endpoint)
      assert(c.latestHeight() === 4L)
      assert(c.fetchBlock(2L) === envelope(2L))
      intercept[java.io.IOException](c.fetchBlock(99L))

      // end-to-end drain over the network, capped catch-up included
      LiveIndexer.start(spark, endpoint, httpRoot, ckpt,
        maxHeightsPerTrigger = Some(2L),
        clientClass = classOf[graft.sources.HttpHeightClient].getName)
        .awaitTermination()

      // identical lineage over the same data via the batch flow
      import spark.implicits._
      val all = (1 to 4).map(h => (h.toLong, envelope(h)))
        .toDF("height", "block_json")
      val batchRoot = base + "/batch"
      LiveIndexer.mergeAll(all, batchRoot,
        classOf[Ingest.JsonPassthroughDecoder].getName)
      tableNames.foreach { t =>
        assert(tableRows(httpRoot, t) === tableRows(batchRoot, t),
          s"HTTP and batch flows diverged on table $t")
      }

      // the chain advances; the SAME checkpoint catches up incrementally
      tip.set(6L)
      LiveIndexer.start(spark, endpoint, httpRoot, ckpt,
        maxHeightsPerTrigger = Some(2L),
        clientClass = classOf[graft.sources.HttpHeightClient].getName)
        .awaitTermination()
      assert(ParquetMergeSink.read(spark, s"$httpRoot/block_info")
        .select("height").collect().map(_.getLong(0)).sorted.toSeq
        === (1L to 6L),
        "a restarted pump must resume from the checkpointed height")
    } finally server.stop(0)
  }

  test("re-running the drained pump is a no-op (idempotent catch-up)") {
    val landing = java.nio.file.Files.createTempDirectory("graft-live2").toString
    val base = java.nio.file.Files.createTempDirectory("graft-live2-out").toString
    writeLanding(landing, 1 to 3)
    val root = base + "/t"
    val ckpt = base + "/ckpt"
    LiveIndexer.start(spark, landing, root, ckpt).awaitTermination()
    val before = tableNames.map(t => t -> tableRows(root, t)).toMap
    LiveIndexer.start(spark, landing, root, ckpt).awaitTermination()
    tableNames.foreach { t =>
      assert(tableRows(root, t) === before(t), s"re-run mutated table $t")
    }
  }
}

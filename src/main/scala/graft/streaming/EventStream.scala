package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig,
  TimeMode, TimerValues, Trigger, ValueState}

import graft.SessionConf.withConf
import graft.indexer.{Model, Upsert}

/** Output row of [[EventStream.runningTypeTotals]]. */
case class TypeTotal(eventType: String, batchCount: Long, runningTotal: Long)

/** The reference's pump loop (main.go:221-253: poll for new heights,
  * process, sleep, repeat) as Structured Streaming.
  *
  * A stream of raw event JSON (in production: a file-source landing zone or
  * Kafka of block_results) is parsed with the same schemas the batch path
  * uses, aggregated under a watermark, and sunk through `foreachBatch`
  * with first-wins dedup — making the sink idempotent under replay exactly
  * like the reference's ON CONFLICT DO NOTHING inserts (db.go:744-747).
  * State is bounded by the watermark (event-time) and the conflict keys.
  */
object EventStream {

  // Session confs the replays set for their own call only (withConf).
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong" -> "true"
  private val RocksDbStore = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val Utc = "spark.sql.session.timeZone" -> "UTC"

  /** Drain a bounded streaming replay into a parquet STAGING dir through
    * `foreachBatch`, read the staged files back under `schema`, `fold`
    * them, and return the bounded result as a local frame. This is the
    * scale-safe materialization for gate queries whose per-trigger
    * output grows with the corpus: a memory sink serializes every task
    * result onto the driver and dies at `spark.driver.maxResultSize`
    * once the emitted domain outgrows it (stream_dedup_daily's distinct
    * keys and stream_session_stats' sessions both did, at sf30 — 1.03
    * GiB vs the 1 GiB cap), while foreachBatch keeps each trigger's
    * frame DISTRIBUTED: it is written executor-side (appended for
    * append/update streams; overwritten for complete-mode re-emissions,
    * so the last trigger's write is the final complete state), and only
    * the fold of the staged files is ever collected.
    *
    * The staging dir must be EXECUTOR-VISIBLE — foreachBatch tasks write
    * to it from every node — so it is derived from a shared,
    * scheme-qualified location (`spark.sql.graft.streamStagingDir` if
    * set, else the session warehouse dir, which every deployment already
    * shares), never from a driver-local `java.io.tmpdir` path that only
    * exists on one machine. The dir is deleted before returning, whether
    * the replay succeeded or threw — hence the collect: the returned
    * frame must not read files that no longer exist.
    */
  private def stagedResult(spark: org.apache.spark.sql.SparkSession,
      outputMode: String, stream: DataFrame, schema: String)(
      fold: DataFrame => DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val root = new Path(spark.conf.getOption("spark.sql.graft.streamStagingDir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir") + "/_graft_stage"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // scheme-qualify so executor tasks resolve the SAME filesystem the
    // driver staged against (a bare /tmp/... path would re-resolve
    // through each node's default FS)
    val tmp = fs.makeQualified(new Path(root, s"stage_${java.util.UUID.randomUUID()}"))
    val mode = if (outputMode == "complete") "overwrite" else "append"
    try {
      fs.mkdirs(tmp)
      stream.writeStream
        .outputMode(outputMode)
        .foreachBatch((b: DataFrame, _: Long) => b.write.mode(mode).parquet(tmp.toString))
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
      val out = fold(spark.read.schema(schema).parquet(tmp.toString))
      spark.createDataFrame(out.collect().toIndexedSeq.asJava, out.schema)
    } finally fs.delete(tmp, true)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` capped at `width`,
    * restored afterwards. Every stateful streaming operator spins one
    * state store PER shuffle partition PER micro-batch, and under the
    * multi-batch gate replay (9 batches by default) store setup/commit
    * lifecycles dominate: at 32 partitions a single keyed-state query
    * pays 288 store commit cycles for state that fits in a handful.
    * Width=8 was measured for stream_purchase_context at sf10 in round 9
    * (`Bench --state`, interleaved min-of-3: 8 partitions min 15.7 s vs
    * 32 partitions min 20.0 s even with 4M state rows) and purchase
    * context got FASTER at sf100 while gaining eviction under it. An
    * unbounded deployment sizes the width to its key cardinality instead;
    * the cap never widens a session that is already narrower.
    */
  private def withStoreCap[T](spark: org.apache.spark.sql.SparkSession,
      width: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    withConf(spark,
      key -> math.min(width, spark.conf.get(key, width.toString).toInt).toString)(body)
  }

  /** Data-aware store width for the single-input keyed-state replays
    * (dedup, EMA, purchase context's view buffer): store lifecycles
    * dominate while the replay is small — cap at 8 — but once per-batch
    * data volume is the cost, commit parallelism wins and the session
    * width stands. Measured at the crossover's two sides: sf0.1 capping
    * 32 → 8 took the pair from ~18 s each to 4.8/4.9 s; at sf100 (120M
    * events) a controlled A/B (same window, fresh JVM per config,
    * min-of-2) ran width 8 at 113.3 s (dedup) / 82.2 s (EMA) vs width 32
    * at 94.6 / 58.6 — so the cap applies below 50M events and releases
    * above. The count is what the resolved replay reads: the footer row
    * counts of the files its glob admits (the split layout's files, or a
    * user landing directory's; [[footerRows]]). The stream-stream JOIN
    * keeps its fixed cap of 8 regardless: four stores per partition
    * quadruple the lifecycle cost and its horizon-bounded state stays
    * small at every measured SF (sf100: 133–136 s capped, faster than the
    * uncapped r12 shape).
    */
  private def replayStoreWidth(spark: org.apache.spark.sql.SparkSession,
      spec: ReplaySpec): Int =
    if (footerRows(spark, spec.dir, spec.glob) >= 50000000L)
      Int.MaxValue // leave the session width — no cap
    else 8

  /** Rows in the parquet files `glob` admits under `dir` (a matched
    * directory: the `.parquet` files in it), from their footers, each read
    * once per file snapshot (path, length, mtime) in this JVM: no Spark
    * job, and never stale when a file changes.
    */
  private def footerRows(spark: org.apache.spark.sql.SparkSession,
      dir: String, glob: String): Long = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val pattern = new Path(dir, glob)
    val fs = pattern.getFileSystem(conf)
    Option(fs.globStatus(pattern)).toSeq.flatten
      .flatMap(st => if (!st.isDirectory) Seq(st) else fs.listStatus(st.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toSeq)
      .map { st =>
        footerCounts.computeIfAbsent(
          s"${st.getPath}#${st.getLen}#${st.getModificationTime}", _ => {
            val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
            try java.lang.Long.valueOf(rd.getRecordCount) finally rd.close()
          }).longValue()
      }.sum
  }
  private val footerCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Run `body` over `dir`'s resolved replay ([[resolveReplay]]) with the
    * store width that replay calls for ([[replayStoreWidth]]).
    */
  private def withReplay[T](spark: org.apache.spark.sql.SparkSession,
      dir: String)(body: ReplaySpec => T): T = {
    val spec = resolveReplay(spark, dir)
    withStoreCap(spark, replayStoreWidth(spark, spec))(body(spec))
  }

  /** How many split-layout builds ran in this JVM (spec hook: serving
    * twice must build once).
    */
  private[graft] val splitLayoutBuilds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The number of time-ordered files a bounded gate replay is split
    * into — DATA-AWARE, the [[replayStoreWidth]] discipline applied to
    * batch count: every micro-batch pays a fixed state-store
    * setup/commit lifecycle per store instance, so while the table is
    * small that fixed cost dominates the replay (measured at sf0.1:
    * stream_purchase_context spent ~1 s/batch of pure lifecycle across
    * its four stores per partition). Batches are therefore sized to
    * carry ≥ ~500k events each, floored at 2 — the watermark must
    * advance mid-replay at least once or eviction never exercises and
    * state grows to the whole input, the exact single-batch defect the
    * split exists to prevent — and capped at 8, the deployable default
    * (at sf10+ the cap binds and the shape is unchanged). The count is
    * the memoized parquet-footer probe, not a data pass.
    */
  private def replaySplits(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    math.max(2, math.min(8, (graft.Tables.eventCount(spark, dir) / 500000L).toInt))

  /** Build-once TIME-SPLIT replay layout for the events table: the one
    * driver-layout file re-written as `splits` parquet files covering
    * disjoint ascending (ts, event_id) ranges, with strictly increasing
    * modification times so the file stream source (which orders
    * admission by mod time) replays them in event-time order. This is
    * what makes the gate run the DEPLOYABLE stream shape: a single-file
    * replay is ONE micro-batch, so watermarks never advance mid-run and
    * every stateful operator holds its whole input as state (measured at
    * sf100: stream_purchase_context buffered all 4M join rows in one
    * batch — a state-store memory wall at the next decade). Split into
    * K batches, the watermark advances between batches and eviction
    * bounds state to the horizon, exactly as in production (r9 measured
    * ~250k steady-state rows vs 4M single-batch at sf10).
    *
    * Range partitioning keys on (ts, event_id): event_id is assigned in
    * ts order by the generator, so the cross-file order agrees with both
    * event time (watermark correctness — a later file never carries an
    * earlier timestamp, so nothing is ever late under a 0s delay) and
    * event_id (fold-order correctness for the EMA recurrence). The cuts
    * are exact quantiles of ONE fixed-seed sample sized from the footer
    * row count of the snapshot being built ([[footerRows]];
    * `TableMaintenance.fixedSample`, shared with `writeZOrdered`), so the
    * files — and with them every micro-batch's input, state and
    * eviction counts — are a function of the input alone
    * (`repartitionByRange` seeds its sampler with the RDD id, i.e. with how
    * many RDDs the session made before the build).
    *
    * Fingerprinted against the SOURCE snapshot (bytes+mtime) and
    * published by staging-dir rename — the IvfPqIndex / ordersSkipLayout
    * cache discipline; rebuilds only when the source table changes.
    */
  private[graft] def eventsSplitLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String, splits: Int): String = {
    import org.apache.hadoop.fs.Path
    val src = s"$dir/events.parquet"
    val snap = graft.functions.IvfPqIndex.snapshotId(spark, src)
    val fp = s"fmt=2;src=$dir;$snap;splits=$splits"
    val layout = graft.functions.IvfPqIndex.indexRoot(spark) +
      s"/stream_split_${graft.functions.IvfPqIndex.pathKey(dir)}"
    val built = graft.functions.LayoutCache.serve(spark, layout, fp) {
      staging =>
        val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // micros, never INT96: the pinned-schema streaming reader
        // refuses INT96 (PARQUET_COLUMN_DATA_TYPE_MISMATCH)
        withConf(spark, "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
          val events = graft.Tables.events(spark, dir)
          val tsu = unix_micros(col("ts"))
          val sample = graft.sinks.TableMaintenance.fixedSample(
              events.filter(col("ts").isNotNull && col("event_id").isNotNull)
                .select(tsu, col("event_id")),
              footerRows(spark, dir, "events.parquet"))
            .map(r => (r.getLong(0), r.getLong(1)))
          // a row's file: how many of the ascending (ts, event_id) cuts it reaches
          val file = graft.sinks.TableMaintenance.quantiles(sample, splits)
            .map { case (t, e) =>
              when(tsu > t || (tsu === t && col("event_id") >= e), 1).otherwise(0)
            }.foldLeft(lit(0))(_ + _)
          events.repartitionById(splits, file)
            .write.mode("overwrite").parquet(staging.toString)
        }
        // part-NNNNN names carry the range order; rename into the glob
        // shape and stamp ascending mod times (2 s apart — coarser than
        // any filesystem's timestamp granularity) so admission order is
        // event-time order
        val parts = fs.listStatus(staging)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
        val base = System.currentTimeMillis() - 2000L * (parts.length + 1)
        parts.zipWithIndex.foreach { case (p, i) =>
          val target = new Path(staging, f"split_$i%04d.parquet")
          require(fs.rename(p.getPath, target), s"rename ${p.getPath} failed")
          fs.setTimes(target, base + 2000L * i, -1)
        }
    }
    if (built) splitLayoutBuilds.incrementAndGet()
    layout
  }

  /** Where and how a bounded gate replay reads the events table. */
  private case class ReplaySpec(dir: String, glob: String,
      maxFiles: Option[String], tsIsLong: Boolean, batches: String)

  /** The events replay as it lies in `dir`, with the source admission
    * knobs applied:
    *
    *  - `spark.sql.graft.streamEventsGlob` — file admission glob
    *    (default `events.parquet`, the one-file testdata layout; a
    *    landing directory sets e.g. `events*.parquet`);
    *  - `spark.sql.graft.streamMaxFiles` — maxFilesPerTrigger (honored
    *    under AvailableNow: the file source implements
    *    SupportsTriggerAvailableNow, pinning the tip and draining it in
    *    capped batches).
    *
    * `ts` is layout-adaptive: driver-generated data stores parquet
    * TIMESTAMP(NANOS) (declared LongType under the legacy nanos conf,
    * rebuilt at micros by [[replayStream]]), while a re-written copy
    * (ScaleUp — Spark can only write micros) is already TimestampType and
    * passes through. Streaming schemas must be pinned up front, so the
    * layout is probed once here via a batch footer read. Caller must have
    * set `spark.sql.legacy.parquet.nanosAsLong`.
    */
  private def rawReplay(spark: org.apache.spark.sql.SparkSession,
      dir: String): ReplaySpec = {
    import org.apache.spark.sql.types.LongType
    val userGlob = spark.conf.getOption("spark.sql.graft.streamEventsGlob")
    val glob = userGlob.getOrElse("events.parquet")
    ReplaySpec(dir, glob, spark.conf.getOption("spark.sql.graft.streamMaxFiles"),
      spark.read.parquet(s"$dir/$glob").schema("ts").dataType == LongType,
      if (userGlob.isDefined) "user" else "single")
  }

  /** Resolve the keyed-state replays' admission shape ONCE per query
    * (layout build + footer probe are driver-side), one shape per source:
    * an explicitly configured `streamEventsGlob` names a user-managed
    * landing directory and is replayed as it lies ([[rawReplay]]);
    * otherwise the events table is replayed through the time-split
    * multi-batch layout ([[eventsSplitLayout]]) drained one file per
    * trigger, the deployable bounded-state shape.
    */
  private def resolveReplay(spark: org.apache.spark.sql.SparkSession,
      dir: String): ReplaySpec = {
    val spec =
      if (spark.conf.getOption("spark.sql.graft.streamEventsGlob").isDefined)
        rawReplay(spark, dir)
      else {
        val k = replaySplits(spark, dir)
        // split files are Spark-written micros timestamps
        ReplaySpec(eventsSplitLayout(spark, dir, k), "split_*.parquet",
          Some(spark.conf.getOption("spark.sql.graft.streamMaxFiles").getOrElse("1")),
          tsIsLong = false, s"$k")
      }
    graft.StrategyLog.record("stream_replay", spec.batches,
      "glob" -> spec.glob, "maxFiles" -> spec.maxFiles.getOrElse("all"))
    spec
  }

  /** A fresh stream instance over a replay spec, `ts` rebuilt at micros
    * when the files store nanos — callers that join several branches of
    * the same table call this once per branch.
    */
  private def replayStream(spark: org.apache.spark.sql.SparkSession,
      spec: ReplaySpec): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", if (spec.tsIsLong) LongType else TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rdr = spark.readStream.schema(schema)
      .option("pathGlobFilter", spec.glob)
    val limited = spec.maxFiles.fold(rdr)(v => rdr.option("maxFilesPerTrigger", v))
    val raw = limited.parquet(spec.dir)
    if (spec.tsIsLong) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Raw JSON lines → typed event rows. Input column: `value` (string). */
  def parse(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("height", LongType),
      StructField("ts", StringType),
      StructField("type", StringType),
      StructField("attributes", Model.attributeType)))
    raw.select(from_json(col("value"), schema).as("e"))
      .select(
        col("e.height").as("height"),
        to_timestamp(col("e.ts")).as("ts"),
        col("e.type").as("type"),
        col("e.attributes").as("attributes"),
        xxhash64(to_json(col("e.attributes"))).as("hash"))
      .filter(col("type").isNotNull)
  }

  /** Per-minute, per-type counts with a 10-minute watermark: late events
    * beyond the watermark are dropped, so aggregation state is bounded.
    */
  def minuteTypeCounts(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("type"))
      .agg(count(lit(1)).as("n_events"), sum(col("height")).as("height_sum"))
      .select(
        col("window.start").as("minute_start"),
        col("type"), col("n_events"), col("height_sum"))

  /** Streaming-native insert-ignore: duplicates on the events conflict key
    * are dropped across micro-batches, with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark` evicts keys once their event time
    * passes) — the unbounded-state-free version of the foreachBatch dedup.
    */
  def dedupedStream(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("height", "type", "hash")

  /** Custom streaming state: a per-type running total maintained with
    * `mapGroupsWithState` — the shape for state the built-in windowed
    * aggregations can't express (counters, EMAs, dedup caches keyed by
    * entity). State is one long per key, partitioned by key.
    */
  def runningTypeTotals(parsed: DataFrame): Dataset[TypeTotal] = {
    val byType = parsed.select(col("type")).as(Encoders.STRING)
    byType
      .groupByKey(identity)(Encoders.STRING)
      .mapGroupsWithState[Long, TypeTotal](GroupStateTimeout.NoTimeout) {
        case (tpe, rows, state) =>
          val add = rows.size.toLong
          val total = state.getOption.getOrElse(0L) + add
          state.update(total)
          TypeTotal(tpe, add, total)
      }(Encoders.scalaLong, Encoders.product[TypeTotal])
  }

  /** Session state for [[sessionized]]: bounds per key are one (start,
    * last, count) triple regardless of session length.
    */
  case class SessionState(start: Long, last: Long, n: Int)

  /** A closed session emitted when its gap times out. */
  case class Session(userId: Long, startSec: Long, endSec: Long, nEvents: Int)

  /** Streaming sessionization — the batch `ev_sessionize` gap rule as
    * live state: per-user sessions accumulate in `flatMapGroupsWithState`
    * and CLOSE via event-time timeout once the watermark passes the
    * session gap, which is exactly when no in-order event can extend them.
    * State per user is one (start, last, count) triple — bounded however
    * long the session — and eviction is driven by the watermark, so
    * abandoned keys cannot accumulate state.
    *
    * Input: (user_id long, ts timestamp). Output: one row per CLOSED
    * session.
    */
  def sessionized(events: DataFrame, gap: java.time.Duration): Dataset[Session] = {
    import org.apache.spark.sql.streaming.OutputMode
    val gapMs = gap.toMillis
    events
      .withWatermark("ts", s"$gapMs milliseconds")
      // keep the watermarked timestamp COLUMN itself through the typed
      // boundary — casting it away would strip the event-time watermark
      // the timeout needs
      .select(col("user_id"), col("ts"))
      .as(Encoders.product[(Long, java.sql.Timestamp)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap: no in-order event can extend it
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start, s.last, s.n))
          } else {
            // flatMapGroupsWithState does NOT filter late input itself —
            // drop rows behind the watermark explicitly. Every admitted
            // event then satisfies sec >= watermark >= last − gap, so an
            // out-of-order event either extends the open session
            // (min/max update, matching the batch rule, which sorts all
            // events before computing gaps) or starts a new one.
            val cw = state.getCurrentWatermarkMs()
            val sorted = rows.map(_._2.getTime)
              .filter(_ >= cw).map(_ / 1000L).toSeq.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { sec =>
              cur = cur match {
                case Some(s) if sec * 1000L - s.last * 1000L <= gapMs =>
                  Some(SessionState(math.min(s.start, sec), math.max(s.last, sec), s.n + 1))
                case Some(s) =>
                  closed ::= Session(user, s.start, s.last, s.n)
                  Some(SessionState(sec, sec, 1))
                case None => Some(SessionState(sec, sec, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last * 1000L + gapMs)
            }
            closed.reverseIterator
          }
      }(Encoders.product[SessionState], Encoders.product[Session])
  }

  /** Live EMA per user for [[emaScores]]. */
  case class EmaScore(userId: Long, ema: Double, nEvents: Long)

  /** The EMA fold as a Spark 4 `StatefulProcessor` — the arbitrary-state
    * API that supersedes `mapGroupsWithState`: typed named state
    * (`ValueState`) living in the RocksDB state store, optional TTL, and
    * timers. State per user is ONE (ema, count) pair no matter how long
    * the stream runs — the same bounded-state shape as the batch
    * `Events.ema` closed form, maintained incrementally.
    *
    * Events fold in `event_id` order (assigned in timestamp order by the
    * generator — the within-batch sort makes a replayed batch fold
    * identically; cross-batch order is the source's append order, as in
    * the reference's pump, which processes heights as they land).
    */
  private class EmaProcessor(alpha: Double)
      extends StatefulProcessor[Long, (Long, Long, Double), EmaScore] {
    @transient private var state: ValueState[(Double, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Double, Long)](
        "ema", Encoders.product[(Double, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Double)],
        timerValues: TimerValues): Iterator[EmaScore] = {
      var (ema, n) = if (state.exists()) state.get() else (0.0, 0L)
      rows.toArray.sortBy(_._2).foreach { case (_, _, v) =>
        ema = if (n == 0L) v else alpha * v + (1 - alpha) * ema
        n += 1
      }
      state.update((ema, n))
      Iterator.single(EmaScore(key, ema, n))
    }
  }

  /** Per-user EMA scores maintained live — the reference's `ema_scores`
    * latest-wins table (db.go:1334-1339) as an incrementally-updated
    * stream. Emits the key's refreshed (ema, count) each micro-batch it
    * appears in; the downstream sink applies latest-wins, exactly like
    * the batch `ev_ema` + upsert pair.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — transformWithState does not
    * run on the default HDFS-backed store.
    *
    * Input columns: `user_id` long, `event_id` long, `value` double.
    */
  def emaScores(events: DataFrame, alpha: Double = 0.2): Dataset[EmaScore] =
    events.select(col("user_id"), col("event_id"), col("value"))
      .as(Encoders.product[(Long, Long, Double)])
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new EmaProcessor(alpha), TimeMode.None(),
        OutputMode.Update())(Encoders.product[EmaScore])

  /** [[emaScores]] driven over the events TABLE as a bounded file-stream
    * replay — the `queries` entry that exercises transformWithState (and
    * the RocksDB state store it requires) end-to-end inside the driver
    * gate. One final row per user: the last state emission, selected with
    * `max_by` on the event count. Rows-only check (a sequential
    * recurrence has no order-free SQL form); EventStreamSpec pins it
    * numerically against the batch `ev_ema` closed form.
    */
  def emaScoresStreamed(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    // The raw events table is parquet TIMESTAMP(NANOS): the footer probe
    // behind a user-glob replay needs the legacy nanos conf set on THIS
    // session — without it a fresh session throws Illegal Parquet type
    // before the split-layout side effect of Tables.events can mask it.
    withConf(spark, RocksDbStore, NanosAsLong)(withReplay(spark, dir) { spec =>
      // The update stream emits one refreshed (ema, n) row per user per
      // micro-batch it appears in — O(users × batches) — so it stages
      // (see [[stagedResult]]): per-user EMA state hits the memory-sink
      // wall at high user cardinality. Only the bounded per-user fold of
      // the staged files is collected. The source is the time-split
      // multi-batch replay (event_id-ordered files, so the cross-batch
      // fold order is the batch closed form's order); ts/event_type/props
      // prune at the parquet scan.
      stagedResult(spark, "update",
          emaScores(replayStream(spark, spec)).toDF(),
          "userId BIGINT, ema DOUBLE, nEvents BIGINT") {
        _.groupBy(col("userId").as("user_id"))
          .agg(
            expr("max_by(ema, nEvents)").as("ema"),
            max(col("nEvents")).as("n_events"))
          .select(col("user_id"), (floor(col("ema") * 1e4) / 1e4).as("ema"), col("n_events"))
          .orderBy("user_id")
      }
    })

  /** Daily per-type stats computed BY THE STREAMING ENGINE over the events
    * table — the one `queries` entry that exercises Structured Streaming
    * inside the DuckDB-oracle correctness gate: a parquet file-source
    * stream, a 1-day `window()` aggregation, `Trigger.AvailableNow` into
    * the staging tail ([[stagedResult]]), and the bounded result returned
    * as a DataFrame whose hash must match the batch SQL oracle.
    *
    * Complete output mode because this is a bounded historical replay (a
    * single AvailableNow batch never advances the watermark before
    * emission, so append mode would hold every window back); the
    * watermarked append path — the actual unbounded deployment shape — is
    * exercised multi-batch in EventStreamSpec via MemoryStream.
    */
  def dailyStatsStreamed(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    // events.ts is parquet TIMESTAMP(NANOS): declared LongType under the
    // legacy nanos conf and rebuilt at microsecond precision, exactly like
    // the batch loader (Tables.events) — schemas must be explicit for
    // streaming reads anyway. `window(ts, '1 day')` buckets in the SESSION
    // timezone while the oracle's strftime buckets the raw UTC timestamp —
    // they agree only under UTC, so pin it for the computation.
    withConf(spark, NanosAsLong, Utc) {
      // the file-stream source wants a directory: scan the sf dir, admit
      // only the events table
      stagedResult(spark, "complete",
          replayStream(spark, rawReplay(spark, dir))
            .groupBy(window(col("ts"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
            .select(
              date_format(col("window.start"), "yyyy-MM-dd").as("day"),
              col("event_type"), col("n_events"), col("total_value")),
          "day STRING, event_type STRING, n_events BIGINT, total_value DOUBLE") {
        _.orderBy("day", "event_type")
      }
    }

  /** Daily distinct (user, type) actives computed through the engine's
    * keyed-state streaming dedup (`dropDuplicatesWithinWatermark`) — the
    * streaming face of the dedup suite. The indexer's at-least-once pump
    * ([[graft.sources.HeightPollSource]] re-delivers blocks on restart)
    * needs exactly-once FACTS downstream, and this is the engine operator
    * that does it at scale: per-key state lives only until the watermark
    * passes the key, so state is bounded by dedup-horizon × key arrival
    * rate, not stream lifetime (plain `dropDuplicates` on a stream grows
    * state forever and is not deployable).
    *
    * Determinism: which physical ROW survives per key depends on arrival
    * order, but the surviving KEY SET does not — so the query aggregates
    * the deduped stream (count of keys, distinct users per day) and THAT
    * is hash-checked against the batch count-distinct oracle. The gate
    * replay defaults to the time-split multi-batch layout (one file per
    * trigger), so the watermark advances between batches and dedup-state
    * eviction runs inside the gate; a key recurring beyond the 1h horizon
    * re-admits (the documented within-watermark contract), which cannot
    * change the answer because the bounded final aggregate below is
    * EXACT-distinct over the horizon-deduped staged rows. The
    * within-watermark drop/re-admit semantics is additionally pinned
    * multi-batch in EventStreamSpec.
    */
  def streamDedupDaily(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    // date_format buckets in the session timezone; the oracle's strftime
    // buckets raw UTC — agree only under UTC
    withConf(spark, NanosAsLong, Utc)(withReplay(spark, dir) { spec =>
      // The deduped stream is O(corpus) (one row per distinct key) — it
      // stages (see [[stagedResult]]; a memory sink died here at sf30).
      // The aggregate below reads the staged files distributed; only the
      // bounded per-day result ever reaches the driver.
      stagedResult(spark, "append",
          replayStream(spark, spec)
            .select(col("ts"), col("user_id"), col("event_type"))
            .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark("day", "user_id", "event_type")
            .select(col("day"), col("user_id"), col("event_type")),
          "day STRING, user_id BIGINT, event_type STRING") {
        // Under the multi-batch replay the engine dedup emits one row per
        // first-seen key WITHIN the 1h watermark horizon — a key recurring
        // beyond the horizon re-admits (the documented within-watermark
        // contract, its state bound). The staged volume is still
        // horizon-deduped (orders of magnitude under the raw stream); the
        // bounded final aggregate is EXACT-distinct over it, which is what
        // any production consumer of a within-watermark dedup does too.
        _.groupBy(col("day"))
          .agg(
            countDistinct(col("user_id"), col("event_type"))
              .as("n_active_pairs"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("day")
      }
    })

  val streamDedupDailyOracle: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(count(DISTINCT (user_id, event_type)) AS BIGINT)
           AS n_active_pairs,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events GROUP BY 1 ORDER BY 1"""

  /** Per-user gap sessions as a STREAMING aggregation over the built-in
    * `session_window` — the engine-managed complement of the
    * `flatMapGroupsWithState` sessionizer ([[sessionized]]): state
    * layout, merge-on-overlap, and eviction all come from the engine,
    * which is the shape to prefer when the per-session state is exactly
    * (start, end, aggregates) and no custom emission policy is needed.
    *
    * Gap calibration: the batch rule (`ev_sessionize`) starts a new
    * session when the gap STRICTLY exceeds 1800 s at whole-second
    * resolution, i.e. events merge iff `next − prev ≤ 1800`. Spark's
    * session windows merge INCLUSIVELY at the boundary — an event whose
    * start equals a window's end joins it (observed: gap 1801 s merged
    * two events under `session_window(_, "1801 seconds")`), i.e. g merges
    * iff `next ≤ prev + g` — so g = 1800 s over second-truncated
    * timestamps reproduces the batch islands exactly. The two
    * formulations are pinned row-identical in EventStreamSpec and this
    * query is gate-checked against the same DuckDB oracle as the batch
    * operator.
    *
    * A watermark must ride on the very column the session groups on —
    * projecting `ts` into the second-truncated `sec_ts` sheds any
    * watermark the caller set upstream — so the delay is a parameter and
    * is attached to `sec_ts` here, after the derivation. `None` (the
    * bounded-replay/complete path) declares no watermark.
    */
  def sessionWindows(events: DataFrame, gapSeconds: Int,
      watermark: Option[String] = None): DataFrame = {
    val secs = events
      .select(col("user_id"), unix_timestamp(col("ts")).as("secl"))
      .withColumn("sec_ts", timestamp_seconds(col("secl")))
    watermark.fold(secs)(secs.withWatermark("sec_ts", _))
      .groupBy(col("user_id"),
        session_window(col("sec_ts"), s"$gapSeconds seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("secl")) - min(col("secl"))).as("dur_sec"))
  }

  /** [[sessionWindows]] driven over the events table as a bounded replay,
    * folded to the exact `ev_sessionize` output schema. Complete output
    * mode for the same reason as [[dailyStatsStreamed]] (a single
    * AvailableNow batch never advances the watermark before emission;
    * session_window additionally rejects update mode); the unbounded
    * deployment is `withWatermark` + append, exercised multi-batch in
    * EventStreamSpec.
    */
  def sessionStatsStreamed(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    withConf(spark, NanosAsLong) {
      // Complete mode re-emits EVERY session per trigger — O(corpus) — so
      // each emission overwrites the staging dir (last trigger = final
      // complete state) and folds to the per-user result DISTRIBUTED on
      // read-back; see [[stagedResult]] for why a memory sink is fatal
      // here at scale.
      stagedResult(spark, "complete",
          sessionWindows(replayStream(spark, rawReplay(spark, dir)), 1800)
            .select(col("user_id"), col("n_events"), col("dur_sec")),
          "user_id BIGINT, n_events BIGINT, dur_sec BIGINT") {
        _.groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            max(col("n_events")).as("max_session_events"),
            (floor(sum(col("n_events")) / count(lit(1)) * 1e4) / 1e4)
              .as("avg_session_events"),
            sum(col("dur_sec")).as("total_session_sec"))
          .orderBy("user_id")
      }
    }

  /** Per-user state for [[purchaseContextStreamed]]'s single-store path:
    * a sorted buffer of the user's view timestamps (micros) within the
    * 1-hour correlation horizon, maintained as `ListState`. One store
    * per partition, versus the FOUR a stream-stream join spins (two per
    * side), which at the bounded-replay batch counts made store
    * setup/commit lifecycles the dominant cost of the query at every SF
    * (sf100: 133 s, ~4× the per-event work).
    *
    * Correctness leans on the replay admission order the split layout
    * guarantees (see [[eventsSplitLayout]]): files cover disjoint
    * ascending (ts, event_id) ranges, so every event in a later batch
    * has ts ≥ every event in this one. A purchase only counts STRICTLY
    * EARLIER views (`vts < pts`), hence all its matches are in its own
    * or earlier batches — by the time the purchase row is processed
    * (within-batch rows are sorted by (ts, event_id) first), its full
    * view window is in the buffer. Same-timestamp views are excluded by
    * the `vts < pts` bound regardless of processing order, exactly like
    * the join condition. Eviction: a future purchase has
    * pts ≥ the key's max seen ts, so views with
    * vts < maxTs − 1h can never be counted again and are dropped —
    * state is bounded by the per-user view rate over the horizon, the
    * same bound the join's watermark eviction gives.
    */
  private class PurchaseContextProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Boolean), (Long, Long)] {
    @transient private var views: org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      views = getHandle.getListState[Long](
        "views", Encoders.scalaLong, TTLConfig.NONE)

    private val HourMicros = 3600000000L

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Boolean)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      // buffer stays ascending: restored ascending, batch rows processed
      // in (ts, event_id) order, views appended at the tail
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      views.get().foreach(buf += _)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      // sort by (ts, event_id): the within-batch event-time order (ids
      // are assigned in ts order, so ties break deterministically)
      val sorted = rows.toArray.sortBy(r => (r._3, r._2))
      sorted.foreach { case (_, eventId, ts, isPurchase) =>
        if (isPurchase) {
          val lo = ts - HourMicros
          // count buffered views in [pts − 1h, pts): binary search both
          // bounds of the ascending buffer
          var l = 0; var r = buf.length
          while (l < r) { val m = (l + r) >>> 1; if (buf(m) < lo) l = m + 1 else r = m }
          val first = l
          l = first; r = buf.length
          while (l < r) { val m = (l + r) >>> 1; if (buf(m) < ts) l = m + 1 else r = m }
          out += ((eventId, (l - first).toLong))
        } else buf += ts
      }
      // evict views no future purchase (pts ≥ maxTs) can count
      if (sorted.nonEmpty) {
        val maxTs = sorted.last._3
        val cut = maxTs - HourMicros
        val survivors = buf.dropWhile(_ < cut)
        if (survivors.isEmpty) views.clear()
        else views.put(survivors.toArray)
      }
      out.iterator
    }
  }

  /** The batch `ev_purchase_context` interval join under STREAMING
    * semantics — the reference's event-correlation surface as live
    * state. A purchase joins the same user's views in `[pts − 1h, pts)`.
    *
    * One path per replay shape (strategy-logged with the shape):
    *
    *  - **state**, over the time-split layout: ONE `transformWithState`
    *    operator keyed by user — [[PurchaseContextProcessor]] buffers the
    *    horizon's views per user and emits each purchase's final count the
    *    moment the purchase row is processed. One state store per
    *    partition, one read of each replay file per batch, and the staged
    *    frame is O(purchases). Chosen over a watermarked stream-stream
    *    join because that join's cost at every measured SF was store
    *    lifecycles × batches, not per-event work (4 stores/partition/
    *    batch), plus three separate stream branches re-reading every
    *    replay file and an O(join pairs) staging. The processor leans on
    *    the split layout's event-time admission order.
    *  - **join**, over a user `streamEventsGlob`: those files are admitted
    *    by modification time, in whatever order they landed, so neither
    *    the processor's buffer nor a watermark may assume event-time
    *    order; the stream-stream interval join runs WITHOUT watermarks and
    *    keeps all its state (bounded by the landing directory). Zero-view
    *    purchases come from a stateless marker branch (one null row per
    *    purchase, unioned with the join output) rather than a LEFT OUTER
    *    join: outer null rows only flush when a watermark passes `pts`
    *    STRICTLY, so the replay's final purchase would be stranded forever
    *    (off by one vs batch, observed before this shape). The
    *    per-purchase count is the bounded materialization of the append
    *    output.
    *
    * Gate-checked against the same DuckDB oracle as the batch query;
    * EventStreamSpec additionally pins row-for-row equality with
    * `Events.purchaseContext`, also over a user glob of shuffled files.
    */
  def purchaseContextStreamed(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    withConf(spark, NanosAsLong) {
      val spec = resolveReplay(spark, dir)
      val userGlob = spec.batches == "user"
      graft.StrategyLog.record("stream_purchase_context",
        if (userGlob) "join" else "state", "replay" -> spec.batches)
      if (userGlob) purchaseContextJoin(spark, spec)
      else purchaseContextState(spark, dir, spec)
    }

  /** The single-store path of [[purchaseContextStreamed]]. */
  private def purchaseContextState(spark: org.apache.spark.sql.SparkSession,
      dir: String, spec: ReplaySpec): DataFrame =
    withConf(spark, RocksDbStore)(withStoreCap(spark,
        replayStoreWidth(spark, spec)) {
      // one stream branch: purchases and views ride the same shuffle,
      // (ts, event_id) as plain micros/longs through the typed boundary
      val typed = replayStream(spark, spec)
        .filter(col("event_type").isin("purchase", "view"))
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"),
          (col("event_type") === "purchase").as("is_purchase"))
        .as(Encoders.product[(Long, Long, Long, Boolean)])
      val counted = typed
        .groupByKey(_._1)(Encoders.scalaLong)
        .transformWithState(new PurchaseContextProcessor, TimeMode.None(),
          OutputMode.Update())(Encoders.product[(Long, Long)])
        .toDF("purchase_id", "n_views_1h")
      // each purchase is emitted exactly once (it appears in exactly one
      // micro-batch), so the staged frame is already the final relation
      stagedResult(spark, "update", counted,
        "purchase_id BIGINT, n_views_1h BIGINT")(_.orderBy("purchase_id"))
    })

  /** The stream-stream join path of [[purchaseContextStreamed]]. */
  private def purchaseContextJoin(spark: org.apache.spark.sql.SparkSession,
      spec: ReplaySpec): DataFrame =
    // A stream-stream join spins FOUR state stores per shuffle partition
    // — see [[withStoreCap]] for why the width is capped at 8 here. The
    // fixed cap stands at every measured SF (unlike the single-input
    // replays, whose width releases with data volume — [[replayStoreWidth]]).
    withStoreCap(spark, 8) {
      // ONE spec for all three branches; each reads its own stream
      def src = replayStream(spark, spec)
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      val views = src.filter(col("event_type") === "view")
        .select(col("user_id").as("v_uid"), col("ts").as("vts"))
      val joined = purchases.join(views,
          col("user_id") === col("v_uid") &&
            col("vts") >= col("pts") - expr("INTERVAL 1 HOUR") &&
            col("vts") < col("pts"))
        .select(col("purchase_id"), col("vts"))
      // stateless zero-fill: one null marker per purchase, not counted
      val markers = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          lit(null).cast("timestamp").as("vts"))
      // (purchase, view) join pairs are O(corpus) — staged, not a memory
      // sink (see [[stagedResult]]; at sf30 this sink was the next one in
      // line to cross the driver result cap)
      stagedResult(spark, "append", joined.unionByName(markers),
          "purchase_id BIGINT, vts TIMESTAMP") {
        _.groupBy(col("purchase_id"))
          .agg(count(col("vts")).as("n_views_1h"))
          .orderBy("purchase_id")
      }
    }

  val dailyStatsStreamedOracle: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n_events, round(sum(value), 2) AS total_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Run the stream through an idempotent micro-batch sink: each batch is
    * first-wins-deduplicated on (height, type, hash) — the events-table
    * conflict key (db.go:747) — before `merge` sees it. `merge` is the
    * storage adapter (Delta MERGE / JDBC upsert in production; a test
    * harness in specs).
    */
  def start(parsed: DataFrame, merge: (DataFrame, Long) => Unit): StreamingQuery =
    parsed.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val deduped = Upsert.firstWins(batch, Seq("height", "type", "hash"), col("hash"))
        merge(deduped, id)
      }
      .start()
}

package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  private def eventJson(height: Long, ts: String, tpe: String, k: String, v: String): String =
    s"""{"height":$height,"ts":"$ts","type":"$tpe","attributes":[{"key":"$k","value":"$v"}]}"""

  test("streamed events are parsed, deduplicated, and merged idempotently") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val dup = eventJson(100, "2024-05-01T10:00:30Z", "emissions.v3.EventScoresSet", "topic_id", "1")
    input.addData(
      dup,
      dup, // exact duplicate in the same batch -> first-wins dedup
      eventJson(100, "2024-05-01T10:00:40Z", "emissions.v3.EventRewardsSettled", "topic_id", "1"),
      eventJson(101, "2024-05-01T10:01:10Z", "emissions.v3.EventScoresSet", "topic_id", "2"))

    val merged = mutable.ArrayBuffer.empty[(Long, String)]
    val q = EventStream.start(
      EventStream.parse(input.toDF()),
      (batch, _) => merged.synchronized {
        merged ++= batch.collect().map(r => (r.getAs[Long]("height"), r.getAs[String]("type")))
      })
    q.awaitTermination(60000)
    assert(merged.length === 3, s"dedup should collapse the duplicate: $merged")
    assert(merged.count(_._1 == 100L) === 2)
  }

  test("dropDuplicatesWithinWatermark suppresses cross-batch duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val dup = eventJson(50, "2024-05-01T10:00:00Z", "t.A", "k", "1")
    val q = EventStream.dedupedStream(EventStream.parse(input.toDF()))
      .writeStream
      .format("memory")
      .queryName("dedup_stream")
      .outputMode("append")
      .start()
    input.addData(dup, eventJson(51, "2024-05-01T10:00:10Z", "t.B", "k", "2"))
    q.processAllAvailable()
    input.addData(dup) // same key arrives again in a later micro-batch
    q.processAllAvailable()
    val heights = spark.sql("SELECT height FROM dedup_stream").collect().map(_.getLong(0))
    q.stop()
    assert(heights.sorted.toSeq === Seq(50L, 51L), s"duplicate not suppressed: ${heights.toSeq}")
  }

  test("file-source pump catches up from its checkpoint across restarts") {
    val landing = java.nio.file.Files.createTempDirectory("graft-landing").toString
    val checkpoint = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(landing, name),
        String.join("\n", lines: _*).getBytes)

    val merged = scala.collection.mutable.ArrayBuffer.empty[Long]
    def runOnce(): Unit = {
      val raw = spark.readStream.text(landing).withColumnRenamed("value", "value")
      val q = EventStream.parse(raw).writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          merged.synchronized { merged ++= batch.collect().map(_.getAs[Long]("height")) }
          ()
        }
        .start()
      q.awaitTermination(60000)
    }

    writeFile("b1.json", Seq(
      eventJson(10, "2024-05-01T10:00:00Z", "t.A", "k", "1"),
      eventJson(11, "2024-05-01T10:00:01Z", "t.B", "k", "2")))
    runOnce()
    assert(merged.sorted.toSeq === Seq(10L, 11L))
    // "restart": a new query on the same checkpoint only sees the new file
    writeFile("b2.json", Seq(eventJson(12, "2024-05-01T10:00:02Z", "t.A", "k", "3")))
    runOnce()
    assert(merged.sorted.toSeq === Seq(10L, 11L, 12L), "old files must not re-process")
  }

  test("mapGroupsWithState keeps running totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val totals = EventStream.runningTypeTotals(EventStream.parse(input.toDF()))
    val q = totals.writeStream
      .format("memory")
      .queryName("run_totals")
      .outputMode("update")
      .start()
    input.addData(
      eventJson(1, "2024-05-01T10:00:00Z", "t.A", "k", "1"),
      eventJson(2, "2024-05-01T10:00:01Z", "t.A", "k", "2"),
      eventJson(3, "2024-05-01T10:00:02Z", "t.B", "k", "3"))
    q.processAllAvailable()
    input.addData(eventJson(4, "2024-05-01T10:00:03Z", "t.A", "k", "4"))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT eventType, max(runningTotal) AS total FROM run_totals GROUP BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    assert(rows("t.A") === 3) // 2 in batch one + 1 in batch two, state carried
    assert(rows("t.B") === 1)
  }

  test("windowed counts aggregate per minute and type under a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    input.addData(
      eventJson(1, "2024-05-01T10:00:10Z", "t.A", "k", "1"),
      eventJson(2, "2024-05-01T10:00:50Z", "t.A", "k", "2"),
      eventJson(3, "2024-05-01T10:01:10Z", "t.B", "k", "3"))

    val counts = EventStream.minuteTypeCounts(EventStream.parse(input.toDF()))
    val q = counts.writeStream
      .format("memory")
      .queryName("win_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.sql(
      "SELECT date_format(minute_start, 'yyyy-MM-dd HH:mm') AS m, type, n_events FROM win_counts")
      .collect()
    val byKey = rows.map(r =>
      (r.getAs[String]("m"), r.getAs[String]("type")) -> r.getAs[Long]("n_events")).toMap
    assert(byKey(("2024-05-01 10:00", "t.A")) === 2)
    assert(byKey(("2024-05-01 10:01", "t.B")) === 1)
  }

  test("stream-stream interval join matches purchases to preceding signups") {
    // two live streams joined on key + event-time interval: the watermarks
    // bound both join-state buffers, the canonical enrichment-at-ingest
    // shape (attribute every purchase to a signup within the last hour)
    implicit val sqlCtx = spark.sqlContext
    val signups = MemoryStream[(Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-05-01 10:$m%02d:00")
    signups.addData((1L, ts(0)), (2L, ts(5)))
    purchases.addData(
      (1L, ts(30), 9.99),   // 30 min after signup -> joins
      (2L, ts(8), 5.0),     // 3 min after signup -> joins
      (3L, ts(10), 7.0))    // no signup -> dropped (inner join)
    val s = signups.toDF().toDF("s_user", "s_ts").withWatermark("s_ts", "2 hours")
    val p = purchases.toDF().toDF("p_user", "p_ts", "amount").withWatermark("p_ts", "2 hours")
    val joined = p.join(s,
      expr("p_user = s_user AND p_ts >= s_ts AND p_ts <= s_ts + interval 1 hour"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("ss_join").collect()
      .map(r => r.getAs[Long]("p_user") -> r.getAs[Double]("amount")).toMap
    assert(rows === Map(1L -> 9.99, 2L -> 5.0))
  }

  test("flatMapGroupsWithState sessionizer closes sessions on event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(m: Int, s: Int = 0) = java.sql.Timestamp.valueOf(f"2024-05-01 10:$m%02d:$s%02d")
    // user 1: two bursts separated by > gap; user 2: one burst
    input.addData((1L, ts(0)), (1L, ts(0, 30)), (2L, ts(1)))
    input.addData((1L, ts(10)), (2L, ts(1, 20)))
    // advance the watermark far past every session's gap so all close
    input.addData((9L, ts(59)))
    val sessions = EventStream.sessionized(
      input.toDF().toDF("user_id", "ts"), java.time.Duration.ofMinutes(2))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("sess_out").collect()
      .map(r => (r.getAs[Long]("userId"), r.getAs[Int]("nEvents")))
    // user 1: burst one (2 events) closed by the second burst's gap, burst
    // two (1 event) closed by timeout; user 2: one 2-event session
    assert(rows.count(_ == (1L, 2)) === 1, s"got ${rows.mkString(",")}")
    assert(rows.count(_ == (1L, 1)) === 1, s"got ${rows.mkString(",")}")
    assert(rows.count(_ == (2L, 2)) === 1, s"got ${rows.mkString(",")}")
  }

  test("an in-watermark out-of-order event extends the session, never shrinks it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-05-01 10:$m%02d:00")
    // batch 1: events at 10:00 and 10:01 (watermark after batch: 10:01 - 2m)
    input.addData((1L, ts(0)), (1L, ts(1)))
    // batch 2: a LATE event at 10:00 (within watermark) must fold into the
    // open session without moving its end back to 10:00 — then an event at
    // 10:02 still belongs to the same session (gap from true last 10:01)
    input.addData((1L, ts(0)), (1L, ts(2)))
    // close everything
    input.addData((9L, ts(30)))
    input.addData((9L, ts(59)))
    val q = EventStream.sessionized(
        input.toDF().toDF("user_id", "ts"), java.time.Duration.ofMinutes(2))
      .writeStream.format("memory").queryName("sess_ooo")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("sess_ooo").filter(col("userId") === 1L).collect()
    assert(rows.length === 1, s"one session expected, got ${rows.mkString(",")}")
    assert(rows(0).getAs[Int]("nEvents") === 4)
    assert(rows(0).getAs[Long]("endSec") - rows(0).getAs[Long]("startSec") === 120L,
      "session must span 10:00-10:02 despite the late arrival")
  }

  test("streaming sessionizer agrees with the batch gap rule on real events") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // replay the events table through the live sessionizer with the batch
    // operator's 30-minute gap, then compare per-user session stats
    val events = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("ts")))
    val maxTs = events.map(_._2.getTime).max
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    input.addData(events.toIndexedSeq)
    // two sentinel batches push the watermark past every session's gap and
    // give the timeout a batch to fire in
    input.addData((Long.MaxValue, new java.sql.Timestamp(maxTs + 86400000L)))
    input.addData((Long.MaxValue, new java.sql.Timestamp(maxTs + 2 * 86400000L)))
    val q = EventStream.sessionized(
        input.toDF().toDF("user_id", "ts"), java.time.Duration.ofMinutes(30))
      .writeStream.format("memory").queryName("sess_eq")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("sess_eq")
      .filter(col("userId") =!= Long.MaxValue)
      .groupBy(col("userId"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("nEvents")).as("n_events"))
      .collect()
      .map(r => r.getAs[Long]("userId") -> (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events")))
      .toMap
    val batch = graft.operators.Events.sessionize(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events")))
      .toMap
    assert(streamed === batch,
      "live sessionization must reproduce the batch gap rule exactly")
  }

  test("streamed daily stats are row-identical to the batch aggregation") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.dailyStatsStreamed(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = graft.operators.Events.dailyStats(spark, sfDir)
      .select(col("day"), col("event_type"), col("n_events"), col("total_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq === batch.toSeq,
      "the streaming engine must compute exactly what the batch plan computes")
  }

  test("session_window streaming stats are row-identical to the batch sessionize") {
    val streamed = EventStream.sessionStatsStreamed(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = graft.operators.Events.sessionize(spark, sfDir)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq,
      "session_window(gap=1800s, inclusive merge) must reproduce the " +
        "batch gap>1800 islands exactly")
  }

  test("watermarked append session_window closes sessions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 10:00:00")
    def at(sec: Long) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val q = EventStream.sessionWindows(
        input.toDF().toDF("user_id", "ts"), 1800, watermark = Some("0 seconds"))
      .select(col("user_id"), col("n_events"), col("dur_sec"))
      .writeStream.format("memory").queryName("sw_append")
      .outputMode("append")
      .start()
    try {
      // batch 1: user 7's first session (two events 10 min apart) plus a
      // second user to keep the key space non-trivial
      input.addData((7L, at(0)), (7L, at(600)), (8L, at(300)))
      q.processAllAvailable()
      // append emits nothing yet — the watermark has not passed any
      // session's end
      assert(spark.table("sw_append").count() === 0L)
      // batch 2: an event far past the gap closes user 7's first session
      // (and user 8's) once the watermark advances past their window ends
      input.addData((7L, at(600 + 1801 + 1800 + 1)))
      q.processAllAvailable()
      val closed = spark.table("sw_append")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(closed === Set((7L, 2L, 600L), (8L, 1L, 0L)),
        s"expected exactly the two watermark-expired sessions, got $closed")
    } finally q.stop()
  }

  test("streamed purchase context is row-identical to the batch interval join") {
    val streamed = EventStream.purchaseContextStreamed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val batch = graft.operators.Events.purchaseContext(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(streamed.length === batch.length,
      "every purchase must appear exactly once — including zero-view " +
        "purchases flushed by the watermark's no-data batch")
    assert(streamed.toSeq === batch.toSeq,
      "the stream-stream interval join must compute exactly the batch join")
  }

  test("purchase context over a user glob of shuffled files takes the join " +
      "path and equals the batch join") {
    import org.apache.hadoop.fs.Path
    // a landing directory of four event-time ranges whose modification
    // times do not follow event time
    val landing = java.nio.file.Files.createTempDirectory("graft-pc-glob").toString
    val staging = landing + "/_staging"
    graft.SessionConf.withConf(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      graft.Tables.events(spark, sfDir)
        .repartitionByRange(4, col("ts"), col("event_id"))
        .write.parquet(staging)
    }
    val fs = new Path(landing).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(staging))
      .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
    assert(parts.length === 4)
    val base = System.currentTimeMillis() - 60000L
    parts.zip(Seq(2, 0, 3, 1)).zipWithIndex.foreach { case ((p, rank), i) =>
      val target = new Path(landing, s"ev_$i.parquet")
      assert(fs.rename(p.getPath, target))
      fs.setTimes(target, base + 2000L * rank, -1)
    }
    fs.delete(new Path(staging), true)
    val streamed = graft.SessionConf.withConf(spark,
        "spark.sql.graft.streamEventsGlob" -> "ev_*.parquet",
        "spark.sql.graft.streamMaxFiles" -> "1") { // one file per batch
      EventStream.purchaseContextStreamed(spark, landing)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(graft.StrategyLog.lastChoice("stream_purchase_context")
      .exists(_.startsWith("join ")), "a user glob must take the join path")
    val batch = graft.operators.Events.purchaseContext(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("transformWithState maintains per-user EMA across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val name = "graft_tws_ema"
    try {
      val input = MemoryStream[(Long, Long, Double)]
      val ema = EventStream.emaScores(
        input.toDF().toDF("user_id", "event_id", "value"))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-tws").toString
      val q = ema.writeStream.format("memory").queryName(name)
        .outputMode("update").option("checkpointLocation", ckpt).start()
      // batch 1: out-of-order within the batch (event_id 2 before 1) — the
      // processor must fold in event_id order: 10 then 0.2*20+0.8*10 = 12
      input.addData((1L, 2L, 20.0), (1L, 1L, 10.0), (2L, 3L, 5.0))
      q.processAllAvailable()
      // batch 2: state carries across batches: 0.2*30+0.8*12 = 15.6
      input.addData((1L, 4L, 30.0))
      q.processAllAvailable()
      q.stop()
      val byUser = spark.table(name).collect()
        .map(r => (r.getAs[Long]("userId"), (r.getAs[Double]("ema"), r.getAs[Long]("nEvents"))))
        .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).maxBy(_._2) }
      assert(byUser(2L) === ((5.0, 1L)))
      val (ema1, n1) = byUser(1L)
      assert(n1 === 3L)
      assert(math.abs(ema1 - 15.6) < 1e-9, s"ema $ema1 != 15.6")
    } finally {
      spark.catalog.dropTempView(name)
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("streamed EMA scores agree with the batch closed form") {
    val streamed = EventStream.emaScoresStreamed(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Double]("ema"), r.getAs[Long]("n_events")))).toMap
    val batch = graft.operators.Events.ema(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Double]("ema"), r.getAs[Long]("n_events")))).toMap
    assert(streamed.keySet === batch.keySet)
    batch.foreach { case (u, (bEma, bN)) =>
      val (sEma, sN) = streamed(u)
      assert(sN === bN, s"user $u event count")
      // sequential recurrence vs closed-form sum: same math, different FP
      // association — equal to well beyond the 1e-4 output precision
      assert(math.abs(sEma - bEma) <= 2e-4, s"user $u: streamed $sEma vs batch $bEma")
    }
  }

  test("streamDedupDaily matches the batch count-distinct aggregation") {
    val streamed = EventStream.streamDedupDaily(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val batch = graft.Tables.events(spark, sfDir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(col("user_id"), col("event_type")).as("n_active_pairs"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("day").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(streamed.toSeq === batch.toSeq,
      "keyed-state dedup + key-set aggregate must equal batch count-distinct")
  }

  test("within-watermark dedup re-admits a key only after its state is evicted") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val name = "dedup_horizon_stream"
    val q = input.toDF().toDF("user_id", "ts", "event_type")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("day", "user_id", "event_type")
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .start()
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    try {
      // batch 1: key (day, 7, click) admitted; duplicate in the SAME batch
      // and a duplicate in batch 2 (watermark 09:00, inside the horizon)
      // are both dropped
      input.addData((7L, t("2024-05-01T10:00:00Z"), "click"),
        (7L, t("2024-05-01T10:00:05Z"), "click"))
      q.processAllAvailable()
      input.addData((7L, t("2024-05-01T10:30:00Z"), "click"))
      q.processAllAvailable()
      assert(spark.table(name).count() === 1, "in-horizon duplicates must drop")
      // batch 3 advances the watermark to 12:00 — past the key's
      // 10:00+1h expiry — so its state is evicted…
      input.addData((8L, t("2024-05-01T13:00:00Z"), "view"))
      q.processAllAvailable()
      // …and batch 4's same-day duplicate is re-admitted: beyond the
      // horizon the operator's contract is at-most-once state, not
      // global exactly-once (that is what bounds the state)
      input.addData((7L, t("2024-05-01T13:00:01Z"), "click"))
      q.processAllAvailable()
      val keys = spark.table(name)
        .groupBy("user_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(keys === Map(7L -> 2L, 8L -> 1L),
        s"expected evicted key re-admission, got $keys")
    } finally q.stop()
  }

  test("dailyStatsStreamed leaves no memory-sink table or conf change behind") {
    val tzBefore = spark.conf.getOption("spark.sql.session.timeZone")
    val viewsBefore = spark.catalog.listTables().collect().map(_.name).toSet
    val out = EventStream.dailyStatsStreamed(spark, sfDir)
    assert(out.count() > 0)
    val viewsAfter = spark.catalog.listTables().collect().map(_.name).toSet
    assert(viewsAfter === viewsBefore,
      s"memory-sink table leaked: ${(viewsAfter -- viewsBefore).mkString(",")}")
    assert(spark.conf.getOption("spark.sql.session.timeZone") === tzBefore,
      "session timezone must be restored after the bounded replay")
  }

  test("a replay that fails mid-stream leaves no staging dir behind") {
    import org.apache.hadoop.fs.Path
    // a landing directory whose first file (by mtime) is good events and
    // whose second stores `ts` as a string, which the pinned-schema
    // reader refuses: batch 0 stages rows, batch 1 throws
    val landing = java.nio.file.Files.createTempDirectory("graft-stage-leak").toString
    val stagingRoot = java.nio.file.Files.createTempDirectory("graft-stage-root").toString
    val fs = new Path(landing).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def land(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = s"$landing/_tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new Path(tmp))
        .find(_.getPath.getName.endsWith(".parquet")).get.getPath
      val target = new Path(landing, s"$name.parquet")
      assert(fs.rename(part, target))
      fs.setTimes(target, mtime, -1)
      fs.delete(new Path(tmp), true)
    }
    val base = System.currentTimeMillis() - 60000L
    graft.SessionConf.withConf(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      land(graft.Tables.events(spark, sfDir), "ev_0", base)
      land(graft.Tables.events(spark, sfDir).limit(10)
        .withColumn("ts", col("ts").cast("string")), "ev_1", base + 2000L)
    }
    graft.SessionConf.withConf(spark,
        "spark.sql.graft.streamStagingDir" -> stagingRoot,
        "spark.sql.graft.streamEventsGlob" -> "ev_*.parquet",
        "spark.sql.graft.streamMaxFiles" -> "1") {
      intercept[Exception](EventStream.sessionStatsStreamed(spark, landing).collect())
    }
    val left = new java.io.File(stagingRoot).list().filter(_.startsWith("stage_"))
    assert(left.isEmpty, s"failed replay leaked staging dirs: ${left.mkString(",")}")
  }

  test("split replay layout builds once, serves twice, rebuilds on source change") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // a private copy of the events table: mutating the shared sfDir
    // snapshot would invalidate every other suite's cached layouts
    val dir = Files.createTempDirectory("graft-split-layout").toString
    Files.copy(Paths.get(sfDir, "events.parquet"),
      Paths.get(dir, "events.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    val before = EventStream.splitLayoutBuilds.get()
    val first = EventStream.streamDedupDaily(spark, dir).collect()
    assert(EventStream.splitLayoutBuilds.get() === before + 1,
      "first streamed query must build the split layout")
    val second = EventStream.streamDedupDaily(spark, dir).collect()
    assert(EventStream.splitLayoutBuilds.get() === before + 1,
      "second streamed query must serve the fingerprinted layout, not rebuild")
    assert(second.toSeq === first.toSeq)
    // an in-place rewrite of the source (new mtime => new snapshotId)
    // must trigger exactly one rebuild on the next query
    val src = Paths.get(dir, "events.parquet").toFile
    assert(src.setLastModified(src.lastModified() + 60000L))
    EventStream.streamDedupDaily(spark, dir).collect()
    assert(EventStream.splitLayoutBuilds.get() === before + 2,
      "source snapshot change must rebuild the layout exactly once")
  }

  test("a user-glob replay sizes its store width from the files it reads") {
    import org.apache.hadoop.fs.Path
    // a landing directory holding only ev_0.parquet: no events.parquet
    val landing = java.nio.file.Files.createTempDirectory("graft-glob-width").toString
    val fs = new Path(landing).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$landing/_tmp"
    graft.SessionConf.withConf(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      graft.Tables.events(spark, sfDir).coalesce(1).write.parquet(tmp)
    }
    val part = fs.listStatus(new Path(tmp))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    assert(fs.rename(part, new Path(landing, "ev_0.parquet")))
    fs.delete(new Path(tmp), true)
    val viaGlob = graft.SessionConf.withConf(spark,
        "spark.sql.graft.streamEventsGlob" -> "ev_*.parquet") {
      EventStream.streamDedupDaily(spark, landing).collect().toSeq
    }
    assert(viaGlob.nonEmpty)
    assert(viaGlob === EventStream.streamDedupDaily(spark, sfDir).collect().toSeq)
  }

  test("split layout cuts do not depend on how many RDDs the session made") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft-split-cuts").toString
    Files.copy(Paths.get(sfDir, "events.parquet"),
      Paths.get(dir, "events.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    val src = Paths.get(dir, "events.parquet").toFile
    // per-file row counts of a fresh build, after `extra` throwaway RDDs
    def build(extra: Int): Seq[Long] = {
      (1 to extra).foreach(_ => spark.sparkContext.parallelize(1 to 4).count())
      assert(src.setLastModified(src.lastModified() + 60000L)) // forces a rebuild
      val layout = EventStream.eventsSplitLayout(spark, dir, 2)
      new java.io.File(layout).listFiles().map(_.getName)
        .filter(n => n.startsWith("split_") && n.endsWith(".parquet")).sorted.toSeq
        .map(n => spark.read.parquet(s"$layout/$n").count())
    }
    val first = build(0)
    assert(first.sum === graft.Tables.events(spark, sfDir).count())
    assert(first.size > 1, s"cuts collapsed: $first")
    Seq(1, 3, 7).foreach(n => assert(build(n) === first, s"after $n extra RDDs"))
  }

  test("split layout cuts follow the snapshot being built, not an earlier count") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, explode, lit, sequence}
    // 100 copies of the events under fresh ids: past the sample size, so
    // the sample fraction depends on the row count
    val grown = Files.createTempDirectory("graft-split-grown").toString
    val fs = new Path(grown).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = s"$grown/_tmp"
    graft.SessionConf.withConf(spark,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      graft.Tables.events(spark, sfDir)
        .withColumn("copy", explode(sequence(lit(0L), lit(99L))))
        .withColumn("event_id", col("event_id") + col("copy") * 1000000L)
        .drop("copy").coalesce(1).write.parquet(tmp)
    }
    val part = fs.listStatus(new Path(tmp))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    assert(fs.rename(part, new Path(grown, "events.parquet")))
    fs.delete(new Path(tmp), true)
    def counts(dir: String): Seq[Long] = {
      val layout = EventStream.eventsSplitLayout(spark, dir, 2)
      new java.io.File(layout).listFiles().map(_.getName)
        .filter(n => n.startsWith("split_") && n.endsWith(".parquet")).sorted.toSeq
        .map(n => spark.read.parquet(s"$layout/$n").count())
    }
    // a dir laid out while small, then grown in place: its rebuild must
    // cut like a dir this JVM never saw small
    val dir = Files.createTempDirectory("graft-split-regrow").toString
    Files.copy(Paths.get(sfDir, "events.parquet"), Paths.get(dir, "events.parquet"))
    assert(counts(dir).sum === 1000L)
    val before = EventStream.splitLayoutBuilds.get()
    Files.copy(Paths.get(grown, "events.parquet"), Paths.get(dir, "events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val regrown = counts(dir)
    assert(EventStream.splitLayoutBuilds.get() === before + 1, "grown source must rebuild")
    assert(regrown.sum === 100000L)
    assert(regrown === counts(grown))
  }
}

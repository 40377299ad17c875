package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sinks.ParquetMergeSink

class HeightPollSourceSpec extends SparkSpec {

  private val blockJson =
    """{"header":{"chain_id":"testchain-1","height":"%d",
       "time":"2024-05-01T10:00:00Z","proposer_address":"P1"},
       "data":{"txs":[]}}""".replaceAll("\n\\s*", "")

  private def writeHeights(dir: String, heights: Range): Unit =
    heights.foreach { h =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"$h.json"),
        blockJson.format(h).getBytes)
    }

  private def pollStream(dir: String, extra: Map[String, String] = Map.empty) = {
    val base = spark.readStream.format("graft.sources.HeightPollSource")
      .option("dir", dir)
    extra.foldLeft(base) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  test("polls the tip and fetches every height exactly once across restarts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-poll").toString
    val base = java.nio.file.Files.createTempDirectory("graft-poll-out").toString
    val table = base + "/block_info"
    val ckpt = base + "/ckpt"
    writeHeights(dir, 1 to 5)

    def runOnce(): Unit = {
      val q = pollStream(dir).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          ParquetMergeSink.merge(batch, table, Seq("height"), "height")
          () // foreachBatch's Scala overload takes a Unit function
        }
        .start()
      q.awaitTermination()
    }
    runOnce()
    val got1 = ParquetMergeSink.read(spark, table)
      .select("height").collect().map(_.getLong(0)).sorted
    assert(got1.toSeq === (1L to 5L), s"first catch-up fetched ${got1.toSeq}")

    // the chain advances; a restarted pump resumes FROM THE CHECKPOINT —
    // heights 1-5 are never re-fetched (offset ranges are exactly-once)
    writeHeights(dir, 6 to 8)
    runOnce()
    val got2 = ParquetMergeSink.read(spark, table)
      .select("height").collect().map(_.getLong(0)).sorted
    assert(got2.toSeq === (1L to 8L))
    // and the fetched body is the real block payload
    val body = ParquetMergeSink.read(spark, table)
      .filter(col("height") === 7L).select("block_json").head.getString(0)
    assert(body.contains("\"height\":\"7\""))
  }

  test("maxHeightsPerTrigger drains a backlog in bounded, checkpointed steps") {
    val dir = java.nio.file.Files.createTempDirectory("graft-poll-cap").toString
    val base = java.nio.file.Files.createTempDirectory("graft-poll-cap-out").toString
    writeHeights(dir, 1 to 7)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = pollStream(dir, Map("maxHeightsPerTrigger" -> "3")).writeStream
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.synchronized {
          seen += id -> batch.select("height").collect().map(_.getLong(0)).sorted.toSeq
        }
        ()
      }
      .start()
    q.awaitTermination()
    val batches = seen.sortBy(_._1).map(_._2).toSeq
    assert(batches.flatten === (1L to 7L),
      s"capped catch-up must cover the backlog in order, got $batches")
    assert(batches.forall(_.size <= 3),
      s"a batch exceeded maxHeightsPerTrigger: $batches")
    assert(batches.size >= 3, s"expected >= ceil(7/3) batches, got $batches")
  }

  test("a pump started past the tip runs no batch until a height lands") {
    val dir = java.nio.file.Files.createTempDirectory("graft-poll-tip").toString
    val base = java.nio.file.Files.createTempDirectory("graft-poll-tip-out").toString
    writeHeights(dir, 1 to 3)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val q = pollStream(dir, Map("startHeight" -> "4")).writeStream
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.ProcessingTime(100L))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.add(id -> batch.select("height").collect().map(_.getLong(0)).toSeq)
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      Thread.sleep(500L) // several trigger intervals over the same tip
      q.processAllAvailable()
      assert(seen.isEmpty, s"batches ran before any height landed: $seen")
      writeHeights(dir, 4 to 4)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq === Seq(0L -> Seq(4L)),
        "the first batch must be exactly the height that landed")
    } finally q.stop()
  }

  test("a batch's height range fans out to heightsPerPartition-sized workers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-poll-fan").toString
    val base = java.nio.file.Files.createTempDirectory("graft-poll-fan-out").toString
    writeHeights(dir, 1 to 6)
    var parts = -1
    val q = pollStream(dir, Map("heightsPerPartition" -> "2")).writeStream
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the worker fan-out of the reference's height channel: 6 heights
        // at 2 per worker slice = 3 parallel fetch partitions
        parts = batch.rdd.getNumPartitions
        assert(batch.count() === 6)
        ()
      }
      .start()
    q.awaitTermination()
    assert(parts === 3, s"expected 3 fetch partitions, got $parts")
  }

  test("the landing-file pump and the poll pump produce identical block_info rows") {
    import graft.indexer.Ingest
    // same chain, two transport shapes: ranged landing files (batch dumps)
    // and the height poller (live RPC stand-in) must feed identical rows
    // to the same downstream lineage
    val dirPoll = java.nio.file.Files.createTempDirectory("graft-poll-eq").toString
    writeHeights(dirPoll, 1 to 4)
    val streamed = {
      val base = java.nio.file.Files.createTempDirectory("graft-poll-eq-out").toString
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      val q = pollStream(dirPoll).writeStream
        .option("checkpointLocation", base + "/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          rows.synchronized {
            rows ++= batch.collect().map(r => (r.getLong(0), r.getString(1)))
          }
          ()
        }
        .start()
      q.awaitTermination()
      rows.sortBy(_._1).toSeq
    }
    import spark.implicits._
    val viaPoll = Ingest.blockInfo(streamed.toDF("height", "block_json"))
      .select("height", "chain_id", "proposer_address")
      .collect().map(_.toSeq).toSeq
    val landing = java.nio.file.Files.createTempDirectory("graft-landing-eq").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(landing, "blocks-1-4.jsonl"),
      (1 to 4).map(h => s"$h\t${blockJson.format(h)}").mkString("\n").getBytes)
    val viaFiles = Ingest.blockInfo(
        spark.read.format("graft.sources.BlockJsonSource").load(landing))
      .select("height", "chain_id", "proposer_address")
      .collect().map(_.toSeq).toSeq
    assert(viaPoll.sortBy(_.head.asInstanceOf[Long].longValue()) ===
      viaFiles.sortBy(_.head.asInstanceOf[Long].longValue()))
  }

  test("a DirHeightClient parses Hadoop's configuration once, not once per height") {
    val dir = java.nio.file.Files.createTempDirectory("graft-poll-conf").toString
    // ~6 KB bodies with non-ASCII text, so a byte-for-byte match means
    // the UTF-8 round trip kept every byte
    val pad = "\u00e9\u4e2d" * 1200
    (1 to 240).foreach { h =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"$h.json"),
        s"""{"height":"$h","pad":"$pad"}""".getBytes("UTF-8"))
    }
    // Every new Hadoop Configuration looks core-default.xml up through the
    // context class loader it captured when it was built, once per parse
    // of its default resources; count those lookups on this thread
    val loads = new java.util.concurrent.atomic.AtomicInteger()
    val parent = Thread.currentThread().getContextClassLoader
    val counting = new ClassLoader(parent) {
      override def getResource(name: String): java.net.URL = {
        if (name == "core-default.xml") loads.incrementAndGet()
        super.getResource(name)
      }
    }
    val client = new DirHeightClient(dir)
    Thread.currentThread().setContextClassLoader(counting)
    val bodies =
      try (1L to 240L).map(h => h -> client.fetchBlock(h))
      finally Thread.currentThread().setContextClassLoader(parent)
    assert(loads.get() <= 1,
      s"240 fetches through one client parsed the configuration ${loads.get()} times")
    bodies.foreach { case (h, body) =>
      val file = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, s"$h.json"))
      assert(java.util.Arrays.equals(body.getBytes("UTF-8"), file),
        s"height $h body differs from its file")
    }
  }

  test("each trigger polls the tip once and reports chain_tip, committed_height and lag_heights") {
    val dir = java.nio.file.Files.createTempDirectory("graft-poll-metrics").toString
    val base = java.nio.file.Files.createTempDirectory("graft-poll-metrics-out").toString
    writeHeights(dir, 1 to 7)
    CountingDirClient.polls.set(0)
    val q = pollStream(dir, Map("maxHeightsPerTrigger" -> "3",
        "client" -> classOf[CountingDirClient].getName)).writeStream
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    q.awaitTermination()
    val ms = q.recentProgress.toSeq.map(_.sources.head.metrics)
    assert(ms.map(_.get("lag_heights")) === Seq("4", "1", "0"), s"metrics: $ms")
    assert(ms.map(_.get("committed_height")) === Seq("3", "6", "7"))
    assert(ms.map(_.get("chain_tip")) === Seq("7", "7", "7"))
    // AvailableNow pins the tip once; reportLatestOffset reuses it
    assert(CountingDirClient.polls.get() === 1,
      s"the landing directory was listed ${CountingDirClient.polls.get()} times")
  }

  test("a DirHeightClient's tip advances as heights land; a gap stops the probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-poll-probe").toString
    val client = new DirHeightClient(dir)
    assert(client.latestHeight() === 0L, "an empty landing dir has no tip")
    writeHeights(dir, 5 to 7)
    assert(client.latestHeight() === 7L, "the first tip comes from one listing")
    assert(client.latestHeight() === 7L)
    writeHeights(dir, 8 to 9)
    assert(client.latestHeight() === 9L)
    // 10 has not landed: 11 stays past the gap until it does
    writeHeights(dir, 11 to 11)
    assert(client.latestHeight() === 9L)
    writeHeights(dir, 10 to 10)
    assert(client.latestHeight() === 11L)
  }

  test("non-positive maxHeightsPerTrigger or heightsPerPartition is refused before any batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-poll-bad").toString
    val base = java.nio.file.Files.createTempDirectory("graft-poll-bad-out").toString
    writeHeights(dir, 1 to 5)
    for (key <- Seq("maxHeightsPerTrigger", "heightsPerPartition"); v <- Seq("0", "-2")) {
      val e = intercept[IllegalArgumentException](pollStream(dir, Map(key -> v)))
      assert(e.getMessage.contains(key), e.getMessage)
    }
    val e = intercept[IllegalArgumentException] {
      graft.indexer.LiveIndexer.start(spark, dir, base + "/lake", base + "/ckpt",
        maxHeightsPerTrigger = Some(0L))
    }
    assert(e.getMessage.contains("maxHeightsPerTrigger"), e.getMessage)
    assert(spark.streams.active.isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(base, "lake")))
  }
}

/** A [[DirHeightClient]] that counts its tip polls. */
class CountingDirClient(dir: String) extends DirHeightClient(dir) {
  override def latestHeight(): Long = {
    CountingDirClient.polls.incrementAndGet()
    super.latestHeight()
  }
}

object CountingDirClient {
  val polls = new java.util.concurrent.atomic.AtomicInteger()
}

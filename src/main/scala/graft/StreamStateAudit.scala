package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming state-store diagnostic: run named SparkEntry streaming
  * queries under a [[StreamingQueryListener]] and print, per micro-batch,
  * the input volume, batch duration, and every stateful operator's
  * rows / memory / update / eviction counts. This is the instrument the
  * per-query wall time lacks: it separates "state grew" from "the same
  * state was slower", and shows whether watermark eviction actually
  * bounds state when a bounded replay is split into many batches.
  *
  *   runMain graft.StreamStateAudit <sfDir> <query...>
  *
  * The listener reports whatever batching the query's own source
  * produces (the one-file events table replays as a single AvailableNow
  * batch unless the query splits it). Diagnostic main — not part of the
  * driver contract.
  */
object StreamStateAudit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StreamStateAudit <sfDir> <query...>")
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // multi-batch replay knobs (see EventStream.rawReplay): a landing
    // directory of time-split files + a files-per-trigger cap make the
    // bounded replay exercise real watermark eviction between batches
    sys.env.get("SPARK_GRAFT_STREAM_GLOB")
      .foreach(spark.conf.set("spark.sql.graft.streamEventsGlob", _))
    sys.env.get("SPARK_GRAFT_STREAM_MAX_FILES")
      .foreach(spark.conf.set("spark.sql.graft.streamMaxFiles", _))

    val lines = mutable.ArrayBuffer.empty[String]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators.map { s =>
          f"${s.operatorName}%s[rows=${s.numRowsTotal}%d upd=${s.numRowsUpdated}%d " +
            f"evict=${s.numRowsRemoved}%d mem=${s.memoryUsedBytes / 1024.0 / 1024.0}%.1fMB " +
            f"commitMs=${s.allRemovalsTimeMs + s.allUpdatesTimeMs + s.commitTimeMs}%d]"
        }.mkString(" ")
        lines.synchronized {
          lines += f"  batch=${p.batchId}%d in=${p.numInputRows}%d " +
            f"triggerMs=${p.durationMs.getOrDefault("triggerExecution", -1L)}%d " +
            f"addBatchMs=${p.durationMs.getOrDefault("addBatch", -1L)}%d $ops%s"
        }
      }
    }
    spark.streams.addListener(listener)

    args.tail.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      lines.synchronized(lines.clear())
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async — give the bus a moment to drain
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      Thread.sleep(500)
      println(f"== $name%s wall=$wall%.1fs rows=$n%d batches=${lines.size}%d")
      lines.synchronized(lines.foreach(println))
      Tables.releaseIntermediates(spark)
    }
    spark.streams.removeListener(listener)
    spark.stop()
  }
}

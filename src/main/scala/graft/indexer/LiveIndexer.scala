package graft.indexer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SessionConf.withConf
import graft.sinks.ParquetMergeSink

/** The reference's LIVE loop — poll tip, fetch heights, decode, route,
  * upsert (main.go:255-312 + process_tx.go + process_events.go + db.go ON
  * CONFLICT) — composed as ONE streaming lineage over this library's
  * pieces:
  *
  *   HeightPollSource (offset = chain height, capped catch-up)
  *     → envelope parse (block + block_results per height — the two RPC
  *       responses the reference fetches per height, landed as one doc —
  *       in one from_json, behind the batch's barrier)
  *     → Ingest.blockInfoOf / txsOf → decodeTxs → messages
  *     → Ingest.eventsOf → Routers (whitelist, scores, last-commits)
  *     → ParquetMergeSink per table (manifest-committed generations,
  *       latest-wins merge = ON CONFLICT semantics)
  *
  * Exactly-once through the WHOLE lineage is the composition of the
  * source's checkpointed height ranges (a restarted pump never re-fetches
  * a committed range) and every sink merge being an idempotent keyed
  * upsert (a replayed UNCOMMITTED batch converges to the same table, even
  * when the crash landed between two tables' merges mid-batch) — the same
  * argument the reference makes with its DB transaction per height plus ON
  * CONFLICT inserts. Pinned end-to-end by LiveIndexerSpec: kill mid-batch
  * between table merges, resume, compare row-identical against the batch
  * flow over the same landing data.
  */
object LiveIndexer {

  /** Normalized tables of one raw `(height, block_json)` micro-batch:
    * (name, frame, conflict keys, version column) — the db.go table set
    * reachable from the per-height envelope. Conflict keys mirror the
    * reference's ON CONFLICT targets; `last_commits` is the update-wins
    * table (db.go:1171-1175), everything else insert-ignore.
    */
  def tablesOf(raw: DataFrame, decoderClass: String)
      : Seq[(String, DataFrame, Seq[String], String)] =
    parsedTables(Ingest.parseEnvelope(raw), decoderClass)

  /** [[tablesOf]] over [[Ingest.parseEnvelope]]'s rows: every table only
    * projects and explodes the parsed `block` and `block_results` structs.
    * `last_commits` carries every last-commit event unresolved
    * ([[Routers.lastCommitRows]]): the sink's merge resolves latest-wins
    * per key, as [[Routers.actorLastCommit]] would, without a shuffle of
    * its own.
    */
  private def parsedTables(parsed: DataFrame, decoderClass: String)
      : Seq[(String, DataFrame, Seq[String], String)] = {
    val msgs = Ingest.messages(Ingest.decodeTxs(Ingest.txsOf(parsed), decoderClass))
    val evts = Ingest.eventsOf(parsed)
    Seq(
      ("block_info", Ingest.blockInfoOf(parsed), Seq("height"), "height"),
      ("messages", msgs, Seq("height", "hash"), "height"),
      ("events", Routers.routeEvents(evts),
        Seq("height", "type", "hash"), "height"),
      ("scores", Routers.scores(evts),
        Seq("height_tx", "topic_id", "type", "address"), "height_tx"),
      ("last_commits", Routers.lastCommitRows(evts),
        Seq("topic_id", "is_worker"), "height_tx"))
  }

  /** Merge one micro-batch into every table under `tableRoot`. The batch
    * is parsed ([[Ingest.parseEnvelope]]) and barriered once: the five
    * lineages all start from the parsed rows, so no table reads the JSON
    * again, and without the barrier each table's merge would re-fetch
    * every block.
    *
    * Job shape per trigger (16 jobs for one height, with AQE on): one job
    * for the barrier, then per table [[ParquetMergeSink.merge]]'s staging
    * job (the table's rows, touched buckets and emptiness in one pass)
    * followed by its write, the latest-wins shuffle's map job plus the
    * write job. No table shuffles before its merge: `last_commits` is
    * staged unresolved and resolved by that same shuffle. Each merge
    * releases its staged blocks after its commit, and the parsed batch's
    * blocks are released when the last table is merged — a trigger leaves
    * no persisted RDD behind.
    *
    * The whole trigger runs on Spark's interpreted evaluator
    * (`spark.sql.codegen.factoryMode=NO_CODEGEN`, which also turns off
    * whole-stage codegen). A trigger is many small queries that generate
    * 135–146 classes between them, more than the 100 entries of Spark's
    * codegen cache (`spark.sql.codegen.cache.maxEntries`, a static conf),
    * so with codegen every trigger compiled all of them again and the JIT
    * then compiled the new classes too. Measured on the `index` benchmark
    * (4 vCPUs, `local[4]`): with codegen, its timed window ran ~595
    * Janino compiles and 32–34 s of JIT, about 60% of 53–55 s of process
    * CPU; interpreted, 7 compiles, and the median process CPU per height
    * fell from 205 to 141 ms over 11 paired runs. The per-row work here
    * is JSON parsing and parquet I/O, which codegen barely speeds up. The
    * mode is set on the batch's session for this call and then restored
    * (or unset), also when a merge throws; other callers of
    * [[ParquetMergeSink.merge]] keep codegen.
    *
    * `afterTable` is the crash-injection seam the restart spec uses — a
    * real deployment leaves it as the no-op.
    */
  def mergeAll(batch: DataFrame, tableRoot: String, decoderClass: String,
      afterTable: (Long, String) => Unit = (_, _) => (),
      batchId: Long = -1L): Unit =
    withConf(batch.sparkSession,
        SQLConf.CODEGEN_FACTORY_MODE.key -> CodegenObjectFactoryMode.NO_CODEGEN.toString) {
      val b = graft.Tables.barrier(Ingest.parseEnvelope(batch))
      try
        parsedTables(b, decoderClass).foreach { case (name, df, keys, version) =>
          ParquetMergeSink.merge(df, s"$tableRoot/$name", keys, version)
          afterTable(batchId, name)
        }
      finally graft.Tables.release(b)
    }

  /** Start the live pump: drains the landing tip in capped, checkpointed
    * micro-batches (Trigger.AvailableNow — the catch-up run; a deployment
    * polling a live chain uses a processing-time trigger with the same
    * lineage). Restart with the same checkpoint to resume exactly where
    * the last committed batch ended. A `maxHeightsPerTrigger` below 1 is
    * refused with an `IllegalArgumentException` before the query starts.
    */
  def start(spark: SparkSession, landingDir: String, tableRoot: String,
      checkpoint: String,
      decoderClass: String = classOf[Ingest.JsonPassthroughDecoder].getName,
      maxHeightsPerTrigger: Option[Long] = None,
      afterTable: (Long, String) => Unit = (_, _) => (),
      clientClass: String =
        classOf[graft.sources.DirHeightClient].getName): StreamingQuery = {
    // `landingDir` is the client's one-string constructor arg: a
    // directory for the sandbox DirHeightClient, an http(s) endpoint for
    // HttpHeightClient — the lineage is identical either way.
    val base = spark.readStream.format("graft.sources.HeightPollSource")
      .option("client", clientClass)
      .option("clientArg", landingDir)
    val src = maxHeightsPerTrigger
      .fold(base)(n => base.option("maxHeightsPerTrigger", n.toString))
      .load()
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeAll(batch, tableRoot, decoderClass, afterTable, id)
      }
      .start()
  }
}

package graft.indexer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SessionConf.withCodegenPolicy
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

  /** The bucket count `mergeAll` creates `last_commits` with. Its key,
    * `(topic_id, is_worker)`, bounds it at 2 × topics rows, so one bucket
    * holds the whole table: each merge reads one file and writes one. At
    * 16 buckets a merge writes one file per touched bucket, and a catch-up
    * trigger (or the first merge after an append) touches nearly all.
    * Measured on the `index` benchmark at 16 buckets (4 vCPUs, `local[4]`,
    * interpreted write): each extra file costs about 4.7 ms of task CPU
    * and each rewritten row about 13 µs. A trigger touching 14 buckets
    * pays ~61 ms for its 13 extra files, as much as rewriting ~4,700 rows;
    * a one-height trigger touches one bucket, and one bucket rewrites
    * 15/16 of the table more, under 1 ms at the benchmark's 31 rows. So
    * the whole-table rewrite stays cheaper until the table holds thousands
    * of rows, far more than 2 × topics. The count is committed in the
    * table's manifest v1: a `last_commits` created at 16 buckets keeps 16,
    * and only new lakes get one.
    */
  private val LastCommitsBuckets = 1

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
    * no persisted RDD behind. A new lake's `last_commits` has one bucket
    * ([[LastCommitsBuckets]]), every other table the sink's default.
    *
    * The whole trigger (barrier, every table's staging job and write)
    * runs under the codegen policy ([[graft.SessionConf.codegenConf]],
    * site `trigger`) as small work: a micro-batch states no size before
    * its parse, a deployment bounds its triggers with
    * `maxHeightsPerTrigger`, and even a 6,000-height trigger (about 42 MB
    * landed) is below the bound. The mode is restored (or unset)
    * afterwards, also when a merge throws; other callers of
    * [[ParquetMergeSink.merge]] keep the session's mode.
    *
    * `afterTable` is the crash-injection seam the restart spec uses — a
    * real deployment leaves it as the no-op.
    */
  def mergeAll(batch: DataFrame, tableRoot: String, decoderClass: String,
      afterTable: (Long, String) => Unit = (_, _) => (),
      batchId: Long = -1L): Unit =
    withCodegenPolicy(batch.sparkSession, "trigger", 0L) {
      val b = graft.Tables.barrier(Ingest.parseEnvelope(batch))
      try
        parsedTables(b, decoderClass).foreach { case (name, df, keys, version) =>
          ParquetMergeSink.merge(df, s"$tableRoot/$name", keys, version,
            if (name == "last_commits") LastCommitsBuckets else ParquetMergeSink.DefaultBuckets)
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

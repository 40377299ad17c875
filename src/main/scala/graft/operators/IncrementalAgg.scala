package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Incremental (materialized) aggregate maintenance: keep a grouped
  * aggregate table current by folding in each new micro-batch at
  * O(batch), never rescanning the fact history.
  *
  * The reference keeps its serving tables current by upserting every
  * block's rows as it lands (db.go ON CONFLICT paths) and lets PostgreSQL
  * aggregate at query time; at 100 TB the aggregate itself must be the
  * maintained object — re-aggregating a year of facts to refresh a daily
  * dashboard is a non-starter. The algebra: every kept statistic is
  * MERGEABLE (count/sum/min/max are associative-commutative monoids; avg
  * is derived sum/count at read time), so
  * `state ⊎ partial(batch) = partial(facts so far)` exactly, in any batch
  * order. Totals are carried as exact integer cents, so the fold is also
  * bit-reproducible — no float drift across replays (the same discipline
  * as the oracle edge).
  *
  * `merge` is a union + re-aggregate on the state schema: Spark plans it
  * as one hash shuffle over `|state| + |delta|` rows — the state table
  * (one row per group) is orders of magnitude smaller than the facts, and
  * at 1000 executors the union co-partitions for free if both sides are
  * bucketed by the keys ([[Scale.writeBucketed]]).
  */
object IncrementalAgg {

  private val statCols =
    Seq("n_events", "cents", "min_cents", "max_cents")

  /** Partial aggregate of one batch, in mergeable form. */
  def partial(batch: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    batch.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        sum(cents).as("cents"),
        min(cents).as("min_cents"),
        max(cents).as("max_cents"))
  }

  /** Fold a delta (already in partial form) into the state: union + one
    * re-aggregation on the group keys. Exact for any batch split/order.
    */
  def merge(state: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = keys ++ statCols
    state.select(cols.map(col): _*)
      .unionByName(delta.select(cols.map(col): _*))
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("n_events")).as("n_events"),
        sum(col("cents")).as("cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
  }

  /** Read-time view over the maintained state: derived stats (avg) come
    * from the exact carried monoids, not from a stored float.
    */
  def serve(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(
      (keys.map(col) ++ Seq(
        col("n_events"),
        (col("cents") / 100.0).as("total_value"),
        (col("min_cents") / 100.0).as("min_value"),
        (col("max_cents") / 100.0).as("max_value"),
        (floor(col("cents") / col("n_events")) / 100.0).as("avg_value_floor"))): _*)

  /** The committed state table, or None before the first advance. */
  def readState(spark: SparkSession, statePath: String): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sinks.ManifestCommit.latest(fs, root)
      .flatMap(_.dirs.get("state"))
      .map(rel => spark.read.parquet(new org.apache.hadoop.fs.Path(root, rel).toString))
  }

  /** foreachBatch sink: fold one micro-batch into a parquet state table —
    * read-modify-write of the AGGREGATE (one row per group, O(state +
    * batch)), never the fact history. The new state is written as an
    * immutable generation dir and published by flipping one small
    * manifest file ([[graft.sinks.ManifestCommit.publish]]): a crash
    * before the flip leaves readers on the previous state (the orphan
    * generation is vacuumed); a crash after is a completed fold. No
    * directory renames, so the guarantee holds on object stores too.
    *
    * Exactly-once on top of at-least-once replay: pass foreachBatch's
    * `batchId` and the LAST APPLIED id rides inside the same manifest
    * commit as the state it produced — state and progress flip together,
    * so a crash between them is impossible by construction. A replayed
    * batch (id ≤ recorded) is skipped instead of double-counted. Batch
    * ids must be monotonically increasing per state table, which
    * foreachBatch guarantees per query+checkpoint.
    */
  def advance(spark: SparkSession, statePath: String, batch: DataFrame,
      keys: Seq[String], valueCol: String,
      batchId: Option[Long] = None): Unit = {
    import graft.sinks.ManifestCommit
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (ManifestCommit.orphanedGenerations(fs, root))
      throw new IllegalStateException(
        s"$statePath has state generations but no commit log: refusing to " +
          "silently reset additive state. Restore the _commits dir.")
    def plainStateFiles = if (!fs.exists(root)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(root).filter(s => s.isFile &&
        (s.getPath.getName.endsWith(".parquet") || s.getPath.getName == "_SUCCESS"))
    // Table creation commits v1 BEFORE any generation data, so a crash
    // can never leave generation dirs without a log (see guard above).
    val manifest = ManifestCommit.latest(fs, root).getOrElse {
      fs.mkdirs(root)
      val v = ManifestCommit.commit(fs, root, 0L, Map.empty)
      ManifestCommit.Manifest(v, Map.empty)
    }
    val lastApplied = manifest.entries.get("batch").map(_.toLong)
    if (batchId.exists(id => lastApplied.exists(_ >= id)))
      return // replayed batch: already folded into the committed state
    // Once a committed generation holds the state, plain top-level files
    // are pre-protocol migration debris — reclaimed here, one full
    // advance AFTER the absorbing commit (legacy readers in flight at
    // migration time keep a whole table).
    if (manifest.dirs.contains("state"))
      plainStateFiles.foreach(f => fs.delete(f.getPath, false))
    val delta = partial(batch, keys, valueCol)
    // State resolution order: committed generation, else PRE-PROTOCOL
    // plain parquet at the root (a state table written before the
    // manifest protocol) — folding the first post-upgrade batch into the
    // legacy state and committing it as generation data. Ignoring the
    // plain files would silently reset the additive state to one batch.
    val state = manifest.dirs.get("state")
      .map(rel => spark.read.parquet(new org.apache.hadoop.fs.Path(root, rel).toString))
      .orElse {
        if (plainStateFiles.exists(_.getPath.getName.endsWith(".parquet")))
          Some(spark.read.parquet(statePath))
        else None
      }
    val progress = (batchId.toSeq ++ lastApplied).reduceOption(_ max _)
      .map(id => "batch" -> id.toString)
    ManifestCommit.publish(fs, root, manifest.version) { gen =>
      gen.write(state.fold(delta)(st => merge(st, delta, keys)))
      Map("dir.state" -> gen.name) ++ progress
    }
  }

  /** Gate query: replay the events table as three height-ordered batches
    * through partial→merge→merge→merge, then serve. The result must
    * hash-match a one-shot GROUP BY over the whole table (the oracle) —
    * the mergeability proof, checked by DuckDB.
    */
  def dailyStatsIncremental(spark: SparkSession, dir: String): DataFrame = {
    val keys = Seq("day", "event_type")
    val ev = Tables.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value"), col("event_id"))
    // three deterministic slices standing in for three ingest batches
    val slices = Seq(
      ev.filter(pmod(col("event_id"), lit(3)) === 0),
      ev.filter(pmod(col("event_id"), lit(3)) === 1),
      ev.filter(pmod(col("event_id"), lit(3)) === 2))
    val state = slices.tail.foldLeft(partial(slices.head, keys, "value")) {
      (st, batch) => merge(st, partial(batch, keys, "value"), keys)
    }
    serve(state, keys).orderBy("day", "event_type")
  }

  val dailyStatsIncrementalOracle: String =
    """WITH c AS (
         SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                CAST(round(value * 100) AS BIGINT) AS cents
         FROM events)
       SELECT day, event_type,
              count(*) AS n_events,
              CAST(sum(cents) AS BIGINT) / 100.0 AS total_value,
              min(cents) / 100.0 AS min_value,
              max(cents) / 100.0 AS max_value,
              floor(CAST(sum(cents) AS BIGINT) * 1.0 / count(*)) / 100.0
                AS avg_value_floor
       FROM c GROUP BY 1, 2 ORDER BY 1, 2"""
}

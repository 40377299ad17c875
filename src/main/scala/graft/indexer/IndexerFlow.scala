package graft.indexer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, date_format}

import graft.sinks.{ParquetMergeSink, TableMaintenance}

/** The reference's full-mode loop (restore → catch up → process → write,
  * main.go:120-203) assembled from this library's pieces:
  *
  *   BlockJsonSource (ranged landing files, height-pruned scan)
  *     → Ingest.blockInfo (header flatten)
  *     → ParquetMergeSink (idempotent latest-wins table)
  *
  * `runBatch` is incremental: it asks the target table for its latest
  * height (Snapshot.latestHeight = getLatestBlockHeightFromDB) and the
  * pushed `height > latest` predicate prunes already-ingested landing
  * files from the scan entirely. Re-runs are no-ops; overlapping files
  * converge via the merge key.
  */
object IndexerFlow {

  def readLanding(spark: SparkSession, landingDir: String): DataFrame =
    spark.read.format("graft.sources.BlockJsonSource").load(landingDir)

  /** One catch-up pass; returns the number of newly ingested heights. */
  def runBatch(spark: SparkSession, landingDir: String, tableDir: String): Long = {
    val already = ParquetMergeSink.readIfExists(spark, tableDir)
      .map(Snapshot.latestHeight)
      .getOrElse(0L)
    val fresh = readLanding(spark, landingDir)
      .filter(col("height") > already)
    // the merge's staging job counts the rows; an empty pass creates nothing
    ParquetMergeSink.merge(Ingest.blockInfo(fresh), tableDir, Seq("height"), "height")
  }

  /** The date-partitioned variant of the catch-up pass: block_info lands
    * APPEND-ONLY into plain `day=<block date>` directories — the cheapest
    * possible ingest write (no merge read-back; heights are never
    * re-processed, so the keyed merge buys nothing here) and the layout
    * every daily-pruned analytics query wants. The cost is file strew:
    * each pass adds files to the hot day's directory. [[maintain]] is the
    * other half of the contract.
    */
  def runBatchPartitioned(spark: SparkSession, landingDir: String,
      tableDir: String): Long = {
    val already =
      try Snapshot.latestHeight(TableMaintenance.readPartitioned(spark, tableDir))
      catch { case _: IllegalArgumentException => 0L } // no data yet
    val fresh = readLanding(spark, landingDir)
      .filter(col("height") > already)
    val blockInfo = Ingest.blockInfo(fresh)
      .withColumn("day", date_format(col("block_time"), "yyyy-MM-dd"))
    val n = blockInfo.count()
    if (n > 0)
      blockInfo.write.mode(SaveMode.Append)
        .partitionBy("day").parquet(tableDir)
    n
  }

  /** The nightly maintenance pass over the partitioned facts table: absorb
    * the plain day directories the flow strewed into sorted, atomically
    * committed generations (one manifest flip covers every rewritten
    * partition). Only strewn or late-data partitions are rewritten — a
    * re-run right after is a no-op — and [[TableMaintenance.readPartitioned]]
    * serves consistent reads throughout. Returns the rewritten partitions.
    */
  def maintain(spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[String] =
    TableMaintenance.compactPartitioned(spark, tableDir, targetBytes,
      sortKeys = Seq("height"))
}

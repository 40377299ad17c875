package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Parquet table loaders for the driver-generated testdata layout
  * (`TESTDATA.md`). Column pruning and filter pushdown happen at the scan
  * via Catalyst.
  */
object Tables {
  /** Opens `<dir>/<name>.parquet`. Spark infers a parquet schema in a job
    * (a footer read) on every plain open, so the schema it inferred is
    * kept per file snapshot (each file's path, length and mtime) and per
    * value of the confs that shape inference; a later open passes it with
    * `.schema(...)` and runs no job. A rewritten file is inferred again.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return spark.read.parquet(path.toString)
    val files = fs.listFiles(path, true)
    val snapshot = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").toSeq.sorted
    val key = (snapshot ++ InferenceConfs.map(k => s"$k=${spark.conf.getOption(k)}"))
      .mkString("\n")
    Option(schemaCache.get(key)).fold {
      val df = spark.read.parquet(path.toString)
      schemaCache.put(key, df.schema)
      df
    }(schema => spark.read.schema(schema).parquet(path.toString))
  }
  private val InferenceConfs = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` normalization — the one place engine-version parquet
    * timestamp drift is absorbed, so every operator downstream sees a
    * plain session-TZ `TimestampType` column.
    *
    * Driver testdata history: earlier rounds shipped parquet
    * TIMESTAMP(NANOS), which Spark 4 only reads via the
    * `nanosAsLong` legacy conf (LongType branch below). The current
    * testdata is TIMESTAMP(MICROS) with `isAdjustedToUTC=false`, which
    * Spark 4.1's default `parquet.inferTimestampNTZ` reads as
    * **TIMESTAMP_NTZ** — a type that rejects `CAST(ts AS BIGINT)` and
    * surfaces as `LocalDateTime`, silently breaking epoch-seconds math
    * and `getAs[java.sql.Timestamp]`. All three shapes funnel to the
    * same column here: sessions pin `spark.sql.session.timeZone=UTC`,
    * so `NTZ → TimestampType` is a pure re-tag of the same wall-clock
    * instant (no shift), and nano→micro truncation is harmless (all
    * downstream logic compares at second granularity or orders by
    * `event_id`, which is assigned in timestamp order).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame   = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame  = table(s, d, "embeddings")

  /** Table row count, memoized per (application, dir, table). The
    * adaptive operator switches ([[graft.operators.Dedup.ngramJaccard]],
    * `embeddingCosBlocked`) read this per invocation; the first call is
    * a parquet-footer metadata job on the RAW scan (no data columns, no
    * fanout shuffle), repeats are a map hit — a table dir is immutable
    * for the life of an application.
    */
  def tableCount(s: SparkSession, d: String, name: String): Long =
    countCache.computeIfAbsent(
      s"${s.sparkContext.applicationId}#$d#$name",
      _ => java.lang.Long.valueOf(table(s, d, name).count())).longValue()
  def documentCount(s: SparkSession, d: String): Long = tableCount(s, d, "documents")
  def embeddingCount(s: SparkSession, d: String): Long = tableCount(s, d, "embeddings")
  /** events row count — through [[events]] (which owns the ts-layout
    * confs), not the raw table loader. */
  def eventCount(s: SparkSession, d: String): Long =
    countCache.computeIfAbsent(
      s"${s.sparkContext.applicationId}#$d#events",
      _ => java.lang.Long.valueOf(events(s, d).count())).longValue()
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Spread a scan across all cores before CPU-heavy per-row work.
    *
    * Small local parquet files are one row group = one task, which would
    * serialize shingling/hashing/cosine math onto a single core. On a real
    * cluster the scan has thousands of splits and this is a no-op (the
    * round-robin only fires when the scan yields fewer partitions than
    * cores); the shuffle it introduces moves raw rows once, before the
    * expensive projection, which is the right trade whenever
    * compute-per-row ≫ row width.
    */
  def fanout(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Partition count comes from FileIndex metadata (already listed at read
    // time) — `df.rdd.getNumPartitions` would force full physical planning
    // per invocation.
    val scanParts = org.apache.spark.sql.GraftBridge.estimateScanPartitions(df)
    if (scanParts.exists(_ < target)) df.repartition(target) else df
  }

  /** Scale-safe plan-reuse barrier.
    *
    * Operators that feed one frame into several plan branches (self-joins,
    * probe/verify splits, iterative propagation) must materialize it once
    * or every branch re-runs the upstream computation. HOW it is
    * materialized decides what happens when an executor dies:
    *
    *  - `persist(MEMORY_AND_DISK)` keeps lineage: a lost block is
    *    recomputed from source. The default on a cluster, where losing one
    *    of 1000 executors mid-query is routine — a recompute beats a dead
    *    query.
    *  - reliable `checkpoint()` writes blocks to the fault-tolerant store
    *    named by `spark.sql.graft.checkpointDir` and truncates lineage —
    *    the right barrier for iterative loops whose plans would otherwise
    *    grow per round, and for frames too expensive to ever recompute.
    *  - `localCheckpoint()` truncates lineage AND keeps non-replicated
    *    executor-local blocks: fastest, but a lost executor makes the
    *    frame unrecoverable (Spark cannot rebuild truncated lineage). Auto
    *    mode only picks it where there is no executor to lose — a
    *    single-JVM `local[*]` master.
    *
    * `spark.sql.graft.barrier` ∈ {auto (default), persist, checkpoint,
    * localCheckpoint} overrides the automatic choice. The persist path is
    * lazy (first action materializes); the checkpoint paths are eager —
    * both give downstream branches a compute-once frame.
    */
  def barrier[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    val sc = spark.sparkContext
    def reliable(): Dataset[T] = {
      val dir = spark.conf.getOption("spark.sql.graft.checkpointDir").getOrElse(
        throw new IllegalArgumentException(
          "spark.sql.graft.barrier=checkpoint requires spark.sql.graft.checkpointDir"))
      // setCheckpointDir stores `<dir>/<random-uuid>` (qualified), so an
      // equality check against `dir` is always false and every barrier
      // would mint a fresh checkpoint subdirectory. Substring-match the
      // configured path instead — one checkpoint dir per session.
      // (Checkpoint FILES are reclaimed by Spark's ContextCleaner only
      // under spark.cleaner.referenceTracking.cleanCheckpoints=true; set
      // it on clusters that run iterative barriered operators.)
      val needle = new org.apache.hadoop.fs.Path(dir).toUri.getPath
      if (!sc.getCheckpointDir.exists(_.contains(needle)))
        sc.setCheckpointDir(dir)
      ds.checkpoint()
    }
    spark.conf.get("spark.sql.graft.barrier", "auto") match {
      case "persist"         => ds.persist(StorageLevel.MEMORY_AND_DISK)
      case "checkpoint"      => reliable()
      case "localCheckpoint" => ds.localCheckpoint()
      case _ =>
        if (spark.conf.getOption("spark.sql.graft.checkpointDir").isDefined) reliable()
        else if (sc.isLocal) ds.localCheckpoint()
        else ds.persist(StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** `.barrier()` as a chainable method — see [[Tables.barrier]]. */
  implicit class BarrierOps[T](private val ds: Dataset[T]) extends AnyVal {
    def barrier(): Dataset[T] = Tables.barrier(ds)
  }

  /** [[barrier]] with its one materializing job run on return, plus the
    * `QueryExecution` that ran it: that execution's `observedMetrics`
    * carry whatever `Dataset.observe` computed in the same pass, read
    * synchronously — no listener, no wait on the listener bus. The
    * checkpoint paths are eager and run `ds`'s own execution; the lazy
    * persist path is materialized by one count over the persisted frame.
    * Which path ran is read off the frame ([[persisted]]), as in
    * [[release]].
    */
  private[graft] def materializedBarrier[T](ds: Dataset[T])
      : (Dataset[T], org.apache.spark.sql.execution.QueryExecution) = {
    val b = barrier(ds)
    if (!persisted(b)) (b, ds.queryExecution)
    else {
      val counted = b.groupBy().count()
      counted.collect()
      (b, counted.queryExecution)
    }
  }

  /** Whether a [[barrier]] frame took the persist path: it is registered
    * with the cache manager. The checkpoint paths instead return a frame
    * whose plan is a `LogicalRDD` over the checkpointed RDD — and so may
    * a persisted one (a `foreachBatch` micro-batch is a `LogicalRDD`), so
    * the cache registration, not the plan shape, tells them apart.
    */
  private def persisted(ds: Dataset[_]): Boolean =
    ds.storageLevel != StorageLevel.NONE

  /** Release the blocks behind one [[barrier]]'s frame, now.
    *
    * A persisted frame is unpersisted, which drops its cache-manager
    * entry and blocks. `Dataset.unpersist()` does nothing else, so on a
    * checkpointed frame (the local-master default) it would free nothing
    * and the blocks would wait for a GC and the `ContextCleaner`; there
    * the RDD under the frame's `LogicalRDD` is unpersisted directly. Only
    * the frame's OWN barrier is released — barriers further up its
    * lineage belong to the caller. A checkpointed frame is unusable
    * afterwards (its lineage is truncated).
    */
  def release(ds: Dataset[_]): Unit =
    if (persisted(ds)) ds.unpersist(blocking = false)
    else ds.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Release every persisted block the last query left behind.
    *
    * Operators materialize plan-reuse barriers with [[barrier]] (persisted
    * or checkpointed blocks); the blocks belong to the
    * returned plan, so the OPERATOR can't release them — the caller must,
    * once the result is consumed. A long-lived session running many
    * queries without this (a bench loop, a query service) accumulates
    * dead blocks until the block manager evicts under pressure — which
    * taxes every later query's shuffles and caches. Bench and Verify call
    * it between queries.
    *
    * SCOPE: this sweeps EVERY persistent RDD in the context — including
    * caches the application created and checkpointed frames still held
    * in scope (whose lineage is truncated, so a later action on them
    * fails rather than recomputes). It is intended for drivers that own
    * the whole session and consume each result fully before the next
    * query (the Bench/Verify pattern). An application holding its own
    * caches or unfinished graft results must release per-frame
    * (`df.unpersist()`) instead of calling this.
    */
  def releaseIntermediates(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }
}

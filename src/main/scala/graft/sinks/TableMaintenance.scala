package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Table-maintenance operations a 100 TB parquet lake runs on a schedule:
  * zone-map-friendly sorted writes and small-file compaction.
  *
  * Both exist because the read path's cheapest win is SKIPPING: parquet
  * footers carry per-column min/max, and Spark prunes row groups (and
  * whole files, via footer ranges) when a filter falls outside them. A
  * table written in arrival order interleaves every key everywhere — the
  * stats cover the full domain and prune nothing. Range-partitioned,
  * sorted-within-partition layout gives each file a disjoint key slice,
  * so a point or range predicate touches O(matching files) instead of
  * O(table). The reference leans on exactly this shape via PostgreSQL
  * b-tree indexes on every fact table (db.go:394-524 `CREATE INDEX`
  * statements); a lake gets the same effect from physical layout.
  *
  * All I/O goes through the Hadoop FileSystem API. Every managed write
  * publishes through [[ManifestCommit.publish]] — immutable generation
  * dirs plus a single small manifest flip — so its crash guarantee
  * ("whole table at either generation") holds on object stores too, where
  * directory renames are non-atomic copies. [[read]] resolves the
  * manifest when one exists and falls back to a plain directory read
  * otherwise, so both layouts are served by one call. Merge-sink tables
  * ([[ParquetMergeSink.isSinkTable]]) are refused by [[deleteWhere]] and
  * every whole-table rewrite: their merges place and rewrite their files.
  */
object TableMaintenance {

  /** Write `df` range-partitioned and sorted by `keys` into `numFiles`
    * files. `repartitionByRange` samples key quantiles so files get
    * near-equal row counts even under key skew (a hash layout would need
    * salting; a naive fixed-split layout would hotspot). After this
    * write, every output file owns a disjoint `keys` range — the
    * zone-map layout.
    */
  def writeSorted(df: DataFrame, path: String, numFiles: Int,
      keys: Seq[String]): Unit =
    df.repartitionByRange(numFiles, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Z-order (Morton-interleaved) clustered write: multi-column skipping
    * from ONE physical layout. [[writeSorted]] concentrates its whole bit
    * budget on the leading key — a predicate on any later key scans every
    * file. Interleaving the keys' bits spends the budget evenly: with two
    * keys and F files, each file covers ~1/√F of EACH key's domain, so a
    * selective predicate on EITHER key (or both) prunes most files from
    * footer stats alone. That is the right trade for fact tables queried
    * along several independent dimensions (order id, part id, date…) —
    * the lake-layout analog of multiple b-tree indexes, for the price of
    * one sort. Linear sort still wins when one key dominates the
    * workload; see the spec for the measured pruning contrast.
    *
    * Mechanics (all scale-safe): each key is bucketed into `2^bitsPerKey`
    * quantile bins, and the bucket ids' bits interleave into one long
    * z-value that orders the rows within each file. The bin boundaries
    * and the `numFiles - 1` file boundaries come from ONE fixed-seed
    * sample of about [[SampleRows]] rows, [[fixedSample]] (exact
    * quantiles for the bins; the sampled rows' z-value quantiles,
    * snapped to z-cell edges by [[zCuts]], for the files), so skewed
    * keys still spread evenly and
    * files get near-equal row counts; they ship as plan
    * literals, and each row goes straight to its file's partition
    * (`repartitionById`). The layout is a function of the input alone:
    * `approxQuantile`'s sketches can merge in whatever order the shuffle
    * delivers them, and `repartitionByRange` seeds its sampler with the
    * RDD id — i.e. with how many RDDs the session made before — so with
    * either the same table could land in different files. The
    * z column is dropped before the write; the layout, not the schema,
    * carries it.
    */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
      keys: Seq[String], bitsPerKey: Int = 8): Unit =
    zOrdered(df, numFiles, keys, bitsPerKey)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** `df` in [[writeZOrdered]]'s layout: `numFiles` partitions, each
    * sorted by z-value. Samples `df` now; the frame it returns is lazy.
    */
  private def zOrdered(df: DataFrame, numFiles: Int, keys: Seq[String],
      bitsPerKey: Int): DataFrame = {
    require(keys.nonEmpty && bitsPerKey * keys.size <= 62,
      s"z budget too wide: ${keys.size} keys × $bitsPerKey bits")
    val zcol = "__graft_z"
    val fileCol = "__graft_file"
    val keyFrame = df.select(keys.map(k => col(k).cast("double").as(k)): _*)
    val sample = fixedSample(keyFrame, keyFrame.count())
    // Duplicated quantiles (heavy hitters) just merge bins.
    val bins = keys.indices.map(i => quantiles(
      sample.filterNot(_.isNullAt(i)).map(_.getDouble(i)),
      1 << bitsPerKey)(Ordering.Double.TotalOrdering))
    // the sampled rows' z-values, from the same expression the write uses
    val sampleZ = zOrderValue(df.sparkSession.createDataFrame(
        sample.asJava, keyFrame.schema), keys, bins, bitsPerKey, zcol)
      .select(zcol).collect().map(_.getLong(0)).toSeq
    zOrderValue(df, keys, bins, bitsPerKey, zcol)
      .withColumn(fileCol,
        rankIn(typedLit(zCuts(sampleZ, numFiles)), col(zcol)))
      .repartitionById(numFiles, col(fileCol))
      .sortWithinPartitions(col(zcol))
      .drop(zcol, fileCol)
  }

  /** About [[SampleRows]] rows of `df` in ONE fixed-seed draw, its
    * fraction sized from `rows`, the row count of the snapshot `df`
    * reads: a function of the input alone, so the layouts cut from it
    * are too. [[writeZOrdered]] takes its bin and file boundaries from it
    * (counting `df`), the stream replay's split layout its file cuts
    * (from the source's parquet footers).
    */
  private[graft] def fixedSample(df: DataFrame, rows: Long): Seq[Row] =
    df.sample(withReplacement = false,
      math.min(1.0, SampleRows.toDouble / math.max(rows, 1L)), seed = 0L)
      .collect().toSeq
  private val SampleRows = 1 << 16

  /** The `n - 1` boundaries that cut `xs` into `n` equal-count runs. */
  private[graft] def quantiles[T: Ordering](xs: Seq[T], n: Int): Seq[T] = {
    val sorted = xs.sorted
    if (sorted.isEmpty) Nil else (1 until n).map(i => sorted(i * sorted.size / n))
  }

  /** The `n - 1` file cuts over the sampled z-values `zs`: each
    * equal-count quantile snapped to the value with the most trailing zero
    * bits among the z-values within [[ZCutWindow]] of a file's share of
    * sample ranks on either side of it. A cut that falls inside a z-cell
    * leaves a file whose z-range straddles the cell boundary, and its
    * footer min/max then span both sides of it — up to a whole key's
    * domain when the boundary is a top-level quadrant's (seen at sf0.1: a
    * 5% `l_orderkey` slice touched 10 of 16 files). A cut at `hi >> b << b`,
    * where `b` is the highest bit in which the window's ends `lo` and `hi`
    * differ, is the start of the coarsest z-cell that begins inside the
    * window, so the files on either side of it split along that cell's
    * edge. The windows do not overlap, so the cuts stay ascending; each
    * moves at most `1 / ZCutWindow` of a file's share of rows.
    */
  private def zCuts(zs: Seq[Long], n: Int): Seq[Long] = {
    val sorted = zs.sorted.toIndexedSeq
    val w = sorted.size / (ZCutWindow * n)
    if (sorted.isEmpty) Nil else (1 until n).map { i =>
      val r = i * sorted.size / n
      val lo = sorted(math.max(0, r - w))
      val hi = sorted(math.min(sorted.size - 1, r + w))
      val b = 63 - java.lang.Long.numberOfLeadingZeros(lo ^ hi) // -1 when lo == hi
      if (b < 0) hi else hi >> b << b
    }
  }

  /** How far [[zCuts]] may move a cut: `1 / ZCutWindow` of a file's
    * share of rows either way.
    */
  private val ZCutWindow = 4

  /** How many of the ascending `bounds` (an array literal) are ≤ `x`:
    * the bin or file `x` falls in. A null `x` ranks 0 (sorts first, still
    * pruned).
    */
  private def rankIn(bounds: Column, x: Column): Column =
    coalesce(size(filter(bounds, b => b <= x)), lit(0))

  /** `df` plus the interleaved z-value of its `keys` over the per-key
    * bin boundaries `bins`.
    */
  private def zOrderValue(df: DataFrame, keys: Seq[String],
      bins: Seq[Seq[Double]], bitsPerKey: Int, zcol: String): DataFrame = {
    val bucketCols = keys.zip(bins).map { case (k, bnds) =>
      rankIn(typedLit(bnds), col(k).cast("double")).cast("long")
    }
    val z = (0 until bitsPerKey).foldLeft(lit(0L)) { (acc, bit) =>
      bucketCols.zipWithIndex.foldLeft(acc) { case (a, (bc, ki)) =>
        // bit `bit` of key ki lands at interleaved position
        // bit*nKeys + (nKeys-1-ki): earlier keys take the higher slot
        val pos = bit * keys.size + (keys.size - 1 - ki)
        a + shiftleft(shiftright(bc, bit).bitwiseAND(lit(1L)), pos)
      }
    }
    df.withColumn(zcol, z)
  }

  /** Inclusive key range for [[readSkipping]]. Bounds are doubles for a
    * one-type API; integral key stats compare exactly up to 2⁵³ (every
    * practical id space). Use `Double.NegativeInfinity`/`PositiveInfinity`
    * for a half-open range.
    */
  case class KeyRange(key: String, lo: Double, hi: Double)

  private def statsDir(path: String): String =
    new Path(path, "_stats").toString

  /** Build the file-level zone map: one `_stats/` manifest row per data
    * file carrying its row count and per-key footer min/max.
    *
    * Spark already prunes row groups from footer stats — but only after
    * the scan has LISTED and OPENED every file's footer, which at 10⁶
    * files is millions of driver-coordinated object-store reads per
    * query. Delta and Iceberg solve this by keeping per-file stats in the
    * commit log so planning touches one small manifest; this is that
    * design for the plain-directory tables [[writeSorted]] /
    * [[writeZOrdered]] lay out. The footer pass runs ONCE here,
    * distributed (files fan out over executors — the driver never opens a
    * footer), and every later [[readSkipping]] plans from the manifest
    * alone. `_`-prefixed, so data scans never pick the manifest up.
    *
    * Stats columns are typed from the parquet schema: integral keys stay
    * LONG (exact), floating keys DOUBLE. Rebuild after any rewrite —
    * [[readSkipping]] refuses a stale manifest (file-set mismatch) rather
    * than silently returning partial data.
    */
  def writeStatsIndex(spark: SparkSession, path: String,
      keys: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(path)
    val fs = root.getFileSystem(conf.value)
    val files = fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted.toSeq
    require(files.nonEmpty, s"no parquet files under $path")
    // Key types from one footer; integral → LongType, floating → DoubleType.
    val keyTypes: Map[String, DataType] = {
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(root, files.head), conf.value))
      try {
        val schema = rd.getFooter.getFileMetaData.getSchema
        keys.map { k =>
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
          val t = schema.getType(Array(k): _*).asPrimitiveType().getPrimitiveTypeName match {
            case INT32 | INT64 => LongType
            case FLOAT | DOUBLE => DoubleType
            case other => throw new IllegalArgumentException(
              s"zone-map key $k has unsupported parquet type $other")
          }
          k -> t
        }.toMap
      } finally rd.close()
    }
    val schema = StructType(
      StructField("file", StringType, nullable = false) +:
      StructField("rows", LongType, nullable = false) +:
      keys.flatMap(k => Seq(
        StructField(s"min_$k", keyTypes(k), nullable = true),
        StructField(s"max_$k", keyTypes(k), nullable = true))))
    val dirStr = root.toString
    val keysB = keys
    val rows = spark.sparkContext.parallelize(files, math.max(1, files.size / 64))
      .map { name =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(new Path(dirStr), name), conf.value))
        try {
          val blocks = rd.getFooter.getBlocks
          var nRows = 0L
          val mins = collection.mutable.Map[String, Any]()
          val maxs = collection.mutable.Map[String, Any]()
          blocks.forEach { b =>
            nRows += b.getRowCount
            b.getColumns.forEach { c =>
              val k = c.getPath.toDotString
              if (keysB.contains(k) && c.getStatistics != null &&
                  !c.getStatistics.isEmpty) {
                def num(v: Any): Any = v match {
                  case i: java.lang.Integer => i.longValue()
                  case l: java.lang.Long => l
                  case f: java.lang.Float => f.doubleValue()
                  case d: java.lang.Double => d
                  case other => throw new IllegalStateException(
                    s"unsupported stat type ${other.getClass} for $k")
                }
                val mn = num(c.getStatistics.genericGetMin)
                val mx = num(c.getStatistics.genericGetMax)
                def lt(a: Any, b: Any): Boolean = (a, b) match {
                  case (x: Long, y: Long) => x < y
                  case (x: Double, y: Double) => x < y
                  case _ => false
                }
                if (!mins.contains(k) || lt(mn, mins(k))) mins(k) = mn
                if (!maxs.contains(k) || lt(maxs(k), mx)) maxs(k) = mx
              }
            }
          }
          org.apache.spark.sql.Row.fromSeq(
            name +: nRows +: keysB.flatMap(k =>
              Seq(mins.get(k).orNull, maxs.get(k).orNull)))
        } finally rd.close()
      }
    spark.createDataFrame(rows, schema)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(statsDir(path))
  }

  /** Range read planned from the `_stats` zone map: the file list is
    * pruned driver-side from the one-small-file manifest (a file survives
    * only if its [min,max] overlaps EVERY requested range), and the exact
    * predicate is then applied to the surviving rows — the zone map
    * decides what to OPEN, the filter decides what to RETURN, so results
    * are identical to a full scan with the same predicate. Refuses a
    * stale manifest: if the manifest's file set differs from the
    * directory listing, the layout changed after [[writeStatsIndex]] and
    * pruning from it could drop live data.
    */
  def readSkipping(spark: SparkSession, path: String,
      ranges: Seq[KeyRange]): DataFrame = {
    require(ranges.nonEmpty, "readSkipping needs at least one KeyRange")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(statsDir(path))),
      s"no zone map under $path — run writeStatsIndex after the layout write")
    val stats = spark.read.parquet(statsDir(path))
    val listed = fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val indexed = stats.select("file").collect().map(_.getString(0)).toSet
    require(indexed == listed,
      s"stale zone map under $path: ${(indexed diff listed).size} indexed-" +
        s"but-missing, ${(listed diff indexed).size} unindexed files — " +
        "rerun writeStatsIndex after rewrites")
    // A null stat (all-null chunk, or a writer that skipped statistics)
    // means "unknown" — the file must be OPENED, never pruned.
    val keep = ranges.map(r =>
        col(s"max_${r.key}").isNull ||
          (col(s"max_${r.key}") >= r.lo && col(s"min_${r.key}") <= r.hi))
      .reduce(_ && _)
    val survivors = stats.filter(keep).select("file").collect()
      .map(r => new Path(root, r.getString(0)).toString)
    val pred = ranges.map(r => col(r.key) >= r.lo && col(r.key) <= r.hi)
      .reduce(_ && _)
    if (survivors.isEmpty)
      spark.read.parquet(path).filter(lit(false))
    else spark.read.parquet(survivors: _*).filter(pred)
  }

  /** Hive-style directory-partitioned layout (`path/day=2024-05-01/…`) —
    * the canonical shape for date-keyed facts. A scan whose filter hits
    * the partition columns prunes whole directories from the file
    * listing (PartitionFilters in the plan) before reading a byte:
    * the daily-ingest / last-N-days-query pattern touches O(days asked)
    * regardless of table size, and each day's ingest is a pure directory
    * add. Combine with [[writeSorted]] INSIDE each partition (sort the
    * remaining keys) to stack zone-map skipping on top of directory
    * pruning.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)

  /** [[writeSorted]] through the manifest protocol: the refresh job for a
    * MAINTAINED table. A plain `SaveMode.Overwrite` deletes the old data
    * before the new write commits — a reader (or a crash) mid-write sees
    * a missing or partial table. This writes the sorted layout as a new
    * immutable generation and flips the manifest: readers observe the
    * previous or the next table, never a mix, on any store.
    */
  def writeSortedManaged(df: DataFrame, path: String, numFiles: Int,
      keys: Seq[String]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val prev = ManifestCommit.latest(fs, root).map(_.version).getOrElse(0L)
    ManifestCommit.publish(fs, root, prev) { gen =>
      gen.write(df.repartitionByRange(numFiles, keys.map(col): _*)
        .sortWithinPartitions(keys.map(col): _*))
      Map("dir.table" -> gen.name)
    }
  }

  /** The directory the current committed generation lives in — `path`
    * itself for a plain (never-compacted) table.
    */
  def resolveDataDir(spark: SparkSession, path: String): String =
    dataDir(path, head(spark, path))

  private def head(spark: SparkSession, path: String): Option[ManifestCommit.Manifest] = {
    val root = new Path(path)
    ManifestCommit.latest(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** [[resolveDataDir]] as manifest `m` has it. */
  private def dataDir(path: String, m: Option[ManifestCommit.Manifest]): String =
    m.flatMap(_.dirs.get("table")).fold(path)(rel => new Path(new Path(path), rel).toString)

  /** The table at manifest `m` (the plain directory when None), without
    * the rows whose key `m`'s deletion vector ([[deleteWhere]]) lists.
    */
  private def readAt(spark: SparkSession, path: String,
      m: Option[ManifestCommit.Manifest]): DataFrame =
    withoutDeleted(spark, path, m, spark.read.parquet(dataDir(path, m)))

  /** `data` without the rows whose key `m`'s deletion vector lists: the
    * one anti-join every manifest-resolved reader applies.
    */
  private def withoutDeleted(spark: SparkSession, path: String,
      m: Option[ManifestCommit.Manifest], data: DataFrame): DataFrame =
    (for {
      mm <- m
      rel <- mm.dirs.get("deletes")
      key <- mm.entries.get("delete.key")
    } yield {
      val dels = spark.read.parquet(new Path(new Path(path), rel).toString)
      // delete lists are usually tiny next to the table — the file-size
      // stats Spark reads at planning let the anti-join broadcast itself
      data.join(dels, data(key) === dels(key), "left_anti")
    }).getOrElse(data)

  /** Read a maintained table: manifest-resolved when compaction has run,
    * plain directory read before that. Safe on a half-migrated table:
    * generation dirs are `_`-prefixed, which Spark's listing skips, so
    * the plain fallback never mixes layouts. If the manifest carries a
    * deletion vector ([[deleteWhere]]), the deleted keys are anti-joined
    * out here — every manifest-resolved reader sees deletes applied.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readAt(spark, path, head(spark, path))

  /** Row-level delete WITHOUT rewriting data files: a deletion vector.
    *
    * The right-to-be-forgotten shape for a 100 TB corpus table (delete
    * this user's documents / this contaminated source): rewriting every
    * data file that holds a matching row would cost a full-table write
    * per request, so instead the matching KEYS are written as a small
    * parquet list in a new generation dir and the manifest flips to
    * reference it — one small-file commit, data files untouched.
    * [[read]] anti-joins the vector out, so the delete is immediately
    * visible to every manifest-resolved reader; [[compact]] materializes
    * it physically on its next scheduled run and drops the vector.
    * Repeated deletes union cumulatively. This is the Delta/Iceberg
    * deletion-vector architecture on the same [[ManifestCommit]]
    * protocol the rest of the lake uses.
    *
    * TRUE erasure semantics: the delete is logical until compaction.
    * Old manifest versions still reference the pre-delete generation —
    * [[ManifestCommit.rollback]] resurrects it (history is preserved,
    * deliberately). Hard GDPR erasure = [[deleteWhere]] +
    * [[compact]] (physical rewrite) + [[ManifestCommit.vacuum]] down to
    * the post-compaction version, after which no retained manifest can
    * reach the deleted rows.
    *
    * `predicate` is evaluated against the table state the commit is
    * built on (existing deletes applied), and the keys it matches are
    * stored — so the vector stays valid even as later appends reuse
    * nothing of it. Returns the committed manifest version.
    */
  def deleteWhere(spark: SparkSession, path: String, keyCol: String,
      predicate: Column): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = ManifestCommit.latest(fs, root)
    requireSingleTable(path, m, "deleteWhere")
    m.flatMap(_.entries.get("delete.key")).foreach(k => require(k == keyCol,
      s"deleteWhere: $path already carries a deletion vector keyed by " +
        s"'$k'; got '$keyCol' — one key column per table"))
    val newKeys = readAt(spark, path, m).filter(predicate)
      .select(col(keyCol)).distinct()
    val prevKeys = m.flatMap(_.dirs.get("deletes")).map(rel =>
      spark.read.parquet(new Path(root, rel).toString))
    val allKeys = prevKeys.fold(newKeys)(_.union(newKeys).distinct())
    ManifestCommit.publish(fs, root, m.fold(0L)(_.version)) { gen =>
      gen.write(allKeys.coalesce(1))
      m.fold(Map.empty[String, String])(_.entries) - "dir.deletes" ++
        Map("dir.deletes" -> gen.name, "delete.key" -> keyCol)
    }
  }

  /** Whether `m`, not a merge-sink manifest, is a maintained single-table
    * layout: it names at most the table's generation (`dir.table`) and
    * its deletion vector, where a partition-managed one names a dir per
    * partition. The test the catalog and `history` share.
    */
  private[graft] def isSingleTable(m: ManifestCommit.Manifest): Boolean =
    m.dirs.keySet.subsetOf(Set("table", "deletes"))

  /** The guard [[deleteWhere]] and every whole-table rewrite share, run
    * before they touch a file: `m` must be a maintained single-table
    * layout (or absent: a plain directory). A merge-sink table is refused
    * whether or not it holds dirs — its files are placed by key hash and
    * rewritten by its own merges — and so is a partition-managed one.
    */
  private def requireSingleTable(path: String, m: Option[ManifestCommit.Manifest],
      op: String): Unit = m.foreach { mm =>
    require(!ParquetMergeSink.isSinkTable(mm),
      s"$op: $path is a merge-sink table — its merges place its files by " +
        "key hash and rewrite them; maintenance serves maintained " +
        "single-table layouts")
    require(isSingleTable(mm),
      s"$op: $path is partition-managed — $op serves single-table " +
        "layouts; compactPartitioned rewrites partitioned ones")
  }

  private def encPart(name: String): String =
    java.net.URLEncoder.encode(name, "UTF-8")
  private def decPart(key: String): String =
    java.net.URLDecoder.decode(key, "UTF-8")

  /** Read a directory-partitioned table maintained by
    * [[compactPartitioned]]: the union of (a) every partition the current
    * manifest references — grouped by generation so each group reads with
    * `basePath` and keeps its partition column and directory pruning —
    * and (b) any plain `key=value` dirs at the root, which are either
    * not-yet-compacted ingest partitions or late data appended into an
    * already-compacted partition. Ingest keeps writing plain partition
    * dirs exactly as before; compaction absorbs them on its next run.
    */
  def readPartitioned(spark: SparkSession, path: String): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = ManifestCommit.latest(fs, root)
    val entries = m.map(_.dirs).getOrElse(Map.empty)
    val managed = entries.toSeq
      .map { case (k, rel) => (decPart(k), rel) }
      .groupBy(_._2.split("/").head)
      .map { case (gen, parts) =>
        spark.read.option("basePath", new Path(root, gen).toString)
          .parquet(parts.map(p => new Path(root, p._2).toString): _*)
      }.toSeq
    // Plain files, EXCLUDING any an already-committed generation absorbed
    // (they linger only in the crash window between a compaction's commit
    // and its cleanup — reading them would double-count).
    val absorbed: Map[String, Set[String]] =
      m.map(_.entries).getOrElse(Map.empty)
        .collect { case (k, v) if k.startsWith("absorbed.") =>
          decPart(k.stripPrefix("absorbed.")) ->
            v.split(",").filter(_.nonEmpty).toSet
        }
    val plainFiles =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap { d =>
          val skip = absorbed.getOrElse(d.getPath.getName, Set.empty)
          fs.listStatus(d.getPath).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
              !skip.contains(s.getPath.getName))
            .map(_.getPath.toString)
        }
    val plain =
      if (plainFiles.isEmpty) Seq.empty
      else Seq(spark.read.option("basePath", root.toString).parquet(plainFiles: _*))
    val branches = managed ++ plain
    require(branches.nonEmpty, s"readPartitioned: no data at $path")
    branches.reduce(_.unionByName(_))
  }

  /** Compact every partition of a directory-partitioned table toward
    * `targetBytes` per file, committing ALL rewritten partitions in one
    * manifest flip — atomic across partitions, which Hive-style dynamic
    * partition overwrite is not. Only partitions whose current file
    * count exceeds their target are rewritten; the rest carry their
    * manifest entries (or plain dirs) forward untouched, so the nightly
    * run over a years-deep table costs O(recently-ingested partitions).
    * A partition with BOTH a managed generation and late plain data is
    * merged and the plain dir retired after the commit. Returns the
    * partitions rewritten this run.
    */
  def compactPartitioned(spark: SparkSession, path: String, targetBytes: Long,
      sortKeys: Seq[String] = Nil): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = ManifestCommit.latest(fs, root)
    if (manifest.isDefined) ManifestCommit.vacuum(fs, root, keep = 2)
    else fs.listStatus(root).foreach { st =>
      if (st.isDirectory && ManifestCommit.isGeneration(st.getPath.getName))
        fs.delete(st.getPath, true) // crashed-run orphan, unreferenced
    }
    val entries = manifest.map(_.dirs).getOrElse(Map.empty)
    val plainParts = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName)
    val allParts = (entries.keys.map(decPart) ++ plainParts).toSeq.distinct.sorted

    def filesUnder(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet"))

    // Absorbed-file bookkeeping closes the crash window between commit
    // and plain-file cleanup: each commit records exactly WHICH plain
    // files it folded into the new generation (`absorbed.<part>`), so a
    // crash mid-delete can never cause a double-absorb — leftover
    // absorbed files are deleted on sight next run, and only files NOT
    // on the list count as fresh late data.
    val prevEntries = manifest.map(_.entries).getOrElse(Map.empty)
    def absorbedOf(part: String): Set[String] =
      prevEntries.get(s"absorbed.${encPart(part)}")
        .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

    val work = allParts.flatMap { part =>
      val managedDir = entries.get(encPart(part)).map(rel => new Path(root, rel))
      val plainDir = Some(new Path(root, part)).filter(p => fs.exists(p))
      val absorbed = absorbedOf(part)
      // cleanup retry: absorbed files that survived a crashed delete
      plainDir.foreach { p =>
        filesUnder(p).filter(f => absorbed.contains(f.getPath.getName))
          .foreach(f => fs.delete(f.getPath, false))
        if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false)
      }
      val lateFiles = plainDir.toSeq.flatMap(filesUnder)
        .filterNot(f => absorbed.contains(f.getPath.getName))
      val files = managedDir.toSeq.flatMap(filesUnder) ++ lateFiles
      if (files.isEmpty) None
      else {
        val bytes = files.map(_.getLen).sum
        val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        // rewrite when strewn, or whenever late plain data must fold into
        // an existing managed generation (two sources -> one)
        if (files.size > nOut || (managedDir.isDefined && lateFiles.nonEmpty))
          Some((part, managedDir, lateFiles, nOut))
        else None
      }
    }
    if (work.isEmpty) return Seq.empty

    // THE commit: every rewritten partition flips in this one small file
    ManifestCommit.publish(fs, root, manifest.map(_.version).getOrElse(0L)) { gen =>
      work.foreach { case (part, managedDir, lateFiles, nOut) =>
        val srcs = managedDir.map(_.toString).toSeq ++
          lateFiles.map(_.getPath.toString)
        val df = spark.read.parquet(srcs: _*)
        gen.write(if (sortKeys.nonEmpty)
            df.repartitionByRange(nOut, sortKeys.map(col): _*)
              .sortWithinPartitions(sortKeys.map(col): _*)
          else df.repartition(nOut), sub = part)
      }
      val updated = work.flatMap { case (part, _, lateFiles, _) =>
        Seq(s"dir.${encPart(part)}" -> s"${gen.name}/$part") ++
          (if (lateFiles.nonEmpty)
             Seq(s"absorbed.${encPart(part)}" ->
               lateFiles.map(_.getPath.getName).mkString(","))
           else Seq.empty)
      }.toMap
      val carried = prevEntries.filter { case (k, _) =>
        val isDir = k.startsWith("dir.")
        val isAbs = k.startsWith("absorbed.")
        // absorbed markers only carry while their partition's files may
        // still exist; a rewritten partition gets a fresh (or no) marker
        (!isDir && !isAbs && !updated.contains(k)) ||
          (isDir && !updated.contains(k)) ||
          (isAbs && !updated.contains(k) &&
            !updated.contains("dir." + k.stripPrefix("absorbed.")))
      }
      carried ++ updated
    }
    // Absorbed plain files are NOT deleted here: a reader that resolved
    // the PREVIOUS manifest may still have them in its scan plan.
    // They are invisible to readers of the new manifest (absorbed list)
    // and reclaimed by the next run's cleanup retry — the same one-run
    // grace the generation vacuum gives (keep = 2).
    work.map(_._1)
  }

  /** Compact a table toward `targetBytes` per file.
    *
    * Streaming sinks and frequent small merges strew thousands of tiny
    * files; each costs a footer round-trip (catastrophic on object
    * stores) and a scheduler task. Compaction reads the current
    * generation once and rewrites it into `ceil(totalBytes/targetBytes)`
    * files — sorted by `sortKeys` when given, so compaction doubles as
    * the zone-map restore. The rewrite lands in a NEW immutable
    * generation dir and is published by a one-small-file manifest commit:
    * a crash mid-compaction leaves readers on the old generation (the
    * orphan dir is vacuumed on the next run), never a mix. The first
    * compaction of a plain directory migrates it to the managed layout
    * and removes the superseded top-level files after the commit.
    * Returns the output file count.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long,
      sortKeys: Seq[String] = Nil): Int = {
    val (m, dataFiles) = preRewrite(spark, path, "compact")
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    // [[readAt]] applies any committed deletion vector, so compaction
    // MATERIALIZES pending deletes: the new generation holds surviving
    // rows only and the fresh manifest drops the vector entries.
    val df = readAt(spark, path, m)
    val shaped =
      if (sortKeys.nonEmpty)
        df.repartitionByRange(nOut, sortKeys.map(col): _*)
          .sortWithinPartitions(sortKeys.map(col): _*)
      else df.repartition(nOut)
    commitRewrite(spark, path, m, shaped, Map.empty)
    nOut
  }

  /** [[writeSorted]]'s layout applied to a MANAGED table in place: the
    * current table (deletion vectors materialize — [[read]] applies
    * them) rewrites as one new immutable generation of `numFiles`
    * range-partitioned key-sorted files and the manifest flips — the
    * scheduled zone-map-restore job, now callable where compaction is.
    * The manifest records the layout (`layout=sorted(keys)`), so
    * `history` shows WHICH physical order each generation carries.
    * Returns the committed version.
    */
  def sortManaged(spark: SparkSession, path: String, numFiles: Int,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "sortManaged needs at least one key")
    val (m, _) = preRewrite(spark, path, "sort")
    val shaped = readAt(spark, path, m)
      .repartitionByRange(numFiles, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
    commitRewrite(spark, path, m, shaped,
      Map("layout" -> s"sorted(${keys.mkString(",")})"))
  }

  /** [[writeZOrdered]] applied to a MANAGED table in place — the
    * multi-dimension clustering rewrite under the same manifest commit
    * as [[sortManaged]]. Returns the committed version.
    */
  def zorderManaged(spark: SparkSession, path: String, numFiles: Int,
      keys: Seq[String], bitsPerKey: Int = 8): Long = {
    val (m, _) = preRewrite(spark, path, "zorder")
    commitRewrite(spark, path, m, zOrdered(readAt(spark, path, m), numFiles, keys, bitsPerKey),
      Map("layout" -> s"zorder(${keys.mkString(",")})"))
  }

  /** [[writeStatsIndex]] over a managed table's CURRENT generation: the
    * `_stats` zone-map manifest lands inside the generation dir, so it
    * shares the generation's immutability and lifecycle (a later rewrite
    * makes a new generation; vacuum reclaims the old one with its
    * stats). Serve range reads with [[readSkippingManaged]]. Returns the
    * number of files indexed.
    */
  def statsIndexManaged(spark: SparkSession, path: String,
      keys: Seq[String]): Int = {
    require(keys.nonEmpty, "statsIndexManaged needs at least one key")
    val (m, dataFiles) = preRewrite(spark, path, "stats_index")
    writeStatsIndex(spark, dataDir(path, m), keys)
    dataFiles.size
  }

  /** [[readSkipping]] against a managed table's current generation (the
    * layout [[statsIndexManaged]] indexed). Deletion vectors committed
    * AFTER the index was built still apply — same anti-join as [[read]].
    */
  def readSkippingManaged(spark: SparkSession, path: String,
      ranges: Seq[KeyRange]): DataFrame = {
    val m = head(spark, path)
    withoutDeleted(spark, path, m, readSkipping(spark, dataDir(path, m), ranges))
  }

  /** Guards + debris reclamation shared by every whole-table managed
    * rewrite ([[compact]] / [[sortManaged]] / [[zorderManaged]]; also
    * the pre-flight for [[statsIndexManaged]]): refuses merge-sink,
    * partition-managed and directory-partitioned layouts, reclaims
    * crashed-run orphans and post-grace migration debris, and returns
    * the head manifest — the one the rewrite reads and commits against —
    * and its data files, so callers can size output.
    */
  private def preRewrite(spark: SparkSession, path: String, op: String)
      : (Option[ManifestCommit.Manifest], Seq[org.apache.hadoop.fs.FileStatus]) = {
    val root = new Path(path)
    val fs: FileSystem =
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = ManifestCommit.latest(fs, root)
    // A merge-sink or partition-managed table's generations are live data
    // this method must never touch (and dataDir would misread them as
    // plain). A crashed previous rewrite leaves an orphan generation that
    // no manifest references; reclaim it before writing the next one. On
    // a managed table, top-level plain files are migration debris: their
    // rows live in the committed generation, and they have now had a
    // full rewrite interval of grace for readers that were mid-scan
    // when the migration committed — reclaim them too.
    requireSingleTable(path, manifest, op)
    if (manifest.exists(_.dirs.contains("table"))) {
      ManifestCommit.vacuum(fs, root, keep = 2)
      fs.listStatus(root).foreach { st =>
        if (st.isFile && (st.getPath.getName.endsWith(".parquet") ||
            st.getPath.getName == "_SUCCESS"))
          fs.delete(st.getPath, false)
      }
    } else if (manifest.isEmpty) fs.listStatus(root).foreach { st =>
      if (st.isDirectory && ManifestCommit.isGeneration(st.getPath.getName))
        fs.delete(st.getPath, true)
    }
    val entries = fs.listStatus(new Path(dataDir(path, manifest)))
    val dataFiles = entries
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    // A directory-partitioned table (day=… subdirs) has no top-level data
    // files: rewriting it here would funnel everything into ONE
    // unpartitioned layout and silently destroy the pruning layout.
    if (dataFiles.isEmpty && entries.exists(s =>
        s.isDirectory && s.getPath.getName.contains("=")))
      throw new IllegalArgumentException(
        s"$op: $path is directory-partitioned — use compactPartitioned, " +
          "which rewrites strewn partitions and commits them atomically")
    (manifest, dataFiles.toSeq)
  }

  /** Write `shaped` as the next immutable generation and flip the
    * manifest — THE commit: readers resolve to the new generation from
    * that point on and never observe a partial table. It commits against
    * `read`, the manifest [[preRewrite]] read and `shaped` was built
    * from, so a write that landed since (a [[deleteWhere]]) fails it
    * loudly instead of being silently undone. First-migration plain files
    * are NOT deleted here (a plain reader that listed the directory
    * before the commit may still be scanning them); the next rewrite
    * reclaims them after a full interval of grace ([[preRewrite]]).
    * Returns the committed version.
    */
  private def commitRewrite(spark: SparkSession, path: String,
      read: Option[ManifestCommit.Manifest], shaped: DataFrame,
      extraEntries: Map[String, String]): Long = {
    val root = new Path(path)
    ManifestCommit.publish(root.getFileSystem(spark.sparkContext.hadoopConfiguration),
        root, read.fold(0L)(_.version)) { gen =>
      gen.write(shaped)
      extraEntries + ("dir.table" -> gen.name)
    }
  }
}

package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class TableMaintenanceSpec extends SparkSpec {

  private def tmpDir(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString + "/t"

  /** (min, max) of bigint column `column` per parquet file under `dir`,
    * straight from the footer statistics — what the scan's row-group
    * pruning reads.
    */
  private def footerRanges(dir: String, column: String): Seq[(Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    fs.listStatus(new Path(dir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .toSeq
      .map { s =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(s.getPath, conf))
        try {
          val blocks = reader.getFooter.getBlocks
          var mn = Long.MaxValue
          var mx = Long.MinValue
          blocks.forEach { b =>
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == column) {
                val st = c.getStatistics
                mn = math.min(mn, st.genericGetMin.asInstanceOf[Long])
                mx = math.max(mx, st.genericGetMax.asInstanceOf[Long])
              }
            }
          }
          (mn, mx)
        } finally reader.close()
      }
  }

  test("writeSorted lays out disjoint key ranges (zone-map contract)") {
    val out = tmpDir("sorted")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    TableMaintenance.writeSorted(ev, out, numFiles = 4, keys = Seq("user_id"))

    val ranges = footerRanges(out, "user_id").sortBy(_._1)
    assert(ranges.size === 4, s"expected 4 files, got ${ranges.size}")
    // every file owns a disjoint user_id slice → a point predicate can
    // skip all but one file on footer stats alone
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi <= lo, s"overlapping file ranges: hi=$hi lo=$lo")
      case _ =>
    }
    // and the table is byte-for-byte the same data
    val back = spark.read.parquet(out)
    assert(back.count() === ev.count())
    assert(back.agg(sum("event_id")).head.getLong(0) ===
      ev.agg(sum("event_id")).head.getLong(0))
  }

  test("writeZOrdered prunes on BOTH keys where a linear sort serves one") {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val linear = tmpDir("zlin")
    val zed = tmpDir("zord")
    val files = 16
    TableMaintenance.writeSorted(li, linear, files, Seq("l_orderkey"))
    TableMaintenance.writeZOrdered(li, zed, files,
      Seq("l_orderkey", "l_partkey"))

    // a ~5%-of-domain slice per key, from real quantiles
    def slice(k: String): (Long, Long) = {
      val Array(lo, hi) = li.stat.approxQuantile(k, Array(0.50, 0.55), 0.0)
      (lo.toLong, hi.toLong)
    }
    // files whose footer [min,max] intersects the slice = files a
    // row-group-pruning scan must touch
    def touched(dir: String, k: String, lo: Long, hi: Long): Int =
      footerRanges(dir, k).count { case (mn, mx) => mx >= lo && mn <= hi }

    val (plo, phi) = slice("l_partkey")
    val (olo, ohi) = slice("l_orderkey")
    // linear layout: the secondary key is shredded across every file
    assert(touched(linear, "l_partkey", plo, phi) >= files - 2)
    // z-order: BOTH keys prune — each file covers ~a quarter of each
    // domain, so a 5% slice touches about a quarter of the files
    assert(touched(zed, "l_partkey", plo, phi) <= files / 2)
    assert(touched(zed, "l_orderkey", olo, ohi) <= files / 2)
    // and the table content is unchanged
    val back = spark.read.parquet(zed)
    assert(back.count() === li.count())
    assert(back.agg(sum("l_orderkey")).head.getLong(0) ===
      li.agg(sum("l_orderkey")).head.getLong(0))
  }

  test("writeZOrdered cuts files on z-cell edges, so no file straddles a quadrant") {
    // a 64×64 grid plus one extra row per x on the shifted diagonal
    // (x, x+32 mod 64): both keys stay uniform, so with 6 bits per key
    // every value is its own bin, but the extra rows shift the
    // equal-count file cuts off the 16×16 cells' edges
    val grid = spark.range(64 * 64)
      .select((col("id") / 64).cast("long").as("x"), (col("id") % 64).as("y"))
    val diagonal = spark.range(64)
      .select(col("id").as("x"), ((col("id") + 32) % 64).as("y"))
    val df = grid.union(diagonal)
    val out = tmpDir("zcell")
    val files = 16
    TableMaintenance.writeZOrdered(df, out, files, Seq("x", "y"), bitsPerKey = 6)
    // 16 files over two keys: each file is one 16×16 z-cell, so its
    // footer spans a quarter of each key's domain; a file cut inside a
    // cell straddles the edge and spans twice that
    for (k <- Seq("x", "y")) {
      val ranges = footerRanges(out, k)
      assert(ranges.size === files)
      ranges.foreach { case (mn, mx) =>
        assert(mx - mn + 1 <= 64 / 4, s"a file spans $k $mn..$mx")
      }
    }
    val back = spark.read.parquet(out)
    assert(back.count() === df.count())
    assert(back.agg(sum("y")).head.getLong(0) === df.agg(sum("y")).head.getLong(0))
  }

  test("zone-map manifest: readSkipping prunes the file LIST and returns the exact slice") {
    val out = tmpDir("zmap")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val files = 16
    TableMaintenance.writeZOrdered(li, out, files, Seq("l_orderkey", "l_partkey"))
    TableMaintenance.writeStatsIndex(spark, out, Seq("l_orderkey", "l_partkey"))

    // one manifest row per data file, rows accounted exactly
    val stats = spark.read.parquet(out + "/_stats")
    assert(stats.count() === files.toLong)
    assert(stats.agg(sum("rows")).head.getLong(0) === li.count())

    // a ~5% slice on EACH key
    def slice(k: String): (Double, Double) = {
      val Array(lo, hi) = li.stat.approxQuantile(k, Array(0.50, 0.55), 0.0)
      (lo, hi)
    }
    val (plo, phi) = slice("l_partkey")
    val (olo, ohi) = slice("l_orderkey")
    val ranges = Seq(
      TableMaintenance.KeyRange("l_orderkey", olo, ohi),
      TableMaintenance.KeyRange("l_partkey", plo, phi))
    val skipped = TableMaintenance.readSkipping(spark, out, ranges)
    // the 2-D predicate over the z-layout must prune MOST files — count
    // the files the skipping plan actually reads
    val readFiles = skipped.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.length
      }.get
    assert(readFiles <= files / 2,
      s"zone map pruned nothing: $readFiles of $files files read")
    // and the result is EXACTLY the full-scan slice
    val full = li.filter(
      col("l_orderkey") >= olo && col("l_orderkey") <= ohi &&
        col("l_partkey") >= plo && col("l_partkey") <= phi)
    assert(skipped.count() === full.count())
    assert(math.abs(skipped.agg(sum("l_quantity")).head.getDouble(0) -
      full.agg(sum("l_quantity")).head.getDouble(0)) < 1e-6)

    // an out-of-domain range prunes everything and returns zero rows
    val none = TableMaintenance.readSkipping(spark, out,
      Seq(TableMaintenance.KeyRange("l_orderkey", -100, -1)))
    assert(none.count() === 0L)

    // an appended (unindexed) file invalidates the manifest loudly
    // instead of being silently excluded from pruned reads
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aFile = fs.listStatus(new Path(out))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, aFile, fs,
      new Path(out, "part-appended.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    val e = intercept[IllegalArgumentException] {
      TableMaintenance.readSkipping(spark, out, ranges)
    }
    assert(e.getMessage.contains("stale zone map"))

    // a full rewrite wipes the manifest with the data — the reader
    // demands a fresh writeStatsIndex rather than planning blind
    TableMaintenance.writeZOrdered(li, out, files / 2, Seq("l_orderkey", "l_partkey"))
    val e2 = intercept[IllegalArgumentException] {
      TableMaintenance.readSkipping(spark, out, ranges)
    }
    assert(e2.getMessage.contains("no zone map"))
  }

  test("writePartitioned prunes directories on a partition-key predicate") {
    val out = tmpDir("part")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    TableMaintenance.writePartitioned(ev, out, Seq("day"))
    val days = ev.select("day").distinct().collect().map(_.getString(0)).sorted
    assert(days.length > 1, "need multiple partitions to prove pruning")

    val q = spark.read.parquet(out).filter(col("day") === days.head)
    // the predicate must land in PartitionFilters (directory pruning),
    // not PushedFilters (row-group skipping after listing everything)
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("day"),
      s"partition predicate did not reach PartitionFilters:\n$scan")
    // and the pruned read returns exactly that day's rows
    val expected = ev.filter(col("day") === days.head).count()
    assert(q.count() === expected)
  }

  test("compact refuses a directory-partitioned table instead of flattening it") {
    val out = tmpDir("partguard")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    TableMaintenance.writePartitioned(ev, out, Seq("day"))
    val e = intercept[IllegalArgumentException] {
      TableMaintenance.compact(spark, out, targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("partition"))
    // and the table is untouched
    assert(spark.read.parquet(out).count() === ev.count())
  }

  test("a crashed compaction (generation written, manifest not) is invisible and reclaimed") {
    val out = tmpDir("recover")
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("value"))
    ev.repartition(4).write.parquet(out)
    // simulate the crash window: a compaction wrote its generation dir in
    // full but died before the manifest commit — readers must still see
    // the old table, and the orphan must be cleaned up by the next run
    val half = spark.read.parquet(out).limit(10)
    half.write.parquet(out + "/_g1-deadbeef")
    assert(TableMaintenance.read(spark, out).count() === ev.count(),
      "an uncommitted generation must be invisible to readers")
    assert(spark.read.parquet(out).count() === ev.count(),
      "plain reads must skip _-prefixed generation dirs entirely")
    val n = TableMaintenance.compact(spark, out, targetBytes = 1L << 30)
    assert(n === 1)
    assert(TableMaintenance.read(spark, out).count() === ev.count(),
      "compaction after a crash must start from the committed data, not the orphan")
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(out, "_g1-deadbeef")),
      "the orphan generation must be reclaimed")
  }

  test("compact merges a strewn table into target-size files via a manifest flip") {
    val out = tmpDir("compact")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    // simulate a streaming sink's debris: 32 tiny files
    ev.repartition(32).write.parquet(out)
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fs.listStatus(new Path(out))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(before === 32)

    val n = TableMaintenance.compact(spark, out, targetBytes = 1L << 30,
      sortKeys = Seq("user_id"))
    assert(n === 1, s"tiny table should compact to one file, got $n")
    val dataDir = TableMaintenance.resolveDataDir(spark, out)
    assert(dataDir != out, "compaction must publish a managed generation")
    val after = fs.listStatus(new Path(dataDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(after.length === 1)
    // content identical and the zone-map restored (sorted by user_id)
    val back = TableMaintenance.read(spark, out)
    assert(back.count() === ev.count())
    assert(back.agg(sum("event_id")).head.getLong(0) ===
      ev.agg(sum("event_id")).head.getLong(0))
    // the superseded plain files SURVIVE the migrating commit (a plain
    // reader that listed the dir pre-commit may still be scanning them)…
    assert(fs.listStatus(new Path(out))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet")) === 32,
      "migration must leave the superseded plain files for in-flight readers")
    // …and the NEXT run reclaims them after a full interval of grace
    TableMaintenance.compact(spark, out, targetBytes = 1L << 30,
      sortKeys = Seq("user_id"))
    assert(fs.listStatus(new Path(out))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet")) === 0,
      "the following compaction must reclaim the migration debris")
    assert(TableMaintenance.read(spark, out).count() === ev.count())
  }

  test("schema evolution: a column-added ingest generation reads back merged") {
    // The reference versions its store schema with sql-migrations/; a
    // parquet lake evolves per-file — each ingest generation may add
    // columns, and mergeSchema unifies them at read time with nulls for
    // files written before the column existed.
    val out = tmpDir("evolve")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    val days = ev.select("day").distinct().orderBy("day")
      .collect().map(_.getString(0))
    val (oldDays, newDay) = (days.init.toSet, days.last)
    // generation 1: the original schema, all but the last day
    TableMaintenance.writePartitioned(
      ev.filter(col("day").isin(oldDays.toSeq: _*)), out, Seq("day"))
    // generation 2: a later ingest adds a quality-score column — a pure
    // directory add, exactly how the daily pipeline ships schema change
    ev.filter(col("day") === newDay)
      .withColumn("quality", col("value") * 2)
      .write.mode("append").partitionBy("day").parquet(out)

    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.contains("quality"),
      "merged schema must surface the added column")
    assert(merged.count() === ev.count())
    // rows from before the column existed read as null, new rows carry it
    assert(merged.filter(col("day") =!= newDay)
      .filter(col("quality").isNotNull).count() === 0)
    val newRows = merged.filter(col("day") === newDay)
    assert(newRows.filter(col("quality").isNull).count() === 0)
    assert(newRows.filter(col("quality") =!= col("value") * 2).count() === 0)
    // directory pruning survives schema merge: day predicates still land
    // in PartitionFilters, so old-generation files are never even listed
    val q = merged.filter(col("day") === newDay)
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("day"),
      s"schema-merged read lost partition pruning:\n$scan")
  }

  test("compactPartitioned: strewn partitions compact atomically, content and pruning intact") {
    val out = tmpDir("pcompact")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    // strewn ingest: many small files inside each day partition
    ev.repartition(8).write.partitionBy("day").parquet(out)
    val total = ev.count()
    val days = ev.select("day").distinct().count()

    val rewritten = TableMaintenance.compactPartitioned(
      spark, out, targetBytes = 1L << 30, sortKeys = Seq("user_id"))
    assert(rewritten.size === days.toInt,
      s"all $days strewn partitions should compact, got ${rewritten.size}")
    val back = TableMaintenance.readPartitioned(spark, out)
    assert(back.count() === total)
    assert(back.agg(sum("event_id")).head.getLong(0) ===
      ev.agg(sum("event_id")).head.getLong(0))
    // each compacted partition is one file now
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = ManifestCommit.latest(fs, new Path(out)).get
    assert(m.dirs.size === days.toInt)
    m.dirs.values.foreach { rel =>
      val files = fs.listStatus(new Path(new Path(out), rel))
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      assert(files.length === 1, s"$rel not compacted to one file")
    }
    // a day predicate still prunes: only that partition's files are read
    val one = ev.select("day").distinct().orderBy("day").head.getString(0)
    val q = back.filter(col("day") === one)
    assert(q.count() === ev.filter(col("day") === one).count())
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanned.contains("PartitionFilters"),
      s"managed partitioned read lost pruning:\n$scanned")
    // a second run with nothing strewn is a no-op (no new commit)
    val v = m.version
    assert(TableMaintenance.compactPartitioned(spark, out, 1L << 30).isEmpty)
    assert(ManifestCommit.latest(fs, new Path(out)).get.version === v)
  }

  test("compactPartitioned: late plain data folds in once, even across a crashed cleanup") {
    import spark.implicits._
    val out = tmpDir("plate")
    val v1 = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
      (3L, "2024-01-02", 30.0)).toDF("id", "day", "v")
    v1.repartition(4).write.partitionBy("day").parquet(out)
    TableMaintenance.compactPartitioned(spark, out, 1L << 30)
    // late data arrives for an ALREADY-compacted day, via plain append —
    // exactly how the ingest job keeps writing
    Seq((4L, "2024-01-01", 40.0)).toDF("id", "day", "v")
      .write.mode("append").partitionBy("day").parquet(out)
    assert(TableMaintenance.readPartitioned(spark, out).count() === 4,
      "late plain data must be visible before the next compaction")
    val r2 = TableMaintenance.compactPartitioned(spark, out, 1L << 30)
    assert(r2 === Seq("day=2024-01-01"), s"late partition should fold, got $r2")
    val after = TableMaintenance.readPartitioned(spark, out)
    assert(after.count() === 4, "fold must not lose or duplicate late rows")
    assert(after.agg(sum("id")).head.getLong(0) === 10L)

    // simulate the crashed cleanup: re-create an absorbed file by copying
    // the committed manifest's absorbed name back into the plain dir —
    // readers and the next run must NOT double-count it
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = ManifestCommit.latest(fs, new Path(out)).get
    val absorbedKey = m.entries.keys.find(_.startsWith("absorbed.")).get
    val absorbedName = m.entries(absorbedKey).split(",").head
    val plainDir = new Path(out, "day=2024-01-01")
    fs.mkdirs(plainDir)
    // write a file with the absorbed NAME (content irrelevant — the name
    // is the absorption contract)
    Seq((4L, 40.0)).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(out + "/.tmp-resurrect")
    val tmpFile = fs.listStatus(new Path(out + "/.tmp-resurrect"))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    fs.rename(tmpFile, new Path(plainDir, absorbedName))
    fs.delete(new Path(out + "/.tmp-resurrect"), true)
    assert(TableMaintenance.readPartitioned(spark, out).count() === 4,
      "an absorbed leftover must be invisible to readers")
    TableMaintenance.compactPartitioned(spark, out, 1L << 30)
    assert(TableMaintenance.readPartitioned(spark, out).count() === 4,
      "the cleanup retry must delete, not re-absorb, the leftover")
    assert(!fs.exists(new Path(plainDir, absorbedName)))
  }

  test("writeSortedManaged refreshes a table without a readable gap") {
    val out = tmpDir("managed-sorted")
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    TableMaintenance.writeSortedManaged(ev, out, numFiles = 4, keys = Seq("user_id"))
    val first = TableMaintenance.resolveDataDir(spark, out)
    assert(first != out, "managed write must publish a generation")
    // the sorted zone-map contract holds inside the resolved generation
    val ranges = footerRanges(first, "user_id").sortBy(_._1)
    assert(ranges.size === 4)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
    // a refresh flips the manifest; the PREVIOUS generation's files are
    // untouched on disk (readers mid-scan keep a whole table)
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val firstFiles = fs.listStatus(new Path(first))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    TableMaintenance.writeSortedManaged(ev.filter(col("event_id") % 2 === 0),
      out, numFiles = 2, keys = Seq("user_id"))
    assert(TableMaintenance.resolveDataDir(spark, out) != first)
    assert(fs.listStatus(new Path(first))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap === firstFiles,
      "the superseded generation must remain byte-identical for in-flight readers")
    assert(TableMaintenance.read(spark, out).count() ===
      ev.filter(col("event_id") % 2 === 0).count())
    // and one more refresh reclaims the first generation
    TableMaintenance.writeSortedManaged(ev, out, numFiles = 1, keys = Seq("user_id"))
    assert(!fs.exists(new Path(first)), "vacuum must reclaim fully superseded generations")
  }

  test("writeSortedManaged refuses a merge-sink table and changes no file") {
    import spark.implicits._
    val out = tmpDir("managed-sink")
    val rows = (1L to 20L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ver")
    ParquetMergeSink.merge(rows, out, Seq("k"), "ver", nBuckets = 4)
    ParquetMergeSink.merge(rows, out, Seq("k"), "ver", nBuckets = 4) // drains into buckets
    val before = SinkFormats.files(out)
    val e = intercept[IllegalArgumentException](
      TableMaintenance.writeSortedManaged(rows, out, numFiles = 2, keys = Seq("k")))
    assert(e.getMessage.contains("writeSortedManaged") &&
      e.getMessage.contains("is a merge-sink table"), e.getMessage)
    assert(SinkFormats.files(out) === before, "the refusal changed the table's files")
    assert(ParquetMergeSink.read(spark, out).collect().toSet === rows.collect().toSet)
  }

  test("deletion vectors: logical delete, cumulative union, rollback " +
      "resurrection, compaction materialization") {
    val out = tmpDir("delete")
    val root = new Path(out)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    TableMaintenance.writeSorted(ev, out, numFiles = 2, keys = Seq("event_id"))
    val total = ev.count()
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles() = fs.listStatus(root).filter(_.isFile)
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).toSet
    val filesBefore = dataFiles()

    val nU3 = ev.filter(col("user_id") === 3).count()
    assert(nU3 > 0, "test premise: user 3 exists")
    val v1 = TableMaintenance.deleteWhere(spark, out, "event_id",
      col("user_id") === 3)
    val afterDel = TableMaintenance.read(spark, out)
    assert(afterDel.count() === total - nU3)
    assert(afterDel.filter(col("user_id") === 3).count() === 0)
    assert(dataFiles() === filesBefore,
      "a logical delete must not touch data files")

    // second delete unions cumulatively
    TableMaintenance.deleteWhere(spark, out, "event_id", col("user_id") === 5)
    assert(TableMaintenance.read(spark, out)
      .filter(col("user_id").isin(3, 5)).count() === 0)

    // history-preserving rollback resurrects the later delete's rows —
    // the documented GDPR tension: erasure is only final after
    // compact + vacuum
    ManifestCommit.rollback(fs, root, v1)
    val rolledBack = TableMaintenance.read(spark, out)
    assert(rolledBack.filter(col("user_id") === 5).count() > 0)
    assert(rolledBack.filter(col("user_id") === 3).count() === 0)
    TableMaintenance.deleteWhere(spark, out, "event_id", col("user_id") === 5)
    val visible = TableMaintenance.read(spark, out).count()

    // one vector key column per table, enforced loudly
    intercept[IllegalArgumentException] {
      TableMaintenance.deleteWhere(spark, out, "user_id", col("value") < 0)
    }

    // compact materializes: same visible rows, vector entries dropped,
    // deleted rows physically absent from the new generation
    TableMaintenance.compact(spark, out, targetBytes = 1L << 30)
    val m = ManifestCommit.latest(fs, root).get
    assert(!m.dirs.contains("deletes") && !m.entries.contains("delete.key"))
    assert(TableMaintenance.read(spark, out).count() === visible)
    val raw = spark.read.parquet(TableMaintenance.resolveDataDir(spark, out))
    assert(raw.filter(col("user_id").isin(3, 5)).count() === 0,
      "compaction must materialize the deletion vector physically")
  }

  test("repeated compaction retains a bounded set of generations") {
    val out = tmpDir("regen")
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("user_id"))
    ev.repartition(8).write.parquet(out)
    TableMaintenance.compact(spark, out, targetBytes = 1L << 30, Seq("user_id"))
    TableMaintenance.compact(spark, out, targetBytes = 1L << 30, Seq("user_id"))
    TableMaintenance.compact(spark, out, targetBytes = 1L << 30, Seq("user_id"))
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new Path(out))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_g"))
    assert(gens.length <= 2,
      s"vacuum must bound retained generations, found ${gens.length}")
    assert(TableMaintenance.read(spark, out).count() === ev.count())
  }
}

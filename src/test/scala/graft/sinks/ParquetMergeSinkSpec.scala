package graft.sinks

import graft.SparkSpec

class ParquetMergeSinkSpec extends SparkSpec {
  import spark.implicits._

  test("merge is an idempotent latest-wins upsert") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString + "/t"
    val b1 = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver")
    ParquetMergeSink.merge(b1, dir, Seq("k"), "ver")
    assert(ParquetMergeSink.read(spark, dir).count() === 2)

    // newer version wins, older is ignored, replay is a no-op
    val b2 = Seq((1L, "a2", 20L), (3L, "c", 5L)).toDF("k", "v", "ver")
    ParquetMergeSink.merge(b2, dir, Seq("k"), "ver")
    ParquetMergeSink.merge(b2, dir, Seq("k"), "ver") // replay
    val rows = ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> (r.getAs[String]("v"), r.getAs[Long]("ver"))).toMap
    assert(rows === Map(1L -> ("a2", 20L), 2L -> ("b", 10L), 3L -> ("c", 5L)))

    val b3 = Seq((1L, "stale", 1L)).toDF("k", "v", "ver")
    ParquetMergeSink.merge(b3, dir, Seq("k"), "ver")
    val after = ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(after(1L) === "a2", "stale version must not overwrite")
  }

  test("merge rewrites only buckets containing conflicting keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-part").toString + "/t"
    // enough keys that all 4 buckets are populated
    val b1 = (1L to 40L).map(k => (k, s"v$k", 10L)).toDF("k", "v", "ver")
    // the first batch appends one segment; its replay drains it into buckets
    ParquetMergeSink.merge(b1, dir, Seq("k"), "ver", nBuckets = 4)
    ParquetMergeSink.merge(b1, dir, Seq("k"), "ver", nBuckets = 4)

    def fileState(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getParentFile.getName.endsWith("=-1")) // the drained segment
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified()))
        .toMap
    }
    val before = fileState()
    assert(before.keys.map(p => p.split("/").find(_.startsWith("__bucket=")).get).toSet.size === 4)

    // a single-key batch must only rewrite that key's bucket
    val b2 = Seq((7L, "v7-new", 20L)).toDF("k", "v", "ver")
    ParquetMergeSink.merge(b2, dir, Seq("k"), "ver", nBuckets = 4)
    val after = fileState()

    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val touchedBucket = "__bucket=" + Seq(7L).toDF("k")
      .select(pmod(xxhash64($"k"), lit(4)).cast("int")).head.getInt(0)
    val untouchedBefore = before.filterNot(_._1.contains(touchedBucket))
    val untouchedAfter = after.filterNot(_._1.contains(touchedBucket))
    assert(untouchedBefore === untouchedAfter,
      "files in buckets without conflicting keys must be byte-identical (same path, size, mtime)")
    assert(before.keys.exists(_.contains(touchedBucket)) &&
      after.filter(_._1.contains(touchedBucket)) != before.filter(_._1.contains(touchedBucket)),
      "the conflicting bucket must actually be rewritten")

    val rows = ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(rows.size === 40 && rows(7L) === "v7-new" && rows(8L) === "v8")
  }

  test("a multi-bucket merge commits atomically: one manifest flip covers all buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-atomic").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the first batch appends one segment; its replay drains it into buckets
    (1 to 2).foreach(_ => ParquetMergeSink.merge(
      (1L to 40L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4))
    val v1 = ManifestCommit.latest(fs, new org.apache.hadoop.fs.Path(dir)).get
    assert(v1.dirs.keySet === Set("0", "1", "2", "3"), v1.dirs)
    // second merge touches ALL buckets; exactly ONE new manifest version
    // appears, and every touched bucket's entry moves in that single flip
    ParquetMergeSink.merge(
      (1L to 40L).map(k => (k, s"w$k", 2L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    val v2 = ManifestCommit.latest(fs, new org.apache.hadoop.fs.Path(dir)).get
    assert(v2.version === v1.version + 1)
    assert(v2.dirs.keySet === v1.dirs.keySet)
    assert(v2.dirs.forall { case (b, rel) => v1.dirs(b) != rel },
      "all four bucket entries must flip in one manifest commit")
    // data generations are immutable: nothing the old manifest referenced
    // was overwritten (readers of v1 mid-merge were never disturbed)
    val rows = ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(rows === (1L to 40L).map(k => k -> s"w$k").toMap)
  }

  test("streaming foreachBatch drives the merge sink end to end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-stream").toString + "/t"
    val input = MemoryStream[(Long, String, Long)]
    input.addData((1L, "a1", 10L), (2L, "b1", 10L))
    input.addData((1L, "a2", 20L), (3L, "c1", 10L)) // update + insert
    val q = input.toDF().toDF("k", "v", "ver").writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        ParquetMergeSink.merge(batch, dir, Seq("k"), "ver", nBuckets = 4)
        () // foreachBatch's Scala overload takes a Unit function
      }
      .start()
    q.awaitTermination(60000)
    val rows = ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(rows === Map(1L -> "a2", 2L -> "b1", 3L -> "c1"),
      "micro-batches must merge latest-wins into the lake table")
  }

  test("a mismatched nBuckets cannot split the table layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-marker").toString + "/t"
    ParquetMergeSink.merge(
      (1L to 20L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 8)
    // second writer passes a DIFFERENT bucket count: the committed count
    // must win, so the key's existing bucket is still read and merged
    ParquetMergeSink.merge(
      Seq((7L, "v7-new", 2L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 2)
    val rows = ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(rows.size === 20 && rows(7L) === "v7-new",
      "no duplicate key across buckets, update applied in place")
  }

  test("bucket count commits before data; generations without a log fail loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-crash").toString + "/t"
    ParquetMergeSink.merge(
      (1L to 20L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 8)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = ManifestCommit.committed(fs, root)
    assert(manifests.head.entries("buckets") === "8",
      "v1 must pin the bucket count before any data generation exists")
    // Simulate the unknowable state (commit log lost while generation
    // dirs exist): a merge must refuse rather than re-bucket — silently
    // splitting existing keys across buckets — or reset the table.
    fs.delete(new org.apache.hadoop.fs.Path(root, ManifestCommit.CommitDir), true)
    val ex = intercept[IllegalStateException] {
      ParquetMergeSink.merge(
        Seq((7L, "v7-new", 2L)).toDF("k", "v", "ver"),
        dir, Seq("k"), "ver", nBuckets = 2)
    }
    assert(ex.getMessage.contains("_commits"))
  }

  test("vacuum keeps the previous generation for in-flight readers, reclaims older") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-vac").toString + "/t"
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gens(): Set[String] = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_g"))
      .map(_.getPath.getName).toSet
    ParquetMergeSink.merge(Seq((1L, "a", 1L)).toDF("k", "v", "ver"), dir, Seq("k"), "ver", 2)
    val g1 = gens()
    ParquetMergeSink.merge(Seq((1L, "b", 2L)).toDF("k", "v", "ver"), dir, Seq("k"), "ver", 2)
    assert(gens().intersect(g1) === g1, "previous generation must survive one commit")
    ParquetMergeSink.merge(Seq((1L, "c", 3L)).toDF("k", "v", "ver"), dir, Seq("k"), "ver", 2)
    assert(gens().intersect(g1).isEmpty, "fully superseded generation must be reclaimed")
    assert(ParquetMergeSink.read(spark, dir).collect()
      .map(_.getAs[String]("v")).toSeq === Seq("c"))
  }

  /** Asserts that every read, staging pass and ALTER refuses the table at
    * `dir` with an error that names the upgrade procedure, runs no Spark
    * job and creates no file under the table root.
    */
  private def assertRefused(dir: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val before = SinkFormats.files(dir)
    val batch = Seq((1L, 1L, "x")).toDF("h", "k", "v")
    Seq[(String, () => Any)](
      "read" -> (() => ParquetMergeSink.read(spark, dir)),
      "readVersion" -> (() => ParquetMergeSink.readVersion(spark, dir, 1L)),
      "merge" -> (() => ParquetMergeSink.merge(batch, dir, Seq("h", "k"), "h")),
      "mergeActions" -> (() => ParquetMergeSink.mergeActions(
        batch.withColumn("del", lit(false)), dir, Seq("h", "k"), "h", col("del"))),
      "ADD COLUMN" -> (() => ParquetMergeSink.addColumns(spark, dir,
        Seq(StructField("note", StringType)))),
      "DROP COLUMN" -> (() => ParquetMergeSink.dropColumns(spark, dir, Seq("v"))),
      "RENAME COLUMN" -> (() => ParquetMergeSink.renameColumn(spark, dir, "v", "w")),
      "ALTER COLUMN TYPE" -> (() =>
        ParquetMergeSink.widenColumnType(spark, dir, "v", LongType))
    ).foreach { case (what, call) =>
      var e: Throwable = null
      assert(jobsOf { e = intercept[IllegalStateException](call()) } === 0, what)
      assert(e.getMessage.contains("system.upgrade"), s"$what: ${e.getMessage}")
    }
    assert(SinkFormats.files(dir) === before, "a refusal changed the table's files")
  }

  test("merge and mergeActions refuse a maintained table before any job") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-maint").toString + "/t"
    (1L to 5L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ver").write.parquet(dir)
    TableMaintenance.compact(spark, dir, 1L << 20)
    val before = SinkFormats.files(dir)
    val batch = Seq((1L, "x", 2L)).toDF("k", "v", "ver")
    Seq[(String, () => Any)](
      "merge" -> (() => ParquetMergeSink.merge(batch, dir, Seq("k"), "ver")),
      "mergeActions" -> (() => ParquetMergeSink.mergeActions(
        batch.withColumn("del", lit(false)), dir, Seq("k"), "ver", col("del")))
    ).foreach { case (what, call) =>
      var e: Throwable = null
      assert(jobsOf { e = intercept[IllegalArgumentException](call()) } === 0, what)
      assert(e.getMessage.contains("is not a merge-sink table") &&
        e.getMessage.contains("TableMaintenance layout") &&
        e.getMessage.contains(s"$what serves"), s"$what: ${e.getMessage}")
    }
    assert(SinkFormats.files(dir) === before, "a refusal changed the table's files")
    assert(TableMaintenance.read(spark, dir).count() === 5)
  }

  /** The first word of the `merge_commit` choice `merge` records for
    * `batch`: the commit path, `append` or `merge`.
    */
  private def pathOf(batch: org.apache.spark.sql.DataFrame, dir: String,
      keys: Seq[String], version: String): String = {
    ParquetMergeSink.merge(batch, dir, keys, version)
    choice().split(" ").head
  }

  test("upgrade: a pre-protocol table (bucket dirs + marker) keeps rows") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, concat, input_file_name, lit, pmod, xxhash64}
    val base = java.nio.file.Files.createTempDirectory("graft-sink-legacy").toString
    val dir = s"$base/t"
    val table = new Path(dir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = (1L to 20L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ver")
    SinkFormats.preManifest(legacy, dir, Seq("k"), 4)
    assertRefused(dir)
    // a crash before the commit left an orphan generation beside the old dirs
    val orphan = new Path(dir, "_g1-0badcafe")
    fs.mkdirs(new Path(orphan, "__bucket=0"))
    assertRefused(dir)
    // the refusal and an upgrade without the write contract name its arguments
    val before = SinkFormats.files(dir)
    Seq[() => Any](() => ParquetMergeSink.read(spark, dir),
      () => ParquetMergeSink.upgrade(spark, dir)).foreach { call =>
      val e = intercept[RuntimeException](call())
      assert(e.getMessage.contains("keys => ") && e.getMessage.contains("version => "),
        e.getMessage)
    }
    assert(SinkFormats.files(dir) === before, "a refused upgrade changed the table's files")

    assert(ParquetMergeSink.upgrade(spark, dir, Some(Seq("k") -> "ver")) === Some(1L))
    SinkFormats.assertCurrent(spark, dir)
    assert(!fs.exists(orphan) && !fs.exists(new Path(dir, ".graft-buckets")) &&
      !fs.listStatus(table).exists(_.getPath.getName.startsWith("__bucket=")),
      "the orphan, the marker and the old bucket dirs must be reclaimed")
    def rows() = ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(rows() === (1L to 20L).map(k => k -> s"v$k").toMap)
    // each row stays in the bucket its old dir was named for
    assert(ParquetMergeSink.read(spark, dir)
      .withColumn("b", pmod(xxhash64(col("k")), lit(4)).cast("int"))
      .filter(!input_file_name().contains(concat(lit("/__bucket="), col("b"), lit("/"))))
      .isEmpty, "a row left its bucket")

    // the first merge folds INTO the upgraded rows (a silent fresh-table
    // reset would drop 19 of them / duplicate key 7), on the path a
    // current table of the same rows takes; the wrong count is ignored
    val twin = s"$base/twin"
    ParquetMergeSink.merge(legacy, twin, Seq("k"), "ver", nBuckets = 4)
    val batch = Seq((7L, "v7-new", 2L)).toDF("k", "v", "ver")
    assert(pathOf(batch, dir, Seq("k"), "ver") === pathOf(batch, twin, Seq("k"), "ver"))
    assert(choice().startsWith("merge "), choice())
    assert(rows().size === 20 && rows()(7L) === "v7-new" && rows()(8L) === "v8")
    // a re-run on a current table commits nothing
    val head = ManifestCommit.latest(fs, table).get.version
    assert(ParquetMergeSink.upgrade(spark, dir) === None)
    assert(ManifestCommit.latest(fs, table).get.version === head)

    // a crash after the commit left the old dirs and marker in place: reads
    // serve the new head, and a re-run reclaims them without a commit
    val dir3 = s"$base/t3"
    SinkFormats.preManifest(legacy, dir3, Seq("k"), 4)
    val aside = s"$base/aside"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir3), new java.io.File(aside))
    assert(ParquetMergeSink.upgrade(spark, dir3, Some(Seq("k") -> "ver")) === Some(1L))
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(aside), new java.io.File(dir3))
    assert(ParquetMergeSink.read(spark, dir3).count() === 20)
    assert(ParquetMergeSink.upgrade(spark, dir3) === None)
    assert(ManifestCommit.latest(fs, new Path(dir3)).get.version === 1L)
    assert(!new java.io.File(dir3, ".graft-buckets").exists() &&
      !new java.io.File(dir3).list().exists(_.startsWith("__bucket=")))
    assert(ParquetMergeSink.read(spark, dir3).count() === 20)

    // bucket dirs without marker or manifest stay a loud failure
    val dir2 = s"$base/nomark"
    legacy.withColumn("__bucket", pmod(xxhash64(col("k")), lit(4)).cast("int"))
      .write.partitionBy("__bucket").parquet(dir2)
    Seq[() => Any](
      () => ParquetMergeSink.merge(Seq((1L, "x", 9L)).toDF("k", "v", "ver"),
        dir2, Seq("k"), "ver"),
      () => ParquetMergeSink.read(spark, dir2),
      () => ParquetMergeSink.upgrade(spark, dir2)).foreach { call =>
      val ex = intercept[IllegalStateException](call())
      assert(ex.getMessage.contains("unknowable"), ex.getMessage)
    }
  }

  test("time travel reads a retained version; rollback re-commits it as the head") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-tt").toString + "/t"
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def vAt(d: String, ver: Long): Map[Long, String] =
      ParquetMergeSink.readVersion(spark, d, ver).collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    def vNow(d: String): Map[Long, String] =
      ParquetMergeSink.read(spark, d).collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

    ParquetMergeSink.merge(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver")
    val vOrig = ManifestCommit.latest(fs, root).get.version
    ParquetMergeSink.merge(Seq((1L, "a2", 20L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver")
    val vHead = ManifestCommit.latest(fs, root).get.version
    assert(vHead === vOrig + 1)

    // head sees the upsert; the superseded version is still addressable
    assert(vNow(dir) === Map(1L -> "a2", 2L -> "b"))
    assert(vAt(dir, vOrig) === Map(1L -> "a", 2L -> "b"))

    // rollback re-commits the old entries as a NEW head: nothing deleted,
    // the overwritten head remains addressable for forensics
    val vRestored = ManifestCommit.rollback(fs, root, vOrig)
    assert(vRestored === vHead + 1)
    SinkFormats.assertCurrent(spark, dir)
    assert(vNow(dir) === Map(1L -> "a", 2L -> "b"))
    assert(vAt(dir, vHead) === Map(1L -> "a2", 2L -> "b"))

    // and a merge on top of the rollback builds on the restored state
    ParquetMergeSink.merge(Seq((2L, "b2", 30L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver")
    assert(vNow(dir) === Map(1L -> "a", 2L -> "b2"))

    // unretained / never-committed versions fail loudly on both paths
    intercept[IllegalArgumentException](
      ParquetMergeSink.readVersion(spark, dir, 999L))
    intercept[IllegalArgumentException](
      ManifestCommit.rollback(fs, root, 999L))
  }

  test("incoming row wins a version tie (ON CONFLICT DO UPDATE)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-tie").toString + "/t"
    val b1 = Seq((100L, "old", 100L)).toDF("height", "v", "ver")
    ParquetMergeSink.merge(b1, dir, Seq("height"), "ver")
    // same key, same version (version = key, the IndexerFlow pattern),
    // changed content: the replayed/incoming row must survive
    val b2 = Seq((100L, "new", 100L)).toDF("height", "v", "ver")
    ParquetMergeSink.merge(b2, dir, Seq("height"), "ver")
    val v = ParquetMergeSink.read(spark, dir).collect().map(_.getAs[String]("v"))
    assert(v.toSeq === Seq("new"))
  }

  test("mergeActions applies delete+update+insert in one commit, idempotently") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-act").toString + "/t"
    val base = Seq((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L), (4L, "d", 10L))
      .toDF("k", "v", "ver")
    ParquetMergeSink.merge(base, dir, Seq("k"), "ver", nBuckets = 4)
    val vBefore = ManifestCommit.latest(
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(dir)).get.version

    // one source batch carrying all three actions:
    //   k=1 matched+delete, k=2 matched+update, k=5 unmatched+insert,
    //   k=6 unmatched+delete (must be a no-op),
    //   k=7 duplicated in-batch — the winning (ver=30) row says update
    val src = Seq(
      (1L, "DEAD", 20L, true),
      (2L, "b2", 20L, false),
      (5L, "e", 20L, false),
      (6L, "GHOST", 20L, true),
      (7L, "late", 30L, false),
      (7L, "early-delete", 20L, true)
    ).toDF("k", "v", "ver", "del")
    ParquetMergeSink.mergeActions(src, dir, Seq("k"), "ver", col("del"))
    SinkFormats.assertCurrent(spark, dir)

    def state(): Map[Long, String] = ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    val expected = Map(2L -> "b2", 3L -> "c", 4L -> "d", 5L -> "e", 7L -> "late")
    assert(state() === expected)
    // the delete-marked column never leaks into the table
    assert(!ParquetMergeSink.read(spark, dir).columns.contains("del"))

    // ONE commit: exactly one manifest version past the base table
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val vAfter = ManifestCommit.latest(fs, new org.apache.hadoop.fs.Path(dir)).get.version
    assert(vAfter === vBefore + 1,
      "delete+update+insert must land as a single manifest flip")

    // replay idempotence: same batch again converges to the same table
    ParquetMergeSink.mergeActions(src, dir, Seq("k"), "ver", col("del"))
    assert(state() === expected)
  }

  test("mergeActions: a fully-deleted bucket drops out of the manifest; crash window is invisible") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-del").toString + "/t"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val table = new org.apache.hadoop.fs.Path(dir)
    // 2 buckets; find keys landing in each
    val byBucket = (1L to 20L).groupBy { k =>
      Seq(k).toDF("k").select(
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64($"k"),
          org.apache.spark.sql.functions.lit(2)).cast("int")).head.getInt(0)
    }
    val (b0Keys, b1Keys) = (byBucket(0).take(2), byBucket(1).take(2))
    val base = (b0Keys ++ b1Keys).map(k => (k, s"v$k", 10L)).toDF("k", "v", "ver")
    ParquetMergeSink.merge(base, dir, Seq("k"), "ver", nBuckets = 2)

    // delete EVERY key of bucket 0 → its manifest entry must disappear
    val wipe = b0Keys.map(k => (k, "x", 20L, true)).toDF("k", "v", "ver", "del")
    ParquetMergeSink.mergeActions(wipe, dir, Seq("k"), "ver", col("del"))
    val m = ManifestCommit.latest(fs, table).get
    assert(!m.entries.contains("dir.0"), s"emptied bucket still in manifest: ${m.entries}")
    assert(ParquetMergeSink.read(spark, dir).collect().map(_.getAs[Long]("k")).toSet
      === b1Keys.toSet)

    // crash window: an orphan generation written WITHOUT a manifest flip
    // (the state a crash mid-mergeActions leaves) is invisible to readers
    val before = ParquetMergeSink.read(spark, dir).collect().map(_.toSeq).toSet
    val orphan = new org.apache.hadoop.fs.Path(table, "gen-99999-orphan")
    fs.mkdirs(new org.apache.hadoop.fs.Path(orphan, "__bucket=1"))
    assert(ParquetMergeSink.read(spark, dir).collect().map(_.toSeq).toSet === before,
      "an uncommitted generation must never be observed")
    // and the next committed action still works over it
    val more = b1Keys.take(1).map(k => (k, "upd", 30L, false)).toDF("k", "v", "ver", "del")
    ParquetMergeSink.mergeActions(more, dir, Seq("k"), "ver", col("del"))
    assert(ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      .get(b1Keys.head).contains("upd"))
  }

  test("a merge rewrites every bucket it touches: null and signed-zero keys included") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-touch").toString + "/t"
    val table = new org.apache.hadoop.fs.Path(dir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ParquetMergeSink.merge(
      Seq((Option(0.0), 1L, "zero"), (None, 1L, "null"), (Option(1.5), 1L, "x"))
        .toDF("k", "ver", "v"), dir, Seq("k"), "ver", nBuckets = 8)

    // -0.0 and 0.0 are one key to latest-wins' grouping, and a null key is
    // a key too; each batch row's bucket must hold its key's survivor, so
    // the new generation has a dir for every touched bucket
    val batch = Seq((Option(-0.0), 3L, "neg-zero"), (Option(0.0), 2L, "zero2"),
      (None, 2L, "null2"), (Option(2.5), 2L, "y")).toDF("k", "ver", "v")
    val touched = batch.select(pmod(xxhash64(col("k")), lit(8)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    ParquetMergeSink.merge(batch, dir, Seq("k"), "ver")
    val m = ManifestCommit.latest(fs, table).get
    touched.foreach { b =>
      assert(m.dirs.get(b.toString).exists(_.startsWith(s"_g${m.version}-")),
        s"touched bucket $b was not rewritten: ${m.dirs}")
    }

    val rows = ParquetMergeSink.read(spark, dir)
    assert(rows.groupBy("k").count().filter(col("count") > 1).isEmpty,
      "a key is duplicated across buckets")
    assert(rows.collect().map(r => Option(r.getAs[java.lang.Double]("k"))
      .map(_.doubleValue.abs) -> r.getAs[String]("v")).toMap ===
      Map(Some(0.0) -> "neg-zero", None -> "null2", Some(1.5) -> "x", Some(2.5) -> "y"))
  }

  test("mergeActions create path stores the same columns as merge-into-existing") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-create").toString + "/t"
    // brand-new table, source carries the CDC verdict column: the stored
    // schema must NOT include it (same columns a later merge would store)
    val src = Seq((1L, "a", 10L, false), (2L, "DEAD", 10L, true))
      .toDF("k", "v", "ver", "del")
    ParquetMergeSink.mergeActions(src, dir, Seq("k"), "ver", col("del"))
    val t = ParquetMergeSink.read(spark, dir)
    assert(t.columns.toSet === Set("k", "v", "ver"),
      s"create-via-mergeActions leaked the predicate column: ${t.columns.toSeq}")
    assert(t.collect().map(_.getAs[Long]("k")).toSeq === Seq(1L))

    // explicit targetCols declares the schema when the predicate reads a
    // genuine data column (here: delete on v's content)
    val dir2 = java.nio.file.Files.createTempDirectory("graft-merge-create2").toString + "/t"
    val src2 = Seq((1L, "keep", 10L), (2L, "DEAD", 10L)).toDF("k", "v", "ver")
    ParquetMergeSink.mergeActions(src2, dir2, Seq("k"), "ver",
      col("v") === "DEAD", targetCols = Seq("k", "v", "ver"))
    val t2 = ParquetMergeSink.read(spark, dir2)
    assert(t2.columns.toSet === Set("k", "v", "ver"))
    assert(t2.collect().map(_.getAs[Long]("k")).toSeq === Seq(1L))
    // targetCols must cover keys+version and come from the source
    intercept[IllegalArgumentException] {
      ParquetMergeSink.mergeActions(src2, dir2 + "x", Seq("k"), "ver",
        col("v") === "DEAD", targetCols = Seq("k", "v"))
    }
  }

  test("a batch missing the merge key or version column refuses instead of null-filling") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-req").toString + "/t"
    ParquetMergeSink.merge(
      Seq((1L, "a", 10L)).toDF("k", "v", "ver"), dir, Seq("k"), "ver")

    // missing version: a null-filled ver would silently lose latest-wins
    val noVer = intercept[IllegalArgumentException] {
      ParquetMergeSink.merge(Seq((1L, "a2")).toDF("k", "v"), dir, Seq("k"), "ver")
    }
    assert(noVer.getMessage.contains("ver"), noVer.getMessage)
    // missing key: every row would hash to one bucket and collapse to one
    val noKey = intercept[IllegalArgumentException] {
      ParquetMergeSink.merge(Seq(("a2", 20L)).toDF("v", "ver"), dir, Seq("k"), "ver")
    }
    assert(noKey.getMessage.contains("k"), noKey.getMessage)
    // mergeActions: same front door
    val actNoVer = intercept[IllegalArgumentException] {
      ParquetMergeSink.mergeActions(
        Seq((1L, "a2", false)).toDF("k", "v", "del"), dir, Seq("k"), "ver",
        org.apache.spark.sql.functions.col("del"))
    }
    assert(actNoVer.getMessage.contains("ver"), actNoVer.getMessage)
    assert(ParquetMergeSink.read(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq === Seq((1L, "a")),
      "refused batches must leave the table untouched")

    // a genuinely-new DATA column is the one thing that null-fills:
    // post-ADD COLUMN, an old-shape writer (carrying keys+version but not
    // the new column) still merges
    ParquetMergeSink.addColumns(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    ParquetMergeSink.merge(
      Seq((2L, "b", 10L)).toDF("k", "v", "ver"), dir, Seq("k"), "ver")
    val rows = ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.isNullAt(r.fieldIndex("score"))).toMap
    assert(rows === Map(1L -> true, 2L -> true))
  }

  test("a batch with case-duplicate columns refuses instead of silently collapsing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-case").toString + "/t"
    ParquetMergeSink.merge(
      Seq((1L, "a", 10L)).toDF("k", "v", "ver"), dir, Seq("k"), "ver")
    val dup = Seq((1L, "lower", "UPPER", 20L)).toDF("k", "v", "V", "ver")
    val e = intercept[IllegalArgumentException] {
      ParquetMergeSink.merge(dup, dir, Seq("k"), "ver")
    }
    assert(e.getMessage.contains("case"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      ParquetMergeSink.mergeActions(
        dup.withColumn("del", org.apache.spark.sql.functions.lit(false)),
        dir, Seq("k"), "ver", org.apache.spark.sql.functions.col("del"))
    }
    assert(e2.getMessage.contains("case"), e2.getMessage)
  }

  test("mergeActions matched UPDATE carries post-ALTER columns an old-shape source lacks") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-carry").toString + "/t"
    ParquetMergeSink.merge(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver")
    ParquetMergeSink.addColumns(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    // a new-shape writer sets score for k=1
    ParquetMergeSink.merge(
      Seq((1L, "a", 20L, 0.9)).toDF("k", "v", "ver", "score"),
      dir, Seq("k"), "ver")

    // an old-shape CDC writer (predates the ALTER) updates k=1, deletes
    // k=2, inserts k=3 — k=1's score must SURVIVE the update, not null out
    val oldShape = Seq(
      (1L, "a-upd", 30L, false), (2L, "b", 30L, true), (3L, "c", 30L, false))
      .toDF("k", "v", "ver", "del")
    ParquetMergeSink.mergeActions(oldShape, dir, Seq("k"), "ver", col("del"))
    val rows = ParquetMergeSink.read(spark, dir).collect().map(r =>
      r.getAs[Long]("k") -> (r.getAs[String]("v"),
        if (r.isNullAt(r.fieldIndex("score"))) None
        else Some(r.getAs[Double]("score")))).toMap
    assert(rows === Map(
      1L -> ("a-upd", Some(0.9)), // updated, score carried over
      3L -> ("c", None)),          // inserted, score null-filled
      s"got $rows")

    // replay converges (idempotent under the carry-over too)
    ParquetMergeSink.mergeActions(oldShape, dir, Seq("k"), "ver", col("del"))
    val again = ParquetMergeSink.read(spark, dir).collect().map(r =>
      r.getAs[Long]("k") -> (if (r.isNullAt(r.fieldIndex("score"))) None
        else Some(r.getAs[Double]("score")))).toMap
    assert(again === Map(1L -> Some(0.9), 3L -> None))
  }

  test("renameColumn keeps physical names: mergeActions and time travel across the flip") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-rename").toString + "/t"
    ParquetMergeSink.merge(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val preRename = ManifestCommit.latest(
      fs, new org.apache.hadoop.fs.Path(dir)).get.version

    ParquetMergeSink.renameColumn(spark, dir, "v", "label")
    SinkFormats.assertCurrent(spark, dir)
    // values survive under the new name; old name is gone
    val read = ParquetMergeSink.read(spark, dir)
    assert(read.columns.toSeq === Seq("k", "label", "ver"))
    assert(read.collect().map(r =>
      r.getAs[Long]("k") -> r.getAs[String]("label")).toMap
      === Map(1L -> "a", 2L -> "b"))
    // time travel serves the pre-rename name and values
    val old = ParquetMergeSink.readVersion(spark, dir, preRename)
    assert(old.columns.toSeq === Seq("k", "v", "ver"))

    // a NEW-shape CDC writer drives all three actions through the rename:
    // the post-rename generation is written under the ORIGINAL physical
    // name, so both generations keep one file schema
    val cdc = Seq((1L, "a2", 20L, false), (2L, "b", 20L, true),
      (3L, "c", 20L, false)).toDF("k", "label", "ver", "del")
    ParquetMergeSink.mergeActions(cdc, dir, Seq("k"), "ver", col("del"))
    assert(ParquetMergeSink.read(spark, dir).collect().map(r =>
      r.getAs[Long]("k") -> r.getAs[String]("label")).toMap
      === Map(1L -> "a2", 3L -> "c"))
    // every generation's files carry the PHYSICAL name v, never label
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val fields = walk(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet"))
      .flatMap(f => spark.read.parquet(f.getAbsolutePath).columns)
      .toSet
    assert(fields.contains("v") && !fields.contains("label"),
      s"generations must share the physical name; saw $fields")

    // dropColumns retires the physical name; re-add starts a fresh one
    ParquetMergeSink.dropColumns(spark, dir, Seq("label"))
    SinkFormats.assertCurrent(spark, dir)
    assert(ParquetMergeSink.read(spark, dir).columns.toSeq === Seq("k", "ver"))
    ParquetMergeSink.addColumns(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    SinkFormats.assertCurrent(spark, dir)
    val vVals = ParquetMergeSink.read(spark, dir).collect()
      .map(r => Option(r.getAs[String]("v")))
    assert(vVals.nonEmpty && vVals.forall(_.isEmpty),
      "re-added v must not resurrect the dropped label's physical data")
  }

  test("empty batches against a nonexistent path leave the filesystem untouched") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-merge-noop").toString
    val dir = root + "/t"
    val empty = Seq.empty[(Long, String, Long, Boolean)].toDF("k", "v", "ver", "del")
    ParquetMergeSink.mergeActions(empty, dir, Seq("k"), "ver", col("del"))
    ParquetMergeSink.merge(empty.drop("del"), dir, Seq("k"), "ver")
    assert(!new java.io.File(dir).exists(),
      "a no-op batch must not mint an empty table as a side effect")
    assert(ParquetMergeSink.readIfExists(spark, dir).isEmpty)

    // A batch only a job can find empty: the staging job alone decides
    // it — one job, no separate emptiness probe, still no table.
    val lazyEmpty = spark.range(0, 100).filter(col("id") % 7 === 100)
      .selectExpr("id AS k", "cast(id AS string) AS v", "id AS ver",
        "id > 50 AS del")
    var staged = -1L
    assert(jobsOf {
      staged = ParquetMergeSink.merge(lazyEmpty.drop("del"), dir, Seq("k"), "ver")
    } === 1)
    assert(staged === 0L)
    assert(jobsOf(ParquetMergeSink.mergeActions(
      lazyEmpty, dir, Seq("k"), "ver", col("del"))) === 1)
    assert(!new java.io.File(dir).exists(),
      "a no-op batch must not mint an empty table as a side effect")

    // Against an existing table the shape is checked before emptiness is
    // known: an empty batch that does not fit the declared schema is
    // refused like a full one, and a fitting one changes nothing.
    ParquetMergeSink.merge(Seq((1L, "a", 10L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    val extra = intercept[IllegalArgumentException] {
      ParquetMergeSink.merge(empty.drop("del").withColumn("x", col("k")),
        dir, Seq("k"), "ver")
    }
    assert(extra.getMessage.contains("not in the table schema"), extra.getMessage)
    val narrowing = intercept[IllegalArgumentException] {
      ParquetMergeSink.mergeActions(empty.withColumn("v", col("k") > 0),
        dir, Seq("k"), "ver", col("del"))
    }
    assert(narrowing.getMessage.contains("losslessly"), narrowing.getMessage)
    assert(ParquetMergeSink.merge(empty.drop("del"), dir, Seq("k"), "ver") === 0L)
    ParquetMergeSink.mergeActions(empty, dir, Seq("k"), "ver", col("del"))
    assert(ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toSeq === Seq(1L -> "a"))

    // The same door with rows behind it: a non-empty source whose data
    // column does not widen losslessly is refused before anything is
    // written, and a source-only column (the CDC flag) passes through.
    val before = SinkFormats.files(dir)
    val rowsNarrowing = intercept[IllegalArgumentException] {
      ParquetMergeSink.mergeActions(Seq((2L, true, 20L, false)).toDF("k", "v", "ver", "del"),
        dir, Seq("k"), "ver", col("del"))
    }
    assert(rowsNarrowing.getMessage.contains("losslessly"), rowsNarrowing.getMessage)
    assert(SinkFormats.files(dir) === before,
      "a refused source must leave the table byte-identical")
    ParquetMergeSink.mergeActions(Seq((2L, "b", 20L, false)).toDF("k", "v", "ver", "del"),
      dir, Seq("k"), "ver", col("del"))
    val after = ParquetMergeSink.read(spark, dir)
    assert(after.columns.toSeq === Seq("k", "v", "ver"))
    assert(after.collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      === Map(1L -> "a", 2L -> "b"))
  }

  test("a merge stages its batch in one job, then writes; staged blocks are released") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-jobs").toString + "/t"
    ParquetMergeSink.merge(Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet

    // staging (rows + touched buckets + emptiness) is one job; the write
    // is the latest-wins shuffle's map job plus the write job
    var rows = -1L
    val mergeJobs = jobsOf {
      rows = ParquetMergeSink.merge(
        Seq((1L, "a2", 20L), (3L, "c", 20L), (3L, "c-old", 5L)).toDF("k", "v", "ver"),
        dir, Seq("k"), "ver")
    }
    assert(rows === 3L, "merge returns the row count its staging job observed")
    assert(mergeJobs <= 3, s"a merge into an existing table ran $mergeJobs jobs")

    // mergeActions: staging, the in-batch latest-wins barrier (map job +
    // checkpoint), the write (map job + write job)
    val actionJobs = jobsOf(ParquetMergeSink.mergeActions(
      Seq((2L, "b", 30L, true), (4L, "d", 30L, false)).toDF("k", "v", "ver", "del"),
      dir, Seq("k"), "ver", col("del")))
    assert(actionJobs === 5, s"mergeActions ran $actionJobs jobs")

    val state = ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(state === Map(1L -> "a2", 3L -> "c", 4L -> "d"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"merges left staged RDDs persisted: $leaked")

    // the lazy persist barrier (the non-local default) stages the same way
    val s = spark.newSession()
    s.conf.set("spark.sql.graft.barrier", "persist")
    val batch = s.createDataFrame(Seq((3L, "c2", 40L), (5L, "e", 40L)))
      .toDF("k", "v", "ver")
    assert(ParquetMergeSink.merge(batch, dir, Seq("k"), "ver") === 2L)
    assert(ParquetMergeSink.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap ===
      Map(1L -> "a2", 3L -> "c2", 4L -> "d", 5L -> "e"))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore).isEmpty)
  }

  /** Rows `(h, k)` at version `h`, keyed on both: the shape of the
    * indexer's insert-ignore tables, whose merge keys include the version.
    */
  private def heightRows(h: Long, ks: Seq[Long]) =
    ks.map(k => (h, k, s"v$h-$k")).toDF("h", "k", "v")

  private def choice(): String =
    graft.StrategyLog.lastChoice("merge_commit").getOrElse("")

  test("a batch past hwm appends; replays, update-wins, nulls, strings and " +
      "tables without hwm merge; a new path appends its first batch") {
    import org.apache.spark.sql.functions.{col, lit}
    val base = java.nio.file.Files.createTempDirectory("graft-append").toString
    val root = new org.apache.hadoop.fs.Path(base)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest(t: String) =
      ManifestCommit.latest(fs, new org.apache.hadoop.fs.Path(base, t)).get
    def rows(t: String) = ParquetMergeSink.read(spark, s"$base/$t").collect()
      .map(r => (r.getAs[Long]("h"), r.getAs[Long]("k"), r.getAs[String]("v"))).toSet

    // a brand-new path has no rows to conflict with: its first batch appends
    val t = s"$base/t"
    ParquetMergeSink.merge(heightRows(1, 1L to 20L), t, Seq("h", "k"), "h", nBuckets = 4)
    assert(choice().startsWith("append ") && choice().contains("read=0"), choice())
    SinkFormats.assertCurrent(spark, t)
    assert(manifest("t").entries.get(ParquetMergeSink.HwmKey) === Some("1"))
    val v1 = manifest("t")
    assert(v1.dirs.keySet === Set(s"+${v1.version}"), v1.dirs)
    // duplicate keys inside an appended batch still resolve latest-wins
    val dup = heightRows(2, 1L to 20L).unionByName(
      Seq((2L, 3L, "v2-3-dup")).toDF("h", "k", "v"))
    ParquetMergeSink.merge(dup, t, Seq("h", "k"), "h")
    assert(choice().startsWith("append "), choice())
    assert(choice().contains(s"table=$t"), choice())
    assert(choice().contains("hwm=1") && choice().contains("min_version=2") &&
      choice().contains("folded=0") && choice().contains("read=0"), choice())
    val v2 = manifest("t")
    SinkFormats.assertCurrent(spark, t)
    assert(v2.entries.get(ParquetMergeSink.HwmKey) === Some("2"))
    // an append carries every entry forward and adds ONE segment entry
    assert(v1.dirs.forall { case (k, rel) => v2.dirs.get(k).contains(rel) })
    assert(v2.dirs.keySet -- v1.dirs.keySet === Set(s"+${v2.version}"), v2.dirs)
    assert(rows("t").size === 40)

    // a replay at hwm merges; with no base to outweigh them the segments
    // drain into the buckets
    ParquetMergeSink.merge(heightRows(2, 1L to 20L), t, Seq("h", "k"), "h")
    assert(choice().startsWith("merge ") && choice().contains("hwm=2") &&
      choice().contains("drain=true"), choice())
    assert(manifest("t").dirs.keySet.forall(!_.contains("+")), manifest("t").dirs)
    SinkFormats.assertCurrent(spark, t)
    assert(rows("t").size === 40)

    // a null version merges, and hwm still bounds the non-null versions
    val nulls = Seq((Some(5L), 1L, "n1"), (None, 2L, "n2")).toDF("h", "k", "v")
    ParquetMergeSink.merge(nulls, t, Seq("h", "k"), "h")
    assert(choice().startsWith("merge "), choice())
    assert(manifest("t").entries.get(ParquetMergeSink.HwmKey) === Some("5"))

    // update-wins (the version is not a key) merges once it holds rows
    val lc = s"$base/lc"
    ParquetMergeSink.merge(heightRows(1, 1L to 4L), lc, Seq("k"), "h")
    ParquetMergeSink.merge(heightRows(9, 1L to 4L), lc, Seq("k"), "h")
    assert(choice().startsWith("merge ") && choice().contains("hwm=1"), choice())
    assert(rows("lc") === (1L to 4L).map(k => (9L, k, s"v9-$k")).toSet)

    // a string version merges and records no hwm
    val str = s"$base/str"
    def strRows(h: String) = Seq((h, 1L, "a")).toDF("h", "k", "v")
    ParquetMergeSink.merge(strRows("1"), str, Seq("h", "k"), "h")
    ParquetMergeSink.merge(strRows("2"), str, Seq("h", "k"), "h")
    assert(choice().startsWith("merge ") && choice().contains("hwm=none"), choice())
    assert(!manifest("str").entries.contains(ParquetMergeSink.HwmKey))

    // a table from before hwm existed merges and records none; upgrade
    // stamps it from its rows once, and then its next batch appends
    val old = s"$base/old"
    ParquetMergeSink.merge(heightRows(7, 1L to 8L), old, Seq("h", "k"), "h")
    val oldPath = new org.apache.hadoop.fs.Path(old)
    ManifestCommit.commit(fs, oldPath, manifest("old").version,
      manifest("old").entries - "txid" - ParquetMergeSink.HwmKey)
    ParquetMergeSink.merge(heightRows(8, 1L to 8L), old, Seq("h", "k"), "h")
    assert(choice().startsWith("merge ") && choice().contains("hwm=none"), choice())
    assert(!manifest("old").entries.contains(ParquetMergeSink.HwmKey))
    val unstamped = manifest("old").version
    assert(ParquetMergeSink.upgrade(spark, old) === Some(unstamped + 1))
    assert(manifest("old").entries.get(ParquetMergeSink.HwmKey) === Some("8"))
    assert(ParquetMergeSink.upgrade(spark, old) === None)
    ParquetMergeSink.merge(heightRows(9, 1L to 8L), old, Seq("h", "k"), "h")
    assert(choice().startsWith("append "), choice())
    assert(rows("old").size === 24)
    assert(ParquetMergeSink.read(spark, old).filter(col("h") === lit(9L)).count() === 8L)
  }

  test("an append writes one segment of one file; at 32 dirs appends " +
      "concatenate the segments, and outgrown segments drain") {
    val base = java.nio.file.Files.createTempDirectory("graft-bound").toString
    val wide = s"$base/wide"
    val table = new org.apache.hadoop.fs.Path(wide)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def m() = ManifestCommit.latest(fs, table).get
    def files(rel: String) = fs.listStatus(new org.apache.hadoop.fs.Path(table, rel))
      .count(_.getPath.getName.endsWith(".parquet"))
    def merge(h: Long, ks: Seq[Long]) =
      ParquetMergeSink.merge(heightRows(h, ks), wide, Seq("h", "k"), "h")
    val expected = scala.collection.mutable.Set.empty[(Long, Long)]
    def check(): Unit = {
      val got = ParquetMergeSink.read(spark, wide).collect()
        .map(r => (r.getAs[Long]("h"), r.getAs[Long]("k"))).toSeq
      assert(got.size === got.toSet.size, "no key may repeat")
      assert(got.toSet === expected.toSet)
    }

    // 4,096 keys touch all 16 buckets: still one entry and one file
    merge(1, 1L to 4096L); expected ++= (1L to 4096L).map((1L, _))
    val seg = m().dirs(s"+${m().version}")
    assert(seg.split("/").last === "__bucket=-1", seg)
    assert(files(seg) === 1, seg)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(table, s"${seg.split("/").head}/_SUCCESS")),
      "a generation write leaves no _SUCCESS marker")
    check()
    // a replay drains the segment into 16 base dirs of one file each
    merge(1, Seq(1L))
    assert(choice().contains("drain=true") && choice().contains("folded=16"), choice())
    val bases = m().dirs
    assert(bases.keySet === (0 until 16).map(_.toString).toSet, bases)
    bases.values.foreach(rel => assert(files(rel) === 1, rel))

    // 16 small appends reach the bound without reading a committed dir
    (2L to 17L).foreach { h =>
      merge(h, Seq(h)); expected += ((h, h))
      assert(choice().startsWith("append ") && choice().contains("read=0"), choice())
    }
    assert(m().dirs.size === 32)
    // at the bound an append concatenates the 16 segments and its batch:
    // it reads no base dir, and every base entry carries forward
    merge(18, Seq(18L)); expected += ((18L, 18L))
    assert(choice().startsWith("append ") && choice().contains("read=16") &&
      choice().contains("folded=0") && choice().contains("drain=false"), choice())
    assert(m().dirs.size === 17 && bases.forall { case (k, rel) => m().dirs(k) == rel },
      m().dirs)
    SinkFormats.assertCurrent(spark, wide)
    check()

    // a merge-path commit reads the touched bucket and the segment, folds
    // the bucket's segment rows into it and keeps the rest as one segment
    merge(18, Seq(18L, 2L))
    def field(name: String) = choice().split(" ").collectFirst {
      case kv if kv.startsWith(s"$name=") => kv.stripPrefix(s"$name=").toInt
    }.get
    assert(choice().startsWith("merge ") && choice().contains("drain=false"), choice())
    assert(field("read") === field("touched") + 1, choice())
    expected += ((18L, 2L))
    assert(m().dirs.keySet.count(_.startsWith("+")) === 1, m().dirs)
    SinkFormats.assertCurrent(spark, wide)
    check()

    // once the segments outweigh an average bucket, the next commit that
    // reads them drains: 16 base dirs and no segment
    merge(19, 1L to 2048L); expected ++= (1L to 2048L).map((19L, _))
    assert(choice().startsWith("append ") && choice().contains("read=0"), choice())
    merge(19, Seq(5L))
    assert(choice().contains("drain=true"), choice())
    assert(m().dirs.keySet === (0 until 16).map(_.toString).toSet, m().dirs)
    SinkFormats.assertCurrent(spark, wide)
    check()
  }

  test("merge-path commits over segments match a latest-wins model; " +
      "mergeActions folds them too") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-seg-model").toString + "/t"
    // model: key (h, k) -> (v, ver); the incoming row wins version ties
    var model = Map.empty[(Long, Long), String]
    def upsert(rows: Seq[(Long, Long, String)]): Unit = {
      ParquetMergeSink.merge(rows.toDF("h", "k", "v"), dir, Seq("h", "k"), "h", nBuckets = 4)
      model ++= rows.map { case (h, k, v) => (h, k) -> v }
    }
    def state() = ParquetMergeSink.read(spark, dir).collect()
      .map(r => (r.getAs[Long]("h"), r.getAs[Long]("k")) -> r.getAs[String]("v")).toMap
    upsert((1L to 6L).map(k => (1L, k, s"a$k")))   // new path: a segment
    upsert(Seq((1L, 2L, "b2"), (1L, 9L, "b9")))     // replay: drains
    upsert((1L to 6L).map(k => (2L, k, s"c$k")))   // appends
    upsert((1L to 3L).map(k => (3L, k, s"d$k")))
    assert(graft.StrategyLog.lastChoice("merge_commit").exists(_.startsWith("append ")))
    upsert(Seq((2L, 4L, "e4"), (3L, 1L, "e1"))) // replays over two segments
    assert(state() === model)
    // mergeActions over the segments: delete one row, update one, insert one
    ParquetMergeSink.merge(heightRows(4, Seq(1L, 2L)), dir, Seq("h", "k"), "h")
    model ++= Seq((4L, 1L) -> "v4-1", (4L, 2L) -> "v4-2")
    ParquetMergeSink.mergeActions(
      Seq((4L, 1L, "x", true), (4L, 2L, "upd", false), (5L, 1L, "new", false))
        .toDF("h", "k", "v", "del"), dir, Seq("h", "k"), "h", col("del"))
    model = model - ((4L, 1L)) + ((4L, 2L) -> "upd") + ((5L, 1L) -> "new")
    assert(state() === model)
  }

  test("upgrade folds per-bucket segments (dir.<b>+<v>) into their bases") {
    import org.apache.hadoop.fs.Path
    val base = java.nio.file.Files.createTempDirectory("graft-seg-legacy").toString
    val dir = s"$base/t"
    val table = new Path(dir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SinkFormats.perBucketSegments(heightRows(1, 1L to 20L), heightRows(2, 1L to 20L),
      dir, Seq("h", "k"), "h", buckets = 4, hwm = 2)
    val old = ManifestCommit.latest(fs, table).get
    assert(old.dirs.keys.exists(_.contains("+")), old.dirs)
    assertRefused(dir)
    // a crash before the commit left an orphan generation
    val orphan = new Path(dir, s"_g${old.version + 1}-0badcafe")
    fs.mkdirs(new Path(orphan, "__bucket=0"))

    assert(ParquetMergeSink.upgrade(spark, dir) === Some(old.version + 1))
    SinkFormats.assertCurrent(spark, dir)
    assert(!fs.exists(orphan))
    val m = ManifestCommit.latest(fs, table).get
    assert(m.dirs.keySet === (0 until 4).map(_.toString).toSet, m.dirs)
    def kept(e: Map[String, String]) = e.filter { case (k, _) => !k.startsWith("dir.") } - "txid"
    assert(kept(m.entries) === kept(old.entries), "every entry but the data dirs must carry")
    def rows() = ParquetMergeSink.read(spark, dir).collect()
      .map(r => (r.getAs[Long]("h"), r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    val expected = (1L to 2L).flatMap(h => (1L to 20L).map(k => (h, k, s"v$h-$k"))).toSet
    assert(rows() === expected)
    // the pre-upgrade version is refused, never misread
    val e = intercept[IllegalStateException](
      ParquetMergeSink.readVersion(spark, dir, old.version))
    assert(e.getMessage.contains("system.upgrade"), e.getMessage)

    // later merges take the paths a current table of the same rows takes
    val twin = s"$base/twin"
    (1 to 2).foreach(_ => ParquetMergeSink.merge(heightRows(1, 1L to 20L), twin,
      Seq("h", "k"), "h", nBuckets = 4))
    ParquetMergeSink.merge(heightRows(2, 1L to 20L), twin, Seq("h", "k"), "h")
    Seq(heightRows(3, Seq(1L)), heightRows(2, 1L to 20L)).foreach { b =>
      assert(pathOf(b, dir, Seq("h", "k"), "h") === pathOf(b, twin, Seq("h", "k"), "h"))
    }
    assert(rows() === expected + ((3L, 1L, "v3-1")))
    SinkFormats.assertCurrent(spark, dir)
    assert(ParquetMergeSink.upgrade(spark, dir) === None)
  }

  test("upgrade stamps unstamped manifests; current tables commit nothing") {
    import org.apache.hadoop.fs.Path
    val base = java.nio.file.Files.createTempDirectory("graft-unstamped").toString
    val dir = s"$base/t"
    val table = new Path(dir)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SinkFormats.unstamped(heightRows(1, 1L to 8L), dir, Seq("h", "k"), "h", 4)
    val old = ManifestCommit.latest(fs, table).get
    assertRefused(dir)

    assert(ParquetMergeSink.upgrade(spark, dir) === Some(old.version + 1))
    SinkFormats.assertCurrent(spark, dir)
    val m = ManifestCommit.latest(fs, table).get
    assert(m.dirs === old.dirs, "stamping rewrites no rows")
    assert(ParquetMergeSink.declaredSchema(m).map(_.fieldNames.toSeq) === Some(Seq("h", "k", "v")))
    assert(ParquetMergeSink.read(spark, dir).collect()
      .map(r => (r.getAs[Long]("h"), r.getAs[Long]("k"), r.getAs[String]("v"))).toSet ===
      (1L to 8L).map(k => (1L, k, s"v1-$k")).toSet)
    val twin = s"$base/twin"
    ParquetMergeSink.merge(heightRows(1, 1L to 8L), twin, Seq("h", "k"), "h", nBuckets = 4)
    val b = heightRows(2, 1L to 8L)
    assert(pathOf(b, dir, Seq("h", "k"), "h") === pathOf(b, twin, Seq("h", "k"), "h"))
    assert(ParquetMergeSink.read(spark, dir).count() === 16L)

    // a current table commits nothing and changes no file
    val before = SinkFormats.files(twin)
    assert(ParquetMergeSink.upgrade(spark, twin) === None)
    assert(SinkFormats.files(twin) === before)
  }
}

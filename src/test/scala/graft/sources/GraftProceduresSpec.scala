package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSpec
import graft.sinks.{ManifestCommit, ParquetMergeSink, SinkFormats, TableMaintenance}

/** `CALL graftp.system.*` — the SQL maintenance procedures
  * ([[GraftProcedures]]): history, rollback, vacuum, upgrade, compact.
  * Each test pins the SQL route against the underlying manifest-protocol API it
  * fronts, the same ≡-discipline as the INSERT/DELETE/MERGE specs.
  */
class GraftProceduresSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft-proc").toString
    spark.conf.set("spark.sql.catalog.graftp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftp.root", r)
    spark.conf.set("spark.sql.catalog.graftp.deleteKey.p", "k")
    spark.conf.set("spark.sql.catalog.graftp.deleteKey.empty", "k")
    r
  }

  private def fs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def versions(dir: String): Seq[Long] =
    ManifestCommit.committed(fs, new Path(dir)).map(_.version)

  test("compact materializes a deletion vector and reports the new version") {
    val dir = s"$root/p"
    (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v").write.parquet(dir)
    TableMaintenance.compact(spark, dir, targetBytes = 1 << 20)
    spark.sql("DELETE FROM graftp.p WHERE k > 30")

    val mPre = ManifestCommit.latest(fs, new Path(dir)).get
    assert(mPre.dirs.contains("deletes"), "setup: a vector must exist")

    val row = spark.sql(
      "CALL graftp.system.compact(table => 'p', target_mb => 1)").head
    val mPost = ManifestCommit.latest(fs, new Path(dir)).get
    assert(row.getLong(0) === mPost.version, "compact must report the committed version")
    assert(row.getInt(1) >= 1, "compact must report the output file count")
    assert(!mPost.dirs.contains("deletes"),
      "compact must materialize (and drop) the deletion vector")
    // logical table state unchanged; physical rows now equal logical rows
    assert(spark.sql("SELECT count(*) FROM graftp.p").head.getLong(0) === 30L)
    val physical = spark.read.parquet(
      TableMaintenance.resolveDataDir(spark, dir)).count()
    assert(physical === 30L, "deleted rows must be physically gone after compact")
  }

  test("history lists retained versions newest-first with layout + entries") {
    val dir = s"$root/p" // continues from the compact test's state
    val rows = spark.sql("CALL graftp.system.history(table => 'p')").collect()
    assert(rows.map(_.getLong(0)).toSeq === versions(dir).sorted.reverse,
      "history must list exactly the retained manifest versions, newest first")
    assert(rows.forall(_.getString(2) === "maintained"))
    assert(rows.head.getString(3).contains("dir.table="),
      "entries must carry the manifest's key=value pairs")
    // committed_at parses as an instant
    rows.foreach(r => java.time.Instant.parse(r.getString(1)))
  }

  test("rollback restores a retained version as a NEW commit") {
    val dir = s"$root/rb"
    ParquetMergeSink.merge(Seq((1L, "a", 10L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 2)
    ParquetMergeSink.merge(Seq((1L, "a2", 20L), (2L, "b", 20L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 2)
    val Seq(v1, v2) = versions(dir).sorted.toSeq

    val row = spark.sql(
      s"CALL graftp.system.rollback(table => 'rb', version => $v1)").head
    assert(row.getLong(0) === v1)
    assert(row.getLong(1) > v2, "rollback commits a NEW version (history preserved)")
    SinkFormats.assertCurrent(spark, dir)
    // SQL reads now serve the restored state
    assert(spark.sql("SELECT k, v FROM graftp.rb").collect().map(_.toSeq).toSet
      === Set(Seq(1L, "a")),
      "current reads must serve the rolled-back state")
    // and the rolled-PAST version is still readable (history, not erasure)
    assert(spark.sql(s"SELECT count(*) FROM graftp.rb VERSION AS OF $v2")
      .head.getLong(0) === 2L)
    // a vacuumed / never-committed version refuses loudly
    val e = intercept[Exception] {
      spark.sql("CALL graftp.system.rollback(table => 'rb', version => 999)").collect()
    }
    assert(e.getMessage.contains("not in the retained commit log"))
  }

  test("vacuum trims history and reports what is retained") {
    val dir = s"$root/rb" // three retained versions from the rollback test
    assert(versions(dir).size >= 2)
    val row = spark.sql(
      "CALL graftp.system.vacuum(table => 'rb', keep => 1)").head
    assert(row.getInt(0) === 1, "keep=1 must retain exactly one version")
    assert(row.getLong(1) === row.getLong(2), "oldest == newest when one retained")
    assert(versions(dir) === Seq(row.getLong(2)))
    // the vacuumed version is gone from time travel
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graftp.rb VERSION AS OF ${row.getLong(2) - 1}").collect()
    }
    // keep must be >= 1 (keep=0 would delete the table's only manifest)
    val e = intercept[Exception] {
      spark.sql("CALL graftp.system.vacuum(table => 'rb', keep => 0)").collect()
    }
    assert(e.getMessage.contains("keep must be >= 1"))
  }

  test("compact refuses merge-sink bucketed tables; unknown procedures are loud") {
    val e1 = intercept[Exception] {
      spark.sql("CALL graftp.system.compact(table => 'rb')").collect()
    }
    assert(e1.getMessage.contains("merge-sink"),
      "bucketed tables have nothing to compact — the refusal must say so")
    // history still serves them (read-only audit)
    assert(spark.sql("CALL graftp.system.history(table => 'rb')").collect()
      .forall(_.getString(2) === "merge-sink"))

    val e2 = intercept[Exception] {
      spark.sql("CALL graftp.system.frobnicate(table => 'rb')").collect()
    }
    assert(e2.getMessage.contains("frobnicate"))
    // a non-`system` namespace refuses (Spark wraps it as FAILED_TO_LOAD_ROUTINE)
    val e3 = intercept[Exception] {
      spark.sql("CALL graftp.elsewhere.history(table => 'rb')").collect()
    }
    assert(e3.getMessage.contains("elsewhere"))
    val e4 = intercept[Exception] {
      spark.sql("CALL graftp.system.history(table => 'no_such_table')").collect()
    }
    assert(e4.getMessage.contains("not a managed table"))
  }

  test("SHOW PROCEDURES lists the maintenance surface") {
    root // force catalog registration
    val shown = spark.sql("SHOW PROCEDURES IN graftp.system")
    val nameCol = shown.columns.indexWhere(_.contains("procedure"))
    assert(nameCol >= 0, s"unexpected SHOW PROCEDURES schema: ${shown.columns.toSeq}")
    assert(shown.collect().map(_.getString(nameCol)).toSet
      === GraftProcedures.All.toSet)
  }

  test("sort rewrites the managed layout key-ordered and commits a version") {
    val dir = s"$root/srt"
    // deliberately unsorted ingest
    Seq(7L, 3L, 9L, 1L, 5L, 8L, 2L, 6L, 4L).map(k => (k, s"v$k"))
      .toDF("k", "v").write.parquet(dir)
    TableMaintenance.compact(spark, dir, targetBytes = 1 << 20)
    val pre = versions(dir).max

    val row = spark.sql(
      "CALL graftp.system.sort(table => 'srt', keys => 'k', files => 3)").head
    assert(row.getLong(0) > pre, "sort must commit a new manifest version")
    assert(row.getInt(1) === 3)

    val dataDir = TableMaintenance.resolveDataDir(spark, dir)
    val files = fs.listStatus(new Path(dataDir))
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.length === 3, "sort must write the requested file count")
    // disjoint ascending key ranges per file — the zone-map layout
    val ranges = files.map { f =>
      val ks = spark.read.parquet(f.getPath.toString)
        .select("k").collect().map(_.getLong(0))
      (ks.min, ks.max)
    }.sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Array((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"files must own disjoint key ranges, got ${ranges.toSeq}")
    // logical content unchanged; manifest records the layout
    assert(spark.sql("SELECT count(*) FROM graftp.srt").head.getLong(0) === 9L)
    assert(ManifestCommit.latest(fs, new Path(dir)).get
      .entries("layout") === "sorted(k)")
  }

  test("sort reports the COMMITTED file count when cardinality caps the split") {
    val dir = s"$root/srt_few"
    // 2 distinct keys: repartitionByRange(8, k) can produce at most 2
    // non-empty range partitions, so fewer than the requested files land
    Seq((1L, "a"), (2L, "b"), (1L, "c"), (2L, "d"))
      .toDF("k", "v").write.parquet(dir)
    TableMaintenance.compact(spark, dir, targetBytes = 1 << 20)
    val row = spark.sql(
      "CALL graftp.system.sort(table => 'srt_few', keys => 'k', files => 8)").head
    val dataDir = TableMaintenance.resolveDataDir(spark, dir)
    val onDisk = fs.listStatus(new Path(dataDir))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(row.getInt(1) === onDisk,
      s"procedure must report what landed ($onDisk files), not the request (8)")
    assert(onDisk < 8, "fixture must actually exercise the under-split case")
  }

  test("zorder + stats_index: clustered rewrite, zone map, pruned serve") {
    val dir = s"$root/zo"
    (1L to 256L).map(k => (k, k % 16, s"v$k")).toDF("k", "g", "v")
      .write.parquet(dir)
    TableMaintenance.compact(spark, dir, targetBytes = 1 << 20)

    val zrow = spark.sql(
      "CALL graftp.system.zorder(table => 'zo', keys => 'k,g', files => 4)").head
    assert(zrow.getInt(1) === 4)
    assert(ManifestCommit.latest(fs, new Path(dir)).get
      .entries("layout") === "zorder(k,g)")
    assert(spark.sql("SELECT count(*) FROM graftp.zo").head.getLong(0) === 256L)

    val srow = spark.sql(
      "CALL graftp.system.stats_index(table => 'zo', keys => 'k,g')").head
    assert(srow.getInt(0) === 4, "stats_index must report the files indexed")
    assert(srow.getString(1) === "k,g")

    // the indexed layout serves range reads ≡ full scan, opening fewer
    // files (the readSkippingManaged path the procedure prepares)
    val skipped = TableMaintenance.readSkippingManaged(spark, dir,
      Seq(TableMaintenance.KeyRange("k", 1.0, 32.0)))
    val expect = spark.sql("SELECT * FROM graftp.zo WHERE k BETWEEN 1 AND 32")
    assert(skipped.collect().map(_.getLong(0)).sorted.toSeq
      === expect.collect().map(_.getLong(0)).sorted.toSeq)
    assert(skipped.inputFiles.length < 4,
      "a selective key range must prune at least one z-ordered file")

    // layout rewrites refuse merge-sink bucketed tables, like compact
    val e = intercept[Exception] {
      spark.sql("CALL graftp.system.sort(table => 'rb', keys => 'k')").collect()
    }
    assert(e.getMessage.contains("merge-sink"))
    // and refuse an empty key list loudly
    val e2 = intercept[Exception] {
      spark.sql("CALL graftp.system.zorder(table => 'zo', keys => ' ')").collect()
    }
    assert(e2.getMessage.contains("at least one column"))
  }

  test("defaults and positional arguments bind") {
    val dir = s"$root/d"
    (1L to 8L).map(k => (k, k * 2)).toDF("k", "x").write.parquet(dir)
    TableMaintenance.compact(spark, dir, targetBytes = 1 << 20)
    // positional, defaults for target_mb + sort_by
    val row = spark.sql("CALL graftp.system.compact('d')").head
    assert(row.getInt(1) === 1)
    // sorted compaction through the sort_by argument = zone-map restore
    spark.sql("CALL graftp.system.compact('d', 1, 'k')")
    val data = spark.read.parquet(TableMaintenance.resolveDataDir(spark, dir))
      .select("k").collect().map(_.getLong(0))
    assert(data.toSeq === data.sorted.toSeq, "sort_by must order the rewrite")
    assert(spark.sql("SELECT count(*) FROM graftp.d").head.getLong(0) === 8L)
  }

  test("export/restore round-trips the catalog with version history") {
    // a table with real history: base generation, then a deletion-vector
    // commit, so VERSION AS OF distinguishes the restored versions
    val dir = s"$root/exp_t"
    (1L to 6L).map(k => (k, s"v$k")).toDF("k", "v").write.parquet(dir)
    TableMaintenance.compact(spark, dir, targetBytes = 1 << 20)
    val preDelete = versions(dir).max
    // protocol-level delete (the catalog instance may predate any
    // deleteKey conf this test could set)
    TableMaintenance.deleteWhere(spark, dir, "k",
      org.apache.spark.sql.functions.col("k") > 4)
    assert(spark.sql("SELECT count(*) FROM graftp.exp_t").head.getLong(0) === 4L)
    // a second managed table, so the archive is genuinely multi-table
    // even when this test runs alone
    val dir2 = s"$root/exp_u"
    (1L to 8L).map(k => (k, k * 2)).toDF("k", "x").write.parquet(dir2)
    TableMaintenance.compact(spark, dir2, targetBytes = 1 << 20)

    val archive = java.nio.file.Files
      .createTempDirectory("graft-archive").toString + "/arc"
    val exported = spark.sql(
      s"CALL graftp.system.export(dest => '$archive')").collect()
    // the whole catalog went: every managed table this suite created
    val names = exported.map(_.getString(0)).toSet
    assert(names.contains("exp_t") && names.size > 1,
      s"expected a multi-table archive, got $names")
    exported.foreach(r => assert(r.getLong(2) > 0 && r.getLong(3) > 0L,
      s"archived table ${r.getString(0)} must report files+bytes"))

    // restore into a FRESH catalog root (the disaster-recovery shape)
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-restored").toString
    spark.conf.set("spark.sql.catalog.graftr", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftr.root", root2)
    val restored = spark.sql(
      s"CALL graftr.system.restore(src => '$archive')").collect()
    assert(restored.map(_.getString(0)).toSet === names)

    // current state AND history both serve from the restored chain
    assert(spark.sql("SELECT count(*) FROM graftr.exp_t").head.getLong(0) === 4L)
    assert(spark.sql(
      s"SELECT count(*) FROM graftr.exp_t VERSION AS OF $preDelete")
      .head.getLong(0) === 6L,
      "the restored manifest chain must serve pre-delete history")
    assert(spark.sql("SELECT count(*) FROM graftr.exp_u").head.getLong(0) === 8L)

    // an existing table refuses silent replacement…
    val e = intercept[Exception](spark.sql(
      s"CALL graftr.system.restore(src => '$archive', table => 'exp_t')")
      .collect())
    assert(e.getMessage.contains("overwrite"), e.getMessage)
    // …and replaces under the explicit flag
    spark.sql(s"CALL graftr.system.restore(src => '$archive', " +
      "table => 'exp_t', overwrite => true)").collect()
    assert(spark.sql("SELECT count(*) FROM graftr.exp_t").head.getLong(0) === 4L)

    // a half-written archive (no completeness manifest) refuses to restore
    val broken = java.nio.file.Files
      .createTempDirectory("graft-broken").toString + "/arc"
    new java.io.File(broken).mkdirs()
    val e2 = intercept[Exception](spark.sql(
      s"CALL graftr.system.restore(src => '$broken')").collect())
    assert(e2.getMessage.contains("not a graft export archive"), e2.getMessage)
  }

  test("a table of segments only serves SQL, VERSION AS OF, history, " +
      "vacuum, export/restore and ADD COLUMN; compact and zorder refuse it") {
    val dir = s"$root/seg"
    def batch(h: Long) = (1L to 12L).map(k => (h, k, s"v$h-$k")).toDF("h", "k", "v")
    (1L to 4L).foreach(h => ParquetMergeSink.merge(batch(h), dir, Seq("h", "k"), "h", nBuckets = 4))
    val head = ManifestCommit.latest(fs, new Path(dir)).get
    assert(head.dirs.size === 4 && head.dirs.keys.forall(_.startsWith("+")),
      s"not a table of segments only: ${head.dirs}")
    def count(sql: String) = spark.sql(sql).head.getLong(0)
    assert(count("SELECT count(*) FROM graftp.seg") === 48L)
    assert(count(s"SELECT count(*) FROM graftp.seg VERSION AS OF ${head.version - 1}") === 36L)
    assert(spark.sql("CALL graftp.system.history(table => 'seg')").collect()
      .forall(_.getString(2) === "merge-sink"))
    Seq("CALL graftp.system.compact(table => 'seg')",
        "CALL graftp.system.zorder(table => 'seg', keys => 'k,h')").foreach { q =>
      val e = intercept[Exception](spark.sql(q).collect())
      assert(e.getMessage.contains("merge-sink"), e.getMessage)
    }

    // keep=1 drops the previous manifest; the segments the head names stay
    spark.sql("CALL graftp.system.vacuum(table => 'seg', keep => 1)").collect()
    assert(count("SELECT count(*) FROM graftp.seg") === 48L)
    assert(ParquetMergeSink.read(spark, dir).count() === 48L)

    val archive = java.nio.file.Files
      .createTempDirectory("graft-seg-archive").toString + "/arc"
    spark.sql(s"CALL graftp.system.export(dest => '$archive', table => 'seg')").collect()
    val root3 = java.nio.file.Files.createTempDirectory("graft-seg-restored").toString
    spark.conf.set("spark.sql.catalog.graftq", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftq.root", root3)
    spark.sql(s"CALL graftq.system.restore(src => '$archive')").collect()
    assert(count("SELECT count(*) FROM graftq.seg") === 48L)

    // ADD COLUMN re-references every segment; the next append writes it
    spark.sql("ALTER TABLE graftp.seg ADD COLUMN note STRING")
    ParquetMergeSink.merge(batch(5).withColumn("note",
      org.apache.spark.sql.functions.lit("new")), dir, Seq("h", "k"), "h")
    assert(graft.StrategyLog.lastChoice("merge_commit").exists(_.startsWith("append ")))
    assert(count("SELECT count(*) FROM graftp.seg WHERE note IS NULL") === 48L)
    assert(count("SELECT count(*) FROM graftp.seg WHERE note = 'new'") === 12L)

    // SQL UPDATE and MERGE take the merge path over the segments
    spark.sql("UPDATE graftp.seg SET v = 'upd' WHERE h = 2 AND k = 3")
    Seq((5L, 1L, "m", "x", "d"), (6L, 1L, "ins", "x", "u"))
      .toDF("h", "k", "v", "note", "op")
      .createOrReplaceTempView("segsrc")
    spark.sql("""MERGE INTO graftp.seg AS t USING segsrc AS s
      ON t.h = s.h AND t.k = s.k
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT *""")
    assert(count("SELECT count(*) FROM graftp.seg") === 60L)
    assert(spark.sql("SELECT v FROM graftp.seg WHERE h = 2 AND k = 3").head.getString(0) === "upd")
    assert(count("SELECT count(*) FROM graftp.seg WHERE h = 6") === 1L)
  }

  test("upgrade commits each old format once; SQL refuses it before") {
    def batch(h: Long) = (1L to 12L).map(k => (h, k, s"v$h-$k")).toDF("h", "k", "v")
    def count(sql: String) = spark.sql(sql).head.getLong(0)
    SinkFormats.preManifest((1L to 12L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "ver"),
      s"$root/up_pre", Seq("k"), 4)
    SinkFormats.perBucketSegments(batch(1), batch(2), s"$root/up_seg",
      Seq("h", "k"), "h", buckets = 4, hwm = 2)
    SinkFormats.unstamped(batch(1), s"$root/up_uns", Seq("h", "k"), "h", 4)
    // a pre-manifest table records no write contract, so its call names one
    val contract = Map("up_pre" -> ", keys => 'k', version => 'ver'").withDefaultValue("")
    Seq("up_pre" -> 12L, "up_seg" -> 24L, "up_uns" -> 12L).foreach { case (t, n) =>
      val dir = new Path(s"$root/$t")
      val old = ManifestCommit.latest(fs, dir)
      // history lists every retained version of an old table as merge-sink
      if (old.isDefined) {
        val layouts = spark.sql(s"CALL graftp.system.history(table => '$t')")
          .collect().map(_.getString(2)).toSeq
        assert(layouts.nonEmpty && layouts.forall(_ == "merge-sink"), s"$t: $layouts")
      }
      // a SELECT is refused before any job, and creates no file
      val before = SinkFormats.files(dir.toString)
      var e: Throwable = null
      assert(jobsOf { e = intercept[Exception](spark.sql(s"SELECT * FROM graftp.$t")) } === 0)
      assert(e.getMessage.contains("system.upgrade"), s"$t: ${e.getMessage}")
      assert(SinkFormats.files(dir.toString) === before, t)

      val up = spark.sql(s"CALL graftp.system.upgrade(table => '$t'${contract(t)})").head
      assert(up.getBoolean(0), t)
      val v = up.getLong(1)
      assert(v === old.fold(1L)(_.version + 1), t)
      SinkFormats.assertCurrent(spark, dir.toString)
      assert(count(s"SELECT count(*) FROM graftp.$t") === n, t)
      assert(count(s"SELECT count(*) FROM graftp.$t VERSION AS OF $v") === n, t)
      val history = spark.sql(s"CALL graftp.system.history(table => '$t')").collect()
      assert(history.head.getLong(0) === v && history.head.getString(2) === "merge-sink" &&
        history.head.getString(3).contains("schema="), t)
      // the pre-upgrade version is refused loudly, never misread
      old.foreach { o =>
        val e = intercept[Exception](
          spark.sql(s"SELECT * FROM graftp.$t VERSION AS OF ${o.version}").collect())
        assert(e.getMessage.contains("system.upgrade"), s"$t: ${e.getMessage}")
      }
      // a re-run commits nothing
      val again = spark.sql(s"CALL graftp.system.upgrade(table => '$t')").head
      assert(!again.getBoolean(0) && again.getLong(1) === v, t)
    }
    // a created table's v1 names no dir and is merge-sink all the same
    spark.sql("""CREATE TABLE graftp.up_new (k BIGINT, ver BIGINT)
      TBLPROPERTIES('merge.keys'='k','merge.version'='ver')""")
    assert(spark.sql("CALL graftp.system.history(table => 'up_new')").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq === Seq((1L, "merge-sink")))
  }

  test("a pre-manifest table's upgrade needs its contract and stamps hwm in " +
      "one run; its next batch appends") {
    def batch(h: Long) = (1L to 12L).map(k => (h, k, s"v$h-$k")).toDF("h", "k", "v")
    val dir = s"$root/up_hwm"
    SinkFormats.preManifest(batch(1).unionByName(batch(3)), dir, Seq("h", "k"), 4)
    val bare = intercept[Exception](
      spark.sql("CALL graftp.system.upgrade(table => 'up_hwm')").collect())
    assert(bare.getMessage.contains("keys => ") && bare.getMessage.contains("version => "),
      bare.getMessage)
    val refused = intercept[Exception](spark.sql(
      "CALL graftp.system.upgrade(table => 'up_hwm', keys => 'h,k')").collect())
    assert(refused.getMessage.contains("together"), refused.getMessage)
    val up = spark.sql(
      "CALL graftp.system.upgrade(table => 'up_hwm', keys => 'h,k', version => 'h')").head
    assert(up.getBoolean(0) && up.getLong(1) === 1L)
    val m = ManifestCommit.latest(fs, new Path(dir)).get
    assert(m.entries.get(ParquetMergeSink.HwmKey) === Some("3"), m.entries)
    assert(m.entries.get("merge.keys") === Some("h,k") && m.entries.get("merge.version") === Some("h"))
    SinkFormats.assertCurrent(spark, dir)
    // converged: a re-run commits nothing, and a different contract is refused
    assert(!spark.sql("CALL graftp.system.upgrade(table => 'up_hwm')").head.getBoolean(0))
    val other = intercept[Exception](spark.sql(
      "CALL graftp.system.upgrade(table => 'up_hwm', keys => 'k', version => 'h')").collect())
    assert(other.getMessage.contains("contract"), other.getMessage)
    ParquetMergeSink.merge(batch(4), dir, Seq("h", "k"), "h")
    assert(graft.StrategyLog.lastChoice("merge_commit").exists(_.startsWith("append ")),
      graft.StrategyLog.lastChoice("merge_commit"))
    assert(spark.sql("SELECT count(*) FROM graftp.up_hwm").head.getLong(0) === 36L)
  }

  test("a MERGE after an INSERT into a created 16-bucket table folds only " +
      "its touched bucket") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val dir = s"$root/drain16"
    spark.sql("""CREATE TABLE graftp.drain16 (k BIGINT, v STRING, ver BIGINT)
      TBLPROPERTIES('merge.keys'='k','merge.version'='ver')""")
    spark.sql("INSERT INTO graftp.drain16 VALUES " +
      (1 to 10).map(k => s"($k, 'a$k', 1)").mkString(", "))
    assert(graft.StrategyLog.lastChoice("merge_commit").exists(_.startsWith("append ")))
    Seq((2L, "b2", 2L)).toDF("k", "v", "ver").createOrReplaceTempView("drain16src")
    spark.sql("""MERGE INTO graftp.drain16 AS t USING drain16src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val choice = graft.StrategyLog.lastChoice("merge_commit").getOrElse("")
    assert(choice.startsWith("merge ") && choice.contains(" folded=1 ") &&
      choice.contains(" drain=false "), choice)
    // the commit writes two dirs, the touched bucket's base and one segment
    // of the other rows: three files (the bucket's two rows leave two
    // shuffle partitions), where a drain wrote a dir and a file for every
    // bucket the ten keys hash to
    val m = ManifestCommit.latest(fs, new Path(dir)).get
    val files = m.dirs.values.toSeq.map(rel => fs.listStatus(new Path(dir, rel))
      .count(_.getPath.getName.endsWith(".parquet")))
    val reached = (1L to 10L).toDF("k").select(pmod(xxhash64(col("k")), lit(16)))
      .distinct().count()
    assert(reached > 2, s"the keys reach only $reached buckets")
    assert(m.dirs.size === 2 && files.sum === 3, s"$files ${m.dirs}")
    assert(spark.sql("SELECT v FROM graftp.drain16 WHERE k = 2").head.getString(0) === "b2")
    assert(spark.sql("SELECT count(*) FROM graftp.drain16").head.getLong(0) === 10L)
  }

  test("an empty created table refuses DELETE, compact, sort, zorder and " +
      "deleteWhere, and changes no file") {
    val dir = s"$root/empty"
    spark.sql("""CREATE TABLE graftp.empty (k BIGINT, v STRING, ver BIGINT)
      TBLPROPERTIES('merge.keys'='k','merge.version'='ver','buckets'='4')""")
    val before = SinkFormats.files(dir)
    // a declared deleteKey does not make a merge-sink table SQL-deletable
    intercept[Exception](spark.sql("DELETE FROM graftp.empty WHERE k = 1").collect())
    assert(SinkFormats.files(dir) === before, "DELETE FROM changed a file")
    Seq("CALL graftp.system.compact(table => 'empty')",
        "CALL graftp.system.sort(table => 'empty', keys => 'k')",
        "CALL graftp.system.zorder(table => 'empty', keys => 'k,ver')").foreach { q =>
      val e = intercept[Exception](spark.sql(q).collect())
      assert(e.getMessage.contains("merge-sink"), s"$q: ${e.getMessage}")
      assert(SinkFormats.files(dir) === before, q)
    }
    val e = intercept[IllegalArgumentException](TableMaintenance.deleteWhere(
      spark, dir, "k", org.apache.spark.sql.functions.col("k") === 1L))
    assert(e.getMessage.contains("merge-sink"), e.getMessage)
    assert(SinkFormats.files(dir) === before, "deleteWhere changed a file")
    assert(spark.sql("SELECT count(*) FROM graftp.empty").head.getLong(0) === 0L)
  }
}

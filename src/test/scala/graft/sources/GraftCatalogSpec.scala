package graft.sources

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sinks.{ParquetMergeSink, SinkFormats, TableMaintenance}

class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root: String = {
    val r = java.nio.file.Files.createTempDirectory("graft-catalog").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", r)
    // declared unique delete key for the SQL DELETE spec table (catalog
    // options are read once at initialize — declare before first use)
    spark.conf.set("spark.sql.catalog.graft.deleteKey.sdel", "k")
    r
  }

  test("SQL reads a merge-sink table identically to the API, incl. time travel") {
    val dir = s"$root/t"
    ParquetMergeSink.merge(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    ParquetMergeSink.merge(
      Seq((2L, "b2", 20L), (3L, "c", 20L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "ver").collect().map(_.toSeq).toSet

    assert(rows(spark.sql("SELECT * FROM graft.t"))
      === rows(ParquetMergeSink.read(spark, dir)),
      "SQL current read must equal the API read")

    // time travel: every retained version must match readVersion
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val versions = graft.sinks.ManifestCommit
      .committed(fs, new org.apache.hadoop.fs.Path(dir)).map(_.version)
    assert(versions.size >= 2)
    versions.foreach { v =>
      assert(rows(spark.sql(s"SELECT * FROM graft.t VERSION AS OF $v"))
        === rows(ParquetMergeSink.readVersion(spark, dir, v)),
        s"VERSION AS OF $v must route through readVersion")
    }
    // versions differ (the time travel is real)
    assert(rows(spark.sql(s"SELECT * FROM graft.t VERSION AS OF ${versions.head}"))
      !== rows(spark.sql("SELECT * FROM graft.t")))
    // a vacuumed version fails loudly, like the API
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.t VERSION AS OF 999").collect()
    }
    // pushdown sanity: a filtered projection agrees with the API path
    assert(spark.sql("SELECT v FROM graft.t WHERE k = 2").collect()
      .map(_.getString(0)).toSeq === Seq("b2"))
  }

  test("deletion vectors are honored through the catalog path") {
    val dir = s"$root/dv"
    // a maintained single table with a deletion vector
    (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
      .write.parquet(dir)
    TableMaintenance.compact(spark, dir, targetBytes = 1 << 20)
    TableMaintenance.deleteWhere(spark, dir, "k", col("k") % 2 === 0)

    val api = TableMaintenance.read(spark, dir).collect()
      .map(_.getAs[Long]("k")).toSet
    val viaSql = spark.sql("SELECT k FROM graft.dv").collect()
      .map(_.getLong(0)).toSet
    assert(viaSql === api, "SQL read must apply the deletion vector")
    assert(viaSql === (1L to 19L by 2).toSet)

    // the key column pruned OUT of the projection still drives the filter
    val vs = spark.sql("SELECT v FROM graft.dv").collect()
      .map(_.getString(0)).toSet
    assert(vs === (1L to 19L by 2).map(k => s"v$k").toSet,
      "a projection without the key column must still drop deleted rows")

    // and an aggregate cannot sneak past the vector
    assert(spark.sql("SELECT count(*) FROM graft.dv").head.getLong(0) === 10L)

    // time travel BEFORE the delete resurrects the rows (manifest contract)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val versions = graft.sinks.ManifestCommit
      .committed(fs, new org.apache.hadoop.fs.Path(dir)).map(_.version)
    val preDelete = versions.init.last
    assert(spark.sql(s"SELECT count(*) FROM graft.dv VERSION AS OF $preDelete")
      .head.getLong(0) === 20L,
      "pre-delete version must still see all rows")
  }

  test("INSERT INTO routes through the idempotent merge protocol") {
    def mk(dir: String): Unit = ParquetMergeSink.merge(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    def rows(dir: String) = ParquetMergeSink.read(spark, dir)
      .select("k", "v", "ver").collect().map(_.toSeq).toSet

    mk(s"$root/w")
    spark.sql("INSERT INTO graft.w VALUES (2, 'b2', 20), (3, 'c', 20)")
    SinkFormats.assertCurrent(spark, s"$root/w")
    val afterOnce = rows(s"$root/w")
    assert(afterOnce === Set(Seq(1L, "a", 10L), Seq(2L, "b2", 20L), Seq(3L, "c", 20L)),
      "INSERT must upsert latest-wins on the merge keys, not append")

    // SQL insert ≡ API merge: the same second batch through the API on a
    // sibling table produces the identical table state
    mk(s"$root/w_api")
    ParquetMergeSink.merge(
      Seq((2L, "b2", 20L), (3L, "c", 20L)).toDF("k", "v", "ver"),
      s"$root/w_api", Seq("k"), "ver", nBuckets = 4)
    assert(rows(s"$root/w_api") === afterOnce, "SQL insert must equal API merge")

    // replay idempotence: re-running the same INSERT converges
    spark.sql("INSERT INTO graft.w VALUES (2, 'b2', 20), (3, 'c', 20)")
    assert(rows(s"$root/w") === afterOnce, "replayed INSERT must be a no-op")

    // SQL reads observe the SQL write (catalog resolves the new manifest)
    assert(spark.sql("SELECT v FROM graft.w WHERE k = 3").collect()
      .map(_.getString(0)).toSeq === Seq("c"))

    // upsert-only surface: INSERT OVERWRITE refuses loudly
    intercept[Exception] {
      spark.sql("INSERT OVERWRITE graft.w VALUES (9, 'z', 1)")
    }
  }

  test("DELETE FROM routes through the deletion-vector protocol") {
    val dir = s"$root/sdel"
    (1L to 30L).map(k => (k, s"v$k")).toDF("k", "v").write.parquet(dir)
    TableMaintenance.compact(spark, dir, targetBytes = 1 << 20)

    spark.sql("DELETE FROM graft.sdel WHERE k > 20 OR k = 5")
    def keysSql = spark.sql("SELECT k FROM graft.sdel").collect()
      .map(_.getLong(0)).toSet
    val expected = (1L to 20L).toSet - 5L
    assert(keysSql === expected, "SQL DELETE must drop exactly the matches")
    assert(TableMaintenance.read(spark, dir).collect()
      .map(_.getAs[Long]("k")).toSet === expected,
      "the API read must see the same vector")

    // time travel before the delete resurrects everything (check now —
    // each delete commit vacuums with keep=2, so the pre-delete manifest
    // is only retained while the delete is the LATEST commit)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val versions = graft.sinks.ManifestCommit
      .committed(fs, new org.apache.hadoop.fs.Path(dir)).map(_.version)
    assert(spark.sql(s"SELECT count(*) FROM graft.sdel VERSION AS OF ${versions.head}")
      .head.getLong(0) === 30L)

    // replay idempotence: same DELETE re-unions the same keys
    spark.sql("DELETE FROM graft.sdel WHERE k > 20 OR k = 5")
    assert(keysSql === expected)

    // a second delete on a NON-key column unions into the same vector
    spark.sql("DELETE FROM graft.sdel WHERE v = 'v2'")
    assert(keysSql === expected - 2L)

    // a predicate with no Filter translation refuses the WHOLE delete
    intercept[Exception] {
      spark.sql("DELETE FROM graft.sdel WHERE k % 3 = 0")
    }
    assert(keysSql === expected - 2L, "a refused delete must change nothing")

    // a bucketed merge-sink table has no delete key — refuse loudly
    ParquetMergeSink.merge(Seq((1L, "x", 1L)).toDF("k", "v", "ver"),
      s"$root/nodel", Seq("k"), "ver", nBuckets = 2)
    intercept[Exception] {
      spark.sql("DELETE FROM graft.nodel WHERE k = 1")
    }
  }

  test("MERGE INTO routes through mergeActions: three actions, one commit") {
    def mk(dir: String): Unit = ParquetMergeSink.merge(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    def rows(dir: String) = ParquetMergeSink.read(spark, dir)
      .select("k", "v", "ver").collect().map(_.toSeq).toSet
    def versions(dir: String) = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      graft.sinks.ManifestCommit
        .committed(fs, new org.apache.hadoop.fs.Path(dir)).map(_.version)
    }
    mk(s"$root/m")
    mk(s"$root/m_api")
    // delete k=1; update k=2; insert k=3 with an IN-BATCH DUPLICATE
    // (ver 30 must win); unmatched delete-marked k=9 is a no-op
    val src = Seq(
      (1L, "-", 20L, "d"), (2L, "b2", 20L, "u"), (3L, "c", 20L, "u"),
      (3L, "c30", 30L, "u"), (9L, "-", 20L, "d"))
      .toDF("k", "v", "ver", "op")
    src.createOrReplaceTempView("msrc")
    val mergeSql = """
      MERGE INTO graft.m AS t USING msrc AS s ON t.k = s.k
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT *
    """
    val before = versions(s"$root/m").max
    spark.sql(mergeSql)
    SinkFormats.assertCurrent(spark, s"$root/m")
    val after = rows(s"$root/m")
    assert(after === Set(Seq(2L, "b2", 20L), Seq(3L, "c30", 30L)),
      "MERGE must delete, update (source wins), insert, and resolve " +
        "in-batch duplicates latest-wins on the version column")
    assert(versions(s"$root/m").max === before + 1,
      "all three actions must land as ONE manifest version increment")

    // SQL MERGE ≡ API mergeActions on an identical sibling table
    ParquetMergeSink.mergeActions(src, s"$root/m_api", Seq("k"), "ver",
      col("op") === "d", nBuckets = 4)
    assert(rows(s"$root/m_api") === after, "SQL MERGE must equal API mergeActions")

    // replay idempotence: the re-delete of the now-absent k=1 is a no-op
    spark.sql(mergeSql)
    assert(rows(s"$root/m") === after, "replayed MERGE must converge")

    // SQL reads observe the merge (catalog resolves the new manifest)
    assert(spark.sql("SELECT v FROM graft.m WHERE k = 3").collect()
      .map(_.getString(0)).toSeq === Seq("c30"))
  }

  test("MERGE INTO refuses non-mergeActions shapes loudly and atomically") {
    ParquetMergeSink.merge(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver"),
      s"$root/mr", Seq("k"), "ver", nBuckets = 4)
    Seq((2L, "b2", 20L, "u"), (3L, "c", 20L, "d"))
      .toDF("k", "v", "ver", "op").createOrReplaceTempView("mrsrc")
    val before = ParquetMergeSink.read(spark, s"$root/mr")
      .select("k", "v", "ver").collect().map(_.toSeq).toSet

    def refused(sql: String, hint: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage != null && e.getMessage.contains("MERGE INTO"),
        s"$hint: expected a loud MERGE refusal, got: ${e.getMessage}")
      assert(ParquetMergeSink.read(spark, s"$root/mr")
        .select("k", "v", "ver").collect().map(_.toSeq).toSet === before,
        s"$hint: a refused MERGE must change nothing")
    }
    // no INSERT action (unmatched rows would be dropped silently)
    refused("""MERGE INTO graft.mr t USING mrsrc s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET *""", "update-only")
    // partial assignment (non-star update)
    refused("""MERGE INTO graft.mr t USING mrsrc s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET v = s.v
               WHEN NOT MATCHED THEN INSERT *""", "partial SET")
    // conditional UPDATE
    refused("""MERGE INTO graft.mr t USING mrsrc s ON t.k = s.k
               WHEN MATCHED AND s.op = 'u' THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""", "conditional update")
    // ON is not the merge keys
    refused("""MERGE INTO graft.mr t USING mrsrc s ON t.v = s.v
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""", "non-key ON")
    // DELETE without the complementary INSERT guard (unmatched
    // delete-marked rows: SQL would insert, the sink no-ops — refuse)
    refused("""MERGE INTO graft.mr t USING mrsrc s ON t.k = s.k
               WHEN MATCHED AND s.op = 'd' THEN DELETE
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""", "unguarded insert")
    // NOT MATCHED BY SOURCE is outside the merge protocol
    refused("""MERGE INTO graft.mr t USING mrsrc s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *
               WHEN NOT MATCHED BY SOURCE THEN DELETE""", "by-source")
    // a DV-carrying maintained table has no merge write config
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO graft.dv t USING mrsrc s ON t.k = s.k
                   WHEN MATCHED THEN UPDATE SET *
                   WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(e.getMessage.contains("MERGE INTO"))
  }

  test("UPDATE routes through one read-modify-write merge commit") {
    def mk(dir: String): Unit = ParquetMergeSink.merge(
      Seq((1L, "a", 10L, 1.0), (2L, "b", 10L, 2.0), (3L, "c", 20L, -3.0))
        .toDF("k", "v", "ver", "score"),
      dir, Seq("k"), "ver", nBuckets = 4)
    def rows(dir: String) = ParquetMergeSink.read(spark, dir)
      .select("k", "v", "ver", "score").collect().map(_.toSeq).toSet
    def versions(dir: String) = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      graft.sinks.ManifestCommit
        .committed(fs, new org.apache.hadoop.fs.Path(dir)).map(_.version)
    }
    mk(s"$root/u")
    mk(s"$root/u_api")

    // constant + self-referential assignments, filtered; unassigned
    // columns and untouched rows carry
    val before = versions(s"$root/u").max
    spark.sql("UPDATE graft.u SET v = 'fixed', score = score * 2 WHERE score < 2.0")
    SinkFormats.assertCurrent(spark, s"$root/u")
    val after = rows(s"$root/u")
    assert(after === Set(
      Seq(1L, "fixed", 10L, 2.0), Seq(2L, "b", 10L, 2.0),
      Seq(3L, "fixed", 20L, -6.0)),
      "UPDATE must apply assignments to matching rows only, carrying " +
        "unassigned columns and untouched rows")
    assert(versions(s"$root/u").max === before + 1,
      "UPDATE must land as ONE manifest version increment")

    // SQL UPDATE ≡ API: the same read-modify-write through merge()
    val apiBatch = ParquetMergeSink.read(spark, s"$root/u_api")
      .where(col("score") < 2.0)
      .select(col("k"), org.apache.spark.sql.functions.lit("fixed").as("v"),
        col("ver"), (col("score") * 2).as("score"))
    ParquetMergeSink.merge(apiBatch, s"$root/u_api", Seq("k"), "ver", nBuckets = 4)
    assert(rows(s"$root/u_api") === after, "SQL UPDATE must equal API merge")

    // statement semantics on replay: the constant converges, the
    // self-referential assignment advances again (reads table-current)
    spark.sql("UPDATE graft.u SET v = 'fixed', score = score * 2 WHERE score < 2.0")
    assert(rows(s"$root/u") === Set(
      Seq(1L, "fixed", 10L, 2.0), Seq(2L, "b", 10L, 2.0),
      Seq(3L, "fixed", 20L, -12.0)),
      "replayed UPDATE must re-read current values (SQL statement semantics)")

    // a zero-match WHERE is a no-op: no manifest version bump
    val v0 = versions(s"$root/u").max
    spark.sql("UPDATE graft.u SET v = 'zz' WHERE k = 999")
    assert(versions(s"$root/u").max === v0,
      "an UPDATE matching no rows must not commit a new version")
    // unfiltered UPDATE hits every row
    spark.sql("UPDATE graft.u SET score = 0.0")
    assert(ParquetMergeSink.read(spark, s"$root/u").select("score")
      .collect().map(_.getDouble(0)).toSet === Set(0.0))
    // SQL reads observe the SQL write
    assert(spark.sql("SELECT v FROM graft.u WHERE k = 1").collect()
      .map(_.getString(0)).toSeq === Seq("fixed"))
  }

  test("UPDATE refuses non-mergeable shapes loudly and atomically") {
    ParquetMergeSink.merge(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver"),
      s"$root/ur", Seq("k"), "ver", nBuckets = 4)
    val before = ParquetMergeSink.read(spark, s"$root/ur")
      .select("k", "v", "ver").collect().map(_.toSeq).toSet

    def refused(sql: String, hint: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage != null && e.getMessage.contains("UPDATE"),
        s"$hint: expected a loud UPDATE refusal, got: ${e.getMessage}")
      assert(ParquetMergeSink.read(spark, s"$root/ur")
        .select("k", "v", "ver").collect().map(_.toSeq).toSet === before,
        s"$hint: a refused UPDATE must change nothing")
    }
    // merge-key assignment changes row identity
    refused("UPDATE graft.ur SET k = k + 100", "key assignment")
    // nondeterministic assignment breaks replay/retry discipline
    refused("UPDATE graft.ur SET v = cast(rand() as string)", "rand() SET")
    // nondeterministic predicate selects different rows per retry
    refused("UPDATE graft.ur SET v = 'x' WHERE rand() < 0.5", "rand() WHERE")
    // a DV-carrying maintained table has no merge write config
    val e = intercept[Exception](
      spark.sql("UPDATE graft.dv SET v = 'x' WHERE k = 1"))
    assert(e.getMessage.contains("UPDATE"))
  }

  test("CREATE TABLE onboards an empty merge-sink table entirely in SQL") {
    val _ = root
    // one manifest, no generation and no Spark job
    assert(jobsOf(spark.sql("""CREATE TABLE graft.ct (k BIGINT, v STRING, ver BIGINT)
      TBLPROPERTIES('merge.keys'='k','merge.version'='ver','buckets'='4')""")) === 0)
    SinkFormats.assertCurrent(spark, s"$root/ct")
    assert(!new java.io.File(s"$root/ct").list().exists(_.startsWith("_g")),
      "CREATE TABLE must write no generation dir")
    // empty but schema-resolving, through both SQL and the API reader, at
    // the head and as of v1
    Seq("SELECT * FROM graft.ct", "SELECT * FROM graft.ct VERSION AS OF 1").foreach { q =>
      val df = spark.sql(q)
      assert(df.columns.toSeq === Seq("k", "v", "ver"), q)
      assert(df.count() === 0L, q)
    }
    assert(spark.sql("SELECT count(*) FROM graft.ct").head.getLong(0) === 0L)
    Seq(ParquetMergeSink.read(spark, s"$root/ct"),
        ParquetMergeSink.readVersion(spark, s"$root/ct", 1L)).foreach { df =>
      assert(df.columns.toSeq === Seq("k", "v", "ver"))
      assert(df.count() === 0L)
    }

    // immediately writable through every SQL write path; the first INSERT
    // appends (no committed row can share its keys)
    spark.sql("INSERT INTO graft.ct VALUES (1, 'a', 10), (2, 'b', 10)")
    assert(graft.StrategyLog.lastChoice("merge_commit").exists(_.startsWith("append ")),
      graft.StrategyLog.lastChoice("merge_commit"))
    spark.sql("UPDATE graft.ct SET v = 'a2' WHERE k = 1")
    assert(spark.sql("SELECT * FROM graft.ct").collect()
      .map(_.toSeq).toSet === Set(Seq(1L, "a2", 10L), Seq(2L, "b", 10L)),
      "a created table must accept INSERT and UPDATE with the declared contract")
    assert(ParquetMergeSink.read(spark, s"$root/ct").collect()
      .map(r => r.getAs[Long]("k")).toSet === Set(1L, 2L),
      "the API reader must see the SQL writes")

    // redefinition, missing contract, and contract/schema drift refuse
    intercept[Exception](spark.sql(
      """CREATE TABLE graft.ct (x INT)
         TBLPROPERTIES('merge.keys'='x','merge.version'='x')"""))
    intercept[Exception](spark.sql("CREATE TABLE graft.ct2 (x INT)"))
    intercept[Exception](spark.sql(
      """CREATE TABLE graft.ct3 (x INT)
         TBLPROPERTIES('merge.keys'='nope','merge.version'='x')"""))
    assert(!spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getAs[String]("tableName")).toSet.exists(Set("ct2", "ct3")),
      "refused CREATEs must leave nothing behind")
  }

  test("CTAS = CREATE + one merge of the query; DROP deletes the managed dir") {
    val _ = root
    Seq((1L, "a", 10L), (2L, "b", 10L), (2L, "b2", 20L))
      .toDF("k", "v", "ver").createOrReplaceTempView("ctas_src")
    spark.sql("""CREATE TABLE graft.cts
      TBLPROPERTIES('merge.keys'='k','merge.version'='ver','buckets'='4')
      AS SELECT * FROM ctas_src""")
    assert(spark.sql("SELECT * FROM graft.cts").collect()
      .map(_.toSeq).toSet === Set(Seq(1L, "a", 10L), Seq(2L, "b2", 20L)),
      "CTAS must land as one merge — in-batch duplicate keys resolve " +
        "latest-wins on the version column, not append")

    spark.sql("DROP TABLE graft.cts")
    assert(!new java.io.File(s"$root/cts").exists(),
      "DROP must delete the managed table directory")
    intercept[Exception](spark.sql("SELECT * FROM graft.cts").collect())

    // an unmanaged parquet directory under the root is not droppable
    Seq((1L, "x")).toDF("a", "b").write.parquet(s"$root/rawdir")
    spark.sql("DROP TABLE IF EXISTS graft.rawdir")
    assert(new java.io.File(s"$root/rawdir").exists(),
      "DROP must never touch a directory without a manifest")
  }

  test("catalog surface: listing, existence, refused DDL, unmanaged refusal") {
    val _ = root // force catalog registration
    ParquetMergeSink.merge(Seq((1L, "x", 1L)).toDF("k", "v", "ver"),
      s"$root/lst", Seq("k"), "ver", nBuckets = 2)
    val names = spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getAs[String]("tableName")).toSet
    assert(names.contains("lst"))
    // type changes are refused (ADD/DROP/RENAME have their own specs)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.lst ALTER COLUMN v TYPE INT")
    }
    // a plain directory without a manifest is not a catalog table
    (1L to 3L).toDF("x").write.parquet(s"$root/plain")
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.plain").collect()
    }
  }

  test("ALTER TABLE ADD COLUMN evolves the schema without rewriting data") {
    val dir = s"$root/ev"
    def versions = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      graft.sinks.ManifestCommit
        .committed(fs, new org.apache.hadoop.fs.Path(dir))
    }
    def rows = spark.sql("SELECT * FROM graft.ev").collect()
      .map(_.toSeq).toSet

    ParquetMergeSink.merge(
      Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    val preAlter = versions.last

    spark.sql("ALTER TABLE graft.ev ADD COLUMN score DOUBLE")

    // metadata-only commit: one version bump, SAME data dirs, no rewrite
    val postAlter = versions.last
    assert(postAlter.version === preAlter.version + 1)
    assert(postAlter.dirs === preAlter.dirs,
      "ADD COLUMN must re-reference the existing generations unchanged")

    // pre-ALTER generation null-fills the new column by name
    assert(spark.sql("SELECT * FROM graft.ev").columns.toSeq
      === Seq("k", "v", "ver", "score"))
    assert(rows === Set(Seq(1L, "a", 10L, null), Seq(2L, "b", 10L, null)))

    // time travel to the pre-ALTER version returns the OLD shape
    assert(spark.sql(
        s"SELECT * FROM graft.ev VERSION AS OF ${preAlter.version}")
      .columns.toSeq === Seq("k", "v", "ver"),
      "a pre-ALTER version must serve its own (old) schema")

    // INSERT with the new column: mixed-schema generations read together
    spark.sql("INSERT INTO graft.ev VALUES (3, 'c', 20, 1.5)")
    assert(rows === Set(
      Seq(1L, "a", 10L, null), Seq(2L, "b", 10L, null),
      Seq(3L, "c", 20L, 1.5)))

    // replay idempotence across the ALTER boundary
    spark.sql("INSERT INTO graft.ev VALUES (3, 'c', 20, 1.5)")
    assert(rows === Set(
      Seq(1L, "a", 10L, null), Seq(2L, "b", 10L, null),
      Seq(3L, "c", 20L, 1.5)), "replayed INSERT must converge")

    // UPDATE reaches rows in a pre-ALTER generation
    spark.sql("UPDATE graft.ev SET score = 9.9 WHERE k = 1")
    assert(rows === Set(
      Seq(1L, "a", 10L, 9.9), Seq(2L, "b", 10L, null),
      Seq(3L, "c", 20L, 1.5)))

    // MERGE INTO across the boundary (full-shape source)
    Seq((2L, "b2", 30L, 2.5, "u"), (4L, "d", 30L, 4.5, "u"))
      .toDF("k", "v", "ver", "score", "op").createOrReplaceTempView("evsrc")
    spark.sql("""MERGE INTO graft.ev t USING evsrc s ON t.k = s.k
                 WHEN MATCHED AND s.op = 'd' THEN DELETE
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT *""")
    assert(rows === Set(
      Seq(1L, "a", 10L, 9.9), Seq(2L, "b2", 30L, 2.5),
      Seq(3L, "c", 20L, 1.5), Seq(4L, "d", 30L, 4.5)))

    // an OLD writer (batch predates the column) still merges: null-fill
    ParquetMergeSink.merge(Seq((5L, "e", 40L)).toDF("k", "v", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    assert(rows.contains(Seq(5L, "e", 40L, null)),
      "a pre-ALTER-shaped batch must merge with the new column null")
    // the API read serves the declared (evolved) schema too
    assert(ParquetMergeSink.read(spark, dir).columns.toSeq
      === Seq("k", "v", "ver", "score"))

    // a batch with a column the table does not have refuses loudly
    val e = intercept[Exception] {
      ParquetMergeSink.merge(
        Seq((6L, "f", 50L, "x")).toDF("k", "v", "ver", "bogus"),
        dir, Seq("k"), "ver", nBuckets = 4)
    }
    assert(e.getMessage.contains("ADD COLUMN"),
      s"implicit widening must point at ALTER, got: ${e.getMessage}")

    // refused evolution shapes, each loud and side-effect-free
    val before = rows
    intercept[Exception](spark.sql("ALTER TABLE graft.ev DROP COLUMN k"))
    intercept[Exception](spark.sql("ALTER TABLE graft.ev ALTER COLUMN ver TYPE INT"))
    intercept[Exception](spark.sql("ALTER TABLE graft.ev ADD COLUMN v STRING"))
    intercept[Exception](spark.sql(
      "ALTER TABLE graft.ev ADD COLUMN nn STRING NOT NULL"))
    assert(rows === before, "refused ALTERs must change nothing")

    // a maintained (non-bucket) layout refuses toward TableMaintenance
    val mdir = s"$root/ev_maint"
    (1L to 5L).map(k => (k, s"v$k")).toDF("k", "v").write.parquet(mdir)
    TableMaintenance.compact(spark, mdir, targetBytes = 1 << 20)
    val em = intercept[Exception](
      spark.sql("ALTER TABLE graft.ev_maint ADD COLUMN z INT"))
    assert(em.getMessage.contains("merge-sink"), em.getMessage)
  }

  test("ALTER COLUMN TYPE widens losslessly without rewriting data") {
    val dir = s"$root/wt"
    def versions = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      graft.sinks.ManifestCommit
        .committed(fs, new org.apache.hadoop.fs.Path(dir))
    }
    def rows = spark.sql("SELECT * FROM graft.wt").collect()
      .map(_.toSeq).toSet
    def typeOf(c: String) = spark.sql("SELECT * FROM graft.wt")
      .schema.find(_.name == c).get.dataType

    ParquetMergeSink.merge(
      Seq((1L, 10, 1.5f, BigDecimal("1.25"), 100L),
        (2L, 20, 2.5f, BigDecimal("2.50"), 100L))
        .toDF("k", "qty", "score", "amt", "ver")
        .selectExpr("k", "qty", "score", "cast(amt as decimal(5,2)) amt", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    val preAlter = versions.last

    spark.sql("ALTER TABLE graft.wt ALTER COLUMN qty TYPE BIGINT")
    SinkFormats.assertCurrent(spark, dir)

    // time travel to the pre-ALTER version (still retained, keep=2)
    // serves the NARROW types
    import org.apache.spark.sql.types._
    val old = spark.sql(
      s"SELECT * FROM graft.wt VERSION AS OF ${preAlter.version}").schema
    assert(old.find(_.name == "qty").get.dataType === IntegerType)
    assert(old.find(_.name == "score").get.dataType === FloatType)

    spark.sql("ALTER TABLE graft.wt ALTER COLUMN score TYPE DOUBLE")
    spark.sql("ALTER TABLE graft.wt ALTER COLUMN amt TYPE DECIMAL(12,4)")

    // metadata-only commits: version bumps, SAME data dirs, no rewrite
    assert(versions.last.version === preAlter.version + 3)
    assert(versions.last.dirs === preAlter.dirs,
      "ALTER COLUMN TYPE must re-reference the existing generations unchanged")

    // pre-ALTER generations upcast at scan time, values exact
    assert(typeOf("qty") === LongType)
    assert(typeOf("score") === DoubleType)
    assert(typeOf("amt") === DecimalType(12, 4))
    assert(rows === Set(
      Seq(1L, 10L, 1.5, BigDecimal("1.2500").bigDecimal, 100L),
      Seq(2L, 20L, 2.5, BigDecimal("2.5000").bigDecimal, 100L)))

    // post-ALTER writes store the wide type; mixed generations read together
    spark.sql("INSERT INTO graft.wt VALUES (3, 30, 3.5, 3.75, 200)")
    assert(rows.contains(Seq(3L, 30L, 3.5, BigDecimal("3.7500").bigDecimal, 200L)))

    // an OLD-shape writer still sending the narrow types merges — the
    // door upcasts losslessly (same contract as null-fill for ADD COLUMN)
    ParquetMergeSink.merge(
      Seq((4L, 40, 4.5f, 200L)).toDF("k", "qty", "score", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    assert(rows.contains(Seq(4L, 40L, 4.5, null, 200L)),
      "a narrow-typed batch must upcast at the door, not refuse")

    // a narrow-typed KEY routes to the right bucket in mergeActions: the
    // source key upcasts BEFORE bucket hashing, so this is an upsert of
    // k=2, never a duplicate in another bucket
    ParquetMergeSink.mergeActions(
      Seq((2, 21, 2.6, BigDecimal("2.60"), 300L, "u"))
        .toDF("k", "qty", "score", "amt", "ver", "op")
        .selectExpr("cast(k as int) k", "qty", "score",
          "cast(amt as decimal(12,4)) amt", "ver", "op"),
      dir, Seq("k"), "ver", deleteWhen = col("op") === "d", nBuckets = 4)
    assert(rows.count(_.head == 2L) === 1,
      "an int-keyed source against a bigint-keyed table must upsert, " +
        "not duplicate the key into a differently-hashed bucket")
    assert(rows.contains(Seq(2L, 21L, 2.6, BigDecimal("2.6000").bigDecimal, 300L)))

    // UPDATE reaches upcast rows in a pre-ALTER generation
    spark.sql("UPDATE graft.wt SET qty = 11 WHERE k = 1")
    assert(rows.contains(Seq(1L, 11L, 1.5, BigDecimal("1.2500").bigDecimal, 100L)))

    // refusals, each loud and side-effect-free: narrowing, lossy
    // long→double, string conversion, and any merge-key re-type
    val before = rows
    intercept[Exception](
      spark.sql("ALTER TABLE graft.wt ALTER COLUMN qty TYPE INT"))
    intercept[Exception](
      spark.sql("ALTER TABLE graft.wt ALTER COLUMN qty TYPE DOUBLE"))
    intercept[Exception](
      spark.sql("ALTER TABLE graft.wt ALTER COLUMN qty TYPE STRING"))
    val ek = intercept[Exception](
      spark.sql("ALTER TABLE graft.wt ALTER COLUMN k TYPE DECIMAL(20,0)"))
    assert(ek.getMessage.contains("merge key"),
      s"key re-type must name the bucket-routing hazard: ${ek.getMessage}")
    // a NON-widening incoming type still refuses at the door
    intercept[Exception](ParquetMergeSink.merge(
      Seq((5L, "oops", 5.5, BigDecimal("5.00"), 400L))
        .toDF("k", "qty", "score", "amt", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4))
    assert(rows === before, "refused type changes must change nothing")

    // REPLAYED migration script: re-declaring the type a column already
    // has is a no-op (no refusal, no version bump) — widens(t, t) being
    // false must read as "nothing to do", not "not a widening"
    val preReplay = versions.last
    spark.sql("ALTER TABLE graft.wt ALTER COLUMN qty TYPE BIGINT")
    assert(versions.last.version === preReplay.version,
      "same-type ALTER COLUMN TYPE must be a no-op, not a new commit")
    assert(rows === before)
  }

  test("ALTER COLUMN TYPE date -> timestamp_ntz upcasts old generations") {
    val dir = s"$root/dt"
    import org.apache.spark.sql.types._
    val d1 = java.sql.Date.valueOf("2024-05-01")
    val d2 = java.sql.Date.valueOf("2024-05-02")
    ParquetMergeSink.merge(
      Seq((1L, d1, 10L), (2L, d2, 10L)).toDF("k", "d", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)

    spark.sql("ALTER TABLE graft.dt ALTER COLUMN d TYPE TIMESTAMP_NTZ")

    val schema = spark.sql("SELECT * FROM graft.dt").schema
    assert(schema.find(_.name == "d").get.dataType === TimestampNTZType)
    // pre-ALTER DATE generations read back as midnight NTZ, no rewrite
    val got = spark.sql("SELECT k, d FROM graft.dt ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime](1))).toSeq
    assert(got === Seq(
      (1L, java.time.LocalDateTime.of(2024, 5, 1, 0, 0)),
      (2L, java.time.LocalDateTime.of(2024, 5, 2, 0, 0))),
      "old DATE values must upcast to midnight TIMESTAMP_NTZ at scan time")
    // a post-ALTER writer lands sub-day precision next to upcast dates
    spark.sql(
      "INSERT INTO graft.dt VALUES (3, TIMESTAMP_NTZ '2024-05-03 12:30:00', 20)")
    val mixed = spark.sql("SELECT d FROM graft.dt WHERE k = 3").collect()
    assert(mixed.head.getAs[java.time.LocalDateTime](0) ===
      java.time.LocalDateTime.of(2024, 5, 3, 12, 30))
  }

  test("RENAME COLUMN keeps data under the new name; DROP retires it for good") {
    val dir = s"$root/rn"
    def versions = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      graft.sinks.ManifestCommit
        .committed(fs, new org.apache.hadoop.fs.Path(dir))
    }
    def rows = spark.sql("SELECT * FROM graft.rn").collect()
      .map(_.toSeq).toSet

    ParquetMergeSink.merge(
      Seq((1L, "a", 1.5, 10L), (2L, "b", 2.5, 10L)).toDF("k", "v", "score", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4)
    val preRename = versions.last

    // RENAME: metadata-only commit — same dirs, values SURVIVE (the
    // point of the physical-name map: by-name null-fill would lose them)
    spark.sql("ALTER TABLE graft.rn RENAME COLUMN v TO label")
    val postRename = versions.last
    assert(postRename.version === preRename.version + 1)
    assert(postRename.dirs === preRename.dirs,
      "RENAME COLUMN must re-reference the existing generations unchanged")
    assert(spark.sql("SELECT * FROM graft.rn").columns.toSeq
      === Seq("k", "label", "score", "ver"))
    assert(rows === Set(Seq(1L, "a", 1.5, 10L), Seq(2L, "b", 2.5, 10L)),
      "pre-rename values must serve under the new name — not null-fill")
    // filters + pruning against the renamed column reach the data
    assert(spark.sql("SELECT label FROM graft.rn WHERE label = 'b'")
      .collect().map(_.getString(0)).toSeq === Seq("b"))

    // time travel to the pre-RENAME version serves the old name
    assert(spark.sql(
        s"SELECT * FROM graft.rn VERSION AS OF ${preRename.version}")
      .columns.toSeq === Seq("k", "v", "score", "ver"))

    // post-rename writes use the new name; mixed generations read together
    spark.sql("INSERT INTO graft.rn VALUES (3, 'c', 3.5, 20)")
    assert(rows === Set(Seq(1L, "a", 1.5, 10L), Seq(2L, "b", 2.5, 10L),
      Seq(3L, "c", 3.5, 20L)))
    // UPDATE through the renamed column reaches pre-rename rows
    spark.sql("UPDATE graft.rn SET label = 'a2' WHERE k = 1")
    assert(rows.contains(Seq(1L, "a2", 1.5, 10L)))
    // an old writer still sending the OLD name refuses loudly
    intercept[Exception](ParquetMergeSink.merge(
      Seq((9L, "z", 9.9, 90L)).toDF("k", "v", "score", "ver"),
      dir, Seq("k"), "ver", nBuckets = 4))
    // the API read serves the renamed shape too
    assert(ParquetMergeSink.read(spark, dir).columns.toSeq
      === Seq("k", "label", "score", "ver"))

    // renaming a merge KEY updates the write contract atomically
    spark.sql("ALTER TABLE graft.rn RENAME COLUMN k TO id")
    spark.sql("INSERT INTO graft.rn VALUES (3, 'c2', 3.6, 30)")
    assert(rows.contains(Seq(3L, "c2", 3.6, 30L)),
      "upsert by the renamed key must still be an upsert, not an append")

    // DROP: metadata-only; the column disappears, time travel keeps it
    val preDrop = versions.last
    spark.sql("ALTER TABLE graft.rn DROP COLUMN score")
    assert(versions.last.dirs === preDrop.dirs,
      "DROP COLUMN must re-reference the existing generations unchanged")
    assert(spark.sql("SELECT * FROM graft.rn").columns.toSeq
      === Seq("id", "label", "ver"))
    assert(spark.sql(
        s"SELECT * FROM graft.rn VERSION AS OF ${preDrop.version}")
      .columns.toSeq === Seq("id", "label", "score", "ver"),
      "a pre-DROP version must keep the dropped column, values intact")

    // re-ADD of the dropped name: fresh column, old values NEVER resurrect
    spark.sql("ALTER TABLE graft.rn ADD COLUMN score DOUBLE")
    val scores = spark.sql("SELECT score FROM graft.rn").collect()
      .map(r => Option(r.get(0)))
    assert(scores.nonEmpty && scores.forall(_.isEmpty),
      s"re-added column must start null everywhere — resurrected: " +
        scores.flatten.mkString(", "))
    spark.sql("INSERT INTO graft.rn VALUES (4, 'd', 40, 4.5)")
    assert(spark.sql("SELECT score FROM graft.rn WHERE id = 4")
      .collect().head.getDouble(0) === 4.5,
      "the re-added column must accept new values")

    // contract columns are not droppable; unknown columns refuse
    intercept[Exception](spark.sql("ALTER TABLE graft.rn DROP COLUMN id"))
    intercept[Exception](spark.sql("ALTER TABLE graft.rn DROP COLUMN ver"))
    intercept[Exception](spark.sql("ALTER TABLE graft.rn DROP COLUMN nope"))
    intercept[Exception](
      spark.sql("ALTER TABLE graft.rn RENAME COLUMN label TO ver"))

    // replay idempotence across both evolution boundaries
    spark.sql("INSERT INTO graft.rn VALUES (4, 'd', 40, 4.5)")
    assert(rows.count(_.head == 4L) === 1, "replayed INSERT must converge")
  }
}

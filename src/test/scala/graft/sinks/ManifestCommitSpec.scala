package graft.sinks

import org.apache.hadoop.fs.Path

import graft.SparkSpec

class ManifestCommitSpec extends SparkSpec {

  private def root(): (Path, org.apache.hadoop.fs.FileSystem) = {
    val p = new Path(
      java.nio.file.Files.createTempDirectory("graft-manifest").toString + "/t")
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  test("commits are monotonically versioned and the latest wins reads") {
    val (r, fs) = root()
    val v1 = ManifestCommit.commit(fs, r, 0L, Map("dir.table" -> "_g1-aaaa1111"))
    val v2 = ManifestCommit.commit(fs, r, v1, Map("dir.table" -> "_g2-bbbb2222"))
    assert(v1 === 1L && v2 === 2L)
    val m = ManifestCommit.latest(fs, r).get
    assert(m.version === 2L && m.dirs("table") === "_g2-bbbb2222")
    assert(ManifestCommit.committed(fs, r).map(_.version) === Seq(1L, 2L))
  }

  test("an interleaved writer never clobbers a committed manifest") {
    val (r, fs) = root()
    val read = ManifestCommit.commit(fs, r, 0L, Map("dir.table" -> "_g1-aaaa1111"))
    // another writer committed version 2 out from under us
    val taken = new Path(new Path(r, ManifestCommit.CommitDir), f"${2L}%020d")
    val racer = "dir.table=_g2-cccc3333\ntxid=racer\n".getBytes("UTF-8")
    val out = fs.create(taken, false)
    out.write(racer)
    out.close()
    // our commit was built from v1: it claims exactly v2, finds it taken
    // and fails loudly — it neither lands v3 on top of the racer's v2
    // (which would drop v2's changes) nor touches the racer's manifest
    val e = intercept[java.io.IOException](
      ManifestCommit.commit(fs, r, read, Map("dir.table" -> "_g3-dddd4444")))
    assert(e.getMessage.contains("lost the race for version 2"), e.getMessage)
    assert(ManifestCommit.committed(fs, r).map(_.version) === Seq(1L, 2L))
    val in = fs.open(taken)
    try assert(in.readAllBytes().toSeq === racer.toSeq, "racer's commit clobbered")
    finally in.close()
    assert(fs.listStatus(new Path(r, ManifestCommit.CommitDir))
      .forall(!_.getPath.getName.startsWith(".tmp-")), "the loser left its tmp file")
  }

  test("vacuum keeps generations any retained manifest references, reclaims the rest") {
    val (r, fs) = root()
    Seq("_g1-aaaa1111", "_g2-bbbb2222", "_g3-cccc3333").zipWithIndex.foreach {
      case (g, read) =>
        fs.mkdirs(new Path(r, g))
        ManifestCommit.commit(fs, r, read, Map("dir.table" -> g))
    }
    // crashed-commit debris in _commits must also be reclaimed
    val tmp = new Path(new Path(r, ManifestCommit.CommitDir), ".tmp-deadbeef")
    fs.create(tmp, false).close()
    ManifestCommit.vacuum(fs, r, keep = 2)
    assert(!fs.exists(new Path(r, "_g1-aaaa1111")),
      "generation referenced only by a dropped manifest must be reclaimed")
    assert(fs.exists(new Path(r, "_g2-bbbb2222")),
      "the previous manifest's generation must survive (in-flight readers)")
    assert(fs.exists(new Path(r, "_g3-cccc3333")))
    assert(!fs.exists(tmp), "crashed-commit tmp debris must be reclaimed")
    assert(ManifestCommit.committed(fs, r).map(_.version) === Seq(2L, 3L))
  }

  test("two racing committers: one winner per version, loud loser, " +
      "a polling reader never sees a mixed manifest") {
    val (r, fs) = root()
    ManifestCommit.commit(fs, r, 0L, Map("dir.t" -> "gen-base", "n" -> "1"))

    // A concurrent reader polls latest() for the whole race; every
    // observation must be ONE writer's complete entry set — never a mix,
    // never a partial file (manifests become visible via a single rename).
    @volatile var racing = true
    val readerBad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (racing) {
        try ManifestCommit.latest(fs, r).foreach { m =>
          val tags = m.dirs.values.map(_.stripPrefix("gen-")).toSet
          if (tags.size != 1 || m.entries.get("n").isEmpty)
            readerBad.add(s"v${m.version}: ${m.entries}")
        } catch { case e: Exception => readerBad.add(s"reader threw: $e") }
      }
    })
    reader.start()

    val successes = scala.collection.mutable.Map[String, Int]("A" -> 0, "B" -> 0)
    val returnedVersions = scala.collection.mutable.ArrayBuffer.empty[Long]
    (1 to 12).foreach { round =>
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val outcome = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
      val ws = Seq("A", "B").map { tag =>
        new Thread(() => {
          gate.await() // both writers read the head and commit together
          val res =
            try Right(ManifestCommit.commit(fs, r, ManifestCommit.latest(fs, r).get.version,
              Map("dir.t" -> s"gen-$tag", "dir.u" -> s"gen-$tag", "n" -> "2")))
            catch { case e: Throwable => Left(e) }
          outcome.put(tag, res)
        })
      }
      ws.foreach(_.start()); ws.foreach(_.join())
      Seq("A", "B").foreach { tag =>
        outcome.get(tag) match {
          case Right(v) =>
            successes(tag) += 1; returnedVersions += v
          case Left(e) => // the loser must fail LOUDLY with the race message
            assert(e.isInstanceOf[java.io.IOException] &&
              e.getMessage.contains("lost the race"),
              s"round $round loser threw the wrong error: $e")
        }
      }
      assert(outcome.values().size === 2)
      assert(Seq("A", "B").exists(outcome.get(_).isRight),
        s"round $round: at least one writer must commit")
    }
    racing = false
    reader.join()

    assert(readerBad.isEmpty, s"reader saw inconsistent manifests: $readerBad")
    // exactly one winner per version: every returned version is distinct
    // and the committed log holds exactly the winners' manifests
    assert(returnedVersions.distinct.size === returnedVersions.size)
    val committed = ManifestCommit.committed(fs, r).filter(_.version > 1L)
    assert(committed.map(_.version).toSet === returnedVersions.toSet)
    val byTag = committed.groupBy(_.dirs("t").stripPrefix("gen-"))
      .view.mapValues(_.size).toMap
    assert(byTag.getOrElse("A", 0) === successes("A") &&
      byTag.getOrElse("B", 0) === successes("B"),
      s"committed manifests $byTag must match the winners $successes — " +
        "a loser's entries leaked into the log")
    // and every committed manifest is complete (no partial writes)
    committed.foreach { m =>
      assert(m.dirs.keySet === Set("t", "u") && m.entries("n") === "2",
        s"v${m.version} is not a complete single-writer manifest: ${m.entries}")
    }
  }

  test("a publish built from a stale read throws, leaves the head byte-identical, " +
      "and the next publish reclaims its orphan generation") {
    val (r, fs) = root()
    def publish(read: Long, n: Long): (Long, String) = {
      var gen = ""
      val v = ManifestCommit.publish(fs, r, read) { g =>
        g.write(spark.range(n).toDF("x"))
        gen = g.name
        Map("dir.table" -> g.name)
      }
      (v, gen)
    }
    def bytes(p: Path) = {
      val in = fs.open(p)
      try in.readAllBytes().toSeq finally in.close()
    }
    val (v1, _) = publish(0L, 1L)
    val (v2, g2) = publish(v1, 2L)
    val head = bytes(ManifestCommit.commitPath(r, v2))
    var orphan = ""
    val e = intercept[java.io.IOException] {
      ManifestCommit.publish(fs, r, v1) { g =>
        g.write(spark.range(5).toDF("x"))
        orphan = g.name
        Map("dir.table" -> g.name)
      }
    }
    assert(e.getMessage.contains(s"lost the race for version $v2"), e.getMessage)
    assert(ManifestCommit.latest(fs, r).get.version === v2)
    assert(bytes(ManifestCommit.commitPath(r, v2)) === head, "the head manifest changed")
    assert(fs.exists(new Path(r, orphan)), "the stale write's generation is an orphan")
    assert(spark.read.parquet(new Path(r, g2).toString).count() === 2L)

    val (v3, g3) = publish(v2, 3L)
    assert(v3 === v2 + 1)
    assert(!fs.exists(new Path(r, orphan)), "the next publish must reclaim the orphan")
    assert(fs.exists(new Path(r, g2)) && fs.exists(new Path(r, g3)))
    assert(spark.read.parquet(new Path(r, g3).toString).count() === 3L)
  }

  test("no publish caller leaves a _SUCCESS marker in a generation") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-publish").toString
    // every `_SUCCESS` file under a `_g<n>-` generation dir of `dir`
    def markers(dir: String): Seq[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.toArray.toSeq.map(_.toString)
        .filter(p => p.endsWith("/_SUCCESS") && p.split("/").exists(ManifestCommit.isGeneration))
      finally walk.close()
    }
    def fs(dir: String) = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def check(what: String, dir: String)(write: => Any): Unit = {
      write
      assert(fs(dir).exists(new Path(dir, ManifestCommit.CommitDir)), s"$what published nothing")
      assert(markers(dir).isEmpty, s"$what: ${markers(dir)}")
    }
    val rows = (1L to 40L).map(k => (k, k % 4, s"v$k")).toDF("k", "h", "v")

    val sink = s"$base/sink"
    check("merge", sink)(ParquetMergeSink.merge(rows, sink, Seq("k"), "h", nBuckets = 4))
    check("mergeActions", sink)(ParquetMergeSink.mergeActions(
      rows.filter(col("k") < 5).withColumn("del", col("k") === 1L), sink, Seq("k"), "h",
      col("del")))
    val pre = s"$base/pre"
    SinkFormats.preManifest(rows, pre, Seq("k"), 4)
    check("upgrade", pre)(ParquetMergeSink.upgrade(spark, pre, Some(Seq("k") -> "h")))

    val maint = s"$base/maint"
    check("writeSortedManaged", maint)(TableMaintenance.writeSortedManaged(rows, maint, 4, Seq("k")))
    check("deleteWhere", maint)(TableMaintenance.deleteWhere(spark, maint, "k", col("k") > 30))
    check("compact", maint)(TableMaintenance.compact(spark, maint, 1L << 20))
    check("sortManaged", maint)(TableMaintenance.sortManaged(spark, maint, 2, Seq("v")))
    check("zorderManaged", maint)(TableMaintenance.zorderManaged(spark, maint, 2, Seq("k", "h")))

    val parts = s"$base/parts"
    TableMaintenance.writePartitioned(rows.repartition(4), parts, Seq("h"))
    check("compactPartitioned", parts)(TableMaintenance.compactPartitioned(spark, parts, 1L << 30))

    val state = s"$base/state"
    check("IncrementalAgg.advance", state)(graft.operators.IncrementalAgg.advance(
      spark, state, rows.withColumn("value", col("k").cast("double")), Seq("h"), "value"))
  }

  test("non-generation directories are never vacuum candidates") {
    val (r, fs) = root()
    fs.mkdirs(new Path(r, "day=2024-01-01")) // partitioned-table plain dir
    fs.mkdirs(new Path(r, "_g1-aaaa1111"))
    (0 to 3).foreach(read =>
      ManifestCommit.commit(fs, r, read, Map("dir.x" -> "_g1-aaaa1111")))
    ManifestCommit.vacuum(fs, r, keep = 2)
    assert(fs.exists(new Path(r, "day=2024-01-01")),
      "vacuum must only ever touch _g* generation dirs")
    assert(fs.exists(new Path(r, "_g1-aaaa1111")),
      "a generation the retained manifests reference must survive")
  }
}

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

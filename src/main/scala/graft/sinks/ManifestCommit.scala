package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Object-store-safe commit protocol: immutable generation directories
  * plus a log of tiny numbered manifest files. The ONLY mutation a commit
  * performs is making one small file appear; data directories are never
  * renamed, overwritten, or mutated after they are written.
  *
  * Why not a directory-rename swap: `FileSystem.rename` of a directory is
  * atomic on HDFS and local filesystems but on S3A it is a non-atomic
  * O(data) copy+delete — a crash mid-swap leaves a half-copied table, so
  * the "whole table at either generation" guarantee silently does not
  * hold on the one store a 100 TB lake actually runs on. The reference
  * gets its all-or-nothing writes from PostgreSQL transactions
  * (db.go `INSERT ... ON CONFLICT` inside a tx); at the lake layer the
  * equivalent is exactly this shape — Delta's `_delta_log` and Structured
  * Streaming's HDFSMetadataLog commit the same way (numbered small files,
  * data immutable).
  *
  * Layout under a table root:
  * {{{
  *   root/_commits/00000000000000000001   <- manifest v1 (key=value lines)
  *   root/_commits/00000000000000000002   <- manifest v2 (current)
  *   root/_g1-<hex>/                      <- generation data, immutable
  *   root/_g2-<hex>/
  * }}}
  *
  * Generation dirs are `_`-prefixed on purpose: Spark's file listing
  * skips `_`/`.`-prefixed children, so a plain `spark.read.parquet(root)`
  * over a table that [[TableMaintenance]] is migrating from plain files
  * sees only the top-level files, never a mix of layouts; managed readers
  * address the generation dir explicitly via the manifest.
  *
  * One writer, [[publish]]: every generation write in graft goes through
  * it. It names the generation, hands it to the caller's body, which
  * writes its data with [[Generation.write]] and returns the entries of
  * the next manifest, commits them in the slot after the version the
  * caller read, and vacuums with `keep = 2`. A write with no generation
  * data (ALTER, rollback, a table's first manifest) calls [[commit]].
  *
  * Commit discipline: a writer reads the head manifest, builds the next
  * one from it, and claims exactly the slot after the version it read;
  * the claim fails if any other writer took that slot first (a writer
  * that read v5 never lands v7 on top of someone else's v6). The payload
  * is written to `_commits/.tmp-<uuid>` and moved to the slot without
  * overwrite: ONE object of a few hundred bytes, effectively atomic on
  * every store. Readers list `_commits`, take the highest
  * fully-committed version, and resolve data paths from its entries —
  * they see the previous or the next generation, never a mix, with no
  * coordination.
  *
  * Crash windows, by construction:
  *  - before the manifest rename: the new generation dir is an orphan no
  *    manifest references — readers are untouched; [[vacuum]] removes it.
  *  - after the rename: the commit is complete; superseded generations
  *    linger for in-flight readers until [[vacuum]] (writers call it with
  *    `keep = 2` so the previous generation survives one more commit).
  *
  * Single-writer per table, like the reference indexer; concurrent
  * READERS are always safe.
  *
  * Manifest entries are `key=value` lines. By convention a key starting
  * with `dir.` names ONE data path relative to the root (its first path
  * segment is a generation directory), never a joined list. A merge-sink
  * table's are `dir.<b>` (bucket b's base dir) and `dir.+<v>` (the
  * table-level segment manifest v appended): an append adds one entry, a
  * merge replaces the entries of the buckets it folds and of the segments
  * it read, and a drain replaces them all. Other keys are scalar metadata
  * (bucket counts, the merge sink's `hwm`, last-applied batch ids). A
  * generation write leaves no `_SUCCESS` marker: the manifest flip is the
  * commit record.
  */
object ManifestCommit {

  val CommitDir = "_commits"
  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  final case class Manifest(version: Long, entries: Map[String, String]) {
    /** Relative data paths this manifest references (`dir.*` values). */
    def dirs: Map[String, String] =
      entries.collect { case (k, v) if k.startsWith("dir.") =>
        k.stripPrefix("dir.") -> v
      }
    /** First path segments (generation dirs) this manifest pins live. */
    def liveGenerations: Set[String] =
      dirs.values.map(_.split("/").head).toSet
  }

  private[graft] def commitPath(root: Path, version: Long): Path =
    new Path(new Path(root, CommitDir), f"$version%020d")

  /** Whether a root child's name is a generation dir (`_g<n>-<hex>`). */
  def isGeneration(name: String): Boolean = name.matches("_g\\d+-[0-9a-f]+")

  private def parseVersion(name: String): Option[Long] =
    if (name.forall(_.isDigit) && name.length == 20) Some(name.toLong) else None

  /** All committed manifests, ascending by version. */
  def committed(fs: FileSystem, root: Path): Seq[Manifest] = {
    val dir = new Path(root, CommitDir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .flatMap(s => parseVersion(s.getPath.getName))
      .sorted
      .map(v => Manifest(v, readEntries(fs, commitPath(root, v))))
  }

  /** The current manifest — highest committed version — if any. */
  def latest(fs: FileSystem, root: Path): Option[Manifest] = {
    val dir = new Path(root, CommitDir)
    if (!fs.exists(dir)) return None
    val versions = fs.listStatus(dir).flatMap(s => parseVersion(s.getPath.getName))
    if (versions.isEmpty) None
    else {
      val v = versions.max
      Some(Manifest(v, readEntries(fs, commitPath(root, v))))
    }
  }

  private def readEntries(fs: FileSystem, p: Path): Map[String, String] = {
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), Utf8) finally in.close()
    text.linesIterator.filter(_.contains("=")).map { line =>
      val i = line.indexOf('=')
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap
  }

  /** Publish `entries` as the manifest version after `read`, the version
    * the writer built them from (0 when the table had none). The data
    * dirs the entries reference must already be fully written — this call
    * is the commit point. Returns the committed version. Fails (leaving
    * the table at the previous generation) if another writer took the
    * slot: a writer whose head went stale between its read and its commit
    * fails instead of landing a manifest built from an older state on
    * top of the newer one.
    *
    * The slot is claimed with an ATOMIC put-if-absent, dispatched per
    * store the way Delta's LogStore is (one primitive per store's actual
    * atomicity guarantee):
    *
    *  - local `file://` — hard-link tmp → target. `link(2)` is the one
    *    POSIX primitive that is both atomic and exclusive; POSIX
    *    `rename(2)` silently REPLACES an existing destination, so a
    *    tmp+rename protocol lets a racing writer clobber a committed
    *    manifest after its writer's read-back already passed (both report
    *    success for one version — observed, then designed out). The link
    *    makes the full content visible in the same atomic step.
    *  - everything else (HDFS-semantics stores) — rename with no
    *    overwrite, which HDFS refuses atomically at the NameNode when the
    *    destination exists, then a txid READ-BACK: the manifest carries a
    *    unique `txid` entry and the committer verifies the committed file
    *    holds ITS txid, so on any store whose rename replaces (object
    *    stores without conditional puts) a clobbered writer still fails
    *    loudly instead of silently losing its commit.
    *
    * Tables are single-writer by contract; this turns a misconfigured
    * double-writer into a loud failure instead of data loss.
    */
  def commit(fs: FileSystem, root: Path, read: Long,
      entries: Map[String, String]): Long = {
    val version = read + 1L
    val dir = new Path(root, CommitDir)
    fs.mkdirs(dir)
    val txid = java.util.UUID.randomUUID().toString
    val tmp = new Path(dir, s".tmp-$txid")
    val out = fs.create(tmp, false)
    try {
      val text = (entries - "txid" + ("txid" -> txid)).toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
      out.write(text.getBytes(Utf8))
    } finally out.close()
    val target = commitPath(root, version)
    def lose(): Nothing = {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"manifest commit lost the race for version $version at $root " +
          s"(built from version $read) — tables are single-writer; the " +
          "data generation written for this commit is an orphan and will " +
          "be vacuumed")
    }
    if (fs.exists(target)) lose()
    if (fs.getScheme == "file") {
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.Paths.get(tmp.toUri.getPath))
      catch {
        case _: java.nio.file.FileAlreadyExistsException => lose()
      }
      fs.delete(tmp, false)
    } else {
      if (!fs.rename(tmp, target)) lose()
      if (!readEntries(fs, target).get("txid").contains(txid)) lose()
    }
    version
  }

  /** The manifest at an exact version, if vacuum still retains it. */
  def at(fs: FileSystem, root: Path, version: Long): Option[Manifest] =
    committed(fs, root).find(_.version == version)

  /** History-preserving rollback (the Delta RESTORE shape): re-commit
    * `toVersion`'s entries as the NEW head version. Nothing is deleted —
    * readers of the current head are untouched until the new commit
    * lands atomically, the log keeps every intermediate state for
    * forensics, and vacuum retention is unchanged (the restored
    * generations are referenced by the new head, so they survive it).
    * Fails loudly when the target version, or any generation directory
    * it references, has already been vacuumed — a rollback that silently
    * resurrected a half-reclaimed generation would serve partial data.
    */
  def rollback(fs: FileSystem, root: Path, toVersion: Long): Long = {
    val all = committed(fs, root)
    val m = all.find(_.version == toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"version $toVersion is not in the retained commit log at $root — " +
          s"retained: ${all.map(_.version).mkString(", ")}"))
    val missing = m.liveGenerations.filterNot(g => fs.exists(new Path(root, g)))
    require(missing.isEmpty,
      s"cannot roll back to version $toVersion: generation dir(s) " +
        s"${missing.mkString(", ")} already vacuumed")
    commit(fs, root, all.last.version, m.entries - "txid")
  }

  /** A Hadoop write option, not a session conf: see [[Generation.write]]. */
  private val NoSuccessMarker = "mapreduce.fileoutputcommitter.marksuccessfuljobs"

  /** The generation a [[publish]] body writes: `name`, a dir under `root`. */
  final case class Generation(root: Path, name: String) {
    def path: Path = new Path(root, name)

    /** Write `df` as parquet into this generation, or into its `sub` dir,
      * partitioned by `partitionBy`. No `_SUCCESS` marker: the manifest
      * flip is the commit record.
      */
    def write(df: DataFrame, sub: String = "", partitionBy: Seq[String] = Nil): Unit = {
      val w = df.write.mode(SaveMode.Overwrite).option(NoSuccessMarker, "false")
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
        .parquet((if (sub.isEmpty) path else new Path(path, sub)).toString)
    }
  }

  /** The whole protocol for a write that lands generation data: `body`
    * writes a new generation and returns the next manifest's entries,
    * which commit in the slot after `read`, the version the caller built
    * them from (0 for a table without a manifest); then [[vacuum]] keeps 2.
    * Returns the committed version. A stale `read` fails the [[commit]]
    * loudly, leaving the head untouched and the generation an orphan that
    * the next publish's vacuum reclaims.
    */
  def publish(fs: FileSystem, root: Path, read: Long)(
      body: Generation => Map[String, String]): Long = {
    // named for the version it commits as; the uuid keeps crash retries
    // of the same version collision-free
    val gen = Generation(root, s"_g${read + 1L}-${java.util.UUID.randomUUID().toString.take(8)}")
    val version = commit(fs, root, read, body(gen))
    vacuum(fs, root, keep = 2)
    version
  }

  /** Remove orphaned generation dirs and manifests older than the last
    * `keep` commits. A dir survives if ANY retained manifest references
    * it, so in-flight readers of the previous generation keep their
    * files. Only top-level dirs matching the `g<n>-` generation pattern
    * are candidates — anything else at the root is left alone.
    */
  def vacuum(fs: FileSystem, root: Path, keep: Int = 2): Unit = {
    if (!fs.exists(root)) return
    val all = committed(fs, root)
    if (all.isEmpty) return
    val retained = all.takeRight(keep)
    val live = retained.flatMap(_.liveGenerations).toSet
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name != CommitDir &&
          isGeneration(name) && !live.contains(name))
        fs.delete(st.getPath, true)
    }
    all.dropRight(keep).foreach(m => fs.delete(commitPath(root, m.version), false))
    // a crash between tmp-write and rename leaves a .tmp debris file; the
    // table is single-writer, so any tmp present OUTSIDE an in-flight
    // commit (and vacuum runs post-commit) is dead — reclaim it
    fs.listStatus(new Path(root, CommitDir)).foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith(".tmp-"))
        fs.delete(st.getPath, false)
    }
  }

  /** True when the root holds generation-pattern dirs but no committed
    * manifest. [[ParquetMergeSink]] and [[graft.operators.IncrementalAgg]]
    * commit a v1 manifest BEFORE writing any generation data, so for their
    * tables a crash never produces this state: only a lost `_commits` does.
    * They treat it as fatal rather than guessing a layout and silently
    * re-keying or resetting data. [[TableMaintenance]] writes its first
    * generation before any manifest, and reclaims such orphans itself.
    */
  def orphanedGenerations(fs: FileSystem, root: Path): Boolean =
    fs.exists(root) && latest(fs, root).isEmpty &&
      fs.listStatus(root).exists(s => s.isDirectory && isGeneration(s.getPath.getName))
}

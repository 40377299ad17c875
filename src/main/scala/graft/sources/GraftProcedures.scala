package graft.sources

import java.util.{Iterator => JIterator}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.{ManifestCommit, ParquetMergeSink, TableMaintenance}

/** The catalog's `CALL graft.system.*` maintenance procedures — the SQL
  * face of the manifest-protocol operations that are not statements
  * (Delta/Iceberg expose the same surface as stored procedures; Spark 4's
  * DSv2 `ProcedureCatalog` is the public seam). Each procedure is ONE
  * idempotent manifest operation; results come back as rows (the analyzer
  * turns each returned [[LocalScan]] into a `LocalRelation`), so `CALL`
  * output is SELECT-able like any query.
  *
  *  - `history(table)` — the retained manifest log: one row per version
  *    still reachable by `VERSION AS OF` / rollback (the reference keeps
  *    its history inside PostgreSQL's WAL; a lake table's history IS the
  *    manifest chain, so the audit view reads it directly).
  *  - `rollback(table, version)` — point the table back at a retained
  *    version ([[ManifestCommit.rollback]]: history-preserving, commits a
  *    NEW version that references the old generation — never deletes).
  *  - `vacuum(table, keep)` — drop all but the newest `keep` manifest
  *    versions and every generation dir only they referenced
  *    ([[ManifestCommit.vacuum]]); the storage-reclaim half of rollback.
  *  - `upgrade(table, keys, version)` — commit a merge-sink table of an
  *    older on-disk format once in the current one
  *    ([[ParquetMergeSink.upgrade]]); every other read and write refuses
  *    such a table with an error that names this procedure. A current
  *    table commits nothing. A pre-manifest table needs `keys`
  *    (comma-separated) and `version`, the write contract it never
  *    recorded, and the one run also stamps its `hwm`.
  *  - `compact(table, target_mb, sort_by)` — rewrite a maintained
  *    single-table layout into target-sized files via
  *    [[TableMaintenance.compact]], MATERIALIZING any committed deletion
  *    vector (the post-`DELETE FROM` step that restores vectorized scans
  *    and aggregate pushdown). Like `sort`, `zorder` and `stats_index`, it
  *    refuses merge-sink tables loudly ([[TableMaintenance]]'s guard):
  *    their merges place files by key hash and fold their own segments.
  *  - `export(dest, table)` / `restore(src, table, overwrite)` — the
  *    whole-catalog dump lifecycle (the reference's MODE=dump →
  *    s3-restore loop, process_s3.go:31-149, main.go:126, re-expressed
  *    as filesystem archive procedures): `export` copies each managed
  *    table's manifest chain + live generations into an immutable
  *    archive whose completeness manifest is written LAST; `restore`
  *    refuses anything without that manifest, copies tables back under
  *    the target catalog root via staging+rename, and the restored
  *    chain serves `VERSION AS OF` history unchanged. Copies run
  *    driver-side (FileUtil) — at object-store scale a deployment swaps
  *    the copy for distcp/S3 batch while keeping the manifest protocol.
  *
  * Procedures live under the `system` namespace only — a procedure name
  * can therefore never collide with a table name at the catalog root.
  */
private[sources] object GraftProcedures {

  private def spark: SparkSession = SparkSession.active

  /** One-row result helper. */
  private case class RowScan(schema: StructType, data: Seq[InternalRow])
    extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = data.toArray
  }

  private def result(schema: StructType, rows: Seq[InternalRow]): JIterator[Scan] =
    java.util.Collections.singletonList(RowScan(schema, rows): Scan).iterator()

  /** A result schema of non-null columns. */
  private def columns(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Shared shape: every procedure takes the table name first and binds
    * with fixed parameters (graft tables have no overload surface).
    */
  private abstract class GraftProcedure(
      procName: String, params: Array[ProcedureParameter]) extends UnboundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = procName
      override def parameters(): Array[ProcedureParameter] = params
      override def isDeterministic: Boolean = false // mutates / reads table state
      override def call(input: InternalRow): JIterator[Scan] = invoke(input)
    }
    def invoke(input: InternalRow): JIterator[Scan]
  }

  private def param(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def param(name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  /** table-name argument → its managed root path (must exist). */
  private def tableRoot(root: Path, table: String): Path = {
    val p = new Path(root, table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(p, ManifestCommit.CommitDir)),
      s"$table is not a managed table under $root (no manifest log)")
    p
  }

  def load(catalogName: String, root: Path, ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedure ${ident.namespace.mkString(".")}.${ident.name} not found: " +
        s"procedures live under $catalogName.system")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ident.name match {
      case "history" => new GraftProcedure("history",
          Array(param("table", StringType))) {
        override def invoke(input: InternalRow): JIterator[Scan] = {
          val p = tableRoot(root, input.getString(0))
          val schema = columns("version" -> LongType, "committed_at" -> StringType,
            "layout" -> StringType, "entries" -> StringType)
          val rows = ManifestCommit.committed(fs, p).sortBy(-_.version).map { m =>
            val layout =
              if (ParquetMergeSink.isSinkTable(m)) "merge-sink"
              else if (TableMaintenance.isSingleTable(m)) "maintained"
              else "partitioned"
            val at = java.time.Instant.ofEpochMilli(
              fs.getFileStatus(ManifestCommit.commitPath(p, m.version))
                .getModificationTime).toString
            new GenericInternalRow(Array[Any](m.version, utf8(at), utf8(layout),
              utf8(m.entries.toSeq.sortBy(_._1)
                .map { case (k, v) => s"$k=$v" }.mkString(", "))))
          }
          result(schema, rows)
        }
      }
      case "rollback" => new GraftProcedure("rollback",
          Array(param("table", StringType), param("version", LongType))) {
        override def invoke(input: InternalRow): JIterator[Scan] = {
          val p = tableRoot(root, input.getString(0))
          val v = ManifestCommit.rollback(fs, p, input.getLong(1))
          result(columns("restored_version" -> LongType, "new_version" -> LongType),
            Seq(new GenericInternalRow(Array[Any](input.getLong(1), v))))
        }
      }
      case "vacuum" => new GraftProcedure("vacuum",
          Array(param("table", StringType), param("keep", IntegerType, "2"))) {
        override def invoke(input: InternalRow): JIterator[Scan] = {
          val p = tableRoot(root, input.getString(0))
          val keep = input.getInt(1)
          require(keep >= 1, s"vacuum: keep must be >= 1, got $keep")
          ManifestCommit.vacuum(fs, p, keep)
          val retained = ManifestCommit.committed(fs, p).map(_.version).sorted
          result(columns("retained_versions" -> IntegerType, "oldest" -> LongType,
              "newest" -> LongType),
            Seq(new GenericInternalRow(Array[Any](retained.size, retained.min, retained.max))))
        }
      }
      case "upgrade" => new GraftProcedure("upgrade",
          Array(param("table", StringType), param("keys", StringType, "''"),
            param("version", StringType, "''"))) {
        override def invoke(input: InternalRow): JIterator[Scan] = {
          val p = new Path(root, input.getString(0))
          val keys = input.getString(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val version = input.getString(2).trim
          require(keys.isEmpty == version.isEmpty,
            "upgrade: keys and version are given together or not at all")
          val v = ParquetMergeSink.upgrade(spark, p.toString,
            Option.when(keys.nonEmpty)((keys, version)))
          result(columns("committed" -> BooleanType, "version" -> LongType),
            Seq(new GenericInternalRow(Array[Any](v.isDefined,
              ManifestCommit.latest(fs, p).map(_.version).getOrElse(0L)))))
        }
      }
      case "compact" => new GraftProcedure("compact",
          Array(param("table", StringType),
            param("target_mb", IntegerType, "128"),
            param("sort_by", StringType, "''"))) {
        override def invoke(input: InternalRow): JIterator[Scan] = {
          val p = tableRoot(root, input.getString(0))
          val targetMb = input.getInt(1)
          require(targetMb >= 1, s"compact: target_mb must be >= 1, got $targetMb")
          val sortBy =
            if (input.isNullAt(2)) Nil
            else input.getString(2).trim match {
              case "" => Nil
              case s => s.split(",").map(_.trim).toSeq
            }
          val files = TableMaintenance.compact(
            spark, p.toString, targetMb.toLong << 20, sortBy)
          val v = ManifestCommit.latest(fs, p).map(_.version).getOrElse(0L)
          result(columns("version" -> LongType, "files" -> IntegerType),
            Seq(new GenericInternalRow(Array[Any](v, files))))
        }
      }
      case "sort" => new GraftProcedure("sort",
          Array(param("table", StringType), param("keys", StringType),
            param("files", IntegerType, "32"))) {
        override def invoke(input: InternalRow): JIterator[Scan] = {
          val p = tableRoot(root, input.getString(0))
          val keys = splitKeys(input.getString(1), "sort")
          val files = input.getInt(2)
          require(files >= 1, s"sort: files must be >= 1, got $files")
          val v = TableMaintenance.sortManaged(spark, p.toString, files, keys)
          result(columns("version" -> LongType, "files" -> IntegerType),
            Seq(new GenericInternalRow(Array[Any](v, committedFileCount(p)))))
        }
      }
      case "zorder" => new GraftProcedure("zorder",
          Array(param("table", StringType), param("keys", StringType),
            param("files", IntegerType, "32"),
            param("bits_per_key", IntegerType, "8"))) {
        override def invoke(input: InternalRow): JIterator[Scan] = {
          val p = tableRoot(root, input.getString(0))
          val keys = splitKeys(input.getString(1), "zorder")
          val files = input.getInt(2)
          require(files >= 1, s"zorder: files must be >= 1, got $files")
          val v = TableMaintenance.zorderManaged(
            spark, p.toString, files, keys, input.getInt(3))
          result(columns("version" -> LongType, "files" -> IntegerType),
            Seq(new GenericInternalRow(Array[Any](v, committedFileCount(p)))))
        }
      }
      case "stats_index" => new GraftProcedure("stats_index",
          Array(param("table", StringType), param("keys", StringType))) {
        override def invoke(input: InternalRow): JIterator[Scan] = {
          val p = tableRoot(root, input.getString(0))
          val keys = splitKeys(input.getString(1), "stats_index")
          val n = TableMaintenance.statsIndexManaged(spark, p.toString, keys)
          result(columns("files_indexed" -> IntegerType, "keys" -> StringType),
            Seq(new GenericInternalRow(Array[Any](n, utf8(keys.mkString(","))))))
        }
      }
      case "export" => new GraftProcedure("export",
          Array(param("dest", StringType),
            param("table", StringType, "'all'"))) {
        override def invoke(input: InternalRow): JIterator[Scan] = {
          val dest = new Path(input.getString(0))
          val tableArg = input.getString(1)
          val names =
            if (tableArg == "all") managedTables(fs, root)
            else { tableRoot(root, tableArg); Seq(tableArg) }
          require(names.nonEmpty, s"export: no managed tables under $root")
          val dfs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
          require(!dfs.exists(dest),
            s"export: destination $dest already exists — archives are " +
              "immutable; export to a fresh path")
          // build off to the side, publish by rename: a crashed export
          // leaves an orphan _build dir, never a half archive that a
          // restore could mistake for complete (the LayoutCache protocol,
          // without the fingerprint — an archive is write-once)
          val staging = new Path(
            dest.toString + s"_build_${java.util.UUID.randomUUID()}")
          dfs.mkdirs(staging)
          val rows = names.sorted.map { name =>
            val tRoot = new Path(root, name)
            val manifests = ManifestCommit.committed(fs, tRoot)
            require(manifests.nonEmpty, s"export: $name has no versions")
            val live = manifests.flatMap(_.liveGenerations).toSet
            val tDest = new Path(staging, name)
            dfs.mkdirs(tDest)
            var files = 0L; var bytes = 0L
            (Seq(ManifestCommit.CommitDir) ++ live.toSeq.sorted).foreach {
              sub =>
                val srcSub = new Path(tRoot, sub)
                require(org.apache.hadoop.fs.FileUtil.copy(fs, srcSub,
                    dfs, new Path(tDest, sub), false, false,
                    spark.sparkContext.hadoopConfiguration),
                  s"export: copying $srcSub failed")
                val it = fs.listFiles(srcSub, true)
                while (it.hasNext) {
                  val st = it.next(); files += 1; bytes += st.getLen
                }
            }
            (name, manifests.last.version, files, bytes)
          }
          // the archive manifest commits LAST: its presence certifies
          // every table dir above it is complete
          val out = dfs.create(new Path(staging, ArchiveManifest), true)
          try out.write(
            (s"fmt=1\n" + rows.map { case (n, v, _, _) => s"table.$n=$v" }
              .mkString("\n") + "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          require(dfs.rename(staging, dest),
            s"export: publishing $staging -> $dest failed")
          result(exportSchema, rows.map { case (n, v, f, b) =>
            new GenericInternalRow(Array[Any](utf8(n), v, f, b))
          })
        }
      }
      case "restore" | "import" => new GraftProcedure("restore",
          Array(param("src", StringType),
            param("table", StringType, "'all'"),
            param("overwrite", BooleanType, "false"))) {
        override def invoke(input: InternalRow): JIterator[Scan] = {
          val src = new Path(input.getString(0))
          val tableArg = input.getString(1)
          val overwrite = input.getBoolean(2)
          val sfs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val mPath = new Path(src, ArchiveManifest)
          require(sfs.exists(mPath),
            s"restore: $src is not a graft export archive (no " +
              s"$ArchiveManifest — a crashed export never publishes one)")
          val in = sfs.open(mPath)
          val archived = try new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8)
            .linesIterator.filter(_.startsWith("table."))
            .map { l =>
              val i = l.indexOf('=')
              l.substring(6, i) -> l.substring(i + 1).toLong
            }.toMap
          finally in.close()
          val names =
            if (tableArg == "all") archived.keys.toSeq.sorted
            else {
              require(archived.contains(tableArg),
                s"restore: archive has no table $tableArg " +
                  s"(has: ${archived.keys.toSeq.sorted.mkString(", ")})")
              Seq(tableArg)
            }
          val rows = names.map { name =>
            val target = new Path(root, name)
            if (fs.exists(target)) {
              require(overwrite,
                s"restore: $name already exists under $root — pass " +
                  "overwrite => true to replace it (its current state is " +
                  "discarded)")
              require(fs.delete(target, true), s"restore: clearing $name failed")
            }
            // copy into a staging sibling, rename-flip into place: a
            // reader never sees a manifest chain whose generations are
            // still copying
            val staging = new Path(root,
              s"${name}_restore_${java.util.UUID.randomUUID()}")
            require(org.apache.hadoop.fs.FileUtil.copy(sfs,
                new Path(src, name), fs, staging, false, false,
                spark.sparkContext.hadoopConfiguration),
              s"restore: copying $name failed")
            require(fs.rename(staging, target),
              s"restore: publishing $staging -> $target failed")
            val v = ManifestCommit.latest(fs, target).map(_.version)
              .getOrElse(0L)
            require(v == archived(name),
              s"restore: $name restored at version $v but the archive " +
                s"manifest says ${archived(name)} — archive corrupt")
            (name, v)
          }
          result(columns("table" -> StringType, "version" -> LongType),
            rows.map { case (n, v) => new GenericInternalRow(Array[Any](utf8(n), v)) })
        }
      }
      case other => throw new RuntimeException(
        s"procedure $catalogName.system.$other not found — available: " +
          All.mkString(", "))
    }
  }

  /** The archive's own manifest file: written LAST by `export`, required
    * FIRST by `restore` — the completeness certificate of the dump, the
    * role the reference's dump tooling gives its final upload marker
    * (process_s3.go:31-149; main.go:126 MODE=dump).
    */
  private val ArchiveManifest = "_graft_export"

  private val exportSchema = columns("table" -> StringType, "version" -> LongType,
    "files" -> LongType, "bytes" -> LongType)

  /** Every managed table under the catalog root (a child dir carrying a
    * manifest log).
    */
  private def managedTables(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        fs.exists(new Path(s.getPath, ManifestCommit.CommitDir)))
      .map(_.getPath.getName)

  /** Parquet files in the table's CURRENT (just-committed) generation.
    * sort/zorder report this rather than echoing the requested `files`
    * argument: `repartitionByRange` writes FEWER files when the key
    * cardinality is below the requested count, and a maintenance report
    * must state what landed, not what was asked for.
    */
  private def committedFileCount(p: Path): Int = {
    val dataDir = new Path(
      graft.sinks.TableMaintenance.resolveDataDir(spark, p.toString))
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dataDir)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  private def splitKeys(raw: String, op: String): Seq[String] = {
    val keys = raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, s"$op: keys must name at least one column")
    keys
  }

  val All: Array[String] = Array(
    "history", "rollback", "vacuum", "upgrade", "compact", "sort", "zorder",
    "stats_index", "export", "restore")
}

package graft.sources

import java.util.{Map => JMap, Set => JSet}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.ManifestCommit

/** SQL face for the graft-managed lake tables — a DataSource V2
  * `TableCatalog` that resolves `SELECT * FROM graft.t` (and
  * `VERSION AS OF n` time travel) through the same [[ManifestCommit]]
  * protocol the API readers use ([[graft.sinks.ParquetMergeSink.read]] /
  * `readVersion`, [[graft.sinks.TableMaintenance.read]]).
  *
  * The reference gets its SQL face for free from PostgreSQL (db.go's
  * tables are queryable the moment they exist); a lake engine has to
  * EARN it — this catalog is that step: register once
  * (`spark.sql.catalog.graft = graft.sources.GraftCatalog`,
  * `spark.sql.catalog.graft.root = <warehouse dir>`) and every managed
  * table under the root becomes a first-class SQL relation with full
  * parquet pushdown.
  *
  * Resolution semantics — identical to the API readers by construction:
  *
  *  - the CURRENT table is the highest committed manifest's generation
  *    dirs: a merge-sink table's entries (`dir.N`, bucket N's base dir,
  *    and `dir.+V`, the segment manifest vV appended — each entry one
  *    dir) or a maintained table's `dir.table`; uncommitted/orphan
  *    generations are invisible. A merge-sink table of an older format is
  *    refused until `CALL <catalog>.system.upgrade` commits it anew.
  *  - `VERSION AS OF n` loads manifest n if vacuum still retains it —
  *    the exact `readVersion` contract, including the loud listing of
  *    retained versions on a miss.
  *  - a committed DELETION VECTOR (`dir.deletes` + `delete.key`,
  *    [[graft.sinks.TableMaintenance.deleteWhere]]) is applied INSIDE
  *    the scan: the key column is force-included in the parquet read,
  *    each reader drops deleted keys, and the declared output schema
  *    stays exactly what the query asked for. Time travel to a
  *    pre-delete version resurrects the rows, as the manifest protocol
  *    specifies.
  *
  * Scan planning delegates to Spark's own parquet DSv2 ([[ParquetTable]])
  * — column pruning, predicate pushdown, and (for vector-free tables)
  * vectorized reads and aggregate pushdown all come from the engine, not
  * from re-implemented machinery. A table carrying a deletion vector
  * reads row-wise through the filtering wrapper and deliberately does
  * NOT advertise aggregate pushdown (a pushed `count(*)` would count
  * deleted rows); [[graft.sinks.TableMaintenance.compact]] materializes
  * the vector and restores the fast path — the same trade Delta makes.
  *
  * Write surface — every statement is the SQL face of ONE idempotent
  * sink commit, never a parallel write protocol: CREATE TABLE (one
  * manifest declaring the merge contract, [[ParquetMergeSink.createEmpty]]),
  * INSERT (V1Write seam → merge), DELETE (`SupportsDelete` → deletion
  * vectors), MERGE/UPDATE (post-resolution rewrites → mergeActions/
  * merge), DROP TABLE (managed-dir delete, gated by `tableExists`).
  * ALTER/RENAME throw: the manifest's schema-from-data and
  * path-is-identity choices make both API-level operations.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog {

  /** Deletion vectors ride the driver (and every task) as a key set —
    * the Delta in-memory-bitmap trade. Bounded loudly: past this, run
    * compact to materialize deletes physically.
    */
  private val MaxDvKeys = 10000000L

  private var catName: String = _
  private var root: Path = _
  private var opts: CaseInsensitiveStringMap = _

  private def spark: SparkSession = SparkSession.active
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    opts = options
    val r = options.get("root")
    require(r != null,
      s"spark.sql.catalog.$name.root must name the warehouse directory")
    root = new Path(r)
  }

  override def name(): String = catName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).filter(_.isDirectory)
      .filter(s => fs.exists(new Path(s.getPath, ManifestCommit.CommitDir)))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  private def tablePath(ident: Identifier) = new Path(root, ident.name)

  override def tableExists(ident: Identifier): Boolean =
    fs.exists(new Path(tablePath(ident), ManifestCommit.CommitDir))

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF n` — the SQL route into `readVersion`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLong))

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val p = tablePath(ident)
    // the sink's format check: an old-format merge-sink table (or its
    // pre-manifest dirs) is refused with the upgrade procedure's name
    val head = graft.sinks.ParquetMergeSink.head(fs, p)
      .getOrElse(throw new NoSuchTableException(ident))
    val m = version.fold(head)(v => graft.sinks.ParquetMergeSink.requireCurrent(p,
      ManifestCommit.at(fs, p, v).getOrElse(throw new IllegalArgumentException(
        s"version $v of $p is not retained — retained: " +
          ManifestCommit.committed(fs, p).map(_.version).mkString(", ")))))
    // a merge-sink table reads every dir it names (none: an empty table
    // of its declared schema), a maintained one its `dir.table`
    val sink = graft.sinks.ParquetMergeSink.isSinkTable(m)
    val dataDirs = (if (sink) m.dirs.values.toSeq.sorted else m.dirs.get("table").toSeq)
      .map(rel => new Path(p, rel).toString)
    require(sink || graft.sinks.TableMaintenance.isSingleTable(m),
      s"$p is partition-managed (${m.dirs.keys.take(3).mkString(", ")}…): " +
        "read it via TableMaintenance.readPartitioned — the catalog serves " +
        "merge-sink and maintained single-table layouts")
    val declared = graft.sinks.ParquetMergeSink.declaredSchema(m)
    require(dataDirs.nonEmpty || sink && declared.isDefined,
      s"version ${m.version} of $p references no data dirs")
    val dv = for {
      rel <- m.dirs.get("deletes")
      key <- m.entries.get("delete.key")
    } yield (key, GraftCatalog.dvBroadcast(spark, p, m.version, rel, MaxDvKeys))
    // SQL write config (merge-sink tables only): the manifest records the
    // merge key/version columns — `INSERT INTO graft.t` routes through
    // ParquetMergeSink.merge with them. Historical versions and
    // DV-carrying tables stay read-only (a write on top of a time-travel
    // read or an un-compacted delete epoch has no sane semantics).
    val writeCfg = if (version.isDefined || dv.isDefined) None else for {
      ks <- m.entries.get("merge.keys")
      ver <- m.entries.get("merge.version")
      bk <- m.entries.get("buckets")
    } yield (ks.split(",").toSeq, ver, bk.toInt)
    // SQL DELETE config (maintained single-table layouts — deleteWhere's
    // own contract): the key is the table's ESTABLISHED vector key when a
    // vector exists, else the catalog-declared one
    // (`spark.sql.catalog.<cat>.deleteKey.<table> = column`). The
    // declared key must uniquely identify rows: deletion vectors delete
    // by the KEY of matching rows, which is SQL DELETE semantics only
    // under uniqueness — that assertion is the table owner's to make,
    // which is why the key is DECLARED, never guessed from the schema.
    val deleteCfg =
      if (version.isDefined || sink) None
      else m.entries.get("delete.key")
        .orElse(Option(opts.get(s"deleteKey.${ident.name}")))
    val renames = graft.sinks.ParquetMergeSink.physMap(m)
    require(renames.isEmpty || dv.isEmpty,
      s"$p carries both a column rename map and a deletion vector — " +
        "renames serve merge-sink tables and vectors maintained layouts; " +
        "this state is unreachable through the sink APIs")
    new GraftTable(s"$catName.${ident.name}", spark, dataDirs, dv,
      p.toString, writeCfg, deleteCfg,
      declared, renames)
  }

  private def readOnly: Nothing = throw new UnsupportedOperationException(
    s"catalog $catName is read-only: write through the merge/compact sinks " +
      "(ParquetMergeSink, TableMaintenance), whose idempotent commits are " +
      "the lake's write protocol")

  override def createTable(ident: Identifier, info: TableInfo): Table =
    createTable(ident, info.schema(), info.partitions(), info.properties())

  /** `CREATE TABLE graft.t (…) TBLPROPERTIES('merge.keys'='k1[,k2…]',
    * 'merge.version'='ver'[, 'buckets'='N'])` — the SQL onboarding path
    * for a NEW merge-sink table ([[ParquetMergeSink.createEmpty]]: ONE
    * manifest recording the schema and the write contract, no data file
    * and no Spark job), after which the table reads as 0 rows of its
    * declared columns and every SQL write path (INSERT, MERGE, UPDATE)
    * works immediately; the first INSERT appends. The key/version
    * properties are REQUIRED: a graft table IS a keyed upsert sink (the
    * reference's ON CONFLICT tables, db.go), and its merge keys are the
    * table owner's contract — never guessed from the schema. `CREATE TABLE … AS SELECT` composes
    * for free: Spark calls this then appends through the V1Write seam,
    * i.e. CTAS = CREATE + one idempotent merge of the query result.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      s"CREATE TABLE $catName.${ident.name}: PARTITIONED BY is not part " +
        "of the merge-sink layout (tables are bucketed by their merge " +
        "keys; use TableMaintenance for partition-managed layouts)")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catName, ident.name))
    def prop(k: String) = Option(properties.get(k)).map(_.trim).filter(_.nonEmpty)
    val keys = prop("merge.keys").map(_.split(",").map(_.trim).toSeq)
      .getOrElse(throw new UnsupportedOperationException(
        s"CREATE TABLE $catName.${ident.name} needs TBLPROPERTIES(" +
          "'merge.keys'='k1[,k2…]', 'merge.version'='col') — a graft " +
          "table is a keyed merge sink and its write contract is " +
          "declared at creation, never guessed"))
    val version = prop("merge.version").getOrElse(
      throw new UnsupportedOperationException(
        s"CREATE TABLE $catName.${ident.name}: TBLPROPERTIES must " +
          "declare 'merge.version' (the column ordering upserts)"))
    val buckets = prop("buckets").map(_.toInt).getOrElse(16)
    graft.sinks.ParquetMergeSink.createEmpty(
      spark, tablePath(ident).toString, schema, keys, version, buckets)
    loadTable(ident)
  }

  /** `ALTER TABLE graft.t …` — schema evolution, each statement ONE
    * metadata-only manifest commit; no data file is ever rewritten:
    *
    *  - `ADD COLUMN c TYPE` ([[graft.sinks.ParquetMergeSink.addColumns]]):
    *    pre-ALTER generations null-fill the new column by name at scan
    *    time. Re-adding a previously dropped name gets a FRESH physical
    *    name, so dropped data never resurrects.
    *  - `DROP COLUMN c` ([[graft.sinks.ParquetMergeSink.dropColumns]]):
    *    the narrowed declared schema stops reads from requesting the
    *    column; its physical name is retired in the manifest.
    *  - `RENAME COLUMN a TO b` ([[graft.sinks.ParquetMergeSink
    *    .renameColumn]]): the logical name flips while every generation
    *    keeps its physical name (Delta column-mapping "name" mode) —
    *    scans read physical and project to logical, so old data serves
    *    under the new name with zero rewrite; renaming a merge key
    *    updates the write contract in the same commit.
    *
    *  - `ALTER COLUMN c TYPE t` ([[graft.sinks.ParquetMergeSink
    *    .widenColumnType]]): LOSSLESS WIDENINGS ONLY (byte→short→int→
    *    long, float→double, int→double, int/long→decimal, decimal
    *    precision growth, date→timestamp_ntz — Delta's type-widening
    *    set): the declared schema takes the wider type and the parquet
    *    readers upcast old generations at scan time. Narrowing and lossy
    *    conversions refuse — committed immutable files cannot change
    *    physical type. Merge keys are not widenable (bucket routing
    *    hashes the typed key value).
    *
    * Time travel to a pre-ALTER version serves that manifest's own shape,
    * names, and types. The reference evolves its schema the same
    * metadata-forward route (`sql-migrations/`).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val path = tablePath(ident).toString
    def oneName(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"ALTER TABLE $catName.${ident.name}: nested $what " +
          s"(${fieldNames.mkString(".")}) is not supported — only " +
          "top-level columns")
      fieldNames.head
    }
    val adds = changes.collect { case a: TableChange.AddColumn =>
      val name = oneName(a.fieldNames, "ADD COLUMN")
      require(a.position() == null,
        s"ALTER TABLE $catName.${ident.name} ADD COLUMN $name" +
          ": FIRST/AFTER positioning is not supported — new columns append")
      require(a.defaultValue() == null,
        s"ALTER TABLE $catName.${ident.name} ADD COLUMN $name" +
          ": DEFAULT values are not supported — added columns null-fill")
      require(a.isNullable,
        s"ALTER TABLE $catName.${ident.name} ADD COLUMN $name" +
          ": NOT NULL is not addable — existing rows cannot supply a value")
      org.apache.spark.sql.types.StructField(name, a.dataType, nullable = true)
    }
    val drops = changes.collect { case d: TableChange.DeleteColumn =>
      oneName(d.fieldNames, "DROP COLUMN")
    }
    val renames = changes.collect { case r: TableChange.RenameColumn =>
      oneName(r.fieldNames, "RENAME COLUMN") -> r.newName
    }
    val widenings = changes.collect { case u: TableChange.UpdateColumnType =>
      oneName(u.fieldNames, "ALTER COLUMN TYPE") -> u.newDataType
    }
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType])
    if (unsupported.nonEmpty) throw new UnsupportedOperationException(
      s"ALTER TABLE $catName.${ident.name}: only ADD/DROP/RENAME COLUMN " +
        "and widening ALTER COLUMN TYPE are supported (got " +
        s"${unsupported.head.getClass.getSimpleName})")
    if (adds.nonEmpty)
      graft.sinks.ParquetMergeSink.addColumns(spark, path, adds.toSeq)
    if (drops.nonEmpty)
      graft.sinks.ParquetMergeSink.dropColumns(spark, path, drops.toSeq)
    renames.foreach { case (from, to) =>
      graft.sinks.ParquetMergeSink.renameColumn(spark, path, from, to)
    }
    widenings.foreach { case (name, t) =>
      graft.sinks.ParquetMergeSink.widenColumnType(spark, path, name, t)
    }
    loadTable(ident)
  }

  /** `DROP TABLE graft.t` deletes the MANAGED table directory — manifest
    * history, generations, deletion vectors, everything; `tableExists`
    * gates it to manifest-managed dirs, so a plain parquet directory
    * that happens to live under the root can never be dropped through
    * SQL. Time travel does not survive a drop (the manifest log IS the
    * history being deleted) — that is what DROP means.
    */
  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && fs.delete(tablePath(ident), true)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = readOnly

  /** `CALL graft.system.<proc>(…)` — the maintenance surface
    * ([[GraftProcedures]]: history, rollback, vacuum, compact).
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(catName, root, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")) || namespace.isEmpty)
      GraftProcedures.All.map(Identifier.of(Array("system"), _))
    else Array.empty
}

object GraftCatalog {

  /** Deletion-vector key sets, loaded once per (table, manifest version)
    * and shipped as a BROADCAST — one copy per executor, not one
    * serialized closure copy per task (a 10M-key Set[Any] in the
    * reader-factory closure taxed every task of every query). loadTable
    * runs on every query against the table; the cache makes the
    * count()+collect() a once-per-version cost. One live entry per table:
    * a version flip (new delete epoch or a compact) replaces — and
    * unpersists — the superseded broadcast. The cache key folds in the
    * SparkContext's applicationId: the map is process-wide (object
    * state), so after a session restart an unchanged (table, version)
    * must NOT serve a broadcast minted on the stopped context — tasks
    * would fail fetching the dead broadcast.
    */
  private val dvCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Long, org.apache.spark.broadcast.Broadcast[Set[Any]])]()

  private[sources] def dvBroadcast(spark: SparkSession, table: Path,
      version: Long, rel: String,
      maxKeys: Long): org.apache.spark.broadcast.Broadcast[Set[Any]] =
    dvCache.compute(s"${spark.sparkContext.applicationId}#$table", (_, cached) => {
      if (cached != null && cached._1 == version) cached
      else {
        if (cached != null) cached._2.unpersist(blocking = false)
        val keys = spark.read.parquet(new Path(table, rel).toString)
        val n = keys.count()
        require(n <= maxKeys,
          s"$table carries a $n-key deletion vector (> $maxKeys): compact " +
            "the table to materialize the deletes before serving it via SQL")
        (version,
          spark.sparkContext.broadcast(keys.collect().map(_.get(0)).toSet[Any]))
      }
    })._2

  /** V1 source Filter → Column, total over the shapes SQL DELETE
    * planning produces; None = not expressible (the caller refuses the
    * whole delete — never a partial one).
    */
  private[sources] def filterColumn(
      f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
      case Or(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
      case Not(c) => filterColumn(c).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }
}

/** A manifest-resolved managed table: schema and scans delegate to
  * Spark's parquet DSv2 over exactly the committed generation dirs; an
  * optional deletion vector wraps the scan (see [[GraftCatalog]]).
  */
private[sources] class GraftTable(tableName: String, spark: SparkSession,
    dataDirs: Seq[String],
    dv: Option[(String, org.apache.spark.broadcast.Broadcast[Set[Any]])],
    private[sources] val tablePath: String,
    private[sources] val writeCfg: Option[(Seq[String], String, Int)],
    deleteCfg: Option[String],
    declared: Option[StructType] = None,
    renames: Map[String, String] = Map.empty)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  // The manifest-declared schema (when present) is the user-specified
  // schema of the parquet scan — under a rename map with PHYSICAL field
  // names, since that is what every generation's files carry: files align
  // by (physical) name, generations written before an ADD COLUMN
  // null-fill the new columns inside the reader, and the scan wrapper
  // below projects physical → logical names positionally.
  private lazy val delegate = ParquetTable(tableName, spark,
    CaseInsensitiveStringMap.empty(), dataDirs,
    declared.map(d =>
      graft.sinks.ParquetMergeSink.physicalSchema(d, renames)),
    classOf[ParquetFileFormat])

  override def name(): String = tableName
  override def schema(): StructType =
    if (renames.isEmpty) delegate.schema
    else declared.getOrElse(delegate.schema)
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val inner = delegate.newScanBuilder(options)
    (dv, renames.isEmpty) match {
      case (None, true) => inner
      case (None, false) =>
        new RenameScanBuilder(inner, schema(), renames)
      case (Some((keyCol, keys)), _) =>
        new DvScanBuilder(inner, schema(), keyCol, keys)
    }
  }

  /** `INSERT INTO graft.t` = ONE idempotent [[ParquetMergeSink.merge]]
    * commit with the manifest-recorded key/version columns: duplicate
    * keys upsert latest-wins exactly like the API path (the indexer's
    * ON CONFLICT discipline — SQL INSERT is the SQL face of merge, and
    * replaying the same INSERT converges to the same table). The V1Write
    * seam hands the whole batch DataFrame to the sink on the driver,
    * which is precisely merge's contract; the write itself is still the
    * sink's distributed bucket-partitioned parquet write.
    */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                val (keys, version, buckets) = writeCfg.getOrElse(
                  throw new UnsupportedOperationException(
                    s"$tableName is not SQL-writable: only CURRENT merge-sink " +
                      "tables (manifest carries merge.keys/merge.version) accept " +
                      "INSERT INTO; time-travel reads and DV-carrying tables " +
                      "are read-only — write through the sink APIs"))
                require(!overwrite,
                  s"INSERT OVERWRITE into $tableName is not supported: the " +
                    "merge protocol is upsert-only (ON CONFLICT DO UPDATE); " +
                    "rebuild via the sink APIs for a full replace")
                graft.sinks.ParquetMergeSink.merge(
                  data, tablePath, keys, version, buckets)
              }
            }
        }
    }

  /** `DELETE FROM graft.t WHERE …` = ONE [[graft.sinks.TableMaintenance
    * .deleteWhere]] commit: matching rows' keys append to the table's
    * deletion vector (manifest flip, readers see it atomically, time
    * travel to a pre-delete version resurrects). Replay-idempotent —
    * re-deleting the same predicate unions the same keys. Only filters
    * expressible as Columns are accepted; anything else refuses loudly
    * toward the API (never a partial delete).
    */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    deleteCfg.isDefined &&
      filters.forall(f => GraftCatalog.filterColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val key = deleteCfg.getOrElse(throw new UnsupportedOperationException(
      s"$tableName is not SQL-deletable: DELETE needs a maintained " +
        "single-table layout and a declared unique key — either an " +
        "existing deletion vector's delete.key or " +
        s"spark.sql.catalog.<cat>.deleteKey.<table> = <column>"))
    val pred = filters.foldLeft(org.apache.spark.sql.functions.lit(true)) {
      (acc, f) =>
        acc && GraftCatalog.filterColumn(f).getOrElse(
          throw new UnsupportedOperationException(
            s"DELETE predicate $f is not expressible against $tableName — " +
              "run TableMaintenance.deleteWhere with a Column predicate"))
    }
    graft.sinks.TableMaintenance.deleteWhere(spark, tablePath, key, pred)
  }
}

/** Scan planning for a renamed table (manifest logical→physical column
  * map, [[graft.sinks.ParquetMergeSink.renameColumn]]): column-pruning
  * requests and pushed filters translate logical names to the physical
  * names the parquet files carry; the produced scan reports the LOGICAL
  * schema while rows pass through positionally unchanged (same types,
  * same order — only names differ, and InternalRow is positional).
  * Filter pushdown survives the translation: attribute renames keep
  * exprIds, so the residual expressions the delegate returns still bind
  * to the logical relation output. Aggregate pushdown is deliberately
  * not forwarded for renamed tables (the delegate would report physical
  * result names); compact-rewritten tables restore it.
  */
private[sources] class RenameScanBuilder(delegate: FileScanBuilder,
    logicalFull: StructType, renames: Map[String, String])
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownCatalystFilters {

  private def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
  private val byLc = renames.map { case (k, v) => lc(k) -> v }
  private def physName(n: String) = byLc.getOrElse(lc(n), n)
  private var output: Option[StructType] = None

  override def pruneColumns(required: StructType): Unit = {
    output = Some(required)
    delegate.pruneColumns(StructType(
      required.fields.map(f => f.copy(name = physName(f.name)))))
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    delegate.pushFilters(filters.map(_.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if byLc.contains(lc(a.name)) => a.withName(physName(a.name))
    }))
  override def pushedFilters(): Array[V2Predicate] = delegate.pushedFilters

  override def build(): Scan = {
    val inner = delegate.build()
    val logical = output.getOrElse(logicalFull)
    val phys = inner.readSchema()
    require(phys.length == logical.length &&
        phys.fields.zip(logical.fields).forall { case (p, l) =>
          p.dataType == l.dataType },
      s"renamed scan shape drifted: physical ${phys.simpleString} vs " +
        s"logical ${logical.simpleString} — refusing a positional mismatch")
    new RenameScan(inner, logical)
  }
}

private[sources] class RenameScan(delegate: Scan, output: StructType)
  extends Scan {
  override def readSchema(): StructType = output
  override def description(): String = "GraftRenameScan " + delegate.description()
  override def toBatch: Batch = delegate.toBatch
}

/** Column-pruning/filter-pushdown passthrough that force-includes the
  * deletion-vector key column in the delegate parquet read while
  * declaring the caller's requested schema as output. Data filters still
  * push to the parquet scan (rows a filter drops are a subset of rows
  * the vector would keep or drop — the conjunction is order-free).
  */
private[sources] class DvScanBuilder(delegate: FileScanBuilder,
    fullSchema: StructType, keyCol: String,
    keys: org.apache.spark.broadcast.Broadcast[Set[Any]])
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with SupportsPushDownCatalystFilters {

  private var output: Option[StructType] = None

  override def pruneColumns(required: StructType): Unit = {
    output = Some(required)
    val withKey =
      if (required.fieldNames.contains(keyCol)) required
      else StructType(required.fields :+ fullSchema(keyCol))
    delegate.pruneColumns(withKey)
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    delegate.pushFilters(filters)
  override def pushedFilters(): Array[V2Predicate] = delegate.pushedFilters

  override def build(): Scan = {
    val inner = delegate.build()
    new DvScan(inner, output.getOrElse(inner.readSchema()), keyCol, keys)
  }
}

private[sources] class DvScan(delegate: Scan, output: StructType,
    keyCol: String,
    keys: org.apache.spark.broadcast.Broadcast[Set[Any]]) extends Scan {

  override def readSchema(): StructType = output
  override def description(): String =
    s"GraftDvScan(key=$keyCol, deleted=${keys.value.size}) " + delegate.description()

  override def toBatch: Batch = new Batch {
    private val inner = delegate.toBatch
    override def planInputPartitions(): Array[InputPartition] =
      inner.planInputPartitions()
    override def createReaderFactory(): PartitionReaderFactory =
      new DvReaderFactory(inner.createReaderFactory(), delegate.readSchema(),
        output.fieldNames, keyCol, keys)
  }
}

/** Row-wise reader wrapper: drops deleted keys, then projects away the
  * force-included key column when the query did not ask for it.
  * Columnar reads are declined — the filter runs per row (the deletion
  * vector cost; compact restores the vectorized path).
  */
/** The deletion vector arrives as a broadcast handle — the factory ships
  * the lightweight handle in every task closure; the key SET is fetched
  * once per executor at first dereference.
  */
private[sources] class DvReaderFactory(delegate: PartitionReaderFactory,
    readSchema: StructType, outputNames: Array[String], keyCol: String,
    keys: org.apache.spark.broadcast.Broadcast[Set[Any]])
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val inner = delegate.createReader(partition)
    val keyOrd = readSchema.fieldIndex(keyCol)
    val keyGet: InternalRow => Any = readSchema(keyOrd).dataType match {
      case LongType => r => if (r.isNullAt(keyOrd)) null else r.getLong(keyOrd)
      case IntegerType => r => if (r.isNullAt(keyOrd)) null else r.getInt(keyOrd)
      case StringType =>
        r => if (r.isNullAt(keyOrd)) null else r.getUTF8String(keyOrd).toString
      case t => throw new IllegalStateException(
        s"deletion-vector key type $t unsupported (long/int/string)")
    }
    val identity = outputNames.sameElements(readSchema.fieldNames)
    lazy val proj = UnsafeProjection.create(outputNames.toIndexedSeq.map { n =>
      val i = readSchema.fieldIndex(n)
      BoundReference(i, readSchema(i).dataType, readSchema(i).nullable)
    })
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val row = inner.get()
          val k = keyGet(row)
          if (k == null || !keys.value.contains(k)) {
            current = if (identity) row else proj(row)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = inner.close()
    }
  }
}

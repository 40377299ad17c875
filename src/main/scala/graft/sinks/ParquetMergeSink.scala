package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.BarrierOps
import graft.indexer.Upsert

/** Idempotent merge sink over parquet — the concrete form of the
  * reference's `INSERT ... ON CONFLICT DO UPDATE` target tables
  * (db.go:1171-1175) for a lake without a transactional format.
  *
  * Scale design — bucket-scoped rewrite, not table rewrite: rows are
  * hashed into `nBuckets` buckets on the merge keys. A merge touches ONLY
  * the buckets containing the batch's keys: it reads those buckets'
  * current files, resolves latest-wins, writes the result as a NEW
  * immutable generation, and commits by flipping a single small manifest
  * file ([[ManifestCommit]]). Buckets without conflicting keys are never
  * read or rewritten — their manifest entries simply carry forward — so
  * at 100 TB a small batch costs O(batch + touched-buckets), not
  * O(table).
  *
  * Job shape — a merge runs ONE staging job, then the write. The staging
  * job materializes the aligned, bucketed batch behind a barrier and
  * observes, in the same pass, the set of touched buckets and the row
  * count (emptiness); no separate `isEmpty` or bucket-`distinct` job runs.
  * The write reads the touched buckets and resolves latest-wins (under
  * AQE: the shuffle's map job plus the write job). At live-trigger batch
  * sizes a merge's cost is mostly per-job planning and scheduling, so
  * the job count is what matters. The staged blocks are released as soon
  * as the commit (or the failure) is done, not left to the GC.
  *
  * Durability: data files are immutable once written; the ONLY mutation
  * is the one-small-file manifest commit, which covers ALL touched
  * buckets at once — a crash leaves every reader on the previous
  * manifest, so the table is observed wholly at either generation even
  * across a multi-bucket merge (strictly stronger than a per-bucket
  * rename swap, which could commit a prefix of buckets). Valid on
  * object stores: no directory renames, no overwrites of live data —
  * the commit is one small-object move. Single-writer per table, like
  * the reference indexer; replaying a batch converges (latest-wins).
  *
  * Version ties: ON CONFLICT DO UPDATE semantics — the incoming row wins
  * (a source-precedence tie-break, so version collisions like
  * version = key are still deterministic).
  *
  * The bucket count is committed in manifest v1 BEFORE any data
  * generation is written — a caller's `nBuckets` only applies to a NEW
  * table, so two writers can never bucket the same key differently
  * (which would silently duplicate keys across buckets). A root with
  * generation dirs but no commit log is unreadable (`_commits` lost) and
  * fails loudly rather than guessing.
  */
object ParquetMergeSink {

  private val BucketCol = "__bucket"
  private val StageMetrics = "graft_merge_stage"
  private val PrefCol = "__pref"
  private[graft] val SchemaKey = "schema"
  private[graft] val PhysKey = "schema.phys"
  private[graft] val RetiredKey = "schema.retired"

  /** The manifest-declared table schema, when the table carries one.
    * Tables created via [[createEmpty]] (SQL CREATE) carry it from birth;
    * API-grown tables acquire it on their next merge commit. It is the
    * source of truth for reads the moment generations stop agreeing —
    * i.e. after `ALTER TABLE … ADD COLUMN` ([[addColumns]]): reading the
    * dirs with the declared schema makes parquet align files BY NAME and
    * null-fill columns a pre-ALTER generation never wrote (the
    * Delta/Iceberg add-column read contract, no data rewrite).
    */
  private[graft] def declaredSchema(
      m: ManifestCommit.Manifest): Option[org.apache.spark.sql.types.StructType] =
    m.entries.get(SchemaKey).map(org.apache.spark.sql.types.DataType.fromJson(_)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Nullability/metadata-normalized form for stamping into a manifest:
    * parquet reads surface everything nullable, so a stable declared
    * schema must too (otherwise the stamp would flap between commits).
    */
  private def stampable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true)))

  /** Logical→physical column-name mapping (Delta column-mapping
    * "name"-mode shape): RENAME is a metadata flip that keeps the
    * PHYSICAL name every generation was written with, and reads project
    * physical → logical, so old files keep serving their data under the
    * new name with zero rewrite. Identity entries are never stored; an
    * absent entry means the logical name IS the physical name. Keys are
    * stored with the logical name's declared case; lookups are
    * case-insensitive like every other name match in the sink.
    */
  private[graft] def physMap(m: ManifestCommit.Manifest): Map[String, String] =
    m.entries.get(PhysKey).map(parseNameMap).getOrElse(Map.empty)

  /** Physical names retired by DROP COLUMN. Old generations still carry
    * their data, so neither a later ADD COLUMN nor a rename may ever
    * claim a retired physical name — doing so would resurrect the
    * dropped values into the new column (the failure mode Delta refuses
    * drops for without column mapping). The list only grows.
    */
  private[graft] def retiredPhys(m: ManifestCommit.Manifest): Set[String] =
    m.entries.get(RetiredKey).toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty).toSet

  // One-line JSON object <-> Map[String,String]; json4s ships with Spark.
  private def renderNameMap(m: Map[String, String]): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(m))
  }
  private def parseNameMap(s: String): Map[String, String] =
    org.json4s.jackson.JsonMethods.parse(s)
      .asInstanceOf[org.json4s.JObject].obj.map { case (k, v) =>
        k -> v.asInstanceOf[org.json4s.JString].s
      }.toMap

  private def lcName(s: String) = s.toLowerCase(java.util.Locale.ROOT)

  /** Lossless type widenings the parquet readers serve WITHOUT a data
    * rewrite (probed against Spark's vectorized and row readers: a file
    * written at `from` reads back correctly when the requested schema
    * says `to`; everything else — narrowing, long→double, any string
    * conversion — fails the scan loudly with
    * PARQUET_COLUMN_DATA_TYPE_MISMATCH). This is exactly the set
    * `ALTER TABLE … ALTER COLUMN … TYPE` may declare and the set an
    * old-shape writer's batch may implicitly upcast through at the merge
    * door; it mirrors Delta's type-widening table feature:
    *
    *   - integer upcasts: byte → short → int → long
    *   - exact float upcasts: float → double, {byte,short,int} → double
    *     (every int32 is exact in an f64; long → double is LOSSY above
    *     2⁵³ and refused)
    *   - into decimal: {byte,short,int,long} → decimal(p,s) with enough
    *     integer digits (3/5/10/20) — scale-0 values rescale exactly
    *   - decimal(p,s) → decimal(p′,s′) when s′ ≥ s and p′−s′ ≥ p−s
    *   - date → timestamp_ntz (midnight, no zone reinterpretation;
    *     date → timestamp LTZ would shift by session zone and is refused)
    */
  private[graft] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(d: DataType): Option[Int] = d match {
      case ByteType => Some(3)
      case ShortType => Some(5)
      case IntegerType => Some(10)
      case LongType => Some(20)
      case _ => None
    }
    (from, to) match {
      case (f, t) if f == t => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case (f, t: DecimalType) =>
        intDigits(f).exists(d => t.precision - t.scale >= d)
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
  }

  private def physOf(map: Map[String, String], logical: String): String = {
    val byLc = map.map { case (k, v) => lcName(k) -> v }
    byLc.getOrElse(lcName(logical), logical)
  }

  /** The declared schema with physical field names — what the parquet
    * scan is asked for; files of every generation align to it by name.
    */
  private[graft] def physicalSchema(declared: org.apache.spark.sql.types.StructType,
      map: Map[String, String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(declared.fields.map(f =>
      f.copy(name = physOf(map, f.name))))

  /** Project a physical-named scan onto the logical declared shape. */
  private def toLogical(df: DataFrame,
      declared: org.apache.spark.sql.types.StructType,
      map: Map[String, String]): DataFrame =
    if (map.isEmpty) df
    else df.select(declared.fields.map(f =>
      col(physOf(map, f.name)).as(f.name)).toSeq: _*)

  /** Rename a logical-named frame to physical column names for a
    * generation write (extra non-declared columns, e.g. the bucket
    * column, pass through unchanged).
    */
  private def toPhysical(df: DataFrame,
      declared: org.apache.spark.sql.types.StructType,
      map: Map[String, String]): DataFrame =
    if (map.isEmpty) df
    else {
      val declaredLc = declared.fields.map(f => lcName(f.name)).toSet
      df.select(df.columns.map { c =>
        if (declaredLc.contains(lcName(c))) col(c).as(physOf(map, c))
        else col(c)
      }.toSeq: _*)
    }

  /** Align `df` onto the declared schema: columns match by name
    * (case-insensitive), declared-but-absent DATA columns null-fill,
    * order follows the declaration. Three things REFUSE loudly — the
    * sink never repairs a malformed batch implicitly:
    *
    *   - extra columns (widening is what `ALTER TABLE … ADD COLUMN` is
    *     for) and type mismatches that are not lossless upcasts (an
    *     incoming type inside [[widens]]' set — an old-shape writer
    *     after `ALTER COLUMN … TYPE` — upcasts implicitly; anything
    *     else casts explicitly or refuses);
    *   - a batch missing any of `required` (the merge keys + version
    *     column): null-filling a key would hash every such row into one
    *     bucket and collapse them to a single row under latest-wins, and
    *     a null version silently loses the tie-break — both are silent
    *     data loss for a malformed writer, so they fail at the door;
    *   - two incoming columns that differ only by case (`V` and `v`):
    *     the case-insensitive name match cannot pick one without
    *     silently dropping the other.
    */
  private def alignToSchema(df: DataFrame,
      declared: org.apache.spark.sql.types.StructType, what: String,
      required: Seq[String] = Nil): DataFrame = {
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val caseDups = df.schema.fields.groupBy(f => lc(f.name))
      .filter(_._2.length > 1).values.map(_.map(_.name).mkString("/"))
    require(caseDups.isEmpty,
      s"$what carries columns that differ only by case: " +
        s"${caseDups.mkString(", ")} — the by-name match cannot pick one " +
        "without silently dropping the other; rename or drop one first")
    val byName = df.schema.fields.map(f => lc(f.name) -> f).toMap
    val declaredNames = declared.fields.map(f => lc(f.name)).toSet
    val extra = df.columns.filterNot(c => declaredNames.contains(lc(c)))
    require(extra.isEmpty,
      s"$what carries columns not in the table schema: " +
        s"${extra.mkString(", ")} — run ALTER TABLE … ADD COLUMN (or " +
        "ParquetMergeSink.addColumns) first; the sink never widens a " +
        "schema implicitly")
    val missingRequired = required.filterNot(c => byName.contains(lc(c)))
    require(missingRequired.isEmpty,
      s"$what is missing the merge key/version column(s) " +
        s"${missingRequired.mkString(", ")} — only genuine data columns " +
        "(post-ADD COLUMN) null-fill; a null-filled key or version would " +
        "silently collapse or mis-order rows under latest-wins")
    val cols = declared.fields.map { f =>
      byName.get(lc(f.name)) match {
        case Some(src) if src.dataType.catalogString == f.dataType.catalogString =>
          col(src.name).as(f.name)
        case Some(src) if widens(src.dataType, f.dataType) =>
          // an old-shape writer after ALTER COLUMN … TYPE: its narrower
          // value upcasts losslessly onto the declared type — the same
          // keep-old-writers-working contract as null-filling ADD COLUMN.
          // Casting BEFORE bucketing also keeps key hashing consistent
          // (xxhash64 of int 5 ≠ xxhash64 of long 5).
          col(src.name).cast(f.dataType).as(f.name)
        case Some(src) =>
          throw new IllegalArgumentException(
            s"$what column ${f.name}: incoming type " +
              s"${src.dataType.simpleString} does not losslessly widen to " +
              s"declared ${f.dataType.simpleString} — cast explicitly; " +
              "only lossless upcasts (ALTER COLUMN TYPE's widening set) " +
              "are implicit")
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** `ALTER TABLE … ADD COLUMN` as ONE metadata-only manifest commit (no
    * data is read or rewritten — Delta/Iceberg add-column semantics): the
    * new head re-references the current generations unchanged and records
    * the widened declared schema; every reader resolving through the
    * manifest ([[read]]/[[readVersion]], the SQL catalog) null-fills the
    * new columns for pre-ALTER generations by name. Time travel to a
    * pre-ALTER version serves that manifest's OWN schema — the old shape,
    * as the protocol requires.
    *
    * Only nullable, non-duplicate, top-level columns are addable; drops,
    * renames, and type changes refuse loudly at the catalog (a lake scan
    * cannot un-write immutable files). A legacy table without a declared
    * schema adopts its current data schema as the base in the same
    * commit.
    */
  def addColumns(spark: SparkSession, path: String,
      newFields: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    guardReadable(fs, table)
    require(newFields.nonEmpty, "ADD COLUMN needs at least one column")
    val notNullable = newFields.filterNot(_.nullable).map(_.name)
    require(notNullable.isEmpty,
      s"ADD COLUMN ${notNullable.mkString(", ")}: added columns must be " +
        "nullable — existing generations cannot supply a value for them")
    val m = ManifestCommit.latest(fs, table).getOrElse(
      throw new IllegalStateException(
        s"$path has no committed merge-sink table to alter"))
    // merge-sink bucket layouts only: maintained/partitioned tables read
    // through TableMaintenance, which resolves schema from data — an
    // ALTER there would record a declaration nothing honors (and a
    // DV-carrying table's delete epoch must compact before its shape
    // changes). Refuse loudly rather than half-evolve.
    val nonBucket = m.dirs.keys.filterNot(_.forall(_.isDigit))
    require(nonBucket.isEmpty,
      s"$path is not a merge-sink bucket layout (entries: " +
        s"${nonBucket.take(3).mkString(", ")}…) — ADD COLUMN serves " +
        "merge-sink tables; rewrite maintained layouts through " +
        "TableMaintenance")
    val base = declaredSchema(m).getOrElse(stampable(read(spark, path).schema))
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val existing = base.fields.map(f => lc(f.name)).toSet
    val dup = newFields.map(f => lc(f.name))
      .filter(n => existing.contains(n)) ++
      newFields.groupBy(f => lc(f.name)).filter(_._2.size > 1).keys
    require(dup.isEmpty,
      s"ADD COLUMN ${dup.distinct.mkString(", ")}: column already exists")
    val widened = org.apache.spark.sql.types.StructType(
      base.fields ++ newFields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, f.dataType, nullable = true)))
    // Physical-name assignment: a new column normally keeps its own name,
    // but a name some generation may already carry data under — a DROPPED
    // column's retired physical name, or a physical name a rename left
    // behind — gets a FRESH suffixed physical name instead, so old files
    // can never resurrect their values into the new column.
    val pmap = physMap(m)
    var usedLc = base.fields.map(f => lc(physOf(pmap, f.name))).toSet ++
      retiredPhys(m).map(lc)
    val newEntries = newFields.flatMap { f =>
      if (!usedLc.contains(lc(f.name))) { usedLc += lc(f.name); None }
      else {
        val fresh = Iterator.from(2).map(i => s"${f.name}__$i")
          .find(c => !usedLc.contains(lc(c))).get
        usedLc += lc(fresh)
        Some(f.name -> fresh)
      }
    }
    val newMap = pmap ++ newEntries
    ManifestCommit.commit(fs, table,
      (m.entries - "txid" - PhysKey) ++
        Map(SchemaKey -> widened.json) ++
        (if (newMap.nonEmpty) Map(PhysKey -> renderNameMap(newMap)) else Map.empty))
    ManifestCommit.vacuum(fs, table, keep = 2)
  }

  /** `ALTER TABLE … DROP COLUMN` as ONE metadata-only manifest commit —
    * the narrowed declared schema stops reads from ever requesting the
    * column; no file is rewritten (Delta column-mapping drop semantics).
    * The dropped column's PHYSICAL name is RETIRED in the manifest: old
    * generations still carry its values, so a later ADD COLUMN of the
    * same name is given a fresh physical name and starts null — dropped
    * data never resurrects. Time travel to a pre-DROP version serves the
    * old shape, values intact. Merge keys and the version column are not
    * droppable (they are the table's write contract); a batch still
    * carrying the dropped column refuses at the door like any other
    * undeclared column.
    */
  def dropColumns(spark: SparkSession, path: String,
      names: Seq[String]): Unit = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    guardReadable(fs, table)
    require(names.nonEmpty, "DROP COLUMN needs at least one column")
    val m = ManifestCommit.latest(fs, table).getOrElse(
      throw new IllegalStateException(
        s"$path has no committed merge-sink table to alter"))
    val nonBucket = m.dirs.keys.filterNot(_.forall(_.isDigit))
    require(nonBucket.isEmpty,
      s"$path is not a merge-sink bucket layout (entries: " +
        s"${nonBucket.take(3).mkString(", ")}…) — DROP COLUMN serves " +
        "merge-sink tables; rewrite maintained layouts through " +
        "TableMaintenance")
    val base = declaredSchema(m).getOrElse(stampable(read(spark, path).schema))
    val baseLc = base.fields.map(f => lcName(f.name)).toSet
    val missing = names.filterNot(n => baseLc.contains(lcName(n)))
    require(missing.isEmpty,
      s"DROP COLUMN ${missing.mkString(", ")}: no such column " +
        s"(table has ${base.fieldNames.mkString(", ")})")
    val dropLc = names.map(lcName).toSet
    val contract = (m.entries.get("merge.keys").toSeq.flatMap(_.split(",")) ++
      m.entries.get("merge.version")).map(_.trim).filter(_.nonEmpty)
    val protectedHit = contract.filter(c => dropLc.contains(lcName(c)))
    require(protectedHit.isEmpty,
      s"DROP COLUMN ${protectedHit.mkString(", ")}: merge key/version " +
        "columns are the table's write contract and cannot be dropped")
    val remaining = base.fields.filterNot(f => dropLc.contains(lcName(f.name)))
    require(remaining.nonEmpty, "DROP COLUMN would leave the table empty")
    val pmap = physMap(m)
    val retired = retiredPhys(m) ++
      base.fields.filter(f => dropLc.contains(lcName(f.name)))
        .map(f => physOf(pmap, f.name))
    val newMap = pmap.filterNot { case (k, _) => dropLc.contains(lcName(k)) }
    ManifestCommit.commit(fs, table,
      (m.entries - "txid" - PhysKey) ++
        Map(SchemaKey -> org.apache.spark.sql.types.StructType(remaining).json,
          RetiredKey -> retired.toSeq.sorted.mkString(",")) ++
        (if (newMap.nonEmpty) Map(PhysKey -> renderNameMap(newMap)) else Map.empty))
    ManifestCommit.vacuum(fs, table, keep = 2)
  }

  /** `ALTER TABLE … RENAME COLUMN` as ONE metadata-only manifest commit:
    * the declared schema takes the new logical name while the PHYSICAL
    * name — the name every generation's files were written with — stays
    * what it was, recorded in the manifest's logical→physical map. Reads
    * scan physical and project to logical, so existing data serves under
    * the new name immediately, and generations written after the rename
    * use the SAME physical name, keeping one file schema forever (Delta
    * column-mapping "name" mode; Iceberg gets the same effect from field
    * ids). Renaming a merge key or the version column updates the write
    * contract entries in the same atomic commit. Time travel to a
    * pre-RENAME version serves the old name. An old writer still sending
    * the old name refuses at the door (undeclared column) — exactly
    * Delta's behavior after a rename.
    */
  def renameColumn(spark: SparkSession, path: String,
      from: String, to: String): Unit = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    guardReadable(fs, table)
    val m = ManifestCommit.latest(fs, table).getOrElse(
      throw new IllegalStateException(
        s"$path has no committed merge-sink table to alter"))
    val nonBucket = m.dirs.keys.filterNot(_.forall(_.isDigit))
    require(nonBucket.isEmpty,
      s"$path is not a merge-sink bucket layout (entries: " +
        s"${nonBucket.take(3).mkString(", ")}…) — RENAME COLUMN serves " +
        "merge-sink tables; rewrite maintained layouts through " +
        "TableMaintenance")
    val base = declaredSchema(m).getOrElse(stampable(read(spark, path).schema))
    require(base.fields.exists(f => lcName(f.name) == lcName(from)),
      s"RENAME COLUMN $from: no such column " +
        s"(table has ${base.fieldNames.mkString(", ")})")
    require(!base.fields.exists(f => lcName(f.name) == lcName(to)),
      s"RENAME COLUMN $from TO $to: column $to already exists")
    val pmap = physMap(m)
    val phys = physOf(pmap, from)
    val renamed = org.apache.spark.sql.types.StructType(base.fields.map(f =>
      if (lcName(f.name) == lcName(from)) f.copy(name = to) else f))
    val newMap = pmap.filterNot { case (k, _) => lcName(k) == lcName(from) } ++
      (if (lcName(to) == lcName(phys)) Map.empty[String, String]
       else Map(to -> phys))
    // the write contract follows the logical name atomically
    val contractEntries = Seq("merge.keys", "merge.version").flatMap { k =>
      m.entries.get(k).map { v =>
        k -> v.split(",").map(_.trim).map(c =>
          if (lcName(c) == lcName(from)) to else c).mkString(",")
      }
    }
    ManifestCommit.commit(fs, table,
      (m.entries - "txid" - PhysKey) ++
        Map(SchemaKey -> renamed.json) ++ contractEntries ++
        (if (newMap.nonEmpty) Map(PhysKey -> renderNameMap(newMap)) else Map.empty))
    ManifestCommit.vacuum(fs, table, keep = 2)
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE t` as ONE metadata-only manifest
    * commit, allowed ONLY for the lossless widenings in [[widens]] (the
    * Delta type-widening set): the declared schema takes the wider type
    * and every reader asks parquet for it — Spark's readers upcast old
    * generations' narrower physical values at scan time, so no file is
    * rewritten and generations written before and after the ALTER read
    * together. Narrowing and lossy conversions (long → double, anything
    * → string) refuse: committed immutable files cannot change physical
    * type, and the readers fail such scans loudly anyway.
    *
    * MERGE KEYS are not widenable: bucket routing hashes the key's typed
    * value (xxhash64 of int 5 ≠ xxhash64 of long 5), so a widened key
    * would route existing keys to different buckets — silent duplication.
    * Compact to a fresh table to re-type a key. The version column and
    * data columns widen freely (version ordering is value-order, which
    * every widening preserves). Time travel to a pre-ALTER version
    * serves the old (narrow) type; an old-shape writer still sending the
    * narrow type keeps merging — the door upcasts it losslessly
    * ([[alignToSchema]]).
    */
  def widenColumnType(spark: SparkSession, path: String,
      name: String, newType: org.apache.spark.sql.types.DataType): Unit = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    guardReadable(fs, table)
    val m = ManifestCommit.latest(fs, table).getOrElse(
      throw new IllegalStateException(
        s"$path has no committed merge-sink table to alter"))
    val nonBucket = m.dirs.keys.filterNot(_.forall(_.isDigit))
    require(nonBucket.isEmpty,
      s"$path is not a merge-sink bucket layout (entries: " +
        s"${nonBucket.take(3).mkString(", ")}…) — ALTER COLUMN TYPE " +
        "serves merge-sink tables; rewrite maintained layouts through " +
        "TableMaintenance")
    val base = declaredSchema(m).getOrElse(stampable(read(spark, path).schema))
    val field = base.fields.find(f => lcName(f.name) == lcName(name))
      .getOrElse(throw new IllegalArgumentException(
        s"ALTER COLUMN $name: no such column " +
          s"(table has ${base.fieldNames.mkString(", ")})"))
    // Idempotence: re-running an already-applied ALTER (replayed migration
    // scripts) declares the type the column already has — a no-op, not a
    // "not a lossless widening" refusal (Delta's same-type ALTER behavior).
    if (field.dataType == newType) return
    val keys = m.entries.get("merge.keys").toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty)
    require(!keys.exists(k => lcName(k) == lcName(name)),
      s"ALTER COLUMN $name TYPE: $name is a merge key — bucket routing " +
        "hashes the typed key value, so widening it would re-route " +
        "existing keys (silent duplication); compact into a fresh table " +
        "to re-type a key")
    require(widens(field.dataType, newType),
      s"ALTER COLUMN $name TYPE ${newType.simpleString}: not a lossless " +
        s"widening of ${field.dataType.simpleString} — committed immutable " +
        "files cannot change physical type; only the parquet-reader " +
        "upcast set (byte→short→int→long, float→double, int→double, " +
        "int/long→decimal, decimal precision growth, date→timestamp_ntz) " +
        "is declarable")
    val widened = org.apache.spark.sql.types.StructType(base.fields.map(f =>
      if (lcName(f.name) == lcName(name)) f.copy(dataType = newType) else f))
    ManifestCommit.commit(fs, table,
      (m.entries - "txid") ++ Map(SchemaKey -> widened.json))
    ManifestCommit.vacuum(fs, table, keep = 2)
  }

  private def fsFor(spark: SparkSession, p: Path): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    p.getFileSystem(if (conf != null) conf else new Configuration())
  }

  private def bucketExpr(keys: Seq[String], buckets: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(buckets)).cast("int")

  private def guardReadable(fs: FileSystem, table: Path): Unit =
    if (ManifestCommit.orphanedGenerations(fs, table))
      throw new IllegalStateException(
        s"$table has generation dirs but no ${ManifestCommit.CommitDir} " +
          "log: bucket layout unknowable; refusing to guess (re-bucketing " +
          "would silently duplicate keys). Restore the commit log.")

  private val LegacyMarker = ".graft-buckets"

  /** A pre-protocol table (top-level `__bucket=N` dirs + `.graft-buckets`
    * marker, the layout this sink wrote before the manifest commit):
    * synthesized as a virtual manifest so reads serve it unchanged and
    * the first merge commits it as v1. Bucket dirs WITHOUT the marker
    * are the same unknowable state the marker always guarded against —
    * fail loudly rather than re-bucket.
    */
  private def legacyLayout(fs: FileSystem, table: Path): Option[Map[String, String]] = {
    if (!fs.exists(table)) return None
    val bucketDirs = fs.listStatus(table)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$BucketCol="))
    if (bucketDirs.isEmpty) return None
    val marker = new Path(table, LegacyMarker)
    if (!fs.exists(marker))
      throw new IllegalStateException(
        s"$table has $BucketCol= dirs but neither a manifest nor a " +
          s"$LegacyMarker marker: bucket count unknowable; refusing to " +
          "guess (re-bucketing would silently duplicate keys).")
    val in = fs.open(marker)
    val buckets = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt finally in.close()
    Some(Map("buckets" -> buckets.toString) ++ bucketDirs.map { d =>
      val name = d.getPath.getName
      s"dir.${name.stripPrefix(s"$BucketCol=")}" -> name
    })
  }

  /** The committed table as a DataFrame, or None before the first merge
    * lands data. Reads exactly the bucket dirs the current manifest
    * references.
    */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    guardReadable(fs, table)
    ManifestCommit.latest(fs, table)
      .map(m => (m.dirs, declaredSchema(m), physMap(m)))
      .orElse(legacyLayout(fs, table).map(e =>
        (ManifestCommit.Manifest(0L, e).dirs, None, Map.empty[String, String])))
      .flatMap { case (dirMap, declared, pmap) =>
        val dirs = dirMap.values.toSeq.sorted.map(rel => new Path(table, rel).toString)
        if (dirs.isEmpty) None
        else Some {
          val scan = declared.fold(spark.read)(d =>
            spark.read.schema(physicalSchema(d, pmap))).parquet(dirs: _*)
          declared.fold(scan)(d => toLogical(scan, d, pmap))
        }
      }
  }

  def read(spark: SparkSession, path: String): DataFrame =
    readIfExists(spark, path).getOrElse(throw new IllegalStateException(
      s"$path has no committed merge-sink data"))

  /** The table as of a RETAINED manifest version — time travel for
    * audits and incident forensics ("what did the upsert state look like
    * before batch N?"), free under the generation-log commit protocol:
    * an old manifest still names its immutable bucket dirs, so reading
    * it is exactly [[read]] against that manifest. Only versions vacuum
    * retains are addressable (the merge path keeps 2); the error lists
    * what is. Paired with [[ManifestCommit.rollback]], which re-commits
    * an old version's entries as the new head without deleting history.
    */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    guardReadable(fs, table)
    val m = ManifestCommit.at(fs, table, version).getOrElse(
      throw new IllegalArgumentException(
        s"version $version of $path is not retained — retained: " +
          ManifestCommit.committed(fs, table).map(_.version).mkString(", ")))
    val dirs = m.dirs.values.toSeq.sorted.map(rel => new Path(table, rel).toString)
    require(dirs.nonEmpty, s"version $version of $path references no data dirs")
    // That manifest's OWN schema AND name mapping (pre-ALTER versions
    // keep the old shape; pre-RENAME versions keep the old names).
    val pmap = physMap(m)
    declaredSchema(m) match {
      case None => spark.read.parquet(dirs: _*)
      case Some(d) => toLogical(
        spark.read.schema(physicalSchema(d, pmap)).parquet(dirs: _*), d, pmap)
    }
  }

  /** An EMPTY merge-sink table whose schema and write contract are
    * committed before any data: generation 1 holds a single ZERO-ROW
    * parquet file in bucket 0 (the schema lives in its footer, so every
    * reader — API or catalog — resolves columns without special-casing
    * emptiness), and manifest v1 records `merge.keys`/`merge.version`/
    * `buckets`, making the table immediately writable through every SQL
    * and API write path. This is `CREATE TABLE`'s protocol (the
    * reference gets it from PostgreSQL DDL, db.go's migrations); the
    * seed bucket behaves like any committed generation dir — the first
    * merge touching bucket 0 supersedes it, untouched it carries
    * forward as 0 rows.
    *
    * Refuses an existing table (CREATE is not idempotent-overwrite) and
    * key/version columns absent from the schema — the write contract
    * must be satisfiable or every later INSERT would fail at a distance.
    */
  def createEmpty(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType, keys: Seq[String],
      version: String, nBuckets: Int = 16): Unit = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    require(ManifestCommit.latest(fs, table).isEmpty &&
        legacyLayout(fs, table).isEmpty,
      s"$path already holds a committed table — createEmpty refuses to " +
        "redefine it (merge into it, or remove it first)")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val cols = schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val missing = (keys :+ version)
      .filterNot(c => cols.contains(c.toLowerCase(java.util.Locale.ROOT)))
    require(missing.isEmpty,
      s"key/version columns ${missing.mkString(", ")} are not in the " +
        s"schema (${schema.fieldNames.mkString(", ")})")

    val gen = ManifestCommit.newGeneration(1)
    val seedDir = new Path(new Path(table, gen), s"$BucketCol=0")
    val tmp = new Path(table, s"_seed_${java.util.UUID.randomUUID()}")
    // A zero-row single-partition write still emits one part file with
    // the schema in its footer (FileFormatWriter's empty-task file).
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .repartition(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val schemaEntry = SchemaKey -> stampable(schema).json
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"empty seed write for $path produced no parquet part file"))
    fs.mkdirs(seedDir)
    require(fs.rename(part, new Path(seedDir, part.getName)),
      s"rename $part -> $seedDir failed")
    fs.delete(tmp, true)
    ManifestCommit.commit(fs, table, Map(
      "buckets" -> nBuckets.toString,
      "dir.0" -> s"$gen/$BucketCol=0",
      schemaEntry) ++ writeMeta(keys, version))
  }

  /** Table creation commits the bucket count FIRST, before any data
    * generation exists: a crash mid-first-merge leaves a committed count,
    * so a later merge (even with a different requested nBuckets) reads
    * the committed layout instead of silently re-bucketing keys. A
    * pre-protocol table migrates here: its marker count and existing
    * bucket dirs become manifest v1, so the first post-upgrade merge
    * reads the legacy rows instead of silently starting an empty table
    * beside them.
    */
  private def ensureManifest(fs: FileSystem, table: Path,
      nBuckets: Int): ManifestCommit.Manifest =
    ManifestCommit.latest(fs, table).getOrElse {
      fs.mkdirs(table)
      val entries = legacyLayout(fs, table)
        .getOrElse(Map("buckets" -> nBuckets.toString))
      val v = ManifestCommit.commit(fs, table, entries)
      ManifestCommit.Manifest(v, entries)
    }

  /** The shared commit tail: flip the manifest to `entries`, then reclaim
    * generations (and migrated legacy bucket dirs) no retained manifest
    * references. keep=2: the previous manifest's generations survive one
    * more commit for in-flight readers.
    */
  private def finishCommit(fs: FileSystem, table: Path,
      entries: Map[String, String]): Unit = {
    ManifestCommit.commit(fs, table, entries)
    ManifestCommit.vacuum(fs, table, keep = 2)
    val stillReferenced = ManifestCommit.committed(fs, table).takeRight(2)
      .flatMap(_.dirs.values).filter(!_.contains("/")).toSet
    fs.listStatus(table).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(s"$BucketCol=") &&
          !stillReferenced.contains(name))
        fs.delete(st.getPath, true)
    }
  }

  /** One batch staged for its write: `frame` is the aligned batch with
    * the bucket column, materialized behind a [[graft.Tables.barrier]];
    * `touched` and `rows` were observed by that same job.
    */
  private final case class Staged(frame: DataFrame, touched: Seq[Int],
      rows: Long, buckets: Int,
      committed: Option[ManifestCommit.Manifest])

  /** The shared front of [[merge]] and [[mergeActions]]: ONE Spark job.
    *
    * Reads the committed manifest (or a legacy layout's synthesized one)
    * WITHOUT creating anything, so the bucket count and declared schema
    * are known before the batch is touched; `shape` aligns the batch to
    * them. The bucket column is added, and a `Dataset.observe` of the
    * touched-bucket set and the row count rides on the barrier's
    * materializing job — the rows, the bucket list and emptiness all come
    * from that one pass over the batch's lineage.
    */
  private def stage(fs: FileSystem, table: Path, keys: Seq[String],
      nBuckets: Int)(shape: Option[ManifestCommit.Manifest] => DataFrame): Staged = {
    val committed = ManifestCommit.latest(fs, table)
    val known = committed.orElse(
      legacyLayout(fs, table).map(ManifestCommit.Manifest(0L, _)))
    val buckets = known.fold(nBuckets)(_.entries("buckets").toInt)
    val (frame, ran) = graft.Tables.materializedBarrier(shape(known)
      .withColumn(BucketCol, bucketExpr(keys, buckets))
      .observe(StageMetrics, collect_set(col(BucketCol)), count(lit(1))))
    val seen = ran.observedMetrics(StageMetrics)
    Staged(frame, seen.getSeq[Int](0).sorted, seen.getLong(1), buckets, committed)
  }

  /** The manifest a non-empty staged batch commits against: the one it
    * was staged on, or — for a new or legacy table — manifest v1, created
    * only now that the batch is known to carry rows.
    */
  private def manifestFor(fs: FileSystem, table: Path,
      staged: Staged): ManifestCommit.Manifest =
    staged.committed.getOrElse {
      val m = ensureManifest(fs, table, staged.buckets)
      require(m.entries("buckets").toInt == staged.buckets,
        s"$table was created with ${m.entries("buckets")} buckets while a " +
          s"batch was being staged for ${staged.buckets} — single writer " +
          "per table; retry the merge")
      m
    }

  /** Latest-wins upsert of `batch` into the table at `path`; returns the
    * number of batch rows staged (0 = an empty batch, which changes
    * nothing and creates no table).
    *
    * Emptiness is only known once the staging job has run, so the
    * batch's shape is checked first: an EMPTY batch whose columns do not
    * fit an existing table's declared schema is refused like a full one,
    * not skipped.
    */
  def merge(batch: DataFrame, path: String, keys: Seq[String], version: String,
      nBuckets: Int = 16): Long = {
    val spark = batch.sparkSession
    val table = new Path(path)
    val fs = fsFor(spark, table)
    guardReadable(fs, table)
    // A declared schema (SQL-created, or stamped by a prior merge) is the
    // write contract: the batch aligns onto it — null-fill for columns an
    // old writer doesn't know yet (post-ADD COLUMN), loud refusal for
    // columns the table doesn't have.
    val staged = stage(fs, table, keys, nBuckets)(known =>
      known.flatMap(declaredSchema).fold(batch)(d =>
        alignToSchema(batch, d, s"merge batch into $path",
          required = keys :+ version)))
    try {
      // Emptiness is known BEFORE any manifest is created: a no-op batch
      // against a nonexistent path leaves the filesystem untouched.
      if (staged.rows > 0) upsertStaged(fs, table, staged, keys, version)
      staged.rows
    } finally graft.Tables.release(staged.frame)
  }

  private def upsertStaged(fs: FileSystem, table: Path, staged: Staged,
      keys: Seq[String], version: String): Unit = {
    val spark = staged.frame.sparkSession
    val manifest = manifestFor(fs, table, staged)
    val buckets = staged.buckets
    val touched = staged.touched
    val declared = declaredSchema(manifest)
    val pmap = physMap(manifest)
    // incoming outranks current on version ties
    val batchB = staged.frame.withColumn(PrefCol, lit(1))

    // Current rows of ONLY the touched buckets: explicit dir reads from
    // the manifest (partition pruning by construction — untouched bucket
    // dirs never enter the scan). The bucket column is not stored in the
    // files; it is recomputed from the keys, which is deterministic.
    val dirMap = manifest.dirs
    val currentDirs = touched.flatMap(b => dirMap.get(b.toString))
      .map(rel => new Path(table, rel).toString)
    val current =
      if (currentDirs.nonEmpty)
        Some({
          val scan = declared.fold(spark.read)(d =>
            spark.read.schema(physicalSchema(d, pmap))).parquet(currentDirs: _*)
          declared.fold(scan)(d => toLogical(scan, d, pmap))
        }
          .withColumn(BucketCol, bucketExpr(keys, buckets))
          .withColumn(PrefCol, lit(0)))
      else None

    val merged = Upsert.latestWins(
        current.fold(batchB)(_.unionByName(batchB)),
        keys, col(version), col(PrefCol))
      .drop(PrefCol)

    // New immutable generation holding the touched buckets' merged rows;
    // nothing live is overwritten, so a crash before the commit below is
    // invisible to readers (the orphan dir is vacuumed later). Files are
    // written under PHYSICAL column names — renamed columns keep the name
    // they were born with, so every generation shares one file schema.
    val gen = ManifestCommit.newGeneration(manifest.version + 1)
    declared.fold(merged)(d => toPhysical(merged, d, pmap))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol).parquet(new Path(table, gen).toString)

    val updated = touched.flatMap { b =>
      val part = s"$BucketCol=$b"
      if (fs.exists(new Path(new Path(table, gen), part)))
        Some(s"dir.$b" -> s"$gen/$part")
      else
        // a touched bucket can produce no output only when neither the
        // batch nor the current bucket had non-null-keyed rows — carry
        // the old entry (if any) forward unchanged
        dirMap.get(b.toString).map(rel => s"dir.$b" -> rel)
    }
    val carried = manifest.entries.filter { case (k, _) =>
      !k.startsWith("dir.") || !touched.contains(k.stripPrefix("dir.").toInt)
    }
    // Stamp the declared schema (or, first time, the batch-derived one):
    // pre-existing tables acquire the entry on their next merge, which is
    // what makes ALTER TABLE available to API-grown tables too.
    val schemaEntry = SchemaKey -> declared.getOrElse(
      stampable(org.apache.spark.sql.types.StructType(
        merged.schema.fields.filterNot(_.name == BucketCol)))).json
    finishCommit(fs, table,
      carried ++ updated ++ writeMeta(keys, version) + schemaEntry)
  }

  /** Write-config metadata stamped into every merge commit: the key and
    * version columns ARE the table's write contract, and recording them
    * in the manifest lets the SQL catalog route `INSERT INTO graft.t`
    * through this same idempotent merge without out-of-band config
    * ([[graft.sources.GraftCatalog]]). Re-stamped on each commit, so
    * pre-existing tables acquire it on their next API merge.
    */
  private def writeMeta(keys: Seq[String], version: String): Map[String, String] =
    Map("merge.keys" -> keys.mkString(","), "merge.version" -> version)

  private val DelCol = "__del"

  /** MERGE INTO-shaped multi-action merge — ONE commit that applies all
    * three classic actions against the managed table:
    *
    *   - WHEN MATCHED AND deleteWhen   THEN DELETE
    *   - WHEN MATCHED                  THEN UPDATE (source row wins)
    *   - WHEN NOT MATCHED AND ¬deleteWhen THEN INSERT
    *
    * (a delete-marked row whose key is absent is a no-op, per SQL MERGE).
    * `deleteWhen` is evaluated over SOURCE columns — the source carries
    * the verdict, e.g. a CDC stream's op column or a GDPR erasure list
    * joined in upstream. Duplicate source keys resolve latest-wins on
    * `version` BEFORE actions apply, so the winning row's action decides.
    *
    * Schema: inserted/updated rows are PROJECTED onto the table's
    * columns (Delta's `UPDATE SET * / INSERT *` with target columns) —
    * source-only columns such as a CDC op flag feed the predicate and
    * are never stored. The source must carry the keys + version and
    * every pre-ALTER column; declared columns the source predates
    * (post-`ADD COLUMN`) are CARRIED OVER from the current row on
    * matched updates and null-filled on inserts — an old-shape CDC
    * writer never nulls out a value it has not learned about. A
    * brand-new table derives its schema from the source MINUS the
    * delete predicate's referenced columns (keys/version always kept),
    * so create-via-mergeActions and merge-into-existing store the same
    * columns; pass `targetCols` to declare the schema explicitly when
    * the predicate reads genuine data columns.
    *
    * Semantics vs [[merge]]: MERGE gives the source precedence on match
    * (`UPDATE SET` overwrites unconditionally); `version` only orders
    * rows WITHIN the batch. Replay is idempotent: re-running the same
    * batch re-updates to identical rows and re-deletes absent keys
    * (no-ops), converging to the same table.
    *
    * Crash atomicity: delete + update + insert land as ONE new immutable
    * generation for the touched buckets and ONE manifest flip — there is
    * no window where a reader can observe the deletes without the
    * inserts (the failure mode of running deleteWhere + merge as two
    * commits). A crash before the flip leaves readers on the previous
    * manifest; the orphan generation is vacuumed by the next commit.
    * A bucket whose rows are ALL deleted drops out of the manifest
    * entirely (its entry is removed, not carried).
    *
    * Scale shape is [[merge]]'s: cost O(batch + touched buckets), never
    * O(table); untouched bucket entries carry forward byte-identical.
    * As in [[merge]], an empty source is refused when its types do not
    * fit the existing table's, and is a no-op otherwise.
    */
  def mergeActions(source: DataFrame, path: String, keys: Seq[String],
      version: String, deleteWhen: Column, nBuckets: Int = 16,
      targetCols: Seq[String] = Nil): Unit = {
    val spark = source.sparkSession
    val table = new Path(path)
    val fs = fsFor(spark, table)
    guardReadable(fs, table)
    // Same front-door contract as merge(): the source must actually carry
    // the key/version columns (never null-fill them) and must not carry
    // case-duplicate names the by-name projection would silently collapse.
    def srcLc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val srcCaseDups = source.columns.groupBy(srcLc)
      .filter(_._2.length > 1).values.map(_.mkString("/"))
    require(srcCaseDups.isEmpty,
      s"mergeActions source for $path carries columns that differ only " +
        s"by case: ${srcCaseDups.mkString(", ")} — rename or drop one first")
    val srcCols = source.columns.map(srcLc).toSet
    val srcMissing = (keys :+ version).filterNot(c => srcCols.contains(srcLc(c)))
    require(srcMissing.isEmpty,
      s"mergeActions source for $path is missing the merge key/version " +
        s"column(s) ${srcMissing.mkString(", ")}")
    // table columns BEFORE this commit: align the stored projection.
    // On the CREATE path there is no existing schema to project onto, so
    // columns referenced only by the delete predicate (a CDC op flag)
    // would otherwise be adopted INTO the new table's schema — drifting
    // it from what merge-into-existing would store. Default: drop
    // deleteWhen's referenced columns unless they are keys/version; a
    // caller whose predicate reads genuine data columns passes
    // `targetCols` explicitly (Delta's target-schema declaration).
    // the declared-shaped schema when the table exists: the action
    // projection null-fills declared columns the source predates (a CDC
    // writer that has not learned a post-ALTER column yet).
    val tableSchema: Option[org.apache.spark.sql.types.StructType] =
      readIfExists(spark, path).map(_.schema)
    // lazy: an empty batch returns without validating targetCols
    lazy val tableCols: Seq[String] = tableSchema
      .map(_.fieldNames.toSeq)
      .orElse(Some(targetCols).filter(_.nonEmpty).map { tc =>
        val missing = (keys :+ version).filterNot(tc.contains) ++
          tc.filterNot(source.columns.contains)
        require(missing.isEmpty,
          s"targetCols must cover keys+version and be drawn from the " +
            s"source columns; offending: ${missing.mkString(", ")}")
        tc
      })
      .getOrElse {
        // collect column names from the (typically unresolved) predicate
        // tree — UnresolvedAttribute leaves have an empty `references`
        val delRefs = org.apache.spark.sql.GraftBridge
          .catalystExpression(deleteWhen).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.name
            case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
          }.toSet
        source.columns.toSeq.filterNot(c =>
          delRefs.contains(c) && !keys.contains(c) && c != version)
      }
    // Normalize overlapping source columns onto the DECLARED types before
    // anything hashes or stores them: bucket routing hashes the typed key
    // value, so an un-cast narrower key (an old-shape writer after ALTER
    // COLUMN TYPE — or a writer that simply sends int where the table
    // declares long) would route to the wrong bucket and silently
    // duplicate the key across buckets. Lossless widenings upcast; any
    // other mismatch refuses at the door. Source-only columns (the CDC
    // op flag) pass through untouched.
    val typed = tableSchema match {
      case Some(ts) =>
        val byLc = ts.fields.map(f => srcLc(f.name) -> f).toMap
        source.select(source.schema.fields.map { sf =>
          byLc.get(srcLc(sf.name)) match {
            case Some(tf)
                if sf.dataType.catalogString == tf.dataType.catalogString =>
              col(sf.name)
            case Some(tf) if widens(sf.dataType, tf.dataType) =>
              col(sf.name).cast(tf.dataType).as(sf.name)
            case Some(tf) => throw new IllegalArgumentException(
              s"mergeActions source for $path column ${sf.name}: incoming " +
                s"type ${sf.dataType.simpleString} does not losslessly " +
                s"widen to declared ${tf.dataType.simpleString} — cast " +
                "explicitly; only lossless upcasts are implicit")
            case None => col(sf.name)
          }
        }.toSeq: _*)
      case None => source
    }
    val staged = stage(fs, table, keys, nBuckets)(_ =>
      typed.withColumn(DelCol, coalesce(deleteWhen.cast("boolean"), lit(false))))
    try {
      // Emptiness is known BEFORE any manifest is created: a no-op batch
      // against a nonexistent path leaves the filesystem untouched.
      if (staged.rows > 0) {
        // intra-batch resolution first: one surviving row per source key,
        // so the WINNING row's delete/update verdict is what applies
        val resolved = Upsert.latestWins(staged.frame, keys, col(version)).barrier()
        try applyActions(fs, table, staged, resolved, keys, version,
          tableSchema, tableCols)
        finally graft.Tables.release(resolved)
      }
    } finally graft.Tables.release(staged.frame)
  }

  private def applyActions(fs: FileSystem, table: Path, staged: Staged,
      resolved: DataFrame, keys: Seq[String], version: String,
      tableSchema: Option[org.apache.spark.sql.types.StructType],
      tableCols: Seq[String]): Unit = {
    val spark = resolved.sparkSession
    val manifest = manifestFor(fs, table, staged)
    val buckets = staged.buckets
    val touched = staged.touched

    val dirMap = manifest.dirs
    val currentDirs = touched.flatMap(b => dirMap.get(b.toString))
      .map(rel => new Path(table, rel).toString)
    val declared = declaredSchema(manifest)
    val pmap = physMap(manifest)
    val current = currentDirs match {
      case Seq() => None
      case dirs => Some({
        val scan = declared.fold(spark.read)(d =>
          spark.read.schema(physicalSchema(d, pmap))).parquet(dirs: _*)
        declared.fold(scan)(d => toLogical(scan, d, pmap))
      }.withColumn(BucketCol, bucketExpr(keys, buckets)))
    }

    // survivors = current rows whose key the source does not touch
    //           ∪ source rows not marked for delete
    // matched+delete: current dropped by the anti join, source filtered out;
    // matched+update: current dropped, source row inserted;
    // unmatched+insert: source row inserted; unmatched+delete: no-op.
    val sourceKeys = resolved.select(keys.map(col): _*)
    val presentLc = resolved.columns
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    // Declared columns the source predates (a CDC writer that has not
    // learned a post-ALTER column yet): a matched UPDATE must NOT
    // overwrite the current row's value with null, so those columns are
    // carried over FROM the current row by key (Delta's UPDATE SET *
    // refuses this shape outright; carrying the value is strictly
    // lossless and keeps old-shape CDC writers working across an ALTER).
    // Unmatched inserts get null — the ADD COLUMN read contract. The
    // key-join touches only the already-read touched buckets.
    val absentFields = tableSchema
      .map(_.fields.toSeq.filterNot(f =>
        presentLc.contains(f.name.toLowerCase(java.util.Locale.ROOT))))
      .getOrElse(Nil)
    val CurPrefix = "__cur_"
    val enriched = current match {
      case Some(cur) if absentFields.nonEmpty =>
        val curVals = cur.select(
          keys.map(col) ++
            absentFields.map(f => col(f.name).as(CurPrefix + f.name)): _*)
        resolved.join(curVals, keys, "left")
      case _ => resolved
    }
    val carriedLc = (if (current.isDefined) absentFields else Nil)
      .map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet
    val appliedCols: Seq[Column] = tableSchema match {
      case Some(ts) => ts.fields.toSeq.map { f =>
        val fLc = f.name.toLowerCase(java.util.Locale.ROOT)
        if (presentLc.contains(fLc)) col(f.name)
        else if (carriedLc.contains(fLc)) col(CurPrefix + f.name).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      case None => tableCols.map(col)
    }
    val applied = enriched.filter(!col(DelCol))
      .select(appliedCols :+ col(BucketCol): _*)
    val merged = current
      .map(_.join(sourceKeys, keys, "left_anti").unionByName(applied))
      .getOrElse(applied)

    val gen = ManifestCommit.newGeneration(manifest.version + 1)
    declared.fold(merged)(d => toPhysical(merged, d, pmap))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol).parquet(new Path(table, gen).toString)

    val updated = touched.flatMap { b =>
      val part = s"$BucketCol=$b"
      // no output for a touched bucket = every row deleted → entry REMOVED
      if (fs.exists(new Path(new Path(table, gen), part)))
        Some(s"dir.$b" -> s"$gen/$part")
      else None
    }
    val carried = manifest.entries.filter { case (k, _) =>
      !k.startsWith("dir.") || !touched.contains(k.stripPrefix("dir.").toInt)
    }
    val schemaEntry = SchemaKey -> declared.getOrElse(
      stampable(org.apache.spark.sql.types.StructType(
        merged.schema.fields.filterNot(_.name == BucketCol)))).json
    finishCommit(fs, table,
      carried ++ updated ++ writeMeta(keys, version) + schemaEntry)
  }
}

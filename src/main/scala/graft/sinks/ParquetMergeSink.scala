package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.Tables.BarrierOps
import graft.indexer.Upsert

/** Idempotent merge sink over parquet — the concrete form of the
  * reference's `INSERT ... ON CONFLICT DO UPDATE` target tables
  * (db.go:1171-1175) for a lake without a transactional format.
  *
  * Scale design — append past the high-water mark, else a bucket-scoped
  * rewrite; never a table rewrite per commit. Rows are hashed into
  * `nBuckets` buckets on the merge keys, and every commit writes a NEW
  * immutable generation and flips a single small manifest file
  * ([[ManifestCommit.publish]]). The manifest records `hwm`, an upper
  * bound on every committed version, from a table's first data commit on
  * (a table written before `hwm` existed merges until [[upgrade]] stamps
  * it). When the version column is one of the merge keys and a batch's
  * smallest version is above `hwm`, no batch key can equal a committed
  * one: the batch resolves latest-wins within itself and is APPENDED as
  * ONE table-level segment, without reading a committed row — O(batch),
  * one file per write task. A path with no committed rows (new, or made
  * by [[createEmpty]]) appends its first batch the same way, whatever its
  * keys. Every other commit (an update-wins table, a replay at or below
  * `hwm`, [[mergeActions]]) reads the base dirs of ONLY the buckets the
  * batch touches plus every segment, buckets the segments' rows from the
  * keys, and rewrites each touched bucket as one base dir; the segments'
  * other rows are rewritten as one segment — O(batch + touched buckets +
  * segments). Untouched buckets' entries carry forward.
  *
  * Entry grammar (`dir.` stripped, see [[isSinkKey]]): `<b>` is bucket b's
  * base dir; `+<v>` a segment manifest v wrote (`<gen>/__bucket=-1`, a
  * sentinel bucket on the same `partitionBy` write, so the leaf is not a
  * name Spark's hidden-path filter skips). Every dir lies in a `_g<n>-`
  * generation, and every manifest that names one carries the table's
  * schema stamp. A segment's keys never equal another committed key, so
  * reads union every dir as it lies.
  *
  * One format — tables of an older format (pre-manifest bucket dirs,
  * per-bucket segments, an unstamped manifest) are refused by every read,
  * merge and ALTER with an error that names [[upgrade]] (`CALL
  * <catalog>.system.upgrade`), which commits them once in this grammar.
  *
  * Fold and drain — a table holds at most [[TableDirs]] dirs (or one per
  * bucket plus one). An append at the bound rewrites every segment and the
  * batch as one segment, a plain concatenation that reads no base bucket.
  * Any commit that reads segments DRAINS them instead — folds every bucket,
  * segment rows into their buckets — once they hold more rows than an
  * average base bucket. Amortized over a table of N rows taking r rows a
  * trigger at 16 buckets: concatenations rewrite about N/512 rows a
  * trigger and a drain N + N/16 rows every N/(16r) triggers, about
  * N/512 + 17r rows a trigger in all.
  *
  * Job shape — a merge runs ONE staging job, then the write. The staging
  * job materializes the aligned, bucketed batch behind a barrier and
  * observes, in the same pass, the set of touched buckets, the row count
  * (emptiness) and an integral version's min, max and null count; no
  * separate `isEmpty`, bucket-`distinct` or range job runs. The write is
  * the commit tail every commit shares ([[commitBuckets]]): it reads what
  * the commit folds (nothing for a plain append), lets the caller resolve
  * it with the batch (latest-wins for merge, delete/update/insert for
  * mergeActions) and writes the result (under AQE: the shuffle's map job
  * plus the write job). The staged blocks are released as soon as the
  * commit (or the failure) is done.
  *
  * Durability: data files are immutable once written; the ONLY mutation
  * is the one-small-file manifest commit that tail makes, which covers
  * ALL touched buckets at once — a crash leaves every reader on the
  * previous manifest, so the table is observed wholly at either
  * generation even across a multi-bucket merge (strictly stronger than
  * a per-bucket rename swap, which could commit a prefix of buckets).
  * No overwrites of live data, and the commit itself is one small-object
  * move. The generation write is not rename-free: it commits through
  * Hadoop's `FileOutputCommitter`, whose task and job commits rename every
  * file, O(data) copies on S3A (ROADMAP Direction 8). Single-writer per
  * table, like the reference indexer; replaying a batch converges
  * (latest-wins).
  *
  * Version ties: ON CONFLICT DO UPDATE semantics — the incoming row wins
  * (a source-precedence tie-break, so version collisions like
  * version = key are still deterministic).
  *
  * The caller picks the bucket count from its key space
  * ([[DefaultBuckets]] unless it passes one: an update-wins table whose
  * keys bound it at a few thousand rows reads and writes one file a merge
  * at one bucket, as `LiveIndexer`'s `last_commits` does), and manifest
  * v1 commits it BEFORE any data generation is written — a caller's
  * `nBuckets` only applies to a NEW table, so two writers can never
  * bucket the same key differently (which would silently duplicate keys
  * across buckets). That `buckets` entry is also the one layout test
  * ([[isSinkTable]]): every merge-sink manifest carries it from v1 on,
  * dirs or none, and a merge, `mergeActions` or ALTER refuses a manifest
  * without it before any Spark job. A root with generation dirs but no
  * commit log is unreadable (`_commits` lost) and fails loudly rather than
  * guessing.
  */
object ParquetMergeSink {

  private val BucketCol = "__bucket"
  private val StageMetrics = "graft_merge_stage"
  private val PrefCol = "__pref"
  private[graft] val SchemaKey = "schema"
  private[graft] val PhysKey = "schema.phys"
  private[graft] val RetiredKey = "schema.retired"
  private[graft] val HwmKey = "hwm"
  private[graft] val BucketsKey = "buckets"

  /** The bucket count a new table gets unless its creator passes one. */
  val DefaultBuckets = 16

  /** The version types `hwm` serves (it bounds versions as longs). */
  private val Integral: Set[DataType] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Set(ByteType, ShortType, IntegerType, LongType)
  }

  /** Dirs a table may hold: a scan lists its dirs on the driver up to
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths,
    * in a listing job past it (at 8 dirs a bucket, 128 a table, catalog
    * queries planned ~10x slower on a long `index` run; see ROADMAP).
    */
  private val TableDirs = 32

  /** The `__bucket` value a table-level segment is written under. */
  private val SegmentBucket = -1

  private val BucketKey = "\\d+".r
  private val SegmentKey = "\\+\\d+".r

  /** The bucket of a base-dir key (`dir.` stripped): `7` is bucket 7's. */
  private def bucketOf(key: String): Option[Int] =
    Option.when(BucketKey.matches(key))(key.toInt)

  /** `+12`: the table-level segment manifest v12 appended. */
  private def isSegment(key: String): Boolean = SegmentKey.matches(key)

  /** Whether a dir key (`dir.` stripped) holds merge-sink data — a base
    * dir or a segment — in the current grammar.
    */
  private def isSinkKey(key: String): Boolean =
    bucketOf(key).isDefined || isSegment(key)

  /** Whether `m` is a merge-sink manifest, of any format: it carries
    * `buckets`, from v1 on, with or without dirs. The one layout test the
    * catalog, the procedures, [[TableMaintenance]] and ALTER share.
    */
  private[graft] def isSinkTable(m: ManifestCommit.Manifest): Boolean =
    m.entries.contains(BucketsKey)

  /** The version column is a merge key: the tables an append can serve. */
  private def versionKeyed(keys: Seq[String], version: String): Boolean =
    keys.exists(k => lcName(k) == lcName(version))

  /** The manifest-declared table schema, when the manifest carries one:
    * every manifest that names a data dir does (tables created via
    * [[createEmpty]] from v1, API-grown ones from their first data
    * commit). It is the source of truth for reads the moment generations
    * stop agreeing —
    * i.e. after `ALTER TABLE … ADD COLUMN` ([[addColumns]]): reading the
    * dirs with the declared schema makes parquet align files BY NAME and
    * null-fill columns a pre-ALTER generation never wrote (the
    * Delta/Iceberg add-column read contract, no data rewrite).
    */
  private[graft] def declaredSchema(
      m: ManifestCommit.Manifest): Option[StructType] =
    m.entries.get(SchemaKey).map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Nullability/metadata-normalized form for stamping into a manifest:
    * parquet reads surface everything nullable, so a stable declared
    * schema must too (otherwise the stamp would flap between commits).
    */
  private def stampable(s: StructType): StructType =
    StructType(s.fields.map(f => StructField(f.name, f.dataType)))

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
    * rewrite (probed against Spark's vectorized and row readers; anything
    * else fails the scan with PARQUET_COLUMN_DATA_TYPE_MISMATCH): the set
    * `ALTER COLUMN … TYPE` may declare and an old-shape batch may upcast
    * through at the merge door, as Delta's type widening. Integer upcasts
    * byte → short → int → long; float → double and {byte,short,int} →
    * double (long → double is lossy above 2⁵³); integers into a decimal
    * with enough integer digits (3/5/10/20); decimal(p,s) → decimal(p′,s′)
    * when s′ ≥ s and p′−s′ ≥ p−s; date → timestamp_ntz (midnight, no zone
    * shift).
    */
  private[graft] def widens(from: DataType, to: DataType): Boolean = {
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
  private[graft] def physicalSchema(declared: StructType,
      map: Map[String, String]): StructType =
    StructType(declared.fields.map(f => f.copy(name = physOf(map, f.name))))

  /** Project a physical-named scan onto the logical declared shape. */
  private def toLogical(df: DataFrame, declared: StructType,
      map: Map[String, String]): DataFrame =
    if (map.isEmpty) df
    else df.select(declared.fields.map(f =>
      col(physOf(map, f.name)).as(f.name)).toSeq: _*)

  /** Rename a logical-named frame to physical column names for a
    * generation write (extra non-declared columns, e.g. the bucket
    * column, pass through unchanged).
    */
  private def toPhysical(df: DataFrame, declared: StructType,
      map: Map[String, String]): DataFrame =
    if (map.isEmpty) df
    else {
      val declaredLc = declared.fields.map(f => lcName(f.name)).toSet
      df.select(df.columns.map { c =>
        if (declaredLc.contains(lcName(c))) col(c).as(physOf(map, c))
        else col(c)
      }.toSeq: _*)
    }

  /** The merge door [[merge]] and [[mergeActions]] share: `df`'s columns
    * match the declared schema by name (case-insensitive). It REFUSES
    * type mismatches outside [[widens]]' upcasts (those cast implicitly),
    * a batch missing any of `required` (a null-filled key or version
    * would silently collapse or mis-order rows under latest-wins), and
    * two columns that differ only by case (the match cannot pick one).
    *
    * [[merge]] stores the batch as it comes out: extra columns refuse
    * too (`ADD COLUMN` widens), declared-but-absent data columns
    * null-fill, and order follows the declaration. With `keepSourceOnly`
    * ([[mergeActions]]) the source keeps its own columns: a CDC op flag
    * feeds the delete predicate, and declared columns the source lacks
    * are resolved per action later.
    */
  private def alignToSchema(df: DataFrame,
      declared: StructType, what: String,
      required: Seq[String], keepSourceOnly: Boolean): DataFrame = {
    val caseDups = df.schema.fields.groupBy(f => lcName(f.name))
      .filter(_._2.length > 1).values.map(_.map(_.name).mkString("/"))
    require(caseDups.isEmpty,
      s"$what carries columns that differ only by case: " +
        s"${caseDups.mkString(", ")} — the by-name match cannot pick one " +
        "without silently dropping the other; rename or drop one first")
    val byName = df.schema.fields.map(f => lcName(f.name) -> f).toMap
    val declaredByName = declared.fields.map(f => lcName(f.name) -> f).toMap
    val extra = df.columns.filterNot(c => declaredByName.contains(lcName(c)))
    require(keepSourceOnly || extra.isEmpty,
      s"$what carries columns not in the table schema: " +
        s"${extra.mkString(", ")} — run ALTER TABLE … ADD COLUMN (or " +
        "ParquetMergeSink.addColumns) first; the sink never widens a " +
        "schema implicitly")
    val missingRequired = required.filterNot(c => byName.contains(lcName(c)))
    require(missingRequired.isEmpty,
      s"$what is missing the merge key/version column(s) " +
        s"${missingRequired.mkString(", ")} — only genuine data columns " +
        "(post-ADD COLUMN) null-fill; a null-filled key or version would " +
        "silently collapse or mis-order rows under latest-wins")
    // None: the incoming type is the declared one
    def castTo(src: StructField, f: StructField): Option[DataType] =
      if (src.dataType.catalogString == f.dataType.catalogString) None
      // an old-shape writer after ALTER COLUMN … TYPE: its narrower
      // value upcasts losslessly onto the declared type — the same
      // keep-old-writers-working contract as null-filling ADD COLUMN.
      // Casting BEFORE bucketing also keeps key hashing consistent
      // (xxhash64 of int 5 ≠ xxhash64 of long 5).
      else if (widens(src.dataType, f.dataType)) Some(f.dataType)
      else throw new IllegalArgumentException(
        s"$what column ${src.name}: incoming type " +
          s"${src.dataType.simpleString} does not losslessly widen to " +
          s"declared ${f.dataType.simpleString} — cast explicitly; " +
          "only lossless upcasts (ALTER COLUMN TYPE's widening set) " +
          "are implicit")
    val cols =
      if (keepSourceOnly) df.schema.fields.map(src =>
        declaredByName.get(lcName(src.name)).flatMap(castTo(src, _))
          .fold(col(src.name))(t => col(src.name).cast(t).as(src.name)))
      else declared.fields.map(f => byName.get(lcName(f.name))
        .fold(lit(null).cast(f.dataType))(src =>
          castTo(src, f).fold(col(src.name))(col(src.name).cast(_)))
        .as(f.name))
    df.select(cols.toSeq: _*)
  }

  /** `ALTER TABLE … ADD COLUMN` as ONE metadata-only manifest commit (no
    * data read or rewritten — Delta/Iceberg add-column semantics): the new
    * head re-references the current generations and records the widened
    * declared schema; every reader resolving through the manifest
    * null-fills the new columns for older generations by name, and time
    * travel to a pre-ALTER version serves that manifest's own schema.
    * Only nullable, non-duplicate, top-level columns are addable.
    */
  def addColumns(spark: SparkSession, path: String,
      newFields: Seq[StructField]): Unit = {
    require(newFields.nonEmpty, "ADD COLUMN needs at least one column")
    val notNullable = newFields.filterNot(_.nullable).map(_.name)
    require(notNullable.isEmpty,
      s"ADD COLUMN ${notNullable.mkString(", ")}: added columns must be " +
        "nullable — existing generations cannot supply a value for them")
    alter(spark, path, "ADD COLUMN") { (m, base) =>
      val existing = base.fields.map(f => lcName(f.name)).toSet
      val dup = newFields.map(f => lcName(f.name))
        .filter(n => existing.contains(n)) ++
        newFields.groupBy(f => lcName(f.name)).filter(_._2.size > 1).keys
      require(dup.isEmpty,
        s"ADD COLUMN ${dup.distinct.mkString(", ")}: column already exists")
      val widened = StructType(base.fields ++ stampable(StructType(newFields)).fields)
      // Physical-name assignment: a new column normally keeps its own name,
      // but a name some generation may already carry data under — a DROPPED
      // column's retired physical name, or a physical name a rename left
      // behind — gets a FRESH suffixed physical name instead, so old files
      // can never resurrect their values into the new column.
      val pmap = physMap(m)
      var usedLc = base.fields.map(f => lcName(physOf(pmap, f.name))).toSet ++
        retiredPhys(m).map(lcName)
      val newEntries = newFields.flatMap { f =>
        if (!usedLc.contains(lcName(f.name))) { usedLc += lcName(f.name); None }
        else {
          val fresh = Iterator.from(2).map(i => s"${f.name}__$i")
            .find(c => !usedLc.contains(lcName(c))).get
          usedLc += lcName(fresh)
          Some(f.name -> fresh)
        }
      }
      Some(Altered(widened, pmap ++ newEntries))
    }
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
    require(names.nonEmpty, "DROP COLUMN needs at least one column")
    alter(spark, path, "DROP COLUMN") { (m, base) =>
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
      Some(Altered(StructType(remaining),
        pmap.filterNot { case (k, _) => dropLc.contains(lcName(k)) },
        Map(RetiredKey -> retired.toSeq.sorted.mkString(","))))
    }
  }

  /** `ALTER TABLE … RENAME COLUMN` as ONE metadata-only manifest commit:
    * the declared schema takes the new logical name while the PHYSICAL
    * name every generation was written with stays, recorded in the
    * manifest's logical→physical map (Delta column-mapping "name" mode).
    * Reads scan physical and project to logical; later generations keep
    * the same physical name. Renaming a merge key or the version column
    * updates the write contract in the same commit. Time travel to a
    * pre-RENAME version serves the old name; a writer still sending the
    * old name refuses at the door (undeclared column).
    */
  def renameColumn(spark: SparkSession, path: String,
      from: String, to: String): Unit =
    alter(spark, path, "RENAME COLUMN") { (m, base) =>
      require(base.fields.exists(f => lcName(f.name) == lcName(from)),
        s"RENAME COLUMN $from: no such column " +
          s"(table has ${base.fieldNames.mkString(", ")})")
      require(!base.fields.exists(f => lcName(f.name) == lcName(to)),
        s"RENAME COLUMN $from TO $to: column $to already exists")
      val pmap = physMap(m)
      val phys = physOf(pmap, from)
      val renamed = StructType(base.fields.map(f =>
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
      Some(Altered(renamed, newMap, contractEntries.toMap))
    }

  /** `ALTER TABLE … ALTER COLUMN c TYPE t` as ONE metadata-only manifest
    * commit, allowed ONLY for the lossless widenings in [[widens]]: the
    * declared schema takes the wider type and Spark's readers upcast old
    * generations at scan time, so no file is rewritten. Narrowing and
    * lossy conversions refuse. MERGE KEYS are not widenable: bucket
    * routing hashes the typed key (xxhash64 of int 5 ≠ of long 5), so a
    * widened key would re-route existing keys (compact to a fresh table to
    * re-type one). Time travel to a pre-ALTER version serves the old type;
    * an old-shape writer keeps merging — the door upcasts it
    * ([[alignToSchema]]).
    */
  def widenColumnType(spark: SparkSession, path: String,
      name: String, newType: DataType): Unit =
    alter(spark, path, "ALTER COLUMN TYPE") { (m, base) =>
      val field = base.fields.find(f => lcName(f.name) == lcName(name))
        .getOrElse(throw new IllegalArgumentException(
          s"ALTER COLUMN $name: no such column " +
            s"(table has ${base.fieldNames.mkString(", ")})"))
      // Idempotence: re-running an already-applied ALTER (replayed migration
      // scripts) declares the type the column already has — a no-op, not a
      // "not a lossless widening" refusal (Delta's same-type ALTER behavior).
      Option.when(field.dataType != newType) {
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
        Altered(StructType(base.fields.map(f =>
          if (lcName(f.name) == lcName(name)) f.copy(dataType = newType) else f)),
          physMap(m))
      }
    }

  /** What one ALTER commits: the new declared schema, the new
    * logical→physical name map, and any other manifest entries it
    * rewrites.
    */
  private final case class Altered(schema: StructType,
      phys: Map[String, String], other: Map[String, String] = Map.empty)

  /** The preamble and commit every ALTER shares. The table must be a
    * committed merge-sink table in the current format; `change`
    * validates against its manifest and declared schema and returns what
    * to commit, or None for a no-op. The commit is ONE metadata-only
    * manifest flip that re-references the current generations unchanged.
    * `op` names the ALTER in the layout refusal.
    */
  private def alter(spark: SparkSession, path: String, op: String)(
      change: (ManifestCommit.Manifest, StructType) => Option[Altered]): Unit = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    def none = new IllegalStateException(
      s"$path has no committed merge-sink table to alter")
    val m = requireSinkTable(table, head(fs, table).getOrElse(throw none), op)
    change(m, declaredSchema(m).getOrElse(throw none)).foreach { a =>
      ManifestCommit.commit(fs, table, m.version,
        (m.entries - "txid" - PhysKey) ++ a.other ++
          Map(SchemaKey -> a.schema.json) ++
          (if (a.phys.nonEmpty) Map(PhysKey -> renderNameMap(a.phys)) else Map.empty))
      ManifestCommit.vacuum(fs, table, keep = 2)
    }
  }

  /** `m`, refused unless it is a merge-sink manifest. Maintained and
    * partitioned tables read through [[TableMaintenance]], which resolves
    * the schema from the data and places files by its own layout: an ALTER
    * there would record a declaration nothing honors, and a merge has no
    * bucket count to hash by. `op` names the refused call.
    */
  private def requireSinkTable(table: Path, m: ManifestCommit.Manifest,
      op: String): ManifestCommit.Manifest = {
    require(isSinkTable(m),
      s"$table is not a merge-sink table (its manifest carries no " +
        s"$BucketsKey: a TableMaintenance layout) — $op serves merge-sink " +
        "tables; rewrite maintained layouts through TableMaintenance")
    m
  }

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketExpr(keys: Seq[String], buckets: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(buckets)).cast("int")

  /** Old formats, named only by [[oldFormat]], [[head]] and [[upgrade]]:
    * the marker file of the pre-manifest layout (top-level `__bucket=N`
    * dirs, its content the bucket count) and the key of a per-bucket
    * segment, `<b>+<v>`.
    */
  private val LegacyMarker = ".graft-buckets"
  private val BucketSegmentKey = "(\\d+)\\+\\d+".r

  /** `m`'s merge-sink data dirs of any format, each with its bucket (None:
    * a table-level segment).
    */
  private def sinkDirs(m: ManifestCommit.Manifest): Map[String, (String, Option[Int])] =
    m.dirs.flatMap { case (k, rel) => k match {
      case BucketSegmentKey(b) => Some(k -> (rel, Some(b.toInt)))
      case _ => Option.when(isSinkKey(k))(k -> (rel, bucketOf(k)))
    }}

  private def outsideGeneration(rel: String) = !ManifestCommit.isGeneration(rel.split("/").head)

  /** Why `m` is not in the current grammar, if it is not: a per-bucket
    * segment key, a bucket dir outside a generation (the pre-manifest
    * dirs a manifest adopted), or data dirs without a schema stamp.
    */
  private def oldFormat(m: ManifestCommit.Manifest): Option[String] = {
    val data = sinkDirs(m)
    if (data.keys.exists(BucketSegmentKey.matches)) Some("per-bucket segments dir.<b>+<v>")
    else if (data.values.exists(d => outsideGeneration(d._1))) Some("dirs outside a generation")
    else Option.when(data.nonEmpty && !m.entries.contains(SchemaKey))("no schema stamp")
  }

  private def refuseOld(table: Path, what: String): Nothing =
    throw new IllegalStateException(
      s"$table is a merge-sink table of an old format ($what): run " +
        s"CALL <catalog>.system.upgrade('<table>') (ParquetMergeSink.upgrade) " +
        "once — reads and writes refuse it rather than misread it")

  /** `m`, refused unless it is in the current grammar. */
  private[graft] def requireCurrent(table: Path,
      m: ManifestCommit.Manifest): ManifestCommit.Manifest = {
    oldFormat(m).foreach(refuseOld(table, _))
    m
  }

  /** `CALL <catalog>.system.upgrade('<table>')`: commit the table at `path`
    * as ONE manifest in the current grammar — the one place the old
    * formats are read. Every entry but the data dirs carries as it is
    * (`buckets`, `merge.keys`, `merge.version`, `hwm`, the rename map, the
    * retired names). Rows are rewritten only where an old layout needs it:
    * every dir of a bucket that has a per-bucket segment or a dir outside a
    * generation (pre-manifest bucket dirs, whose bucket numbers come from
    * their names and are never re-hashed) folds into that bucket's base
    * dir in one new generation; an unstamped manifest is stamped with its
    * files' schema. A version-keyed table with rows and no `hwm` (written
    * before the sink recorded one; it merges correctly but never appends)
    * is stamped with its largest version; a pre-manifest table records its
    * keys on its first merge after the upgrade, and a second upgrade then
    * stamps it. Returns the committed version, or None when the table
    * already was current.
    *
    * Crash-safe by re-run: the old layout stays untouched until the
    * commit, so a crash before it leaves an orphan generation that the
    * re-run's vacuum reclaims; the pre-manifest dirs and their marker are
    * deleted after the commit, marker last, so a re-run over a current
    * head finishes that reclaim and commits nothing.
    */
  def upgrade(spark: SparkSession, path: String): Option[Long] = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    val marker = new Path(table, LegacyMarker)
    // bucket dirs `__bucket=<b>` under `dir`, as `dir.<b>` -> `<prefix><name>`
    def bucketDirs(dir: Path, prefix: String) = fs.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith(s"$BucketCol=") =>
        s"dir.${n.stripPrefix(s"$BucketCol=")}" -> s"$prefix$n" }.toMap
    val m = ManifestCommit.latest(fs, table).getOrElse {
      if (!fs.exists(marker)) head(fs, table) // bucket dirs alone: unknowable
      require(fs.exists(marker), s"$path holds no merge-sink table to upgrade")
      val in = fs.open(marker)
      val buckets = try new String(in.readAllBytes(), "UTF-8").trim.toInt finally in.close()
      ManifestCommit.Manifest(0L, bucketDirs(table, "") + (BucketsKey -> buckets.toString))
    }
    val data = sinkDirs(m)
    lazy val declared = declaredSchema(m).getOrElse(stampable(spark.read.parquet(
      data.values.map(d => new Path(table, d._1).toString).toSeq: _*).schema))
    def rows(rels: Iterable[String]) = spark.read.schema(physicalSchema(declared, physMap(m)))
      .parquet(rels.map(rel => new Path(table, rel).toString).toSeq: _*)
    // a version-keyed table with rows and no `hwm` predates it
    val hwm = m.entries.get("merge.version").filter(v => data.nonEmpty &&
      !m.entries.contains(HwmKey) &&
      m.entries.get("merge.keys").exists(ks => versionKeyed(ks.split(",").toSeq, v)) &&
      declared.exists(f => lcName(f.name) == lcName(v) && Integral(f.dataType))).map { v =>
      val top = rows(data.values.map(_._1))
        .agg(max(col(physOf(physMap(m), v)).cast("long"))).head()
      HwmKey -> (if (top.isNullAt(0)) Long.MinValue else top.getLong(0)).toString
    }
    val committed = Option.when(oldFormat(m).isDefined || hwm.isDefined) {
      val refold = data.collect { case (k, (rel, b)) if BucketSegmentKey.matches(k) ||
        outsideGeneration(rel) => b }.flatten.toSet
      val rewrite = data.filter(_._2._2.exists(refold))
      ManifestCommit.publish(fs, table, m.version) { gen =>
        if (rewrite.nonEmpty) gen.write(rewrite.values.map { case (rel, b) =>
          rows(Seq(rel)).withColumn(BucketCol, lit(b.get))
        }.reduce(_ unionByName _), partitionBy = Seq(BucketCol))
        m.entries - "txid" -- rewrite.keys.map("dir." + _) ++
          (if (rewrite.isEmpty) Map.empty else bucketDirs(gen.path, s"${gen.name}/")) ++
          hwm + (SchemaKey -> declared.json)
      }
    }
    if (fs.exists(marker)) {
      bucketDirs(table, "").values.foreach(n => fs.delete(new Path(table, n), true))
      fs.delete(marker, false)
    }
    committed
  }

  /** The head manifest of `table`, or None at a path without one: the one
    * format check every read, staging pass, ALTER and catalog load runs
    * first. It refuses an old-format head ([[requireCurrent]]), and a path
    * without a manifest that holds bucket dirs or generation dirs — data
    * no reader may guess a layout for.
    */
  private[graft] def head(fs: FileSystem, table: Path): Option[ManifestCommit.Manifest] = {
    val m = ManifestCommit.latest(fs, table)
    m.foreach(requireCurrent(table, _))
    if (m.isEmpty && fs.exists(table)) {
      val names = fs.listStatus(table).filter(_.isDirectory).map(_.getPath.getName)
      val buckets = names.exists(_.startsWith(s"$BucketCol="))
      if (buckets && fs.exists(new Path(table, LegacyMarker)))
        refuseOld(table, "pre-manifest bucket dirs")
      if (buckets || names.exists(ManifestCommit.isGeneration))
        throw new IllegalStateException(
          s"$table has data dirs but no ${ManifestCommit.CommitDir} log (nor " +
            s"a $LegacyMarker marker): bucket layout unknowable; refusing to " +
            "guess (re-bucketing would silently duplicate keys). Restore the " +
            "commit log.")
    }
    m
  }

  /** The committed table as a DataFrame, or None before it has a schema
    * (no manifest, or only the `buckets` v1 a first merge commits ahead of
    * its data). Reads exactly the data dirs the current manifest
    * references: none for a table [[createEmpty]] made, which reads as 0
    * rows with its declared columns.
    */
  def readIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val table = new Path(path)
    head(fsFor(spark, table), table).filter(_.entries.contains(SchemaKey))
      .map(m => scan(spark, table, m, m.dirs.values.toSeq.sorted))
  }

  /** The parquet scan of `rels` (data dirs relative to `table`, maybe
    * none) as manifest `m` declares them: with `m`'s OWN schema and name
    * mapping (pre-ALTER versions keep the old shape, pre-RENAME versions
    * the old names). `m` carries its schema stamp.
    */
  private def scan(spark: SparkSession, table: Path,
      m: ManifestCommit.Manifest, rels: Seq[String]): DataFrame = {
    val d = declaredSchema(m).get
    val pmap = physMap(m)
    toLogical(spark.read.schema(physicalSchema(d, pmap))
      .parquet(rels.map(rel => new Path(table, rel).toString): _*), d, pmap)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    readIfExists(spark, path).getOrElse(throw new IllegalStateException(
      s"$path has no committed merge-sink data"))

  /** The table as of a RETAINED manifest version (time travel): an old
    * manifest still names its immutable dirs, so this is [[read]] against
    * it. Only versions vacuum retains (2) are addressable; the error lists
    * them. [[ManifestCommit.rollback]] re-commits one as the new head.
    */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    head(fs, table) // an old-format or pre-manifest head refuses every version
    val m = requireCurrent(table, ManifestCommit.at(fs, table, version).getOrElse(
      throw new IllegalArgumentException(
        s"version $version of $path is not retained — retained: " +
          ManifestCommit.committed(fs, table).map(_.version).mkString(", "))))
    require(m.entries.contains(SchemaKey),
      s"version $version of $path has no schema: it only commits the bucket count")
    scan(spark, table, m, m.dirs.values.toSeq.sorted)
  }

  /** An EMPTY merge-sink table whose schema and write contract are
    * committed before any data (`CREATE TABLE`'s protocol): ONE manifest,
    * v1, with `buckets`, the schema stamp, `merge.keys` and
    * `merge.version`, and no dirs and no generation — no Spark job runs.
    * Every reader serves it as 0 rows with the declared columns, and every
    * SQL and API write path works at once; its first batch appends. Refuses
    * an existing table and key/version columns absent from the schema.
    */
  def createEmpty(spark: SparkSession, path: String, schema: StructType,
      keys: Seq[String], version: String, nBuckets: Int = DefaultBuckets): Unit = {
    val table = new Path(path)
    val fs = fsFor(spark, table)
    require(head(fs, table).isEmpty,
      s"$path already holds a committed table — createEmpty refuses to " +
        "redefine it (merge into it, or remove it first)")
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val cols = schema.fieldNames.map(lcName).toSet
    val missing = (keys :+ version).filterNot(c => cols.contains(lcName(c)))
    require(missing.isEmpty,
      s"key/version columns ${missing.mkString(", ")} are not in the " +
        s"schema (${schema.fieldNames.mkString(", ")})")
    ManifestCommit.commit(fs, table, 0L, Map(BucketsKey -> nBuckets.toString,
      SchemaKey -> stampable(schema).json) ++ writeMeta(keys, version))
  }

  /** An integral version's range in a batch (min/max None if all null). */
  private final case class Versions(min: Option[Long], max: Option[Long], nulls: Long)

  /** One batch staged for its write: `frame` is the aligned batch with
    * the bucket column, materialized behind a [[graft.Tables.barrier]];
    * `touched`, `rows` and `versions` (None unless the version column is
    * integral) were observed by that same job. `noData`: no committed
    * dir holds a row the batch could conflict with.
    */
  private final case class Staged(frame: DataFrame, touched: Seq[Int],
      rows: Long, buckets: Int, committed: Option[ManifestCommit.Manifest],
      noData: Boolean, versions: Option[Versions])

  /** The shared front of [[merge]] and [[mergeActions]]: ONE Spark job.
    *
    * Reads the committed manifest ([[head]], refusing an old format, and
    * refusing a manifest that is not a merge-sink one before any job runs)
    * WITHOUT creating anything, so the bucket count and declared schema
    * are known before the batch is touched; `shape` aligns the batch to
    * them. The bucket column is added, and a `Dataset.observe` of the
    * touched-bucket set, the row count and an integral version's range
    * rides on the barrier's materializing job — all of them come from that
    * one pass over the batch's lineage.
    */
  private def stage(fs: FileSystem, table: Path, keys: Seq[String], version: String,
      nBuckets: Int, op: String)(shape: Option[ManifestCommit.Manifest] => DataFrame): Staged = {
    val committed = head(fs, table).map(requireSinkTable(table, _, op))
    val buckets = committed.fold(nBuckets)(_.entries(BucketsKey).toInt)
    val shaped = shape(committed)
    val integral = shaped.schema.find(f => lcName(f.name) == lcName(version))
      .exists(f => Integral(f.dataType))
    val v = col(version).cast("long")
    val range = if (integral) Seq(min(v), max(v), count(when(v.isNull, 1))) else Nil
    val (frame, ran) = graft.Tables.materializedBarrier(shaped
      .withColumn(BucketCol, bucketExpr(keys, buckets))
      .observe(StageMetrics, collect_set(col(BucketCol)), count(lit(1)) +: range: _*))
    val seen = ran.observedMetrics(StageMetrics)
    def long(i: Int) = Option.unless(seen.isNullAt(i))(seen.getLong(i))
    Staged(frame, seen.getSeq[Int](0).sorted, seen.getLong(1), buckets, committed,
      committed.forall(_.dirs.isEmpty),
      Option.when(integral)(Versions(long(2), long(3), seen.getLong(4))))
  }

  /** The manifest a non-empty staged batch commits against: the one it
    * was staged on, or — for a new table — manifest v1, which commits the
    * bucket count BEFORE any data generation exists: a crash mid-first-merge
    * leaves a committed count, so a later merge (even with a different
    * requested nBuckets) reads the committed layout instead of silently
    * re-bucketing keys. It is created only now that the batch is known to
    * carry rows; a writer that created the table meanwhile makes this
    * commit fail.
    */
  private def manifestFor(fs: FileSystem, table: Path,
      staged: Staged): ManifestCommit.Manifest =
    staged.committed.getOrElse {
      fs.mkdirs(table)
      val entries = Map(BucketsKey -> staged.buckets.toString)
      ManifestCommit.Manifest(ManifestCommit.commit(fs, table, 0L, entries), entries)
    }

  /** The rows under `rels` (dirs relative to `table`), from the files'
    * footers: a small file's bytes are mostly footer, so bytes would
    * weigh a few one-row segments like a whole bucket.
    */
  private def rowsOf(fs: FileSystem, table: Path, rels: Iterable[String]): Long =
    rels.iterator.flatMap(rel => fs.listStatus(new Path(table, rel)))
      .filter(_.getPath.getName.endsWith(".parquet")).map { st =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, fs.getConf))
        try r.getRecordCount finally r.close()
      }.sum

  /** The commit tail every commit shares.
    *
    * An `append` under the dir bound reads nothing; at the bound it reads
    * every segment (a concatenation). Any other commit reads the base dirs
    * of every touched bucket and every segment. Either drains — reads every
    * dir and folds every bucket — when the segments hold more rows than
    * an average base bucket. Rows read get the bucket column
    * from the keys; `resolve` gets them (None when nothing is read) and
    * returns every row to write. A row of a folded bucket goes to that
    * bucket's base dir, every other row to one new segment.
    *
    * They become a NEW immutable generation ([[ManifestCommit.publish]]
    * against the manifest the batch was staged on), so a crash before the
    * commit is invisible to readers (the orphan dir is vacuumed later),
    * written under PHYSICAL column names (renamed columns keep the name
    * they were born with). One listing of it settles the entries: a
    * folded bucket's entries are ALL replaced by one `dir.<b>`, or
    * REMOVED when the generation has no dir for it (mergeActions deleted
    * all its rows) — its old files could only bring back superseded or
    * deleted rows; the segments read are replaced by `dir.+<version>`, if
    * any row is left for it. (A merge gives every touched bucket a dir: latest-wins keeps
    * one row per key, null keys included, and Spark's hash folds -0.0 into
    * 0.0 and all NaNs into one.)
    *
    * The same flip raises `hwm` to the batch's largest version, from
    * `Long.MinValue` on a table without rows; a non-integral version drops
    * it. A table with rows and no `hwm` predates it: it keeps merging
    * without one until [[upgrade]] stamps it.
    */
  private def commitBuckets(fs: FileSystem, table: Path, staged: Staged,
      keys: Seq[String], version: String, append: Boolean)(
      resolve: Option[DataFrame] => DataFrame): Unit = {
    val spark = staged.frame.sparkSession
    val manifest = manifestFor(fs, table, staged)
    val (segments, bases) = manifest.dirs.toSeq.partition(d => isSegment(d._1))
    val bound = math.max(TableDirs, staged.buckets + 1)
    val plain = append && manifest.dirs.size < bound
    val drain = !plain && segments.nonEmpty &&
      rowsOf(fs, table, segments.map(_._2)) * staged.buckets >
        rowsOf(fs, table, bases.map(_._2))
    val fold =
      if (drain) (0 until staged.buckets).toSet
      else if (append) Set.empty[Int] else staged.touched.toSet
    val readDirs = bases.collect { case (k, rel) if bucketOf(k).exists(fold) => rel } ++
      (if (plain) Nil else segments.map(_._2))
    val resolved = resolve(Option.when(readDirs.nonEmpty)(
      scan(spark, table, manifest, readDirs.sorted)
        .withColumn(BucketCol, bucketExpr(keys, staged.buckets))))
    val merged = resolved.withColumn(BucketCol,
      when(col(BucketCol).isin(fold.toSeq: _*), col(BucketCol)).otherwise(lit(SegmentBucket)))

    val declared = declaredSchema(manifest)
    val carried = manifest.entries.filter { case (k, _) =>
      val d = k.stripPrefix("dir.")
      k != HwmKey && !(k.startsWith("dir.") &&
        (bucketOf(d).exists(fold) || !plain && isSegment(d)))
    }
    val prevHwm = manifest.entries.get(HwmKey).map(_.toLong)
      .orElse(Option.when(manifest.dirs.isEmpty)(Long.MinValue))
    val hwm = staged.versions.flatMap(v => prevHwm.map(h => v.max.fold(h)(math.max(h, _))))
    graft.StrategyLog.record("merge_commit", if (append) "append" else "merge",
      "table" -> table, "touched" -> staged.touched.size, "folded" -> fold.size,
      "read" -> readDirs.size, "drain" -> drain,
      "hwm" -> manifest.entries.getOrElse(HwmKey, "none"),
      "min_version" -> staged.versions.flatMap(_.min).getOrElse("none"))
    // Stamp the declared schema (or, on a new table's first data commit,
    // the batch-derived one): it is what makes ALTER TABLE available to
    // API-grown tables too.
    val schemaEntry = SchemaKey -> declared.getOrElse(stampable(
      StructType(merged.schema.fields.filterNot(_.name == BucketCol)))).json
    ManifestCommit.publish(fs, table, manifest.version) { gen =>
      gen.write(declared.fold(merged)(d => toPhysical(merged, d, physMap(manifest))),
        partitionBy = Seq(BucketCol))
      val written = fs.listStatus(gen.path).map(_.getPath.getName).toSet
      def leaf(b: Int) = Option.when(written(s"$BucketCol=$b"))(s"${gen.name}/$BucketCol=$b")
      val updated = fold.flatMap(b => leaf(b).map(s"dir.$b" -> _)) ++
        leaf(SegmentBucket).map(s"dir.+${manifest.version + 1}" -> _)
      carried ++ updated ++ writeMeta(keys, version) ++
        hwm.map(HwmKey -> _.toString) + schemaEntry
    }
  }

  /** Latest-wins upsert of `batch` into the table at `path`; returns the
    * number of batch rows staged (0 = an empty batch, which changes
    * nothing and creates no table). It appends when no committed row can
    * share a key with the batch — the path holds no data yet, or the
    * version is a merge key and the batch's smallest version is above
    * `hwm` — else it merges; [[graft.StrategyLog]] records which
    * (`merge_commit`).
    *
    * Emptiness is only known once the staging job has run, so the
    * batch's shape is checked first: an EMPTY batch whose columns do not
    * fit an existing table's declared schema is refused like a full one,
    * not skipped.
    */
  def merge(batch: DataFrame, path: String, keys: Seq[String], version: String,
      nBuckets: Int = DefaultBuckets): Long = {
    val spark = batch.sparkSession
    val table = new Path(path)
    val fs = fsFor(spark, table)
    // A declared schema (SQL-created, or stamped by a prior merge) is the
    // write contract: the batch aligns onto it — null-fill for columns an
    // old writer doesn't know yet (post-ADD COLUMN), loud refusal for
    // columns the table doesn't have.
    val staged = stage(fs, table, keys, version, nBuckets, "merge")(known =>
      known.flatMap(declaredSchema).fold(batch)(d =>
        alignToSchema(batch, d, s"merge batch into $path",
          required = keys :+ version, keepSourceOnly = false)))
    try {
      // Emptiness is known BEFORE any manifest is created: a no-op batch
      // against a nonexistent path leaves the filesystem untouched.
      if (staged.rows > 0) {
        // Past `hwm` every key is new (the version is one of them), so the
        // batch appends and reads back only what a concatenation or a
        // drain needs. Either way the rows read back and the batch resolve
        // latest-wins in one shuffle, which also leaves the written rows
        // in few files.
        val hwm = staged.committed.flatMap(_.entries.get(HwmKey)).map(_.toLong)
        val append = staged.noData || versionKeyed(keys, version) &&
          staged.versions.exists(v => v.nulls == 0 && v.min.exists(lo => hwm.exists(lo > _)))
        commitBuckets(fs, table, staged, keys, version, append) { current =>
          val batchB = staged.frame.withColumn(PrefCol, lit(1)) // wins ties
          Upsert.latestWins(
              current.fold(batchB)(_.withColumn(PrefCol, lit(0)).unionByName(batchB)),
              keys, col(version), col(PrefCol))
            .drop(PrefCol)
        }
      }
      staged.rows
    } finally graft.Tables.release(staged.frame)
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
    * Scale shape is [[merge]]'s merge path: cost O(batch + touched buckets
    * + segments) until a drain; untouched bucket entries carry forward
    * byte-identical.
    * As in [[merge]], an empty source is refused when its types do not
    * fit the existing table's, and is a no-op otherwise.
    */
  def mergeActions(source: DataFrame, path: String, keys: Seq[String],
      version: String, deleteWhen: Column, nBuckets: Int = DefaultBuckets,
      targetCols: Seq[String] = Nil): Unit = {
    val spark = source.sparkSession
    val table = new Path(path)
    val fs = fsFor(spark, table)
    // The table's declared schema BEFORE this commit; the action
    // projection null-fills declared columns the source predates.
    var tableSchema = Option.empty[StructType]
    // The stored columns. On the CREATE path, columns only the delete
    // predicate reads (a CDC op flag) are dropped unless they are keys or
    // the version, so the schema matches what merge-into-existing stores;
    // `targetCols` declares it explicitly. Lazy: an empty batch returns
    // without validating targetCols.
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
    // Same front door as merge(): keys/version present, no case
    // duplicates, and overlapping columns take the DECLARED types before
    // anything hashes them (an un-cast narrower key would route to the
    // wrong bucket). Source-only columns (the CDC op flag) pass through.
    val staged = stage(fs, table, keys, version, nBuckets, "mergeActions") { known =>
      tableSchema = known.flatMap(declaredSchema)
      alignToSchema(source, tableSchema.getOrElse(StructType(Nil)),
          s"mergeActions source for $path", keys :+ version, keepSourceOnly = true)
        .withColumn(DelCol, coalesce(deleteWhen.cast("boolean"), lit(false)))
    }
    try {
      // Emptiness is known BEFORE any manifest is created: a no-op batch
      // against a nonexistent path leaves the filesystem untouched.
      if (staged.rows > 0) {
        // intra-batch resolution first: one surviving row per source key,
        // so the WINNING row's delete/update verdict is what applies
        val resolved = Upsert.latestWins(staged.frame, keys, col(version)).barrier()
        try commitBuckets(fs, table, staged, keys, version, append = false)(
          applyActions(resolved, _, keys, tableSchema, tableCols))
        finally graft.Tables.release(resolved)
      }
    } finally graft.Tables.release(staged.frame)
  }

  /** The rows [[mergeActions]] keeps in the touched buckets, given their
    * `current` rows: survivors = current rows whose key the source does
    * not touch ∪ source rows not marked for delete.
    */
  private def applyActions(resolved: DataFrame, current: Option[DataFrame],
      keys: Seq[String], tableSchema: Option[StructType],
      tableCols: Seq[String]): DataFrame = {
    // matched+delete: current dropped by the anti join, source filtered out;
    // matched+update: current dropped, source row inserted;
    // unmatched+insert: source row inserted; unmatched+delete: no-op.
    val sourceKeys = resolved.select(keys.map(col): _*)
    val presentLc = resolved.columns.map(lcName).toSet
    // Declared columns the source predates (a CDC writer that has not
    // learned a post-ALTER column yet): a matched UPDATE must NOT
    // overwrite the current row's value with null, so those columns are
    // carried over FROM the current row by key (Delta's UPDATE SET *
    // refuses this shape outright; carrying the value is strictly
    // lossless and keeps old-shape CDC writers working across an ALTER).
    // Unmatched inserts get null — the ADD COLUMN read contract. The
    // key-join touches only the already-read touched buckets.
    val absentFields = tableSchema
      .map(_.fields.toSeq.filterNot(f => presentLc.contains(lcName(f.name))))
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
      .map(f => lcName(f.name)).toSet
    val appliedCols: Seq[Column] = tableSchema match {
      case Some(ts) => ts.fields.toSeq.map { f =>
        val fLc = lcName(f.name)
        if (presentLc.contains(fLc)) col(f.name)
        else if (carriedLc.contains(fLc)) col(CurPrefix + f.name).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      case None => tableCols.map(col)
    }
    val applied = enriched.filter(!col(DelCol))
      .select(appliedCols :+ col(BucketCol): _*)
    current
      .map(_.join(sourceKeys, keys, "left_anti").unionByName(applied))
      .getOrElse(applied)
  }
}

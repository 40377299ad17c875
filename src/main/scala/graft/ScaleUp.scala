package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the driver testdata: replicates the sf0.1
  * tables `copies`× with disjoint key ranges into a new directory, so the
  * whole suite (oracle gate + bench) can be proven at 10× the largest
  * generated SF. Usage:
  *
  *   runMain graft.ScaleUp <srcDir> <destDir> <copies>
  *
  * Design — the point is to scale DATA VOLUME without changing the data's
  * character, so per-operator cost curves are attributable to size alone:
  *
  *  - Every key family shifts by `copy × stride` with strides far above
  *    the source key ranges, preserving referential integrity per copy
  *    (copy i's orders reference copy i's customers) and global key
  *    uniqueness. `doc_id`/`vec_id` share one stride (they join).
  *  - Dimension-like tables (region, nation) stay 1× — they are bounded
  *    in the real schema too; customer/supplier/part/orders/lineitem/
  *    events/documents/embeddings all scale, as they do with SF.
  *  - Document TEXT is word-rotated per copy (rotation grows with the
  *    copy number): copies of one document share vocabulary and length
  *    but almost no shingles, so the near-duplicate structure SCALES
  *    (each copy carries the organic dup pairs of the original corpus)
  *    instead of exploding (verbatim copies would make every document a
  *    10-way exact-dup cluster — a different workload, not a bigger one).
  *  - Embedding vectors are cyclically rotated per copy: same norm and
  *    coordinate distribution, effectively unrelated direction, so ANN
  *    candidate structure also scales instead of collapsing into
  *    10-way cos≈1 clusters. Query vectors stay `vec_id < 10` — a fixed
  *    query set against a 10× corpus, the serving shape.
  *  - `events.ts` arrives as parquet TIMESTAMP(NANOS); the copy is
  *    written as a plain micros timestamp (what Spark 4 can write);
  *    [[Tables.events]] reads either layout.
  *
  * Timestamps/dates/values are NOT shifted: the same time window holds
  * 10× the volume, which is what a higher SF means in TPC-H too.
  */
object ScaleUp {

  // Key strides, all far above the source max at sf0.1.
  private val CustStride = 1000000L // also events.user_id
  private val SuppStride = 100000L
  private val PartStride = 1000000L
  private val OrderStride = 10000000L
  private val EventStride = 10000000L
  private[graft] val DocStride = 1000000L // doc_id and vec_id (they join)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleUp <srcDir> <destDir> <copies> [table ...] — with no " +
        "table names every table scales; naming a subset skips the rest " +
        "(a family-targeted replica, e.g. documents/embeddings/events for " +
        "the dedup+streaming decade probes, skips the single-writer " +
        "lineitem sort that dominates full-replica wall time)")
    val Array(src, dest, copiesStr) = args.take(3)
    val only = args.drop(3).toSet
    val copies = copiesStr.toInt
    // The embedding transform stacks three orthogonal levels: cyclic
    // rotation (64 at dim=64) × reversal (2) × per-level Rademacher sign
    // flip (one deterministic ±1 diagonal per sign level, statistically
    // distinct patterns) — 128 exactly-distinct directions per source
    // vector, then hash-distinct beyond. Cap the sign levels at 32 so a
    // typo'd copy count fails loudly instead of minting 10⁶ copies.
    require(copies <= 64 * 2 * 32, s"copies=$copies > ${64 * 2 * 32}: add " +
      "another orthogonal transform level before scaling further")
    val spark = SessionConf.localSession()
    // Spark's default timestamp layout is INT96, which pinned-schema
    // streaming readers cannot consume; micros is the modern layout
    // both engines and the streaming schema probe understand.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    def rep(df: DataFrame): DataFrame = replicate(df, copies)

    // Shift key columns by copy×stride; SUFFIX name columns per copy —
    // scaled entities are NEW entities, and duplicate display names
    // would silently change name-grouped query semantics (two distinct
    // suppliers sharing s_name must not merge).
    def shift(df: DataFrame, names: Seq[String], cols: (String, Long)*): DataFrame = {
      val keyed = cols.foldLeft(rep(df)) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + col("__c") * stride)
      }
      names.foldLeft(keyed) { case (d, nc) =>
        d.withColumn(nc, when(col("__c") === 0, col(nc))
          .otherwise(concat(col(nc), lit("_"), col("__c"))))
      }.drop("__c")
    }

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> Tables.region(spark, src),
      "nation" -> Tables.nation(spark, src),
      "customer" -> shift(Tables.customer(spark, src), Seq("c_name"),
        "c_custkey" -> CustStride),
      "supplier" -> shift(Tables.supplier(spark, src), Seq("s_name"),
        "s_suppkey" -> SuppStride),
      // p_name gets a SUFFIX: every name-prefix/contains filter
      // (`red%`, `%widget%`) keeps matching the copies
      "part" -> shift(Tables.part(spark, src), Seq("p_name"),
        "p_partkey" -> PartStride),
      "orders" -> shift(Tables.orders(spark, src), Nil,
        "o_orderkey" -> OrderStride, "o_custkey" -> CustStride),
      "lineitem" -> shift(Tables.lineitem(spark, src), Nil,
        "l_orderkey" -> OrderStride, "l_partkey" -> PartStride,
        "l_suppkey" -> SuppStride),
      // Tables.events normalizes ts to a micros TimestampType already.
      "events" -> shift(Tables.events(spark, src), Nil,
        "event_id" -> EventStride, "user_id" -> CustStride),
      "documents" -> scaledDocuments(Tables.documents(spark, src), copies),
      "embeddings" -> scaledEmbeddings(Tables.embeddings(spark, src), copies))

    // The doc/vec id-shift transform AND the post-write mintedDups audit
    // both recover the source row as `id mod DocStride` — a source corpus
    // whose ids reach the stride would alias distinct source rows into
    // one copy slot (colliding copy ids, silently corrupted audit
    // groups). Fail loudly before writing anything.
    def requireUnderStride(table: String, df: => DataFrame, key: String): Unit =
      if (only.isEmpty || only.contains(table)) {
        val mx = df.agg(max(col(key))).head().getLong(0)
        require(mx < DocStride,
          s"$table.$key max=$mx >= DocStride=$DocStride: the copy id-shift " +
            "and the mintedDups audit would alias source rows — raise " +
            "DocStride before replicating this corpus")
      }
    requireUnderStride("documents", Tables.documents(spark, src), "doc_id")
    requireUnderStride("embeddings", Tables.embeddings(spark, src), "vec_id")

    // Primary sort key per table: the single output file is written in
    // key order so its 4 MB row groups carry DISJOINT min/max key ranges
    // — parquet zone maps then prune key-range predicates at the scan
    // (the lake layer's sorted/z-order path, exercised by the testbed
    // instead of defeated by it; an unsorted repartition(1) gives every
    // row group the full key span and zero pruning). Also restores
    // byte-reproducibility of regenerated tables: repartition(1) row
    // order depends on shuffle-fetch completion order, sort fixes it.
    // events sorts by ts (event_id is assigned in ts order): time-range
    // scans prune, and a file-replayed stream arrives roughly
    // time-ordered — the production arrival shape.
    val sortKeys: Map[String, Seq[String]] = Map(
      "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey", "l_linenumber"),
      "events" -> Seq("ts", "event_id"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))

    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(destPath)
    val unknown = only -- tables.map(_._1).toSet
    require(unknown.isEmpty, s"unknown table(s): ${unknown.mkString(", ")}")
    tables.filter(t => only.isEmpty || only.contains(t._1))
      .foreach { case (name, df) =>
      // Single file per table, named exactly like the driver layout
      // (<table>.parquet as a FILE — the DuckDB oracle reads it directly).
      // repartition(1), NOT coalesce(1): coalesce collapses the whole
      // rotation pipeline into the one writer task; the shuffle keeps the
      // transform parallel and only the write serial.
      // 4 MB row groups: a parquet ROW GROUP is the minimum scan split,
      // and the r7 files' single ~90 MB group made every sf10 scan
      // single-task (one 26 s decode task vs 21 idle — the "straggler"
      // the round-7 full-suite run hit for 38 min under memory
      // pressure). Small groups cost a little compression but let a
      // 32-core scan actually fan out over the one-file-per-table
      // driver layout.
      val tmp = new Path(destPath, s"_tmp_$name")
      // Row-group size is BYTE-capped (4 MB) AND ROW-capped (~128 groups
      // per table): parquet's block check runs on COMPRESSED bytes, and
      // the PK sort places near-identical template copies adjacently, so
      // compressible tables ballooned to a handful of skewed groups
      // (sf10 documents: 17 groups spanning 724..31,783 rows — scans
      // capped at 17 tasks, the widest group an 8x straggler; measured
      // as pipe_training_set 13.6->49 s). The row cap restores uniform
      // ~n/128 groups — full 32-core fanout with zone maps intact —
      // while the byte cap still bounds incompressible tables
      // (sf10 lineitem: 252 byte-capped groups, row cap never bites).
      val rows = df.count()
      val rowCap = math.max(1024L, math.ceil(rows / 128.0).toLong)
      df.repartition(1)
        .sortWithinPartitions(sortKeys(name).map(col): _*)
        .write.mode("overwrite")
        .option("parquet.block.size", (4 * 1024 * 1024).toString)
        .option("parquet.block.row.count.limit", rowCap.toString)
        .parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no output for $name"))
      val target = new Path(destPath, s"$name.parquet")
      fs.delete(target, false)
      require(fs.rename(part, target),
        s"rename $part -> $target failed; aborting before the tmp delete " +
          "would drop the only copy")
      fs.delete(tmp, true)
      println(s"scaled $name -> $target")
    }
    // Exact collision audit over the WRITTEN output (supersedes the old
    // period-heuristic predictions): a transform-minted duplicate is a
    // pair of copies of the SAME source doc sharing the full text —
    // organic source-corpus dups (which dd_exact needs, and which scale
    // by design) group under different src ids and are not counted.
    // One shuffle of the scaled table; runs only when documents were
    // generated. Same audit for embeddings (the rotation/reversal/sign
    // levels are constructed hash-distinct; this proves it end-to-end).
    def mintedDups(table: String, keyCol: String, payload: Column): Unit = {
      val f = new Path(destPath, s"$table.parquet")
      if (fs.exists(f)) {
        val r = spark.read.parquet(f.toString)
          .withColumn("__src", pmod(col(keyCol), lit(DocStride)))
          .groupBy(col("__src"), payload.as("__payload")).count()
          .filter(col("count") > 1)
          .agg(countDistinct(col("__src")).as("docs"),
            sum(col("count") - 1).as("extra"))
          .collect().head
        if (!r.isNullAt(0) && r.getLong(0) > 0)
          println(s"WARNING: ${r.getLong(0)} source $table rows produced " +
            s"verbatim duplicate copies (${r.getLong(1)} excess rows) — " +
            "rotation collisions (docs shorter than the inner rotation " +
            "count, or all-period-1 words); exact-dup counts at the " +
            "scaled SF are inflated for them")
      }
    }
    if (only.isEmpty || only.contains("documents"))
      mintedDups("documents", "doc_id", col("text"))
    if (only.isEmpty || only.contains("embeddings"))
      mintedDups("embeddings", "vec_id", col("embedding"))
    spark.stop()
  }

  /** `copies` rows per input row, tagged `__c` ∈ [0, copies). */
  private[graft] def replicate(df: DataFrame, copies: Int): DataFrame =
    df.withColumn("__c", explode(lit((0L until copies.toLong).toArray)))

  /** Cyclic left-rotation of an array column by `k` (0 ⇒ identity). */
  private[graft] def rotated(arr: Column, n: Column, k: Column): Column =
    when(k === 0, arr).otherwise(concat(
      slice(arr, k + 1, n - k), slice(arr, lit(1), k)))

  /** The documents replica transform (pure `DataFrame => DataFrame`, so
    * the invariants are spec-testable on tiny in-memory corpora).
    *
    * Word rotation can mint at most n distinct copies of an n-word
    * document, and the driver corpus has a 10-word floor (median 54)
    * — so rotation alone caps at 10 clean copies. Copies factor into
    * c = a·inner + b: the INNER level rotates words (offsets
    * floor(b·n/inner), injective in b for n ≥ inner = 10), and the
    * OUTER level a > 0 cyclically rotates the CHARACTERS of each
    * word — same length, same character multiset, but a disjoint
    * surface vocabulary, so outer copies share almost no shingles
    * with each other or the original (exactly like the embedding
    * rotation: same distribution, unrelated content). The shift is
    * HASH-DERIVED PER WORD VALUE, xxhash64(a, w) mod len(w), not one
    * shared a mod len(w): a shared shift is the identity on a word
    * whenever the word's minimal block period divides Δa, so whole
    * docs repeated between outer levels whenever lcm(word periods) ≤
    * outer−1 — 23% of the corpus at 100 outer levels (sf100). With
    * per-word-value shifts two levels collide only if EVERY distinct
    * word's hash difference vanishes mod its period — unobservable
    * except for docs whose every word has period 1 or whose whole
    * text is one repeated word, which the post-write audit counts
    * exactly. Hashing the word VALUE (not its position) matters:
    * within one level the same word always maps to the same surface
    * form, so each copy's token-frequency structure — vocabulary
    * size, Zipf curve, stopword mass, per-doc TTR — is EXACTLY the
    * source's (a position-keyed shift was measured exploding distinct
    * tokens ~8× at sf10 and with it every token-cardinality
    * aggregate: text_nb_quality 18.8 → 55.3 s, text_zipf 2.5×).
    * (A fixed-stride `7c mod n` inner offset had the same collision
    * disease: it collided whenever n | 7Δc — every 14-word doc
    * collapsed its even copies; the even spread fixed that.)
    * Copy 0 is byte-identical to the source.
    */
  private[graft] def scaledDocuments(docs: DataFrame, copies: Int): DataFrame = {
    val inner = math.min(copies, 10)
    val d = replicate(docs, copies)
      .withColumn("__ws", split(trim(col("text")), "\\s+"))
      .withColumn("__n", size(col("__ws")))
      .withColumn("__b", pmod(col("__c"), lit(inner.toLong)))
      .withColumn("__a", floor(col("__c") / lit(inner.toLong)).cast("int"))
      .withColumn("__k",
        floor(col("__b") * col("__n") / lit(inner))
          .cast("int"))
      .withColumn("__rw", rotated(col("__ws"), col("__n"), col("__k")))
      .withColumn("__cw", when(col("__a") === 0, col("__rw")).otherwise(
        transform(col("__rw"), w => {
          val kw = pmod(xxhash64(col("__a"), w), length(w).cast("long"))
            .cast("int")
          when(kw === 0, w).otherwise(concat(
            w.substr(kw + lit(1), length(w) - kw),
            w.substr(lit(1), kw)))
        })))
      .withColumn("text", when(col("__c") === 0, col("text")).otherwise(
        concat_ws(" ", col("__cw"))))
      .withColumn("doc_id", col("doc_id") + col("__c") * DocStride)
      .withColumn("n_chars", length(col("text")).cast("long"))
    d.drop("__c", "__ws", "__n", "__b", "__a", "__k", "__rw", "__cw")
  }

  /** The embeddings replica transform (pure, spec-testable). Three
    * stacked orthogonal levels: cyclic rotation (n = dim directions),
    * then reversal (×2), then a per-level Rademacher sign flip
    * (×unbounded, hash-distinct patterns).
    *
    * Rotation wraps at n (= 64): copy 64 would repeat copy 0's
    * direction verbatim under a new vec_id, collapsing ANN
    * structure into cos = 1 pairs. The wrap level REVERSES the
    * rotated vector — same norm, same coordinate multiset,
    * distinct direction (reverse∘rotate = rotate∘reverse only for
    * palindromic vectors, which real embeddings are not). The third
    * level (past 128 copies) is a per-level Rademacher SIGN FLIP —
    * coordinate i negates iff xxhash64(level, i) is odd. A ±1
    * diagonal is orthogonal (norms and the coordinate magnitude
    * distribution survive exactly), level 0 is the identity (copies
    * ≤ 128 are byte-identical to the two-level transform), and
    * distinct levels draw independent 64-bit sign patterns, so
    * directions stay hash-distinct — the same "same distribution,
    * unrelated content" contract as rotation and reversal. Negation
    * preserves the element type; the array column's schema is
    * untouched. Copy 0 is byte-identical to the source.
    */
  private[graft] def scaledEmbeddings(emb: DataFrame, copies: Int): DataFrame = {
    val e = replicate(emb, copies)
      .withColumn("__n", size(col("embedding")))
      .withColumn("__k",
        pmod(col("__c"), greatest(col("__n"), lit(1))).cast("int"))
      .withColumn("__r",
        rotated(col("embedding"), col("__n"), col("__k")))
      .withColumn("__a",
        floor(col("__c") / greatest(col("__n"), lit(1))).cast("int"))
      .withColumn("__rv",
        when(pmod(col("__a"), lit(2)) === 0, col("__r"))
          .otherwise(reverse(col("__r"))))
      .withColumn("__sl", floor(col("__a") / 2).cast("long"))
      .withColumn("embedding",
        when(col("__sl") === 0, col("__rv")).otherwise(
          transform(col("__rv"), (x, i) =>
            when(pmod(xxhash64(col("__sl"), i), lit(2L)) === 0L, x)
              .otherwise(-x))))
      .withColumn("vec_id", col("vec_id") + col("__c") * DocStride)
    e.drop("__c", "__n", "__k", "__r", "__a", "__rv", "__sl")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.BarrierOps
import graft.functions.{CosineSimilarity, SimHash64, SortedIntersectCount}

/** Deduplication suite over `documents` / `embeddings`:
  *
  *  - exact (hash-groupBy)                        → `exact`
  *  - word n-gram Jaccard (shingle blocking)      → `ngramJaccard`
  *  - MinHash + LSH banding                       → `minhashLsh`
  *  - SimHash + hamming banding                   → `simhash`
  *  - embedding-cosine near-dup (probe vs corpus) → `embeddingCos`
  *  - near-dup clusters (connected components)    → `components`
  *
  * Scale design: exact dedup groups by a 16-byte digest, never the payload.
  * Exact pairwise Jaccard is the correctness baseline (its shared-shingle
  * blocking join is quadratic in shingle document-frequency); the 100 TB
  * path is MinHash-LSH, whose banded bucket join bounds candidates to
  * near-duplicates, and SimHash, whose 3-of-6 block-combination join bounds
  * hamming candidates. Both are pure Catalyst expressions — explode + hash-agg +
  * equi-join — so they partition and scale like any join.
  */
object Dedup {

  private def trunc4(c: Column): Column = floor(c * lit(1e4)) / lit(1e4)

  private def words(c: Column): Column = split(trim(c), "\\s+")

  /** Sorted distinct 64-bit hashes of each document's word 3-shingles —
    * ONE native codegen'd pass per row ([[graft.functions.ShingleHash64]],
    * bit-identical to the xxhash64-of-concat_ws HOF chain it replaced,
    * which ran interpreted and dominated every shingle operator's scan
    * stage). Downstream never sees shingle STRINGS: candidates, MinHash
    * signatures and verification all run on the longs, and the sorted
    * order is exactly what [[SortedIntersectCount]] consumes.
    */
  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledDocs(Tables.fanout(Tables.documents(spark, dir)))

  private[operators] def shingledDocs(d: DataFrame): DataFrame = {
    d.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        graft.functions.ShingleHash64(col("ws"), 3).as("hs"))
  }

  /** Exact dedup: keep the lowest doc_id of every identical-content group
    * (ON CONFLICT DO NOTHING over a content hash). The shuffle key is the
    * md5 digest — constant width regardless of document size.
    */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    d.select(col("doc_id"), col("lang"), col("source"), md5(col("text").cast("binary")).as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  val exactOracle: String =
    """SELECT doc_id, lang, source FROM (
         SELECT doc_id, lang, source,
                row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         FROM documents) WHERE rn = 1 ORDER BY doc_id"""

  /** Jaccard similarity threshold shared by both candidate strategies. */
  private val JaccT = 0.5

  /** Above this corpus size [[ngramJaccard]] generates candidates from
    * MinHash-LSH banding instead of the exact PPJoin prefix join (see
    * [[ngramJaccard]]). 100k documents keeps every generated gate/bench
    * SF through sf1 on the hash-verified exact side.
    */
  private[operators] val JaccardExactMax = 100000L

  /** Pairwise word-3-gram Jaccard ≥ 0.5 — ADAPTIVE, [[components]]-style:
    * the CANDIDATE strategy switches on corpus size, the verification is
    * always the exact sorted-merge intersection, so precision is 1.0 on
    * either side and reported Jaccard values are exact everywhere.
    *
    *  - ≤ [[JaccardExactMax]] docs: PPJoin prefix-filter candidates
    *    ([[ngramJaccardExact]]) — complete (recall 1.0), the
    *    oracle-verified configuration.
    *  - above: MinHash-LSH banded candidates ([[ngramJaccardLsh]]) — the
    *    published 100 TB corpus path. The prefix join's candidate volume
    *    is Σ_s df_prefix(s)² and its duplicate emission is one row per
    *    SHARED prefix shingle (~|prefix| rows per true pair), which at
    *    sf10 shuffled ~25 GB and blew the bench budget; banding caps
    *    emission at 16 rows per pair and the hot-bucket guard bounds any
    *    degenerate bucket. Recall is the banding curve
    *    1−(1−J⁴)¹⁶ (≈ 0.64 at J = 0.5, ≈ 0.99 at J ≥ 0.7),
    *    spec-floored against the exact path in DedupSpec.
    *
    * `spark.sql.graft.jaccardCandidates` ∈ {exact, lsh} forces a side
    * (Verify pins `exact` during oracle dumps — SparkEntry.oraclePins —
    * so the oracle contract is unconditional at any sweep SF).
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val forced = spark.conf.getOption("spark.sql.graft.jaccardCandidates")
    val useExact = forced match {
      case Some("exact") => true
      case Some("lsh") => false
      // parquet row-count metadata, memoized — at most one
      // footer-only job per (application, dir)
      case _ => Tables.documentCount(spark, dir) <= JaccardExactMax
    }
    graft.StrategyLog.record("dd_ngram_jaccard",
      if (useExact) "exact" else "lsh",
      forced.map(f => Seq[(String, Any)]("forced" -> f)).getOrElse(Seq(
        "docs" -> Tables.documentCount(spark, dir),
        "exactMax" -> JaccardExactMax)): _*)
    val sh = shingled(spark, dir)
    if (useExact) ngramJaccardExact(sh) else ngramJaccardLsh(sh)
  }

  /** The adaptive near-dup pair query over an ARBITRARY (doc_id, text)
    * frame — the composition entry ([[graft.operators.Pipeline]] feeds it
    * the quality+exact SURVIVORS so candidate generation never touches
    * docs the earlier gates already dropped; at the sf100 replica's
    * duplicate density that is the difference between a linear stage and
    * re-paying the whole corpus). The strategy probe is one
    * count of the input frame (text column pruned at the scan);
    * `spark.sql.graft.jaccardCandidates` forces a side exactly as in
    * [[ngramJaccard]].
    */
  private[graft] def ngramJaccardDocs(spark: SparkSession, docs: DataFrame,
      label: String): DataFrame = {
    val forced = spark.conf.getOption("spark.sql.graft.jaccardCandidates")
    val useExact = forced match {
      case Some("exact") => true
      case Some("lsh") => false
      case _ => docs.count() <= JaccardExactMax
    }
    graft.StrategyLog.record(label, if (useExact) "exact" else "lsh",
      forced.map(f => Seq[(String, Any)]("forced" -> f))
        .getOrElse(Seq("exactMax" -> JaccardExactMax)): _*)
    val sh = shingledDocs(docs)
    if (useExact) ngramJaccardExact(sh) else ngramJaccardLsh(sh)
  }

  /** Exact-verification tail shared by both candidate strategies: join the
    * candidates back to the value-sorted 64-bit shingle-hash sets and
    * compute true Jaccard in one [[SortedIntersectCount]] merge pass.
    */
  private[operators] def verifyJaccard(cands: DataFrame, docs: DataFrame): DataFrame =
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("hs").as("sha")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("hs").as("shb")), "doc_b")
      .withColumn("common", SortedIntersectCount(col("sha"), col("shb")).cast("double"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("common") /
          (size(col("sha")) + size(col("shb")) - col("common"))).as("jacc"))
      .filter(col("jacc") >= JaccT)
      .select(col("doc_a"), col("doc_b"), trunc4(col("jacc")).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** Exact (complete-recall) candidates — PPJoin-style pruning:
    *
    *  1. prefix filter — shingles are globally ordered rarest-first; a pair
    *     with Jaccard ≥ t must share a shingle within both prefixes of
    *     length |x| − ⌈t·|x|⌉ + 1, so the candidate join only touches
    *     low-document-frequency shingles (the quadratic blow-up lives in
    *     high-DF shingles, which sit in the suffixes);
    *  2. length filter — min(|x|,|y|) ≥ t·max(|x|,|y|) inside the join;
    *  3. exact verification — surviving candidates re-join their full
    *     shingle sets and compute true Jaccard via [[verifyJaccard]].
    *
    * Semantics are identical to the naive shared-shingle join (the oracle
    * SQL runs that) but the candidate set stays near-linear while shingle
    * document frequencies stay bounded.
    */
  private[operators] def ngramJaccardExact(shingles: DataFrame): DataFrame = {
    val t = JaccT
    // Shingles are 64-bit-hashed up front: every downstream join, sort and
    // intersect runs on longs, not strings. A cross-shingle hash collision
    // (p ~ n²/2^64) could only add a candidate or nudge an intersect count;
    // verification still computes Jaccard over the full per-doc sets.
    val sh = shingles.select(col("doc_id"), explode(col("hs")).as("s"))
    // DF-table join is NOT broadcast-pinned: distinct-shingle cardinality is
    // O(corpus tokens) — billions of rows at 100 TB. Both sides shuffle on
    // the shingle hash; AQE may still broadcast while it genuinely fits.
    val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // One regroup per doc yields BOTH derived forms in one checkpoint:
    //  - `pre`: the PPJoin prefix, in the global rarest-first (df, s) order
    //    (array_sort of (df, s) structs — a per-row sort, cheaper than the
    //    partition-wide window sort it replaces);
    //  - `hs`: the full shingle set sorted by VALUE, the representation
    //    [[SortedIntersectCount]] verifies in one merge pass.
    val docs = sh.join(df, "s")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("arr"))
      .select(
        col("doc_id"),
        size(col("arr")).as("n"),
        sort_array(transform(col("arr"), e => e.getField("s"))).as("hs"),
        transform(col("arr"), e => e.getField("s")).as("rare"))
      .select(
        col("doc_id"), col("n"), col("hs"),
        slice(col("rare"), lit(1),
          (col("n") - ceil(col("n") * t) + 1).cast("int")).as("pre"))
      // feeds three plan branches (both self-join sides + verification) —
      // materialize once
      .barrier()
    val prefix = docs.select(
        col("doc_id"), col("n"), posexplode(col("pre")).as(Seq("pos0", "s")))
      .select(col("doc_id"), col("n"), (col("pos0") + 1).as("pos"), col("s"))
    // PPJoin positional bound: matching at prefix positions (pa, pb) caps
    // the possible overlap at 1 + min(na−pa, nb−pb); pairs that cannot
    // reach the required overlap α = ⌈t/(1+t)·(na+nb)⌉ are dropped before
    // verification.
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) >= greatest(col("a.n"), col("b.n")) * t &&
          (lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))) >=
            ceil((col("a.n") + col("b.n")) * lit(t / (1 + t))))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(cands, docs)
  }

  /** LSH-banded candidates + exact verification — the corpus-scale side
    * of [[ngramJaccard]]. Candidates come from the same 16×4 MinHash
    * banding as [[minhashLsh]] (bucket equi-join, hot-bucket cap), but
    * every candidate is then verified with the TRUE Jaccard over the full
    * shingle-hash sets, so output rows are exact — only recall is
    * probabilistic (the banding curve; see [[ngramJaccard]]).
    *
    * Scale shape: the banded frame is slim (doc_id, n, band, bucket) —
    * arrays never enter the self-join shuffle; duplicate pair emission is
    * ≤ 16 rows per pair (vs ~|prefix| for the exact path) and is absorbed
    * by one hash-agg; verification joins carry each doc's hash set once
    * per surviving pair side.
    *
    * The verification arrays are materialized for the WHOLE corpus in the
    * one standing barrier, deliberately: a candidate-only array build
    * (broadcast the candidate id set into a re-shingle scan, as
    * text_containment does for its probe batch) was tried and measured
    * ~5× SLOWER at sf10, because on a near-dup-heavy corpus the candidate
    * id set IS the corpus (499,994 of 500,000 docs at sf10 — template
    * replicas band together by construction), so the "savings" was a
    * second full shingle scan plus an extra join. Candidate-only arrays
    * only pay when candidates are sparse; a dedup operator cannot assume
    * that — dup-heavy corpora are exactly its production case.
    */
  private[operators] def ngramJaccardLsh(
      shingles: DataFrame, maxBucket: Int = maxLshBucket): DataFrame = {
    val t = JaccT
    val base = shingles.select(
        col("doc_id"), col("hs"),
        graft.functions.MinHashSig(
          transform(col("hs"), h => pmod(h, lit(MinHashP))),
          minHashAs, minHashBs).as("sig"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n"), col("sig"))
      // banded candidates + both verification joins read this
      .barrier()
    val bandedAll = base.select(
      col("doc_id"), col("n"),
      posexplode(bandBuckets(col("sig"))).as(Seq("band", "bucket")))
    val banded = capBuckets(bandedAll, maxBucket, "dd_ngram_lsh_cap")
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) >= greatest(col("a.n"), col("b.n")) * t)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyJaccard(cands, base)
  }

  val ngramJaccardOracle: String =
    """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
                  FROM documents WHERE len(string_split_regex(trim(text), '\s+')) >= 3),
       sh AS (SELECT doc_id,
                unnest(list_distinct([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
                                      FOR i IN generate_series(1, len(ws) - 2)])) AS s
              FROM w),
       sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
                 FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              floor(common * 1.0 / (x.n + y.n - common) * 1e4) / 1e4 AS jaccard
       FROM pairs JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
       WHERE common * 1.0 / (x.n + y.n - common) >= 0.5
       ORDER BY doc_a, doc_b"""

  /** MinHash signatures (64 permutations) + LSH banding (16 bands × 4 rows):
    * candidate pairs are generated by a bucket equi-join per band, then
    * scored by signature agreement. Estimated Jaccard ≥ 0.5 survives.
    *
    * No SQL oracle (the permutation hash family is not portable);
    * correctness is pinned against `ngramJaccard` in DedupSpec.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshDocs(shingled(spark, dir))

  /** Hot-bucket guard: buckets larger than this are dropped from candidate
    * generation. A band bucket only grows past a few hundred members when
    * the corpus carries massive boilerplate/identical text — content the
    * EXACT dedup pass is contractually expected to collapse first (as
    * `pipe_clean_corpus` does). Without the cap one degenerate bucket makes
    * the within-bucket self-join quadratic (10⁶ docs in a bucket = 10¹²
    * candidate pairs) and takes down the stage at scale.
    */
  private val maxLshBucket = 256

  /** The hot-bucket cap applied to a slim (doc_id, …, band, bucket) band
    * frame — with its drops OBSERVED, never silent: `capped_band_rows`
    * (doc×band memberships discarded in over-cap buckets) and
    * `max_bucket` surface through Spark's observed-metrics channel
    * (`QueryExecution.observedMetrics` / any QueryExecutionListener) at
    * zero extra cost (the aggregate rides the existing window pass — no
    * job, no shuffle). `capped_band_rows = 0` certifies the cap changed
    * nothing for that run, i.e. the blocking-exactness claims
    * ([[simhash]]'s pigeonhole guarantee) held unconditionally; a
    * non-zero count names exactly how much candidate mass a
    * template-heavy corpus pushed past the cap.
    */
  private[operators] def capBuckets(bandedAll: DataFrame, maxBucket: Int,
      metric: String): DataFrame =
    bandedAll
      .withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .observe(metric,
        sum(when(col("__bsz") > maxBucket, 1L).otherwise(0L))
          .as("capped_band_rows"),
        max(col("__bsz")).as("max_bucket"))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")

  /** MinHash family shared by [[minhashLshDocs]] and [[ngramJaccardLsh]]:
    * 64 permutations mod P = 2³¹−1, banded 16×4. Fixed odd multipliers/
    * offsets (Knuth multiplicative constants mod P).
    */
  private[operators] val MinHashP = 2147483647L // 2^31 - 1
  private val MinHashPerms = 64
  private val LshBands = 16
  private val LshRows = MinHashPerms / LshBands // 4
  private[operators] val minHashAs =
    (0 until MinHashPerms).map(i => ((2L * i + 1L) * 2654435761L) % MinHashP)
  private[operators] val minHashBs =
    (0 until MinHashPerms).map(i => ((i + 1L) * 40503L * 69069L) % MinHashP)

  /** Per-band bucket ids (length-[[LshBands]] array) from a signature. */
  private[operators] def bandBuckets(sig: Column): Column =
    array((0 until LshBands).map(b =>
      xxhash64((b * LshRows until (b + 1) * LshRows)
        .map(i => element_at(sig, i + 1)): _*)): _*)

  private[operators] def minhashLshDocs(
      shingles: DataFrame, maxBucket: Int = maxLshBucket): DataFrame = {
    val nPerm = MinHashPerms

    // Signature is a pure projection over the per-doc shingle array — no
    // explode, no shuffle — and ONE native codegen'd pass over the array
    // (graft.functions.MinHashSig): the earlier 64 ×
    // array_min(transform(...)) form walked the array 64 times through
    // interpreted HOF eval and allocated 64 intermediate arrays per doc,
    // dominating the query (same lesson as SimHash64).
    val hashed = shingles.select(
      col("doc_id"),
      transform(col("hs"), h => pmod(h, lit(MinHashP))).as("xs"))
    val sigArr = hashed.select(
      col("doc_id"),
      graft.functions.MinHashSig(col("xs"), minHashAs, minHashBs).as("sig"))
      // band explode + both sides of each scoring join read this
      .barrier()
    // The band frame is SLIM (doc_id, band, bucket): the 64-long sig
    // array never enters the bucket-cap window or the self-join shuffle
    // (carrying it cost ~0.4 s at sf0.1 — the round-6 cap's hidden tax,
    // visible as dd_minhash_lsh's 0.76→1.14 s creep); signatures join
    // back onto the deduped candidate pairs instead.
    val bandedAll = sigArr.select(
      col("doc_id"),
      posexplode(bandBuckets(col("sig"))).as(Seq("band", "bucket")))
    // Cap degenerate buckets before the self-join (one count per (band,
    // bucket) — same shuffle key as the join itself), drops observed.
    val banded = capBuckets(bandedAll, maxBucket, "dd_minhash_lsh_cap")
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .join(sigArr.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigArr.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), (acc, v) => acc + v) / lit(nPerm.toDouble)).as("est"))
      .filter(col("est") >= 0.5)
      .select(col("doc_a"), col("doc_b"), trunc4(col("est")).as("est_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Near-duplicate CLUSTERS: connected components over the exact-Jaccard
    * pair graph (a pair list names overlapping pairs, not groups — a chain
    * a~b~c must collapse to ONE cluster with one surviving representative).
    *
    * Pregel-style min-label propagation: every doc starts labeled with its
    * own id; each round sends labels across edges and keeps the minimum;
    * fixpoint when no label changes. The driver loop only orchestrates —
    * each round is one distributed join + hash-agg behind a
    * [[Tables.barrier]] (under a checkpoint barrier lineage is cut each
    * round; under the persist barrier the logical plan grows per round but
    * execution always reads the previous round's cached frame, so set
    * `spark.sql.graft.checkpointDir` for very-high-diameter graphs) — and
    * runs O(component diameter) rounds, which for near-dup
    * clusters (dense cliques of rewrites/boilerplate) is single digits
    * regardless of corpus size. The component id IS the kept doc: min
    * doc_id per cluster, the same keep-lowest rule as [[exact]].
    */
  def components(spark: SparkSession, dir: String): DataFrame =
    // Always labeled fresh from the parquet snapshot. A build-round
    // experiment served this frame from a fingerprinted parquet cache
    // (the skip/split-layout discipline applied to a query RESULT), but a
    // declared query whose timed runs read back their own previous answer
    // measures the filesystem, not the engine — the optimization round's
    // measurement rules treat persisted query outputs keyed on the bench
    // corpus as result caching, so the labeling runs per call and
    // composers amortize it within their own call instead
    // (see [[bestOfCluster]]).
    componentsUncached(spark, dir)

  /** The labeling behind [[components]] — one adaptive pair
    * query + connected components.
    */
  private[operators] def componentsUncached(spark: SparkSession,
      dir: String): DataFrame = {
    // no extra barrier here: componentsFrom materializes the pair list
    // exactly once itself (its strategy probe counts the materialized
    // frame), so the pair query executes once on BOTH sides of the cap
    val pairs = ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    componentsFrom(spark, pairs)
  }

  /** Adaptive execution, the same size-based call a broadcast join makes:
    * the pair graph is the OUTPUT of near-dup filtering — orders of
    * magnitude smaller than the corpus — and when its edges fit in one
    * task's memory, a driver union-find replaces O(diameter) join rounds
    * (each a shuffle + checkpoint) with one pass. The cap bounds what the
    * driver ever holds (edges, not documents — 5M edges ≈ 80 MB of longs,
    * trivial for any driver that runs Spark at all, and sized so even a
    * duplicate-saturated corpus like the sf10 replica, 2.49M pair edges
    * over 500k docs, stays on the one-pass path); above it, the
    * distributed min-label propagation handles graphs of any size. Both
    * paths produce identical labels (spec-pinned).
    */
  private[graft] def componentsFrom(spark: SparkSession, pairs: DataFrame,
      maxDriverEdges: Long = 5000000L): DataFrame = {
    // Strategy probe = count of the BARRIERED pair list: the pair
    // pipeline executes exactly once on BOTH sides of the cap — under it
    // the driver collect re-reads the materialized blocks, over it the
    // contraction shuffle does. (The previous probe, limit(cap+1)
    // collect, was single-execution only UNDER the cap, where the limit
    // never truncates anyway; OVER the cap it ran the pair pipeline
    // nearly to completion just to learn "too big" and the contraction
    // re-ran it in full — measured at sf100 as dd_components 201.7 s
    // against a 77.3 s pair query, the whole super-linear flag. A
    // count-then-collect probe WITHOUT the barrier has the same
    // double-execution disease.) The edge list materializes executor-
    // side in the block manager (disk-backed, never a driver array), so
    // an over-cap graph costs storage proportional to its own size, and
    // the cap still bounds what the DRIVER ever holds. The effective cap
    // clamps to Int.MaxValue − 1 — a driver-local edge array can't hold
    // more — so a larger requested cap routes to the distributed path
    // instead of silently collecting an unbounded edge set (negative =
    // force distributed, probe and barrier skipped).
    val effCap = math.max(-1L, math.min(maxDriverEdges, Int.MaxValue - 1L))
    if (effCap >= 0) {
      val edges = pairs.select(col("doc_a"), col("doc_b")).barrier()
      val n = edges.count()
      if (n <= effCap) {
        graft.StrategyLog.record("dd_components", "driver",
          "edges" -> n, "cap" -> effCap)
        val local = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
        // the returned frame is built from the local array — the barriered
        // edge blocks (~16 bytes/edge in the block manager) have no
        // remaining reader, so release them here instead of leaving them
        // for the caller's release sweep (long-lived sessions outside
        // Bench/Verify would otherwise accumulate them per call)
        Tables.release(edges)
        return componentsLocal(spark, local)
      }
      graft.StrategyLog.record("dd_components", "distributed",
        "edges" -> n, "cap" -> effCap)
      return contractedComponents(spark, edges, effCap)
    }
    graft.StrategyLog.record("dd_components", "distributed",
      "edges" -> "forced", "cap" -> effCap)
    contractedComponents(spark, pairs, effCap)
  }

  /** The over-cap solver: one partition-local union-find CONTRACTION
    * pass, then the tiny cross-partition root graph resolves on the
    * driver (or by min-label propagation if even IT exceeds the cap).
    */
  private def contractedComponents(spark: SparkSession, pairs: DataFrame,
      effCap: Long): DataFrame = {
    // Over the cap: CONTRACT first, then solve the small remainder. A
    // plain min-label propagation costs rounds × (15M-row join + agg +
    // checkpoint) — measured 129 s standalone at sf30, the first SF to
    // cross the cap, ~12× the sf10 driver path for 3× the data. One
    // round of PARTITION-LOCAL union-find removes almost all of that:
    // each partition collapses its edge slice to (node → local root)
    // in one mapPartitions pass (the pair query executes ONCE, through
    // this shuffle), and only CROSS-partition adjacency survives into
    // the root graph — nodes seen by several partitions link their
    // local roots. Near-dup clusters are small and mostly
    // partition-local, so the root graph is orders of magnitude smaller
    // than the pair graph and normally resolves on the driver; a root
    // graph still over the cap falls back to the min-label propagation,
    // now over contracted edges. Labels are identical to the driver
    // path by construction: local roots merge min-wards, the global min
    // doc of a component is its own local root wherever it appears, so
    // the component id is still the min doc_id (spec-pinned equal).
    import spark.implicits._
    val nodeRoot = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .repartition(col("doc_a"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        // keys copied out first: path compression rewrites map VALUES
        // mid-iteration, which a live map iterator must not observe
        val ks = parent.keys.toArray
        ks.iterator.map(n => (n, find(n)))
      }
      .toDF("doc_id", "root")
      .barrier() // read twice: root-graph extraction + the final join back
    // a node seen by k partitions links its k local roots (star on the
    // minimum — min-wards like every merge here)
    val rootEdges = nodeRoot.groupBy(col("doc_id"))
      .agg(collect_set(col("root")).as("rs"))
      .filter(size(col("rs")) > 1)
      .select(array_min(col("rs")).as("doc_a"), explode(col("rs")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
    val rootHead =
      if (effCap < 0) Array.empty[org.apache.spark.sql.Row]
      else rootEdges.limit((effCap + 1L).toInt).collect()
    val rootLabels =
      if (effCap >= 0 && rootHead.length <= effCap)
        componentsLocal(spark,
          rootHead.map(r => (r.getLong(0), r.getLong(1))))
      else labelPropagation(spark, rootEdges)
    // roots with no cross-partition adjacency label themselves
    val out = nodeRoot
      .join(rootLabels.withColumnRenamed("doc_id", "root"), Seq("root"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("root")).as("component"))
      .groupBy(col("doc_id")).agg(min(col("component")).as("component"))
      .orderBy("doc_id")
    out
  }

  /** Min-label propagation over an undirected pair list — the base-case
    * solver for a contracted root graph that STILL exceeds the driver
    * cap. Rounds = component diameter; the contraction in
    * [[componentsFrom]] keeps both the edge count and the diameter small
    * before this ever runs.
    */
  private def labelPropagation(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val pb = pairs.barrier()
    val edges = pb.union(pb.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").barrier()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("lab", col("doc_id"))
    // Labels only ever decrease, so the label sum is a strictly decreasing
    // convergence witness: one cheap aggregate per round replaces a
    // join-based changed-row count. Decimal(38) so the witness can't
    // overflow on large id spaces.
    def sumOf(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lab").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = sumOf(labels)
    Tables.release(pb) // `edges` is materialized now and never re-reads it
    // an EMPTY edge list (a fully partition-local contraction under a
    // forced-distributed cap) has nothing to propagate: sum-of-empty is
    // null, and the schema-correct empty label frame is the answer
    if (prevSum == null)
      return labels.select(col("doc_id"), col("lab").as("component"))
    var rounds = 0
    var converged = false
    while (!converged && rounds < 50) {
      // one round = propagate across edges, union the current labels, keep
      // the per-node minimum: a single join + single hash-agg
      val next = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst").as("doc_id"), col("lab"))
        .unionByName(labels)
        .groupBy(col("doc_id")).agg(min(col("lab")).as("lab"))
        .barrier()
      val s = sumOf(next) // materializes `next` before the old frame goes
      // the superseded round's blocks are dead once `next` is materialized
      // — release them so a long propagation doesn't hoard the block
      // manager (no-op on the un-barriered round-0 frame)
      Tables.release(labels)
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      rounds += 1
    }
    // the result reads only the last round's frame, already materialized
    // (a checkpoint cut its lineage; the cache manager keeps a loaded
    // persisted frame when its inputs are dropped)
    Tables.release(edges)
    // Unconverged labels are WRONG labels (a >50-hop chain would be split
    // into several clusters) — fail loudly rather than under-deduplicate.
    if (!converged)
      throw new IllegalStateException(
        s"component propagation did not converge in $rounds rounds " +
          "(pair-graph diameter exceeds the cap); raise the round cap")
    labels.select(col("doc_id"), col("lab").as("component"))
  }

  /** Driver union-find over a bounded edge list — semantically identical
    * to the distributed propagation (component id = min doc_id), used
    * only under the `components` edge cap.
    */
  private def componentsLocal(spark: SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // roots were merged min-wards, so find() is already the min doc_id
    parent.keys.toSeq.sorted
      .map(d => (d, find(d)))
      .toDF("doc_id", "component")
      .orderBy("doc_id")
  }

  val componentsOracle: String =
    """WITH RECURSIVE p AS (
         %s
       ),
       e AS (SELECT doc_a AS src, doc_b AS dst FROM p
             UNION ALL SELECT doc_b, doc_a FROM p),
       reach(doc_id, lab) AS (
         SELECT DISTINCT src, src FROM e
         UNION
         SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.doc_id
       )
       SELECT doc_id, min(lab) AS component FROM reach
       GROUP BY doc_id ORDER BY doc_id""".format(
      "SELECT doc_a, doc_b FROM (" + ngramJaccardOracle
        .replace("ORDER BY doc_a, doc_b", "") + ")")

  /** Quality-aware cluster canonicalization: for every near-dup cluster
    * ([[components]]), keep the HIGHEST-QUALITY copy instead of the
    * lowest id — real pipelines collapse duplicate families toward the
    * cleanest exemplar, not an arbitrary one. Composition: component
    * labels join the per-doc quality score and ONE two-phase hash
    * aggregate per cluster picks the keeper and counts members — top-1
    * is `max` of the ordering struct (quality desc, doc_id asc via
    * negation; ties are exact because quality is already truncated to 4
    * decimals on both engines), so keeper + size cost a single
    * map-combined shuffle over the members instead of a heap pass plus
    * a size pass plus their join (measured as ~95 s of linear member
    * passes at sf100 in the r12 shape).
    */
  def bestOfCluster(spark: SparkSession, dir: String): DataFrame = {
    import graft.Tables.BarrierOps
    // The labels feed two plan branches (the member prune and the final
    // keeper join) — materialize once or the whole pair pipeline runs
    // twice. The barriered frame's count doubles as the broadcast probe.
    val comp = components(spark, dir).barrier()
    val nMembers = comp.count()
    // Members — docs in ≥1 near-dup pair — are orders of magnitude fewer
    // than the corpus, so quality math runs on THEM only: prune the
    // documents scan with a member join BEFORE the word-split/regex
    // projection instead of scoring every doc and joining after. Under
    // the probe bound the member list rides a broadcast hash join (≤
    // ~160 MB built, no corpus shuffle); an extraordinarily dense pair
    // graph falls back to a shuffled join rather than an OOM-sized
    // broadcast.
    val small = nMembers <= 20000000L
    graft.StrategyLog.record("dd_best_of_cluster",
      if (small) "broadcast" else "shuffle", "members" -> nMembers)
    def pin(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val docs = graft.Tables.fanout(graft.Tables.documents(spark, dir))
      .join(pin(comp.select(col("doc_id"))), "doc_id")
      .select(col("doc_id"), col("text"))
    val q = TextOps.qualityScoresDocs(docs).select(col("doc_id"), col("quality"))
    q.join(pin(comp), "doc_id")
      .groupBy(col("component"))
      .agg(
        max(struct(col("quality"), (-col("doc_id")).as("nd"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("component"), (-col("best.nd")).as("keep_doc"),
        col("best.quality").as("quality"), col("n_members"))
      .orderBy("component")
  }

  val bestOfClusterOracle: String = {
    // derive, don't duplicate: the components CTE body is exactly
    // componentsOracle (nested as a subquery), same for quality
    val comp = "(" + componentsOracle.replace("ORDER BY doc_id", "") + ")"
    val quality = "(" + graft.operators.TextOps.qualityOracle
      .replace("ORDER BY doc_id", "") + ")"
    s"""WITH comp AS (SELECT * FROM $comp),
       q AS (SELECT doc_id, quality FROM $quality),
       j AS (SELECT comp.component, comp.doc_id, q.quality
             FROM comp JOIN q ON q.doc_id = comp.doc_id),
       r AS (SELECT *,
               row_number() OVER (PARTITION BY component
                                  ORDER BY quality DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY component) AS n_members
             FROM j)
       SELECT component, doc_id AS keep_doc, quality,
              CAST(n_members AS BIGINT) AS n_members
       FROM r WHERE rn = 1 ORDER BY component"""
  }

  /** Exact-duplicate cluster report: one row per content-hash group with
    * more than one member — the "what did dedup remove" audit view
    * ([[exact]] keeps the representatives; this names the clusters). The
    * aggregation runs on the 16-byte digest, so at 100 TB the shuffle
    * carries (digest, doc_id, lang) rows, never document text.
    */
  def exactClusters(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), md5(col("text").cast("binary")).as("h"))
      .groupBy(col("h"))
      .agg(
        min(col("doc_id")).as("rep_doc"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("lang")).as("n_langs"))
      .filter(col("n_copies") > 1)
      .select(col("rep_doc"), col("n_copies"), col("n_langs"))
      .orderBy("rep_doc")

  val exactClustersOracle: String =
    """SELECT min(doc_id) AS rep_doc, count(*) AS n_copies,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       FROM documents GROUP BY md5(text)
       HAVING count(*) > 1 ORDER BY 1"""

  /** Incremental corpus dedup: a NEW ingest batch deduped against the
    * EXISTING corpus — the daily-ingest shape at 100 TB. The history side
    * is ONLY its fingerprint column (16 bytes/doc, the persisted dedup
    * index a real lake maintains as a bucketed table — never the text);
    * the batch dedups within itself first (keep the lowest doc_id per
    * fingerprint), then a left-anti join on the fingerprint drops
    * everything the corpus already holds. Both joins shuffle on the
    * digest, so cost is O(batch + index), never O(corpus text).
    *
    * The batch is built deterministically to exercise the real failure
    * modes: fresh docs (doc_id % 5 = 0), re-crawled corpus docs under
    * NEW ids (+1,000,000 — the same page fetched again), and an
    * intra-batch double-submit (+2,000,000).
    */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(Tables.documents(spark, dir))
    def fp(c: Column): Column =
      md5(regexp_replace(lower(trim(c)), "\\s+", " ").cast("binary"))
    val base = d.select(col("doc_id"), col("lang"), col("source"),
      fp(col("text")).as("fp"))
    val corpusIndex = base.filter(col("doc_id") % 5 =!= 0)
      .select(col("fp")).distinct()
    val batch = base.filter(col("doc_id") % 5 === 0)
      .unionByName(base.filter(col("doc_id") % 7 === 1)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(base.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    batch.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .join(corpusIndex, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("fp"))
      .orderBy("doc_id")
  }

  val incrementalOracle: String =
    """WITH f AS (
         SELECT doc_id, lang, source,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents),
       corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 <> 0),
       batch AS (
         SELECT * FROM f WHERE doc_id % 5 = 0
         UNION ALL
         SELECT doc_id + 1000000, lang, source, fp FROM f WHERE doc_id % 7 = 1
         UNION ALL
         SELECT doc_id + 2000000, lang, source, fp FROM f WHERE doc_id % 10 = 0),
       bd AS (
         SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         FROM batch)
       SELECT doc_id, lang, source, fp FROM bd
       WHERE rn = 1 AND fp NOT IN (SELECT fp FROM corpus)
       ORDER BY doc_id"""

  /** SimHash block widths: 64 bits in 6 blocks. Hamming ≤ 3 flips touch
    * at most 3 blocks, so some 3 of the 6 are untouched — every true
    * pair shares at least one 3-block combination key (pigeonhole).
    */
  private val SimHashBlockWidths = Seq(11, 11, 11, 11, 10, 10)

  /** The 20 = C(6,3) combination keys for one 64-bit signature, as an
    * array<long> (one xxhash64 of the combo's three block values each).
    * This is the Manku–Jain–Sarma (WWW'07) table layout: a ~32-bit
    * effective key makes random collisions ~n²/2³² — negligible — where
    * the previous 4×16-bit single-block keys collided at p = 1/65536
    * per band and went quadratic past ~10⁵ docs (the 16.8× sf10 flag).
    */
  private[operators] def simhashCombos(sim: Column): Column = {
    val offsets = SimHashBlockWidths.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftright(sim, offsets(i))
        .bitwiseAND(lit((1L << SimHashBlockWidths(i)) - 1L))
    val combos = (0 until 6).combinations(3).toSeq
    array(combos.zipWithIndex.map { case (c, id) =>
      xxhash64(lit(id) +: c.map(block): _*)
    }: _*)
  }

  /** 64-bit SimHash over word hashes + 3-of-6 block-combination blocking;
    * pairs at hamming distance ≤ 3 are near-duplicates. Candidate
    * generation is EXACT for the hamming radius (pigeonhole over the
    * block combos — see [[simhashCombos]]) ON BUCKETS BELOW THE CAP: the
    * hot-bucket guard (as in [[minhashLshDocs]]) drops combo buckets
    * past `maxLshBucket` members, and a true pair whose EVERY shared
    * combo bucket is over-cap is lost with them. A bucket only grows
    * that large on mass-near-identical text — content exact dedup is
    * contractually expected to collapse first — and the drop is never
    * silent: [[capBuckets]] observes `capped_band_rows`/`max_bucket` per
    * run, so `capped_band_rows = 0` (the normal case) certifies the
    * pigeonhole guarantee held unconditionally. The final `bit_count`
    * filter re-verifies every candidate, so blocking never ADDS a false
    * pair regardless. No SQL oracle (hash family not portable);
    * spec-pinned against `ngramJaccard` and the combo-cover guarantee is
    * property-pinned in KernelPropertySpec.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(Tables.documents(spark, dir))
    // Signature as a pure projection (like MinHash above): hash the word
    // array once, then one native codegen'd pass folds all 64 bit-votes
    // (graft.functions.SimHash64) — no explode, no shuffle until the band
    // join. The earlier 64-separate-`aggregate` formulation walked the
    // array 64× through interpreted HOF eval and cost 15 s at sf0.1.
    val hs = d.select(col("doc_id"),
      transform(words(col("text")), w => xxhash64(w)).as("hs"))
    val sig = hs.select(col("doc_id"), SimHash64(col("hs")).as("sim"))
      // band explode + both scoring joins read this — materialize once
      .barrier()
    // slim band frame (doc_id, band, bucket) — the signature joins back
    // onto deduped candidates, as in [[minhashLshDocs]]
    val bandedAll = sig.select(
      col("doc_id"),
      posexplode(simhashCombos(col("sim"))).as(Seq("band", "bucket")))
    val banded = capBuckets(bandedAll, maxLshBucket, "dd_simhash_cap")
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cands
      .join(sig.select(col("doc_id").as("doc_a"), col("sim").as("sim_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sim").as("sim_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Corpus-scale embedding near-dup: the ALL-PAIRS semantic-dedup pass
    * [[embeddingCos]] cannot be (its probe side must stay small enough to
    * broadcast). Blocking comes from the IVF coarse quantizer: every
    * vector is assigned to its `nprobe = 2` nearest cells (multi-probe, so
    * near-dups straddling a cell boundary still land in a shared cell),
    * and candidate pairs are generated by a cell equi-join — candidates
    * per vector are bounded by cell occupancy, never corpus size. Each
    * candidate is then verified with the exact native cosine, so
    * precision is 1.0 by construction and the only approximation is
    * recall (pairs whose two cells are all disjoint), spec-floored
    * against the exact all-pairs baseline in DedupSpec.
    *
    * The cell count SCALES with the corpus (max(16, n/256)) so occupancy
    * — and with it candidates-per-vector and the pair join's output —
    * stays CONSTANT as data grows: a fixed cell count would make the
    * within-cell join quadratic again one decade up. The residual
    * super-constant terms are the flat quantizer's TRAINING (k centroids
    * on an 8·k sample — quadratic in the cell count) and the assignment
    * (n × cells distance evals); past [[FlatIvfCellMax]] cells the SAME
    * seam ([[coarseCells]]) swaps in the two-level IMI quantizer
    * ([[graft.functions.ImiCells]]): √cells sub-centroids per half on a
    * fixed-size sample, so training is sub-second and per-vector
    * assignment flat in the product cell count.
    * `spark.sql.graft.embBlocking` ∈ {ivf, imi} forces a side (DedupSpec
    * pins the forced-IMI drop soundness and recall floor against the
    * same exact baseline as the IVF side).
    *
    * No SQL oracle: the k-means quantizer is not SQL-portable.
    */
  /** Cell count above which the scaling-cell blocking operators swap the
    * flat IVF coarse quantizer for the two-level IMI one. The binding
    * constraint is TRAINING, not assignment: flat Lloyd's trains k
    * centroids on an 8·k sample — O(k²·dim·restarts·iters) driver-side
    * FLOPs that grow QUADRATICALLY as the cell count scales with the
    * corpus (measured: 93.8 s cold at 2 343 cells / 600 k vectors, sf30 —
    * 18× the 5 s the rest of dd_semdedup costs), while IMI trains 2·√k
    * sub-centroids on a fixed 4 096 sample (sub-second at any corpus) and
    * assigns with √k + √k distance evals instead of k. At the 256-vector
    * occupancy target, 512 cells ≈ 131 k vectors; flat training at the
    * cap is a one-time ~2 s. (This replaces the former 10⁷-vector
    * `EmbBlockedImiMin`, which considered only assignment cost and left
    * training quadratic through the 10⁵–10⁷ regime.)
    */
  private[operators] val FlatIvfCellMax = 512

  /** The blocking quantizer every scaling-cell embedding operator shares
    * ([[embeddingCosBlocked]], [[semDedup]]'s blocked side): flat IVF up
    * to [[FlatIvfCellMax]] cells, two-level IMI past it — the SAME
    * n/256 product-cell occupancy target either way, so downstream pair
    * joins see identical candidate bounds. Returns the multi-probe cells
    * column (nearest first) and the choice name for the strategy log.
    */
  private def coarseCells(e: DataFrame, n: Long, probe: Int,
      cacheKey: String, forced: Option[String],
      imiProbe: Option[Int] = None): (Column, String) = {
    val nCells = math.max(16, (n / 256).toInt)
    val useImi = forced match {
      case Some("imi") => true
      case Some(_) => false // "ivf": pin the flat side for specs/audits
      case None => nCells > FlatIvfCellMax
    }
    if (useImi) {
      val kHalf = math.max(4, math.ceil(math.sqrt(n / 256.0)).toInt)
      val (ca, cb) = graft.functions.IvfIndex.imiCentroids(
        e, "embedding", kHalf, cacheKey = cacheKey,
        sampleCap = math.max(4096, 16 * kHalf))
      // Probe-count trade, measured at sf10 (200k vecs, 784 cells):
      // product cells split near-dup pairs across boundaries more often
      // than flat cells (independent-half quantization), so IMI probe 2
      // finds 73% of flat-2-probe's verified pairs — but probe 3 finds
      // 143% of them at the same candidate-join cost. Callers whose
      // DOWNSTREAM cost is bounded (per-vector aggregates) pass
      // imiProbe = probe+1 and buy the extra recall for free; callers
      // that EMIT the pairs keep parity (each found pair is an output
      // row — at sf30's dup density probe 3 doubles the output and its
      // dedup+sort cost with it).
      (graft.functions.ImiCells(col("embedding"), ca, cb,
        imiProbe.getOrElse(probe)), "imi")
    } else {
      val cents = graft.functions.IvfIndex.centroids(
        e, "embedding", nCells, cacheKey = cacheKey,
        sampleCap = math.max(4096, 8 * nCells))
      (graft.functions.NearestCells(col("embedding"), cents, probe), "ivf")
    }
  }

  def embeddingCosBlocked(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.fanout(Tables.embeddings(spark, dir))
    // memoized footer-only count of the RAW table (counting the fanned
    // frame would execute its repartition shuffle just to count)
    val n = Tables.embeddingCount(spark, dir)
    val forcedQ = spark.conf.getOption("spark.sql.graft.embBlocking")
    val (cellsOf, choice) = coarseCells(e, n, 2, s"$dir#cosdedup", forcedQ)
    graft.StrategyLog.record("dd_embedding_blocked", choice,
      forcedQ.map(f => Seq[(String, Any)]("forced" -> f)).getOrElse(Seq(
        "vecs" -> n, "cellMax" -> FlatIvfCellMax)): _*)
    val assigned = e.select(col("vec_id"), col("embedding"),
        explode(cellsOf).as("cell"))
      // both self-join sides read the assignment — materialize once
      .barrier()
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        CosineSimilarity(col("a.embedding"), col("b.embedding")).as("cos"))
      // cos is deterministic per pair, so multi-probe duplicates pass or
      // fail together: filter FIRST, then dedup only the survivors — the
      // dedup shuffle carries near-dup pairs, not the discarded majority
      .filter(col("cos") >= 0.3)
      .dropDuplicates("vec_a", "vec_b")
      .select(col("vec_a"), col("vec_b"), trunc4(col("cos")).as("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup as
    * real curation stacks run it at corpus scale: k-means clusters the
    * embedding space, and near-duplicate pruning happens only WITHIN each
    * cluster (the clusters are the blocking structure; cross-cluster
    * pairs are never generated). The keep rule is the paper's greedy one:
    * a vector is dropped iff some LOWER-id vector in its cluster is
    * within the cosine threshold — deterministic, single-pass, and each
    * duplicate chain keeps exactly its lowest id.
    *
    * Composition, not new machinery: the cluster assignment IS
    * [[Similarity.kmeans]] (exact-integer Lloyd's, oracle-unrollable),
    * and the within-cluster verification is [[embeddingCosBlocked]]'s
    * exact-cosine shape — which makes this ITERATIVE + QUADRATIC-local
    * pipeline hash-verifiable end-to-end against DuckDB.
    *
    * Scale shape: the only corpus-wide operations are the clustering and
    * the cluster equi-self-join, whose candidate count is Σ_c n_c² —
    * bounded by cluster OCCUPANCY, not corpus size. Occupancy only stays
    * bounded if the cluster count grows with the corpus (SemDeDup uses
    * ~11k clusters at 100M docs), so the operator is ADAPTIVE like
    * [[components]]: up to [[SemDedupKmeansMax]] vectors it runs the
    * exact k = 8 Lloyd's whose 4 rounds DuckDB can unroll (the
    * hash-verified configuration — every gate SF lands here); past the
    * cutoff the same keep rule runs on the shared [[coarseCells]]
    * 2-probe blocking (flat IVF with cell count max(16, n/256), IMI past
    * [[FlatIvfCellMax]] cells), keeping BOTH the pair join and the
    * quantizer training linear at any scale (the drop rule is SOUND on
    * any side: a dropped vector provably has a lower-id exact-cosine
    * near-dup; blocking only affects which near-dups are FOUND).
    * DedupSpec forces and pins the sides via
    * `spark.sql.graft.semdedupBlocking` ∈ {kmeans, ivf, imi}.
    */
  /** Above this corpus size the keep rule runs on IVF-cell blocking
    * instead of the oracle-composable k = 8 kmeans (see [[semDedup]]).
    */
  private[operators] val SemDedupKmeansMax = 2048L

  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.fanout(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"))
    // Strategy pick, [[components]]-style: the verified configuration
    // (fixed k = 8 Lloyd's — the only shape DuckDB can unroll) keeps
    // per-cluster occupancy bounded only while the corpus is small; past
    // the cutoff the SAME keep rule runs on [[embeddingCosBlocked]]'s
    // occupancy-constant IVF blocking (2-probe, adaptive cell count), so
    // the pair join stays linear at any scale. `spark.sql.graft.
    // semdedupBlocking` ∈ {kmeans, ivf, imi} forces a side for
    // specs/audits.
    // memoized footer-only count serves both the strategy pick and the
    // IVF cell count (a forced-kmeans run never pays even the first one)
    lazy val nVecs = Tables.embeddingCount(spark, dir)
    val forcedSide = spark.conf.getOption("spark.sql.graft.semdedupBlocking")
    val useKmeans = forcedSide match {
      case Some("kmeans") => true
      case Some(_) => false // "ivf" | "imi": pin the blocked side
      case _ => nVecs <= SemDedupKmeansMax
    }
    val (assigned, pairs) =
      if (useKmeans) {
        graft.StrategyLog.record("dd_semdedup", "kmeans",
          forcedSide.map(f => Seq[(String, Any)]("forced" -> f)).getOrElse(Seq(
            "vecs" -> nVecs, "kmeansMax" -> SemDedupKmeansMax)): _*)
        val assign = Similarity.kmeans(spark, dir)
          .select(col("vec_id"), col("cluster"))
        val v = e.join(assign, "vec_id")
          .barrier() // both sides of the within-cluster self-join read this
        val p = v.as("a")
          .join(v.as("b"),
            col("a.cluster") === col("b.cluster") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("lo"), col("b.vec_id").as("vec_id"),
            CosineSimilarity(col("a.embedding"), col("b.embedding")).as("cos"))
          .filter(col("cos") >= 0.3)
        (v.select(col("vec_id"), col("cluster")), p)
      } else {
        // imiProbe = 3: semDedup's output is one verdict per vector (the
        // pair stream collapses inside count_distinct), so the extra
        // probe's recall is nearly free here — unlike the pair-emitting
        // embeddingCosBlocked (see [[coarseCells]])
        val (cellsOf, choice) = coarseCells(e, nVecs, 2, s"$dir#semdedup",
          forcedSide.filter(_ != "kmeans"), imiProbe = Some(3))
        graft.StrategyLog.record("dd_semdedup", choice,
          forcedSide.map(f => Seq[(String, Any)]("forced" -> f)).getOrElse(Seq(
            "vecs" -> nVecs, "kmeansMax" -> SemDedupKmeansMax,
            "cellMax" -> FlatIvfCellMax)): _*)
        // barrier BEFORE the multi-probe explode: one row per vector, so
        // the assignment output needs no dropDuplicates, and each
        // self-join side re-derives the (cheap, shuffle-free) explode
        // from the materialized frame
        val withCells = e.select(col("vec_id"), col("embedding"),
            cellsOf.as("cells"))
          .barrier()
        val a = withCells.select(col("vec_id"), col("embedding"),
          explode(col("cells")).as("cell"))
        val p = a.as("a")
          .join(a.as("b"),
            col("a.cell") === col("b.cell") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("lo"), col("b.vec_id").as("vec_id"),
            CosineSimilarity(col("a.embedding"), col("b.embedding")).as("cos"))
          // cos is deterministic per pair, so multi-probe duplicates pass
          // or fail together: filter, then let the DOWNSTREAM aggregate's
          // count_distinct absorb them — no pair-level dropDuplicates
          // shuffle (the 16.9× sf1→sf10 step of round 7 was exactly that
          // exchange re-shuffling every surviving pair)
          .filter(col("cos") >= 0.3)
        (withCells.select(col("vec_id"),
          col("cells").getItem(0).as("cluster")), p)
      }
    // count_distinct(lo): duplicate (lo, vec_id) emissions from multi-probe
    // collapse inside this one aggregate (partial distinct map-side); on
    // the kmeans side pairs are already unique, so it equals count(*) —
    // the oracle's shape
    val dups = pairs.groupBy(col("vec_id"))
      .agg(count_distinct(col("lo")).as("n_dups_lower"), max(col("cos")).as("mc"))
    assigned.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_dups_lower"), lit(0L)).as("n_dups_lower"),
        trunc4(col("mc")).as("max_cos"),
        col("mc").isNull.as("keep"))
      .orderBy("vec_id")
  }

  val semDedupOracle: String =
    """WITH km AS (%s),
       v AS (SELECT e.vec_id, e.embedding, k.cluster
             FROM embeddings e JOIN km k USING (vec_id)),
       p AS (SELECT b.vec_id AS vec_id,
               list_sum([(a.embedding[i]::DOUBLE) * (b.embedding[i]::DOUBLE)
                         FOR i IN generate_series(1, len(a.embedding))])
               / (sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN a.embedding]))
                  * sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN b.embedding])))
               AS cos
             FROM v a JOIN v b
               ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
       agg AS (SELECT vec_id, count(*) AS n_dups_lower, max(cos) AS mc
               FROM p WHERE cos >= 0.3 GROUP BY 1)
       SELECT v.vec_id, v.cluster,
         CAST(coalesce(a.n_dups_lower, 0) AS BIGINT) AS n_dups_lower,
         floor(a.mc * 1e4) / 1e4 AS max_cos,
         (a.vec_id IS NULL) AS keep
       FROM v LEFT JOIN agg a USING (vec_id) ORDER BY v.vec_id"""
      .format(Similarity.kmeansOracle)

  /** Embedding-cosine near-dup: a probe batch (vec_id < 100) checked
    * against the whole corpus — the incremental-ingest dedup shape. The
    * probe side is broadcast; the corpus is scanned once.
    */
  def embeddingCos(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val probe = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val corpus = Tables.fanout(e).select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    broadcast(probe)
      .join(corpus, col("probe_id") < col("cand_id"))
      .select(col("probe_id"), col("cand_id"), CosineSimilarity(col("pe"), col("ce")).as("cos"))
      .filter(col("cos") >= 0.3)
      .select(col("probe_id"), col("cand_id"), trunc4(col("cos")).as("cosine"))
      .orderBy("probe_id", "cand_id")
  }

  val embeddingCosOracle: String =
    """WITH c AS (
         SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
           list_sum([(a.embedding[i]::DOUBLE) * (b.embedding[i]::DOUBLE)
                     FOR i IN generate_series(1, len(a.embedding))])
           / (sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN a.embedding]))
              * sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN b.embedding]))) AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 100)
       SELECT probe_id, cand_id, floor(cos * 1e4) / 1e4 AS cosine
       FROM c WHERE cos >= 0.3 ORDER BY probe_id, cand_id"""

  /** Tokens per duplicated-window union. Docs shorter than [[SpanW]]
    * carry no window and are excluded from the report (they cannot hold a
    * ≥W-token duplicated run by definition).
    */
  private[operators] val SpanW = 15

  /** Exact repeated-span detection — the "exact substring" dedup of
    * Lee et al., *Deduplicating Training Data Makes Language Models
    * Better* (ACL 2022), re-expressed for a shuffle engine. Their
    * suffix-array scan is single-machine; the distributed equivalence is:
    * any duplicated token run of length ≥ W contains a duplicated W-token
    * window, so sliding a W-window fingerprint over every document and
    * counting corpus-wide window multiplicity finds exactly the documents
    * with ≥W-token verbatim overlap (with any document, themselves
    * included — self-repetition is duplication too). Per doc: total
    * windows, duplicated windows, and the token count of the UNION of
    * duplicated windows (sorted positions, overlap-merged in one fold) —
    * the span budget an excision pass would cut.
    *
    * Scale shape: the only corpus-wide shuffle carries (md5, doc_id, pos)
    * — constant-width TRUE 16-byte digests (`unhex(md5(...))`: Spark's
    * md5 yields the 32-char hex STRING, ~44 B a row as a shuffle key;
    * the unhex halves the exchange width and compares 16 raw bytes.
    * md5 rather than xxhash keeps multiplicity counts collision-free at
    * any corpus size; the digest never appears in the output, so the
    * DuckDB oracle keeps its own hex form).
    * Window multiplicity is a two-phase count aggregate, so map-side
    * combine absorbs hot boilerplate windows before the exchange; the
    * duplicated-window filter is a semi join on the digest; the interval
    * union folds per-doc sorted positions inside one hash aggregate —
    * the per-doc state is bounded by document length, which a training
    * pipeline caps at chunking time ([[graft.operators.TextOps.chunk]]).
    * No reference analog (the indexer stores events, not corpora); this
    * is the LLM-pipeline surface.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val W = SpanW
    val d = Tables.fanout(Tables.documents(spark, dir))
    val wins = d.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= W)
      .select(col("doc_id"), size(col("ws")).as("n_toks"),
        posexplode(transform(
          sequence(lit(1), size(col("ws")) - (W - 1)),
          i => unhex(md5(array_join(slice(col("ws"), i, lit(W)), " "))))))
      .withColumnRenamed("col", "h")
      // multiplicity count, per-doc totals and the semi-join probe all
      // read this — materialize the corpus-wide explode once
      .barrier()
    val tot = wins.groupBy(col("doc_id"))
      .agg(first(col("n_toks")).as("n_toks"), count(lit(1)).as("n_windows"))
    val dupHashes = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1).select(col("h"))
    // union of [p, p+W) intervals over sorted dup positions: each
    // consecutive gap contributes min(W, next-prev), plus W for the last
    val dup = wins.join(dupHashes, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"),
        sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), col("n_dup_windows"),
        (aggregate(
          zip_with(
            slice(col("ps"), lit(1), size(col("ps")) - 1),
            slice(col("ps"), lit(2), size(col("ps")) - 1),
            (a, b) => least(b - a, lit(W))),
          lit(0), (acc, x) => acc + x) + lit(W)).cast("long").as("n_dup_tokens"))
    tot.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        (floor(coalesce(col("n_dup_tokens"), lit(0L)) * lit(1e4) / col("n_toks"))
          / lit(1e4)).as("dup_ratio"))
      .orderBy("doc_id")
  }

  val dupSpansOracle: String =
    """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
                  FROM documents),
       wins AS (SELECT doc_id, n_toks, u.pos AS pos, u.h AS h FROM (
                  SELECT doc_id, len(ws) AS n_toks,
                    unnest([{'pos': i - 1,
                             'h': md5(array_to_string(ws[i : i + 14], ' '))}
                            FOR i IN generate_series(1, len(ws) - 14)]) AS u
                  FROM w WHERE len(ws) >= 15)),
       tot AS (SELECT doc_id, any_value(n_toks) AS n_toks,
                      count(*) AS n_windows
               FROM wins GROUP BY 1),
       dh AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
       dp AS (SELECT doc_id, count(*) AS n_dup_windows,
                     list_sort(list(pos)) AS ps
              FROM wins WHERE h IN (SELECT h FROM dh) GROUP BY 1),
       du AS (SELECT doc_id, n_dup_windows,
                     coalesce(list_sum([least(ps[j+1] - ps[j], 15)
                       FOR j IN generate_series(1, len(ps) - 1)]), 0) + 15
                       AS n_dup_tokens
              FROM dp)
       SELECT t.doc_id, t.n_windows,
         CAST(coalesce(d.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
         CAST(coalesce(d.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         floor(coalesce(d.n_dup_tokens, 0) * 1e4 / t.n_toks) / 1e4
           AS dup_ratio
       FROM tot t LEFT JOIN du d USING (doc_id) ORDER BY 1"""
}

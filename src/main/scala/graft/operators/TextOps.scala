package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.BarrierOps

/** Text-analysis suite over the `documents` table: token counting, quality
  * scoring, heuristic language ID, content fingerprinting, corpus stats.
  *
  * Everything is built from codegen'd Catalyst functions (`split`,
  * `transform`, `filter`, `aggregate`, `md5`) — no UDFs, so a 100 TB corpus
  * scan stays inside WholeStageCodegen and needs exactly one shuffle per
  * aggregate. Derived ratios are floor-truncated (not rounded) at the
  * output edge — see SURVEY.md §4 determinism policy.
  */
object TextOps {

  private def words(c: Column): Column = split(trim(c), "\\s+")

  private def trunc4(c: Column): Column = floor(c * lit(1e4)) / lit(1e4)

  /** Token counting: whitespace tokens, regex (BPE-ish) tokens, uniques. */
  def tokens(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val ws = words(col("text"))
    d.select(
        col("doc_id"),
        col("n_chars"),
        size(ws).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast("long").as("re_tokens"),
        size(array_distinct(ws)).cast("long").as("uniq_words"))
      .orderBy("doc_id")
  }

  val tokensOracle: String =
    """SELECT doc_id, n_chars,
       len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re_tokens,
       len(list_distinct(string_split_regex(trim(text), '\s+'))) AS uniq_words
       FROM documents ORDER BY doc_id"""

  /** Quality scoring: stopword / uniqueness / length signals combined into
    * one bounded score. All ratios come from exact integer counts, so the
    * doubles are bit-identical across engines.
    */
  def quality(spark: SparkSession, dir: String): DataFrame =
    qualityScores(spark, dir).orderBy("doc_id")

  /** [[quality]] WITHOUT the gate-presentation sort — what composing
    * operators (best-of-cluster, curation, sampling, pipeline) join
    * against: a global 100 TB sort for an order the downstream join or
    * heap immediately destroys is pure waste.
    */
  private[graft] def qualityScores(spark: SparkSession, dir: String): DataFrame =
    qualityScoresDocs(Tables.documents(spark, dir))

  /** [[qualityScores]] over an ARBITRARY (doc_id, text) frame — the
    * composition entry for operators that only need scores for a
    * SUBSET of the corpus (best-of-cluster scores cluster members
    * only): pruning the rows BEFORE this projection skips the
    * word-split/regex work for every doc the caller already dropped,
    * which a join placed after the projection would still pay.
    */
  private[graft] def qualityScoresDocs(d: DataFrame): DataFrame =
    qualityScoresDocsKeep(d, Nil)

  /** [[qualityScoresDocs]] with caller-supplied PASSTHROUGH columns
    * evaluated in the same scan projection — the fusion seam for
    * composers that need quality plus other text-derived columns (the
    * pipeline's exact-dedup digest) without paying a second corpus scan
    * and a doc_id join to line them up.
    */
  private[graft] def qualityScoresDocsKeep(d: DataFrame,
      keep: Seq[Column]): DataFrame = {
    // each keep column's output name, resolved once (driver-side analysis)
    val keepNames = d.select(keep: _*).columns.toSeq
    // the intermediate columns and the score columns: a keep column of
    // either name would be shadowed or duplicated in the scored frame
    val reserved = Seq("doc_id", "n_words", "n_uniq", "n_stop", "n_nonspace",
      "stop_ratio", "uniq_ratio", "avg_word_len", "quality")
    val clash = keepNames.filter(n => reserved.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"qualityScoresDocsKeep: keep column(s) ${clash.mkString(", ")} collide " +
        s"with the scored frame's columns ${reserved.mkString(", ")} — alias them")
    val ws = words(col("text"))
    val base = d.select(
      col("doc_id") +: keep :+
      size(ws).cast("double").as("n_words") :+
      size(array_distinct(ws)).cast("double").as("n_uniq") :+
      size(filter(ws, w => w.isin("the", "a"))).cast("double").as("n_stop") :+
      length(regexp_replace(col("text"), "\\s", "")).cast("double").as("n_nonspace"): _*)
    base.select(
      col("doc_id") +: keepNames.map(col) :+
      col("n_words").cast("long").as("n_words") :+
      trunc4(col("n_stop") / col("n_words")).as("stop_ratio") :+
      trunc4(col("n_uniq") / col("n_words")).as("uniq_ratio") :+
      trunc4(col("n_nonspace") / col("n_words")).as("avg_word_len") :+
      trunc4(
        lit(0.4) * (col("n_uniq") / col("n_words")) +
        lit(0.3) * (lit(1.0) - col("n_stop") / col("n_words")) +
        lit(0.3) * least(lit(1.0), col("n_words") / lit(100.0))).as("quality"): _*)
  }

  val qualityOracle: String =
    """WITH b AS (
         SELECT doc_id,
           len(string_split_regex(trim(text), '\s+'))::DOUBLE AS n_words,
           len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE AS n_uniq,
           len(list_filter(string_split_regex(trim(text), '\s+'),
                           w -> w IN ('the', 'a')))::DOUBLE AS n_stop,
           length(regexp_replace(text, '\s', '', 'g'))::DOUBLE AS n_nonspace
         FROM documents)
       SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         floor(n_stop / n_words * 1e4) / 1e4 AS stop_ratio,
         floor(n_uniq / n_words * 1e4) / 1e4 AS uniq_ratio,
         floor(n_nonspace / n_words * 1e4) / 1e4 AS avg_word_len,
         floor((0.4 * (n_uniq / n_words) + 0.3 * (1.0 - n_stop / n_words)
                + 0.3 * least(1.0, n_words / 100.0)) * 1e4) / 1e4 AS quality
       FROM b ORDER BY doc_id"""

  /** Heuristic language ID from word-profile hit counts with a fixed
    * precedence order. (The synthetic corpus shares one vocabulary across
    * languages, so accuracy is what it is — the operator is the point:
    * profile scoring + deterministic argmax, the shape a real n-gram
    * language identifier takes at scale.)
    */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val ws = words(col("text"))
    def hits(s: String*): Column = size(filter(ws, w => w.isin(s: _*)))
    val base = d.select(
      col("doc_id"), col("lang"),
      hits("the", "a").as("c_en"),
      hits("data", "row").as("c_es"),
      hits("join", "merge").as("c_de"),
      hits("filter", "sort").as("c_fr"),
      hits("spark", "query").as("c_zh"))
    val pred =
      when(col("c_en") >= col("c_es") && col("c_en") >= col("c_de") &&
           col("c_en") >= col("c_fr") && col("c_en") >= col("c_zh"), "en")
        .when(col("c_es") >= col("c_de") && col("c_es") >= col("c_fr") &&
              col("c_es") >= col("c_zh"), "es")
        .when(col("c_de") >= col("c_fr") && col("c_de") >= col("c_zh"), "de")
        .when(col("c_fr") >= col("c_zh"), "fr")
        .otherwise("zh")
    base.select(
        col("doc_id"),
        pred.as("pred_lang"),
        col("lang").as("actual_lang"),
        (pred === col("lang")).as("is_match"))
      .orderBy("doc_id")
  }

  val langidOracle: String =
    """WITH b AS (
         SELECT doc_id, lang,
           len(list_filter(string_split_regex(trim(text), '\s+'), w -> w IN ('the', 'a'))) AS c_en,
           len(list_filter(string_split_regex(trim(text), '\s+'), w -> w IN ('data', 'row'))) AS c_es,
           len(list_filter(string_split_regex(trim(text), '\s+'), w -> w IN ('join', 'merge'))) AS c_de,
           len(list_filter(string_split_regex(trim(text), '\s+'), w -> w IN ('filter', 'sort'))) AS c_fr,
           len(list_filter(string_split_regex(trim(text), '\s+'), w -> w IN ('spark', 'query'))) AS c_zh
         FROM documents),
       p AS (
         SELECT doc_id, lang,
           CASE WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
                WHEN c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es'
                WHEN c_de >= c_fr AND c_de >= c_zh THEN 'de'
                WHEN c_fr >= c_zh THEN 'fr'
                ELSE 'zh' END AS pred_lang
         FROM b)
       SELECT doc_id, pred_lang, lang AS actual_lang,
              pred_lang = lang AS is_match
       FROM p ORDER BY doc_id"""

  /** Normalized content fingerprint (lowercase, whitespace-collapsed, md5)
    * and the duplicate group each document lands in — the reference's
    * content-hash dedup (db.go:573 `hash(data)`) done scalably: group by
    * the 16-byte digest, never by the document body.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    d.select(col("doc_id"), md5(norm.cast("binary")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))
      .orderBy("fp")
  }

  val fingerprintOracle: String =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       count(*) AS n_docs, min(doc_id) AS canonical_doc_id
       FROM documents GROUP BY 1 ORDER BY 1"""

  /** Corpus bigram frequencies, top 50 (the n-gram statistics pass every
    * corpus profiling pipeline runs; one explode + one hash agg + top-k).
    */
  def bigrams(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.fanout(Tables.documents(spark, dir))
    d.select(words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(
        transform(
          sequence(lit(0), size(col("ws")) - 2),
          i => concat_ws(" ",
            element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2)))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)
  }

  val bigramsOracle: String =
    """WITH w AS (SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents),
       b AS (SELECT unnest([concat_ws(' ', ws[i], ws[i+1])
                            FOR i IN generate_series(1, len(ws) - 1)]) AS bigram
             FROM w)
       SELECT bigram, count(*) AS n FROM b
       GROUP BY 1 ORDER BY n DESC, bigram LIMIT 50"""

  /** Corpus stats per (lang, source). */
  def docStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .withColumn("avg_chars", trunc4(col("total_chars") / col("n_docs")))
      .orderBy("lang", "source")
  }

  /** Exact median / quartiles of document length per language (sort-based
    * percentiles — the distributed sort partitions by the group key).
    */
  def lengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        (floor(median(col("n_chars")) * 1e4) / 1e4).as("median_chars"),
        (floor(percentile(col("n_chars"), lit(0.25)) * 1e4) / 1e4).as("q1_chars"),
        (floor(percentile(col("n_chars"), lit(0.75)) * 1e4) / 1e4).as("q3_chars"))
      .orderBy("lang")
  }

  val lengthQuantilesOracle: String =
    """SELECT lang, count(*) AS n_docs,
       floor(median(n_chars) * 1e4) / 1e4 AS median_chars,
       floor(quantile_cont(n_chars, 0.25) * 1e4) / 1e4 AS q1_chars,
       floor(quantile_cont(n_chars, 0.75) * 1e4) / 1e4 AS q3_chars
       FROM documents GROUP BY 1 ORDER BY 1"""

  val docStatsOracle: String =
    """SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       floor(CAST(sum(n_chars) AS BIGINT) / count(*) * 1e4) / 1e4 AS avg_chars
       FROM documents GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Top-5 TF-IDF terms per language — the corpus-characterization step
    * (what vocabulary distinguishes each stratum). Term statistics are
    * aggregated, never per-doc-materialized: one explode → two hash
    * aggregations (per-(doc,term) then per-(lang,term)) → a shuffle join
    * with the document-frequency table on the term — all partition on the
    * term, nothing corpus-sized is broadcast (the 1-row corpus count is).
    * Final ranking runs on the TopKPerKey bounded heap, not a full sort.
    */
  /** Per-document novel-trigram rate: the fraction of a doc's distinct
    * word 3-grams not seen in any LOWER-doc_id document — the corpus-
    * order novelty profile a pretraining pipeline tracks to find
    * template/boilerplate-dominated sources (low novelty late in the
    * crawl) and to size dedup aggressiveness.
    *
    * Shape: one explode to distinct (doc, trigram) pairs, a two-phase
    * min-aggregate for each trigram's first-seen doc (map-side combine
    * absorbs hot boilerplate trigrams — a window over the trigram would
    * buffer whole partitions instead), and a join back on the trigram.
    * The trigram is hashed to a constant-width md5 key BEFORE the explode,
    * so the corpus-wide (doc, trigram) shuffle and the join back never
    * carry raw trigram strings — md5 is portable to the DuckDB oracle, so
    * parity holds with 16-byte-content keys (as text_contamination does
    * with 64-bit hashes).
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.fanout(Tables.documents(spark, dir))
    val tri = d.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(
          sequence(lit(0), size(col("ws")) - 3),
          i => md5(concat_ws(" ",
            element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2),
            element_at(col("ws"), i + 3)))))).as("ng"))
      // both the first-seen aggregate and the join probe read this —
      // materialize the corpus-wide explode once
      .barrier()
    // No join back onto the corpus-wide gram frame: a doc's novel-gram
    // count IS the number of grams whose min-doc is this doc, so the
    // per-gram min aggregate re-aggregates by first_doc directly — two
    // hash aggregates replace the round-7 gram-keyed join of the 26M-row
    // frame with itself (the join shuffled every (doc, gram) row a
    // second time on a 32-char string key and was the top of the sf10
    // text tail at 41 s).
    val counts = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
    val novel = tri.groupBy(col("ng")).agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
    counts
      .join(novel, counts("doc_id") === novel("first_doc"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (floor(coalesce(col("n_novel"), lit(0L)) * lit(1e4) / col("n_ngrams"))
          / lit(1e4)).as("novelty"))
      .orderBy("doc_id")
  }

  val ngramNoveltyOracle: String =
    """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
                  FROM documents),
       t AS (SELECT doc_id,
               unnest(list_distinct([md5(concat_ws(' ', ws[i], ws[i+1], ws[i+2]))
                 FOR i IN generate_series(1, len(ws) - 2)])) AS ng
             FROM w WHERE len(ws) >= 3),
       f AS (SELECT ng, min(doc_id) AS first_doc FROM t GROUP BY 1)
       SELECT t.doc_id, count(*) AS n_ngrams,
         CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel,
         floor(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
           * 1e4 / count(*)) / 1e4 AS novelty
       FROM t JOIN f USING (ng)
       GROUP BY 1 ORDER BY 1"""

  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(Tables.documents(spark, dir))
    val terms = d.select(col("doc_id"), col("lang"), explode(words(col("text"))).as("term"))
    val perDoc = terms.groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val perLang = perDoc.groupBy(col("lang"), col("term")).agg(sum(col("tf")).as("tf"))
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = perLang.join(df, "term")
      .crossJoin(broadcast(total))
      .withColumn("score",
        col("tf") * (log((col("n_docs") + 1) / (col("df") + 1)) + 1))
    graft.plans.TopKPerKey.perKey(
        scored, Seq(col("lang")), Seq(col("score").desc, col("term").asc), 5)
      .select(col("lang"), col("term"), col("tf"), col("df"),
        trunc4(col("score")).as("score"), col("rank").cast("long").as("rank"))
      .orderBy("lang", "rank")
  }

  val tfidfOracle: String =
    """WITH terms AS (
         SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\s+')) AS term
         FROM documents),
       per_doc AS (SELECT doc_id, lang, term, count(*) AS tf
                   FROM terms GROUP BY 1, 2, 3),
       dfreq AS (SELECT term, count(*) AS df FROM per_doc GROUP BY 1),
       per_lang AS (SELECT lang, term, sum(tf) AS tf FROM per_doc GROUP BY 1, 2),
       scored AS (
         SELECT lang, term, tf, df,
                tf * (ln((n_docs + 1) * 1.0 / (df + 1)) + 1) AS score
         FROM per_lang JOIN dfreq USING (term)
         CROSS JOIN (SELECT count(*) AS n_docs FROM documents)),
       ranked AS (
         SELECT lang, term, tf, df, score,
                row_number() OVER (PARTITION BY lang
                                   ORDER BY score DESC, term) AS rank
         FROM scored)
       SELECT lang, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
              floor(score * 1e4) / 1e4 AS score, CAST(rank AS BIGINT) AS rank
       FROM ranked WHERE rank <= 5 ORDER BY lang, rank"""

  /** Unigram LM fluency scoring — the perplexity-filter step of corpus
    * curation (score each held-out document by its cross-entropy under a
    * language model fit on the train split; high cross-entropy = unusual
    * text = filter candidate). The LM is add-one-smoothed unigram counts
    * from the same deterministic hash split as [[contamination]].
    *
    * Determinism trick: each token's log-probability is scaled and
    * FLOORED to an integer (micro-nats) before summation, so the per-doc
    * sum is exact integer arithmetic — immune to float summation order
    * across partitions AND bit-identical between engines. Joins and aggs
    * all partition on the term or the doc id; the 1-row (total, vocab)
    * frame is the only broadcast.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(Tables.documents(spark, dir))
    val toks = d.select(col("doc_id"), explode(words(col("text"))).as("term"),
        (substring(md5(concat(lit("split:"), col("doc_id").cast("string")).cast("binary")),
          1, 1) < "2").as("is_eval"))
    val train = toks.filter(!col("is_eval"))
    val counts = train.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    val evalCounts = toks.filter(col("is_eval"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("k"))
    evalCounts
      .join(counts, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      // floor(ln(p) * 1e6): integer micro-nats, exact under any sum order
      .withColumn("mnats",
        col("k") * floor(log((coalesce(col("c"), lit(0L)) + 1) / (col("t") + col("v")))
          * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"), sum(col("mnats")).as("mn"))
      .select(col("doc_id"), col("n_tokens"),
        trunc4(-col("mn") / 1e6 / col("n_tokens")).as("cross_entropy"))
      .orderBy("doc_id")
  }

  val lmScoreOracle: String =
    """WITH toks AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term,
                substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < '2' AS is_eval
         FROM documents),
       counts AS (SELECT term, count(*) AS c FROM toks WHERE NOT is_eval GROUP BY 1),
       totals AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM counts),
       ev AS (SELECT doc_id, term, count(*) AS k FROM toks WHERE is_eval GROUP BY 1, 2),
       scored AS (
         SELECT doc_id, k,
                k * CAST(floor(ln((coalesce(c, 0) + 1) * 1.0 / (t + v)) * 1e6) AS BIGINT)
                  AS mnats
         FROM ev LEFT JOIN counts USING (term) CROSS JOIN totals)
       SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
              floor(-CAST(sum(mnats) AS BIGINT) / 1e6 / sum(k) * 1e4) / 1e4
                AS cross_entropy
       FROM scored GROUP BY 1 ORDER BY 1"""

  /** Train/eval contamination check — the decontamination step of a
    * training-data pipeline: a deterministic hash split carves out an
    * ~12.5% eval set, and every eval document reports how many of its
    * distinct word 5-grams also occur anywhere in the train split.
    *
    * Scale shape: n-grams are 64-bit-hashed in the projection (shuffles
    * move longs, not strings; collision odds n²/2^64 are negligible and
    * only perturb a count); the train side is a hash-distinct; the hit
    * count is one left-semi equi-join — every step partitions on the
    * n-gram hash. No broadcast of anything corpus-sized.
    */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val grams = splitGrams(Tables.fanout(Tables.documents(spark, dir)))
    val trainGrams = grams.filter(!col("is_eval"))
      .select(explode(col("gs")).as("g")).distinct()
    contamReport(grams, trainGrams)
  }

  /** Per-doc distinct 5-gram hashes + the deterministic eval/train split
    * flag — shared front end of [[contamination]]/[[contaminationBloom]]. */
  private def splitGrams(d: DataFrame): DataFrame =
    d.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(
        col("doc_id"),
        graft.functions.ShingleHash64(col("ws"), 5).as("gs"),
        (substring(md5(concat(lit("split:"), col("doc_id").cast("string")).cast("binary")),
          1, 1) < "2").as("is_eval"))

  /** Exact hit counting + report tail shared by both contamination
    * formulations: the train side handed in may be pre-filtered, as long
    * as it still contains every gram that CAN match an eval gram. */
  private def contamReport(grams: DataFrame, trainGrams: DataFrame): DataFrame = {
    val evalGrams = grams.filter(col("is_eval"))
      .select(col("doc_id"), explode(col("gs")).as("g"))
    val hits = evalGrams.join(trainGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam"))
    grams.filter(col("is_eval"))
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_ngrams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        trunc4(coalesce(col("n_contam"), lit(0L)) / col("n_ngrams")).as("contam_rate"))
      .orderBy("doc_id")
  }

  /** [[contamination]] with a broadcast-Bloom pre-filter on the train side
    * — the hand-staged runtime filter, same exact answer (hash-identical
    * oracle row). The eval split is the small side by construction
    * (~12.5%), so its distinct gram hashes fit a fixed-size Bloom filter
    * (8M bits = 1 MB at any corpus size; fpp ~1% at 10⁶ eval grams).
    * Probing that filter BEFORE the train-side `distinct` discards the
    * ~99% of a 100 TB train corpus's grams that cannot match while they
    * are still map-local — the big shuffle (train distinct) then carries
    * only probable hits, and the exact semi join downstream absorbs the
    * Bloom's false positives, so the report is bit-identical to the
    * unfiltered formulation (TextOpsSpec pins equality; the oracle is the
    * same SQL). Catalyst's own `InjectRuntimeFilter` would not stage this
    * (it guards shuffle JOINS, not an aggregate feeding a semi join);
    * [[graft.functions.BloomProbe]] exposes the probe expression it uses.
    * The 1-row Bloom build is collected driver-side (bounded: one binary),
    * exactly as Spark's injected filters execute their bloom subquery.
    */
  def contaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    // Barrier, for two reasons. (1) Reuse: the grams frame feeds three
    // branches (bloom build, train probe, report) — tokenize once, not 3×.
    // (2) A Catalyst trap: `InferFiltersFromGenerate` guards each
    // `explode(gs)` with `size(gs) > 0 AND isnotnull(gs)`, and predicate
    // pushdown substitutes the alias — so WITHOUT the barrier the whole
    // 5-gram hash array (a non-codegen higher-order-function chain) is
    // re-evaluated twice more per doc inside a Filter in the low-
    // parallelism scan stage (measured 38×: 12.5 s → 0.33 s at sf0.1).
    // Post-barrier the inferred guard probes the materialized column.
    val grams = Tables.barrier(splitGrams(Tables.fanout(Tables.documents(spark, dir))))
    val bloomBytes = grams.filter(col("is_eval"))
      .select(explode(col("gs")).as("g"))
      .agg(graft.functions.BloomProbe.bloomAgg(col("g"), 1048576L, 8388608L))
      .head.getAs[Array[Byte]](0)
    val trainGrams = grams.filter(!col("is_eval"))
      .select(explode(col("gs")).as("g"))
      .filter(graft.functions.BloomProbe.mightContain(lit(bloomBytes), col("g")))
      .distinct()
    contamReport(grams, trainGrams)
  }

  val contaminationOracle: String =
    """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
                  FROM documents
                  WHERE len(string_split_regex(trim(text), '\s+')) >= 5),
       g AS (SELECT doc_id,
               substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < '2' AS is_eval,
               list_distinct([concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4])
                              FOR i IN generate_series(1, len(ws) - 4)]) AS gs
             FROM w),
       e AS (SELECT doc_id, unnest(gs) AS s FROM g WHERE is_eval),
       t AS (SELECT DISTINCT unnest(gs) AS s FROM g WHERE NOT is_eval),
       h AS (SELECT e.doc_id, count(*) AS n_contam FROM e JOIN t USING (s) GROUP BY 1)
       SELECT g.doc_id, CAST(len(g.gs) AS BIGINT) AS n_ngrams,
              CAST(coalesce(h.n_contam, 0) AS BIGINT) AS n_contam,
              floor(coalesce(h.n_contam, 0) * 1.0 / len(g.gs) * 1e4) / 1e4 AS contam_rate
       FROM g LEFT JOIN h ON g.doc_id = h.doc_id
       WHERE g.is_eval ORDER BY g.doc_id"""

  /** Asymmetric n-gram containment — doc-IN-doc detection. Jaccard
    * (dd_ngram_jaccard) scores how alike two documents are; containment
    * C(A→B) = |ngrams(A) ∩ ngrams(B)| / |ngrams(A)| scores how much of A
    * lives inside B, which is what catches quotes, syndicated excerpts
    * and wrapper pages that a symmetric measure dilutes away (a 100-word
    * quote inside a 10 000-word page has Jaccard ≈ 0.01 but containment
    * ≈ 1.0 from the quote's side). Probe side is a FIXED-SIZE
    * deterministic min-k draw — the [[ContainmentProbeN]] documents with
    * the smallest `md5('probe:' || doc_id)` (doc_id tie-break) — the
    * incremental-ingest shape: a new batch of ~constant size checked for
    * being-contained against the standing corpus. (Round 7 used a
    * `doc_id % 20` slice — a corpus FRACTION, which made the testbed's
    * probe×corpus co-occurrence grow ~n²·f and flagged the query 13× on
    * the sf1→sf10 decade even though the production shape is linear.
    * The min-k draw keeps the bench shape equal to the production shape:
    * probe cost is O(corpus) with a constant batch.)
    *
    * Shape: prefix-filter candidate generation + merge-pass verification,
    * all on 64-bit gram hashes (raw trigram strings never cross the
    * wire). A naive inverted-index count join melts on common trigrams
    * (one stop-phrase shared by P probes × C corpus docs emits P×C rows
    * for that gram alone); instead the probe side exposes only its
    * RAREST-first prefix — overlap ≥ ⌈t·|A|⌉ forces a match inside A's
    * first |A|−⌈t·|A|⌉+1 grams, under ANY fixed gram order (pigeonhole
    * on A's own grams), rarest-first chosen because it minimizes
    * postings hit. The prefix frame (probe batch × prefix len — bounded
    * by the fixed batch) BROADCASTS against the flat (doc, gram) table,
    * so the standing corpus never builds per-document posting arrays:
    * the only corpus-wide aggregate is the document-frequency table that
    * orders prefixes, and sorted gram arrays materialize ONLY for the
    * candidate documents the prefix join surfaces, before one exact
    * sorted-merge intersection per pair
    * ([[graft.functions.SortedIntersectCount]]). (Round 8 built
    * rarest-first posting ARRAYS for every corpus document to run the
    * PPJoin b-side positional cap — a pruning-only refinement that cost
    * two corpus-wide shuffles and two array sorts per document; at
    * sf10 the cap-free broadcast plan is ~2× faster end to end and the
    * candidate superset is absorbed by the exact verification.)
    */
  /** Fixed probe-batch size for [[containment]] (see its scaladoc). */
  private[operators] val ContainmentProbeN = 128

  def containment(spark: SparkSession, dir: String): DataFrame = {
    val t = 0.2
    val d = Tables.fanout(Tables.documents(spark, dir))
    // Deterministic min-k probe draw on the slim id column: orderBy+limit
    // plans as TakeOrderedAndProject — a bounded per-partition heap, k ids
    // to the driver, never a global sort. 128 longs is an adjudicated
    // bounded collect (the probe BATCH is the operator's input contract).
    val probeIds = d.select(col("doc_id"))
      .orderBy(
        md5(concat(lit("probe:"), col("doc_id").cast("string")).cast("binary")),
        col("doc_id"))
      .limit(ContainmentProbeN)
      .collect().map(_.getLong(0)).toSeq
    // flat (doc, distinct-gram-hash) table — the ONLY corpus-wide frame.
    // Deliberately NOT barriered: the df aggregate, the candidate join and
    // the candidate-array build each recompute it (three narrow scans of a
    // zone-mapped parquet + hash), which measured both faster AND stable
    // across repeated executions at sf10, while a localCheckpoint of the
    // ~10M-row gram frame was slower and showed a 17× uniform-slowdown
    // pathology on re-execution in a long-lived JVM.
    val sh = d.select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.ShingleHash64(col("ws"), 3)).as("g"))
    // corpus document frequencies — the standing index (one partial agg)
    val df = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // probe-batch posting arrays (ContainmentProbeN docs): the tiny probe
    // gram set broadcasts INTO the df join, so the corpus-sized df table
    // never shuffles for it
    val probeArr = broadcast(sh.filter(col("doc_id").isin(probeIds: _*)))
      .join(df, "g")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("arr"))
      .select(col("doc_id").as("a_id"), size(col("arr")).as("a_n"),
        sort_array(transform(col("arr"), e => e.getField("g"))).as("ha"),
        transform(col("arr"), e => e.getField("g")).as("rare"))
      .barrier() // read by the prefix join and the verification
    // rarest-first prefix, broadcast against the flat gram table: every
    // surviving (probe, corpus-doc) pair shares a prefix gram — complete
    // by pigeonhole, exact after verification
    val prefix = probeArr.select(col("a_id"),
      explode(slice(col("rare"), lit(1),
        (col("a_n") - ceil(col("a_n") * t) + 1).cast("int"))).as("g"))
    val cands = sh.filter(!col("doc_id").isin(probeIds: _*))
      .join(broadcast(prefix), "g")
      .select(col("a_id"), col("doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // sorted gram arrays ONLY for the candidate documents (AQE broadcasts
    // the candidate-id side when it fits)
    val bArr = sh.join(cands.select(col("b_id")).distinct(),
        sh("doc_id") === col("b_id"))
      .groupBy(col("b_id"))
      .agg(sort_array(collect_list(col("g"))).as("hb"))
    cands
      .join(bArr, "b_id")
      .join(broadcast(probeArr.select(col("a_id"), col("a_n"), col("ha"))), "a_id")
      .withColumn("n_common",
        graft.functions.SortedIntersectCount(col("ha"), col("hb")).cast("long"))
      .select(col("a_id"), col("b_id"), col("n_common"),
        trunc4(col("n_common") / col("a_n")).as("containment"))
      .filter(col("containment") >= t)
      .orderBy("a_id", "b_id")
  }

  val containmentOracle: String =
    """WITH pids AS (SELECT doc_id FROM documents
                     ORDER BY md5('probe:' || CAST(doc_id AS VARCHAR)), doc_id
                     LIMIT 128),
       w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
             FROM documents
             WHERE len(string_split_regex(trim(text), '\s+')) >= 3),
       g AS (SELECT doc_id,
               list_distinct([concat_ws(' ', ws[i], ws[i+1], ws[i+2])
                 FOR i IN generate_series(1, len(ws) - 2)]) AS gs
             FROM w),
       p AS (SELECT doc_id AS a_id, CAST(len(gs) AS BIGINT) AS a_n,
               unnest(gs) AS s FROM g
             WHERE doc_id IN (SELECT doc_id FROM pids)),
       c AS (SELECT doc_id AS b_id, unnest(gs) AS s FROM g
             WHERE doc_id NOT IN (SELECT doc_id FROM pids)),
       j AS (SELECT a_id, b_id, a_n, count(*) AS n_common
             FROM p JOIN c USING (s) GROUP BY 1, 2, 3)
       SELECT a_id, b_id, n_common,
         floor(n_common * 1.0 / a_n * 1e4) / 1e4 AS containment
       FROM j WHERE floor(n_common * 1.0 / a_n * 1e4) / 1e4 >= 0.2
       ORDER BY a_id, b_id"""

  /** Per-language lexical-diversity profile: token volume, vocabulary
    * size and type-token ratio — the corpus-health metric that catches
    * boilerplate floods (TTR collapses) before they hit training. One
    * explode feeds one hash aggregation; the distinct-word count is a
    * two-phase partial aggregate on (lang, word), so no reducer ever
    * holds a language's whole vocabulary list.
    */
  def ttr(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(Tables.documents(spark, dir))
    val w = d.select(col("lang"), explode(words(col("text"))).as("w"))
    val tok = w.groupBy(col("lang"))
      .agg(count(lit(1)).as("total_tokens"),
        countDistinct(col("w")).as("distinct_words"))
    val docs = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    docs.join(tok, "lang")
      .select(col("lang"), col("n_docs"), col("total_tokens"), col("distinct_words"),
        (floor(col("distinct_words") / col("total_tokens") * 1e4) / 1e4).as("ttr"))
      .orderBy("lang")
  }

  val ttrOracle: String =
    """WITH w AS (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS w
                  FROM documents),
       t AS (SELECT lang, count(*) AS total_tokens,
               count(DISTINCT w) AS distinct_words FROM w GROUP BY 1),
       d AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1)
       SELECT d.lang, d.n_docs, t.total_tokens,
              CAST(t.distinct_words AS BIGINT) AS distinct_words,
              floor(t.distinct_words * 1.0 / t.total_tokens * 1e4) / 1e4 AS ttr
       FROM d JOIN t ON d.lang = t.lang ORDER BY 1"""

  /** Intra-document repetition: the fraction of duplicated 2-grams and
    * 3-grams per document — the classic "repetitious text" quality gate
    * of large-scale corpus cleaning (boilerplate, keyword stuffing and
    * decoding loops all show up as low distinct-ngram ratios long before
    * a human would flag them). Pure per-row projection — one native
    * shingle-hash pass per width ([[graft.functions.ShingleHash64]]), no
    * explode, no shuffle until the aggregate-free sort — so at 100 TB
    * it's one scan. Ratios are exact integer divisions truncated at the
    * output edge.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    // total n-gram count is size(ws)−n+1 by construction; the distinct
    // count comes from the native shingle-hash pass (ShingleHash64 —
    // distinct over 64-bit gram hashes ≡ distinct over gram strings
    // modulo a ~n²/2⁶⁴ collision, the same trade every hash-verified
    // operator here makes), so no gram STRINGS are ever materialized
    def total(n: Int) = (size(col("ws")) - lit(n - 1)).cast("long")
    def distinctN(n: Int) =
      size(graft.functions.ShingleHash64(col("ws"), n)).cast("long")
    Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        total(2).as("n_2grams"),
        trunc4(lit(1.0) - distinctN(2) / total(2)).as("dup2_ratio"),
        total(3).as("n_3grams"),
        trunc4(lit(1.0) - distinctN(3) / total(3)).as("dup3_ratio"))
      .orderBy("doc_id")
  }

  val repetitionOracle: String =
    """WITH w AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
         FROM documents),
       g AS (
         SELECT doc_id,
                [concat_ws(' ', ws[i], ws[i+1])
                 FOR i IN generate_series(1, len(ws) - 1)] AS g2,
                [concat_ws(' ', ws[i], ws[i+1], ws[i+2])
                 FOR i IN generate_series(1, len(ws) - 2)] AS g3
         FROM w WHERE len(ws) >= 3)
       SELECT doc_id,
              len(g2) AS n_2grams,
              floor((1.0 - len(list_distinct(g2)) * 1.0 / len(g2)) * 1e4) / 1e4
                AS dup2_ratio,
              len(g3) AS n_3grams,
              floor((1.0 - len(list_distinct(g3)) * 1.0 / len(g3)) * 1e4) / 1e4
                AS dup3_ratio
       FROM g ORDER BY doc_id"""

  /** Fixed-size overlapping token chunks — the standard pre-tokenization
    * step of an LLM training pipeline (context windows of C tokens,
    * stride S < C so windows overlap by C−S and no boundary text is
    * lost). One document explodes into ceil(n/S) chunks; everything is a
    * per-row projection + explode (no shuffle until the final sort), so
    * at 100 TB chunking is a single embarrassingly-parallel scan whose
    * output partitioning is inherited from the input. Chunks are
    * identified by (doc_id, chunk_id) and carried as an md5 so the
    * oracle compares content without hauling the text through the diff.
    */
  def chunk(spark: SparkSession, dir: String): DataFrame = {
    val C = 50 // chunk size (tokens)
    val S = 40 // stride (tokens) → 10-token overlap
    Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("chunk_id", explode(sequence(lit(0L),
        floor((size(col("toks")) - 1) / lit(S.toDouble)).cast("long"))))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * S + 1).cast("int"), lit(C))).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(split(col("chunk"), " ")).cast("long").as("n_tokens"),
        md5(col("chunk").cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  val chunkOracle: String =
    """WITH t AS (
         SELECT doc_id, string_split(text, ' ') AS toks
         FROM documents),
       e AS (
         SELECT doc_id, toks,
                unnest(generate_series(0,
                  CAST(floor((len(toks) - 1) / 40.0) AS BIGINT))) AS chunk_id
         FROM t),
       c AS (
         SELECT doc_id, chunk_id,
                array_to_string(list_slice(toks, chunk_id * 40 + 1,
                  least(chunk_id * 40 + 50, len(toks))), ' ') AS chunk
         FROM e)
       SELECT doc_id, chunk_id,
              len(string_split(chunk, ' ')) AS n_tokens,
              md5(chunk) AS chunk_md5
       FROM c ORDER BY doc_id, chunk_id"""

  /** Corpus vocabulary head: the 20 most frequent words with rank and
    * corpus share — the Zipf-profile health check a corpus build runs
    * before training (a head word owning an outsized share usually means
    * boilerplate or a broken extractor upstream).
    *
    * Shape: one word-count (explode → two-phase hash aggregate; map-side
    * combine absorbs the head words' skew exactly like a word-count), the
    * corpus total folded from the per-word counts (vocabulary-sized
    * input, not a second corpus pass), top-20 via TakeOrdered (bounded
    * per-partition heaps + driver merge — NO global window over the
    * vocabulary, which is 10⁷+ types in a real corpus), and a rank window
    * over only the 20 surviving rows.
    */
  def zipf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Tables.documents(spark, dir)
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val counts = w.groupBy("word").agg(count(lit(1)).as("cnt")).barrier()
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.orderBy(desc("cnt"), asc("word")).limit(20)
      .crossJoin(broadcast(total))
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("cnt"), asc("word"))).cast("long"))
      .select(col("rank"), col("word"), col("cnt"),
        trunc4(col("cnt").cast("double") / col("total")).as("share"))
      .orderBy("rank")
  }

  val zipfOracle: String =
    """WITH w AS (
         SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
         FROM documents),
       c AS (
         SELECT word, count(*) AS cnt FROM w
         WHERE length(word) > 0 GROUP BY 1),
       t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
       top AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 20)
       SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank,
              word, CAST(cnt AS BIGINT) AS cnt,
              floor(cnt * 1.0 / total * 1e4) / 1e4 AS share
       FROM top, t ORDER BY rank"""

  // PII scrub regexes — the subset of regex syntax whose semantics agree
  // between Java's engine (Spark) and RE2 (the DuckDB oracle): character
  // classes, bounded/unbounded repetition, \b word boundaries; no
  // backreferences or lookaround (RE2 has neither).
  private[graft] val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val IpRe    = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private[graft] val PhoneRe = """\+?\d[\d()\-\s]{6,}\d"""

  /** PII scrubbing — the redaction pass every training-data pipeline runs
    * before text leaves the ingest boundary: emails, IPv4 addresses, and
    * phone-shaped digit runs are replaced by typed placeholder tokens, and
    * the per-document hit counts are kept (the audit trail; a doc whose
    * counts spike is a dump of a contact table, not prose).
    *
    * The sandbox corpus is synthetic word-soup with no organic PII, so a
    * contact sentence derived from `doc_id` is appended FIRST — identically
    * in both engines — and the scrub runs on that dirtied text. The regex
    * matching, replacement order (email → IP → phone: each later pattern
    * must not see text the earlier one should have consumed), counting,
    * and the final md5 of the cleaned text are all hash-verified.
    *
    * Scale shape: pure per-row projection — no shuffle at all until the
    * presentation sort, partitioning inherited from the scan, the whole
    * pipeline one WholeStageCodegen span. The counts come from
    * `regexp_extract_all` on the SAME stage the replace runs on, so each
    * count is exactly the number of replacements that stage performed.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(Tables.documents(spark, dir))
    val dirty = concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"),
      lit("."), (expr("doc_id div 256") % 256).cast("string"), lit(".7 now"))
    def scrub(stage: Column, re: String, tag: String): (Column, Column) =
      (size(regexp_extract_all(stage, lit(re), lit(0))).cast("long"),
        regexp_replace(stage, re, tag))
    d.select(col("doc_id"), dirty.as("s"))
      .select(col("doc_id"), col("s"), {
        val (n, s) = scrub(col("s"), EmailRe, "<EMAIL>")
        struct(n.as("n"), s.as("s")).as("e")
      })
      .select(col("doc_id"), col("e.n").as("n_emails"), {
        val (n, s) = scrub(col("e.s"), IpRe, "<IP>")
        struct(n.as("n"), s.as("s")).as("i")
      })
      .select(col("doc_id"), col("n_emails"), col("i.n").as("n_ips"), {
        val (n, s) = scrub(col("i.s"), PhoneRe, "<PHONE>")
        struct(n.as("n"), s.as("s")).as("p")
      })
      .select(col("doc_id"), col("n_emails"), col("n_ips"),
        col("p.n").as("n_phones"), md5(col("p.s").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  val piiScrubOracle: String =
    s"""WITH dirty AS (
         SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com or +1-555-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.'
             || CAST(doc_id % 256 AS VARCHAR) || '.'
             || CAST((doc_id // 256) % 256 AS VARCHAR) || '.7 now' AS s
         FROM documents),
       s1 AS (SELECT doc_id,
           len(regexp_extract_all(s, '$EmailRe')) AS n_emails,
           regexp_replace(s, '$EmailRe', '<EMAIL>', 'g') AS s FROM dirty),
       s2 AS (SELECT doc_id, n_emails,
           len(regexp_extract_all(s, '$IpRe')) AS n_ips,
           regexp_replace(s, '$IpRe', '<IP>', 'g') AS s FROM s1),
       s3 AS (SELECT doc_id, n_emails, n_ips,
           len(regexp_extract_all(s, '$PhoneRe')) AS n_phones,
           regexp_replace(s, '$PhoneRe', '<PHONE>', 'g') AS s FROM s2)
       SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
         CAST(n_ips AS BIGINT) AS n_ips, CAST(n_phones AS BIGINT) AS n_phones,
         md5(s) AS clean_md5
       FROM s3 ORDER BY doc_id"""

  /** Boilerplate removal — the C4-style cleaning step that strips template
    * segments (site headers, navigation, footers) by CORPUS frequency: a
    * text segment that recurs across distinct documents of the same source
    * is template, not content. Documents here are single-line word soup,
    * so the segment unit is a fixed non-overlapping 3-word window rather
    * than a line; the mechanics (segment → corpus-frequency → drop → stitch)
    * are the real pipeline's.
    *
    * Scale shape: segments shuffle as 16-byte md5 keys, never text — the
    * frequency count is a two-phase hash aggregate on (source, hash) whose
    * map-side combine absorbs template skew (the whole point: boilerplate
    * is the high-frequency tail), and the verdict joins back on the same
    * hash. The stitch is a per-document `collect_list` — bounded by one
    * document's segment count, the same per-key bound every chunker has.
    * The segment frame feeds two branches (frequency + join-back) and is
    * barriered once.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val K = 2 // segments in ≥K distinct docs of one source are template
    val segs = Tables.fanout(Tables.documents(spark, dir))
      .select(col("doc_id"), col("source"), words(col("text")).as("ws"))
      .withColumn("seg_id", explode(sequence(lit(0L),
        floor((size(col("ws")) - 1) / lit(3.0)).cast("long"))))
      .select(col("doc_id"), col("source"), col("seg_id"),
        concat_ws(" ",
          slice(col("ws"), (col("seg_id") * 3 + 1).cast("int"), lit(3))).as("seg"))
      .withColumn("h", md5(col("seg").cast("binary")))
      .barrier()
    val freq = segs.groupBy(col("source"), col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val kept = segs.join(freq, Seq("source", "h")).filter(col("df") < K)
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_id"), col("seg")))),
          s => s.getField("seg"))).as("clean"))
    segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segs"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        (col("n_segs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        md5(coalesce(col("clean"), lit("")).cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  val boilerplateOracle: String =
    """WITH w AS (SELECT doc_id, source,
           string_split_regex(trim(text), '\s+') AS ws FROM documents),
       e AS (SELECT doc_id, source, ws,
               unnest(generate_series(0,
                 CAST(floor((len(ws) - 1) / 3.0) AS BIGINT))) AS seg_id
             FROM w),
       seg AS (SELECT doc_id, source, seg_id,
                array_to_string(list_slice(ws, seg_id * 3 + 1,
                  least(seg_id * 3 + 3, len(ws))), ' ') AS seg
               FROM e),
       f AS (SELECT source, seg, count(DISTINCT doc_id) AS df
             FROM seg GROUP BY 1, 2),
       kept AS (SELECT s.doc_id, s.seg_id, s.seg
                FROM seg s JOIN f USING (source, seg) WHERE f.df < 2),
       tot AS (SELECT doc_id, count(*) AS n_segs FROM seg GROUP BY 1),
       reb AS (SELECT doc_id, count(*) AS n_kept,
                 string_agg(seg, ' ' ORDER BY seg_id) AS clean
               FROM kept GROUP BY 1)
       SELECT t.doc_id, t.n_segs,
         t.n_segs - coalesce(r.n_kept, 0) AS n_dropped,
         md5(coalesce(r.clean, '')) AS clean_md5
       FROM tot t LEFT JOIN reb r USING (doc_id) ORDER BY doc_id"""

  /** Per-document keyword extraction: the top-3 TF-IDF terms of every
    * document — the per-doc tagging pass feeding faceted corpus search and
    * topic balancing. Unlike [[tfidf]] (per-language: a handful of keys),
    * the key space here is the document id — one key per row of the corpus,
    * the cardinality regime [[graft.plans.TopKPerKey]] exists for: bounded
    * per-key heaps on both sides of one hash shuffle, instead of a window
    * sort over every (doc, term) pair.
    */
  def keywords(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(Tables.documents(spark, dir))
    val perDoc = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .barrier()
    val dfreq = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df")).barrier()
    // Zipf-skew split of the (postings ⋈ df) join: a plain shuffle join on
    // `term` concentrates the corpus on a few stopword keys ("the" joins
    // against most documents — measured super-linear at sf100, 14.6×
    // sf10→sf100). Pigeonhole bound: fewer than 2^17 terms can carry more
    // than postings/2^17 postings each, so the HOT vocabulary (df > that
    // threshold) is a guaranteed-small broadcast — its postings join
    // map-side with NO shuffle, which removes exactly the skewed keys.
    // The rare tail (df ≤ threshold) shuffle-joins with per-key width
    // bounded by the threshold itself — no stragglers at any corpus size.
    // (Same rarest-first discipline as dd_ngram_jaccard's prefix filter.)
    val postings = perDoc.count()
    val thr = math.max(1L, postings >> 17)
    val hot = dfreq.filter(col("df") > thr)
    val rare = dfreq.filter(col("df") <= thr)
    graft.StrategyLog.record("text_keywords", "freq_split",
      "postings" -> postings, "hotDfOver" -> thr)
    val joined = perDoc.join(broadcast(hot), "term")
      .unionByName(
        perDoc.join(broadcast(hot.select("term")), Seq("term"), "left_anti")
          .join(rare, "term"))
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = joined
      .crossJoin(broadcast(total))
      .withColumn("score",
        col("tf") * (log((col("n_docs") + 1) * lit(1.0) / (col("df") + 1)) + 1))
    graft.plans.TopKPerKey.perKey(
        scored, Seq(col("doc_id")), Seq(col("score").desc, col("term").asc), 3)
      .select(col("doc_id"), col("term"), trunc4(col("score")).as("score"),
        col("rank").cast("long").as("rank"))
      .orderBy("doc_id", "rank")
  }

  val keywordsOracle: String =
    """WITH terms AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
         FROM documents),
       per_doc AS (SELECT doc_id, term, count(*) AS tf
                   FROM terms GROUP BY 1, 2),
       dfreq AS (SELECT term, count(*) AS df FROM per_doc GROUP BY 1),
       scored AS (
         SELECT doc_id, term,
                tf * (ln((n_docs + 1) * 1.0 / (df + 1)) + 1) AS score
         FROM per_doc JOIN dfreq USING (term)
         CROSS JOIN (SELECT count(*) AS n_docs FROM documents)),
       ranked AS (
         SELECT doc_id, term, score,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
         FROM scored)
       SELECT doc_id, term, floor(score * 1e4) / 1e4 AS score,
              CAST(rank AS BIGINT) AS rank
       FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""

  /** BM25 ranked retrieval: the full-text search primitive over an
    * inverted-index shape — scores each document containing a query term
    * by the Robertson/Spärck-Jones BM25 formula (k1 = 1.2, b = 0.75) and
    * returns the global top 15. Corpus curation runs this constantly
    * (find documents about X, rank near-matches for contamination
    * review); it is also the lexical half of hybrid (BM25 + vector)
    * retrieval next to [[Similarity.topkBruteforce]].
    *
    * Index/serve split: (doc, term, tf) postings plus per-term df and the
    * (N, total-token) pair are the OFFLINE index — postings partition by
    * term, exactly an inverted file. The query then touches only the
    * postings of its own terms: a pushed `term IN (...)` filter, the
    * 3-row df side broadcast, per-doc partial sums, and a bounded global
    * top-k (TakeOrdered — no full sort). At 100 TB the postings frame
    * persists bucketed by term and the query is a bucket-pruned lookup.
    *
    * Determinism: BM25's tf-saturation term with k1 = 6/5, b = 3/4 clears
    * to the exact integer rational 44·tf·T / (20·tf·T + 6·T + 18·dl·N)
    * (T = corpus tokens, dl = doc length, N = docs), so each per-term
    * score is one double product idf·sat floored to integer micro-units
    * ([[lmScore]]'s trick) and per-doc totals are exact long sums —
    * partition-order invariant and engine-portable.
    */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("hash", "join", "dup")
    val d = Tables.fanout(Tables.documents(spark, dir))
    val base = d.select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"), col("ws"))
    val perDoc = base
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .barrier() // the df stats and the postings probe both read this
    val dfreq = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totals = base.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
    val probe = perDoc.filter(col("term").isin(qTerms: _*))
      .join(broadcast(dfreq.filter(col("term").isin(qTerms: _*))), "term")
      .crossJoin(broadcast(totals))
    val idf = log(
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val sat = (lit(44.0) * col("tf") * col("t_tokens")) /
      (lit(20L) * col("tf") * col("t_tokens") + lit(6L) * col("t_tokens") +
        lit(18L) * col("dl") * col("n_docs"))
    val perDocScore = probe
      .select(col("doc_id"),
        floor(idf * sat * lit(1e6)).as("mscore"))
      .groupBy(col("doc_id"))
      .agg(sum(col("mscore")).as("bm25_micro"), count(lit(1)).as("n_terms"))
    // bounded global top-k: TakeOrderedAndProject, never a full sort
    val top = perDocScore.orderBy(col("bm25_micro").desc, col("doc_id")).limit(15)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25_micro").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("n_terms"), col("bm25_micro"), col("rank"))
      .orderBy("rank")
  }

  val bm25Oracle: String =
    """WITH base AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
         FROM documents),
       b2 AS (SELECT doc_id, len(ws) AS dl, ws FROM base),
       toks AS (SELECT doc_id, dl, unnest(ws) AS term FROM b2),
       per_doc AS (SELECT doc_id, dl, term, count(*) AS tf
                   FROM toks GROUP BY 1, 2, 3),
       dfreq AS (SELECT term, count(*) AS df FROM per_doc GROUP BY 1),
       tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS t
               FROM b2),
       probe AS (
         SELECT p.doc_id, p.dl, p.tf, f.df, tot.n_docs, tot.t
         FROM per_doc p JOIN dfreq f USING (term) CROSS JOIN tot
         WHERE p.term IN ('hash', 'join', 'dup')),
       scored AS (
         SELECT doc_id,
           CAST(floor(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * (44.0 * tf * t /
                (20 * tf * t + 6 * t + 18 * dl * n_docs))
             * 1e6) AS BIGINT) AS mscore
         FROM probe),
       agg AS (SELECT doc_id, CAST(sum(mscore) AS BIGINT) AS bm25_micro,
                 count(*) AS n_terms
               FROM scored GROUP BY 1),
       ranked AS (
         SELECT doc_id, n_terms, bm25_micro,
           row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS rank
         FROM agg)
       SELECT doc_id, n_terms, bm25_micro, CAST(rank AS BIGINT) AS rank
       FROM ranked WHERE rank <= 15 ORDER BY rank"""

  /** CCNet-style perplexity bucketing: every document scored by the
    * corpus's own unigram LM (add-one smoothing, integer micro-nats per
    * token — [[lmScore]]'s arithmetic over the FULL corpus instead of
    * the held-out split), then ranked and cut into head/middle/tail
    * tertiles — the quality tiering CCNet uses to stage a crawl for
    * training (head trains, tail is dropped or re-filtered).
    *
    * Exactness: per-token score = mn div n_tokens on positive integers
    * (truncating and flooring division agree on positives — negatives
    * would diverge between engines, which is why the score is −ln p,
    * not ln p), ranks tie-break on doc_id, bucket = (3·(rank−1)) div n.
    *
    * Scale shape — segmented rank, NOT a corpus-wide row_number window:
    * phase 1 counts docs per distinct score value (hash agg). Distinct
    * perplexity scores rarely collide, so that domain is ~O(n_docs) —
    * a plain ordered cumulative over it would still be a corpus-sized
    * single-partition sort. Phase 2 therefore segments scores into
    * fixed-width value blocks ([[Sampling.packTokenBudget]]'s prefix
    * sum): per-block doc totals (hash agg), one ordered pass over the
    * BLOCK domain (bounded by score-range / block-width — a property of
    * the value space, a few hundred rows, never the corpus), then an
    * in-block cumulative whose window partitions are capped at one
    * block's distinct values (≤ the block width). Phase 3 ranks within
    * each score value (partitions capped at one score's collision set).
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(Tables.documents(spark, dir))
    val toks = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .barrier() // the LM counts and the per-doc counts both read this
    ccnetBucketsFrom(toks)
  }

  /** [[ccnetBuckets]] over an already-materialized (doc_id, term) token
    * frame — the composition entry: [[nbQuality]] needs both the bucket
    * labels and its own hashed-feature view of the SAME tokens, so it
    * tokenizes the corpus once and both consumers read that barrier
    * instead of each paying the full explode again.
    */
  private[operators] def ccnetBucketsFrom(toks: DataFrame): DataFrame = {
    val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    val perDoc = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("k"))
      .join(counts, "term")
      .crossJoin(broadcast(totals))
      .withColumn("mnats",
        col("k") * floor(log((col("t") + col("v")) / (col("c") + lit(1L)))
          * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"), sum(col("mnats")).as("mn"))
      .select(col("doc_id"), expr("mn div n_tokens").as("score_micro"))
      // the cumulative branch, the final rank join, and the total count
      // all read the expensive LM-scored frame: compute it once
      .barrier()
    // blocks of 100k micro-nats: every in-block window partition holds at
    // most 100k distinct scores no matter the corpus; the block domain
    // itself spans score-range / width ≈ a few hundred rows (scores are
    // per-token averages, range-bounded by the vocabulary's -ln p).
    val blockW = 100000L
    val W = org.apache.spark.sql.expressions.Window
    val perScore = perDoc.groupBy(col("score_micro")).agg(count(lit(1)).as("cnt"))
      .withColumn("blk", floor(col("score_micro") / blockW))
    val blkTotals = perScore.groupBy(col("blk")).agg(sum(col("cnt")).as("bt"))
    // partitionBy(lit(0)): ONE partition by construction — but over the
    // bounded block domain, not the corpus (and an explicit constant
    // spec, not an accidental empty one).
    val byBlk = W.partitionBy(lit(0)).orderBy(col("blk"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val blkOff = blkTotals
      .withColumn("blk_start", sum(col("bt")).over(byBlk) - col("bt"))
      .select(col("blk"), col("blk_start"))
    val inBlk = W.partitionBy(col("blk")).orderBy(col("score_micro"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val cum = perScore.join(blkOff, "blk")
      .withColumn("cum_before",
        col("blk_start") + sum(col("cnt")).over(inBlk) - col("cnt"))
      .select(col("score_micro"), col("cum_before"))
    val intra = org.apache.spark.sql.expressions.Window
      .partitionBy(col("score_micro")).orderBy(col("doc_id"))
    perDoc.join(cum, "score_micro")
      .withColumn("rn", col("cum_before") + row_number().over(intra))
      .crossJoin(broadcast(perDoc.agg(count(lit(1)).as("n"))))
      .select(col("doc_id"), col("score_micro"),
        expr("(3 * (rn - 1)) div n").as("bucket"))
      .orderBy("doc_id")
  }

  val ccnetBucketsOracle: String =
    """WITH toks AS (
         SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
         FROM documents),
       c AS (SELECT term, count(*) AS c FROM toks GROUP BY 1),
       tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, count(*) AS v FROM c),
       k AS (SELECT doc_id, term, count(*) AS k FROM toks GROUP BY 1, 2),
       mn AS (
         SELECT doc_id,
           CAST(sum(k * CAST(floor(ln((t + v) * 1.0 / (c + 1)) * 1e6) AS BIGINT))
                AS BIGINT) AS mn,
           CAST(sum(k) AS BIGINT) AS n_tokens
         FROM k JOIN c USING (term) CROSS JOIN tot GROUP BY 1),
       s AS (SELECT doc_id, mn // n_tokens AS score_micro FROM mn),
       r AS (SELECT doc_id, score_micro,
               row_number() OVER (ORDER BY score_micro, doc_id) AS rn,
               count(*) OVER () AS n
             FROM s)
       SELECT doc_id, score_micro, CAST((3 * (rn - 1)) // n AS BIGINT) AS bucket
       FROM r ORDER BY doc_id"""

  /** Model-based quality classifier — the CCNet/fastText step that sits
    * NEXT to the heuristic gates ([[gopherRules]]) and the perplexity
    * tiering ([[ccnetBuckets]]): a multinomial Naive-Bayes scorer over
    * hashed unigram features, TRAINED ON THE CORPUS'S OWN perplexity
    * tertiles (head = positive, tail = negative — CCNet's "train a
    * classifier on the LM's verdicts" bootstrap) and then applied to
    * every document, middle tertile included. The output is the exact
    * integer micro-logit score and the binary verdict, with the
    * training label alongside for the train-accuracy audit.
    *
    * Exactness ([[lmScore]]'s trick end-to-end): features are
    * `md5(term)` mod 4096 (engine-portable feature hashing), per-feature
    * log-likelihood-ratio weights are floor(1e6 · ln(smoothed ratio)) on
    * exact integer counts, a doc's score is an exact long sum of its
    * tokens' weights plus the integer prior — partition-order invariant
    * and hash-verified against DuckDB.
    *
    * Scale shape: label assignment is [[ccnetBuckets]] (its segmented
    * rank); training counts are ONE hash aggregate over (feature,
    * bucket) — 4096 keys, map-side combine absorbs everything; the
    * weight table is 4096 rows and BROADCASTS to the scoring scan, so
    * classification is a per-token broadcast-hash lookup + one per-doc
    * sum — no shuffle grows with the vocabulary, and the model is a
    * bounded artifact exactly like a fastText .bin.
    */
  def nbQuality(spark: SparkSession, dir: String): DataFrame = {
    val B = 4096
    // ONE corpus tokenize serves both the perplexity tiering and the NB
    // features: the barrier carries (doc_id, term, f) so ccnetBuckets
    // reads the term column and the classifier reads the hashed feature
    // — previously each side paid its own full explode over the corpus.
    val d = Tables.fanout(Tables.documents(spark, dir))
    val toksAll = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .select(col("doc_id"), col("term"),
        (conv(substring(md5(col("term").cast("binary")), 1, 8), 16, 10)
          .cast("long") % B).as("f"))
      .barrier()
    val cb = ccnetBucketsFrom(toksAll.select(col("doc_id"), col("term")))
      .select(col("doc_id"), col("bucket"))
      .barrier() // labels, prior, and the output join all read this
    // The bucket frame is ONE ROW PER DOCUMENT — orders of magnitude
    // smaller than the token stream it joins. Left to size estimates the
    // planner sort-merge-joins them, shuffling every token row by doc_id;
    // pinning the label side broadcast under a document-count probe
    // removes that exchange outright (the training counts then map-side
    // combine into 4096 feature keys with no corpus-wide shuffle at all).
    val cbSmall = graft.Tables.documentCount(spark, dir) <= 8000000L
    graft.StrategyLog.record("text_nb_quality",
      if (cbSmall) "broadcast_labels" else "shuffle_labels")
    def pinCb(df: DataFrame): DataFrame = if (cbSmall) broadcast(df) else df
    val toks = toksAll.select(col("doc_id"), col("f"))
    val cnt = toks.join(pinCb(cb), "doc_id").filter(col("bucket") =!= 1)
      .groupBy(col("f")).agg(
        sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("bucket") === 2, 1L).otherwise(0L)).as("c_neg"))
    val tot = cnt.agg(sum(col("c_pos")).as("t_pos"), sum(col("c_neg")).as("t_neg"))
    val w = cnt.crossJoin(broadcast(tot)).select(col("f"),
      floor(log(
        ((col("c_pos") + 1).cast("double") * (col("t_neg") + B).cast("double")) /
        ((col("c_neg") + 1).cast("double") * (col("t_pos") + B).cast("double")))
        * 1e6).cast("long").as("w"))
    // unseen-feature weight: both counts 0 under the same smoothing
    val wd = tot.select(
      floor(log((col("t_neg") + B).cast("double") / (col("t_pos") + B).cast("double"))
        * 1e6).cast("long").as("w0"))
    // Degenerate-corpus guard ([[Similarity.powerComponent]]'s fail-loudly
    // pattern): a corpus too small for ccnetBuckets to mint both tertiles
    // gives ln(n_pos/n_neg) = ±Infinity, which Spark's long cast clamps to
    // Long.MaxValue while DuckDB errors — fail loudly instead. ONE
    // aggregate action over the barriered `cb` frame serves both the
    // guard and the prior (floor∘log over two longs is the identical
    // arithmetic driver-side — java.lang.Math either way).
    val tertiles = cb.agg(
        coalesce(sum(when(col("bucket") === 0, 1L).otherwise(0L)), lit(0L)).as("n_pos"),
        coalesce(sum(when(col("bucket") === 2, 1L).otherwise(0L)), lit(0L)).as("n_neg"))
      .head()
    val (nPos, nNeg) = (tertiles.getLong(0), tertiles.getLong(1))
    require(nPos > 0 && nNeg > 0,
      s"nbQuality needs both training tertiles non-empty (n_pos=" +
        s"$nPos, n_neg=$nNeg): the corpus " +
        "is too small/degenerate for ccnetBuckets to mint head and tail")
    val prior = lit(math.floor(math.log(nPos.toDouble / nNeg) * 1e6).toLong)
    val sc = toks.join(broadcast(w), Seq("f"), "left").crossJoin(broadcast(wd))
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("w"), col("w0"))).as("like_micro"))
    pinCb(cb).join(sc, "doc_id")
      .select(col("doc_id"), col("bucket"),
        (col("like_micro") + prior).as("score_micro"),
        ((col("like_micro") + prior) > 0).as("pred"))
      .orderBy("doc_id")
  }

  val nbQualityOracle: String =
    """WITH cb AS (%s),
       toks AS (SELECT doc_id,
                  (('0x' || substring(md5(term), 1, 8))::BIGINT %% 4096) AS f
                FROM (SELECT doc_id,
                        unnest(string_split_regex(trim(text), '\s+')) AS term
                      FROM documents)),
       cnt AS (SELECT t.f,
                 CAST(sum(CASE WHEN cb.bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
                 CAST(sum(CASE WHEN cb.bucket = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
               FROM toks t JOIN cb USING (doc_id)
               WHERE cb.bucket <> 1 GROUP BY 1),
       tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS t_pos,
                      CAST(sum(c_neg) AS BIGINT) AS t_neg FROM cnt),
       w AS (SELECT f,
               CAST(floor(ln(((c_pos + 1)::DOUBLE * (t_neg + 4096)::DOUBLE) /
                             ((c_neg + 1)::DOUBLE * (t_pos + 4096)::DOUBLE))
                          * 1e6) AS BIGINT) AS w
             FROM cnt CROSS JOIN tot),
       wd AS (SELECT CAST(floor(ln((t_neg + 4096)::DOUBLE / (t_pos + 4096)::DOUBLE)
                          * 1e6) AS BIGINT) AS w0 FROM tot),
       pr AS (SELECT CAST(floor(ln(
                 (sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END))::DOUBLE /
                 (sum(CASE WHEN bucket = 2 THEN 1 ELSE 0 END))::DOUBLE) * 1e6)
               AS BIGINT) AS prior FROM cb),
       sc AS (SELECT t.doc_id,
                CAST(sum(coalesce(w.w, wd.w0)) AS BIGINT) AS like_micro
              FROM toks t LEFT JOIN w USING (f) CROSS JOIN wd GROUP BY 1)
       SELECT cb.doc_id, cb.bucket, sc.like_micro + pr.prior AS score_micro,
              (sc.like_micro + pr.prior) > 0 AS pred
       FROM cb JOIN sc USING (doc_id) CROSS JOIN pr ORDER BY cb.doc_id"""
      .format(ccnetBucketsOracle)

  /** Rule-based quality gate in the Gopher/MassiveText style: each
    * document gets a per-rule boolean verdict and an overall pass —
    * word-count window, mean-word-length window, alphabetic-word ratio,
    * stopword presence, symbol ratio. This is the FILTER side of corpus
    * curation (where [[quality]] is the continuous SCORE side): the
    * rules are the published MassiveText heuristics re-expressed over
    * the testdata corpus.
    *
    * Exactness: every rule is an integer cross-multiplication
    * (3·W ≤ C ≤ 10·W instead of 3 ≤ C/W ≤ 10), so there is not one
    * float in the operator and verdicts are engine-exact — ratio
    * thresholds as rational comparisons, the same trick as
    * [[bm25]]'s saturation term.
    *
    * Scale shape: a pure per-row projection over one pruned scan — no
    * shuffle, no state, embarrassingly parallel; the codegen'd
    * `filter`/`size` higher-order functions do the word-class counts
    * without a UDF.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanout(Tables.documents(spark, dir))
    // the corpus's actual function words (the synthetic vocabulary has no
    // be/to/of...); the published rule is "≥ 2 of a fixed stopword list"
    // and the LIST is corpus/language-specific by design
    val stop = Seq("the", "a")
    val base = d.select(
      col("doc_id"),
      words(col("text")).as("ws"),
      length(regexp_replace(col("text"), "\\s", "")).cast("long").as("chars"),
      (length(col("text")) - length(replace(col("text"), lit("#"), lit(""))))
        .cast("long").as("n_hash"),
      ((length(col("text")) - length(replace(col("text"), lit("..."), lit(""))))
        / 3).cast("long").as("n_ell"))
    val counted = base.select(
      col("doc_id"),
      size(col("ws")).cast("long").as("w"),
      col("chars"),
      size(filter(col("ws"), x => x.rlike("[A-Za-z]"))).cast("long").as("alpha"),
      size(filter(typedLit(stop), s => array_contains(col("ws"), s)))
        .cast("long").as("n_stop"),
      (col("n_hash") + col("n_ell")).as("sym"))
    counted.select(
        col("doc_id"), col("w"),
        (col("w") >= 50 && col("w") <= 100000).as("r_words"),
        (lit(3L) * col("w") <= col("chars") &&
          col("chars") <= lit(10L) * col("w")).as("r_mean_len"),
        (lit(5L) * col("alpha") >= lit(4L) * col("w")).as("r_alpha"),
        (col("n_stop") >= 2).as("r_stop"),
        (lit(10L) * col("sym") <= col("w")).as("r_symbol"))
      .withColumn("pass",
        col("r_words") && col("r_mean_len") && col("r_alpha") &&
          col("r_stop") && col("r_symbol"))
      .orderBy("doc_id")
  }

  val gopherRulesOracle: String =
    """WITH b AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws,
           CAST(len(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS chars,
           CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
           CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell
         FROM documents),
       c AS (
         SELECT doc_id, CAST(len(ws) AS BIGINT) AS w, chars,
           CAST(len([x FOR x IN ws IF regexp_matches(x, '[A-Za-z]')]) AS BIGINT) AS alpha,
           CAST(len([s FOR s IN ['the','a']
                     IF list_contains(ws, s)]) AS BIGINT) AS n_stop,
           n_hash + n_ell AS sym
         FROM b)
       SELECT doc_id, w,
         (w >= 50 AND w <= 100000) AS r_words,
         (3 * w <= chars AND chars <= 10 * w) AS r_mean_len,
         (5 * alpha >= 4 * w) AS r_alpha,
         (n_stop >= 2) AS r_stop,
         (10 * sym <= w) AS r_symbol,
         ((w >= 50 AND w <= 100000) AND (3 * w <= chars AND chars <= 10 * w)
          AND (5 * alpha >= 4 * w) AND (n_stop >= 2)
          AND (10 * sym <= w)) AS pass
       FROM c ORDER BY doc_id"""

  /** Hybrid retrieval fusion: reciprocal-rank fusion (RRF, k = 60) of the
    * lexical [[bm25]] ranking and the vector
    * [[Similarity.filteredTopk]] ranking — the step every production
    * retrieval stack runs after its two retrievers, and the operator that
    * completes the lexical + vector story those two halves set up.
    *
    * Per query: candidates = (that query's vector top-5) ∪ (the lexical
    * top-15), fused score = Σ_lists 1e6 DIV (60 + rank) — integer
    * division in micro-units, so the score is exact long arithmetic on
    * both engines (1/(60+r) itself is not representable; the floor of its
    * micro-scaling is, and is the standard integer-RRF trick). Top-10
    * fused per query by (score desc, doc_id).
    *
    * Scale shape: RRF only ever touches the bounded top-k lists its
    * retrievers emit — the fusion input is |queries| × (k_lex + k_vec)
    * rows REGARDLESS of corpus size, so the full-outer join here is a
    * broadcast no-op at 100 TB; all heavy lifting stays inside the two
    * retrievers, which keep their own bucketed/pruned plans.
    */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25(spark, dir)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val vec = Similarity.filteredTopk(spark, dir)
      .select(col("query_id"), col("cand_id").as("doc_id"),
        col("rank").as("vec_rank"))
    val qs = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10).select(col("vec_id").as("query_id"))
    // every query sees the same lexical list (the fixed-term BM25 probe);
    // both sides are bounded top-k outputs → broadcast-size by design
    val lexPerQ = qs.crossJoin(broadcast(lex))
    val fused = lexPerQ.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr("1000000 DIV (60 + lex_rank)"), lit(0L)) +
         coalesce(expr("1000000 DIV (60 + vec_rank)"), lit(0L))).as("rrf_micro"))
    graft.plans.TopKPerKey.perKey(fused, Seq(col("query_id")),
        Seq(col("rrf_micro").desc, col("doc_id")), 10)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("rrf_micro"))
      .orderBy("query_id", "rank")
  }

  val hybridRrfOracle: String =
    """WITH base AS (
         SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
         FROM documents),
       b2 AS (SELECT doc_id, len(ws) AS dl, ws FROM base),
       toks AS (SELECT doc_id, dl, unnest(ws) AS term FROM b2),
       per_doc AS (SELECT doc_id, dl, term, count(*) AS tf
                   FROM toks GROUP BY 1, 2, 3),
       dfreq AS (SELECT term, count(*) AS df FROM per_doc GROUP BY 1),
       tot AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS t
               FROM b2),
       probe AS (
         SELECT p.doc_id, p.dl, p.tf, f.df, tot.n_docs, tot.t
         FROM per_doc p JOIN dfreq f USING (term) CROSS JOIN tot
         WHERE p.term IN ('hash', 'join', 'dup')),
       scored AS (
         SELECT doc_id,
           CAST(floor(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * (44.0 * tf * t /
                (20 * tf * t + 6 * t + 18 * dl * n_docs))
             * 1e6) AS BIGINT) AS mscore
         FROM probe),
       agg AS (SELECT doc_id, CAST(sum(mscore) AS BIGINT) AS bm25_micro
               FROM scored GROUP BY 1),
       lex AS (
         SELECT doc_id, lex_rank FROM (
           SELECT doc_id,
             row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS lex_rank
           FROM agg) WHERE lex_rank <= 15),
       en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
       vscored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
           list_sum([(a.embedding[i]::DOUBLE) * (b.embedding[i]::DOUBLE)
                     FOR i IN generate_series(1, len(a.embedding))])
           / (sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN a.embedding]))
              * sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN b.embedding]))) AS cos
         FROM embeddings a
         JOIN embeddings b ON b.vec_id >= 10
         JOIN en ON b.vec_id = en.doc_id
         WHERE a.vec_id < 10),
       vec AS (
         SELECT query_id, cand_id AS doc_id, vec_rank FROM (
           SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, cand_id) AS vec_rank
           FROM vscored) WHERE vec_rank <= 5),
       qs AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10),
       lexq AS (SELECT q.query_id, l.doc_id, l.lex_rank
                FROM qs q CROSS JOIN lex l),
       fused AS (
         SELECT coalesce(a.query_id, b.query_id) AS query_id,
                coalesce(a.doc_id, b.doc_id) AS doc_id,
                coalesce(1000000 // (60 + a.lex_rank), 0)
                + coalesce(1000000 // (60 + b.vec_rank), 0) AS rrf_micro
         FROM lexq a FULL OUTER JOIN vec b
           ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
       franked AS (
         SELECT query_id, doc_id, rrf_micro,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rrf_micro DESC, doc_id) AS rank
         FROM fused)
       SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
              CAST(rrf_micro AS BIGINT) AS rrf_micro
       FROM franked WHERE rank <= 10 ORDER BY query_id, rank"""
}

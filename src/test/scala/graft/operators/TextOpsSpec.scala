package graft.operators

import graft.{SparkSpec, Tables}

class TextOpsSpec extends SparkSpec {

  test("token counts are consistent") {
    TextOps.tokens(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("ws_tokens") > 0)
      assert(r.getAs[Long]("uniq_words") <= r.getAs[Long]("ws_tokens"))
      // every whitespace token is at least one regex token
      assert(r.getAs[Long]("re_tokens") >= r.getAs[Long]("ws_tokens"))
    }
  }

  test("quality score is bounded and ratios are in [0, 1]") {
    TextOps.quality(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Double]("stop_ratio") >= 0.0 && r.getAs[Double]("stop_ratio") <= 1.0)
      assert(r.getAs[Double]("uniq_ratio") > 0.0 && r.getAs[Double]("uniq_ratio") <= 1.0)
      assert(r.getAs[Double]("quality") > 0.0 && r.getAs[Double]("quality") <= 1.0)
    }
  }

  test("qualityScoresDocsKeep refuses keep columns that collide with its own columns") {
    import org.apache.spark.sql.functions.{col, length}
    val docs = Tables.documents(spark, sfDir)
    // a passthrough that resolves to an internal or a score name would be
    // shadowed (n_words) or duplicated (doc_id, quality) in the scored frame
    val chars = length(col("text"))
    Seq(chars.as("n_words"), col("doc_id"), chars.as("N_UNIQ"),
        chars.as("quality")).foreach { c =>
      val e = intercept[IllegalArgumentException] {
        TextOps.qualityScoresDocsKeep(docs, Seq(col("lang"), c))
      }
      assert(e.getMessage.contains("collide"), e.getMessage)
    }
    // disjoint names pass through, in order, next to the scores
    val ok = TextOps.qualityScoresDocsKeep(docs,
      Seq(col("lang"), length(col("text")).as("chars")))
    assert(ok.columns.take(3).toSeq === Seq("doc_id", "lang", "chars"))
    assert(ok.columns.contains("n_words") && ok.columns.contains("quality"))
  }

  test("langid predicts a language for every doc") {
    val rows = TextOps.langid(spark, sfDir).collect()
    assert(rows.length === Tables.documents(spark, sfDir).count())
    val langs = Set("en", "es", "de", "fr", "zh")
    rows.foreach(r => assert(langs.contains(r.getAs[String]("pred_lang"))))
  }

  test("fingerprint groups partition the corpus") {
    val rows = TextOps.fingerprint(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === Tables.documents(spark, sfDir).count())
  }

  test("ngram novelty: doc 0 is fully novel, rates bounded, counts partition") {
    val rows = TextOps.ngramNovelty(spark, sfDir).collect()
    val byDoc = rows.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_novel"), r.getAs[Double]("novelty"))).toMap
    // the lowest doc_id in the corpus can only contain first-seen trigrams
    val firstDoc = byDoc.keys.min
    assert(byDoc(firstDoc)._1 === byDoc(firstDoc)._2,
      "the first document's trigrams are all novel by definition")
    byDoc.values.foreach { case (n, novel, rate) =>
      assert(novel <= n && rate >= 0.0 && rate <= 1.0)
    }
    // every distinct trigram is novel in exactly ONE document: the novel
    // counts must sum to the corpus's distinct-trigram count
    import org.apache.spark.sql.functions._
    val d = graft.Tables.documents(spark, sfDir)
    val distinctTris = d.select(split(trim(col("text")), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(explode(array_distinct(transform(
        sequence(lit(0), size(col("ws")) - 3),
        i => concat_ws(" ", element_at(col("ws"), i + 1),
          element_at(col("ws"), i + 2), element_at(col("ws"), i + 3))))).as("ng"))
      .select("ng").distinct().count()
    assert(byDoc.values.map(_._2).sum === distinctTris)
  }

  test("lm cross-entropy is positive, bounded, and replay-stable") {
    val r1 = TextOps.lmScore(spark, sfDir).collect()
    assert(r1.nonEmpty)
    // add-one smoothing bounds every token's surprisal by ln(T + V), so
    // cross-entropy lives in (0, ln(T+V)]
    r1.foreach { r =>
      val ce = r.getAs[Double]("cross_entropy")
      assert(ce > 0.0 && ce < 25.0, s"implausible cross-entropy $ce")
    }
    val r2 = TextOps.lmScore(spark, sfDir).collect()
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq, "replay-stable")
    // in-vocabulary synthetic text must score far below the OOV ceiling:
    // the corpus shares one small vocabulary, so the average doc is fluent
    val mean = r1.map(_.getAs[Double]("cross_entropy")).sum / r1.length
    assert(mean < 10.0, s"mean cross-entropy $mean looks like an OOV-only score")
  }

  test("pii scrub: realistic PII shapes are caught and nothing survives the chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // handcrafted shapes the corpus lacks: subdomain emails, plus-tags,
    // zero-padded IPs, international and parenthesized phones
    val samples = Seq(
      ("reach alice.smith+spam@sub.example.co.uk or bob_2@x.io today", 2, 0, 0),
      ("server 192.168.001.250 and 10.0.0.7 rebooted", 0, 2, 0),
      ("call +1 (415) 555-0198 or 020-7946-0958 now", 0, 0, 2),
      ("plain prose with no contact information at all", 0, 0, 0))
      .toDF("s", "e", "i", "p")
    val scrubbed = samples
      .withColumn("n_e", size(regexp_extract_all(col("s"), lit(TextOps.EmailRe), lit(0))))
      .withColumn("s", regexp_replace(col("s"), TextOps.EmailRe, "<EMAIL>"))
      .withColumn("n_i", size(regexp_extract_all(col("s"), lit(TextOps.IpRe), lit(0))))
      .withColumn("s", regexp_replace(col("s"), TextOps.IpRe, "<IP>"))
      .withColumn("n_p", size(regexp_extract_all(col("s"), lit(TextOps.PhoneRe), lit(0))))
      .withColumn("s", regexp_replace(col("s"), TextOps.PhoneRe, "<PHONE>"))
      .collect()
    scrubbed.foreach { r =>
      assert(r.getAs[Int]("n_e") === r.getAs[Int]("e"), s"emails in: ${r.getAs[String]("s")}")
      assert(r.getAs[Int]("n_i") === r.getAs[Int]("i"), s"ips in: ${r.getAs[String]("s")}")
      assert(r.getAs[Int]("n_p") === r.getAs[Int]("p"), s"phones in: ${r.getAs[String]("s")}")
      val clean = r.getAs[String]("s")
      Seq(TextOps.EmailRe, TextOps.IpRe, TextOps.PhoneRe).foreach { re =>
        assert(!re.r.findFirstIn(clean).isDefined, s"residue in: $clean")
      }
    }
    // over the corpus: exactly the one injected instance of each family
    // per document (the synthetic text has no organic digits or @), and
    // the cleaned texts stay distinct because the injection is id-derived
    val rows = TextOps.piiScrub(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") === 1L)
      assert(r.getAs[Long]("n_ips") === 1L)
      assert(r.getAs[Long]("n_phones") === 1L)
    }
    assert(rows.map(_.getAs[String]("clean_md5")).distinct.length === rows.length)
  }

  test("boilerplate: untouched docs reconstruct byte-identically; drops are real") {
    import org.apache.spark.sql.functions._
    val res = TextOps.boilerplate(spark, sfDir).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (segs, dropped) = (r.getAs[Long]("n_segs"), r.getAs[Long]("n_dropped"))
      assert(dropped >= 0L && dropped <= segs)
    }
    assert(res.exists(_.getAs[Long]("n_dropped") > 0),
      "corpus is known to contain repeated segments; none were dropped")
    // a doc with zero drops must stitch back to its whitespace-normalized
    // text exactly (segmentation + rebuild round-trips)
    val normMd5 = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(concat_ws(" ", split(trim(col("text")), "\\s+")).cast("binary")).as("m"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("m")).toMap
    val untouched = res.filter(_.getAs[Long]("n_dropped") == 0L)
    assert(untouched.nonEmpty)
    untouched.foreach { r =>
      assert(r.getAs[String]("clean_md5") === normMd5(r.getAs[Long]("doc_id")),
        s"doc ${r.getAs[Long]("doc_id")} did not round-trip")
    }
  }

  test("keywords: bounded-heap plan, dense ranks, nonincreasing scores per doc") {
    val df = TextOps.keywords(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"),
      s"keywords must plan through the bounded-heap operator:\n$plan")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq === (1L to rs.length.toLong),
        s"doc $doc ranks not dense")
      assert(rs.length <= 3, s"doc $doc has ${rs.length} keywords")
      val scores = byRank.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $doc scores increase with rank")
    }
  }

  test("contaminationBloom is bit-identical to the unfiltered contamination") {
    val exact = TextOps.contamination(spark, sfDir).collect().map(_.toSeq)
    val bloom = TextOps.contaminationBloom(spark, sfDir).collect().map(_.toSeq)
    assert(bloom.toSeq === exact.toSeq,
      "the Bloom pre-filter may only discard rows the exact join would drop")
  }

  test("zipf head: dense ranks, nonincreasing counts, bounded shares") {
    val rows = TextOps.zipf(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to rows.length.toLong))
    val counts = rows.map(_.getAs[Long]("cnt"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      "counts must fall (or tie) as rank grows")
    val shares = rows.map(_.getAs[Double]("share"))
    assert(shares.forall(s => s > 0.0 && s <= 1.0))
    assert(shares.sum <= 1.0 + 1e-9, "head shares cannot exceed the corpus")
  }

  test("ccnet buckets: full cover, even tertiles, scores monotone across buckets") {
    val rows = TextOps.ccnetBuckets(spark, sfDir).collect()
    val n = graft.Tables.documents(spark, sfDir).count()
    assert(rows.length.toLong === n, "every document must land in a bucket")
    val byBucket = rows.groupBy(_.getAs[Long]("bucket"))
    assert(byBucket.keySet === Set(0L, 1L, 2L))
    // exact tertile cut: bucket sizes differ by at most 1
    val sizes = byBucket.view.mapValues(_.length).values.toSeq
    assert(sizes.max - sizes.min <= 1, s"uneven tertiles: $sizes")
    // ordering: every head score <= every middle score <= every tail score
    def scores(b: Long) = byBucket(b).map(_.getAs[Long]("score_micro"))
    assert(scores(0L).max <= scores(1L).min)
    assert(scores(1L).max <= scores(2L).min)
  }

  test("gopher rules: verdicts are consistent with their measured inputs") {
    val rows = TextOps.gopherRules(spark, sfDir).collect()
    assert(rows.length.toLong === graft.Tables.documents(spark, sfDir).count())
    rows.foreach { r =>
      val pass = r.getAs[Boolean]("pass")
      val all = Seq("r_words", "r_mean_len", "r_alpha", "r_stop", "r_symbol")
        .map(r.getAs[Boolean])
      assert(pass === all.forall(identity), s"pass must be the rule conjunction: $r")
    }
    // the gate must do real work on this corpus: both verdicts occur
    val nPass = rows.count(_.getAs[Boolean]("pass"))
    assert(nPass > 0, "no document passes — a rule is miscalibrated")
    assert(nPass < rows.length, "every document passes — the gate is vacuous")
  }

  test("nb classifier separates a synthetic separable corpus and is deterministic") {
    import spark.implicits._
    // three cleanly-separated strata: common vocabulary (head — the LM
    // loves it), mixed, and per-doc rare vocabulary (tail). ccnetBuckets
    // labels them 0/1/2 by construction; a working NB must then score
    // every head doc positive and every tail doc negative.
    val dir = java.nio.file.Files.createTempDirectory("graft-nbq").toString
    val docs = (0 until 30).map { i =>
      val text =
        if (i < 10) Seq.fill(5)("alpha beta gamma delta").mkString(" ")
        else if (i < 20) Seq.fill(5)(s"alpha beta m${i / 2}a m${i / 2}b").mkString(" ")
        else Seq.fill(5)(s"r${i}a r${i}b r${i}c r${i}d").mkString(" ")
      (i.toLong, text, "en", "src0", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.nbQuality(spark, dir).collect()
    assert(out.length === 30)
    val byDoc = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    (0L until 10L).foreach { i =>
      assert(byDoc(i).getAs[Long]("bucket") === 0L, s"doc $i must label head")
      assert(byDoc(i).getAs[Boolean]("pred"), s"head doc $i must score positive")
    }
    (20L until 30L).foreach { i =>
      assert(byDoc(i).getAs[Long]("bucket") === 2L, s"doc $i must label tail")
      assert(!byDoc(i).getAs[Boolean]("pred"), s"tail doc $i must score negative")
    }
    val again = TextOps.nbQuality(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_micro")).toMap
    out.foreach { r =>
      assert(again(r.getAs[Long]("doc_id")) === r.getAs[Long]("score_micro"),
        "integer micro-logit scores must be bit-deterministic")
    }
  }
}

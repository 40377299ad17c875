package graft.operators

import graft.{SparkSpec, Tables}

class DedupSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet

  lazy val exactJaccardPairs: Set[(Long, Long)] = pairs(Dedup.ngramJaccard(spark, sfDir))

  test("exact dedup keeps at most one doc per content hash") {
    val kept = Dedup.exact(spark, sfDir).count()
    val distinctTexts = Tables.documents(spark, sfDir).select("text").distinct().count()
    assert(kept === distinctTexts)
  }

  test("ngramJaccard finds the planted near-duplicate pairs") {
    assert(exactJaccardPairs.nonEmpty, "corpus should contain planted near-dups")
    Dedup.ngramJaccard(spark, sfDir).collect().foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
    }
  }

  test("lsh-candidate jaccard: exact values, subset of exact path, recall floor") {
    // force the corpus-scale candidate strategy on the spec corpus and
    // pin it against the complete-recall exact path: every returned pair
    // must carry the IDENTICAL exact Jaccard (verification is shared),
    // and banding recall over the planted near-dups must clear the floor
    val exactRows = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    spark.conf.set("spark.sql.graft.jaccardCandidates", "lsh")
    try {
      val lshRows = Dedup.ngramJaccard(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
          r.getAs[Double]("jaccard")).toMap
      lshRows.foreach { case (p, j) =>
        assert(exactRows.contains(p), s"lsh pair $p not in exact output")
        assert(exactRows(p) === j, s"lsh pair $p jaccard $j != exact ${exactRows(p)}")
      }
      val recall =
        if (exactRows.isEmpty) 1.0
        else lshRows.keySet.count(exactRows.contains).toDouble / exactRows.size
      // banding curve 1-(1-J^4)^16 ≈ 0.64 at the J=0.5 boundary, ≈ 0.99
      // at J >= 0.7; the planted corpus dups sit well above the boundary
      assert(recall >= 0.6, s"lsh recall $recall below floor (${exactRows.size} exact)")
    } finally spark.conf.unset("spark.sql.graft.jaccardCandidates")
  }

  test("minhashLsh recovers the exact-Jaccard pairs (est >= 0.5)") {
    val lsh = pairs(Dedup.minhashLsh(spark, sfDir))
    val missed = exactJaccardPairs -- lsh
    assert(missed.isEmpty, s"minhash missed true pairs: $missed")
    // Precision: estimated-Jaccard survivors should largely be true pairs.
    val extra = lsh -- exactJaccardPairs
    assert(extra.size <= lsh.size / 2, s"too many false positives: $extra")
  }

  test("simhash 3-of-6 combo keys cover every hamming<=3 pair, rarely more") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    // near pairs: flip 0..3 random bits — MUST share a combo key
    // (pigeonhole over the untouched blocks); far pairs: independent
    // signatures — share a key only on a ~2^-32 random collision
    val near = Seq.fill(300) {
      val a = rnd.nextLong()
      val flips = rnd.between(0, 4)
      val b = (0 until flips).foldLeft(a)((v, _) => v ^ (1L << rnd.between(0, 64)))
      (a, b, true)
    }
    val far = Seq.fill(300)((rnd.nextLong(), rnd.nextLong(), false))
    val df = (near ++ far).toDF("a", "b", "near")
      .select(col("near"),
        arrays_overlap(Dedup.simhashCombos(col("a")),
          Dedup.simhashCombos(col("b"))).as("shared"))
      .collect()
    df.filter(_.getBoolean(0)).foreach(r =>
      assert(r.getBoolean(1), "a hamming<=3 pair must share a combo key"))
    val falsePos = df.filter(r => !r.getBoolean(0) && r.getBoolean(1)).length
    assert(falsePos <= 3, s"$falsePos/300 independent pairs collided")
  }

  test("simhash finds most planted near-dups at hamming <= 3") {
    val sh = pairs(Dedup.simhash(spark, sfDir))
    val recall = (exactJaccardPairs & sh).size.toDouble / exactJaccardPairs.size
    assert(recall >= 0.4, s"simhash recall $recall too low")
  }

  test("a degenerate hot bucket cannot go quadratic inside the lsh join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2000 identical docs (the exact-dedup-first contract violated on
    // purpose) + one planted near-dup pair. Uncapped, the identical docs
    // form a 2000-member bucket in EVERY band -> ~2M * 16 candidate pairs.
    val boiler = (1L to 2000L).map(i => (1000L + i, "the same boilerplate text repeated here again"))
    val near = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"))
    val docs = (boiler ++ near).toDF("doc_id", "text")
    // the cap must not be silent: its drops surface as observed metrics
    @volatile var observed = Map.empty[String, org.apache.spark.sql.Row]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        observed = observed ++ qe.observedMetrics
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Dedup.minhashLshDocs(Dedup.shingledDocs(docs))
      val got = pairs(out)
      assert(got.contains((1L, 2L)), "the true near-dup pair must survive the cap")
      assert(!got.exists { case (a, b) => a > 1000L && b > 1000L },
        "boilerplate bucket members must be dropped by the cap, not paired")
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      val m = observed.getOrElse("dd_minhash_lsh_cap",
        fail("the hot-bucket cap must observe its drops (no silent caps)"))
      assert(m.getAs[Long]("capped_band_rows") === 2000L * 16,
        "each boilerplate doc's 16 band memberships must be reported dropped")
      assert(m.getAs[Long]("max_bucket") === 2000L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("components collapse transitive near-dup chains to one cluster") {
    val rows = Dedup.components(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val comp = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the component id is the kept representative: the min doc of the cluster
    comp.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min === c, s"component $c must be its own minimum")
    }
    // transitivity: any two docs paired directly must share a component
    pairs(Dedup.ngramJaccard(spark, sfDir)).foreach { case (a, b) =>
      assert(comp(a) === comp(b), s"paired docs $a,$b split across components")
    }
  }

  test("driver union-find and distributed propagation label identically") {
    // same pair graph through both adaptive paths of componentsFrom: the
    // edge cap only changes the execution strategy, never the labels
    val pairs = Dedup.ngramJaccard(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("doc_a"),
        org.apache.spark.sql.functions.col("doc_b")).localCheckpoint()
    def labels(capped: Long) =
      Dedup.componentsFrom(spark, pairs, maxDriverEdges = capped).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"))).toSet
    val local = labels(Long.MaxValue) // forces the driver union-find
    val dist = labels(-1L)            // forces the join-round propagation
    assert(local === dist, "adaptive paths disagree on component labels")
    assert(local.nonEmpty)
  }

  test("contracted distributed components merge chains across partitions") {
    import spark.implicits._
    // a 200-hop chain scattered over 16 partitions (every contraction
    // partition holds a few disconnected chain fragments — the merge MUST
    // happen in the cross-partition root graph), plus disjoint pairs
    val chain = (1L until 200L).map(i => (i, i + 1))
    val stars = (0 until 50).map(i => (1000L + i.toLong, 2000L + i.toLong))
    val edges = (chain ++ stars).sortBy(e => e._1 * 2654435761L % 997)
    val pairs = spark.sparkContext.parallelize(edges, 16).toDF("doc_a", "doc_b")
    val got = Dedup.componentsFrom(spark, pairs, maxDriverEdges = -1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (1L to 200L).foreach(n => assert(got(n) === 1L, s"chain node $n"))
    (0 until 50).foreach { i =>
      assert(got(1000L + i) === 1000L + i)
      assert(got(2000L + i) === 1000L + i)
    }
    // identical to the driver union-find over the same graph
    val drv = Dedup.componentsFrom(spark, pairs, maxDriverEdges = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === drv)
  }

  test("components leave no barrier behind that the result does not read") {
    import spark.implicits._
    val sc = spark.sparkContext
    // the contraction test's scattered chain: several propagation rounds
    val chain = (1L until 120L).map(i => (i, i + 1))
    val edges = chain.sortBy(e => e._1 * 2654435761L % 997)
    val pairs = sc.parallelize(edges, 16).toDF("doc_a", "doc_b")
    def leaves(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.logical.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }.toSet
    def survivors(capped: Long): (Set[Int], Set[Int], Map[Long, Long]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = Dedup.componentsFrom(spark, pairs, maxDriverEdges = capped)
      val labels = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      (sc.getPersistentRDDs.keySet.toSet -- before, leaves(out), labels)
    }
    val (drvLeft, _, drv) = survivors(Long.MaxValue)
    assert(drvLeft.isEmpty, s"the driver path left persisted RDDs: $drvLeft")
    val (distLeft, distLeaves, dist) = survivors(-1L)
    assert(distLeft.subsetOf(distLeaves),
      s"label propagation left barriers its result does not read: " +
        s"${distLeft -- distLeaves}")
    assert(dist === drv)
    assert(drv.values.toSet === Set(1L))
  }

  test("incremental dedup drops re-crawls and double-submits, keeps fresh docs") {
    import org.apache.spark.sql.functions._
    val out = Dedup.incremental(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id"))
    // re-crawled corpus docs (+1,000,000 ids) must ALL be dropped by the
    // anti-join against the corpus fingerprint index...
    val recrawls = out.filter(id => id >= 1000000L && id < 2000000L)
    assert(recrawls.isEmpty, s"re-crawled docs survived: ${recrawls.toSeq}")
    // ...and the batch's double-submitted copies (+2,000,000) lose the
    // within-batch tie to the lower original id
    val doubles = out.filter(_ >= 2000000L)
    assert(doubles.isEmpty, s"double-submits survived: ${doubles.toSeq}")
    // fresh docs (batch-only fingerprints) all survive
    val fresh = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 5 === 0).count()
    assert(out.length === fresh.toInt,
      s"expected $fresh fresh survivors, got ${out.length}")
  }

  test("embeddingCos output is symmetric-free and above threshold") {
    val rows = Dedup.embeddingCos(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("probe_id") < r.getAs[Long]("cand_id"))
      assert(r.getAs[Double]("cosine") >= 0.3)
    }
  }

  test("blocked embedding near-dup is an exact-cosine subset with recall") {
    import org.apache.spark.sql.functions._
    import graft.functions.CosineSimilarity
    val e = graft.Tables.embeddings(spark, sfDir)
    // exact all-pairs ground truth (only viable at spec scale)
    val exact = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("ib"), col("embedding").as("eb")),
        col("ia") < col("ib"))
      .select(col("ia"), col("ib"), CosineSimilarity(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.embeddingCosBlocked(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    // precision 1.0 by construction: every reported pair is exact-verified
    assert(blocked.subsetOf(exact), "blocked pairs must be a subset of exact pairs")
    val recall = if (exact.isEmpty) 1.0 else (exact & blocked).size.toDouble / exact.size
    assert(recall >= 0.5, s"blocked recall $recall below floor (exact ${exact.size})")
  }

  test("forced-IMI blocking keeps the exact-subset pin and a recall floor") {
    import org.apache.spark.sql.functions._
    import graft.functions.CosineSimilarity
    val e = graft.Tables.embeddings(spark, sfDir)
    val exact = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("ib"), col("embedding").as("eb")),
        col("ia") < col("ib"))
      .select(col("ia"), col("ib"), CosineSimilarity(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.sql.graft.embBlocking", "imi")
    try {
      val imi = Dedup.embeddingCosBlocked(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
      // precision 1.0 by construction (every candidate exact-verified)
      assert(imi.subsetOf(exact), "IMI-blocked pairs must be a subset of exact")
      val recall = if (exact.isEmpty) 1.0 else (exact & imi).size.toDouble / exact.size
      assert(recall >= 0.5, s"IMI recall $recall below floor (exact ${exact.size})")
      // determinism: quantizers are seed-fixed, assignment is a pure expr
      val again = Dedup.embeddingCosBlocked(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
      assert(again === imi, "forced-IMI blocking must be deterministic")
    } finally spark.conf.unset("spark.sql.graft.embBlocking")
  }

  test("semDedup ivf branch: sound drops, reported cosines exact, deterministic") {
    import org.apache.spark.sql.functions._
    import graft.functions.CosineSimilarity
    // exact lower-id near-dup ground truth at spec scale
    val e = graft.Tables.embeddings(spark, sfDir)
    val exact = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(e.select(col("vec_id").as("ib"), col("embedding").as("eb")),
        col("ia") < col("ib"))
      .select(col("ib"), col("ia"),
        (floor(CosineSimilarity(col("ea"), col("eb")) * 1e4) / 1e4).as("c"))
      .filter(col("c") >= 0.3)
      .collect().groupBy(_.getLong(0))
      .map { case (b, rs) => b -> rs.map(_.getAs[Double]("c")).toSet }
    spark.conf.set("spark.sql.graft.semdedupBlocking", "ivf")
    try {
      val out = Dedup.semDedup(spark, sfDir).collect()
      assert(out.length.toLong === e.count(), "one verdict per vector")
      out.foreach { r =>
        val id = r.getAs[Long]("vec_id")
        val keep = r.getAs[Boolean]("keep")
        if (!keep) {
          // soundness: a dropped vector really has a lower-id exact
          // near-dup, and the reported max_cos is one of its exact
          // lower-pair cosines (blocking can only affect WHICH are found)
          assert(exact.contains(id), s"vec $id dropped without an exact near-dup")
          assert(exact(id).contains(r.getAs[Double]("max_cos")),
            s"vec $id max_cos is not an exact lower-pair cosine")
        } else {
          assert(r.getAs[Long]("n_dups_lower") === 0L)
        }
      }
      val again = Dedup.semDedup(spark, sfDir).collect().map(_.toSeq)
      assert(again.toSeq === out.map(_.toSeq).toSeq,
        "ivf-blocked semDedup must be deterministic")
      // the IMI side (the >FlatIvfCellMax-cells scale path) obeys the
      // same soundness contract: drops only with an exact lower-id
      // near-dup, reported cosines drawn from the exact pair set
      spark.conf.set("spark.sql.graft.semdedupBlocking", "imi")
      val imi = Dedup.semDedup(spark, sfDir).collect()
      assert(imi.length === out.length, "one verdict per vector (imi)")
      imi.filterNot(_.getAs[Boolean]("keep")).foreach { r =>
        val id = r.getAs[Long]("vec_id")
        assert(exact.contains(id),
          s"vec $id dropped without an exact near-dup (imi)")
        assert(exact(id).contains(r.getAs[Double]("max_cos")),
          s"vec $id max_cos is not an exact lower-pair cosine (imi)")
      }
      // the flag is honored: kmeans mode labels clusters 0..7 only, the
      // ivf mode over this corpus uses 16 cells — cluster domains differ
      spark.conf.set("spark.sql.graft.semdedupBlocking", "kmeans")
      val km = Dedup.semDedup(spark, sfDir).collect()
      assert(km.map(_.getAs[Int]("cluster")).max <= 7,
        "kmeans mode must keep the 8-cluster oracle shape")
    } finally spark.conf.unset("spark.sql.graft.semdedupBlocking")
  }

  test("dupSpans finds planted cross-doc and within-doc repeated runs") {
    import spark.implicits._
    // doc 1 and doc 2 share an exact 20-token run (tokens w5..w24); every
    // other token is globally unique, so the only duplicated 15-windows
    // are the 6 fully inside the run, whose union is the 20-token run.
    val d1 = (0 to 29).map(i => s"w$i").mkString(" ")
    val d2 = ((0 to 4).map(i => s"u$i") ++ (5 to 24).map(i => s"w$i") ++
      (5 to 9).map(i => s"u$i")).mkString(" ")
    val d3 = (0 to 29).map(i => s"z$i").mkString(" ")   // all unique
    val d4 = (0 to 9).map(i => s"s$i").mkString(" ")    // < W tokens
    // doc 5 repeats a 15-token phrase around a unique separator:
    // windows at pos 0 and 16 collide → union = min(15,16) + 15 = 30
    val d5 = ((0 to 14).map(i => s"p$i") ++ Seq("sep") ++
      (0 to 14).map(i => s"p$i")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("dupspans").toString
    Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4), (5L, d5))
      .map { case (id, t) => (id, t, "en", "spec", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.dupSpans(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 5L), "sub-window doc 4 must be excluded")
    for (id <- Seq(1L, 2L)) {
      assert(out(id).getAs[Long]("n_windows") === 16L)
      assert(out(id).getAs[Long]("n_dup_windows") === 6L, s"doc $id")
      assert(out(id).getAs[Long]("n_dup_tokens") === 20L, s"doc $id")
    }
    assert(out(3L).getAs[Long]("n_dup_windows") === 0L)
    assert(out(3L).getAs[Long]("n_dup_tokens") === 0L)
    assert(out(5L).getAs[Long]("n_dup_windows") === 2L)
    assert(out(5L).getAs[Long]("n_dup_tokens") === 30L)
    assert(out(5L).getAs[Double]("dup_ratio") === math.floor(30 * 1e4 / 31) / 1e4)
  }

  test("adaptive operators record their strategy choice + threshold inputs") {
    import graft.StrategyLog
    // size-driven defaults on the small spec corpus name the inputs
    Dedup.ngramJaccard(spark, sfDir).count()
    val jac = StrategyLog.lastChoice("dd_ngram_jaccard").getOrElse("")
    assert(jac.startsWith("exact") && jac.contains("docs=") &&
      jac.contains(s"exactMax=${Dedup.JaccardExactMax}"), jac)

    Dedup.semDedup(spark, sfDir).count()
    val sd = StrategyLog.lastChoice("dd_semdedup").getOrElse("")
    assert(sd.startsWith("kmeans") && sd.contains("vecs="), sd)

    Dedup.embeddingCosBlocked(spark, sfDir).count()
    val eb = StrategyLog.lastChoice("dd_embedding_blocked").getOrElse("")
    assert(eb.startsWith("ivf") && eb.contains("vecs=") &&
      eb.contains("cellMax="), eb)

    Dedup.components(spark, sfDir).count()
    val cp = StrategyLog.lastChoice("dd_components").getOrElse("")
    assert(cp.startsWith("driver") && cp.contains("edges=") &&
      cp.contains("cap="), cp)

    // a forced side is recorded AS forced (audit can tell pin from policy)
    spark.conf.set("spark.sql.graft.jaccardCandidates", "lsh")
    try {
      Dedup.ngramJaccard(spark, sfDir).count()
      assert(StrategyLog.lastChoice("dd_ngram_jaccard")
        .contains("lsh forced=lsh"))
    } finally spark.conf.unset("spark.sql.graft.jaccardCandidates")

    // the distributed components path records its side too
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    Dedup.componentsFrom(spark, pairs, maxDriverEdges = -1L).count()
    val cd = StrategyLog.lastChoice("dd_components").getOrElse("")
    assert(cd.startsWith("distributed") && cd.contains("edges=forced"), cd)
  }
}

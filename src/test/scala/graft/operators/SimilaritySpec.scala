package graft.operators

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  test("brute-force top-k is ranked and complete") {
    val rows = Similarity.topkBruteforce(spark, sfDir).collect()
    assert(rows.length === 50) // 10 queries x top-5
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(byRank.sameElements(byRank.sortBy(-_)), "cosine must fall as rank grows")
    }
  }

  test("lsh top-k reaches minimum recall vs the exact baseline") {
    val exact = Similarity.topkBruteforce(spark, sfDir).collect()
      .filter(_.getAs[Long]("rank") <= 3)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val lsh = Similarity.lshTopk(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    // The synthetic corpus is near-uniform (max cos ~0.5), the hardest case
    // for hyperplane LSH; on clustered corpora this is far higher. Gaussian
    // planes (12 tables x 6 bits) measure ~0.6 here while scoring ~19% of
    // the corpus.
    assert(recall >= 0.4, s"recall $recall below floor")
  }

  test("ivf top-k reaches minimum recall vs the exact baseline") {
    val exact = Similarity.topkBruteforce(spark, sfDir).collect()
      .filter(_.getAs[Long]("rank") <= 3)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val ivf = Similarity.ivfTopk(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    // Measured ~0.8 while probing 6/32 cells (~19% of the corpus); the
    // sample-trained quantizer is deterministic (sorted sample + fixed
    // seed), so this is a stable number, floored with margin.
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"ivf recall $recall below floor")
  }

  test("pq top-k (ADC shortlist + exact re-rank) reaches minimum recall") {
    val exact = Similarity.topkBruteforce(spark, sfDir).collect()
      .filter(_.getAs[Long]("rank") <= 3)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val pq = Similarity.pqTopk(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    // 16×16 codebooks on a near-uniform corpus: the ADC shortlist (24
    // candidates, 8× k) plus exact re-rank measured ~0.83; deterministic
    // (sorted sample + fixed seeds), floored with margin.
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.6, s"pq recall $recall below floor")
  }

  test("ivf-pq top-k (cell prune + ADC + exact re-rank) reaches minimum recall") {
    val exact = Similarity.topkBruteforce(spark, sfDir).collect()
      .filter(_.getAs[Long]("rank") <= 3)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val ivfpq = Similarity.ivfPqTopk(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    // Two stacked approximations (cell cut, then 8-bit codes) bought back
    // with nprobe=8 and exact re-rank; deterministic via fixed seeds.
    val recall = (exact & ivfpq).size.toDouble / exact.size
    assert(recall >= 0.6, s"ivf-pq recall $recall below floor")
  }

  test("ivf-pq serves from a persisted cell-partitioned index: " +
      "partition-pruned scan, load-not-rebuild") {
    import org.apache.spark.sql.functions.col
    import graft.functions.{IvfIndex, IvfPqIndex, PqIndex, NearestCells}
    // First serve commits the inverted file (or finds it committed)…
    Similarity.ivfPqTopk(spark, sfDir).collect()
    val afterFirst = IvfPqIndex.builds.get()
    // …and a second serve must LOAD it: same results, zero new builds.
    val again = Similarity.ivfPqTopk(spark, sfDir).collect()
    assert(IvfPqIndex.builds.get() === afterFirst,
      "second serve must load the committed index, not re-encode the corpus")
    assert(again.length === 30)

    // The probe scan carries a PartitionFilter on cell — only probed
    // cell=N directories are listed, the rest of the index is never read.
    val e = graft.Tables.fanout(graft.Tables.embeddings(spark, sfDir))
    val corpus = e.filter(col("vec_id") >= 10)
    val cents = IvfIndex.centroids(e, "embedding", 32, cacheKey = sfDir)
    val books = PqIndex.codebooks(corpus, "embedding", m = 16, k = 16,
      cacheKey = sfDir + "#pq")
    val fp = s"fmt=1;src=$sfDir;nCells=32;m=16;k=16;seed=42"
    val idx = IvfPqIndex.loadOrBuild(corpus, "embedding", "vec_id", cents,
      books,
      s"${IvfPqIndex.indexRoot(spark)}/ivfpq_${Integer.toHexString(sfDir.hashCode)}",
      fp)
    val pruned = idx.filter(col("cell").isin(0, 1, 2))
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"expected a partition-pruned index scan, got:\n$scan")
    // Pruning is real, not cosmetic: the pruned scan reads a strict subset
    // of the index's cell directories.
    val allCells = idx.select("cell").distinct().count()
    val prunedCells = pruned.select("cell").distinct().count()
    assert(prunedCells <= 3 && prunedCells < allCells)
  }

  test("ivf-pq re-ranked cosines are exact for returned pairs") {
    val exact = Similarity.topkBruteforce(spark, sfDir).collect()
      .map(r => ((r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")),
        r.getAs[Double]("cosine"))).toMap
    Similarity.ivfPqTopk(spark, sfDir).collect().foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      exact.get(key).foreach { c =>
        assert(r.getAs[Double]("cosine") === c,
          s"ivf-pq cosine for $key diverged from exact")
      }
    }
  }

  test("pq re-ranked cosines are exact for returned pairs") {
    // whatever PQ returns, its reported cosine must equal the true cosine
    // (re-rank scores with CosineSimilarity on the fetched vectors — no
    // approximation may leak into the output column)
    val exact = Similarity.topkBruteforce(spark, sfDir).collect()
      .map(r => ((r.getAs[Long]("query_id"), r.getAs[Long]("cand_id")),
        r.getAs[Double]("cosine"))).toMap
    val pq = Similarity.pqTopk(spark, sfDir).collect()
    pq.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      exact.get(key).foreach { c =>
        assert(r.getAs[Double]("cosine") === c,
          s"pq cosine for $key diverged from exact")
      }
    }
  }

  test("ivf centroids are invariant to corpus partition layout") {
    import graft.functions.IvfIndex
    val e = graft.Tables.embeddings(spark, sfDir)
    // Same rows, three different physical layouts: the min-k content draw
    // must select the same sample, hence train identical centroids.
    // (Distinct cache keys so each call actually trains.)
    IvfIndex.clearCache()
    val base = IvfIndex.centroids(e, "embedding", 8, cacheKey = "layout-a")
    val shuffled = IvfIndex.centroids(e.repartition(13), "embedding", 8, cacheKey = "layout-b")
    val single = IvfIndex.centroids(e.coalesce(1), "embedding", 8, cacheKey = "layout-c")
    def flat(c: Array[Array[Double]]): Seq[Double] = c.flatten.toSeq
    assert(flat(base) === flat(shuffled), "repartitioned corpus trained different centroids")
    assert(flat(base) === flat(single), "coalesced corpus trained different centroids")
    IvfIndex.clearCache()
  }

  test("ivf index persists and reloads identically (offline build contract)") {
    import graft.functions.IvfIndex
    val e = graft.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    IvfIndex.clearCache()
    val built = IvfIndex.loadOrBuild(e, "embedding", 8, dir)
    // a different session state (cold cache) must LOAD, not retrain: feed
    // it a corpus that would train differently and expect the saved cells
    IvfIndex.clearCache()
    val reloaded = IvfIndex.loadOrBuild(e.limit(50), "embedding", 8, dir)
    assert(built.flatten.toSeq === reloaded.flatten.toSeq,
      "second session must serve the persisted index, not retrain")
    IvfIndex.clearCache()
  }

  test("ivf index with mismatched training params retrains at the requested shape") {
    import graft.functions.IvfIndex
    val e = graft.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-k").toString + "/idx"
    IvfIndex.clearCache()
    val built8 = IvfIndex.loadOrBuild(e, "embedding", 8, dir)
    assert(built8.length === 8)
    // a caller asking for k=4 against the k=8 index must NOT silently get
    // 8 centroids back — the fingerprint mismatch forces a retrain
    IvfIndex.clearCache()
    val built4 = IvfIndex.loadOrBuild(e, "embedding", 4, dir)
    assert(built4.length === 4,
      "requested k must win over a committed index trained differently")
    // and the re-persisted index now serves k=4 loads
    IvfIndex.clearCache()
    val reload4 = IvfIndex.loadOrBuild(e.limit(50), "embedding", 4, dir)
    assert(built4.flatten.toSeq === reload4.flatten.toSeq)
    IvfIndex.clearCache()
  }

  test("pq_adc returns null on malformed shapes instead of garbage scores") {
    import graft.functions.PqAdcScore
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // (codes, lut): valid m=2,k=2 lut -> 0.1 + 0.4; empty codes; lut not a
    // multiple of m; out-of-range code index
    val df = Seq(
      (Seq(0, 1), Seq(0.1, 0.2, 0.3, 0.4)),
      (Seq.empty[Int], Seq(0.1, 0.2)),
      (Seq(0, 1), Seq(0.1, 0.2, 0.3)),
      (Seq(0, 7), Seq(0.1, 0.2, 0.3, 0.4))
    ).toDF("codes", "lut")
    val out = df.select(PqAdcScore(col("codes"), col("lut")).as("s")).collect()
    assert(math.abs(out(0).getDouble(0) - 0.5) < 1e-12)
    assert(out(1).isNullAt(0), "empty codes must score null, not divide by zero")
    assert(out(2).isNullAt(0), "non-multiple lut must score null, not mis-index")
    assert(out(3).isNullAt(0), "out-of-range code must score null")
  }

  test("embNorms produces one row per label with sane norms") {
    val rows = Similarity.embNorms(spark, sfDir).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getAs[Double]("min_norm") > 0)
      assert(r.getAs[Double]("min_norm") <= r.getAs[Double]("avg_norm"))
      assert(r.getAs[Double]("avg_norm") <= r.getAs[Double]("max_norm"))
    }
  }

  test("ivf-pq append with frozen quantizers equals the full offline build") {
    import org.apache.spark.sql.functions._
    import graft.functions.{IvfIndex, IvfPqIndex, PqIndex}
    val e = graft.Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") >= 10)
    val cents = IvfIndex.centroids(e, "embedding", 8, cacheKey = sfDir + "#apx")
    val books = PqIndex.codebooks(corpus, "embedding", m = 16, k = 16,
      cacheKey = sfDir + "#apxpq")
    val fp = "fmt=1;append-test;nc=8;m=16;k=16"
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft-ivfpq-$tag").toString + "/idx"
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("cand_id"),
        r.getAs[Seq[Int]]("codes").mkString(","))).sortBy(t => (t._1, t._2)).toSeq

    val full = IvfPqIndex.loadOrBuild(corpus, "embedding", "vec_id",
      cents, books, tmp("full"), fp)
    val dirInc = tmp("inc")
    IvfPqIndex.loadOrBuild(corpus.filter(col("vec_id") % 2 === 0),
      "embedding", "vec_id", cents, books, dirInc, fp)
    val before = IvfPqIndex.builds.get()
    val appended = IvfPqIndex.append(corpus.filter(col("vec_id") % 2 === 1),
      "embedding", "vec_id", cents, books, dirInc, fp)
    assert(IvfPqIndex.builds.get() === before,
      "append must encode only the batch, never rebuild the committed corpus")
    assert(key(appended) === key(full),
      "frozen quantizers: build(evens) + append(odds) must equal build(full)")
    // appending under a different codebook fingerprint must fail loudly —
    // mixed-codebook codes silently corrupt every future ADC probe
    intercept[IllegalArgumentException] {
      IvfPqIndex.append(corpus.limit(5), "embedding", "vec_id",
        cents, books, dirInc, "fmt=1;other-quantizer")
    }
    // and appending into nothing is a build error, not a quiet bootstrap
    intercept[IllegalArgumentException] {
      IvfPqIndex.append(corpus.limit(5), "embedding", "vec_id",
        cents, books, tmp("empty"), fp)
    }
  }

  test("an in-place corpus rewrite invalidates the persisted ivf-pq index") {
    import graft.functions.IvfPqIndex
    import java.nio.file.{Files => JFiles, Path => JPath, StandardCopyOption}
    val tmp = JFiles.createTempDirectory("graft-snap").toString
    JFiles.copy(JPath.of(sfDir + "/embeddings.parquet"),
      JPath.of(tmp + "/embeddings.parquet"))
    Similarity.ivfPqTopk(spark, tmp).collect()
    val built = IvfPqIndex.builds.get()
    // same snapshot: the committed index serves, no re-encode
    Similarity.ivfPqTopk(spark, tmp).collect()
    assert(IvfPqIndex.builds.get() === built)
    // in-place rewrite at the SAME path (same content is enough — the
    // snapshot id is bytes+mtime): the fingerprint must miss and rebuild,
    // not serve codes from the pre-rewrite table
    Thread.sleep(1100) // mtime granularity on coarse filesystems
    JFiles.copy(JPath.of(sfDir + "/embeddings.parquet"),
      JPath.of(tmp + "/embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Similarity.ivfPqTopk(spark, tmp).collect()
    assert(IvfPqIndex.builds.get() === built + 1,
      "a rewritten corpus must rebuild the persisted index, never serve stale codes")
  }

  test("dispersion via the Gram identity equals the brute-force all-pairs mean") {
    import org.apache.spark.sql.functions._
    val disp = Similarity.embDispersion(spark, sfDir).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vectors"), r.getAs[Double]("mean_pairwise_cos"))).toMap
    val e = graft.Tables.embeddings(spark, sfDir)
      .select(col("label"), col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val allPairs = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.label").as("label"),
        graft.functions.Vec.cosine(col("a.v"), col("b.v")).as("cos"))
      .groupBy("label")
      .agg(avg(col("cos")).as("m"), count(lit(1)).as("np"))
      .collect()
    assert(allPairs.length === disp.size)
    allPairs.foreach { r =>
      val (n, got) = disp(r.getAs[Int]("label"))
      assert(r.getAs[Long]("np") === n * (n - 1), "pair count must be n(n-1)")
      // got is the floor-truncated identity value; the all-pairs mean may
      // differ by fp noise plus the 1e-4 truncation step
      assert(math.abs(got - r.getAs[Double]("m")) <= 2e-4,
        s"label ${r.getAs[Int]("label")}: identity $got vs all-pairs ${r.getAs[Double]("m")}")
    }
  }

  test("knn graph: k edges per node, mutual flag is symmetric and honest") {
    val g = Similarity.knnGraph(spark, sfDir).collect()
    val nodes = g.map(_.getAs[Long]("src")).distinct
    // every node emits exactly k=5 edges, ranked 1..5
    nodes.foreach { n =>
      val ranks = g.filter(_.getAs[Long]("src") == n)
        .map(_.getAs[Long]("rank")).sorted
      assert(ranks.toSeq === Seq(1L, 2L, 3L, 4L, 5L), s"node $n ranks $ranks")
    }
    val edgeSet = g.map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    g.foreach { r =>
      val (s, d) = (r.getAs[Long]("src"), r.getAs[Long]("dst"))
      val flagged = r.getAs[Boolean]("mutual")
      // the flag must equal reverse-edge membership, and therefore agree
      // with the reverse edge's own flag when it exists
      assert(flagged === edgeSet.contains((d, s)), s"mutual flag wrong on $s->$d")
    }
    // sanity: on a near-uniform corpus some but not all edges are mutual
    assert(g.exists(_.getAs[Boolean]("mutual")))
    assert(g.exists(!_.getAs[Boolean]("mutual")))
  }

  test("power component: positive unit-scaled direction, deterministic") {
    val v = Similarity.powerComponent(spark, sfDir).collect()
      .map(r => r.getAs[Long]("dim") -> r.getAs[Long]("component")).toMap
    assert(v.size === 64)
    // a positive matrix's dominant eigenvector is strictly positive
    // (Perron-Frobenius), and the scaling pins the max coordinate at 1000
    assert(v.values.forall(x => x > 0 && x <= 1000))
    assert(v.values.max === 1000L)
    val again = Similarity.powerComponent(spark, sfDir).collect()
      .map(r => r.getAs[Long]("dim") -> r.getAs[Long]("component")).toMap
    assert(again === v, "integer power iteration must be bit-deterministic")
  }

  test("power component fails loudly past the double-exact Gram bound") {
    import org.apache.spark.sql.functions.{array, lit}
    // one vector with coordinates ~1e8: q ≈ 1e11, so a single diagonal
    // Gram entry ≈ 1e22 ≫ 2^52 — the silent-drift regime the guard exists
    // to reject loudly
    val dir = java.nio.file.Files.createTempDirectory("graft-power-guard").toString
    val big = spark.range(1).select(
      org.apache.spark.sql.functions.col("id").as("vec_id"),
      array(Seq.fill(64)(lit(1e8f)): _*).as("embedding"),
      lit("x").as("label"))
    big.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      Similarity.powerComponent(spark, dir)
    }
    assert(e.getMessage.contains("2^52"), e.getMessage)

    // mixed-sign coordinates below the grid's -1 floor produce negative
    // off-diagonal Gram entries → the Perron-positivity guard trips
    val dir2 = java.nio.file.Files.createTempDirectory("graft-power-neg").toString
    spark.range(1).select(
      org.apache.spark.sql.functions.col("id").as("vec_id"),
      array((Seq.fill(32)(lit(-5.0f)) ++ Seq.fill(32)(lit(0.5f))): _*)
        .as("embedding"),
      lit("x").as("label"))
      .write.mode("overwrite").parquet(s"$dir2/embeddings.parquet")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.powerComponent(spark, dir2)
    }
    assert(e2.getMessage.contains("positive-grid"), e2.getMessage)
  }

  test("centroid classify: matrix covers every test vector, preds are trained labels") {
    import org.apache.spark.sql.functions.col
    val m = Similarity.centroidClassify(spark, sfDir).collect()
    val e = graft.Tables.embeddings(spark, sfDir)
    val nTest = e.filter(col("vec_id") % 2 =!= 0).count()
    assert(m.map(_.getAs[Long]("n")).sum === nTest,
      "every odd-vec_id vector must appear exactly once in the matrix")
    val trainLabels = e.filter(col("vec_id") % 2 === 0)
      .select("label").distinct().collect().map(_.get(0)).toSet
    m.foreach { r =>
      assert(trainLabels.contains(r.get(1)),
        s"pred ${r.get(1)} is not a trained label")
    }
    assert(m.map(_.getAs[Long]("n")).forall(_ > 0))
  }

  test("pagerank: mass conservation, floors, and sink/hub structure") {
    val rows = Similarity.pagerank(spark, sfDir).collect()
    val n = rows.length.toLong
    assert(n > 0)
    val S = 1000000000000L
    val base = 150000000000L / n
    // every node keeps at least the teleport mass; zero-in-degree nodes
    // keep EXACTLY it (nothing flows in, floors lose nothing)
    rows.foreach { r =>
      val mass = r.getAs[Long]("pr_mass")
      assert(mass >= base, s"node ${r.get(0)} below teleport floor")
      if (r.getAs[Long]("in_deg") == 0L)
        assert(mass === base, s"sink node ${r.get(0)} gained mass")
    }
    // total mass: S minus only integer-floor leakage (≤ |E|+|V| per round)
    val total = rows.map(_.getAs[Long]("pr_mass")).sum
    assert(total <= S, "mass created from nothing")
    assert(total >= S - 11 * (5 * n + n) - n, s"mass leak beyond floor loss: $total")
    // the heaviest node must be drawing real in-flow
    val top = rows.maxBy(_.getAs[Long]("pr_mass"))
    assert(top.getAs[Long]("in_deg") > 0L)
  }
}

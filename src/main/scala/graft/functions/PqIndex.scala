package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** Product quantization for compressed ANN serving.
  *
  * The 100 TB problem: full-precision embeddings are too big to keep hot
  * (64 dims × 4 B = 256 B/vector; a trillion vectors is 256 TB before
  * replication). PQ splits each L2-normalized vector into `m` subspaces,
  * k-means-quantizes every subspace independently to `k` codes, and stores
  * only the code ids — `m` bytes per vector (64× smaller here). A query
  * then scores candidates WITHOUT touching the original vectors: it
  * precomputes, per subspace, the inner product between its own sub-vector
  * and each of the `k` codewords (a lookup table of `m × k` doubles,
  * driver-side per query) and a candidate's approximate cosine is just `m`
  * table lookups off its codes — the classic asymmetric-distance
  * computation (ADC) from Jégou et al., "Product Quantization for Nearest
  * Neighbor Search" (TPAMI 2011).
  *
  * Training mirrors [[IvfIndex]]: per-subspace Lloyd's on a bounded,
  * content-deterministic sample, cached per corpus snapshot, so queries
  * never train. Encoding and ADC scoring are native codegen'd expressions
  * ([[PqEncode]], [[PqAdcScore]]) — per-row argmin/lookup loops stay out
  * of interpreted higher-order-function eval.
  */
object PqIndex {

  private type CacheKey = (String, Int, Int, Int, Int, Long)

  private val maxCacheEntries = 64
  private val cache =
    new java.util.LinkedHashMap[CacheKey, Array[Array[Array[Double]]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[CacheKey, Array[Array[Array[Double]]]]): Boolean =
        size() > maxCacheEntries
    }

  /** L2-normalize (cosine similarity becomes plain inner product, which
    * ADC decomposes exactly across subspaces). Zero vectors pass through.
    */
  def normalize(v: Array[Double]): Array[Double] = {
    var n2 = 0.0; var i = 0
    while (i < v.length) { n2 += v(i) * v(i); i += 1 }
    if (n2 == 0.0) return v
    val inv = 1.0 / math.sqrt(n2)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i) * inv; i += 1 }
    out
  }

  /** Trained (or cached) codebooks: `codebooks(mi)(ki)` is the `ki`-th
    * codeword of subspace `mi`, each of length `dim / m`. Same offline
    * contract as [[IvfIndex.centroids]] — the cache key names the corpus
    * SNAPSHOT, and in-place data changes require retraining.
    */
  def codebooks(corpus: DataFrame, embCol: String, m: Int, k: Int,
      cacheKey: String, sampleCap: Int = 4096, iters: Int = 10,
      seed: Long = 42L): Array[Array[Array[Double]]] = {
    val key = (cacheKey, m, k, sampleCap, iters, seed)
    val hit = cache.synchronized(cache.get(key))
    if (hit != null) return hit
    val sample = IvfIndex.deterministicSample(corpus, embCol, sampleCap, seed)
      .map(normalize)
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val books = Array.tabulate(m) { mi =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
      // independent seeded restarts per subspace, best SSE wins
      (0 until 4)
        .map(r => IvfIndex.lloyd(pts, k, iters, seed + mi * 31 + r))
        .minBy(IvfIndex.sse(pts, _))
    }
    cache.synchronized(cache.put(key, books))
    books
  }

  /** Per-query ADC lookup table, flattened row-major: `lut(mi * k + ki)` =
    * inner product of the normalized query's `mi`-th sub-vector with
    * codeword `ki`. Computed driver-side per query (m × k × sub ops for a
    * bounded query set), broadcast as a plain array column.
    */
  def lut(query: Array[Double], books: Array[Array[Array[Double]]]): Array[Double] = {
    val qn = normalize(query)
    val m = books.length
    val k = books(0).length
    val sub = books(0)(0).length
    val out = new Array[Double](m * k)
    var mi = 0
    while (mi < m) {
      var ki = 0
      while (ki < k) {
        val cw = books(mi)(ki)
        var dot = 0.0; var j = 0
        while (j < sub) { dot += qn(mi * sub + j) * cw(j); j += 1 }
        out(mi * k + ki) = dot
        ki += 1
      }
      mi += 1
    }
    out
  }

  /** Drop cached codebooks for a corpus snapshot. */
  def invalidate(cacheKey: String): Unit = cache.synchronized {
    cache.keySet().removeIf(_._1 == cacheKey)
  }

  private[graft] def clearCache(): Unit = cache.synchronized(cache.clear())
}

/** Native PQ encoder: vector → `array<int>` of `m` code ids (argmin
  * codeword per subspace, on the L2-normalized vector). The codebook rides
  * along as a plan reference (driver-trained constant), not a child
  * expression — generated code loads it once per task.
  */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<float|double>, got ${t.catalogString}")
  }

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PqEncode.compute(input.asInstanceOf[ArrayData], books, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    nullSafeCodeGen(ctx, ev, x =>
      s"""
         |${ev.value} = graft.functions.PqEncode.compute($x, $booksRef, $elemIsFloat);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)

  // Array fields break case-class equality/semanticEquals; compare content.
  override def equals(other: Any): Boolean = other match {
    case PqEncode(c, b) => c == child && java.util.Arrays.deepEquals(
      b.asInstanceOf[Array[Object]], books.asInstanceOf[Array[Object]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child,
    Integer.valueOf(java.util.Arrays.deepHashCode(books.asInstanceOf[Array[Object]])))

  // Plans show the codebooks' shape and content, not their JVM identity.
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, NearestCells.fingerprint("codebooks", books))

  override def prettyName: String = "graft_pq_encode"
}

object PqEncode {
  /** Shared by interpreted eval and generated code. Returns null for
    * vectors whose length doesn't match the codebook (bad data, not a
    * prefix to encode), mirroring [[CosineSimilarity]].
    */
  def compute(v: ArrayData, books: Array[Array[Array[Double]]],
      isFloat: Boolean): GenericArrayData = {
    val m = books.length
    val sub = books(0)(0).length
    if (v.numElements() != m * sub) return null
    // normalize into a local buffer
    val x = new Array[Double](m * sub)
    var i = 0
    var n2 = 0.0
    while (i < x.length) {
      val xi = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      x(i) = xi; n2 += xi * xi; i += 1
    }
    if (n2 > 0.0) {
      val inv = 1.0 / math.sqrt(n2)
      i = 0
      while (i < x.length) { x(i) *= inv; i += 1 }
    }
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val book = books(mi)
      var best = 0
      var bestD = Double.MaxValue
      var ki = 0
      while (ki < book.length) {
        val cw = book(ki)
        var d = 0.0; var j = 0
        while (j < sub) {
          val diff = x(mi * sub + j) - cw(j)
          d += diff * diff; j += 1
        }
        if (d < bestD) { bestD = d; best = ki }
        ki += 1
      }
      codes(mi) = best
      mi += 1
    }
    new GenericArrayData(codes.map(Int.box))
  }

  def apply(vector: Column, books: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(vector), books))
}

/** Native ADC scorer: `(codes array<int>, lut array<double>) → double`
  * approximate cosine — `m` lookups, no original vector needed. `k` is
  * inferred from the shapes (`lut.length / codes.length`).
  */
case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc expects (array<int> codes, array<double> lut), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    PqAdcScore.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, lut) =>
      s"""
         |java.lang.Double ${ev.value}_r = graft.functions.PqAdcScore.compute($codes, $lut);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_pq_adc"
}

object PqAdcScore {
  /** Boxed so a shape mismatch can return null (the expression is
    * nullable, matching [[PqEncode]]'s bad-vector convention): empty
    * codes would divide by zero inferring `k`, and a lut that is not an
    * exact multiple of the code count would silently mis-index the
    * table and score garbage — both are data bugs, not scores.
    */
  def compute(codes: ArrayData, lut: ArrayData): java.lang.Double = {
    val m = codes.numElements()
    if (m == 0 || lut.numElements() % m != 0) return null
    val k = lut.numElements() / m
    var score = 0.0
    var mi = 0
    while (mi < m) {
      val code = codes.getInt(mi)
      if (code < 0 || code >= k) return null
      score += lut.getDouble(mi * k + code)
      mi += 1
    }
    score
  }

  def apply(codes: Column, lut: Column): Column =
    GraftBridge.column(PqAdcScore(GraftBridge.expression(codes), GraftBridge.expression(lut)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** Native vector-index expressions shared by the ANN operators: one fused
  * loop per row off `ArrayData`, one static `compute` call shared by
  * interpreted eval and generated code so whole-stage codegen stays intact
  * (the earlier higher-order-function formulations evaluated 48-64
  * interpreted `aggregate` folds per row and dominated the ANN suite).
  */
private[graft] object VectorIndexKernels {
  /** Element read widened to double for either array<float> or array<double>. */
  @inline def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
}

/** Random-hyperplane LSH bucket signature: `tables` independent hash
  * tables of `bits` Gaussian hyperplanes each (OR-construction — a
  * candidate matching in ANY table is considered). Returns array<long> of
  * length `tables`, bucket id per table.
  *
  * Planes are seed-deterministic N(0,1) draws (`java.util.Random`) — the
  * proper SimHash family for cosine distance; P(bit match) = 1 − θ/π.
  */
case class HyperplaneBuckets(
    child: Expression, tables: Int, bits: Int, dim: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_buckets expects array<float|double>, got ${t.catalogString}")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // Flat [table][bit][dim] plane matrix, built once per expression instance
  // and shipped to executors inside the serialized plan (tables*bits*dim
  // doubles — a few KB).
  private lazy val planes: Array[Double] =
    HyperplaneBuckets.planes(tables, bits, dim, seed)

  override def nullSafeEval(input: Any): Any =
    HyperplaneBuckets.compute(
      input.asInstanceOf[ArrayData], planes, tables, bits, dim, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.HyperplaneBuckets.compute(
         |  $x, $planesRef, $tables, $bits, $dim, $isFloat);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)

  override def prettyName: String = "graft_hyperplane_buckets"
}

object HyperplaneBuckets {
  /** Seed-deterministic Gaussian planes, flat-indexed [(t*bits+j)*dim + i]. */
  def planes(tables: Int, bits: Int, dim: Int, seed: Long): Array[Double] = {
    val rnd = new java.util.Random(seed)
    Array.fill(tables * bits * dim)(rnd.nextGaussian())
  }

  def compute(emb: ArrayData, planes: Array[Double], tables: Int, bits: Int,
      dim: Int, isFloat: Boolean): ArrayData = {
    val n = math.min(emb.numElements(), dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        val base = (t * bits + j) * dim
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += VectorIndexKernels.elem(emb, i, isFloat) * planes(base + i)
          i += 1
        }
        if (dot > 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point. */
  def apply(emb: Column, tables: Int, bits: Int, dim: Int, seed: Long): Column =
    GraftBridge.column(
      HyperplaneBuckets(GraftBridge.expression(emb), tables, bits, dim, seed))
}

/** IVF probe assignment: indexes of the `nprobe` nearest centroids by L2
  * (ties by lower cell id), as array<int>. With `nprobe = 1` this is the
  * corpus-side cell assignment; with `nprobe > 1` the query-side probe
  * list. Centroids ride inside the serialized expression (k×dim doubles —
  * broadcast-for-free at any corpus scale).
  */
case class NearestCells(child: Expression, centroids: Array[Array[Double]], nprobe: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_cells expects array<float|double>, got ${t.catalogString}")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    NearestCells.compute(input.asInstanceOf[ArrayData], centroids, nprobe, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centroidsRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.NearestCells.compute(
         |  $x, $centroidsRef, $nprobe, $isFloat);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)

  // Array fields break case-class equality/semanticEquals; compare content.
  override def equals(other: Any): Boolean = other match {
    case NearestCells(c, cs, np) =>
      c == child && np == nprobe && cs.length == centroids.length &&
        cs.indices.forall(i => java.util.Arrays.equals(cs(i), centroids(i)))
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(nprobe),
      Integer.valueOf(centroids.length))

  // Plans show the centroids' shape and content, not their JVM identity.
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, NearestCells.fingerprint("centroids", centroids), nprobe)

  override def prettyName: String = "graft_nearest_cells"
}

object NearestCells {
  /** `name[d1xd2… hash=<hex>]`: an array constant's shape and a hash of
    * its content, the same in every JVM.
    */
  private[graft] def fingerprint(name: String, a: Array[_ <: AnyRef]): String = {
    def dims(x: Any): List[Int] = x match {
      case arr: Array[_] => arr.length :: arr.headOption.fold(List.empty[Int])(dims)
      case _ => Nil
    }
    f"$name[${dims(a).mkString("x")} hash=${java.util.Arrays.deepHashCode(
      a.asInstanceOf[Array[Object]])}%08x]"
  }

  /** Executor-side entry: widen the ArrayData once, then run the ONE
    * shared kernel. Driver probe lists and executor cell assignment must
    * never diverge — routing both through [[computeLocal]] makes the
    * divergence impossible rather than merely tested-against.
    */
  def compute(emb: ArrayData, centroids: Array[Array[Double]], nprobe: Int,
      isFloat: Boolean): ArrayData = {
    val n = emb.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) { v(i) = VectorIndexKernels.elem(emb, i, isFloat); i += 1 }
    new GenericArrayData(computeLocal(v, centroids, nprobe))
  }

  /** Column-API entry point. */
  def apply(emb: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    GraftBridge.column(
      NearestCells(GraftBridge.expression(emb), centroids, nprobe))

  /** The kernel: indexes of the `nprobe` L2-nearest centroids, ties by
    * lower cell id (a partial selection sort — k is tiny). Used verbatim
    * by the driver (plan-time partition pruning) and by [[compute]]
    * (executor-side assignment).
    */
  def computeLocal(v: Array[Double], centroids: Array[Array[Double]],
      nprobe: Int): Array[Int] = {
    val k = centroids.length
    val d2 = new Array[Double](k)
    var c = 0
    while (c < k) {
      val ctr = centroids(c)
      val n = math.min(v.length, ctr.length)
      var acc = 0.0
      var i = 0
      while (i < n) { val diff = v(i) - ctr(i); acc += diff * diff; i += 1 }
      d2(c) = acc
      c += 1
    }
    val m = math.min(nprobe, k)
    val idx = Array.tabulate(k)(identity)
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = s
      var j = s + 1
      while (j < k) {
        if (d2(idx(j)) < d2(idx(best)) ||
            (d2(idx(j)) == d2(idx(best)) && idx(j) < idx(best))) best = j
        j += 1
      }
      val tmp = idx(s); idx(s) = idx(best); idx(best) = tmp
      out(s) = idx(s)
      s += 1
    }
    out
  }
}

/** Two-level inverted multi-index (IMI) probe assignment — the
  * constant-per-vector successor to [[NearestCells]] (Babenko &
  * Lempitsky, "The Inverted Multi-Index", CVPR 2012): the vector splits
  * into two halves, each half has its own sub-quantizer, and the
  * effective cell is the PRODUCT cell `ca * Kb + cb`. Ka×Kb cells cost
  * only Ka + Kb distance evaluations per vector (√cells per half), so
  * the assignment stays flat while the cell count scales with the
  * corpus — the regime past ~10⁷ vectors where a flat coarse
  * quantizer's n/occupancy × dim multiplies start to dominate.
  *
  * Probe list: because d²(x, c_{a,b}) = d²(x₁, uₐ) + d²(x₂, v_b)
  * decomposes, the `nprobe` nearest product cells are selected exactly
  * from the two half-distance tables (ties by lower product-cell id) —
  * same contract as [[NearestCells]], drop-in at the same seam.
  */
case class ImiCells(child: Expression, centroidsA: Array[Array[Double]],
    centroidsB: Array[Array[Double]], nprobe: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"imi_cells expects array<float|double>, got ${t.catalogString}")
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    ImiCells.compute(input.asInstanceOf[ArrayData], centroidsA, centroidsB,
      nprobe, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("centroidsA", centroidsA, "double[][]")
    val bRef = ctx.addReferenceObj("centroidsB", centroidsB, "double[][]")
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.functions.ImiCells.compute(
         |  $x, $aRef, $bRef, $nprobe, $isFloat);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ImiCells =
    copy(child = newChild)

  // Array fields break case-class equality/semanticEquals; compare content.
  override def equals(other: Any): Boolean = other match {
    case ImiCells(c, ca, cb, np) =>
      c == child && np == nprobe &&
        ca.length == centroidsA.length && cb.length == centroidsB.length &&
        ca.indices.forall(i => java.util.Arrays.equals(ca(i), centroidsA(i))) &&
        cb.indices.forall(i => java.util.Arrays.equals(cb(i), centroidsB(i)))
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(nprobe),
      Integer.valueOf(centroidsA.length), Integer.valueOf(centroidsB.length))

  override def prettyName: String = "graft_imi_cells"
}

object ImiCells {
  def compute(emb: ArrayData, centroidsA: Array[Array[Double]],
      centroidsB: Array[Array[Double]], nprobe: Int, isFloat: Boolean): ArrayData = {
    val n = emb.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) { v(i) = VectorIndexKernels.elem(emb, i, isFloat); i += 1 }
    new GenericArrayData(computeLocal(v, centroidsA, centroidsB, nprobe))
  }

  /** Column-API entry point. */
  def apply(emb: Column, centroidsA: Array[Array[Double]],
      centroidsB: Array[Array[Double]], nprobe: Int): Column =
    GraftBridge.column(
      ImiCells(GraftBridge.expression(emb), centroidsA, centroidsB, nprobe))

  /** The kernel: product-cell ids of the `nprobe` L2-nearest product
    * cells (order (sum, cell id)). Half distances are Ka + Kb
    * half-length loops; the selection never touches the Ka×Kb product —
    * the i-th nearest product cell's half indices are provably within
    * each half's own top-i (replacing a half index with a closer one
    * yields a cell that precedes it in the total order), so the exact
    * top-`nprobe` lives inside the nprobe×nprobe candidate grid over
    * the per-half top-`nprobe` lists from [[NearestCells.computeLocal]]'s
    * partial selection. Per-vector cost: (Ka+Kb)·dim/2 multiplies +
    * O(nprobe·K) selection + nprobe² adds — flat in the cell COUNT
    * product.
    */
  def computeLocal(v: Array[Double], centroidsA: Array[Array[Double]],
      centroidsB: Array[Array[Double]], nprobe: Int): Array[Int] = {
    val ka = centroidsA.length
    val kb = centroidsB.length
    val split = centroidsA(0).length
    val vA = java.util.Arrays.copyOfRange(v, 0, math.min(split, v.length))
    val vB = java.util.Arrays.copyOfRange(v, math.min(split, v.length), v.length)
    def halfD2(half: Array[Double], ctr: Array[Double]): Double = {
      val n = math.min(half.length, ctr.length)
      var acc = 0.0
      var i = 0
      while (i < n) { val diff = half(i) - ctr(i); acc += diff * diff; i += 1 }
      acc
    }
    val m = math.min(nprobe, ka * kb)
    val pa = math.min(m, ka)
    val pb = math.min(m, kb)
    // per-half exact top lists, ties by lower id (shared kernel)
    val topA = NearestCells.computeLocal(vA, centroidsA, pa)
    val topB = NearestCells.computeLocal(vB, centroidsB, pb)
    val dA = topA.map(a => halfD2(vA, centroidsA(a)))
    val dB = topB.map(b => halfD2(vB, centroidsB(b)))
    // exact top-m over the candidate grid, order (sum, product-cell id)
    val cand = new Array[(Double, Int)](pa * pb)
    var i = 0
    var ai = 0
    while (ai < pa) {
      var bi = 0
      while (bi < pb) {
        cand(i) = (dA(ai) + dB(bi), topA(ai) * kb + topB(bi))
        i += 1
        bi += 1
      }
      ai += 1
    }
    java.util.Arrays.sort(cand, Ordering.Tuple2[Double, Int])
    cand.take(m).map(_._2)
  }
}

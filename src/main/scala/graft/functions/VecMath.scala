package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen vector folds — the scalar kernel under every
  * embedding operator (brute kNN, k-means, IVF assign, PQ, semantic
  * decon). The composed `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * evaluates interpreted lambdas AND allocates an intermediate array
  * per row-pair; these expressions emit one fused whole-stage-codegen
  * loop over the two `ArrayData`s with a double accumulator — same
  * index-order accumulation, so results are bit-identical to the
  * fold (and to the DuckDB oracles' `list_sum(list_transform(…))`).
  *
  * Element types may be float or double on either side (parquet
  * embeddings are float; k-means/PQ centroids come out of `avg` as
  * double). Semantics vs the HOF composition: a NULL element
  * contributes 0 instead of nulling the whole product, and length
  * mismatch folds the common prefix — both degenerate for vector
  * data, where elements are non-null and dimensions equal.
  */
abstract class VecFold extends BinaryExpression {
  override def dataType: DataType = DoubleType

  /** java source of one accumulation term over doubles `x`, `y`. */
  protected def termCode(x: String, y: String): String
  protected def term(x: Double, y: Double): Double

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case other            => other
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[ArrayData]
    val bb = b.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left), elemType(right))
    val n = math.min(aa.numElements(), bb.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!aa.isNullAt(i) && !bb.isNullAt(i)) {
        val x = if (ta == FloatType) aa.getFloat(i).toDouble else aa.getDouble(i)
        val y = if (tb == FloatType) bb.getFloat(i).toDouble else bb.getDouble(i)
        acc += term(x, y)
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val getA =
        if (elemType(left) == FloatType) s"(double) $a.getFloat($i)"
        else s"$a.getDouble($i)"
      val getB =
        if (elemType(right) == FloatType) s"(double) $b.getFloat($i)"
        else s"$b.getDouble($i)"
      s"""
         |double $acc = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $x = $getA;
         |    double $y = $getB;
         |    $acc += ${termCode(x, y)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ with double accumulation in index order. */
case class VecDot(left: Expression, right: Expression) extends VecFold {
  override def prettyName: String = "vec_dot"
  override protected def termCode(x: String, y: String): String = s"$x * $y"
  override protected def term(x: Double, y: Double): Double = x * y
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Σ (aᵢ−bᵢ)² with double accumulation in index order. */
case class VecL2Sq(left: Expression, right: Expression) extends VecFold {
  override def prettyName: String = "vec_l2sq"
  override protected def termCode(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def term(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}

/** Jaccard similarity of two SORTED, DISTINCT string arrays — a
  * single merge pass with zero allocation, replacing
  * `size(array_intersect) / size(array_union)`, which rebuilds a
  * hash set for every PAIR (a document's words re-hashed once per
  * candidate pair). Callers pre-sort each side once per document;
  * set semantics make the value identical. Comparison is UTF-8 byte
  * order (what `array_sort` produces). Empty∩empty yields NaN like
  * the 0/0.0 division it replaces.
  */
case class SortedSetJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_set_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bb = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    SortedSetJaccard.jaccard(aa, bb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = ${SortedSetJaccard.getClass.getName.stripSuffix("$")}.jaccard($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedSetJaccard =
    copy(left = newLeft, right = newRight)
}

object SortedSetJaccard {
  /** Merge-count |a∩b| over sorted inputs; |a∪b| = na + nb − inter. */
  def jaccard(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) Double.NaN else inter.toDouble / union.toDouble
  }
}

/** Nearest-centroid argmax as ONE expression: for each input vector,
  * scan the (plan-embedded) centroid matrix and return
  * `struct(centroid_id, sim)` of the max-cosine centroid, ties to the
  * lowest id.
  *
  * A kernel rather than a join: the relational shape
  * (`vectors × broadcast(centroids)` → rank → keep rank 1)
  * MATERIALIZES n·nlist rows before the window prunes them — measured
  * fatal at ×1000 (20.7M vectors × 8192 sqrt-rule cells = 1.7e11
  * intermediate rows; executor death). The kernel evaluates the same
  * nlist cosines per row inside whole-stage codegen and emits exactly
  * n rows: the arithmetic is VecDot's index-ordered double
  * accumulation with per-centroid norms precomputed once, so each
  * sim is bit-identical to `Similarity.cosine` (`IvfKernelSpec` pins
  * the argmax against a driver-side one).
  *
  * Centroid matrix size is driver-bounded by construction: the
  * [[graft.llm.Similarity.ivfPlan]] sqrt rule caps nlist at 2^18, and
  * 2^18 × d doubles is a few hundred MB only at extreme d — callers
  * guard with `require` at collect time.
  */
case class NearestCentroid(
    child: Expression,
    ids: Array[Long],
    cents: Array[Array[Double]],
    norms: Array[Double]) extends UnaryExpression {
  require(ids.length == cents.length && ids.length == norms.length)
  // all centroids one width, checked once here so the per-row guard in
  // best() is a single comparison against centroidDim
  require(cents.isEmpty || cents.forall(_.length == cents(0).length),
    "nearest_centroid: centroid rows have differing dimensions")
  private val centroidDim: Int = if (cents.isEmpty) -1 else cents(0).length
  override def prettyName: String = "nearest_centroid"
  override def dataType: DataType = StructType(Seq(
    StructField("centroid_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double>, got ${other.simpleString}")
  }

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  /** The per-row scan; also the codegen target (one virtual call per
    * row keeps whole-stage codegen while the hot loop stays here).
    */
  def best(a: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val isF = elemIsFloat
    val d = a.numElements()
    // fail fast on a vector/centroid width mismatch: silently
    // truncating the dot to min(d, |c|) while the vector norm uses
    // full d would skew every sim — diverging from the cosine this
    // kernel claims bit-parity with (which throws size-mismatch
    // inside VecDot)
    if (centroidDim >= 0 && d != centroidDim)
      throw new IllegalArgumentException(
        s"nearest_centroid: vector dim $d != centroid dim $centroidDim")
    // vector norm once per row — same accumulation as VecDot(a, a)
    var aa = 0.0
    var i = 0
    while (i < d) {
      val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
      aa += x * x
      i += 1
    }
    val an = math.sqrt(aa)
    var bestId = 0L
    var bestSim = Double.NegativeInfinity
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val n = d // == c.length, guarded above
      var dotAcc = 0.0
      var k = 0
      while (k < n) {
        val x = if (isF) a.getFloat(k).toDouble else a.getDouble(k)
        dotAcc += x * c(k)
        k += 1
      }
      val sim = dotAcc / (an * norms(j))
      // strictly-better keeps the FIRST (ids sorted ascending) on
      // ties — the (sim DESC, centroid_id ASC) order the twins rank by.
      // Spark's descending sort puts NaN ABOVE every real value
      // (zero vectors / zero centroids cosine to NaN), so NaN beats
      // real, real never beats NaN, NaN ties keep-first.
      val better =
        if (java.lang.Double.isNaN(sim)) !java.lang.Double.isNaN(bestSim)
        else sim > bestSim
      if (better) { bestSim = sim; bestId = ids(j) }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestId, bestSim))
  }

  override protected def nullSafeEval(a: Any): Any =
    best(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.best($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object VecMath {
  def dot(a: Column, b: Column): Column =
    GraftExpressionBridge.column(VecDot(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  def l2sq(a: Column, b: Column): Column =
    GraftExpressionBridge.column(VecL2Sq(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))

  /** [[NearestCentroid]] over a driver-collected centroid matrix;
    * ids must be sorted ascending for the tie convention.
    */
  def nearestCentroid(
      emb: Column,
      ids: Array[Long],
      cents: Array[Array[Double]]): Column = {
    val norms = cents.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    GraftExpressionBridge.column(NearestCentroid(
      GraftExpressionBridge.expression(emb), ids, cents, norms))
  }
}

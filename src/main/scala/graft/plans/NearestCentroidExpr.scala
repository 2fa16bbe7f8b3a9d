package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Native Catalyst expression: index of the nearest centroid (squared-L2
  * argmin) for an `array<double>` vector against a codebook baked in at
  * plan-construction time.
  *
  * The composable form (`array_min` over k `struct(aggregate(zip_with(...)))`
  * entries, Similarity.nearestCentroid) allocates k intermediate arrays and
  * evaluates 2k lambdas per row; this is one fused double loop over a
  * `double[][]` reference constant — the IVF assign step runs over the FULL
  * corpus (once for Lloyd training, once for bucketing), so per-row cost here
  * is the whole operator's cost at scale. Accumulation order per centroid
  * matches the HOF form (element order, += into one accumulator), so the
  * argmin is bit-identical; ties keep the lowest centroid index, matching
  * `array_min` over `struct(dist, idx)` lexicographic ordering.
  *
  * Null/edge semantics: null vector → null out; a vector containing a
  * null ELEMENT also yields null (the HOF form's zip_with/aggregate
  * propagates the null instead of scoring garbage — reading it as 0.0
  * would silently pick a wrong bucket). The element check is emitted only
  * when the array type admits nulls (`containsNull`), so schemas that
  * guarantee dense vectors pay nothing. A vector shorter than the
  * codebook dimension scores only the shared prefix (the caller
  * guarantees consistent dimensions — same contract as the HOF form).
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {

  private def mayHaveNullElements: Boolean = NearestCentroid.admitsNulls(child)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable || mayHaveNullElements
  override def prettyName: String = "nearest_centroid"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (mayHaveNullElements && NearestCentroid.hasNullElement(v)) null
    else NearestCentroid.argmin(v, centroids)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cen = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val nullCheck =
        if (mayHaveNullElements) s"graft.plans.NearestCentroid.hasNullElement($v)"
        else "false"
      s"""
         |if ($nullCheck) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.plans.NearestCentroid.argmin($v, $cen);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** The shared squared-L2 loops of [[NearestCentroid]] and
  * [[NearestCentroids]]; static forwarders, called from generated code.
  */
object NearestCentroid {

  /** Whether the array type of `e` admits null elements. */
  def admitsNulls(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  def hasNullElement(v: ArrayData): Boolean = {
    val n = v.numElements()
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Σ (v_i − row_i)² over the first `m` positions, one accumulator
    * folded in element order from 0.0 — the IEEE sequence of
    * `aggregate(zip_with(v, row, (x, y) -> (x - y) * (x - y)), 0.0, ...)`.
    */
  def sqDist(v: ArrayData, row: Array[Double], m: Int): Double = {
    var d = 0.0
    var i = 0
    while (i < m) {
      val diff = v.getDouble(i) - row(i)
      d += diff * diff
      i += 1
    }
    d
  }

  /** Index of the nearest centroid, scoring the shared prefix of `v` and
    * each row; ties keep the lowest index.
    */
  def argmin(v: ArrayData, centroids: Array[Array[Double]]): Int = {
    val n = v.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val row = centroids(c)
      val d = sqDist(v, row, math.min(n, row.length))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `n` nearest centroid indices of `v` (null allowed), in the order
    * of `array_sort` over `struct(dist, idx)`: a distance is null when `v`
    * is null, holds a null element or differs in length from the row, and
    * null distances sort first; the rest ascend under Spark's double
    * ordering (NaN last), ties to the lower index.
    */
  def nearestN(v: ArrayData, centroids: Array[Array[Double]], n: Int,
               checkNulls: Boolean): Array[Int] = {
    val out = new Array[Int](math.min(n, centroids.length))
    val outD = new Array[Double](out.length)
    val outNull = new Array[Boolean](out.length)
    val len = if (v == null) -1 else v.numElements()
    val scorable = v != null && !(checkNulls && hasNullElement(v))
    var filled = 0
    var c = 0
    while (c < centroids.length) {
      val row = centroids(c)
      val isNull = !scorable || row.length != len
      val d = if (isNull) 0.0 else sqDist(v, row, len)
      // insertion into the bounded sorted prefix: strictly-before moves
      // past a slot, so an equal key stays behind the lower index
      var p = filled
      while (p > 0 && (if (isNull) !outNull(p - 1)
                       else !outNull(p - 1) &&
                         SQLOrderingUtil.compareDoubles(d, outD(p - 1)) < 0))
        p -= 1
      if (p < out.length) {
        val last = math.min(filled, out.length - 1)
        var j = last
        while (j > p) {
          out(j) = out(j - 1); outD(j) = outD(j - 1); outNull(j) = outNull(j - 1)
          j -= 1
        }
        out(p) = c; outD(p) = d; outNull(p) = isNull
        if (filled < out.length) filled += 1
      }
      c += 1
    }
    out
  }
}

/** Native Catalyst expression: the `n` nearest centroid indices of an
  * `array<double>` vector, as `array<int>` — the IVF probe list.
  *
  * Replaces `array_sort` over k `struct(aggregate(zip_with(...)), idx)`
  * entries (k interpreted distance folds and an interpreted struct sort
  * per query) with [[NearestCentroid]]'s distance loop over the same
  * `double[][]` reference constant plus a bounded insertion into the top
  * `n`. The list is bit-identical to that form, including its edges: a
  * null vector, a null element or a length mismatch give null distances,
  * which sort first (so such a vector probes lists 0..n-1); NaN distances
  * sort last. Never null.
  */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]],
                            n: Int) extends UnaryExpression {
  require(n >= 0, s"nearest_centroids n=$n must be non-negative")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroids"

  override def eval(input: InternalRow): Any =
    ArrayData.toArrayData(NearestCentroid.nearestN(
      child.eval(input).asInstanceOf[ArrayData], centroids, n,
      NearestCentroid.admitsNulls(child)))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val cen = ctx.addReferenceObj("centroids", centroids, "double[][]")
    ev.copy(code = code"""
      |${v.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      |    graft.plans.NearestCentroid.nearestN(${v.isNull} ? null : ${v.value},
      |      $cen, $n, ${NearestCentroid.admitsNulls(child)}));
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

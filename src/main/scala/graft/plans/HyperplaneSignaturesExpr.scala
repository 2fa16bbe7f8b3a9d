package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: random-hyperplane LSH signatures of an
  * `array<double>` vector as `bands` packed sign words (`array<bigint>`).
  * Word b holds, in bit i, the sign of the dot product with plane
  * `b·bitsPerBand + i` — set iff the dot is `> 0` under Spark's double
  * comparison (NaN counts as greater, −0.0 does not).
  *
  * Replaces one `aggregate(zip_with(v, <dim literals>))` dot product per
  * plane — each an interpreted lambda fold, since higher-order functions
  * do not take part in whole-stage codegen — with one loop over a
  * `double[][]` reference constant. Each dot accumulates `acc + x·y` from
  * 0.0 in element order, the fold's IEEE sequence, so the words are
  * bit-identical to that form, including its edges: `zip_with` pads a
  * shorter array with nulls, so a null vector, a null element or a length
  * different from the plane's gives a null dot and sign bit 0. Never null.
  */
case class HyperplaneSignatures(child: Expression, planes: Array[Array[Double]],
                                bitsPerBand: Int) extends UnaryExpression {
  require(bitsPerBand >= 1 && bitsPerBand <= 64 &&
    planes.length % bitsPerBand == 0,
    s"lsh_signatures: ${planes.length} planes do not split into bands of " +
      s"$bitsPerBand bits (1 to 64)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_signatures"

  override def eval(input: InternalRow): Any =
    ArrayData.toArrayData(HyperplaneSignatures.words(
      child.eval(input).asInstanceOf[ArrayData], planes, bitsPerBand,
      NearestCentroid.admitsNulls(child)))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val ps = ctx.addReferenceObj("planes", planes, "double[][]")
    ev.copy(code = code"""
      |${v.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      |    graft.plans.HyperplaneSignatures.words(${v.isNull} ? null : ${v.value},
      |      $ps, $bitsPerBand, ${NearestCentroid.admitsNulls(child)}));
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSignatures =
    copy(child = newChild)
}

object HyperplaneSignatures {

  /** The packed sign words of `v` (null allowed); static forwarder,
    * called from generated code.
    */
  def words(v: ArrayData, planes: Array[Array[Double]], bitsPerBand: Int,
            checkNulls: Boolean): Array[Long] = {
    val out = new Array[Long](planes.length / bitsPerBand)
    if (v == null || (checkNulls && NearestCentroid.hasNullElement(v))) return out
    val n = v.numElements()
    val x = v.toDoubleArray()
    var p = 0
    while (p < planes.length) {
      val row = planes(p)
      if (row.length == n) {
        var dot = 0.0
        var i = 0
        while (i < n) { dot += x(i) * row(i); i += 1 }
        if (SQLOrderingUtil.compareDoubles(dot, 0.0) > 0)
          out(p / bitsPerBand) |= 1L << (p % bitsPerBand)
      }
      p += 1
    }
    out
  }
}

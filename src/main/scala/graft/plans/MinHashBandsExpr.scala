package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.unsafe.Platform

/** Native Catalyst expression: `xxhash64` of every element of an
  * `array<string>` (the word hashes MinHash and the shingle kernels take),
  * reduced `pmod modulus` when `modulus > 0`.
  *
  * Replaces `transform(tokens, t -> pmod(xxhash64(t), P))`, a lambda
  * evaluated per token outside whole-stage codegen. Hashes are Spark's
  * (seed 42, a null element hashes to the seed), so the array is
  * bit-identical to that form; a null array gives null.
  */
case class TokenHashes(child: Expression, modulus: Long) extends UnaryExpression {
  require(modulus >= 0, s"token_hashes modulus=$modulus must be non-negative")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "token_hashes"

  override def nullSafeEval(input: Any): Any =
    ArrayData.toArrayData(TokenHashes.hashes(input.asInstanceOf[ArrayData], modulus))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
         |  graft.plans.TokenHashes.hashes($c, ${modulus}L));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)
}

object TokenHashes {

  /** Spark's `xxhash64` seed. */
  val Seed = 42L

  def hashes(tokens: ArrayData, modulus: Long): Array[Long] = {
    val out = new Array[Long](tokens.numElements())
    var i = 0
    while (i < out.length) {
      val h =
        if (tokens.isNullAt(i)) Seed
        else XXH64.hashUTF8String(tokens.getUTF8String(i), Seed)
      out(i) =
        if (modulus == 0) h
        else { val r = h % modulus; if (r < 0) (r + modulus) % modulus else r }
      i += 1
    }
    out
  }
}

/** Native Catalyst expression: the `bands` LSH bucket hashes of a MinHash
  * signature (`array<bigint>`), band b covering positions
  * [b·rows, (b+1)·rows).
  *
  * Each hash is bit-identical to
  * `xxhash64(concat_ws(",", slice(minhash, b·rows + 1, rows)), b)` — the
  * band's decimal values joined by commas (null elements skipped, a short
  * or null signature giving a short or empty string), hashed with seed 42,
  * then the band number hashed into it — because persisted LSH indexes
  * store these hashes and must keep probing correctly. The decimal text is
  * written into one reused byte buffer instead of allocating a string per
  * value, a string array per band and a joined string per band. Never null.
  */
case class MinHashBandHashes(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {
  require(bands >= 1 && rows >= 1,
    s"minhash_band_hashes: bands=$bands and rows=$rows must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_band_hashes"

  override def eval(input: InternalRow): Any =
    ArrayData.toArrayData(MinHashBandHashes.hashes(
      child.eval(input).asInstanceOf[ArrayData], bands, rows))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = child.genCode(ctx)
    ev.copy(code = code"""
      |${m.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      |    graft.plans.MinHashBandHashes.hashes(${m.isNull} ? null : ${m.value},
      |      $bands, $rows));
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandHashes =
    copy(child = newChild)
}

object MinHashBandHashes {

  /** Longest decimal text of a long plus its separator. */
  private val MaxDigits = 21

  def hashes(minhash: ArrayData, bands: Int, rows: Int): Array[Long] = {
    val out = new Array[Long](bands)
    val n = if (minhash == null) 0 else minhash.numElements()
    val buf = new Array[Byte](rows * MaxDigits)
    var b = 0
    while (b < bands) {
      var len = 0
      var j = b * rows
      val end = math.min(n, j + rows)
      while (j < end) {
        if (!minhash.isNullAt(j)) {
          if (len > 0) { buf(len) = ','; len += 1 }
          len = putDecimal(buf, len, minhash.getLong(j))
        }
        j += 1
      }
      val h = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len,
        TokenHashes.Seed)
      out(b) = XXH64.hashInt(b, h)
      b += 1
    }
    out
  }

  /** Writes `x` as `Long.toString` would, returning the end offset. */
  private def putDecimal(buf: Array[Byte], at: Int, x: Long): Int = {
    if (x == Long.MinValue) {
      val s = "-9223372036854775808"
      var i = 0
      while (i < s.length) { buf(at + i) = s.charAt(i).toByte; i += 1 }
      return at + s.length
    }
    var pos = at
    var v = x
    if (v < 0) { buf(pos) = '-'; pos += 1; v = -v }
    var digits = 1
    var t = v / 10
    while (t != 0) { digits += 1; t /= 10 }
    var i = pos + digits - 1
    do { buf(i) = ('0' + (v % 10)).toByte; v /= 10; i -= 1 } while (v != 0)
    pos + digits
  }
}

/** Native Catalyst expression: the number of positions at which two
  * `array<bigint>` values hold equal non-null elements — the MinHash
  * agreement count behind estimated Jaccard.
  *
  * Replaces `size(filter(zip_with(a, b, (x, y) -> if(x = y, 1, 0)),
  * v -> v = 1))`: two lambdas per position plus two intermediate arrays.
  * Identical to that form: `zip_with` pads the shorter array with nulls,
  * so only the shared prefix can agree; a null array gives null, as
  * `size(null)` does under ANSI mode (Spark 4's default; with ANSI off
  * and `spark.sql.legacy.sizeOfNull` the HOF form gave −1, and both
  * fall below any estimated-Jaccard threshold its callers filter at).
  */
case class AgreeCount(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "agree_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    AgreeCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.AgreeCount.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AgreeCount =
    copy(left = newLeft, right = newRight)
}

object AgreeCount {

  def count(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var agree = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        agree += 1
      i += 1
    }
    agree
  }
}

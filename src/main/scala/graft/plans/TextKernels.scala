package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-row kernels of the LLM-data staging index, shared by the
  * interpreted and codegen paths (codegen calls them as static
  * methods, as [[JaroWinkler]] does). */
object TextKernels {
  private val Space = UTF8String.fromString(" ")

  /** Word 3-grams of `tokens`, each joined by one space; empty when
    * there are fewer than 3 tokens or `tokens` is null. A null token is
    * skipped inside its 3-gram, as `concat_ws` skips it. */
  def wordShingles(tokens: ArrayData): ArrayData = {
    val n = if (tokens == null) 0 else tokens.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    def tok(i: Int) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
    val out = new Array[Any](n - 2)
    var a = tok(0)
    var b = tok(1)
    var i = 2
    while (i < n) {
      val c = tok(i)
      out(i - 2) = UTF8String.concatWs(Space, a, b, c)
      a = b; b = c; i += 1
    }
    new GenericArrayData(out)
  }

  private val md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private val Hash = '#'.toByte

  private def feed(d: MessageDigest, s: UTF8String): Unit = s.getBaseObject match {
    case a: Array[Byte] =>
      d.update(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
    case _ => d.update(s.getBytes)
  }

  /** The 4 big-endian unsigned 32-bit words of `digest`, into `out` at `at`. */
  private def words(digest: Array[Byte], out: Array[Long], at: Int): Unit = {
    var w = 0
    while (w < 4) {
      val o = 4 * w
      out(at + w) = ((digest(o) & 0xffL) << 24) | ((digest(o + 1) & 0xffL) << 16) |
        ((digest(o + 2) & 0xffL) << 8) | (digest(o + 3) & 0xffL)
      w += 1
    }
  }

  /** The 8 MinHash band hashes of `s`: the 4 words of md5(s), then the
    * 4 words of md5(s || '#'), over the string's UTF-8 bytes. */
  def md5BandHashes(s: UTF8String): ArrayData = {
    val d = md5.get()
    val out = new Array[Long](8)
    feed(d, s)
    words(d.digest(), out, 0)
    feed(d, s)
    d.update(Hash)
    words(d.digest(), out, 4)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Element `k` of a `sortedIntersectSize` input, checked against the
    * one before it. */
  private def ascending(arr: ArrayData, k: Int): Long = {
    if (arr.isNullAt(k))
      throw new IllegalArgumentException(s"sorted_intersect_size: null element at index $k")
    val v = arr.getLong(k)
    if (k > 0 && v <= arr.getLong(k - 1))
      throw new IllegalArgumentException("sorted_intersect_size: input is not sorted " +
        s"ascending and distinct at index $k (${arr.getLong(k - 1)} then $v)")
    v
  }

  /** The number of values `a` and `b` share. Precondition: each array is
    * sorted ascending with no duplicates and no nulls (what
    * `sort_array(collect_list(x))` gives over a distinct, non-null `x`).
    * One linear merge that allocates nothing; an element the merge reads
    * that is null or not above the one before it throws, since the
    * count would be wrong. */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var n = 0
    if (na > 0 && nb > 0) {
      var i = 0
      var j = 0
      var x = ascending(a, 0)
      var y = ascending(b, 0)
      while (i < na && j < nb) {
        if (x < y) {
          i += 1
          if (i < na) x = ascending(a, i)
        } else if (x > y) {
          j += 1
          if (j < nb) y = ascending(b, j)
        } else {
          n += 1; i += 1; j += 1
          if (i < na) x = ascending(a, i)
          if (j < nb) y = ascending(b, j)
        }
      }
    }
    n
  }
}

/** `word_shingles(tokens)`: the word 3-grams of a string array, in
  * order and with duplicates, as `array<string>`; empty (never null)
  * for fewer than 3 tokens or a null array. The higher-order spelling
  * (`transform(sequence(0, n - 3), i -> concat_ws(' ', t[i], t[i+1],
  * t[i+2]))`) is `CodegenFallback`: it runs interpreted and keeps its
  * whole projection out of whole-stage codegen; this one stays inside. */
case class WordShingles(child: Expression) extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires array<string>, got $t")
  }

  override def eval(input: InternalRow): Any =
    TextKernels.wordShingles(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.plans.TextKernels.wordShingles(${c.isNull} ? null : ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `md5_band_hashes(sh)`: the 8 MinHash band hashes of a string as
  * `array<bigint>`: the 4 big-endian unsigned 32-bit words of
  * `md5(sh)`, then those of `md5(sh || '#')`. Word `b` equals
  * `conv(substring(md5(..), (b % 4) * 8 + 1, 8), 16, 10)` of the hex
  * digest, without formatting and re-parsing hex. Null for null. */
case class Md5BandHashes(child: Expression) extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_band_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_band_hashes requires a string, got $t")
  }

  override def nullSafeEval(s: Any): Any =
    TextKernels.md5BandHashes(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.plans.TextKernels.md5BandHashes($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `sorted_intersect_size(a, b)`: the number of values two
  * `array<bigint>`s share, as `int`, when each is sorted ascending with
  * no duplicates and no nulls. It equals `size(array_intersect(a, b))`
  * on such arrays, by one linear merge instead of a hash set built per
  * row ([[TextKernels.sortedIntersectSize]]); input that breaks the
  * precondition where the merge reads it fails the query. Null for a
  * null array. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_size requires two array<bigint>, got $l and $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.sortedIntersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.TextKernels.sortedIntersectSize($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

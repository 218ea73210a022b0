package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The word n-shingle SET of a document, built in one pass over its
  * token array — the verify-side twin of [[MinhashSigUtil]], and the
  * input [[SortedJaccardUtil]] expects.
  *
  * Why it exists: the reference law
  * ([[graft.functions.TextFunctions.shinglesFromWords]]) is a
  * `transform` lambda, which runs in the interpreted expression
  * walker, and its Jaccard verify ([[graft.functions.TextFunctions.jaccard]])
  * fills three hash sets per pair (`array_distinct` twice,
  * `array_intersect`, `array_union`). This kernel builds each shingle
  * with one byte copy and returns the set sorted, so the verify is a
  * two-pointer merge with no hashing.
  *
  * Value contract (spec-pinned against the reference law): the result
  * is the set of `concat_ws(' ', words[i..i+n))` for
  * i ∈ [0, max(len-n, 0)] — null tokens contribute nothing, not even a
  * separator, and a document with fewer than n words yields ONE short
  * shingle (an empty token array yields the one shingle "") — sorted in
  * UTF8String binary order with duplicates removed. A NULL token array
  * gives NULL.
  */
object ShingleSetUtil {
  def shingleSet(words: ArrayData, n: Int): ArrayData = {
    val count = words.numElements()
    val total = math.max(count - n + 1, 1)
    val out = new Array[UTF8String](total)
    var i = 0
    while (i < total) {
      val end = math.min(i + n, count)
      var len = -1
      var j = i
      while (j < end) {
        if (!words.isNullAt(j)) len += words.getUTF8String(j).numBytes() + 1
        j += 1
      }
      val bytes = new Array[Byte](math.max(len, 0))
      var pos = 0
      var appended = false
      j = i
      while (j < end) {
        if (!words.isNullAt(j)) {
          if (appended) { bytes(pos) = ' '.toByte; pos += 1 }
          appended = true
          val w = words.getUTF8String(j)
          w.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + pos)
          pos += w.numBytes()
        }
        j += 1
      }
      out(i) = UTF8String.fromBytes(bytes)
      i += 1
    }
    java.util.Arrays.sort(out.asInstanceOf[Array[AnyRef]])
    var k = 1
    i = 1
    while (i < total) {
      if (out(i) != out(k - 1)) { out(k) = out(i); k += 1 }
      i += 1
    }
    val set = new Array[Any](k)
    System.arraycopy(out, 0, set, 0, k)
    new GenericArrayData(set)
  }
}

/** `graft_shingle_set(words, n)` → sorted, distinct `array<string>` of
  * word n-shingles. Codegen emits a static call, so the expression
  * stays inside whole-stage codegen.
  */
case class ShingleSetExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingle_set"

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) if right.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, int)")
  }

  override protected def nullSafeEval(w: Any, n: Any): Any =
    ShingleSetUtil.shingleSet(w.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, n) =>
      s"graft.plans.ShingleSetUtil.shingleSet($w, $n)")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): ShingleSetExpr = copy(left = l, right = r)
}

/** Exact Jaccard |A∩B| / |A∪B| of two SORTED, DISTINCT, null-free
  * `array<string>` sets — the shape [[ShingleSetUtil]] returns. |A∩B|
  * is [[SortedCommonCountUtil]]'s two-pointer merge, |A∪B| =
  * |A| + |B| − |A∩B|, and two empty sets score 0.0. On such inputs the
  * ratio equals the reference law's `inter / uni` exactly; the
  * reference's `round(…, 4)` stays a builtin outside the kernel
  * ([[graft.functions.TextFunctions.sortedJaccard]]).
  */
object SortedJaccardUtil {
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val inter = SortedCommonCountUtil.count(a, b)
    val uni = a.numElements() + b.numElements() - inter
    if (uni == 0) 0.0 else inter.toDouble / uni.toDouble
  }
}

/** `graft_sorted_jaccard(a, b)` → DOUBLE. Codegen emits a static call. */
case class SortedJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sorted_jaccard"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<string>, array<string>)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedJaccardUtil.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.SortedJaccardUtil.jaccard($a, $b)")

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SortedJaccardExpr = copy(left = l, right = r)
}

object ShingleJaccardFunctions {
  val shingleSetDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_shingle_set"),
    new ExpressionInfo(classOf[ShingleSetExpr].getName, "graft_shingle_set"),
    (children: Seq[Expression]) => ShingleSetExpr(children(0), children(1)))

  val sortedJaccardDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_sorted_jaccard"),
    new ExpressionInfo(classOf[SortedJaccardExpr].getName, "graft_sorted_jaccard"),
    (children: Seq[Expression]) => SortedJaccardExpr(children(0), children(1)))
}

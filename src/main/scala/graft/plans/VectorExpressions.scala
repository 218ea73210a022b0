package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.SparkSession

/** Native dot product over two `array<float>` columns.
  *
  * The builtin higher-order formulation
  * (`aggregate(zip_with(a,b,*),0d,+)`) cannot participate in whole-stage
  * codegen (HigherOrderFunction lambdas are interpreted), which makes it
  * the bottleneck of every cosine-similarity operator. This expression
  * generates a tight primitive loop instead — double accumulation,
  * left-to-right, bit-identical to the fold it replaces — and stays
  * inside the codegen'd stage.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<float>; enforced by usage (internal function)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: with non-nullable children this code is emitted
      // UNBRACED into the enclosing scope — fixed locals would clash
      // when one stage evaluates several graft_dot calls
      val n = ctx.freshName("dotN")
      val s = ctx.freshName("dotSum")
      val i = ctx.freshName("dotI")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

/** Null-element-aware dot product: identical tight loop, but a NULL
  * slot in either array makes the WHOLE result NULL — the semantics
  * `aggregate(zip_with(...))` has on nullable-element arrays, which
  * [[DotProductFloat]] (reads a NULL slot as 0.0) cannot honor.
  * [[HofDotProductRewrite]] picks this variant when a column's type
  * says `containsNull = true` (what parquet sources always report).
  */
case class DotProductFloatNullAware(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot_nullaware"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("dotN")
      val s = ctx.freshName("dotSum")
      val i = ctx.freshName("dotI")
      // ev.isNull is already declared (nullable=true); a NULL slot
      // flips it back on and abandons the loop
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloatNullAware =
    copy(left = newLeft, right = newRight)
}

/** [[DotProductFloat]] for two `array<double>` columns — the variant
  * the PQ/ADC serve path needs: the decoded candidate vector and the
  * double-converted probe are both double arrays, and the interpreted
  * `aggregate(zip_with(...))` fold per (probe × candidate) dominated
  * the ADC cut at the ~sf100 decade. Same left-to-right double
  * accumulation, and the SAME null/shape semantics as the fold it
  * replaces: a NULL element in either array — or a length mismatch,
  * which `zip_with` pads with NULLs — makes the whole result NULL
  * (the serve paths' `isNotNull` filters then drop the pair, exactly
  * as the interpreted form did). Never reads a null slot as 0.0 and
  * never silently truncates to the shorter array.
  */
case class DotProductDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot_dd"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("dotN")
      val s = ctx.freshName("dotSum")
      val i = ctx.freshName("dotI")
      // ev.isNull is declared (nullable=true); a NULL slot or a
      // length mismatch flips it on and abandons the loop
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDouble =
    copy(left = newLeft, right = newRight)
}

/** Registration of graft's native expressions.
  *
  * Preferred path: `spark.sql.extensions=graft.plans.GraftExtensions`.
  * For caller-provided sessions, [[GraftFunctions.ensureRegistered]]
  * registers idempotently at first use. Both paths install the same
  * [[GraftFunctions.descriptors]] and [[GraftFunctions.rules]].
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(e.injectFunction)
    GraftFunctions.rules.foreach(r => e.injectOptimizerRule(_ => r))
  }
}

object GraftFunctions {
  val dotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProductFloat].getName, "graft_dot"),
    (children: Seq[Expression]) => DotProductFloat(children(0), children(1)))

  val dotDoubleDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot_dd"),
    new ExpressionInfo(classOf[DotProductDouble].getName, "graft_dot_dd"),
    (children: Seq[Expression]) => DotProductDouble(children(0), children(1)))

  /** Every native function graft registers, on either path. */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(dotDescriptor, dotDoubleDescriptor,
      SimHashFunctions.descriptor, ShingleHashFunctions.descriptor,
      MinhashSigFunctions.descriptor, CharMinhashSigFunctions.descriptor,
      SortedIntersectFunctions.descriptor,
      SortedCommonCountFunctions.descriptor,
      ShingleJaccardFunctions.shingleSetDescriptor,
      ShingleJaccardFunctions.sortedJaccardDescriptor)

  /** Every optimizer rule graft installs, on either path. */
  val rules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    Seq(BoundedLevenshteinRewrite, HofDotProductRewrite)

  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
    // caller-provided sessions can't take injectOptimizerRule after the
    // fact; experimental.extraOptimizations is the supported late hook.
    // A session built with GraftExtensions already runs the rules in its
    // operator-optimization batches — appending them again would run
    // each rule a second (and third) time per plan
    val held = spark.sessionState.optimizer.batches.flatMap(_.rules).toSet
    val missing = rules.filterNot(held.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++ missing
  }
}

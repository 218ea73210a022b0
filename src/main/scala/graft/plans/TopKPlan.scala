package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Top-k-per-group as a first-class Catalyst operator.
  *
  * [[graft.operators.TopK.perGroup]] builds the same result by hand
  * with RDD transitions; this is the full plan-integration tier: a
  * logical node, a planner [[Strategy]] producing a two-phase physical
  * plan (partial per-partition heaps → cluster-by-group exchange
  * inserted automatically by `requiredChildDistribution` → final heaps
  * emitting ranks), injected into every graft session by
  * [[GraftExtensions]]. Catalyst keeps optimizing around it (column
  * pruning below, the exchange sizing by AQE).
  */
case class TopKPerGroupPlan(
    group: Attribute, order: Attribute, tie: Attribute, k: Int,
    child: LogicalPlan,
    // a constructor field (not a body val) so plan copies during
    // optimization keep the SAME exprId the analyzer handed out
    rnkAttr: AttributeReference =
      AttributeReference("rnk", IntegerType, nullable = false)()) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rnkAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rnkAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupPlan =
    copy(child = newChild)
}

/** How the heap extracts and orders the tie column — LONG and STRING
  * ties are supported (ascending = better in both). Serializable so the
  * physical nodes can ship it to executors.
  */
private[graft] sealed trait TieKind extends Serializable {
  /** Extract the tie value WITHOUT a defensive copy. Safe to store only
    * when `r` itself is a heap-owned copy that outlives the value (both
    * HeapPass store sites copy the row first and keep it in the entry).
    */
  def peek(r: InternalRow, i: Int): Any
  /** tie `a` beats tie `b` (strictly better under equal scores). */
  def lt(a: Any, b: Any): Boolean
}
private[graft] case object LongTie extends TieKind {
  def peek(r: InternalRow, i: Int): Any = r.getLong(i)
  def lt(a: Any, b: Any): Boolean =
    a.asInstanceOf[Long] < b.asInstanceOf[Long]
}
private[graft] case object StringTie extends TieKind {
  def peek(r: InternalRow, i: Int): Any = r.getUTF8String(i)
  def lt(a: Any, b: Any): Boolean =
    a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) < 0
}

/** Shared bounded-heap pass: keeps the k best (order desc, tie asc)
  * rows per group within one partition's iterator.
  *
  * Rows with a NULL group, order, or tie value are skipped, not
  * ranked: a positional `getLong`/`getDouble` on a NULL slot would
  * silently read 0 and corrupt the ranking, and a NULL score cannot
  * meaningfully compete for a top-k place (same shape as NULL join
  * keys matching nothing).
  */
private[graft] object HeapPass {
  type Entry = (Double, Any, InternalRow)

  def topK(it: Iterator[InternalRow], gi: Int, oi: Int, ti: Int, k: Int,
      tie: TieKind): Iterator[(Long, List[Entry])] = {
    // priority queue head = WORST entry: lowest score, then largest tie
    implicit val badnessFirst: Ordering[Entry] = new Ordering[Entry] {
      def compare(x: Entry, y: Entry): Int = {
        val c = java.lang.Double.compare(y._1, x._1)
        if (c != 0) c
        else if (tie.lt(x._2, y._2)) -1
        else if (tie.lt(y._2, x._2)) 1
        else 0
      }
    }
    val heaps = new java.util.HashMap[Long, scala.collection.mutable.PriorityQueue[Entry]]()
    it.filterNot(r => r.isNullAt(gi) || r.isNullAt(oi) || r.isNullAt(ti)).foreach { r =>
      val g = r.getLong(gi)
      val o = r.getDouble(oi)
      var h = heaps.get(g)
      if (h == null) {
        h = scala.collection.mutable.PriorityQueue.empty[Entry]
        heaps.put(g, h)
      }
      if (h.size < k) {
        // peek on the COPIED row: the extracted value shares rc's
        // heap-owned buffer, which the entry keeps alive
        val rc = r.copy()
        h.enqueue((o, tie.peek(rc, ti), rc))
      } else {
        val worst = h.head
        val t = tie.peek(r, ti)
        // Double.compare, not primitive > / ==, so the replace test
        // agrees with the heap ordering on NaN and -0.0 (a primitive
        // compare would make a NaN unevictable yet never replaceable)
        val cmp = java.lang.Double.compare(o, worst._1)
        if (cmp > 0 || (cmp == 0 && tie.lt(t, worst._2))) {
          h.dequeue()
          val rc = r.copy()
          h.enqueue((o, tie.peek(rc, ti), rc))
        }
      }
    }
    import scala.jdk.CollectionConverters._
    heaps.entrySet().asScala.iterator.map { e =>
      // dequeue order is worst→best; reverse to best-first (rank order)
      e.getKey -> e.getValue.dequeueAll.reverse.toList
    }
  }
}

/** Phase 1: per-partition top-k, no distribution requirement. */
case class TopKPartialExec(gi: Int, oi: Int, ti: Int, k: Int,
    tie: TieKind, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions { it =>
      HeapPass.topK(it, gi, oi, ti, k, tie).flatMap(_._2.iterator.map(_._3))
    }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPartialExec =
    copy(child = newChild)
}

/** Phase 2: requires clustering on the group column (Catalyst inserts
  * the exchange), final heaps, appends the rank column.
  */
case class TopKFinalExec(group: Attribute, gi: Int, oi: Int, ti: Int, k: Int,
    tie: TieKind, rnkAttr: Attribute, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rnkAttr
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(group)) :: Nil
  override def outputPartitioning: Partitioning = UnknownPartitioning(0)
  override protected def doExecute(): RDD[InternalRow] = {
    val schema = StructType(output.map(a =>
      StructField(a.name, a.dataType, a.nullable)).toIndexedSeq)
    child.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      val joined = new JoinedRow
      val rnkRow = new GenericInternalRow(1)
      HeapPass.topK(it, gi, oi, ti, k, tie).flatMap { case (_, best) =>
        best.iterator.zipWithIndex.map { case (e, i) =>
          rnkRow.update(0, i + 1)
          proj(joined(e._3, rnkRow)).copy(): InternalRow
        }
      }
    }
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TopKFinalExec =
    copy(child = newChild)
}

/** Plans the logical node into partial → (exchange) → final. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t @ TopKPerGroupPlan(g, o, ti, k, child, _) =>
      val out = child.output
      val gi = out.indexWhere(_.exprId == g.exprId)
      val oi = out.indexWhere(_.exprId == o.exprId)
      val tiI = out.indexWhere(_.exprId == ti.exprId)
      require(gi >= 0 && oi >= 0 && tiI >= 0, "top-k columns not in child output")
      val tieKind: TieKind = ti.dataType match {
        case org.apache.spark.sql.types.StringType => StringTie
        case org.apache.spark.sql.types.LongType => LongTie
        // a catch-all LongTie would silently reinterpret e.g. INT
        // bits through getLong — fail loudly instead
        case other => throw new IllegalArgumentException(
          s"top-k tie column must be LONG or STRING, got $other")
      }
      val partial = TopKPartialExec(gi, oi, tiI, k, tieKind, planLater(child))
      TopKFinalExec(g, gi, oi, tiI, k, tieKind, t.rnkAttr, partial) :: Nil
    case _ => Nil
  }
}

object TopKPlanner {

  /** Top-k best `orderCol` (desc, ties by `tieCol` asc) rows per
    * `groupCol`, with a 1..k `rnk` column — planned natively.
    * The tie column may be LONG (numeric asc) or STRING (binary
    * collation asc). Rows with a NULL group/order/tie value are
    * excluded from the ranking (see [[HeapPass]]).
    */
  def perGroup(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, k: Int): DataFrame = {
    require(k >= 1, s"top-k requires k >= 1, got $k")
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(name: String,
        expected: Seq[org.apache.spark.sql.types.DataType]): Attribute = {
      val a = analyzed.output.find(_.name == name)
        .getOrElse(throw new IllegalArgumentException(s"no column $name"))
      // the heap reads getLong/getDouble/getUTF8String positionally — a
      // mismatched type would silently reinterpret bits, so fail fast
      require(expected.contains(a.dataType),
        s"top-k column $name must be one of ${expected.mkString("/")}, found ${a.dataType}")
      a
    }
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val plan = TopKPerGroupPlan(
      attr(groupCol, Seq(LongType)),
      attr(orderCol, Seq(DoubleType)),
      attr(tieCol, Seq(LongType, StringType)), k, analyzed)
    org.apache.spark.sql.GraftInternal.ofRows(spark, plan)
  }
}

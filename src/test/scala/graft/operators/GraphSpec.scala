package graft.operators

import graft.SparkSpecBase
import graft.sources.Tables

class GraphSpec extends SparkSpecBase {
  import spark.implicits._

  test("symmetric 2-node graph converges to the uniform fixpoint") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(e).as[(Long, Double)].collect().toMap
    assert(r == Map(1L -> 0.5, 2L -> 0.5))
  }

  test("a hub out-ranks leaves and total mass stays ~1") {
    // star: 1 <-> {2,3,4} (symmetric)
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val r = Graph.pageRank(e).as[(Long, Double)].collect().toMap
    assert(r(1L) > r(2L))
    assert(r(2L) == r(3L) && r(3L) == r(4L)) // symmetric leaves tie exactly
    assert(math.abs(r.values.sum - 1.0) < 1e-6)
  }

  test("pageRank is deterministic across runs") {
    val edges = Graph.coPurchaseEdges(Tables.lineitem(spark, sfDir))
    val a = Graph.pageRank(edges, iters = 3).orderBy("node").collect().toSeq
    val b = Graph.pageRank(edges, iters = 3).orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("converged pageRank equals the fixed-round form at its stop count") {
    val edges = Graph.coPurchaseEdges(Tables.lineitem(spark, sfDir))
    val (conv, rounds) = Graph.pageRankConverged(edges, eps = 1e-8)
    assert(rounds >= 1 && rounds < 50, s"rounds=$rounds")
    // m converged rounds are bit-identical to pageRank(iters = m) —
    // the fixed-round oracle stays authoritative for the epsilon form
    val fixed = Graph.pageRank(edges, iters = rounds)
      .orderBy("node").collect().toSeq
    assert(conv.orderBy("node").collect().toSeq == fixed)
    // and the stop was genuine: one more round moves every rank < eps
    val more = Graph.pageRank(edges, iters = rounds + 1)
    val drift = more.select(org.apache.spark.sql.functions.col("node"),
        org.apache.spark.sql.functions.col("rank").as("r2"))
      .join(conv, Seq("node"))
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.abs(
          org.apache.spark.sql.functions.col("r2") -
            org.apache.spark.sql.functions.col("rank"))))
      .head().getDouble(0)
    assert(drift < 1e-8, s"drift=$drift")
  }

  test("converged pageRank on the empty graph returns zero rounds") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (r, rounds) = Graph.pageRankConverged(empty)
    assert(rounds == 0)
    assert(r.count() == 0)
  }

  test("coPurchaseEdges is symmetric, self-free, and distinct") {
    val e = Graph.coPurchaseEdges(Tables.lineitem(spark, sfDir))
      .as[(Long, Long)].collect()
    assert(e.nonEmpty)
    assert(e.forall { case (s, d) => s != d })
    val set = e.toSet
    assert(set.size == e.length)
    assert(e.forall { case (s, d) => set.contains((d, s)) })
  }

  test("coPurchaseEdges is replica-invariant: duplicated baskets add no edges") {
    // the basket collapse (the r14 density-audit fix): replicating
    // every order under fresh order keys — byte-equal baskets, the
    // ScaleSmoke geometry — must leave the distinct edge set IDENTICAL
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"))
    val replicated = li.unionByName(
      li.withColumn("l_orderkey", col("l_orderkey") + 100000000L))
    val base = Graph.coPurchaseEdges(li).as[(Long, Long)].collect().toSet
    val dup = Graph.coPurchaseEdges(replicated)
      .as[(Long, Long)].collect().toSet
    assert(dup == base)
  }

  private def sym(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("triangleCounts on a known graph: K4 minus one edge") {
    // nodes 1-2-3-4, all edges except (1,4): triangles {1,2,3}, {2,3,4}
    val e = sym((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val r = Graph.triangleCounts(e)
      .select("node", "degree", "n_triangles", "clustering")
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(r(1L) == (1L, 2L, 1L, 1.0))
    assert(r(2L) == (2L, 3L, 2L, 0.6667))
    assert(r(3L) == (3L, 3L, 2L, 0.6667))
    assert(r(4L) == (4L, 2L, 1L, 1.0))
  }

  test("sorted-intersect kernel equals array_intersect on sorted distinct arrays") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      def arr = (0 until rnd.nextInt(30)).map(_ => rnd.nextInt(40).toLong)
        .distinct.sorted
      (i.toLong, arr, arr)
    }
    val df = rows.toDF("id", "a", "b")
      .select(col("id"),
        call_function("graft_sorted_intersect", col("a"), col("b")).as("k"),
        array_intersect(col("a"), col("b")).as("ref"))
    assert(df.filter(col("k") =!= col("ref")).count() == 0L)
    // empty side and disjoint side
    val edge = Seq((1L, Seq(1L, 2L, 3L), Seq.empty[Long]),
      (2L, Seq(1L, 3L), Seq(2L, 4L)), (3L, Seq.empty[Long], Seq.empty[Long]))
      .toDF("id", "a", "b")
      .select(call_function("graft_sorted_intersect", col("a"), col("b")).as("k"))
      .as[Seq[Long]].collect().toSeq
    assert(edge == Seq(Seq(), Seq(), Seq()))
  }

  test("triangleCounts is id-type-generic: int and string node ids analyze and agree") {
    // the missing-adjacency default derives its type from the edge
    // schema — a hardcoded array<long> used to fail analysis here
    val intEdges = Seq((1, 2), (1, 3), (2, 3), (2, 4), (3, 4))
      .toDF("src", "dst")
    val ri = Graph.triangleCounts(intEdges)
      .select("node", "n_triangles").collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(ri == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    val strEdges = Seq(("a", "b"), ("a", "c"), ("b", "c"))
      .toDF("src", "dst")
    val rs = Graph.triangleCounts(strEdges)
      .select("node", "n_triangles").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rs == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("triangle-free graph yields no rows; hub star has no triangles") {
    val star = sym((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    assert(Graph.triangleCounts(star).count() == 0L)
  }

  test("degree orientation equals the naive id-ordered triple count") {
    val edges = Graph.coPurchaseEdges(Tables.lineitem(spark, sfDir))
    val got = Graph.triangleCounts(edges)
      .select("node", "n_triangles").as[(Long, Long)].collect().toMap
    // naive: enumerate id-ordered triples via two joins on the unique
    // undirected pairs (the orientation-free ground truth)
    val ue = edges.filter($"src" < $"dst").as[(Long, Long)].collect().toSet
    val byA = ue.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val naive = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for ((a, ns) <- byA; y <- ns; z <- ns if y < z && ue.contains((y, z))) {
      naive(a) += 1; naive(y) += 1; naive(z) += 1
    }
    assert(got.nonEmpty)
    assert(got == naive.toMap)
  }
}

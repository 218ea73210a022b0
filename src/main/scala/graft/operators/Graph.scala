package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge-list DataFrames — the shapes
  * (join-aggregate power iteration, never an adjacency matrix) that
  * scale to billions of edges because each round is one shuffle on the
  * edge key.
  */
object Graph {

  /** Symmetric co-purchase edge list from the order baskets: one
    * directed edge each way per distinct item pair that shares an
    * order. Per-order fan-out is bounded by basket size (squared), so
    * the pair explosion stays linear-ish in lineitem at any corpus
    * size; the distinct collapses repeat co-purchases.
    *
    * Shape: one groupBy(order) with a map-side-combined `collect_set`
    * builds each basket (dedup within the basket happens IN the
    * partial aggregate, so the raw lineitem is never shuffled twice),
    * then baskets COLLAPSE TO DISTINCT ITEM SETS before the pair
    * fan-out (sort_array canonicalizes the set order) — the
    * exact-collapse law applied at basket grain: the edge set is a
    * pure function of the distinct baskets, so the quadratic per-row
    * blow-up and the pair distinct run once per distinct basket, not
    * once per order. On a replica-dense corpus this is the difference
    * between a pair stream ∝ orders and one ∝ distinct baskets (the
    * r14 density audit measured the graph CONSTANT across three
    * replica decades while the pre-collapse pair stream grew 1000× —
    * bench/density/). Three shuffles total — basket-build on the
    * order key, the basket distinct (map-side-combined, array-keyed),
    * the pair distinct — with the two distincts carrying collapsed
    * volume. On a corpus whose baskets are mostly UNIQUE (replica-free
    * order data) the basket distinct is a pure extra shuffle carrying
    * the item arrays with no volume reduction — a bounded overhead
    * (one pass over basket-grain rows, ≪ the pair fan-out it guards)
    * accepted as insurance against the replica density the decade
    * audits measure; hashing the sorted set as the key would not
    * shrink the exchange, since the array payload must travel to the
    * fan-out anyway.
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
      .select(col("items")).distinct()
      .select(explode(col("items")).as("src"), col("items"))
      .select(col("src"), explode(col("items")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** PageRank by fixed-round power iteration (Brin & Page 1998), for a
    * SYMMETRIC edge list (every node appears as a src, so there are no
    * dangling nodes and the node set is `distinct src`).
    *
    * Determinism is engineered for cross-engine replay: ranks round to
    * 10 decimals after every round, so the only inter-engine
    * difference — float summation order inside the per-node
    * aggregate, ~1e-18 at these magnitudes — is absorbed and every
    * round starts from bit-identical inputs. The teleport and damping
    * terms are written as the same double literals on both sides.
    *
    * Scale shape: ONE shuffle per round. Every static frame is
    * pre-partitioned on the hash key it joins on and pinned
    * (LogicalRDD preserves the partitioning, and alias-aware output
    * partitioning carries it through the renames): edges by `src`,
    * degrees and the node spine by `node`, and each round's rank frame
    * comes out of a groupBy/join on `node` already co-partitioned for
    * the next round. The only exchange left is the contribution
    * aggregation — the irreducible shuffle of the edge-sized
    * contribution stream onto its destination — so round cost is
    * bounded by one pass over the edges at any graph size. No driver
    * state beyond the node count (one scalar action); a materialized
    * persist chain per round caps the replayed lineage (the
    * iterative-loop rule from connectedComponents).
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
      damping: Double = 0.85): DataFrame = {
    val (e, nodes, deg, n) = prepare(edges)
    var r = nodes.withColumn("rank", lit(1.0 / n))
    // persist + count, not a cut: both cap the replayed lineage at one
    // round, but a cut re-executes the round's plan (rebuilding its
    // broadcasts) in a second job — measured ~1.5 s/round overhead at
    // sf0.1 vs ~0.2 s for the persist chain. The previous round is
    // released once its successor is materialized, so at most two
    // round frames are ever cached.
    val chain = new org.apache.spark.sql.GraftInternal.Rounds()
    for (_ <- 1 to iters)
      r = chain.step(pageRankRound(e, nodes, deg, r, n, damping))(_.count())
    r
  }

  /** The static per-graph frames every round reuses: edges partitioned
    * by `src`, the node spine and out-degrees partitioned by `node`,
    * all pinned once, plus the node count.
    */
  private def prepare(edges: DataFrame): (DataFrame, DataFrame, DataFrame, Double) = {
    import org.apache.spark.sql.GraftInternal.pinRecomputable
    // recomputable pins, NOT cuts: a cut re-executes the (expensive,
    // edge-sized) upstream plan in a second job per frame — three
    // frames deep that tripled the setup cost at sf0.1
    val e = pinRecomputable(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    val nodes = pinRecomputable(e.select(col("src").as("node")).distinct())
    val n = nodes.count().toDouble
    val deg = pinRecomputable(e.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("outdeg"))
      .select(col("src").as("node"), col("outdeg")))
    (e, nodes, deg, n)
  }

  /** One power-iteration round (shared by the fixed-round and the
    * converged form, so "m converged rounds" is bit-identical to
    * `pageRank(iters = m)`). All three joins are co-partitioned on
    * their key (see [[pageRank]]); the groupBy is the round's one
    * exchange.
    */
  private def pageRankRound(e: DataFrame, nodes: DataFrame, deg: DataFrame,
      r: DataFrame, n: Double, damping: Double): DataFrame = {
    // per-node outgoing weight, co-partitioned join on node, then
    // renamed back to src (alias-aware partitioning keeps the layout)
    val w = r.join(deg, Seq("node"))
      .select(col("node").as("src"), (col("rank") / col("outdeg")).as("w"))
    val contrib = e.join(w, Seq("src"))
      .groupBy(col("dst").as("node"))
      .agg(sum(col("w")).as("acc"))
    nodes.join(contrib, Seq("node"), "left")
      .select(col("node"),
        round(lit(1.0 - damping) / n
          + lit(damping) * coalesce(col("acc"), lit(0.0)), 10).as("rank"))
  }

  /** Tolerance-stopped PageRank: iterate until the max per-node rank
    * change falls below `eps` (or `maxIters`), returning the ranks AND
    * the number of rounds actually run. Same per-round math and 10-dp
    * rounding as [[pageRank]], so the result after m rounds equals
    * `pageRank(iters = m)` exactly — the fixed-round form stays the
    * oracle; this form is what production runs, because the right
    * round count is a property of the GRAPH, not a constant.
    *
    * Cost shape: convergence is checked (and the lineage checkpointed)
    * every `checkEvery` rounds, NOT every round — between checks the
    * rounds stay LAZY, so the whole k-round block materializes once,
    * in one action, at the check. Measured at sf0.1 (20k nodes, co-
    * purchase graph): a per-round delta action costs ~2.5× the
    * fixed-round form at the same round count; this block form costs
    * ~1.5×. The trade: the stop can overshoot (it only observes the
    * k-round aggregate delta, which bounds the per-round delta from
    * above, so the stop is never premature — ranks contract
    * monotonically; at sf0.1 it stops at 9 rounds for eps=1e-8 where
    * per-round checking would stop at ~5).
    */
  def pageRankConverged(edges: DataFrame, eps: Double = 1e-9,
      maxIters: Int = 50, damping: Double = 0.85,
      checkEvery: Int = 3): (DataFrame, Int) = {
    require(eps > 0 && maxIters >= 1 && checkEvery >= 1)
    val (e, nodes, deg, n) = prepare(edges)
    if (n == 0) return (nodes.withColumn("rank", lit(0.0)), 0)
    var r = nodes.withColumn("rank", lit(1.0 / n))
    var rounds = 0
    var delta = Double.MaxValue
    // persist chain (see [[pageRank]]); the delta check is the
    // materializing action, and the previous block is released only
    // AFTER the delta that reads it. persist alone does NOT truncate
    // lineage — a long convergence run grows the plan linearly and a
    // cache-evicted block replays every prior round — so every second
    // block is cut LAZILY: the cut lands when the delta action
    // computes the block anyway, so the lineage truncation costs no
    // extra job (an eager cut here re-executes the block's plan as a
    // second job — measured +10 s at sf0.1 across a 9-round run)
    val chain = new org.apache.spark.sql.GraftInternal.Rounds(
      cutEvery = 2, eagerCut = false)
    while (rounds < maxIters && delta >= eps) {
      var stepped = r
      var inner = 0
      while (inner < checkEvery && rounds < maxIters) {
        stepped = pageRankRound(e, nodes, deg, stepped, n, damping)
        inner += 1
        rounds += 1
      }
      val prev = r.select(col("node"), col("rank").as("prev"))
      r = chain.step(stepped) { next =>
        delta = next.join(prev, Seq("node"))
          .agg(max(abs(col("rank") - col("prev"))).as("d"))
          .head().getDouble(0)
      }
    }
    (r, rounds)
  }

  /** Per-node triangle counts + local clustering coefficient over a
    * SYMMETRIC edge list — the standard cohesion/community signal on
    * the co-purchase graph.
    *
    * Algorithm: degree-ordered node-iterator (Cohen's MapReduce
    * formulation / "node-iterator++"): orient every undirected edge
    * from its lower-(degree, id) endpoint to the higher one, build
    * wedges only at each node's oriented out-neighbors, and close a
    * wedge with an oriented edge lookup. Orientation bounds every
    * node's out-degree by O(√m) on any graph — the wedge fan-out a
    * hub node would otherwise explode (a celebrity item in every
    * basket generates deg² id-ordered wedges but only O(m) degree-
    * ordered ones), which is what makes the plan survive a skewed
    * 100 TB basket graph. Costs: one degree aggregate, one self-join
    * on the oriented src (wedge build), one semi-shaped equi-join to
    * close (the irreducible triangle check), one explode+count at
    * triangle grain. Every triangle is found exactly once (its
    * orientation-minimal corner), then credited to all three corners.
    *
    * Determinism: counting is exact integer work; the only rounding is
    * the final 4-dp clustering coefficient 2t / (deg · (deg − 1)) —
    * replayed identically by the oracle (which may orient by plain id:
    * the triangle SET is orientation-invariant, so the counts match).
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // materialize the unique undirected pairs ONCE — three consumers
    // (degree aggregate, wedge build, closing-edge lookup) would
    // otherwise each recompute the possibly-expensive upstream edge
    // generation (same rule as connectedComponents' edge checkpoint).
    // pinRecomputable: eager like a cut, but lineage stays
    // intact so executor loss recomputes instead of failing the job
    val ue = org.apache.spark.sql.GraftInternal.pinRecomputable(
      edges.filter(col("src") < col("dst"))
        .select(col("src"), col("dst")))
    // neighbor count per node from both endpoints of the unique pairs
    val deg = ue.select(col("src").as("node"))
      .unionByName(ue.select(col("dst").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))
    // degree-orientation: (u → v) with (deg, id)(u) < (deg, id)(v);
    // carry v's key for the wedge order. Materialized once — the wedge
    // self-join and the closing lookup both read it.
    val oriented = org.apache.spark.sql.GraftInternal.pinRecomputable(ue
      .join(deg.select(col("node").as("src"), col("degree").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("degree").as("dd")), "dst")
      .select(
        when(struct(col("ds"), col("src")) < struct(col("dd"), col("dst")),
          struct(col("src").as("u"), col("dst").as("v")))
          .otherwise(struct(col("dst").as("u"), col("src").as("v"))).as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v")))
    // EDGE-ITERATOR close: a triangle a→b, a→c, b→c is found exactly
    // once, at its orientation-minimal edge (a, b), as the out-neighbor
    // intersection N+(a) ∩ N+(b). The wedge stream (Σ C(outdeg, 2)
    // rows, easily 30× the edge count) never materializes — the same
    // work runs as per-edge array intersections inside one codegen
    // stage. Orientation bounds every adjacency array by O(√m)
    // elements; the adjacency table itself is m entries total, so it
    // broadcasts on bounded graphs and shuffle-joins past the
    // threshold (each join keyed by a node id, arrays never wider
    // than √m either way).
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    // ue is pinned, so the strategy probe is a cached-RDD count;
    // the two adjacency joins alias ONE side frame, so the planner
    // reuses a single (broadcast or shuffle) exchange of the adjacency
    // instead of materializing it twice. Broadcast only when the
    // adjacency's estimated BYTES fit the session's broadcast
    // threshold (one entry per oriented edge, ~16 B with overhead) —
    // a row-count cutoff could force-broadcast a table far past the
    // configured limit; past the threshold the planner picks the join
    val bcastLimit =
      ue.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val adjSide =
      if (bcastLimit > 0 && ue.count() * 16L <= bcastLimit) broadcast(adj)
      else adj
    // typed empty for missing adjacency: derive the element type from
    // the edge schema so non-long node ids (int, string) still analyze
    val idType = ue.schema("src").dataType.catalogString
    val joined = oriented.select(col("u"), col("v")).alias("e")
      .join(adjSide.alias("na"), col("e.u") === col("na.u"))
      .join(adjSide.alias("nb"), col("e.v") === col("nb.u"), "left")
      .select(col("e.u").as("u"), col("e.v").as("v"),
        col("na.nbrs").as("nu"),
        coalesce(col("nb.nbrs"), array().cast(s"array<$idType>")).as("nv"))
    // the adjacency arrays are sorted and duplicate-free by
    // construction, so long-id graphs intersect via the zero-allocation
    // merge-scan kernel (array_intersect builds a hash set PER ROW —
    // it dominated this operator's profile); other id types keep the
    // builtin
    graft.plans.GraftFunctions.ensureRegistered(edges.sparkSession)
    val intersect =
      if (ue.schema("src").dataType == org.apache.spark.sql.types.LongType)
        call_function("graft_sorted_intersect", col("nu"), col("nv"))
      else array_intersect(col("nu"), col("nv"))
    val tri = joined
      .select(col("u"), col("v"), intersect.as("ws"))
      .filter(size(col("ws")) > 0)
    // per-corner credit: u and v once per closing third corner, every
    // third corner once — triangle-grain rows only
    val corners = tri
      .select(explode(col("ws")).as("node"), lit(1L).as("cnt"))
      .unionByName(tri.select(col("u").as("node"),
        size(col("ws")).cast("long").as("cnt")))
      .unionByName(tri.select(col("v").as("node"),
        size(col("ws")).cast("long").as("cnt")))
    corners.groupBy(col("node"))
      .agg(sum(col("cnt")).as("n_triangles"))
      .join(deg, Seq("node"))
      .select(col("node"), col("degree"), col("n_triangles"),
        round(lit(2.0) * col("n_triangles")
          / (col("degree") * (col("degree") - lit(1))), 4).as("clustering"))
  }
}

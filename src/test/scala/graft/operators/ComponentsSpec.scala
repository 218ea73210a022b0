package graft.operators

import graft.SparkSpecBase

class ComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  test("connected components label every node with its cluster minimum") {
    // two chains and a singleton-free edge set:
    // {1-2, 2-3, 3-4} and {10-11}, node 20 paired with 21
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (11L, 10L), (20L, 21L))
      .toDF("a", "b")
    val out = Dedup.connectedComponents(edges, "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)))
  }

  test("cluster-size histogram folds the labels twice (the datasheet shape)") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // components {1,2,3,4} (size 4), {10,11} and {20,21} (two of size
    // 2) -> histogram rows (2, 2) and (4, 1)
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (11L, 10L), (20L, 21L))
      .toDF("a", "b")
    val hist = Dedup.connectedComponents(edges, "a", "b")
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size").as[(Long, Long)].collect().toSeq
    assert(hist == Seq((2L, 2L), (4L, 1L)))
  }

  test("a small graph solved on the driver releases its pinned edge list") {
    val edges = Seq((2L, 1L), (3L, 2L), (11L, 10L)).toDF("a", "b")
    assertLeavesNoPins {
      val out = Dedup.connectedComponents(edges, "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }

  test("a long path converges within the iteration budget") {
    val edges = (1 until 15).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val out = Dedup.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(1L))
    assert(out.size == 15)
  }

  test("distributed loop (threshold 0) labels identically to union-find") {
    val edges = Seq((2L, 1L), (3L, 2L), (11L, 10L), (20L, 21L), (21L, 22L))
      .toDF("a", "b")
    val local = Dedup.connectedComponents(edges, "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val dist = Dedup.connectedComponents(edges, "a", "b", localThreshold = 0L)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(local == dist)
    assert(local.map(_._2).toSet == Set(1L, 10L, 20L))
  }

  test("incremental CC: delta merges, new components, untouched stay stored") {
    // base: {1,2,3}, {10,11}, {20,21}; delta merges {1..} with {10..}
    // and adds a brand-new component {30,31}
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    val delta = Seq((3L, 10L), (30L, 31L)).toDF("a", "b")
    val stored = Dedup.connectedComponents(base, "a", "b")
    val got = Dedup.connectedComponentsIncremental(stored, base, delta, "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val batch = Dedup.connectedComponents(base.unionByName(delta), "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == batch)
    assert(got.toMap.apply(11L) == 1L) // the merge actually crossed
  }

  test("incremental CC streams untouched labels from the STORE (tamper-proof)") {
    val base = Seq((1L, 2L), (10L, 11L)).toDF("a", "b")
    val delta = Seq((1L, 3L)).toDF("a", "b") // touches only component 1
    val stored = Dedup.connectedComponents(base, "a", "b")
    // tamper the untouched component's label: a re-solve would restore
    // 10; honoring the store must surface the decoy
    val tampered = stored
      .withColumn("component",
        org.apache.spark.sql.functions.when($"component" === 10L, 999L)
          .otherwise($"component"))
    val got = Dedup
      .connectedComponentsIncremental(tampered, base, delta, "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toMap
    assert(got(10L) == 999L && got(11L) == 999L)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
  }

  test("decremental CC: removing a bridge SPLITS its component; untouched stay stored") {
    // {1-2-3-4} with 3 the bridge, {10,11}, {20,21}; removing 3 splits
    // the first component into {1,2} and {4}: 4 loses its last edge
    // and drops out of the labeling (matches the batch re-solve over
    // surviving edges)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("a", "b")
    val stored = Dedup.connectedComponents(edges, "a", "b")
    val removed = Seq(3L).toDF("node")
    val got = Dedup.connectedComponentsDecremental(stored, edges, removed, "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val batch = Dedup.connectedComponents(
        edges.filter($"a" =!= 3L && $"b" =!= 3L), "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == batch, s"got=$got batch=$batch")
    assert(got == Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)))
  }

  test("decremental CC: removing the MIN node relabels the survivors") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val stored = Dedup.connectedComponents(edges, "a", "b")
    val got = Dedup.connectedComponentsDecremental(stored, edges,
        Seq(1L).toDF("node"), "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    // component minimum moves from 1 to 2; untouched {10,11} keeps 10
    assert(got == Seq((2L, 2L), (3L, 2L), (10L, 10L), (11L, 10L)))
  }

  test("decremental CC streams untouched labels from the STORE (tamper-proof)") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val stored = Dedup.connectedComponents(edges, "a", "b")
    val tampered = stored
      .withColumn("component",
        org.apache.spark.sql.functions.when($"component" === 10L, 999L)
          .otherwise($"component"))
    val got = Dedup.connectedComponentsDecremental(tampered, edges,
        Seq(3L).toDF("node"), "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toMap
    assert(got(10L) == 999L && got(11L) == 999L) // honored the store
    assert(got(1L) == 1L && got(2L) == 1L)
  }

  test("incremental CC on the gate split equals the batch labels") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val pairs = Dedup.embeddingNearDups(emb)
    // candidate-side split (a probe-side one would empty the base:
    // every pair's probe is a vec_id % 20 == 0 row)
    val isDelta = $"cand_id" % 7 === 0
    val base = pairs.filter(!isDelta)
    val delta = pairs.filter(isDelta)
    assert(base.count() > 0 && delta.count() > 0)
    val stored = Dedup.connectedComponents(base, "probe_id", "cand_id")
    val got = Dedup
      .connectedComponentsIncremental(stored, base, delta, "probe_id", "cand_id")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val batch = Dedup.connectedComponents(pairs, "probe_id", "cand_id")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    assert(got == batch)
  }

  test("spanning edges label IDENTICALLY to the pair-grain feed (gate corpus)") {
    // the clustering consumers' contract: embeddingNearDupSpanningEdges
    // replaces each bipartite probe×member clique with a star + link
    // spanning structure — same node set, same transitive closure, so
    // connectedComponents (labels = component-min id) must agree
    // row-for-row with the pair-grain feed the DuckDB oracle replays
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val viaPairs = Dedup.connectedComponents(
        Dedup.embeddingNearDups(emb), "probe_id", "cand_id")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val viaSpan = Dedup.connectedComponents(
        Dedup.embeddingNearDupSpanningEdges(emb), "src", "dst")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(viaPairs.nonEmpty)
    assert(viaSpan == viaPairs)
  }

  test("spanning edges: twin groups, probe-less groups, and singletons") {
    // crafted geometry, probeMod = 20 (vec_id % 20 == 0 is a probe):
    //  - group A = {20, 21, 22}: probe group of twins (star expected)
    //  - group B = {41, 42}: NO probe, near A -> reachable only via the
    //    cross link, internally connected by its own star
    //  - group C = {63}: no probe, orthogonal to A -> no edges, absent
    //  - group D = {80}: singleton PROBE, orthogonal -> absent (the
    //    pair-grain form excludes self pairs; the empty star matches)
    val rows = Seq(
      (20L, Seq(1f, 0f)), (21L, Seq(1f, 0f)), (22L, Seq(1f, 0f)),
      (41L, Seq(0.9f, 0.1f)), (42L, Seq(0.9f, 0.1f)),
      (63L, Seq(-1f, 0.2f)),
      (80L, Seq(0.2f, -1f)))
    val emb = rows.toDF("vec_id", "embedding")
    val viaPairs = Dedup.connectedComponents(
        Dedup.embeddingNearDups(emb), "probe_id", "cand_id")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val viaSpan = Dedup.connectedComponents(
        Dedup.embeddingNearDupSpanningEdges(emb), "src", "dst")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(viaPairs ==
      Seq((20L, 20L), (21L, 20L), (22L, 20L), (41L, 20L), (42L, 20L)))
    assert(viaSpan == viaPairs)
    // and the spanning edge count is members + cross links, not the
    // probe×member clique: A star (2) + B star (1) + one A->B link
    assert(Dedup.embeddingNearDupSpanningEdges(emb).count() == 4L)
  }
}

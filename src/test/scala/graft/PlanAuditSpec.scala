package graft

import graft.operators.{Quality, Relational, Scd2, Views}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audits — the scale contract, asserted:
  * filters reach the parquet scan, scans are column-pruned, dim joins
  * broadcast (no fact shuffle for joins).
  */
class PlanAuditSpec extends SparkSpecBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("pricing summary pushes the shipdate filter into the scan") {
    val p = plan(Relational.pricingSummary(Tables.lineitem(spark, sfDir)))
    assert(p.contains("PushedFilters"), p)
    assert(p.split("\n").exists(l =>
      l.contains("PushedFilters") && l.contains("l_shipdate")), p)
  }

  test("pricing summary scan is column-pruned (no join keys read)") {
    val p = plan(Relational.pricingSummary(Tables.lineitem(spark, sfDir)))
    val readSchema = p.split("\n").filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_partkey"), readSchema)
    assert(!readSchema.contains("l_suppkey"), readSchema)
  }

  test("analytic views broadcast the item dim — fact side never shuffles for the join") {
    val p = plan(Views.yearlyCounts(
      Tables.events(spark, sfDir), Tables.part(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q3 broadcasts the filtered customer dim") {
    val p = plan(Relational.shippingPriority(
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.split("\n").exists(l =>
      l.contains("PushedFilters") && l.contains("c_mktsegment")), p)
  }

  test("embedding dedup plans the native dot and broadcasts probes") {
    val df = graft.operators.Dedup.embeddingNearDups(
      Tables.embeddings(spark, sfDir))
    val p = plan(df)
    assert(p.contains("graft_dot"), p)       // codegen expression in use
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q5 joins dims by broadcast only — the lineitem spine is never broadcast") {
    val p = plan(Relational.regionRevenue(
      Tables.region(spark, sfDir), Tables.nation(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    val readLine = p.split("\n").find(l =>
      l.contains("BroadcastExchange")).getOrElse("")
    assert(!readLine.contains("l_extendedprice"), p)
  }

  test("broadcast upsert plans BroadcastHashJoins only — the target never shuffles") {
    val orders = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderstatus")
    val delta = orders.filter(org.apache.spark.sql.functions.col("o_orderkey") % 97 === 0)
    val p = plan(graft.operators.MergeInto.upsert(
      orders, delta, Seq("o_orderkey"), Seq("o_orderstatus"), broadcastDelta = true))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("SCD2 merge plans BroadcastHashJoins only — the history never shuffles") {
    val part = Tables.part(spark, sfDir)
    val h0 = graft.operators.Scd2.init(part, Seq("p_partkey"),
      org.apache.spark.sql.functions.lit("2024-01-01"))
    val delta = part.filter(
      org.apache.spark.sql.functions.col("p_partkey") % 97 === 0)
    val p = plan(graft.operators.Scd2.merge(h0, delta, Seq("p_partkey"),
      Seq("p_retailprice"), org.apache.spark.sql.functions.lit("2024-02-01")))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("incremental agg folds by key join — the raw drops shuffle only their partials") {
    val ev = Tables.events(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("value"))
    val spec = graft.operators.IncrementalAgg.Spec(sums = Seq("value"))
    val p = plan(graft.operators.IncrementalAgg.fold(
      graft.operators.IncrementalAgg.partial(ev, Seq("event_type"), spec),
      graft.operators.IncrementalAgg.partial(ev, Seq("event_type"), spec),
      Seq("event_type"), spec))
    // both inputs partial-aggregate before any exchange (map-side combine)
    assert(p.contains("HashAggregate"), p)
    val firstExchange = p.indexOf("Exchange")
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstAgg >= 0 && firstExchange >= 0, p)
  }

  test("activeUsers scans the event stream exactly once") {
    // the single-pass form: DAU, WAU, and the observed-day filter all
    // derive from one deduped-pair aggregation — no per-branch rescan.
    // (AQE's executedPlan string prints Final AND Initial plan
    // sections, so count scans in the final section only.)
    val df = Relational.activeUsers(Tables.events(spark, sfDir))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    val scans = finalSection.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, p)
  }

  test("decile lift: no data-grain global window — deciles cut from two-level ranks") {
    val df = Relational.decileLift(Tables.events(spark, sfDir))
    df.collect()
    // audit the optimized LOGICAL plan: AQE hides executed sub-stages
    // (broadcast stages wrap their subtree), but every Window survives
    // to the optimized plan unwrapped
    val opt = df.queryExecution.optimizedPlan
    // ntile (the single-partition global sort) must not appear anywhere
    assert(!opt.toString.contains("ntile"), opt.toString)
    // any window WITHOUT a partition spec may only run over the
    // partition-count prefix frame (≤ shuffle-partitions rows, a
    // cluster constant) — never over the user/event grain
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty, opt.toString)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val childCols = w.child.output.map(_.name).toSet
      assert(childCols.exists(_.startsWith("cnt")) &&
        childCols.exists(_.startsWith("pid")),
        s"unpartitioned window over $childCols")
      assert(!childCols.exists(_.startsWith("user_id")) &&
        !childCols.exists(_.startsWith("spend")),
        s"unpartitioned window over the user grain: $childCols")
    }
  }

  test("all-corpus near-dup pairs: ids-only bucket join, embeddings never in an exchange") {
    val df = graft.operators.Dedup.embeddingNearDupsAll(
      Tables.embeddings(spark, sfDir))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // candidate generation is a bucket-key join, never all-pairs
    assert(!finalSection.contains("CartesianProduct"), p)
    assert(!finalSection.contains("BroadcastNestedLoopJoin"), p)
    // no exchange row carries the 64-float embedding payload: every
    // hashpartitioning line partitions ids/sigs/pair keys only
    val exchanges = finalSection.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(l => !l.contains("embedding")), p)
  }

  test("SCD2 large-delta path: hash joins on the key, no broadcast, no nested loop") {
    import org.apache.spark.sql.functions.{col, lit}
    val history = Scd2.init(
      Tables.part(spark, sfDir).select(col("p_partkey").as("k"),
        col("p_name").as("name"),
        col("p_retailprice").cast("double").as("price")),
      Seq("k"), lit("2024-01-01"))
    val delta = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("k"), col("p_name").as("name"),
        (col("p_retailprice").cast("double") * 1.1).as("price"))
    // simulate a genuinely backfill-sized delta: with the broadcast
    // thresholds off, neither the static planner nor AQE's runtime
    // re-plan may fall back to broadcasting — on real data this is the
    // regime where the delta exceeds the driver/executor broadcast
    // budget (at spec scale AQE would otherwise happily broadcast the
    // 2000-row frame and mask a planning regression)
    val conf = spark.conf
    // getOption, not get-with-fallback: an unset AQE threshold must be
    // RE-unset afterwards (setting it to the fallback would disable
    // AQE broadcast re-planning for every later test in this JVM)
    val prev = (conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
      conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold"))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = Scd2.merge(history, delta, Seq("k"), Seq("name", "price"),
        lit("2024-02-01"), broadcastDelta = false)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val finalSection = p.split("== Initial Plan ==").head
      // the key-unique 1:1 joins must run as shuffled hash/sort-merge
      // joins on the natural key (a nested loop or cartesian here
      // would be a planning regression)
      assert(!finalSection.contains("BroadcastHashJoin"), p)
      assert(!finalSection.contains("BroadcastNestedLoopJoin"), p)
      assert(!finalSection.contains("CartesianProduct"), p)
      assert(finalSection.contains("SortMergeJoin")
        || finalSection.contains("ShuffledHashJoin"), p)
    } finally {
      prev._1.fold(conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      prev._2.fold(conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold"))(
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", _))
    }
  }

  test("quality audit reads the table at most twice: scan-rule fold + unique agg") {
    val events = Tables.events(spark, sfDir)
    val df = Quality.audit(events, Seq(
      Quality.NotNull("event_id", "id_not_null"),
      Quality.Unique("event_id", "id_unique"),
      Quality.InRange("value", 0.0, 1000000.0, "value_range")))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    val scans = finalSection.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, p)
  }

  test("co-purchase self-join reuses the deduped basket exchange") {
    val df = Relational.coPurchasePairs(Tables.lineitem(spark, sfDir))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    val scans = finalSection.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1 || finalSection.contains("ReusedExchange"), p)
  }

  test("funnel's three window layers share one exchange and one sort") {
    val p = plan(Relational.funnel(Tables.events(spark, sfDir)))
    // count tree-form nodes ("Exchange (n)") — the formatted details
    // section repeats every node name once more
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    // stacked dependent windows must reuse the (user_id, ts) sort: the
    // only exchanges are the window shuffle and the final-agg shuffle
    assert(exchanges <= 2, p)
    val sorts = "Sort \\(".r.findAllIn(p).length
    assert(sorts <= 1, p)
  }

  test("small-qty revenue: one fact scan, broadcast part, pushed brand filter") {
    val df = Relational.smallQtyRevenue(
      Tables.part(spark, sfDir), Tables.lineitem(spark, sfDir))
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.split("\n").exists(l =>
      l.contains("PushedFilters") && l.contains("p_brand")), p)
    df.collect()
    val finalSection = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val liScans = finalSection.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(liScans == 1, finalSection)
  }

  test("top supplier: ship window reaches the scan, argmax never sorts globally") {
    val p = plan(Relational.topSupplier(
      Tables.supplier(spark, sfDir), Tables.lineitem(spark, sfDir)))
    assert(p.split("\n").exists(l =>
      l.contains("PushedFilters") && l.contains("l_shipdate")), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the max is a 1-row aggregate joined back, not a window over a
    // single partition
    assert(!p.contains("Window"), p)
  }

  test("lapsed-customer report: date filter pushed, anti join is hash-based") {
    val p = plan(Relational.idleRichCustomers(
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir)))
    assert(p.split("\n").exists(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate")), p)
    // the anti join must be hash-based; the only nested-loop allowed is
    // the Cross against the broadcast 1-row average
    assert(p.split("\n").exists(l =>
      l.contains("LeftAnti") && l.contains("HashJoin")), p)
    assert(!p.contains("BroadcastNestedLoopJoin LeftAnti"), p)
  }

  test("big orders: top-100 is a TakeOrdered, customer resolves by broadcast") {
    val p = plan(Relational.bigOrders(Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("order gaps: the lag window's exchange also feeds the aggregate") {
    val p = plan(Relational.orderGaps(Tables.orders(spark, sfDir)))
    // window partitioning == groupBy key, so one hash exchange serves
    // both and the per-customer sort happens within partitions
    val exchanges = "Exchange \\(".r.findAllIn(p).length
    assert(exchanges == 1, p)
    val sorts = "Sort \\(".r.findAllIn(p).length
    assert(sorts <= 1, p)
  }

  test("gopher quality gate is a pure projection — zero exchanges") {
    val p = plan(graft.operators.CorpusStats.gopherQuality(
      Tables.documents(spark, sfDir)))
    assert(!p.contains("Exchange"), p)
  }

  test("compacted SCD2 as-of prunes closed partitions for a bounded window") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val dim = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_retailprice"))
    val h0 = Scd2.init(dim, Seq("p_partkey"), lit("1995-01-01"))
    val bumped = dim.withColumn("p_retailprice",
      when(col("p_partkey") % 10 === 0, col("p_retailprice") + 1.0)
        .otherwise(col("p_retailprice")))
    val hist = Scd2.merge(h0, bumped, Seq("p_partkey"),
      Seq("p_retailprice"), lit("1998-01-01"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_scd2_audit").toString + "/hist"
    graft.sources.Sinks.compactScd2(hist, path)
    val compacted = graft.sources.Sinks.readScd2(spark, path)
    // facts bounded to 1999+: every version closed in 1998 is dead to
    // the window and must be eliminated at the MANIFEST, not the filter
    val facts = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_shipdate"))
      .filter(col("l_shipdate") >= "1999-01-01")
    val joined = Scd2.asOfPruned(compacted, facts, "p_partkey",
      "l_partkey", "l_shipdate", lit("1999-01-01"))
    val p = plan(joined)
    val scanLines = p.split("\n").filter(_.contains("close_year")).mkString("\n")
    assert(scanLines.contains("PartitionFilters"), p)
    // equivalence on the bounded window: pruning drops no matches
    val expect = Scd2.asOf(hist, facts, "p_partkey", "l_partkey", "l_shipdate")
      .select(col("l_partkey"), col("l_shipdate"), col("p_retailprice"))
      .orderBy("l_partkey", "l_shipdate").collect().toSeq
    val got = joined
      .select(col("l_partkey"), col("l_shipdate"), col("p_retailprice"))
      .orderBy("l_partkey", "l_shipdate").collect().toSeq
    assert(got == expect)
  }

  test("served IVF reads the stored index and never retrains") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_audit").toString
    graft.sources.IvfIndexStore.build(emb, path)
    val df = graft.sources.IvfIndexStore.servedTopK(spark, path,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 8))
    val p = plan(df)
    // the quantizer and the candidate set are parquet scans of the
    // index tables...
    assert(p.contains(s"$path/centroids"), p)
    assert(p.contains(s"$path/cells"), p)
    // ...and nothing in the serve plan recomputes the training: no
    // centroid UDAF, no per-dimension mean explode
    assert(!p.contains("centroidaggregator"), p)
    assert(!p.toLowerCase.contains("posexplode"), p)
    // served results equal the in-query trained pipeline exactly
    val served = df.orderBy("probe_id", "rnk").collect().toSeq
    val trained = graft.operators.Similarity
      .ivfTrainedTopK(emb, org.apache.spark.sql.functions.col("vec_id") < 8)
      .orderBy("probe_id", "rnk").collect().toSeq
    assert(served == trained)
  }

  test("KMV sketch path: one bounded-state aggregation, no distinct Expand") {
    val docs = Tables.load(spark, sfDir, "documents")
    val p = plan(graft.operators.CorpusStats.kmvDistinct(docs, withExact = false))
    // the production sketch: partial + final object-hash aggregate over
    // the k-bounded buffer, a single exchange on the group key, and no
    // Expand rewrite (that's the distinct path's shuffle multiplier)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Expand"), p)
    assert(p.split("\n").count(_.trim.startsWith("Exchange")) <= 1, p)
  }

  test("mm_phash: banded candidate join — no all-pairs, frame bytes never in an exchange") {
    val media = graft.operators.Multimodal.asMedia(Tables.documents(spark, sfDir))
    val df = graft.operators.Multimodal.nearDupFrames(media)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    assert(!finalSection.contains("CartesianProduct"), p)
    assert(!finalSection.contains("BroadcastNestedLoopJoin"), p)
    val exchanges = finalSection.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(l => !l.contains("frame_bytes") && !l.contains("content")), p)
  }

  test("mm_phash_incremental: drop side broadcasts — the stored index scans with NO exchange") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val base = graft.operators.Multimodal.asMedia(docs.filter(col("doc_id") % 10 =!= 0))
    val drop = graft.operators.Multimodal.asMedia(docs.filter(col("doc_id") % 10 === 0))
    val path = java.nio.file.Files.createTempDirectory("graft_fsig_audit").toString
    graft.sources.FrameSigIndexStore.build(base, path)
    val df = graft.sources.FrameSigIndexStore.deltaPairs(drop,
      graft.sources.FrameSigIndexStore.bandsTable(spark, path))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // both candidate joins ride the one broadcast of the drop's band
    // rows; the corpus index never hash-shuffles, media bytes never
    // appear in any exchange
    assert(finalSection.contains("BroadcastHashJoin"), p)
    assert(!finalSection.contains("SortMergeJoin"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
    val hashExchanges = finalSection.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.forall(l => !l.contains("sig_") && !l.contains("bv")),
      p) // no shuffle keyed on the stored index's band rows
    assert(!finalSection.contains("content"), p)
  }

  test("stream_mm_phash_reps serve: rep-grain deltaReps broadcasts the drop; no media bytes in exchanges") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val base = graft.operators.Multimodal.asMedia(docs.filter(col("doc_id") % 10 =!= 0))
    val drop = graft.operators.Multimodal.asMedia(docs.filter(col("doc_id") % 10 === 0))
    val path = java.nio.file.Files
      .createTempDirectory("graft_fsrep_audit").toString + "/fs"
    graft.sources.FrameSigIndexStore.buildRepKeyed(base, path)
    val df = graft.sources.FrameSigIndexStore.deltaReps(drop,
      graft.sources.FrameSigIndexStore.bandsTable(spark, path),
      graft.sources.FrameSigIndexStore.sizesTable(spark, path))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // same contract as the pair form's serve: the drop's band rows and
    // BOTH size maps broadcast, the stored rep index never
    // hash-shuffles, media bytes never appear in any exchange
    assert(finalSection.contains("BroadcastHashJoin"), p)
    assert(!finalSection.contains("SortMergeJoin"), p)
    assert(!finalSection.contains("CartesianProduct"), p)
    val hashExchanges = finalSection.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.forall(l => !l.contains("sig_") && !l.contains("bv")),
      p)
    assert(!finalSection.contains("content"), p)
  }

  test("text_dup_spans: exchanges carry the 60-bit key, never the shingle string") {
    val df = graft.operators.CorpusStats.dupSpans(Tables.documents(spark, sfDir))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges = finalSection.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(l => !l.contains("shingle")), p)
  }

  test("emb_pca: the score pass is a zero-shuffle projection") {
    // means and Gram reduce in their own bounded jobs; the returned
    // frame must be scan + projection only — no exchange at any scale
    val df = graft.operators.Pca.topComponent(Tables.embeddings(spark, sfDir))
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
  }

  test("q_decile_lift: ONE range exchange, shared by rank and prefix-sum stages") {
    // the user-grain spend frame is range-partitioned once; the local
    // ranking, the partition-count/prefix-sum stage, and the decile
    // aggregation must all ride that SAME exchange via ReusedExchange —
    // a second rangepartitioning would re-shuffle the data grain
    // (the r7/r8 verdict's exchange-reuse audit, pinned here)
    val df = Relational.decileLift(Tables.events(spark, sfDir))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalSection = p.split("== Initial Plan ==").head
    // a ReusedExchange line prints the referenced exchange inline —
    // count only the real one
    val ranges = finalSection.linesIterator
      .filter(l => l.contains("Exchange rangepartitioning") &&
        !l.contains("ReusedExchange")).toSeq
    val reused = finalSection.linesIterator
      .filter(l => l.contains("ReusedExchange") && l.contains("rangepartitioning"))
      .toSeq
    assert(ranges.size == 1, s"${ranges.size} range exchanges\n$p")
    assert(reused.nonEmpty, p)
  }

  test("rolled IVF index: serve after append reads stored tables, never retrains") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfroll_audit").toString
    graft.sources.IvfIndexStore.build(emb.filter(col("vec_id") % 5 =!= 4), path)
    graft.sources.IvfIndexStore.append(spark,
      emb.filter(col("vec_id") % 5 === 4), path)
    val df = graft.sources.IvfIndexStore.servedTopK(spark, path,
      emb.filter(col("vec_id") < 8))
    val p = plan(df)
    // quantizer + candidates are scans of the ROLLED index; nothing in
    // the serve plan retrains or re-assigns (no centroid UDAF, no
    // per-dimension mean explode, no Lloyd-round persist chain)
    assert(p.contains(s"$path/centroids"), p)
    assert(p.contains(s"$path/cells"), p)
    assert(!p.contains("centroidaggregator"), p)
    assert(!p.toLowerCase.contains("posexplode"), p)
    // and the appended vectors ARE served: a probe can surface a
    // delta-cell candidate (functional coverage is the gate oracle;
    // here assert the cells scan sees the appended partitions)
    val cells = graft.sources.IvfIndexStore.cellsTable(spark, path)
    assert(cells.filter(col("vec_id") % 5 === 4).count() > 0)
  }

  test("assoc rules: basket exchange reused by pair join AND item counts, 1-row total broadcast") {
    val df = Relational.assocRules(Tables.lineitem(spark, sfDir))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==").head
    // the deduped basket is exchanged once; the pair self-join's b side
    // AND the per-item count branch read it back via ReusedExchange
    val reused = "ReusedExchange".r.findAllIn(fin).length
    assert(reused >= 2, s"reused=$reused\n$p")
    // ≤2 fact scans: the basket scan plus the total's single-column
    // pruned scan (re-reading one column beats shipping the basket
    // exchange a third time); anything more means a branch re-derives
    val scans = fin.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"scans=$scans\n$p")
    // the basket total N joins as a broadcast 1-row frame — never a
    // shuffle join against the pair table
    assert(fin.contains("BroadcastNestedLoopJoin") ||
      fin.contains("IdentityBroadcastMode"), p)
    // the final cut is a TakeOrdered, not a global sort
    assert(fin.contains("TakeOrderedAndProject"), p)
  }

  test("minhash keep-action: one kernel signing per band-join side, shingles candidate-only") {
    import org.apache.spark.sql.functions.col
    // canonical plan environment: an earlier suite's minhashKeepBest
    // run persists the exact-collapse id set, and the CacheManager
    // would substitute that fragment here — the cached relation prints
    // a NESTED AdaptiveSparkPlan whose "== Initial Plan ==" marker
    // breaks the section cut, and stage-reuse printing duplicates
    // subtrees past any occurrence bound. The audit is about THIS
    // operator's plan shape, so clear session cache state first.
    spark.sharedState.cacheManager.clearCache()
    val df = graft.operators.Dedup.minhashKeep(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fin = p.split("== Initial Plan ==").head
    // the corpus is signed by the codegen kernel (never the interpreted
    // HOF stack), and only on the two sides of the single band
    // self-join — a third occurrence means a subtree re-signs
    val sigs = "graft_minhash_sig".r.findAllIn(fin).length
    assert(sigs >= 1 && sigs <= 2, s"sig kernel count $sigs\n$p")
    // shingle STRINGS (concat_ws) are built only for the semi-join-
    // pruned candidate fetch of the verify stage — two sides max; the
    // corpus-grain signing path must not materialize them
    val shingleBuilds = "concat_ws".r.findAllIn(fin).length
    assert(shingleBuilds <= 2, s"shingle-string builds $shingleBuilds\n$p")
    // the exact-collapse groupBy is computed once and reused
    assert(fin.contains("ReusedExchange"), p)
    // one feature pass builds every shingle set, and the verify is the
    // sorted-set merge, never the hash-set builtins
    val shingleSets = "graft_shingle_set".r.findAllIn(fin).length
    assert(shingleSets == 1, s"shingle-set kernel count $shingleSets\n$p")
    assert(!fin.contains("array_intersect") && !fin.contains("array_union"), p)
  }

  test("keep-best action: argmax window partitions by component, never the corpus grain") {
    import org.apache.spark.sql.functions.{col, lit}
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val quality = docs.select(col("doc_id"), lit(0.5).as("quality_score"))
    val df = graft.operators.Dedup.minhashKeepBest(docs, quality)
    df.collect()
    val opt = df.queryExecution.optimizedPlan
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    // exactly one window — the per-cluster argmax — and it must be
    // keyed on the component id (clustered-node grain, a sliver of
    // the corpus), never unpartitioned or keyed on doc/text columns
    assert(windows.nonEmpty, opt.toString)
    windows.foreach { w =>
      val parts = w.partitionSpec.flatMap(_.references.toSeq.map(_.name))
      assert(parts.exists(_.startsWith("component")),
        s"window partitioned by $parts\n$opt")
    }
  }

  test("q19: the quantity envelope reaches the fact scan, the brand sliver broadcasts") {
    val p = plan(Relational.disjunctiveRevenue(
      Tables.part(spark, sfDir), Tables.lineitem(spark, sfDir)))
    assert(p.split("\n").exists(l =>
      l.contains("PushedFilters") && l.contains("l_quantity")), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the fact scan reads no supplier/order keys for this report
    val li = p.split("\n").filter(l =>
      l.contains("ReadSchema") && l.contains("l_quantity")).mkString
    assert(!li.contains("l_suppkey"), li)
  }

  test("q20 runs ONE pass over lineitem — part totals re-aggregate the partials") {
    val p = plan(Relational.excessSupply(
      Tables.supplier(spark, sfDir), Tables.lineitem(spark, sfDir)))
    val factScans = p.split("\n").count(l =>
      l.contains("Location") && l.contains("lineitem.parquet"))
    assert(factScans == 1, s"expected 1 lineitem scan, saw $factScans\n$p")
    assert(p.split("\n").exists(l =>
      l.contains("PushedFilters") && l.contains("l_shipdate")), p)
  }

  test("q2 pushes the slice predicate into the part scan and broadcasts the sliver") {
    val p = plan(Relational.minCostSupplier(Tables.part(spark, sfDir),
      Tables.supplier(spark, sfDir), Tables.lineitem(spark, sfDir)))
    assert(p.split("\n").exists(l =>
      l.contains("PushedFilters") && l.contains("p_type")), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q21 collapses the EXISTS pair into one lineitem pass — no anti joins, no rescan") {
    val p = plan(Relational.lateAloneSuppliers(Tables.supplier(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)))
    val factScans = p.split("\n").count(l =>
      l.contains("Location") && l.contains("lineitem.parquet"))
    assert(factScans == 1, s"expected 1 lineitem scan, saw $factScans\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ranking windows share ONE user-key exchange for all five functions") {
    val df = Relational.windowRankFuncs(Tables.events(spark, sfDir))
    val p = plan(df)
    val exchanges = p.split("\n").count(_.trim.matches("""[+\-:\s*]*\(\d+\) Exchange.*"""))
    assert(exchanges == 1, s"expected 1 exchange, saw $exchanges\n$p")
  }

  test("ccnet buckets broadcast the thresholds and window nothing") {
    val p = plan(graft.operators.CorpusStats.ccnetBuckets(
      Tables.documents(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains(") Window"), p) // no window over the corpus
  }

  test("semantic dedup pairs at rep grain with the codegen dot — the corpus collapses first") {
    val df = graft.operators.Dedup.semanticDedup(
      Tables.embeddings(spark, sfDir))
    df.collect()
    val opt = df.queryExecution.optimizedPlan
    val p = opt.toString
    assert(p.contains("graft_dot"), p)
    // the distinct-vector collapse: an aggregate keyed on the embedding
    // VALUE sits below the pair join
    val aggs = opt.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggs.exists(_.groupingExpressions.exists(
      _.references.exists(_.name == "embedding"))), p)
  }

  test("semantic delta serve collapses BOTH sides to distinct-vector grain") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val path = graft.sources.StorePaths.keyedTmp("ivfsemaudit",
      java.util.UUID.randomUUID().toString)
    graft.sources.IvfIndexStore.ensure(corpus, path)
    val df = graft.operators.Dedup.semanticNearDupsDelta(emb,
      graft.sources.IvfIndexStore.cellsTable(spark, path)
        .select(col("vec_id"), col("cell")),
      graft.sources.IvfIndexStore.assignCells(spark, delta, path))
    df.collect()
    val opt = df.queryExecution.optimizedPlan
    // the raw-grain form filled the disk at the 100x replica decade:
    // the twin-group collapse (an aggregate keyed on the embedding
    // VALUE) must sit below the pair join on BOTH sides
    val aggs = opt.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    val valueKeyed = aggs.count(_.groupingExpressions.exists(
      _.references.exists(_.name == "embedding")))
    assert(valueKeyed >= 2, s"saw $valueKeyed value-keyed aggregates\n$opt")
  }

  test("whole-stage codegen covers the pricing aggregation") {
    // under AQE the final plan (with codegen stages) exists only after
    // execution — run it, then inspect the adaptive executed plan
    val df = Relational.pricingSummary(Tables.lineitem(spark, sfDir))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p) // "*(n)" = whole-stage-codegen stage n
  }

  test("partition-scoped fact merge: untouched dates pruned at the MANIFEST, never scanned") {
    // the 100 TB daily-load contract: the merge's fact scan must carry
    // the touched-date set as a PARTITION filter, so untouched dates
    // are eliminated in the file manifest — a filter past the scan
    // would still list and read the whole warehouse
    import spark.implicits._
    def day(s: String) = java.sql.Date.valueOf(s)
    val path = java.nio.file.Files
      .createTempDirectory("graft_factaudit").toString + "/fact"
    val warehouse = (1 to 10).map(i =>
      (i.toLong, "p", day(f"2024-01-$i%02d"), i.toDouble))
      .toDF("event_id", "pname", "event_date", "v")
    graft.sources.Sinks.mergeFactByDate(spark, path, warehouse,
      Seq("event_id", "pname"), Seq("v"))
    val delta = Seq((3L, "p", day("2024-01-03"), 99.0),
      (42L, "q", day("2024-01-03"), 42.0))
      .toDF("event_id", "pname", "event_date", "v")
    val (merged, touched) = graft.sources.Sinks.factMergeFrames(
      spark, path, delta, Seq("event_id", "pname"), Seq("v"), "event_date")
    assert(touched == Seq(day("2024-01-03")))
    // sparkPlan, not executedPlan: AQE wraps the final plan and hides
    // the scan from a collect over the wrapper
    val scans = merged.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("fact")) => f
    }
    assert(scans.nonEmpty, merged.queryExecution.executedPlan.toString)
    // of the 10 stored date partitions, exactly the ONE touched date
    // survives the manifest
    scans.foreach { f =>
      assert(f.selectedPartitions.partitionCount == 1,
        s"expected 1 selected partition, saw ${f.selectedPartitions.partitionCount}")
      assert(f.metadata("PartitionFilters").contains("event_date"), f.metadata)
    }
  }
}

package graft

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: the full operator inventory of SURVEY.md §2, one
  * query per operator, each with a DuckDB oracle where SQL can express
  * the semantics. Column names and arithmetic are aligned with the
  * oracle per SURVEY §5 (exact DECIMAL money math cast to DOUBLE at the
  * end; 4-dp rounded cosines; BIGINT counts/ranks; total-order sorts).
  *
  * Each entry is one [[SparkEntry.Entry]] of the registry: a name that
  * no other entry uses, the query, and either the DuckDB oracle SQL its
  * result must match row for row or, when it has none, a property check
  * keyed by its name in `PROPERTY_CHECKS` of `tools/compare_oracle.py`.
  * `queries` and `oracleSql` are immutable hash maps derived from the
  * registry, so they iterate in an order fixed by their key sets alone,
  * not by where an entry sits in its list: the run order of Bench and
  * Verify and the bytes of Verify's `oracle_sql.json` move only when an
  * entry's name or oracle SQL does.
  */
object SparkEntry {

  /** One named entry: `run` builds its result from a session and an sf
    * directory; `oracle` is the DuckDB SQL that result must match row
    * for row, or None for an entry that `tools/compare_oracle.py`
    * checks by property instead.
    */
  final case class Entry(name: String, oracle: Option[String],
      run: (SparkSession, String) => DataFrame)

  object Entry {
    /** An oracle-checked entry: `Entry(name -> sql) { (s, dir) => ... }`. */
    def apply(named: (String, String))(run: (SparkSession, String) => DataFrame): Entry =
      Entry(named._1, Some(named._2), run)

    /** A property-checked entry: `Entry(name) { (s, dir) => ... }`. */
    def apply(name: String)(run: (SparkSession, String) => DataFrame): Entry =
      Entry(name, None, run)

    /** `entries` as given, or an IllegalArgumentException naming every
      * repeated name: a map built from them would keep the last entry
      * of each name and drop the others without a word.
      */
    def unique(entries: Seq[Entry]): Seq[Entry] = {
      val repeated = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
      if (repeated.nonEmpty)
        throw new IllegalArgumentException(
          s"repeated entry names: ${repeated.toSeq.sorted.mkString(", ")}")
      entries
    }
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") Tables.events(s, dir) else Tables.load(s, dir, name)

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Views.itemRankByPeriod(t(spark, dir, "events"), t(spark, dir, "part"))
      .orderBy(col("period_day"), col("item_view_rank"), col("item_name"))
  }

  // ---------------------------------------------------------------- ETL

  /** The spark.sql façade twins ([[graft.operators.SqlFacade]]): the
    * reference's views registered as TEMP VIEWS and served through the
    * SQL front door — gated against the SAME oracles as the DataFrame
    * twins above, proving the Catalyst plans are reachable from SQL.
    */
  private def sqlFacade(s: SparkSession, dir: String, view: String): DataFrame = {
    graft.operators.SqlFacade.registerViews(s,
      t(s, dir, "events"), t(s, dir, "part"))
    s.sql(s"SELECT * FROM $view")
  }

  private def etlEntries: Seq[Entry] = Seq(
    Entry("raw_ingest" ->
      """SELECT event_id, date_trunc('second', ts) AS event_time, user_id, event_type, value,
        | json_extract_string(props, '$.k')::BIGINT AS param_k,
        | row_number() OVER (ORDER BY event_id) AS guid_event_raw
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      StarSchema.rawIngest(t(s, dir, "events")).orderBy(col("event_id"))
    },

    Entry("d_event" ->
      """SELECT event_id, row_number() OVER (ORDER BY event_id) AS guid_event
        |FROM (SELECT DISTINCT event_id FROM events) ORDER BY event_id""".stripMargin) { (s, dir) =>
      StarSchema.dEvent(t(s, dir, "events")).orderBy(col("event_id"))
    },

    Entry("d_user" ->
      """SELECT user_id, row_number() OVER (ORDER BY user_id) AS guid_user
        |FROM (SELECT DISTINCT user_id FROM events) ORDER BY user_id""".stripMargin) { (s, dir) =>
      StarSchema.dUser(t(s, dir, "events")).orderBy(col("user_id"))
    },

    Entry("d_parameter" ->
      """SELECT parameter_name, row_number() OVER (ORDER BY parameter_name) AS guid_parameter
        |FROM (SELECT DISTINCT unnest(json_keys(props)) AS parameter_name FROM events)
        |ORDER BY parameter_name""".stripMargin) { (s, dir) =>
      StarSchema.dParameter(t(s, dir, "events")).orderBy(col("parameter_name"))
    },

    Entry("d_item" ->
      """SELECT p_partkey AS item_id, p_name AS item_name, p_brand AS item_brand,
        | p_type AS item_type, p_size AS item_size,
        | CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS item_price
        |FROM part ORDER BY item_id""".stripMargin) { (s, dir) =>
      StarSchema.dItem(t(s, dir, "part")).orderBy(col("item_id"))
    },

    Entry("f_events" ->
      """SELECT event_id, date_trunc('second', ts) AS event_time, user_id AS event_user_id,
        | event_type AS event_name, json_keys(props)[1] AS event_parameter_name,
        | json_extract_string(props, '$.k')::BIGINT AS event_parameter_value,
        | value AS event_value,
        | row_number() OVER (ORDER BY date_trunc('second', ts) DESC, event_id) AS guid_event
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      StarSchema.fEvents(t(s, dir, "events")).orderBy(col("event_id"))
    },

    // The reference's DELIVERABLE is the chained daily run (7 DAGs fired
    // in sequence via trigger_dependent_dag; aggregated_views.py:103-118
    // closes the chain). This entry runs the WHOLE chain TWICE into a
    // fresh temp warehouse — the second run must be a no-op on the
    // surrogate dims and an equal-value update on the fact — then gates
    // the warehouse content per table (counts, key cardinalities,
    // surrogate checksums, exact-decimal value checksums). A
    // stage-ordering break (f_events joins the MERGED d_event), a wrong
    // MERGE mode, or a non-idempotent re-run moves a number and fails
    // the hash; the per-stage entries (d_event, f_events, view_*) only
    // ever gate each stage in isolation.
    // chained-pipeline oracle: recompute the warehouse each stage
    // writes (after any number of idempotent runs from empty) straight
    // from the source tables — dense surrogate dims sum to n(n+1)/2,
    // the fact's guid sum goes THROUGH the event-dim numbering (rank
    // by event_id, same as the d_event oracle), and money sums stay
    // DECIMAL until the final cast.
    Entry("pipeline_daily" ->
      """WITH ev AS (SELECT * FROM events WHERE event_id IS NOT NULL),
        | de AS (SELECT DISTINCT event_id FROM ev),
        | du AS (SELECT DISTINCT user_id FROM ev),
        | dp AS (SELECT DISTINCT unnest(json_keys(props)) AS parameter_name FROM ev),
        | gde AS (SELECT event_id, row_number() OVER (ORDER BY event_id) AS guid FROM de),
        | fe AS (SELECT e.event_id, CAST(e.value AS DECIMAL(18,6)) AS ev_val, g.guid
        |   FROM ev e JOIN gde g USING (event_id)),
        | vf AS (SELECT CAST(ts AS DATE) AS period_day,
        |   json_extract_string(props, '$.k')::BIGINT AS item_key FROM ev
        |   WHERE event_type = 'view'),
        | vj AS (SELECT vf.period_day, d.p_name AS item_name
        |   FROM vf JOIN part d ON vf.item_key = d.p_partkey),
        | v1 AS (SELECT period_day, count(*)::BIGINT AS item_views FROM vj GROUP BY 1),
        | ic AS (SELECT period_day, item_name, count(*)::BIGINT AS item_views
        |   FROM vj GROUP BY 1, 2),
        | v2 AS (SELECT ic.*, dense_rank() OVER (PARTITION BY period_day
        |     ORDER BY item_views DESC)::BIGINT AS item_view_rank FROM ic),
        | v3 AS (SELECT * FROM ic WHERE period_day = (SELECT max(period_day) FROM ic)
        |   ORDER BY item_views DESC, item_name LIMIT 1)
        |SELECT * FROM (
        | SELECT 'event_raw' AS tbl, count(*)::BIGINT AS n_rows,
        |   count(DISTINCT event_id)::BIGINT AS n_keys,
        |   ((count(*)::BIGINT * (count(*)::BIGINT + 1)) // 2)::BIGINT AS key_sum,
        |   round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS val_sum FROM ev
        | UNION ALL
        | SELECT 'd_event', count(*)::BIGINT, count(*)::BIGINT,
        |   ((count(*)::BIGINT * (count(*)::BIGINT + 1)) // 2)::BIGINT, 0.0::DOUBLE FROM de
        | UNION ALL
        | SELECT 'd_user', count(*)::BIGINT, count(*)::BIGINT,
        |   ((count(*)::BIGINT * (count(*)::BIGINT + 1)) // 2)::BIGINT, 0.0::DOUBLE FROM du
        | UNION ALL
        | SELECT 'd_parameter', count(*)::BIGINT, count(*)::BIGINT,
        |   ((count(*)::BIGINT * (count(*)::BIGINT + 1)) // 2)::BIGINT, 0.0::DOUBLE FROM dp
        | UNION ALL
        | SELECT 'd_item', count(*)::BIGINT, count(DISTINCT p_partkey)::BIGINT,
        |   sum(p_partkey)::BIGINT,
        |   round(CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DECIMAL(18,2))) AS DOUBLE), 4)
        |   FROM part
        | UNION ALL
        | SELECT 'f_events', count(*)::BIGINT, count(DISTINCT event_id)::BIGINT,
        |   sum(guid)::BIGINT, round(CAST(sum(ev_val) AS DOUBLE), 4) FROM fe
        | UNION ALL
        | SELECT 'view_item_rank', count(*)::BIGINT, count(DISTINCT item_name)::BIGINT,
        |   sum(item_views * item_view_rank)::BIGINT, 0.0::DOUBLE FROM v2
        | UNION ALL
        | SELECT 'view_top_item', count(*)::BIGINT, count(DISTINCT item_name)::BIGINT,
        |   sum(item_views)::BIGINT, 0.0::DOUBLE FROM v3
        | UNION ALL
        | SELECT 'view_top_platform', count(*)::BIGINT, count(DISTINCT period_day)::BIGINT,
        |   sum(item_views)::BIGINT, 0.0::DOUBLE FROM v1
        | UNION ALL
        | SELECT 'view_yearly_counts', count(*)::BIGINT, count(DISTINCT period_day)::BIGINT,
        |   sum(item_views)::BIGINT, 0.0::DOUBLE FROM v1
        |) ORDER BY tbl""".stripMargin) { (s, dir) =>
      val wh = graft.sources.StorePaths.keyedTmp("wh", dir)
      graft.sources.StorePaths.wipe(s, wh) // gate from EMPTY, always
      graft.Pipeline.runDaily(s, dir, wh)
      graft.Pipeline.runDaily(s, dir, wh) // idempotency is part of the gate
      graft.Pipeline.warehouseSummary(s, wh).orderBy(col("tbl"))
    },

    // The LATE-DATA story for the reference surface: the day's events
    // land in two loads — the on-time 80%, then a LATE drop whose every
    // event_time precedes the already-loaded maximum (event_id % 5 == 0;
    // the global max-ts event sits in residue 4, spec-asserted). The
    // engine must prove idempotent late-merge: after both loads the
    // MERGE tables (surrogate dims, SCD-1 item dim, the fact table)
    // equal the single-full-load warehouse value-for-value — a late
    // event upserts, it is never dropped, duplicated, or renumbered —
    // while the raw/view overwrite layer reflects the LAST drop only
    // (the reference's documented latest-drop-wins daily semantics,
    // which would silently lose the on-time day; the summary exposes
    // both behaviors side by side). Dense surrogate sums are
    // split-invariant (1..n regardless of arrival order), so the oracle
    // is the single-load replay with raw/views pointed at the late
    // slice.
    // pipeline_late: the single-load replay with the OVERWRITE layers
    // (raw + views) pointed at the LATE slice only — merge tables are
    // split-invariant (dense surrogate sums are 1..n regardless of
    // arrival order), the latest-drop-wins layers are not, and the
    // summary pins both behaviors
    Entry("pipeline_late" -> pipelineLateOracle) { (s, dir) =>
      val wh = graft.sources.StorePaths.keyedTmp("whlate", dir)
      graft.sources.StorePaths.wipe(s, wh) // gate from EMPTY, always
      val ev = graft.sources.Tables.events(s, dir)
      val part = graft.sources.Tables.part(s, dir)
      graft.Pipeline.runDailyLoad(s, ev.filter(col("event_id") % 5 =!= 0),
        part, wh)
      graft.Pipeline.runDailyLoad(s, ev.filter(col("event_id") % 5 === 0),
        part, wh)
      graft.Pipeline.warehouseSummary(s, wh).orderBy(col("tbl"))
    },

    // The STREAMED twin of `pipeline_late`
    // ([[graft.streaming.StreamReplay.replayLateEventDrops]]): the
    // on-time and late drops arrive as a real file stream, each
    // micro-batch runs the daily chain over its drop into one shared
    // warehouse, and the final summary must equal the batch late-load
    // gate — same oracle.
    // the STREAMED late load must land the identical warehouse — the
    // same oracle gates the foreachBatch merge path
    Entry("stream_late_events" -> pipelineLateOracle) { (s, dir) =>
      graft.streaming.StreamReplay.replayLateEventDrops(s, dir)
        .orderBy(col("tbl"))
    },

    // The CHAINED corpus-curation pipeline ([[graft.CorpusPipeline]]):
    // quality gate → exact dedup → near-dup keep-BEST canonicalization
    // (the `dedup_keep_best` cluster-argmax rule) → split → pack,
    // every stage a materialized table read by the next; the gate
    // checks the per-stage survivor counts / id checksums / token
    // totals, which only come out right if the whole chain composed
    // correctly. The oracle replays all five laws as one CTE chain.
    Entry("pipeline_corpus" -> pipelineCorpusOracle) { (s, dir) =>
      val wh = graft.sources.StorePaths.keyedTmp("corpus", dir)
      graft.sources.StorePaths.wipe(s, wh) // gate from EMPTY, always
      graft.CorpusPipeline.runCuration(s, dir, wh)
      graft.CorpusPipeline.curationSummary(s, wh).orderBy(col("stage"))
    },

    Entry("merge_upsert" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |   CAST(o_orderdate AS DATE) AS o_orderdate FROM orders WHERE o_orderkey % 2 = 0),
        | s AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
        |   CAST(o_orderdate AS DATE) AS o_orderdate FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        | COALESCE(t.o_custkey, s.o_custkey) AS o_custkey,
        | COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
        | COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
        | COALESCE(t.o_orderdate, s.o_orderdate) AS o_orderdate
        |FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"))
      val target = o.filter(col("o_orderkey") % 2 === 0)
      val delta = o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      MergeInto.upsert(target, delta, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice"), broadcastDelta = true)
        .orderBy(col("o_orderkey"))
    },

    // Three-clause MERGE ([[MergeInto.syncDelete]]): matched rows
    // updated, new delta keys inserted, target rows absent from the
    // delta DELETED (WHEN NOT MATCHED BY SOURCE) — the snapshot-sync /
    // retraction-capable load the reference's two astro-sdk modes lack.
    // three-clause MERGE: the result is exactly the delta's key set —
    // matched keys carry the target's non-update columns, inserts
    // carry the delta's; unmatched target rows are deleted
    Entry("merge_delete" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |   CAST(o_orderdate AS DATE) AS o_orderdate FROM orders WHERE o_orderkey % 2 = 0),
        | s AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
        |   CAST(o_orderdate AS DATE) AS o_orderdate FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT s.o_orderkey,
        | COALESCE(t.o_custkey, s.o_custkey) AS o_custkey,
        | s.o_orderstatus,
        | s.o_totalprice,
        | COALESCE(t.o_orderdate, s.o_orderdate) AS o_orderdate
        |FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
        |ORDER BY s.o_orderkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"))
      val target = o.filter(col("o_orderkey") % 2 === 0)
      val delta = o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      MergeInto.syncDelete(target, delta, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice"), broadcastDelta = true)
        .orderBy(col("o_orderkey"))
    },

    Entry("merge_ignore" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, 'NEW_' || c_custkey AS c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 2 <> 0
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val target = c.filter(col("c_custkey") % 2 === 0)
      val delta = c.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_name", concat(lit("NEW_"), col("c_custkey")))
      MergeInto.insertIfAbsent(target, delta, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    },

    Entry("view_yearly_counts" -> viewYearlyOracle) { (s, dir) =>
      Views.yearlyCounts(t(s, dir, "events"), t(s, dir, "part"))
        .orderBy(col("period_day"))
    },

    Entry("view_item_rank_by_year" -> viewItemRankOracle) { (s, dir) =>
      Views.itemRankByPeriod(t(s, dir, "events"), t(s, dir, "part"))
        .orderBy(col("period_day"), col("item_view_rank"), col("item_name"))
    },

    Entry("view_top_item_recent_year" -> viewTopItemOracle) { (s, dir) =>
      Views.topItemRecentPeriod(t(s, dir, "events"), t(s, dir, "part"))
    },

    Entry("view_top_platform_by_year" -> viewTopPlatformOracle) { (s, dir) =>
      Views.topPlatformByPeriod(t(s, dir, "events"), t(s, dir, "part"))
        .orderBy(col("period_day"), col("platform"))
    },

    // the spark.sql façade twins share the DataFrame twins' oracles
    // VERBATIM — one ground truth, two front doors
    Entry("sql_view_yearly_counts" -> viewYearlyOracle) { (s, dir) =>
      sqlFacade(s, dir, "yearly_item_view_count").orderBy(col("period_day"))
    },

    Entry("sql_view_item_rank_by_year" -> viewItemRankOracle) { (s, dir) =>
      sqlFacade(s, dir, "item_view_based_on_particular_year")
        .orderBy(col("period_day"), col("item_view_rank"), col("item_name"))
    },

    Entry("sql_view_top_item_recent_year" -> viewTopItemOracle) { (s, dir) =>
      sqlFacade(s, dir, "most_viewed_item_based_on_most_recent_year")
    },

    Entry("sql_view_top_platform_by_year" -> viewTopPlatformOracle) { (s, dir) =>
      sqlFacade(s, dir, "most_used_platform_in_particular_year")
        .orderBy(col("period_day"), col("platform"))
    }
  )

  // --------------------------------------------------------- relational

  /** Weak labels for the classifier family: the Gopher rule gate's keep
    * flag — the CCNet pattern of distilling a high-precision heuristic
    * into a statistical model that generalizes it.
    */
  private def clfLabels(docs: DataFrame): DataFrame =
    CorpusStats.gopherQuality(docs)
      .select(col("doc_id"), col("keep").as("label"))

  private def relationalEntries: Seq[Entry] = Seq(
    Entry("q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        | CAST(sum(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Relational.pricingSummary(t(s, dir, "lineitem"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    Entry("q3_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND CAST(o_orderdate AS DATE) < DATE '1998-01-01' AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      Relational.shippingPriority(t(s, dir, "customer"), t(s, dir, "orders"),
        t(s, dir, "lineitem"))
    },

    Entry("q_window_running" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS DOUBLE) AS running_total,
        | CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS INT) AS order_seq
        |FROM orders ORDER BY o_custkey, order_seq""".stripMargin) { (s, dir) =>
      Relational.runningTotals(t(s, dir, "orders"))
        .orderBy(col("o_custkey"), col("order_seq"))
    },

    Entry("q_event_hourly" -> eventHourlyOracle) { (s, dir) =>
      Relational.hourlyEventAgg(t(s, dir, "events"))
        .orderBy(col("hour_start"), col("event_type"))
    },

    Entry("q_event_sessionize" -> eventSessionizeOracle) { (s, dir) =>
      Relational.sessionize(t(s, dir, "events"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Streaming-equivalence gate: the batch hourly aggregation fed by a
    // REAL file stream (readStream + AvailableNow into a memory sink).
    // Shares q_event_hourly's oracle — the continuous path must land on
    // the exact batch answer.
    // the stream_* twins are the SAME transforms fed by a file stream:
    // batch-equivalence means the batch oracle checks them unchanged
    Entry("stream_event_hourly" -> eventHourlyOracle) { (s, dir) =>
      graft.streaming.StreamReplay
        .replayEvents(s, dir, Relational.hourlyEventAgg)
        .orderBy(col("hour_start"), col("event_type"))
    },

    // Streaming-equivalence gate for session windows (same oracle as
    // q_event_sessionize).
    Entry("stream_event_sessionize" -> eventSessionizeOracle) { (s, dir) =>
      graft.streaming.StreamReplay
        .replayEvents(s, dir, Relational.sessionize(_))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Streaming-equivalence gate for the STREAM-STREAM interval join:
    // views and purchases split from one replayed file stream, joined
    // by [[graft.streaming.EventStream.purchaseAttribution]] (append
    // mode — inner interval joins emit as they match; the watermarks
    // exist to bound join state). The oracle is the plain SQL interval
    // self-join — the continuous path must land on the exact batch
    // answer.
    // stream-stream interval join ≡ the batch interval self-join
    Entry("stream_attribution" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
        | p.user_id, p.ts AS purchase_ts, v.ts AS view_ts
        |FROM events p JOIN events v
        | ON v.user_id = p.user_id AND v.ts < p.ts
        |  AND v.ts >= p.ts - INTERVAL 1 HOUR
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |ORDER BY purchase_id, view_id""".stripMargin) { (s, dir) =>
      graft.streaming.StreamReplay.replayEvents(s, dir,
        ev => graft.streaming.EventStream.purchaseAttribution(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase")),
        watermark = null,
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("purchase_id"), col("view_id"))
    },

    // Streaming-equivalence gate for SCD2 maintenance: the same two
    // snapshot loads as `scd2_history`, but delivered as a FILE STREAM
    // through [[graft.streaming.DimFeed.scd2Sink]] (one micro-batch
    // per load) — the maintained history must match the batch oracle
    // value-for-value.
    // the streamed sink must land on the same history — same oracle
    Entry("stream_scd2" -> scd2HistorySql) { (s, dir) =>
      val part = t(s, dir, "part")
      val bumped = part.withColumn("p_retailprice",
        when(col("p_partkey") % 10 === 0, col("p_retailprice") * 1.1)
          .otherwise(col("p_retailprice")))
      val fresh = part.filter(col("p_partkey") % 97 === 0)
        .withColumn("p_partkey", col("p_partkey") + 1000000L)
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val work = s"${sys.props("java.io.tmpdir")}/graft_sscd2_$key"
      graft.streaming.DimFeed.replayScd2(s,
        Seq((part, "2024-01-01"), (bumped.unionByName(fresh), "2024-02-01")),
        Seq("p_partkey"),
        Seq("p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
        work)
        .orderBy(col("p_partkey"), col("effective_from"))
    },

    // Streaming-equivalence gate for incremental aggregate maintenance:
    // the same three drops as `q_incr_agg`, delivered as a FILE STREAM
    // through the exactly-once [[graft.streaming.IncrFeed.incrAggSink]]
    // (one micro-batch per drop, batch marker swapped atomically with
    // the table) — the maintained table must equal the one-shot
    // aggregate value-for-value.
    // the streamed fold must land on the same table — same oracle
    Entry("stream_incr_agg" -> incrAggSql) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          col("ts").cast("date").as("day"), col("value"))
      val drops = (0 until 3).map(i =>
        ev.filter(col("event_id") % 3 === i).drop("event_id"))
      val spec = IncrementalAgg.Spec(sums = Seq("value"),
        mins = Seq("value"), maxs = Seq("value"))
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val work = s"${sys.props("java.io.tmpdir")}/graft_sincr_$key"
      graft.streaming.IncrFeed
        .replayIncrAgg(s, drops, Seq("event_type", "day"), spec, work)
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy(col("event_type"), col("day"))
    },

    // Exactly-once ingest gate: the events table delivered TWICE as an
    // at-least-once file stream through
    // `dropDuplicatesWithinWatermark(event_id)` — the sink must hold
    // exactly one copy of the batch table (oracle = the plain table).
    // stream_dedup: the redelivered stream must collapse to exactly the
    // batch table — the oracle IS the plain table
    Entry("stream_dedup" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      graft.streaming.StreamReplay
        .replayRedelivered(s, dir, Seq("event_id"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id"))
    },

    // The amortized twin of `stream_dedup`: same redelivered corpus,
    // same exactly-once answer, but 8 files per trigger — the
    // production dial that proves micro-batch GRANULARITY (state-store
    // commits per batch), not data volume, drives the fine-grained
    // gate's cost. Both entries share one oracle: the plain table.
    // the amortized twin must land on the identical table — only the
    // micro-batch granularity differs
    Entry("stream_dedup_amortized" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      graft.streaming.StreamReplay
        .replayRedelivered(s, dir, Seq("event_id"), maxFilesPerTrigger = 8)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id"))
    },

    // STREAMING incremental near-dup: two doc drops stream through
    // [[graft.streaming.StreamReplay.replayNearDupDrops]] — each
    // micro-batch queries the persisted MinHash band index for its
    // near-dups, then appends itself so the next drop indexes against
    // it. Cross-drop pairs land exactly once, on the LATER drop's row
    // (the arrival-order law the oracle replays on the full-corpus
    // batch candidates).
    Entry("stream_neardup" -> streamNearDupOracle) { (s, dir) =>
      graft.streaming.StreamReplay.replayNearDupDrops(s, dir)
        .orderBy(col("doc_id"))
    },

    // STREAMED semantic ingest: by the arrival-order law the union of
    // per-batch sinks equals the batch delta answer over BOTH drops —
    // same replay as dedup_semantic_incremental with the corpus
    // shrunk to the non-drop residues and the drop set widened
    Entry("stream_semantic" ->
      (s"WITH ${kmeansCtes(8, 3, " AND vec_id % 10 <> 0 AND vec_id % 10 <> 5")},\n" +
        """ lab AS (SELECT e.vec_id, e.embedding, a3.cluster AS cell
          |  FROM embeddings e JOIN a3 USING (vec_id)),
          | tc0 AS (
          |  SELECT cell, i, round(sum(v::DOUBLE) / count(*), 6) AS cv
          |  FROM (SELECT cell, generate_subscripts(embedding, 1) AS i,
          |        unnest(embedding) AS v FROM lab)
          |  GROUP BY cell, i),
          | tcents AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM tc0 GROUP BY cell),
          | dpts AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS x,
          |   list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS xx
          |  FROM embeddings WHERE embedding IS NOT NULL
          |   AND (vec_id % 10 = 0 OR vec_id % 10 = 5)),
          | dlab AS (SELECT vec_id, cell FROM (
          |   SELECT d.vec_id, c.cell,
          |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
          |      round(d.xx - 2.0 * list_dot_product(d.x, c.cvec)
          |        + list_dot_product(c.cvec, c.cvec), 4), c.cell) AS rn
          |   FROM dpts d, tcents c) WHERE rn = 1),
          | cand AS (
          |  SELECT least(l.vec_id, d.vec_id) AS a_id,
          |         greatest(l.vec_id, d.vec_id) AS b_id
          |  FROM dlab d JOIN lab l ON l.cell = d.cell AND l.vec_id <> d.vec_id
          |  UNION
          |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
          |  FROM dlab a JOIN dlab b ON a.cell = b.cell AND a.vec_id < b.vec_id)
          |SELECT c.a_id, c.b_id,
          | round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cosine
          |FROM cand c JOIN embeddings ea ON ea.vec_id = c.a_id
          |JOIN embeddings eb ON eb.vec_id = c.b_id
          |WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) >= 0.35
          |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      graft.streaming.StreamReplay.replaySemanticDrops(s, dir)
        .orderBy(col("a_id"), col("b_id"))
    },

    // watermark drop accounting: batch-0 rows always survive; a
    // straggler (batch-1) row survives iff its hour's END is still
    // ahead of the watermark the on-time bulk established
    // (max(batch-0 ts) − 1 h) — the exact Append-mode finalization law
    Entry("stream_watermark_audit" ->
      """WITH b AS (SELECT ts, value,
        |   CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS b
        |  FROM events),
        | wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm1 FROM b WHERE b = 0),
        | keep AS (SELECT ts, value FROM b, wm
        |  WHERE b = 0
        |   OR time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR > wm.wm1)
        |SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
        | time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
        | count(*)::BIGINT AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM keep GROUP BY 1, 2 ORDER BY window_start""".stripMargin) { (s, dir) =>
      graft.streaming.StreamReplay.replayWatermarkAudit(s, dir)
        .orderBy(col("window_start"))
    },

    // Dominant principal component of the embedding corpus: 3 unrolled
    // power-iteration rounds on the exact-rounded centered Gram matrix,
    // per-vector component scores + the eigenvalue-scale estimate.
    Entry("emb_pca" -> pcaOracle) { (s, dir) =>
      Pca.topComponent(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    },

    Entry("emb_pca_topk" -> pca2Oracle) { (s, dir) =>
      Pca.topComponents2(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    },

    // embedding-space outlier curation gate: distance-to-own-centroid
    // beyond mean + 2σ per label — flags 9/500 at gate SF, nearest
    // distance ~1e-3 off the threshold (no boundary flips)
    // emb_outliers: centroids, ordered per-row distance folds, and the
    // mean+2σ threshold law all replayed at the operator's 6-dp grid
    Entry("emb_outliers" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
        |   unnest(embedding)::DOUBLE AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        | c AS MATERIALIZED (
        |  SELECT label, i, round(sum(v) / count(*), 6) AS cv
        |  FROM e GROUP BY label, i),
        | d AS MATERIALIZED (
        |  SELECT e.vec_id, e.label,
        |   round(sum((e.v - c.cv) * (e.v - c.cv)), 6) AS dist2
        |  FROM e JOIN c ON e.label = c.label AND e.i = c.i
        |  GROUP BY e.vec_id, e.label),
        | st AS (
        |  SELECT label, round(sum(dist2) / count(*), 6) AS mean_dist2,
        |   round(sum(dist2 * dist2) / count(*), 6) AS ex2
        |  FROM d GROUP BY label),
        | th AS (
        |  SELECT label, mean_dist2,
        |   round(mean_dist2 + 2 * sqrt(greatest(
        |     ex2 - mean_dist2 * mean_dist2, 0)), 6) AS thresh
        |  FROM st)
        |SELECT d.vec_id, d.label, d.dist2, th.mean_dist2, th.thresh,
        | d.dist2 > th.thresh AS is_outlier
        |FROM d JOIN th USING (label) ORDER BY d.vec_id""".stripMargin) { (s, dir) =>
      Similarity.embeddingOutliers(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    },

    // PCA LIFECYCLE, rollover: the persisted raw moments (GramStore)
    // fold a 20% drop in as an O(d²) delta; the served component over
    // the union must match the moment-law oracle over the same corpus
    Entry("emb_pca_incremental" -> pcaMomentOracleSql("")) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val drop = emb.filter(col("vec_id") % 5 === 0)
      val path = graft.sources.GramStore.defaultPath(dir, "roll")
      graft.sources.GramStore.ensureRolled(base, drop, path)
      val (n, sv, ss) = graft.sources.GramStore.moments(s, path)
      Pca.fromMoments(emb, n, sv, ss).orderBy(col("vec_id"))
    },

    // PCA LIFECYCLE, retraction: a takedown slice leaves as NEGATED
    // moments; the served component must match the oracle over survivors
    Entry("emb_pca_delete" -> pcaMomentOracleSql("AND vec_id % 7 <> 3")) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val removed = emb.filter(col("vec_id") % 7 === 3)
      val path = graft.sources.GramStore.defaultPath(dir, "del")
      graft.sources.GramStore.ensureDeleted(emb, removed, path)
      val (n, sv, ss) = graft.sources.GramStore.moments(s, path)
      Pca.fromMoments(emb.filter(col("vec_id") % 7 =!= 3), n, sv, ss)
        .orderBy(col("vec_id"))
    },

    // PCA-STORE MONITORING, the measure face: per-dim drift of a fresh
    // drop's mean against the REFERENCE mean served from the same rolled
    // moment store the lifecycle maintains — the reference corpus is
    // never rescanned; the label-3 slice visibly drifts on some dims
    // and not others at gate SF (threshold 0.01 splits 40/24)
    // emb_drift: reference means replayed from raw sums over the whole
    // corpus (the rolled store's content), current means fresh over the
    // label-3 slice, 6-dp shift, threshold 0.01 (nearest shift sits
    // 1.1e-4 away — no boundary flips); dim_idx is 0-based like
    // posexplode, cast to INTEGER to match the Spark int
    Entry("emb_drift" ->
      """WITH e AS MATERIALIZED (
        |  SELECT label, generate_subscripts(embedding, 1) AS i,
        |   unnest(embedding)::DOUBLE AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        | ref AS (SELECT i, round(sum(v) / count(*), 6) AS mean_ref
        |  FROM e GROUP BY i),
        | cur AS (SELECT i, round(sum(v) / count(*), 6) AS mean_cur
        |  FROM e WHERE label = 3 GROUP BY i)
        |SELECT (ref.i - 1)::INTEGER AS dim_idx, mean_ref, mean_cur,
        | round(abs(mean_cur - mean_ref), 6) AS abs_shift,
        | CASE WHEN mean_cur IS NULL THEN true
        |  ELSE round(abs(mean_cur - mean_ref), 6) > 0.01 END AS drifted
        |FROM ref LEFT JOIN cur ON ref.i = cur.i
        |ORDER BY dim_idx""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val drop = emb.filter(col("vec_id") % 5 === 0)
      val path = graft.sources.GramStore.defaultPath(dir, "roll")
      graft.sources.GramStore.ensureRolled(base, drop, path)
      val (n, sv, _) = graft.sources.GramStore.moments(s, path)
      Pca.driftAgainstMoments(emb.filter(col("label") === 3), n, sv,
        threshold = 0.01).orderBy(col("dim_idx"))
    },

    // Perceptual-style near-dup FRAME pairs across media assets:
    // integer block-hash signatures per sampled frame, 4×16-bit banded
    // candidate join, Hamming verify ≤ 3 (banding lossless at that
    // radius — the oracle's all-pairs answer must match exactly).
    // mm_phash: all-pairs ground truth — the banded Spark path must
    // land on it exactly (pigeonhole lossless at Hamming <= 3). The
    // corpus is ASCII, so char positions/codes equal byte
    // offsets/values and substr replays the frame windows.
    Entry("mm_phash" ->
      (s"WITH $mmBitsCtes\n" +
      """SELECT doc_a, doc_b, frame_idx, hamming FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.frame_idx,
        |   (bit_count(xor(a.sig_lo, b.sig_lo))
        |    + bit_count(xor(a.sig_hi, b.sig_hi)))::INT AS hamming
        |  FROM bits a JOIN bits b
        |    ON a.doc_id < b.doc_id AND a.frame_idx = b.frame_idx)
        |WHERE hamming <= 3
        |ORDER BY doc_a, doc_b, frame_idx""".stripMargin)) { (s, dir) =>
      Multimodal.nearDupFrames(Multimodal.asMedia(t(s, dir, "documents")))
        .orderBy(col("doc_a"), col("doc_b"), col("frame_idx"))
    },

    // The BOUNDED rep-grain serving form of `mm_phash`
    // ([[Multimodal.nearDupFrameReps]]): one row per distinct-asset
    // pair × shared frame plus twin-group sizes — what a consumer reads
    // at replica density, where the pair-grain answer is measured
    // quadratic (7.06G rows at ~sf100). Oracle: the all-pairs replay
    // collapsed by the member→rep map (min doc_id per identical text —
    // media bytes are UTF-8 of the text, so content groups ≡ text
    // groups), with the group sizes joined back on.
    // mm_phash_reps: the rep-grain serving form — the SAME all-pairs
    // ground truth as mm_phash, collapsed by the member→rep map
    // (media bytes are UTF-8 of the text, so content twin groups are
    // exactly text twin groups; rep = min doc_id per distinct text)
    // and re-keyed least/greatest at rep grain, with both groups'
    // sizes joined on. Identical-content pairs collapse to the
    // rep_a = rep_b self row at hamming 0.
    Entry("mm_phash_reps" ->
      (s"WITH $mmBitsCtes,\n" +
      """ grp AS (SELECT text, min(doc_id) AS rep, count(*)::BIGINT AS n_copies
        |   FROM documents GROUP BY text),
        | m AS (SELECT d.doc_id, g.rep
        |   FROM documents d JOIN grp g ON d.text = g.text),
        | ap AS (SELECT doc_a, doc_b, frame_idx, hamming FROM (
        |   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.frame_idx,
        |    (bit_count(xor(a.sig_lo, b.sig_lo))
        |     + bit_count(xor(a.sig_hi, b.sig_hi)))::INT AS hamming
        |   FROM bits a JOIN bits b
        |     ON a.doc_id < b.doc_id AND a.frame_idx = b.frame_idx)
        |  WHERE hamming <= 3),
        | rp AS (SELECT DISTINCT least(ma.rep, mb.rep) AS rep_a,
        |    greatest(ma.rep, mb.rep) AS rep_b, frame_idx, hamming
        |   FROM ap JOIN m ma ON ap.doc_a = ma.doc_id
        |        JOIN m mb ON ap.doc_b = mb.doc_id)
        |SELECT rep_a, rep_b, frame_idx, hamming,
        | ga.n_copies AS n_a, gb.n_copies AS n_b
        |FROM rp JOIN grp ga ON rp.rep_a = ga.rep
        |     JOIN grp gb ON rp.rep_b = gb.rep
        |ORDER BY rep_a, rep_b, frame_idx""".stripMargin)) { (s, dir) =>
      Multimodal.nearDupFrameReps(Multimodal.asMedia(t(s, dir, "documents")))
        .orderBy(col("rep_a"), col("rep_b"), col("frame_idx"))
    },

    // Incremental MULTIMODAL near-dup: a new asset drop's frames signed
    // once and joined against the persisted frame-signature band index
    // ([[graft.sources.FrameSigIndexStore]]) — the corpus media is
    // never re-decoded or re-signed. Completes the index lifecycle for
    // the last near-dup family (text-minhash / embedding-LSH / IVF-PQ /
    // NOW frames): build / append / tombstone delete / compact, all
    // lease-guarded. Oracle: the batch all-pairs replay filtered to
    // pairs that touch the drop (candidate sets are identical by
    // construction — pigeonhole-lossless banding at Hamming ≤ 3).
    // mm_phash_incremental: the same all-pairs ground truth filtered
    // to pairs that touch the doc_id % 10 == 0 drop — exactly the
    // delta×stored ∪ delta-internal candidate set the index serves
    Entry("mm_phash_incremental" ->
      (s"WITH $mmBitsCtes\n" +
      """SELECT doc_a, doc_b, frame_idx, hamming FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.frame_idx,
        |   (bit_count(xor(a.sig_lo, b.sig_lo))
        |    + bit_count(xor(a.sig_hi, b.sig_hi)))::INT AS hamming
        |  FROM bits a JOIN bits b
        |    ON a.doc_id < b.doc_id AND a.frame_idx = b.frame_idx)
        |WHERE hamming <= 3 AND (doc_a % 10 = 0 OR doc_b % 10 = 0)
        |ORDER BY doc_a, doc_b, frame_idx""".stripMargin)) { (s, dir) =>
      import graft.sources.FrameSigIndexStore
      val docs = t(s, dir, "documents")
      val base = Multimodal.asMedia(docs.filter(col("doc_id") % 10 =!= 0))
      val drop = Multimodal.asMedia(docs.filter(col("doc_id") % 10 === 0))
      val path = FrameSigIndexStore.defaultPath(dir)
      FrameSigIndexStore.ensure(base, path)
      FrameSigIndexStore.deltaPairs(drop,
          FrameSigIndexStore.bandsTable(s, path))
        .orderBy(col("doc_a"), col("doc_b"), col("frame_idx"))
    },

    // STREAMED frame-sig ingest under the gate
    // ([[graft.streaming.StreamReplay.replayMmPhashDrops]]): two asset
    // drops arrive as a real file stream, each signs only itself
    // against the stored band index and folds itself in batch-id-keyed;
    // the union of per-batch pair sets must equal the batch all-pairs
    // ground truth restricted to pairs touching any drop (cross-drop
    // pairs land once, on the later drop's batch — the `stream_neardup`
    // arrival-order law applied to the multimodal family).
    // stream_mm_phash: the streamed two-drop ingest — the same ground
    // truth widened to pairs touching EITHER drop (doc_id % 10 in
    // {5, 0}); each pair lands exactly once across the micro-batches
    // (cross-drop pairs on the later drop's batch)
    Entry("stream_mm_phash" ->
      (s"WITH $mmBitsCtes\n" +
      """SELECT doc_a, doc_b, frame_idx, hamming FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.frame_idx,
        |   (bit_count(xor(a.sig_lo, b.sig_lo))
        |    + bit_count(xor(a.sig_hi, b.sig_hi)))::INT AS hamming
        |  FROM bits a JOIN bits b
        |    ON a.doc_id < b.doc_id AND a.frame_idx = b.frame_idx)
        |WHERE hamming <= 3 AND (doc_a % 10 = 0 OR doc_b % 10 = 0
        |  OR doc_a % 10 = 5 OR doc_b % 10 = 5)
        |ORDER BY doc_a, doc_b, frame_idx""".stripMargin)) { (s, dir) =>
      graft.streaming.StreamReplay.replayMmPhashDrops(s, dir)
        .orderBy(col("doc_a"), col("doc_b"), col("frame_idx"))
    },

    // The REP-GRAIN streamed frame-sig ingest
    // ([[graft.streaming.StreamReplay.replayMmPhashRepDrops]]) — the
    // bounded serving form of `stream_mm_phash`, closing the last
    // pair-grain-at-replica-density answer in the family (the r15
    // close measured its sink at 1.45G rows at ~sf100): both the
    // stored index and every micro-batch sink row stay at
    // distinct-asset grain, `(rep_a, rep_b, frame_idx, hamming, n_a,
    // n_b)`, under the same arrival-order law. Oracle: the
    // `mm_phash_reps` expansion law widened to the cross-drop classes
    // — per-class rep election (base / drop0 / drop1), every rep pair
    // except stored-internal, plus the hamming-0 self rows of each
    // drop's twin groups.
    // stream_mm_phash_reps: the rep-grain streamed ingest — per-class
    // rep election (cls 0 = stored base %10 NOT IN (0,5); cls 1 =
    // drop 0 (%10=5); cls 2 = drop 1 (%10=0); the residue id spaces
    // are disjoint, so each doc has exactly one class and each rep id
    // one size). The union of micro-batch sinks = every rep-pair row
    // EXCEPT stored-internal (cls 0 × cls 0 never touches a drop),
    // plus each drop's hamming-0 self rows (twin groups n >= 2, one
    // row per frame). Banding is pigeonhole-lossless at Hamming <= 3,
    // so the band join equals this all-rep-pairs replay exactly.
    Entry("stream_mm_phash_reps" ->
      (s"WITH $mmBitsCtes,\n" +
      """ cls AS (SELECT doc_id, text,
        |   CASE WHEN doc_id % 10 = 5 THEN 1
        |        WHEN doc_id % 10 = 0 THEN 2 ELSE 0 END AS c
        |  FROM documents),
        | reps AS (SELECT c, min(doc_id) AS rep, count(*)::BIGINT AS n
        |  FROM cls GROUP BY c, text),
        | rbits AS (SELECT b.doc_id, b.frame_idx, b.sig_lo, b.sig_hi,
        |   r.c, r.n
        |  FROM bits b JOIN reps r ON b.doc_id = r.rep),
        | hp AS (SELECT x.doc_id AS rep_a, y.doc_id AS rep_b,
        |   x.frame_idx,
        |   (bit_count(xor(x.sig_lo, y.sig_lo))
        |    + bit_count(xor(x.sig_hi, y.sig_hi)))::INT AS hamming,
        |   x.n AS n_a, y.n AS n_b, x.c AS ca, y.c AS cb
        |  FROM rbits x JOIN rbits y
        |    ON x.frame_idx = y.frame_idx AND x.doc_id < y.doc_id)
        |SELECT rep_a, rep_b, frame_idx, hamming, n_a, n_b FROM (
        |  SELECT rep_a, rep_b, frame_idx, hamming, n_a, n_b
        |  FROM hp WHERE hamming <= 3 AND NOT (ca = 0 AND cb = 0)
        |  UNION ALL
        |  SELECT r.rep, r.rep, b.frame_idx, 0::INT, r.n, r.n
        |  FROM reps r JOIN bits b ON b.doc_id = r.rep
        |  WHERE r.c IN (1, 2) AND r.n >= 2)
        |ORDER BY rep_a, rep_b, frame_idx""".stripMargin)) { (s, dir) =>
      graft.streaming.StreamReplay.replayMmPhashRepDrops(s, dir)
        .orderBy(col("rep_a"), col("rep_b"), col("frame_idx"))
    },

    // Frame-sig index RETRACTION under the gate (the
    // `dedup_incremental_delete` twin for the multimodal family):
    // takedown ids land as an O(|retraction|) tombstone append, the
    // serve masks them with a broadcast anti-join — pairs involving a
    // retracted asset vanish from the drop's candidate set without a
    // single index file rewritten. Oracle = the all-pairs replay
    // filtered to pairs touching the drop, survivors only.
    // mm_phash_delete: the same drop-restricted ground truth minus
    // every pair touching a retracted (doc_id % 10 == 2) asset — the
    // tombstone mask replayed by value (residue 2 intersects the gate
    // pairs, so the masked answer provably differs from the unmasked)
    Entry("mm_phash_delete" ->
      (s"WITH $mmBitsCtes\n" +
      """SELECT doc_a, doc_b, frame_idx, hamming FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.frame_idx,
        |   (bit_count(xor(a.sig_lo, b.sig_lo))
        |    + bit_count(xor(a.sig_hi, b.sig_hi)))::INT AS hamming
        |  FROM bits a JOIN bits b
        |    ON a.doc_id < b.doc_id AND a.frame_idx = b.frame_idx)
        |WHERE hamming <= 3 AND (doc_a % 10 = 0 OR doc_b % 10 = 0)
        |  AND doc_a % 10 <> 2 AND doc_b % 10 <> 2
        |ORDER BY doc_a, doc_b, frame_idx""".stripMargin)) { (s, dir) =>
      import graft.sources.FrameSigIndexStore
      val docs = t(s, dir, "documents")
      val base = Multimodal.asMedia(docs.filter(col("doc_id") % 10 =!= 0))
      val drop = Multimodal.asMedia(docs.filter(col("doc_id") % 10 === 0))
      // residue 2 holds stored-side partners of gate pairs, so the mask
      // provably BITES at the gate SF (rows drop vs the unmasked serve)
      val removed = docs.filter(col("doc_id") % 10 === 2).select(col("doc_id"))
      val path = FrameSigIndexStore.defaultPath(dir) + "_del"
      FrameSigIndexStore.ensureDeleted(base, removed, path)
      FrameSigIndexStore.deltaPairs(drop,
          FrameSigIndexStore.bandsTable(s, path))
        .orderBy(col("doc_a"), col("doc_b"), col("frame_idx"))
    },

    // MEMBER-grain frame-sig takedown under the gate (r17 — the r16
    // verdict's enforced-boundary item, promoted from spec to gate):
    // the rep-grain store retracts ONE COPY of every stored twin group
    // with n ≥ 2 via [[graft.sources.FrameSigIndexStore.deleteMembers]]
    // — an exact n_copies decrement through the signed `sizes_deltas/`
    // layer (unknown member ids fail loudly; exhausted groups would
    // tombstone) — and the rep-grain delta serve carries the
    // DECREMENTED sizes. Oracle = the rep-grain replay with every
    // stored n ≥ 2 group's count lowered by one; the drop side keeps
    // full counts (the takedown names stored content only).
    // mm_phash_member_delete: the rep-grain delta replay with every
    // STORED twin group's count lowered by one (the member-takedown
    // decrement law replayed by value — drop-side counts stay full,
    // the takedown names stored content only; no stored group is
    // exhausted because only n >= 2 groups lose a single copy)
    Entry("mm_phash_member_delete" ->
      (s"WITH $mmBitsCtes,\n" +
      """ cls AS (
        |  SELECT doc_id, text,
        |   CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS c
        |  FROM documents
        |  UNION ALL SELECT doc_id + 10000000, text, 0
        |  FROM documents WHERE doc_id % 10 <> 0
        |  UNION ALL SELECT doc_id + 20000000, text, 0
        |  FROM documents WHERE doc_id % 20 = 1),
        | reps0 AS (SELECT c, min(doc_id) AS rep, count(*)::BIGINT AS n
        |  FROM cls GROUP BY c, text),
        | reps AS (SELECT c, rep,
        |   CASE WHEN c = 0 AND n >= 2 THEN n - 1 ELSE n END AS n
        |  FROM reps0),
        | rbits AS (SELECT b.doc_id, b.frame_idx, b.sig_lo, b.sig_hi,
        |   r.c, r.n
        |  FROM bits b JOIN reps r ON b.doc_id = r.rep),
        | hp AS (SELECT x.doc_id AS rep_a, y.doc_id AS rep_b,
        |   x.frame_idx,
        |   (bit_count(xor(x.sig_lo, y.sig_lo))
        |    + bit_count(xor(x.sig_hi, y.sig_hi)))::INT AS hamming,
        |   x.n AS n_a, y.n AS n_b, x.c AS ca, y.c AS cb
        |  FROM rbits x JOIN rbits y
        |    ON x.frame_idx = y.frame_idx AND x.doc_id < y.doc_id)
        |SELECT rep_a, rep_b, frame_idx, hamming, n_a, n_b FROM (
        |  SELECT rep_a, rep_b, frame_idx, hamming, n_a, n_b
        |  FROM hp WHERE hamming <= 3 AND NOT (ca = 0 AND cb = 0)
        |  UNION ALL
        |  SELECT r.rep, r.rep, b.frame_idx, 0::INT, r.n, r.n
        |  FROM reps r JOIN bits b ON b.doc_id = r.rep
        |  WHERE r.c = 1 AND r.n >= 2)
        |ORDER BY rep_a, rep_b, frame_idx""".stripMargin)) { (s, dir) =>
      import graft.sources.FrameSigIndexStore
      val docs = t(s, dir, "documents")
      // the testdata corpus is singleton-grain at the oracle SFs
      // (measured: zero duplicate texts at sf0.01), so the stored corpus
      // synthesizes its twin groups DETERMINISTICALLY: every stored doc
      // gains one byte-twin (+1e7 — residues mod 20 preserved) and every
      // %20==1 doc a second (+2e7) — groups of 2 and 3 whose elected rep
      // stays the ORIGINAL id. The takedown then bites on every group
      // (n 2→1, 3→2), so each emitted cross row carries a decremented
      // stored count the oracle must replay.
      val baseDocs = docs.filter(col("doc_id") % 10 =!= 0).toDF()
      val twinned = baseDocs
        .unionByName(baseDocs.withColumn("doc_id", col("doc_id") + 10000000L))
        .unionByName(baseDocs.filter(col("doc_id") % 20 === 1)
          .withColumn("doc_id", col("doc_id") + 20000000L))
      val base = Multimodal.asMedia(twinned)
      val drop = Multimodal.asMedia(docs.filter(col("doc_id") % 10 === 0))
      val path = FrameSigIndexStore.defaultPath(dir) + "_mdel"
      FrameSigIndexStore.ensureMemberDeleted(base, path)
      FrameSigIndexStore.deltaReps(drop,
          FrameSigIndexStore.bandsTable(s, path),
          FrameSigIndexStore.sizesTable(s, path))
        .orderBy(col("rep_a"), col("rep_b"), col("frame_idx"))
    },

    // Cross-corpus duplicated-span audit: per-doc share of word 4-gram
    // shingles that occur in at least one other document.
    // text_dup_spans joins on the same 60-bit md5-prefix shingle keys
    // the Spark plan shuffles, so even a hash collision replays
    // identically in both engines
    Entry("text_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        | sh AS (SELECT DISTINCT doc_id,
        |    ('0x'||substr(md5(array_to_string(w[r.i + 1 : r.i + 4], ' ')),1,15))::BIGINT AS h
        |   FROM t, range(0, 2000) r(i)
        |   WHERE r.i <= greatest(len(w) - 4, 0)),
        | sd AS (SELECT h, count(*)::BIGINT AS n_docs FROM sh GROUP BY h)
        |SELECT sh.doc_id, count(*)::BIGINT AS n_shingles,
        |  sum(CASE WHEN sd.n_docs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        |  round(sum(CASE WHEN sd.n_docs >= 2 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 4) AS dup_frac,
        |  max(sd.n_docs)::BIGINT AS max_span_docs
        |FROM sh JOIN sd USING (h)
        |GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.dupSpans(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // Sketch algebra: pairwise distinct-user overlap between event
    // segments from mergeable KMV k-min sets (union / Jaccard /
    // intersection estimates), exact overlap riding along as the eval.
    // q_kmv_overlap: the per-segment k-min sets, the union merge, and
    // every estimate replay as deterministic integer/double arithmetic
    // on the same md5-prefix hashes the Spark sketches keep
    Entry("q_kmv_overlap" ->
      """WITH u AS (SELECT DISTINCT event_type AS seg,
        |    ('0x'||substr(md5(user_id::VARCHAR),1,8))::BIGINT AS h
        |   FROM events WHERE user_id IS NOT NULL),
        | r AS (SELECT seg, h,
        |    row_number() OVER (PARTITION BY seg ORDER BY h) AS rn FROM u),
        | s AS (SELECT seg, h FROM r WHERE rn <= 256),
        | cnt AS (SELECT seg, count(*)::BIGINT AS n, max(h) AS kth
        |   FROM s GROUP BY seg),
        | pr AS (SELECT a.seg AS ta, a.n AS na, a.kth AS ka,
        |    b.seg AS tb, b.n AS nb, b.kth AS kb
        |   FROM cnt a JOIN cnt b ON a.seg < b.seg),
        | mu AS (SELECT ta, tb, h,
        |    row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
        |   FROM (SELECT DISTINCT pr.ta, pr.tb, s.h
        |         FROM pr JOIN s ON s.seg = pr.ta OR s.seg = pr.tb)),
        | m AS (SELECT ta, tb, h FROM mu WHERE rn <= 256),
        | ms AS (SELECT m.ta, m.tb, count(*)::BIGINT AS nm, max(m.h) AS kthm,
        |    sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
        |      THEN 1 ELSE 0 END)::BIGINT AS inter
        |   FROM m LEFT JOIN s sa ON sa.seg = m.ta AND sa.h = m.h
        |          LEFT JOIN s sb ON sb.seg = m.tb AND sb.h = m.h
        |   GROUP BY m.ta, m.tb),
        | du AS (SELECT DISTINCT event_type AS seg, user_id AS uid
        |   FROM events WHERE user_id IS NOT NULL),
        | ex AS (SELECT x.seg AS ta, y.seg AS tb, count(*)::BIGINT AS exact_overlap
        |   FROM du x JOIN du y ON x.uid = y.uid AND x.seg < y.seg
        |   GROUP BY 1, 2)
        |SELECT pr.ta AS type_a, pr.tb AS type_b,
        | round(CASE WHEN pr.na < 256 THEN pr.na::DOUBLE
        |   WHEN pr.ka = 0 THEN pr.na::DOUBLE
        |   ELSE 255 * 4294967296.0 / pr.ka END, 4) AS est_a,
        | round(CASE WHEN pr.nb < 256 THEN pr.nb::DOUBLE
        |   WHEN pr.kb = 0 THEN pr.nb::DOUBLE
        |   ELSE 255 * 4294967296.0 / pr.kb END, 4) AS est_b,
        | round(CASE WHEN ms.nm < 256 THEN ms.nm::DOUBLE
        |   WHEN ms.kthm = 0 THEN ms.nm::DOUBLE
        |   ELSE 255 * 4294967296.0 / ms.kthm END, 4) AS est_union,
        | round(ms.inter::DOUBLE / ms.nm, 4) AS jaccard,
        | round(ms.inter::DOUBLE / ms.nm *
        |   (CASE WHEN ms.nm < 256 THEN ms.nm::DOUBLE
        |    WHEN ms.kthm = 0 THEN ms.nm::DOUBLE
        |    ELSE 255 * 4294967296.0 / ms.kthm END), 4) AS est_overlap,
        | coalesce(ex.exact_overlap, 0)::BIGINT AS exact_overlap
        |FROM pr JOIN ms ON ms.ta = pr.ta AND ms.tb = pr.tb
        |  LEFT JOIN ex ON ex.ta = pr.ta AND ex.tb = pr.tb
        |ORDER BY type_a, type_b""".stripMargin) { (s, dir) =>
      Sketches.kmvOverlap(t(s, dir, "events"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // First-order Markov transition matrix over user event journeys.
    Entry("q_event_transitions" ->
      """WITH p AS (SELECT user_id, event_type,
        |   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |     AS prev_type
        |  FROM events),
        | c AS (SELECT prev_type, event_type AS next_type,
        |   count(*)::BIGINT AS n_transitions
        |  FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_transitions,
        | round(n_transitions::DOUBLE /
        |   sum(n_transitions) OVER (PARTITION BY prev_type), 4) AS p_next
        |FROM c ORDER BY prev_type, next_type""".stripMargin) { (s, dir) =>
      Relational.eventTransitions(t(s, dir, "events"))
        .orderBy(col("prev_type"), col("next_type"))
    },

    // Span-level dedup ACTION: corpus-duplicated 4-grams removed from
    // every doc except the canonical (lowest-id) occurrence.
    // text_dup_spans_clean: the same 60-bit shingle keys, plus the
    // coverage replay — window i removes words [i, min(i+4, len)) of
    // every non-canonical doc containing the duplicated shingle.
    // Static range(0,4) + filter instead of a lateral range (DuckDB
    // rejects column params there); word positions via
    // generate_subscripts, rebuild via ORDER BY position string_agg
    Entry("text_dup_spans_clean" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL),
        | sh AS (SELECT doc_id, r.i AS i, len(w) AS nw,
        |    ('0x'||substr(md5(array_to_string(w[r.i + 1 : r.i + 4], ' ')),1,15))::BIGINT AS h
        |   FROM t, range(0, 2000) r(i)
        |   WHERE r.i <= greatest(len(w) - 4, 0)),
        | dh AS (SELECT DISTINCT doc_id, h FROM sh),
        | sp AS (SELECT h, count(*) AS n_docs, min(doc_id) AS canon
        |   FROM dh GROUP BY h),
        | rp AS (SELECT DISTINCT sh.doc_id, sh.i + r2.j AS p
        |   FROM sh JOIN sp USING (h) CROSS JOIN range(0, 4) r2(j)
        |   WHERE sp.n_docs >= 2 AND sh.doc_id <> sp.canon
        |     AND sh.i + r2.j <= least(sh.i + 3, sh.nw - 1)),
        | wp AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS p,
        |    unnest(w) AS x FROM t),
        | keptw AS (SELECT wp.doc_id, wp.p, wp.x
        |   FROM wp LEFT JOIN rp ON rp.doc_id = wp.doc_id AND rp.p = wp.p
        |   WHERE rp.p IS NULL),
        | ka AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
        |    string_agg(x, ' ' ORDER BY p) AS clean_text
        |   FROM keptw GROUP BY doc_id)
        |SELECT t.doc_id, len(t.w)::INT AS n_words,
        | (len(t.w) - coalesce(ka.n_kept, 0))::BIGINT AS n_removed,
        | coalesce(ka.clean_text, '') AS clean_text
        |FROM t LEFT JOIN ka USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.dupSpansClean(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // Streaming-equivalence gate for the CUSTOM-STATE sessionizer
    // (`flatMapGroupsWithState` + event-time timeout): file replay with
    // sentinel flush batches; sessions carry TRUE first/last event
    // bounds, checked against the islands-method batch oracle.
    // stream_sessionize_state: islands-method sessionization — a break
    // where the within-user gap exceeds 30 min, sessions as cumulative
    // break sums; bounds are TRUE first/last event times (the custom
    // state's semantics), not gap-padded window edges
    Entry("stream_sessionize_state" -> sessionizeIslandsSql) { (s, dir) =>
      graft.streaming.StreamReplay.replaySessionizeStateful(s, dir)
        .orderBy(col("user_id"), col("session_start"))
    },

    // Kill-and-resume twin: the same custom-state fold split across two
    // AvailableNow runs sharing one checkpoint — sessions straddling
    // the cut survive the restart exactly-once or the islands oracle
    // hash-mismatches.
    // the kill-and-resume twin folds the SAME sessions across a
    // checkpoint restart — identical islands answer required
    Entry("stream_sessionize_restart" -> sessionizeIslandsSql) { (s, dir) =>
      graft.streaming.StreamReplay.replaySessionizeStatefulRestart(s, dir)
        .orderBy(col("user_id"), col("session_start"))
    },

    // Bigram LM corpus-likeness scoring over the closed top-16+unk
    // alphabet — word order now matters, unlike the unigram lmScore.
    // text_bigram_lm: train (pair counts over the top-16+unk alphabet)
    // and score (mean add-one-smoothed log conditional) replay
    // verbatim; bigram cap mirrors the Spark slice at 2000
    Entry("text_bigram_lm" ->
      """WITH t AS (SELECT doc_id,
        |   list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
        |  FROM documents WHERE text IS NOT NULL),
        | cnt AS (SELECT unnest(w) AS token FROM t),
        | vocab AS (SELECT token FROM (
        |   SELECT token, count(*) AS c FROM cnt GROUP BY token
        |   ORDER BY c DESC, token LIMIT 16)),
        | pr AS (SELECT doc_id, r.i AS i, w[r.i] AS a, w[r.i + 1] AS b
        |  FROM t, range(1, 2001) r(i) WHERE r.i <= len(w) - 1),
        | prm AS (SELECT doc_id, i,
        |   CASE WHEN va.token IS NULL THEN '<unk>' ELSE pr.a END AS w1,
        |   CASE WHEN vb.token IS NULL THEN '<unk>' ELSE pr.b END AS w2
        |  FROM pr LEFT JOIN vocab va ON va.token = pr.a
        |          LEFT JOIN vocab vb ON vb.token = pr.b),
        | c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM prm GROUP BY 1, 2),
        | c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM prm GROUP BY 1)
        |SELECT prm.doc_id, count(*)::BIGINT AS n_bigrams,
        | round(avg(ln((c2.c2 + 1)::DOUBLE /
        |   (c1.c1 + (SELECT count(*) + 1 FROM vocab)))), 4) AS bigram_lm,
        | round(avg(CASE WHEN w1 = '<unk>' OR w2 = '<unk>'
        |   THEN 1.0 ELSE 0.0 END), 4) AS unk_ratio
        |FROM prm JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY prm.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.bigramLmScore(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    Entry("q5_region_revenue" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM region r JOIN nation n ON n_regionkey = r_regionkey
        | JOIN customer c ON c_nationkey = n_nationkey
        | JOIN orders o ON o_custkey = c_custkey
        | JOIN lineitem l ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, dir) =>
      Relational.regionRevenue(t(s, dir, "region"), t(s, dir, "nation"),
        t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"))
        .orderBy(col("n_name"))
    },

    Entry("q_mkt_share" ->
      """WITH rev AS (
        |  SELECT year(o.o_orderdate) AS order_year, sn.n_name AS supp_nation,
        |         CAST(l.l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2)) AS rev
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey)
        |SELECT order_year,
        | round(CAST(sum(CASE WHEN supp_nation = 'NATION_15' THEN rev ELSE CAST(0 AS DECIMAL(10,2)) END) AS DOUBLE)
        |       / nullif(CAST(sum(rev) AS DOUBLE), 0), 6) AS mkt_share,
        | CAST(sum(rev) AS DOUBLE) AS total_revenue,
        | count(*) AS n_items
        |FROM rev GROUP BY order_year ORDER BY order_year""".stripMargin) { (s, dir) =>
      Relational.marketShare(t(s, dir, "region"), t(s, dir, "nation"),
        t(s, dir, "customer"), t(s, dir, "supplier"), t(s, dir, "orders"),
        t(s, dir, "lineitem"))
        .orderBy(col("order_year"))
    },

    Entry("q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type='view' THEN ts END) OVER (PARTITION BY user_id ORDER BY ts) AS fv
        |  FROM events),
        | s2 AS (SELECT *, CASE WHEN event_type='click' AND ts > fv THEN ts END AS cc FROM s1),
        | s3 AS (SELECT *, min(cc) OVER (PARTITION BY user_id ORDER BY ts) AS fc FROM s2),
        | s4 AS (SELECT *, CASE WHEN event_type='purchase' AND ts > fc THEN ts END AS pp FROM s3)
        |SELECT user_id,
        | date_trunc('second', min(CASE WHEN event_type='view' THEN ts END)) AS first_view,
        | date_trunc('second', min(cc)) AS first_click,
        | date_trunc('second', min(pp)) AS first_purchase,
        | CASE WHEN min(pp) IS NOT NULL THEN 3 WHEN min(cc) IS NOT NULL THEN 2
        |      WHEN min(CASE WHEN event_type='view' THEN ts END) IS NOT NULL THEN 1 ELSE 0 END AS funnel_depth
        |FROM s4 GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Relational.funnel(t(s, dir, "events"))
        .orderBy(col("user_id"))
    },

    Entry("q_funnel_windowed" ->
      """WITH s1 AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type='view' THEN ts END) OVER (PARTITION BY user_id ORDER BY ts) AS fv
        |  FROM events),
        | s2 AS (SELECT *, CASE WHEN event_type='click' AND ts > fv AND ts <= fv + INTERVAL 1 HOUR THEN ts END AS cc FROM s1),
        | s3 AS (SELECT *, min(cc) OVER (PARTITION BY user_id ORDER BY ts) AS fc FROM s2),
        | s4 AS (SELECT *, CASE WHEN event_type='purchase' AND ts > fc AND ts <= fc + INTERVAL 24 HOUR THEN ts END AS pp FROM s3)
        |SELECT user_id,
        | date_trunc('second', min(CASE WHEN event_type='view' THEN ts END)) AS first_view,
        | date_trunc('second', min(cc)) AS first_click,
        | date_trunc('second', min(pp)) AS first_purchase,
        | CASE WHEN min(pp) IS NOT NULL THEN 3 WHEN min(cc) IS NOT NULL THEN 2
        |      WHEN min(CASE WHEN event_type='view' THEN ts END) IS NOT NULL THEN 1 ELSE 0 END AS funnel_depth
        |FROM s4 GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      Relational.funnel(t(s, dir, "events"),
        clickWithin = Some("1 HOUR"), purchaseWithin = Some("24 HOURS"))
        .orderBy(col("user_id"))
    },

    // Top-3 spenders per nation through the NATIVE TopK plan
    // (plans/TopKPlan.scala: partial heaps → exchange → final heaps) —
    // the same custom Catalyst operator the knn_* queries rank with,
    // exercised here on a relational aggregate so the oracle checks it
    // on a second shape. O(n log k) with only k rows per group crossing
    // the exchange — never a full per-group window sort.
    Entry("q_top_spenders" ->
      """WITH spend AS (
        |  SELECT c.c_nationkey::BIGINT AS nation_key, o.o_custkey,
        |         CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        | ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY nation_key ORDER BY spend DESC, o_custkey) AS rnk
        |  FROM spend)
        |SELECT nation_key, o_custkey AS custkey, spend, rnk::BIGINT AS rnk
        |FROM ranked WHERE rnk <= 3 ORDER BY nation_key, rnk""".stripMargin) { (s, dir) =>
      val spend = t(s, dir, "orders")
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("long").as("nation_key"), col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("spend"))
      graft.plans.TopKPlanner.perGroup(spend, "nation_key", "spend", "o_custkey", 3)
        .select(col("nation_key"), col("o_custkey").as("custkey"), col("spend"),
          col("rnk").cast("long").as("rnk"))
        .orderBy(col("nation_key"), col("rnk"))
    },

    // PageRank over the co-purchase item graph, 5 power-iteration
    // rounds. Full value oracle: the oracle unrolls the same 5 rounds
    // as a CTE chain with identical double literals and per-round
    // 10dp rounding, so ranks replay bit-exactly.
    Entry("q_pagerank" ->
      (s"WITH ${pageRankCtes(5)}\n" +
        """SELECT node, rank FROM r5
          |ORDER BY rank DESC, node LIMIT 20""".stripMargin)) { (s, dir) =>
      Graph.pageRank(Graph.coPurchaseEdges(t(s, dir, "lineitem")))
        .orderBy(col("rank").desc, col("node"))
        .limit(20)
    },

    // Per-node triangle counts + clustering coefficient on the
    // co-purchase graph via the degree-ordered node-iterator
    // ([[Graph.triangleCounts]] — oriented out-degree bounded by O(√m),
    // so a hub item can't explode the wedge build). The oracle lists
    // triangles by plain id orientation: the triangle set is
    // orientation-invariant, so the per-corner counts match exactly.
    // triangle ground truth by id orientation (x < y < z): the set is
    // orientation-invariant, so it equals the degree-ordered listing
    Entry("q_triangles" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        | e AS (SELECT DISTINCT l.l_partkey AS src, r.l_partkey AS dst
        |  FROM b l JOIN b r USING (l_orderkey)
        |  WHERE l.l_partkey <> r.l_partkey),
        | ue AS (SELECT src AS a, dst AS c FROM e WHERE src < dst),
        | tri AS (SELECT x.a AS x, x.c AS y, z.c AS z
        |  FROM ue x JOIN ue y ON x.a = y.a AND x.c < y.c
        |       JOIN ue z ON z.a = x.c AND z.c = y.c),
        | corners AS (SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
        | deg AS (SELECT src AS node, count(*)::BIGINT AS degree
        |  FROM e GROUP BY src),
        | t AS (SELECT node, count(*)::BIGINT AS n_triangles
        |  FROM corners GROUP BY node)
        |SELECT t.node, deg.degree, t.n_triangles,
        | round(2.0 * t.n_triangles / (deg.degree * (deg.degree - 1)), 4)
        |   AS clustering
        |FROM t JOIN deg USING (node) ORDER BY node""".stripMargin) { (s, dir) =>
      Graph.triangleCounts(Graph.coPurchaseEdges(t(s, dir, "lineitem")))
        .orderBy(col("node"))
    },

    // Scene-boundary detection within each media asset
    // ([[Multimodal.sceneSegments]]): consecutive frame signatures more
    // than 24 Hamming bits apart open a new scene; islands-grouped
    // spans with the opening cut distance. Integer arithmetic end to
    // end, replayed by the oracle on the same byte-window frames.
    // scene boundaries: same frame-signature replay, then the lag +
    // islands grouping with the 24-bit cut law
    Entry("mm_scenes" ->
      (s"WITH $mmBitsCtes,\n" +
      """ lagd AS (SELECT doc_id, frame_idx, sig_lo, sig_hi,
        |   lag(sig_lo) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS plo,
        |   lag(sig_hi) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS phi
        |  FROM bits),
        | d2 AS (SELECT doc_id, frame_idx,
        |   CASE WHEN plo IS NULL THEN NULL
        |     ELSE (bit_count(xor(sig_lo, plo)) + bit_count(xor(sig_hi, phi)))::INT
        |   END AS dist FROM lagd),
        | b2 AS (SELECT doc_id, frame_idx, dist,
        |   CASE WHEN dist IS NULL OR dist > 24 THEN 1 ELSE 0 END AS brk FROM d2),
        | g AS (SELECT doc_id, frame_idx, dist, brk,
        |   (sum(brk) OVER (PARTITION BY doc_id ORDER BY frame_idx) - 1)::BIGINT AS scene_idx
        |  FROM b2)
        |SELECT doc_id, scene_idx,
        | min(frame_idx)::INT AS start_frame, max(frame_idx)::INT AS end_frame,
        | count(*)::BIGINT AS n_frames,
        | max(CASE WHEN brk = 1 THEN dist END)::INT AS cut_dist
        |FROM g GROUP BY doc_id, scene_idx
        |ORDER BY doc_id, scene_idx""".stripMargin)) { (s, dir) =>
      Multimodal.sceneSegments(Multimodal.asMedia(t(s, dir, "documents")))
        .orderBy(col("doc_id"), col("scene_idx"))
    },

    Entry("mm_dedup" ->
      """SELECT md5(text) AS content_md5, octet_length(encode(text))::BIGINT AS byte_len,
        | count(*)::BIGINT AS n_copies, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1, 2 ORDER BY content_md5""".stripMargin) { (s, dir) =>
      Multimodal.dedupAssets(Multimodal.asMedia(t(s, dir, "documents")))
        .orderBy(col("content_md5"))
    },

    Entry("q_late_priority" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_late_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Relational.latePriorityCounts(t(s, dir, "orders"), t(s, dir, "lineitem"))
        .orderBy(col("o_orderpriority"))
    },

    Entry("q_returned_items" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
        | CAST(sum(CAST(l.l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        | count(*)::BIGINT AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      Relational.returnedItemRevenue(t(s, dir, "customer"), t(s, dir, "orders"),
        t(s, dir, "lineitem"), t(s, dir, "nation"))
    },

    Entry("q_cust_dist" ->
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*)::BIGINT AS order_count
        |  FROM orders WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
        |SELECT coalesce(p.order_count, 0)::BIGINT AS order_count,
        |       count(*)::BIGINT AS custdist
        |FROM customer c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
        |GROUP BY 1 ORDER BY custdist DESC, order_count DESC""".stripMargin) { (s, dir) =>
      Relational.custOrderDistribution(t(s, dir, "customer"), t(s, dir, "orders"))
        .orderBy(col("custdist").desc, col("order_count").desc)
    },

    Entry("q_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |   sum(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, CAST(r.rev AS DOUBLE) AS total_revenue
        |FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.rev = (SELECT max(rev) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin) { (s, dir) =>
      Relational.topSupplier(t(s, dir, "supplier"), t(s, dir, "lineitem"))
        .orderBy(col("s_suppkey"))
    },

    Entry("q_small_qty_rev" ->
      """WITH li AS (
        |  SELECT l.l_partkey, CAST(l.l_quantity AS DECIMAL(12,2)) AS qty,
        |         CAST(l.l_extendedprice AS DECIMAL(10,2)) AS price
        |  FROM lineitem l JOIN part p
        |    ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#11'),
        | stats AS (
        |  SELECT l_partkey AS sk, sum(qty) AS sum_qty, count(qty)::BIGINT AS cnt
        |  FROM li GROUP BY 1)
        |SELECT CAST(sum(li.price) AS DOUBLE) / 7 AS avg_yearly
        |FROM li JOIN stats ON li.l_partkey = stats.sk
        |WHERE li.qty * 5 * stats.cnt < stats.sum_qty""".stripMargin) { (s, dir) =>
      Relational.smallQtyRevenue(t(s, dir, "part"), t(s, dir, "lineitem"))
    },

    Entry("q_big_orders" ->
      """WITH qty AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum_qty > 200)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |       CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_totalprice,
        |       CAST(q.sum_qty AS DOUBLE) AS sum_qty
        |FROM qty q
        |JOIN orders o ON q.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin) { (s, dir) =>
      Relational.bigOrders(t(s, dir, "customer"), t(s, dir, "orders"),
        t(s, dir, "lineitem"))
    },

    Entry("q_idle_rich" ->
      """WITH avg_row AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_bal,
        |         count(*)::BIGINT AS n_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c.c_mktsegment, count(*)::BIGINT AS n_custs,
        |       CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer c, avg_row a
        |WHERE CAST(c.c_acctbal AS DECIMAL(12,2)) * a.n_bal > a.sum_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY c.c_mktsegment""".stripMargin) { (s, dir) =>
      Relational.idleRichCustomers(t(s, dir, "customer"), t(s, dir, "orders"))
        .orderBy(col("c_mktsegment"))
    },

    Entry("q6_forecast_revenue" ->
      """SELECT
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue_delta,
        | count(*)::BIGINT AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.02 AND l_discount <= 0.04
        |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
      Relational.forecastRevenue(t(s, dir, "lineitem"))
    },

    Entry("q14_promo_share" ->
      """SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
        | CAST(sum(CASE WHEN p.p_type = 'PROMO'
        |   THEN CAST(l.l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2))
        |   ELSE CAST(0 AS DECIMAL(10,2)) END) AS DOUBLE) AS promo_revenue,
        | CAST(sum(CAST(l.l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS total_revenue,
        | CAST(sum(CASE WHEN p.p_type = 'PROMO'
        |   THEN CAST(l.l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2))
        |   ELSE CAST(0 AS DECIMAL(10,2)) END) AS DOUBLE)
        |   / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS promo_share
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY ship_month""".stripMargin) { (s, dir) =>
      Relational.promoShare(t(s, dir, "part"), t(s, dir, "lineitem"))
        .orderBy(col("ship_month"))
    },

    Entry("q19_disjunctive_rev" ->
      """SELECT p.p_brand,
        | CAST(sum(CAST(l.l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        | count(*)::BIGINT AS n_items
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 10
        |        AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
        |        AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 1 AND 30
        |        AND l.l_quantity BETWEEN 20 AND 40)
        |GROUP BY 1 ORDER BY p_brand""".stripMargin) { (s, dir) =>
      Relational.disjunctiveRevenue(t(s, dir, "part"), t(s, dir, "lineitem"))
        .orderBy(col("p_brand"))
    },

    Entry("q20_excess_supply" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         sum(CAST(l_quantity AS DECIMAL(12,2))) AS supp_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        | pt AS (SELECT l_partkey, sum(supp_qty) AS part_qty FROM ps GROUP BY 1),
        | dom AS (SELECT ps.* FROM ps JOIN pt USING (l_partkey)
        |         WHERE ps.supp_qty * 2 > pt.part_qty)
        |SELECT s.s_suppkey, s.s_name, count(*)::BIGINT AS n_dominant_parts,
        | CAST(sum(dom.supp_qty) AS DOUBLE) AS dominated_qty
        |FROM dom JOIN supplier s ON dom.l_suppkey = s.s_suppkey
        |GROUP BY 1, 2 ORDER BY s.s_suppkey""".stripMargin) { (s, dir) =>
      Relational.excessSupply(t(s, dir, "supplier"), t(s, dir, "lineitem"))
        .orderBy(col("s_suppkey"))
    },

    Entry("q2_min_cost_supp" ->
      """WITH sl AS (SELECT p_partkey, p_name FROM part
        |   WHERE p_type = 'PROMO' AND p_size <= 5),
        | li AS (SELECT l.l_partkey, l.l_suppkey,
        |   CAST(l.l_extendedprice AS DECIMAL(10,2)) AS price
        |  FROM lineitem l JOIN sl ON l.l_partkey = sl.p_partkey),
        | mn AS (SELECT l_partkey, min(price) AS min_price FROM li GROUP BY 1),
        | win AS (SELECT DISTINCT li.l_partkey, li.l_suppkey, mn.min_price
        |  FROM li JOIN mn ON li.l_partkey = mn.l_partkey
        |   AND li.price = mn.min_price)
        |SELECT sl.p_partkey, sl.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
        | CAST(w.min_price AS DOUBLE) AS min_price
        |FROM win w JOIN sl ON w.l_partkey = sl.p_partkey
        |JOIN supplier s ON w.l_suppkey = s.s_suppkey
        |ORDER BY p_partkey, s_suppkey""".stripMargin) { (s, dir) =>
      Relational.minCostSupplier(t(s, dir, "part"), t(s, dir, "supplier"),
        t(s, dir, "lineitem"))
        .orderBy(col("p_partkey"), col("s_suppkey"))
    },

    Entry("q21_late_alone" ->
      """WITH pairs AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |   max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |       THEN 1 ELSE 0 END) AS late
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        | ord AS (SELECT l_orderkey, count(*)::BIGINT AS n_suppliers,
        |         sum(late)::BIGINT AS n_late
        |  FROM pairs GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, count(*)::BIGINT AS n_waiting_orders
        |FROM pairs p JOIN ord USING (l_orderkey)
        |JOIN supplier s ON p.l_suppkey = s.s_suppkey
        |WHERE p.late = 1 AND ord.n_suppliers > 1 AND ord.n_late = 1
        |GROUP BY 1, 2 ORDER BY s.s_suppkey""".stripMargin) { (s, dir) =>
      Relational.lateAloneSuppliers(t(s, dir, "supplier"), t(s, dir, "orders"),
        t(s, dir, "lineitem"))
        .orderBy(col("s_suppkey"))
    },

    Entry("q_window_rank_funcs" ->
      """SELECT user_id, event_id, value,
        | row_number() OVER bytime::INT AS rn,
        | ntile(4) OVER byval::INT AS quartile,
        | percent_rank() OVER byval AS val_pct,
        | cume_dist() OVER byval AS val_cume,
        | first_value(value) OVER bytime AS first_val
        |FROM events
        |WINDOW
        | bytime AS (PARTITION BY user_id ORDER BY ts, event_id),
        | byval AS (PARTITION BY user_id ORDER BY value, event_id)
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      Relational.windowRankFuncs(t(s, dir, "events"))
        .orderBy(col("user_id"), col("event_id"))
    },

    Entry("q_nation_flow" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | year(o.o_orderdate)::INT AS order_year,
        | CAST(sum(CAST(l.l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS volume,
        | count(*)::BIGINT AS n_items
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_18', 'NATION_19')
        |  AND n2.n_name IN ('NATION_18', 'NATION_19')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, order_year""".stripMargin) { (s, dir) =>
      Relational.nationFlow(t(s, dir, "nation"), t(s, dir, "customer"),
        t(s, dir, "supplier"), t(s, dir, "orders"), t(s, dir, "lineitem"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("order_year"))
    },

    Entry("q_order_gaps" ->
      """WITH seq AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |   lag(CAST(o_orderdate AS DATE)) OVER (
        |     PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_date
        |  FROM orders),
        | gaps AS (
        |  SELECT o_custkey, date_diff('day', prev_date, o_date)::BIGINT AS gap_days
        |  FROM seq WHERE prev_date IS NOT NULL)
        |SELECT o_custkey, count(*)::BIGINT AS n_gaps,
        | sum(gap_days)::DOUBLE / count(*) AS avg_gap_days,
        | min(gap_days)::BIGINT AS min_gap_days,
        | max(gap_days)::BIGINT AS max_gap_days
        |FROM gaps GROUP BY 1 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      Relational.orderGaps(t(s, dir, "orders"))
        .orderBy(col("o_custkey"))
    },

    Entry("q_event_paths" ->
      """WITH j AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |   array_to_string(
        |     (list(event_type ORDER BY ts, event_id))[1:5], '>') AS path
        |  FROM events GROUP BY 1, 2)
        |SELECT path, count(*)::BIGINT AS n_journeys
        |FROM j GROUP BY 1
        |ORDER BY n_journeys DESC, path LIMIT 20""".stripMargin) { (s, dir) =>
      Relational.topEventPaths(t(s, dir, "events"))
    },

    Entry("q_rfm" ->
      """WITH u AS (
        |  SELECT user_id, max(ts) AS last_ts, count(*)::BIGINT AS frequency,
        |         sum(CAST(value AS DECIMAL(18,6))) AS monetary_d
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        | th AS (
        |  SELECT max(last_ts) AS now_ts,
        |         quantile_cont(frequency, [0.25, 0.5, 0.75]) AS f_q,
        |         quantile_cont(CAST(monetary_d AS DOUBLE), [0.25, 0.5, 0.75]) AS m_q
        |  FROM u),
        | s AS (
        |  SELECT u.user_id,
        |   date_diff('day', CAST(u.last_ts AS DATE), CAST(th.now_ts AS DATE))::BIGINT AS recency_days,
        |   u.frequency, CAST(u.monetary_d AS DOUBLE) AS monetary, th.f_q, th.m_q
        |  FROM u, th),
        | rq AS (SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS r_q FROM s),
        | sc AS (
        |  SELECT s.user_id, s.recency_days, s.frequency, s.monetary,
        |   (5 - (1 + CASE WHEN s.recency_days > r_q[1] THEN 1 ELSE 0 END
        |           + CASE WHEN s.recency_days > r_q[2] THEN 1 ELSE 0 END
        |           + CASE WHEN s.recency_days > r_q[3] THEN 1 ELSE 0 END))::INT AS r_score,
        |   (1 + CASE WHEN s.frequency > f_q[1] THEN 1 ELSE 0 END
        |      + CASE WHEN s.frequency > f_q[2] THEN 1 ELSE 0 END
        |      + CASE WHEN s.frequency > f_q[3] THEN 1 ELSE 0 END)::INT AS f_score,
        |   (1 + CASE WHEN s.monetary > m_q[1] THEN 1 ELSE 0 END
        |      + CASE WHEN s.monetary > m_q[2] THEN 1 ELSE 0 END
        |      + CASE WHEN s.monetary > m_q[3] THEN 1 ELSE 0 END)::INT AS m_score
        |  FROM s, rq)
        |SELECT user_id, recency_days, frequency, monetary,
        |       r_score, f_score, m_score,
        |       r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
        |FROM sc ORDER BY user_id""".stripMargin) { (s, dir) =>
      Relational.rfmSegments(t(s, dir, "events"))
        .orderBy(col("user_id"))
    },

    Entry("q_new_vs_returning" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_date,
        |   CAST(o_totalprice AS DECIMAL(12,2)) AS price,
        |   min(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey) AS first_date
        |  FROM orders)
        |SELECT year(o_date)::INT AS order_year,
        | CASE WHEN o_date = first_date THEN 'new' ELSE 'returning' END AS cohort,
        | count(*)::BIGINT AS n_orders,
        | CAST(sum(price) AS DOUBLE) AS revenue
        |FROM o GROUP BY 1, 2 ORDER BY order_year, cohort""".stripMargin) { (s, dir) =>
      Relational.newVsReturning(t(s, dir, "orders"))
        .orderBy(col("order_year"), col("cohort"))
    },

    Entry("text_mixture" -> mixtureOracleSql("")) { (s, dir) =>
      CorpusStats.mixture(t(s, dir, "documents"))
        .orderBy(col("lang"), col("source"))
    },

    // DATASHEET LIFECYCLE, rollover: the persisted per-slice counts
    // (MixtureStore) fold a 20% drop in with one pass over the drop;
    // the served datasheet must be bit-identical to the batch mixture
    // over the union (integer counts — exactness, not a rounding class)
    // the rolled store serves the union == the plain datasheet; the
    // streamed fold is drop-order-free (integer abelian counts) so it
    // shares the same full-corpus oracle
    Entry("text_mixture_incremental" -> mixtureOracleSql("")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      val drop = docs.filter(col("doc_id") % 5 === 0)
      val path = graft.sources.MixtureStore.defaultPath(dir, "roll")
      graft.sources.MixtureStore.ensureRolled(base, drop, path)
      graft.sources.MixtureStore.served(s, path)
        .orderBy(col("lang"), col("source"))
    },

    // DATASHEET MONITORING, the measure face: per-language doc-share
    // drift of a fresh drop against the reference served from the SAME
    // rolled count store the lifecycle maintains; threshold 0.02 splits
    // the doc_id%9 drop 3 drifted / 2 not at gate SF (margin ≥1e-3)
    // drift dashboard: reference shares replayed from full-corpus
    // counts (the rolled store's content), current from the doc_id%9
    // drop; shares divide exact integers — bit-identical doubles
    Entry("text_mixture_drift" ->
      """WITH ref AS (
        |  SELECT lang, count(*)::BIGINT AS nd FROM documents GROUP BY lang),
        | tot AS (SELECT sum(nd)::BIGINT AS td FROM ref),
        | cur AS (
        |  SELECT lang, count(*)::BIGINT AS nc FROM documents
        |  WHERE doc_id % 9 = 0 GROUP BY lang),
        | ctot AS (SELECT sum(nc)::BIGINT AS tc FROM cur),
        | j AS (
        |  SELECT coalesce(r.lang, c.lang) AS lang,
        |   coalesce(r.nd::DOUBLE / t.td, 0.0) AS share_ref,
        |   coalesce(c.nc::DOUBLE / ct.tc, 0.0) AS share_cur
        |  FROM ref r FULL JOIN cur c ON r.lang IS NOT DISTINCT FROM c.lang
        |  CROSS JOIN tot t CROSS JOIN ctot ct)
        |SELECT lang, share_ref, share_cur,
        | round(abs(share_cur - share_ref), 6) AS abs_shift,
        | round(abs(share_cur - share_ref), 6) > 0.02 AS drifted
        |FROM j ORDER BY lang""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      val drop = docs.filter(col("doc_id") % 5 === 0)
      val path = graft.sources.MixtureStore.defaultPath(dir, "roll")
      graft.sources.MixtureStore.ensureRolled(base, drop, path)
      CorpusStats.mixtureDrift(
        graft.sources.MixtureStore.slices(s, path),
        docs.filter(col("doc_id") % 9 === 0))
        .orderBy(col("lang"))
    },

    // DATASHEET MONITORING, the act face: the drifted drop thinned back
    // toward the stored reference mix (downsample-only, content-hash
    // kept) — overrepresented langs lose docs, underrepresented keep all
    // rebalance act: keep rate min(1, share_ref/share_cur) per lang
    // (exact-integer-count shares), kept iff md5_32(text) clears the
    // rate cut — the mixtureSample hash law, integer-exact
    Entry("text_mixture_rebalance" ->
      """WITH ref AS (
        |  SELECT lang, count(*)::BIGINT AS nd FROM documents GROUP BY lang),
        | cur AS (
        |  SELECT lang, count(*)::BIGINT AS nc FROM documents
        |  WHERE doc_id % 9 = 0 GROUP BY lang),
        | rates AS (
        |  SELECT c.lang,
        |   round(least(1.0,
        |     coalesce(r.nd::DOUBLE / (SELECT sum(nd)::BIGINT FROM ref), 0.0)
        |     / (c.nc::DOUBLE / (SELECT sum(nc)::BIGINT FROM cur))), 6)
        |     AS keep_rate
        |  FROM cur c LEFT JOIN ref r ON c.lang IS NOT DISTINCT FROM r.lang)
        |SELECT d.doc_id, d.lang, rt.keep_rate
        |FROM documents d JOIN rates rt ON d.lang IS NOT DISTINCT FROM rt.lang
        |WHERE d.doc_id % 9 = 0
        |  AND ('0x'||substr(md5(d.text),1,8))::BIGINT
        |      < floor(rt.keep_rate * 4294967296.0)::BIGINT
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      val drop = docs.filter(col("doc_id") % 5 === 0)
      val path = graft.sources.MixtureStore.defaultPath(dir, "roll")
      graft.sources.MixtureStore.ensureRolled(base, drop, path)
      CorpusStats.mixtureRebalance(
        graft.sources.MixtureStore.slices(s, path),
        docs.filter(col("doc_id") % 9 === 0))
        .orderBy(col("doc_id"))
    },

    // DATASHEET LIFECYCLE, retraction: a takedown slice leaves as
    // NEGATED counts; the served datasheet must equal the batch mixture
    // over the survivors exactly — every count and share visibly moves
    // retraction: the store after the takedown must equal the batch
    // datasheet over the SURVIVORS, bit-exactly (integer counts) —
    // and the STREAMED takedown (negated folds per drop) lands on the
    // identical survivor answer
    Entry("text_mixture_delete" -> mixtureOracleSql("WHERE doc_id % 7 <> 3")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val removed = docs.filter(col("doc_id") % 7 === 3)
      val path = graft.sources.MixtureStore.defaultPath(dir, "del")
      graft.sources.MixtureStore.ensureDeleted(docs, removed, path)
      graft.sources.MixtureStore.served(s, path)
        .orderBy(col("lang"), col("source"))
    },

    Entry("text_pack" ->
      """WITH sized AS (
        |  SELECT doc_id, len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        | cum AS (
        |  SELECT doc_id, n_tokens,
        |   coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pack_start
        |  FROM sized)
        |SELECT doc_id, n_tokens, pack_start,
        | (pack_start // 256)::BIGINT AS first_chunk,
        | ((pack_start + n_tokens - 1) // 256)::BIGINT AS last_chunk
        |FROM cum ORDER BY doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.packManifest(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // Packing manifest denominated in REAL BPE tokens (the unit a
    // training pipeline packs by), not whitespace words — same
    // two-level prefix-sum plan, different token counter.
    // same prefix-sum manifest, but sized by the replayed BPE counts
    Entry("text_pack_bpe" ->
      (s"WITH RECURSIVE $bpeCtes,\n" +
        """ docw AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
          |  FROM documents WHERE text IS NOT NULL),
          | sized AS (
          |  SELECT d.doc_id,
          |   coalesce((SELECT sum(t.n_tok) FROM docw
          |     JOIN wtok t USING (w)
          |     WHERE docw.doc_id = d.doc_id AND docw.w <> ''), 0)::BIGINT AS n_tokens
          |  FROM documents d WHERE d.text IS NOT NULL),
          | cum AS (
          |  SELECT doc_id, n_tokens,
          |   coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pack_start
          |  FROM sized)
          |SELECT doc_id, n_tokens, pack_start,
          | (pack_start // 256)::BIGINT AS first_chunk,
          | ((pack_start + n_tokens - 1) // 256)::BIGINT AS last_chunk
          |FROM cum ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      CorpusStats.packManifest(t(s, dir, "documents"),
        tokenCount = TF.bpeTokenCount)
        .orderBy(col("doc_id"))
    },

    // Weighted sampling without replacement (Efraimidis-Spirakis
    // order-statistic keys from the content hash) — longer documents
    // proportionally likelier, choice stable under re-ingest.
    Entry("text_weighted_sample" ->
      """SELECT doc_id, n_chars,
        | round(ln((('0x' || substr(md5(text), 1, 8))::BIGINT + 0.5) / 4294967296.0)
        |   / greatest(n_chars::DOUBLE, 1.0), 9) AS sample_key
        |FROM documents
        |ORDER BY sample_key DESC, doc_id LIMIT 50""".stripMargin) { (s, dir) =>
      CorpusStats.weightedSample(t(s, dir, "documents"))
        .orderBy(col("sample_key").desc, col("doc_id"))
    },

    Entry("text_mixture_sample" ->
      """WITH slices AS (
        |  SELECT lang, source,
        |   sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY 1, 2),
        | shares AS (
        |  SELECT lang, source,
        |   n_tokens::DOUBLE / (SELECT sum(n_tokens)::BIGINT FROM slices) AS token_share
        |  FROM slices),
        | weighted AS (
        |  SELECT lang, source, token_share, pow(token_share, 0.5) AS w FROM shares),
        | rates AS (
        |  SELECT lang, source,
        |   round(least(1.0, 0.25 * (w / (SELECT sum(w) FROM weighted)) / token_share), 6)
        |     AS sample_rate
        |  FROM weighted)
        |SELECT d.doc_id, d.lang, d.source, r.sample_rate
        |FROM documents d JOIN rates r
        |  ON d.lang IS NOT DISTINCT FROM r.lang
        | AND d.source IS NOT DISTINCT FROM r.source
        |WHERE ('0x'||substr(md5(d.text),1,8))::BIGINT
        |      < floor(r.sample_rate * 4294967296.0)::BIGINT
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.mixtureSample(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    Entry("q_active_users" ->
      """WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
        | dau AS (SELECT day, count(*)::BIGINT AS dau FROM du GROUP BY 1),
        | span AS (SELECT DISTINCT day FROM du),
        | wau AS (
        |   SELECT s.day, count(DISTINCT u.user_id)::BIGINT AS wau_7d
        |   FROM span s JOIN du u ON u.day BETWEEN s.day - 6 AND s.day
        |   GROUP BY 1)
        |SELECT d.day, d.dau, w.wau_7d FROM dau d JOIN wau w USING (day)
        |ORDER BY day""".stripMargin) { (s, dir) =>
      Relational.activeUsers(t(s, dir, "events"))
        .orderBy(col("day"))
    },

    Entry("q_copurchase" ->
      """WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        | pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        |  FROM basket a JOIN basket b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        |SELECT part_a, part_b, count(*)::BIGINT AS n_orders
        |FROM pairs GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin) { (s, dir) =>
      Relational.coPurchasePairs(t(s, dir, "lineitem"))
    },

    // Association rules (support/confidence/lift) over order baskets —
    // top-20 directed rules by lift ([[Relational.assocRules]]).
    Entry("q_assoc_rules" ->
      """WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        | tot AS (SELECT count(DISTINCT l_orderkey)::DOUBLE AS n_total FROM basket),
        | items AS (SELECT l_partkey, count(*)::BIGINT AS n_item
        |  FROM basket GROUP BY l_partkey),
        | pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |   count(*)::BIGINT AS n_ab
        |  FROM basket a JOIN basket b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, n_ab,
        | round(n_ab / t.n_total, 4) AS support,
        | round(n_ab::DOUBLE / ia.n_item, 4) AS confidence,
        | round((n_ab::DOUBLE / ia.n_item) / (ib.n_item / t.n_total), 4) AS lift
        |FROM pairs
        | JOIN items ia ON ia.l_partkey = part_a
        | JOIN items ib ON ib.l_partkey = part_b, tot t
        |ORDER BY lift DESC, part_a, part_b LIMIT 20""".stripMargin) { (s, dir) =>
      Relational.assocRules(t(s, dir, "lineitem"))
    },

    // 2-D Pareto skyline of parts (price lower-better × size
    // higher-better) via the two-level running max
    // ([[Relational.skyline2d]]); the oracle is the INDEPENDENT
    // quadratic NOT-EXISTS dominance formulation.
    // independent ground truth: the quadratic dominance NOT EXISTS —
    // the Spark plan's two-level running max must land on it exactly
    Entry("q_skyline" ->
      """SELECT p_partkey, p_name, p_retailprice, p_size
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice
        |    AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Relational.skyline2d(t(s, dir, "part"))
        .orderBy(col("p_partkey"))
    },

    Entry("q_retention" ->
      """WITH firsts AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
        | cohorts AS (SELECT user_id, date_trunc('week', first_ts)::DATE AS cohort_week FROM firsts),
        | sizes AS (SELECT cohort_week, count(*)::BIGINT AS n_cohort FROM cohorts GROUP BY 1),
        | act AS (
        |   SELECT c.cohort_week,
        |          (date_diff('day', c.cohort_week, e.ts::DATE) // 7)::BIGINT AS week_offset,
        |          e.user_id
        |   FROM events e JOIN cohorts c USING (user_id)),
        | m AS (SELECT cohort_week, week_offset, count(DISTINCT user_id)::BIGINT AS n_active FROM act GROUP BY 1,2)
        |SELECT m.cohort_week, m.week_offset, m.n_active, s.n_cohort,
        |       round(m.n_active::DOUBLE / s.n_cohort, 4) AS retention
        |FROM m JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
      Relational.cohortRetention(t(s, dir, "events"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // Weekly cohort LTV matrix: per-cohort cumulative revenue curve.
    // cohort LTV: DECIMAL(12,2) revenue sums stay exact through the
    // cumulative window; double cast + 4dp division happen last (§5)
    Entry("q_cohort_ltv" ->
      """WITH firsts AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
        | cohorts AS (SELECT user_id, date_trunc('week', first_ts)::DATE AS cohort_week FROM firsts),
        | sizes AS (SELECT cohort_week, count(*)::BIGINT AS n_cohort FROM cohorts GROUP BY 1),
        | p AS (
        |   SELECT c.cohort_week,
        |     (date_diff('day', c.cohort_week, e.ts::DATE) // 7)::BIGINT AS week_offset,
        |     CAST(e.value AS DECIMAL(12,2)) AS v
        |   FROM events e JOIN cohorts c USING (user_id)
        |   WHERE e.event_type = 'purchase'),
        | cell AS (SELECT cohort_week, week_offset, sum(v) AS rev FROM p GROUP BY 1, 2),
        | cum AS (SELECT *, sum(rev) OVER (PARTITION BY cohort_week
        |   ORDER BY week_offset) AS cum_rev FROM cell)
        |SELECT cum.cohort_week, cum.week_offset, s.n_cohort,
        | CAST(rev AS DOUBLE) AS revenue,
        | CAST(cum_rev AS DOUBLE) AS cum_revenue,
        | round(CAST(cum_rev AS DOUBLE) / s.n_cohort, 4) AS ltv_per_user
        |FROM cum JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
      Relational.cohortLtv(t(s, dir, "events"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // Customer decile gains chart: revenue concentration + lift.
    // decile lift: deterministic ntile order (spend desc, user_id);
    // DECIMAL spend sums exact, shares/lift rounded 4dp at the end
    Entry("q_decile_lift" ->
      """WITH spend AS (
        |  SELECT user_id, sum(CAST(value AS DECIMAL(12,2))) AS spend
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        | ranked AS (SELECT *, ntile(10) OVER (ORDER BY spend DESC, user_id) AS decile FROM spend),
        | d AS (SELECT decile, count(*)::BIGINT AS n_users, sum(spend) AS rev
        |   FROM ranked GROUP BY 1),
        | t AS (SELECT sum(n_users)::BIGINT AS t_users, sum(rev) AS t_rev FROM d),
        | c AS (SELECT d.*, t.t_users, t.t_rev,
        |   sum(rev) OVER (ORDER BY decile) AS cum_rev,
        |   sum(n_users) OVER (ORDER BY decile) AS cum_users FROM d, t)
        |SELECT decile::BIGINT AS decile, n_users,
        | CAST(rev AS DOUBLE) AS revenue,
        | round(CAST(rev AS DOUBLE) / CAST(t_rev AS DOUBLE), 4) AS rev_share,
        | round(CAST(cum_rev AS DOUBLE) / CAST(t_rev AS DOUBLE), 4) AS cum_rev_share,
        | round((CAST(cum_rev AS DOUBLE) / CAST(t_rev AS DOUBLE))
        |   / (CAST(cum_users AS DOUBLE) / CAST(t_users AS DOUBLE)), 4) AS lift
        |FROM c ORDER BY decile""".stripMargin) { (s, dir) =>
      Relational.decileLift(t(s, dir, "events"))
        .orderBy(col("decile"))
    },

    Entry("q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | GROUPING(l_returnflag)::INT AS g_rf,
        | GROUPING(l_linestatus)::INT AS g_ls,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY g_rf, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      Relational.marginalSummary(t(s, dir, "lineitem"))
        .orderBy(col("g_rf"), asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))
    },

    Entry("q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      Relational.rollupSummary(t(s, dir, "lineitem"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    Entry("q_pivot_platform" ->
      """SELECT CAST(ts AS DATE) AS period_day,
        | count(*) FILTER (WHERE event_type = 'click') AS n_click,
        | count(*) FILTER (WHERE event_type = 'error') AS n_error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        | count(*) FILTER (WHERE event_type = 'view') AS n_view,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY period_day ORDER BY period_day""".stripMargin) { (s, dir) =>
      Relational.platformPivotDaily(t(s, dir, "events"))
        .orderBy(col("period_day"))
    },

    Entry("q_agg_distinct" ->
      """SELECT CAST(ts AS DATE) AS period_day,
        | count(DISTINCT user_id) AS n_users,
        | count(DISTINCT event_type) AS n_types,
        | count(*) AS n_events
        |FROM events GROUP BY period_day ORDER BY period_day""".stripMargin) { (s, dir) =>
      Relational.dailyDistincts(t(s, dir, "events"))
        .orderBy(col("period_day"))
    },

    Entry("q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    Entry("q_set_ops" ->
      """SELECT 'both_95_96' AS tag, o_custkey FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |UNION ALL
        |SELECT 'only_95' AS tag, o_custkey FROM (
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |ORDER BY tag, o_custkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      def custs(y: Int) = o.filter(year(col("o_orderdate")) === y)
        .select(col("o_custkey")).distinct()
      val both = custs(1995).intersect(custs(1996))
        .withColumn("tag", lit("both_95_96"))
      val only95 = custs(1995).except(custs(1996))
        .withColumn("tag", lit("only_95"))
      both.unionByName(only95)
        .select(col("tag"), col("o_custkey"))
        .orderBy(col("tag"), col("o_custkey"))
    },

    Entry("q_histogram" ->
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(floor(col("value") / 50.0).cast("bigint").as("bin"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
        .orderBy(col("bin"))
    },

    Entry("q_percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50_value,
        | round(quantile_cont(value, 0.95), 6) AS p95_value,
        | count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Relational.percentiles(t(s, dir, "events")).orderBy(col("event_type"))
    },

    Entry("q_sketch_stats") { (s, dir) =>
      Relational.sketchStats(t(s, dir, "events")).orderBy(col("event_type"))
    },

    Entry("q_semi_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment, TRUE AS has_orders
        |FROM customer c WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, FALSE AS has_orders
        |FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Relational.customerOrderFlags(t(s, dir, "customer"), t(s, dir, "orders"))
        .orderBy(col("c_custkey"))
    },

    Entry("q_skew_join" ->
      """SELECT p_brand,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
      // salting is semantics-preserving, so the oracle is the PLAIN join —
      // the salted plan must produce row-identical results
      val small = t(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Skew.saltedJoin(
        t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity")),
        small, "l_partkey", factor = 8)
        .groupBy(col("p_brand"))
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("p_brand"))
    },

    Entry("q_rolling_7d" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(18,6))) AS dv, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |spine AS (
        |  SELECT et.event_type, d.day
        |  FROM (SELECT DISTINCT event_type FROM daily) et
        |  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds) d),
        |filled AS (
        |  SELECT s.event_type, s.day, dv, coalesce(n, 0) AS n
        |  FROM spine s LEFT JOIN daily USING (event_type, day))
        |SELECT event_type, day,
        |  CAST(sum(dv) OVER w AS DOUBLE) AS roll7_value,
        |  CAST(sum(n) OVER w AS BIGINT) AS roll7_events
        |FROM filled
        |WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      Relational.rolling7d(t(s, dir, "events"))
        .orderBy(col("event_type"), col("day"))
    },

    Entry("q_outliers" ->
      """WITH st AS (SELECT event_type, avg(value) AS mu,
        |            nullif(stddev_samp(value), 0) AS sigma
        |            FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, value, round((value - mu) / sigma, 4) AS z
        |FROM events e JOIN st USING (event_type)
        |WHERE abs(round((value - mu) / sigma, 4)) >= 2.5
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      Quality.zScoreOutliers(
          t(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
          "value", Seq("event_type"), threshold = 2.5)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy(col("event_id"))
    },

    Entry("q_incr_agg" -> incrAggSql) { (s, dir) =>
      // three simulated drops folded into the stored aggregate state —
      // the result must equal the one-shot aggregate over everything,
      // which is exactly what the oracle computes
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          col("ts").cast("date").as("day"), col("value"))
      val drops = (0 until 3).map(i =>
        ev.filter(col("event_id") % 3 === i).drop("event_id"))
      val spec = IncrementalAgg.Spec(sums = Seq("value"),
        mins = Seq("value"), maxs = Seq("value"))
      IncrementalAgg.foldAll(drops, Seq("event_type", "day"), spec)
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy(col("event_type"), col("day"))
    },

    Entry("scd2_history" -> scd2HistorySql) { (s, dir) =>
      // two simulated snapshot loads from the part dim: load 2 re-prices
      // every 10th part and introduces new keys for every 97th
      val part = t(s, dir, "part")
      val keys = Seq("p_partkey")
      val tracked = Seq("p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      val h0 = Scd2.init(part, keys, lit("2024-01-01"))
      val bumped = part.withColumn("p_retailprice",
        when(col("p_partkey") % 10 === 0, col("p_retailprice") * 1.1)
          .otherwise(col("p_retailprice")))
      val fresh = part.filter(col("p_partkey") % 97 === 0)
        .withColumn("p_partkey", col("p_partkey") + 1000000L)
      Scd2.merge(h0, bumped.unionByName(fresh), keys, tracked, lit("2024-02-01"))
        .orderBy(col("p_partkey"), col("effective_from"))
    },

    // The SCD2 read path: lineitem facts priced against the part-dim
    // version valid at each ship date (two versions: the 1995 init and
    // a 1998 re-price of every 10th part), rolled up by ship year ×
    // version. Facts before a key's first version drop out; facts after
    // the re-price resolve the new price — the temporal semantics the
    // history exists to answer.
    Entry("q_scd2_asof" ->
      """WITH hist AS (
        |  SELECT p_partkey, p_retailprice, DATE '1995-01-01' AS effective_from,
        |    CASE WHEN p_partkey % 10 = 0 THEN DATE '1998-01-01' END AS effective_to
        |  FROM part
        |  UNION ALL
        |  SELECT p_partkey, p_retailprice + 1.0, DATE '1998-01-01', NULL
        |  FROM part WHERE p_partkey % 10 = 0)
        |SELECT year(l_shipdate)::BIGINT AS ship_year, h.effective_from,
        |  count(*)::BIGINT AS n_items,
        |  CAST(sum(CAST(h.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS asof_price_sum
        |FROM lineitem l JOIN hist h ON h.p_partkey = l.l_partkey
        |  AND l.l_shipdate >= h.effective_from
        |  AND (h.effective_to IS NULL OR l.l_shipdate < h.effective_to)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val dim = t(s, dir, "part").select(col("p_partkey"), col("p_retailprice"))
      val h0 = Scd2.init(dim, Seq("p_partkey"), lit("1995-01-01"))
      // re-price by +1: exact in binary floating point, so the
      // double→DECIMAL cast downstream cannot diverge cross-engine the
      // way a *1.1 product could on a decimal-tie value (SURVEY §5)
      val bumped = dim.withColumn("p_retailprice",
        when(col("p_partkey") % 10 === 0, col("p_retailprice") + 1.0)
          .otherwise(col("p_retailprice")))
      val hist = Scd2.merge(h0, bumped, Seq("p_partkey"),
        Seq("p_retailprice"), lit("1998-01-01"))
      val facts = t(s, dir, "lineitem").select(col("l_partkey"), col("l_shipdate"))
      Scd2.asOf(hist, facts, "p_partkey", "l_partkey", "l_shipdate")
        .groupBy(year(col("l_shipdate")).cast("bigint").as("ship_year"),
          col("effective_from"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("p_retailprice").cast("decimal(12,2)")).cast("double")
            .as("asof_price_sum"))
        .orderBy(col("ship_year"), col("effective_from"))
    },

    Entry("q_cdc_diff" ->
      """WITH n AS (
        |  SELECT p_partkey, p_name, p_brand, p_type, p_size,
        |    CASE WHEN p_partkey % 7 = 0 THEN p_retailprice * 1.1 ELSE p_retailprice END AS p_retailprice
        |  FROM part WHERE p_partkey % 13 <> 0
        |  UNION ALL
        |  SELECT p_partkey + 1000000, p_name, p_brand, p_type, p_size, p_retailprice
        |  FROM part WHERE p_partkey % 31 = 0
        |), d AS (
        |  SELECT COALESCE(n.p_partkey, o.p_partkey) AS p_partkey,
        |    CASE WHEN o.p_partkey IS NULL THEN 'I'
        |         WHEN n.p_partkey IS NULL THEN 'D'
        |         WHEN (o.p_name IS DISTINCT FROM n.p_name) OR (o.p_brand IS DISTINCT FROM n.p_brand)
        |           OR (o.p_type IS DISTINCT FROM n.p_type) OR (o.p_size IS DISTINCT FROM n.p_size)
        |           OR (o.p_retailprice IS DISTINCT FROM n.p_retailprice) THEN 'U' END AS change_type,
        |    o.p_name AS old_p_name, n.p_name AS new_p_name,
        |    o.p_brand AS old_p_brand, n.p_brand AS new_p_brand,
        |    o.p_type AS old_p_type, n.p_type AS new_p_type,
        |    o.p_size AS old_p_size, n.p_size AS new_p_size,
        |    o.p_retailprice AS old_p_retailprice, n.p_retailprice AS new_p_retailprice
        |  FROM part o FULL OUTER JOIN n ON o.p_partkey = n.p_partkey
        |)
        |SELECT * FROM d WHERE change_type IS NOT NULL ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      // synthetic next-day snapshot: re-price every 7th part, drop every
      // 13th, insert a shifted copy of every 31st
      val part = t(s, dir, "part")
      val cur = part.filter(col("p_partkey") % 13 =!= 0)
        .withColumn("p_retailprice",
          when(col("p_partkey") % 7 === 0, col("p_retailprice") * 1.1)
            .otherwise(col("p_retailprice")))
        .unionByName(part.filter(col("p_partkey") % 31 === 0)
          .withColumn("p_partkey", col("p_partkey") + 1000000L))
      ChangeCapture.diff(part, cur, Seq("p_partkey"))
        .orderBy(col("p_partkey"))
    },

    Entry("q_bloom_prune" ->
      """SELECT p_size,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#13'
        |GROUP BY p_size ORDER BY p_size""".stripMargin) { (s, dir) =>
      // the prune is semantics-preserving (false positives fall to the
      // exact join), so the oracle is the PLAIN filtered join
      val dim = t(s, dir, "part").filter(col("p_brand") === "Brand#13")
        .select(col("p_partkey"), col("p_size"))
      val pruned = BloomPrune.reduce(
        t(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_extendedprice"), col("l_discount")),
        "l_partkey", dim, "p_partkey", expectedKeys = 100000L)
      pruned.join(broadcast(dim), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_size"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(10,2)") *
            (lit(1) - col("l_discount")).cast("decimal(4,2)")).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_size"))
    },

    Entry("text_heavy_hitters") { (s, dir) =>
      graft.functions.HeavyHitters.topTokens(t(s, dir, "documents"), "text", k = 16)
    },

    Entry("text_term_freq" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token FROM documents
        |), td AS (
        |  SELECT token, doc_id, count(*) AS n_in_doc FROM tok WHERE token <> '' GROUP BY 1, 2
        |)
        |SELECT token, count(*)::BIGINT AS n_docs, sum(n_in_doc)::BIGINT AS n_total
        |FROM td GROUP BY token
        |ORDER BY n_total DESC, token LIMIT 100""".stripMargin) { (s, dir) =>
      CorpusStats.termFrequencies(t(s, dir, "documents"))
    },

    Entry("text_lm_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS token FROM documents),
        | tk AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        | cnt AS (SELECT token, count(*)::BIGINT AS c FROM tk GROUP BY 1),
        | vocab AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 16),
        | tot AS (SELECT (SELECT sum(c)::BIGINT FROM cnt) AS t_total, (SELECT count(*)::BIGINT FROM vocab) AS v_n)
        |SELECT tk.doc_id, count(*)::BIGINT AS n_tokens,
        | round(avg(ln((coalesce(v.c,0)+1)::DOUBLE / (t.t_total + t.v_n + 1))), 4) AS lm_score,
        | round(sum(CASE WHEN v.c IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS oov_ratio
        |FROM tk LEFT JOIN vocab v USING (token) CROSS JOIN tot t
        |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.lmScore(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // CCNet tercile bucketing: lmScore replay + per-lang interpolated
    // terciles (quantile_cont ↔ Spark `percentile`, the q_rfm pairing;
    // strict > against a cut between ADJACENT order statistics is
    // classification-stable under last-ulp interpolation error) +
    // integer 1e4-scaled score mass (association-order-free sums)
    Entry("text_ccnet_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(text,'\s+')) AS token FROM documents),
        | tk AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        | cnt AS (SELECT token, count(*)::BIGINT AS c FROM tk GROUP BY 1),
        | vocab AS (SELECT token, c FROM cnt ORDER BY c DESC, token LIMIT 16),
        | tot AS (SELECT (SELECT sum(c)::BIGINT FROM cnt) AS t_total, (SELECT count(*)::BIGINT FROM vocab) AS v_n),
        | sc AS (SELECT tk.doc_id, count(*)::BIGINT AS n_tokens,
        |   round(avg(ln((coalesce(v.c,0)+1)::DOUBLE / (t.t_total + t.v_n + 1))), 4) AS lm_score
        |  FROM tk LEFT JOIN vocab v USING (token) CROSS JOIN tot t
        |  GROUP BY tk.doc_id),
        | sl AS (SELECT sc.*, d.lang FROM sc JOIN documents d USING (doc_id)),
        | th AS (SELECT lang, quantile_cont(lm_score, [1.0/3, 2.0/3]) AS t
        |        FROM sl GROUP BY lang),
        | b AS (SELECT sl.lang,
        |   CASE WHEN sl.lm_score > round(th.t[2], 4) THEN 'head'
        |        WHEN sl.lm_score > round(th.t[1], 4) THEN 'middle'
        |        ELSE 'tail' END AS bucket,
        |   sl.n_tokens, sl.lm_score
        |  FROM sl JOIN th USING (lang))
        |SELECT lang, bucket, count(*)::BIGINT AS n_docs,
        | sum(n_tokens)::BIGINT AS n_tokens,
        | sum(round(lm_score * 10000)::BIGINT)::BIGINT AS score_e4_sum,
        | min(lm_score) AS min_score, max(lm_score) AS max_score
        |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin) { (s, dir) =>
      CorpusStats.ccnetBuckets(t(s, dir, "documents"))
        .orderBy(col("lang"), col("bucket"))
    },

    // DSIR importance resampling: shared top-16 feature space, the
    // two unigram LMs as one conditional count pass, 1e4-scaled llr,
    // Gumbel-top-k key (score + standard Gumbel noise — exp-free)
    Entry("text_dsir_sample" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split_regex(text,'\s+')) AS token FROM documents),
        | tk AS (SELECT doc_id, lang, token FROM tok WHERE token <> ''),
        | cnt AS (SELECT token, count(*)::BIGINT AS c_raw,
        |   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS c_tgt
        |  FROM tk GROUP BY 1),
        | vocab AS (SELECT * FROM cnt ORDER BY c_raw DESC, token LIMIT 16),
        | tot AS (SELECT (SELECT count(*)::BIGINT FROM vocab) AS v_n,
        |   (SELECT sum(c_raw)::BIGINT FROM cnt) AS t_raw,
        |   (SELECT sum(c_tgt)::BIGINT FROM cnt) AS t_tgt),
        | model AS (SELECT v.token,
        |   round((ln((v.c_tgt + 1)::DOUBLE / (t.t_tgt + t.v_n + 1))
        |        - ln((v.c_raw + 1)::DOUBLE / (t.t_raw + t.v_n + 1))) * 10000)::BIGINT AS llr_e4
        |  FROM vocab v, tot t),
        | sc AS (SELECT tk.doc_id, sum(m.llr_e4)::BIGINT AS score_e4
        |  FROM tk JOIN model m USING (token) GROUP BY 1)
        |SELECT d.doc_id, d.lang, coalesce(sc.score_e4, 0)::BIGINT AS score_e4,
        | round(coalesce(sc.score_e4, 0)::DOUBLE / 10000.0
        |   - ln(-ln((('0x' || substr(md5(d.text), 1, 8))::BIGINT + 0.5) / 4294967296.0)), 9) AS sample_key
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY sample_key DESC, doc_id LIMIT 50""".stripMargin) { (s, dir) =>
      CorpusStats.dsirSample(t(s, dir, "documents"))
    },

    // Feature-hashed document embeddings ([[CorpusStats.docEmbed]]):
    // signed hashed bag-of-words into 16 dims, integer-exact raw votes
    // + 6-dp L2-normalized values — the model-free text→embedding
    // bridge, fully value-replayed by the oracle's bit-arithmetic.
    // feature hashing: dim = low 4 bits of the md5-prefix token hash,
    // sign = bit 4 (1 - 2*bit); integer vote sums, 6dp L2 normalize
    Entry("text_doc_embed" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        | h AS (SELECT doc_id, ('0x'||substr(md5(w),1,8))::BIGINT AS h
        |  FROM tok WHERE w <> ''),
        | raw AS (SELECT doc_id, (h & 15)::BIGINT AS dim_idx,
        |   sum(1 - 2 * ((h >> 4) & 1))::BIGINT AS raw
        |  FROM h GROUP BY doc_id, (h & 15)),
        | nrm AS (SELECT doc_id, sqrt(sum(raw * raw)) AS nrm
        |  FROM raw GROUP BY doc_id)
        |SELECT r.doc_id, r.dim_idx, r.raw,
        | CASE WHEN n.nrm = 0 THEN 0.0 ELSE round(r.raw / n.nrm, 6) END AS value
        |FROM raw r JOIN nrm n USING (doc_id)
        |ORDER BY doc_id, dim_idx""".stripMargin) { (s, dir) =>
      CorpusStats.docEmbed(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("dim_idx"))
    },

    Entry("text_split_assign" ->
      """SELECT doc_id,
        | ('0x'||substr(md5(text),1,8))::BIGINT % 100 AS bucket,
        | CASE WHEN ('0x'||substr(md5(text),1,8))::BIGINT % 100 < 98 THEN 'train'
        |      WHEN ('0x'||substr(md5(text),1,8))::BIGINT % 100 = 98 THEN 'valid'
        |      WHEN ('0x'||substr(md5(text),1,8))::BIGINT % 100 = 99 THEN 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.splitAssign(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // Bounded-state distinct-count sketch per language, with the exact
    // distinct count as its in-gate recall eval (KMV, k = 64).
    // KMV distinct sketch: the k smallest distinct md5-prefix hashes
    // replay as a row_number cut over distinct hashes; the estimator
    // (k-1)·2^32/h_(k) is exact-integer-fed double arithmetic, so the
    // approximate sketch is still HASH-exact across engines.
    Entry("text_distinct_sketch" -> kmvOracleSql(withExact = true)) { (s, dir) =>
      CorpusStats.kmvDistinct(t(s, dir, "documents"), k = 64)
        .orderBy(col("lang"))
    },

    // SKETCH LIFECYCLE, rollover: the persisted k-min state (SketchStore,
    // semilattice — no inverse, so no delete path exists BY DESIGN) folds
    // a 20% drop in with a sketch over the drop alone; k-min-of-union
    // equals the whole-corpus sketch bit-exactly (every global k-min hash
    // is within its own slice's k minima), so the batch oracle replays it
    // the served sketch store (rolled or streamed): k-min-of-union ==
    // whole-corpus sketch, replayed value-exactly (no exact column —
    // a served sketch cannot answer it, that is what the sketch is for)
    Entry("text_distinct_incremental" -> kmvOracleSql(withExact = false)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      val drop = docs.filter(col("doc_id") % 5 === 0)
      val path = graft.sources.SketchStore.defaultPath(dir, "roll")
      graft.sources.SketchStore.ensureRolled(base, drop, path)
      graft.sources.SketchStore.served(s, path).orderBy(col("lang"))
    },

    Entry("text_contamination" ->
      """WITH sp AS (SELECT doc_id, text,
        |    ('0x'||substr(md5(text),1,8))::BIGINT % 100 AS bucket FROM documents),
        | t AS (SELECT doc_id, bucket, string_split_regex(trim(text), '\s+') AS w FROM sp),
        | sh AS (SELECT doc_id, bucket,
        |    array_to_string(w[r.i + 1 : r.i + 4], ' ') AS shingle
        |   FROM t, range(0, 2000) r(i)
        |   WHERE r.i <= greatest(len(w) - 4, 0)),
        | train_sh AS (SELECT DISTINCT shingle FROM sh WHERE bucket < 98),
        | test_sh AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE bucket = 99)
        |SELECT ts.doc_id, count(*)::BIGINT AS n_shingles,
        |  sum(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
        |  round(sum(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS contamination
        |FROM test_sh ts LEFT JOIN train_sh tr USING (shingle)
        |GROUP BY ts.doc_id ORDER BY ts.doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.contamination(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // Decontamination ACTION ([[CorpusStats.decontaminate]]): the train
    // split scrubbed of every doc sharing a 4-gram shingle with any
    // test-split doc — shingles reduced to 60-bit keys before any
    // exchange.
    // decontamination ACTION: train docs sharing a 60-bit-hashed
    // 4-gram shingle with any test doc are removed; both engines join
    // on the same md5-prefix keys, so even a collision replays
    Entry("text_decontaminate" ->
      """WITH sp AS (SELECT doc_id, lang, source, n_chars, text,
        |    ('0x'||substr(md5(text),1,8))::BIGINT % 100 AS bucket FROM documents),
        | t AS (SELECT doc_id, bucket, string_split_regex(trim(text), '\s+') AS w FROM sp),
        | sh AS (SELECT doc_id, bucket,
        |    ('0x'||substr(md5(array_to_string(w[r.i + 1 : r.i + 4], ' ')),1,15))::BIGINT AS h
        |   FROM t, range(0, 2000) r(i)
        |   WHERE r.i <= greatest(len(w) - 4, 0)),
        | test_sh AS (SELECT DISTINCT h FROM sh WHERE bucket = 99),
        | bad AS (SELECT DISTINCT s.doc_id FROM sh s JOIN test_sh USING (h)
        |         WHERE s.bucket < 98)
        |SELECT doc_id, lang, source, n_chars FROM sp
        |WHERE bucket < 98 AND doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.decontaminate(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    Entry("text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        | base AS (
        |  SELECT doc_id, len(ws)::BIGINT AS n_words,
        |         len(list_distinct(ws))::BIGINT AS n_distinct FROM w),
        | toks AS (
        |  SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS tok FROM w),
        | big AS (
        |  SELECT a.doc_id, a.tok || ' ' || b.tok AS bigram
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        | top AS (
        |  SELECT doc_id, max(cnt)::BIGINT AS top_n FROM (
        |    SELECT doc_id, bigram, count(*) AS cnt FROM big GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT base.doc_id, base.n_words,
        | (base.n_words - base.n_distinct)::DOUBLE / base.n_words AS dup_word_ratio,
        | coalesce(top.top_n, 1)::DOUBLE / greatest(base.n_words - 1, 1) AS top_bigram_ratio
        |FROM base LEFT JOIN top ON base.doc_id = top.doc_id
        |ORDER BY base.doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.repetition(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    Entry("text_gopher" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
        | base AS (
        |  SELECT doc_id, len(ws)::BIGINT AS n_words,
        |   list_aggregate(list_transform(ws, x -> length(x)), 'sum')::DOUBLE / len(ws) AS mean_word_len,
        |   len(list_intersect(list_distinct(ws),
        |       ['the','a','and','of','to','in','is','on','for','with']))::BIGINT AS n_stopwords
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len, n_stopwords,
        | (n_words >= 30 AND n_words <= 80) AS flag_words,
        | (mean_word_len >= 4.0 AND mean_word_len <= 5.0) AS flag_word_len,
        | (n_stopwords >= 2) AS flag_stops,
        | ((n_words >= 30 AND n_words <= 80)
        |   AND (mean_word_len >= 4.0 AND mean_word_len <= 5.0)
        |   AND n_stopwords >= 2) AS keep
        |FROM base ORDER BY doc_id""".stripMargin) { (s, dir) =>
      CorpusStats.gopherQuality(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    Entry("text_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        | tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
        |        FROM toks WHERE token <> '' GROUP BY 1, 2),
        | df AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        | n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
        | scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |         round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 4) AS tfidf
        |  FROM tf JOIN df USING (token), n),
        | ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk::BIGINT AS rnk, token, tf, tfidf
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      CorpusStats.tfidf(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("rnk"))
    },

    // Naive Bayes distilled from the Gopher gate: top-256 vocab by total
    // count (token tie-break), Laplace smoothing over the vocab event
    // space, llr as a 1e-4-scaled BIGINT (integer score sums are
    // association-order-free; the round(ln*1e4) is the SURVEY §5 ulp
    // discipline). MATERIALIZED pins the shared CTEs to one evaluation.
    Entry("text_clf_train" ->
      (s"WITH ${clfTokenCtes("")},\n $clfCountCtes\n" +
        """SELECT token, cnt_pos, cnt_neg,
          | round((ln((cnt_pos + 1.0) / (tot_pos + v_n))
          |      - ln((cnt_neg + 1.0) / (tot_neg + v_n))) * 10000)::BIGINT AS llr_e4
          |FROM vocab, tot ORDER BY token""".stripMargin)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Classifier.nbTrain(docs, clfLabels(docs)).orderBy(col("token"))
    },

    Entry("text_clf_score" ->
      (s"WITH ${clfTokenCtes("")},\n $clfCountCtes,\n $clfScoreCtes\n" +
        """SELECT w.doc_id, len(w.ws)::BIGINT AS n_words,
          | (prior.prior_e4 + coalesce(c.tok_e4, 0))::BIGINT AS score_e4,
          | (prior.prior_e4 + coalesce(c.tok_e4, 0)) > 0 AS pred,
          | lab.label,
          | ((prior.prior_e4 + coalesce(c.tok_e4, 0)) > 0) = lab.label AS agree
          |FROM w LEFT JOIN contrib c USING (doc_id)
          |JOIN lab USING (doc_id) CROSS JOIN prior
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val labels = clfLabels(docs)
      Classifier
        .nbScore(docs, Classifier.nbTrain(docs, labels), Classifier.nbPrior(labels))
        .join(labels, Seq("doc_id"))
        .withColumn("agree", col("pred") === col("label"))
        .orderBy(col("doc_id"))
    },

    Entry("text_clf_eval" ->
      (s"WITH ${clfTokenCtes("")},\n $clfCountCtes,\n $clfScoreCtes,\n" +
        """ scored AS (
          |  SELECT w.doc_id,
          |   (prior.prior_e4 + coalesce(c.tok_e4, 0)) > 0 AS pred
          |  FROM w LEFT JOIN contrib c USING (doc_id) CROSS JOIN prior),
          | conf AS (
          |  SELECT lab.label, s.pred, count(*)::BIGINT AS n
          |  FROM scored s JOIN lab USING (doc_id) GROUP BY 1, 2),
          | totn AS (SELECT sum(n)::BIGINT AS n_total FROM conf)
          |SELECT label, pred, n, n::DOUBLE / n_total AS share
          |FROM conf, totn ORDER BY label, pred""".stripMargin)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val labels = clfLabels(docs)
      val scored = Classifier
        .nbScore(docs, Classifier.nbTrain(docs, labels), Classifier.nbPrior(labels))
      Classifier.nbConfusion(scored, labels)
        .orderBy(col("label"), col("pred"))
    },

    Entry("text_clf_retrain" -> clfRetrainOracleSql(0.7)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Classifier.nbRetrainServe(docs, clfLabels(docs)).orderBy(col("token"))
    },

    // model LIFECYCLE: rollover — the stored sufficient statistics fold
    // an 20% drop in via count deltas; the served model must be
    // indistinguishable from a fresh train over the union (the oracle IS
    // the full-corpus train chain)
    Entry("text_clf_incremental" -> clfModelOracleSql("")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      val drop = docs.filter(col("doc_id") % 5 === 0)
      val path = graft.sources.NbModelStore.defaultPath(dir, "roll")
      graft.sources.NbModelStore.ensureRolled(
        base, clfLabels(base), drop, clfLabels(drop), path)
      graft.sources.NbModelStore.model(s, path)
        .crossJoin(broadcast(graft.sources.NbModelStore.prior(s, path)))
        .orderBy(col("token"))
    },

    // model LIFECYCLE: retraction — takedown of one source slice as an
    // EXACT count subtraction (abelian deltas, no tombstone mask); the
    // served model must equal a fresh train over the survivors
    Entry("text_clf_delete" -> clfModelOracleSql("WHERE source <> 'src0'")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val removed = docs.filter(col("source") === "src0")
      val path = graft.sources.NbModelStore.defaultPath(dir, "del")
      graft.sources.NbModelStore.ensureDeleted(
        docs, clfLabels(docs), removed, clfLabels(removed), path)
      graft.sources.NbModelStore.model(s, path)
        .crossJoin(broadcast(graft.sources.NbModelStore.prior(s, path)))
        .orderBy(col("token"))
    },

    // the filtering ACTION: the corpus with model-rejected docs dropped —
    // one left-semi join of the predicted-keep id sliver against the
    // corpus (the text never rides through the scoring shuffle)
    Entry("text_clf_keep" ->
      (s"WITH ${clfTokenCtes("")},\n $clfCountCtes,\n $clfScoreCtes,\n" +
        """ kept AS (
          |  SELECT w.doc_id
          |  FROM w LEFT JOIN contrib c USING (doc_id) CROSS JOIN prior
          |  WHERE (prior.prior_e4 + coalesce(c.tok_e4, 0)) > 0)
          |SELECT d.doc_id, d.lang, d.source, d.n_chars
          |FROM documents d JOIN kept USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val labels = clfLabels(docs)
      val scored = Classifier
        .nbScore(docs, Classifier.nbTrain(docs, labels), Classifier.nbPrior(labels))
      docs.join(scored.filter(col("pred")).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    Entry("emb_quantize" ->
      """WITH dims AS (
        |  SELECT vec_id, generate_subscripts(embedding,1) AS pos, unnest(embedding) AS x FROM embeddings),
        | stats AS (SELECT pos, min(x)::DOUBLE AS mn, max(x)::DOUBLE AS mx FROM dims GROUP BY pos),
        | codes AS (
        |  SELECT d.vec_id,
        |    CASE WHEN s.mx = s.mn THEN 0
        |         ELSE floor((d.x::DOUBLE - s.mn) / ((s.mx - s.mn)/255) + 0.5) END AS code
        |  FROM dims d JOIN stats s USING (pos))
        |SELECT vec_id, count(*)::BIGINT AS n_dims, sum(code)::BIGINT AS sum_code,
        |       min(code)::BIGINT AS min_code, max(code)::BIGINT AS max_code
        |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Quantize.scalarCodes(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    },

    Entry("emb_norm" ->
      """WITH dims AS (
        |  SELECT generate_subscripts(embedding,1) AS pos, unnest(embedding) AS x FROM embeddings),
        | means AS (SELECT pos, round(sum(x::DOUBLE)/count(*), 6) AS mu FROM dims GROUP BY pos),
        | mv AS (SELECT list(mu ORDER BY pos) AS mvec FROM means),
        | c AS (
        |  SELECT e.vec_id, e.label, e.embedding,
        |   list_transform(list_zip(e.embedding, mv.mvec),
        |     p -> p[1]::DOUBLE - p[2]) AS cv
        |  FROM embeddings e, mv)
        |SELECT vec_id, label, len(embedding)::BIGINT AS n_dims,
        | round(sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x), 'sum')), 4) AS norm_before,
        | round(sqrt(list_aggregate(list_transform(cv, x -> x * x), 'sum')), 4) AS norm_centered,
        | round(list_aggregate(cv, 'sum'), 4) AS centered_sum
        |FROM c ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Quantize.normalizeAudit(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    },

    // Multi-touch marketing attribution: linear + inverse-age-decay
    // credit split across the views in each purchase's lookback window.
    // multi-touch: same interval join; decay = 1/(1+age_min) uses only
    // correctly-rounded IEEE add/divide (no pow), 4dp rounding absorbs
    // the per-purchase window-SUM order noise
    Entry("q_attribution_multitouch" ->
      """WITH v AS (SELECT user_id AS vu, event_id AS view_id, ts AS vts
        |   FROM events WHERE event_type = 'view'),
        | p AS (SELECT user_id, event_id AS purchase_id, ts AS pts, value
        |   FROM events WHERE event_type = 'purchase'),
        | j AS (SELECT p.purchase_id, v.view_id, p.user_id, p.value,
        |   date_diff('second', v.vts, p.pts)::DOUBLE / 60 AS age_min
        |  FROM p JOIN v ON v.vu = p.user_id AND v.vts < p.pts
        |   AND v.vts >= p.pts - INTERVAL 60 MINUTE),
        | w AS (SELECT *, 1::DOUBLE / (1::DOUBLE + age_min) AS raw_w,
        |   count(*) OVER (PARTITION BY purchase_id) AS n_touches,
        |   sum(1::DOUBLE / (1::DOUBLE + age_min))
        |     OVER (PARTITION BY purchase_id) AS sw FROM j)
        |SELECT purchase_id, view_id, user_id, n_touches::BIGINT AS n_touches,
        | round(age_min, 4) AS age_min,
        | round(1::DOUBLE / n_touches, 4) AS w_linear,
        | round(raw_w / sw, 4) AS w_decay,
        | round(value * round(raw_w / sw, 4), 4) AS attributed_value
        |FROM w ORDER BY purchase_id, view_id""".stripMargin) { (s, dir) =>
      AsOfJoin.multiTouch(t(s, dir, "events"))
        .orderBy(col("purchase_id"), col("view_id"))
    },

    // Z-order layout audit: per z-range file, the (custkey × date)
    // bounding rectangle the parquet footer index would carry.
    // z-order: the same magic-number bit spreading (masks 0x0F0F /
    // 0x3333 / 0x5555) spelled out in SQL — integer-exact end to end;
    // the 256-bucket scaling is one correctly-rounded double division
    // of exact integers, identical in both engines.
    Entry("q_zorder_layout" ->
      """WITH r AS (
        |  SELECT o_orderkey, o_custkey,
        |   datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
        | b AS (SELECT min(o_custkey) AS ckmin, max(o_custkey) AS ckmax,
        |   min(d) AS dmin, max(d) AS dmax FROM r),
        | s AS (SELECT o_orderkey,
        |   floor(((o_custkey - ckmin) * 256.0) / (ckmax - ckmin + 1))::BIGINT AS xb,
        |   floor(((d - dmin) * 256.0) / (dmax - dmin + 1))::BIGINT AS yb
        |  FROM r, b),
        | p1 AS (SELECT o_orderkey, xb, yb,
        |   ((xb | (xb << 4)) & 3855) AS sx, ((yb | (yb << 4)) & 3855) AS sy FROM s),
        | p2 AS (SELECT o_orderkey, xb, yb,
        |   ((sx | (sx << 2)) & 13107) AS sx, ((sy | (sy << 2)) & 13107) AS sy FROM p1),
        | p3 AS (SELECT o_orderkey, xb, yb,
        |   ((sx | (sx << 1)) & 21845) AS sx, ((sy | (sy << 1)) & 21845) AS sy FROM p2),
        | z AS (SELECT o_orderkey, xb, yb, ((sx << 1) | sy) AS zval FROM p3)
        |SELECT (zval >> 6) AS file_id, count(*) AS n_rows,
        | min(xb) AS ck_bucket_min, max(xb) AS ck_bucket_max,
        | min(yb) AS day_bucket_min, max(yb) AS day_bucket_max,
        | min(zval) AS z_min, max(zval) AS z_max
        |FROM z GROUP BY file_id ORDER BY file_id""".stripMargin) { (s, dir) =>
      ZOrder.ordersLayout(t(s, dir, "orders"))
        .orderBy(col("file_id"))
    },

    // JL ±1 random projection 64 → 16 dims with distortion audit.
    Entry("emb_project" -> embProjectOracle) { (s, dir) =>
      Quantize.randomProject(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    },

    Entry("q_fuzzy_names" ->
      """WITH nm AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM nm)
        |SELECT a.p_name AS name_a, c.p_name AS name_b,
        |  levenshtein(a.p_name, c.p_name)::BIGINT AS edit_dist
        |FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
        |WHERE levenshtein(a.p_name, c.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin) { (s, dir) =>
      FuzzyJoin.nearNames(t(s, dir, "part"), "p_name", maxDist = 2)
        .orderBy(col("name_a"), col("name_b"))
    },

    Entry("q_asof_attribution" ->
      """WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
        | p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, v.event_id AS view_id,
        | date_diff('second', v.ts, p.ts) AS gap_seconds
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts < p.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      AsOfJoin.attribution(t(s, dir, "events")).orderBy(col("purchase_id"))
    },

    // forward as-of with tolerance: explicit first-later-view replay
    // (row_number over (v.ts, v.event_id)) — unambiguous where ASOF
    // syntax support for forward comparators varies
    Entry("q_asof_forward" ->
      """WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
        | v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
        | j AS (SELECT p.event_id AS purchase_id, v.event_id AS next_view_id,
        |   v.ts AS vts, p.ts AS pts,
        |   row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts, v.event_id) AS rn
        |  FROM p JOIN v ON v.user_id = p.user_id AND v.ts > p.ts
        |   AND v.ts <= p.ts + INTERVAL 60 MINUTE)
        |SELECT p.event_id AS purchase_id, j.next_view_id,
        | CASE WHEN j.next_view_id IS NOT NULL
        |  THEN date_diff('second', p.ts, j.vts) END AS gap_seconds
        |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
        |  ON j.purchase_id = p.event_id
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      AsOfJoin.attributionForward(t(s, dir, "events"))
        .orderBy(col("purchase_id"))
    },

    Entry("q_range_interval" ->
      """SELECT e.event_id AS probe_id, count(*) AS n_nearby
        |FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
        |JOIN events x ON x.ts BETWEEN e.ts - INTERVAL 60 SECOND AND e.ts + INTERVAL 60 SECOND
        |GROUP BY probe_id ORDER BY probe_id""".stripMargin) { (s, dir) =>
      RangeJoin.nearbyCounts(t(s, dir, "events")).orderBy(col("probe_id"))
    },

    // Five-rule audit as TWO scans of events (one folded conditional
    // aggregate for the scan rules + the keyed uniqueness agg) plus the
    // per-table refIntegrity anti-join and part range agg — not one job
    // per rule.
    Entry("q_quality_checks" ->
      """SELECT 'events_event_id_not_null' AS rule, count(*) FILTER (WHERE event_id IS NULL) AS n_violations FROM events
        |UNION ALL
        |SELECT 'events_event_id_unique', coalesce(sum(cnt - 1), 0)::BIGINT FROM (
        |  SELECT count(*) AS cnt FROM events GROUP BY event_id) WHERE cnt > 1
        |UNION ALL
        |SELECT 'events_value_range', count(*) FILTER (WHERE value < 0.0 OR value > 1000000.0) FROM events
        |UNION ALL
        |SELECT 'lineitem_orderkey_ref', count(*) FROM lineitem l
        | WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'part_price_range', count(*) FILTER (WHERE p_retailprice < 0.01 OR p_retailprice > 1000000.0) FROM part
        |ORDER BY rule""".stripMargin) { (s, dir) =>
      val events = t(s, dir, "events")
      val lineitem = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
      val part = t(s, dir, "part")
      Quality.report(Seq(
        Quality.audit(events, Seq(
          Quality.NotNull("event_id", "events_event_id_not_null"),
          Quality.Unique("event_id", "events_event_id_unique"),
          Quality.InRange("value", 0.0, 1000000.0, "events_value_range"))),
        Quality.refIntegrity(lineitem, "l_orderkey", orders, "o_orderkey",
          "lineitem_orderkey_ref"),
        Quality.audit(part, Seq(
          Quality.InRange("p_retailprice", 0.01, 1000000.0, "part_price_range")))))
        .orderBy(col("rule"))
    }
  )

  // ------------------------------------------------------------ LLM ops

  // one-shot aggregate over all drops: shared verbatim by the batch
  // fold entry and the streamed-sink replay (same table by contract)
  private val incrAggSql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS n_rows,
      | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      | min(value) AS min_value, max(value) AS max_value
      |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin

  // two-load SCD2 history: shared verbatim by the batch merge entry
  // and the streamed-sink replay (same history by contract)
  private val scd2HistorySql: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice,
      | DATE '2024-01-01' AS effective_from,
      | CASE WHEN p_partkey % 10 = 0 THEN DATE '2024-02-01' END AS effective_to,
      | p_partkey % 10 <> 0 AS is_current
      |FROM part
      |UNION ALL
      |SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice * 1.1,
      | DATE '2024-02-01', NULL, true
      |FROM part WHERE p_partkey % 10 = 0
      |UNION ALL
      |SELECT p_partkey + 1000000, p_name, p_brand, p_type, p_size, p_retailprice,
      | DATE '2024-02-01', NULL, true
      |FROM part WHERE p_partkey % 97 = 0
      |ORDER BY p_partkey, effective_from""".stripMargin

  // recursive-CTE label propagation: shared verbatim by the local and
  // the forced-distributed cluster entries (same answer by contract)
  private def dedupClustersSqlWhere(nodeFilter: String): String =
    s"""WITH RECURSIVE probe_pairs AS (
      |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id
      |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
      |        AND ($nodeFilter)) p,
      |       (SELECT vec_id, embedding FROM embeddings WHERE $nodeFilter) c
      |  WHERE c.vec_id <> p.vec_id
      |   AND round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) >= 0.35),""".stripMargin +
    """
      | pairs AS (
      |  SELECT probe_id AS src, cand_id AS dst FROM probe_pairs
      |  UNION
      |  SELECT cand_id, probe_id FROM probe_pairs),
      | nodes AS (SELECT DISTINCT src AS node FROM pairs),
      | walk(start, node) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT w.start, p.dst FROM walk w JOIN pairs p ON p.src = w.node)
      |SELECT start AS node, min(node) AS component
      |FROM walk GROUP BY start ORDER BY node""".stripMargin

  private lazy val dedupClustersSql: String = dedupClustersSqlWhere("1 = 1")

  // the composite text-quality score — one law, shared by the
  // text_quality report, the dedup_keep_best canonicalization rule,
  // and the corpus pipeline's clean stage (CorpusStats.qualityScore)
  private def qualityScoreCol(c: Column): Column =
    graft.operators.CorpusStats.qualityScore(c)

  private def llmOpsEntries: Seq[Entry] = Seq(
    Entry("dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin) { (s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy(col("keep_id"))
    },

    // `dedup_exact` through the SQL FRONT DOOR — proves the front door
    // is not view-shaped only (the relational views have `spark.sql`
    // twins; this is the LLM-tier slice): the corpus registers as a
    // temp view and the exact-dedup law is the literal SQL a warehouse
    // user would port — the SAME 24-byte hash-keyed shuffle
    // ([[Dedup.textGroupKeys]]: two independent xxhash64 + length, the
    // document body never enters the exchange) reached from SQL, pinned
    // to the same oracle as the DataFrame twin.
    // sql_dedup_exact: the SQL-front-door twin — same law, same oracle
    // (one definition, two gated doors: DataFrame and spark.sql)
    Entry("sql_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").createOrReplaceTempView("graft_documents")
      s.sql(
        """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM graft_documents
          |GROUP BY xxhash64(text), length(text), xxhash64(1, text)
          |ORDER BY keep_id""".stripMargin)
    },

    // The windowed-analytics slice of the SQL front door (r15 verdict
    // item 8's breadth proof beyond `sql_dedup_exact` and the four
    // `sql_view_*` twins): `q_window_running` ported verbatim to
    // `spark.sql` over a registered temp view — running sum +
    // row_number windows — and gated against the SAME oracle as the
    // DataFrame twin (one ground truth, two front doors).
    // sql_q_window_running: the SQL-front-door twin — same ground
    // truth as the DataFrame windowed entry (one oracle, two doors)
    Entry("sql_q_window_running" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS DOUBLE) AS running_total,
        | CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS INT) AS order_seq
        |FROM orders ORDER BY o_custkey, order_seq""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("graft_orders")
      // exact-DECIMAL money through the cumulative window, double only
      // at the edge — the same §5 rulebook as the DataFrame twin
      s.sql(
        """WITH o AS (SELECT o_custkey, o_orderkey,
          |    CAST(o_orderdate AS DATE) AS o_orderdate,
          |    CAST(o_totalprice AS DECIMAL(12,2)) AS price_d
          |  FROM graft_orders)
          |SELECT o_custkey, o_orderkey, o_orderdate,
          |  CAST(price_d AS DOUBLE) AS o_totalprice,
          |  CAST(sum(price_d) OVER w AS DOUBLE) AS running_total,
          |  row_number() OVER w AS order_seq
          |FROM o
          |WINDOW w AS (PARTITION BY o_custkey
          |             ORDER BY o_orderdate, o_orderkey)
          |ORDER BY o_custkey, order_seq""".stripMargin)
    },

    Entry("dedup_keep" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.exactKeep(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    Entry("dedup_minhash" ->
      (s"WITH ${minhashCtes(wordShingleCte, 32, 8, 4)}\n" +
        """SELECT d.doc_id,
          | coalesce(p.n_candidates, 0)::BIGINT AS n_candidates,
          | coalesce(p.best_jaccard, 0.0) AS best_jaccard,
          | coalesce(p.is_near_dup, false) AS is_near_dup
          |FROM documents d LEFT JOIN (
          | SELECT doc_id, count(*)::BIGINT AS n_candidates,
          |  max(j) AS best_jaccard, bool_or(j >= 0.5) AS is_near_dup
          | FROM (SELECT id_a AS doc_id, j FROM ver
          |       UNION ALL SELECT id_b AS doc_id, j FROM ver)
          | GROUP BY doc_id) p USING (doc_id)
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents")).orderBy(col("doc_id"))
    },

    // Incremental near-dup: doc_id % 10 == 0 plays the NEW daily drop,
    // the other 90% the already-indexed corpus. The first call per JVM
    // signs the corpus and persists the band table via
    // [[graft.sources.MinhashIndexStore]]; every later call — including
    // later bench reps — joins the delta against the STORED index with
    // no corpus signature pass in the plan. Deterministic signatures
    // mean the stored index equals a replayed re-sign, so the query
    // keeps a full value oracle (the batch replay filtered to delta
    // ids).
    // incremental = the batch replay restricted to delta ids: a delta
    // doc's pairs all touch the delta, so its per-doc rollup over the
    // full candidate set equals the rollup over delta-involving pairs
    // — corpus-corpus pairs drop out in the join against the delta
    Entry("dedup_incremental" -> deltaMinhashOracle) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val delta = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val path = graft.sources.MinhashIndexStore.defaultPath(dir)
      graft.sources.MinhashIndexStore.ensure(corpus, path)
      Dedup.minhashNearDupsDelta(delta, corpus,
        graft.sources.MinhashIndexStore.bandsTable(s, path))
        .orderBy(col("doc_id"))
    },

    // Rollover lifecycle gate: the index serves THROUGH an append.
    // Base corpus = 80% of docs, drop 1 (doc_id % 10 == 5) is folded in
    // via [[graft.sources.MinhashIndexStore.append]], then drop 2
    // (doc_id % 10 == 0) queries the rolled index. The answer must
    // equal `dedup_incremental`'s (same oracle): an appended index
    // must be indistinguishable from a fresh build over corpus ∪ drop1.
    // the rollover twin serves the same answer THROUGH an append:
    // build(80%) + append(10%) must be indistinguishable from a fresh
    // index over the unioned corpus
    Entry("dedup_incremental_rollover" -> deltaMinhashOracle) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val delta2 = docs.filter(col("doc_id") % 10 === 0)
      val drop1 = docs.filter(col("doc_id") % 10 === 5)
      val base = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5)
      val path = graft.sources.MinhashIndexStore.defaultPath(dir) + "_roll"
      graft.sources.MinhashIndexStore.ensureRolled(base, drop1, path)
      Dedup.minhashNearDupsDelta(delta2,
        docs.filter(col("doc_id") % 10 =!= 0),
        graft.sources.MinhashIndexStore.bandsTable(s, path))
        .orderBy(col("doc_id"))
    },

    // Retraction lifecycle gate ([[graft.sources.MinhashIndexStore
    // .delete]]): the index is built over the full 90% corpus, then
    // doc_id % 10 == 5 is retracted (takedown / right-to-be-forgotten)
    // via the tombstone list — no index rewrite. The drop
    // (doc_id % 10 == 0) then queries the MASKED index and must see
    // exactly what a fresh index over the shrunken corpus would serve:
    // the oracle re-signs only the surviving docs.
    // the masked (tombstoned) index must serve exactly what a fresh
    // index over the shrunken corpus would: the oracle's corpus is the
    // survivors only
    Entry("dedup_incremental_delete" ->
      deltaMinhashOracleFrom(wordShingleCteWhere("doc_id % 10 <> 5"))) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val delta = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val removed = docs.filter(col("doc_id") % 10 === 5).select(col("doc_id"))
      val path = graft.sources.MinhashIndexStore.defaultPath(dir) + "_del"
      graft.sources.MinhashIndexStore.ensureDeleted(corpus, removed, path)
      Dedup.minhashNearDupsDelta(delta, docs,
        graft.sources.MinhashIndexStore.bandsTable(s, path))
        .orderBy(col("doc_id"))
    },

    // TOMBSTONE EPOCH gate (r18 — promotes the r17 epoch-aware
    // tombstone fix into the oracle the way `mm_phash_member_delete`
    // promoted the r16 boundary): the full delete → compact(purge) →
    // expire → RE-APPEND → RE-DELETE cycle on the KEYED minhash band
    // index, BOTH serve points gated in one answer.
    // Phase `reappended`: after the first takedown's rows are
    // physically purged AND its tombstones expired, the same content
    // re-ingests as a new batch layer and must SERVE — an unepoched
    // mask (`tombstones ∖ expired` as plain id sets) could never
    // re-admit a once-deleted id. Phase `redeleted`: a FRESH takedown
    // of the re-appended content (tombstone seq 2 > expired seq 1)
    // must re-enter the serve mask immediately — with set semantics
    // the second takedown is already "expired" and the retracted
    // content keeps serving (the r16 ADVICE bug class, now pinned by
    // the oracle forever). Oracles: fresh re-signs over the full
    // corpus / over the survivors.
    // the tombstone EPOCH cycle: purged+expired content re-appends and
    // serves; a fresh re-delete (seq 2 > expired seq 1) re-masks
    Entry("dedup_delete_reappend" -> reappendMinhashOracle) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val delta = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val takedown = docs.filter(col("doc_id") % 10 === 5)
      val ids = takedown.select(col("doc_id"))
      val MS = graft.sources.MinhashIndexStore
      val path = MS.defaultPath(dir) + "_reapp"
      // the lifecycle IS the gate — run it fresh every call (keyed
      // layout: compact purges physically but RETAINS the mask; expiry
      // is the explicit release step)
      graft.sources.StorePaths.wipe(s, path)
      MS.buildKeyed(corpus, path)
      MS.delete(ids, path)              // epoch 1
      MS.compact(s, path)               // physical purge, mask retained
      MS.expireTombstones(s, path)      // purged + rows-absent → released
      MS.appendBatch(takedown, path, 1L) // the content returns (epoch 2)
      // the delta side of the serve (election, signatures, internal
      // verify) is mask-INDEPENDENT — build it once, shared by both
      // phase serves (r18: the two serves each re-ran it)
      val side = Dedup.prepareDeltaSide(delta, shared = true)
      // a cut, not a recomputable pin: recomputing after the delete
      // below would read the mutated state
      val reappended = org.apache.spark.sql.GraftInternal.cut(
        Dedup.minhashNearDupsDeltaWith(side, delta, docs, MS.bandsTable(s, path))
          .withColumn("phase", lit("reappended")))
      MS.delete(ids, path)              // fresh takedown, seq 2 — re-masks
      val redeleted = Dedup.minhashNearDupsDeltaWith(side, delta, docs,
        MS.bandsTable(s, path))
        .withColumn("phase", lit("redeleted"))
      reappended.unionByName(redeleted)
        .orderBy(col("phase"), col("doc_id"))
    },

    // DECREMENTAL clustering ([[Dedup.connectedComponentsDecremental]]):
    // vec_id % 10 == 4 nodes are retracted from the stored labeling —
    // only their components re-solve on the surviving edges (a removed
    // bridge can SPLIT a cluster), untouched labels stream from the
    // store. Equals the batch re-solve over the shrunken edge set.
    // retraction: labels equal the batch re-solve over the edge set
    // with every retracted node's edges removed
    Entry("dedup_clusters_decr" -> dedupClustersSqlWhere("vec_id % 10 <> 4")) { (s, dir) =>
      // pinned: the pair pipeline (corpus distinct-vector collapse +
      // broadcast dot stage) is consumed by the store build AND by the
      // decremental solve's region joins — left lazy, each consumer
      // re-runs the whole collapse (§1.2 don't-compute-twice); the pin
      // is pair-grain (the entry's declared edge law) and recomputable
      val pairs = org.apache.spark.sql.GraftInternal.pinRecomputable(
        Dedup.embeddingNearDups(t(s, dir, "embeddings"))
          .select(col("probe_id").as("src"), col("cand_id").as("dst")))
      val path = graft.sources.CcLabelStore.defaultPath(dir) + "_decr"
      graft.sources.CcLabelStore.ensure(pairs, "src", "dst", path)
      val removed = t(s, dir, "embeddings")
        .filter(col("vec_id") % 10 === 4)
        .select(col("vec_id").as("node"))
      Dedup.connectedComponentsDecremental(
        graft.sources.CcLabelStore.labelsTable(s, path), pairs, removed,
        "src", "dst")
        .orderBy(col("node"))
    },

    // STREAMING retraction maintenance ([[graft.streaming.StreamReplay
    // .replayRetractionDrops]]): two takedown drops (vec_id % 20 == 4,
    // then % 20 == 14) stream through foreachBatch, each repairing the
    // stored labeling via the decremental blast-radius re-solve while
    // removals accumulate as an edge-store tombstone set. Removal order
    // can't move the fixpoint, so the batch re-solve over the shrunken
    // graph (same oracle as `dedup_clusters_decr`) gates the streamed
    // table.
    // ...and removal order can't move the fixpoint, so the STREAMED
    // takedown maintenance lands on the identical table
    Entry("stream_retract" -> dedupClustersSqlWhere("vec_id % 10 <> 4")) { (s, dir) =>
      graft.streaming.StreamReplay.replayRetractionDrops(s, dir)
        .orderBy(col("node"))
    },

    // Incremental EMBEDDING near-dup: vec_id % 10 == 0 plays the new
    // drop against the persisted signature index of the other 90%
    // ([[graft.sources.EmbLshIndexStore]]). `bits` comes from the
    // integer bucket-width law over the CATALOG total (corpus + drop)
    // — the same count the oracle's law CTE recomputes — so the stored
    // and replayed signatures agree bit-for-bit.
    // embedding incremental = the batch all-corpus LSH pair replay
    // (adaptive-bits law over the catalog total) restricted to pairs
    // touching the delta
    Entry("dedup_embedding_incremental" ->
      (s"WITH ${adaptiveBitsLshCtes(8)},\n" +
        """ pr AS (
          |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
          |  FROM sigs a JOIN sigs b ON a.table_id = b.table_id AND a.sig = b.sig
          |  WHERE a.vec_id < b.vec_id),
          | sc AS (
          |  SELECT pr.a_id, pr.b_id,
          |   round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cosine
          |  FROM pr JOIN embeddings ea ON ea.vec_id = pr.a_id
          |       JOIN embeddings eb ON eb.vec_id = pr.b_id)
          |SELECT a_id, b_id, cosine FROM sc
          |WHERE cosine >= 0.35 AND (a_id % 10 = 0 OR b_id % 10 = 0)
          |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val n = emb.filter(col("embedding").isNotNull).count()
      val bits = Dedup.adaptiveBits(n)
      val delta = emb.filter(col("vec_id") % 10 === 0)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val path = graft.sources.EmbLshIndexStore.defaultPath(dir, bits)
      graft.sources.EmbLshIndexStore.ensure(corpus, path, bits)
      Dedup.embeddingNearDupsDelta(delta, emb,
        graft.sources.EmbLshIndexStore.sigsTable(s, path), bits)
        .orderBy(col("a_id"), col("b_id"))
    },

    // EMBEDDING index RETRACTION ([[graft.sources.EmbLshIndexStore
    // .delete]]): vec_id % 10 == 5 vectors are taken down from the
    // stored signature index — a deletion-vector tombstone append plus
    // a masked serve view, never an index rewrite — and the delta
    // (vec_id % 10 == 0) must then near-dup exactly as it would against
    // a fresh index over the shrunken corpus. Bits stay FROZEN at the
    // build-time catalog total (a takedown masks rows, it never
    // re-derives the quantization). Completes the tombstone story for
    // the second of the three index families.
    // the masked (tombstoned) embedding index must serve the delta
    // exactly like a fresh index over the shrunken corpus: signature
    // rows exist only for survivors, the bits law stays on the full
    // build-time catalog (frozen quantization)
    Entry("dedup_embedding_delete" ->
      (s"WITH ${adaptiveBitsLshCtes(8, "e.vec_id % 10 <> 5")},\n" +
        """ pr AS (
          |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
          |  FROM sigs a JOIN sigs b ON a.table_id = b.table_id AND a.sig = b.sig
          |  WHERE a.vec_id < b.vec_id),
          | sc AS (
          |  SELECT pr.a_id, pr.b_id,
          |   round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cosine
          |  FROM pr JOIN embeddings ea ON ea.vec_id = pr.a_id
          |       JOIN embeddings eb ON eb.vec_id = pr.b_id)
          |SELECT a_id, b_id, cosine FROM sc
          |WHERE cosine >= 0.35 AND (a_id % 10 = 0 OR b_id % 10 = 0)
          |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val n = emb.filter(col("embedding").isNotNull).count()
      val bits = Dedup.adaptiveBits(n)
      val delta = emb.filter(col("vec_id") % 10 === 0)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val removed = emb.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
      val path = graft.sources.EmbLshIndexStore.defaultPath(dir, bits) + "_del"
      graft.sources.EmbLshIndexStore.ensureDeleted(corpus, removed, path, bits)
      Dedup.embeddingNearDupsDelta(delta, emb,
        graft.sources.EmbLshIndexStore.sigsTable(s, path), bits)
        .orderBy(col("a_id"), col("b_id"))
    },

    // INCREMENTAL clustering: the near-dup graph's labels are maintained
    // against a PERSISTED base labeling ([[graft.sources.CcLabelStore]])
    // — delta edges re-solve only their affected components; untouched
    // components stream from the store. The delta split keys on the
    // CANDIDATE side (`cand_id % 7 == 0`) — every pair's probe is a
    // vec_id % 20 == 0 row by construction, so a probe-side split would
    // leave the base EMPTY and the gate degenerate. Labels are
    // component-minimum ids, so the answer equals the batch re-solve —
    // same oracle as dedup_clusters.
    // labels are component-minimum ids: the incremental maintenance
    // answer is definitionally the batch re-solve — same oracle
    Entry("dedup_clusters_incr" -> dedupClustersSql) { (s, dir) =>
      // pinned for the same reason as the decremental twin: base and
      // delta slices, the store build, and the blast-radius solve would
      // each re-run the corpus collapse + dot stage
      val pairs = org.apache.spark.sql.GraftInternal.pinRecomputable(
        Dedup.embeddingNearDups(t(s, dir, "embeddings")))
      val isDelta = col("cand_id") % 7 === 0
      val base = pairs.filter(!isDelta)
      val delta = pairs.filter(isDelta)
      val path = graft.sources.CcLabelStore.defaultPath(dir)
      graft.sources.CcLabelStore.ensure(base, "probe_id", "cand_id", path)
      Dedup.connectedComponentsIncremental(
        graft.sources.CcLabelStore.labelsTable(s, path),
        base, delta, "probe_id", "cand_id")
        .orderBy(col("node"))
    },

    // Near-dup keep-lowest ACTION ([[Dedup.minhashKeep]]): the corpus
    // with every Jaccard ≥ 0.5 near-dup of a lower id removed.
    // near-dup keep-lowest action: survivors after dropping every
    // verified higher-id near-dup
    Entry("dedup_minhash_keep" ->
      (s"WITH ${minhashCtes(wordShingleCte, 32, 8, 4)}\n" +
        """SELECT doc_id, lang, source, n_chars FROM documents
          |WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM ver WHERE j >= 0.5)
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Dedup.minhashKeep(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Near-dup keep-BEST action ([[Dedup.minhashKeepBest]]): clusters
    // over the verified near-dup graph; within each cluster the
    // HIGHEST-quality document (graft's composite text-quality score,
    // ties to lowest id) survives — the canonicalization rule curation
    // pipelines use when a mirror copy is cleaner than the original.
    // near-dup keep-BEST action: clusters over the verified pair
    // graph (same min-label recursion as dedup_clusters, but on the
    // minhash `ver` edges), then the quality-law argmax per component
    // — survivors are everything outside a cluster plus each
    // cluster's highest-quality doc (ties to lowest id)
    Entry("dedup_keep_best" -> keepBestOracle) { (s, dir) =>
      // scored form: the quality law runs at CLUSTERED-NODE grain by
      // construction (the frame form scored the whole corpus — 164 of
      // 185 s at ~sf100, r16 anatomy); value-identical, same oracle
      Dedup.minhashKeepBestScored(t(s, dir, "documents"), qualityScoreCol)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Near-dup cluster-size DATASHEET: how many duplicate clusters of
    // each size the corpus holds — the audit number a curation run
    // reports next to its dedup action (a heavy tail of giant clusters
    // means boilerplate/mirror infestation; all-2 clusters mean benign
    // twins). One groupBy over the component labels (cluster-node
    // grain, ≪ corpus) then a groupBy over sizes (≤ max-cluster-size
    // rows) — nothing at data grain beyond the banded pair pass.
    // cluster-size histogram over the same component labels: wrap the
    // recursive label solve as a subquery and fold twice
    Entry("dedup_cluster_stats" ->
      s"""SELECT cluster_size, count(*)::BIGINT AS n_clusters
         |FROM (SELECT component, count(*)::BIGINT AS cluster_size
         |      FROM ($dedupClustersSql) GROUP BY component)
         |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin) { (s, dir) =>
      // spanning edge feed (see `dedup_clusters`): component node sets are
      // identical, so the size histogram is too
      Dedup.connectedComponents(
          Dedup.embeddingNearDupSpanningEdges(t(s, dir, "embeddings")),
          "src", "dst")
        .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    },

    // Tokenizer COMPRESSION eval per corpus slice: chars-per-BPE-token
    // for every (lang, source) — the drift dashboard that tells a
    // training pipeline when its frozen merge table stops fitting the
    // incoming mix (compression collapsing toward 1 char/token on a
    // new slice = the tokenizer fragments it). One map-side-combined
    // aggregate over the corpus; the BPE count is the per-row codegen
    // path `text_tokens_bpe` gates.
    // per-slice compression: the same frozen-merge-table BPE replay as
    // text_tokens_bpe, aggregated to (lang, source)
    Entry("text_bpe_eval" ->
      (s"WITH RECURSIVE $bpeCtes,\n" +
        """ docw AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
          |  FROM documents WHERE text IS NOT NULL),
          | dt AS (SELECT docw.doc_id, sum(t.n_tok)::BIGINT AS bpe
          |  FROM docw JOIN wtok t USING (w) WHERE docw.w <> ''
          |  GROUP BY docw.doc_id),
          | per AS (SELECT d.doc_id, d.lang, d.source,
          |   length(d.text)::BIGINT AS n_chars,
          |   coalesce(dt.bpe, 0)::BIGINT AS bpe
          |  FROM documents d LEFT JOIN dt USING (doc_id)
          |  WHERE d.text IS NOT NULL)
          |SELECT lang, source, count(*)::BIGINT AS n_docs,
          | sum(n_chars)::BIGINT AS n_chars,
          | sum(bpe)::BIGINT AS bpe_tokens,
          | round(sum(n_chars)::DOUBLE / sum(bpe), 4) AS chars_per_token
          |FROM per GROUP BY lang, source ORDER BY lang, source""".stripMargin)) { (s, dir) =>
      t(s, dir, "documents").filter(col("text").isNotNull)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("n_chars"),
          sum(TF.bpeTokenCount(col("text"))).cast("long").as("bpe_tokens"),
          round(sum(length(col("text"))).cast("double")
            / sum(TF.bpeTokenCount(col("text"))), 4).as("chars_per_token"))
        .orderBy(col("lang"), col("source"))
    },

    // STREAMING keep-best canonicalization maintenance
    // ([[graft.streaming.StreamReplay.replayKeepBestDrops]]): two doc
    // drops stream through foreachBatch; each batch folds new verified
    // edges into a maintained pair store and rebuilds the canonical
    // table from stored state — retroactively RETRACTING an earlier
    // survivor when a later drop delivers a cleaner mirror. Arrival
    // order can't move the cluster/argmax fixpoint, so the batch
    // keep-best replay gates the streamed table (same oracle as
    // `dedup_keep_best`).
    // the STREAMED maintenance lands on the identical canonical
    // table: arrival order can't move the cluster/argmax fixpoint
    // (cross-drop twins enter as J=1.0 edges and lose every argmax to
    // their lower-id mirror), so the batch replay gates the stream
    Entry("stream_keep_best" -> keepBestOracle) { (s, dir) =>
      graft.streaming.StreamReplay.replayKeepBestDrops(s, dir)
        .orderBy(col("doc_id"))
    },

    // STREAMING cluster maintenance: two near-dup edge drops stream
    // through [[graft.streaming.StreamReplay.replayClusterDrops]] —
    // each micro-batch folds into the stored labeling incrementally
    // (blast-radius re-solve only, stored edges appended to match).
    // Labels are component-min ids, so the streamed table equals the
    // batch re-solve — same oracle as dedup_clusters.
    // ...and drop order cannot change the min-label fixpoint, so the
    // STREAMED maintenance lands on the identical table
    Entry("stream_clusters_incr" -> dedupClustersSql) { (s, dir) =>
      graft.streaming.StreamReplay.replayClusterDrops(s, dir)
        .orderBy(col("node"))
    },

    Entry("dedup_simhash" ->
      (s"WITH $simhashCtes,\n" +
        """ chunks AS (
          |  SELECT doc_id, c AS chunk_idx, ((sig_u >> (c * 16)) & 65535)::BIGINT AS chunk
          |  FROM sigs, (SELECT unnest(range(0, 4)) AS c)),
          | prs AS (
          |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM chunks a JOIN chunks b
          |    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
          |  WHERE a.doc_id < b.doc_id),
          | near AS (
          |  SELECT id_a, id_b, bit_count(xor(sa.sig_u, sb.sig_u)) AS hamming
          |  FROM prs JOIN sigs sa ON sa.doc_id = id_a
          |       JOIN sigs sb ON sb.doc_id = id_b
          |  WHERE bit_count(xor(sa.sig_u, sb.sig_u)) <= 3),
          | perdoc AS (
          |  SELECT doc_id, count(*)::BIGINT AS n_near, min(hamming) AS min_hamming
          |  FROM (SELECT id_a AS doc_id, hamming FROM near
          |        UNION ALL SELECT id_b AS doc_id, hamming FROM near)
          |  GROUP BY doc_id)
          |SELECT s.doc_id, s.simhash,
          | coalesce(p.n_near, 0)::BIGINT AS n_near,
          | coalesce(p.min_hamming, 64)::INT AS min_hamming
          |FROM sigs s LEFT JOIN perdoc p USING (doc_id)
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents")).orderBy(col("doc_id"))
    },

    Entry("dedup_ngram" ->
      (s"WITH ${minhashCtes(charGramCte, 64, 4, 16)}\n" +
        """SELECT d.doc_id,
          | coalesce(p.n_candidates, 0)::BIGINT AS n_candidates,
          | coalesce(p.best_gram_jaccard, 0.0) AS best_gram_jaccard
          |FROM documents d LEFT JOIN (
          | SELECT doc_id, count(*)::BIGINT AS n_candidates,
          |  max(j) AS best_gram_jaccard
          | FROM (SELECT id_a AS doc_id, j FROM ver
          |       UNION ALL SELECT id_b AS doc_id, j FROM ver)
          | GROUP BY doc_id) p USING (doc_id)
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      Dedup.ngramNearDups(t(s, dir, "documents")).orderBy(col("doc_id"))
    },

    Entry("dedup_embedding" ->
      """WITH p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0)
        |SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        | round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cosine
        |FROM p, embeddings c
        |WHERE c.vec_id <> p.vec_id
        | AND round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) >= 0.35
        |ORDER BY probe_id, cand_id""".stripMargin) { (s, dir) =>
      Dedup.embeddingNearDups(t(s, dir, "embeddings"))
        .orderBy(col("probe_id"), col("cand_id"))
    },

    Entry("dedup_clusters" -> dedupClustersSql) { (s, dir) =>
      // clustering consumes the SPANNING edge form, not the pair-grain
      // re-expansion: components (and component-min labels, hence the
      // pair-grain oracle) are identical, but the edge volume is
      // O(members + rep pairs) instead of quadratic in twin-group size —
      // the 1000×-replica decade OOMed the pair-grain materialization
      Dedup.connectedComponents(
        Dedup.embeddingNearDupSpanningEdges(t(s, dir, "embeddings")),
        "src", "dst")
        .orderBy(col("node"))
    },

    // identical answer, distributed path forced — same oracle
    Entry("dedup_clusters_dist" -> dedupClustersSql) { (s, dir) =>
      // same answer as dedup_clusters, but localThreshold = 0 forces the
      // DISTRIBUTED min-label propagation loop — the path a >1M-edge
      // graph takes at scale — to produce the gated result; without this
      // entry the gate only ever exercises the driver union-find
      Dedup.connectedComponents(
        Dedup.embeddingNearDupSpanningEdges(t(s, dir, "embeddings")),
        "src", "dst",
        localThreshold = 0L)
        .orderBy(col("node"))
    },

    // The all-corpus near-dup pair graph (no probe subset): LSH-bucket
    // candidate generation + exact-cosine verify. Full value oracle —
    // the seeded hyperplane weights are embedded into the SQL, so
    // DuckDB replays buckets, candidates, and cosines exactly.
    // all-corpus LSH near-dup pairs: 8 tables, ADAPTIVE bits per table
    // — the full 8×16 candidate plane matrix is embedded as literals
    // (same seeded generator as the operator) and the bucket-width law
    // is recomputed in SQL, so the bucket candidate set and the
    // threshold verify replay value-for-value at every SF.
    Entry("dedup_embedding_all" ->
      (s"WITH ${adaptiveBitsLshCtes(8)},\n" +
        """ pr AS (
          |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
          |  FROM sigs a JOIN sigs b ON a.table_id = b.table_id AND a.sig = b.sig
          |  WHERE a.vec_id < b.vec_id),
          | sc AS (
          |  SELECT pr.a_id, pr.b_id,
          |   round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cosine
          |  FROM pr JOIN embeddings ea ON ea.vec_id = pr.a_id
          |       JOIN embeddings eb ON eb.vec_id = pr.b_id)
          |SELECT a_id, b_id, cosine FROM sc WHERE cosine >= 0.35
          |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      // bits from the operator's adaptive bucket-width default (a count
      // probe): candidates stay ∝ N²/2^bits with 2^bits growing with N,
      // so the gate exercises the config you'd actually run at scale.
      // The pinned-bits form (bitsPerTable = 4 ⇒ candidates ∝ N²/16) is
      // a spec-only teaching case in DedupSpec; the oracle here embeds
      // the full 8×16 plane matrix and recomputes the integer law in SQL.
      Dedup.embeddingNearDupsAll(t(s, dir, "embeddings"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // Embedding near-dup keep-lowest ACTION — the `dedup_minhash_keep`
    // twin for the vector family, completing the action matrix (both
    // near-dup families now have detection AND a materialized keep):
    // every vector with a verified cosine ≥ 0.35 partner of LOWER id
    // drops; the drop set is the b-side of the all-corpus pair graph
    // (`a_id < b_id` by construction), so the action is one anti-join
    // of a tiny id frame against the catalog — candidates stay banded,
    // never all-pairs.
    // keep-lowest action over the all-corpus pair graph: survivors
    // are the catalog minus every verified higher-id partner (b-side
    // of the a<b pair frame); NULL-embedding rows never pair and pass
    // through
    Entry("dedup_embedding_keep" ->
      (s"WITH ${adaptiveBitsLshCtes(8)},\n" +
        """ pr AS (
          |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
          |  FROM sigs a JOIN sigs b ON a.table_id = b.table_id AND a.sig = b.sig
          |  WHERE a.vec_id < b.vec_id),
          | sc AS (
          |  SELECT pr.a_id, pr.b_id,
          |   round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cosine
          |  FROM pr JOIN embeddings ea ON ea.vec_id = pr.a_id
          |       JOIN embeddings eb ON eb.vec_id = pr.b_id)
          |SELECT vec_id FROM embeddings
          |WHERE vec_id NOT IN (SELECT DISTINCT b_id FROM sc WHERE cosine >= 0.35)
          |ORDER BY vec_id""".stripMargin)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val dropped = Dedup.embeddingNearDupsAll(emb)
        .select(col("b_id").as("vec_id")).distinct()
      emb.join(dropped, Seq("vec_id"), "left_anti")
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    },

    Entry("dedup_embedding_auto" ->
      (s"WITH ${autoLshCtes(0.35, 0.9, 32)},\n" +
        """ pr AS (
          |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
          |  FROM sigs a JOIN sigs b ON a.table_id = b.table_id AND a.sig = b.sig
          |  WHERE a.vec_id < b.vec_id),
          | sc AS (
          |  SELECT pr.a_id, pr.b_id,
          |   round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cosine
          |  FROM pr JOIN embeddings ea ON ea.vec_id = pr.a_id
          |       JOIN embeddings eb ON eb.vec_id = pr.b_id)
          |SELECT a_id, b_id, cosine FROM sc WHERE cosine >= 0.35
          |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      // nothing pinned: bits from the integer bucket-width law (count
      // probe), tables from the recall coupling — the oracle replays
      // BOTH laws, so this entry proves the adaptive path, not a constant
      Dedup.embeddingNearDupsAuto(t(s, dir, "embeddings"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // SemDeDup replay at RAW grain: the kmeans CTE chain, within-cluster
    // pairs at 4dp cosine ≥ 0.35, keep-lowest-id over the neighbor set —
    // the Spark side computes the identical answer at rep grain (twins
    // fold in as group sizes) and expands
    Entry("dedup_semantic" ->
      (s"WITH ${kmeansCtes(8, 3)},\n" +
        """ asg AS (SELECT vec_id, cluster FROM a3),
          | pr AS (
          |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
          |  FROM asg a JOIN asg b ON a.cluster = b.cluster
          |   AND a.vec_id < b.vec_id
          |  JOIN pts pa ON pa.vec_id = a.vec_id
          |  JOIN pts pb ON pb.vec_id = b.vec_id
          |  WHERE round(list_cosine_similarity(pa.x, pb.x), 4) >= 0.35),
          | nb AS (SELECT a_id AS vec_id, b_id AS nbr FROM pr
          |  UNION ALL SELECT b_id, a_id FROM pr),
          | st AS (SELECT vec_id, count(*)::BIGINT AS n_dups, min(nbr) AS min_nbr
          |  FROM nb GROUP BY 1)
          |SELECT a.vec_id, a.cluster, coalesce(st.n_dups, 0)::BIGINT AS n_dups,
          | (st.min_nbr IS NULL OR st.min_nbr > a.vec_id) AS kept
          |FROM asg a LEFT JOIN st USING (vec_id) ORDER BY vec_id""".stripMargin)) { (s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    },

    // Incremental SemDeDup: the 90% corpus trains a PERSISTED IVF index
    // (its own path — the knn family's full-corpus index must not
    // satisfy this lifecycle), the 10% drop routes against the FROZEN
    // cells and near-dups against the stored lists + itself. The oracle
    // retrains the corpus kmeans in SQL, re-derives the stored
    // centroids (sum/count 6dp), replays the drop's frozen-quantizer
    // assignment (4dp d2 argmin, ties cell asc) and the same-cell
    // candidate → cosine-verify chain.
    // incremental SemDeDup: corpus kmeans retrained in SQL, stored
    // centroids re-derived (sum/count 6dp — what build persists), the
    // drop assigned against those FROZEN centroids by the append law
    // (4dp d2 argmin, ties cell asc), same-cell candidates verified
    Entry("dedup_semantic_incremental" ->
      (s"WITH ${kmeansCtes(8, 3, " AND vec_id % 10 <> 0")},\n" +
        """ lab AS (SELECT e.vec_id, e.embedding, a3.cluster AS cell
          |  FROM embeddings e JOIN a3 USING (vec_id)),
          | tc0 AS (
          |  SELECT cell, i, round(sum(v::DOUBLE) / count(*), 6) AS cv
          |  FROM (SELECT cell, generate_subscripts(embedding, 1) AS i,
          |        unnest(embedding) AS v FROM lab)
          |  GROUP BY cell, i),
          | tcents AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM tc0 GROUP BY cell),
          | dpts AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS x,
          |   list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS xx
          |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 10 = 0),
          | dlab AS (SELECT vec_id, cell FROM (
          |   SELECT d.vec_id, c.cell,
          |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
          |      round(d.xx - 2.0 * list_dot_product(d.x, c.cvec)
          |        + list_dot_product(c.cvec, c.cvec), 4), c.cell) AS rn
          |   FROM dpts d, tcents c) WHERE rn = 1),
          | cand AS (
          |  SELECT least(l.vec_id, d.vec_id) AS a_id,
          |         greatest(l.vec_id, d.vec_id) AS b_id
          |  FROM dlab d JOIN lab l ON l.cell = d.cell AND l.vec_id <> d.vec_id
          |  UNION
          |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
          |  FROM dlab a JOIN dlab b ON a.cell = b.cell AND a.vec_id < b.vec_id)
          |SELECT c.a_id, c.b_id,
          | round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cosine
          |FROM cand c JOIN embeddings ea ON ea.vec_id = c.a_id
          |JOIN embeddings eb ON eb.vec_id = c.b_id
          |WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) >= 0.35
          |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val delta = emb.filter(col("vec_id") % 10 === 0)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val path = graft.sources.StorePaths.keyedTmp("ivfsem", dir)
      graft.sources.IvfIndexStore.ensure(corpus, path)
      Dedup.semanticNearDupsDelta(emb,
        graft.sources.IvfIndexStore.cellsTable(s, path)
          .select(col("vec_id"), col("cell")),
        graft.sources.IvfIndexStore.assignCells(s, delta, path))
        .orderBy(col("a_id"), col("b_id"))
    },

    // The BOUNDED rep-grain serving form of the incremental semantic
    // delta (the `mm_phash_reps` device): one row per twin-group pair
    // with the exact member-pair multiplicity — answer cardinality
    // replica-INVARIANT where the pair expansion grows ~R² (measured:
    // the pair form read 66 s at the 1000× replica decade on output
    // mass alone; this form stays at the distinct-value grain).
    // the rep-grain serving form: same chain, answer at twin-group
    // grain with exact member-pair multiplicities (lists group
    // directly in DuckDB; `//` keeps the C(n,2) mass integral)
    Entry("dedup_semantic_incremental_reps" ->
      (s"WITH ${kmeansCtes(8, 3, " AND vec_id % 10 <> 0")},\n" +
        """ lab AS (SELECT e.vec_id, e.embedding, a3.cluster AS cell
          |  FROM embeddings e JOIN a3 USING (vec_id)),
          | tc0 AS (
          |  SELECT cell, i, round(sum(v::DOUBLE) / count(*), 6) AS cv
          |  FROM (SELECT cell, generate_subscripts(embedding, 1) AS i,
          |        unnest(embedding) AS v FROM lab)
          |  GROUP BY cell, i),
          | tcents AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM tc0 GROUP BY cell),
          | dpts AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS x,
          |   list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS xx
          |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 10 = 0),
          | dlab AS (SELECT vec_id, embedding, cell FROM (
          |   SELECT d.vec_id, d.embedding, c.cell,
          |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
          |      round(d.xx - 2.0 * list_dot_product(d.x, c.cvec)
          |        + list_dot_product(c.cvec, c.cvec), 4), c.cell) AS rn
          |   FROM dpts d, tcents c) WHERE rn = 1),
          | sreps AS (SELECT cell, embedding, min(vec_id) AS rep,
          |   count(*)::BIGINT AS n FROM lab GROUP BY cell, embedding),
          | dreps AS (SELECT cell, embedding, min(vec_id) AS rep,
          |   count(*)::BIGINT AS n FROM dlab GROUP BY cell, embedding),
          | crossp AS (SELECT least(s.rep, d.rep) AS a_rep,
          |   greatest(s.rep, d.rep) AS b_rep,
          |   round(list_cosine_similarity(s.embedding::DOUBLE[], d.embedding::DOUBLE[]), 4) AS cosine,
          |   (s.n * d.n)::BIGINT AS n_pairs
          |  FROM sreps s JOIN dreps d ON s.cell = d.cell
          |  WHERE round(list_cosine_similarity(s.embedding::DOUBLE[], d.embedding::DOUBLE[]), 4) >= 0.35),
          | internp AS (SELECT a.rep AS a_rep, b.rep AS b_rep,
          |   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cosine,
          |   (CASE WHEN a.rep = b.rep THEN (a.n * (a.n - 1)) // 2
          |    ELSE a.n * b.n END)::BIGINT AS n_pairs
          |  FROM dreps a JOIN dreps b ON a.cell = b.cell AND a.rep <= b.rep
          |  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.35)
          |SELECT * FROM (SELECT * FROM crossp UNION ALL SELECT * FROM internp)
          |WHERE n_pairs > 0 ORDER BY a_rep, b_rep""".stripMargin)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val delta = emb.filter(col("vec_id") % 10 === 0)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val path = graft.sources.StorePaths.keyedTmp("ivfsem", dir)
      graft.sources.IvfIndexStore.ensure(corpus, path)
      Dedup.semanticNearDupsDeltaReps(emb,
        graft.sources.IvfIndexStore.cellsTable(s, path)
          .select(col("vec_id"), col("cell")),
        graft.sources.IvfIndexStore.assignCells(s, delta, path))
        .orderBy(col("a_rep"), col("b_rep"))
    },

    // Semantic-index RETRACTION: vec_id % 10 == 5 members of the stored
    // corpus are taken down (`IvfIndexStore.delete` — tombstone append,
    // masked serve, never a rewrite) and the drop must then near-dup
    // exactly as against a fresh index over the survivors — with the
    // QUANTIZER frozen at the full build corpus (a takedown masks rows,
    // it never re-derives cells; the documented IVF takedown law). The
    // oracle trains on the full corpus, re-derives the stored centroids
    // from it, and restricts only the candidate lists to survivors.
    // semantic-index takedown: quantizer frozen at the FULL build
    // corpus (centroids from the unmasked assignment), candidate
    // lists restricted to survivors — what a tombstone-masked serve
    // reads
    Entry("dedup_semantic_delete" ->
      (s"WITH ${kmeansCtes(8, 3, " AND vec_id % 10 <> 0")},\n" +
        """ lab0 AS (SELECT e.vec_id, e.embedding, a3.cluster AS cell
          |  FROM embeddings e JOIN a3 USING (vec_id)),
          | lab AS (SELECT * FROM lab0 WHERE vec_id % 10 <> 5),
          | tc0 AS (
          |  SELECT cell, i, round(sum(v::DOUBLE) / count(*), 6) AS cv
          |  FROM (SELECT cell, generate_subscripts(embedding, 1) AS i,
          |        unnest(embedding) AS v FROM lab0)
          |  GROUP BY cell, i),
          | tcents AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM tc0 GROUP BY cell),
          | dpts AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS x,
          |   list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS xx
          |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 10 = 0),
          | dlab AS (SELECT vec_id, cell FROM (
          |   SELECT d.vec_id, c.cell,
          |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
          |      round(d.xx - 2.0 * list_dot_product(d.x, c.cvec)
          |        + list_dot_product(c.cvec, c.cvec), 4), c.cell) AS rn
          |   FROM dpts d, tcents c) WHERE rn = 1),
          | cand AS (
          |  SELECT least(l.vec_id, d.vec_id) AS a_id,
          |         greatest(l.vec_id, d.vec_id) AS b_id
          |  FROM dlab d JOIN lab l ON l.cell = d.cell AND l.vec_id <> d.vec_id
          |  UNION
          |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
          |  FROM dlab a JOIN dlab b ON a.cell = b.cell AND a.vec_id < b.vec_id)
          |SELECT c.a_id, c.b_id,
          | round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cosine
          |FROM cand c JOIN embeddings ea ON ea.vec_id = c.a_id
          |JOIN embeddings eb ON eb.vec_id = c.b_id
          |WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) >= 0.35
          |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val delta = emb.filter(col("vec_id") % 10 === 0)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val removed = corpus.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
      val path = graft.sources.StorePaths.keyedTmp("ivfsemdel", dir)
      graft.sources.IvfIndexStore.ensureDeleted(corpus, removed, path)
      Dedup.semanticNearDupsDelta(emb,
        graft.sources.IvfIndexStore.cellsTable(s, path)
          .select(col("vec_id"), col("cell")),
        graft.sources.IvfIndexStore.assignCells(s, delta, path))
        .orderBy(col("a_id"), col("b_id"))
    },

    Entry("knn_bruteforce" ->
      (s"WITH $knnBruteCtes,\n" +
        """ sc AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM d WHERE cosine IS NOT NULL)
          |SELECT probe_id, cand_id, cosine, rnk FROM sc WHERE rnk <= 5
          |ORDER BY probe_id, rnk""".stripMargin)) { (s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), col("vec_id") < 8)
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    Entry("knn_lsh" ->
      (s"WITH $knnLshCtes,\n" +
        """ sc AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM lsc WHERE cosine IS NOT NULL)
          |SELECT probe_id, cand_id, cosine, rnk FROM sc WHERE rnk <= 5
          |ORDER BY probe_id, rnk""".stripMargin)) { (s, dir) =>
      Similarity.lshTopK(t(s, dir, "embeddings"), col("vec_id") < 8)
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    Entry("knn_ivf" ->
      (s"WITH $knnBruteCtes,\n $knnIvfCtes,\n" +
        """ sc AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM cand WHERE cosine IS NOT NULL)
          |SELECT probe_id, cand_id, cosine, rnk FROM sc WHERE rnk <= 5
          |ORDER BY probe_id, rnk""".stripMargin)) { (s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), col("vec_id") < 8)
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    Entry("knn_recall" ->
      (s"WITH $knnBruteCtes,\n $knnIvfCtes,\n" +
        """ brute AS (SELECT probe_id, cand_id FROM (
          |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM d WHERE cosine IS NOT NULL)
          |  WHERE rnk <= 5),
          | ivf AS (SELECT probe_id, cand_id FROM (
          |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM cand WHERE cosine IS NOT NULL) WHERE rnk <= 5)
          |SELECT b.probe_id,
          |  count(i.cand_id)::BIGINT AS n_hits,
          |  round(count(i.cand_id)::DOUBLE / count(*), 4) AS recall_at_5
          |FROM brute b LEFT JOIN ivf i USING (probe_id, cand_id)
          |GROUP BY b.probe_id ORDER BY b.probe_id""".stripMargin)) { (s, dir) =>
      Similarity.recallAtK(t(s, dir, "embeddings"), col("vec_id") < 8)
        .orderBy(col("probe_id"))
    },

    // IVF + int8-ADC search with exact re-rank (the memory-bounded
    // PQ-family index shape): approximate ranking on dequantized codes,
    // full-precision cosine for the top-15 survivors only.
    // IVF+ADC replay: the int8 grid (emb_quantize's min/max law), the
    // fixed-shape dequantization mn + floor((x-mn)/step + .5)*step,
    // the 4dp ADC cut at rerank=15 (ties on cand_id), and the exact
    // re-rank all recompute in SQL — including WHICH candidates
    // survive the approximate stage
    Entry("knn_ivfpq" ->
      (s"WITH $knnBruteCtes,\n $knnIvfCtes,\n" +
        """ g AS (SELECT i, min(v::DOUBLE) AS mn, max(v::DOUBLE) AS mx
          |  FROM (SELECT generate_subscripts(embedding, 1) AS i,
          |        unnest(embedding) AS v FROM embeddings
          |        WHERE embedding IS NOT NULL)
          |  GROUP BY i),
          | r0 AS (SELECT e.vec_id, e.i,
          |   CASE WHEN g.mx = g.mn THEN g.mn
          |     ELSE g.mn + floor((e.v::DOUBLE - g.mn) / ((g.mx - g.mn) / 255) + 0.5)
          |          * ((g.mx - g.mn) / 255) END AS rv
          |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          |        unnest(embedding) AS v FROM embeddings
          |        WHERE embedding IS NOT NULL) e JOIN g USING (i)),
          | recon AS (SELECT vec_id, list(rv ORDER BY i) AS rvec FROM r0 GROUP BY vec_id),
          | adc AS (SELECT cells.probe_id, e.vec_id AS cand_id,
          |   round(list_cosine_similarity(pp.embedding::DOUBLE[], rc.rvec), 4) AS adc_cosine
          |  FROM cells JOIN embeddings e ON e.label = cells.cell
          |       JOIN recon rc ON rc.vec_id = e.vec_id
          |       JOIN embeddings pp ON pp.vec_id = cells.probe_id
          |  WHERE e.vec_id <> cells.probe_id),
          | topm AS (SELECT probe_id, cand_id, adc_cosine FROM (
          |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY adc_cosine DESC, cand_id) AS mr
          |   FROM adc WHERE adc_cosine IS NOT NULL) WHERE mr <= 15),
          | ex AS (SELECT t.probe_id, t.cand_id, t.adc_cosine,
          |   round(list_cosine_similarity(pp.embedding::DOUBLE[], ce.embedding::DOUBLE[]), 4) AS cosine
          |  FROM topm t JOIN embeddings ce ON ce.vec_id = t.cand_id
          |       JOIN embeddings pp ON pp.vec_id = t.probe_id),
          | fr AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM ex WHERE cosine IS NOT NULL)
          |SELECT probe_id, cand_id, adc_cosine, cosine, rnk FROM fr WHERE rnk <= 5
          |ORDER BY probe_id, rnk""".stripMargin)) { (s, dir) =>
      Similarity.ivfPqTopK(t(s, dir, "embeddings"), col("vec_id") < 8)
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // Train-then-serve ANN: IVF probing over Lloyd-trained cells.
    // trained IVF = the kmeans replay composed with the IVF search
    // CTEs, cells re-centroided from the final assignment exactly as
    // ivfTopK's CentroidAggregator does (sum/count, 6dp)
    Entry("knn_ivf_trained" -> ivfTrainedOracle) { (s, dir) =>
      Similarity.ivfTrainedTopK(t(s, dir, "embeddings"), col("vec_id") < 8)
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // Train-ONCE/serve-many ANN: the first call per JVM trains the
    // Lloyd cells and persists (centroids, cell-partitioned inverted
    // lists) via [[graft.sources.IvfIndexStore]]; every later call —
    // including later bench reps — serves from the stored tables with
    // no training in the plan. Training is deterministic, so the
    // stored index equals a replayed retrain and the query keeps a
    // full value oracle.
    // the served query reads the PERSISTED index, whose contents are a
    // deterministic function of the corpus — the oracle retrains in
    // SQL and lands on the identical stored tables
    Entry("knn_ivf_served" -> ivfTrainedOracle) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = graft.sources.IvfIndexStore.defaultPath(dir)
      graft.sources.IvfIndexStore.ensure(emb, path)
      graft.sources.IvfIndexStore
        .servedTopK(s, path, emb.filter(col("vec_id") < 8))
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // IVF index RETRACTION ([[graft.sources.IvfIndexStore.delete]]):
    // vec_id % 10 == 5 vectors are taken down from the stored index —
    // tombstones mask both the full-precision lists and the int8 codes
    // at serve time, centroids and grid stay FROZEN (a takedown masks
    // rows, it never moves the quantizer) — and a probe must then serve
    // exactly what an index with those lists physically purged would.
    // Completes the tombstone story for the third index family: all of
    // MinHash, embedding-LSH, and IVF/PQ now add, roll over, retrain,
    // AND retract.
    // the masked (tombstoned) IVF index must serve exactly what an
    // index with the retracted lists physically purged would: same
    // training replay (centroids stay frozen — training saw the full
    // build corpus), candidate lists restricted to survivors
    Entry("knn_ivf_delete" -> ivfTrainedOracleWhere("e.vec_id % 10 <> 5")) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val removed = emb.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
      val path = graft.sources.IvfIndexStore.defaultPath(dir) + "_del"
      graft.sources.IvfIndexStore.ensureDeleted(emb, removed, path)
      graft.sources.IvfIndexStore
        .servedTopK(s, path, emb.filter(col("vec_id") < 8))
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // Recall@5 of the MASKED (tombstoned) IVF index against brute force
    // over the SURVIVING corpus — the eval that completes the
    // retraction contract the way `knn_ivf_append_recall` completes the
    // append contract: a takedown must not silently degrade retrieval
    // for the rest of the corpus, and the number proving it comes off
    // the same recall dashboard. Probes restrict to survivors (a
    // retracted vector has no ground-truth row).
    // recall@5 of the masked serve vs brute force over survivors —
    // probes restrict to survivors, the served side is the masked
    // trained replay (training stays on the full build corpus)
    Entry("knn_ivf_delete_recall" ->
      (s"WITH ${ivfTrainedCtesWhere("e.vec_id % 10 <> 5")},\n" +
        """ bd AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
          |   round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cosine
          |  FROM p, embeddings c WHERE c.vec_id <> p.vec_id
          |   AND c.vec_id % 10 <> 5 AND p.vec_id % 10 <> 5),
          | brute AS (SELECT probe_id, cand_id FROM (
          |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM bd WHERE cosine IS NOT NULL) WHERE rnk <= 5),
          | served AS (SELECT probe_id, cand_id FROM tsc WHERE rnk <= 5)
          |SELECT b.probe_id,
          |  count(r.cand_id)::BIGINT AS n_hits,
          |  round(count(r.cand_id)::DOUBLE / count(*), 4) AS recall_at_5
          |FROM brute b LEFT JOIN served r USING (probe_id, cand_id)
          |GROUP BY b.probe_id ORDER BY b.probe_id""".stripMargin)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val survivors = emb.filter(col("vec_id") % 10 =!= 5)
      val removed = emb.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
      val path = graft.sources.IvfIndexStore.defaultPath(dir) + "_del"
      graft.sources.IvfIndexStore.ensureDeleted(emb, removed, path)
      Similarity.recallOf(
        Similarity.bruteForceTopK(survivors, col("vec_id") < 8),
        graft.sources.IvfIndexStore
          .servedTopK(s, path, survivors.filter(col("vec_id") < 8)), 5)
        .orderBy(col("probe_id"))
    },

    // STREAMING index takedown ([[graft.streaming.StreamReplay
    // .replayIndexDeleteDrops]]): two retraction drops stream through
    // foreachBatch, each appending to the stored IVF index's tombstone
    // list; the masked serve after both drops must equal the
    // physically-purged replay — same oracle as `knn_ivf_delete` (the
    // drops partition its retraction set; takedown order can't change
    // a mask).
    // the STREAMED takedown lands on the identical masked serve: the
    // two drops partition the same retraction set and order can't
    // change a mask
    Entry("stream_index_delete" -> ivfTrainedOracleWhere("e.vec_id % 10 <> 5")) { (s, dir) =>
      graft.streaming.StreamReplay.replayIndexDeleteDrops(s, dir)
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // Serve-many PQ: ADC scan over the STORED int8 codes of the trained
    // cells, exact re-rank from the stored full-precision lists — no
    // training, no re-encoding in the plan.
    Entry("knn_pq_served" -> pqServedOracle) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = graft.sources.IvfIndexStore.defaultPath(dir)
      graft.sources.IvfIndexStore.ensure(emb, path)
      graft.sources.IvfIndexStore
        .servedPqTopK(s, path, emb.filter(col("vec_id") < 8))
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // IVF index ROLLOVER: vec_id % 5 == 4 plays the new drop; the index
    // trains on the other 80% only, the drop is folded in by
    // [[graft.sources.IvfIndexStore.append]] (assigned to the nearest
    // STORED centroid — quantizer and grid stay frozen, no retrain in
    // the append or the serve), and the standard probes are served from
    // the rolled index. Completes the delta-vs-corpus lifecycle for the
    // third index family (MinHash and embedding-LSH landed first): a
    // daily embedding drop costs one assignment pass over the drop, not
    // a corpus retrain. The oracle retrains on the base in SQL, assigns
    // the drop against those centroids by the same 4-dp d2 law, and
    // serves the union.
    // rolled index: base-trained kmeans + frozen-centroid drop
    // assignment + serve over the union — the append never retrains
    Entry("knn_ivf_append" -> ivfAppendOracle) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 5 =!= 4)
      val delta = emb.filter(col("vec_id") % 5 === 4)
      val path = graft.sources.IvfIndexStore.defaultPath(dir) + "_roll"
      graft.sources.IvfIndexStore.ensureRolled(s, base, delta, path)
      graft.sources.IvfIndexStore
        .servedTopK(s, path, emb.filter(col("vec_id") < 8))
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    Entry("knn_lsh_recall" ->
      (s"WITH $knnBruteCtes,\n $knnLshCtes,\n" +
        """ brute AS (SELECT probe_id, cand_id FROM (
          |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM d WHERE cosine IS NOT NULL)
          |  WHERE rnk <= 5),
          | lsh AS (SELECT probe_id, cand_id FROM (
          |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM lsc WHERE cosine IS NOT NULL) WHERE rnk <= 5)
          |SELECT b.probe_id,
          |  count(l.cand_id)::BIGINT AS n_hits,
          |  round(count(l.cand_id)::DOUBLE / count(*), 4) AS recall_at_5
          |FROM brute b LEFT JOIN lsh l USING (probe_id, cand_id)
          |GROUP BY b.probe_id ORDER BY b.probe_id""".stripMargin)) { (s, dir) =>
      Similarity.lshRecallAtK(t(s, dir, "embeddings"), col("vec_id") < 8)
        .orderBy(col("probe_id"))
    },

    // Recall@5 of the PQ-served ADC cut against exact brute force — the
    // eval loop for the memory-bounded index family (knn_recall and
    // knn_lsh_recall cover IVF and LSH; this closes PQ). Both inputs
    // are deterministic, so the eval carries a full value oracle.
    // Recall@5 of the ROLLED (build + append, frozen quantizer) index
    // against brute force over the whole corpus — the drift measurement
    // that backs the append contract's "periodic retrain when recall
    // degrades": the number a production pipeline watches to decide
    // when the frozen centroids have drifted from the appended data.
    // recall@5 of the ROLLED index vs brute force over the union —
    // the drift measurement behind "periodic retrain when recall
    // degrades": quantifies what the frozen-centroid append costs
    Entry("knn_ivf_append_recall" ->
      (s"WITH $ivfAppendCtes,\n" +
        """ bd AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
          |   round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cosine
          |  FROM p, embeddings c WHERE c.vec_id <> p.vec_id),
          | brute AS (SELECT probe_id, cand_id FROM (
          |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM bd WHERE cosine IS NOT NULL) WHERE rnk <= 5),
          | rolled AS (SELECT probe_id, cand_id FROM tsc WHERE rnk <= 5)
          |SELECT b.probe_id,
          |  count(r.cand_id)::BIGINT AS n_hits,
          |  round(count(r.cand_id)::DOUBLE / count(*), 4) AS recall_at_5
          |FROM brute b LEFT JOIN rolled r USING (probe_id, cand_id)
          |GROUP BY b.probe_id ORDER BY b.probe_id""".stripMargin)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 5 =!= 4)
      val delta = emb.filter(col("vec_id") % 5 === 4)
      val path = graft.sources.IvfIndexStore.defaultPath(dir) + "_roll"
      graft.sources.IvfIndexStore.ensureRolled(s, base, delta, path)
      Similarity.recallOf(
        Similarity.bruteForceTopK(emb, col("vec_id") < 8),
        graft.sources.IvfIndexStore
          .servedTopK(s, path, emb.filter(col("vec_id") < 8)), 5)
        .orderBy(col("probe_id"))
    },

    // The retrain loop ACTED ON ([[graft.sources.IvfIndexStore
    // .ensureRetrained]]): roll the index, measure recall@5 of the
    // frozen-quantizer serve against brute force, and — the measured
    // drift sitting below the 0.95 trigger on this corpus (spec-pinned)
    // — rebuild the quantizer over the union. The serve plan reads the
    // RETRAINED index, so the oracle is the fresh-trained replay over
    // the whole corpus (identical to knn_ivf_served's law).
    // the retrain trigger fires on this corpus (rolled recall < 0.95,
    // spec-pinned), so the serve reads the quantizer rebuilt over the
    // union = the whole corpus — the fresh-trained replay verbatim
    Entry("knn_ivf_retrain" -> ivfTrainedOracle) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 5 =!= 4)
      val delta = emb.filter(col("vec_id") % 5 === 4)
      val path = graft.sources.IvfIndexStore.defaultPath(dir) + "_retrain"
      graft.sources.IvfIndexStore.ensureRetrained(s, base, delta, path)
      graft.sources.IvfIndexStore
        .servedAfterRetrain(s, path, emb.filter(col("vec_id") < 8))
        .withColumn("rnk", col("rnk").cast("bigint"))
        .orderBy(col("probe_id"), col("rnk"))
    },

    // recall@5 of the PQ-served cut vs exact brute force — the eval
    // loop that decides whether the d-bytes-per-candidate ADC scan is
    // retrieving what full precision would
    Entry("knn_pq_recall" ->
      (s"WITH $pqServedCtes,\n" +
        """ d AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
          |   round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cosine
          |  FROM p, embeddings c WHERE c.vec_id <> p.vec_id),
          | brute AS (SELECT probe_id, cand_id FROM (
          |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
          |   FROM d WHERE cosine IS NOT NULL) WHERE rnk <= 5),
          | pq AS (SELECT probe_id, cand_id FROM fr WHERE rnk <= 5)
          |SELECT b.probe_id,
          |  count(i.cand_id)::BIGINT AS n_hits,
          |  round(count(i.cand_id)::DOUBLE / count(*), 4) AS recall_at_5
          |FROM brute b LEFT JOIN pq i USING (probe_id, cand_id)
          |GROUP BY b.probe_id ORDER BY b.probe_id""".stripMargin)) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val path = graft.sources.IvfIndexStore.defaultPath(dir)
      graft.sources.IvfIndexStore.ensure(emb, path)
      Similarity.recallOf(
        Similarity.bruteForceTopK(emb, col("vec_id") < 8),
        graft.sources.IvfIndexStore
          .servedPqTopK(s, path, emb.filter(col("vec_id") < 8)), 5)
        .orderBy(col("probe_id"))
    },

    // Trained (Lloyd) k-means assignment after 3 rounds from the
    // deterministic lowest-id seeds — full value oracle via an
    // unrolled assign/means CTE chain.
    Entry("emb_kmeans" ->
      (s"WITH ${kmeansCtes(8, 3)}\n" +
        """SELECT vec_id, cluster, d2 FROM a3 ORDER BY vec_id""".stripMargin)) { (s, dir) =>
      Similarity.kmeansAssign(t(s, dir, "embeddings"))
        .orderBy(col("vec_id"))
    },

    Entry("knn_centroids" ->
      """WITH e AS (SELECT label, generate_subscripts(embedding, 1) AS i,
        |  unnest(embedding) AS v FROM embeddings)
        |SELECT label, i - 1 AS dim_idx,
        | round(sum(v::DOUBLE) / count(*), 6) AS centroid
        |FROM e GROUP BY label, i ORDER BY label, dim_idx""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val centroid = udaf(
        new graft.functions.CentroidAggregator(Similarity.embeddingDim(emb)))
      emb.groupBy(col("label"))
        .agg(centroid(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")))
        .select(col("label"), col("pos").cast("bigint").as("dim_idx"),
          round(col("col"), 6).as("centroid"))
        .orderBy(col("label"), col("dim_idx"))
    },

    Entry("q_corr_stats" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
        | round(covar_samp(l_quantity, l_extendedprice), 6) AS qty_price_covar,
        | round(stddev_samp(l_quantity), 6) AS qty_stddev,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_corr"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("qty_price_covar"),
          round(stddev_samp(col("l_quantity")), 6).as("qty_stddev"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    Entry("text_tokens" ->
      """SELECT doc_id,
        | len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS sub_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.wsTokenCount(col("text")).as("ws_tokens"),
        TF.subTokenCount(col("text")).as("sub_tokens"))
        .orderBy(col("doc_id"))
    },

    // Whitespace vs real-BPE token counts under the frozen
    // [[graft.functions.BpeTokenizer]] merge table. Full value oracle:
    // the merge list is embedded into the SQL and replayed by a
    // recursive CTE (leftmost-first-occurrence replacement ≡ the
    // encoder's left-to-right merge pass), per distinct word, then
    // joined back over word occurrences.
    // DISTRIBUTED BPE training ([[graft.operators.TokenizerTrain
    // .bpeTrain]]): the 8-round merge table learned FROM the corpus at
    // word-type grain — pair counts weight every adjacent position by
    // the type count, ties break lexicographically, and the oracle
    // unrolls all 8 rounds with the double-delimited string-replace
    // merge device (spec-pinned ≡ the in-memory trainer's mergePass).
    Entry("text_bpe_train" -> bpeTrainOracleSql(8)) { (s, dir) =>
      graft.operators.TokenizerTrain.bpeTrain(t(s, dir, "documents"))
        .orderBy(col("rank"))
    },

    // The tokenizer-drift loop ACTED ON (the text_bpe_eval dashboard's
    // act half, mirroring knn_ivf_retrain): worst-slice compression
    // under the frozen table below the trigger → retrain the merge
    // table over the current mix and serve it; healthy corpus → serve
    // the frozen table unchanged (spec-pinned no-op). Oracle replays
    // the trigger arithmetic and BOTH branches behind it.
    Entry("text_bpe_retrain" -> bpeRetrainOracleSql(3.8, 8)) { (s, dir) =>
      graft.operators.TokenizerTrain.bpeRetrainServe(t(s, dir, "documents"))
        .orderBy(col("rank"))
    },

    Entry("text_tokens_bpe" ->
      (s"WITH RECURSIVE $bpeCtes,\n" +
        """ docw AS (
          |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
          |  FROM documents WHERE text IS NOT NULL)
          |SELECT d.doc_id,
          | len(string_split_regex(trim(d.text), '\s+'))::BIGINT AS ws_tokens,
          | CASE WHEN d.text IS NULL THEN NULL
          |   ELSE coalesce((SELECT sum(t.n_tok) FROM docw
          |     JOIN wtok t USING (w)
          |     WHERE docw.doc_id = d.doc_id AND docw.w <> ''), 0) END::BIGINT
          |  AS bpe_tokens
          |FROM documents d ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.wsTokenCount(col("text")).as("ws_tokens"),
        TF.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    },

    Entry("text_quality" ->
      s"""SELECT doc_id,
        | length(text) AS n_chars_actual,
        | len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
        | $punctRatioSql AS punct_ratio,
        | $stopRatioSql AS stop_ratio,
        | $qualityScoreSql AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val c = col("text")
      val nChars = length(c).cast("bigint")
      val punct = regexp_count(c, lit("[^A-Za-z0-9\\s]")).cast("bigint")
      val wsTok = TF.wsTokenCount(c)
      val punctRatio = round(punct.cast("double") / nChars.cast("double"), 4)
      val stopRatio = TF.stopRatio(c, TF.stopwordProfiles("en"))
      t(s, dir, "documents").select(
        col("doc_id"),
        nChars.as("n_chars_actual"),
        wsTok.as("ws_tokens"),
        punctRatio.as("punct_ratio"),
        stopRatio.as("stop_ratio"),
        qualityScoreCol(c).as("quality_score"))
        .orderBy(col("doc_id"))
    },

    Entry("text_langid" ->
      """WITH s AS (SELECT doc_id, lang AS labeled_lang,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x IN ('der','die','das','und','ist','von','mit','auf','zu','ein'))) AS s_de,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x IN ('the','a','and','of','to','in','is','on','for','with'))) AS s_en,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x IN ('el','la','de','que','y','en','un','es','por','con'))) AS s_es,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x IN ('le','la','de','et','est','un','une','dans','pour','que'))) AS s_fr,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x IN ('de','shi','le','zai','he','you','wo','ta','men','bu'))) AS s_zh
        | FROM documents)
        |SELECT doc_id,
        | CASE
        |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |  WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |  WHEN s_fr >= s_zh THEN 'fr'
        |  ELSE 'zh' END AS pred_lang,
        | greatest(s_de, s_en, s_es, s_fr, s_zh) AS stop_hits,
        | labeled_lang
        |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.langId(col("text")).getField("lang").as("pred_lang"),
        TF.langId(col("text")).getField("hits").as("stop_hits"),
        col("lang").as("labeled_lang"))
        .orderBy(col("doc_id"))
    },

    Entry("text_fingerprint" ->
      (s"WITH $simhashCtes,\n" +
        """ fsh AS (
          |  SELECT doc_id, list_min(list_transform(sw,
          |    x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS fingerprint
          |  FROM (SELECT doc_id, list_transform(
          |     range(0, greatest(len(w)-8, 0)+1),
          |     i -> array_to_string(w[i+1:i+8], ' ')) AS sw
          |   FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
          |         FROM documents)))
          |SELECT f.doc_id, f.fingerprint, s.simhash
          |FROM fsh f JOIN sigs s USING (doc_id)
          |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      graft.plans.GraftFunctions.ensureRegistered(s)
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.fingerprint(col("text")).as("fingerprint"),
        call_function("graft_simhash64", TF.words(col("text"))).as("simhash"))
        .orderBy(col("doc_id"))
    },

    Entry("text_chunk" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)
        |SELECT doc_id, r.i AS chunk_id,
        | array_to_string(w[r.i * 25 + 1 : r.i * 25 + 50], ' ') AS chunk_text
        |FROM t, range(0, 1000) r(i)
        |WHERE r.i <= (len(w) - 1) // 25
        |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(TF.chunks(col("text"), 50, 25)))
        .select(col("doc_id"), col("pos").cast("bigint").as("chunk_id"),
          col("col").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    Entry("text_redact" ->
      """SELECT doc_id,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(
        |       text || ' contact user@example.com or 415-555-1212 ssn 123-45-6789',
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |   '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // augment every row with synthetic PII so the redaction paths are
      // exercised on the whole corpus (the raw docs carry none)
      val augmented = concat(col("text"),
        lit(" contact user@example.com or 415-555-1212 ssn 123-45-6789"))
      t(s, dir, "documents").select(
        col("doc_id"),
        TF.redactPii(augmented).as("redacted"))
        .orderBy(col("doc_id"))
    },

    Entry("text_sample_quota" ->
      """WITH s AS (SELECT doc_id, lang,
        |  (doc_id * 2654435761) % 2147483648 AS shuffle_key FROM documents),
        | r AS (SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY shuffle_key, doc_id) AS BIGINT) AS sample_rank
        | FROM s)
        |SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 3
        |ORDER BY lang, sample_rank""".stripMargin) { (s, dir) =>
      // deterministic pseudo-shuffle: Knuth multiplicative hash of the id
      // gives a reproducible "random" order any engine can replay exactly
      val shuffleKey = pmod(col("doc_id") * lit(2654435761L), lit(2147483648L))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(shuffleKey, col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), shuffleKey.as("shuffle_key"))
        .withColumn("sample_rank", row_number().over(w).cast("bigint"))
        .filter(col("sample_rank") <= 3)
        .select(col("doc_id"), col("lang"), col("sample_rank"))
        .orderBy(col("lang"), col("sample_rank"))
    },

    // Real byte-level header decode over synthesized PNG/JPEG/GIF
    // containers (deterministic from doc metadata — see
    // Multimodal.asMediaAssets). Full value oracle: every decode field
    // is a closed-form function of (doc_id, n_chars, text), including
    // the NULL rows for the malformed/truncated branch.
    // mm_decode replays Multimodal.asMediaAssets' closed-form synth:
    // doc_id%4 picks the container format (3 = malformed -> NULL
    // decode), dims come from n_chars, the PNG color-type cycle from
    // (doc_id/4)%4, and byte_len = header size + UTF-8 payload.
    Entry("mm_decode" ->
      """SELECT doc_id,
        | CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |   WHEN 2 THEN 'gif' ELSE NULL END AS format,
        | CASE WHEN doc_id % 4 = 3 THEN NULL
        |   ELSE (n_chars % 640 + 1) END::INT AS width,
        | CASE WHEN doc_id % 4 = 3 THEN NULL
        |   ELSE (n_chars % 480 + 1) END::INT AS height,
        | CASE doc_id % 4
        |   WHEN 0 THEN CASE (doc_id // 4) % 4
        |     WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 4 END
        |   WHEN 1 THEN 3 WHEN 2 THEN 3 ELSE NULL END::INT AS channels,
        | CASE doc_id % 4
        |   WHEN 0 THEN 33 + octet_length(encode(text))
        |   WHEN 1 THEN 39 + octet_length(encode(text))
        |   WHEN 2 THEN 13 + octet_length(encode(text))
        |   ELSE CASE WHEN (doc_id // 4) % 2 = 0
        |     THEN 1 + octet_length(encode(text)) ELSE 12 END
        | END::BIGINT AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Multimodal.decodeAssets(Multimodal.asMediaAssets(t(s, dir, "documents")))
        .toDF().orderBy(col("doc_id"))
    },

    Entry("mm_frames" ->
      """WITH s AS (SELECT unnest(range(0, 4)) AS i)
        |SELECT d.doc_id, s.i::INT AS frame_idx, (s.i * 256)::BIGINT AS frame_off,
        | least(256, octet_length(encode(d.text)) - s.i * 256)::BIGINT AS frame_len
        |FROM documents d JOIN s ON s.i = 0 OR s.i * 256 < octet_length(encode(d.text))
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      Multimodal.frameSample(Multimodal.asMedia(t(s, dir, "documents")))
        .toDF().select(col("doc_id"), col("frame_idx"), col("frame_off"),
          col("frame_len"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    Entry("stream_clf_update" -> clfModelOracleSql("")) { (s, dir) =>
      graft.streaming.StreamReplay.replayClfDrops(s, dir)
        .orderBy(col("token"))
    },

    Entry("stream_kmv_update" -> kmvOracleSql(withExact = false)) { (s, dir) =>
      graft.streaming.StreamReplay.replayKmvDrops(s, dir)
        .orderBy(col("lang"))
    },

    Entry("stream_mixture_update" -> mixtureOracleSql("")) { (s, dir) =>
      graft.streaming.StreamReplay.replayMixtureDrops(s, dir)
        .orderBy(col("lang"), col("source"))
    },

    Entry("stream_mixture_retract" -> mixtureOracleSql("WHERE doc_id % 7 <> 3")) { (s, dir) =>
      graft.streaming.StreamReplay.replayMixtureRetractions(s, dir)
        .orderBy(col("lang"), col("source"))
    },

    // the streamed takedown twins for the other two abelian stores
    // share their batch-delete oracles (drops partition the retraction
    // set; abelian folds are order-free)
    Entry("stream_pca_retract" -> pcaMomentOracleSql("AND vec_id % 7 <> 3")) { (s, dir) =>
      graft.streaming.StreamReplay.replayPcaRetractions(s, dir)
        .orderBy(col("vec_id"))
    },

    Entry("stream_clf_retract" -> clfModelOracleSql("WHERE source <> 'src0'")) { (s, dir) =>
      graft.streaming.StreamReplay.replayClfRetractions(s, dir)
        .orderBy(col("token"))
    },

    // the streamed twin lands on the same catalog summary: exactly-once
    // ingest makes the double delivery invisible
    Entry("stream_mm_dedup" ->
      """SELECT md5(text) AS content_md5, octet_length(encode(text))::BIGINT AS byte_len,
        | count(*)::BIGINT AS n_copies, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1, 2 ORDER BY content_md5""".stripMargin) { (s, dir) =>
      graft.streaming.StreamReplay.replayMmDedupRedelivered(s, dir)
        .orderBy(col("content_md5"))
    },

    Entry("stream_pca_update" -> pcaMomentOracleSql("")) { (s, dir) =>
      graft.streaming.StreamReplay.replayPcaDrops(s, dir)
        .orderBy(col("vec_id"))
    }
  )

  // ----------------------------------------------------------- registry

  /** Every entry, section by section. Lazy, because the oracle SQL reads
    * the CTE helpers below: a strict val here would be built before
    * them and read null into the SQL.
    */
  private[graft] lazy val registry: Seq[Entry] =
    Entry.unique(etlEntries ++ relationalEntries ++ llmOpsEntries)

  /** Shared SPARK_GRAFT_QUERIES parsing for Verify, Bench, Explain and
    * ScaleTax: trimmed, comma-separated names; an unknown name throws
    * an IllegalArgumentException listing every unknown name (a typo
    * would otherwise look like a successful, smaller run).
    */
  def selectQueries(filter: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    filter match {
      case None => queries
      case Some(raw) =>
        val names = raw.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = names.diff(queries.keySet)
        // a typo must fail the run, not time or verify a smaller set
        if (unknown.nonEmpty)
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_QUERIES names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
        queries.filter { case (n, _) => names(n) }
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(e => e.name -> e.run).toMap

  def oracleSql: Map[String, String] =
    registry.flatMap(e => e.oracle.map(e.name -> _)).toMap

  /** Run one entry and consume its frame with `use` as one unit of
    * work: the pins the entry makes are released when `use` returns
    * or throws. Bench and Verify run every entry through here.
    */
  def runOwned[T](spark: SparkSession, dir: String,
      entry: (SparkSession, String) => DataFrame)(use: DataFrame => T): T =
    org.apache.spark.sql.GraftInternal.owningPins(use(entry(spark, dir)))

  // ------------------------------------------------------------- oracle

  // Shared knn-oracle CTE bodies: the brute-force pairwise scores and
  // the IVF derivation appear in knn_bruteforce, knn_ivf AND
  // knn_recall — composing them from ONE definition means a future
  // index change (rounding, nprobe, null filter) cannot silently
  // leave knn_recall evaluating a stale copy of the index.
  /** Shared mm frame-signature replay: byte-window frames from the
    * ASCII corpus (substr replays the windows), 64-block aHash bits
    * packed as two 32-bit halves — used by mm_phash and mm_scenes.
    */
  private val mmBitsCtes: String =
    """f AS (SELECT d.doc_id, fi.i::INT AS frame_idx,
      |   list_transform(regexp_extract_all(substr(d.text, fi.i * 256 + 1, 256), '.'),
      |     c -> unicode(c)) AS bytes
      |  FROM documents d, (SELECT unnest(range(0, 4)) AS i) fi
      |  WHERE fi.i = 0 OR fi.i * 256 < octet_length(encode(d.text))),
      | blocks AS (SELECT doc_id, frame_idx, len(bytes) AS n,
      |   list_sum(bytes) AS total, b.b AS b,
      |   coalesce(list_sum(bytes[(b.b * len(bytes) // 64) + 1
      |     : ((b.b + 1) * len(bytes) // 64)]), 0) AS bsum,
      |   ((b.b + 1) * len(bytes) // 64) - (b.b * len(bytes) // 64) AS blen
      |  FROM f, (SELECT unnest(range(0, 64)) AS b) b),
      | bits AS (SELECT doc_id, frame_idx,
      |   sum(CASE WHEN b < 32 AND bsum * n > total * blen
      |     THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sig_lo,
      |   sum(CASE WHEN b >= 32 AND bsum * n > total * blen
      |     THEN (1::BIGINT << (b - 32)) ELSE 0 END)::BIGINT AS sig_hi
      |  FROM blocks GROUP BY doc_id, frame_idx)""".stripMargin

  private val knnBruteCtes: String =
    """p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
      | d AS (SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
      |   round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cosine
      |  FROM p, embeddings c WHERE c.vec_id <> p.vec_id)""".stripMargin

  private val knnIvfCtes: String =
    """c0 AS (
      |  SELECT label AS cell, i, round(sum(v::DOUBLE) / count(*), 6) AS cv
      |  FROM (SELECT label, generate_subscripts(embedding, 1) AS i,
      |        unnest(embedding) AS v FROM embeddings)
      |  GROUP BY label, i),
      | cents AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM c0 GROUP BY cell),
      | pc AS (SELECT p.vec_id AS probe_id, c.cell,
      |   round(list_cosine_similarity(p.embedding::DOUBLE[], c.cvec), 4) AS ccos
      |  FROM p, cents c),
      | cells AS (SELECT probe_id, cell FROM (
      |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY ccos DESC, cell) AS cr
      |   FROM pc WHERE ccos IS NOT NULL) WHERE cr <= 2),
      | cand AS (SELECT cells.probe_id, e.vec_id AS cand_id,
      |   round(list_cosine_similarity(pp.embedding::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cosine
      |  FROM cells JOIN embeddings e ON e.label = cells.cell
      |       JOIN embeddings pp ON pp.vec_id = cells.probe_id
      |  WHERE e.vec_id <> cells.probe_id)""".stripMargin

  // JL projection replay: the seeded ±1 matrix embeds as literals
  // (same generator as the operator); per-component dots via
  // list_dot_product / 4.0, norms as the SAME left-to-right sum of
  // squared components both engines spell out, everything rounded 4dp.
  private lazy val embProjectOracle: String = {
    val outDim = 16
    val w = graft.functions.VectorFunctions.planeWeights(outDim, 64)
    val rows = w.zipWithIndex.map { case (wv, j) =>
      s"($j, [${wv.map(v => if (v > 0f) "1" else "-1").mkString(",")}]::DOUBLE[])"
    }.mkString(",\n  ")
    val piv = (0 until outDim)
      .map(j => s"max(CASE WHEN j = $j THEN pj END) AS pj$j")
      .mkString(",\n   ")
    val sumSq = (0 until outDim).map(j => s"pj$j * pj$j").mkString(" + ")
    s"""WITH w(j, wv) AS (VALUES
       |  $rows),
       | p AS (SELECT e.vec_id, w.j,
       |   list_dot_product(e.embedding::DOUBLE[], w.wv) / 4.0 AS pj
       |  FROM embeddings e, w WHERE e.embedding IS NOT NULL),
       | piv AS (SELECT vec_id,
       |   $piv
       |  FROM p GROUP BY vec_id),
       | o AS (SELECT vec_id,
       |   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS onorm
       |  FROM embeddings WHERE embedding IS NOT NULL)
       |SELECT piv.vec_id,
       | round(pj0, 4) AS proj_0, round(pj1, 4) AS proj_1,
       | round(pj2, 4) AS proj_2, round(pj3, 4) AS proj_3,
       | round(sqrt($sumSq), 4) AS proj_norm,
       | round(onorm, 4) AS orig_norm,
       | round(sqrt($sumSq) / onorm, 4) AS distortion
       |FROM piv JOIN o USING (vec_id) ORDER BY vec_id""".stripMargin
  }

  // Full LSH replay: the hyperplane weight matrix is deterministic
  // (seeded hash, VectorFunctions.planeWeights), so it is EMBEDDED
  // into the oracle as ±1 literals generated from the same Scala
  // function — DuckDB then re-derives the per-table signatures, the
  // bucket-join candidate set, and the exact-cosine re-rank. Sign
  // boundary safety: the smallest |projection| observed in the
  // testdata is ~1e-6 while cross-engine double-summation divergence
  // is ~1e-12, so the sig bits are stable across engines.
  private def lshSigCtes(numTables: Int, bitsPerTable: Int): String = {
    val weights =
      graft.functions.VectorFunctions.planeWeights(numTables * bitsPerTable, 64)
    val rows = weights.zipWithIndex.map { case (wv, p) =>
      val lits = wv.map(v => if (v > 0f) "1" else "-1").mkString(",")
      s"(${p / bitsPerTable}, ${p % bitsPerTable}, [$lits]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""w(table_id, bit, wv) AS (VALUES
       |  $rows),
       | sigs AS (
       |  SELECT e.vec_id, w.table_id,
       |   sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], w.wv) >= 0
       |     THEN (1 << w.bit) ELSE 0 END)::INT AS sig
       |  FROM embeddings e, w WHERE e.embedding IS NOT NULL
       |  GROUP BY e.vec_id, w.table_id)""".stripMargin
  }

  // Adaptive-BITS replay with a FIXED table count (the
  // embeddingNearDupsAll default): embeds all numTables×16 candidate
  // planes indexed FLAT — the plane generator is a pure hash of the
  // plane index, so the first numTables·bits planes are identical
  // whatever bits the integer bucket-width law picks — then recomputes
  // that law in SQL and derives the operator's (table, bit) layout
  // `p = table·bits + bit` at run time.
  // `sigWhere` restricts which vectors hold signature rows (the
  // masked-index replay for the retraction gate); the bits law (`nn`)
  // ALWAYS reads the full catalog — bits are frozen at build time and
  // a takedown masks rows, it never re-derives the quantization
  private def adaptiveBitsLshCtes(numTables: Int,
      sigWhere: String = "1 = 1"): String = {
    val maxBits = graft.operators.Dedup.MaxAutoBits
    val weights =
      graft.functions.VectorFunctions.planeWeights(numTables * maxBits, 64)
    val rows = weights.zipWithIndex.map { case (wv, p) =>
      val lits = wv.map(v => if (v > 0f) "1" else "-1").mkString(",")
      s"($p, [$lits]::DOUBLE[])"
    }.mkString(",\n  ")
    s"""nn AS (SELECT count(*)::BIGINT AS n FROM embeddings
       |  WHERE embedding IS NOT NULL),
       | pp AS (
       |  SELECT coalesce(min(k), 16)::INT AS bits
       |  FROM range(4, 17) t(k), nn WHERE 64 * (1::BIGINT << k) >= nn.n),
       | planes(p, wv) AS (VALUES
       |  $rows),
       | w AS (
       |  SELECT (planes.p // pp.bits)::INT AS table_id,
       |   (planes.p % pp.bits)::INT AS bit, planes.wv
       |  FROM planes, pp WHERE planes.p < $numTables * pp.bits),
       | sigs AS (
       |  SELECT e.vec_id, w.table_id,
       |   sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], w.wv) >= 0
       |     THEN (1 << w.bit) ELSE 0 END)::INT AS sig
       |  FROM embeddings e, w WHERE e.embedding IS NOT NULL
       |   AND ($sigWhere)
       |  GROUP BY e.vec_id, w.table_id)""".stripMargin
  }

  // Adaptive-LSH replay: embeds the FULL maxTables × MaxAutoBits
  // weight matrix (plane index = table·16 + bit — layout independent
  // of the chosen bits) and re-computes BOTH sizing laws in SQL with
  // the same arithmetic as Dedup.adaptiveBits/adaptiveTables: bits =
  // smallest k in [4,16] with 64·2^k ≥ n (pure integers), tables =
  // ceil(round(ln(1/(1-R)) / pBit^bits, 6)) capped — so the gate
  // proves the sizing LAW at each SF, not one pinned constant.
  private def autoLshCtes(threshold: Double, targetRecall: Double,
      maxTables: Int): String = {
    val maxBits = graft.operators.Dedup.MaxAutoBits
    val weights =
      graft.functions.VectorFunctions.planeWeights(maxTables * maxBits, 64)
    val rows = weights.zipWithIndex.map { case (wv, p) =>
      val lits = wv.map(v => if (v > 0f) "1" else "-1").mkString(",")
      s"(${p / maxBits}, ${p % maxBits}, [$lits]::DOUBLE[])"
    }.mkString(",\n  ")
    val lnR = math.log(1.0 / (1.0 - targetRecall))
    // p^bits per candidate bits, embedded as literals computed by the
    // SAME repeated-multiplication loop the operator uses
    // (Dedup.pBitPow) — DuckDB's pow() is a different libm whose
    // last-ulp drift can straddle the 6dp round below and flip the
    // ceil; a literal product removes the hazard while the division /
    // round / ceil law stays recomputed in SQL.
    val powRows = (4 to 16).map { b =>
      s"($b, ${graft.operators.Dedup.pBitPow(threshold, b)})"
    }.mkString(", ")
    s"""nn AS (SELECT count(*)::BIGINT AS n FROM embeddings
       |  WHERE embedding IS NOT NULL),
       | pp AS (
       |  SELECT coalesce(min(k), 16)::INT AS bits
       |  FROM range(4, 17) t(k), nn WHERE 64 * (1::BIGINT << k) >= nn.n),
       | pw(pbits, pb) AS (VALUES $powRows),
       | pt AS (
       |  SELECT bits,
       |   least($maxTables, greatest(1,
       |     ceil(round($lnR / pw.pb, 6))))::INT AS tables
       |  FROM pp JOIN pw ON pw.pbits = pp.bits),
       | w(table_id, bit, wv) AS (VALUES
       |  $rows),
       | sigs AS (
       |  SELECT e.vec_id, w.table_id,
       |   sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], w.wv) >= 0
       |     THEN (1 << w.bit) ELSE 0 END)::INT AS sig
       |  FROM embeddings e, w, pt
       |  WHERE e.embedding IS NOT NULL
       |   AND w.table_id < pt.tables AND w.bit < pt.bits
       |  GROUP BY e.vec_id, w.table_id)""".stripMargin
  }

  private def knnLshCtes: String = {
    s"""${lshSigCtes(4, 4)},
       | lcand AS (
       |  SELECT DISTINCT s.vec_id AS probe_id, c.vec_id AS cand_id
       |  FROM sigs s JOIN sigs c ON s.table_id = c.table_id AND s.sig = c.sig
       |  WHERE s.vec_id < 8 AND c.vec_id <> s.vec_id),
       | lsc AS (
       |  SELECT l.probe_id, l.cand_id,
       |   round(list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cosine
       |  FROM lcand l JOIN embeddings p ON p.vec_id = l.probe_id
       |       JOIN embeddings c ON c.vec_id = l.cand_id)""".stripMargin
  }

  // BPE replay: the frozen merge table is embedded as literals; a
  // recursive CTE re-runs the encoder per DISTINCT word. State is the
  // token list joined with chr(1) guards — a control byte no real
  // word contains, where a printable guard like '|' would corrupt the
  // framing for any corpus word containing it (tokens themselves are
  // [a-z], so embedding them verbatim in SQL/regex is safe).
  // Replacing the LEFTMOST guard-delimited (a, b) occurrence
  // (regexp_replace without 'g') until none remain is exactly the
  // encoder's left-to-right pass for rank (a, b) — a merged token can
  // never create a new (a, b) match to its left.
  private def bpeCtes: String = {
    val merges = graft.functions.BpeTokenizer.merges
    val rows = merges.zipWithIndex.map { case ((a, b), r) =>
      s"($r, '$a', '$b')"
    }.mkString(",\n  ")
    s"""m(rank, a, b) AS (VALUES
       |  $rows),
       | words AS (
       |  SELECT DISTINCT w FROM (
       |   SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
       |   FROM documents WHERE text IS NOT NULL) WHERE w <> ''),
       | bpe(w, rank, s) AS (
       |  SELECT w, 0,
       |   chr(1) || array_to_string(string_split(w, ''), chr(1)) || chr(1)
       |  FROM words
       |  UNION ALL
       |  SELECT w,
       |   CASE WHEN instr(s, chr(1) || a || chr(1) || b || chr(1)) > 0
       |        THEN bpe.rank ELSE bpe.rank + 1 END,
       |   CASE WHEN instr(s, chr(1) || a || chr(1) || b || chr(1)) > 0
       |        THEN regexp_replace(s, chr(1) || a || chr(1) || b || chr(1),
       |               chr(1) || a || b || chr(1))
       |        ELSE s END
       |  FROM bpe JOIN m ON m.rank = bpe.rank),
       | wtok AS (
       |  SELECT w, length(s) - length(replace(s, chr(1), '')) - 1 AS n_tok
       |  FROM bpe WHERE rank = ${merges.size})""".stripMargin
  }

  // PageRank replay: unrolled power-iteration chain, same double
  // literals ((1 - 0.85), 0.85) and the same per-round 10dp rounding
  // as Graph.pageRank — the only cross-engine divergence (summation
  // order inside the per-node aggregate, ~1e-18) is absorbed by the
  // rounding, so every round starts bit-identical.
  private def pageRankCtes(iters: Int): String = {
    val its = (1 to iters).map { i =>
      s""" r$i AS (
         |  SELECT nd.node,
         |   round((1 - 0.85) / (SELECT n FROM nn)
         |     + 0.85 * coalesce(s.acc, 0.0), 10) AS rank
         |  FROM nodes nd LEFT JOIN (
         |   SELECT e.dst AS node, sum(r.rank / deg.outdeg) AS acc
         |   FROM e JOIN r${i - 1} r ON r.node = e.src
         |        JOIN deg ON deg.src = e.src
         |   GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       | e AS (SELECT DISTINCT l.l_partkey AS src, r.l_partkey AS dst
       |  FROM b l JOIN b r USING (l_orderkey)
       |  WHERE l.l_partkey <> r.l_partkey),
       | nodes AS (SELECT DISTINCT src AS node FROM e),
       | nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
       | deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src),
       | r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
       |$its""".stripMargin
  }

  // k-means replay: unrolled Lloyd rounds. Distances round to 4dp
  // before the argmin, per-dim means to 6dp before the next round —
  // identical to Similarity.kmeansAssign, so each round starts from
  // bit-identical centroids in both engines. Empty clusters keep the
  // previous centroid via the LEFT JOIN + coalesce.
  private def kmeansCtes(k: Int, iters: Int, extraWhere: String = ""): String = {
    val rounds = (1 to iters).map { i =>
      s""" a$i AS (
         |  SELECT vec_id, cluster, d2 FROM (
         |   SELECT p.vec_id, c.cluster,
         |    round(p.xx - 2.0 * list_dot_product(p.x, c.cvec)
         |      + list_dot_product(c.cvec, c.cvec), 4) AS d2,
         |    row_number() OVER (PARTITION BY p.vec_id ORDER BY
         |      round(p.xx - 2.0 * list_dot_product(p.x, c.cvec)
         |        + list_dot_product(c.cvec, c.cvec), 4), c.cluster) AS rn
         |   FROM pts p, c${i - 1} c) WHERE rn = 1),
         | m$i AS (
         |  SELECT a.cluster, u.i, round(sum(u.v) / count(*), 6) AS cv
         |  FROM a$i a JOIN (SELECT vec_id, generate_subscripts(x, 1) AS i,
         |    unnest(x) AS v FROM pts) u USING (vec_id)
         |  GROUP BY a.cluster, u.i),
         | c$i AS (
         |  SELECT c.cluster, coalesce(m.mvec, c.cvec) AS cvec
         |  FROM c${i - 1} c LEFT JOIN (SELECT cluster, list(cv ORDER BY i) AS mvec
         |    FROM m$i GROUP BY cluster) m USING (cluster))""".stripMargin
    }.mkString(",\n")
    s"""pts AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS x,
       |   list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS xx
       |  FROM embeddings WHERE embedding IS NOT NULL$extraWhere),
       | c0 AS (SELECT vec_id AS cluster, x AS cvec FROM pts
       |  ORDER BY vec_id LIMIT $k),
       |$rounds""".stripMargin
  }

  private lazy val eventHourlyOracle: String =
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour_start, event_type,
      | count(*) AS n_events,
      | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY hour_start, event_type
      |ORDER BY hour_start, event_type""".stripMargin

  private lazy val eventSessionizeOracle: String =
    """WITH g AS (SELECT user_id, ts, value,
      |   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |     OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
      |   THEN 1 ELSE 0 END AS brk FROM events),
      | s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM g)
      |SELECT user_id, date_trunc('second', min(ts)) AS session_start,
      | count(*) AS n_events,
      | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin

  // Trained-IVF replay: the kmeans CTE chain composed with the IVF
  // serve stage, cells re-centroided from the final assignment exactly
  // as cellCentroids' CentroidAggregator does (sum/count, 6dp). Shared
  // by knn_ivf_trained (in-query training) and knn_ivf_served (reads
  // the persisted index, whose contents equal this deterministic
  // retrain).
  /** knn_pq_served: the stored index contents are deterministic
    * functions of the corpus (kmeans replay for the cells, the
    * min/max grid law for the codes), so the oracle retrains the
    * coarse quantizer, re-derives the int8 reconstruction, and replays
    * the ADC cut + exact re-rank — landing on exactly what the serve
    * plan reads from disk.
    */
  private lazy val pqServedCtes: String =
    s"${kmeansCtes(8, 3)},\n" +
      """ p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
        | lab AS (SELECT e.vec_id, e.embedding, a3.cluster AS cell
        |  FROM embeddings e JOIN a3 USING (vec_id)),
        | tc0 AS (
        |  SELECT cell, i, round(sum(v::DOUBLE) / count(*), 6) AS cv
        |  FROM (SELECT cell, generate_subscripts(embedding, 1) AS i,
        |        unnest(embedding) AS v FROM lab)
        |  GROUP BY cell, i),
        | tcents AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM tc0 GROUP BY cell),
        | tpc AS (SELECT p.vec_id AS probe_id, c.cell,
        |   round(list_cosine_similarity(p.embedding::DOUBLE[], c.cvec), 4) AS ccos
        |  FROM p, tcents c),
        | tcells AS (SELECT probe_id, cell FROM (
        |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY ccos DESC, cell) AS cr
        |   FROM tpc WHERE ccos IS NOT NULL) WHERE cr <= 2),
        | g AS (SELECT i, min(v::DOUBLE) AS mn, max(v::DOUBLE) AS mx
        |  FROM (SELECT generate_subscripts(embedding, 1) AS i,
        |        unnest(embedding) AS v FROM embeddings
        |        WHERE embedding IS NOT NULL)
        |  GROUP BY i),
        | r0 AS (SELECT e.vec_id, e.i,
        |   CASE WHEN g.mx = g.mn THEN g.mn
        |     ELSE g.mn + floor((e.v::DOUBLE - g.mn) / ((g.mx - g.mn) / 255) + 0.5)
        |          * ((g.mx - g.mn) / 255) END AS rv
        |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |        unnest(embedding) AS v FROM embeddings
        |        WHERE embedding IS NOT NULL) e JOIN g USING (i)),
        | recon AS (SELECT vec_id, list(rv ORDER BY i) AS rvec FROM r0 GROUP BY vec_id),
        | adc AS (SELECT tcells.probe_id, e.vec_id AS cand_id,
        |   round(list_cosine_similarity(pp.embedding::DOUBLE[], rc.rvec), 4) AS adc_cosine
        |  FROM tcells JOIN lab e ON e.cell = tcells.cell
        |       JOIN recon rc ON rc.vec_id = e.vec_id
        |       JOIN embeddings pp ON pp.vec_id = tcells.probe_id
        |  WHERE e.vec_id <> tcells.probe_id),
        | topm AS (SELECT probe_id, cand_id, adc_cosine FROM (
        |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY adc_cosine DESC, cand_id) AS mr
        |   FROM adc WHERE adc_cosine IS NOT NULL) WHERE mr <= 15),
        | ex AS (SELECT t.probe_id, t.cand_id, t.adc_cosine,
        |   round(list_cosine_similarity(pp.embedding::DOUBLE[], ce.embedding::DOUBLE[]), 4) AS cosine
        |  FROM topm t JOIN embeddings ce ON ce.vec_id = t.cand_id
        |       JOIN embeddings pp ON pp.vec_id = t.probe_id),
        | fr AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
        |   FROM ex WHERE cosine IS NOT NULL)""".stripMargin

  private lazy val pqServedOracle: String =
    s"WITH $pqServedCtes\n" +
      """SELECT probe_id, cand_id, adc_cosine, cosine, rnk FROM fr WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin

  // `candWhere` masks the candidate lists only (the retraction gate's
  // replay): training, the stored-centroid re-derivation, and the
  // probe set all stay on the FULL build corpus — a takedown masks
  // list rows, it never moves the frozen quantizer
  private def ivfTrainedOracleWhere(candWhere: String): String =
    s"WITH ${ivfTrainedCtesWhere(candWhere)}\n" +
      """SELECT probe_id, cand_id, cosine, rnk FROM tsc WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin

  // the trained-IVF serve replay as a reusable CTE chain (through
  // `tsc`, the ranked candidate frame) — shared by the trained/served/
  // retrain/delete serve oracles and the delete-recall eval
  private def ivfTrainedCtesWhere(candWhere: String): String =
    s"${kmeansCtes(8, 3)},\n" +
      s""" p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
        | lab AS (SELECT e.vec_id, e.embedding, a3.cluster AS cell
        |  FROM embeddings e JOIN a3 USING (vec_id)),
        | tc0 AS (
        |  SELECT cell, i, round(sum(v::DOUBLE) / count(*), 6) AS cv
        |  FROM (SELECT cell, generate_subscripts(embedding, 1) AS i,
        |        unnest(embedding) AS v FROM lab)
        |  GROUP BY cell, i),
        | tcents AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM tc0 GROUP BY cell),
        | tpc AS (SELECT p.vec_id AS probe_id, c.cell,
        |   round(list_cosine_similarity(p.embedding::DOUBLE[], c.cvec), 4) AS ccos
        |  FROM p, tcents c),
        | tcells AS (SELECT probe_id, cell FROM (
        |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY ccos DESC, cell) AS cr
        |   FROM tpc WHERE ccos IS NOT NULL) WHERE cr <= 2),
        | tcand AS (SELECT tcells.probe_id, e.vec_id AS cand_id,
        |   round(list_cosine_similarity(pp.embedding::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cosine
        |  FROM tcells JOIN lab e ON e.cell = tcells.cell
        |       JOIN embeddings pp ON pp.vec_id = tcells.probe_id
        |  WHERE e.vec_id <> tcells.probe_id AND ($candWhere)),
        | tsc AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
        |   FROM tcand WHERE cosine IS NOT NULL)""".stripMargin

  private lazy val ivfTrainedOracle: String = ivfTrainedOracleWhere("1 = 1")

  /** knn_ivf_append: kmeans replay restricted to the BASE corpus (the
    * 80% the index trained on), stored centroids re-derived from the
    * final base assignment, the drop assigned against those FROZEN
    * centroids by the same 4-dp-rounded d2 argmin (ties cell asc) the
    * append pass uses, then the standard IVF serve over the union —
    * landing on exactly what the rolled index stores.
    */
  private lazy val ivfAppendCtes: String =
    s"${kmeansCtes(8, 3, " AND vec_id % 5 <> 4")},\n" +
      """ p AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
        | lab0 AS (SELECT e.vec_id, e.embedding, a3.cluster AS cell
        |  FROM embeddings e JOIN a3 USING (vec_id)),
        | tc0 AS (
        |  SELECT cell, i, round(sum(v::DOUBLE) / count(*), 6) AS cv
        |  FROM (SELECT cell, generate_subscripts(embedding, 1) AS i,
        |        unnest(embedding) AS v FROM lab0)
        |  GROUP BY cell, i),
        | tcents AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM tc0 GROUP BY cell),
        | dpts AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS x,
        |   list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS xx
        |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id % 5 = 4),
        | dlab AS (SELECT vec_id, embedding, cell FROM (
        |   SELECT d.vec_id, d.embedding, c.cell,
        |    row_number() OVER (PARTITION BY d.vec_id ORDER BY
        |      round(d.xx - 2.0 * list_dot_product(d.x, c.cvec)
        |        + list_dot_product(c.cvec, c.cvec), 4), c.cell) AS rn
        |   FROM dpts d, tcents c) WHERE rn = 1),
        | lab AS (SELECT vec_id, embedding, cell FROM lab0
        |  UNION ALL SELECT vec_id, embedding, cell FROM dlab),
        | tpc AS (SELECT p.vec_id AS probe_id, c.cell,
        |   round(list_cosine_similarity(p.embedding::DOUBLE[], c.cvec), 4) AS ccos
        |  FROM p, tcents c),
        | tcells AS (SELECT probe_id, cell FROM (
        |   SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY ccos DESC, cell) AS cr
        |   FROM tpc WHERE ccos IS NOT NULL) WHERE cr <= 2),
        | tcand AS (SELECT tcells.probe_id, e.vec_id AS cand_id,
        |   round(list_cosine_similarity(pp.embedding::DOUBLE[], e.embedding::DOUBLE[]), 4) AS cosine
        |  FROM tcells JOIN lab e ON e.cell = tcells.cell
        |       JOIN embeddings pp ON pp.vec_id = tcells.probe_id
        |  WHERE e.vec_id <> tcells.probe_id),
        | tsc AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, cand_id) AS rnk
        |   FROM tcand WHERE cosine IS NOT NULL)""".stripMargin

  private lazy val ivfAppendOracle: String =
    s"WITH $ivfAppendCtes\n" +
      """SELECT probe_id, cand_id, cosine, rnk FROM tsc WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin

  // MinHash replay: the affine family's (a_j, b_j) parameters come
  // from the SAME Scala generator the operator uses
  // (TextFunctions.minhashParams) and are embedded as literals; the
  // base hash is the md5-prefix device proven by contentHash32. Band
  // bucketing is exact tuple equality (no hashed band key), so the
  // candidate set, the exact-Jaccard verify, and the per-doc rollup
  // all replay value-for-value.
  private def minhashCtes(shingleCte: String, k: Int, bands: Int,
      rows: Int): String = {
    val params = graft.functions.TextFunctions.minhashParams(k)
    val p = graft.functions.TextFunctions.MinhashPrime
    val mins = params.map { case (a, b) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % $p))"
    }.mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"sig[${b * rows + r + 1}] AS s$r")
        .mkString(", ")
      s"SELECT doc_id, $b AS band, $cols FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    val joinCond = (0 until rows).map(r => s"a.s$r = b.s$r").mkString(" AND ")
    s"""sh AS ($shingleCte),
       | hsh AS (SELECT doc_id,
       |  list_transform(s, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
       |  FROM sh),
       | sig AS (SELECT doc_id, [
       |    $mins] AS sig FROM hsh),
       | bnd AS (
       |  $bandSelects),
       | cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bnd a JOIN bnd b ON a.band = b.band AND $joinCond
       |  WHERE a.doc_id < b.doc_id),
       | ver AS (
       |  SELECT id_a, id_b,
       |   round(len(list_intersect(sa.s, sb.s))::DOUBLE /
       |     greatest(len(list_distinct(list_concat(sa.s, sb.s))), 1), 4) AS j
       |  FROM cand JOIN sh sa ON sa.doc_id = id_a
       |       JOIN sh sb ON sb.doc_id = id_b)""".stripMargin
  }

  private def wordShingleCteWhere(where: String): String =
    s"""SELECT doc_id, list_distinct(list_transform(
       |   range(0, greatest(len(w)-3, 0)+1),
       |   i -> array_to_string(w[i+1:i+3], ' '))) AS s
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |        FROM documents WHERE $where)""".stripMargin

  private val wordShingleCte: String = wordShingleCteWhere("1 = 1")

  // the composite text-quality score law in DuckDB form — one string,
  // shared by the text_quality oracle and dedup_keep_best's argmax
  private val punctRatioSql: String =
    """round(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE / length(text)::DOUBLE, 4)"""
  private val stopRatioSql: String =
    """round(len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x IN ('the','a','and','of','to','in','is','on','for','with')))::DOUBLE / len(string_split_regex(trim(text), '\s+'))::DOUBLE, 4)"""
  private val qualityScoreSql: String =
    s"""round(0.4::DOUBLE * $stopRatioSql
       |   + 0.3::DOUBLE * (1.0::DOUBLE - $punctRatioSql)
       |   + 0.3::DOUBLE * least(1.0::DOUBLE, len(string_split_regex(trim(text), '\\s+'))::DOUBLE / 100.0::DOUBLE), 4)""".stripMargin

  // keep-BEST replay, shared verbatim by the batch action and its
  // streamed maintenance (same canonical table by contract): min-label
  // recursion over the verified minhash pair graph + the quality-law
  // argmax per component
  private lazy val keepBestOracle: String =
    s"WITH RECURSIVE ${minhashCtes(wordShingleCte, 32, 8, 4)},\n" +
      s""" edges AS MATERIALIZED (
         |  SELECT id_a AS src, id_b AS dst FROM ver WHERE j >= 0.5
         |  UNION
         |  SELECT id_b, id_a FROM ver WHERE j >= 0.5),
         | nodes AS (SELECT DISTINCT src AS node FROM edges),
         | walk(start, node) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT w.start, e.dst FROM walk w JOIN edges e ON e.src = w.node),
         | comp AS (SELECT start AS node, min(node) AS component
         |  FROM walk GROUP BY start),
         | q AS (SELECT doc_id, $qualityScoreSql AS quality_score
         |  FROM documents),
         | ranked AS (
         |  SELECT c.node, row_number() OVER (PARTITION BY c.component
         |    ORDER BY q.quality_score DESC, c.node) AS rn
         |  FROM comp c JOIN q ON q.doc_id = c.node)
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM ranked WHERE rn > 1)
         |ORDER BY doc_id""".stripMargin

  // char-5-grams: the gram width that separates on real AND synthetic
  // corpora — 3-gram sets from a small word vocabulary saturate (the
  // driver's template texts measure ~0.9 pairwise 3-gram Jaccard for
  // long docs, so EVERY long pair was a "near-dup"), while 5-gram
  // random-pair Jaccard tops out ~0.29 here (and lower on natural
  // text), the standard dedup-literature choice
  private val charGramCte: String =
    """SELECT doc_id, list_distinct(list_transform(
      |   range(1, greatest(length(text)-4, 1)+1),
      |   i -> text[i:i+4])) AS s
      |  FROM documents""".stripMargin

  // SimHash replay: per-token 64-bit hash = the first 16 hex chars of
  // md5 (same bit pattern as SimHash64Util.tokenHash64's big-endian 8
  // bytes), lane votes as a (doc, bit) aggregate, signed signature
  // rebuilt with an explicit bit-63 branch (BIGINT can't hold 2^63),
  // unsigned twin kept for chunking and Hamming.
  private val simhashCtes: String =
    s"""tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
       |  FROM documents),
       | th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h
       |  FROM tok),
       | lanes AS (SELECT unnest(range(0, 64)) AS b),
       | votes AS (
       |  SELECT th.doc_id, lanes.b,
       |   sum(CASE WHEN (th.h >> lanes.b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
       |  FROM th, lanes GROUP BY th.doc_id, lanes.b),
       | sigs AS (
       |  SELECT doc_id,
       |   (sum(CASE WHEN acc >= 0 AND b < 63 THEN (1::BIGINT << b) ELSE 0 END)
       |     + CASE WHEN max(CASE WHEN b = 63 AND acc >= 0 THEN 1 ELSE 0 END) = 1
       |         THEN (-9223372036854775807 - 1) ELSE 0 END)::BIGINT AS simhash,
       |   sum(CASE WHEN acc >= 0 THEN (1::UBIGINT << b) ELSE 0::UBIGINT END)::UBIGINT AS sig_u
       |  FROM votes GROUP BY doc_id)""".stripMargin

  // delta-restricted minhash rollup, shared verbatim by the fresh-index
  // incremental gate and its rollover (build + append) twin; the
  // retraction gate passes a shingle CTE whose corpus excludes the
  // tombstoned docs (the index's masked serve view)
  private val deltaMinhashRollup: String =
    """SELECT d.doc_id,
      | coalesce(p.n_candidates, 0)::BIGINT AS n_candidates,
      | coalesce(p.best_jaccard, 0.0) AS best_jaccard,
      | coalesce(p.is_near_dup, false) AS is_near_dup
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d LEFT JOIN (
      | SELECT doc_id, count(*)::BIGINT AS n_candidates,
      |  max(j) AS best_jaccard, bool_or(j >= 0.5) AS is_near_dup
      | FROM (SELECT id_a AS doc_id, j FROM ver
      |       UNION ALL SELECT id_b AS doc_id, j FROM ver)
      | GROUP BY doc_id) p USING (doc_id)""".stripMargin

  private def deltaMinhashOracleFrom(shingleCte: String): String =
    s"WITH ${minhashCtes(shingleCte, 32, 8, 4)}\n" +
      deltaMinhashRollup + "\nORDER BY doc_id"

  /** The two-phase epoch-cycle oracle: phase `reappended` re-signs the
    * FULL corpus (the expired takedown's content is back and serves),
    * phase `redeleted` re-signs the survivors (the fresh second-epoch
    * takedown masks again). Nested WITH per phase — the minhash CTE
    * chain instantiates twice with colliding names otherwise.
    */
  private def reappendMinhashOracle: String =
    s"""SELECT 'reappended' AS phase, p1.* FROM (
       |WITH ${minhashCtes(wordShingleCte, 32, 8, 4)}
       |$deltaMinhashRollup) p1
       |UNION ALL
       |SELECT 'redeleted' AS phase, p2.* FROM (
       |WITH ${minhashCtes(wordShingleCteWhere("doc_id % 10 <> 5"), 32, 8, 4)}
       |$deltaMinhashRollup) p2
       |ORDER BY phase, doc_id""".stripMargin

  private lazy val deltaMinhashOracle: String =
    deltaMinhashOracleFrom(wordShingleCte)

  /** text_bpe_train oracle: the merge rounds fully unrolled. Each round
    * counts adjacent symbol pairs at word-type grain (overlapping
    * positions count, weighted by type count), takes the
    * (count DESC, pair ASC) argmax, and applies the non-overlapping
    * left-to-right merge via the double-delimited string-replace
    * device: symbols joined as `||a||b||…||`, pattern `|a||b|` →
    * `|ab|` — SQL replace's continue-after-replacement scan consumes
    * exactly the tokens [[graft.functions.BpeTokenizer.mergePass]]
    * skips, and the doubled delimiter leaves the partner `|` for the
    * next adjacent match.
    */
  private def bpeTrainOracleSql(numMerges: Int): String = {
    val finals = (1 to numMerges).map { r =>
      s"SELECT $r AS rank, a AS pair_a, b AS pair_b, a||b AS merged, n AS n_occurrences FROM m$r"
    }.mkString("\nUNION ALL\n")
    s"WITH ${bpeTrainCtes(numMerges)}\n$finals\nORDER BY rank"
  }

  /** The train oracle's CTE chain (w0 + per-round p/m/w), shared with
    * the branching text_bpe_retrain oracle.
    */
  private def bpeTrainCtes(numMerges: Int): String = {
    // AS MATERIALIZED throughout: each w_r is referenced by both p_{r+1}
    // and w_{r+1}, and each m_r by two scalar subqueries — left to the
    // inliner the chain re-evaluates exponentially (measured ~4 min at
    // sf0.01; materialized it's sub-second)
    val w0 =
      """w0 AS MATERIALIZED (SELECT list_transform(range(1, len(w)+1), i -> w[i:i]) AS syms, cnt
        |  FROM (SELECT w, count(*)::BIGINT AS cnt
        |        FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |              FROM documents)
        |        WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w))""".stripMargin
    val rounds = (1 to numMerges).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT struct_extract(pr, 'a') AS a, struct_extract(pr, 'b') AS b,
         |    sum(cnt)::BIGINT AS n
         |  FROM (SELECT unnest(list_transform(range(0, len(syms)-1),
         |          i -> {'a': syms[i+1], 'b': syms[i+2]})) AS pr, cnt FROM $prev)
         |  GROUP BY 1, 2),
         | m$r AS MATERIALIZED (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
         | w$r AS MATERIALIZED (SELECT list_filter(string_split(
         |     replace('||' || array_to_string(syms, '||') || '||',
         |             (SELECT '|'||a||'||'||b||'|' FROM m$r),
         |             (SELECT '|'||a||b||'|' FROM m$r)),
         |     '||'), x -> x <> '') AS syms, cnt FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"$w0,\n$rounds"
  }

  /** pipeline_late / stream_late_events oracle: the single-load
    * replay with the OVERWRITE layers (raw + views) pointed at the
    * LATE slice only — merge tables are split-invariant (dense
    * surrogate sums are 1..n regardless of arrival order), the
    * latest-drop-wins layers are not, and the summary pins both
    * behaviors. Shared verbatim by the batch and streamed late loads:
    * the streamed path must land the identical warehouse.
    */
  private lazy val pipelineLateOracle: String =
    """WITH ev AS (SELECT * FROM events WHERE event_id IS NOT NULL),
      | evl AS (SELECT * FROM ev WHERE event_id % 5 = 0),
      | de AS (SELECT DISTINCT event_id FROM ev),
      | du AS (SELECT DISTINCT user_id FROM ev),
      | dp AS (SELECT DISTINCT unnest(json_keys(props)) AS parameter_name FROM ev),
      | gde AS (SELECT event_id, row_number() OVER (ORDER BY event_id) AS guid FROM de),
      | fe AS (SELECT e.event_id, CAST(e.value AS DECIMAL(18,6)) AS ev_val, g.guid
      |   FROM ev e JOIN gde g USING (event_id)),
      | vf AS (SELECT CAST(ts AS DATE) AS period_day,
      |   json_extract_string(props, '$.k')::BIGINT AS item_key FROM evl
      |   WHERE event_type = 'view'),
      | vj AS (SELECT vf.period_day, d.p_name AS item_name
      |   FROM vf JOIN part d ON vf.item_key = d.p_partkey),
      | v1 AS (SELECT period_day, count(*)::BIGINT AS item_views FROM vj GROUP BY 1),
      | ic AS (SELECT period_day, item_name, count(*)::BIGINT AS item_views
      |   FROM vj GROUP BY 1, 2),
      | v2 AS (SELECT ic.*, dense_rank() OVER (PARTITION BY period_day
      |     ORDER BY item_views DESC)::BIGINT AS item_view_rank FROM ic),
      | v3 AS (SELECT * FROM ic WHERE period_day = (SELECT max(period_day) FROM ic)
      |   ORDER BY item_views DESC, item_name LIMIT 1)
      |SELECT * FROM (
      | SELECT 'event_raw' AS tbl, count(*)::BIGINT AS n_rows,
      |   count(DISTINCT event_id)::BIGINT AS n_keys,
      |   ((count(*)::BIGINT * (count(*)::BIGINT + 1)) // 2)::BIGINT AS key_sum,
      |   round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS val_sum FROM evl
      | UNION ALL
      | SELECT 'd_event', count(*)::BIGINT, count(*)::BIGINT,
      |   ((count(*)::BIGINT * (count(*)::BIGINT + 1)) // 2)::BIGINT, 0.0::DOUBLE FROM de
      | UNION ALL
      | SELECT 'd_user', count(*)::BIGINT, count(*)::BIGINT,
      |   ((count(*)::BIGINT * (count(*)::BIGINT + 1)) // 2)::BIGINT, 0.0::DOUBLE FROM du
      | UNION ALL
      | SELECT 'd_parameter', count(*)::BIGINT, count(*)::BIGINT,
      |   ((count(*)::BIGINT * (count(*)::BIGINT + 1)) // 2)::BIGINT, 0.0::DOUBLE FROM dp
      | UNION ALL
      | SELECT 'd_item', count(*)::BIGINT, count(DISTINCT p_partkey)::BIGINT,
      |   sum(p_partkey)::BIGINT,
      |   round(CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DECIMAL(18,2))) AS DOUBLE), 4)
      |   FROM part
      | UNION ALL
      | SELECT 'f_events', count(*)::BIGINT, count(DISTINCT event_id)::BIGINT,
      |   sum(guid)::BIGINT, round(CAST(sum(ev_val) AS DOUBLE), 4) FROM fe
      | UNION ALL
      | SELECT 'view_item_rank', count(*)::BIGINT, count(DISTINCT item_name)::BIGINT,
      |   sum(item_views * item_view_rank)::BIGINT, 0.0::DOUBLE FROM v2
      | UNION ALL
      | SELECT 'view_top_item', count(*)::BIGINT, count(DISTINCT item_name)::BIGINT,
      |   sum(item_views)::BIGINT, 0.0::DOUBLE FROM v3
      | UNION ALL
      | SELECT 'view_top_platform', count(*)::BIGINT, count(DISTINCT period_day)::BIGINT,
      |   sum(item_views)::BIGINT, 0.0::DOUBLE FROM v1
      | UNION ALL
      | SELECT 'view_yearly_counts', count(*)::BIGINT, count(DISTINCT period_day)::BIGINT,
      |   sum(item_views)::BIGINT, 0.0::DOUBLE FROM v1
      |) ORDER BY tbl""".stripMargin

  /** The four reference-view oracles — shared verbatim by the
    * DataFrame twins (`view_*`) and the spark.sql façade twins
    * (`sql_view_*`, [[graft.operators.SqlFacade]]).
    */
  private lazy val viewYearlyOracle: String =
    """WITH fe AS (SELECT CAST(ts AS DATE) AS period_day,
      |   json_extract_string(props, '$.k')::BIGINT AS item_key
      | FROM events WHERE event_type = 'view')
      |SELECT period_day, count(*) AS item_views
      |FROM fe JOIN part d ON fe.item_key = d.p_partkey
      |GROUP BY period_day ORDER BY period_day""".stripMargin

  private lazy val viewItemRankOracle: String =
    """WITH fe AS (SELECT CAST(ts AS DATE) AS period_day,
      |   json_extract_string(props, '$.k')::BIGINT AS item_key
      | FROM events WHERE event_type = 'view'),
      | c AS (SELECT period_day, d.p_name AS item_name, count(*) AS item_views
      |   FROM fe JOIN part d ON fe.item_key = d.p_partkey
      |   GROUP BY period_day, d.p_name)
      |SELECT period_day, item_name, item_views,
      | CAST(dense_rank() OVER (PARTITION BY period_day ORDER BY item_views DESC) AS BIGINT) AS item_view_rank
      |FROM c ORDER BY period_day, item_view_rank, item_name""".stripMargin

  private lazy val viewTopItemOracle: String =
    """WITH fe AS (SELECT CAST(ts AS DATE) AS period_day,
      |   json_extract_string(props, '$.k')::BIGINT AS item_key
      | FROM events WHERE event_type = 'view'),
      | c AS (SELECT period_day, d.p_name AS item_name, count(*) AS item_views
      |   FROM fe JOIN part d ON fe.item_key = d.p_partkey
      |   GROUP BY period_day, d.p_name)
      |SELECT period_day, item_name, item_views FROM c
      |WHERE period_day = (SELECT max(period_day) FROM c)
      |ORDER BY item_views DESC, item_name LIMIT 1""".stripMargin

  private lazy val viewTopPlatformOracle: String =
    """WITH fact AS (SELECT CAST(ts AS DATE) AS period_day, event_type AS platform,
      |   json_extract_string(props, '$.k')::BIGINT AS item_key FROM events
      |   WHERE event_type = 'view'),
      | c AS (SELECT period_day, platform, count(*) AS platform_views
      |   FROM fact JOIN part d ON fact.item_key = d.p_partkey
      |   GROUP BY period_day, platform),
      | r AS (SELECT *, CAST(dense_rank() OVER (PARTITION BY period_day ORDER BY platform_views DESC) AS BIGINT) AS platform_rank FROM c)
      |SELECT period_day, platform, platform_views, platform_rank
      |FROM r WHERE platform_rank = 1 ORDER BY period_day, platform""".stripMargin

  /** text_bpe_retrain oracle: the drift trigger (worst-slice
    * chars-per-token under the FROZEN table, the text_bpe_eval law)
    * gates WHICH branch emits — the fully-unrolled retrain chain when
    * it fires, the frozen VALUES table when it doesn't. Both branches
    * carry the decision columns, so the served table is a pure
    * function of the corpus either way.
    */
  private def bpeRetrainOracleSql(threshold: Double,
      numMerges: Int): String = {
    val ctes = bpeTrainCtes(numMerges)
    val fire = s"(SELECT mc FROM trig) < $threshold"
    val trainedBranch = (1 to numMerges).map { r =>
      s"  SELECT $r AS rank, a AS pair_a, b AS pair_b, a||b AS merged " +
        s"FROM m$r WHERE $fire"
    }.mkString("\n  UNION ALL\n")
    s"WITH RECURSIVE $bpeCtes,\n" +
      """ docw AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        | dt AS (SELECT docw.doc_id, sum(t.n_tok)::BIGINT AS bpe
        |  FROM docw JOIN wtok t USING (w) WHERE docw.w <> ''
        |  GROUP BY docw.doc_id),
        | per AS (SELECT d.doc_id, d.lang, d.source,
        |   length(d.text)::BIGINT AS n_chars,
        |   coalesce(dt.bpe, 0)::BIGINT AS bpe
        |  FROM documents d LEFT JOIN dt USING (doc_id)
        |  WHERE d.text IS NOT NULL),
        | ev AS (SELECT round(sum(n_chars)::DOUBLE / sum(bpe), 4) AS cpt
        |  FROM per GROUP BY lang, source),
        | trig AS (
        |  -- empty/all-null corpus: no evidence of drift — mirror the
        |  -- engine's healthy-branch fallback (Double.MaxValue) so both
        |  -- sides serve the frozen table with the same trigger scalar
        |  SELECT coalesce(min(cpt), 1.7976931348623157E308) AS mc FROM ev),
        |""".stripMargin +
      s" $ctes\n" +
      s"""SELECT rank, pair_a, pair_b, merged,
         | $fire AS retrained,
         | (SELECT mc FROM trig) AS trigger_cpt
         |FROM (
         |$trainedBranch
         |  UNION ALL
         |  SELECT rank + 1 AS rank, a AS pair_a, b AS pair_b,
         |   a||b AS merged FROM m WHERE NOT ($fire))
         |ORDER BY rank""".stripMargin
  }

  /** Shared oracle for the classifier lifecycle gates: the full Naive
    * Bayes train chain (plus the prior) over `documents` restricted by
    * `where` — the rolled store must land on the union's fresh train,
    * the retracted store on the survivors'.
    */
  /** The Naive-Bayes oracle CTE chain, in ONE place (previously pasted
    * six times — a fork between copies would silently split the oracle
    * from the Spark label law): tokenize → Gopher weak label → token
    * stream ([[clfTokenCtes]], parameterized by the corpus predicate);
    * token class counts → top-256 vocab → totals ([[clfCountCtes]]);
    * the llr model cell ([[clfModelCte]]); and the prior + per-doc
    * scoring chain ([[clfScoreCtes]]).
    */
  private def clfTokenCtes(where: String): String =
    s"""w AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM documents $where),
       | lab AS MATERIALIZED (
       |  SELECT doc_id,
       |   ((len(ws)::BIGINT >= 30 AND len(ws)::BIGINT <= 80)
       |    AND (list_aggregate(list_transform(ws, x -> length(x)), 'sum')::DOUBLE / len(ws) >= 4.0
       |     AND list_aggregate(list_transform(ws, x -> length(x)), 'sum')::DOUBLE / len(ws) <= 5.0)
       |    AND len(list_intersect(list_distinct(ws),
       |         ['the','a','and','of','to','in','is','on','for','with']))::BIGINT >= 2) AS label
       |  FROM w),
       | tk AS MATERIALIZED (
       |  SELECT doc_id, unnest(ws) AS token FROM w)""".stripMargin

  private val clfCountCtes: String =
    """counts AS (
      |  SELECT tk.token,
      |   sum(CASE WHEN lab.label THEN 1 ELSE 0 END)::BIGINT AS cnt_pos,
      |   sum(CASE WHEN lab.label THEN 0 ELSE 1 END)::BIGINT AS cnt_neg
      |  FROM tk JOIN lab USING (doc_id) WHERE tk.token <> '' GROUP BY 1),
      | vocab AS (SELECT * FROM counts
      |  ORDER BY (cnt_pos + cnt_neg) DESC, token LIMIT 256),
      | tot AS (SELECT sum(cnt_pos)::BIGINT AS tot_pos,
      |   sum(cnt_neg)::BIGINT AS tot_neg, count(*)::BIGINT AS v_n FROM vocab)""".stripMargin

  private val clfModelCte: String =
    """model AS MATERIALIZED (
      |  SELECT token,
      |   round((ln((cnt_pos + 1.0) / (tot_pos + v_n))
      |        - ln((cnt_neg + 1.0) / (tot_neg + v_n))) * 10000)::BIGINT AS llr_e4
      |  FROM vocab, tot)""".stripMargin

  private val clfScoreCtes: String =
    s"""$clfModelCte,
       | prior AS (SELECT round(ln(
       |    sum(CASE WHEN label THEN 1 ELSE 0 END)::DOUBLE
       |    / sum(CASE WHEN label THEN 0 ELSE 1 END)) * 10000)::BIGINT AS prior_e4
       |  FROM lab),
       | contrib AS (
       |  SELECT tk.doc_id, sum(m.llr_e4)::BIGINT AS tok_e4
       |  FROM tk JOIN model m USING (token) WHERE tk.token <> '' GROUP BY 1)""".stripMargin

  private def clfModelOracleSql(where: String): String =
    s"""WITH ${clfTokenCtes(where)},
       | $clfCountCtes,
       | prior AS (SELECT round(ln(
       |    sum(CASE WHEN label THEN 1 ELSE 0 END)::DOUBLE
       |    / sum(CASE WHEN label THEN 0 ELSE 1 END)) * 10000)::BIGINT AS prior_e4
       |  FROM lab)
       |SELECT token, cnt_pos, cnt_neg,
       | round((ln((cnt_pos + 1.0) / (tot_pos + v_n))
       |      - ln((cnt_neg + 1.0) / (tot_neg + v_n))) * 10000)::BIGINT AS llr_e4,
       | (SELECT prior_e4 FROM prior) AS prior_e4
       |FROM vocab, tot ORDER BY token""".stripMargin

  /** text_clf_retrain oracle: the drift trigger (frozen-model
    * agreement with the current weak labels, 4dp) gates WHICH branch
    * emits — the full Naive Bayes train chain when it fires, the
    * frozen VALUES weights when it doesn't. Frozen weights/prior are
    * interpolated from [[graft.operators.Classifier.frozenWeights]] so
    * code and oracle can never drift apart.
    */
  private def clfRetrainOracleSql(threshold: Double): String = {
    val frozenRows = graft.operators.Classifier.frozenWeights
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    val priorE4 = graft.operators.Classifier.frozenPriorE4
    val fire = s"(SELECT agree FROM trig) < $threshold"
    s"""WITH ${clfTokenCtes("")},
       | frozen(token, llr_e4) AS (SELECT * FROM (VALUES $frozenRows)),
       | fcontrib AS (
       |  SELECT tk.doc_id, sum(f.llr_e4)::BIGINT AS tok_e4
       |  FROM tk JOIN frozen f USING (token) WHERE tk.token <> '' GROUP BY 1),
       | fscored AS (
       |  SELECT w.doc_id, ($priorE4 + coalesce(c.tok_e4, 0)) > 0 AS pred
       |  FROM w LEFT JOIN fcontrib c USING (doc_id)),
       | trig AS (
       |  -- empty/all-null corpus: no evidence of drift — mirror the
       |  -- engine's healthy-branch fallback (agree = 1.0) so both
       |  -- sides serve the frozen weights with the same trigger scalar
       |  SELECT coalesce(round(
       |    sum(CASE WHEN s.pred = lab.label THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*), 4), 1.0) AS agree
       |  FROM fscored s JOIN lab USING (doc_id)),
       | $clfCountCtes,
       | $clfModelCte
       |SELECT token, llr_e4,
       | $fire AS retrained,
       | (SELECT agree FROM trig) AS trigger_agree
       |FROM (
       |  SELECT token, llr_e4 FROM model WHERE $fire
       |  UNION ALL
       |  SELECT token, llr_e4::BIGINT FROM frozen WHERE NOT ($fire))
       |ORDER BY token""".stripMargin
  }

  /** pipeline_corpus: all five curation laws replayed as one CTE
    * chain — Gopher flags → quality survivors → exact keep-min per
    * text → minhash near-dup pairs among the canonical corpus (the
    * shingle CTE reads from `canon`, not `documents`) → drop-higher-id
    * → content-hash split → train-only packing prefix sum — then the
    * same per-stage summary rows the Spark side computes from its
    * staged tables.
    */
  private lazy val pipelineCorpusOracle: String = {
    val canonShingleCte =
      """SELECT doc_id, list_distinct(list_transform(
        |   range(0, greatest(len(w)-3, 0)+1),
        |   i -> array_to_string(w[i+1:i+3], ' '))) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM canon)""".stripMargin
    s"""WITH RECURSIVE gw AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents),
       | gbase AS (
       |  SELECT doc_id, len(ws)::BIGINT AS n_words,
       |   list_aggregate(list_transform(ws, x -> length(x)), 'sum')::DOUBLE / len(ws) AS mean_word_len,
       |   len(list_intersect(list_distinct(ws),
       |       ['the','a','and','of','to','in','is','on','for','with']))::BIGINT AS n_stopwords
       |  FROM gw),
       | gk AS (SELECT doc_id, n_words FROM gbase
       |  WHERE n_words BETWEEN 30 AND 80
       |    AND mean_word_len BETWEEN 4.0 AND 5.0 AND n_stopwords >= 2),
       | ek AS (SELECT min(d.doc_id) AS doc_id
       |  FROM documents d JOIN gk ON gk.doc_id = d.doc_id GROUP BY d.text),
       | canon AS (SELECT d.doc_id, d.text FROM documents d JOIN ek USING (doc_id)),
       | ${minhashCtes(canonShingleCte, 32, 8, 4)},
       | edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM ver WHERE j >= 0.5
       |  UNION
       |  SELECT id_b, id_a FROM ver WHERE j >= 0.5),
       | cnodes AS (SELECT DISTINCT src AS node FROM edges),
       | walk(start, node) AS (
       |  SELECT node, node FROM cnodes
       |  UNION
       |  SELECT w2.start, e.dst FROM walk w2 JOIN edges e ON e.src = w2.node),
       | comp AS (SELECT start AS node, min(node) AS component
       |  FROM walk GROUP BY start),
       | cq AS (SELECT doc_id, $qualityScoreSql AS quality_score FROM canon),
       | ranked AS (
       |  SELECT c2.node, row_number() OVER (PARTITION BY c2.component
       |    ORDER BY cq.quality_score DESC, c2.node) AS rn
       |  FROM comp c2 JOIN cq ON cq.doc_id = c2.node),
       | clean AS (SELECT c.doc_id, c.text FROM canon c
       |  WHERE c.doc_id NOT IN (SELECT node FROM ranked WHERE rn > 1)),
       | spl AS (SELECT doc_id, text,
       |   CASE WHEN ('0x'||substr(md5(text),1,8))::BIGINT % 100 < 98 THEN 'train'
       |        WHEN ('0x'||substr(md5(text),1,8))::BIGINT % 100 = 98 THEN 'valid'
       |        ELSE 'test' END AS split
       |  FROM clean),
       | sized AS (SELECT doc_id,
       |   len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
       |  FROM spl WHERE split = 'train' AND text IS NOT NULL),
       | cum AS (SELECT doc_id, n_tokens,
       |   coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pack_start
       |  FROM sized),
       | pk AS (SELECT doc_id, n_tokens,
       |   ((pack_start + n_tokens - 1) // 256)::BIGINT AS last_chunk FROM cum)
       |SELECT 'quality_keep' AS stage, count(*)::BIGINT AS n_docs,
       |  coalesce(sum(doc_id), 0)::BIGINT AS id_sum,
       |  coalesce(sum(n_words), 0)::BIGINT AS val_sum FROM gk
       |UNION ALL SELECT 'exact_keep', count(*)::BIGINT,
       |  coalesce(sum(doc_id), 0)::BIGINT, 0::BIGINT FROM canon
       |UNION ALL SELECT 'neardup_clean', count(*)::BIGINT,
       |  coalesce(sum(doc_id), 0)::BIGINT, 0::BIGINT FROM clean
       |UNION ALL SELECT 'split_' || split, count(*)::BIGINT,
       |  sum(doc_id)::BIGINT, 0::BIGINT FROM spl GROUP BY split
       |UNION ALL SELECT 'pack', count(*)::BIGINT,
       |  coalesce(sum(doc_id), 0)::BIGINT,
       |  coalesce(sum(n_tokens), 0)::BIGINT FROM pk
       |UNION ALL SELECT 'pack_chunks',
       |  (coalesce(max(last_chunk), -1) + 1)::BIGINT, 0::BIGINT, 0::BIGINT FROM pk
       |ORDER BY stage""".stripMargin
  }

  /** stream_neardup: the full-corpus minhash candidates under the
    * ARRIVAL-ORDER law — a doc's rollup counts a verified pair only if
    * the other side arrived no later (base = 0, drop 1 = 1, drop 2 =
    * 2), which is exactly what the streaming topology emits: each
    * drop's row is computed against base ∪ drops-so-far, and a
    * cross-drop pair lands once, on the later drop's row.
    */
  private lazy val streamNearDupOracle: String =
    s"WITH ${minhashCtes(wordShingleCte, 32, 8, 4)},\n" +
      """ arr AS (SELECT doc_id,
        |   CASE WHEN doc_id % 10 = 0 THEN 2
        |        WHEN doc_id % 10 = 5 THEN 1 ELSE 0 END AS a
        |  FROM documents),
        | vr AS (SELECT v.id_a, v.id_b, v.j, aa.a AS a_a, ab.a AS a_b
        |  FROM ver v JOIN arr aa ON aa.doc_id = v.id_a
        |       JOIN arr ab ON ab.doc_id = v.id_b),
        | sides AS (
        |  SELECT id_a AS doc_id, j FROM vr WHERE a_a >= a_b AND a_a > 0
        |  UNION ALL
        |  SELECT id_b AS doc_id, j FROM vr WHERE a_b >= a_a AND a_b > 0),
        | p AS (SELECT doc_id, count(*)::BIGINT AS n_candidates,
        |   max(j) AS best_jaccard, bool_or(j >= 0.5) AS is_near_dup
        |  FROM sides GROUP BY doc_id)
        |SELECT d.doc_id,
        | coalesce(p.n_candidates, 0)::BIGINT AS n_candidates,
        | coalesce(p.best_jaccard, 0.0) AS best_jaccard,
        | coalesce(p.is_near_dup, false) AS is_near_dup
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 IN (0, 5)) d
        |LEFT JOIN p USING (doc_id)
        |ORDER BY doc_id""".stripMargin

  // islands-method sessionization, shared verbatim by the single-run
  // custom-state gate and its kill-and-resume twin (same sessions by
  // contract — a restart must not split or duplicate any)
  private val sessionizeIslandsSql: String =
    """WITH l AS (SELECT user_id, ts, event_id,
      |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
      |  FROM events),
      | b AS (SELECT user_id, ts, event_id,
      |   CASE WHEN pts IS NULL OR ts - pts > INTERVAL '30 minutes'
      |     THEN 1 ELSE 0 END AS brk
      |  FROM l),
      | g AS (SELECT user_id, ts,
      |   sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      |  FROM b)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      | count(*)::BIGINT AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** One rounded max-norm power-iteration chain over Gram CTE `gram`,
    * CTE names suffixed with `sfx` — shared by the dominant-component
    * oracle and the deflated second chain of [[pca2Oracle]].
    */
  private def pcaIterCtes(gram: String, sfx: String): String =
    (1 to 3).map { k =>
      val pv = s"v${k - 1}$sfx"
      s""" w$k$sfx AS MATERIALIZED (SELECT gi AS i, round(sum(gv * vv), 6) AS wv
         |  FROM $gram JOIN $pv ON gj = $pv.i GROUP BY gi),
         | s$k$sfx AS MATERIALIZED (SELECT max(abs(wv)) AS s FROM w$k$sfx),
         | v$k$sfx AS MATERIALIZED (SELECT i, CASE WHEN (SELECT s FROM s$k$sfx) = 0 THEN wv
         |   ELSE round(wv / (SELECT s FROM s$k$sfx), 6) END AS vv FROM w$k$sfx)""".stripMargin
    }.mkString(",\n")

  /** PCA oracle: replays the 6-dp column means, the centered Gram
    * matrix, three power-iteration rounds (6-dp matvec, exact max-|w|
    * normalization — no sqrt anywhere), and the 4-dp projection —
    * step-for-step the math [[graft.operators.Pca.topComponent]] pins.
    */
  private lazy val pcaOracle: String = {
    val iterCtes = pcaIterCtes("g", "")
    s"""WITH e AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
       |   unnest(embedding)::DOUBLE AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       | m AS (SELECT i, round(sum(v) / count(*), 6) AS mv FROM e GROUP BY i),
       | c AS (SELECT e.vec_id, e.label, e.i, e.v - m.mv AS cv
       |  FROM e JOIN m USING (i)),
       | g AS (SELECT a.i AS gi, b.i AS gj, round(sum(a.cv * b.cv), 6) AS gv
       |  FROM c a JOIN c b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
       | v0 AS (SELECT i, 1.0::DOUBLE AS vv FROM m),
       |$iterCtes
       |SELECT c.vec_id, any_value(c.label) AS label,
       | round(sum(c.cv * v3.vv), 4) AS pc1_score,
       | round((SELECT s FROM s3), 4) AS ev_scale
       |FROM c JOIN v3 USING (i)
       |GROUP BY c.vec_id ORDER BY vec_id""".stripMargin
  }

  /** Shared oracle for the PCA lifecycle gates: the dominant component
    * derived through the MOMENT IDENTITY — raw sums (n, Σx, Σxxᵀ) over
    * `embeddings` restricted by `extraWhere`, means `round(s/n, 6)`,
    * Gram cells `round(S − m·sᵀ − s·mᵀ + n·m·mᵀ, 6)` with the Spark
    * side's exact operand order, then the standard rounded iteration
    * and projection. The rolled store must land on the union's moment
    * law, the retracted store on the survivors'.
    */
  /** The KMV sketch replay, parameterized: the batch query emits the
    * exact-distinct eval column alongside the sketch; the served-store
    * gates (rolled, streamed — the store's fold is bit-identical to a
    * whole-corpus sketch) omit it, because a served sketch cannot
    * answer it. One CTE chain, so the hash law and the estimator
    * formula live in exactly one place.
    */
  private def kmvOracleSql(withExact: Boolean): String = {
    val exactCol = if (withExact) ",\n  agg.nd AS n_distinct_exact" else ""
    s"""WITH b AS (
       |  SELECT lang, ('0x'||substr(md5(text),1,8))::BIGINT AS h
       |  FROM documents WHERE text IS NOT NULL),
       | st AS (SELECT lang, count(*)::BIGINT AS n_rows FROM b GROUP BY lang),
       | d AS (SELECT DISTINCT lang, h FROM b),
       | r AS (SELECT lang, h,
       |   row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM d),
       | agg AS (SELECT lang, count(*)::BIGINT AS nd,
       |   count(*) FILTER (rn <= 64)::BIGINT AS n_kept,
       |   max(h) FILTER (rn <= 64) AS kth_hash FROM r GROUP BY lang)
       |SELECT st.lang, st.n_rows, agg.n_kept, agg.kth_hash,
       |  round(CASE WHEN agg.nd < 64 THEN agg.nd::DOUBLE
       |        WHEN agg.kth_hash = 0 THEN agg.n_kept::DOUBLE
       |        ELSE 63 * 4294967296.0 / agg.kth_hash END, 4) AS est_distinct$exactCol
       |FROM st JOIN agg USING (lang) ORDER BY lang""".stripMargin
  }

  /** The mixture-datasheet replay, parameterized by the survivor
    * predicate so the plain query, the rolled/streamed stores (full
    * corpus), and the retraction gate (survivors only) share one law.
    */
  private def mixtureOracleSql(where: String): String =
    s"""WITH slices AS (
       |  SELECT lang, source, count(*)::BIGINT AS n_docs,
       |   sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS n_tokens
       |  FROM documents $where GROUP BY 1, 2),
       | totals AS (
       |  SELECT sum(n_docs)::BIGINT AS t_docs, sum(n_tokens)::BIGINT AS t_tokens
       |  FROM slices)
       |SELECT s.lang, s.source, s.n_docs, s.n_tokens,
       | s.n_docs::DOUBLE / t.t_docs AS doc_share,
       | s.n_tokens::DOUBLE / t.t_tokens AS token_share
       |FROM slices s, totals t ORDER BY s.lang, s.source""".stripMargin

  private def pcaMomentOracleSql(extraWhere: String): String = {
    val chain = pcaIterCtes("g", "")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
       |   unnest(embedding)::DOUBLE AS v
       |  FROM embeddings WHERE embedding IS NOT NULL $extraWhere),
       | nn AS (SELECT count(DISTINCT vec_id)::BIGINT AS n FROM e),
       | m AS MATERIALIZED (
       |  SELECT i, sum(v) AS sv,
       |   round(sum(v) / (SELECT n FROM nn), 6) AS mv
       |  FROM e GROUP BY i),
       | ssm AS MATERIALIZED (
       |  SELECT a.i AS gi, b.i AS gj, sum(a.v * b.v) AS ssv
       |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       | g AS MATERIALIZED (
       |  SELECT gi, gj,
       |   round(ssv - ma.mv * mb.sv - mb.mv * ma.sv
       |         + (SELECT n FROM nn) * ma.mv * mb.mv, 6) AS gv
       |  FROM ssm JOIN m ma ON gi = ma.i JOIN m mb ON gj = mb.i),
       | v0 AS (SELECT i, 1.0::DOUBLE AS vv FROM m),
       |$chain,
       | c AS MATERIALIZED (SELECT e.vec_id, e.label, e.i, e.v - m.mv AS cv
       |  FROM e JOIN m USING (i))
       |SELECT c.vec_id, any_value(c.label) AS label,
       | round(sum(c.cv * v3.vv), 4) AS pc1_score,
       | round((SELECT s FROM s3), 4) AS ev_scale
       |FROM c JOIN v3 USING (i)
       |GROUP BY c.vec_id ORDER BY vec_id""".stripMargin
  }

  /** emb_pca_topk oracle: the [[pcaOracle]] chain, then Hotelling
    * deflation (Rayleigh λ over the converged direction, the rank-1
    * update rounded cell-for-cell with the Spark side's exact operator
    * order `λ·vᵢ·vⱼ/vᵀv`), then the SAME rounded iteration over the
    * residual Gram, and both projections plus the orthogonality audit
    * in the final scan.
    */
  private lazy val pca2Oracle: String = {
    val chain1 = pcaIterCtes("g", "")
    val chain2 = pcaIterCtes("g2", "b")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
       |   unnest(embedding)::DOUBLE AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       | m AS MATERIALIZED (SELECT i, round(sum(v) / count(*), 6) AS mv FROM e GROUP BY i),
       | c AS MATERIALIZED (SELECT e.vec_id, e.label, e.i, e.v - m.mv AS cv
       |  FROM e JOIN m USING (i)),
       | g AS MATERIALIZED (SELECT a.i AS gi, b.i AS gj, round(sum(a.cv * b.cv), 6) AS gv
       |  FROM c a JOIN c b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
       | v0 AS (SELECT i, 1.0::DOUBLE AS vv FROM m),
       |$chain1,
       | vtv AS MATERIALIZED (SELECT round(sum(vv * vv), 6) AS t FROM v3),
       | lamn AS (SELECT sum(a.vv * g.gv * b.vv) AS num
       |  FROM g JOIN v3 a ON g.gi = a.i JOIN v3 b ON g.gj = b.i),
       | lam AS (SELECT CASE WHEN (SELECT t FROM vtv) = 0 THEN 0.0
       |   ELSE round((SELECT num FROM lamn) / (SELECT t FROM vtv), 6) END AS l),
       | g2 AS MATERIALIZED (SELECT g.gi, g.gj,
       |   CASE WHEN (SELECT t FROM vtv) = 0 THEN g.gv
       |    ELSE round(g.gv - (SELECT l FROM lam) * a.vv * b.vv
       |          / (SELECT t FROM vtv), 6) END AS gv
       |  FROM g JOIN v3 a ON g.gi = a.i JOIN v3 b ON g.gj = b.i),
       | v0b AS (SELECT i, 1.0::DOUBLE AS vv FROM m),
       |$chain2,
       | pcdot AS (SELECT round(sum(a.vv * b.vv), 6) AS d
       |  FROM v3 a JOIN v3b b ON a.i = b.i)
       |SELECT c.vec_id, any_value(c.label) AS label,
       | round(sum(c.cv * v3.vv), 4) AS pc1_score,
       | round(sum(c.cv * v3b.vv), 4) AS pc2_score,
       | round((SELECT s FROM s3), 4) AS ev1_scale,
       | round((SELECT s FROM s3b), 4) AS ev2_scale,
       | round((SELECT d FROM pcdot), 4) AS pc_dot
       |FROM c JOIN v3 ON c.i = v3.i JOIN v3b ON c.i = v3b.i
       |GROUP BY c.vec_id ORDER BY vec_id""".stripMargin
  }
}

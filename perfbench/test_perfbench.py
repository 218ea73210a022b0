#!/usr/bin/env python3
"""Tests of the benchmark's own parts (no Spark needed):

    python3 perfbench/test_perfbench.py

* the output check passes on the oracle's own numbers and fails on a
  corrupted summary, on a stored daily warehouse missing one fact row
  (read back by the check's own reader, against the repo's pipeline_daily
  oracle) and on a stored curation output missing one row (negative
  controls);
* the generator is byte-identical for one seed, and a different seed
  keeps every size;
* the per-layer derivation keeps its two accounting identities;
* BENCHMARK.json names exactly the metrics the runner prints.
"""
import copy
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def oracle_from_source(name):
    """The repo's own oracle SQL `name`, read from SparkEntry.scala where it
    is a plain triple-quoted `.stripMargin` literal."""
    with open(os.path.join(os.path.dirname(HERE), "src", "main", "scala",
                           "graft", "SparkEntry.scala")) as f:
        m = re.search(rf'"{name}" ->\s*"""(.*?)"""\.stripMargin', f.read(), re.S)
    return "\n".join(re.sub(r"^\s*\|", "", ln) for ln in m.group(1).split("\n"))


DAILY_SQL = oracle_from_source("pipeline_daily")

# The corpus oracle is assembled in Scala at run time, so the corpus case
# uses a stand-in with the same output rows and CTE names: word-count
# quality filter, exact keep-min per text, "near duplicates" = same first
# three words, id-based split, train-only packing.
CORPUS_CTES = """WITH gw AS (SELECT doc_id, text,
   len(string_split(text, ' '))::BIGINT AS n_words FROM documents),
 gk AS (SELECT doc_id, n_words FROM gw WHERE n_words BETWEEN 30 AND 80),
 canon AS (SELECT min(doc_id) AS doc_id, text FROM gw JOIN gk USING (doc_id)
   GROUP BY text),
 sh AS (SELECT doc_id, text,
   array_to_string(string_split(text, ' ')[1:3], ' ') AS s FROM canon),
 sig AS (SELECT min(doc_id) AS doc_id FROM sh GROUP BY s),
 clean AS (SELECT doc_id, text FROM sh JOIN sig USING (doc_id)),
 spl AS (SELECT doc_id, text, CASE WHEN doc_id % 50 = 0 THEN 'test'
   WHEN doc_id % 50 = 1 THEN 'valid' ELSE 'train' END AS split FROM clean),
 pk AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
   ((sum(len(string_split(text, ' '))) OVER (ORDER BY doc_id) - 1) // 256)::BIGINT
     AS last_chunk FROM spl WHERE split = 'train')
"""
CORPUS_SQL = CORPUS_CTES + """SELECT 'quality_keep' AS stage, count(*)::BIGINT,
  coalesce(sum(doc_id), 0)::BIGINT, coalesce(sum(n_words), 0)::BIGINT FROM gk
UNION ALL SELECT 'exact_keep', count(*)::BIGINT, coalesce(sum(doc_id), 0)::BIGINT,
  0::BIGINT FROM canon
UNION ALL SELECT 'neardup_clean', count(*)::BIGINT,
  coalesce(sum(doc_id), 0)::BIGINT, 0::BIGINT FROM clean
UNION ALL SELECT 'split_' || split, count(*)::BIGINT, sum(doc_id)::BIGINT,
  0::BIGINT FROM spl GROUP BY split
UNION ALL SELECT 'pack', count(*)::BIGINT, coalesce(sum(doc_id), 0)::BIGINT,
  coalesce(sum(n_tokens), 0)::BIGINT FROM pk
UNION ALL SELECT 'pack_chunks', (coalesce(max(last_chunk), -1) + 1)::BIGINT,
  0::BIGINT, 0::BIGINT FROM pk"""


def write_parquet(con, sql, table_dir):
    os.makedirs(table_dir, exist_ok=True)
    path = os.path.join(table_dir, "part-0.parquet")
    con.execute(f"COPY ({sql}) TO {check._pq(path)} (FORMAT PARQUET)")


def drop_one_row(con, table_dir):
    """Rewrite a written table without its first row."""
    path = os.path.join(table_dir, "part-0.parquet")
    con.execute(f"COPY (SELECT * FROM read_parquet({check._pq(path)}) OFFSET 1) "
                f"TO {check._pq(path + '.new')} (FORMAT PARQUET)")
    os.replace(path + ".new", path)


def write_warehouse(con, inputs, loaded, wh):
    """The warehouse the daily chain leaves after loading `loaded`, written
    as parquet from the CTEs of the repo's oracle: merge tables from the
    latest delivery of every event, raw and view tables from the last drop."""
    ctes = DAILY_SQL[:DAILY_SQL.index("SELECT * FROM (")]
    check.daily_views(con, inputs, loaded, merged=True)
    for name, sel in [
            ("d_event", "SELECT event_id, guid AS guid_event FROM gde"),
            ("d_user", "SELECT user_id, row_number() OVER (ORDER BY user_id) "
                       "AS guid_user FROM du"),
            ("d_parameter", "SELECT parameter_name, row_number() OVER "
                            "(ORDER BY parameter_name) AS guid_parameter FROM dp"),
            ("d_item", "SELECT p_partkey AS item_id, "
                       "CAST(p_retailprice AS DECIMAL(12,2)) AS item_price FROM part"),
            ("f_events", "SELECT event_id, guid AS guid_event, "
                         "ev_val AS event_value FROM fe")]:
        write_parquet(con, ctes + sel, os.path.join(wh, name))
    check.daily_views(con, inputs, loaded, merged=False)
    for name, sel in [
            ("event_raw", "SELECT event_id, row_number() OVER (ORDER BY event_id) "
                          "AS guid_event_raw, value FROM ev"),
            ("view_yearly_counts", "SELECT period_day, item_views FROM v1"),
            ("view_top_platform", "SELECT period_day, item_views AS platform_views "
                                  "FROM v1"),
            ("view_item_rank", "SELECT item_name, item_views, item_view_rank FROM v2"),
            ("view_top_item", "SELECT item_name, item_views FROM v3")]:
        write_parquet(con, ctes + sel, os.path.join(wh, name))


class OutputCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.inputs = os.path.join(cls.tmp, "in")
        cls.manifest = gen.generate("late_restate", 3, cls.inputs)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def result(self, n_ops):
        """A run whose summaries are the oracle's own numbers."""
        con = check.connect()
        drops = self.manifest["drops"]
        ops = []
        for i in range(n_ops):
            want = check.daily_expected(con, DAILY_SQL, self.inputs, drops[:i + 1])
            ops.append({"ok": True, "input": drops[i], "loaded": drops[:i + 1],
                        "summary": {k: list(v) for k, v in want.items()}})
        return {"workload": "late_restate", "oracle_sql": DAILY_SQL, "ops": ops}

    def verdicts(self, result):
        return check.check_run(result, self.inputs,
                               read=lambda con, op: op["summary"])

    def test_correct_summaries_pass(self):
        self.assertEqual(self.verdicts(self.result(3)), [[], [], []])

    def test_corrupted_summary_fails(self):
        # negative control: one wrong fact checksum on the second op
        r = self.result(3)
        bad = copy.deepcopy(r)
        bad["ops"][1]["summary"]["f_events"][3] += 1.0
        v = self.verdicts(bad)
        self.assertEqual([bool(x) for x in v], [False, True, False])
        self.assertIn("f_events", v[1][0])

    def test_stored_warehouse_missing_a_fact_row_fails(self):
        # negative control through the default reader: two warehouses on
        # disk, the second with one f_events row removed
        con = check.connect()
        drops = self.manifest["drops"]
        ops = []
        for i in range(2):
            wh = os.path.join(self.tmp, f"wh{i}")
            write_warehouse(con, self.inputs, drops[:i + 1], wh)
            ops.append({"ok": True, "loaded": drops[:i + 1], "snapshot": wh})
        drop_one_row(con, os.path.join(self.tmp, "wh1", "f_events"))
        v = check.check_run({"workload": "late_restate", "oracle_sql": DAILY_SQL,
                             "ops": ops}, self.inputs)
        self.assertEqual(v[0], [])
        self.assertEqual([line.split(":")[0] for line in v[1]], ["f_events"])
    def test_merge_tables_follow_the_latest_delivery(self):
        # independent of the SQL: pandas keeps each event's last delivery
        import pandas as pd
        drops = self.manifest["drops"][:3]
        ev = pd.concat(pd.read_parquet(os.path.join(self.inputs, d, "events.parquet"))
                       for d in drops).drop_duplicates("event_id", keep="last")
        s = self.result(3)["ops"][2]["summary"]
        self.assertEqual(s["f_events"][0], len(ev))
        self.assertAlmostEqual(s["f_events"][3], round(ev["value"].sum(), 4), places=3)
        last = pd.read_parquet(os.path.join(self.inputs, drops[-1], "events.parquet"))
        self.assertEqual(s["event_raw"][0], len(last))

    def test_failed_op_counts(self):
        r = self.result(2)
        r["ops"][1] = {"ok": False, "error": "boom"}
        self.assertEqual(self.verdicts(r), [[], ["boom"]])


class CorpusCheck(unittest.TestCase):
    def test_stored_curation_missing_a_clean_row_fails(self):
        with tempfile.TemporaryDirectory() as d:
            inputs = os.path.join(d, "in")
            gen.generate("corpus_curation", 1, inputs)
            con = check.connect()
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        + check._pq(os.path.join(inputs, "corpus",
                                                 "documents.parquet")) + ")")
            ops = []
            for i in range(2):
                out = os.path.join(d, f"out{i}")
                for name, sel in [
                        ("corpus_quality", "SELECT doc_id, n_words, n_words "
                                           "BETWEEN 30 AND 80 AS keep FROM gw"),
                        ("corpus_canonical", "SELECT doc_id FROM canon"),
                        ("corpus_clean", "SELECT doc_id FROM clean"),
                        ("corpus_split", "SELECT doc_id, split FROM spl"),
                        ("corpus_pack", "SELECT doc_id, n_tokens, last_chunk "
                                        "FROM pk")]:
                    write_parquet(con, CORPUS_CTES + sel, os.path.join(out, name))
                ops.append({"ok": True, "snapshot": out})
            drop_one_row(con, os.path.join(d, "out1", "corpus_clean"))
            v = check.check_run({"workload": "corpus_curation",
                                 "oracle_sql": CORPUS_SQL, "ops": ops}, inputs)
        self.assertEqual(v[0], [])
        self.assertEqual([line.split(":")[0] for line in v[1]], ["neardup_clean"])


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_same_sizes(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate("late_restate", 5, os.path.join(d, "a"))
            b = gen.generate("late_restate", 5, os.path.join(d, "b"))
            c = gen.generate("late_restate", 6, os.path.join(d, "c"))
        self.assertEqual(a["files"], b["files"])
        self.assertEqual([f["rows"] for f in a["files"]],
                         [f["rows"] for f in c["files"]])
        self.assertNotEqual([f["sha256"] for f in a["files"]],
                            [f["sha256"] for f in c["files"]])

    def test_daily_append_is_the_month_in_30_drops(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("daily_append", 1, d)
        drops = [f for f in m["files"] if f["path"].startswith("drops/")]
        self.assertEqual(len(drops), 30)
        self.assertEqual(sum(f["rows"] for f in drops), gen.N_EVENTS)


class Layers(unittest.TestCase):
    def test_identities(self):
        op = {"t0_ms": 1000, "t1_ms": 5000, "wall_s": 4.0, "gc_s": 0.1,
              "bytes": 100, "rows": 10, "files_written": 3, "pins_rdds": 0,
              "pins_plans": 0, "out_bytes": 400, "in_bytes_total": 100,
              "stages": [[n, 10, 0.2] for n in layers.DAILY_STAGES]}
        spans = {"jobs": [[0, 1100, 1900], [1, 1500, 2500], [2, 4000, 4500],
                          [3, 6000, 6100]],
                 "sql": [[0, 1050, 2600]], "planning": [[1010, 40]],
                 "stages": [{"start_ms": 1200, "tasks": 4, "run_ms": 2000,
                             "input_bytes": 1, "output_bytes": 200,
                             "shuffle_write_bytes": 5, "spill_bytes": 0}]}
        m = layers.op_layers(op, spans, cores=4)
        self.assertAlmostEqual(m["chain.unattributed_s"], 4.0 - 0.8)
        self.assertEqual(m["spark.jobs"], 3)
        self.assertAlmostEqual(m["spark.driver_only_s"], 4.0 - 1.4 - 0.5)
        self.assertAlmostEqual(m["spark.core_util"], 2.0 / 16)
        self.assertAlmostEqual(m["io.write_amp"], 2.0)
        out = layers.run_layers({"ops": [dict(op, ok=True)], "spans": spans,
                                 "cores": 4, "peak_rss_mb": 2500.0})
        self.assertEqual(set(out), set(layers.PER_LAYER))
        # phases longer than the op, or a job outliving it, are rejected
        with self.assertRaises(AssertionError):
            layers.op_layers(dict(op, wall_s=0.5), spans, cores=4)
        late = dict(spans, jobs=spans["jobs"] + [[4, 4900, 5400]])
        with self.assertRaises(AssertionError):
            layers.op_layers(op, late, cores=4)


class BenchmarkJson(unittest.TestCase):
    def test_names_match_the_runner(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], run.WORKLOADS)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         layers.PER_LAYER)


if __name__ == "__main__":
    unittest.main()

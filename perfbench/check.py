"""Output check for the graft benchmark: DuckDB replays of the repo's own
oracle SQL over the generated inputs, compared with what each op left
behind.

Daily chains (`pipeline_daily` oracle):
  * merge tables (d_event, d_user, d_parameter, d_item, f_events) are
    checked against the latest delivery of every event loaded so far into
    the current warehouse; dense surrogate sums do not depend on how the
    events were split into drops;
  * raw and view tables (event_raw, view_*) are checked against the last
    drop alone (latest drop wins).
Corpus chain (`pipeline_corpus` oracle): the curation summary.

Each op's output is read back here with DuckDB from the snapshot the
harness took right after the op, independently of the library's own
summary code, and summarised with the same columns as the oracle.
"""
import math
import os
import re

import duckdb

MERGE_TABLES = {"d_event", "d_user", "d_parameter", "d_item", "f_events"}
DAILY_TABLES = ["d_event", "d_item", "d_parameter", "d_user", "event_raw",
                "f_events", "view_item_rank", "view_top_item",
                "view_top_platform", "view_yearly_counts"]


def connect():
    # never fetch extensions: json and parquet are built in
    return duckdb.connect(config={"autoinstall_known_extensions": False,
                                  "autoload_known_extensions": False,
                                  "threads": 4})


def _rows(con, sql):
    return {r[0]: tuple(r[1:]) for r in con.execute(sql).fetchall()}


def _pq(path):
    return "'" + path.replace("'", "''") + "'"


def daily_views(con, inputs, loaded, merged):
    """Point the oracle's `part` and `events` views at the inputs: with
    `merged`, `events` is the latest delivery of every event in the drops
    `loaded` (in load order); otherwise it is the last drop alone."""
    con.execute(f"CREATE OR REPLACE VIEW part AS SELECT * FROM read_parquet("
                f"{_pq(os.path.join(inputs, 'part.parquet'))})")
    if not merged:
        con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet("
                    f"{_pq(os.path.join(inputs, loaded[-1], 'events.parquet'))})")
        return
    parts = " UNION ALL ".join(
        f"SELECT *, {i} AS drop_no FROM read_parquet("
        f"{_pq(os.path.join(inputs, rel, 'events.parquet'))})"
        for i, rel in enumerate(loaded))
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * EXCLUDE (drop_no, rk) "
                f"FROM (SELECT *, row_number() OVER (PARTITION BY event_id "
                f"ORDER BY drop_no DESC) AS rk FROM ({parts})) WHERE rk = 1")


def daily_expected(con, oracle_sql, inputs, loaded):
    """Expected summary after loading the drops `loaded` (in order) into
    an empty warehouse: {tbl: (n_rows, n_keys, key_sum, val_sum)}."""
    daily_views(con, inputs, loaded, merged=True)
    merged = _rows(con, oracle_sql)
    daily_views(con, inputs, loaded, merged=False)
    last = _rows(con, oracle_sql)
    return {t: (merged if t in MERGE_TABLES else last)[t] for t in DAILY_TABLES}


def materialize(sql, names):
    """Mark the named CTEs MATERIALIZED. DuckDB otherwise re-evaluates a CTE
    at every reference (the banded join reads `sig` sixteen times); the
    hint changes evaluation cost only, never the result."""
    for n in names:
        sql, k = re.subn(rf"(\n {n}) AS \(", r"\1 AS MATERIALIZED (", sql)
        if k != 1:
            raise ValueError(f"oracle SQL has no single CTE named {n}")
    return sql


def corpus_expected(con, oracle_sql, inputs):
    oracle_sql = materialize(oracle_sql, ["canon", "sh", "sig"])
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet("
                f"{_pq(os.path.join(inputs, 'corpus', 'documents.parquet'))})")
    return _rows(con, oracle_sql)


def daily_read_back(con, wh):
    """The warehouse summary, recomputed by DuckDB from the stored files."""
    def t(name):
        return (f"read_parquet({_pq(os.path.join(wh, name, '**', '*.parquet'))}, "
                f"hive_partitioning = true)")
    dsum = "round(CAST(sum(CAST({} AS DECIMAL(18,{}))) AS DOUBLE), 4)"
    q = [
        ("event_raw", "event_id", "guid_event_raw", dsum.format("value", 6)),
        ("d_event", "event_id", "guid_event", "0.0"),
        ("d_user", "user_id", "guid_user", "0.0"),
        ("d_parameter", "parameter_name", "guid_parameter", "0.0"),
        ("d_item", "item_id", "item_id", dsum.format("item_price", 2)),
        ("f_events", "event_id", "guid_event", dsum.format("event_value", 6)),
        ("view_yearly_counts", "period_day", "item_views", "0.0"),
        ("view_item_rank", "item_name", "item_views * item_view_rank", "0.0"),
        ("view_top_item", "item_name", "item_views", "0.0"),
        ("view_top_platform", "period_day", "platform_views", "0.0"),
    ]
    sql = " UNION ALL ".join(
        f"SELECT '{n}', count(*)::BIGINT, count(DISTINCT {k})::BIGINT, "
        f"sum({s})::BIGINT, {v}::DOUBLE FROM {t(n)}" for n, k, s, v in q)
    return _rows(con, sql)


def corpus_read_back(con, out):
    def t(name):
        return f"read_parquet({_pq(os.path.join(out, name, '*.parquet'))})"
    sql = f"""
      SELECT 'quality_keep', count(*)::BIGINT, coalesce(sum(doc_id), 0)::BIGINT,
        coalesce(sum(n_words), 0)::BIGINT FROM {t('corpus_quality')} WHERE keep
      UNION ALL SELECT 'exact_keep', count(*)::BIGINT,
        coalesce(sum(doc_id), 0)::BIGINT, 0::BIGINT FROM {t('corpus_canonical')}
      UNION ALL SELECT 'neardup_clean', count(*)::BIGINT,
        coalesce(sum(doc_id), 0)::BIGINT, 0::BIGINT FROM {t('corpus_clean')}
      UNION ALL SELECT 'split_' || split, count(*)::BIGINT, sum(doc_id)::BIGINT,
        0::BIGINT FROM {t('corpus_split')} GROUP BY split
      UNION ALL SELECT 'pack', count(*)::BIGINT, coalesce(sum(doc_id), 0)::BIGINT,
        coalesce(sum(n_tokens), 0)::BIGINT FROM {t('corpus_pack')}
      UNION ALL SELECT 'pack_chunks', (coalesce(max(last_chunk), -1) + 1)::BIGINT,
        0::BIGINT, 0::BIGINT FROM {t('corpus_pack')}"""
    return _rows(con, sql)


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(float(a), float(b), rel_tol=1e-12, abs_tol=1e-6))
    return a == b


def diff(got, want):
    """Mismatches between two summaries, as readable strings (empty = equal)."""
    out = []
    for key in sorted(set(got) | set(want)):
        g, w = got.get(key), want.get(key)
        if g is None or w is None or len(g) != len(w) \
                or not all(_same(x, y) for x, y in zip(g, w)):
            out.append(f"{key}: got {g} want {w}")
    return out


def read_back(workload):
    """The reader that summarises an op's stored output with DuckDB."""
    reader = corpus_read_back if workload == "corpus_curation" else daily_read_back
    return lambda con, op: reader(con, op["snapshot"])


def check_run(result, inputs, read=None):
    """Check every op of a run against the oracle. `read(con, op)` gives
    the summary of the op's output (default: DuckDB over its snapshot).
    Returns one list of mismatches per op (empty = correct); an op that
    threw is reported by its error."""
    con = connect()
    read = read or read_back(result["workload"])
    sql = result["oracle_sql"]
    corpus = result["workload"] == "corpus_curation"
    want = corpus_expected(con, sql, inputs) if corpus else None
    verdicts = []
    for op in result["ops"]:
        if not op["ok"]:
            verdicts.append([op["error"]])
            continue
        if not corpus:
            # the drops in the warehouse, warm-up loads included
            want = daily_expected(con, sql, inputs, op["loaded"])
        try:
            verdicts.append(diff(read(con, op), want))
        except duckdb.Error as e:
            verdicts.append([f"unreadable output: {e}"])
    con.close()
    return verdicts

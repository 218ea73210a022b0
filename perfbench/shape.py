#!/usr/bin/env python3
"""Compare the generator's base tables with the sf0.1 test tables.

    python3 perfbench/shape.py SF01_DIR

SF01_DIR holds the sf0.1 `events.parquet`, `part.parquet` and
`documents.parquet`. Prints, per table, one JSON line of statistics for
sf0.1 and one for the generator's base table (gen.py, fixed base seed):
null shares, value and name domains, the parquet type of `ts`, document
lengths, the quality-filter keep share of the curation chain, and
random-pair word-3-shingle and character-5-gram Jaccard similarity (the
chain's near-dup filter shingles 3 words). README.md records the output.
"""
import json
import os
import sys
import tempfile

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

STOPWORDS = {"the", "a", "and", "of", "to", "in", "is", "on", "for", "with"}


def event_stats(con, path):
    def q(sql):
        return con.execute(sql.replace("@T", f"read_parquet('{path}')")).fetchall()
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    nulls = q("SELECT " + ", ".join(f"avg(({c} IS NULL)::INT)" for c in cols)
              + " FROM @T")[0]
    return {
        "rows": q("SELECT count(*) FROM @T")[0][0],
        "ts_parquet_type": str(pq.ParquetFile(path).schema.column(1).logical_type),
        "null_share": dict(zip(cols, [round(x, 4) for x in nulls])),
        "distinct_users": q("SELECT count(DISTINCT user_id) FROM @T")[0][0],
        "event_type_share": dict(q("SELECT event_type, round(count(*) / "
                                   "sum(count(*)) OVER (), 3) FROM @T GROUP BY 1 "
                                   "ORDER BY 1")),
        "value_min_max_mean": [round(x, 3) for x in
                               q("SELECT min(value), max(value), avg(value) FROM @T")[0]],
        "props_keys": [r[0] for r in q("SELECT DISTINCT unnest(json_keys(props)) "
                                       "FROM @T ORDER BY 1")],
        "distinct_items": q("SELECT count(DISTINCT json_extract_string(props, "
                            "'$.k')) FROM @T")[0][0],
        "days": q("SELECT count(DISTINCT CAST(ts AS DATE)) FROM @T")[0][0],
        "per_day_min_max": list(q("SELECT min(n), max(n) FROM (SELECT count(*) AS n "
                                  "FROM @T GROUP BY CAST(ts AS DATE))")[0]),
    }


def part_stats(con, path):
    def q(sql):
        return con.execute(sql.replace("@T", f"read_parquet('{path}')")).fetchall()[0]
    return {"rows": q("SELECT count(*) FROM @T")[0],
            "distinct_names": q("SELECT count(DISTINCT p_name) FROM @T")[0],
            "null_cells": q("SELECT count(*) * 6 - count(p_partkey) - count(p_name) "
                            "- count(p_brand) - count(p_type) - count(p_size) "
                            "- count(p_retailprice) FROM @T")[0],
            "price_min_max": list(q("SELECT min(p_retailprice), max(p_retailprice) "
                                    "FROM @T"))}


def doc_stats(path):
    d = pq.read_table(path).to_pydict()
    texts, langs = d["text"], np.array(d["lang"])
    ws = [t.split() for t in texts]
    n = np.array([len(w) for w in ws])
    mwl = np.array([sum(map(len, w)) / len(w) for w in ws])
    nstop = np.array([len(set(w) & STOPWORDS) for w in ws])
    keep = (n >= 30) & (n <= 80) & (mwl >= 4.0) & (mwl <= 5.0) & (nstop >= 2)
    sh3 = [set(" ".join(w[i:i + 3]) for i in range(max(len(w) - 3, 0) + 1)) for w in ws]
    c5 = [set(t[i:i + 5] for i in range(len(t) - 4)) for t in texts]
    r = np.random.default_rng(0)
    a, b = r.integers(0, len(texts), 20_000), r.integers(0, len(texts), 20_000)
    pairs = [(i, k) for i, k in zip(a, b) if i != k]
    j3 = np.array([len(sh3[i] & sh3[k]) / len(sh3[i] | sh3[k]) for i, k in pairs])
    j5 = np.array([len(c5[i] & c5[k]) / len(c5[i] | c5[k]) for i, k in pairs])
    return {"docs": len(texts), "null_text": sum(t is None for t in texts),
            "words_min_mean_max": [int(n.min()), round(float(n.mean()), 2), int(n.max())],
            "mean_word_len": round(float(mwl.mean()), 3),
            "vocabulary": len(set(x for w in ws for x in w)),
            "dup_suffixed": sum(t.endswith(" dup") for t in texts),
            "exact_duplicate_texts": len(texts) - len(set(texts)),
            "quality_keep_share": round(float(keep.mean()), 4),
            "pair_word3_jaccard_mean": round(float(j3.mean()), 4),
            "pair_word3_jaccard_ge_0.5": round(float((j3 >= 0.5).mean()), 5),
            "pair_char5_jaccard_mean": round(float(j5.mean()), 4),
            "en_share": round(float((langs == "en").mean()), 3)}


def main(argv):
    if len(argv) != 1:
        raise SystemExit(__doc__)
    sf = argv[0]
    con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                 "autoload_known_extensions": False})
    with tempfile.TemporaryDirectory() as d:
        w = gen.Writer(d)
        ev = gen.base_events()
        idx = np.arange(gen.N_EVENTS)
        w.write("events.parquet", gen.events_table(ev, idx, idx))
        w.write("part.parquet", gen.base_part())
        words, langs = gen.base_docs()
        texts = [" ".join(x) for x in words]
        w.write("documents.parquet", pa.table({"text": texts, "lang": langs}))
        for name, stats in [("events", lambda p: event_stats(con, p)),
                            ("part", lambda p: part_stats(con, p)),
                            ("documents", doc_stats)]:
            for side, root in [("sf0.1", sf), ("generated", d)]:
                print(name, side, json.dumps(stats(os.path.join(root, f"{name}.parquet"))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes every input one workload needs as parquet under an output directory
and a manifest (`manifest.json`) recording, per input file, its row count,
byte size and SHA-256.

The base tables are synthesized in the shape of the sf0.1 test tables
(same columns, parquet types and sizes; value distributions, name domains
and the documents' near-copy structure matched to measured statistics,
recorded in README.md): a 100k-event month over 30 days, a 20k-row part
table and 5k documents. They come from a FIXED base seed, so
sizes, per-day counts and shares never depend on `--seed`. The run seed
only sets row order, the event/doc id permutation, and which rows are
late, redelivered or copied. The same seed gives byte-identical files.

    python3 perfbench/gen.py --workload daily_append --seed 1 --out DIR
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
N_EVENTS = 100_000
N_DAYS = 30
N_USERS = 1_500
N_ITEMS = 100
N_PARTS = 20_000
N_DOCS = 5_000
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
MONTH_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
DAY_US = 86_400_000_000

# late_restate: 3x replica in 6 drops of 5 on-time days each
REPLICAS = 3
RESTATE_DROPS = 6
LATE_SHARE = 0.20
REDELIVER_SHARE = 0.05

# corpus_curation: base docs plus exact and near copies
EXACT_COPIES = 4_500
NEAR_COPIES = 4_500

VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
ADJ = np.array("large hot blue old cold small red new".split())
NOUN = np.array("ring bolt plate gear widget anvil gizmo rod".split())
PART_TYPES = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
MEAN_VALUE = 50.0  # event values are exponential, rounded to cents
# base documents that are another base document with " dup" appended
BASE_DUPS = 250

WRITE_OPTS = dict(compression="snappy", use_dictionary=True,
                  write_statistics=True, version="2.6")


def base_events():
    """The 100k-event month, sorted by time (fixed content)."""
    r = np.random.default_rng(BASE_SEED)
    ts = np.sort(r.integers(MONTH_START_US, MONTH_START_US + N_DAYS * DAY_US,
                            N_EVENTS, dtype=np.int64))
    user = r.integers(0, N_USERS, N_EVENTS, dtype=np.int64)
    etype = EVENT_TYPES[r.integers(0, len(EVENT_TYPES), N_EVENTS)]
    value = np.round(r.exponential(MEAN_VALUE, N_EVENTS), 2)
    k = r.integers(0, N_ITEMS, N_EVENTS)
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    return dict(ts=ts, user_id=user, event_type=etype, value=value,
                props=props)


def base_part():
    r = np.random.default_rng(BASE_SEED + 1)
    key = np.arange(N_PARTS, dtype=np.int64)
    name = np.char.add(np.char.add(ADJ[r.integers(0, len(ADJ), N_PARTS)], " "),
                       NOUN[r.integers(0, len(NOUN), N_PARTS)])
    return pa.table({
        "p_partkey": key,
        "p_name": name,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, N_PARTS).astype(str)),
        "p_type": PART_TYPES[r.integers(0, len(PART_TYPES), N_PARTS)],
        "p_size": r.integers(1, 51, N_PARTS).astype(np.int32),
        "p_retailprice": np.round(900.0 + (key % 1000) / 10.0, 1),
    })


def base_docs():
    """5k documents of 10..99 words over a 30-word vocabulary; BASE_DUPS
    of them are replaced by a copy of a random document plus " dup"."""
    r = np.random.default_rng(BASE_SEED + 2)
    lens = r.integers(10, 100, N_DOCS)
    words = [VOCAB[r.integers(0, len(VOCAB), n)] for n in lens]
    for dst, src in zip(r.choice(N_DOCS, BASE_DUPS, replace=False),
                        r.integers(0, N_DOCS, BASE_DUPS)):
        words[dst] = np.append(words[src], "dup")
    return words, r.choice(LANGS, N_DOCS, p=LANG_P)


def events_table(ev, idx, ids, values=None):
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ev["ts"][idx], pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"][idx], pa.int64()),
        "event_type": pa.array(ev["event_type"][idx]),
        "value": pa.array(ev["value"][idx] if values is None else values,
                          pa.float64()),
        "props": pa.array(ev["props"][idx]),
    })


class Writer:
    def __init__(self, out):
        self.out = out
        self.files = []

    def write(self, rel, table):
        path = os.path.join(self.out, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, **WRITE_OPTS)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        self.files.append({"path": rel, "rows": table.num_rows,
                           "bytes": os.path.getsize(path), "sha256": digest})


def gen_daily_append(w, seed):
    """The month's 30 one-day drops, in date order, ids permuted."""
    r = np.random.default_rng(seed)
    ev = base_events()
    ids = r.permutation(N_EVENTS).astype(np.int64)
    day = (ev["ts"] - MONTH_START_US) // DAY_US
    drops = []
    for d in range(N_DAYS):
        idx = r.permutation(np.flatnonzero(day == d))
        rel = f"drops/{d:02d}"
        w.write(f"{rel}/events.parquet", events_table(ev, idx, ids[idx]))
        drops.append(rel)
    return drops


def gen_late_restate(w, seed):
    """3x replica in 6 drops of 5 on-time days each.

    LATE_SHARE of every drop's on-time rows (but the last drop's) arrive
    one drop later; each drop after the first also redelivers
    REDELIVER_SHARE of all events loaded before it with a corrected value.
    """
    r = np.random.default_rng(seed)
    base = base_events()
    n = N_EVENTS * REPLICAS
    ev = {c: np.tile(v, REPLICAS) for c, v in base.items()}
    # replica j keeps the base month's timestamps; its ids are offset by
    # j * N_EVENTS after the permutation
    perm = np.concatenate([r.permutation(N_EVENTS) + j * N_EVENTS
                           for j in range(REPLICAS)]).astype(np.int64)
    day = np.tile((base["ts"] - MONTH_START_US) // DAY_US, REPLICAS)
    days_per_drop = N_DAYS // RESTATE_DROPS
    on_time = [np.flatnonzero(day // days_per_drop == i)
               for i in range(RESTATE_DROPS)]
    held = []
    for i in range(RESTATE_DROPS - 1):
        pick = r.permutation(len(on_time[i]))
        n_late = int(round(LATE_SHARE * len(on_time[i])))
        held.append(on_time[i][pick[:n_late]])
        on_time[i] = on_time[i][pick[n_late:]]
    value = ev["value"]  # a fresh array (np.tile): corrected in place
    loaded = np.zeros(0, dtype=np.int64)
    drops = []
    for i in range(RESTATE_DROPS):
        fresh = on_time[i] if i == 0 else np.concatenate([on_time[i], held[i - 1]])
        n_re = int(round(REDELIVER_SHARE * len(loaded)))
        again = np.sort(r.choice(loaded, n_re, replace=False))
        value[again] = np.round(value[again] + 1.0, 2)
        idx = r.permutation(np.concatenate([fresh, again]))
        rel = f"drops/{i:02d}"
        w.write(f"{rel}/events.parquet",
                events_table(ev, idx, perm[idx], value[idx]))
        drops.append(rel)
        loaded = np.concatenate([loaded, fresh])
    assert len(loaded) == n
    return drops


def gen_corpus(w, seed):
    """Base docs plus seeded exact copies and one-word-replaced near copies."""
    r = np.random.default_rng(seed)
    words, langs = base_docs()
    src_exact = r.choice(N_DOCS, EXACT_COPIES, replace=False)
    src_near = r.choice(N_DOCS, NEAR_COPIES, replace=False)
    texts = [" ".join(ws) for ws in words]
    lang = list(langs)
    source = [f"src{i % 20}" for i in range(N_DOCS)]
    for s in src_exact:
        texts.append(texts[s])
        lang.append(langs[s])
        source.append("copy")
    for s in src_near:
        ws = words[s].copy()
        pos = r.integers(0, len(ws))
        other = VOCAB[VOCAB != ws[pos]]
        ws[pos] = other[r.integers(0, len(other))]
        texts.append(" ".join(ws))
        lang.append(langs[s])
        source.append("near")
    n = len(texts)
    ids = r.permutation(n).astype(np.int64)
    order = np.argsort(ids, kind="stable")
    w.write("corpus/documents.parquet", pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array([lang[i] for i in order]),
        "source": pa.array([source[i] for i in order]),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    }))
    return ["corpus"]


GENERATORS = {
    "daily_append": gen_daily_append,
    "late_restate": gen_late_restate,
    "corpus_curation": gen_corpus,
}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return the manifest."""
    w = Writer(out)
    if workload != "corpus_curation":
        w.write("part.parquet", base_part())
    drops = GENERATORS[workload](w, seed)
    manifest = {"workload": workload, "seed": seed, "drops": drops,
                "files": w.files}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    m = generate(a.workload, a.seed, a.out)
    for f in m["files"]:
        print(f"{f['path']}\t{f['rows']}\t{f['bytes']}\t{f['sha256']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer metrics of a traced run, derived from outside the program:
the op spans the harness records, the `StageResult` lists the chains
return, and the probe's engine spans (jobs, stages with summed task
metrics, SQL executions, planning phases), attributed to ops by time.

On every op, chain.unattributed_s + the phase walls = the op wall, and
spark.driver_only_s + the union of the op's job spans = the op span. Both
are differences, so what is asserted is that they are meaningful: the
phase walls fit inside the op wall, and every job the op started ended
inside the op span.
"""
import statistics

DAILY_STAGES = ["event_raw", "d_event", "d_user", "d_parameter", "d_item",
                "f_events", "view_yearly_counts", "view_item_rank",
                "view_top_item", "view_top_platform"]
DIMS = ["d_event", "d_user", "d_parameter", "d_item"]
VIEWS = DAILY_STAGES[6:]
CORPUS_STAGES = ["corpus_quality", "corpus_canonical", "corpus_clean",
                 "corpus_split", "corpus_pack"]

# name -> (unit, better); the order is the order they are printed in
PER_LAYER = {}
for _s in ["event_raw", "d_event", "d_user", "d_parameter", "d_item", "dims",
           "f_events", "views"] + CORPUS_STAGES:
    PER_LAYER[f"stage.{_s}_s"] = ("s", "lower")
PER_LAYER["chain.unattributed_s"] = ("s", "lower")
for _s in DAILY_STAGES + CORPUS_STAGES:
    PER_LAYER[f"rows.{_s}"] = ("count", "higher")
PER_LAYER.update({
    "dedup.removed_share": ("share", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_busy_s": ("s", "lower"),
    "spark.core_util": ("share", "higher"),
    "spark.driver_only_s": ("s", "lower"),
    "spark.planning_s": ("s", "lower"),
    "spark.sql_executions": ("count", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "io.input_bytes": ("bytes", "lower"),
    "io.output_bytes": ("bytes", "lower"),
    "io.write_amp": ("ratio", "lower"),
    "io.files_written": ("count", "lower"),
    "io.space_amp": ("ratio", "lower"),
    "pins.leaked_rdds": ("count", "lower"),
    "pins.cached_plans": ("count", "lower"),
    "trace.op_p50_s": ("s", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
})

# clock granularity allowed in the two accounting checks
SLACK_S = 0.05

# metrics taken from one op or the run's end rather than a median over ops
_FIRST_OP = {f"rows.{s}" for s in DAILY_STAGES + CORPUS_STAGES} | {"dedup.removed_share"}
_MAX_OVER_OPS = {"pins.leaked_rdds", "pins.cached_plans"}
# metrics with one sample per run
ONE_SAMPLE = _FIRST_OP | {"io.space_amp", "peak_rss_mb"}


def _union_ms(intervals, lo, hi):
    """Total length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def op_layers(op, spans, cores):
    """Per-layer values of one op."""
    t0, t1 = op["t0_ms"], op["t1_ms"]
    wall = op["wall_s"]
    secs = {n: s for n, _, s in op["stages"]}
    rows = {n: r for n, r, _ in op["stages"]}
    m = {}
    for s in DAILY_STAGES[:6] + CORPUS_STAGES:
        m[f"stage.{s}_s"] = secs.get(s, 0.0)
    if "event_raw" in secs:
        m["stage.dims_s"] = max(secs[d] for d in DIMS)
        m["stage.views_s"] = max(secs[v] for v in VIEWS)
        phases = (secs["event_raw"] + m["stage.dims_s"] + secs["f_events"]
                  + m["stage.views_s"])
    else:
        m["stage.dims_s"] = m["stage.views_s"] = 0.0
        phases = sum(secs[s] for s in CORPUS_STAGES)
    m["chain.unattributed_s"] = wall - phases
    assert m["chain.unattributed_s"] > -SLACK_S, (wall, phases)
    for s in DAILY_STAGES + CORPUS_STAGES:
        m[f"rows.{s}"] = rows.get(s, 0)
    canon = rows.get("corpus_canonical", 0)
    m["dedup.removed_share"] = 1.0 - rows["corpus_clean"] / canon if canon else 0.0

    def inside(t):
        return t0 <= t <= t1
    jobs = [(a, b) for _, a, b in spans["jobs"] if inside(a)]
    assert all(b <= t1 + SLACK_S * 1e3 for _, b in jobs), (t1, jobs)
    stages = [s for s in spans["stages"] if inside(s["start_ms"])]
    m["spark.driver_only_s"] = (t1 - t0 - _union_ms(jobs, t0, t1)) / 1e3
    busy = sum(s["run_ms"] for s in stages) / 1e3
    m.update({
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.task_busy_s": busy,
        "spark.core_util": busy / (wall * cores),
        "spark.planning_s": sum(ms for t, ms in spans["planning"] if inside(t)) / 1e3,
        "spark.sql_executions": sum(1 for _, a, _ in spans["sql"] if inside(a)),
        "spark.gc_s": op["gc_s"],
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "io.input_bytes": sum(s["input_bytes"] for s in stages),
        "io.output_bytes": sum(s["output_bytes"] for s in stages),
        "io.files_written": op["files_written"],
        "pins.leaked_rdds": op["pins_rdds"],
        "pins.cached_plans": op["pins_plans"],
    })
    m["io.write_amp"] = m["io.output_bytes"] / op["bytes"]
    return m


def run_layers(result):
    """Per-layer metrics of a traced run: medians over its ops, except
    outcome counts (first op), pins (max over ops) and space_amp (end)."""
    ops = [op for op in result["ops"] if op["ok"]]
    per_op = [op_layers(op, result["spans"], result["cores"]) for op in ops]
    out = {}
    for name in PER_LAYER:
        if name == "io.space_amp":
            out[name] = ops[-1]["out_bytes"] / ops[-1]["in_bytes_total"]
        elif name == "trace.op_p50_s":
            out[name] = statistics.median(op["wall_s"] for op in ops)
        elif name == "peak_rss_mb":
            out[name] = result["peak_rss_mb"]
        elif name in _FIRST_OP:
            out[name] = per_op[0][name]
        elif name in _MAX_OVER_OPS:
            out[name] = max(m[name] for m in per_op)
        else:
            out[name] = statistics.median(m[name] for m in per_op)
    return out

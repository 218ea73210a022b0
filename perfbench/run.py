#!/usr/bin/env python3
"""graft benchmark: one seeded workload through the public chain APIs.

    python3 perfbench/run.py --workload daily_append --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Steps:
  1. build the library and the harness from source (sbt); the classpath
     and a private copy of the compiled classes are cached under a
     fingerprint of the sources;
  2. generate the workload's inputs from the seed (gen.py), outside any
     timed region;
  3. run the JVM harness (BenchMain): session set-up and untimed warm-up
     ops, then a closed loop of ops for --seconds;
  4. check every op's output against DuckDB replays of the repo's oracle
     SQL (check.py), outside any timed region;
  5. print every metric by name, then one JSON result line.

--trace 0 reports the end-to-end metrics; --trace 1 runs with the
outside-in probe and reports the per-layer metrics (layers.py). The exit
code is non-zero when an op failed or its output was wrong; the run's
inputs, outputs and JVM log are then kept under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

# the workloads BENCHMARK.json names; late_restate runs the same way but is
# left out of the timed set to keep a full A/B inside its time budget
WORKLOADS = ["daily_append", "corpus_curation"]
EXTRA_WORKLOADS = ["late_restate"]
# name -> (unit, better)
END_TO_END = {
    "op_p50_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "setup_s": ("s", "lower"),
}
# the heap limit the library's own forked runs get (build.sbt javaOptions)
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
TOTAL_BUDGET_S = 170
# Spark on JDK 17 outside spark-submit needs these (the same list the
# library's own build passes to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
BUILD_INPUTS = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_fingerprint():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = []
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile library + harness; return the runtime classpath.

    The classpath entries inside the checkout (the compiled classes) are
    copied under a directory named by the source fingerprint, and the
    classpath points at the copies. Recompiling the checkout's target/
    later, for another commit, cannot change what a cached build runs; a
    change to the sources gives a new fingerprint and a fresh sbt build.
    """
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("run.py: the graft sources are not in this checkout")
    os.makedirs(WORK, exist_ok=True)
    fp = source_fingerprint()
    build_dir = os.path.join(WORK, "build-" + fp[:16])
    cp_file = os.path.join(build_dir, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read()
    log("[perfbench] building library and harness with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ":" in ln]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("run.py: build failed")
    for old in os.listdir(WORK):
        if old.startswith("build-"):
            shutil.rmtree(os.path.join(WORK, old))
    tmp = build_dir + ".tmp"
    os.makedirs(tmp)
    cp = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if entry.startswith(ROOT + os.sep) and os.path.exists(entry):
            dst = os.path.join(f"cp{i}", os.path.basename(entry))
            if os.path.isdir(entry):
                shutil.copytree(entry, os.path.join(tmp, dst))
            else:
                os.makedirs(os.path.join(tmp, f"cp{i}"))
                shutil.copy2(entry, os.path.join(tmp, dst))
            entry = os.path.join(build_dir, dst)
        cp.append(entry)
    with open(os.path.join(tmp, "classpath"), "w") as f:
        f.write(os.pathsep.join(cp))
    os.rename(tmp, build_dir)
    return os.pathsep.join(cp)


def run_jvm(cp, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.BenchMain"]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    launch_ms = int(time.time() * 1000)
    cmd += args + ["--launch-ms", str(launch_ms)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:  # timed out or interrupted
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-6000:])
        raise SystemExit(f"run.py: harness JVM failed ({rc})")


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[1], q[2]


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark (one workload)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    cores = len(os.sched_getaffinity(0))  # the session is local[nproc]
    start = time.time()
    # a terminated run still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    deadline = time.time() + TOTAL_BUDGET_S - 20  # leave time for the check
    run_dir = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    verdicts = None
    try:
        t = time.time()
        manifest = gen.generate(a.workload, a.seed, inputs)
        gen_s = time.time() - t
        files = {f["path"]: f for f in manifest["files"]}
        with open(os.path.join(inputs, "ops.tsv"), "w") as f:
            for rel in manifest["drops"]:
                data = [v for k, v in files.items() if k.startswith(rel + "/")]
                f.write(f"{rel}\t{sum(x['rows'] for x in data)}\t"
                        f"{sum(x['bytes'] for x in data)}\n")
        inputs_hash = hashlib.sha256(json.dumps(
            manifest["files"], sort_keys=True).encode()).hexdigest()[:16]

        out = os.path.join(run_dir, "result.json")
        run_jvm(cp, ["--workload", a.workload, "--inputs", inputs,
                     "--work", os.path.join(run_dir, "out"),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--cores", str(cores), "--out", out], run_dir, deadline)
        with open(out) as f:
            result = json.load(f)

        t = time.time()
        verdicts = check.check_run(result, inputs)
        check_s = time.time() - t
    finally:
        # keep what a failed run (JVM, op or check) leaves, for inspection
        if verdicts is not None and not any(verdicts):
            shutil.rmtree(run_dir, ignore_errors=True)
        else:
            log(f"[perfbench] run failed; kept {run_dir}")

    ops = result["ops"]
    attempted = len(ops)
    failed = sum(1 for v in verdicts if v)
    for i, v in enumerate(verdicts):
        for line in v[:10]:
            log(f"[perfbench] op {i} FAILED: {line}")
    good = [op for op in ops if op["ok"]]
    walls = sorted(op["wall_s"] for op in good)

    print(f"# workload={a.workload} seed={a.seed} cores={cores} "
          f"trace={a.trace} inputs={inputs_hash} gen_s={gen_s:.3f} "
          f"check_s={check_s:.3f} session_s={result['session_s']:.3f} "
          f"warmup_s={result['warmup_s']:.3f} peak_rss_mb={result['peak_rss_mb']:.1f} "
          f"wall_s={time.time() - start:.1f}")
    print(f"# error_rate {failed / max(attempted, 1):.4f} "
          f"(failed {failed} of {attempted} ops)")
    if walls:
        q1, q2, q3 = quartiles(walls)
        print(f"# op wall quartiles s: q1={q1:.4f} q2={q2:.4f} q3={q3:.4f} n={len(walls)}")
        print("# op walls s, in order: " + " ".join(f"{op['wall_s']:.3f}" for op in good))
    if a.trace == 0:
        metrics = {
            "op_p50_s": statistics.median(walls) if walls else float("nan"),
            "rows_per_s": (sum(op["rows"] for op in good) / sum(walls)
                           if walls else float("nan")),
            "setup_s": result["setup_s"],
        }
        units = {k: u for k, (u, _) in END_TO_END.items()}
        samples = {"op_p50_s": len(walls), "rows_per_s": len(walls), "setup_s": 1}
    else:
        metrics = layers.run_layers(result) if good else {}
        units = {k: u for k, (u, _) in layers.PER_LAYER.items()}
        samples = {k: 1 if k in layers.ONE_SAMPLE else len(good) for k in metrics}
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]} (n={samples[k]})")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 and attempted > 0 else 1


if __name__ == "__main__":
    sys.exit(main())

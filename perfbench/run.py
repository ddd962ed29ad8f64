#!/usr/bin/env python3
"""Benchmark of the real-estate price engine on two workloads.

  pipeline  One pass of the reference batch flow in a fresh JVM
            (graftbench.Pipeline): ingest, feature engineering, LR-grid CV,
            random-forest fit, evaluation, persist, reload and batch
            prediction of seeded listings; then the reloaded model behind
            graft.serve.PredictionServer in the same JVM, with closed-loop
            /predict clients for half the run's seconds.
  serve     graft.serve.ServeMain serving a random forest that `graft.Main
            train` fitted on fixture listings (made once per checkout, off
            the clock); closed-loop clients POST single rows to /predict and
            an open-loop client POSTs 1,000-row CSVs to /predict/batch every
            3 s, over a seeded order of the test rows (graftbench.Load).

Both workloads report the same end-to-end metrics (see END_TO_END), each
measured on that workload's own path; every output is checked outside the
timed regions (checks.py), and a wrong output counts as a failed operation.

Usage: python3 perfbench/run.py --workload pipeline|serve --seed N --seconds S --trace 0|1

The last line of standard output is one JSON object: the end-to-end metrics
with --trace 0, the per-layer metrics (spans and Spark listener counters) with
--trace 1. A traced run also logs its tracing overhead against the untraced
runs of the same sources in this checkout. The program is compiled from the
checkout's sources on first use (build.sh); everything a run writes stays
under perfbench/.build and perfbench/.runs, and a run directory is kept only
when the run failed.
"""

import argparse
import csv
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import listings  # noqa: E402

WORKLOADS = ("pipeline", "serve")
CLIENTS = 3
# a 1,000-row batch takes about 2 s on 4 cores, so one every 3 s keeps the
# open loop below saturation
BATCH_EVERY_S = 3.0
# listings: train on a quarter of the reference split's 37,368 rows, which
# keeps a run within the time budget; the pipeline scores the reference's
# full 9,339 test rows, which steadies its RMSE across seeds; the serving
# fixture keeps a quarter of them, so its batches cover every test row
N_TRAIN = listings.N_TRAIN // 4
N_TEST = listings.N_TEST
FIXTURE_TEST = listings.N_TEST // 4
FIXTURE_SEED = 0
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
FIXTURE = os.path.join(RUNS, "fixture")
# a run must end within 180 s; its JVMs are stopped at this point after the
# build and the fixture are ready (set in main)
RUN_LIMIT_S = 170
DEADLINE = math.inf
# what build.sbt passes to every forked JVM (JDK 17 module opens for Spark)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "batch_s": "s", "single_p50_ms": "ms", "single_p95_ms": "ms",
    "single_rps": "1/s", "holdout_rmse_eur": "EUR",
}
HIGHER_IS_BETTER = {"single_rps"}

# the per-layer metrics each workload must produce in a traced run; the
# others read 0 there, as that workload never exercises them
SERVE_BATCH = ["serve.batch_late_ms"] + [f"serve.batch.{k}" for k in ("jobs", "tasks", "cpu_s", "files_written")]
SERVE_LAYERS = ["ml.load_s", "infer.prepare_single_s", "infer.prepared_predict_us", "setup.session_s",
                "serve.wait_ms", *SERVE_BATCH, "jvm.peak_rss_mb", "spark.executor_cpu_s", "spark.gc_s",
                "spark.shuffle_bytes", "spark.spill_bytes"]


def missing_layers(workload, names, layers):
    """The per-layer metrics among `names` that `workload` must produce and
    `layers` lacks."""
    expected = [k for k in names if k not in SERVE_BATCH] if workload == "pipeline" else SERVE_LAYERS
    return [k for k in expected if k not in layers]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """The tier-1 heap: half of physical memory in whole GiB, clamped to 2..8."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "listings.py")]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_built(digest):
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources (src/main/scala) in this checkout")
    log("compiling the program and the benchmark (build.sh)")
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)


class Jvm:
    """Java child processes, each in its own process group, all stopped on exit."""

    def __init__(self, run_dir):
        self.run_dir = run_dir
        self.tmp = os.path.join(run_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.children = []
        n = str(cpus())
        self.env = dict(os.environ, SPARK_GRAFT_CPUS=n, SPARK_MASTER=f"local[{n}]")
        self.env.pop("SPARK_GRAFT_JAVA_TMPDIR", None)

    def command(self, main, args, props=()):
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cp = os.pathsep.join([os.path.join(BUILD, "classes"), os.path.join(spark_jars(), "*")])
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        return ["java", "-XX:-UsePerfData", f"-Xmx{heap()}", *opens, "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={self.tmp}",
                "-Dlog4j2.level=WARN", *props, "-cp", cp, main, *args]

    def start(self, name, main, args, props=(), stdout=None):
        with open(os.path.join(self.run_dir, f"{name}.log"), "ab") as err:
            p = subprocess.Popen(self.command(main, args, props), cwd=self.run_dir, env=self.env,
                                 stdout=stdout or err, stderr=err, start_new_session=True)
        self.children.append(p)
        return p

    def run(self, name, main, args, props=(), timeout=None):
        p = self.start(name, main, args, props)
        try:
            rc = p.wait(timeout=timeout or max(1.0, DEADLINE - time.monotonic()))
        finally:
            self.stop(p)
        if rc != 0:
            raise RuntimeError(f"{main} exited {rc}; see {name}.log")

    @staticmethod
    def stop(p, grace=20):
        """SIGTERM, then SIGKILL after `grace` seconds (at once if 0)."""
        if p.poll() is None and grace:
            try:
                os.killpg(p.pid, signal.SIGTERM)
                p.wait(timeout=grace)
            except (ProcessLookupError, subprocess.TimeoutExpired):
                pass
        try:  # whatever is left in the child's group
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def stop_all(self):
        for p in self.children:
            self.stop(p, grace=5)


def rss_peak_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def read_json(path):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- pipeline

def run_pipeline(seed, seconds, trace, run_dir):
    listings.write_all(os.path.join(run_dir, "data"), seed, N_TRAIN, N_TEST)
    jvm = Jvm(run_dir)
    try:
        jvm.run("pipeline", "graftbench.Pipeline", [run_dir, str(trace), str(seconds / 2), str(CLIENTS)])
    finally:
        jvm.stop_all()
    pipe = read_json(os.path.join(run_dir, "pipeline.json"))
    res = checks.check_pipeline(run_dir)
    m = {
        "setup_s": pipe["setup_s"],
        "batch_s": pipe["pipeline_s"],
        "single_p50_ms": res.single_p50_ms,
        "single_p95_ms": res.single_p95_ms,
        "single_rps": res.single_rps,
        "holdout_rmse_eur": res.rmse_eur,
    }
    n = res.single_n
    samples = dict(setup_s=1, batch_s=1, single_p50_ms=n, single_p95_ms=n, single_rps=n,
                   holdout_rmse_eur=res.rows)
    layers = {k.replace(".seconds", "_s"): v for k, v in pipe.items()}
    layers["setup.session_s"] = pipe["setup_s"]
    layers["jvm.peak_rss_mb"] = pipe["peak_rss_mb"]
    if trace:
        layers["serve.wait_ms"] = res.single_p50_ms - pipe["infer.prepared_predict_us"] / 1e3
    attempted = int(pipe["stages"]) + n
    return m, samples, layers, attempted, res.failures


# ------------------------------------------------------------------- serve

def ensure_fixture(digest):
    """The served model: fixture listings, trained and batch-predicted once
    per checkout by `graft.Main train` / `predict`."""
    stamp = os.path.join(FIXTURE, "stamp")
    digest = f"{digest} {N_TRAIN} {FIXTURE_TEST}"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("training the serving fixture (graft.Main train on fixture listings)")
    shutil.rmtree(FIXTURE, ignore_errors=True)
    listings.write_all(os.path.join(FIXTURE, "data"), FIXTURE_SEED, N_TRAIN, FIXTURE_TEST)
    jvm = Jvm(FIXTURE)
    try:
        jvm.run("fixture", "graftbench.Fixture", [FIXTURE], timeout=600)
    finally:
        jvm.stop_all()
    shutil.rmtree(jvm.tmp, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(digest)


def write_requests(seed, run_dir):
    """A seeded order of the fixture's test rows: one JSON request per row
    (typed by the served model's input schema, nulls left out) and the same
    rows in X_test's CSV layout for the batch client. Returns the id order."""
    schema = {f["name"]: f["type"] for f in
              read_json(os.path.join(FIXTURE, "serve", "input_schema.json"))["fields"]}
    with open(os.path.join(FIXTURE, "data", "X_test.csv"), newline="", encoding="utf-8") as f:
        reader = csv.reader(f)
        header = next(reader)
        rows = list(reader)
    random.Random(seed).shuffle(rows)
    cast = {"integer": int, "long": int, "double": float, "float": float}
    with open(os.path.join(run_dir, "requests.tsv"), "w", encoding="utf-8") as req:
        for row in rows:
            obj = {k: cast.get(schema[k], str)(v) for k, v in zip(header, row) if k in schema and v != ""}
            req.write(f"{row[0]}\t{json.dumps(obj, ensure_ascii=False, separators=(',', ':'))}\n")
    with open(os.path.join(run_dir, "x_rows.csv"), "w", newline="", encoding="utf-8") as out:
        w = csv.writer(out, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    ids = [int(r[0]) for r in rows]
    with open(os.path.join(run_dir, "ids.txt"), "w") as f:
        f.write("\n".join(map(str, ids)) + "\n")
    return ids


def launch_serve(jvm, run_dir, props):
    """Start ServeMain; return (process, port, seconds from launch to /health)."""
    out = os.path.join(run_dir, "serve.out")
    t0 = time.monotonic()
    with open(out, "wb") as so:
        p = jvm.start("serve", "graft.serve.ServeMain",
                      ["--model-dir", os.path.join(FIXTURE, "serve"), "--model-type", "rf",
                       "--port", "0"], props, stdout=so)
    port = None
    while time.monotonic() < DEADLINE:
        if p.poll() is not None:
            raise RuntimeError(f"ServeMain exited {p.returncode}; see serve.log")
        if port is None:
            with open(out) as f:
                for line in f:
                    if '"serving"' in line:
                        port = json.loads(line)["port"]
        if port is not None:
            try:
                with urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=5) as r:
                    if r.status == 200:
                        return p, port, time.monotonic() - t0
            except OSError:
                pass
        time.sleep(0.01)
    raise RuntimeError("ServeMain did not answer /health in time")


def run_serve(seed, seconds, trace, run_dir):
    order = write_requests(seed, run_dir)
    jvm = Jvm(run_dir)
    counters = os.path.join(run_dir, "serve_counters.json")
    props = ["-Dspark.extraListeners=graftbench.SparkCounters",
             f"-Dgraftbench.counters={counters}"] if trace else []
    try:
        p, port, setup = launch_serve(jvm, run_dir, props)
        jvm.run("load", "graftbench.Load",
                [str(port), run_dir, str(seconds), str(CLIENTS), str(BATCH_EVERY_S)]
                + ([counters] if trace else []))
        rss = rss_peak_mb(p.pid)
        jvm.stop(p, grace=0)
        if trace:
            jvm.run("probe", "graftbench.ServeProbe",
                    [os.path.join(FIXTURE, "serve"), os.path.join(FIXTURE, "test.parquet"),
                     os.path.join(run_dir, "ids.txt"), run_dir])
    finally:
        jvm.stop_all()
    res = checks.check_serve(run_dir, FIXTURE, order)
    m = {
        "setup_s": setup,
        "batch_s": res.batch_p50_ms / 1e3,
        "single_p50_ms": res.single_p50_ms,
        "single_p95_ms": res.single_p95_ms,
        "single_rps": res.single_rps,
        "holdout_rmse_eur": res.rmse_eur,
    }
    samples = dict(setup_s=1, batch_s=res.batch_n, single_p50_ms=res.single_n,
                   single_p95_ms=res.single_n, single_rps=res.single_n,
                   holdout_rmse_eur=res.rows)
    layers = dict(res.layers)
    layers["jvm.peak_rss_mb"] = rss
    if trace:
        probe = read_json(os.path.join(run_dir, "probe.json"))
        layers.update({k.replace(".seconds", "_s"): v for k, v in probe.items()})
        layers["serve.wait_ms"] = res.single_p50_ms - probe["infer.prepared_predict_us"] / 1e3
    attempted = res.single_n + res.batch_n
    return m, samples, layers, attempted, res.failures


# -------------------------------------------------------------------- main

def one_run(workload, seed, seconds, trace, run_dir):
    os.makedirs(run_dir)
    if workload == "pipeline":
        return run_pipeline(seed, seconds, trace, run_dir)
    return run_serve(seed, seconds, trace, run_dir)


def per_layer_units():
    return {x["name"]: x["unit"] for x in read_json(os.path.join(ROOT, "BENCHMARK.json"))["per_layer"]}


def log_overhead(history, m):
    """Logs the tracing overhead: this traced run against the median of the
    untraced runs of the same sources, signed so that a positive value is a
    cost (traced minus untraced, or the reverse where higher is better)."""
    hist = []
    if os.path.exists(history):
        with open(history) as f:
            hist = [json.loads(line) for line in f if line.strip()]
    if not hist:
        log("tracing overhead: no untraced run of these sources in this checkout yet")
        return
    for k, unit in END_TO_END.items():
        untraced = statistics.median(h[k] for h in hist)
        cost = untraced - m[k] if k in HIGHER_IS_BETTER else m[k] - untraced
        log(f"overhead.{k:18s} {cost:14.4f} {unit:5s} vs {len(hist)} untraced run(s)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    units = per_layer_units() if a.trace else None
    digest = source_digest()
    ensure_built(digest)
    if a.workload == "serve":
        ensure_fixture(digest)
    global DEADLINE
    DEADLINE = time.monotonic() + RUN_LIMIT_S
    run_dir = os.path.join(RUNS, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    # untraced results of these very sources, for the tracing overhead
    history = os.path.join(RUNS, "history", digest[:16], f"{a.workload}.jsonl")
    m, samples, layers, attempted, failures = one_run(a.workload, a.seed, a.seconds, a.trace, run_dir)
    if a.trace:
        failures += [f"per-layer metric {k} was not produced" for k in missing_layers(a.workload, units, layers)]
        log_overhead(history, m)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(RUNS, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(RUNS, "traces", os.path.basename(run_dir) + ".jsonl"))
    elif not failures:
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "a") as f:
            f.write(json.dumps(m) + "\n")
    if failures:
        log(f"run directory kept for inspection: {run_dir}")
    else:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        log(f"FAILED: {f}")
    for k, unit in END_TO_END.items():
        log(f"{k:18s} {m[k]:14.4f} {unit:5s} n={samples[k]}")
    if a.trace:
        out = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        out = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    bad = [k for k, v in out.items() if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if bad:
        raise SystemExit(f"perfbench: non-finite metrics {bad}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out}))


if __name__ == "__main__":
    main()

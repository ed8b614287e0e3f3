"""linkgraph benchmark: one closed-loop client driving one workload.

    python3 perfbench/run.py --workload dense-rank --seed 1 --seconds 20 --trace 0

Each run is a fresh process. It starts the Spark session at
local[<cores>] and makes the workload's seeded inputs (both are set-up;
the inputs are made three times and the median counts), then runs passes
of the workload's timed calls, one after the other, each into a public
``linkgraph`` function. Every call's output is checked untimed. The number
of passes follows from ``--seconds`` and the workload's nominal pass time,
so every program version does the same work.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables Spark's
event log and prints the per-layer metrics, folded from the log per call
(see perfbench/eventlog.py). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Human-readable per-call
rows go to stderr, and the full record to .perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

SETUP_REPEATS = 3
WATCHDOG_S = 170
TAIL_ACTIVE_FRAC = 0.01  # a superstep with fewer active vertices is "tail"


class Watchdog(BaseException):
    """Raised by SIGALRM when a run overstays; not an ``Exception``, so a
    call's failure handler cannot swallow it."""


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p75(xs) -> float:
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


class EngineProbe:
    """Records the per-superstep metrics of every ``SuperstepEngine.run``
    (``RunResult.metrics``) made during a call, so calls whose public API
    does not return a RunResult (polls) are covered too."""

    def __init__(self) -> None:
        from linkgraph import engine

        self.runs: list[list[dict]] = []
        orig = engine.SuperstepEngine.run
        probe = self

        def run(self_, *args, **kwargs):
            res = orig(self_, *args, **kwargs)
            probe.runs.append(list(res.metrics))
            return res

        engine.SuperstepEngine.run = run

    def take(self) -> list[list[dict]]:
        runs, self.runs = self.runs, []
        return runs


class Harness:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.probe = EngineProbe()
        self.calls: list[dict] = []
        self.pass_no = 0

    def call(self, name, fn, check=None, edges=None, frontier_of=None, extra=None):
        """Time ``fn()`` under job group ``<name>#<pass>``, then check its
        output untimed. ``edges`` (a count, or a function of the output)
        is the graph size the call's supersteps traverse; ``frontier_of``
        the vertex count its frontier is a share of; ``extra`` maps the
        output to extra report fields.
        Returns the output, or None if the call raised or failed its check."""
        sc = self.spark.sparkContext
        rec = {"call": name, "pass": self.pass_no, "group": f"{name}#{self.pass_no}"}
        sc.setJobGroup(rec["group"], name)
        self.probe.take()
        rec["start"] = time.time()
        t0 = time.monotonic()
        try:
            out = fn()
            rec["ok"] = True
        except Exception:
            log(f"[{name}] raised:\n{traceback.format_exc()}")
            out, rec["ok"] = None, False
        rec["wall_s"] = time.monotonic() - t0
        rec["end"] = time.time()
        rec["engine_runs"] = self.probe.take()
        sc.setJobGroup("check", "untimed output check")
        if rec["ok"]:
            try:
                if check is not None:
                    check(out)
                if callable(edges):
                    edges = edges(out)
                if extra is not None:
                    rec.update(extra(out))
            except Exception:
                log(f"[{name}] check failed:\n{traceback.format_exc()}")
                out, rec["ok"] = None, False
        rec["edges"] = edges
        rec["frontier_of"] = frontier_of
        self.calls.append(rec)
        return out


# ------------------------------------------------------------------ metrics

def engine_stats(rec: dict) -> dict:
    """Superstep layer of one call, from its engine runs."""
    secs = [[float(m["seconds"]) for m in run] for run in rec["engine_runs"]]
    flat = [s for run in secs for s in run]
    out = {
        "engine_runs": len(secs),
        "supersteps": len(flat),
        "superstep_s": sum(flat),
        "layout_s": sum(run[0] - median(run) for run in secs if run),
        "superstep_p50_s": median(flat),
        "superstep_p75_s": p75(flat),
        "outside_supersteps_s": rec["wall_s"] - sum(flat),
    }
    n = rec.get("frontier_of")
    if n:
        steps = [m for run in rec["engine_runs"] for m in run if m.get("active") is not None]
        active = [int(m["active"]) for m in steps]
        out["active_vertex_rounds"] = sum(active)
        out["active_frac"] = sum(active) / (len(steps) * n) if steps else 0.0
        out["tail_superstep_s"] = median(
            [float(m["seconds"]) for m in steps if int(m["active"]) < TAIL_ACTIVE_FRAC * n])
    return out


def pass_totals(calls: list[dict]) -> dict[int, dict]:
    """Per pass: summed call walls, and edges traversed per superstep-second."""
    out: dict[int, dict] = {}
    for rec in calls:
        t = out.setdefault(rec["pass"], {"wall_s": 0.0, "edge_steps": 0.0, "step_s": 0.0})
        t["wall_s"] += rec["wall_s"]
        st = rec["engine"]
        if rec["edges"] and st["supersteps"]:
            t["edge_steps"] += rec["edges"] * st["supersteps"]
            t["step_s"] += st["superstep_s"]
    return out


def end_to_end(calls, setup_s: float) -> dict:
    totals = pass_totals(calls).values()
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (median([t["wall_s"] for t in totals]), "s"),
    }


LAYER_SUMS = [  # (metric, per-call key, unit) summed over a pass's calls
    ("spark.jobs", "jobs", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.executor_run_s", "executor_run_s", "s"),
    ("spark.executor_cpu_s", "executor_cpu_s", "s"),
    ("spark.job_busy_s", "job_busy_s", "s"),
    ("spark.driver_only_s", "driver_only_s", "s"),
    ("spark.gc_s", "gc_s", "s"),
    ("spark.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "spill_bytes", "bytes"),
    ("python.run_s", "python_run_s", "s"),
    ("python.to_python_bytes", "arrow_to_python_bytes", "bytes"),
    ("python.from_python_bytes", "arrow_from_python_bytes", "bytes"),
    ("engine.runs", "engine_runs", "count"),
    ("engine.supersteps", "supersteps", "count"),
    ("engine.layout_s", "layout_s", "s"),
    ("engine.outside_supersteps_s", "outside_supersteps_s", "s"),
]


def per_layer(calls, session_start_s: float, gen_s: float, log_bytes: int) -> dict:
    by_pass: dict[int, list[dict]] = {}
    for rec in calls:
        by_pass.setdefault(rec["pass"], []).append(rec)
    out = {}
    for metric, key, unit in LAYER_SUMS:
        vals = [sum(r["layers"].get(key, r["engine"].get(key, 0.0)) for r in rs) for rs in by_pass.values()]
        out[metric] = (median(vals), unit)
    steps = [float(m["seconds"]) for r in calls for run in r["engine_runs"] for m in run]
    out["engine.superstep_p50_s"] = (median(steps), "s")
    out["engine.superstep_p75_s"] = (p75(steps), "s")
    totals = pass_totals(calls).values()
    out["engine.edges_per_s"] = (median([t["edge_steps"] / t["step_s"] for t in totals if t["step_s"]]), "1/s")
    out["session.start_s"] = (session_start_s, "s")
    out["input.gen_s"] = (gen_s, "s")
    out["trace.wall_s"] = (median([t["wall_s"] for t in pass_totals(calls).values()]), "s")
    out["trace.log_bytes"] = (log_bytes, "bytes")
    return out


def call_table(calls) -> dict[str, dict]:
    """Per call name: medians over passes of every per-call metric."""
    names: dict[str, list[dict]] = {}
    for rec in calls:
        row = {"wall_s": rec["wall_s"], **rec["engine"], **rec.get("layers", {})}
        for k in ("new_rows", "touched_buckets", "output_bytes"):
            if k in rec:
                row[k] = rec[k]
        names.setdefault(rec["call"], []).append(row)
    return {
        name: {k: median([r[k] for r in rows if k in r]) for k in rows[0]} | {"samples": len(rows)}
        for name, rows in names.items()
    }


# --------------------------------------------------------------------- main

def _isolate(work_dir: str) -> None:
    """Point every scratch path of Spark, the JVM and Python workers into
    ``work_dir`` and run at local[<usable cores>] with program defaults."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench"))
    args = ap.parse_args(argv)

    try:
        import linkgraph.engine  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the linkgraph package from {ROOT}: {exc}")
        return 2

    def _timeout(signum, frame):
        raise Watchdog(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = os.path.abspath(args.out)
    work_dir = os.path.join(out_dir, "work", run_id)
    _isolate(work_dir)
    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(work_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })

    from linkgraph.session import get_spark

    wl = WORKLOADS[args.workload](args.seed, work_dir)
    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.monotonic() - t0
    try:
        gens = []
        for _ in range(SETUP_REPEATS):
            t0 = time.monotonic()
            wl.setup(spark)
            gens.append(time.monotonic() - t0)
        gen_s = median(gens)
        setup_s = session_start_s + gen_s
        log(f"[{args.workload}] seed {args.seed} inputs {json.dumps(wl.info)}")
        log(f"[{args.workload}] session {session_start_s:.2f} s, inputs {gens}")

        h = Harness(spark)
        n_passes = wl.passes(args.seconds)
        for p in range(n_passes):
            h.pass_no = p
            wl.run_pass(spark, h, p)
    finally:
        signal.alarm(0)
        _stop(spark)

    calls = h.calls
    for rec in calls:
        rec["engine"] = engine_stats(rec)
        rec["layers"] = {}
    log_bytes = 0
    try:
        if args.trace:
            from perfbench.eventlog import attribute, fold, read_events

            (path,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
            log_bytes = os.path.getsize(path)
            for rec, layers in zip(calls, attribute(fold(read_events(path)), calls)):
                rec["layers"] = layers
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    failed = sum(1 for rec in calls if not rec["ok"])
    metrics = per_layer(calls, session_start_s, gen_s, log_bytes) if args.trace else end_to_end(calls, setup_s)
    table = call_table(calls)
    for name, row in table.items():
        log(f"[{args.workload}] {name}: " + ", ".join(
            f"{k}={v:.4g}" for k, v in row.items()))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "passes": n_passes, "inputs": wl.info,
        "setup_gen_s": gens, "calls": table, "raw_calls": calls,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    with open(os.path.join(out_dir, "results", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(calls),
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop client, one workload per invocation.

    python3 perfbench/run.py --workload interactive_select --seed 1 \\
        --seconds 8 --trace 0

A run generates its inputs from ``--seed``, sets the engine up (session
start, graph load or store init, warm-up ops), then times whole passes of
ops until ``--seconds`` of measured time have elapsed (at least one pass). Each op's latency is
its DataFrame build plus a full noop-sink materialization (REST requests:
the HTTP round trip). Outputs are checked outside the timed region. With
``--trace 1`` a traced window follows the untraced one and the run reports
per-layer metrics instead of end-to-end ones.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Earlier lines print every metric by name and
unit, the host window and the input properties; the same record is saved
under ``.perfbench_work/results/``. The exit code is 0 only when every
check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import common  # noqa: E402
import layers  # noqa: E402
from common import kind_median, median, percentile  # noqa: E402

WORKLOADS = ("interactive_select", "batch_analytics", "rest_mixed")
# a run must end within 180 s: stop starting passes after this long
MAX_MEASURE_S = 90.0
WORK_DIR = os.path.join(common.ROOT, ".perfbench_work")

END_TO_END = {  # name -> unit: the gated set, reported by every workload
    "setup_s": "s", "p50_s": "s", "ops_per_s": "ops/s", "pass_s": "s",
    "read_p50_s": "s", "rss_peak_mb": "MB",
}
REPORTED = {  # end-to-end figures printed where they apply, not gated
    "p90_s": "s", "read_p90_s": "s", "write_p50_s": "s", "write_p90_s": "s",
    "error_rate": "ratio",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="perfbench: one workload, one run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="input scale factor (default: the workload's own)")
    return ap.parse_args(argv)


def make_workload(name: str, seed: int, work_dir: str, sf: float | None = None):
    """Generate the workload's inputs and build its client."""
    import datagen

    if name == "interactive_select":
        from interactive import Interactive as cls
    elif name == "batch_analytics":
        from batch import Batch as cls
    else:
        from rest_mixed import RestMixed as cls
    data_dir = os.path.join(work_dir, "data")
    rows = datagen.generate(data_dir, seed, sf or cls.sf)
    if name == "interactive_select":
        return cls(seed, data_dir, rows["customer"]), data_dir, rows
    if name == "batch_analytics":
        return cls(seed, data_dir), data_dir, rows
    return cls(seed, data_dir, work_dir), data_dir, rows


# -- ops ------------------------------------------------------------------------

def run_client_op(wl, spark, op, tracer=None, seq: int = 0) -> dict:
    """Build + noop sink on the client thread. Traced, the op runs under
    its own Spark job group and its jobs are counted afterwards."""
    name = op[0] if isinstance(op, tuple) else op
    sc = spark.sparkContext
    group = f"perfbench-{seq}"
    if tracer:
        sc.setJobGroup(group, name)
    with tracer.op(seq, name) if tracer else contextlib.nullcontext():
        t0 = time.perf_counter()
        df = wl.build(op)
        t1 = time.perf_counter()
        with tracer.span("spark.exec", "spark") if tracer else contextlib.nullcontext():
            common.noop_sink(df)
        t2 = time.perf_counter()
    rec = {"op": name, "key": op, "read": True, "latency": t2 - t0,
           "build": t1 - t0, "exec": t2 - t1, "df": df}
    if tracer:
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(common.count_jobs(spark, sc.statusTracker().getJobIdsForGroup(group)))
    return rec


def run_rest_op(wl, spark, kind: str, tracer=None, seq: int = 0) -> dict:
    """One HTTP round trip. Server threads do not inherit a job group, so
    a traced request's jobs are the ids the scheduler handed out while it
    was in flight (the client keeps one request in flight)."""
    op = wl.materialize(kind)
    write = kind in wl.WRITES
    if tracer:
        j0 = common.next_job_id(spark)
        files0 = wl.log_state()[0]
    with tracer.op(seq, kind) if tracer else contextlib.nullcontext():
        with tracer.span("rest.request", "rest") if tracer else contextlib.nullcontext():
            latency, status, payload = wl.request(op)
    rec = {"op": kind, "key": op, "read": not write, "latency": latency,
           "status": status, "payload": payload}
    if tracer:
        rec.update(common.count_jobs(spark, range(j0, common.next_job_id(spark))))
        if write:
            rec["log_files_added"] = wl.log_state()[0] - files0
    return rec


def run_op(wl, spark, op, tracer=None, seq: int = 0) -> dict:
    if wl.name == "rest_mixed":
        return run_rest_op(wl, spark, op, tracer, seq)
    return run_client_op(wl, spark, op, tracer, seq)


def check_op(wl, rec: dict) -> str | None:
    """Correctness hook after an op, outside its timing."""
    if wl.name == "rest_mixed":
        return wl.verify(rec["key"], rec["status"], rec.pop("payload"))
    wl.after_op(rec["key"], rec.pop("df"))
    return None


class Window:
    """Records of one measured window."""

    def __init__(self) -> None:
        self.ops: list[dict] = []
        self.passes: list[float] = []
        self.wall = 0.0
        self.failures: list[str] = []
        self.log_samples: list[tuple[int, int]] = []   # MVCC log before compaction


def measure(wl, spark, seconds: float, tracer=None) -> tuple[Window, Window | None]:
    """Whole passes until ``seconds`` of measured time have elapsed; time
    spent in correctness hooks is excluded from pass and wall time.

    With a tracer, passes alternate traced / untraced, starting traced,
    until each kind has had ``seconds``. The first pass being traced means
    the per-layer numbers of a one-pass window describe the same first
    pass the untraced runs time. Returns the untraced and the traced
    window."""
    wins = [Window(), Window() if tracer else None]
    seq = 0
    n_pass = 0
    deadline = time.perf_counter() + MAX_MEASURE_S
    while any(w is not None and (not w.passes or w.wall < seconds) for w in wins):
        if time.perf_counter() > deadline and all(w is None or w.passes for w in wins):
            break
        w = wins[1 - n_pass % 2] if tracer else wins[0]
        tr = tracer if w is wins[1] else None
        n_pass += 1
        if tr:
            tr.install()
        try:
            t0 = time.perf_counter()
            paused = 0.0
            for op in wl.next_pass():
                seq += 1
                try:
                    rec = run_op(wl, spark, op, tr, seq)
                except Exception as e:  # noqa: BLE001 — a failed op is a result
                    traceback.print_exc(file=sys.stderr)
                    w.failures.append(f"{op}: {type(e).__name__}: {e}")
                    w.ops.append({"op": str(op), "failed": True})
                    continue
                h0 = time.perf_counter()
                msg = check_op(wl, rec)
                paused += time.perf_counter() - h0
                if msg:
                    w.failures.append(msg)
                    rec["failed"] = True
                w.ops.append(rec)
            if hasattr(wl, "end_pass"):
                w.log_samples.append(wl.log_state())
                wl.end_pass()
            t_pass = time.perf_counter() - t0 - paused
        finally:
            if tr:
                tr.uninstall()
        w.passes.append(t_pass)
        w.wall += t_pass
    return wins[0], wins[1]


# -- set-up -----------------------------------------------------------------------

def setup(wl) -> tuple[object, dict, list[str]]:
    """Session start + graph load / store init + warm-up ops. The budget
    of a run leaves room for one cold set-up, so ``setup_s`` is one sample
    per run."""
    failures: list[str] = []
    t0 = time.perf_counter()
    spark = common.start_session()
    t1 = time.perf_counter()
    loads = wl.load(spark)
    t2 = time.perf_counter()
    for op in wl.warmup_ops():
        rec = run_op(wl, spark, op)
        if wl.name == "rest_mixed":
            msg = check_op(wl, rec)
            if msg:
                failures.append(f"warm-up {msg}")
    t3 = time.perf_counter()
    return spark, {"session.start_s": t1 - t0,
                   "graph.load_s": loads.get("graph.load_s", 0.0),
                   "mvcc.init_s": loads.get("mvcc.init_s", 0.0),
                   "warmup_s": t3 - t2, "setup_s": t3 - t0}, failures


def duckdb_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
    return con


# -- metrics ------------------------------------------------------------------------

def end_to_end(w: Window, setup_times: dict, rss_mb: float) -> dict:
    timed = [r for r in w.ops if r.get("latency") is not None]
    reads = [r for r in timed if r.get("read")]
    writes = [r for r in timed if r.get("read") is False]
    return {
        "setup_s": setup_times["setup_s"],
        "p50_s": kind_median(timed),
        "ops_per_s": len(timed) / w.wall if w.wall > 0 else None,
        "pass_s": median(w.passes),
        "read_p50_s": kind_median(reads),
        "rss_peak_mb": rss_mb,
        "p90_s": percentile([r["latency"] for r in timed], 90),
        "read_p90_s": percentile([r["latency"] for r in reads], 90),
        "write_p50_s": kind_median(writes),
        "write_p90_s": percentile([r["latency"] for r in writes], 90),
    }


def print_report(title: str, values: dict, units: dict, counts: dict) -> None:
    print(f"# {title}")
    for name, unit in units.items():
        v = values.get(name)
        shown = "n/a" if v is None else f"{v:.6g}"
        extra = f"  (n={counts[name]})" if name in counts else ""
        print(f"#   {name:<44} {shown:>14} {unit}{extra}")


T0 = time.perf_counter()


def stop_all() -> None:
    """Stop the Spark JVM and every other process the run started, and
    wait for each to end."""
    left = common.stop_descendants()
    if left:
        print(f"perfbench: processes still alive after stop: {left}", file=sys.stderr)


def _exit_on_signal(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(common.ROOT, common.PACKAGE)):
        print(f"perfbench: the {common.PACKAGE} package is not in {common.ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK_DIR, f"{run_id}-{os.getpid()}")
    results_dir = os.path.join(WORK_DIR, "results")
    os.makedirs(results_dir, exist_ok=True)
    launch = common.prepare_launch(work)
    sys.path.insert(0, os.path.join(common.ROOT, "tools"))  # check_contract

    wl, data_dir, rows = make_workload(args.workload, args.seed, work, args.sf)
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "launch": launch, "rows": rows, "sf": args.sf or wl.sf}
    tracer = None
    traced = None
    spark = None
    try:
        spark, setup_times, failures = setup(wl)
        phases = {"setup": time.perf_counter()}
        record["window_before"] = common.host_window(spark)
        phases["calibrate"] = time.perf_counter()
        if args.trace:
            from tracer import Tracer

            tracer = Tracer()
        win, traced = measure(wl, spark, args.seconds, tracer)
        phases["measure"] = time.perf_counter()
        record["window_after"] = common.host_window(spark)
        rss = common.jvm_peak_rss_mb(spark)
        phases["calibrate_after"] = time.perf_counter()
        n_checks, check_failures = wl.check(duckdb_views(data_dir))
        phases["check"] = time.perf_counter()
    finally:
        if hasattr(wl, "close"):
            wl.close()
        if spark is not None:
            spark.stop()
        stop_all()
        shutil.rmtree(work, ignore_errors=True)
    phases["stop"] = time.perf_counter()
    marks = [T0] + list(phases.values())
    record["phase_s"] = {k: round(b - a, 3) for k, a, b in zip(phases, marks, marks[1:])}

    windows = [win] + ([traced] if traced else [])
    attempted = sum(len(w.ops) for w in windows)
    failures += [f for w in windows for f in w.failures] + check_failures
    # an op fails when it raised, its response was wrong, or its output
    # (checked once per distinct op) differs from the oracle
    failed_ops = sum(1 for w in windows for r in w.ops
                     if r.get("failed") or (wl.failed_keys and r.get("key") in wl.failed_keys))
    if args.workload == "rest_mixed":
        # a write lost across the restart is a wrong result of the loop
        failed_ops += len(check_failures)
    failed_ops = min(failed_ops, attempted)

    e2e = end_to_end(win, setup_times, rss)
    e2e["error_rate"] = failed_ops / attempted if attempted else None
    record.update(setup=setup_times, checks=n_checks, failures=failures[:50],
                  input=wl.input_props(), end_to_end=e2e, passes=win.passes,
                  ops_measured=len(win.ops),
                  op_latency={r["op"]: [] for r in win.ops})
    for r in win.ops:
        if r.get("latency") is not None:
            record["op_latency"][r["op"]].append(round(r["latency"], 4))
    counts = {"p50_s": len(win.ops), "p90_s": len(win.ops), "pass_s": len(win.passes),
              "read_p50_s": sum(1 for r in win.ops if r.get("read")),
              "read_p90_s": sum(1 for r in win.ops if r.get("read")),
              "write_p50_s": sum(1 for r in win.ops if r.get("read") is False),
              "write_p90_s": sum(1 for r in win.ops if r.get("read") is False)}
    print(f"# perfbench {run_id}: launch {json.dumps(launch)}")
    print(f"# inputs: {json.dumps(record['input'])}")
    print(f"# host window: before {json.dumps(record['window_before'])} "
          f"after {json.dumps(record['window_after'])}")
    print_report("end-to-end (untraced window)", e2e, {**END_TO_END, **REPORTED}, counts)
    print(f"# checks: {n_checks} distinct outputs checked, {failed_ops} of "
          f"{attempted} ops failed")
    for f in failures[:20]:
        print(f"#   FAIL {f}")

    correct = failed_ops == 0 and not failures
    if args.trace:
        per_layer = layers.per_layer(traced, win, setup_times, tracer)
        record.update(per_layer=per_layer, self_time=layers.self_time_per_op(tracer, traced))
        tracer.dump(os.path.join(results_dir, f"{run_id}-spans.json"))
        print_report("per-layer (traced window)", per_layer, layers.UNITS, {})
        print("# self time per op by layer: " + json.dumps(
            {k: round(v, 6) for k, v in record["self_time"].items()}))
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in layers.UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    missing = [k for k, m in metrics.items() if m["value"] is None]
    if missing:
        failures.append(f"metrics without a value: {missing}")
        correct = False
    with open(os.path.join(results_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed_ops, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    # every path out of the run, a failure or a SIGTERM included, stops
    # the processes it started
    common.adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    try:
        code = main()
    finally:
        stop_all()
    sys.exit(code)

"""Self-tests of the benchmark harness.

    python -m pytest perfbench/tests -q

The smoke runs start Spark (about a minute each); the rest is pure Python.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import common  # noqa: E402
import datagen  # noqa: E402
import interactive  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from rest_mixed import READS, WRITES, RestMixed  # noqa: E402
from tracer import Tracer  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _tables(d):
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def test_datagen_is_deterministic_per_seed(tmp_path):
    rows_a = datagen.generate(str(tmp_path / "a"), 7, 0.001)
    rows_b = datagen.generate(str(tmp_path / "b"), 7, 0.001)
    datagen.generate(str(tmp_path / "c"), 8, 0.001)
    a, b, c = (_tables(str(tmp_path / x)) for x in "abc")
    assert rows_a == rows_b
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["customer.parquet"].equals(c["customer.parquet"])


def test_interactive_generator_is_deterministic_per_seed():
    def stream(seed):
        g = interactive.OpGenerator(seed, 1500)
        return [g.next_pass() for _ in range(20)]

    assert stream(5) == stream(5)
    assert stream(5) != stream(6)
    assert all(sorted(t for t, _ in p) == sorted(interactive.TEMPLATES)
               for p in stream(5))


def test_rest_generator_is_deterministic_per_seed(tmp_path):
    data = str(tmp_path / "data")
    datagen.generate(data, 3, 0.001)

    def stream(seed):
        wl = RestMixed(seed, data, str(tmp_path))
        return [wl.materialize(k) for _ in range(5) for k in wl.next_pass()]

    ops = stream(3)
    assert ops == stream(3)
    assert ops != stream(4)
    kinds = [k for k, _ in ops]
    assert sum(k in READS for k in kinds) == sum(k in WRITES for k in kinds)


def test_percentile_needs_ten_samples_beyond_it():
    assert common.percentile(list(range(99)), 90) is None
    assert common.percentile(list(range(100)), 90) == pytest.approx(89.1)
    assert common.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert common.percentile([], 50) is None
    w = run.Window()
    w.ops = [{"op": f"k{i % 5}", "latency": float(i), "read": True} for i in range(50)]
    w.passes, w.wall = [1.0], 1.0
    e2e = run.end_to_end(w, {"setup_s": 1.0}, 100.0)
    assert e2e["p90_s"] is None and e2e["p50_s"] == 24.5


def test_p50_pools_each_op_kind_first():
    # kind medians 1.1, 2.1, 3.1, 4.1; b's outlier moves neither
    lat = {"a": [1.0, 1.1, 1.2], "b": [2.0, 2.1, 9.0],
           "c": [3.0, 3.1, 3.2], "d": [4.0, 4.1, 4.2]}
    recs = [{"op": k, "latency": v} for k, vs in lat.items() for v in vs]
    assert common.kind_median(recs) == pytest.approx(2.6)
    assert common.kind_median([]) is None


def test_findall_lists_canonicalize_missing_as_empty():
    import numpy as np
    import pandas as pd

    spark_side = pd.DataFrame({"c": ["a", "b"], "keys": [np.array([3, 1]), np.array([])]})
    twin_side = pd.DataFrame({"c": ["a", "b"], "keys": [[1, 3], float("nan")]})
    assert (interactive._keys_to_json(spark_side)["keys"].tolist()
            == interactive._keys_to_json(twin_side)["keys"].tolist() == ["[1, 3]", "[]"])


def test_metric_names_and_benchmark_file_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = ([m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
             + list(run.REPORTED))
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_self_time_excludes_child_spans():
    tr = Tracer()
    with tr.op(1, "op"):
        with tr.span("outer", "a"):
            time.sleep(0.02)
            with tr.span("inner", "b"):
                time.sleep(0.05)
    st = tr.layer_self_times()
    assert 0.045 <= st["b"] < 0.2
    assert 0.015 <= st["a"] < st["b"]
    assert st["op"] < 0.015


def test_incomplete_checkout_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rest_mixed",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def test_stop_descendants_reaps_orphaned_grandchildren():
    # the shell exits at once and leaves its sleep orphaned, as a stopped
    # JVM leaves its Python workers; the subreaper adopts and stops it
    script = (
        "import subprocess, sys; sys.path.insert(0, sys.argv[1]); import common\n"
        "assert common.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 &'], check=True)\n"
        "assert common.descendants(), 'the orphan was not adopted'\n"
        "print(common.stop_descendants(grace_s=2.0), common.descendants())\n")
    out = subprocess.run([sys.executable, "-c", script, BENCH],
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["[]", "[]"]


def _run_processes() -> list[int]:
    """Pids of processes a benchmark run started (they carry the run's
    Spark local dir in their environment)."""
    marker = os.path.join(ROOT, ".perfbench_work").encode()
    pids = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if marker in f.read():
                    pids.append(int(name))
        except (OSError, ValueError):
            continue
    return pids


def _run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-3000:]
    assert _run_processes() == [], "the run left processes behind"
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_sf0001_passes_its_checks(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: m["unit"] for k, m in res["metrics"].items()} == run.END_TO_END
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_smoke_reports_every_per_layer_metric():
    res = _run("rest_mixed", 1)
    assert res["correct"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == layers.UNITS
    assert res["metrics"]["mvcc.commit_insert_s"]["value"] > 0
    assert res["metrics"]["rest.jobs_per_request"]["value"] > 0

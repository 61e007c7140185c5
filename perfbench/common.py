"""Shared pieces of the benchmark: launch environment, Spark session
start, the noop sink, percentiles, Spark job accounting, host-window
probes, peak-RSS reading and stopping the processes a run started.

Nothing here runs at import time; ``run.py`` calls :func:`prepare_launch`
before the first Spark session starts.
"""

from __future__ import annotations

import ctypes
import math
import os
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "vivace_graph_v3_spark"
APP_NAME = "perfbench"
DRIVER_MEMORY = "2g"

# a percentile above the median is reported only when at least this many
# samples lie beyond it (p90 therefore needs >= 100 samples)
MIN_TAIL_SAMPLES = 10


def prepare_launch(work_dir: str) -> dict:
    """Set the environment every Spark session of the run starts from.

    - ``PYTHONPATH`` gets the checkout root, so Python UDF workers (the
      geohash pandas UDF, the MinHash kernels) can import the package even
      when the benchmark is started from another directory.
    - ``SPARK_GRAFT_CPUS`` is pinned to the CPUs this process may run on;
      ``session.get_spark`` would otherwise default to ``local[32]``.
    - The driver heap starts at its maximum, so the JVM's peak RSS does not
      hinge on when the collector decides to grow the heap.
    - Spark's local dirs, Python's and the JVM's temp dirs go under
      ``work_dir`` so a run writes only inside its checkout.
    """
    cpus = len(os.sched_getaffinity(0))
    local_dir = os.path.join(work_dir, "spark-local")
    tmp_dir = os.path.join(work_dir, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    old_pp = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + old_pp if old_pp else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local_dir,
        "TMPDIR": tmp_dir,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp_dir}' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    return {"spark_graft_cpus": cpus, "pythonpath_root": True,
            "driver_memory": DRIVER_MEMORY}


def start_session():
    from vivace_graph_v3_spark.session import get_spark

    spark = get_spark(APP_NAME)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop_sink(df) -> None:
    """Full materialization with nothing written: unlike ``count()``,
    Catalyst cannot prune the projection away."""
    df.write.format("noop").mode("overwrite").save()


# -- statistics -----------------------------------------------------------

def percentile(values: list[float], q: float) -> float | None:
    """Linear-interpolated percentile ``q`` (0-100), or ``None`` when ``q``
    is above the median and fewer than MIN_TAIL_SAMPLES samples lie
    beyond it."""
    n = len(values)
    if n == 0:
        return None
    if q > 50 and n * (100 - q) / 100 < MIN_TAIL_SAMPLES - 1e-9:
        return None
    xs = sorted(values)
    pos = (n - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def kind_median(recs: list[dict]) -> float | None:
    """Median over op kinds of each kind's median latency.

    A pass runs one op of each kind, so this is the median op latency
    with each kind's samples reduced to their median first. Kinds differ in cost by up to
    10x; a plain median over all ops falls in the gap between the two
    middle kinds and swings with the slowest op of the cheaper one."""
    by_kind: dict[str, list[float]] = {}
    for r in recs:
        if r.get("latency") is not None:
            by_kind.setdefault(r["op"], []).append(r["latency"])
    return median([statistics.median(v) for v in by_kind.values()])


# -- Spark accounting ------------------------------------------------------

def next_job_id(spark) -> int:
    """The id the scheduler gives its next job (monotonic per context);
    reading it does not advance it."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def count_jobs(spark, job_ids) -> dict:
    """Jobs, stages, tasks, shuffle-write and spill bytes of the given jobs
    (read from the application status store) and the RDD storage the
    context still holds afterwards."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle": 0, "spill": 0}
    stage_ids: set[int] = set()
    for jid in job_ids:
        try:
            seq = store.job(int(jid)).stageIds()
        except Exception:  # noqa: BLE001 — evicted or unknown job id
            continue
        out["jobs"] += 1
        stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
    for sid in stage_ids:
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — skipped stage, never attempted
            continue
        out["stages"] += 1
        out["tasks"] += int(s.numTasks())
        out["shuffle"] += int(s.shuffleWriteBytes())
        out["spill"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
    out["cached"] = cached_bytes(spark)
    return out


def cached_bytes(spark) -> int:
    """Memory + disk bytes of RDD blocks the context still holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(int(i.memSize()) + int(i.diskSize()) for i in infos))


# -- host window and memory ------------------------------------------------

def host_window(spark) -> dict:
    """One bracket of the host-window annotation: the fixed-cost
    calibration query of ``bench.calibration_seconds``, run once (bench's
    min of 3 runs would add 2-4 s to every benchmark run), and the 1-minute
    load average. Recorded beside the metrics, never used to normalize
    them."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 150_000_000, 1, 8).select(
        F.sum((F.col("id") * 2654435761 % 2147483648) % 97)).first()
    return {"calibration_s": time.perf_counter() - t0,
            "loadavg_1m": os.getloadavg()[0], "at": time.time()}


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size of the driver JVM (VmHWM)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the driver JVM")


# -- process lifetime -------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> bool:
    """Make this process the subreaper of everything it starts: a process
    whose parent dies (a Python worker of a stopped JVM) is re-parented
    here instead of to init, so :func:`stop_descendants` can still find
    and reap it. Returns False where ``prctl`` is not available."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def descendants() -> list[int]:
    """Pids of every live process below this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; the fields after it do not
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0, limit_s: float = 30.0) -> list[int]:
    """Stop every process this one started, and wait until each has ended.

    The Spark driver JVM is asked first (its stdin is closed, which is how
    PySpark tells the gateway to exit); anything still alive is sent
    SIGTERM, and SIGKILL after ``grace_s``. Returns the pids still alive
    after ``limit_s`` (empty when all ended)."""
    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
    except ImportError:
        gw = None
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=grace_s)
        except Exception:  # noqa: BLE001 — escalated below
            pass
    t0 = time.monotonic()
    sig = signal.SIGTERM
    while True:
        _reap()
        left = descendants()
        if not left or time.monotonic() - t0 > limit_s:
            return left
        if time.monotonic() - t0 > grace_s:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)

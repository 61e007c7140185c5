"""Concurrency storms over the MVCC write path — the Spark-first analog
of the reference's tests/concurrency + tests/concurrent-stress suites
(transaction-tests.lisp, transaction-storm.lisp, mixed-storm.lisp): many
threads committing through one VersionedGraph must serialize under the
commit file lock, keep epochs unique and dense, detect stale-revision
writes under real races, and leave a log that replays to the same state.

Sizes are storm-shaped but CI-sized: every commit is a real parquet
append + OCC validation pass."""

import threading

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from vivace_graph_v3_spark.mvcc import ConflictError, VersionedGraph
from vivace_graph_v3_spark.schema import SchemaRegistry


@pytest.fixture()
def vg(spark, tmp_path):
    reg = SchemaRegistry()
    reg.def_vertex("acct", {"value": T.LongType()})
    return VersionedGraph(spark, reg, str(tmp_path / "g"))


def test_commit_storm_epochs_unique_and_dense(vg, spark):
    """8 threads x 3 disjoint-row commits: the flock must serialize them
    into 24 UNIQUE, DENSE epochs with no lost rows (the reference's
    graph-storm invariant)."""
    n_threads, n_commits = 8, 3
    epochs, errors = [], []
    lock = threading.Lock()

    def worker(t):
        try:
            for c in range(n_commits):
                rows = spark.createDataFrame(
                    [(f"t{t}c{c}", t * 100 + c)], "id string, value long")
                e = vg.commit(vg.begin().create("acct", rows))
                with lock:
                    epochs.append(e)
        except Exception as ex:  # pragma: no cover - surfaced below
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(t,))
               for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    total = n_threads * n_commits
    assert sorted(epochs) == list(range(1, total + 1))
    assert vg.read("acct").count() == total


def test_occ_increment_storm_loses_no_updates(vg, spark):
    """4 threads x 3 increments of ONE row with carried-revision saves
    and conflict-retry: the classic lost-update storm. Every increment
    must land exactly once (final value == total increments) — OCC
    validation has to reject every stale save the race produces."""
    vg.commit(vg.begin().create(
        "acct", spark.createDataFrame([("a1", 0)], "id string, value long")))
    n_threads, n_incr = 4, 3
    errors = []

    def worker():
        try:
            for _ in range(n_incr):
                while True:
                    cur = vg.read("acct").filter(F.col("id") == "a1").first()
                    upd = spark.createDataFrame(
                        [("a1", cur["value"] + 1, cur["revision"])],
                        "id string, value long, revision long")
                    try:
                        vg.commit(vg.begin().save("acct", upd))
                        break
                    except ConflictError:
                        continue   # somebody else won; re-read and retry
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=worker) for _ in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    final = vg.read("acct").first()
    assert final["value"] == n_threads * n_incr
    assert final["revision"] == n_threads * n_incr


def test_storm_log_replays_to_live_state(vg, spark, tmp_path):
    """After a mixed storm (inserts + updates + deletes from 4 threads),
    a snapshot+replay onto a fresh store must reproduce the live state
    exactly — the durability invariant of the reference's
    mixed-storm/durability tests."""
    base = spark.createDataFrame([(f"k{i}", 0) for i in range(8)],
                                 "id string, value long")
    vg.commit(vg.begin().create("acct", base))
    errors = []

    def worker(t):
        try:
            if t % 2 == 0:
                rows = spark.createDataFrame(
                    [(f"new{t}", t)], "id string, value long")
                vg.commit(vg.begin().create("acct", rows))
            else:
                while True:
                    cur = vg.read("acct") \
                        .filter(F.col("id") == f"k{t}").first()
                    upd = spark.createDataFrame(
                        [(f"k{t}", 99, cur["revision"])],
                        "id string, value long, revision long")
                    try:
                        vg.commit(vg.begin().save("acct", upd))
                        break
                    except ConflictError:
                        continue
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors

    vg.snapshot(str(tmp_path / "snap"))
    reg2 = SchemaRegistry()
    reg2.def_vertex("acct", {"value": T.LongType()})
    vg2 = VersionedGraph.replay(spark, reg2, str(tmp_path / "snap"),
                                str(tmp_path / "g2"))
    live = {(r["id"], r["value"]) for r in vg.read("acct").collect()}
    replayed = {(r["id"], r["value"]) for r in vg2.read("acct").collect()}
    assert live == replayed


def test_commit_storm_epochs_dense_across_compaction(vg, spark):
    """4 threads x 2 commits with a compaction racing them: compaction
    takes the commit lock and keeps the high-water epoch, so the epochs
    stay unique and dense and no row is lost."""
    n_threads, n_commits = 4, 2
    epochs, errors = [], []
    lock = threading.Lock()
    first = threading.Event()

    def worker(t):
        try:
            for c in range(n_commits):
                rows = spark.createDataFrame(
                    [(f"t{t}c{c}", t * 100 + c)], "id string, value long")
                e = vg.commit(vg.begin().create("acct", rows))
                first.set()
                with lock:
                    epochs.append(e)
        except Exception as ex:  # pragma: no cover - surfaced below
            errors.append(ex)

    def compactor():
        try:
            first.wait(60)
            vg.compact()
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(t,))
               for t in range(n_threads)] + [threading.Thread(target=compactor)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(300)
        assert not th.is_alive()
    assert not errors
    total = n_threads * n_commits
    assert sorted(epochs) == list(range(1, total + 1))
    assert vg.current_epoch() == total
    assert vg.read("acct").count() == total

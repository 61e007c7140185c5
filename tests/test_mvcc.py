"""MVCC write-path tests, mirroring the reference's mvcc-tests.lisp /
write-path-tests.lisp assertions: create/save/delete round trips, stale-save
conflict, epoch time travel, snapshot/replay, compaction retention."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from vivace_graph_v3_spark.mvcc import ConflictError, VersionedGraph
from vivace_graph_v3_spark.schema import SchemaRegistry


@pytest.fixture()
def vg(spark, tmp_path):
    reg = SchemaRegistry()
    reg.def_vertex("person", {"name": T.StringType(), "age": T.IntegerType()},
                   keep_revisions=1)
    reg.def_edge("knows")
    return VersionedGraph(spark, reg, str(tmp_path / "g"))


def _people(spark, rows):
    return spark.createDataFrame(rows, "id string, name string, age int")


def test_create_and_read(vg, spark):
    tx = vg.begin().create("person", _people(spark, [("p1", "ann", 30),
                                                     ("p2", "bob", 40)]))
    epoch = vg.commit(tx)
    assert epoch == 1
    cur = vg.read("person")
    assert {r["name"] for r in cur.collect()} == {"ann", "bob"}
    assert all(r["revision"] == 0 for r in cur.collect())


def test_save_bumps_revision_and_time_travel(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30)])))
    row = vg.read("person").first()
    upd = spark.createDataFrame([("p1", "ann", 31, row["revision"])],
                                "id string, name string, age int, revision long")
    e2 = vg.commit(vg.begin().save("person", upd))
    cur = vg.read("person").first()
    assert cur["age"] == 31 and cur["revision"] == 1
    # snapshot read at the first epoch still sees the old version
    old = vg.read("person", as_of=e2 - 1).first()
    assert old["age"] == 30 and old["revision"] == 0


def test_stale_save_conflict(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30)])))
    upd = spark.createDataFrame([("p1", "ann", 31, 0)],
                                "id string, name string, age int, revision long")
    vg.commit(vg.begin().save("person", upd))
    with pytest.raises(ConflictError):
        vg.commit(vg.begin().save("person", upd))  # carries revision 0, now 1


def test_delete_and_active_edges(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [
        ("p1", "ann", 30), ("p2", "bob", 40), ("p3", "cyd", 50)])))
    edges = spark.createDataFrame(
        [("e1", "p1", "p2", 1.0), ("e2", "p2", "p3", 1.0)],
        "id string, src string, dst string, weight double")
    vg.commit(vg.begin().create("knows", edges))
    vg.commit(vg.begin().mark_deleted("person", ["p3"]))
    store = vg.store()
    assert store.scan_vertices("person").count() == 2
    assert store.scan_vertices("person", include_deleted=True).count() == 3
    # active-edge-p: e2's endpoint p3 is deleted -> only e1 active
    assert [r["id"] for r in store.active_edges("knows").collect()] == ["e1"]


def test_retract_edges(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "a", 1),
                                                          ("p2", "b", 2)])))
    edges = spark.createDataFrame([("e1", "p1", "p2", 1.0)],
                                  "id string, src string, dst string, weight double")
    vg.commit(vg.begin().create("knows", edges))
    vg.retract_edges("knows", src="p1")
    assert vg.read("knows").count() == 0
    assert vg.read("knows", include_deleted=True).count() == 1


def test_snapshot_replay_roundtrip(vg, spark, tmp_path):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30),
                                                          ("p2", "bob", 40)])))
    vg.commit(vg.begin().mark_deleted("person", ["p2"]))
    snap = str(tmp_path / "snap")
    vg.snapshot(snap)
    g2 = VersionedGraph.replay(spark, vg.registry, snap, str(tmp_path / "g2"))
    rows = g2.read("person").collect()
    assert [r["name"] for r in rows] == ["ann"]


def test_compact_crash_window_base_aside_recovers(vg, spark):
    """ADVICE r6 swap rule applied to compact(): a crash between the two
    renames of the base swap leaves the base only at the .old aside —
    the next read restores it instead of silently reading an empty
    base."""
    import os
    import shutil

    vg.commit(vg.begin().create("person", _people(spark, [("p1", "a", 1),
                                                          ("p2", "b", 2)])))
    vg.compact()
    base = vg._base_path(vg.registry.get("person"))
    assert os.path.isdir(base)
    # simulate the crash window
    os.rename(base, base + ".old")
    assert sorted(r["id"] for r in vg.read("person").collect()) == \
        ["p1", "p2"]
    assert os.path.isdir(base) and not os.path.exists(base + ".old")
    shutil.rmtree(base + ".old", ignore_errors=True)


def test_compact_preserves_state_and_retention(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30)])))
    for age in (31, 32, 33):
        row = vg.read("person").first()
        upd = spark.createDataFrame([("p1", "ann", age, row["revision"])],
                                    "id string, name string, age int, revision long")
        vg.commit(vg.begin().save("person", upd))
    vg.compact()
    cur = vg.read("person").first()
    assert cur["age"] == 33 and cur["revision"] == 3
    import os
    assert not os.listdir(vg.log_path)  # log truncated
    assert vg.current_epoch() == 4      # the high-water epoch survives
    # keep_revisions=1 -> exactly one superseded version retained
    hist = spark.read.parquet(str(vg.path) + "/history/vertex_person")
    assert hist.count() == 1 and hist.first()["age"] == 32
    # mutation after compaction still works
    row = vg.read("person").first()
    upd = spark.createDataFrame([("p1", "ann", 40, row["revision"])],
                                "id string, name string, age int, revision long")
    vg.commit(vg.begin().save("person", upd))
    assert vg.read("person").first()["age"] == 40


def test_multi_type_atomic_commit(vg, spark):
    """One transaction spanning vertices AND edges lands under ONE epoch
    (atomic apply, transactions.lisp:1906-1952)."""
    tx = (vg.begin()
          .create("person", _people(spark, [("p1", "ann", 30),
                                            ("p2", "bob", 40)]))
          .create("knows", spark.createDataFrame(
              [("e1", "p1", "p2", 1.0)],
              "id string, src string, dst string, weight double")))
    epoch = vg.commit(tx)
    assert vg.read("person").count() == 2
    assert vg.read("knows").count() == 1
    epochs = {r["commit_epoch"]
              for r in vg.read("person", include_deleted=True).collect()}
    epochs |= {r["commit_epoch"]
               for r in vg.read("knows", include_deleted=True).collect()}
    assert epochs == {epoch}
    # snapshot BEFORE the epoch sees neither
    assert vg.read("person", as_of=epoch - 1).count() == 0
    assert vg.read("knows", as_of=epoch - 1).count() == 0


def _spark_jobs(spark) -> int:
    """The id the scheduler gives its next job (monotonic, and advanced
    synchronously at submit, unlike the asynchronous status store)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _read_rows(vg, type_name):
    return {r["id"]: r.asDict()
            for r in vg.read(type_name, include_deleted=True).collect()}


def _lookup_dict(vg, type_name, node_id):
    row = vg.lookup(type_name, node_id)
    return row.asDict() if row is not None else None


def test_lookup_matches_merge_on_read(vg, spark):
    """lookup() returns exactly the row of the merge-on-read plan: base
    only, log only, log over base, deleted, missing, edge, and again
    after the log is folded into the base."""
    vg.commit(vg.begin().create("person", _people(spark, [
        ("p1", "ann", 30), ("p2", "bob", 40), ("p3", "cyd", 50)])))
    vg.commit(vg.begin().create("knows", spark.createDataFrame(
        [("e1", "p1", "p2", 2.0)],
        "id string, src string, dst string, weight double")))
    vg.compact()                                   # p1..p3, e1: base only
    upd = spark.createDataFrame([("p1", "ann", 31, 0)],
                                "id string, name string, age int, revision long")
    vg.commit(vg.begin().save("person", upd))      # p1: log over base
    vg.commit(vg.begin().create("person", _people(spark, [("p4", "dee", 9)])))
    vg.commit(vg.begin().mark_deleted("person", ["p2"]))
    cases = {"person": ("p1", "p2", "p3", "p4", "nobody"), "knows": ("e1",)}
    for _ in range(2):                             # before and after compact
        for t, ids in cases.items():
            want = _read_rows(vg, t)
            for i in ids:
                assert _lookup_dict(vg, t, i) == want.get(i), (t, i)
        vg.compact()
    assert _lookup_dict(vg, "person", "p1")["age"] == 31
    # a tombstone keeps the slots it deleted
    p2 = _lookup_dict(vg, "person", "p2")
    assert (p2["deleted"], p2["name"], p2["age"]) == (True, "bob", 40)
    assert vg.lookup("person", "nobody") is None


def test_lookup_runs_one_spark_job(vg, spark):
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30)])))
    vg.compact()
    upd = spark.createDataFrame([("p1", "ann", 31, 0)],
                                "id string, name string, age int, revision long")
    vg.commit(vg.begin().save("person", upd))
    vg.lookup("person", "p1")       # first call infers the base schema
    j0 = _spark_jobs(spark)
    assert vg.lookup("person", "p1")["age"] == 31
    assert _spark_jobs(spark) - j0 == 1
    j0 = _spark_jobs(spark)
    assert vg.current_epoch() == 2  # recorded by the commit: no job
    assert _spark_jobs(spark) == j0


def test_second_writer_commit_and_compact_are_seen(vg, spark):
    """A second VersionedGraph on the same path commits, then compacts:
    the first instance's lookup, read and current_epoch see both."""
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30)])))
    assert vg.lookup("person", "p1")["age"] == 30 and vg.current_epoch() == 1
    other = VersionedGraph(spark, vg.registry, vg.path)
    upd = spark.createDataFrame([("p1", "ann", 31, 0)],
                                "id string, name string, age int, revision long")
    other.commit(other.begin().save("person", upd))
    assert vg.lookup("person", "p1")["age"] == 31
    assert vg.read("person").first()["age"] == 31
    assert vg.current_epoch() == 2
    other.compact()
    assert vg.lookup("person", "p1")["revision"] == 1
    assert vg.read("person").first()["age"] == 31
    assert vg.current_epoch() == 2
    other.commit(other.begin().create("person", _people(spark, [("p2", "b", 1)])))
    assert vg.current_epoch() == 3
    assert vg.lookup("person", "p2")["commit_epoch"] == 3


def test_epochs_continue_after_compact(vg, spark):
    """Compaction keeps the high-water epoch: a commit after it gets a new
    epoch, so an as_of read of an older epoch does not see it."""
    vg.commit(vg.begin().create("person", _people(spark, [("p1", "ann", 30)])))
    vg.compact()
    assert vg.current_epoch() == 1
    e = vg.commit(vg.begin().create("person", _people(spark, [("p3", "cy", 5)])))
    assert e == 2
    assert {r["id"] for r in vg.read("person", as_of=1).collect()} == {"p1"}
    assert {r["id"] for r in vg.read("person").collect()} == {"p1", "p3"}


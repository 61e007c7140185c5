"""MVCC write path: transactions, txn log (WAL), time travel, snapshot/replay.

Reference semantics reproduced (citations into /root/reference):

- ``with-transaction`` -> ``%commit``: mutations collect into a write-set and
  apply atomically with a fresh commit epoch (transactions.lisp:255-266,
  1906-1952).
- OCC stale-revision detection on ``copy -> mutate -> save``
  (interface.lisp:3-38, transactions.lisp:1582-1630): a save whose carried
  ``revision`` is no longer current raises :class:`ConflictError`.
- WAL: every commit is persisted as an append to the txn log before it is
  visible (``persist-tx`` transactions.lisp:1382-1424).
- MVCC visibility: readers resolve "newest version with commit-epoch <=
  snapshot epoch" (transactions.lisp:395-462) — :meth:`VersionedGraph.read`
  with ``as_of``.
- Version retention honoring per-type ``keep-revisions``
  (transactions.lisp:470-599, schema.lisp:46-49) — :meth:`compact`.
- ``snapshot`` / ``replay``: dump all live nodes as replayable txn-log rows;
  rebuild a graph from them (txn-log.lisp:3-38).

Spark-first reinterpretation (SURVEY.md §7.2): there is no per-row OCC or TM
lock — a commit is one atomic batch append of parquet files to the log
directory, and the driver is the single writer (the analog of the reference's
transaction-manager lock). Current state is **merge-on-read**: a compacted
base snapshot plus the (small) delta log, resolved with
latest-(epoch, revision)-per-id-wins. The window function runs only over log
rows touching changed ids — never over the 100 TB base, which contributes via
a broadcast-able anti-join of changed ids. ``compact()`` folds deltas into the
base copy-on-write so the delta window stays bounded. A point read by id
(:meth:`VersionedGraph.lookup`) skips the window: it filters both scans on
the id and keeps the newest row in one job.

Commit epochs are monotonic for the life of the directory: ``compact()``
persists the high-water epoch in ``path/EPOCH`` before it drops the log.

The log row schema is fixed across node types: declared slots are carried as a
JSON payload (the columnar analog of the reference serializing the slot plist
onto the heap, serialize.lisp:162-183) and decoded back to typed columns via
the schema registry at read time. Base tables stay fully typed parquet.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from vivace_graph_v3_spark.graph import GraphStore
from vivace_graph_v3_spark.schema import SYSTEM_COLUMNS, SchemaRegistry

LOG_SCHEMA = T.StructType([
    T.StructField("commit_epoch", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),       # 'vertex' | 'edge'
    T.StructField("type", T.StringType(), False),
    T.StructField("op", T.StringType(), False),         # 'insert'|'update'|'delete'
    T.StructField("id", T.StringType(), False),
    T.StructField("revision", T.LongType(), False),
    T.StructField("deleted", T.BooleanType(), False),
    T.StructField("src", T.StringType(), True),
    T.StructField("dst", T.StringType(), True),
    T.StructField("weight", T.DoubleType(), True),
    T.StructField("payload", T.StringType(), True),     # JSON of declared slots
    T.StructField("committed_at", T.DoubleType(), True),
])


class ConflictError(Exception):
    """Stale-revision write detected at commit (OCC validate analog,
    transactions.lisp:236-246)."""


def _slot_struct(nt) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in nt.slots.items()])


def _listing(path: str) -> tuple[str, ...] | None:
    """The data files of a parquet directory (None if it does not exist).
    Part files are immutable and uniquely named, so an unchanged listing
    means unchanged contents: it stamps what the read path reuses."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return None
    return tuple(sorted(n for n in names if not n.startswith(("_", "."))))


class Transaction:
    """Collects a write-set of DataFrame mutations; applied atomically by
    :meth:`VersionedGraph.commit` (the ``with-transaction`` body analog)."""

    def __init__(self, graph: "VersionedGraph") -> None:
        self.graph = graph
        self.ops: list[tuple[str, str, DataFrame]] = []  # (op, type, rows)

    def create(self, type_name: str, df: DataFrame) -> "Transaction":
        """``make-vertex`` / ``make-edge`` (vertex.lisp:105-146,
        edge.lisp:191-245): insert rows. ``df`` carries ``id`` + declared
        slots (+ ``src``/``dst``[/``weight``] for edges)."""
        self.ops.append(("insert", type_name, df))
        return self

    def save(self, type_name: str, df: DataFrame) -> "Transaction":
        """copy -> mutate -> save (interface.lisp:3-38). ``df`` carries ``id``,
        the full slot set, and the ``revision`` the caller read; commit
        validates it is still current and bumps it."""
        self.ops.append(("update", type_name, df))
        return self

    def mark_deleted(self, type_name: str, ids) -> "Transaction":
        """Soft delete (interface.lisp:15-25): tombstone rows."""
        if not isinstance(ids, DataFrame):
            ids = self.graph.spark.createDataFrame(
                [(i,) for i in ids], T.StructType([T.StructField("id", T.StringType())]))
        self.ops.append(("delete", type_name, ids.select("id")))
        return self


class VersionedGraph:
    """An on-disk, mutable, versioned graph: ``path/base/<kind>_<type>``
    typed parquet + ``path/log`` append-only txn log."""

    def __init__(self, spark: SparkSession, registry: SchemaRegistry,
                 path: str, name: str = "graph") -> None:
        self.spark = spark
        self.registry = registry
        self.path = path
        self.name = name
        # work reused while a directory's listing is unchanged:
        # (log listing, max commit_epoch of the log) and, per type,
        # (base listing, base schema). Threads may race to refresh them;
        # the loser's value is for a listing that never recurs (part
        # names are unique), so a race costs one recompute, never a
        # stale answer
        self._log_epoch: tuple[tuple, int] | None = None
        self._base_schema: dict[str, tuple[tuple, T.StructType]] = {}
        os.makedirs(self.log_path, exist_ok=True)

    # -- paths ---------------------------------------------------------------

    @property
    def log_path(self) -> str:
        return os.path.join(self.path, "log")

    def _base_path(self, nt) -> str:
        return os.path.join(self.path, "base", f"{nt.kind}_{nt.name}")

    # -- epoch bookkeeping ---------------------------------------------------

    @property
    def _epoch_marker_path(self) -> str:
        return os.path.join(self.path, "EPOCH")

    def _log(self) -> DataFrame:
        return self.spark.read.schema(LOG_SCHEMA).parquet(self.log_path)

    def _log_rows(self, nt) -> DataFrame:
        return self._log().filter((F.col("kind") == nt.kind) &
                                  (F.col("type") == nt.name))

    def current_epoch(self) -> int:
        """The newest committed epoch: max of the log and of the high-water
        mark the last compaction persisted. The log's max is recomputed
        only when its listing changed (a commit or compaction by any
        writer); the log is listed before the marker is read, so a
        compaction racing this call is seen through one or the other."""
        stamp = _listing(self.log_path)
        memo = self._log_epoch
        if memo is None or memo[0] != stamp:
            top = (self._log().agg(F.max("commit_epoch")).first()[0]
                   if stamp else None)
            memo = (stamp, int(top) if top is not None else 0)
            self._log_epoch = memo
        return max(memo[1], self._epoch_marker())

    def _epoch_marker(self) -> int:
        try:
            with open(self._epoch_marker_path) as f:
                return int(f.read())
        except FileNotFoundError:
            return 0

    def _write_epoch_marker(self, epoch: int) -> None:
        """Atomic replace (tmp + rename): a reader sees the old or the new
        high-water mark, never a torn one."""
        tmp = f"{self._epoch_marker_path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(str(epoch))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._epoch_marker_path)

    @contextlib.contextmanager
    def _commit_lock(self):
        """The single-writer lock (the reference's transaction-manager
        lock, transactions.lisp:1803-1810): a file lock, so it holds
        across threads and processes; readers never take it."""
        import fcntl

        with open(os.path.join(self.path, ".commit.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    # -- write path ----------------------------------------------------------

    def begin(self) -> Transaction:
        return Transaction(self)

    def commit(self, tx: Transaction) -> int:
        """Apply the write-set atomically under a fresh epoch: validate
        revisions (OCC), serialize to log rows, append to the WAL
        (transactions.lisp:1906-1952 -> 1382-1424).

        Commit-time mutual exclusion is :meth:`_commit_lock` — one writer
        per graph across processes. The epoch just written is recorded
        under the new log listing, so the next ``current_epoch()`` runs
        no job.

        OCC validation is FUSED into the serialization job: each
        update/delete op carries an Observation whose aggregates are
        computed on the rows as they stream into a staging write; the
        staged files are promoted into the log only after every
        observation validates. One Spark job per commit instead of three
        (validation-join checkpoint + probe + write), and a conflicting
        commit still leaves the log untouched — atomicity is the
        promote-after-validate rename, the same protocol a distributed
        committer uses."""
        with self._commit_lock():
            epoch = self.current_epoch() + 1
            frames = []
            checks = []
            for op, type_name, df in tx.ops:
                nt = self.registry.get(type_name)
                fdf, check = self._to_log_rows(op, nt, df, epoch)
                frames.append(fdf)
                if check is not None:
                    checks.append(check)
            if not frames:
                return epoch
            out = frames[0]
            for fdf in frames[1:]:
                out = out.unionByName(fdf)
            if not checks:
                # insert-only commit: no validation needed, append
                # directly (coalesce keeps the historical one-file-
                # per-commit log layout for map-only insert batches)
                out.coalesce(1).write.mode("append").parquet(self.log_path)
            else:
                self._validate_and_promote(out, checks, epoch)
            self._log_epoch = (_listing(self.log_path), epoch)
            return epoch

    def _validate_and_promote(self, out: DataFrame, checks: list,
                              epoch: int) -> None:
        staging = os.path.join(
            self.path, f".staging-{epoch}-{os.getpid()}-{time.time_ns()}")
        try:
            # no coalesce here: the validation join / merge-on-read
            # window keep their parallelism inside this one job and
            # AQE's partition coalescing sizes the output files
            out.write.mode("overwrite").parquet(staging)
            for obs, op, name, check_stale in checks:
                row = obs.get
                if row["missing"]:
                    raise ConflictError(
                        f"{op} on unknown {name} id "
                        f"{row['missing_id']!r}")
                if check_stale and row["stale"]:
                    raise ConflictError(
                        f"stale save of {name} id {row['stale_id']!r}: "
                        f"carried revision is no longer current")
            for fname in os.listdir(staging):
                if fname.startswith("part-"):
                    os.rename(os.path.join(staging, fname),
                              os.path.join(self.log_path, fname))
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _to_log_rows(self, op: str, nt, df: DataFrame, epoch: int):
        """Serialize one op's rows to log-row shape. Returns
        ``(frame, check)`` where ``check`` is ``None`` for inserts and
        ``(Observation, op, type_name, check_stale)`` for update/delete —
        the OCC probe aggregates ride the commit's single write job via
        ``observe`` instead of paying a checkpoint + probe job first."""
        from pyspark.sql import Observation

        slots = [c for c in nt.slots if c not in SYSTEM_COLUMNS]
        payload = (F.to_json(F.struct(*[F.col(c) for c in slots if c in df.columns]))
                   if any(c in df.columns for c in slots) else F.lit(None).cast("string"))
        src = F.col("src") if "src" in df.columns else F.lit(None).cast("string")
        dst = F.col("dst") if "dst" in df.columns else F.lit(None).cast("string")
        wgt = (F.col("weight").cast("double") if "weight" in df.columns
               else (F.lit(1.0) if nt.kind == "edge" and op == "insert"
                     else F.lit(None).cast("double")))

        check = None
        if op == "insert":
            revision = F.lit(0).cast("long")
            deleted = F.lit(False)
        else:
            # join current state for revision validation / bump; a delete
            # also carries the current slots, so its tombstone keeps them
            carried = slots if op == "delete" else []
            cur = self.read(nt.name, include_deleted=True).select(
                F.col("id"), F.col("revision").alias("__cur_rev"),
                *( [F.col("src").alias("__cur_src"), F.col("dst").alias("__cur_dst"),
                    F.col("weight").alias("__cur_w")] if nt.kind == "edge" else [] ),
                *[F.col(c).alias(f"__cur_{c}") for c in carried])
            df = df.join(cur, "id", "left")
            if carried:
                payload = F.to_json(F.struct(
                    *[F.col(f"__cur_{c}").alias(c) for c in carried]))
            # OCC probe aggregates observed on the rows streaming into the
            # commit write — count unknown ids and stale saves; commit()
            # raises BEFORE promoting the staged files, so a conflict
            # never becomes visible
            check_stale = (op == "update" and "revision" in df.columns)
            obs = Observation()
            df = df.observe(
                obs,
                F.sum(F.when(F.col("__cur_rev").isNull(), 1).otherwise(0))
                .alias("missing"),
                (F.sum(F.when(F.col("revision") != F.col("__cur_rev"), 1)
                       .otherwise(0)) if check_stale else F.lit(0))
                .alias("stale"),
                F.min(F.when(F.col("__cur_rev").isNull(), F.col("id")))
                .alias("missing_id"),
                (F.min(F.when(F.col("revision") != F.col("__cur_rev"),
                              F.col("id"))) if check_stale
                 else F.lit(None)).alias("stale_id"),
            )
            check = (obs, op, nt.name, check_stale)
            revision = (F.col("__cur_rev") + 1).cast("long")
            deleted = F.lit(op == "delete")
            if nt.kind == "edge":
                src = F.coalesce(src, F.col("__cur_src"))
                dst = F.coalesce(dst, F.col("__cur_dst"))
                wgt = F.coalesce(wgt, F.col("__cur_w"))

        out = df.select(
            F.lit(epoch).cast("long").alias("commit_epoch"),
            F.lit(nt.kind).alias("kind"),
            F.lit(nt.name).alias("type"),
            F.lit(op).alias("op"),
            F.col("id"),
            revision.alias("revision"),
            deleted.alias("deleted"),
            src.alias("src"), dst.alias("dst"), wgt.alias("weight"),
            payload.alias("payload"),
            F.lit(time.time()).alias("committed_at"),
        )
        return out, check

    # -- read path -----------------------------------------------------------

    def _decode(self, nt, log: DataFrame) -> DataFrame:
        """Log rows -> typed node rows (payload JSON -> declared slot columns)."""
        sys_cols = [F.col("id"), F.lit(nt.name).alias("type"), F.col("deleted"),
                    F.col("revision"), F.col("commit_epoch")]
        if nt.kind == "edge":
            sys_cols += [F.col("src"), F.col("dst"), F.col("weight")]
        decoded = log.withColumn("__p", F.from_json("payload", _slot_struct(nt)))
        return decoded.select(*sys_cols,
                              *[F.col(f"__p.{c}").alias(c) for c in nt.slots])

    def _base(self, nt) -> DataFrame:
        """The typed base of one type. Its schema is inferred (one Spark
        job) only when the base's listing changed; every call still gets
        a fresh relation, so two reads of a type never share attribute
        ids."""
        p = self._base_path(nt)
        # crash recovery: a compact() interrupted between its two swap
        # renames leaves the base only at the .old aside — restore it
        # (same self-healing rule as the streaming stores, ADVICE r6)
        if not os.path.exists(p) and os.path.isdir(p + ".old"):
            os.rename(p + ".old", p)
        stamp = _listing(p)
        if stamp is None:
            # an empty local relation (a false filter the optimizer folds
            # away), not an empty RDD: a union with it schedules no tasks
            return self.spark.range(1).select(
                *[F.lit(None).cast(f.dataType).alias(f.name)
                  for f in nt.struct_type().fields]).where(F.lit(False))
        memo = self._base_schema.get(nt.name)
        if memo is None or memo[0] != stamp:
            memo = (stamp, self.spark.read.parquet(p).schema)
            self._base_schema[nt.name] = memo
        return self.spark.read.schema(memo[1]).parquet(p)

    def read(self, type_name: str, *, as_of: int | None = None,
             include_deleted: bool = False) -> DataFrame:
        """Current (or ``as_of`` snapshot) state of one type: newest version
        with commit_epoch <= snapshot epoch per id (transactions.lisp:444-462).

        The per-id window runs only over delta-log rows; base rows join in by
        anti-join on the changed-id set (broadcast-able: the delta is small
        relative to the base between compactions).
        """
        nt = self.registry.get(type_name)
        base = self._base(nt)
        log = self._log_rows(nt)
        if as_of is not None:
            log = log.filter(F.col("commit_epoch") <= as_of)
            base = base.filter(F.col("commit_epoch") <= as_of)
        w = Window.partitionBy("id").orderBy(F.desc("commit_epoch"),
                                            F.desc("revision"))
        latest = (log.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        changed = F.broadcast(latest.select("id"))
        cur = (base.join(changed, "id", "left_anti")
               .unionByName(self._decode(nt, latest)))
        if not include_deleted:
            cur = cur.filter(~F.col("deleted"))
        return cur

    def lookup(self, type_name: str, node_id: str):
        """The newest version of one id, deleted or not, as a Row (None if
        the id was never written): ``lookup-vertex`` (vertex.lisp:84-91)
        under the current snapshot. Equal to
        ``read(type_name, include_deleted=True).filter(id == node_id)``
        but one Spark job: both scans are filtered on the id, and a log
        row beats the base row, then the newest (epoch, revision) wins —
        no per-id window, no changed-id anti-join."""
        nt = self.registry.get(type_name)
        base = self._base(nt).filter(F.col("id") == node_id)
        log = self._decode(nt, self._log_rows(nt).filter(F.col("id") == node_id))
        rows = (base.withColumn("__from_log", F.lit(False))
                .unionByName(log.withColumn("__from_log", F.lit(True)))
                .orderBy(F.desc("__from_log"), F.desc("commit_epoch"),
                         F.desc("revision"))
                .limit(1).drop("__from_log").collect())
        return rows[0] if rows else None

    def history(self, type_name: str) -> DataFrame:
        """Every retained version of every node (MVCC chain walk analog)."""
        nt = self.registry.get(type_name)
        return self._base(nt).unionByName(self._decode(nt, self._log_rows(nt)))

    def store(self, *, as_of: int | None = None) -> GraphStore:
        """Materialize a :class:`GraphStore` view (optionally a snapshot read,
        the ``:snapshot t`` analog, prologc.lisp:1024-1031) for querying."""
        g = GraphStore(self.spark, self.registry, name=self.name,
                       has_tombstones=True)
        for nt in self.registry.types("vertex"):
            g.add_vertices(nt.name, self.read(nt.name, as_of=as_of,
                                              include_deleted=True))
        for nt in self.registry.types("edge"):
            g.add_edges(nt.name, self.read(nt.name, as_of=as_of,
                                           include_deleted=True))
        return g

    # -- bootstrap / snapshot / replay / compact ------------------------------

    def init_from_store(self, store: GraphStore) -> None:
        """Seed base tables from an existing GraphStore projection."""
        for nt in self.registry.types():
            tables = store._vertices if nt.kind == "vertex" else store._edges
            if nt.name in tables:
                tables[nt.name].write.mode("overwrite").parquet(self._base_path(nt))

    def snapshot(self, out_path: str, *, include_deleted: bool = False) -> None:
        """Dump all live nodes as replayable txn-log rows (txn-log.lisp:3-36)."""
        frames = []
        for nt in self.registry.types():
            cur = self.read(nt.name, include_deleted=include_deleted)
            frames.append(self._to_snapshot_rows(nt, cur))
        out = frames[0]
        for fdf in frames[1:]:
            out = out.unionByName(fdf)
        out.write.mode("overwrite").parquet(out_path)

    def _to_snapshot_rows(self, nt, cur: DataFrame) -> DataFrame:
        slots = [c for c in nt.slots if c not in SYSTEM_COLUMNS]
        return cur.select(
            F.lit(1).cast("long").alias("commit_epoch"),
            F.lit(nt.kind).alias("kind"),
            F.lit(nt.name).alias("type"),
            F.lit("insert").alias("op"),
            F.col("id"),
            F.lit(0).cast("long").alias("revision"),
            F.col("deleted"),
            (F.col("src") if nt.kind == "edge" else F.lit(None).cast("string")).alias("src"),
            (F.col("dst") if nt.kind == "edge" else F.lit(None).cast("string")).alias("dst"),
            (F.col("weight").cast("double") if nt.kind == "edge"
             else F.lit(None).cast("double")).alias("weight"),
            (F.to_json(F.struct(*slots)) if slots
             else F.lit(None).cast("string")).alias("payload"),
            F.lit(time.time()).alias("committed_at"),
        )

    @classmethod
    def replay(cls, spark: SparkSession, registry: SchemaRegistry,
               txn_dir: str, path: str, name: str = "graph") -> "VersionedGraph":
        """Rebuild a graph from snapshot/txn-log rows (txn-log.lisp:38-...)."""
        g = cls(spark, registry, path, name=name)
        rows = spark.read.schema(LOG_SCHEMA).parquet(txn_dir)
        rows.write.mode("append").parquet(g.log_path)
        return g

    def compact(self) -> None:
        """Fold the delta log into the base (copy-on-write), retaining at most
        ``keep_revisions`` superseded versions per id in ``path/history``
        (the epoch-gated reaper analog, transactions.lisp:470-599).

        Runs under the commit lock. The high-water epoch is persisted
        before the log is dropped, so epochs keep counting up afterwards:
        an ``as_of`` read or an epoch-keyed cache entry never meets a
        reused epoch."""
        with self._commit_lock():
            high = self.current_epoch()
            for nt in self.registry.types():
                self._compact_type(nt)
            self._write_epoch_marker(high)
            shutil.rmtree(self.log_path)
            os.makedirs(self.log_path, exist_ok=True)

    def _compact_type(self, nt) -> None:
        hist_path = os.path.join(self.path, "history")
        if self._log_rows(nt).isEmpty():
            return
        cur = self.read(nt.name, include_deleted=True)
        keep = nt.keep_revisions
        if keep is None or keep > 0:
            w = Window.partitionBy("id").orderBy(F.desc("commit_epoch"),
                                                F.desc("revision"))
            old = (self.history(nt.name)
                   .withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") > 1))
            if keep is not None:
                old = old.filter(F.col("__rn") <= keep + 1)
            (old.drop("__rn").write.mode("append")
             .parquet(os.path.join(hist_path, f"{nt.kind}_{nt.name}")))
        tmp = self._base_path(nt) + ".compacting"
        cur.write.mode("overwrite").parquet(tmp)
        final = self._base_path(nt)
        # rename-aside swap (never rmtree-then-rename a live store —
        # the ADVICE r6 rule): a crash between any two steps leaves
        # old or new base intact; and with the log still present,
        # merge-on-read over either base is identical (the per-id
        # window re-derives the same latest rows), so the swap is
        # crash-idempotent end to end
        old = final + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(final):
            os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old, ignore_errors=True)

    # -- prolog-side mutation (retract) ---------------------------------------

    def retract_node(self, type_name: str, node_id: str) -> int:
        """``retract``/1 (prolog-functors.lisp:859-877): delete one node."""
        tx = self.begin().mark_deleted(type_name, [node_id])
        return self.commit(tx)

    def retract_edges(self, edge_type: str, src: str | None = None,
                      dst: str | None = None) -> int:
        """``retract``/3 (prolog-functors.lisp:879-913): delete matching
        active edges of a type."""
        df = self.read(edge_type)
        if src is not None:
            df = df.filter(F.col("src") == src)
        if dst is not None:
            df = df.filter(F.col("dst") == dst)
        tx = self.begin().mark_deleted(edge_type, df.select("id"))
        return self.commit(tx)


def revision_diff(log: DataFrame, epoch_a: int, epoch_b: int, *,
                  id_cols: tuple = ("kind", "type", "id")) -> DataFrame:
    """Time-travel diff straight off the txn log: which entities were
    added / removed / updated between the committed states AS OF
    ``epoch_a`` and AS OF ``epoch_b`` (a <= b) — the "what changed since
    the last snapshot" question replication, cache invalidation, and
    incremental-export consumers ask (visibility rule of
    transactions.lisp:444-462: latest op at commit_epoch <= E wins, a
    winning delete hides the id).

    Two bounded window passes over the SAME id-partitioned shuffle (the
    log is filtered to epoch <= b once; the as-of-a state is the same
    window with the epoch predicate pushed into the ranking), then one
    full outer join on the id. Returns (*id_cols, change, rev_a, rev_b)
    with change in added|removed|updated; unchanged ids are dropped."""
    def state(epoch: int) -> DataFrame:
        w = Window.partitionBy(*[F.col(c) for c in id_cols]) \
                  .orderBy(F.col("commit_epoch").desc())
        return (log.filter(F.col("commit_epoch") <= epoch)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .filter(F.col("op") != "delete")
                .select(*id_cols,
                        F.col("commit_epoch").alias("rev")))

    a = state(epoch_a).withColumnRenamed("rev", "rev_a")
    b = state(epoch_b).withColumnRenamed("rev", "rev_b")
    j = a.join(b, list(id_cols), "full_outer")
    change = (F.when(F.col("rev_a").isNull(), "added")
              .when(F.col("rev_b").isNull(), "removed")
              .when(F.col("rev_b") > F.col("rev_a"), "updated"))
    return (j.withColumn("change", change)
            .filter(F.col("change").isNotNull())
            .select(*id_cols, "change", "rev_a", "rev_b"))

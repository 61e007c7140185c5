"""Spans recorded from outside the package, for the traced run.

:meth:`Tracer.install` wraps public functions and methods of the package at
run time (and every module-level alias of them, since callers often bind
``from ... import select``). Each call records a span: name, layer, start,
end, parent span, op id and thread. Spans stay in memory until
:meth:`Tracer.dump`; :meth:`Tracer.layer_self_times` reduces them to self
time per layer (a span's duration minus the time its child spans cover).

REST handlers run on server threads. A span that opens on a thread with no
open span takes the current op's root span as its parent, which is right
because the client keeps one request in flight.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PKG = "vivace_graph_v3_spark"

# (module, attribute or Class.method, layer[, span-namer])
TARGETS = [
    ("graph", "load_tpch_graph", "graph"),
    ("graph", "GraphStore.lookup_vertex", "graph"),
    ("query.builder", "Select.to_df", "query.builder"),
    ("query.pattern", "compile_pattern_query", "query.pattern"),
    ("query.pattern", "run_query", "query.pattern"),
    ("query.rules", "RuleEvaluator.relation", "query.rules"),
    ("views", "View.cursor", "views"),
    ("operators.spatial", "with_geohash", "operators.spatial"),
    ("operators.spatial", "find_nodes_near", "operators.spatial"),
    ("operators.traverse", "traverse", "operators.traverse"),
    ("operators.graph_algorithms", "pagerank", "operators.graph_algorithms"),
    ("operators.graph_algorithms", "hits", "operators.graph_algorithms"),
    ("pipeline.dedup", "minhash_dedup_pairs", "pipeline.dedup"),
    ("mvcc", "VersionedGraph.init_from_store", "mvcc"),
    ("mvcc", "VersionedGraph.commit", "mvcc"),
    ("mvcc", "VersionedGraph.read", "mvcc"),
    ("mvcc", "VersionedGraph.current_epoch", "mvcc"),
    ("mvcc", "VersionedGraph.compact", "mvcc"),
]


def _commit_name(args, kwargs) -> str:
    """``mvcc.commit_<op>`` from the transaction's first write-set entry."""
    tx = args[1] if len(args) > 1 else kwargs.get("tx")
    ops = getattr(tx, "ops", None) or [("empty",)]
    return f"mvcc.commit_{ops[0][0]}"


NAMERS = {"VersionedGraph.commit": _commit_name}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None
    thread: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None
        self._op_root: int | None = None
        self._undo: list = []

    # -- recording ----------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._op_root
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, layer, start, end, parent,
                                       self._op, threading.current_thread().name))

    @contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one benchmark op; spans opened on other threads
        while it is open attach to it."""
        self._op = op_id
        with self.span(name, "op") as sid:
            self._op_root = sid
            try:
                yield sid
            finally:
                self._op_root = None
                self._op = None

    def wrap(self, fn, name: str, layer: str, namer=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(namer(args, kwargs) if namer else name, layer):
                return fn(*args, **kwargs)
        traced.__wrapped_by_tracer__ = True
        return traced

    # -- installation -------------------------------------------------------

    def install(self, targets=TARGETS) -> None:
        """Wrap every target; :meth:`uninstall` restores the originals."""
        for mod_name, attr, layer in targets:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
            else:
                owner, meth = mod, attr
            orig = owner.__dict__[meth]
            name = f"{mod_name}.{meth}"
            wrapped = self.wrap(orig, name, layer, NAMERS.get(attr))
            setattr(owner, meth, wrapped)
            self._undo.append((owner, meth, orig))
            if owner is mod:
                # module-level aliases: ``from x import f`` elsewhere
                for other in list(sys.modules.values()):
                    if (other is not mod and getattr(other, "__name__", "")
                            .startswith(PKG)
                            and other.__dict__.get(meth) is orig):
                        setattr(other, meth, wrapped)
                        self._undo.append((other, meth, orig))

    def uninstall(self) -> None:
        for owner, meth, orig in reversed(self._undo):
            setattr(owner, meth, orig)
        self._undo.clear()

    # -- reduction ----------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time covered by its children."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        return {s.sid: max(0.0, (s.end - s.start) - child_time.get(s.sid, 0.0))
                for s in self.spans}

    def layer_self_times(self) -> dict[str, float]:
        """layer -> summed self time over all spans."""
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + st[s.sid]
        return out

    def by_name(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.name, []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

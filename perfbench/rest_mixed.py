"""``rest_mixed``: one HTTP client against ``rest.RestServer`` over an
``mvcc.VersionedGraph``.

The graph holds the customer and nation vertices and the in_nation edges of
the TPC-H projection. A pass (one compaction cycle) sends eight requests,
one of each kind, reads and writes alternating: four reads (GET vertex,
POST /query pattern, POST /query/<name>, GET vertex/edges) and four writes
(POST vertex, PUT, POST edge, DELETE), then runs
``VersionedGraph.compact()``. Parameters are drawn from the seed when a
request is due; keys favour recently written vertices. A client-side model of the graph, built from the
generated inputs and every acknowledged write, checks each response; after
the loop a fresh ``VersionedGraph`` opened on the same path (a restart)
must show every acknowledged write.
"""

from __future__ import annotations

import collections
import json
import os
import time
import urllib.error
import urllib.request

import numpy as np
import pyarrow.parquet as pq

from datagen import SEGMENTS

READS = ["get_vertex", "pattern_query", "named_query", "get_edges"]
WRITES = ["create_vertex", "update_vertex", "create_edge", "delete_vertex"]
# one pass, reads and writes interleaved; a fixed order puts the first-run
# costs on the same request kind in every run
PASS = [k for pair in zip(READS, WRITES) for k in pair]
RECENT_SHARE = 0.7
RECENT_KEEP = 8
NAMED_QUERY = "customers_by_segment"


def registry():
    from vivace_graph_v3_spark.graph import build_tpch_registry
    from vivace_graph_v3_spark.schema import SchemaRegistry

    full = build_tpch_registry()
    reg = SchemaRegistry()
    # customer first: the REST layer resolves an id's type in registry order
    for t in ("customer", "nation"):
        reg.def_vertex(t, dict(full.get(t).slots))
    reg.def_edge("in_nation")
    return reg


class Model:
    """What the graph must hold: the generated rows plus every
    acknowledged write."""

    def __init__(self, data_dir: str) -> None:
        cust = pq.read_table(os.path.join(data_dir, "customer.parquet")).to_pylist()
        self.customers = {
            f"customer:{r['c_custkey']}": dict(r, deleted=False, revision=0)
            for r in cust}
        self.edges = {f"in_nation:{r['c_custkey']}":
                      {"src": f"customer:{r['c_custkey']}",
                       "dst": f"nation:{r['c_nationkey']}", "deleted": False}
                      for r in cust}
        self.next_key = max(r["c_custkey"] for r in cust) + 1

    def live(self) -> list[str]:
        return [k for k, v in self.customers.items() if not v["deleted"]]

    def out_edges(self, cid: str) -> set[str]:
        return {e for e, v in self.edges.items() if v["src"] == cid and not v["deleted"]}

    def matching(self, segment: str, min_bal: float) -> set[str]:
        return {k for k, v in self.customers.items() if not v["deleted"]
                and v["c_mktsegment"] == segment and v["c_acctbal"] > min_bal}


def _state(row: dict) -> tuple:
    """What a read must show of a vertex: its deleted flag and revision,
    and for a live vertex the current balance (a deleted one is only
    required to be gone)."""
    return (row.get("deleted"), row.get("revision"),
            None if row.get("deleted") else row.get("c_acctbal"))


class RestMixed:
    name = "rest_mixed"
    sf = 0.001
    WRITES = WRITES
    failed_keys: frozenset = frozenset()  # responses are checked one by one

    def __init__(self, seed: int, data_dir: str, work_dir: str) -> None:
        self.data_dir = data_dir
        self.path = os.path.join(work_dir, "vg")
        self.rng = np.random.default_rng([seed, 3])
        self.model = Model(data_dir)
        self.recent: collections.deque = collections.deque(maxlen=RECENT_KEEP)
        self.vg = None
        self.server = None
        self.counts = collections.Counter()
        self.last_log: tuple[int, int] = (0, 0)   # (files, bytes) before compaction

    # -- set-up -------------------------------------------------------------

    def load(self, spark) -> dict:
        from vivace_graph_v3_spark import graph, mvcc
        from vivace_graph_v3_spark.query.pattern import def_query
        from vivace_graph_v3_spark.rest import RestServer

        self.spark = spark
        t0 = time.perf_counter()
        full = graph.load_tpch_graph(spark, self.data_dir)
        reg = registry()
        proj = graph.GraphStore(spark, reg, name="rest", has_tombstones=False)
        for t in ("nation", "customer"):
            proj.add_vertices(t, full.scan_vertices(t))
        proj.add_edges("in_nation", full.scan_edges("in_nation"))
        t1 = time.perf_counter()
        self.vg = mvcc.VersionedGraph(spark, reg, self.path, name="bench")
        self.vg.init_from_store(proj)
        def_query(NAMED_QUERY, vars=["?c"], goals=[
            ("is-a", "?c", "customer"), ("slot", "?c", "c_mktsegment", "?s"),
            ("param", "?want", "segment"), ("=", "?s", "?want"),
            ("slot", "?c", "c_acctbal", "?b"), ("param", "?min", "min_bal"),
            (">", "?b", "?min")], params={"segment": "string", "min_bal": "float"})
        self.server = RestServer({"bench": self.vg}).start()
        self.base = f"{self.server.address}/graph/bench"
        t2 = time.perf_counter()
        return {"graph.load_s": t1 - t0, "mvcc.init_s": t2 - t1}

    def warmup_ops(self) -> list[str]:
        """None: the timed pass starts on a freshly started server."""
        return []

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server = None

    # -- op generation ------------------------------------------------------

    def _pick(self, live_only: bool = True) -> str:
        pool = [k for k in self.recent if not self.model.customers[k]["deleted"]]
        if pool and self.rng.random() < RECENT_SHARE:
            return pool[int(self.rng.integers(0, len(pool)))]
        ids = self.model.live() if live_only else list(self.model.customers)
        return ids[int(self.rng.integers(0, len(ids)))]

    def _params(self, kind: str) -> dict:
        r = self.rng
        if kind in ("get_vertex", "get_edges", "update_vertex", "delete_vertex"):
            p = {"id": self._pick(live_only=kind != "get_vertex")}
            if kind == "update_vertex":
                p["c_acctbal"] = round(float(r.uniform(-999.99, 9999.99)), 2)
            return p
        if kind in ("pattern_query", "named_query"):
            return {"segment": SEGMENTS[int(r.integers(0, 5))],
                    "min_bal": float(r.choice([5000.0, 7000.0, 9000.0]))}
        if kind == "create_vertex":
            k = self.model.next_key
            self.model.next_key += 1
            return {"id": f"customer:{k}", "c_custkey": k, "c_name": f"Customer#{k:09d}",
                    "c_nationkey": int(r.integers(0, 25)),
                    "c_acctbal": round(float(r.uniform(-999.99, 9999.99)), 2),
                    "c_mktsegment": SEGMENTS[int(r.integers(0, 5))]}
        if kind == "create_edge":
            return {"id": f"in_nation:e{self.model.next_key}-{int(r.integers(0, 1 << 30))}",
                    "from": self._pick(), "to": f"nation:{int(r.integers(0, 25))}"}
        raise ValueError(kind)

    def next_pass(self) -> list[str]:
        return list(PASS)

    def materialize(self, kind: str) -> tuple[str, dict]:
        """Parameters are drawn when the op is due, from the model's state
        after every earlier write."""
        return kind, self._params(kind)

    # -- requests -----------------------------------------------------------

    def request(self, op: tuple[str, dict]) -> tuple[float, int, object]:
        kind, p = op
        if kind == "get_vertex":
            method, path, body = "GET", f"/vertex/{p['id']}", None
        elif kind == "get_edges":
            method, path, body = "GET", f"/vertex/{p['id']}/edges", None
        elif kind == "pattern_query":
            method, path, body = "POST", "/query", {
                "match": [{"vertex": "?c", "type": "customer"}],
                "where": [{"slot": ["?c", "c_mktsegment"], "op": "=",
                           "value": p["segment"]},
                          {"slot": ["?c", "c_acctbal"], "op": ">", "value": p["min_bal"]}],
                "select": ["?c"]}
        elif kind == "named_query":
            method, path, body = "POST", f"/query/{NAMED_QUERY}", p
        elif kind == "create_vertex":
            method, path, body = "POST", "/vertex/customer", p
        elif kind == "create_edge":
            method, path, body = "POST", "/edge/in_nation", p
        elif kind == "update_vertex":
            method, path, body = "PUT", f"/vertex/{p['id']}", {"c_acctbal": p["c_acctbal"]}
        elif kind == "delete_vertex":
            method, path, body = "DELETE", f"/vertex/{p['id']}", None
        else:
            raise ValueError(kind)
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(self.base + path, data=data, method=method,
                                     headers={"Content-Type": "application/json"})
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                status, payload = resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            status, payload = e.code, e.read().decode(errors="replace")
        return time.perf_counter() - t0, status, payload

    def log_state(self) -> tuple[int, int]:
        names = [f for f in os.listdir(self.vg.log_path) if f.endswith(".parquet")]
        return len(names), sum(os.path.getsize(os.path.join(self.vg.log_path, f))
                               for f in names)

    def verify(self, op: tuple[str, dict], status: int, payload) -> str | None:
        """Check a response against the model and apply an acknowledged
        write to it. Returns a failure message or None."""
        kind, p = op
        self.counts[kind] += 1
        if status != 200:
            return f"{kind} {p.get('id', '')}: HTTP {status}: {str(payload)[:200]}"
        m = self.model
        if kind == "get_vertex":
            if _state(payload) != _state(m.customers[p["id"]]):
                return f"get_vertex {p['id']}: got {_state(payload)}"
        elif kind == "get_edges":
            got = {e["id"] for e in payload["out"]}
            if got != m.out_edges(p["id"]) or payload["in"]:
                return f"get_edges {p['id']}: got {sorted(got)}"
        elif kind in ("pattern_query", "named_query"):
            got = {r["c"] for r in payload}
            if got != m.matching(p["segment"], p["min_bal"]):
                return f"{kind} {p}: {len(got)} rows differ from the model"
        elif kind == "create_vertex":
            slots = {k: v for k, v in p.items() if k != "id"}
            m.customers[p["id"]] = dict(slots, deleted=False, revision=0)
            self.recent.append(p["id"])
            if payload.get("c_acctbal") != p["c_acctbal"] or payload.get("revision") != 0:
                return f"create_vertex {p['id']}: got {payload}"
        elif kind == "create_edge":
            m.edges[p["id"]] = {"src": p["from"], "dst": p["to"], "deleted": False}
            if (payload.get("src"), payload.get("dst")) != (p["from"], p["to"]):
                return f"create_edge {p['id']}: got {payload}"
        elif kind == "update_vertex":
            c = m.customers[p["id"]]
            c["c_acctbal"] = p["c_acctbal"]
            c["revision"] += 1
            self.recent.append(p["id"])
            if (payload.get("c_acctbal"), payload.get("revision")) != (
                    c["c_acctbal"], c["revision"]):
                return f"update_vertex {p['id']}: got {payload}"
        elif kind == "delete_vertex":
            c = m.customers[p["id"]]
            c["deleted"] = True
            c["revision"] += 1
            if payload != {"deleted": p["id"], "type": "customer"}:
                return f"delete_vertex {p['id']}: got {payload}"
        return None

    def end_pass(self) -> None:
        """Compact the log at the end of each pass."""
        self.last_log = self.log_state()
        self.vg.compact()

    # -- after the loop -------------------------------------------------------

    def check(self, con=None) -> tuple[int, list[str]]:
        """Restart check: a fresh VersionedGraph on the same path must
        hold every acknowledged write."""
        from vivace_graph_v3_spark import mvcc

        self.close()
        fresh = mvcc.VersionedGraph(self.spark, registry(), self.path, name="bench")
        cust = {r["id"]: r for r in fresh.read("customer", include_deleted=True)
                .select("id", "deleted", "revision", "c_acctbal").collect()}
        edges = {r["id"]: r for r in fresh.read("in_nation", include_deleted=True)
                 .select("id", "src", "dst", "deleted").collect()}
        failures = []
        for cid, want in self.model.customers.items():
            got = cust.get(cid)
            if got is None or _state(got.asDict()) != _state(want):
                failures.append(f"after restart {cid}: {got} != {_state(want)}")
        for eid, want in self.model.edges.items():
            got = edges.get(eid)
            if got is None or (got["src"], got["dst"], got["deleted"]) != (
                    want["src"], want["dst"], want["deleted"]):
                failures.append(f"after restart {eid}: {got} != {want}")
        if len(cust) != len(self.model.customers) or len(edges) != len(self.model.edges):
            failures.append("after restart: the store holds rows the model does not")
        return len(self.model.customers) + len(self.model.edges), failures

    def input_props(self) -> dict:
        n = sum(self.counts.values())
        reads = sum(self.counts[k] for k in READS)
        files, size = self.last_log
        return {"requests": n, "read_share": reads / n if n else 0.0,
                "write_share": (n - reads) / n if n else 0.0,
                "recent_key_share": RECENT_SHARE,
                "final_log_files": files, "final_log_bytes": size,
                "by_kind": dict(self.counts)}

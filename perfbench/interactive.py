"""``interactive_select``: short read queries over the TPC-H graph.

A pass runs one op of each of eight templates. Each template's parameters
are drawn Zipf-skewed from a small fixed domain, so a known share of ops
repeat exactly an op the session already ran. Every template has a DuckDB twin; each
distinct (template, params) the timed loop runs is collected once, outside
the op's timing, and compared with its twin after the loop.
"""

from __future__ import annotations

import importlib
import json

import numpy as np


CLAT, CLON = 49.2020, 37.1724
ZIPF_S = 1.2

_GEO_SQL = (f"SELECT 'customer:'||c_custkey AS id, "
            f"{CLAT} + (c_custkey % 100 - 50) / 100.0 AS lat, "
            f"{CLON} + ((c_custkey * 7) % 100 - 50) / 100.0 AS lon FROM customer")


def _hav_sql(lat: float, lon: float) -> str:
    return (f"2 * 6371000.0 * asin(sqrt(pow(sin(radians(lat - {lat}) / 2), 2) "
            f"+ cos(radians({lat})) * cos(radians(lat)) "
            f"* pow(sin(radians(lon - {lon}) / 2), 2)))")


def domains(n_customers: int) -> dict[str, list[tuple]]:
    """Parameter domain of each template, hottest value first. Domains are
    small so that a run of a few passes repeats ops exactly."""
    return {
        "select_slot_filter": [("BUILDING", 8000), ("MACHINERY", 6000),
                               ("AUTOMOBILE", 4000), ("FURNITURE", 2000)],
        "select_2hop": [(r,) for r in range(5)],
        "select_findall": [(n,) for n in (3, 11, 17, 23)],
        "pattern_query": [("BUILDING", "MACHINERY", 8000), ("AUTOMOBILE", "HOUSEHOLD", 9000),
                          ("FURNITURE", "BUILDING", 7000), ("HOUSEHOLD", "MACHINERY", 8500)],
        "view_page": [("AUTOMOBILE", "FURNITURE", 10), ("BUILDING", "HOUSEHOLD", 0),
                      ("FURNITURE", "MACHINERY", 20), ("AUTOMOBILE", "BUILDING", 5)],
        "lookup_vertex": [(k % n_customers,) for k in (42, 7, 1234, 99, 512, 800)],
        "traverse_2": [(n,) for n in (5, 12, 19, 2)],
        "spatial_near": [(0.0, 0.0, 20_000.0), (0.2, -0.1, 30_000.0),
                         (-0.25, 0.15, 25_000.0), (0.1, 0.3, 40_000.0)],
    }


TEMPLATES = list(domains(1))


class OpGenerator:
    """Seeded op stream: passes of one op per template, in a fixed order
    (so first-run costs land on the same template in every run), each
    with Zipf-drawn parameters."""

    def __init__(self, seed: int, n_customers: int) -> None:
        self.rng = np.random.default_rng([seed, 1])
        self.domains = domains(n_customers)
        self.weights = {}
        for t, dom in self.domains.items():
            w = 1.0 / np.arange(1, len(dom) + 1) ** ZIPF_S
            self.weights[t] = w / w.sum()

    def next_pass(self) -> list[tuple[str, tuple]]:
        return [(t, self.domains[t][int(self.rng.choice(len(self.domains[t]),
                                                         p=self.weights[t]))])
                for t in TEMPLATES]


class Interactive:
    name = "interactive_select"
    sf = 0.01

    def __init__(self, seed: int, data_dir: str, n_customers: int) -> None:
        self.data_dir = data_dir
        self.gen = OpGenerator(seed, n_customers)
        self.graph = None
        self.seen: dict[tuple, object] = {}   # (template, params) -> result pdf
        self.ran: set[tuple] = set()           # every op this session ran
        self.n_ops = 0
        self.n_repeats = 0
        self.failed_keys: set = set()

    # -- set-up -------------------------------------------------------------

    def load(self, spark) -> dict:
        import time

        from vivace_graph_v3_spark import graph, views
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        self.graph = graph.load_tpch_graph(spark, self.data_dir)
        views.def_view("customer", "by_segment",
                       lambda df: df.select("id", F.col("c_mktsegment").alias("key"),
                                            F.col("c_name").alias("value")))
        return {"graph.load_s": time.perf_counter() - t0}

    def warmup_ops(self) -> list[tuple[str, tuple]]:
        """Each template once, at its hottest parameters."""
        ops = [(t, self.gen.domains[t][0]) for t in TEMPLATES]
        self.ran.update(ops)
        return ops

    # -- ops ----------------------------------------------------------------

    def build(self, op: tuple[str, tuple]):
        from pyspark.sql import functions as F

        # modules, not the same-named functions the packages re-export;
        # calls go through module attributes so the tracer's wrappers apply
        builder, pattern, spatial, traverse, views = (
            importlib.import_module(f"vivace_graph_v3_spark.{m}") for m in (
                "query.builder", "query.pattern", "operators.spatial",
                "operators.traverse", "views"))
        t, p = op
        g = self.graph
        if t == "select_slot_filter":
            seg, bal = p
            return builder.select(g, ["?c", "?b"], [
                ("is-a", "?c", "customer"), ("slot", "?c", "c_mktsegment", seg),
                ("slot", "?c", "c_acctbal", "?b"), (">", "?b", float(bal))])
        if t == "select_2hop":
            return builder.select(g, ["?c", "?nn"], [
                ("is-a", "?c", "customer"), ("in_nation", "?c", "?n"),
                ("in_region", "?n", f"region:{p[0]}"),
                ("slot", "?n", "n_name", "?nn")])
        if t == "select_findall":
            df = builder.select(g, ["?c", "?keys"], [
                ("is-a", "?c", "customer"), ("slot", "?c", "c_nationkey", p[0]),
                ("findall", "?k", [("placed", "?c", "?o"),
                                   ("slot", "?o", "o_orderkey", "?k")], "?keys")])
            return df.select("c", F.array_sort("keys").alias("keys"))
        if t == "pattern_query":
            a, b, bal = p
            spec = {
                "match": [{"vertex": "?c", "type": "customer"}],
                "where": [
                    {"slot": ["?c", "c_mktsegment"], "var": "?seg"},
                    {"var": "?seg", "op": "in", "value": [a, b]},
                    {"slot": ["?c", "c_acctbal"], "var": "?bal"},
                    {"var": "?bal", "op": ">", "value": bal},
                ],
                "select": [{"slot": ["?c", "c_name"], "as": "?c_name"}, "?seg", "?bal"],
                "limit": 10_000_000,
            }
            return pattern.compile_pattern_query(g, spec)
        if t == "view_page":
            a, b, skip = p
            return views.invoke_graph_view(g, "customer", "by_segment", start_key=a,
                                           end_key=b, skip=skip, count=25)
        if t == "lookup_vertex":
            return g.lookup_vertex(f"customer:{p[0]}").select("id", "c_name", "c_acctbal")
        if t == "traverse_2":
            return traverse.traverse(g, [f"nation:{p[0]}"], direction="in",
                                     max_depth=2).select("id", "depth")
        if t == "spatial_near":
            dlat, dlon, radius = p
            geo = (g.scan_vertices("customer", columns=["id", "c_custkey"])
                   .withColumn("lat", F.lit(CLAT) + (F.col("c_custkey") % 100 - 50) / 100.0)
                   .withColumn("lon", F.lit(CLON)
                               + ((F.col("c_custkey") * 7) % 100 - 50) / 100.0))
            geo = spatial.with_geohash(geo, precision=6)
            return spatial.find_nodes_near(geo, CLAT + dlat, CLON + dlon,
                                           radius).select("id")
        raise ValueError(f"unknown template {t!r}")

    @staticmethod
    def twin_sql(op: tuple[str, tuple]) -> str:
        t, p = op
        if t == "select_slot_filter":
            return (f"SELECT 'customer:'||c_custkey AS c, c_acctbal AS b FROM customer "
                    f"WHERE c_mktsegment = '{p[0]}' AND c_acctbal > {float(p[1])}")
        if t == "select_2hop":
            return ("SELECT 'customer:'||c_custkey AS c, n_name AS nn FROM customer "
                    "JOIN nation ON c_nationkey = n_nationkey "
                    f"WHERE n_regionkey = {p[0]}")
        if t == "select_findall":
            return ("SELECT 'customer:'||c_custkey AS c, "
                    "list(o_orderkey ORDER BY o_orderkey) "
                    "FILTER (WHERE o_orderkey IS NOT NULL) AS keys "
                    "FROM customer LEFT JOIN orders ON o_custkey = c_custkey "
                    f"WHERE c_nationkey = {p[0]} GROUP BY c_custkey")
        if t == "pattern_query":
            a, b, bal = p
            return ("SELECT c_name, c_mktsegment AS seg, c_acctbal AS bal FROM customer "
                    f"WHERE c_mktsegment IN ('{a}', '{b}') AND c_acctbal > {bal}")
        if t == "view_page":
            a, b, skip = p
            return ("SELECT 'customer:'||c_custkey AS id, c_mktsegment AS key, "
                    "c_name AS value FROM customer "
                    f"WHERE c_mktsegment BETWEEN '{a}' AND '{b}' "
                    f"ORDER BY key, id LIMIT 25 OFFSET {skip}")
        if t == "lookup_vertex":
            return ("SELECT 'customer:'||c_custkey AS id, c_name, c_acctbal "
                    f"FROM customer WHERE c_custkey = {p[0]}")
        if t == "traverse_2":
            n = p[0]
            return (f"SELECT 'nation:{n}' AS id, 0 AS depth "
                    f"UNION ALL SELECT 'customer:'||c_custkey, 1 FROM customer "
                    f"WHERE c_nationkey = {n} "
                    f"UNION ALL SELECT 'supplier:'||s_suppkey, 1 FROM supplier "
                    f"WHERE s_nationkey = {n} "
                    f"UNION ALL SELECT DISTINCT 'orders:'||l_orderkey, 2 FROM lineitem "
                    f"JOIN supplier ON l_suppkey = s_suppkey WHERE s_nationkey = {n}")
        if t == "spatial_near":
            dlat, dlon, radius = p
            return (f"SELECT id FROM ({_GEO_SQL}) "
                    f"WHERE {_hav_sql(CLAT + dlat, CLON + dlon)} <= {radius}")
        raise ValueError(f"unknown template {t!r}")

    # -- loop hooks -----------------------------------------------------------

    def next_pass(self) -> list[tuple[str, tuple]]:
        return self.gen.next_pass()

    def after_op(self, op, df) -> None:
        """Collect the first result of each distinct op for the check
        (runs outside the op's timing)."""
        self.n_ops += 1
        self.n_repeats += op in self.ran
        self.ran.add(op)
        if op not in self.seen:
            self.seen[op] = df.toPandas()

    def check(self, con) -> tuple[int, list[str]]:
        from check_contract import canon_pdf

        failures = []
        for op, got in self.seen.items():
            want = con.execute(self.twin_sql(op)).fetchdf()
            if op[0] == "select_findall":
                got, want = _keys_to_json(got), _keys_to_json(want)
            if canon_pdf(got) != canon_pdf(want):
                self.failed_keys.add(op)
                failures.append(f"{op[0]}{op[1]}: result differs from its DuckDB twin")
        return len(self.seen), failures

    def input_props(self) -> dict:
        """``repeat_share``: timed ops that exactly repeat an op this
        session already ran (warm-up ops included)."""
        return {"ops": self.n_ops, "distinct_ops": len(self.seen),
                "repeat_share": self.n_repeats / self.n_ops if self.n_ops else 0.0,
                "zipf_s": ZIPF_S}


def _keys_to_json(pdf):
    """findall's list cell -> canonical JSON text. A customer without
    orders has an empty list in Spark and a NULL (None or NaN in pandas)
    in the DuckDB twin; both become []."""
    pdf = pdf.copy()
    pdf["keys"] = pdf["keys"].map(
        lambda v: json.dumps(sorted(int(x) for x in v)
                             if isinstance(v, (list, tuple, np.ndarray)) else []))
    return pdf

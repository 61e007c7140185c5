"""``batch_analytics``: iterative analytics registry entries.

A pass runs a fixed list of registry entries. The first timed run of each
entry is collected (outside its timing) and compared with the entry's
DuckDB oracle from ``oracle_sql()``. ``graph_pagerank`` runs at
PAGERANK_ROUNDS fixed rounds instead of the registry's 10, against the
registry's own unrolled oracle at the same round count, so a pass fits the
benchmark's time budget.
"""

from __future__ import annotations

# entry -> the iteration count its inputs fix (max_iter / max_depth), for
# the per-iteration layer metrics; None where convergence decides
PAGERANK_ROUNDS = 3
ENTRIES = {
    "graph_pagerank": PAGERANK_ROUNDS,
    "graph_hits": 3,
    "rule_transitive_closure": None,
    "traverse_bfs": 2,
    "dedup_minhash_lsh": None,
}


class Batch:
    name = "batch_analytics"
    sf = 0.001

    def __init__(self, seed: int, data_dir: str) -> None:
        self.data_dir = data_dir
        self.seen: dict[str, object] = {}   # entry -> collected result
        self.n_ops = 0
        self.failed_keys: set = set()

    def _registry(self):
        import __spark_entry__

        return __spark_entry__.queries(), __spark_entry__.oracle_sql()

    def load(self, spark) -> dict:
        import time

        from vivace_graph_v3_spark import graph

        t0 = time.perf_counter()
        self.spark = spark
        graph.load_tpch_graph(spark, self.data_dir)
        return {"graph.load_s": time.perf_counter() - t0}

    def warmup_ops(self) -> list[str]:
        """None: a batch job runs once per process, so the timed pass
        carries the first-run costs, the same in every run."""
        return []

    def build(self, op: str):
        if op == "graph_pagerank":
            return self._pagerank()
        return self._registry()[0][op](self.spark, self.data_dir)

    def _pagerank(self):
        """``q_graph_pagerank`` at PAGERANK_ROUNDS rounds."""
        import importlib

        from pyspark.sql import functions as F

        from vivace_graph_v3_spark import graph

        ga = importlib.import_module("vivace_graph_v3_spark.operators.graph_algorithms")
        g = graph.load_tpch_graph(self.spark, self.data_dir)
        pr = ga.pagerank(g, max_iter=PAGERANK_ROUNDS, tol=None)
        return (pr.select("id", F.round("rank", 4).alias("rank"))
                .orderBy(F.desc("rank"), "id").limit(50))

    def _oracle(self, op: str) -> str:
        if op == "graph_pagerank":
            from vivace_graph_v3_spark import entry_queries

            return entry_queries._pagerank_oracle_sql(rounds=PAGERANK_ROUNDS)
        return self._registry()[1][op]

    def next_pass(self) -> list[str]:
        return list(ENTRIES)

    def after_op(self, op, df) -> None:
        """Collect each entry's first result for the oracle check."""
        self.n_ops += 1
        if op not in self.seen:
            self.seen[op] = df.toPandas()

    def check(self, con) -> tuple[int, list[str]]:
        from check_contract import canon_pdf

        failures = []
        for op, got in self.seen.items():
            want = con.execute(self._oracle(op)).fetchdf()
            if canon_pdf(got) != canon_pdf(want):
                self.failed_keys.add(op)
                failures.append(f"{op}: result differs from its oracle_sql()")
        return len(self.seen), failures

    def input_props(self) -> dict:
        return {"ops": self.n_ops, "entries": list(ENTRIES),
                "iterations": {k: v for k, v in ENTRIES.items() if v}}

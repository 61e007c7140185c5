"""Per-layer metrics of the traced window.

Every workload reports every metric below; a layer the workload does not
exercise reports 0. Times named ``*_build_s`` or ``*.build_s`` are the
layer's self time per op (span duration minus child spans), so they add up
with ``spark.exec_s`` and the benchmark's own glue to the mean op latency.
Times named after one call (``pagerank_s``, ``commit_insert_s``, ...) are
mean inclusive durations of that call. Per-iteration values divide by the
iteration count the inputs fix.
"""

from __future__ import annotations

from batch import ENTRIES
from common import kind_median

UNITS = {
    # set-up
    "session.start_s": "s", "graph.load_s": "s", "mvcc.init_s": "s", "warmup_s": "s",
    # build self time per op
    "query.builder.build_s": "s", "query.pattern.build_s": "s", "views.build_s": "s",
    "graph.lookup_build_s": "s", "operators.spatial.build_s": "s",
    "operators.traverse.build_s": "s",
    # Spark, per op
    "spark.exec_s": "s", "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.shuffle_bytes_per_op": "B",
    "spark.spill_bytes_per_op": "B", "spark.cached_bytes_after_op": "B",
    "spark.jobs_per_iter": "count",
    # iterative operators
    "operators.graph_algorithms.pagerank_s": "s",
    "operators.graph_algorithms.pagerank_s_per_iter": "s",
    "operators.graph_algorithms.hits_s": "s",
    "operators.graph_algorithms.hits_s_per_iter": "s",
    "query.rules.closure_s": "s", "operators.traverse.bfs_s_per_level": "s",
    "pipeline.dedup.minhash_lsh_s": "s",
    # MVCC and REST
    "mvcc.commit_insert_s": "s", "mvcc.commit_update_s": "s",
    "mvcc.commit_delete_s": "s", "mvcc.current_epoch_s": "s", "mvcc.compact_s": "s",
    "mvcc.read_s": "s", "mvcc.log_files": "count", "mvcc.log_bytes": "B",
    "mvcc.log_files_per_commit": "count",
    "rest.overhead_s": "s", "rest.jobs_per_request": "count",
    # tracing overhead: traced minus untraced median op latency
    "trace.overhead_p50_s": "s", "trace.overhead_share": "ratio",
}

# build metric -> span names whose self time it sums
BUILD_SPANS = {
    "query.builder.build_s": ["query.builder.to_df"],
    "query.pattern.build_s": ["query.pattern.compile_pattern_query",
                              "query.pattern.run_query"],
    "views.build_s": ["views.cursor"],
    "graph.lookup_build_s": ["graph.lookup_vertex"],
    "operators.spatial.build_s": ["operators.spatial.with_geohash",
                                  "operators.spatial.find_nodes_near"],
    "operators.traverse.build_s": ["operators.traverse.traverse"],
}
# mean inclusive call duration -> (span name, iterations for the per-iter twin)
CALLS = {
    "operators.graph_algorithms.pagerank_s": ("operators.graph_algorithms.pagerank",
                                              ENTRIES["graph_pagerank"]),
    "operators.graph_algorithms.hits_s": ("operators.graph_algorithms.hits",
                                          ENTRIES["graph_hits"]),
    "pipeline.dedup.minhash_lsh_s": ("pipeline.dedup.minhash_dedup_pairs", None),
    "mvcc.commit_insert_s": ("mvcc.commit_insert", None),
    "mvcc.commit_update_s": ("mvcc.commit_update", None),
    "mvcc.commit_delete_s": ("mvcc.commit_delete", None),
    "mvcc.current_epoch_s": ("mvcc.current_epoch", None),
    "mvcc.compact_s": ("mvcc.compact", None),
    "mvcc.read_s": ("mvcc.read", None),
}
TRAVERSE_DEPTH = 2  # both workloads that traverse stop at depth 2
ITERATIVE_OPS = {k: ENTRIES[k] for k in ("graph_pagerank", "graph_hits")}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def self_time_per_op(tracer, window) -> dict[str, float]:
    n = max(1, len(window.ops))
    return {layer: t / n for layer, t in sorted(tracer.layer_self_times().items())}


def per_layer(traced, untraced, setup_times, tracer) -> dict[str, float]:
    ops = [r for r in traced.ops if r.get("latency") is not None]
    n = max(1, len(ops))
    spans = tracer.by_name()
    selfs = tracer.self_times()
    out: dict[str, float] = {}
    for k in ("session.start_s", "graph.load_s", "mvcc.init_s", "warmup_s"):
        out[k] = setup_times[k]
    for k, names in BUILD_SPANS.items():
        out[k] = sum(selfs[s.sid] for name in names for s in spans.get(name, [])) / n
    out["spark.exec_s"] = _mean(r.get("exec", 0.0) for r in ops)
    for k, field in (("jobs_per_op", "jobs"), ("stages_per_op", "stages"),
                     ("tasks_per_op", "tasks"), ("shuffle_bytes_per_op", "shuffle"),
                     ("spill_bytes_per_op", "spill"), ("cached_bytes_after_op", "cached")):
        out[f"spark.{k}"] = _mean(r.get(field, 0) for r in ops)
    iters = sum(ITERATIVE_OPS.get(r["op"], 0) for r in ops)
    out["spark.jobs_per_iter"] = (sum(r.get("jobs", 0) for r in ops
                                      if r["op"] in ITERATIVE_OPS) / iters
                                  if iters else 0.0)
    for k, (name, n_iter) in CALLS.items():
        out[k] = _mean(s.end - s.start for s in spans.get(name, []))
        if n_iter:
            out[f"{k}_per_iter"] = out[k] / n_iter
    closure_ops = sum(1 for r in ops if r["op"] == "rule_transitive_closure")
    out["query.rules.closure_s"] = (
        sum(selfs[s.sid] for s in spans.get("query.rules.relation", [])) / closure_ops
        if closure_ops else 0.0)
    out["operators.traverse.bfs_s_per_level"] = _mean(
        s.end - s.start for s in spans.get("operators.traverse.traverse", [])) / TRAVERSE_DEPTH
    logs = traced.log_samples
    out["mvcc.log_files"] = _mean(f for f, _ in logs)
    out["mvcc.log_bytes"] = _mean(b for _, b in logs)
    out["mvcc.log_files_per_commit"] = _mean(
        r["log_files_added"] for r in ops if "log_files_added" in r)
    rest_ops = [r for r in ops if "status" in r]
    out["rest.overhead_s"] = _mean(selfs[s.sid] for s in spans.get("rest.request", []))
    out["rest.jobs_per_request"] = _mean(r.get("jobs", 0) for r in rest_ops)
    base = kind_median(untraced.ops)
    traced_p50 = kind_median(ops)
    out["trace.overhead_p50_s"] = traced_p50 - base
    out["trace.overhead_share"] = traced_p50 / base - 1.0
    return {k: out[k] for k in UNITS}

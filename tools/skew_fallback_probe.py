"""Skew FALLBACK probe (VERDICT r7 item 6): the round-7 skew probe proved
pagerank safe UNDER the 2M-vertex rank-broadcast guard (rank side
broadcasts, hub mass partial-aggregates map-side — zero SortMergeJoin).
This probe measures the path PAST the guard, which is the formulation
that actually runs at 100 TB where |V| dwarfs any broadcast budget:

1. pagerank on the hot 10x graph (one hub key holding ~50% of edges)
   with ``util.BCAST_GUARD`` patched to 0 — forcing the shuffle
   contribution join —
   with AQE skew-join ON vs OFF, against the broadcast-path baseline.
2. skew-split EVIDENCE on the representative rank-x-edges shuffle join:
   broadcast disabled, one src key holding 50% of the edge side; the
   executed AQE plan is grepped for ``skew=true`` (the marker Spark
   stamps on a skew-split SortMergeJoin) and the split is timed
   ON vs OFF.
3. dedup_minhash_lsh's banded candidate join at ONE hot band-bucket
   (a 2000-doc single-text clique -> 2M candidate pairs per band x 16
   bands), shuffle-forced, AQE skew-join ON vs OFF, plus the plan
   marker. This is the UNCAPPED join shape — the shipped operator caps
   it with ``max_bucket`` (pipeline/dedup.py) and the r7 probe showed
   the capped path flat; here we characterize what AQE buys when the
   cap is lifted.

Emits one JSON line for SCALING.md.

Run: python tools/skew_fallback_probe.py [n_copies]
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"


def _timed(action):
    t0 = time.time()
    n = action()
    return round(time.time() - t0, 3), n


def _skew_marks(df) -> int:
    """Count skew=true markers in the executed (final) AQE plan. The df
    passed here must be the EXACT frame an action ran on — .count()
    builds a new QueryExecution on top, whose child plan never
    finalizes, so marks must be read from a frame that was collect()ed
    itself."""
    s = df._jdf.queryExecution().toString()
    return len(re.findall(r"skew=true", s))


def main() -> int:
    from pyspark.sql import functions as F

    from tools.skew_probe import build
    from vivace_graph_v3_spark import util
    from vivace_graph_v3_spark.graph import load_tpch_graph
    from vivace_graph_v3_spark.operators.graph_algorithms import pagerank
    from vivace_graph_v3_spark.pipeline.dedup import (
        band_rows, minhash_signatures)
    from vivace_graph_v3_spark.session import get_spark

    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("skew-fallback-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    tmp = tempfile.mkdtemp(prefix="vgv3_skewfb_")
    out: dict = {"n_copies": n_copies, "hot_share": 0.5, "probes": {}}

    def set_skew(on: bool) -> None:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
                       "true" if on else "false")

    def scale_thresholds(on: bool) -> None:
        """AQE's skew-split gates on absolute partition size (256MB
        default) — untrippable at local probe volume even with a 50%
        hot key. Scaling the thresholds down ~256x makes the local hot
        partition 'look like' the 100 TB regime where 50% of a shuffle
        IS past the default gate, so the split mechanism itself can be
        demonstrated and timed."""
        if on:
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
            spark.conf.set(
                "spark.sql.adaptive.skewJoin."
                "skewedPartitionThresholdInBytes", "16k")
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
        else:
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5")
            spark.conf.set(
                "spark.sql.adaptive.skewJoin."
                "skewedPartitionThresholdInBytes", "256m")
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")

    def force_shuffle(on: bool) -> None:
        v = "-1" if on else "10485760"
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)

    try:
        t0 = time.time()
        build(spark, tmp, n_copies)
        print(f"# build hot {n_copies}x: {round(time.time() - t0, 1)}s",
              file=sys.stderr)
        g = load_tpch_graph(spark, tmp)

        # -- 1. pagerank: broadcast path vs forced shuffle fallback ----
        pr = {}
        if "--joins-only" in sys.argv:
            pr["skipped"] = True
        else:
            t, _ = _timed(lambda: pagerank(g, max_iter=10,
                                           tol=None).count())
            pr["broadcast_s"] = t
            with mock.patch.object(util, "BCAST_GUARD", 0):
                set_skew(True)
                t, _ = _timed(lambda: pagerank(g, max_iter=10,
                                               tol=None).count())
                pr["shuffle_aqe_s"] = t
                set_skew(False)
                t, _ = _timed(lambda: pagerank(g, max_iter=10,
                                               tol=None).count())
                pr["shuffle_noskewjoin_s"] = t
            set_skew(True)
            pr["fallback_vs_broadcast"] = round(
                pr["shuffle_aqe_s"] / pr["broadcast_s"], 2)
            pr["skewjoin_speedup"] = round(
                pr["shuffle_noskewjoin_s"] / pr["shuffle_aqe_s"], 2)
        out["probes"]["pagerank_fallback"] = pr
        print(f"# pagerank: {pr}", file=sys.stderr)

        # -- 2. rank-x-edges shuffle join: skew-split evidence ---------
        # the `placed` relation is where the hub actually holds 50% of
        # the rows (the all-type edge union dilutes it to ~5%, which
        # keeps the hot partition under 2x the byte median — correctly
        # NOT skew-worthy); pagerank's contribution join runs per
        # relation shape, so this is the honest unit
        edges = (g.scan_edges("placed", columns=["src", "dst"])
                 .select("src", "dst"))
        ranks = (edges.select(F.col("src").alias("id"))
                 .unionByName(edges.select(F.col("dst").alias("id")))
                 .dropDuplicates().withColumn("rank", F.lit(1.0))
                 .localCheckpoint(eager=True))
        ev = {}
        force_shuffle(True)
        for label, skew_on, scaled in [("aqe_on", True, False),
                                       ("aqe_off", False, False),
                                       ("split_on", True, True),
                                       ("split_off", False, True)]:
            set_skew(skew_on)
            scale_thresholds(scaled)
            j = (ranks.withColumnRenamed("id", "src").join(edges, "src")
                 .groupBy("dst").agg(F.sum("rank").alias("m"))
                 .agg(F.count(F.lit(1)).cast("long").alias("n"),
                      F.sum("m")))
            t, rows = _timed(lambda: j.collect())
            n = rows[0]["n"]
            ev[f"{label}_s"] = t
            ev[f"{label}_skew_marks"] = _skew_marks(j)
        set_skew(True)
        scale_thresholds(False)
        force_shuffle(False)
        ev["rows"] = n
        ev["skewjoin_speedup"] = round(ev["aqe_off_s"] / ev["aqe_on_s"], 2)
        out["probes"]["rank_edges_join"] = ev
        print(f"# rank-x-edges: {ev}", file=sys.stderr)

        # -- 3. minhash banded join, ONE hot band, uncapped ------------
        # a 5000-doc single-text clique + 2000 normal docs, restricted
        # to band 0: one bucket holds 5000 of ~7000 posting rows — the
        # hot partition is ~25x the median, far past any threshold, so
        # the probe measures the split mechanism itself (the shipped
        # operator caps this join with max_bucket; see skew_probe.py
        # for the capped-path measurement)
        docs = (spark.read.parquet(f"{SRC}/documents.parquet")
                .select("doc_id", "text"))
        hot_text = docs.orderBy("doc_id").select("text").first()[0]
        base_max = docs.agg(F.max("doc_id")).first()[0]
        hot = (docs.limit(2000).unionByName(
            spark.range(5000).select(
                (F.col("id") + base_max + 1).alias("doc_id"),
                F.lit(hot_text).alias("text"))))
        banded = (band_rows(minhash_signatures(hot))
                  .filter(F.col("band") == 0)
                  .localCheckpoint(eager=True))
        a = banded.alias("a")
        b = banded.alias("b")
        mh = {}
        force_shuffle(True)
        for label, skew_on, scaled in [("aqe_on", True, False),
                                       ("aqe_off", False, False),
                                       ("split_on", True, True),
                                       ("split_off", False, True)]:
            set_skew(skew_on)
            scale_thresholds(scaled)
            cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                           & (F.col("a.bucket") == F.col("b.bucket"))
                           & (F.col("a.id") < F.col("b.id")))
                    .select(F.col("a.id").alias("id_a"),
                            F.col("b.id").alias("id_b"))
                    .dropDuplicates()
                    .agg(F.count(F.lit(1)).cast("long").alias("n")))
            t, rows = _timed(lambda: cand.collect())
            n = rows[0]["n"]
            mh[f"{label}_s"] = t
            mh[f"{label}_skew_marks"] = _skew_marks(cand)
        set_skew(True)
        scale_thresholds(False)
        force_shuffle(False)
        mh["candidate_pairs"] = n
        mh["skewjoin_speedup"] = round(mh["aqe_off_s"] / mh["aqe_on_s"], 2)
        out["probes"]["minhash_hot_band_join"] = mh
        print(f"# minhash hot band: {mh}", file=sys.stderr)

        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Measured connected-components scale curve: the dedup_clusters CC
kernel at 1x / 10x / 100x input, so the stage's "per-round fixed cost
amortizes at corpus scale" claim rests on a recorded curve, not
extrapolation (round-4 verdict: the only expensive stage whose scale
story was still asserted).

Input: the EXACT pair graph the bench's dedup_clusters stage feeds CC —
MinHash-LSH candidate pairs over the duplicate-injected sf0.1 document
corpus. Scale axes:

- breadth 10x / 100x: disjoint id-offset copies of the pair graph —
  cluster count grows Nx, diameter unchanged. Min-label propagation's
  round count must stay FLAT (rounds track diameter, not size), so the
  per-round fixed cost (job launch + checkpoint + convergence scan, the
  thing that does NOT parallelize) is amortized over Nx the real work.
  The pass criterion is per-pair microseconds FALLING monotonically —
  the same amortization the closure curve recorded
  (BENCH_closure_curve.json).

Usage: python scripts/cc_scale_curve.py [sf_dir] [out_json]
Writes one JSON blob (per-shape: edges, nodes, components, rounds,
delta sizes, seconds, us_per_edge) — recorded to BENCH_cc_curve.json
and summarized in BASELINE.md.
"""

from __future__ import annotations

import json
import sys
import time
from functools import reduce

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge import graph
from kgforge.datapipe import dedup
from kgforge.session import get_spark


def replicate_pairs(pairs: DataFrame, copies: int) -> DataFrame:
    """Disjoint id-offset copies: component structure per copy is
    identical, so diameter (and the round count it dictates) is
    unchanged while edge volume grows `copies`x."""
    parts = [
        pairs.select(
            (F.col("doc_a") + F.lit(i * 100_000_000)).alias("doc_a"),
            (F.col("doc_b") + F.lit(i * 100_000_000)).alias("doc_b"),
        )
        for i in range(copies)
    ]
    return reduce(DataFrame.unionByName, parts)


def run(name: str, edges: DataFrame) -> dict:
    n_edges = edges.count()
    stats: dict = {}
    t0 = time.perf_counter()
    comps = graph.connected_components(edges, stats=stats)
    agg = comps.agg(
        F.count("*").alias("nodes"), F.countDistinct("component").alias("components")
    ).first()
    secs = round(time.perf_counter() - t0, 2)
    row = {
        "edges": n_edges,
        "nodes": agg["nodes"],
        "components": agg["components"],
        "seconds": secs,
        "us_per_edge": round(secs * 1e6 / max(n_edges, 1), 1),
        "rounds": stats.get("rounds"),
        "delta_sizes": stats.get("delta_sizes"),
    }
    print(json.dumps({name: row}), flush=True)
    return row


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/BENCH_cc_curve.json"
    spark = get_spark("cc-curve", cores=8, shuffle_partitions=8)

    docs = dedup.docs_with_dups(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    pairs = (
        dedup.lsh_candidate_pairs(docs)
        .select(
            F.col("doc_a").cast("string").alias("parent"),
            F.col("doc_b").cast("string").alias("child"),
        )
        .localCheckpoint(eager=True)
    )
    # replicate on the numeric ids, then restring for the CC API
    pairs_num = pairs.select(
        F.col("parent").cast("long").alias("doc_a"), F.col("child").cast("long").alias("doc_b")
    ).localCheckpoint(eager=True)

    def as_edges(p: DataFrame) -> DataFrame:
        return p.select(
            F.col("doc_a").cast("string").alias("parent"),
            F.col("doc_b").cast("string").alias("child"),
        ).localCheckpoint(eager=True)

    result = {"sf_dir": sf_dir, "cores": 8}
    result["minlabel_1x"] = run("minlabel_1x", pairs)
    result["minlabel_10x"] = run("minlabel_10x", as_edges(replicate_pairs(pairs_num, 10)))
    result["minlabel_100x"] = run("minlabel_100x", as_edges(replicate_pairs(pairs_num, 100)))

    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"written": out_path}))


if __name__ == "__main__":
    main()

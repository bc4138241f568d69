"""Measured closure scale curve: the same transitive-closure job at 1x
and 10x input, so the "right plan at 100x" claim for the suite's most
expensive stage rests on a recorded curve, not extrapolation.

Input: the mod-20 subgraph of the sf0.1 fixture BOM edge set, the
long-chain, low-density subgraph the bench's closure stage uses; that
subgraph is the 1x point. Two 10x shapes probe the two ways a corpus
grows:

- breadth 10x: ten disjoint prefix-renamed copies — component count
  grows 10x, diameter unchanged. Delta path-doubling's round count must
  stay FLAT and wall time grow ~linearly (each round's join is 10x
  wider but the same depth).
- depth 10x: ten copies chained root-under-leaf — diameter ~10x.
  Doubling's rounds must grow by ~log2(10) ≈ +3-4, NOT 10x (the
  semi-naive form pays 10x the rounds here, which is why the sampled
  closure uses doubling; on the full, dense edge set semi-naive wins).

Usage: python scripts/closure_scale_curve.py [sf_dir] [out_json]
Writes one JSON blob (per-shape: edges, pairs, rounds, delta sizes,
seconds) — recorded to BENCH_closure_curve.json and summarized in
BASELINE.md.
"""

from __future__ import annotations

import json
import sys
import time
from functools import reduce

sys.path.insert(0, "/root/repo")

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge import fixtures, graph
from kgforge.session import get_spark


def replicate(edges: DataFrame, copies: int) -> DataFrame:
    parts = [
        edges.select(
            F.concat(F.lit(f"c{i}-"), F.col("parent")).alias("parent"),
            F.concat(F.lit(f"c{i}-"), F.col("child")).alias("child"),
        )
        for i in range(copies)
    ]
    return reduce(DataFrame.unionByName, parts)


def chain(edges: DataFrame, copies: int) -> DataFrame:
    """Replicas plus bridge edges: a leaf of copy i adopts the root of
    copy i+1, multiplying the diameter by ~copies."""
    rep = replicate(edges, copies)
    roots = edges.select("parent").subtract(edges.select(F.col("child").alias("parent")))
    leaves = edges.select("child").subtract(edges.select(F.col("parent").alias("child")))
    one_root = roots.orderBy("parent").limit(1).first()["parent"]
    one_leaf = leaves.orderBy("child").limit(1).first()["child"]
    spark = edges.sparkSession
    bridges = spark.createDataFrame(
        [(f"c{i}-{one_leaf}", f"c{i + 1}-{one_root}") for i in range(copies - 1)],
        "parent string, child string",
    )
    return rep.unionByName(bridges)


def run(name: str, fn, edges: DataFrame) -> dict:
    n_edges = edges.count()
    stats: dict = {}
    t0 = time.perf_counter()
    closure = fn(edges, stats=stats)
    n_pairs = closure.count()
    secs = round(time.perf_counter() - t0, 2)
    row = {
        "edges": n_edges,
        "pairs": n_pairs,
        "seconds": secs,
        "rounds": stats.get("rounds"),
        "delta_sizes": stats.get("delta_sizes"),
    }
    print(json.dumps({name: row}), flush=True)
    return row


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/BENCH_closure_curve.json"
    spark = get_spark("closure-curve", cores=8, shuffle_partitions=8)

    t = fixtures.load_transcripts(spark, sf_dir)
    e = fixtures.load_entities(spark, sf_dir)
    from kgforge import linking
    from kgforge.extract import extract_mentions

    edges = (
        graph.bom_edges_from_linked(linking.link_mentions(extract_mentions(t), e))
        # the bench's closure-stage subgraph: long chains, low density
        .filter((F.col("parent").cast("bigint") + F.col("child").cast("bigint")) % 20 == 0)
        .localCheckpoint(eager=True)
    )

    result = {"sf_dir": sf_dir, "cores": 8}
    result["doubling_1x"] = run("doubling_1x", graph.transitive_closure, edges)
    result["doubling_10x_breadth"] = run(
        "doubling_10x_breadth", graph.transitive_closure, replicate(edges, 10)
    )
    result["doubling_10x_depth"] = run(
        "doubling_10x_depth", graph.transitive_closure, chain(edges, 10)
    )
    result["seminaive_1x"] = run(
        "seminaive_1x", graph.transitive_closure_seminaive, edges
    )
    result["seminaive_10x_breadth"] = run(
        "seminaive_10x_breadth", graph.transitive_closure_seminaive, replicate(edges, 10)
    )

    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"written": out_path}))


if __name__ == "__main__":
    main()

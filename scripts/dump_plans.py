"""Regenerate PLANS.md — the formatted physical plans of the headline
stages, the evidence behind the scale claims (broadcast dictionary join,
salted skew join, pushdown/pruning into the parquet scan, shuffle-free
direct edge assembly, bucketed ANN with no cartesian product).

Run: python scripts/dump_plans.py [sf_dir] (default sf0.001).
"""

from __future__ import annotations

import io
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from kgforge import canonicalize, extract, fixtures, graph, linking, materialize  # noqa: E402
from kgforge.datapipe import dedup as dd  # noqa: E402
from kgforge.datapipe import similarity as sim  # noqa: E402
from kgforge.session import get_spark  # noqa: E402


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("kgforge-plans", cores=8, shuffle_partitions=8)
    t = fixtures.load_transcripts(spark, sf_dir).localCheckpoint(eager=True)
    e = fixtures.load_entities(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    sections = {
        "Broadcast dictionary linking (J1)": linking.link_mentions(
            extract.extract_mentions(t), e, strategy="broadcast"
        ),
        "Salted skew linking (J1, Zipfian names)": linking.link_mentions(
            extract.extract_mentions(t), e, strategy="salted"
        ),
        "Direct edge assembly (flagship: only shuffle = edge dedup)": graph.bom_edges_direct(t, e),
        "Projection+filter pushdown into the parquet scan": spark.read.parquet(
            f"{sf_dir}/part.parquet"
        )
        .filter(F.col("p_partkey") % 2 == 0)
        .select("p_partkey"),
        "LSH ANN (bucket join, no cartesian)": sim.lsh_ann_topk(
            emb.filter(F.col("vec_id") % 50 == 0), emb, k=5
        ),
        "IVF ANN (inverted-list probe join)": sim.ivf_ann_topk(
            emb.filter(F.col("vec_id") % 50 == 0), emb, k=5
        ),
        "N-Triples render (whole-stage codegen, no Python)": materialize.ntriples_lines(
            materialize.part_triples(e)
        ),
        "Star equivalence edges (one groupBy, no same-name self-join)": (
            canonicalize.equivalence_edges(e)
        ),
        "JVM dictionary detection (regexp_extract_all, zero Python nodes)": (
            extract.detect_mentions_dictionary(t, e, engine="jvm")
        ),
        "Repeated-span dedup (shingle-hash bucketing + gaps-and-islands window)": (
            dd.repeated_spans(dd.docs_with_dups(docs))
        ),
    }
    out = io.StringIO()
    out.write(
        "# PLANS — formatted physical plans of the headline stages\n\n"
        f"Generated by scripts/dump_plans.py over {sf_dir} (plan shapes are\n"
        "scale-independent; only row-count estimates change with sf).\n"
        "What to look for: `BroadcastHashJoin` on the dictionary side,\n"
        "`ShuffledHashJoin` keyed on `salt` in the skew path, `PushedFilters`/\n"
        "`ReadSchema` pruning in scans, exactly one `Exchange hashpartitioning`\n"
        "on (parent, child) in the direct edge assembly, no `CartesianProduct`\n"
        "anywhere, and wide `WholeStageCodegen` spans with Python confined to\n"
        "`ArrowEvalPython` leaves.\n"
    )
    for title, df in sections.items():
        out.write(f"\n## {title}\n\n```\n{formatted(df).strip()}\n```\n")
    with open("PLANS.md", "w") as f:
        f.write(out.getvalue())
    print("wrote PLANS.md", len(out.getvalue()), "bytes")


if __name__ == "__main__":
    main()

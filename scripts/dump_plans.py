"""Regenerate PLANS.md — the formatted physical plans of the headline
stages, the evidence behind the scale claims (broadcast dictionary join,
salted skew join, pushdown/pruning into the parquet scan, shuffle-free
direct edge assembly, bucketed ANN with no cartesian product).

Run: python scripts/dump_plans.py [sf_dir] (default sf0.001).

``--suite TAG SF_DIR`` instead writes the formatted plan of every
operator the ``bench.py`` suite times over ``SF_DIR``, one file per
operator under ``plans/TAG/``. Run it on two checkouts with two tags
and diff the directories to see what a change does to the suite's
plans. The fixpoint loops (closure, connected components) run eagerly
while their result is built, so they have no plan here; record their
per-round plans with ``--executed``.

``--executed OUT_DIR KG_DIR DOCS_DIR`` instead records the final
(post-AQE) physical plan of every query that ``run_pipeline`` (over
``KG_DIR``, the ``%20`` closure sample) and ``curate_corpus`` (over
``DOCS_DIR/documents.parquet``, the perfbench ``curate_docs`` arguments)
execute, one file per query under ``OUT_DIR``, and prints per query its
Exchange count and the Exchanges whose map stage reads a cached
relation (``InMemoryTableScan``). Run it on two checkouts and diff the
summaries to see what a planner setting costs or saves.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.java_gateway import ensure_callback_server_started  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kgforge import canonicalize, extract, fixtures, graph, linking, materialize  # noqa: E402
from kgforge.datapipe import curate  # noqa: E402
from kgforge.datapipe import dedup as dd  # noqa: E402
from kgforge.datapipe import multimodal as mm  # noqa: E402
from kgforge.datapipe import similarity as sim  # noqa: E402
from kgforge.pipeline import run_pipeline  # noqa: E402
from kgforge.session import get_spark  # noqa: E402


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class _PlanRecorder:
    """A ``QueryExecutionListener`` (through the Py4J callback server)
    that keeps each finished query's executed plan as a JVM object."""

    def __init__(self):
        self.plans: list[tuple[str, object]] = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.plans.append((func_name, qe.executedPlan()))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _children(node) -> list:
    """A plan node's children, opening what Catalyst hides from
    ``children``: an AQE plan's final plan and a query stage's plan
    (cached plans stay closed: their exchanges belong to the query that
    filled the cache)."""
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if kind.endswith("QueryStageExec"):
        return [node.plan()]
    if kind == "CommandResultExec":
        return [node.commandPhysicalPlan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_summary(plan) -> dict:
    """``exchanges``: Exchange nodes in the plan; ``over_cache``: the
    Exchanges whose map stage (the subtree down to the next Exchange)
    scans a cached relation, with the node names in between."""
    exchanges, over_cache = 0, []

    def stage_scans_cache(node, path):
        for child in _children(node):
            kind = child.getClass().getSimpleName()
            if kind.endswith("ExchangeExec"):
                continue
            if kind == "InMemoryTableScanExec":
                return path + [kind]
            hit = stage_scans_cache(child, path + [kind])
            if hit:
                return hit
        return None

    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind.endswith("ExchangeExec"):
            exchanges += 1
            hit = stage_scans_cache(node, [kind])
            if hit:
                over_cache.append(" <- ".join(hit))
        stack.extend(_children(node))
    return {"exchanges": exchanges, "over_cache": over_cache}


def executed(out_dir: str, kg_dir: str, docs_dir: str) -> None:
    spark = get_spark("kgforge-plans")
    ensure_callback_server_started(spark.sparkContext._gateway)
    recorder = _PlanRecorder()
    spark._jsparkSession.listenerManager().register(recorder)
    os.makedirs(out_dir, exist_ok=True)
    summary = {}

    def record(workload: str, run) -> None:
        recorder.plans.clear()
        run()
        # listener events arrive on the listener bus; wait for them
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        for i, (func, plan) in enumerate(recorder.plans):
            name = f"{workload}_{i:02d}_{func}"
            with open(os.path.join(out_dir, name + ".txt"), "w") as f:
                f.write(plan.toString())
            summary[name] = plan_summary(plan)

    tmp = tempfile.mkdtemp()
    try:
        record("kg", lambda: run_pipeline(spark, kg_dir, f"{tmp}/kg", closure_edge_mod=20))
        docs = spark.read.parquet(f"{docs_dir}/documents.parquet")

        def curate_run():
            kept, _ = curate.curate_corpus(
                docs, lang="en", min_tokens=3, dedup="cluster", span_min_docs=2
            )
            kept.select("doc_id", "text", "n_tokens_removed").write.parquet(f"{tmp}/kept")
            kept.unpersist()

        record("curate", curate_run)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    for name, s in summary.items():
        print(name, s["exchanges"], *s["over_cache"], sep="\t")
    spark.stop()


def suite(tag: str, sf_dir: str) -> None:
    spark = get_spark("kgforge-plans")
    transcripts = fixtures.load_transcripts(spark, sf_dir)
    entities = fixtures.load_entities(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dupd = dd.docs_with_dups(docs)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    mentions = extract.extract_mentions(transcripts)
    linked = linking.link_mentions(mentions, entities, strategy="broadcast")
    edges = graph.bom_edges_from_linked(linked)
    triples = materialize.union_triples(
        materialize.part_triples(entities),
        materialize.bom_triples(edges),
        materialize.used_in_triples(edges),
    )
    plans = {
        "transcripts_scan": transcripts,
        "extract_mentions": mentions,
        "dict_mention_udf": extract.detect_mentions_dictionary(
            transcripts, entities, engine="python"
        ),
        "dict_mention_auto": extract.detect_mentions_dictionary(transcripts, entities),
        "link_broadcast": linked,
        "link_salted": linking.link_mentions(mentions, entities, strategy="salted"),
        "bom_edges": edges,
        "triples_union": triples,
        "ntriples_render": materialize.ntriples_lines(triples),
        "triple_counts_agg": materialize.triple_counts(triples),
        "top_assemblies": materialize.top_assemblies(edges),
        "dedup_exact": dd.exact_dedup(dupd),
        "dedup_minhash_lsh": dd.lsh_candidate_pairs(dupd),
        "dedup_simhash": dd.simhash_near_dups(dupd),
        "dedup_spans": dd.repeated_spans(dupd),
        "ann_cosine_topk": sim.cosine_topk(queries, emb, k=5),
        "embedding_near_dups_lsh": sim.embedding_near_dups(
            sim.vecs_with_dups(emb), threshold=0.9
        ),
        "ann_ivf_topk": sim.ivf_ann_topk(queries, emb, k=5),
        "multimodal_decode": mm.decode_features(mm.attach_media(docs)),
        "multimodal_resize": mm.resize_images(mm.attach_media(docs), 8, 8),
    }
    out_dir = os.path.join("plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name, df in plans.items():
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(formatted(df))
    print("wrote", len(plans), "plans to", out_dir)
    spark.stop()


def main() -> None:
    if sys.argv[1:2] == ["--executed"]:
        executed(*sys.argv[2:5])
        return
    if sys.argv[1:2] == ["--suite"]:
        suite(*sys.argv[2:4])
        return
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

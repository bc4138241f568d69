"""One measured build in a fresh process: start the session, check the
Python worker pool, run the workload's top-level call once, cold.

Run by :mod:`perfbench.run` as ``python3 -m perfbench.child <args>``;
the parent passes the spawn wall-clock time in ``PERFBENCH_T0`` so
``setup_s`` covers interpreter start, imports, JVM launch, session
confs and the worker-pool warm-up. The result is written as JSON to
``--result``; Spark's own output goes to the parent's log file.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

from perfbench.trace import Tracer, parse_event_log

KG_CLOSURE_EDGE_MOD = 20
CURATE_ARGS = {"lang": "en", "min_tokens": 3, "dedup": "cluster", "span_min_docs": 2}


def _import_probe(v):
    """Worker-side probe: the batch succeeds only if the worker can
    import the package under test."""
    import kgforge  # noqa: F401

    return v * 0 + 1


def check_worker_pool(spark, cores: int, probe_fn=_import_probe) -> None:
    """Raise unless every Python worker slot can import ``kgforge``.
    ``get_spark``'s warm-up swallows worker errors, so a pool that
    cannot import the package would otherwise look fast, not broken."""
    from pyspark.sql.functions import col, pandas_udf

    probe = pandas_udf(probe_fn, "long")
    spark.sparkContext.setJobGroup("health", "health")
    n = spark.range(cores * 2).repartition(cores * 2).select(probe(col("id")).alias("ok")).agg(
        {"ok": "sum"}
    ).first()[0]
    if n != cores * 2:
        raise RuntimeError(f"worker import probe returned {n}, expected {cores * 2}")


def parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def build_kg(spark, input_dir: str, out_dir: str) -> dict:
    from kgforge.pipeline import run_pipeline

    t = time.perf_counter()
    stats = run_pipeline(spark, input_dir, out_dir, closure_edge_mod=KG_CLOSURE_EDGE_MOD)
    build_s = time.perf_counter() - t
    return {
        "build_s": build_s,
        "out_rows": stats["total_triples"],
        "out_bytes": parquet_bytes(os.path.join(out_dir, "triples")),
        "per_predicate": stats["per_predicate"],
        "n_edges": stats["n_edges"],
    }


def build_curate(spark, input_dir: str, out_dir: str) -> dict:
    from kgforge.datapipe import curate

    t = time.perf_counter()
    docs = spark.read.parquet(os.path.join(input_dir, "documents.parquet"))
    kept, funnel = curate.curate_corpus(docs, **CURATE_ARGS)
    kept.select("doc_id", "text", "n_tokens_removed").write.parquet(os.path.join(out_dir, "kept"))
    kept.unpersist()
    build_s = time.perf_counter() - t
    return {
        "build_s": build_s,
        "out_rows": funnel[-1]["n_out"],
        "out_bytes": parquet_bytes(os.path.join(out_dir, "kept")),
        "funnel": funnel,
    }


BUILDS = {"kg_corpus": build_kg, "curate_docs": build_curate}


def install_tracer(spark, workload: str, post: dict):
    """Wrap the public layer calls the workload makes. ``post`` collects
    frames and values whose counts are taken after the build, outside
    the timed spans."""
    tr = Tracer(spark)
    if workload == "kg_corpus":
        from kgforge import canonicalize, extract, fixtures, graph, linking, materialize, resume

        for name in ("load_transcripts", "load_entities", "load_alternate_links", "load_describe_links"):
            tr.wrap(fixtures, name, "fixtures")
        tr.wrap(extract, "extract_mentions", "extract",
                after=lambda out, n, a, k: post.__setitem__("extract.mentions", n))
        tr.wrap(linking, "link_mentions", "linking",
                after=lambda out, n, a, k: post.update(linked=out, linked_n=n))
        tr.wrap(graph, "bom_edges_from_linked", "graph.edges")
        closure_stats: dict = {}
        post["closure_stats"] = closure_stats
        tr.wrap(graph, "transitive_closure", "graph.closure", inject_kwargs={"stats": closure_stats},
                after=lambda out, n, a, k: post.__setitem__("graph.closure.pairs", n))
        tr.wrap(canonicalize, "assign_canonical_iris", "canonicalize")
        for name in ("part_triples", "bom_triples", "used_in_triples", "part_of_assembly_triples",
                     "alternate_triples", "describe_triples", "document_triples",
                     "canonical_equivalence_triples"):
            tr.wrap(materialize, name, "materialize", materialize=False)
        for name in ("union_triples", "triple_counts"):
            tr.wrap(materialize, name, "materialize")
        tr.wrap(resume, "write_triples_resumable", "resume",
                after=lambda out, n, a, k: post.__setitem__("manifest", out))
    else:
        from kgforge.datapipe import curate, dedup

        # curate_corpus's own work (the filter-prefix funnel, the filtered
        # corpus cache, the stage-boundary gates) is the filter layer;
        # LSH, clusters and span removal are its child spans
        tr.wrap(curate, "curate_corpus", "datapipe.filter", materialize=False)
        tr.wrap(dedup, "lsh_candidate_pairs", "datapipe.lsh",
                before=lambda a, k: a[0].count(),
                after=lambda out, n, a, k: post.__setitem__("datapipe.lsh.candidate_pairs", n))
        tr.wrap(dedup, "dedup_clusters", "datapipe.clusters")
        tr.wrap(dedup, "repeated_spans", "datapipe.spans")
        tr.wrap(dedup, "remove_repeated_spans", "datapipe.spans")
    return tr


def main(argv: list[str] | None = None) -> int:
    t0 = float(os.environ["PERFBENCH_T0"])
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(BUILDS))
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--event-log", default=None)
    args = p.parse_args(argv)

    from kgforge.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    extra = None
    if args.event_log:
        os.makedirs(args.event_log, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(args.event_log),
            "spark.eventLog.compress": "false",
        }
    t_get = time.perf_counter()
    spark = get_spark("kgforge-perfbench", extra_conf=extra)
    get_spark_s = time.perf_counter() - t_get
    res: dict = {"setup_s": time.time() - t0, "cores": cores}
    check_worker_pool(spark, cores)
    if args.event_log:
        post: dict = {}
        tracer = install_tracer(spark, args.workload, post)
        with tracer.span("build"):
            res.update(BUILDS[args.workload](spark, args.input, args.out))
        tracer.restore()
        res["trace"] = collect_trace(spark, tracer, post, args, res, get_spark_s)
        res["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        # the event log is complete only once the context has stopped
        spark.stop()
        res["event_groups"] = parse_event_log(args.event_log)
    else:
        res.update(BUILDS[args.workload](spark, args.input, args.out))
        res["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    with open(args.result, "w") as f:
        json.dump(res, f)
    return 0


def collect_trace(spark, tracer, post, args, res, get_spark_s: float) -> dict:
    """Counts taken after the traced build (outside every span)."""
    from pyspark.sql import functions as F

    times = tracer.layer_times()
    times["session"] = {"wall_s": get_spark_s, "self_s": get_spark_s}
    out = {"times": times, "counts": {}}
    c = out["counts"]
    if args.workload == "kg_corpus":
        c["extract.mentions"] = post.get("extract.mentions", 0)
        linked = post.get("linked")
        if linked is not None and post.get("linked_n"):
            resolved = linked.filter(F.col("status") == "resolved").count()
            c["linking.resolved_ratio"] = resolved / post["linked_n"]
        c["graph.closure.rounds"] = post["closure_stats"].get("rounds", 0)
        c["graph.closure.pairs"] = post.get("graph.closure.pairs", 0)
        manifest = post.get("manifest") or {}
        c["resume.commit_groups"] = len(manifest.get("snapshots", []))
        c["resume.files_written"] = len(
            glob.glob(os.path.join(args.out, "triples", "**", "*.parquet"), recursive=True)
        )
    else:
        c["datapipe.lsh.candidate_pairs"] = post.get("datapipe.lsh.candidate_pairs", 0)
        funnel = res["funnel"]
        c["datapipe.curate.kept_ratio"] = funnel[-1]["n_out"] / max(1, funnel[0]["n_in"])
    return out


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    # the parent stops the JVM and the Python workers with the whole
    # process group; skipping the session's orderly shutdown here keeps
    # it out of every run's wall time
    os._exit(code)

"""End-to-end KG construction driver (SURVEY.md §3.1 analogue).

read transcripts -> window-order -> extract mentions -> link against
the canonical dictionary (broadcast or salted) -> assemble edges ->
derive reverse + transitive-closure edges -> union triple families ->
materialize subject-hash-bucketed triple table + statistics, with
per-partition manifest commits (resume.py), in the one tail both entry
points share (:func:`_materialize`); N-Triples parity output only under
``--excel``.

Run as ``spark-submit --master <cluster> --py-files kgforge.zip
driver.py <in> <out>`` where driver.py calls :func:`run_pipeline`
(tests/test_pipeline.py packages the zip and submits exactly this), or
``python -m kgforge.pipeline [sf_dir] [out_dir]`` locally.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge import canonicalize, extract, fixtures, graph, linking, materialize, resume


@dataclass
class GraphBuild:
    edges: DataFrame  # cached; the caller unpersists it
    n_edges: int
    triples: DataFrame


def _union_families(entities, edges, closure, alt, desc, *extra: DataFrame) -> DataFrame:
    """The triple families both entry points emit, plus ``extra``."""
    return materialize.union_triples(
        materialize.part_triples(entities),
        materialize.bom_triples(edges),
        materialize.used_in_triples(edges),
        materialize.part_of_assembly_triples(closure),
        materialize.alternate_triples(alt),
        materialize.describe_triples(desc),
        materialize.document_triples(desc),
        *extra,
    )


def _materialize(
    triples: DataFrame, out_dir: str | None, lineage: str, ntriples: bool = False
) -> dict:
    """Bucket ``triples`` by subject (one exchange) and cache it once;
    the statistics (returned: total and per-predicate counts), the
    resumable write and the optional N-Triples files all read that cache."""
    bucketed = resume.bucket_by_subject(triples).cache()
    try:
        # the one job that scans the union and fills the cache
        counts = {r["pred"]: r["n"] for r in materialize.triple_counts(bucketed).collect()}
        if out_dir:
            resume.write_triples_resumable(bucketed, out_dir, lineage=lineage)
            if ntriples:
                materialize.write_ntriples(bucketed, f"{out_dir}/ntriples")
    finally:
        bucketed.unpersist()
    return {"total_triples": int(sum(counts.values())), "per_predicate": counts}


def build_graph(
    spark: SparkSession,
    sf_dir: str,
    strategy: str = "broadcast",
    strict: bool = False,
    closure_edge_mod: int | None = None,
    extra_edges: DataFrame | None = None,
) -> GraphBuild:
    """Assemble the full triple set. ``closure_edge_mod`` optionally
    restricts the transitive-closure input to a deterministic edge
    subset ((parent+child) % mod == 0) — the derived fixture graph is
    far denser than a real BOM, and an unrestricted closure over it is
    quadratic in the entity count (SURVEY §7.4 risk 3).
    ``extra_edges`` (parent, child) unions additional relationship rows
    into the edge set before the derived families — the reference's
    ``--bom`` CSV alongside the Excel parts (main :1698-1699), fed here
    from :mod:`kgforge.sources`."""
    transcripts = fixtures.load_transcripts(spark, sf_dir)
    entities = fixtures.load_entities(spark, sf_dir)
    mentions = extract.extract_mentions(transcripts)
    linked = linking.link_mentions(mentions, entities, strategy=strategy)
    if strict:
        linking.check_strict(linked)
    # edges feed four downstream families -> cache once (SURVEY §4.3
    # exchange-reuse: all triple families derive from the same edges),
    # filled here by the one count, so its layout is the session's
    # (AQE-coalesced) and not that of a closure loop's scoped confs
    edges = graph.bom_edges_from_linked(linked)
    if extra_edges is not None:
        edges = edges.unionByName(
            extra_edges.select("parent", "child")
        ).dropDuplicates()
    edges = edges.cache()
    n_edges = edges.count()

    if closure_edge_mod:
        # sampled subgraph: long chains, low density -> delta doubling
        # (log(diameter) rounds)
        closure_input = edges.filter(
            (F.col("parent").cast("bigint") + F.col("child").cast("bigint")) % closure_edge_mod == 0
        )
        closure = graph.transitive_closure(closure_input)
    else:
        # full fixture graph is dense (short diameter, huge closure):
        # semi-naive's |delta| x degree rounds beat doubling's
        # |delta| x |closure| joins
        closure = graph.transitive_closure_seminaive(edges)

    alt = fixtures.load_alternate_links(spark, sf_dir)
    desc = fixtures.load_describe_links(spark, sf_dir)
    # canonicalization pass (north rule): same-name clusters -> stable
    # representative; emitted as canonicalEquivalent edges so raw IRIs
    # stay queryable (reference keys triples by raw number).
    canon = canonicalize.assign_canonical_iris(entities)
    triples = _union_families(
        entities, edges, closure, alt, desc,
        materialize.canonical_equivalence_triples(canon),
    )
    return GraphBuild(edges, n_edges, triples)


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    strategy: str = "broadcast",
    closure_edge_mod: int | None = None,
    strict: bool = False,
    extra_edges: DataFrame | None = None,
) -> dict:
    """Build + materialize; returns summary statistics (triples per
    predicate + totals, the reference's get_statistics :841-875)."""
    build = build_graph(
        spark,
        sf_dir,
        strategy=strategy,
        strict=strict,
        closure_edge_mod=closure_edge_mod,
        extra_edges=extra_edges,
    )
    stats = {
        **_materialize(build.triples, out_dir, lineage=f"sf_dir={sf_dir};strategy={strategy}"),
        "n_edges": build.n_edges,
    }
    build.edges.unpersist()
    return stats


def import_workbook(
    spark: SparkSession,
    excel_path: str,
    bom_csv: str | None = None,
    out_dir: str | None = None,
) -> dict:
    """End-to-end import of a real .xlsx workbook — the reference's
    ``import_data`` flow (spreadsheet_loader.py:1355-1527) re-expressed
    Spark-first: parts from every sheet (last-wins), BOM edges from the
    in-workbook hierarchical sheets via the distributed level-stack
    decode (or from ``bom_csv`` when given), reverse usedIn, transitive
    closure for partOfAssembly, alternate + describe/document links, all
    materialized as ONE distinct triple set (the reference posts
    duplicate-bearing lists, but the triple store holds a set — the
    published Snowmobile counts are distinct counts).

    Returns per-predicate distinct counts + totals; the published
    Snowmobile goldens (939 parts / 1,543 hasComponent / 4,616
    partOfAssembly / 8 hasAlternate — docs/GRAPHDB_QUERIES.md:6-20) are
    pinned against this function by tests/test_snowmobile_golden.py.
    """
    from kgforge import sources, xlsx

    # one parse of the workbook feeds every sheet reader
    wb = xlsx.read_workbook(excel_path)
    entities = sources.read_excel_parts(spark, wb).cache()
    if bom_csv:
        edges = sources.read_bom_csv(spark, bom_csv)
    else:
        edges = sources.read_excel_bom_edges(spark, wb)
    edges = edges.cache()
    closure = graph.transitive_closure(edges)
    alt = sources.read_excel_alternates(spark, wb)
    desc = sources.read_excel_describe_links(spark, wb)
    triples = _union_families(entities, edges, closure, alt, desc)
    tail = _materialize(
        triples.dropDuplicates(["subj", "pred", "obj"]),
        out_dir,
        lineage=f"excel={excel_path};bom_csv={bom_csv}",
        ntriples=True,
    )
    stats = {
        "excel": excel_path,
        "n_parts": entities.count(),
        "n_edges": edges.count(),
        **tail,
    }
    edges.unpersist()
    entities.unpersist()
    return stats


def main(argv: list[str] | None = None) -> None:
    """CLI mirroring the reference's argument surface
    (spreadsheet_loader.py main :1695-1739): the early-exit report
    subcommands (--dump-name-index :1729, --emit-candidates :1733,
    --generate-bom-by-name :1739) write one CSV directory and return
    without materializing triples; --strict-names (:1708) makes the
    linking pass fail loudly on unknown/ambiguous mentions."""
    import argparse
    import json

    from kgforge import reports
    from kgforge.session import get_spark

    p = argparse.ArgumentParser(description="kgforge KG-construction pipeline")
    p.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    p.add_argument("out_dir", nargs="?", default=None)
    p.add_argument("--strategy", choices=["broadcast", "salted"], default="broadcast")
    p.add_argument(
        "--strict-names", action="store_true",
        help="fail on unknown or ambiguous mentions in the linking pass",
    )
    p.add_argument(
        "--dump-name-index", metavar="DIR", default=None,
        help="write the name->number index CSV and exit",
    )
    p.add_argument(
        "--emit-candidates", metavar="DIR", default=None,
        help="write the 4-column BOM name-candidates CSV and exit",
    )
    p.add_argument(
        "--generate-bom-by-name", metavar="DIR", default=None,
        help="write the name-based BOM CSV and exit",
    )
    p.add_argument(
        "--bom", metavar="CSV", default=None,
        help="additional BOM edge CSV (number-based or hierarchical; "
        "shape sniffed) unioned into the edge set",
    )
    p.add_argument(
        "--bom-by-name", action="store_true",
        help="treat --bom as a NAME-based CSV resolved through the "
        "dictionary (reference --bom-by-name)",
    )
    p.add_argument(
        "--excel", metavar="XLSX", default=None,
        help="import a real .xlsx workbook end-to-end (reference "
        "import_data flow) instead of the fixture pipeline; sf_dir is "
        "ignored, out_dir receives N-Triples",
    )
    p.add_argument(
        "--dump-parts", metavar="DIR", default=None,
        help="with --excel: write the parsed parts catalog CSV and exit "
        "(reference scripts/extract_parts.py)",
    )
    p.add_argument(
        "--convert-bom", metavar="DIR", default=None,
        help="with --bom: write the hierarchical CSV converted to "
        "parent-child shape and exit (reference "
        "scripts/convert_hierarchical_bom.py — raw level-stack edges, "
        "duplicates preserved like the shipped bom_parent_child.csv)",
    )
    args = p.parse_args(argv)

    spark = get_spark("kgforge-pipeline")

    if args.dump_parts and not args.excel:
        p.error("--dump-parts requires --excel workbook")

    if args.convert_bom:
        if not args.bom:
            p.error("--convert-bom requires --bom CSV")
        from kgforge import sources

        edges = sources.convert_hierarchical_bom(spark, args.bom)
        edges.selectExpr(
            "parent AS `Parent Number`", "child AS `Child Number`"
        ).write.mode("overwrite").option("header", True).csv(args.convert_bom)
        print(json.dumps({"report": "parent_child_bom", "out": args.convert_bom}))
        return

    if args.excel and args.dump_parts:
        from kgforge import sources

        sources.read_excel_parts(spark, args.excel).write.mode(
            "overwrite"
        ).option("header", True).csv(args.dump_parts)
        print(json.dumps({"report": "parts_catalog", "out": args.dump_parts}))
        return

    if args.excel:
        # sf_dir is meaningless under --excel; a single positional is
        # the output directory
        out_dir = args.out_dir or (
            args.sf_dir if args.sf_dir != p.get_default("sf_dir") else None
        )
        print(
            json.dumps(
                import_workbook(spark, args.excel, bom_csv=args.bom, out_dir=out_dir),
                indent=1,
                default=int,
            )
        )
        return

    if args.dump_name_index:
        from kgforge import fixtures as fx

        entities = fx.load_entities(spark, args.sf_dir)
        reports.name_index_report(entities).write.mode("overwrite").option(
            "header", True
        ).csv(args.dump_name_index)
        print(json.dumps({"report": "name_index", "out": args.dump_name_index}))
        return

    if args.emit_candidates or args.generate_bom_by_name:
        from kgforge import extract as ex
        from kgforge import fixtures as fx

        entities = fx.load_entities(spark, args.sf_dir)
        transcripts = fx.load_transcripts(spark, args.sf_dir)
        linked = linking.link_mentions(
            ex.extract_mentions(transcripts), entities, strategy=args.strategy
        )
        if args.strict_names:
            linking.check_strict(linked)
        edges = graph.bom_edges_from_linked(linked)
        if args.emit_candidates:
            reports.bom_name_candidates(edges, entities).write.mode(
                "overwrite"
            ).option("header", True).csv(args.emit_candidates)
            print(json.dumps({"report": "bom_name_candidates", "out": args.emit_candidates}))
        else:
            reports.bom_by_name_report(edges, entities).write.mode(
                "overwrite"
            ).option("header", True).csv(args.generate_bom_by_name)
            print(json.dumps({"report": "bom_by_name", "out": args.generate_bom_by_name}))
        return

    extra = None
    if args.bom:
        from kgforge import sources
        from kgforge import fixtures as fx

        if args.bom_by_name:
            extra = sources.read_bom_csv_by_name(
                spark,
                args.bom,
                fx.load_entities(spark, args.sf_dir),
                strategy=args.strategy,
                strict=args.strict_names,
            )
        else:
            extra = sources.read_bom_csv(spark, args.bom)

    print(
        json.dumps(
            run_pipeline(
                spark,
                args.sf_dir,
                args.out_dir,
                strategy=args.strategy,
                strict=args.strict_names,
                extra_edges=extra,
            ),
            indent=1,
            default=int,
        )
    )


if __name__ == "__main__":  # pragma: no cover
    main()

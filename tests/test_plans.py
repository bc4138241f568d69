"""Physical-plan assertions: the optimizations we claim must be visible
in the executed plan (SURVEY.md §4.3) — broadcast vs salted-shuffle
linking, predicate pushdown into the parquet scan, and no Python
crossings in relational stages."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgforge import extract, fixtures, linking


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_linking_uses_broadcast_hash_join(spark, sf_dir):
    t = fixtures.load_transcripts(spark, sf_dir)
    e = fixtures.load_entities(spark, sf_dir)
    plan = _plan(linking.link_mentions(extract.extract_mentions(t), e, strategy="broadcast"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_linking_uses_shuffle_join_on_salt(spark, sf_dir):
    t = fixtures.load_transcripts(spark, sf_dir)
    e = fixtures.load_entities(spark, sf_dir)
    plan = _plan(linking.link_mentions(extract.extract_mentions(t), e, strategy="salted"))
    assert "ShuffledHashJoin" in plan
    assert "salt" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    q = fixtures.load_entities(spark, sf_dir).filter(F.col("number") == "42")
    plan = _plan(q)
    # the filter must reach the scan node itself — an empty
    # 'PushedFilters: []' (present in every parquet scan) doesn't count
    assert "DataFilters: [isnotnull(p_partkey" in plan or "PushedFilters: [IsNotNull(p_partkey" in plan


def test_column_pruning_on_projection(spark, sf_dir):
    q = fixtures.load_transcripts(spark, sf_dir).select("conv_id", "turn_idx")
    plan = _plan(q)
    # find the part-side scan explicitly (plan order is not stable) and
    # assert its ReadSchema pruned the unused name/brand columns
    part_scans = [
        chunk for chunk in plan.split("FileScan parquet")[1:] if "part.parquet" in chunk
    ]
    assert part_scans, "no part-side scan found in plan"
    for chunk in part_scans:
        read_schema = chunk.split("ReadSchema")[1][:200]
        assert "p_name" not in read_schema and "p_brand" not in read_schema


def test_direct_edge_assembly_has_no_corpus_shuffle(spark, sf_dir):
    """bom_edges_direct must resolve both slots map-side (4 broadcast
    joins) and shuffle only the map-side-combined distinct edge set —
    exactly one exchange pair (partial/final dedup agg), never a
    corpus-proportional exchange."""
    from kgforge import graph

    # materialize the synthetic transcripts first: in production the
    # text column pre-exists in the Iceberg table — the fixture's
    # synthesis windows must not count against the operator's plan
    t = fixtures.load_transcripts(spark, sf_dir).localCheckpoint(eager=True)
    e = fixtures.load_entities(spark, sf_dir)
    plan = _plan(graph.bom_edges_direct(t, e))
    # 4 resolution joins: dictionary index + number passthrough per slot
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the ONLY corpus-derived shuffle is the dedup exchange on
    # (parent, child) — already map-side-combined to the distinct edge
    # set. Remaining exchanges belong to dictionary/fixture derivation
    # (dim-sized, built once): windows over part/order keys, name-index
    # groupBy. Nothing may shuffle per-mention or per-turn rows.
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    edge_exchanges = [ln for ln in exchanges if "parent" in ln and "child" in ln]
    assert len(edge_exchanges) == 1, exchanges
    for ln in exchanges:
        assert "mention" not in ln and "conv_id" not in ln and "turn_idx" not in ln, ln


def test_relational_stages_have_no_python_crossings(spark, sf_dir):
    t = fixtures.load_transcripts(spark, sf_dir)
    e = fixtures.load_entities(spark, sf_dir)
    linked = linking.link_mentions(extract.extract_mentions(t), e)
    plan = _plan(linked)
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_sql_corpus_scans_cached_graph(spark, sf_dir):
    """The query corpus must read the cached/materialized edge graph,
    not re-run extraction+linking per scan: a recursive CTE or a
    4-branch UNION over an uncached edges_v would re-execute the whole
    corpus pipeline once per branch/iteration (measured 4x cost at
    sf0.01). InMemoryTableScan in the plan is the receipt."""
    from kgforge import sql_api

    df = sql_api.run(spark, sf_dir, sql_api.EDGE_REPORTS_SQL)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan
    # and no Python crossing inside the query-side plan: linking is all
    # JVM expressions, the cache cuts the plan above any UDF anyway
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_hierarchical_imports_run_no_python(spark, tmp_path):
    """The Number+Level CSV read and the workbook level-stack read decode
    with window expressions only: neither executed plan crosses into
    Python."""
    from kgforge import sources
    from tests.util import write_xlsx

    csv = tmp_path / "bom.csv"
    csv.write_text("Number,Level\nA,0\nB,1\nC,2\nD,0\nE,2\n")
    pad = [["export"]] * 4  # the workbook reader skips 4 banner rows
    xlsx = write_xlsx(
        str(tmp_path / "wb.xlsx"),
        sheets={"BOM-Sheet": pad + [["Level", "Number"], [0, "100"], [1, "200"], [2, "300"], [1, "400"]]},
    )
    for edges, want in (
        (sources.read_bom_csv(spark, str(csv)), {("A", "B"), ("B", "C")}),
        (sources.read_excel_bom_edges(spark, xlsx), {("100", "200"), ("200", "300"), ("100", "400")}),
    ):
        assert {(r.parent, r.child) for r in edges.collect()} == want
        plan = _plan(edges)
        for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, node

"""End-to-end reproduction of the reference's PUBLISHED Snowmobile graph.

The reference ships its real dataset (/root/reference/data/Snowmobile.xlsx)
and publishes the resulting graph's counts (docs/GRAPHDB_QUERIES.md:6-20,
docs/IMPLEMENTATION_SUMMARY.md:8-11):

    939 parts * 1,543 hasComponent * 1,543 usedIn * 4,616 partOfAssembly
    8 hasAlternate * 939 hasView/hasState/hasSource/hasRevision * 938 hasPartType

This suite runs kgforge's Spark pipeline (stdlib xlsx reader -> parts scan
with last-wins -> distributed level-stack decode -> transitive closure ->
triple materialize -> distinct) on that exact workbook and pins every
published number.  The triple store holds a SET, so all goldens are
distinct counts.

Two documented reconciliations:
- the 939-part count includes the workbook's duplicated header row
  parsed as a part numbered 'Number' (938 real parts; this is why the
  published hasPartType count is 938 — the one part without a type is
  '100 SNOW' from Snowmobile-Sheet, whose sheet name matches no type
  token, while the 'Number' artifact inherits SoftwarePart last-wins);
- the published TOTAL of 15,313 exceeds the sum of every published
  per-predicate count plus the type/name/label triples by 92; those 92
  sit in predicates the docs do not itemize and are not derivable from
  the shipped workbook (likely a describe-link sheet present in the
  snapshot that produced the total).  The pinned total here (15,221) is
  the full distinct triple set this workbook yields; all TEN itemized
  published counts match exactly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kgforge import pipeline, sources

SNOWMOBILE = "/root/reference/data/Snowmobile.xlsx"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SNOWMOBILE), reason="reference dataset not present"
)

ONT = "urn:ontology:"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"


@pytest.fixture(scope="module")
def stats(spark):
    return pipeline.import_workbook(spark, SNOWMOBILE)


def test_part_count_golden(stats):
    assert stats["n_parts"] == 939  # docs/GRAPHDB_QUERIES.md:6


def test_relationship_goldens(stats):
    per = stats["per_predicate"]
    assert per[ONT + "hasComponent"] == 1543  # docs/GRAPHDB_QUERIES.md:10
    assert per[ONT + "usedIn"] == 1543  # :11
    assert per[ONT + "partOfAssembly"] == 4616  # :12
    assert per[ONT + "hasAlternate"] == 8  # :13


def test_metadata_goldens(stats):
    per = stats["per_predicate"]
    assert per[ONT + "hasView"] == 939  # docs/GRAPHDB_QUERIES.md:16
    assert per[ONT + "hasState"] == 939  # :17
    assert per[ONT + "hasPartType"] == 938  # :18
    assert per[ONT + "hasSource"] == 939  # :19
    assert per[ONT + "hasRevision"] == 939  # :20
    assert per[RDF_TYPE] == 939
    assert per[ONT + "name"] == 939
    assert per[RDFS_LABEL] == 939


def test_total_distinct_triples(stats):
    # Sum of all families this workbook yields; see module docstring for
    # the 92-triple reconciliation vs the published 15,313.
    assert stats["total_triples"] == 15221


def test_flagship_assembly_membership(stats, spark):
    """docs/IMPLEMENTATION_SUMMARY.md:40 — 930 unique parts are
    partOfAssembly '100 SNOW' (the root assembly)."""
    edges = sources.read_excel_bom_edges(spark, SNOWMOBILE)
    from kgforge import graph

    closure = graph.transitive_closure(edges)
    n = closure.filter(closure.parent == "100 SNOW").count()
    assert n == 930


def test_alternate_links_shape(spark):
    alts = sources.read_excel_alternates(spark, SNOWMOBILE)
    rows = alts.collect()
    assert len(rows) == 8
    assert all(r["replacement_type"] for r in rows)


def test_parts_contains_flagship_and_header_artifact(spark):
    parts = sources.read_excel_parts(spark, SNOWMOBILE)
    flag = parts.filter(parts.number == "100 SNOW").first()
    assert flag is not None and flag["name"] == "SNOWMOBILE MASTER"
    assert flag["part_type"] is None  # sheet name matches no type token
    # the reference's duplicated-header quirk, kept deliberately
    artifact = parts.filter(parts.number == "Number").first()
    assert artifact is not None and artifact["name"] == "Name"


HELICOPTER = "/root/reference/data/Helicopter.xlsx"
MOWER = "/root/reference/data/Mower.xlsx"


@pytest.mark.skipif(not os.path.exists(HELICOPTER), reason="dataset absent")
def test_helicopter_workbook_end_to_end(spark):
    """The reference's second real dataset — no published goldens, so
    these are deterministic regression pins. Helicopter exercises paths
    Snowmobile cannot: BasicNode/StructureNode part_type tokens and a
    real WTPartDescribeLink-Sheet (39 describes over 38 documents with
    revision/org/container metadata flowing into document triples)."""
    stats = pipeline.import_workbook(spark, HELICOPTER)
    per = stats["per_predicate"]
    assert stats["n_parts"] == 771
    assert per[ONT + "hasComponent"] == 971
    assert per[ONT + "usedIn"] == 971
    assert per[ONT + "partOfAssembly"] == 5007
    assert per[ONT + "describes"] == 39
    assert per[RDF_TYPE] == 771 + 38  # parts + distinct documents
    assert per[ONT + "hasOrganization"] == 38
    assert per[ONT + "inContainer"] == 38
    assert stats["total_triples"] == 13306


@pytest.mark.skipif(not os.path.exists(MOWER), reason="dataset absent")
def test_mower_workbook_end_to_end(spark):
    stats = pipeline.import_workbook(spark, MOWER)
    per = stats["per_predicate"]
    assert stats["n_parts"] == 594
    assert per[ONT + "hasComponent"] == 663
    assert per[ONT + "partOfAssembly"] == 1809
    assert per[ONT + "describes"] == 5
    assert stats["total_triples"] == 7912


HELI_IMPORT = "/root/reference/data/Helicopter_Import.xlsx"
HELI_CHANGES_CSV = "/root/reference/data/helicopter_changes.csv"


@pytest.mark.skipif(not os.path.exists(HELI_IMPORT), reason="dataset absent")
def test_change_records_match_shipped_artifact(spark):
    """The change-import leg on the reference's real change workbook:
    read_excel_changes must reproduce the reference's OWN shipped
    artifact (data/helicopter_changes.csv, written by its change
    importer) record-for-record, and every change must AFFECTS_PART-link
    to a known Helicopter part."""
    import csv

    ch = sources.read_excel_changes(spark, HELI_IMPORT).filter(
        "source_sheet = 'ChangeInfo-Sheet'"
    )
    got = {
        (r["revision"], r["state"], r["part_number"], r["part_name"])
        for r in ch.collect()
    }
    with open(HELI_CHANGES_CSV) as f:
        rows = [tuple(r) for r in csv.reader(f)][1:]
    want = {
        r for r in rows if r != ("Revision", "State", "Number", "Name")
    }  # artifact carries one leaked dup-header row
    assert got == want and len(got) == 694

    parts = sources.read_excel_parts(spark, HELICOPTER)
    links = sources.change_affects_links(ch, parts)
    assert links.count() == 694  # every change resolves to a real part
    # change ids are content-stable (sha2), so re-reading yields the
    # exact same id set — the idempotent-MERGE contract
    again = sources.read_excel_changes(spark, HELI_IMPORT).filter(
        "source_sheet = 'ChangeInfo-Sheet'"
    )
    assert {r["change_id"] for r in ch.collect()} == {
        r["change_id"] for r in again.collect()
    }


@pytest.mark.skipif(not os.path.exists(HELI_IMPORT), reason="dataset absent")
def test_sniffed_parts_recover_header_at_row_zero(spark):
    """Helicopter_Import.xlsx exports its parts sheet with the header at
    row 0 — the reference's fixed skiprows=4 loader silently reads zero
    parts from it. sniffed=True re-scans for the header row and recovers
    the full catalog (694 parts + the reference-faithful near-mirror
    header-residue row); the standard mode and the goldens stay
    untouched (Snowmobile parses identically either way)."""
    std = sources.read_excel_parts(spark, HELI_IMPORT)
    assert std.count() == 0  # reference behavior: unreadable layout
    sn = sources.read_excel_parts(spark, HELI_IMPORT, sniffed=True)
    assert sn.count() == 695
    flag = sn.filter(sn.number == "0048695").first()
    assert flag is not None and flag["name"] == "STEALTH FUSELAGE ASSEMBLY"
    # sniffed mode is a no-op on standard-layout workbooks
    assert sources.read_excel_parts(spark, SNOWMOBILE, sniffed=True).count() == 939


HELI_BOM_CSV = "/root/reference/data/Helicopter_bom.csv"
BOM_ANALYSIS_JSON = "/root/reference/data/helicopter_bom_analysis.json"
CHANGE_ANALYSIS_JSON = "/root/reference/data/helicopter_change_analysis.json"


@pytest.mark.skipif(not os.path.exists(BOM_ANALYSIS_JSON), reason="dataset absent")
def test_bom_summary_matches_shipped_analysis_json(spark):
    """analysis.bom_name_summary on the real Helicopter_bom.csv must
    reproduce the reference's OWN shipped analysis artifact
    (data/helicopter_bom_analysis.json, written by
    scripts/data_processing/analyze_helicopter_data.py). pandas
    value_counts breaks count ties by first appearance while the Spark
    top-k breaks them by name, so the top_parents comparison is
    per-name count equality plus count-multiset equality — order-free,
    value-exact."""
    import json

    from kgforge import analysis

    got = analysis.bom_name_summary(spark, HELI_BOM_CSV)
    with open(BOM_ANALYSIS_JSON) as f:
        want = json.load(f)
    assert got["total_relationships"] == want["total_relationships"] == 2072
    assert got["unique_parents"] == want["unique_parents"] == 786
    assert got["unique_children"] == want["unique_children"] == 930
    assert sorted(got["top_parents"].values()) == sorted(want["top_parents"].values())
    # every parent the reference names must carry the same child count
    full = {
        r["parent"]: r["n_children"]
        for r in spark.read.option("header", True)
        .csv(HELI_BOM_CSV)
        .groupBy(F.col("Parent Name").alias("parent"))
        .count()
        .withColumnRenamed("count", "n_children")
        .collect()
    }
    for name, n in want["top_parents"].items():
        assert full[name] == n


@pytest.mark.skipif(not os.path.exists(CHANGE_ANALYSIS_JSON), reason="dataset absent")
def test_change_analysis_matches_shipped_json(spark):
    """analysis.change_analysis_summary on the real Helicopter.xlsx must
    reproduce the shipped helicopter_change_analysis.json's
    analysis_summary (53 parts / 709 change records), and the 53
    matched parts must be the SAME rows — (number, name) multiset
    equality against the JSON's helicopter_parts list (double-counting
    across the name- and number-criteria preserved, exactly like the
    reference's two extends). The JSON's change_model block is a
    hardcoded catalog in the reference script (not data-derived), so
    it has no Spark analogue — documented in kgforge/analysis.py."""
    import json
    from collections import Counter

    from kgforge import analysis

    got = analysis.change_analysis_summary(spark, HELICOPTER)
    with open(CHANGE_ANALYSIS_JSON) as f:
        want = json.load(f)
    assert got["total_helicopter_parts"] == want["analysis_summary"]["total_helicopter_parts"] == 53
    assert got["total_change_records"] == want["analysis_summary"]["total_change_records"] == 709

    hits = analysis.helicopter_part_hits(spark, HELICOPTER)
    got_parts = Counter((r["number"], r["name"]) for r in hits.collect())
    want_parts = Counter(
        (
            p["Number"] if isinstance(p["Number"], str) else None,
            p["Name"] if isinstance(p["Name"], str) else None,
        )
        for p in want["helicopter_parts"]
    )
    assert got_parts == want_parts


@pytest.mark.skipif(not os.path.exists(HELI_IMPORT), reason="dataset absent")
def test_change_graph_analytics_on_real_changes(spark):
    """DEPENDS_ON / RELATED_TO over the reference's REAL change set (the
    694 artifact-matched ChangeInfo records). The shipped
    change-analysis JSON carries only a static change_model catalog —
    no pairwise counts — so these goldens are deterministic self-pins
    (regression values), with the ordering timestamp derived from the
    revision ordinal because the workbook ships no change dates
    (documented non-derivable, like the Snowmobile 92-triple residue).
    """
    from kgforge import graph

    ch = sources.read_excel_changes(spark, HELI_IMPORT).filter(
        "source_sheet = 'ChangeInfo-Sheet'"
    )
    # Windchill-style revision ordinal: '-' (initial) < numeric < letter
    # revisions — deterministic, documented; the workbook has no dates
    ordinal = F.expr(
        "CASE WHEN revision = '-' THEN 0 "
        "WHEN try_cast(revision as int) IS NOT NULL THEN try_cast(revision as int) "
        "ELSE 10 + ascii(revision) - ascii('A') END"
    )
    changes = ch.select(
        "change_id",
        F.col("part_number").alias("affected_number"),
        F.col("state").alias("change_type"),
        F.date_add(F.lit("1970-01-01").cast("date"), ordinal.cast("int")).alias("ts"),
    ).cache()
    # the real change set carries exactly ONE change per part (the 694
    # artifact-matched records cover 694 distinct parts), so DEPENDS_ON
    # (same part, ordered) is necessarily empty — a real property of
    # the dataset, pinned as such
    assert changes.select("affected_number").distinct().count() == 694
    dep = graph.depends_on(changes)
    rel = graph.related_to(changes, dep)
    n_dep, n_rel = dep.count(), rel.count()
    assert n_dep == 0
    # RELATED_TO: same state (the set's only type-like field: RELEASED
    # 586 / DESIGN 97 / PRODUCTIONCHANGE 11), strictly-later revision
    # ordinal, minus DEPENDS_ON — deterministic self-pin
    assert n_rel == 613

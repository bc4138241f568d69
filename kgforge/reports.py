"""Diagnostic report sinks (SURVEY.md §2.1 K3/K4): name index, resolution
report, candidates, skip log — the reference's side-effect CSV/JSON dumps
(/root/reference/src/utils/spreadsheet_loader.py:1083-1352, 1424-1437)
as DataFrame writes."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.linking import build_name_index, enrich_number_to_name


def name_index_report(entities: DataFrame) -> DataFrame:
    """dump_name_index (:1252-1259): one row per (name, number) pair,
    plus the candidate count so ambiguity is visible."""
    idx = build_name_index(entities)
    return idx.select(
        "name",
        F.explode("candidates").alias("number"),
        F.size("candidates").alias("n_candidates"),
    )


def resolution_report(linked: DataFrame) -> DataFrame:
    """Per-mention resolution report (:1396-1423): status + resolution."""
    return linked.select(
        "conv_id", "turn_idx", "slot", "mention", "status", "resolved_number"
    )


def skip_log(linked: DataFrame) -> DataFrame:
    """Skipped (unresolved) mentions with reason (:1402-1408)."""
    return (
        linked.filter(F.col("status") != "resolved")
        .groupBy("mention", "status")
        .agg(F.count("*").alias("n_occurrences"))
    )


def bom_by_name(edges: DataFrame, entities: DataFrame) -> DataFrame:
    """generate_bom_by_name_file (:1083-1121): edges re-expressed as
    display names, falling back to the raw number (J2), plus the
    unmapped count the reference logs (:1113-1117) carried as explicit
    *_name_missing join-miss flags (sum them for the tally)."""
    named = enrich_number_to_name(edges, entities, "parent")
    named = enrich_number_to_name(named, entities, "child")
    return named.select(
        F.col("parent_name"), F.col("child_name"), "parent", "child",
        "parent_name_missing", "child_name_missing",
    )


def bom_by_name_report(edges: DataFrame, entities: DataFrame) -> DataFrame:
    """The reference's 4-column bom_by_name file (:1107-1110): names
    first, then numbers; the *_name_missing flags are internal tally
    inputs, not part of the report contract."""
    return bom_by_name(edges, entities).select("parent_name", "child_name", "parent", "child")


def bom_name_candidates(edges: DataFrame, entities: DataFrame) -> DataFrame:
    """emit_bom_name_candidates (:1320-1352): the number-based edge list
    annotated with both endpoints' display names (number kept alongside,
    falling back to the number when unmapped) — the reference's
    4-column candidates CSV (:1350)."""
    named = bom_by_name(edges, entities)
    return named.select(
        F.col("parent").alias("parent_number"),
        F.col("parent_name"),
        F.col("child").alias("child_number"),
        F.col("child_name"),
    )


def write_reports(
    linked: DataFrame, entities: DataFrame, edges: DataFrame, out_dir: str
) -> None:
    """Write the CSV/JSON report family (K3/K4)."""
    name_index_report(entities).write.mode("overwrite").option("header", True).csv(
        f"{out_dir}/name_index"
    )
    resolution_report(linked).write.mode("overwrite").option("header", True).csv(
        f"{out_dir}/resolution_report"
    )
    skip_log(linked).write.mode("overwrite").json(f"{out_dir}/skip_log")
    bom_by_name_report(edges, entities).write.mode("overwrite").option(
        "header", True
    ).csv(f"{out_dir}/bom_by_name")

"""Dataset-analysis legs mirroring the reference's analysis scripts.

The reference ships two analysis artifacts next to its data —
``data/helicopter_bom_analysis.json`` (written by
scripts/data_processing/analyze_helicopter_data.py:54-79 over the
name-based BOM CSV) and ``data/helicopter_change_analysis.json``
(analyze_helicopter_changes.py:21-101 over three sheets of
Helicopter.xlsx). Both are pandas one-offs; here the same numbers come
out of Spark aggregations so the analysis runs on a corpus-sized input,
and the shipped JSONs become golden oracles
(tests/test_snowmobile_golden.py pins them).

Pandas-emulation notes (what makes the numbers land exactly):
- the analysis script reads each sheet with ``pd.read_excel`` defaults,
  so sheet row 0 is consumed as the (discarded) pandas columns, fully
  empty rows drop, the FIRST surviving row is promoted to the header,
  and everything after — including the workbook's duplicated header row
  — is data (analyze_helicopter_changes.py:33-38);
- sheets with <=3 surviving rows are skipped (:35 ``len(df_clean) > 3``
  — the 2-data-row Helicopter-Sheet is skipped by the reference too);
- the Name/Number regex filters are case-insensitive with ``na=False``
  (:44-53): non-string cells never match;
- a row matching BOTH the name and the number criterion is counted
  twice (:46/:53 ``extend`` on two masks) — hence ``matched_by``;
- change columns are headers containing a keyword CASE-SENSITIVELY
  (:57-58), and change records are rows of those columns after
  ``dropna(how='all')`` (:62).

The workbook-grid lift is driver-side — the same documented
dimension-sized-catalog pattern as sources.read_excel_parts — and every
filter/aggregate runs in Spark so the same code pointed at a parquet
lake of (sheet, row_idx, col, value) cells is already distributed.
"""

from __future__ import annotations

from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge import sources, xlsx

ANALYSIS_SHEETS: tuple[str, ...] = (
    "MechanicalPart-Sheet",
    "Helicopter-Sheet",
    "WTPart-Sheet",
)
# analyze_helicopter_changes.py:57 — matched case-SENSITIVELY against
# the promoted header text
CHANGE_KEYWORDS: tuple[str, ...] = (
    "Change",
    "Revision",
    "Version",
    "Date",
    "State",
    "Effectivity",
)
NAME_PATTERN = "(?i)helicopter|Helicopter|HELI"  # :44, case=False
NUMBER_PATTERN = "(?i)HEL|HELI|600"  # :51, case=False


def bom_name_summary(spark: SparkSession, path: str, top_n: int = 10) -> dict:
    """analyze_helicopter_data.py:54-79 as Spark aggregations over a
    name-based BOM CSV: row count, distinct parents/children, and the
    top-``top_n`` parents by child count (ties broken by name for
    determinism; pandas ``value_counts`` breaks them by first
    appearance, so tests compare the count VALUES per named parent, not
    the ordering). Returns the shipped JSON's shape."""
    df = spark.read.option("header", True).csv(path)
    pair = sources.resolve_name_pair_columns(df.columns)
    if pair is None:
        raise ValueError(f"no name-pair columns in header {df.columns}")
    p_col, c_col = pair
    agg = df.agg(
        F.count("*").alias("total"),
        F.countDistinct(p_col).alias("parents"),
        F.countDistinct(c_col).alias("children"),
    ).first()
    top = (
        df.groupBy(F.col(p_col).alias("parent"))
        .agg(F.count("*").alias("n_children"))
        .orderBy(F.desc("n_children"), F.asc("parent"))
        .limit(top_n)
        .collect()
    )
    return {
        "total_relationships": agg["total"],
        "unique_parents": agg["parents"],
        "unique_children": agg["children"],
        "top_parents": {r["parent"]: r["n_children"] for r in top},
    }


def _pandas_style_tables(
    path: str, sheets: Sequence[str]
) -> Iterator[tuple[str, list[str], list[list]]]:
    """Yield (sheet, promoted_headers, body_rows) per target sheet with
    the reference analysis script's pandas-default framing (module
    docstring). Body cells keep their native type — string filters must
    treat non-strings as never-matching (pandas ``.str`` + na=False)."""
    wb = xlsx.read_workbook(path, sheets=sheets)
    for s in sheets:
        grid = wb.get(s)
        if not grid:
            continue
        width = max(len(r) for r in grid)
        rows = [list(r) + [None] * (width - len(r)) for r in grid]
        data = [r for r in rows[1:] if any(c is not None for c in r)]
        if len(data) <= 3:
            continue
        headers = [str(c) for c in data[0]]
        yield s, headers, data[1:]


def sheet_cells(
    spark: SparkSession, path: str, sheets: Sequence[str] = ANALYSIS_SHEETS
) -> DataFrame:
    """Long-form cell frame (sheet, row_idx, col, value, is_string) for
    the target sheets — the lifted input every analysis below filters
    in Spark. ``value`` is the stringified cell; ``is_string`` records
    whether the cell was a string in the workbook (pandas ``.str``
    filters see only those)."""
    rows: list[tuple] = []
    for s, headers, body in _pandas_style_tables(path, sheets):
        for i, r in enumerate(body):
            for c, v in zip(headers, r):
                rows.append((s, i, c, None if v is None else str(v), isinstance(v, str)))
    return spark.createDataFrame(
        rows, "sheet string, row_idx int, col string, value string, is_string boolean"
    )


def helicopter_part_hits(
    spark: SparkSession, path: str, sheets: Sequence[str] = ANALYSIS_SHEETS
) -> DataFrame:
    """(sheet, row_idx, number, name, matched_by) — the analysis
    script's two masks (:44-53): name ~ HELI (ci) and number ~
    HEL|600 (ci), duplicates across the two criteria KEPT (the script
    extends both hit lists into one)."""
    cells = sheet_cells(spark, path, sheets)
    named = (
        cells.filter(F.col("col").isin("Name", "Number"))
        .groupBy("sheet", "row_idx")
        .pivot("col", ["Name", "Number"])
        .agg(
            F.first(
                F.when(F.col("is_string"), F.col("value")), ignorenulls=True
            )
        )
        .withColumnRenamed("Name", "name")
        .withColumnRenamed("Number", "number")
    )
    by_name = named.filter(F.col("name").rlike(NAME_PATTERN)).withColumn(
        "matched_by", F.lit("name")
    )
    by_number = named.filter(F.col("number").rlike(NUMBER_PATTERN)).withColumn(
        "matched_by", F.lit("number")
    )
    return by_name.unionByName(by_number).select(
        "sheet", "row_idx", "number", "name", "matched_by"
    )


def change_record_rows(
    spark: SparkSession, path: str, sheets: Sequence[str] = ANALYSIS_SHEETS
) -> DataFrame:
    """(sheet, row_idx) of every change record: rows with ANY non-null
    cell in a change-keyword column (:57-62, dropna(how='all') on the
    keyword projection)."""
    cells = sheet_cells(spark, path, sheets)
    kw = F.lit(False)
    for k in CHANGE_KEYWORDS:
        kw = kw | F.col("col").contains(k)
    return (
        cells.filter(kw & F.col("value").isNotNull())
        .select("sheet", "row_idx")
        .dropDuplicates()
    )


def change_analysis_summary(spark: SparkSession, path: str) -> dict:
    """The shipped helicopter_change_analysis.json's
    ``analysis_summary`` block (:94-99). The JSON's ``change_model`` is
    a hardcoded catalog in the reference script (:103-137) — not
    derivable from data, so not reproduced here."""
    return {
        "total_helicopter_parts": helicopter_part_hits(spark, path).count(),
        "total_change_records": change_record_rows(spark, path).count(),
    }

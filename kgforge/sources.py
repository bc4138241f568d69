"""Edge-list CSV + Excel workbook sources (SURVEY.md §2.1 S1-S7) with
sniffed shape routing — the reference's ``parse_bom_csv``
(/root/reference/src/utils/spreadsheet_loader.py:152-252) and
``generate_bom_from_excel``'s in-sheet hierarchical parse (:1160-1182)
as distributed reads.

The reference accepts two CSV shapes and routes by header:

- *hierarchical* (``Number`` + ``Level`` columns): rows are an indented
  BOM export whose parentage is ORDER-DEPENDENT.  NOTE a deliberate
  divergence: the reference's ``--bom`` CSV flow assigns children to
  previous-level parts ROUND-ROBIN by index
  (``_parse_hierarchical_bom_csv`` :194-252 — kept verbatim as
  :func:`kgforge.graph.level_stack_round_robin`, which the gate checks
  but no reader routes to), while its in-Excel hierarchical parse
  (:1160-1182) uses the order-correct LEVEL STACK. The level stack is
  what produced the reference's published Snowmobile graph (1,543
  distinct hasComponent edges — reproduced by
  tests/test_snowmobile_golden.py), so this reader decodes
  hierarchical CSVs with the stack, always;
- *simple parent-child* (:172-193): two columns found by synonym
  priority (:func:`resolve_edge_columns`), normalized, one edge per row.

Scale strategy: the simple shape is a plain distributed CSV scan. The
hierarchical shape needs per-file row ORDER, which a split CSV scan does
not guarantee — each file is read whole (``wholetext``), split to
(file, row_idx, line), per-line CSV-parsed JVM-side (``from_csv``), and
decoded by :func:`kgforge.graph.level_stack_decode` (window expressions,
no Python) with the file as the group. ``read_bom_csv`` and
``convert_hierarchical_bom`` share that one parse. One export file is
one bounded sheet (the reference loads the whole CSV on one machine); a
corpus of many exports parallelizes across files. Embedded newlines
inside quoted cells are not supported in the hierarchical shape
(documented limitation; the reference's exports never produce them).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgforge import graph, xlsx
from kgforge.normalize import normalize_number_col

# Priority-ordered synonym lists for the simple parent-child edge shape
# (reference :1185-1186). Matching is case-insensitive on stripped names.
PARENT_COLUMN_SYNONYMS = ("parent number", "parent", "number", "parent part number")
CHILD_COLUMN_SYNONYMS = ("child number", "child", "component id", "child part number")

# Column-pair candidates for the NAME-based BOM shape, in priority order
# (reference parse_bom_csv_by_name :271-279).
NAME_PAIR_SYNONYMS = (
    ("parent name", "child name"),
    ("name", "component name"),
    ("name", "component id"),
)


def _cell(v) -> str:
    """A header cell's stripped text; '' for an empty cell."""
    return "" if v is None else str(v).strip()


def resolve_edge_columns(columns: Sequence[str]) -> tuple[str, str] | None:
    """Pick the (parent, child) column pair from an edge CSV header by
    synonym priority (reference :1185-1195). Returns the ORIGINAL column
    names, or None when either side is missing (caller falls back to the
    hierarchical level-stack shape, as the reference does)."""
    by_lower = {}
    for c in columns:
        by_lower.setdefault(_cell(c).lower(), c)
    parent = next((by_lower[s] for s in PARENT_COLUMN_SYNONYMS if s in by_lower), None)
    child = next((by_lower[s] for s in CHILD_COLUMN_SYNONYMS if s in by_lower), None)
    if parent is None or child is None:
        return None
    if parent == child:
        # 'number' can satisfy the parent list while 'child' names the
        # child side; a single column can't be both ends
        return None
    return parent, child


def resolve_name_pair_columns(columns: Sequence[str]) -> tuple[str, str] | None:
    """Pick the (parent-name, child-name) column pair for the NAME-based
    BOM shape (reference parse_bom_csv_by_name :271-279): first synonym
    PAIR fully present wins; original casing returned."""
    by_lower = {}
    for c in columns:
        by_lower.setdefault(_cell(c).lower(), c)
    for p, c in NAME_PAIR_SYNONYMS:
        if p in by_lower and c in by_lower:
            return by_lower[p], by_lower[c]
    return None


def read_bom_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a BOM edge CSV (file, directory, or glob) into deduplicated
    ``(parent, child)`` edges, routing by the sniffed header shape. All
    files under one path must share one header (one export family).
    Number+Level files are decoded with the order-correct level stack
    (module docstring).

    Raises ``ValueError`` when neither shape matches — the caller
    decides whether to skip the input (the reference logs and returns
    no edges) or fail.
    """
    header_df = spark.read.option("header", True).csv(path)
    columns = [c for c in header_df.columns]
    lower = {str(c).strip().lower(): c for c in columns}

    if "number" in lower and "level" in lower:
        return _decode_levels(_read_hierarchical(spark, path, columns, lower)).dropDuplicates()

    pair = resolve_edge_columns(columns)
    if pair is None:
        raise ValueError(
            f"no BOM shape in header {columns}: need Number+Level or a "
            "parent/child column pair"
        )
    parent_col, child_col = pair
    edges = header_df.select(
        normalize_number_col(F.col(parent_col)).alias("parent"),
        normalize_number_col(F.col(child_col)).alias("child"),
    )
    # reference drops rows where either side is empty (:1202-1204);
    # dedup is the importer's edge-dedup step (:1221), folded in here
    return (
        edges.filter((F.col("parent") != "") & (F.col("child") != ""))
        .dropDuplicates()
    )


def _read_hierarchical(
    spark: SparkSession, path: str, columns: list[str], lower: dict[str, str]
) -> DataFrame:
    """Order-preserving parse of Number+Level files into
    ``(group_id, row_idx, level, number)`` rows: one file = one group."""
    n_idx = columns.index(lower["number"])
    l_idx = columns.index(lower["level"])
    # positional schema: header casing/spacing never breaks from_csv
    line_schema = ", ".join(f"c{i} string" for i in range(len(columns)))

    files = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("group_id"), F.col("value")
    )
    lines = files.select(
        "group_id",
        F.posexplode(F.split(F.col("value"), "\r?\n")).alias("row_idx", "line"),
    )
    return (
        lines.filter((F.col("row_idx") > 0) & (F.trim(F.col("line")) != ""))
        .select(
            "group_id",
            "row_idx",
            F.from_csv(F.col("line"), line_schema).alias("r"),
        )
        .select(
            "group_id",
            "row_idx",
            # try_cast: an unparseable level must null out (ANSI cast
            # throws), matching the reference's try/except skip :1170-1172
            F.col(f"r.c{l_idx}").try_cast("int").alias("level"),
            normalize_number_col(F.col(f"r.c{n_idx}")).alias("number"),
        )
        # reference skips rows with an unparseable level or empty number
        # (:1167-1174); the int cast nulls the former
        .filter(F.col("level").isNotNull() & (F.col("number") != ""))
    )


def _decode_levels(levels: DataFrame) -> DataFrame:
    """Level-stack decode sized by the rows' own deepest level (one
    ``max(level)`` job); no rows decode to no edges."""
    max_level = levels.agg(F.max("level")).first()[0]
    return graph.level_stack_decode(levels, max_level=int(max_level or 0))


def convert_hierarchical_bom(spark: SparkSession, path: str) -> DataFrame:
    """The reference's hierarchical→parent-child conversion utility
    (scripts/convert_hierarchical_bom.py): the level-stack decode with
    duplicates PRESERVED — the shipped ``data/bom_parent_child.csv``
    artifact is this script's raw output (2,072 dup-bearing rows whose
    distinct set is the published 1,543), so the converter keeps row
    multiplicity; the ``read_bom_csv`` ingestion path dedups.
    """
    columns = spark.read.option("header", True).csv(path).columns
    lower = {str(c).strip().lower(): c for c in columns}
    if "number" not in lower or "level" not in lower:
        raise ValueError(f"not a hierarchical BOM header: {columns}")
    return _decode_levels(_read_hierarchical(spark, path, columns, lower))


def read_bom_csv_by_name(
    spark: SparkSession,
    path: str,
    entities: DataFrame,
    strategy: str = "broadcast",
    strict: bool = False,
) -> DataFrame:
    """S5: NAME-based BOM CSV -> resolved (parent, child) number edges.

    Mirrors the reference's two-step flow: ``parse_bom_csv_by_name``
    (:254-296 — synonym column-pair detection, in-data duplicated-header
    drop) feeding ``resolve_edges_by_name`` (:1055-1080) — here the
    resolution is the SAME distributed dictionary join as transcript
    linking (:func:`kgforge.linking.link_mentions`, keyed on the edge
    pair instead of the turn): exactly-one-candidate resolves, ambiguous
    and unknown edges drop (or raise under ``strict``), a name that IS a
    known number passes through, self-loops drop, edges dedup.
    """
    from kgforge import linking

    df = spark.read.option("header", True).csv(path)
    pair_cols = resolve_name_pair_columns(df.columns)
    if pair_cols is None:
        raise ValueError(
            f"no name-based BOM shape in header {df.columns}: need one of "
            f"{NAME_PAIR_SYNONYMS}"
        )
    p_col, c_col = pair_cols
    # reference drops a duplicated header row that leaked into the data
    # (:264-268, first data row only). Distributed form (no row order):
    # drop rows that mirror the header across EVERY column — a
    # legitimate row whose two name cells merely coincide with the
    # header strings survives as long as any other column differs
    # (eqNullSafe: a null cell never equals a header name)
    header_mirror = None
    for c in df.columns:
        cond = F.trim(F.col(c)).eqNullSafe(F.lit(str(c).strip()))
        header_mirror = cond if header_mirror is None else (header_mirror & cond)
    # the reference additionally drops a FIRST row whose values are a
    # superset of the two name-column headers (:264-268) — so a leaked
    # header row whose extra cells parsed as null (trailing commas)
    # would survive the all-columns mirror above and become a bogus
    # name edge. Distributed form: also drop rows whose name cells both
    # mirror their headers AND whose every other column is null or
    # mirrors its header. Residual divergence (documented): a first row
    # with header name cells plus a DIVERGENT non-null extra cell is
    # dropped by the reference (first-row superset) but kept here — in
    # a distributed read that row is indistinguishable from a
    # legitimate part actually named 'Parent Name' appearing anywhere
    # in the file, and keeping it matches the reference's own handling
    # of every row past the first.
    name_header_mirror = F.trim(F.col(p_col)).eqNullSafe(
        F.lit(str(p_col).strip())
    ) & F.trim(F.col(c_col)).eqNullSafe(F.lit(str(c_col).strip()))
    for c in df.columns:
        if c in (p_col, c_col):
            continue
        other_ok = F.col(c).isNull() | F.trim(F.col(c)).eqNullSafe(F.lit(str(c).strip()))
        name_header_mirror = name_header_mirror & other_ok
    pairs = (
        df.filter(~header_mirror & ~name_header_mirror)
        .select(
            F.trim(F.col(p_col)).alias("p_name"), F.trim(F.col(c_col)).alias("c_name")
        )
        .filter((F.col("p_name") != "") & (F.col("c_name") != ""))
        # resolution is a pure function of the pair -> dedup before the
        # dictionary join, not after
        .dropDuplicates()
    )
    mentions = pairs.selectExpr(
        "p_name", "c_name",
        "stack(2, 'parent', p_name, 'ref', c_name) AS (slot, mention)",
    )
    linked = linking.link_mentions(
        mentions, entities, strategy=strategy, key_cols=("p_name", "c_name", "slot")
    )
    if strict:
        linking.check_strict(linked)
    per_pair = linked.groupBy("p_name", "c_name").agg(
        F.max(
            F.when((F.col("slot") == "parent") & (F.col("status") == "resolved"),
                   F.col("resolved_number"))
        ).alias("parent"),
        F.max(
            F.when((F.col("slot") == "ref") & (F.col("status") == "resolved"),
                   F.col("resolved_number"))
        ).alias("child"),
    )
    return (
        per_pair.filter(F.col("parent").isNotNull() & F.col("child").isNotNull())
        .filter(F.col("parent") != F.col("child"))
        .select("parent", "child")
        .dropDuplicates()
    )


# ------------------------------------------------------------ Excel (S1-S3, S6, S7)
#
# Workbooks are DIMENSION inputs (parts catalogs / link sheets, 10^3-10^5
# rows) read once on the driver by the stdlib reader (kgforge.xlsx) and
# parallelized into DataFrames; every set-level semantic (last-wins
# overwrite, normalization, dedup, level-stack decode) runs IN SPARK so
# the same operators serve a 10^12-row fact-side source unchanged. The
# parts and BOM readers scan every sheet, as the reference's do; only a
# link-sheet reader parses its one sheet.

_PART_TYPE_TOKENS = (
    "MechanicalPart",
    "SoftwarePart",
    "Variant",
    "WTPart",
    "BasicNode",
    "StructureNode",
)

_PARTS_SCHEMA = (
    "seq bigint, number string, name string, type string, source string, "
    "view string, state string, revision string, container string, "
    "part_type string"
)


def _cell_str(v) -> str | None:
    """Reference cell-to-string semantics: missing -> None, integral
    float -> str(int) (normalize_part_number :35-42 for numbers; the
    metadata fields go through plain str() :99-107, where a pandas
    float column renders '1.0' — parts sheets store these as text, so
    the collapse only ever fires on true numeric cells)."""
    if v is None:
        return None
    if isinstance(v, float):
        return str(int(v)) if v.is_integer() else str(v)
    return str(v)


_PARTS_HEADER = {"Number", "Name"}
_PARTS_COLUMNS = ("Number", "Name", "Type", "Source", "View", "State", "Revision", "Container")


def _cells(t: xlsx.Table, row: list, columns: Sequence[str]) -> tuple:
    """``row``'s cells under ``columns`` as reference strings; a column
    the sheet lacks reads as None."""
    return tuple(_cell_str(t.get(row, c)) for c in columns)


def _parsed(path: str | dict, sheets: list[str] | None = None) -> dict:
    """The workbook readers' ``path``: an .xlsx path is parsed for the
    requested sheets only (all, in workbook order, by default); a
    workbook that :func:`xlsx.read_workbook` already parsed is used as
    is, so one parse can feed every reader (``pipeline.import_workbook``)."""
    return path if isinstance(path, dict) else xlsx.read_workbook(path, sheets=sheets)


def _frame(grid: list[list]) -> xlsx.Table:
    """The reference's sheet framing (spreadsheet_loader.py:59-61):
    read with ``skiprows=4`` and fall back to the top of the sheet when
    that leaves no data row."""
    t = xlsx.Table(grid, skiprows=4)
    if t.empty or not t.columns:
        t = xlsx.Table(grid, skiprows=0)
    return t


def _parts_table(grid: list[list], sniffed: bool = False) -> xlsx.Table | None:
    """One parts sheet framed as ``parse_parts`` reads it (:59-75): the
    first data row is promoted to the header when it holds Number+Name
    and the header does not (:64-70); None when no Number+Name header
    is found, i.e. the sheet is skipped. ``sniffed`` adds the
    header-anywhere rescue on the same grid."""
    t = _frame(grid)
    if t.rows:
        first_str = set(map(str, t.first_row_values()))
        if _PARTS_HEADER <= first_str and not _PARTS_HEADER <= set(t.columns):
            t = t.promote_first_row_header()
    if _PARTS_HEADER <= set(t.columns):
        return t
    if not sniffed:
        return None
    # header-anywhere scan: the first row carrying the required headers
    # (the reference's change importer uses the same idea,
    # helicopter_change_importer.py:192-196)
    idx = next(
        (i for i, row in enumerate(grid) if _PARTS_HEADER <= {_cell(c) for c in row}), None
    )
    if idx is None:
        return None
    # frame on the header row as found: its cells stripped, so a padded
    # " Number " header names the Number column
    header = [c.strip() if isinstance(c, str) else c for c in grid[idx]]
    t = xlsx.Table([header, *grid[idx + 1 :]], skiprows=0)
    # mirror-drop against the header row's cells (Table mangles duplicate
    # names, so the mangled columns never compare equal to a literal
    # header-duplicate row)
    width = len(t.columns)
    head = [_cell(v) for v in (header + [None] * width)[:width]]
    while t.rows and [_cell(v) for v in t.first_row_values()] == head:
        t.rows = t.rows[1:]
    return t


def read_excel_parts(
    spark: SparkSession, path: str | dict, sniffed: bool = False
) -> DataFrame:
    """S2: parts scan over every sheet of a workbook — the reference's
    ``SpreadsheetParser.parse_parts`` (spreadsheet_loader.py:54-111) as
    a DataFrame: sheets read with the skiprows-4-then-fallback pattern,
    first-data-row header promotion when the header row duplicated into
    the data (:64-70), sheets without Number+Name skipped, part_type
    derived from the sheet name (:85-97), and the dict's LAST-WINS
    overwrite (:98) expressed as a window over the row sequence.

    Faithfully keeps the reference's quirk that an unpromoted duplicated
    header row becomes a part numbered 'Number' — the published
    Snowmobile count of 939 parts includes it (docs/GRAPHDB_QUERIES.md:6
    vs 938 real parts; pinned by tests/test_snowmobile_golden.py and
    tests/test_workbook_sources.py).

    ``sniffed=True`` additionally recovers sheets the reference's fixed
    ``skiprows=4`` read CANNOT parse (header at any other row — e.g.
    Helicopter_Import.xlsx's header-at-row-0 export, which its loader
    silently skips): when the standard path finds no Number+Name
    header, the same parsed grid is scanned for the first row carrying
    the required headers, and leading rows that merely mirror that
    header are dropped instead of becoming artifact parts.

    ``path`` is an .xlsx path or a workbook already parsed by
    :func:`kgforge.xlsx.read_workbook`; the BOM and link readers below
    take the same.
    """
    rows: list[tuple] = []
    for sheet_name, grid in _parsed(path).items():
        t = _parts_table(grid, sniffed)
        if t is None:
            continue
        part_type = next((tok for tok in _PART_TYPE_TOKENS if tok in sheet_name), None)
        for r in t.rows:
            rows.append((len(rows), *_cells(t, r, _PARTS_COLUMNS), part_type))
    # the workbook rows are materialized driver-side by design — parts
    # catalogs are DIMENSION inputs (thousands of rows). Guard the
    # assumption: someone pointing this at a multi-million-row export
    # should hit a loud error, not a silent driver OOM; fact-scale part
    # catalogs belong in the parquet/CSV scans.
    if len(rows) > 2_000_000:
        raise ValueError(
            f"workbook yielded {len(rows)} part rows — beyond the "
            "driver-side dimension-catalog bound (2M); export to CSV/parquet "
            "and use the distributed scans instead"
        )
    df = spark.createDataFrame(rows, _PARTS_SCHEMA)
    w = Window.partitionBy("number").orderBy(F.desc("seq"))
    return (
        df.filter(F.col("number").isNotNull() & (F.col("number") != ""))
        # name falls back to the number when the cell is empty (:83)
        .withColumn("name", F.coalesce(F.col("name"), F.col("number")))
        .withColumn("source", F.lower(F.col("source")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "seq")
    )


def read_excel_bom_levels(spark: SparkSession, path: str | dict) -> DataFrame:
    """Hierarchical BOM rows from every workbook sheet with Number+Level
    columns (the reference's in-Excel hierarchical branch,
    generate_bom_from_excel :1160-1182, incl. its 'Action'-in-first-row
    header promotion :1144-1148), emitted as
    ``(group_id, row_idx, level, number)`` for the distributed
    level-stack decode. Feed to :func:`kgforge.graph.level_stack_decode`
    (one sheet = one ordered group)."""
    rows: list[tuple] = []
    for sheet_name, grid in _parsed(path).items():
        t = _frame(grid)
        if t.rows:
            first = t.first_row_values()
            if "Action" in str(first) or set(map(str, first)) == set(map(str, t.columns)):
                t = t.promote_first_row_header()
        lower = {str(c).strip().lower(): c for c in t.columns}
        if "number" not in lower or "level" not in lower:
            continue
        level_number = (lower["level"], lower["number"])
        for idx, r in enumerate(t.rows):
            rows.append((sheet_name, idx, *_cells(t, r, level_number)))
    df = spark.createDataFrame(
        rows, "group_id string, row_idx bigint, level_raw string, number string"
    )
    # unparseable level or empty number -> row skipped (:1167-1174);
    # try_cast nulls the former exactly like the CSV leg above
    return (
        df.select(
            "group_id",
            "row_idx",
            F.col("level_raw").try_cast("double").try_cast("int").alias("level"),
            normalize_number_col(F.col("number")).alias("number"),
        )
        .filter(F.col("level").isNotNull() & (F.col("number") != ""))
    )


def read_excel_bom_edges(spark: SparkSession, path: str | dict) -> DataFrame:
    """Level-stack decode of :func:`read_excel_bom_levels` into
    deduplicated ``(parent, child)`` edges (generate_bom_from_excel's
    hierarchical branch + its edge dedup :1223)."""
    return _decode_levels(read_excel_bom_levels(spark, path)).dropDuplicates()


def _link_sheet(
    spark: SparkSession, path: str | dict, sheet: str, columns: tuple[str, ...], schema: str
) -> DataFrame | None:
    """One link sheet (parse_alternate_links / parse_describe_links):
    the framed sheet with its 'Action' row promoted to the header, read
    into ``schema`` as the cells of ``columns`` (an absent column reads
    as null). None when the sheet is absent or lacks either of the
    first two columns, which are required."""
    grid = _parsed(path, [sheet]).get(sheet)
    if grid is None:
        return None
    t = _frame(grid)
    if t.rows and "Action" in str(t.first_row_values()):
        t = t.promote_first_row_header()
    if not set(columns[:2]) <= set(t.columns):
        return None
    return spark.createDataFrame([_cells(t, r, columns) for r in t.rows], schema)


def read_excel_alternates(
    spark: SparkSession, path: str | dict, sheet: str = "WTPartAlternateLink-Sheet"
) -> DataFrame:
    """S6: alternate/replacement links (parse_alternate_links :296-341):
    skiprows-4 read of the link sheet, 'Action'-row header promotion,
    Child/Replacement part number columns required (else empty result),
    missing replacement_type defaults to 'alternate'."""
    schema = "child_number string, replacement_number string, replacement_type string"
    df = _link_sheet(
        spark, path, sheet,
        ("Child Part Number", "Replacement Part Number", "Replacement Type"), schema,
    )
    if df is None:
        return spark.createDataFrame([], schema)
    return (
        df.select(
            normalize_number_col(F.col("child_number")).alias("child_number"),
            normalize_number_col(F.col("replacement_number")).alias("replacement_number"),
            F.coalesce(F.trim(F.col("replacement_type")), F.lit("alternate")).alias(
                "replacement_type"
            ),
        )
        .filter((F.col("child_number") != "") & (F.col("replacement_number") != ""))
    )


def read_excel_describe_links(
    spark: SparkSession, path: str | dict, sheet: str = "WTPartDescribeLink-Sheet"
) -> DataFrame:
    """S7: document-describes-part links (parse_describe_links
    :342-376); absent sheet or missing required columns -> empty."""
    schema = (
        "document_number string, part_number string, document_revision string, "
        "document_org string, document_container string"
    )
    df = _link_sheet(
        spark, path, sheet,
        ("Document Number", "Part Number", "Document Revision",
         "Document Owning Organization", "Document Container"),
        schema,
    )
    if df is None:
        return spark.createDataFrame([], schema)
    return (
        df.select(
            normalize_number_col(F.col("document_number")).alias("document_number"),
            normalize_number_col(F.col("part_number")).alias("part_number"),
            F.trim(F.col("document_revision")).alias("document_revision"),
            F.trim(F.col("document_org")).alias("document_org"),
            F.trim(F.col("document_container")).alias("document_container"),
        )
        .filter((F.col("document_number") != "") & (F.col("part_number") != ""))
    )


_CHANGE_KEYWORDS = ("Change", "Revision", "Version", "State")


def read_excel_changes(
    spark: SparkSession, path: str, render_dates: bool = False
) -> DataFrame:
    """Change-record scan over a workbook — the reference's
    ``_extract_change_information``
    (src/importers/helicopter_change_importer.py:178-217): per sheet,
    the header is the FIRST row whose values contain both 'Number' and
    'Name' (:192-196); columns matching the Change/Revision/Version/
    State keywords (:203) become the change payload, tagged with the
    source sheet and the part number/name.

    One documented repair: the reference reads the part ref via
    ``record.get('Number')`` AFTER projecting to the keyword columns
    (:209-213), which always yields '' — its own shipped artifact
    (data/helicopter_changes.csv) carries populated part numbers, so
    the intent is clearly to carry them; this reader keeps Number/Name
    (or the artifact's ``_part_number``/``_part_name`` spelling)
    alongside the change columns. change_id is a sha2 content hash
    (stable across executors; the reference's ``hash() % 1e6`` is
    run-unstable — same P14 deviation as stable_id_col).

    Returns (change_id, source_sheet, part_number, part_name,
    revision, state).
    """
    # render_dates: temporal exports style change dates as date cells;
    # opt-in ISO rendering (xlsx module docstring) keeps them parseable
    # downstream (normalize date parse, P13) instead of serial floats
    wb = xlsx.read_workbook(path, render_dates=render_dates)
    rows: list[tuple] = []
    for sheet_name, grid in wb.items():
        header_idx = None
        for i, r in enumerate(grid):
            vals = set(map(str, r))
            if ({"Number", "Name"} <= vals) or ({"_part_number", "_part_name"} <= vals):
                header_idx = i
                break
        if header_idx is None:
            continue
        t = xlsx.Table(grid[header_idx:], skiprows=0)
        cols = set(t.columns)
        if not any(any(k in str(c) for k in _CHANGE_KEYWORDS) for c in cols):
            continue
        num_col = "Number" if "Number" in cols else "_part_number"
        name_col = "Name" if "Name" in cols else "_part_name"

        for r in t.rows:
            num = _cell_str(t.get(r, num_col)) if num_col in cols else None
            name = _cell_str(t.get(r, name_col)) if name_col in cols else None
            rev = _cell_str(t.get(r, "Revision")) if "Revision" in cols else None
            state = _cell_str(t.get(r, "State")) if "State" in cols else None
            if not any((num, name, rev, state)):
                continue  # reference dropna(how='all') on the payload
            rows.append((sheet_name, num, name, rev, state))
    df = spark.createDataFrame(
        rows,
        "source_sheet string, part_number string, part_name string, "
        "revision string, state string",
    )
    # drop in-data duplicated header rows (the artifact CSV carries one)
    df = df.filter(
        ~(
            F.coalesce(F.col("part_number"), F.lit("")).isin("Number", "_part_number")
            & F.coalesce(F.col("revision"), F.lit("")).eqNullSafe(F.lit("Revision"))
        )
    )
    return df.select(
        F.sha2(
            F.concat_ws(
                "\x1f", "source_sheet", "part_number", "part_name", "revision", "state"
            ),
            256,
        ).alias("change_id"),
        "source_sheet",
        "part_number",
        "part_name",
        "revision",
        "state",
    )


def change_affects_links(changes: DataFrame, parts: DataFrame) -> DataFrame:
    """AFFECTS_PART links (reference ``_link_changes_to_parts``
    :348-377): change records joined to known parts by number; changes
    with an empty or unknown part number drop (the reference's MATCH
    simply finds nothing). Broadcast-sized dimension join."""
    return (
        changes.filter(
            F.col("part_number").isNotNull() & (F.col("part_number") != "")
        )
        .join(parts.select("number"), F.col("part_number") == F.col("number"), "inner")
        .select("change_id", "part_number", "revision", "state")
        .dropDuplicates(["change_id", "part_number"])
    )


# ------------------------------------------------------------ API source
def read_api_pages(
    spark: SparkSession,
    fetch,
    entity_set: str,
    schema,
    page_size: int = 1000,
    params: dict | None = None,
    start_page: int = 0,
    max_pages: int = 100_000,
):
    """S9: paginated JSON-API source (the reference's OData leg,
    scripts/windchill_odata_temporal_import.py:47-76 ``query_odata`` —
    one ``$top``-bounded GET whose response unwraps to a row list).

    ``fetch(entity_set, params) -> list[dict]`` is the pluggable HTTP
    leg (the reference's ``session.get(...).json()['value']``); this
    driver loops ``$skip``/``$top`` pages until a short page or
    ``max_pages``. Pages accumulate driver-side — API ingestion is
    inherently connector-bound; a cluster scales it by splitting the
    keyspace across many *calls* of this reader, not by parallelizing
    one HTTP conversation — and enter Spark as ONE ``createDataFrame``
    with the explicit ``schema`` (schema-on-read: declared fields are
    picked from each record, absent fields null out, extra fields
    drop). Returns ``(DataFrame, next_page)``; persist ``next_page`` as
    a cursor and pass it back as ``start_page`` to resume an
    interrupted pull (the same checkpoint idea as resume.py, applied to
    the source side).
    """
    names = [f.name for f in schema.fields]
    rows: list[tuple] = []
    page = start_page
    while page - start_page < max_pages:
        page_params = dict(params or {})
        page_params["$skip"] = page * page_size
        page_params["$top"] = page_size
        records = fetch(entity_set, page_params)
        rows.extend(tuple(r.get(n) for n in names) for r in records)
        page += 1
        if len(records) < page_size:
            break
    return spark.createDataFrame(rows, schema), page


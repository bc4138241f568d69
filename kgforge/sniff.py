"""Schema-sniffing for messy spreadsheet exports (SURVEY.md §1.3).

The reference tolerates three classes of export mess when reading a
sheet (/root/reference/src/utils/spreadsheet_loader.py):

1. *Preamble rows* (:59-61): real exports carry a few banner/metadata
   rows above the header, so the reference reads with ``skiprows=4`` and
   falls back to reading from the top when that leaves an empty frame.
2. *Header duplicated into the first data row* (:62-68): when the
   required headers ("Number", "Name") show up in row 0 of the data
   instead of the column names, that row is promoted to be the header.
3. *Column synonyms* in edge CSVs (:1185-1195): the parent/child columns
   go by several names across export tools; the first synonym present
   (in a fixed priority order) wins.

Here the same normalization runs on a raw cell grid (list of rows) on
the driver — sniffing is inherently per-sheet, header-region-sized work;
the *data* then enters Spark via ``createDataFrame`` (or, at scale, the
sniffed schema parameterizes a distributed CSV read with an explicit
schema). The tests use this to emulate messy exports while
every downstream operator keeps its fixed-schema contract.
"""

from __future__ import annotations

from typing import Sequence

REQUIRED_HEADERS = ("Number", "Name")

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

DEFAULT_PREAMBLE_ROWS = 4


def _cell(v) -> str:
    return "" if v is None else str(v).strip()


def sniff_sheet(
    grid: Sequence[Sequence],
    required: Sequence[str] = REQUIRED_HEADERS,
    preamble_rows: int = DEFAULT_PREAMBLE_ROWS,
) -> tuple[list[str], list[list]]:
    """Normalize a raw cell grid to ``(columns, data_rows)``.

    Applies, in order (mirroring the reference's read path :59-68):

    - skip ``preamble_rows`` leading rows; if nothing is left, fall back
      to the whole grid;
    - take the first remaining row as the header;
    - if the *next* row contains every required header while the current
      header row does not, promote it (header-duplication repair).

    Raises ``ValueError`` when the required headers cannot be found —
    the caller decides whether to warn-and-skip the sheet (the
    reference's behavior :69-75) or fail.
    """
    body = list(grid[preamble_rows:])
    if not body or not any(any(_cell(c) for c in row) for row in body):
        body = list(grid)
    if not body:
        raise ValueError("empty sheet")

    header = [_cell(c) for c in body[0]]
    rows = body[1:]
    req = set(required)
    if not req.issubset(header) and rows:
        first_data = [_cell(c) for c in rows[0]]
        if req.issubset(first_data):
            header, rows = first_data, rows[1:]
    if not req.issubset(header):
        raise ValueError(f"required columns {sorted(req)} not found; got {header}")
    return header, [list(r) for r in rows]


def find_header_row(
    grid: Sequence[Sequence], required: Sequence[str] = REQUIRED_HEADERS
) -> int | None:
    """Index of the FIRST grid row containing every required header —
    the header-anywhere scan (the reference's change importer uses the
    same idea, helicopter_change_importer.py:192-196; its main loader's
    fixed ``skiprows=4`` cannot read a header-at-row-0 export at all).
    Returns None when no row qualifies."""
    req = set(required)
    for i, row in enumerate(grid):
        if req.issubset({_cell(c) for c in row}):
            return i
    return None


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

"""Scalar normalization & validation (SURVEY.md §2.2, P1-P15).

Everything here is a *column expression* (JVM-side, whole-stage codegen).
Float-repr part-number normalization also has a pure-Python twin for the
test oracle, for exact parity with the reference's Python behavior
(/root/reference/src/utils/spreadsheet_loader.py:35-42); IRI
percent-encoding reproduces ``urllib.parse.quote`` (:881) exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------- P1
def normalize_part_number_py(value) -> str:
    """Exact reimplementation of the reference's normalize_part_number
    (spreadsheet_loader.py:35-42): NaN -> "", integral float -> str(int),
    else str(value). Used by the pure-Python oracle in tests."""
    if value is None or (isinstance(value, float) and value != value):
        return ""
    if isinstance(value, float):
        if value.is_integer():
            return str(int(value))
        return str(value)
    return str(value)


def normalize_number_col(col: Column) -> Column:
    """P1 as a pure column expression over *string* columns.

    Excel float residue like ``'123.0'`` normalizes to ``'123'`` (the
    reference sees the float 123.0 and renders ``str(int(123.0))``);
    NULL -> '' ; otherwise trimmed passthrough.
    """
    t = F.trim(col)
    return (
        F.when(col.isNull(), F.lit(""))
        .when(t.rlike(r"^[0-9]+\.0+$"), F.regexp_replace(t, r"\.0+$", ""))
        .otherwise(t)
    )


# ---------------------------------------------------------------- P11
def iri_encode_col(col: Column | str) -> Column:
    """Percent-encode ids into IRIs exactly like the reference
    (``urllib.parse.quote`` with default safe='/', spreadsheet_loader.py:881).

    ``url_encode`` is Java's form encoding of the UTF-8 bytes: it leaves
    ``A-Za-z0-9.-*_`` alone, writes space as ``+`` and escapes the rest
    as ``%XX``. ``quote`` differs in four characters only: it escapes
    space and ``*`` and keeps ``~`` and ``/``."""
    c = F.url_encode(col)
    for src, dst in (("+", "%20"), ("*", "%2A"), ("%7E", "~"), ("%2F", "/")):
        c = F.replace(c, F.lit(src), F.lit(dst))
    return c


# the frozen gate's name for the same encoder
iri_encode_udf = iri_encode_col


# ---------------------------------------------------------------- P6-P7
INVALID_NUMBER_CHARS = r'[<>:"|?*\x00-\x1f]'
MAX_NUMBER_LEN = 50
MAX_NAME_LEN = 200


def valid_number_col(col: Column) -> Column:
    """P6 (validation.py:222-248): nonempty, no forbidden chars; caller
    truncates to 50 via :func:`truncate_number_col`."""
    return col.isNotNull() & (col != "") & ~col.rlike(INVALID_NUMBER_CHARS)


def truncate_number_col(col: Column) -> Column:
    return F.substring(col, 1, MAX_NUMBER_LEN)


def valid_name_col(col: Column) -> Column:
    """P7 (validation.py:250-265)."""
    return col.isNotNull() & (col != "") & (F.length(col) <= MAX_NAME_LEN)


# ---------------------------------------------------------------- P4
def classify_role_col(role: Column, tool: Column) -> Column:
    """Sheet-name -> part_type classification analogue (reference :84-96):
    role/tool -> entity class for turn-level typing."""
    return (
        F.when(role == "tool", F.coalesce(F.concat(F.lit("Tool:"), tool), F.lit("Tool")))
        .when(role == "assistant", "AssistantTurn")
        .when(role == "user", "UserTurn")
        .otherwise("Turn")
    )


# ---------------------------------------------------------------- P9
SNOWMOBILE_KEYWORDS = [
    "snow", "ski", "track", "engine", "motor", "chassis", "frame",
    "suspension", "brake", "throttle", "clutch", "belt", "carb",
]


def keyword_classifier_col(number: Column, name: Column, keywords=None) -> Column:
    """P9 (analyze_snowmobile_data.py:142-157): any keyword in
    lower(number + ' ' + name)."""
    kws = keywords or SNOWMOBILE_KEYWORDS
    hay = F.lower(F.concat_ws(" ", number, name))
    return hay.rlike("|".join(kws))


# ---------------------------------------------------------------- P13
def parse_date_col(col: Column) -> Column:
    """ISO8601 -> unix seconds, errors -> 0 (import_temporal_history.py:79-90)."""
    return F.coalesce(
        F.unix_timestamp(F.to_timestamp(F.regexp_replace(col, "Z$", "+00:00"))),
        F.lit(0),
    )


# ---------------------------------------------------------------- P15
STATE_COLORS = {
    "RELEASED": "#27ae60",
    "DESIGN": "#3498db",
    "INPLANNING": "#f39c12",
    "UNDERREVIEW": "#e67e22",
}
SOURCE_COLORS = {"make": "#27ae60", "buy": "#e67e22"}
PART_TYPE_COLORS = {
    "MechanicalPart": "#3498db",
    "SoftwarePart": "#9b59b6",
    "Variant": "#e74c3c",
    "WTPart": "#2ecc71",
}
DEFAULT_COLOR = "#95a5a6"


def display_color_col(state: Column, source: Column, part_type: Column) -> Column:
    """P15 (spreadsheet_loader.py:539-576): priority cascade
    state > source > part_type > default."""
    expr = F.lit(DEFAULT_COLOR)
    for pt, c in reversed(PART_TYPE_COLORS.items()):
        expr = F.when(part_type == pt, c).otherwise(expr)
    for s, c in reversed(SOURCE_COLORS.items()):
        expr = F.when(source == s, c).otherwise(expr)
    for st, c in reversed(STATE_COLORS.items()):
        expr = F.when(state == st, c).otherwise(expr)
    return expr


def display_size_col(*metadata_cols: Column) -> Column:
    """P15 (:579-586): 30 + 5 per truthy metadata field."""
    count = sum(
        (F.when(c.isNotNull() & (c != ""), 1).otherwise(0) for c in metadata_cols),
        F.lit(0),
    )
    return (F.lit(30) + count * 5).cast("int")


# ---------------------------------------------------------------- P14
def stable_id_col(*cols: Column) -> Column:
    """Deterministic content id replacing the reference's run-unstable
    ``hash(str(record)) % 1e6`` (helicopter_change_importer.py:320) —
    documented deviation: sha2 is stable across runs/executors."""
    return F.sha2(F.concat_ws("\x1f", *cols), 256)

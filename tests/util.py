"""Cross-engine compare utilities mirroring the driver's correctness gate
(row-count + schema + order-insensitive value compare, columns sorted by
name)."""

from __future__ import annotations

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def assert_df_matches_oracle(spark_df, sql: str, sf_dir: str) -> None:
    got = _canon(spark_df.toPandas())
    con = duck_con(sf_dir)
    want = _canon(con.sql(sql).df())
    con.close()
    assert list(got.columns) == list(want.columns), (
        f"schema mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count mismatch: spark={len(got)} oracle={len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=1e-6)


def level_stack_oracle(rows) -> list[tuple]:
    """Plain-Python replay of the reference's level-stack loop
    (spreadsheet_loader.py:1160-1182) over collected
    ``(group_id, row_idx, level, number, *attrs)`` rows: per group in
    ``row_idx`` order, a row at level L > 0 emits
    ``(stack[L-1], number, *attrs)`` when that key is set, then sets
    ``stack[L]`` and clears every deeper key. Returns the sorted edges."""
    groups: dict = {}
    for r in rows:
        groups.setdefault(r[0], []).append(tuple(r))
    out = []
    for grp in groups.values():
        stack: dict = {}
        for _, _, level, number, *attrs in sorted(grp, key=lambda r: r[1]):
            if level > 0 and level - 1 in stack:
                out.append((stack[level - 1], number, *attrs))
            stack[level] = number
            for deeper in [k for k in stack if k > level]:
                del stack[deeper]
    return sorted(out, key=repr)


def write_xlsx(path: str, sheets: dict, date1904: bool = False, num_fmts: dict | None = None):
    """Build a minimal real .xlsx for reader tests (zipfile + literal
    XML — the same container format kgforge.xlsx parses).

    ``sheets``: {name: list-of-rows}; each cell is None, str, bool,
    float/int, or a ("n", value, style_index) tuple for a styled
    numeric cell. ``num_fmts``: {style_index: numFmtId} — cellXfs are
    emitted for indices 0..max(style_index) with numFmtId 0 (General)
    unless overridden; custom ids (>=164) get a formatCode from the
    value passed as (numFmtId, formatCode).
    """
    import zipfile
    from xml.sax.saxutils import escape

    num_fmts = num_fmts or {}
    max_style = max([0, *num_fmts.keys()])
    shared: list[str] = []
    shared_idx: dict[str, int] = {}

    def sref(s: str) -> int:
        if s not in shared_idx:
            shared_idx[s] = len(shared)
            shared.append(s)
        return shared_idx[s]

    def col_name(i: int) -> str:
        name = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            name = chr(ord("A") + r) + name
        return name

    sheet_xmls = []
    for rows in sheets.values():
        body = []
        for r_i, row in enumerate(rows, start=1):
            cells = []
            for c_i, v in enumerate(row):
                if v is None:
                    continue
                ref = f"{col_name(c_i)}{r_i}"
                if isinstance(v, tuple) and v[0] == "n":
                    _, num, style = v
                    cells.append(f'<c r="{ref}" s="{style}"><v>{num}</v></c>')
                elif isinstance(v, bool):
                    cells.append(f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>')
                elif isinstance(v, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{v}</v></c>')
                else:
                    cells.append(f'<c r="{ref}" t="s"><v>{sref(str(v))}</v></c>')
            body.append(f'<row r="{r_i}">{"".join(cells)}</row>')
        sheet_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<sheetData>{"".join(body)}</sheetData></worksheet>'
        )

    sheets_decl = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(sheets)
    )
    pr = '<workbookPr date1904="1"/>' if date1904 else ""
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"{pr}<sheets>{sheets_decl}</sheets></workbook>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + "</Relationships>"
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
        + "</sst>"
    )
    # num_fmts values: int numFmtId, or (numFmtId, formatCode) for custom
    fmt_decls, xf_fmt = [], {}
    for idx, v in num_fmts.items():
        if isinstance(v, tuple):
            fid, code = v
            fmt_decls.append(
                f'<numFmt numFmtId="{fid}" formatCode="{escape(code, {chr(34): "&quot;"})}"/>'
            )
            xf_fmt[idx] = fid
        else:
            xf_fmt[idx] = v
    xfs = "".join(
        f'<xf numFmtId="{xf_fmt.get(i, 0)}" applyNumberFormat="1"/>'
        for i in range(max_style + 1)
    )
    styles = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + (f'<numFmts count="{len(fmt_decls)}">{"".join(fmt_decls)}</numFmts>' if fmt_decls else "")
        + f'<cellXfs count="{max_style + 1}">{xfs}</cellXfs></styleSheet>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/styles.xml", styles)
        for i, xml in enumerate(sheet_xmls):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)
    return path


# --------------------------------------------------------- messy-export path
# Excel-style header names the reference's parser keys on
# (spreadsheet_loader.py parse_parts row.get("Number") etc.), mapped to
# the fixed-schema column names every downstream operator uses.
_EXCEL_HEADERS = {
    "Number": "number", "Name": "name", "Type": "type", "Source": "source",
    "View": "view", "State": "state", "Revision": "revision",
    "Container": "container", "Part Type": "part_type",
}

_MESSY_SCHEMA = (
    "sheet_idx int, row_idx int, number string, name string, type string, "
    "source string, view string, state string, revision string, "
    "container string, part_type string"
)


def load_entities_raw_messy(spark, sf_dir: str):
    """Messy-export emulation (SURVEY §1.3): render the raw entity
    sheets as cell grids with the reference's Excel quirks — a 4-row
    banner preamble on sheet 0 (the skiprows path,
    spreadsheet_loader.py:59-61) and, on sheet 1, a junk header row with
    the real header landing in the first data row (the header-dup
    repair :62-68) — then recover the table through the parts
    reader's own sheet framing (``sources._parts_table``, the step
    :func:`kgforge.sources.read_excel_parts` applies to every sheet).

    Driver-side by design, like the workbook readers: whole sheets are
    materialized on the driver (fixture sizes only). ``row_idx`` is the row's
    position within its sheet — relative order matches
    :func:`kgforge.fixtures.load_entities_raw`, so the last-wins dedup
    elects identical winners."""
    from kgforge import fixtures, sources

    raw = fixtures.load_entities_raw(spark, sf_dir).orderBy("sheet_idx", "row_idx").collect()
    excel_cols = list(_EXCEL_HEADERS)
    header = excel_cols
    sheets: dict[int, list[list]] = {}
    for r in raw:
        sheets.setdefault(r["sheet_idx"], []).append(
            [r[_EXCEL_HEADERS[c]] for c in excel_cols]
        )

    blank = [None] * len(header)
    banner = [
        ["Export report"] + [None] * (len(header) - 1),
        blank,
        ["Generated by PLM"] + [None] * (len(header) - 1),
        blank,
    ]
    junk_header = [f"Unnamed: {i}" for i in range(len(header))]
    grids = {
        # sheet 0: banner preamble, then the clean header (skiprows path)
        0: banner + [header] + sheets.get(0, []),
        # sheet 1: preamble + a junk header row, with the REAL header
        # duplicated into the first data row — the export bug the
        # header-promotion repair exists for
        1: banner + [junk_header] + [header] + sheets.get(1, []),
    }

    out = None
    for sheet_idx, grid in sorted(grids.items()):
        t = sources._parts_table(grid)
        data = [
            [sheet_idx, i] + [t.get(row, c) for c in excel_cols]
            for i, row in enumerate(t.rows)
        ]
        df = spark.createDataFrame(data, _MESSY_SCHEMA)
        out = df if out is None else out.unionByName(df)
    return out

"""Pure-stdlib .xlsx workbook reader (zipfile + xml.etree — no new deps).

An ``.xlssx`` file is a zip of XML parts: ``xl/workbook.xml`` names the
sheets, ``xl/_rels/workbook.xml.rels`` maps them to ``xl/worksheets/*.xml``,
and ``xl/sharedStrings.xml`` interns string cell values.  This module turns
each sheet into a rectangular grid of Python values (str / float / bool /
None) and layers a small pandas-``read_excel``-compatible table view on top
(``skiprows`` + header-row semantics + duplicate-column mangling) so the
Excel-source readers in :mod:`kgforge.sources` can replicate the reference
loader's behavior (reference: src/utils/spreadsheet_loader.py:54-151, which
reads sheets via ``pd.read_excel(..., skiprows=4)``) without pandas'
openpyxl dependency.

Scale note: workbooks are *dimension* inputs (parts catalogs, link sheets —
thousands of rows), read once on the driver and broadcast/parallelized into
a DataFrame; the fact-side scale path (transcript corpora) never flows
through here.  By default dates are left as raw Excel serial floats (the
reference's parsed columns — Number/Name/Type/Source/View/State/Revision/
Container — are all text); ``render_dates=True`` opts into ISO rendering:
the cell-style table (``xl/styles.xml`` cellXfs -> numFmtId, builtin
date ids + y/m/d/h/s tokens in custom format codes) decides which numeric
cells are dates, and both the 1900 epoch (with Excel's phantom
1900-02-29 handled the conventional way) and the ``workbookPr date1904``
epoch are supported — what temporal exports (the reference's
scripts/import_temporal_history.py inputs) need.
"""

from __future__ import annotations

import datetime as _dt
import re
import zipfile
import xml.etree.ElementTree as ET
from typing import Collection, Dict, List, Optional, Tuple

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"

_CELL_REF_RE = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A' -> 0, 'B' -> 1, ..., 'AA' -> 26."""
    idx = 0
    for ch in ref:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _si_text(si: ET.Element) -> str:
    """Concatenate the text runs of a shared-string item (skip phonetic runs).

    Pure recursive walk — phonetic annotation subtrees (rPh/phoneticPr,
    display hints, not cell content) are skipped rather than removed, so
    the tree is never mutated while being traversed (ElementTree leaves
    mutation-during-iteration undefined)."""
    parts: List[str] = []

    def walk(el: ET.Element) -> None:
        if el.tag in (_NS + "rPh", _NS + "phoneticPr"):
            return
        if el.tag == _NS + "t":
            parts.append(el.text or "")
        for child in el:
            walk(child)

    walk(si)
    return "".join(parts)


def _load_shared_strings(zf: zipfile.ZipFile) -> List[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(data)
    return [_si_text(si) for si in root.findall(_NS + "si")]


# Builtin numFmtIds that render as dates/times (ECMA-376 §18.8.30).
_DATE_BUILTIN_FMT_IDS = frozenset(
    list(range(14, 23)) + list(range(27, 37)) + [45, 46, 47] + list(range(50, 59))
)
# inside a custom format code, quoted literals, [..] prefixes
# (colors/locales/elapsed), and backslash-escaped chars are NOT tokens
_FMT_NOISE_RE = re.compile(r'"[^"]*"|\[[^\]]*\]|\\.')
_FMT_DATE_TOKEN_RE = re.compile(r"[dmhysDMHYS]")


def _is_date_format(code: str) -> bool:
    return bool(_FMT_DATE_TOKEN_RE.search(_FMT_NOISE_RE.sub("", code)))


def _load_date_styles(zf: zipfile.ZipFile) -> List[bool]:
    """Per-cellXf flag: does style index s render numerics as dates?"""
    try:
        root = ET.fromstring(zf.read("xl/styles.xml"))
    except KeyError:
        return []
    custom_date_ids = set()
    num_fmts = root.find(_NS + "numFmts")
    if num_fmts is not None:
        for nf in num_fmts.findall(_NS + "numFmt"):
            if _is_date_format(nf.get("formatCode", "")):
                custom_date_ids.add(int(nf.get("numFmtId", "-1")))
    flags: List[bool] = []
    cell_xfs = root.find(_NS + "cellXfs")
    if cell_xfs is not None:
        for xf in cell_xfs.findall(_NS + "xf"):
            fmt_id = int(xf.get("numFmtId", "0"))
            flags.append(fmt_id in _DATE_BUILTIN_FMT_IDS or fmt_id in custom_date_ids)
    return flags


def _is_date1904(wb_root: ET.Element) -> bool:
    pr = wb_root.find(_NS + "workbookPr")
    return pr is not None and pr.get("date1904", "0").lower() in ("1", "true")


def _serial_to_iso(serial: float, date1904: bool) -> str:
    """Excel serial -> ISO string; date-only when midnight. 1900 epoch:
    serial 1 = 1900-01-01; serials past the phantom 1900-02-29 (60) are
    offset from 1899-12-30 — the conventional reconciliation."""
    if date1904:
        base = _dt.datetime(1904, 1, 1)
    elif serial < 60:
        base = _dt.datetime(1899, 12, 31)
    else:
        base = _dt.datetime(1899, 12, 30)
    days = int(serial)
    secs = round((serial - days) * 86400)
    dt = base + _dt.timedelta(days=days, seconds=secs)
    if dt.time() == _dt.time(0, 0):
        return dt.date().isoformat()
    return dt.isoformat(sep=" ")


def _cell_value(
    cell: ET.Element,
    shared: List[str],
    date_styles: Optional[List[bool]] = None,
    date1904: bool = False,
):
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(_NS + "is")
        return _si_text(is_el) if is_el is not None else None
    v_el = cell.find(_NS + "v")
    if v_el is None or v_el.text is None:
        return None
    raw = v_el.text
    if ctype == "s":
        return shared[int(raw)]
    if ctype == "str":
        return raw
    if ctype == "b":
        return raw.strip() not in ("0", "false", "FALSE")
    if ctype == "e":
        return None
    # numeric: keep float (pandas reads numerics as float64 once NaN-padded;
    # normalize_part_number handles integer-valued floats) — unless the
    # caller opted into date rendering and this cell's style is a date
    try:
        num = float(raw)
    except ValueError:
        return raw
    if date_styles:
        s_attr = cell.get("s")
        if s_attr is not None:
            s_idx = int(s_attr)
            if 0 <= s_idx < len(date_styles) and date_styles[s_idx]:
                return _serial_to_iso(num, date1904)
    return num


def _sheet_grid(
    zf: zipfile.ZipFile,
    member: str,
    shared: List[str],
    date_styles: Optional[List[bool]] = None,
    date1904: bool = False,
) -> List[List]:
    root = ET.fromstring(zf.read(member))
    data = root.find(_NS + "sheetData")
    if data is None:
        return []
    rows: Dict[int, Dict[int, object]] = {}
    max_col = -1
    for row_el in data.findall(_NS + "row"):
        r_attr = row_el.get("r")
        r_idx = int(r_attr) - 1 if r_attr else len(rows)
        cells: Dict[int, object] = {}
        next_col = 0
        for c_el in row_el.findall(_NS + "c"):
            ref = c_el.get("r")
            if ref:
                m = _CELL_REF_RE.match(ref)
                col = _col_index(m.group(1)) if m else next_col
            else:
                col = next_col
            next_col = col + 1
            val = _cell_value(c_el, shared, date_styles, date1904)
            if val is not None:
                cells[col] = val
                if col > max_col:
                    max_col = col
        if cells:
            rows[r_idx] = cells
    if not rows:
        return []
    n_rows = max(rows) + 1
    width = max_col + 1
    grid: List[List] = []
    for r in range(n_rows):
        row_cells = rows.get(r, {})
        grid.append([row_cells.get(c) for c in range(width)])
    return grid


def read_workbook(
    path: str, render_dates: bool = False, sheets: Optional[Collection[str]] = None
) -> Dict[str, List[List]]:
    """Read every sheet of an .xlsx into {sheet_name: grid-of-values}.

    Grid cells are str / float / bool / None; rows are padded to the sheet's
    max used width.  Sheet order follows the workbook's declared order.
    ``render_dates=True`` renders date-styled numeric cells as ISO strings
    (module docstring) instead of raw serial floats.  ``sheets`` limits the
    result to the named sheets: the XML of every other sheet is not parsed.
    """
    with zipfile.ZipFile(path) as zf:
        shared = _load_shared_strings(zf)
        wb_root = ET.fromstring(zf.read("xl/workbook.xml"))
        date_styles = _load_date_styles(zf) if render_dates else None
        date1904 = _is_date1904(wb_root) if render_dates else False
        rels_root = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rel_target: Dict[str, str] = {}
        for rel in rels_root.findall(_PKG_REL + "Relationship"):
            target = rel.get("Target", "")
            if target.startswith("/"):
                target = target.lstrip("/")
            elif not target.startswith("xl/"):
                target = "xl/" + target
            rel_target[rel.get("Id", "")] = target
        out: Dict[str, List[List]] = {}
        sheets_el = wb_root.find(_NS + "sheets")
        for sheet in sheets_el.findall(_NS + "sheet"):
            name = sheet.get("name", "")
            if sheets is not None and name not in sheets:
                continue
            rid = sheet.get(_RNS + "id")
            member = rel_target.get(rid or "", "")
            out[name] = (
                _sheet_grid(zf, member, shared, date_styles, date1904)
                if member
                else []
            )
        return out


class Table:
    """Minimal pandas-read_excel-like view over a grid: header row + data rows.

    Mirrors the slice of ``pd.read_excel`` behavior the reference loader
    relies on: ``skiprows`` drops leading grid rows, the next row becomes the
    header (empty header cells -> ``Unnamed: {i}``, duplicate names ->
    ``name.1`` mangling), remaining rows are data.  ``get(row, col)`` is the
    ``row.get(col)`` equivalent (first matching mangled column).
    """

    def __init__(self, grid: List[List], skiprows: int = 0):
        body = grid[skiprows:]
        if not body:
            self.columns: List[str] = []
            self.rows: List[List] = []
            return
        header, data = body[0], body[1:]
        names: List[str] = []
        seen: Dict[str, int] = {}
        for i, cell in enumerate(header):
            if cell is None:
                name = f"Unnamed: {i}"
            elif isinstance(cell, float) and cell.is_integer():
                name = str(int(cell))
            else:
                name = str(cell)
            if name in seen:
                seen[name] += 1
                name = f"{name}.{seen[name]}"
            else:
                seen[name] = 0
            names.append(name)
        self.columns = names
        width = len(names)
        self.rows = [(r + [None] * width)[:width] for r in data]

    @property
    def empty(self) -> bool:
        return not self.rows

    def promote_first_row_header(self) -> "Table":
        """Re-header from the first data row (pandas `df.columns = df.iloc[0]; df = df[1:]`)."""
        clone = Table.__new__(Table)
        promoted = Table([self.rows[0]] + self.rows[1:], skiprows=0) if self.rows else self
        clone.columns = promoted.columns
        clone.rows = promoted.rows
        return clone

    def col_index(self, name: str) -> Optional[int]:
        try:
            return self.columns.index(name)
        except ValueError:
            return None

    def get(self, row: List, name: str):
        idx = self.col_index(name)
        return row[idx] if idx is not None and idx < len(row) else None

    def first_row_values(self) -> List:
        return list(self.rows[0]) if self.rows else []


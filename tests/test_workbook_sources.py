"""Workbook read-path quirks (SURVEY §1.3; reference
spreadsheet_loader.py:54-376) pinned on small generated workbooks: a
duplicated header row kept as a part, sheet-name part types with
last-wins, the BOM-level sheets' header promotions, the link sheets'
empty results and defaults, and the ``sniffed=True`` header-anywhere
rescue. The framing itself (skiprows=4, the fallback to the top, the
parts reader's first-row promotion, skipped sheets) is pinned by
``test_fixtures_parity::test_parts_sheet_framing_quirks``."""

from __future__ import annotations

from kgforge import sources, xlsx
from tests.util import write_xlsx

BANNER = [["Export report"], [None], ["Generated by PLM"], [None]]
PARTS_HEADER = ["Number", "Name", "Type", "Source", "View", "State", "Revision", "Container"]


def _book(tmp_path, sheets: dict) -> str:
    return write_xlsx(str(tmp_path / f"wb{len(list(tmp_path.iterdir()))}.xlsx"), sheets)


def _parts(spark, path: str, **kw) -> dict:
    return {r.number: r.asDict() for r in sources.read_excel_parts(spark, path, **kw).collect()}


def test_duplicated_header_row_becomes_a_part(spark, tmp_path):
    """A correct header followed by a copy of itself: the copy is not
    promoted (the header already holds Number+Name) and becomes a part
    numbered 'Number' — the quirk behind the reference's published 939
    Snowmobile parts (938 real ones plus this row)."""
    path = _book(tmp_path, {
        "WTPart-Sheet": BANNER + [
            PARTS_HEADER,
            PARTS_HEADER,
            ["100", "Sled", "Part", "Make", "Design", "RELEASED", "A", "Lib"],
        ],
    })
    got = _parts(spark, path)
    assert set(got) == {"Number", "100"}
    assert got["Number"]["name"] == "Name" and got["Number"]["source"] == "source"


def test_part_type_from_sheet_name_and_last_wins(spark, tmp_path):
    """part_type is the first type token in the sheet name (None when
    there is none); a number seen on two sheets keeps the later sheet's
    row (the reference's dict overwrite :98); an empty name falls back
    to the number, source lower-cases, a numeric cell renders as an
    integer string."""
    path = _book(tmp_path, {
        "MechanicalPart-Sheet": BANNER + [
            PARTS_HEADER,
            ["100", "Sled", "Part", "Make", "Design", "RELEASED", "A", "Lib"],
            ["200", None, "Part", "Buy", "Design", "DESIGN", "A", "Lib"],
        ],
        "WTPart-Sheet": BANNER + [
            PARTS_HEADER,
            ["100", "Sled v2", "Part", "Make", "Design", "RELEASED", "B", "Lib"],
        ],
        "Misc": BANNER + [
            PARTS_HEADER,
            [300, "Track", "Part", "Make", "Design", "RELEASED", "A", "Lib"],
        ],
    })
    got = _parts(spark, path)
    assert set(got) == {"100", "200", "300"}
    assert (got["100"]["part_type"], got["100"]["revision"], got["100"]["name"]) == (
        "WTPart", "B", "Sled v2",
    )
    assert got["200"]["part_type"] == "MechanicalPart" and got["200"]["name"] == "200"
    assert got["200"]["source"] == "buy"
    assert got["300"]["part_type"] is None


def test_bom_levels_action_and_header_row_promotions(spark, tmp_path):
    """read_excel_bom_levels promotes the first data row when it holds
    'Action' (:1144-1148) or repeats the header: under a junk header the
    'Action' row makes the sheet readable, and a repeated header row is
    consumed, so the first real row keeps row_idx 0."""
    path = _book(tmp_path, {
        "Action-Sheet": BANNER + [
            ["Structure export", None, None],
            ["Action", "Level", "Number"],
            ["Add", 0, "100"],
            ["Add", 1, "200"],
        ],
        "Repeat-Sheet": BANNER + [["Level", "Number"], ["Level", "Number"], [0, "300"], [1, "400"]],
        "Plain-Sheet": BANNER + [["Level", "Number"], [0, "500"], [1, "600"]],
        "Junk-Sheet": BANNER + [["Structure export", None], ["Level", "Number"], [0, "700"]],
    })
    got = sorted(tuple(r) for r in sources.read_excel_bom_levels(spark, path).collect())
    assert got == [
        ("Action-Sheet", 0, 0, "100"), ("Action-Sheet", 1, 1, "200"),
        ("Plain-Sheet", 0, 0, "500"), ("Plain-Sheet", 1, 1, "600"),
        ("Repeat-Sheet", 0, 0, "300"), ("Repeat-Sheet", 1, 1, "400"),
    ]


def test_link_sheets_absent_missing_column_and_defaults(spark, tmp_path):
    """S6/S7: an absent link sheet or one without a required column
    reads as an empty frame of the reader's schema; an 'Action' row is
    promoted to the header; a missing or blank Replacement Type becomes
    'alternate'; absent optional describe columns read as null."""
    alt_cols = ["child_number", "replacement_number", "replacement_type"]
    desc_cols = ["document_number", "part_number", "document_revision",
                 "document_org", "document_container"]

    none = _book(tmp_path, {"WTPart-Sheet": BANNER + [PARTS_HEADER]})
    for df, cols in ((sources.read_excel_alternates(spark, none), alt_cols),
                     (sources.read_excel_describe_links(spark, none), desc_cols)):
        assert df.columns == cols and df.count() == 0

    missing = _book(tmp_path, {
        "WTPartAlternateLink-Sheet": BANNER + [["Child Part Number", "Replacement Type"], ["300", "x"]],
        "WTPartDescribeLink-Sheet": BANNER + [["Document Number", "Document Revision"], ["D1", "1"]],
    })
    assert sources.read_excel_alternates(spark, missing).count() == 0
    assert sources.read_excel_describe_links(spark, missing).count() == 0

    untyped = _book(tmp_path, {
        "WTPartAlternateLink-Sheet": BANNER + [
            ["Link export", None],
            ["Action", "Child Part Number", "Replacement Part Number"],
            ["Add", 300, "400 "],
            ["Add", "301", None],
        ],
        "WTPartDescribeLink-Sheet": BANNER + [
            ["Link export", None],
            ["Action", "Document Number", "Part Number", "Document Revision"],
            ["Add", "D1", "100", " 2 "],
            ["Add", None, "200", "1"],
        ],
    })
    assert [tuple(r) for r in sources.read_excel_alternates(spark, untyped).collect()] == [
        ("300", "400", "alternate"),
    ]
    assert [tuple(r) for r in sources.read_excel_describe_links(spark, untyped).collect()] == [
        ("D1", "100", "2", None, None),
    ]

    typed = _book(tmp_path, {
        "WTPartAlternateLink-Sheet": BANNER + [
            ["Child Part Number", "Replacement Part Number", "Replacement Type"],
            ["300", "400", " substitute "],
            ["301", "401", None],
        ],
    })
    assert sorted(tuple(r) for r in sources.read_excel_alternates(spark, typed).collect()) == [
        ("300", "400", "substitute"), ("301", "401", "alternate"),
    ]


def _header_at_row_zero(tmp_path) -> str:
    """A parts sheet whose header sits at row 0 with a mirrored header
    row under it: the skiprows=4 read lands on a data row."""
    rows = [[f"{100 + i}", f"part {i}", "Part", "Make", "Design", "RELEASED", "A", "Lib"]
            for i in range(6)]
    return _book(tmp_path, {"WTPart-Sheet": [PARTS_HEADER, PARTS_HEADER] + rows})


def test_sniffed_rescue_reads_a_header_at_row_zero(spark, tmp_path):
    """Without ``sniffed`` the sheet yields no parts (the reference
    loader skips it); with it the header is found at row 0, the mirror
    row is dropped instead of becoming a part, and a standard-layout
    sheet reads the same either way."""
    path = _header_at_row_zero(tmp_path)
    assert _parts(spark, path) == {}
    got = _parts(spark, path, sniffed=True)
    assert set(got) == {f"{100 + i}" for i in range(6)}
    assert got["103"]["name"] == "part 3"

    standard = _book(tmp_path, {
        "WTPart-Sheet": BANNER + [PARTS_HEADER, ["100", "Sled", "Part", "Make", "Design", "RELEASED", "A", "Lib"]],
    })
    assert _parts(spark, standard, sniffed=True) == _parts(spark, standard)


def test_sniffed_rescue_parses_the_workbook_once(spark, tmp_path, monkeypatch):
    """The header-anywhere rescue scans the grid the framing step
    already parsed: one ``read_workbook`` call per reader call."""
    path = _header_at_row_zero(tmp_path)
    calls = []
    real = xlsx.read_workbook

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(xlsx, "read_workbook", counting)
    assert sources.read_excel_parts(spark, path, sniffed=True).count() == 6
    assert len(calls) == 1


def test_sniffed_rescue_strips_a_padded_header(spark, tmp_path):
    """The rescue finds the header row on stripped cells and frames the
    table on those same stripped cells: a ' Number ' / 'Name ' header
    names the Number and Name columns, a padded mirror row under it is
    dropped, and every part is read."""
    padded = [f" {h} " if h in ("Number", "Name") else h for h in PARTS_HEADER]
    rows = [[f"{100 + i}", f"part {i}", "Part", "Make", "Design", "RELEASED", "A", "Lib"]
            for i in range(6)]
    path = _book(tmp_path, {"WTPart-Sheet": [padded, padded] + rows})
    assert _parts(spark, path) == {}
    got = _parts(spark, path, sniffed=True)
    assert set(got) == {f"{100 + i}" for i in range(6)}
    assert got["103"]["name"] == "part 3" and got["103"]["revision"] == "A"


def test_link_readers_parse_only_their_sheet(spark, tmp_path, monkeypatch):
    """Each link reader parses the XML of its own sheet only, the parts
    and BOM readers parse every sheet, and each reader returns the same
    rows as it does from a read of the whole workbook; one
    ``import_workbook`` parses the workbook once, so each of its 4
    sheets is parsed once."""
    from collections import Counter

    from kgforge.pipeline import import_workbook

    path = _book(tmp_path, {
        "WTPart-Sheet": BANNER + [
            PARTS_HEADER,
            ["100", "Sled", "Part", "Make", "Design", "RELEASED", "A", "Lib"],
            ["200", "Belt", "Part", "Buy", "Design", "DESIGN", "B", "Lib"],
        ],
        "BOM-Sheet": BANNER + [["Level", "Number"], [0, "100"], [1, "200"]],
        "WTPartAlternateLink-Sheet": BANNER + [
            ["Child Part Number", "Replacement Part Number"], ["200", "100"],
        ],
        "WTPartDescribeLink-Sheet": BANNER + [
            ["Document Number", "Part Number"], ["D1", "100"],
        ],
    })
    readers = {
        "parts": sources.read_excel_parts,
        "bom": sources.read_excel_bom_edges,
        "alternates": sources.read_excel_alternates,
        "describe": sources.read_excel_describe_links,
    }

    def rows(read) -> Counter:
        return Counter(map(tuple, read(spark, path).collect()))

    real_read, real_grid = xlsx.read_workbook, xlsx._sheet_grid

    def read_all(p, render_dates=False, sheets=None):
        return real_read(p, render_dates)

    monkeypatch.setattr(xlsx, "read_workbook", read_all)
    want = {name: rows(read) for name, read in readers.items()}
    monkeypatch.setattr(xlsx, "read_workbook", real_read)

    parsed: list[str] = []

    def counting_grid(zf, member, *args):
        parsed.append(member)
        return real_grid(zf, member, *args)

    monkeypatch.setattr(xlsx, "_sheet_grid", counting_grid)
    n_parsed = {}
    for name, read in readers.items():
        parsed.clear()
        assert rows(read) == want[name], name
        n_parsed[name] = len(parsed)
    assert n_parsed == {"parts": 4, "bom": 4, "alternates": 1, "describe": 1}
    assert all(want.values())
    parsed.clear()
    import_workbook(spark, path)
    assert len(parsed) == 4

"""Spark fixture derivation must match the DuckDB oracle derivation
byte-for-byte — this is the foundation every downstream operator parity
check stands on (per-turn text equality under stable turn ordering,
BASELINE.json input_hint)."""

from __future__ import annotations

from kgforge import fixtures
from kgforge.oracle import with_fixtures
from tests.util import assert_df_matches_oracle, load_entities_raw_messy


def test_transcripts_parity(spark, sf_dir):
    df = fixtures.load_transcripts(spark, sf_dir)
    # epoch seconds for a timestamp-stable compare
    from pyspark.sql import functions as F

    got = df.select("conv_id", "turn_idx", "role", "text", "tool", F.unix_timestamp("ts").alias("ts_epoch"))
    sql = with_fixtures(
        "SELECT conv_id, turn_idx, role, text, tool, CAST(epoch(ts) AS BIGINT) AS ts_epoch FROM transcripts"
    )
    assert_df_matches_oracle(got, sql, sf_dir)


def test_transcripts_unique_key(spark, sf_dir):
    df = fixtures.load_transcripts(spark, sf_dir)
    assert df.count() == df.select("conv_id", "turn_idx").distinct().count()


def test_entities_parity(spark, sf_dir):
    df = fixtures.load_entities(spark, sf_dir)
    sql = with_fixtures("SELECT * FROM entities")
    assert_df_matches_oracle(df, sql, sf_dir)


def test_entities_last_wins(spark, sf_dir):
    ents = fixtures.load_entities(spark, sf_dir).filter("number = '0'").collect()
    assert len(ents) == 1
    # sheet 1 override wins (reference dict-overwrite :98)
    assert ents[0].revision == "Z"
    assert ents[0].state == "RELEASED"


def test_entities_have_ambiguous_names(spark, sf_dir):
    from pyspark.sql import functions as F

    dup = (
        fixtures.load_entities(spark, sf_dir)
        .groupBy("name")
        .agg(F.count("*").alias("c"))
        .filter("c > 1")
        .count()
    )
    assert dup > 0, "ambiguity fixture requires shared names"


def test_versions_changes_parity(spark, sf_dir):
    from pyspark.sql import functions as F

    v = fixtures.load_versions(spark, sf_dir).select(
        "number", "version", "state", F.unix_timestamp("created_ts").alias("ts_epoch")
    )
    assert_df_matches_oracle(
        v,
        with_fixtures(
            "SELECT number, version, state, CAST(epoch(created_ts) AS BIGINT) AS ts_epoch FROM versions"
        ),
        sf_dir,
    )
    c = fixtures.load_changes(spark, sf_dir).select(
        "change_id", "change_type", "affected_number", F.unix_timestamp("ts").alias("ts_epoch")
    )
    assert_df_matches_oracle(
        c,
        with_fixtures(
            "SELECT change_id, change_type, affected_number, CAST(epoch(ts) AS BIGINT) AS ts_epoch FROM changes"
        ),
        sf_dir,
    )


def test_parts_sheet_framing_quirks(spark, tmp_path):
    """The reference's sheet framing (spreadsheet_loader.py:59-75) as
    read_excel_parts applies it: preamble skip, empty-after-skip
    fallback, header-dup promotion, and a sheet without the required
    headers skipped."""
    from kgforge import sources
    from tests.util import write_xlsx

    data = [["1", "widget"], ["2", "gadget"]]
    header = ["Number", "Name"]
    banner = [["Report", None], [None, None], ["PLM", None], [None, None]]

    def parts(grid):
        path = write_xlsx(str(tmp_path / f"s{len(list(tmp_path.iterdir()))}.xlsx"), {"Sheet": grid})
        return sorted((r.number, r.name) for r in sources.read_excel_parts(spark, path).collect())

    want = [tuple(r) for r in data]
    # preamble path
    assert parts(banner + [header] + data) == want
    # tiny sheet: skiprows would eat everything -> fall back to the top
    assert parts([header] + data[:1]) == want[:1]
    # skiprows leaves a header but no data row -> fall back to the top
    more = data + [["3", "bolt"], ["4", "nut"]]
    assert parts([header] + more) == sorted(tuple(r) for r in more)
    # header duplicated into the first data row under a junk header
    assert parts(banner + [["Unnamed: 0", "Unnamed: 1"], header] + data) == want
    # required headers genuinely absent -> the sheet is skipped
    assert parts(banner + [["a", "b"]] + data) == []


def test_resolve_edge_columns_synonyms():
    """Synonym priority for the simple parent-child edge shape
    (spreadsheet_loader.py:1185-1195): first match per priority list,
    case-insensitive, original casing returned; missing side -> None."""
    from kgforge import sources

    assert sources.resolve_edge_columns(["Parent Number", "Child Number", "Qty"]) == (
        "Parent Number", "Child Number",
    )
    # 'parent' outranks 'number'; 'component id' serves as child
    assert sources.resolve_edge_columns(["Number", "Parent", "Component ID"]) == (
        "Parent", "Component ID",
    )
    assert sources.resolve_edge_columns(["Parent", "Qty"]) is None
    # one column cannot be both ends
    assert sources.resolve_edge_columns(["Child", "Qty", "child number"]) is None


def test_messy_export_roundtrip_matches_clean_fixture(spark, sf_dir):
    """load_entities_raw_messy renders the raw sheets with banner
    preambles and a duplicated header, then must recover a table whose
    per-sheet content and last-wins dedup winners equal the clean path's
    exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kgforge.fixtures import ENTITY_COL_ORDER
    from kgforge.normalize import truncate_number_col

    clean = fixtures.load_entities_raw(spark, sf_dir)
    messy = load_entities_raw_messy(spark, sf_dir)
    cols = ["sheet_idx", *ENTITY_COL_ORDER]
    assert sorted(map(tuple, clean.select(cols).collect())) == sorted(
        map(tuple, messy.select(cols).collect())
    )
    # last-wins dedup over the messy table == the canonical entity table
    w = Window.partitionBy("number").orderBy(F.desc("sheet_idx"), F.desc("row_idx"))
    deduped = (
        messy.withColumn("number", truncate_number_col(F.col("number")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*ENTITY_COL_ORDER)
    )
    want = sorted(map(tuple, fixtures.load_entities(spark, sf_dir).collect()))
    assert sorted(map(tuple, deduped.collect())) == want


def test_read_bom_csv_simple_shape(spark, tmp_path):
    """Simple parent-child CSV: synonym headers resolve, numbers
    normalize (float-formatted '12.0' -> '12'), empty sides drop,
    duplicates collapse (reference parse_bom_csv :1184-1205 + edge
    dedup :1221)."""
    from kgforge import sources

    p = tmp_path / "edges.csv"
    p.write_text(
        "Parent,Component ID,Qty\n"
        "100,200,1\n"
        "100,201.0,2\n"   # float-formatted child normalizes to 201
        "100,,3\n"         # empty child drops
        "100,200,4\n"      # duplicate edge collapses
        "101,202,1\n"
    )
    got = {(r.parent, r.child) for r in sources.read_bom_csv(spark, str(p)).collect()}
    assert got == {("100", "200"), ("100", "201"), ("101", "202")}


def test_read_bom_csv_hierarchical_multifile(spark, tmp_path):
    """Hierarchical Number+Level CSVs: per-file row order drives the
    level-stack decode (one file = one group), including a stale-stack
    sequence the window decoder alone would mis-attach; bad level rows
    and blank numbers are skipped (reference :1161-1182)."""
    from kgforge import sources

    d = tmp_path / "bom"
    d.mkdir()
    (d / "a.csv").write_text(
        "Number,Level,Name\n"
        "A,0,root\n"
        "B,1,x\n"
        "C,2,y\n"
        "D,0,z\n"
        "E,2,stale\n"      # level-1 entry cleared by D -> no edge for E
        "F,oops,bad\n"     # unparseable level skipped
        ",1,blank\n"       # blank number skipped
    )
    (d / "b.csv").write_text(
        "Number,Level,Name\n"
        "X,0,root\n"
        "Y,1,u\n"
        "Z,1,v\n"
    )
    got = {(r.parent, r.child) for r in sources.read_bom_csv(spark, str(d)).collect()}
    assert got == {("A", "B"), ("B", "C"), ("X", "Y"), ("X", "Z")}


def test_read_bom_csv_rejects_unknown_header(spark, tmp_path):
    import pytest

    from kgforge import sources

    p = tmp_path / "bad.csv"
    p.write_text("foo,bar\n1,2\n")
    with pytest.raises(ValueError, match="no BOM shape"):
        sources.read_bom_csv(spark, str(p))


def test_read_api_pages_paginates_and_resumes(spark, sf_dir):
    """S9 API source: $skip/$top pagination against a fake transport
    until the short page; schema-on-read (absent fields null, extras
    drop); the returned cursor resumes an interrupted pull without
    re-fetching earlier pages."""
    from kgforge import sources
    from kgforge.schema import ENTITY_SCHEMA

    ents = fixtures.load_entities(spark, sf_dir).orderBy("number").collect()
    records = [{**r.asDict(), "Extra": "ignored"} for r in ents]
    calls = []

    def fake_fetch(entity_set, params):
        assert entity_set == "Parts"
        calls.append(params["$skip"])
        return records[params["$skip"]: params["$skip"] + params["$top"]]

    df, cursor = sources.read_api_pages(
        spark, fake_fetch, "Parts", ENTITY_SCHEMA, page_size=64
    )
    assert cursor == len(records) // 64 + 1
    assert calls == [i * 64 for i in range(cursor)]
    got = sorted(map(tuple, df.collect()))
    want = sorted(tuple(r[f.name] for f in ENTITY_SCHEMA.fields) for r in ents)
    assert got == want

    # resume from a mid-pull cursor: only the remaining pages fetch
    calls.clear()
    df2, cursor2 = sources.read_api_pages(
        spark, fake_fetch, "Parts", ENTITY_SCHEMA, page_size=64, start_page=2
    )
    assert cursor2 == cursor and calls[0] == 128
    assert df2.count() == len(records) - 128


def test_read_bom_csv_by_name_resolution_semantics(spark, sf_dir, tmp_path):
    """Name-based BOM CSV flow: the distributed name resolution must
    reproduce the reference semantics — unique name resolves, ambiguous
    drops, unknown drops, number-as-name passes through, self-loop
    drops, leaked duplicate header row drops; strict raises."""
    import pytest

    from kgforge import sources

    ents = spark.createDataFrame(
        [
            ("100", "alpha"), ("200", "beta"),
            ("300", "dup name"), ("301", "dup name"),  # ambiguous
            ("400", "gamma"),
        ],
        "number string, name string",
    )
    p = tmp_path / "bom_names.csv"
    p.write_text(
        "Parent Name,Child Name\n"
        "Parent Name,Child Name\n"      # duplicated header inside data
        "alpha,beta\n"                   # both resolve
        "alpha,dup name\n"               # ambiguous child -> drops
        "alpha,nosuch\n"                 # unknown child -> drops
        "alpha,400\n"                    # number-as-name pass-through
        "gamma,gamma\n"                  # self-loop after resolution -> drops
        "alpha,beta\n"                   # duplicate pair collapses
    )
    got = {
        (r.parent, r.child)
        for r in sources.read_bom_csv_by_name(spark, str(p), ents).collect()
    }
    assert got == {("100", "200"), ("100", "400")}

    with pytest.raises(RuntimeError, match="strict name resolution failed"):
        sources.read_bom_csv_by_name(spark, str(p), ents, strict=True)

    # salted strategy must produce identical edges
    got_salted = {
        (r.parent, r.child)
        for r in sources.read_bom_csv_by_name(
            spark, str(p), ents, strategy="salted"
        ).collect()
    }
    assert got_salted == got

    # header-mirror drop is ALL-columns: a legitimate row whose name
    # cells coincide with the header strings survives when any other
    # column differs (parts really named 'Parent Name'/'Child Name')
    ents2 = spark.createDataFrame(
        [("500", "Parent Name"), ("600", "Child Name")],
        "number string, name string",
    )
    p2 = tmp_path / "bom_names_tricky.csv"
    p2.write_text(
        "Parent Name,Child Name,Note\n"
        "Parent Name,Child Name,Note\n"   # true header dup -> drops
        "Parent Name,Child Name,\n"       # leaked header, Note parsed null
                                          # (reference superset drop) -> drops
        "Parent Name,Child Name,real\n"   # legit row, Note differs -> kept
    )
    got2 = {
        (r.parent, r.child)
        for r in sources.read_bom_csv_by_name(spark, str(p2), ents2).collect()
    }
    assert got2 == {("500", "600")}


def test_read_bom_csv_decodes_reference_bom_with_the_stack(spark):
    """read_bom_csv on the reference's real bom.csv decodes with the
    level stack, the xlsx-path semantics: its distinct edges are the
    published 1,543. (The reference's round-robin --bom replay,
    graph.level_stack_round_robin, is checked by the gate.)"""
    import os

    from kgforge import sources

    bom = "/root/reference/data/bom.csv"
    if not os.path.exists(bom):
        import pytest

        pytest.skip("reference bom.csv absent")

    assert sources.read_bom_csv(spark, bom).count() == 1543


def test_convert_hierarchical_bom_matches_shipped_artifact(spark):
    """convert_hierarchical_bom on the reference's real bom.csv must
    reproduce its own shipped conversion output
    (data/bom_parent_child.csv — raw dup-bearing level-stack edges, the
    convert_hierarchical_bom.py script's artifact) as a multiset."""
    import csv
    import os
    from collections import Counter

    import pytest

    from kgforge import sources

    bom = "/root/reference/data/bom.csv"
    artifact = "/root/reference/data/bom_parent_child.csv"
    if not (os.path.exists(bom) and os.path.exists(artifact)):
        pytest.skip("reference data absent")
    got = Counter(
        (r.parent, r.child)
        for r in sources.convert_hierarchical_bom(spark, bom).collect()
    )
    with open(artifact) as f:
        rows = list(csv.reader(f))[1:]
    want = Counter((p, c) for p, c in rows)
    assert got == want and sum(got.values()) == 2072

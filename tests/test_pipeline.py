"""Behavioral tests: strict mode, resume idempotency, level-stack exact
semantics, dictionary mention detection, connected components, entry()."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from kgforge import extract, fixtures, graph, linking, resume
from tests.util import level_stack_oracle

# usage attributes the child row carries onto its edge (reference
# parse_part_usage)
USAGE_ATTRS = ("quantity", "uom", "find_number")


def test_strict_mode_raises(spark, sf_dir):
    t = fixtures.load_transcripts(spark, sf_dir)
    e = fixtures.load_entities(spark, sf_dir)
    linked = linking.link_mentions(extract.extract_mentions(t), e)
    with pytest.raises(RuntimeError, match="strict name resolution failed"):
        linking.check_strict(linked)


def _decoded(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def test_level_stack_stale_entry_cleared(spark):
    """The tricky case: after a jump back to a shallow level, deeper
    stack entries are cleared, so a later deep row with no fresh parent
    emits nothing (reference stack-clear semantics,
    spreadsheet_loader.py:1171-1178)."""
    data = [("g", 0, 0, "A"), ("g", 1, 1, "B"), ("g", 2, 2, "C"), ("g", 3, 0, "D"), ("g", 4, 2, "E")]
    rows = spark.createDataFrame(data, "group_id string, row_idx int, level int, number string")
    got = _decoded(graph.level_stack_decode(rows, max_level=2))
    # E at level 2 must NOT attach to stale B; D cleared levels 1+.
    assert got == level_stack_oracle(data) == [("A", "B"), ("B", "C")]


def test_level_stack_routed_exact_on_stale_stack_groups(spark, sf_dir):
    """The gate's decoder name must equal the Python replay of the
    reference loop when a group's level sequence has a down-jump
    followed by a level skip (a stale-stack shape) next to a clean
    group, and on the fixture hierarchy with its usage attributes."""
    # g-bad replays the stale-entry case; g-ok is a clean hierarchy.
    data = [
        ("g-bad", 0, 0, "A"), ("g-bad", 1, 1, "B"), ("g-bad", 2, 2, "C"),
        ("g-bad", 3, 0, "D"), ("g-bad", 4, 2, "E"),
        ("g-ok", 0, 0, "R"), ("g-ok", 1, 1, "S"), ("g-ok", 2, 2, "T"),
        ("g-ok", 3, 1, "U"), ("g-ok", 4, 2, "V"),
    ]
    rows = spark.createDataFrame(data, "group_id string, row_idx int, level int, number string")
    got = _decoded(graph.level_stack_decode_routed(rows, max_level=2))
    assert got == level_stack_oracle(data)
    assert set(got) == {("A", "B"), ("B", "C"), ("R", "S"), ("S", "T"), ("R", "U"), ("U", "V")}

    # fixture hierarchy: full rows, including the carried usage attributes
    h = fixtures.load_hierarchy(spark, sf_dir).select(
        "group_id", "row_idx", "level", "number", *USAGE_ATTRS
    )
    want = sorted(set(level_stack_oracle(h.collect())), key=repr)
    got = _decoded(
        graph.level_stack_decode_routed(h, max_level=2, attrs=USAGE_ATTRS).dropDuplicates()
    )
    assert got == want and want


def test_level_stack_above_max_level_raises(spark):
    """A caller ``max_level`` below the data's depth raises instead of
    silently dropping the deep edges; at the true depth the decode
    equals the Python replay."""
    data = [
        # deep group: levels reach 3
        ("deep", 0, 0, "A"), ("deep", 1, 1, "B"),
        ("deep", 2, 2, "C"), ("deep", 3, 3, "D"),
        ("shallow", 0, 0, "R"), ("shallow", 1, 1, "S"),
    ]
    rows = spark.createDataFrame(data, "group_id string, row_idx int, level int, number string")
    with pytest.raises(SparkRuntimeException, match="USER_RAISED_EXCEPTION"):
        graph.level_stack_decode_routed(rows, max_level=1).collect()
    got = _decoded(graph.level_stack_decode_routed(rows, max_level=3))
    assert got == level_stack_oracle(data) == [("A", "B"), ("B", "C"), ("C", "D"), ("R", "S")]


def test_dictionary_detector_finds_bracketed_names(spark, sf_dir):
    """The pandas-UDF dictionary detector must find at least every
    dictionary name that the structural extractor finds."""
    t = fixtures.load_transcripts(spark, sf_dir).limit(500).cache()
    e = fixtures.load_entities(spark, sf_dir)
    det = set(
        (r.conv_id, r.turn_idx, r.mention)
        for r in extract.detect_mentions_dictionary(t, e).collect()
    )
    names = {r.name for r in e.select("name").distinct().collect()}
    structural = set(
        (r.conv_id, r.turn_idx, r.mention)
        for r in extract.extract_mentions(t).collect()
        if r.mention in names
    )
    assert structural <= det
    t.unpersist()


def test_dictionary_detector_jvm_engine_matches_python(spark, sf_dir):
    """engine='jvm' (regexp_extract_all inside codegen, no Python
    crossing) must produce exactly the pandas-UDF rows, in both plain
    and overlapping (lookahead) modes, and its plan must contain no
    Python eval node. engine='auto' (the default) must route this
    small dictionary to the JVM fast path and produce the same rows."""
    t = fixtures.load_transcripts(spark, sf_dir)
    e = fixtures.load_entities(spark, sf_dir)
    for overlapping in (False, True):
        py = sorted(
            map(
                tuple,
                extract.detect_mentions_dictionary(
                    t, e, overlapping=overlapping, engine="python"
                ).collect(),
            )
        )
        jvm_df = extract.detect_mentions_dictionary(
            t, e, overlapping=overlapping, engine="jvm"
        )
        assert py == sorted(map(tuple, jvm_df.collect())) and py
        plan = jvm_df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan

        auto_df = extract.detect_mentions_dictionary(t, e, overlapping=overlapping)
        assert py == sorted(map(tuple, auto_df.collect()))
        # fixture dictionary is under the crossover -> auto == jvm plan
        n_names = e.select("name").distinct().count()
        assert n_names <= extract.JVM_ENGINE_MAX_NAMES
        auto_plan = auto_df._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in auto_plan and "Arrow" not in auto_plan


def test_connected_components_vs_union_find(spark, sf_dir):
    edges = graph.bom_edges_from_linked(
        linking.link_mentions(
            extract.extract_mentions(fixtures.load_transcripts(spark, sf_dir)),
            fixtures.load_entities(spark, sf_dir),
        )
    ).filter((F.col("parent").cast("bigint") + F.col("child").cast("bigint")) % 10 == 0)
    pdf = edges.toPandas()

    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in zip(pdf["parent"], pdf["child"]):
        union(a, b)
    want = {n: find(n) for n in parent}
    got = {r.node: r.component for r in graph.connected_components(edges).collect()}
    assert got == want


def test_bom_edges_direct_matches_mention_path(spark, sf_dir):
    """The shuffle-free direct edge assembly must equal the canonical
    mention-row path (extract -> link -> pivot) exactly."""
    t = fixtures.load_transcripts(spark, sf_dir)
    e = fixtures.load_entities(spark, sf_dir)
    classic = {
        (r.parent, r.child)
        for r in graph.bom_edges_from_linked(
            linking.link_mentions(extract.extract_mentions(t), e)
        ).collect()
    }
    direct = {(r.parent, r.child) for r in graph.bom_edges_direct(t, e).collect()}
    assert direct == classic and classic


def test_equivalence_edges_star_is_linear_in_group_size(spark):
    """Hot-name groups: k entities sharing one display name must yield
    k-1 star edges (member -> group-min), not the O(k²) clique, and the
    canonical assignment must still be min(number) per name group."""
    from kgforge import canonicalize

    k = 400
    rows = [(f"{10_000 + i}", "hot part") for i in range(k)]
    rows += [(f"{i}", f"unique {i}") for i in range(5)]
    # null names never group; empty names group like any other name
    rows += [("n2", None), ("n1", None), ("e2", ""), ("e1", "")]
    ents = spark.createDataFrame(rows, "number string, name string")
    edges = canonicalize.equivalence_edges(ents)
    hot = edges.filter(F.col("child").startswith("1"))
    assert hot.count() == k - 1  # star, not clique (clique would be ~80k)
    assert hot.filter(F.col("parent") != "10000").count() == 0
    assert {tuple(r) for r in edges.subtract(hot).collect()} == {("e1", "e2")}
    canon = canonicalize.assign_canonical_iris(ents)
    got = {r.number: r.canonical_number for r in canon.collect()}
    assert len(got) == len(rows)
    assert all(got[f"{10_000 + i}"] == "10000" for i in range(k))
    assert all(got[f"{i}"] == f"{i}" for i in range(5))  # singletons self-represent
    assert (got["n1"], got["n2"], got["e1"], got["e2"]) == ("n1", "n2", "e1", "e1")


def test_assign_canonical_iris_starts_no_job(spark):
    """Canonical IRIs are one window over the name groups: building the
    frame runs nothing until the caller's own action."""
    from kgforge import canonicalize

    ents = spark.createDataFrame(
        [("2", "a"), ("1", "a"), ("3", "b"), ("4", None)], "number string, name string"
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    canon = canonicalize.assign_canonical_iris(ents)
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert {r.number: r.canonical_number for r in canon.collect()} == {
        "1": "1", "2": "1", "3": "3", "4": "4",
    }


def test_cc_label_propagation_on_long_chain(spark):
    """Min-label propagation over a 200-node chain (diameter 199, so
    about 200 rounds) labels every chain node with the chain's minimum
    and leaves a second component apart."""
    chain = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(199)]
        + [("z1", "z2"), ("z2", "z3")],  # second small component
        "parent string, child string",
    )
    got = {r.node: r.component for r in graph.connected_components(chain, max_iterations=256).collect()}
    want = {f"n{i:04d}": "n0000" for i in range(200)} | {"z1": "z1", "z2": "z1", "z3": "z1"}
    assert got == want


def test_khop_descendants_matches_bfs_with_one_job_per_round(spark):
    """Bounded BFS on a 5-node chain equals a Python BFS, and each round
    runs one Spark job: the lazy checkpoint is materialized by the
    round's termination count."""
    nodes = [f"c{i}" for i in range(5)]
    edges = spark.createDataFrame(list(zip(nodes, nodes[1:])), "parent string, child string")
    children = dict(zip(nodes, nodes[1:]))

    def bfs(roots, max_depth):
        out = set()
        for root in roots:
            seen, frontier = {root}, [root]
            out.add((root, root, 0))
            for d in range(1, max_depth + 1):
                frontier = [children[n] for n in frontier if n in children and children[n] not in seen]
                seen.update(frontier)
                out.update((root, n, d) for n in frontier)
        return out

    tracker = spark.sparkContext.statusTracker()
    # (roots, max_depth, rounds run): depth 3 never empties the
    # frontier; depth 6 from c0 stops after the empty fifth round
    for roots, max_depth, rounds in ((["c0", "c3"], 3, 3), (["c0"], 6, 5)):
        root_df = spark.createDataFrame([(r,) for r in roots], "number string")
        before = set(tracker.getJobIdsForGroup(None))
        got = graph.khop_descendants(edges, root_df, max_depth=max_depth)
        assert len(set(tracker.getJobIdsForGroup(None)) - before) == rounds
        assert {(r.root, r.node, r.depth) for r in got.collect()} == bfs(roots, max_depth)


def _random_digraph(seed: int, n: int, m: int) -> list[tuple[str, str]]:
    import random

    rng = random.Random(seed)
    return list(
        {
            (f"n{rng.randrange(n):03d}", f"n{rng.randrange(n):03d}")
            for _ in range(m)
        }
    )


def test_closure_variants_agree_with_python_dfs(spark):
    """Delta path-doubling and semi-naive closures must both equal a
    pure-Python DFS (reference cycle-guard semantics,
    spreadsheet_loader.py:1002-1005) on two graphs: a cycle, a diamond
    and a chain; and nested cycles (a 3-cycle feeding a 2-cycle) with a
    self-loop, DAG tails and a random digraph, whose intra-cycle
    self-pairs (x, x) both closures must emit."""
    graphs = [
        [
            ("a", "b"), ("b", "c"), ("c", "a"),        # cycle
            ("d", "e"), ("d", "f"), ("e", "g"), ("f", "g"),  # diamond
            ("h", "i"), ("i", "j"), ("j", "k"),        # chain
            ("g", "h"),
        ],
        [
            ("a", "b"), ("b", "c"), ("c", "a"),          # 3-cycle
            ("c", "d"), ("d", "e"), ("e", "d"),          # 2-cycle off the 3-cycle
            ("e", "f"), ("x", "a"), ("s", "s"),          # tail in, tail out, self-loop
            ("p", "q"), ("q", "r"),                      # separate chain
        ] + _random_digraph(3, 15, 25),
    ]
    for edges in graphs:
        adj: dict[str, list[str]] = {}
        for p, c in edges:
            adj.setdefault(p, []).append(c)
        want = set()
        for start in {p for p, _ in edges} | {c for _, c in edges}:
            stack, seen = list(adj.get(start, [])), set()
            while stack:
                n = stack.pop()
                if n in seen:
                    continue
                seen.add(n)
                want.add((start, n))
                stack.extend(adj.get(n, []))
        df = spark.createDataFrame(edges, "parent string, child string")
        doubling = {(r.parent, r.child) for r in graph.transitive_closure(df).collect()}
        seminaive = {
            (r.parent, r.child) for r in graph.transitive_closure_seminaive(df).collect()
        }
        assert doubling == want
        assert seminaive == want
    # the nested-cycle graph (last): intra-cycle and self-loop self-pairs
    assert {("s", "s"), ("a", "a"), ("d", "d")} <= doubling


def test_resume_kill_and_rerun(spark, sf_dir, tmp_path):
    """Crash after the first commit group, re-run, assert no duplicate or
    missing triples (idempotent MERGE analogue, SURVEY §5 item 5)."""
    from kgforge import materialize

    triples = materialize.part_triples(fixtures.load_entities(spark, sf_dir)).cache()
    expected = triples.count()
    out = str(tmp_path / "kg")
    with pytest.raises(ValueError, match="bucket_by_subject"):
        resume.write_triples_resumable(triples, out, n_buckets=8)
    bucketed = resume.bucket_by_subject(triples, 8).cache()
    with pytest.raises(resume.InjectedFailure):
        resume.write_triples_resumable(bucketed, out, n_buckets=8, commit_every=2, fail_after_commits=1)
    manifest = resume.read_manifest(out)
    assert 0 < len(manifest["committed"]) < 8
    # resume
    resume.write_triples_resumable(bucketed, out, n_buckets=8, commit_every=2)
    manifest = resume.read_manifest(out)
    assert len(manifest["committed"]) == 8
    got = resume.read_triples(spark, out)
    assert got.count() == expected
    assert got.dropDuplicates(["subj", "pred", "obj"]).count() == expected
    # manifest counts match data
    assert sum(v["n_triples"] for v in manifest["committed"].values()) == expected
    # snapshot log: a linear parent-chained history spanning BOTH runs
    # (crashed + resumed), covering every bucket exactly once, with
    # per-snapshot counts summing to the data
    snaps = manifest["snapshots"]
    assert len(snaps) >= 2  # at least one commit per run
    assert snaps[0]["parent_snapshot_id"] is None
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur["parent_snapshot_id"] == prev["snapshot_id"]
    all_buckets = [b for s in snaps for b in s["buckets"]]
    assert sorted(all_buckets) == list(range(8))
    assert sum(s["n_triples"] for s in snaps) == expected
    # layout: one exchange on the bucket id puts each bucket in a single
    # partition, so every bucket directory holds exactly one file, also
    # across the crash-then-resume sequence
    data_dir = tmp_path / "kg" / "triples"
    bucket_dirs = sorted(data_dir.glob("subj_bucket=*"))
    for d in bucket_dirs:
        assert len(list(d.glob("*.parquet"))) == 1, d.name
    # per-bucket manifest counts equal an independent count of the input
    want = {
        r["b"]: r["count"]
        for r in triples.groupBy(F.pmod(F.xxhash64("subj"), F.lit(8)).alias("b"))
        .count()
        .collect()
    }
    assert {int(k): v["n_triples"] for k, v in manifest["committed"].items()} == {
        b: want.get(b, 0) for b in range(8)
    }
    assert {int(d.name.split("=")[1]) for d in bucket_dirs} == set(want)
    bucketed.unpersist()
    triples.unpersist()


def test_run_pipeline_commit_groups_write_with_fewer_tasks_than_buckets(
    spark, sf_dir, tmp_path, monkeypatch
):
    """AQE sizes the bucketed triple cache from its data, so each commit
    group's write scans fewer partitions than there are buckets (and
    than ``spark.sql.shuffle.partitions``), while every bucket directory
    still holds exactly one file."""
    from pyspark.sql.readwriter import DataFrameWriter

    from kgforge.pipeline import run_pipeline

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    writes: list[set[int]] = []
    real_parquet = DataFrameWriter.parquet

    def tracked_parquet(self, *args, **kwargs):
        before = set(tracker.getJobIdsForGroup(None))
        real_parquet(self, *args, **kwargs)
        writes.append(set(tracker.getJobIdsForGroup(None)) - before)

    monkeypatch.setattr(DataFrameWriter, "parquet", tracked_parquet)
    out = tmp_path / "kg"
    stats = run_pipeline(spark, sf_dir, str(out))
    monkeypatch.undo()
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    def tasks(job_ids: set[int]) -> int:
        stages = (tracker.getStageInfo(s) for j in job_ids for s in tracker.getJobInfo(j).stageIds)
        return sum(s.numCompletedTasks for s in stages if s is not None)

    n_buckets = resume.DEFAULT_BUCKETS
    width = min(n_buckets, int(spark.conf.get("spark.sql.shuffle.partitions")))
    assert len(writes) == n_buckets // 8  # commit_every=8
    for job_ids in writes:
        assert 0 < tasks(job_ids) < width
    manifest = resume.read_manifest(str(out))
    assert len(manifest["committed"]) == n_buckets
    assert sum(v["n_triples"] for v in manifest["committed"].values()) == stats["total_triples"]
    bucket_dirs = sorted((out / "triples").glob("subj_bucket=*"))
    assert bucket_dirs
    for d in bucket_dirs:
        assert len(list(d.glob("*.parquet"))) == 1, d.name


def test_session_lets_aqe_coalesce_cached_plans(spark):
    """``get_spark`` lets AQE coalesce the last stage of a cached plan:
    a cached ``repartition("k")`` frame of a few rows materializes with
    fewer partitions than ``spark.sql.shuffle.partitions``. A renamed or
    ignored planner key fails here instead of silently widening every
    KG-build cache back to the session's shuffle width."""
    df = spark.range(1000).withColumn("k", F.col("id") % 50).repartition("k").cache()
    try:
        assert df.count() == 1000
        assert df.rdd.getNumPartitions() < int(spark.conf.get("spark.sql.shuffle.partitions"))
    finally:
        df.unpersist()


def test_fixpoint_loops_restore_unset_session_conf(spark, sf_dir):
    """A session that never set ``spark.sql.shuffle.partitions`` (a
    plain spark-submit) runs the fixpoint loops, and every conf they
    touch reads the same afterwards: a key that was unset is unset
    again."""
    from kgforge.pipeline import run_pipeline

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.constraintPropagation.enabled",
    )

    def conf():
        return {k: spark.conf.getAll.get(k, "unset") for k in keys}

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.unset("spark.sql.shuffle.partitions")
    try:
        before = conf()
        assert before["spark.sql.shuffle.partitions"] == "unset"
        edges = spark.createDataFrame([("a", "b"), ("b", "c")], "parent string, child string")
        runs = {
            "transitive_closure": lambda: graph.transitive_closure(edges).count(),
            "transitive_closure_seminaive": lambda: graph.transitive_closure_seminaive(edges).count(),
            "connected_components": lambda: graph.connected_components(edges).count(),
            "run_pipeline": lambda: run_pipeline(spark, sf_dir),
        }
        for name, run in runs.items():
            run()
            assert conf() == before, name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_fixpoint_loops_leave_sizing_to_aqe(spark, monkeypatch):
    """No fixpoint loop sets a shuffle width, and only
    ``khop_descendants`` switches AQE: every other loop lets AQE size
    each round from its data. Records the key of every
    ``spark.conf.set`` a loop makes, restores included."""
    from pyspark.sql.conf import RuntimeConfig

    real_set = RuntimeConfig.set
    keys: list[str] = []

    def recording_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")], "parent string, child string")
    roots = spark.createDataFrame([("a",)], "number string")
    runs = {
        "transitive_closure": lambda: graph.transitive_closure(edges).count(),
        "transitive_closure_seminaive": lambda: graph.transitive_closure_seminaive(edges).count(),
        "connected_components": lambda: graph.connected_components(edges).count(),
        "khop_descendants": lambda: graph.khop_descendants(edges, roots, max_depth=3).count(),
    }
    touched = {}
    for name, run in runs.items():
        keys.clear()
        run()
        touched[name] = set(keys)
    assert all(touched.values()), touched
    assert not [n for n, k in touched.items() if "spark.sql.shuffle.partitions" in k], touched
    aqe = sorted(n for n, k in touched.items() if "spark.sql.adaptive.enabled" in k)
    assert aqe == ["khop_descendants"], touched


def test_entry_smoke(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"pred", "n"}
    preds = {r.pred for r in rows}
    assert "urn:ontology:hasComponent" in preds
    assert "urn:ontology:partOfAssembly" in preds
    assert "urn:ontology:usedIn" in preds


def test_normalize_py_matches_reference_semantics():
    from kgforge.normalize import normalize_part_number_py as n

    assert n(float("nan")) == ""
    assert n(None) == ""
    assert n(123.0) == "123"
    assert n(123.5) == "123.5"
    assert n(123) == "123"
    assert n("100 SNOW") == "100 SNOW"


def test_iri_encode_udf_matches_quote(spark):
    import random
    import urllib.parse

    from kgforge.normalize import iri_encode_col, iri_encode_udf

    df = spark.createDataFrame([("100 SNOW",), ("a#b/c",), ("plain",)], "s string")
    got = {r[0] for r in df.select(iri_encode_udf("s")).collect()}
    assert got == {"100%20SNOW", "a%23b/c", "plain"}
    # seeded random Unicode: printable ASCII, tab, accented letters,
    # CJK and emoji, against the reference's urllib.parse.quote
    rng = random.Random(11)
    alphabet = [chr(c) for c in range(32, 127)] + list("\téüñÅßø中文字日本😀🚀")
    strings = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 16))) for _ in range(2000)]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    rows = df.select("s", iri_encode_col(F.col("s")).alias("e"), iri_encode_udf("s").alias("u")).collect()
    bad = [(r.s, r.e, r.u) for r in rows if not r.e == r.u == urllib.parse.quote(r.s)]
    assert not bad, bad[:5]


def test_ntriples_line_valid_for_markup_in_numbers(spark):
    """A part number holding ``<``, ``>`` and ``"`` renders as a valid
    N-Triples line: every IRI is percent-encoded (IRIREF grammar)."""
    import re

    from kgforge import materialize

    edges = spark.createDataFrame([('A<1>"x"', "B 2>")], "parent string, child string")
    (line,) = [r.line for r in materialize.ntriples_lines(materialize.bom_triples(edges)).collect()]
    iri = r'<[^\x00-\x20<>"{}|^`\\]*>'
    assert re.fullmatch(f"{iri} {iri} {iri} \\.", line), line


def test_cli_report_flags(sf_dir, tmp_path):
    """The reference's early-exit CLI subcommands (main :1729-1739):
    each flag writes its report CSV and exits without materializing
    triples; --strict-names makes the run fail loudly (the fixture has
    deliberate unknown mentions)."""
    import subprocess
    import sys as _sys

    env = {**__import__("os").environ, "SPARK_GRAFT_CPUS": "4"}

    def cli(*flags):
        return subprocess.run(
            [_sys.executable, "-m", "kgforge.pipeline", sf_dir, *flags],
            capture_output=True, text=True, timeout=420, env=env, cwd="/root/repo",
        )

    idx_out = tmp_path / "name_index"
    proc = cli("--dump-name-index", str(idx_out))
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert '"name_index"' in proc.stdout
    csvs = list(idx_out.glob("*.csv"))
    assert csvs
    header = csvs[0].read_text().splitlines()[0]
    assert header == "name,number,n_candidates"

    cand_out = tmp_path / "candidates"
    proc = cli("--emit-candidates", str(cand_out))
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [
        ln
        for p in cand_out.glob("*.csv")
        for ln in p.read_text().splitlines()
        if ln and not ln.startswith("parent_number")
    ]
    assert rows and all(len(ln.split(",")) == 4 for ln in rows[:20])

    # success path keeps the documented 4-column report contract
    # (reference writes name columns only, :1107-1110 — not the internal
    # *_name_missing flags)
    bbn_out = tmp_path / "bbn_ok"
    proc = cli("--generate-bom-by-name", str(bbn_out))
    assert proc.returncode == 0, proc.stderr[-2000:]
    bbn_csvs = list(bbn_out.glob("*.csv"))
    assert bbn_csvs
    assert bbn_csvs[0].read_text().splitlines()[0] == "parent_name,child_name,parent,child"

    # strict mode propagates check_strict's failure through the CLI
    proc = cli("--generate-bom-by-name", str(tmp_path / "bbn"), "--strict-names")
    assert proc.returncode != 0
    assert "strict name resolution failed" in proc.stderr

    # --bom: extra CSV edges union into the edge set (reference --bom)
    import json as _json

    bom = tmp_path / "extra_bom.csv"
    bom.write_text("Parent Number,Child Number\n999001,999002\n999003,999004\n")
    base = _json.loads(cli().stdout)
    with_bom = _json.loads(cli("--bom", str(bom)).stdout)
    assert with_bom["n_edges"] == base["n_edges"] + 2
    assert (
        with_bom["per_predicate"]["urn:ontology:hasComponent"]
        == base["per_predicate"]["urn:ontology:hasComponent"] + 2
    )


def test_write_reports_writes_each_report(spark, sf_dir, tmp_path):
    """reports.write_reports (K3/K4): each file it writes reads back as
    exactly the DataFrame it came from, and bom_by_name keeps the
    reference's 4-column shape."""
    from kgforge import reports

    ents = fixtures.load_entities(spark, sf_dir)
    linked = linking.link_mentions(
        extract.extract_mentions(fixtures.load_transcripts(spark, sf_dir)), ents
    ).cache()
    edges = graph.bom_edges_from_linked(linked)
    out = str(tmp_path / "reports")
    reports.write_reports(linked, ents, edges, out)

    written = {
        "name_index": (reports.name_index_report(ents), "csv"),
        "resolution_report": (reports.resolution_report(linked), "csv"),
        "skip_log": (reports.skip_log(linked), "json"),
        "bom_by_name": (reports.bom_by_name_report(edges, ents), "csv"),
    }
    for name, (want, fmt) in written.items():
        reader = spark.read.schema(want.schema)
        got = (reader.option("header", True).csv if fmt == "csv" else reader.json)(f"{out}/{name}")
        assert got.count() == want.count() > 0, name
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0, name
    assert written["bom_by_name"][0].columns == ["parent_name", "child_name", "parent", "child"]
    linked.unpersist()


def test_spark_submit_pyfiles_lifecycle(tmp_path):
    """North-rule lifecycle evidence: package kgforge as a --py-files
    zip and run the pipeline through a real ``spark-submit`` driver from
    a directory where the package is NOT importable — imports must
    resolve from the zip, the submitted --master must be respected (no
    local[N] override in get_spark), and the run must emit the stats
    block + a committed manifest."""
    import json
    import subprocess

    from kgforge.package import build

    zip_path = build(str(tmp_path / "kgforge.zip"))
    driver = tmp_path / "driver.py"
    driver.write_text(
        "import json, sys\n"
        "from kgforge.session import get_spark\n"
        "from kgforge.pipeline import run_pipeline\n"
        "spark = get_spark('kgforge-submit')\n"
        "assert spark.conf.get('spark.master') == 'local[4]', spark.conf.get('spark.master')\n"
        "print('STATS::' + json.dumps(run_pipeline(spark, sys.argv[1], sys.argv[2]), default=int))\n"
    )
    out_dir = tmp_path / "out"
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", str(zip_path),
            str(driver), "/root/testdata/sf0.001", str(out_dir),
        ],
        capture_output=True, text=True, cwd=tmp_path, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    stats_line = [ln for ln in proc.stdout.splitlines() if ln.startswith("STATS::")]
    assert stats_line, proc.stdout[-2000:]
    stats = json.loads(stats_line[0][len("STATS::"):])
    assert stats["total_triples"] > 0 and stats["n_edges"] > 0
    assert (out_dir / "_manifest.json").exists()


def test_connector_delivers_all_lines_with_flaky_transport(spark, sf_dir, tmp_path):
    """K1 HTTP-leg connector: every rendered N-Triples line is delivered
    exactly once per content chunk despite a transport that fails the
    first attempt for every batch; chunk ids are content-stable so
    replays dedupe on disk."""
    from kgforge import connector, fixtures, materialize

    ents = fixtures.load_entities(spark, sf_dir)
    lines = materialize.ntriples_lines(materialize.part_triples(ents))
    n_lines = lines.count()
    out = tmp_path / "delivered"
    out.mkdir()

    out_s = str(out)

    def flaky_file_transport(payload: bytes, batch_id: str) -> bool:
        import os

        marker = os.path.join(out_s, batch_id + ".attempted")
        if not os.path.exists(marker):  # fail every batch's first attempt
            open(marker, "w").close()
            return False
        with open(os.path.join(out_s, batch_id + ".nt"), "wb") as f:
            f.write(payload)
        return True

    stats = connector.deliver_ntriples(
        lines, flaky_file_transport, batch_size=100, max_retries=3
    )
    assert stats["lines_delivered"] == n_lines
    assert stats["attempts"] >= 2 * stats["chunks_delivered"]  # every chunk retried once
    delivered = []
    for p in out.glob("*.nt"):
        delivered.extend(p.read_text().splitlines())
    assert len(delivered) == n_lines
    want = {r["line"] for r in lines.collect()}
    assert set(delivered) == want


def test_connector_cypher_batches_idempotent_under_flaky_transport(spark, sf_dir, tmp_path):
    """K2 Cypher leg: edges ship as UNWIND $rows MERGE batches
    (reference Neo4jClient.import_bom_relationships :645-699). Batch
    shape: <= batch_size rows per statement payload; content-hash batch
    ids stay stable across retries, so a store/transport that dedupes on
    id sees every row exactly once even when every batch's first attempt
    fails; exhausted retries chain the transport's root cause."""
    import json as _json

    from pyspark.sql import functions as F

    from kgforge import connector, fixtures, graph, linking
    from kgforge.extract import extract_mentions

    t = fixtures.load_transcripts(spark, sf_dir)
    e = fixtures.load_entities(spark, sf_dir)
    edges = graph.bom_edges_from_linked(linking.link_mentions(extract_mentions(t), e))
    n_edges = edges.count()
    out = tmp_path / "cypher"
    out.mkdir()
    out_s = str(out)

    def flaky_recording_transport(payload: bytes, batch_id: str) -> bool:
        import os

        marker = os.path.join(out_s, batch_id + ".attempted")
        if not os.path.exists(marker):
            open(marker, "w").close()
            return False
        with open(os.path.join(out_s, batch_id + ".json"), "wb") as f:
            f.write(payload)  # same id -> same file: replay dedupes
        return True

    stats = connector.deliver_cypher_batches(
        edges,
        connector.BOM_MERGE_STATEMENT,
        flaky_recording_transport,
        batch_size=50,
        max_retries=3,
    )
    assert stats["rows_delivered"] == n_edges
    assert stats["attempts"] >= 2 * stats["chunks_delivered"]
    got = []
    for p in out.glob("*.json"):
        batch = _json.loads(p.read_text())
        assert batch["statement"] == connector.BOM_MERGE_STATEMENT
        rows = batch["parameters"]["rows"]
        assert 0 < len(rows) <= 50
        got.extend((r["parent"], r["child"]) for r in rows)
    assert len(got) == n_edges  # no duplicate delivery across replays
    want = {(r["parent"], r["child"]) for r in edges.collect()}
    assert set(got) == want

    # exhausted retries surface the executor-side root cause (chained)
    def always_broken(payload: bytes, batch_id: str) -> bool:
        raise ConnectionError("store unreachable")

    import pytest as _pytest

    with _pytest.raises(Exception) as exc_info:
        connector.deliver_cypher_batches(
            edges.limit(5), connector.PART_MERGE_STATEMENT, always_broken,
            batch_size=5, max_retries=2, base_backoff_s=0.0,
        )
    assert "store unreachable" in str(exc_info.getrepr(chain=True))


def test_connector_payloads_and_batch_ids_are_pinned(spark, tmp_path):
    """Both delivery legs turn a fixed one-partition input into fixed
    chunks of two: the payload bytes and the content-hash batch ids
    equal the ones computed here, and the stats keys stay per leg."""
    import datetime
    import hashlib
    import json as _json

    from kgforge import connector

    def recorded(sub: str, deliver) -> tuple[dict, dict]:
        out = tmp_path / sub
        out.mkdir()
        out_s = str(out)

        def recording(payload: bytes, batch_id: str) -> bool:
            with open(f"{out_s}/{batch_id}", "wb") as f:
                f.write(payload)
            return True

        stats = deliver(recording)
        return stats, {p.name: p.read_bytes() for p in out.iterdir()}

    lines = [f"<urn:part:{i}> <urn:ontology:hasComponent> <urn:part:{i}0> ." for i in (3, 1, 4, 5, 2)]
    df = spark.createDataFrame([(x,) for x in lines], "line string").coalesce(1)
    stats, got = recorded("nt", lambda t: connector.deliver_ntriples(df, t, batch_size=2))
    assert stats == {"chunks_delivered": 3, "lines_delivered": 5, "attempts": 3}
    assert got == {
        hashlib.sha256("\n".join(sorted(c)).encode()).hexdigest()[:32]: ("\n".join(c) + "\n").encode()
        for c in (lines[0:2], lines[2:4], lines[4:])
    }

    rows = [
        {"number": f"P-{i}", "qty": i, "ts": datetime.date(2024, 1, i)} for i in (3, 1, 4, 5, 2)
    ]
    df = spark.createDataFrame(rows, "number string, qty int, ts date").coalesce(1)
    stmt = connector.PART_MERGE_STATEMENT
    stats, got = recorded(
        "cypher", lambda t: connector.deliver_cypher_batches(df, stmt, t, batch_size=2)
    )
    assert stats == {"chunks_delivered": 3, "rows_delivered": 5, "attempts": 3}

    def cypher_chunk(chunk):
        canon = _json.dumps([stmt, sorted(_json.dumps(r, sort_keys=True, default=str) for r in chunk)])
        payload = _json.dumps(
            {"statement": stmt, "parameters": {"rows": chunk}},
            sort_keys=True, separators=(",", ":"), default=str,
        )
        return hashlib.sha256(canon.encode()).hexdigest()[:32], payload.encode()

    assert got == dict(cypher_chunk(c) for c in (rows[0:2], rows[2:4], rows[4:]))
    assert got[cypher_chunk(rows[4:])[0]].startswith(
        b'{"parameters":{"rows":[{"number":"P-2","qty":2,"ts":"2024-01-02"}]}'
    )


def test_http_ntriples_transport_against_local_server(spark, sf_dir):
    """The concrete GraphDB wire leg (reference post_ntriples :415-434)
    against a real local http.server: payload lands verbatim at the
    repository statements endpoint with Content-Type
    application/n-triples, a 500 answer reports failure to the retry
    loop (which then re-POSTs the same chunk), and end-to-end delivery
    through deliver_ntriples ships every line over real sockets."""
    import http.server
    import threading

    from kgforge import connector, fixtures, materialize

    received: list[tuple[str, str, bytes]] = []
    fail_first = {"pending": True}
    lock = threading.Lock()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            with lock:
                if fail_first["pending"]:
                    fail_first["pending"] = False
                    self.send_response(500)
                    self.end_headers()
                    return
                received.append(
                    (self.path, self.headers.get("Content-Type", ""), body)
                )
            self.send_response(204)
            self.end_headers()

        def log_message(self, *a):  # quiet
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        transport = connector.HttpNtriplesTransport(
            f"http://127.0.0.1:{port}", "Snowmobile"
        )
        ents = fixtures.load_entities(spark, sf_dir).limit(40)
        lines = materialize.ntriples_lines(materialize.part_triples(ents))
        n_lines = lines.count()
        stats = connector.deliver_ntriples(
            lines, transport, batch_size=64, max_retries=3, base_backoff_s=0.0
        )
        assert stats["lines_delivered"] == n_lines
        assert stats["attempts"] == stats["chunks_delivered"] + 1  # one 500 retry
        got_lines = []
        for path, ctype, body in received:
            assert path == "/repositories/Snowmobile/statements"
            assert ctype == "application/n-triples"
            assert body.endswith(b"\n")
            got_lines.extend(body.decode("utf-8").splitlines())
        assert sorted(got_lines) == sorted(r["line"] for r in lines.collect())
    finally:
        server.shutdown()
        server.server_close()


def test_http_transport_auth_header_and_unreachable(spark):
    """Basic-auth header shape (reference :383-390) and the
    connection-refused path returning False (retryable) instead of
    raising."""
    import base64

    t = connector_module().HttpNtriplesTransport(
        "http://127.0.0.1:9", "repo", username="admin", password="secret",
        timeout_s=0.5,
    )
    want = "Basic " + base64.b64encode(b"admin:secret").decode()
    assert t._auth == want
    assert t.endpoint == "http://127.0.0.1:9/repositories/repo/statements"
    assert t(b"<a> <b> <c> .\n", "batch0") is False  # port 9: refused


def connector_module():
    from kgforge import connector

    return connector


def test_cypher_payload_serializes_temporal_and_binary():
    """ADVICE fix: timestamp/date/Decimal/bytes row values must
    serialize into the Cypher batch payload (default=str), not raise
    TypeError in the executor."""
    import datetime
    import decimal
    import json as _json

    from kgforge import connector

    rows = [
        {
            "ts": datetime.datetime(2026, 1, 2, 3, 4, 5),
            "d": datetime.date(2026, 1, 2),
            "q": decimal.Decimal("1.50"),
            "b": b"\x00\x01",
        }
    ]
    payload = connector.cypher_batch_payload(connector.PART_MERGE_STATEMENT, rows)
    decoded = _json.loads(payload)
    got = decoded["parameters"]["rows"][0]
    assert got["ts"] == "2026-01-02 03:04:05"
    assert got["d"] == "2026-01-02"
    assert got["q"] == "1.50"


def test_level_stack_routed_property_random_sequences(spark):
    """Property: on ARBITRARY level sequences (down-jumps to negative
    levels, up-jumps of 2+, repeated levels, deep nesting, part numbers
    repeated within a group) the decoder must equal the Python replay of
    the reference loop, row for row, including a carried attribute
    column. A fixed-seed RNG spans many groups."""
    import random

    rng = random.Random(20260817)
    rows = []
    for g in range(60):
        n = rng.randint(1, 25)
        lvl = 0
        for i in range(n):
            # mix of +1 climbs, big up-jumps, and arbitrary drops
            r = rng.random()
            if r < 0.45:
                lvl = min(lvl + 1, 4)
            elif r < 0.6:
                lvl = min(lvl + rng.randint(2, 3), 4)  # up-jump >= 2
            elif r < 0.85:
                lvl = max(lvl - rng.randint(1, 4), -1)
            # else: stay
            # a small per-group number pool repeats numbers
            rows.append((f"g{g:02d}", i, lvl, f"n{g:02d}-{rng.randint(0, 6)}", rng.randint(0, 3)))
    df = spark.createDataFrame(
        rows, "group_id string, row_idx int, level int, number string, qty int"
    )
    got = _decoded(graph.level_stack_decode_routed(df, max_level=4, attrs=("qty",)))
    want = level_stack_oracle(rows)
    assert got == want and want
    # every shape the property is meant to cover occurred
    assert any(r[2] < 0 for r in rows)
    assert any(b[2] - a[2] >= 2 for a, b in zip(rows, rows[1:]) if a[0] == b[0])
    assert len({(r[0], r[3]) for r in rows}) < len(rows)


def test_import_workbook_writes_one_consistent_table(spark, tmp_path):
    """The workbook import's write path on a small generated workbook:
    the returned per-predicate counts, the committed triple table, the
    N-Triples files and the manifest all agree with hand-counted
    triples, and each bucket directory holds one file."""
    import json

    from kgforge.pipeline import import_workbook
    from kgforge.schema import ONT, RDF_TYPE, RDFS_LABEL
    from tests.util import write_xlsx

    pad = [["export"]] * 4  # the reader skips 4 banner rows
    parts_header = ["Number", "Name", "Type", "Source", "View", "State", "Revision", "Container"]
    path = write_xlsx(
        str(tmp_path / "wb.xlsx"),
        sheets={
            "WTPart-Sheet": pad + [
                parts_header,
                ["100", "Sled", "Part", "Make", "Design", "RELEASED", "A", "Lib"],
                ["200", "Drive Belt", "Part", "Buy", "Design", "DESIGN", "B", "Lib"],
                ["300", "Track", "Part", "Make", "Design", "RELEASED", "A", "Lib"],
                ["400", "Spare Track", "Part", "Make", "Design", "RELEASED", None, None],
            ],
            "BOM-Sheet": pad + [
                ["Level", "Number"], [0, "100"], [1, "200"], [2, "300"], [1, "400"],
            ],
            "WTPartAlternateLink-Sheet": pad + [
                ["Child Part Number", "Replacement Part Number", "Replacement Type"],
                ["300", "400", "alternate"],
            ],
            "WTPartDescribeLink-Sheet": pad + [
                ["Document Number", "Part Number", "Document Revision",
                 "Document Owning Organization", "Document Container"],
                ["D1", "100", "1", "Org", "Docs"],
                ["D1", "200", "1", "Org", "Docs"],
            ],
        },
    )
    out = tmp_path / "kg"
    stats = import_workbook(spark, path, out_dir=str(out))

    # edges 100-200, 200-300, 100-400; closure adds 100-300; 3 parts
    # with every metadata field, one without revision and container
    want = {
        RDF_TYPE: 4 + 1,
        ONT + "name": 4,
        RDFS_LABEL: 4,
        ONT + "hasPartType": 4,
        ONT + "hasView": 4,
        ONT + "hasState": 4,
        ONT + "hasSource": 4,
        ONT + "hasRevision": 3 + 1,
        ONT + "inContainer": 3 + 1,
        ONT + "hasOrganization": 1,
        ONT + "hasComponent": 3,
        ONT + "usedIn": 3,
        ONT + "partOfAssembly": 4,
        ONT + "hasAlternate": 1,
        ONT + "describes": 2,
    }
    written = resume.read_triples(spark, str(out))
    assert stats["per_predicate"] == want
    assert {r["pred"]: r["count"] for r in written.groupBy("pred").count().collect()} == want
    assert (stats["n_parts"], stats["n_edges"]) == (4, 3)
    total = stats["total_triples"]
    assert total == sum(want.values())

    lines = [
        ln
        for f in (out / "ntriples").glob("part-*")
        for ln in f.read_text().splitlines()
    ]
    assert len(lines) == total

    manifest = json.loads((out / "_manifest.json").read_text())
    assert len(manifest["committed"]) == resume.DEFAULT_BUCKETS
    assert sum(v["n_triples"] for v in manifest["committed"].values()) == total
    bucket_dirs = sorted((out / "triples").glob("subj_bucket=*"))
    assert bucket_dirs
    for d in bucket_dirs:
        assert len(list(d.glob("*.parquet"))) == 1, d.name

"""Round-6 optimization pins: every operator whose internals changed
for performance keeps its exact pre-change semantics.

- transitive_closure: exact-prefix doubling + integer node encoding
  (cast fast path AND dictionary fallback) against the semi-naive
  reference and hand-built expectations (nulls, cycles, cast-collision
  labels, dtype preservation); both closures record one
  ``delta_sizes`` entry per round;
- minhash_band_keys / lsh_candidate_pairs: row-identical to the r5
  banding formulation (explicitly re-built here);
- simhash_near_dups bucket enumeration: row-identical to the
  chunk-equality self-join formulation;
- lang_id array argmax: equal to the when-chain formulation;
- repeated_spans array run-split: equal to the r5 window formulation;
- simhash batch kernel: bit-identical to the scalar reference on edge
  cases the corpus test cannot hit;
- spread_scan: fires only when the scan is narrower than half the
  session parallelism, never changes rows, and returns a plan that
  already holds a shuffle or broadcast exchange unchanged without
  starting a job;
- warm-up: the warmed session still runs string pandas UDFs, and a
  failing warm-up raises instead of being swallowed.

The cosine rescore has one implementation (the interpreted
``aggregate`` fold in ``datapipe.similarity``); its values are pinned
by the gate's ANN and near-dup entries, not here.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgforge import graph
from kgforge.datapipe import dedup as dd
from kgforge.session import spread_scan


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ------------------------------------------------------------ closure
def test_closure_null_endpoints_match_legacy_equijoin_semantics(spark):
    """NULL endpoints stay as pairs, propagate as children, and never
    act as join-through nodes — the string equi-join behavior the
    integer encoding must reproduce exactly."""
    rows = [("a", "b"), ("b", None), (None, "z"), ("x", "a"), (None, None), ("z", "w")]
    df = spark.createDataFrame(rows, "parent string, child string")
    got = {(r.parent, r.child) for r in graph.transitive_closure(df).collect()}
    want = set(rows) | {("a", None), ("x", "b"), ("x", None), (None, "w")}
    assert got == want


def test_closure_dictionary_fallback_on_cast_colliding_labels(spark):
    """'07' and '7' cast to the same bigint; the round-trip probe must
    route such graphs to the dictionary encoding and keep them distinct."""
    rows = [("07", "7"), ("7", "x"), ("a", "07"), ("s", "s")]
    df = spark.createDataFrame(rows, "parent string, child string")
    got = {(r.parent, r.child) for r in graph.transitive_closure(df).collect()}
    sem = {(r.parent, r.child) for r in graph.transitive_closure_seminaive(df).collect()}
    assert got == sem
    assert ("a", "7") in got and ("a", "x") in got  # through 07 -> 7 -> x


def test_closure_preserves_input_dtypes(spark):
    dfi = spark.createDataFrame([(1, 2), (2, 3)], "parent bigint, child bigint")
    out = graph.transitive_closure(dfi)
    assert dict(out.dtypes) == {"parent": "bigint", "child": "bigint"}
    assert sorted(map(tuple, out.collect())) == [(1, 2), (1, 3), (2, 3)]


def test_closure_exact_prefix_matches_seminaive_on_cycles_and_chains(spark):
    rows = (
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("s", "s")]
        + [(f"n{i}", f"n{i+1}") for i in range(20)]  # 20-chain: multi-round doubling
        + [("hub", f"n{i}") for i in range(0, 20, 3)]
    )
    df = spark.createDataFrame(rows, "parent string, child string")
    stats: dict = {}
    sem_stats: dict = {}
    got = {(r.parent, r.child) for r in graph.transitive_closure(df, stats=stats).collect()}
    sem = {
        (r.parent, r.child)
        for r in graph.transitive_closure_seminaive(df, stats=sem_stats).collect()
    }
    assert got == sem
    # doubling: ceil(log2(diameter)) rounds, far fewer than the 21-round chain
    assert 1 <= stats["rounds"] <= 7
    assert ("a", "a") in got and ("s", "s") in got
    # every round is recorded, the last one included
    for st in (stats, sem_stats):
        assert len(st["delta_sizes"]) == st["rounds"]
    assert sem_stats["delta_sizes"][-1] == 0


# ------------------------------------------------------------ minhash
def _r5_lsh_pairs(documents, k=3, n_hashes=16, band_size=4):
    """The round-5 formulation, kept verbatim as the semantics pin."""
    sigs = dd.minhash_signatures(documents, k, n_hashes)
    bands = (
        sigs.withColumn("band", (F.col("seed") / band_size).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("seed", "sig"))),
                        lambda s: s["sig"],
                    ),
                )
            ).alias("band_key")
        )
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )


def test_minhash_band_keys_and_pairs_match_r5_formulation(spark, sf_dir):
    docs = dd.docs_with_dups(_docs(spark, sf_dir))
    new_pairs = set(map(tuple, dd.lsh_candidate_pairs(docs).collect()))
    old_pairs = set(map(tuple, _r5_lsh_pairs(docs).collect()))
    assert new_pairs == old_pairs
    sigs = dd.minhash_signatures(docs)
    old_bands = (
        sigs.withColumn("band", (F.col("seed") / 4).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("seed", "sig"))),
                        lambda s: s["sig"],
                    ),
                )
            ).alias("band_key")
        )
    )
    assert set(map(tuple, dd.minhash_band_keys(docs).collect())) == set(
        map(tuple, old_bands.collect())
    )


def test_simhash_bucket_enumeration_matches_selfjoin_formulation(spark, sf_dir):
    """The r6 third-pass bucket enumeration must emit exactly the pairs
    the chunk-equality self-join emitted (kept verbatim here as the
    semantics pin), hamming values included."""
    docs = dd.docs_with_dups(_docs(spark, sf_dir))
    hashed = docs.select("doc_id", dd.simhash_udf(F.col("text")).alias("sh"))
    n_bands, chunk_bits = 4, 16
    chunks = hashed.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("sh"), i * chunk_bits)
                    .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                    .alias("chunk"),
                )
                for i in range(n_bands)
            ])
        ).alias("bc"),
    ).select("doc_id", "sh", "bc.band", "bc.chunk")
    a = chunks.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), "band", "chunk")
    b = chunks.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), "band", "chunk")
    joined = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )
    assert set(map(tuple, dd.simhash_near_dups(docs).collect())) == set(
        map(tuple, joined.collect())
    )


# ------------------------------------------------------------ lang_id
def test_lang_id_array_argmax_matches_when_chain(spark, sf_dir):
    """The r6 array_min argmax must equal the original when-chain
    formulation (kept verbatim here) on the corpus AND on synthetic
    tie/zero/empty cases — including the earliest-language tie-break."""
    from kgforge.datapipe import text as dtext

    def chain_lang_id(col):
        scores = dtext.lang_scores(col)
        best_lang = F.lit(dtext.LANG_ORDER[0])
        best_score = scores[dtext.LANG_ORDER[0]]
        for lang in dtext.LANG_ORDER[1:]:
            is_better = scores[lang] > best_score
            best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(is_better, scores[lang]).otherwise(best_score)
        return best_lang

    corpus = _docs(spark, sf_dir).select(F.col("text"))
    ties = spark.createDataFrame(
        [
            (None,),  # NULL text: null scores, en by tie order (both forms)
            ("",),  # all-zero: en by tie order
            ("the a",),  # en outright
            ("fast value the a",),  # en/de tie at 2: en by order
            ("join query window merge",),  # fr/zh tie: fr by order
            ("data row data row",),  # es outright
            ("window merge window",),  # zh outright
            ("value fast fast",),  # de outright
        ],
        "text string",
    )
    for df in (corpus, ties):
        rows = df.select(
            dtext.lang_id(F.col("text")).alias("new"),
            chain_lang_id(F.col("text")).alias("old"),
        ).collect()
        assert all(r.new == r.old for r in rows)


# ------------------------------------------------------------ spans
def test_repeated_spans_array_runsplit_matches_r5_window_form(spark, sf_dir):
    docs = dd.docs_with_dups(_docs(spark, sf_dir))

    def r5_spans(documents, k=3, min_docs=2):
        ps = dd.positional_shingles(documents, k)
        rep = (
            ps.groupBy("shingle")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("shingle")
        )
        marked = ps.join(rep, "shingle").select("doc_id", "pos")
        w = Window.partitionBy("doc_id").orderBy("pos")
        islands = marked.withColumn("island", F.col("pos") - F.row_number().over(w))
        return (
            islands.groupBy("doc_id", "island")
            .agg(
                F.min("pos").cast("bigint").alias("span_start"),
                (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
                F.count("*").alias("n_grams"),
            )
            .drop("island")
        )

    for kw in ({}, {"min_docs": 3}):
        got = sorted(map(tuple, dd.repeated_spans(docs, **kw).collect()))
        want = sorted(map(tuple, r5_spans(docs, **kw).collect()))
        assert got == want, kw


# ------------------------------------------------------------ simhash
def test_simhash_batch_kernel_edge_cases():
    texts = ["", None, "a", "the the the", "Hello WORLD hello", "x " * 1000, "\t\n "]
    got = dd._simhash_batch(pd.Series(texts)).tolist()
    want = [dd.simhash64(t) for t in texts]
    assert got == want


# ------------------------------------------------------------ spread
def test_spread_scan_noop_on_wide_input_and_rows_stable(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = docs.repartition(target)  # already at session parallelism
    assert spread_scan(wide, "doc_id") is wide
    narrow = docs.coalesce(1)
    spread = spread_scan(narrow, "doc_id")
    assert spread is not narrow
    assert sorted(r.doc_id for r in spread.collect()) == sorted(
        r.doc_id for r in docs.collect()
    )


def test_spread_scan_returns_planned_exchange_unchanged_without_a_job(spark, sf_dir):
    """A plan that already holds an exchange comes back as the same
    object, and the guard only plans: probing the partition count of
    such a plan would run its shuffle stages under AQE (the grouped
    input) or execute its broadcast (the broadcast-join input)."""
    inputs = {
        "grouped": (_docs(spark, sf_dir).groupBy("doc_id").count(), "doc_id"),
        "broadcast_join": (spark.range(100).join(F.broadcast(spark.range(5)), "id"), "id"),
    }
    tracker = spark.sparkContext.statusTracker()
    for name, (df, key) in inputs.items():
        before = set(tracker.getJobIdsForGroup(None))
        assert spread_scan(df, key) is df, name
        assert set(tracker.getJobIdsForGroup(None)) == before, name
        # control: the tracker does see this plan's jobs once one runs
        df.count()
        assert set(tracker.getJobIdsForGroup(None)) > before, name


# ------------------------------------------------------- session warm-up


def test_warm_up_failure_propagates():
    """A worker pool that cannot run the warm-up job must fail session
    start with its error, not look warm; the session is not marked
    warmed, so a retry warms again."""
    from kgforge import session

    class _Context:
        applicationId = "stub-app-warm-failure"

        def setJobDescription(self, desc):
            pass

    class _Session:
        sparkContext = _Context()

        def range(self, *args):
            raise RuntimeError("worker pool cannot start")

    with pytest.raises(RuntimeError, match="worker pool cannot start"):
        session._warm_python_workers(_Session(), 2)
    assert _Context.applicationId not in session._WARMED


def test_string_warm_batch_fn_and_warmed_session_run_string_udfs(spark):
    """The string-path warm-up (session._touch_str_batch + the second
    warm job in _warm_python_workers) must leave the session fully
    functional for real string pandas UDFs, and the batch fn itself
    must be a plain length map (module-level, pickled by reference)."""
    from kgforge.session import _WARMED, _touch_str_batch

    s = pd.Series(["", "a", "warm-123", None])
    got = _touch_str_batch(s)
    assert list(got.fillna(-1)) == [0, 1, 8, -1]

    # the test session was built by get_spark -> warm-up already ran
    assert spark.sparkContext.applicationId in _WARMED

    @F.pandas_udf("long")
    def _len(v: pd.Series) -> pd.Series:
        return v.str.len()

    rows = (
        spark.createDataFrame([("x",), ("hello",)], ["s"])
        .select(_len("s").alias("n"))
        .collect()
    )
    assert sorted(r.n for r in rows) == [1, 5]

"""Tests of the benchmark's own parts: the input generator, the event-log
parser and the output checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import check, gen, trace  # noqa: E402


# ------------------------------------------------------------------ generator
def test_residue_bijection_keeps_residues():
    perm = gen.residue_bijection(1000, np.random.default_rng(7))
    assert sorted(perm.tolist()) == list(range(1000))
    assert (perm % gen.RESIDUE_MOD == np.arange(1000) % gen.RESIDUE_MOD).all()


@pytest.mark.parametrize("workload", ["kg_corpus", "curate_docs"])
def test_same_seed_gives_identical_bytes(tmp_path, workload):
    a = gen.ensure_inputs(workload, 5, str(tmp_path / "a"))
    b = gen.ensure_inputs(workload, 5, str(tmp_path / "b"))
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    for n in names:
        with open(os.path.join(a, n), "rb") as fa, open(os.path.join(b, n), "rb") as fb:
            assert fa.read() == fb.read(), n


@pytest.mark.parametrize("workload", ["kg_corpus", "curate_docs"])
def test_other_seed_same_row_counts_other_content(workload):
    t1, t2 = gen.tables_for(workload, 1), gen.tables_for(workload, 2)
    assert {k: v.num_rows for k, v in t1.items()} == {k: v.num_rows for k, v in t2.items()}
    assert any(not t1[k].equals(t2[k]) for k in t1)


def test_kg_seeds_have_equal_resolution_classes_and_edges():
    """The %19/%20/%5 mention classes and the %20 closure sample are the
    same size for every seed (the relabeling keeps residues mod 380)."""
    from kgforge.oracle import with_linking

    def stats(seed):
        con = duckdb.connect()
        for name, tbl in gen.kg_tables(seed).items():
            con.register(name, tbl)
        con.execute("CREATE VIEW orders AS " + check._EMPTY_VIEWS["orders"])
        con.execute("CREATE VIEW events AS " + check._EMPTY_VIEWS["events"])
        return con.execute(with_linking(
            "SELECT (SELECT list(n ORDER BY status) FROM "
            "(SELECT status, count(*) AS n FROM linked GROUP BY status)), "
            "(SELECT count(*) FROM edges), "
            "(SELECT count(*) FROM edges WHERE (CAST(parent AS BIGINT) + "
            "CAST(child AS BIGINT)) % 20 = 0)"
        )).fetchone()

    assert stats(1) == stats(2)


# ------------------------------------------------------------------ event log
def _write_events(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_parse_event_log_rolling_dir(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 0,
        "Task End Reason": {"Reason": "Success"},
        "Task Metrics": {
            "Executor Run Time": 1500, "Memory Bytes Spilled": 2_000_000,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000},
        },
    }
    failed = dict(task, **{"Task End Reason": {"Reason": "ExceptionFailure"}})
    _write_events(d / "events_1_app-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "resume"}},
        task, failed,
    ])
    _write_events(d / "events_2_app-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Properties": {}},
        dict(task, **{"Stage ID": 1}),
    ])
    (d / "appstatus_app-1").write_text("")
    got = trace.parse_event_log(str(tmp_path))
    assert got["resume"] == {
        "jobs": 1, "tasks": 2, "failed_tasks": 1, "run_s": 3.0,
        "shuffle_write_mb": 6.0, "spill_mb": 4.0,
    }
    assert got["session"]["jobs"] == 1 and got["session"]["tasks"] == 1


@pytest.fixture(scope="module")
def tiny_session(tmp_path_factory):
    """A small local session writing an uncompressed event log."""
    from kgforge.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark("perfbench-test", cores=2, shuffle_partitions=4, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + str(log_dir),
        "spark.eventLog.compress": "false",
    })
    yield spark, str(log_dir)
    spark.stop()


def test_worker_probe_passes_and_fails_loudly(tiny_session):
    from perfbench import child

    spark, _ = tiny_session
    child.check_worker_pool(spark, 2)

    def broken(v):
        import kgforge_not_importable  # noqa: F401

        return v

    with pytest.raises(Exception, match="kgforge_not_importable"):
        child.check_worker_pool(spark, 2, probe_fn=broken)


def test_parse_event_log_tiny_job(tiny_session):
    """A real Spark event log: jobs land in the group that ran them."""
    spark, log_dir = tiny_session
    tr = trace.Tracer(spark)
    with tr.span("extract"):
        assert spark.range(100).repartition(4).groupBy("id").count().count() == 100
    with tr.span("linking"):
        assert spark.range(10).count() == 10
    spark.stop()  # the log is complete once the context stops
    got = trace.parse_event_log(log_dir)
    assert got["extract"]["jobs"] >= 1 and got["extract"]["tasks"] >= 4
    assert got["extract"]["shuffle_write_mb"] > 0
    assert got["extract"]["failed_tasks"] == 0
    assert got["linking"]["jobs"] >= 1
    assert set(tr.layer_times()) == {"extract", "linking"}


def test_layer_times_self_excludes_children():
    tr = trace.Tracer(spark=None)
    tr.spans = [trace.Span("build", 0.0, 10.0), trace.Span("resume", 2.0, 6.0, parent=0),
                trace.Span("fixtures", 6.0, 7.0, parent=0)]
    t = tr.layer_times()
    assert t["build"] == {"wall_s": 10.0, "self_s": 5.0}
    assert t["resume"] == {"wall_s": 4.0, "self_s": 4.0}


# ------------------------------------------------------------------ output check
def _fake_kg_output(input_dir, out_dir):
    """A triple table, manifest and result dict that agree with the oracle."""
    expected = check.kg_oracle_counts(input_dir)
    preds = [p for p, n in expected.items() for _ in range(n)]
    tbl = pa.table({"subj": [f"s{i}" for i in range(len(preds))], "pred": preds,
                    "obj": ["o"] * len(preds), "obj_is_literal": [False] * len(preds)})
    for b in range(check.N_BUCKETS):
        d = os.path.join(out_dir, "triples", f"subj_bucket={b}")
        os.makedirs(d)
        # one triple in each bucket 1..31, the rest in bucket 0
        part = tbl.slice(b - 1, 1) if b else tbl.slice(check.N_BUCKETS - 1)
        pq.write_table(part, f"{d}/part-0.parquet")
    rest = len(preds) - (check.N_BUCKETS - 1)
    manifest = {"committed": {str(b): {"n_triples": 1 if b else rest}
                              for b in range(check.N_BUCKETS)}}
    with open(os.path.join(out_dir, "_manifest.json"), "w") as f:
        json.dump(manifest, f)
    return {"per_predicate": expected, "out_rows": len(preds)}


def test_kg_check_accepts_good_and_rejects_corrupted_table(tmp_path):
    input_dir = gen.ensure_inputs("kg_corpus", 3, str(tmp_path / "in"))
    out_dir = str(tmp_path / "out")
    result = _fake_kg_output(input_dir, out_dir)
    assert check.check_kg(input_dir, out_dir, result) == []

    # drop one triple from a bucket file: the table no longer matches
    path = os.path.join(out_dir, "triples", "subj_bucket=0", "part-0.parquet")
    pq.write_table(pq.read_table(path).slice(1), path)
    errors = check.check_kg(input_dir, out_dir, result)
    assert any("triple table counts differ" in e for e in errors)

    # an uncommitted bucket is caught from the manifest alone
    with open(os.path.join(out_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    del manifest["committed"]["31"]
    with open(os.path.join(out_dir, "_manifest.json"), "w") as f:
        json.dump(manifest, f)
    assert any("manifest commits 31" in e for e in check.check_kg(input_dir, out_dir, result))


def test_curate_check_rejects_wrong_kept_set(tmp_path):
    input_dir = gen.ensure_inputs("curate_docs", 3, str(tmp_path / "in"))
    funnel, kept = check.curate_oracle(input_dir)
    assert funnel[2]["n_out"] < funnel[2]["n_in"], "the corpus must hold duplicates"
    out_dir = str(tmp_path / "out")
    os.makedirs(os.path.join(out_dir, "kept"))
    path = os.path.join(out_dir, "kept", "part-0.parquet")
    pq.write_table(pa.table({"doc_id": sorted(kept)}), path)
    result = {"funnel": funnel, "out_rows": len(kept)}
    assert check.check_curate(input_dir, out_dir, result) == []

    pq.write_table(pa.table({"doc_id": sorted(kept)[1:]}), path)
    assert any("kept doc_ids differ" in e for e in check.check_curate(input_dir, out_dir, result))

"""Output checks, computed independently of Spark with DuckDB over the
same generated input tables.

KG workload: the per-predicate counts reported by ``run_pipeline`` and
the per-predicate counts of the committed triple table must both equal
the oracle's (the ``kgforge.oracle`` fixture CTEs, the gate's triple-
count and document-triple SQL, and the gate's recursive closure SQL on
the same ``%20`` edge sample); all 32 manifest buckets must be
committed with counts summing to the total.

Curate workload: the funnel and the kept ``doc_id`` set must equal an
oracle built from the gate's language-ID SQL, the whitespace token
gate, a DuckDB MinHash-LSH over the filtered corpus, and a union-find
cluster keeper (longest text, then smallest ``doc_id``).

Every check returns a list of mismatch messages; empty means correct.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
from kgforge.resume import DEFAULT_BUCKETS as N_BUCKETS

from perfbench.child import CURATE_ARGS, KG_CLOSURE_EDGE_MOD

_EMPTY_VIEWS = {
    # referenced by fixture CTEs the KG pipeline does not read
    "orders": "SELECT NULL::BIGINT AS o_orderkey, NULL::BIGINT AS o_custkey, "
    "NULL::VARCHAR AS o_orderstatus, NULL::TIMESTAMP AS o_orderdate WHERE false",
    "events": "SELECT NULL::BIGINT AS event_id, NULL::TIMESTAMP AS ts, "
    "NULL::BIGINT AS user_id, NULL::VARCHAR AS event_type WHERE false",
}


def _connect(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(os.path.join(input_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for name, sql in _EMPTY_VIEWS.items():
        if not os.path.exists(os.path.join(input_dir, f"{name}.parquet")):
            con.execute(f"CREATE VIEW {name} AS {sql}")
    return con


def kg_oracle_counts(input_dir: str) -> dict[str, int]:
    from kgforge import gate
    from kgforge.oracle import with_fixtures, with_linking

    con = _connect(input_dir)
    counts: dict[str, int] = {}

    def add(pred: str, n: int) -> None:
        counts[pred] = counts.get(pred, 0) + int(n)

    for pred, n in con.execute(gate.TRIPLE_COUNTS_SQL).fetchall():
        add(pred, n)
    for pred, n in con.execute(
        f"SELECT pred, count(*) FROM ({gate.DOC_TRIPLES_SQL}) GROUP BY pred"
    ).fetchall():
        add(pred, n)
    closure_sql = with_linking(
        "SELECT count(*) FROM closure",
        extra_ctes=f"""
es AS (SELECT parent, child FROM edges
       WHERE (CAST(parent AS BIGINT) + CAST(child AS BIGINT)) % {KG_CLOSURE_EDGE_MOD} = 0),
closure AS (
  SELECT parent, child FROM es
  UNION
  SELECT closure.parent, e.child FROM closure JOIN es e ON closure.child = e.parent
)""",
    )
    add("urn:ontology:partOfAssembly", con.execute(closure_sql).fetchone()[0])
    canon_sql = with_fixtures(
        "SELECT count(*) FROM (SELECT number, min(number) OVER (PARTITION BY name) AS c "
        "FROM entities) WHERE number <> c"
    )
    n_canon = con.execute(canon_sql).fetchone()[0]
    if n_canon:
        add("urn:ontology:canonicalEquivalent", n_canon)
    con.close()
    return counts


def check_kg(input_dir: str, out_dir: str, result: dict) -> list[str]:
    errors: list[str] = []
    expected = kg_oracle_counts(input_dir)
    reported = {k: int(v) for k, v in result["per_predicate"].items()}
    total = int(result["out_rows"])
    if reported != expected:
        errors.append(f"per-predicate counts differ from oracle: {_diff(reported, expected)}")
    if total != sum(expected.values()):
        errors.append(f"total_triples {total} != oracle {sum(expected.values())}")

    with open(os.path.join(out_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    committed = manifest.get("committed", {})
    if sorted(committed, key=int) != [str(b) for b in range(N_BUCKETS)]:
        errors.append(f"manifest commits {len(committed)} of {N_BUCKETS} buckets")
    bucket_sum = sum(int(v["n_triples"]) for v in committed.values())
    if bucket_sum != total:
        errors.append(f"manifest bucket sum {bucket_sum} != total_triples {total}")

    table = os.path.join(out_dir, "triples", "*", "*.parquet")
    stored = dict(
        duckdb.sql(f"SELECT pred, count(*) FROM read_parquet('{table}') GROUP BY pred").fetchall()
    )
    if stored != expected:
        errors.append(f"triple table counts differ from oracle: {_diff(stored, expected)}")
    return errors


LSH_SQL = """
WITH filtered AS (SELECT doc_id, text FROM documents WHERE doc_id IN (SELECT doc_id FROM keep_ids)),
doc_shingles AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM filtered),
       LATERAL (SELECT unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i)
  WHERE array_to_string(toks[i:i+2], ' ') <> ''
),
sigs AS (
  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS sig
  FROM doc_shingles, LATERAL (SELECT unnest(generate_series(0, 15)) AS seed)
  GROUP BY doc_id, seed),
bands AS (
  SELECT doc_id, seed // 4 AS band, md5(string_agg(sig, '|' ORDER BY seed)) AS band_key
  FROM sigs GROUP BY doc_id, seed // 4)
SELECT DISTINCT a.doc_id, b.doc_id
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def curate_oracle(input_dir: str) -> tuple[list[dict], set[int]]:
    """Expected ``(funnel, kept doc_ids)`` for ``curate_corpus`` with
    :data:`perfbench.child.CURATE_ARGS`."""
    from kgforge import gate

    con = _connect(input_dir)
    rows = con.execute(
        f"""SELECT l.doc_id, l.predicted_lang,
                   len(string_split_regex(trim(d.text), '\\s+')) AS n_tok,
                   length(d.text) AS n_chars
            FROM ({gate.LANG_ID_SQL}) l JOIN documents d USING (doc_id)"""
    ).fetchall()
    n0 = len(rows)
    lang_ok = [r for r in rows if r[1] == CURATE_ARGS["lang"]]
    qual_ok = [r for r in lang_ok if r[2] >= CURATE_ARGS["min_tokens"]]
    length = {r[0]: r[3] for r in qual_ok}
    con.execute("CREATE TABLE keep_ids AS SELECT unnest($1::BIGINT[]) AS doc_id", [list(length)])
    pairs = con.execute(LSH_SQL).fetchall()
    con.close()

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[int, list[int]] = {}
    for x in list(parent):
        clusters.setdefault(find(x), []).append(x)
    losers = set()
    for members in clusters.values():
        keeper = min(members, key=lambda d: (-length[d], d))
        losers.update(m for m in members if m != keeper)
    kept = set(length) - losers
    funnel = [
        {"stage": "lang", "n_in": n0, "n_out": len(lang_ok)},
        {"stage": "quality", "n_in": len(lang_ok), "n_out": len(qual_ok)},
        {"stage": "dedup_cluster", "n_in": len(qual_ok), "n_out": len(kept)},
        {"stage": "span_removal", "n_in": len(kept), "n_out": len(kept)},
    ]
    return funnel, kept


def check_curate(input_dir: str, out_dir: str, result: dict) -> list[str]:
    errors: list[str] = []
    funnel, kept = curate_oracle(input_dir)
    if result["funnel"] != funnel:
        errors.append(f"funnel {result['funnel']} != oracle {funnel}")
    table = os.path.join(out_dir, "kept", "*.parquet")
    got = [r[0] for r in duckdb.sql(f"SELECT doc_id FROM read_parquet('{table}')").fetchall()]
    if len(got) != len(set(got)):
        errors.append(f"kept corpus has {len(got) - len(set(got))} duplicate doc_ids")
    if set(got) != kept:
        errors.append(
            f"kept doc_ids differ from oracle: {len(set(got) - kept)} extra, "
            f"{len(kept - set(got))} missing"
        )
    if int(result["out_rows"]) != len(kept):
        errors.append(f"reported kept rows {result['out_rows']} != oracle {len(kept)}")
    return errors


CHECKS = {"kg_corpus": check_kg, "curate_docs": check_curate}


def _diff(got: dict, want: dict) -> str:
    keys = sorted(set(got) | set(want))
    return ", ".join(f"{k}: {got.get(k)} vs {want.get(k)}" for k in keys if got.get(k) != want.get(k))

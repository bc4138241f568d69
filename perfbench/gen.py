"""Seeded input generators for the benchmark workloads.

Each workload's input is an sf-style directory of parquet files, the
shape ``kgforge.fixtures`` and ``kgforge.datapipe`` read. Generation is
pure numpy + pyarrow, so it runs outside any Spark session and outside
the timed region.

KG inputs (``part``, ``lineitem``, ``supplier``) are built in two steps:

1. A *base* structure from a fixed RNG: which parts each order mentions,
   in which line order, with which attributes. It does not depend on the
   seed.
2. A seeded relabeling: part keys and order keys are permuted by a
   bijection that keeps every key's residue mod 380, and row order is
   shuffled. The fixture rules key on ``%19``, ``%20`` and ``%5`` (all
   divide 380), so every seed has the same mention resolution classes
   and an isomorphic BOM graph, including the ``%20`` closure sample.
   Hash placement, skew per partition and row order change with the
   seed; the amount of work does not.

The document corpus is random word salad over the same 30-word
vocabulary as the sandbox ``documents`` table, with seeded exact and
near duplicates injected in clusters of 2-4.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RESIDUE_MOD = 380  # lcm(19, 20, 5): the fixture rules' moduli all divide it
BASE_SEED = 20260101

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPE = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_BOOST = {"en": ["the", "a"], "de": ["fast", "value"], "fr": ["join", "query"],
              "es": ["data", "row"], "zh": ["window", "merge"]}

# Workload sizes (~3.9k turns, ~3.9k documents). A cold build's fixed
# costs (the resumable writer's per-file commits, plan compilation) do not
# shrink with the input, so a larger input buys little signal per second
# while every run pays a fresh JVM.
KG_PARTS = 760
KG_ORDERS = 1000
KG_SUPPLIERS = 100
DOC_BASE = 3000


def residue_bijection(n: int, rng: np.random.Generator, mod: int = RESIDUE_MOD) -> np.ndarray:
    """perm[k] = new key of k; perm is a bijection on 0..n-1 with
    perm[k] % mod == k % mod."""
    perm = np.empty(n, dtype=np.int64)
    for r in range(min(mod, n)):
        idx = np.arange(r, n, mod, dtype=np.int64)
        perm[idx] = rng.permutation(idx)
    return perm


def _kg_base():
    rng = np.random.default_rng(BASE_SEED)
    n_lines_per_order = rng.integers(1, 8, KG_ORDERS)
    order = np.repeat(np.arange(KG_ORDERS, dtype=np.int64), n_lines_per_order)
    starts = np.cumsum(n_lines_per_order) - n_lines_per_order
    linenumber = (np.arange(order.size) - np.repeat(starts, n_lines_per_order) + 1).astype(np.int32)
    n = order.size
    part = {
        "p_name": np.array([f"{ADJ[i]} {NOUN[j]}" for i, j in
                            zip(rng.integers(0, 8, KG_PARTS), rng.integers(0, 8, KG_PARTS))]),
        "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, KG_PARTS)]),
        "p_type": np.array(PTYPE)[rng.integers(0, len(PTYPE), KG_PARTS)],
        "p_size": rng.integers(1, 51, KG_PARTS).astype(np.int32),
    }
    line = {
        "l_orderkey": order,
        "l_partkey": rng.integers(0, KG_PARTS, n),
        "l_suppkey": rng.integers(0, KG_SUPPLIERS, n),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": (np.datetime64("1995-01-01") + rng.integers(0, 2500, n)).astype("datetime64[us]"),
    }
    return part, line


def kg_tables(seed: int) -> dict[str, pa.Table]:
    """The ``part``, ``lineitem`` and ``supplier`` tables for one seed."""
    part, line = _kg_base()
    rng = np.random.default_rng(seed)
    pk_map = residue_bijection(KG_PARTS, rng)
    ok_map = residue_bijection(KG_ORDERS, rng)

    # base key k becomes pk_map[k] and keeps k's attributes
    p_order = rng.permutation(KG_PARTS)
    part_tbl = pa.table({
        "p_partkey": pk_map[p_order],
        "p_name": part["p_name"][p_order],
        "p_brand": part["p_brand"][p_order],
        "p_type": part["p_type"][p_order],
        "p_size": part["p_size"][p_order],
        "p_retailprice": np.round(900.0 + pk_map[p_order] / 10.0, 2),
    })
    line = dict(line)
    line["l_partkey"] = pk_map[line["l_partkey"]]
    line["l_orderkey"] = ok_map[line["l_orderkey"]]
    l_order = rng.permutation(line["l_orderkey"].size)
    line_tbl = pa.table({k: v[l_order] for k, v in line.items()})
    srng = np.random.default_rng(BASE_SEED + 1)
    sup_tbl = pa.table({
        "s_suppkey": np.arange(KG_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(KG_SUPPLIERS)],
        "s_nationkey": srng.integers(0, 25, KG_SUPPLIERS).astype(np.int32),
        "s_acctbal": np.round(srng.uniform(-999, 9999, KG_SUPPLIERS), 2),
    })
    return {"part": part_tbl, "lineitem": line_tbl, "supplier": sup_tbl}


def documents(seed: int, n_base: int = DOC_BASE) -> pa.Table:
    """Duplicate-injected document corpus ``(doc_id, text, lang, source,
    n_chars)``. 15% of base documents seed a duplicate cluster of 1-3
    extra members (sizes cycle, so every seed has the same row count); each member is either an exact copy or a near copy
    (one token appended), so clusters are near-cliques under MinHash."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    texts, langs = [], []
    # fixed per-language counts (60% en, 10% each other), shuffled
    lang_idx = rng.permutation(np.arange(n_base) * 10 // n_base - 5).clip(0)
    lengths = rng.integers(10, 101, n_base)
    for li, n in zip(lang_idx, lengths):
        toks = vocab[rng.integers(0, len(vocab), n)]
        boost = LANG_BOOST[LANGS[li]]
        # a few indicator words so the language gate keeps its own docs
        pos = rng.integers(0, n, max(2, n // 8))
        toks[pos] = np.array(boost)[rng.integers(0, 2, pos.size)]
        texts.append(" ".join(toks))
        langs.append(LANGS[li])
    seeds = rng.choice(n_base, int(n_base * 0.15), replace=False)
    for i, s in enumerate(seeds):
        for _ in range(1 + i % 3):
            if rng.random() < 0.5:
                texts.append(texts[s])
            else:
                texts.append(texts[s] + " " + VOCAB[rng.integers(0, len(VOCAB))])
            langs.append(langs[s])
    n = len(texts)
    ids = rng.permutation(n).astype(np.int64)
    order = np.argsort(ids)
    texts_arr = np.array(texts, dtype=object)[order]
    return pa.table({
        "doc_id": ids[order],
        "text": texts_arr,
        "lang": np.array(langs)[order],
        "source": np.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts_arr], dtype=np.int64),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def tables_for(workload: str, seed: int) -> dict[str, pa.Table]:
    if workload == "kg_corpus":
        return kg_tables(seed)
    if workload == "curate_docs":
        return {"documents": documents(seed)}
    raise ValueError(f"unknown workload {workload!r}")


def ensure_inputs(workload: str, seed: int, cache_root: str) -> str:
    """Generate (once) and return the input directory for (workload, seed)."""
    path = os.path.join(cache_root, workload, f"seed-{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tables(tables_for(workload, seed), tmp)
    os.replace(tmp, path)
    return path

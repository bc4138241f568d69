"""Deduplication operators over the documents table.

- exact: hash-groupBy on a normalized content fingerprint;
- n-gram Jaccard: shingle explode -> self-join on shingle -> pair
  aggregate (the exact pairwise path — quadratic in near-dup cluster
  size, linear elsewhere because pairs only form on shared shingles);
- MinHash + LSH: per-doc signatures (min of per-seed keyed hashes) ->
  banding -> in-bucket pair enumeration (the 100 TB path: no all-pairs
  stage, cost is bounded by bucket collisions);
- SimHash: 64-bit sign-aggregated token hashes (pandas UDF);
- repeated spans: maximal runs of word-k-grams shared by at least
  ``min_docs`` documents, and their removal;
- clusters: any pair source closed into connected components, one
  keeper per cluster;
- embedding-cosine near-dup lives in similarity.py.

Every shingle-based operator reads its word-k-grams from one
expression (``_word_grams``). Hashing uses md5 hex strings
(engine-portable, deterministic) rather than engine-native hash
functions, so every stage is oracle-checkable.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from kgforge.datapipe.text import fingerprint_col

DEFAULT_SHINGLE_K = 3
DEFAULT_NUM_HASHES = 16
DEFAULT_BAND_SIZE = 4


def docs_with_dups(documents: DataFrame) -> DataFrame:
    """Duplicate-injected corpus (the sandbox docs are all-distinct):
    every 10th doc is replayed with doc_id + 1,000,000 — deterministic,
    mirrored in the DuckDB oracle.

    The result is routed through :func:`kgforge.session.spread_scan`:
    the sandbox documents table is a single unsplittable row group, so
    without it every downstream shingle/hash map stage runs as ONE task
    (measured: the whole dedup section serialized on it); on a real
    multi-file corpus the guard is a no-op."""
    from kgforge.session import spread_scan

    clones = documents.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return spread_scan(documents.unionByName(clones), "doc_id")


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup groups: fingerprint -> (canonical doc = min id, size).
    One hash-aggregate; at 100 TB this is the classic map-side-combine
    groupBy, no skew risk beyond genuinely viral duplicates."""
    return (
        documents.withColumn("fp", fingerprint_col(F.col("text")))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


def _word_grams(k: int):
    """The word-k-gram array of ``text``: lower-cased, split on
    whitespace, one gram per start position. A document shorter than
    ``k`` tokens yields its whole text as one gram."""
    toks = F.split(F.lower(F.col("text")), r"\s+")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )


def shingles(documents: DataFrame, k: int = DEFAULT_SHINGLE_K) -> DataFrame:
    """Distinct word-k-gram shingles per doc (array ops, no UDF)."""
    return (
        documents.select("doc_id", F.explode(_word_grams(k)).alias("shingle"))
        .filter(F.col("shingle") != "")
        .dropDuplicates(["doc_id", "shingle"])
    )


def jaccard_pairs(
    documents: DataFrame, k: int = DEFAULT_SHINGLE_K, threshold: float = 0.8
) -> DataFrame:
    """n-gram Jaccard near-dup pairs (doc_a < doc_b, jaccard_e6)."""
    sh = shingles(documents, k).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn(
            "jaccard_e6",
            F.floor(F.col("n_shared") * 1000000 / (F.col("na") + F.col("nb") - F.col("n_shared"))).cast("bigint"),
        )
        .filter(F.col("jaccard_e6") >= int(threshold * 1_000_000))
        .select("doc_a", "doc_b", "jaccard_e6")
    )
    return out


def minhash_signatures(
    documents: DataFrame, k: int = DEFAULT_SHINGLE_K, n_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """MinHash signature rows (doc_id, seed, sig): sig = min over the
    doc's shingles of md5(seed || ':' || shingle). Keyed-md5 stands in
    for a permutation family; hex-string min is deterministic and
    engine-portable."""
    sh = shingles(documents, k)
    seeded = sh.withColumn("seed", F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))))
    return (
        seeded.withColumn(
            "h", F.md5(F.concat(F.col("seed").cast("string"), F.lit(":"), F.col("shingle")))
        )
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("sig"))
    )


def minhash_band_keys(
    documents: DataFrame,
    k: int = DEFAULT_SHINGLE_K,
    n_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """(doc_id, band, band_key) in ONE shuffle: ``n_hashes`` min
    aggregates over the raw shingle explode, banded into keys as column
    expressions.

    Row-identical to banding :func:`minhash_signatures` (the r5 shape)
    but three shuffles cheaper (guide §2.4 — remove shuffles outright):

    - the per-doc shingle ``dropDuplicates`` is dropped — min over a
      multiset equals min over its distinct set, so the extra exchange
      bought nothing;
    - the 16x seed explode + groupBy(doc_id, seed) collapses into 16
      ``min`` aggregates in a single map-side-combined groupBy(doc_id)
      — 16x fewer rows cross the wire, one exchange instead of two;
    - the band groupBy(doc_id, band) + sorted collect_list becomes a
      pure projection over the 16 signature columns (the old
      sort_array(collect_list(struct(seed, sig))) in seed order is
      exactly the column order here), then one posexplode.
    """
    sh = documents.select("doc_id", F.explode(_word_grams(k)).alias("shingle")).filter(
        F.col("shingle") != ""
    )
    sigrow = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))).alias(f"s{s}")
            for s in range(n_hashes)
        ]
    )
    n_bands = (n_hashes + band_size - 1) // band_size
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"s{s}")
                        for s in range(b * band_size, min((b + 1) * band_size, n_hashes))
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )
    return sigrow.select("doc_id", F.posexplode(band_keys).alias("band", "band_key"))


def lsh_candidate_pairs(
    documents: DataFrame,
    k: int = DEFAULT_SHINGLE_K,
    n_hashes: int = DEFAULT_NUM_HASHES,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, hash each band,
    pair up docs sharing a band bucket. Never materializes all pairs —
    the scale path for near-dup at 10^9+ docs.

    Pair generation is a bucket groupBy + in-bucket enumeration, not a
    self-join (r6 third pass): Spark 4.1 does not reuse shuffle
    exchanges across a self-join's two sides (verified with an
    accumulator probe), so the join form evaluated the whole signature
    subtree — the corpus scan, the shingle explode and 16 md5-min
    aggregates per shingle — TWICE. Grouping the (doc_id, band,
    band_key) rows by bucket and reading the (a < b) pairs off the
    sorted doc array with pure expressions evaluates it ONCE and
    replaces the two join-side exchanges with one tiny bucket-key
    exchange (guide §2.4 — remove shuffles outright; measured
    row-identical and ~2x on the suite entry).

    Scale shape is unchanged: a bucket is a near-dup group keyed by a
    128-bit band hash, so bucket arrays are duplicate-cluster-sized —
    the same B rows the join's sort-merge buffered per key — and the
    enumeration emits exactly the B*(B-1)/2 pairs the join emitted
    (quadratic in a genuinely viral duplicate cluster either way; each
    exploded row holds at most one bucket's ids)."""
    bands = minhash_band_keys(documents, k, n_hashes, band_size)
    buckets = bands.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    # ids is sorted + distinct per bucket (one band row per doc), so the
    # (i, j>i) element pairs are exactly the doc_a < doc_b pairs
    return (
        buckets.select(F.col("ids"), F.posexplode("ids").alias("i", "doc_a"))
        .select(
            "doc_a",
            F.explode(F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))).alias(
                "doc_b"
            ),
        )
        .dropDuplicates()
    )


# ------------------------------------------------------ substring/span dedup
def positional_shingles(documents: DataFrame, k: int = DEFAULT_SHINGLE_K) -> DataFrame:
    """Word-k-gram shingles WITH their token position (duplicates kept —
    position matters), the substrate for span-level dedup. Same
    tokenization and short-document quirk as :func:`shingles`."""
    return documents.select(
        "doc_id", F.posexplode(_word_grams(k)).alias("pos", "shingle")
    ).filter(F.col("shingle") != "")


def repeated_spans(
    documents: DataFrame,
    k: int = DEFAULT_SHINGLE_K,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-SPAN detection at n-gram granularity —
    the training-set "dedup repeated substrings" op (the suffix-array
    method's scalable shingle approximation): a span is a MAXIMAL run of
    consecutive k-gram positions whose shingles each occur in >=
    ``min_docs`` distinct documents.

    Returns ``(doc_id, span_start, span_end, n_grams)`` with token
    indices inclusive (span_end covers the last gram's final token).

    Scale shape (no all-pairs, no suffix array): one groupBy(shingle)
    (map-side-combined count-distinct, bucketed by shingle hash), one
    equi-join back on shingle, and one per-doc window for the
    gaps-and-islands merge — every stage is linear in corpus token
    count; a viral shingle skews only its own hash bucket (AQE skew
    split applies), never a pairwise blowup.
    """
    ps = positional_shingles(documents, k)
    if min_docs == 2:
        # count_distinct(doc_id) >= 2  <=>  min(doc_id) != max(doc_id):
        # two plain min/max partial aggregates shuffle a pair of longs
        # per (shingle, partition) instead of the distinct-aggregate's
        # per-partition doc-id dedup state (guide §2.3 — aggregate
        # before you shuffle, and shuffle fewer bytes).
        rep = (
            ps.groupBy("shingle")
            .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
            .filter(F.col("d0") != F.col("d1"))
            .select("shingle")
        )
    else:
        rep = (
            ps.groupBy("shingle")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("shingle")
        )
    marked = ps.join(rep, "shingle").select("doc_id", "pos")
    # gaps-and-islands per doc as ONE groupBy + array run-split: the
    # marked positions are distinct ints per doc, so maximal runs of
    # consecutive positions are read off the sorted array (run starts =
    # elements whose predecessor isn't value-1, run ends symmetric; run
    # length = end - start + 1). This replaces the r5 window
    # (Exchange+Sort) + second hash aggregate (second Exchange on
    # (doc_id, island)) with a single Exchange on doc_id (guide §2.4);
    # arrays are document-sized, never corpus-sized.
    per_doc = marked.groupBy("doc_id").agg(F.array_sort(F.collect_list("pos")).alias("mp"))
    arr = F.col("mp")
    starts = F.filter(arr, lambda x, i: F.coalesce(F.get(arr, i - 1) != x - 1, F.lit(True)))
    ends = F.filter(arr, lambda x, i: F.coalesce(F.get(arr, i + 1) != x + 1, F.lit(True)))
    spans = F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            s.cast("bigint").alias("span_start"),
            (e + F.lit(k - 1)).cast("bigint").alias("span_end"),
            (e - s + 1).cast("bigint").alias("n_grams"),
        ),
    )
    return per_doc.select("doc_id", F.explode(spans).alias("sp")).select(
        "doc_id", "sp.span_start", "sp.span_end", "sp.n_grams"
    )


def remove_repeated_spans(
    documents: DataFrame, spans: DataFrame
) -> DataFrame:
    """Apply span-level dedup: rebuild each document's text without the
    tokens covered by its ``spans`` rows (output of
    :func:`repeated_spans`). Pure array expressions; no UDF, no shuffle
    beyond the span groupBy + equi-join on doc_id.

    Linear in tokens: instead of a per-token membership test against
    the covered-index set (O(tokens x covered) — quadratic for the
    fully-covered verbatim-clone case this op exists for), the kept
    text is the concatenation of the GAPS between the doc's spans.
    :func:`repeated_spans` islands are disjoint runs of gram positions,
    so after the +k-1 end extension their ends are strictly increasing;
    sorting by span_start and clamping each gap to start after the
    previous span's end yields the exact complement, and each gap is
    one O(len) ``slice`` of the token array.
    """
    sp = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e"))
            )
        ).alias("sp")
    )
    toks = F.split(F.lower(F.col("text")), r"\s+")
    n = F.size(toks).cast("bigint")
    spc = F.coalesce(
        F.col("sp"), F.array().cast("array<struct<s:bigint,e:bigint>>")
    )
    # gap i runs from (end of span i-1)+1 to (start of span i)-1, with a
    # virtual span end of -1 before the first span and a virtual span
    # start of n after the last — zip the shifted end/start arrays
    prev_ends = F.concat(
        F.array(F.lit(-1).cast("bigint")), F.transform(spc, lambda x: x["e"])
    )
    next_starts = F.concat(F.transform(spc, lambda x: x["s"]), F.array(n))
    gaps = F.zip_with(
        prev_ends,
        next_starts,
        lambda pe, st: F.struct(
            (pe + 1).alias("start"),
            F.greatest(st - pe - 1, F.lit(0).cast("bigint")).alias("len"),
        ),
    )
    kept = F.flatten(
        F.transform(
            gaps,
            lambda g: F.slice(toks, (g["start"] + 1).cast("int"), g["len"].cast("int")),
        )
    )
    return documents.join(sp, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(" ", kept).alias("deduped_text"),
        (n - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
    )


# ------------------------------------------------------------------ SimHash
def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens with md5-derived token
    hashes (deterministic across machines — no Python hash()). The
    per-row reference form; the vectorized batch kernel below is
    pytest-pinned equal to it."""
    vec = [0] * 64
    for tok in (text or "").lower().split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for bit in range(64):
            vec[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(64):
        if vec[bit] > 0:
            out |= 1 << bit
    return out - (1 << 63)  # two's complement into signed int64


# Worker-process token-hash cache: natural-language tokens repeat
# heavily, and the simhash self-join evaluates the UDF subtree twice, so
# a reused Python worker pays each distinct token's md5 once (guide
# §4.5: heavyweight state once per task/worker, amortized across
# batches). Bounded so a pathological vocabulary cannot grow without
# limit.
_SIMHASH_TOKEN_CACHE: dict[str, int] = {}
_SIMHASH_CACHE_MAX = 1_000_000


def _token_hash(tok: str) -> int:
    h = _SIMHASH_TOKEN_CACHE.get(tok)
    if h is None:
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        if len(_SIMHASH_TOKEN_CACHE) >= _SIMHASH_CACHE_MAX:
            _SIMHASH_TOKEN_CACHE.clear()
        _SIMHASH_TOKEN_CACHE[tok] = h
    return h


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Vectorized SimHash: one numpy bit-matrix reduction per batch
    instead of a 64-iteration Python loop per token (guide §4.2 — hand
    whole batches to vectorized native code). Bit-identical to
    :func:`simhash64`: same md5-derived token hashes, same sign rule
    (ones*2 > n_tokens), same two's-complement packing."""
    import itertools

    import numpy as np

    toks_list = [(t or "").lower().split() for t in texts]
    lens = np.fromiter((len(x) for x in toks_list), dtype=np.int64, count=len(toks_list))
    out = np.zeros(len(toks_list), dtype=np.uint64)
    nonempty = np.flatnonzero(lens > 0)
    if nonempty.size:
        flat = list(itertools.chain.from_iterable(toks_list))
        hs = np.fromiter(
            (_token_hash(tok) for tok in flat), dtype=np.uint64, count=len(flat)
        )
        shifts = np.arange(64, dtype=np.uint64)
        bits = ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        ends = np.cumsum(lens)
        starts = (ends - lens)[nonempty]
        ones = np.add.reduceat(bits, starts, axis=0)  # rows align with nonempty
        # vec[bit] > 0  <=>  2*ones > n_tokens (exact integer arithmetic)
        signs = (2 * ones) > lens[nonempty, None]
        out[nonempty] = (signs.astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
    # uint64 wraparound == two's complement: (out - 2^63) viewed as int64
    return pd.Series((out - np.uint64(1 << 63)).view(np.int64))


@pandas_udf(LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return _simhash_batch(texts)


def simhash_near_dups(documents: DataFrame, max_hamming: int = 3, n_bands: int = 4) -> DataFrame:
    """SimHash near-dup pairs via banded blocking: split the 64-bit hash
    into ``n_bands`` chunks; a pair within hamming distance < n_bands
    must agree on >=1 chunk (pigeonhole), so candidates come from
    chunk-equality buckets, then exact popcount filters.

    Candidates are enumerated per bucket (groupBy + sorted-array pair
    expressions), not via a chunk-equality self-join, for the same
    reason as :func:`lsh_candidate_pairs`: the join form evaluated the
    SimHash UDF subtree once per side; this form evaluates it once
    (measured row-identical, first-run ~2x). Buckets are near-dup
    groups keyed by an exact 16-bit hash chunk; pair volume per bucket
    is identical to the join's.

    Bucket size: a 16-bit chunk has 65,536 values, so besides true
    near-dups each bucket collects about n/65536 documents by chance,
    and each bucket is held as ONE array row — memory per task grows
    with the largest bucket. A ``doc_id`` that appears in several rows
    never pairs with itself (``doc_a != doc_b``)."""
    hashed = documents.select("doc_id", simhash_udf(F.col("text")).alias("sh"))
    chunk_bits = 64 // n_bands
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
    # struct array sorts by doc_id (its first field, unique per bucket):
    # the (i, j>i) element pairs are exactly the doc_a < doc_b pairs
    buckets = chunks.groupBy("band", "chunk").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "sh"))).alias("m")
    )
    cand = (
        buckets.select(F.col("m"), F.posexplode("m").alias("i", "a"))
        .select(
            "a",
            F.explode(F.slice(F.col("m"), F.col("i") + 2, F.size("m"))).alias("b"),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("doc_a", "doc_b", "hamming")


def dedup_clusters(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Near-dup CLUSTERING: candidate pairs from any pair source (LSH
    bands, SimHash collisions, embedding buckets) are closed into
    connected components and each cluster elects one keeper.

    Pairwise dedup alone under-deletes: near-duplication is not
    transitive pair-by-pair (A~B, B~C but A~C may miss every band), yet
    a training corpus wants ONE representative per duplicate *cluster*.
    Reuses the KG engine's distributed connected-components kernel
    (kgforge.graph.connected_components — the min-label propagation
    that canonicalization runs over its star equivalence edges), then
    keeps, per component, the longest text with doc_id as the tiebreak
    (the common quality heuristic; swap the ordering column for a
    quality score from text.quality_features). Dedup cluster graphs are
    near-cliques from bucket collisions (diameter 2-3), so propagation
    closes in a few rounds; measured flat across 1x→100x in
    BENCH_cc_curve.json.

    Returns (doc_id, cluster_id, keep) for every document that belongs
    to some cluster, with ``cluster_id`` the cluster's minimum doc_id;
    documents with no near-dup pair are implicitly their own keepers.
    At 100 TB every step is the CC fixpoint's bounded shuffles plus one
    window — no all-pairs stage is added on top of the (already
    bucketed) pair source.
    """
    from pyspark.sql import Window

    from kgforge import graph

    # CC on the ids' own type: its min label is the minimum member id
    edges = pairs.select(
        F.col(pairs.columns[0]).alias("parent"), F.col(pairs.columns[1]).alias("child")
    )
    comps = graph.connected_components(edges).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"),
    )
    member = comps.join(documents.select("doc_id", "text"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(F.length("text")), F.asc("doc_id")
    )
    return member.select(
        "doc_id",
        "cluster_id",
        (F.row_number().over(w) == 1).alias("keep"),
    )

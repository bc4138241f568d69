"""Similarity search over the embeddings table (vec_id, embedding:
array<float>, label).

- :func:`cosine_topk` — exact brute-force top-k: JVM-side
  ``zip_with``/``aggregate`` dot products (double accumulation, no
  Python in the loop). The verification baseline — a deliberate
  cross join, only ever run on bounded query sets.
- :func:`lsh_signatures` — random-hyperplane LSH bucketing over
  **fixed-point quantized** vectors: both the embedding components and
  the md5-derived plane weights are scaled to integers, so the sign
  bits are exact integer arithmetic — identical in any engine and
  immune to float summation-order differences (the DuckDB oracle
  replays the same planes as inline literals).
- :func:`lsh_ann_topk` / :func:`embedding_near_dups` — the scale path:
  candidates come only from bucket collisions (no all-pairs stage);
  exact cosine re-scoring filters them. At 10^9 vectors the cross
  product is impossible; the bucket join bounds comparisons.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

QUANT_SCALE = 1024  # fixed-point scale for engine-exact sign bits
DEFAULT_PLANES = 16
DEFAULT_DIM = 64
DEFAULT_BAND_SIZE = 4


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_pairs(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """All (query, candidate) cosine similarities; callers rank/filter.
    Deliberately a cross join — the exact-verification arm, never the
    scale path (use lsh_* for that)."""
    from kgforge.session import spread_scan

    q = queries.select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
    )
    # the query side broadcasts; the corpus side streams every pair's
    # dot product, so its (possibly single-task, guide §2.5) scan is
    # spread before the heavy per-pair arithmetic
    c = spread_scan(corpus, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), _as_double(F.col("embedding")).alias("cv")
    )
    # norms are per-VECTOR quantities: compute them once per side
    # before the pair explosion instead of twice per pair (identical
    # float values — same op sequence per vector)
    q = q.withColumn("qn", _norm(F.col("qv")))
    c = c.withColumn("cn", _norm(F.col("cv")))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    return (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Rank scored (query_id, neighbor_id, cosine) rows: deterministic
    tie-break on neighbor_id; cosine_e4 (floored 1e4 scale) keeps
    cross-engine compares exact. Shared by every ANN variant so the
    tie-break/scaling semantics can never drift between paths (each has
    a DuckDB oracle replaying exactly this block)."""
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        ),
    )
    return ranked.filter(F.col("rank") <= k).select(
        "query_id",
        "neighbor_id",
        "rank",
        F.floor(F.col("cosine") * 10000).cast("bigint").alias("cosine_e4"),
    )


def _rescore_topk(cand: DataFrame, queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact-cosine re-score of candidate (query_id, neighbor_id) pairs
    + top-k — the shared tail of both bucketed ANN paths."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    return _topk(scored, k)


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by cosine (brute-force verification arm)."""
    return _topk(cosine_pairs(queries, corpus), k)


# ------------------------------------------------------------------ LSH ANN
def hyperplanes_quantized(
    n_planes: int = DEFAULT_PLANES, dim: int = DEFAULT_DIM
) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes as fixed-point integers:
    component (p, d) = md5-derived uniform in [-1, 1) scaled by
    QUANT_SCALE. No RNG state; identical on every executor AND
    inlineable as literals into the DuckDB oracle SQL."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int.from_bytes(hashlib.md5(f"plane:{p}:{d}".encode()).digest()[:8], "big")
            row.append(int((h / float(1 << 63) - 1.0) * QUANT_SCALE))
        planes.append(row)
    return planes


def _quantized(col):
    """floor(x * QUANT_SCALE) as long — the engine-exact embedding form."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * QUANT_SCALE).cast("long"))


def _quantize_np(embs) -> np.ndarray:
    """The numpy twin of :func:`_quantized` — every kernel that leaves
    the JVM must quantize through this ONE function so the fixed-point
    form can never drift between the LSH/IVF kernels and the oracles."""
    return np.stack(
        [np.floor(np.asarray(v, dtype=np.float64) * QUANT_SCALE).astype(np.int64) for v in embs]
    )


def lsh_signatures(
    vectors: DataFrame,
    n_planes: int = DEFAULT_PLANES,
    dim: int = DEFAULT_DIM,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """Sign-bit signature per vector, split into bands of ``band_size``
    bits -> (vec_id, band, bucket). Near vectors collide on >=1 band
    with high probability; narrow bands raise recall, wide bands raise
    selectivity. Sign bits are integer dot products of the quantized
    embedding against quantized planes — exact in every engine."""
    planes_np = np.asarray(hyperplanes_quantized(n_planes, dim), dtype=np.int64)
    n_bands = max(1, n_planes // band_size)

    # Vectorized signature kernel: one Arrow batch -> one int64 matmul.
    # Integer dot products are order-insensitive, so numpy summation is
    # bit-identical to the DuckDB oracle's fold (the float cosine
    # re-score stays JVM-side where fold order is pinned). The
    # interpreted HigherOrderFunction form (aggregate/zip_with over 16
    # inlined 64-literal arrays) measured ~100x slower per row.
    @pandas_udf("array<string>")
    def bucket_udf(embs: pd.Series) -> pd.Series:
        bits = (_quantize_np(embs) @ planes_np.T > 0).astype(np.uint8)  # n x n_planes
        out = []
        for row in bits:
            s = "".join("1" if b else "0" for b in row)
            out.append([s[b * band_size : (b + 1) * band_size] for b in range(n_bands)])
        return pd.Series(out)

    return vectors.select(
        "vec_id", F.posexplode(bucket_udf(F.col("embedding"))).alias("band", "bucket")
    )


def vecs_with_dups(vectors: DataFrame) -> DataFrame:
    """Duplicate-injected embedding corpus (the sandbox embeddings are
    random, i.e. no true near-dups — the worst case for any LSH): every
    10th vector is replayed under vec_id + 1,000,000. Deterministic,
    mirrored in the DuckDB oracle; the dedup analogue of
    dedup.docs_with_dups. Deliberately NOT routed through spread_scan
    (unlike docs_with_dups): the signature kernel is one numpy matmul
    per Arrow batch, so fanning a 2k-row table across 32 tasks trades
    one efficient batch for 32 Python worker round-trips — measured
    1.6x slower on embedding_near_dups."""
    clones = vectors.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1000000)
    )
    return vectors.unionByName(clones)


def lsh_candidate_pairs(
    vectors: DataFrame,
    n_planes: int = DEFAULT_PLANES,
    dim: int = DEFAULT_DIM,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding on >=1 LSH band — the
    pair generator that replaces the all-pairs cross join at scale.
    (The signature UDF is evaluated once per join side; Spark 4.1 does
    not reuse shuffle exchanges across a self-join's two sides — the
    per-batch matmul is cheap enough that duplicating it beats a
    leaked cache/checkpoint of the signatures.)"""
    sigs = lsh_signatures(vectors, n_planes, dim, band_size)
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b"))
        .dropDuplicates()
    )


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = DEFAULT_PLANES,
    dim: int = DEFAULT_DIM,
    band_size: int = DEFAULT_BAND_SIZE,
) -> DataFrame:
    """Approximate top-k: score only bucket-colliding candidates."""
    qs = lsh_signatures(queries, n_planes, dim, band_size).withColumnRenamed("vec_id", "query_id")
    cs = lsh_signatures(corpus, n_planes, dim, band_size).withColumnRenamed("vec_id", "neighbor_id")
    cand = (
        qs.join(cs, ["band", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        # multi-band collisions repeat a pair once per colliding band —
        # dedup before the (more expensive) exact re-score
        .dropDuplicates()
    )
    return _rescore_topk(cand, queries, corpus, k)


# ------------------------------------------------------------------ IVF ANN
DEFAULT_CENTROIDS = 32
DEFAULT_NPROBE = 4


def ivf_centroids(corpus: DataFrame, n_centroids: int = DEFAULT_CENTROIDS) -> DataFrame:
    """Deterministic coarse quantizer for the IVF index: the
    ``n_centroids`` corpus vectors with the smallest vec_id among
    ``vec_id % 13 == 5``, numbered 0..n-1 in vec_id order. Production
    swaps in offline k-means-trained centroids (training is a separate
    batch job); the index/search plumbing — assignment, inverted-list
    partitioning, probe join — is identical and is what's exercised
    here. Returns (centroid_id, embedding)."""
    picked = (
        corpus.filter(F.col("vec_id") % 13 == 5)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(n_centroids)  # TakeOrderedAndProject: distributed top-n, no global sort
    )
    w = Window.orderBy("vec_id")  # over n_centroids rows only
    return picked.withColumn("centroid_id", F.row_number().over(w) - 1).select(
        "centroid_id", "embedding"
    )


def _centroid_matrix(corpus: DataFrame, n_centroids: int) -> np.ndarray:
    """Quantized centroid matrix (n_centroids x dim, int64), row i =
    centroid_id i. Centroids are dictionary-sized (k x dim), so the
    driver collect + closure broadcast is the standard small-dim-table
    pattern (same as the linking dictionary)."""
    rows = ivf_centroids(corpus, n_centroids).collect()
    if not rows:
        raise ValueError(
            "IVF centroid pick selected no vectors (no vec_id % 13 == 5 in the corpus)"
        )
    return _quantize_np(
        [r["embedding"] for r in sorted(rows, key=lambda r: r["centroid_id"])]
    )


def ivf_assign(
    vectors: DataFrame, cents: np.ndarray, nprobe: int = 1
) -> DataFrame:
    """(vec_id, centroid_id) probe assignments: the ``nprobe`` centroids
    with the largest quantized integer dot product (ties -> smaller
    centroid_id). Integer arithmetic makes the assignment bit-identical
    across engines; one Arrow-batch int64 matmul per partition."""

    @pandas_udf("array<int>")
    def probes_udf(embs: pd.Series) -> pd.Series:
        dots = _quantize_np(embs) @ cents.T  # n x n_centroids
        # argsort on (-dot, centroid_id): stable mergesort keeps the
        # smaller centroid_id first among equal dots
        order = np.argsort(-dots, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return vectors.select(
        "vec_id", F.explode(probes_udf(F.col("embedding"))).alias("centroid_id")
    )


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = DEFAULT_CENTROIDS,
    nprobe: int = DEFAULT_NPROBE,
    cents: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k — the inverted-file scale path alongside
    LSH: corpus vectors are assigned to their nearest centroid (the
    inverted lists; at scale a table bucketed/partitioned by
    centroid_id), queries probe their ``nprobe`` nearest lists, and only
    list members are exactly re-scored. Comparisons are bounded by
    nprobe/n_centroids of the corpus instead of all-pairs; the candidate
    join shuffles on centroid_id (low-cardinality, co-located lists),
    never on the cross product. ``cents`` accepts a pre-trained
    (e.g. Lloyd-refined, :func:`ivf_refine_centroids`) quantized
    centroid matrix; the default is the deterministic pick."""
    if cents is None:
        cents = _centroid_matrix(corpus, n_centroids)
    corpus_lists = ivf_assign(corpus, cents, nprobe=1).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    query_probes = ivf_assign(queries, cents, nprobe=nprobe).withColumnRenamed(
        "vec_id", "query_id"
    )
    cand = (
        query_probes.join(corpus_lists, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        # no dedup needed (unlike LSH): each corpus vector lives in
        # exactly one inverted list (nprobe=1 assignment) and a query's
        # probe list has distinct centroid_ids, so a pair can arise from
        # at most one join row — a dedup here would be a pure extra
        # shuffle over the candidate set
    )
    return _rescore_topk(cand, queries, corpus, k)


def ivf_cte(source: str = "embeddings", n_centroids: int = DEFAULT_CENTROIDS) -> str:
    """DuckDB CTEs replaying the IVF index exactly: centroid pick by the
    same deterministic rule, quantized integer dot products, tie-break
    on smaller centroid_id."""
    return f"""
iv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM {source}
),
centroids AS (
  SELECT centroid_id, cq FROM (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS centroid_id, q AS cq
    FROM iv WHERE vec_id % 13 = 5)
  WHERE centroid_id < {n_centroids}
),
ivf_dots AS (
  SELECT iv.vec_id, c.centroid_id,
         list_sum(list_transform(generate_series(1, len(iv.q)), d -> iv.q[d] * c.cq[d])) AS dot
  FROM iv CROSS JOIN centroids c
),
ivf_ranked AS (
  SELECT vec_id, centroid_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, centroid_id ASC) AS pr
  FROM ivf_dots
)"""


def embedding_near_dups(vectors: DataFrame, threshold: float = 0.999) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (doc_a < doc_b) — the
    vector-space analogue of MinHash dedup. **LSH-bucketed by default**
    (round-2 fix): candidates come from band collisions, the exact
    cosine is only computed on collided pairs — no CartesianProduct in
    the plan (plan-asserted in tests). Recall vs the brute-force arm is
    pinned >=0.95 in pytest; :func:`embedding_near_dups_exact` remains
    the oracle/verification arm."""
    cand = lsh_candidate_pairs(vectors)
    # per-vector norms computed before the pair join (once per vector,
    # not twice per collided pair)
    v = vectors.select("vec_id", _as_double(F.col("embedding")).alias("v")).withColumn(
        "nrm", _norm(F.col("v"))
    )
    a = v.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = v.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.floor(F.col("cosine") * 10000).cast("bigint").alias("cosine_e4"),
        )
    )


def embedding_near_dups_exact(vectors: DataFrame, threshold: float = 0.999) -> DataFrame:
    """Brute-force near-dup pairs — the exact arm used to verify LSH
    recall at small scale (a cross join; never the production path)."""
    pairs = cosine_pairs(vectors, vectors).filter(F.col("query_id") < F.col("neighbor_id"))
    return pairs.filter(F.col("cosine") >= threshold).select(
        F.col("query_id").alias("doc_a"),
        F.col("neighbor_id").alias("doc_b"),
        F.floor(F.col("cosine") * 10000).cast("bigint").alias("cosine_e4"),
    )


# ------------------------------------------------------------------ oracle SQL
def planes_sql_literal(n_planes: int = DEFAULT_PLANES, dim: int = DEFAULT_DIM) -> str:
    """The quantized planes as a DuckDB list-of-lists literal, so the
    oracle replays the exact same bucketing."""
    planes = hyperplanes_quantized(n_planes, dim)
    return "[" + ",".join("[" + ",".join(str(w) for w in p) + "]" for p in planes) + "]"


def lsh_sigs_cte(
    source: str = "embeddings",
    n_planes: int = DEFAULT_PLANES,
    dim: int = DEFAULT_DIM,
    band_size: int = DEFAULT_BAND_SIZE,
) -> str:
    """DuckDB CTE text computing (vec_id, band, bucket) identically to
    :func:`lsh_signatures`: integer dot products of floor(x*SCALE)
    against the inlined plane literals."""
    n_bands = max(1, n_planes // band_size)
    bit = (
        "CASE WHEN list_sum(list_transform(generate_series(1, {dim}),"
        " d -> q[d] * pl[{p}][d])) > 0 THEN '1' ELSE '0' END"
    )
    band_rows = []
    for band in range(n_bands):
        bits = "||".join(
            bit.format(dim=dim, p=i + 1)
            for i in range(band * band_size, (band + 1) * band_size)
        )
        band_rows.append(
            f"SELECT vec_id, {band} AS band, {bits} AS bucket FROM qv"
        )
    union = "\nUNION ALL\n".join(band_rows)
    return f"""
qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)) AS q,
         {planes_sql_literal(n_planes, dim)} AS pl
  FROM {source}
),
lsh_sigs AS (
{union}
)"""


def ivf_refine_centroids(
    corpus: DataFrame,
    n_centroids: int = DEFAULT_CENTROIDS,
    iterations: int = 2,
    cents: np.ndarray | None = None,
) -> np.ndarray:
    """Distributed Lloyd refinement (spherical k-means) of the IVF
    coarse quantizer — the "offline k-means training job" the
    deterministic centroid pick defers to, expressed as joins and
    aggregates: assign every corpus vector to its nearest centroid (one
    Arrow int64 matmul per batch), average the assigned vectors per
    centroid (posexplode + groupBy avg — a map-side-combined aggregate,
    never a collect of the corpus), L2-normalize the k x dim means
    driver-side (centroids are dictionary-sized, same pattern as the
    linking dictionary), re-quantize, repeat. Spherical (normalized)
    means keep the dot-product assignment objective non-decreasing;
    empty clusters keep their previous centroid. Returns the quantized
    centroid matrix consumed by :func:`ivf_assign` /
    :func:`ivf_ann_topk`."""
    if cents is None:
        cents = _centroid_matrix(corpus, n_centroids)
    for _ in range(iterations):
        assigned = ivf_assign(corpus, cents, nprobe=1)
        rows = (
            assigned.join(corpus.select("vec_id", "embedding"), "vec_id")
            .select("centroid_id", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("mean_vec")
            )
            .collect()
        )
        new = cents.astype("float64") / QUANT_SCALE
        for r in rows:
            vec = np.array([pm["m"] for pm in r["mean_vec"]], dtype="float64")
            norm = float(np.linalg.norm(vec))
            if norm > 0:
                new[r["centroid_id"]] = vec / norm
        cents = _quantize_np([row.tolist() for row in new])
    return cents

"""Corpus curation: the composed training-data pipeline.

Every primitive in :mod:`kgforge.datapipe` is individually
oracle-checked; this module composes them into the shape a production
training-data build actually runs —

    language filter -> minimum-length filter -> duplicate-cluster
    keeper -> (optional) cross-document repeated-span removal

— and returns both the curated corpus and the per-stage attrition
FUNNEL (the audit artifact every data pipeline publishes alongside its
output).  Pytest verifies the composition stage-by-stage against the
already-oracled primitives (tests/test_datapipe.py).

Scale shape: the filters are pure column expressions over one scan;
dedup (near-duplicate clusters, the one mode) adds the bucketed pair
source + CC closure (never all-pairs);
span removal adds one shingle-keyed aggregate + equi-join.  The funnel
counts are one aggregate per stage boundary — at 100 TB those are
map-side-combined counts, not extra shuffles of the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.datapipe import dedup as dd
from kgforge.datapipe import text as dtext


def curate_corpus(
    documents: DataFrame,
    *,
    lang: str | None = None,
    min_tokens: int | None = None,
    dedup: str = "cluster",
    span_min_docs: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Run the composed curation pipeline over ``documents``
    (doc_id, text, ...).

    - ``lang``: keep documents whose :func:`kgforge.datapipe.text
      .lang_id` prediction equals this code;
    - ``min_tokens``: minimum whitespace-token length;
    - ``dedup``: ``"cluster"``, the only mode (MinHash-LSH pairs ->
      connected-component clusters, longest-text keeper — catches
      near-dups pairwise banding alone would miss); any other value
      raises ``ValueError``;
    - ``span_min_docs``: when set, additionally rewrite the surviving
      texts with cross-document repeated spans removed
      (:func:`kgforge.datapipe.dedup.repeated_spans` at this
      min-document threshold; output column ``text`` is the deduped
      text, ``n_tokens_removed`` records the cut).

    Returns ``(curated, funnel)`` where ``funnel`` is a list of
    ``{"stage", "n_in", "n_out"}`` dicts, one per applied stage.

    Scan discipline (measured — an uncached composition replayed its
    subtrees 3x at the 8x bench size):

    - the whole filter-prefix funnel (initial + lang + quality counts)
      is ONE conditional aggregation over a single corpus scan, not one
      scan per gate;
    - the cluster-dedup stage caches its input for the stage's duration
      (the LSH build, the member join, and the keeper anti-join all
      read it) and releases it once the stage output is materialized;
    - the frame returned after each shuffle-heavy stage (dedup, span
      removal) is CACHED and materialized by that stage's funnel count,
      and the previous stage's cache is released — so the LSH->CC
      subtree executes exactly once even though the funnel counts it
      and the caller then materializes the curated corpus.

    The returned ``curated`` frame is the last such cache; callers
    should ``curated.unpersist()`` once it has been written out.
    """
    if dedup != "cluster":
        raise ValueError(f"unknown dedup mode {dedup!r}")
    funnel: list[dict] = []
    cached_prev: DataFrame | None = None

    def gate(stage: str, nxt: DataFrame, n_in: int) -> DataFrame:
        """Cache + materialize a shuffle-heavy stage boundary, then
        release the predecessor's cache (only after the successor is
        materialized)."""
        nonlocal cached_prev
        nxt = nxt.cache()
        n_out = nxt.count()
        if cached_prev is not None:
            cached_prev.unpersist()
        cached_prev = nxt
        funnel.append({"stage": stage, "n_in": n_in, "n_out": n_out})
        return nxt

    # --- filter prefix: ONE corpus scan for every funnel count ---
    # lang and quality are pure column predicates; counting each gate
    # separately would re-scan the corpus once per stage (three full
    # passes for three numbers at 100 TB). A single conditional
    # aggregation yields the identical funnel from one scan.
    filter_stages = []
    if lang is not None:
        filter_stages.append(("lang", dtext.lang_id(F.col("text")) == lang))
    if min_tokens is not None:
        filter_stages.append(("quality", dtext.token_count_ws(F.col("text")) >= min_tokens))
    aggs = [F.count("*").alias("__n0")]
    running = None
    for i, (_, c) in enumerate(filter_stages):
        running = c if running is None else (running & c)
        aggs.append(F.sum(running.cast("long")).alias(f"__n{i + 1}"))
    row = documents.agg(*aggs).first()
    counts = [int(row[f"__n{i}"] or 0) for i in range(len(filter_stages) + 1)]
    for i, (name, _) in enumerate(filter_stages):
        funnel.append({"stage": name, "n_in": counts[i], "n_out": counts[i + 1]})
    cur = documents.filter(running) if running is not None else documents
    n = counts[-1]

    # the dedup input is read THREE times inside this stage (the LSH
    # signature build, the cluster member join, the keeper anti-join) —
    # cache it for the stage's duration so the filter subtree runs once,
    # and release it as soon as the stage's own output cache is
    # materialized
    stage_in = cur.cache()
    pairs = dd.lsh_candidate_pairs(stage_in)
    clusters = dd.dedup_clusters(stage_in, pairs)
    losers = clusters.filter(~F.col("keep")).select("doc_id")
    cur = gate("dedup_cluster", stage_in.join(losers, "doc_id", "left_anti"), n)
    n = funnel[-1]["n_out"]
    stage_in.unpersist()

    if span_min_docs is not None:
        spans = dd.repeated_spans(cur, min_docs=span_min_docs)
        rewritten = dd.remove_repeated_spans(cur, spans)
        cur = gate(
            "span_removal",
            cur.drop("text")
            .join(rewritten, "doc_id")
            .withColumnRenamed("deduped_text", "text"),
            n,
        )
        n = funnel[-1]["n_out"]

    return cur, funnel

"""Checkpoint/resume for graph materialization (SURVEY.md §2.9, §4.3).

The reference gets idempotency from per-batch Cypher MERGE
(/root/reference/src/utils/spreadsheet_loader.py:613-626) or full
clear-and-reload (:480-484). We replace both with a *per-partition
commit manifest*: triples are bucketed by subject hash (north rule:
subject-hash partitioning), each bucket group is written with dynamic
partition overwrite (so a re-run of an uncommitted bucket replaces any
partial files instead of duplicating them), and the manifest — bucket
ids, row counts, lineage — is committed atomically (tmp + rename) after
each group. Resume = anti-set of bucket ids vs the manifest.

Layout: :func:`bucket_by_subject` runs ONE exchange on the bucket id
(``repartition("subj_bucket")``), so every bucket's rows sit in a
single partition and each ``triples/subj_bucket=<b>/`` directory gets
exactly one parquet file. AQE sizes that exchange from the data:
coalescing merges whole hash partitions and never splits one, so a
bucket never spans two tasks however few tasks remain, and write
parallelism follows the data instead of ``n_buckets``. The caller
caches that frame and owns its lifetime (``pipeline._materialize``);
the session lets AQE coalesce the cached plan's last stage too
(``session.py``). The manifest row counts of every bucket come from one
aggregate over it, taken before the first group is written.

On a cluster this manifest lives in Iceberg snapshot summary properties
and the write is `MERGE INTO`/replace-partition; the protocol is the
same, only the commit primitive changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.json")


def read_manifest(out_dir: str) -> dict:
    path = _manifest_path(out_dir)
    if not os.path.exists(path):
        return {"committed": {}}
    with open(path) as f:
        return json.load(f)


def _commit_manifest(out_dir: str, manifest: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=out_dir, prefix="_manifest", suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))


def bucket_by_subject(triples: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Add ``subj_bucket = pmod(xxhash64(subj), n_buckets)`` and put
    each bucket in one partition, so the one task that writes it emits
    one file. The exchange has no fixed width: AQE coalesces it to the
    data's size, merging whole buckets into a partition but never
    splitting one, so write parallelism follows the data (at most
    ``spark.sql.shuffle.partitions`` tasks) and ``n_buckets`` is only the
    bucket-id modulus (the number of files and of manifest entries)."""
    return triples.withColumn(
        "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(n_buckets)).cast("int")
    ).repartition("subj_bucket")


class InjectedFailure(RuntimeError):
    """Raised by the fault-injection hook in the kill-and-rerun test."""


def write_triples_resumable(
    triples: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    commit_every: int = 8,
    lineage: str = "",
    fail_after_commits: int | None = None,
) -> dict:
    """Write the triple table partitioned by subject-hash bucket, with
    incremental manifest commits; resumes past already-committed buckets.

    ``triples`` is the (cached) :func:`bucket_by_subject` output for
    the same ``n_buckets``; every commit group re-reads it.

    Returns the final manifest. ``fail_after_commits`` injects a crash
    after N successful commit groups (test hook).
    """
    if "subj_bucket" not in triples.columns:
        raise ValueError("write_triples_resumable needs a frame from bucket_by_subject")
    manifest = read_manifest(out_dir)
    committed = set(int(k) for k in manifest["committed"])
    todo = [b for b in range(n_buckets) if b not in committed]
    if not todo:
        return manifest

    data_dir = os.path.join(out_dir, "triples")
    # every bucket's manifest count from one aggregate over the cached,
    # bucket-partitioned frame (no re-scan of the union)
    bucket_counts = {
        r["subj_bucket"]: r["n"]
        for r in triples.groupBy("subj_bucket").agg(F.count("*").alias("n")).collect()
    }
    for n_done, i in enumerate(range(0, len(todo), commit_every), start=1):
        group = todo[i : i + commit_every]
        # dynamic overwrite replaces exactly the partitions in `group`
        # -> idempotent under re-run of an uncommitted group.
        (
            triples.filter(F.col("subj_bucket").isin(group))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("subj_bucket")
            .parquet(data_dir)
        )
        # empty buckets stay out of `counts` (they have no rows to
        # group), so the snapshot hash payload keeps its shape
        counts = {str(b): bucket_counts[b] for b in group if b in bucket_counts}
        now = datetime.now(timezone.utc).isoformat()
        for b in group:
            manifest["committed"][str(b)] = {
                "n_triples": counts.get(str(b), 0),
                "lineage": lineage,
                "committed_at": now,
            }
        # Iceberg-style snapshot log: every commit group appends one
        # snapshot whose id is a content hash chaining the parent —
        # the linear history a table's snapshot metadata carries, so
        # a resume's provenance (which run committed which buckets)
        # is auditable after the fact.
        snapshots = manifest.setdefault("snapshots", [])
        parent_id = snapshots[-1]["snapshot_id"] if snapshots else None
        payload = json.dumps(
            [parent_id, group, counts, lineage], sort_keys=True
        ).encode()
        snapshots.append(
            {
                "snapshot_id": hashlib.sha256(payload).hexdigest()[:16],
                "parent_snapshot_id": parent_id,
                "buckets": group,
                "n_triples": int(sum(counts.get(str(b), 0) for b in group)),
                "lineage": lineage,
                "committed_at": now,
            }
        )
        _commit_manifest(out_dir, manifest)
        if fail_after_commits is not None and n_done >= fail_after_commits:
            raise InjectedFailure(f"injected failure after {n_done} commits")
    return manifest


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "triples"))

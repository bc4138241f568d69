"""Graph-store delivery connector — the reference K1's HTTP leg
(spreadsheet_loader.py:1027-1038 batch_serialize + :415-434
GraphDBClient.post_ntriples) as a Spark ``foreachPartition`` sink.

The reference serializes <=batch_size triples per N-Triples chunk and
POSTs each chunk, logging-and-continuing on failure. Here every
*partition* renders its rows into <=batch_size-line chunks and hands
each chunk to a pluggable ``transport`` callable — executor-side, so a
1000-executor cluster delivers 1000 streams in parallel instead of the
reference's single loop. Semantics:

- **at-least-once + idempotent**: a chunk's ``batch_id`` is the content
  hash of its (sorted) lines, so Spark task retries or transport
  replays re-deliver the *same* id; an RDF store is a set, so replayed
  identical triples are a no-op (the reference relies on the same
  property), and a file/queue transport can dedupe on the id.
- **bounded backoff**: each chunk retries ``max_retries`` times with
  exponential backoff, then raises — the task fails and Spark's own
  task retry takes over (fail loudly; the reference's silent
  log-and-continue undercounts).
- **delivery accounting**: chunk/line counts come back through Spark
  accumulators (visible on the driver even though delivery runs on
  executors).

:class:`HttpNtriplesTransport` is the concrete GraphDB wire leg (the
reference's urlopen POST with Content-Type application/n-triples);
the pytest suite drives it against a local http.server and also uses
file-writing transports with injected transient failures.
"""

from __future__ import annotations

import hashlib
import json
import time
from typing import Callable

from pyspark.sql import DataFrame

Transport = Callable[[bytes, str], bool]


class HttpNtriplesTransport:
    """The reference's actual wire leg: POST each chunk to a GraphDB
    repository's statements endpoint as ``application/n-triples``
    (GraphDBClient.post_ntriples, spreadsheet_loader.py:415-434, with
    the same optional basic-auth header :383-390).

    A module-level class (not a closure) so instances pickle into
    executor tasks; one instance is stateless and reusable across
    partitions. Returns False on HTTP/URL errors — the caller's retry
    loop (:func:`_send_with_retries`) owns backoff — and lets
    unexpected exceptions propagate to the same loop's catch."""

    def __init__(
        self,
        base_url: str,
        repository: str,
        username: str | None = None,
        password: str | None = None,
        timeout_s: float = 30.0,
    ):
        self.endpoint = f"{base_url.rstrip('/')}/repositories/{repository}/statements"
        self.timeout_s = timeout_s
        if username and password:
            import base64

            token = base64.b64encode(f"{username}:{password}".encode()).decode()
            self._auth = f"Basic {token}"
        else:
            self._auth = None

    def __call__(self, payload: bytes, batch_id: str) -> bool:
        import urllib.error
        import urllib.request

        headers = {"Content-Type": "application/n-triples"}
        if self._auth:
            headers["Authorization"] = self._auth
        req = urllib.request.Request(
            self.endpoint, data=payload, headers=headers, method="POST"
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                resp.read()
            return True
        except (urllib.error.HTTPError, urllib.error.URLError):
            return False


def _send_with_retries(
    payload: bytes,
    batch_id: str,
    transport: Transport,
    max_retries: int,
    base_backoff_s: float,
    attempts_acc,
) -> None:
    """Shared delivery retry loop: bounded exponential backoff, then a
    chained raise so the executor-side root cause (DNS vs 500 vs
    serialization) survives into the task failure."""
    last_exc: Exception | None = None
    for attempt in range(max_retries):
        attempts_acc.add(1)
        try:
            ok = transport(payload, batch_id)
        except Exception as exc:  # noqa: BLE001 — retried, then chained
            ok = False
            last_exc = exc
        if ok:
            return
        if attempt < max_retries - 1:  # no pointless sleep before the raise
            time.sleep(base_backoff_s * (2**attempt))
    raise RuntimeError(
        f"delivery failed after {max_retries} attempts (batch {batch_id})"
    ) from last_exc


def _deliver(
    df: DataFrame,
    item: Callable,
    encode: Callable[[list], tuple[bytes, str]],
    transport: Transport,
    batch_size: int,
    max_retries: int,
    base_backoff_s: float,
    count_key: str,
) -> dict:
    """Shared delivery loop: each partition buffers ``item(row)`` values,
    and every ``batch_size`` of them (then the remainder) becomes one
    ``encode(chunk) -> (payload, batch_id)`` sent with retries. Stats
    come back through accumulators; ``count_key`` names the item count."""
    sc = df.sparkSession.sparkContext
    chunks_acc = sc.accumulator(0)
    items_acc = sc.accumulator(0)
    attempts_acc = sc.accumulator(0)

    def send(partition):
        buf: list = []

        def flush():
            if not buf:
                return
            payload, batch_id = encode(buf)
            _send_with_retries(
                payload, batch_id, transport, max_retries, base_backoff_s, attempts_acc
            )
            chunks_acc.add(1)
            items_acc.add(len(buf))
            buf.clear()

        for row in partition:
            buf.append(item(row))
            if len(buf) >= batch_size:
                flush()
        flush()

    df.foreachPartition(send)
    return {
        "chunks_delivered": chunks_acc.value,
        count_key: items_acc.value,
        "attempts": attempts_acc.value,
    }


def deliver_ntriples(
    lines: DataFrame,
    transport: Transport,
    batch_size: int = 1000,
    max_retries: int = 3,
    base_backoff_s: float = 0.05,
) -> dict:
    """Deliver a DataFrame of rendered N-Triples ``line`` strings through
    ``transport(payload, batch_id) -> bool``. Returns delivery stats.

    ``transport`` must be picklable (runs on executors). A False return
    or an exception counts as a failed attempt and is retried with
    exponential backoff; exhausting retries raises, failing the task.
    """

    def encode(chunk: list[str]) -> tuple[bytes, str]:
        payload = ("\n".join(chunk) + "\n").encode("utf-8")
        batch_id = hashlib.sha256("\n".join(sorted(chunk)).encode("utf-8")).hexdigest()[:32]
        return payload, batch_id

    return _deliver(
        lines, lambda row: row["line"], encode, transport,
        batch_size, max_retries, base_backoff_s, "lines_delivered",
    )


# ------------------------------------------------------------- Cypher leg
# The reference's second sink is a property-graph store loaded with
# parameterized UNWIND batches (spreadsheet_loader.py:517-643
# Neo4jClient.import_parts, :645-699 import_bom_relationships): rows are
# chunked batch_size at a time and each chunk runs one
# ``UNWIND $rows AS row MERGE ...`` statement. MERGE keyed on the
# natural id makes every batch idempotent — replaying a chunk is a
# no-op — which is exactly the at-least-once + idempotent contract the
# N-Triples leg above relies on.

PART_MERGE_STATEMENT = """\
UNWIND $rows AS row
MERGE (p:Part {number: row.number})
SET p += row"""

# mirror of the reference's edge MERGE (:672-679): endpoints are
# MERGE-created as MissingPart placeholders so an edge never dangles.
BOM_MERGE_STATEMENT = """\
UNWIND $rows AS row
MERGE (parent:Part {number: row.parent})
  ON CREATE SET parent.name = row.parent, parent.partType = "MissingPart"
MERGE (child:Part {number: row.child})
  ON CREATE SET child.name = row.child, child.partType = "MissingPart"
MERGE (parent)-[r:HAS_COMPONENT]->(child)"""


def cypher_batch_payload(statement: str, rows: list[dict]) -> bytes:
    """One UNWIND batch as a canonical JSON payload: the statement plus
    its ``$rows`` parameter — the wire shape of a parameterized Cypher
    request (a real transport posts it to the store's HTTP/Bolt API)."""
    return json.dumps(
        {"statement": statement, "parameters": {"rows": rows}},
        sort_keys=True,
        separators=(",", ":"),
        # timestamp/date/binary/Decimal cells must serialize, not raise
        # TypeError inside the executor; str() is the ISO form for
        # datetime/date and the documented wire encoding for the rest
        default=str,
    ).encode("utf-8")


def deliver_cypher_batches(
    df: DataFrame,
    statement: str,
    transport: Transport,
    batch_size: int = 1000,
    max_retries: int = 3,
    base_backoff_s: float = 0.05,
) -> dict:
    """Deliver a DataFrame as parameterized ``UNWIND $rows`` Cypher
    batches through ``transport(payload, batch_id) -> bool``.

    Executor-parallel version of the reference's driver-side batch loop
    (spreadsheet_loader.py:604-611, :663-681): every partition chunks
    its rows ``batch_size`` at a time, builds one statement payload per
    chunk, and retries with bounded backoff. The ``batch_id`` is the
    content hash of the statement + the chunk's (sorted) rows, so task
    retries and transport replays re-deliver the same id and a
    MERGE-based store (or an id-deduping transport) stays exactly-once.
    Delivery stats come back through accumulators.
    """
    columns = df.columns

    def encode(chunk: list[dict]) -> tuple[bytes, str]:
        canon = json.dumps(
            [statement, sorted(json.dumps(r, sort_keys=True, default=str) for r in chunk)]
        ).encode("utf-8")
        return cypher_batch_payload(statement, chunk), hashlib.sha256(canon).hexdigest()[:32]

    return _deliver(
        df, lambda row: {c: row[c] for c in columns}, encode, transport,
        batch_size, max_retries, base_backoff_s, "rows_delivered",
    )

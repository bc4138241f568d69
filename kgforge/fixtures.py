"""Deterministic derivation of the KG-pipeline input tables.

The sandbox provides TPC-H-ish parquet tables (TESTDATA.md). The KG
pipeline's authoritative input shape is a *transcripts* table
``(conv_id, turn_idx, role, text, tool, ts)`` plus a canonical-entity
dictionary. We derive both **deterministically** (pure arithmetic, no
RNG) from the provided tables, so the exact same derivation is
expressible in DuckDB SQL (:mod:`kgforge.oracle`) — giving every
operator an independent cross-engine oracle.

Derivation spec (single source of truth; oracle.py mirrors it verbatim):

``transcripts`` <- lineitem ⋈ part on ``l_partkey = p_partkey``:
  - ``turn_idx`` = row_number over (partition by l_orderkey
    order by l_linenumber, l_partkey, l_suppkey) - 1   [unique, verified]
  - ``conv_id`` = 'conv-' || l_orderkey
  - ``role``    = ('user','assistant','tool')[turn_idx % 3]
  - ``tool``    = when role='tool': 'bom_lookup' if l_orderkey even else
                  'part_search'; else NULL
  - ``ts``      = l_shipdate
  - per-turn *mention* (exercises every resolution status,
    FIXTURES.md §1): l_partkey%19==3 -> 'unknown widget {l_suppkey}'
    (unknown); l_partkey%19==7 -> '{l_partkey}.0' (float-formatted
    number -> normalize -> pass-through, reference
    /root/reference/src/utils/spreadsheet_loader.py:35-42,1063-1066);
    else p_name||' '||p_brand (resolved or ambiguous).
  - *parent mention* = lag(mention) within the conversation.
  - ``text`` = role||' turn: ref=['||mention||']'
               || coalesce(' parent=['||parent_mention||']','')
               ||' qty='||floor(l_quantity)

``entities`` <- part (reference parse_parts :54-111), two "sheets" with
  last-wins dedup (:98): sheet 0 = all parts; sheet 1 overrides every
  50th part with state='RELEASED', revision='Z'. name = p_name||'
  '||p_brand (~5% of names shared by 2+ numbers -> ambiguity fixture).

``versions`` <- orders: number=o_custkey, version=o_orderkey,
  state=o_orderstatus, created_ts=o_orderdate.

``changes`` <- events where event_id%20==0: change_id='CH-'||event_id,
  change_type=event_type, affected_number=user_id % count(part), ts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the transcripts table (input_hint shape) from lineitem ⋈ part."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")

    pk = F.col("l_partkey")
    mention = (
        F.when(pk % 19 == 3, F.concat(F.lit("unknown widget "), F.col("l_suppkey").cast("string")))
        .when(pk % 19 == 7, F.concat(pk.cast("string"), F.lit(".0")))
        .otherwise(_entity_name(pk))
    )
    # One explicit corpus exchange, keyed by conv_id, issued BEFORE the
    # dictionary join: it (a) is the Exchange the turn windows need
    # anyway (conv_id partitions == l_orderkey partitions, so no second
    # exchange appears), (b) moves the broadcast-join probe and all
    # text assembly off the scan stage — the sandbox lineitem file is a
    # single unsplittable row group, so pre-r6 everything up to the
    # window exchange ran as ONE task (guide §2.5 input skew) — and
    # (c) leaves the result hash-partitioned by conv_id, which
    # downstream per-turn aggregations (the bom_edges mention pivot
    # groupBy(conv_id, turn_idx)) reuse instead of re-shuffling the
    # mention rows (guide §2.4: two operations keyed the same way share
    # one exchange). Net: one corpus shuffle where there were two.
    # No width is given, so AQE coalesces it to the data's size.
    li = li.withColumn(
        "conv_id", F.concat(F.lit("conv-"), F.col("l_orderkey").cast("string"))
    ).repartition("conv_id")
    w_turn = Window.partitionBy("conv_id").orderBy("l_linenumber", "l_partkey", "l_suppkey")
    base = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .withColumn("turn_idx", (F.row_number().over(w_turn) - F.lit(1)).cast("int"))
        .withColumn("mention", mention)
        .withColumn("qty", F.floor("l_quantity").cast("bigint"))
    )
    role = (
        F.when(F.col("turn_idx") % 3 == 0, "user")
        .when(F.col("turn_idx") % 3 == 1, "assistant")
        .otherwise("tool")
    )
    # parent_mention = lag over the conversation in turn order. conv_id is
    # a bijection of l_orderkey and turn_idx is the row_number over
    # exactly w_turn's order, so lagging over w_turn is row-identical —
    # and re-using the same window spec lets Spark compute both window
    # functions over ONE Exchange+Sort instead of two (guide §2.4:
    # "window functions partitioned by the same key ... do not need a
    # second shuffle"; measured one full Exchange+Sort removed from
    # every transcript-derived plan).
    turns = (
        base.withColumn("role", role)
        .withColumn(
            "tool",
            F.when(
                F.col("turn_idx") % 3 == 2,
                F.when(F.col("l_orderkey") % 2 == 0, "bom_lookup").otherwise("part_search"),
            ),
        )
        .withColumn("parent_mention", F.lag("mention").over(w_turn))
    )
    text = F.concat(
        F.col("role"),
        F.lit(" turn: ref=["),
        F.col("mention"),
        F.lit("]"),
        F.coalesce(F.concat(F.lit(" parent=["), F.col("parent_mention"), F.lit("]")), F.lit("")),
        F.lit(" qty="),
        F.col("qty").cast("string"),
    )
    return turns.select(
        "conv_id",
        "turn_idx",
        "role",
        text.alias("text"),
        "tool",
        F.col("l_shipdate").alias("ts"),
    )


def _entity_name(pk):
    """Entity display name: ~5% of parts (pk%20==9) share one of 5 pool
    names (-> guaranteed-ambiguous, Zipfian-hot keys for the salted
    join); the rest get a unique ' #pk' suffix (-> resolved)."""
    base = F.concat(F.col("p_name"), F.lit(" "), F.col("p_brand"))
    return F.when(
        pk % 20 == 9, F.concat(F.lit("pool part "), (pk % 5).cast("string"))
    ).otherwise(F.concat(base, F.lit(" #"), pk.cast("string")))


def _entity_cols(pk):
    """Shared column spec for both entity 'sheets' (sheet 1 overrides below)."""
    return {
        "number": pk.cast("string"),
        "name": _entity_name(pk),
        "type": F.col("p_type"),
        "source": F.when(pk % 2 == 0, "make").otherwise("buy"),
        "view": F.when(pk % 3 == 0, "Design").when(pk % 3 == 1, "Manufacturing").otherwise("Service"),
        "state": F.when(pk % 4 == 0, "RELEASED")
        .when(pk % 4 == 1, "DESIGN")
        .when(pk % 4 == 2, "INPLANNING")
        .otherwise("CANCELLED"),
        "revision": F.when(pk % 5 == 0, F.lit(None).cast("string")).otherwise(
            F.expr("char(64 + cast(p_partkey % 5 as int))")
        ),
        "container": F.when(pk % 7 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit("container-"), (pk % 7).cast("string"))
        ),
        "part_type": F.when(pk % 101 == 100, F.lit(None).cast("string")).otherwise(
            F.when(pk % 4 == 0, "MechanicalPart")
            .when(pk % 4 == 1, "SoftwarePart")
            .when(pk % 4 == 2, "Variant")
            .otherwise("WTPart")
        ),
    }


ENTITY_COL_ORDER = [
    "number", "name", "type", "source", "view", "state", "revision", "container", "part_type",
]


def load_entities_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two entity 'sheets' with duplicates — pre-dedup (reference :54-111)."""
    part = _read(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    cols = _entity_cols(pk)
    sheet0 = part.select(
        F.lit(0).alias("sheet_idx"),
        pk.alias("row_idx"),
        *[cols[c].alias(c) for c in ENTITY_COL_ORDER],
    )
    cols1 = dict(cols)
    cols1["state"] = F.lit("RELEASED")
    cols1["revision"] = F.lit("Z")
    sheet1 = part.filter(pk % 50 == 0).select(
        F.lit(1).alias("sheet_idx"),
        pk.alias("row_idx"),
        *[cols1[c].alias(c) for c in ENTITY_COL_ORDER],
    )
    return sheet0.unionByName(sheet1)


def load_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical entity table: last-wins dedup by number.

    Reference semantics: dict overwrite in sheet/row order
    (/root/reference/src/utils/spreadsheet_loader.py:98) — the *last*
    sheet/row wins; as a window this is row_number desc == 1 (SURVEY §2.7).
    """
    from kgforge.normalize import truncate_number_col

    raw = load_entities_raw(spark, sf_dir)
    # reference truncates part numbers to 50 chars before keying
    # (validation.py:222-248) — a no-op on partkey-derived fixtures,
    # mirrored as left(number, 50) in the oracle CTE.
    raw = raw.withColumn("number", truncate_number_col(F.col("number")))
    w = Window.partitionBy("number").orderBy(F.desc("sheet_idx"), F.desc("row_idx"))
    return (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*ENTITY_COL_ORDER)
    )


def load_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal version rows (reference scripts/import_temporal_history.py:92-136)."""
    orders = _read(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_custkey").cast("string").alias("number"),
        F.col("o_orderkey").alias("version"),
        F.col("o_orderstatus").alias("state"),
        F.col("o_orderdate").alias("created_ts"),
    )


def load_doc_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DocumentVersion temporal rows (reference
    scripts/import_temporal_history.py:92-136 builds DocumentVersion
    nodes with the same chain logic as PartVersion): versions grouped
    under 'DOC-'-prefixed numbers so the namespace never collides with
    part versions."""
    orders = _read(spark, sf_dir, "orders")
    return orders.select(
        F.concat(F.lit("DOC-"), (F.col("o_custkey") % 997).cast("string")).alias("number"),
        F.col("o_orderkey").alias("version"),
        F.col("o_orderstatus").alias("state"),
        F.col("o_orderdate").alias("created_ts"),
    )


def load_alternate_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternate/replacement links (reference parse_alternate_links :296-340)."""
    part = _read(spark, sf_dir, "part")
    n_parts = part.count()
    pk = F.col("p_partkey")
    return part.filter(pk % 37 == 5).select(
        pk.cast("string").alias("child_number"),
        ((pk + 13) % F.lit(n_parts)).cast("string").alias("replacement_number"),
        F.lit("alternate").alias("replacement_type"),
    )


def load_describe_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-describes-part links (reference parse_describe_links :342-373)."""
    sup = _read(spark, sf_dir, "supplier")
    n_parts = _read(spark, sf_dir, "part").count()
    sk = F.col("s_suppkey")
    return sup.select(
        F.concat(F.lit("DOC-"), sk.cast("string")).alias("document_number"),
        (sk % F.lit(n_parts)).cast("string").alias("part_number"),
        F.when(sk % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.expr("char(65 + cast(s_suppkey % 3 as int))"))
        .alias("document_revision"),
        F.when(sk % 4 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("org-"), (sk % 4).cast("string")))
        .alias("document_org"),
        F.when(sk % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("lib-"), (sk % 5).cast("string")))
        .alias("document_container"),
    )


def load_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-column hierarchical rows for the G1 stack decode
    (reference data/bom.csv shape; spreadsheet_loader.py:1160-1182)."""
    li = _read(spark, sf_dir, "lineitem")
    w_turn = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey", "l_suppkey")
    return (
        li.withColumn("row_idx", (F.row_number().over(w_turn) - F.lit(1)).cast("int"))
        .select(
            F.concat(F.lit("conv-"), F.col("l_orderkey").cast("string")).alias("group_id"),
            "row_idx",
            F.when(F.col("row_idx") == 0, 0)
            .otherwise(1 + F.col("row_idx") % 2)
            .cast("int")
            .alias("level"),
            F.col("l_partkey").cast("string").alias("number"),
            # usage attributes (reference parse_part_usage :1262-1318)
            F.floor("l_quantity").cast("bigint").alias("quantity"),
            F.when(F.col("l_linenumber") % 3 == 0, F.lit(None).cast("string"))
            .otherwise(F.when(F.col("l_linenumber") % 2 == 0, "ea").otherwise("kg"))
            .alias("uom"),
            F.concat(F.lit("FN-"), (F.col("l_linenumber") % 10).cast("string")).alias(
                "find_number"
            ),
        )
    )


def load_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change records (reference src/importers/helicopter_change_importer.py:320-376)."""
    events = _read(spark, sf_dir, "events")
    n_parts = _read(spark, sf_dir, "part").count()
    return events.filter(F.col("event_id") % 20 == 0).select(
        F.concat(F.lit("CH-"), F.col("event_id").cast("string")).alias("change_id"),
        F.col("event_type").alias("change_type"),
        (F.col("user_id") % F.lit(n_parts)).cast("string").alias("affected_number"),
        F.col("ts"),
    )


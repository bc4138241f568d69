"""Entity linking: dictionary-based name resolution (SURVEY.md §2.3 J1/J2).

Reimplements the reference's resolve_edges_by_name semantics
(/root/reference/src/utils/spreadsheet_loader.py:1055-1080, with-report
variant :1391-1440):

- look the mention up in the name->numbers index;
- exactly one candidate  -> ``resolved`` (that number);
- 2+ candidates          -> ``ambiguous`` (edge drops);
- absent, but the (normalized) mention *is* a known number
                         -> ``resolved`` pass-through (:1063-1066);
- otherwise              -> ``unknown``;
- strict mode raises when any unknown/ambiguous exist (:1438-1439).

Physical strategy (north_star: broadcast-then-salted-shuffle):

- ``broadcast``: the canonical dictionary is the small side; one
  broadcast hash join, zero shuffle of the fact table.
- ``salted``: for dictionaries too large to broadcast with Zipfian-hot
  names — the dictionary is exploded ``DEFAULT_SALT_BUCKETS`` ways on a
  salt column and the fact side picks a deterministic salt, so one hot
  name spreads over that many reducers instead of one.

Both produce identical rows (tested). :func:`link_mentions` builds
its two dictionary frames (the name index and the known numbers) from
``entities`` on each call; only :func:`kgforge.graph.bom_edges_direct`
takes them prebuilt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.normalize import normalize_number_col

DEFAULT_SALT_BUCKETS = 8


def build_name_index(entities: DataFrame) -> DataFrame:
    """name -> sorted candidate numbers (reference build_name_index
    :1041-1052 inverted at :1378-1384). The reference indexes
    ``str(name or number).strip()`` — an entity with an empty/blank name
    is indexed under its (trimmed) number, which can itself make a
    number ambiguous. sort_array for determinism."""
    key = F.trim(F.coalesce(F.nullif(F.col("name"), F.lit("")), F.col("number")))
    return entities.groupBy(key.alias("name")).agg(
        F.sort_array(F.collect_set("number")).alias("candidates")
    )


DEFAULT_KEY_COLS = ("conv_id", "turn_idx", "slot")


def _classify(linked: DataFrame, key_cols: tuple[str, ...]) -> DataFrame:
    status = (
        F.when(F.col("candidates").isNotNull() & (F.size("candidates") == 1), "resolved")
        .when(F.col("candidates").isNotNull(), "ambiguous")
        .when(F.col("known_number").isNotNull(), "resolved")
        .otherwise("unknown")
    )
    # ambiguous -> NULL (the edge drops, reference :1072-1076); the
    # pass-through number fallback applies only when the name lookup missed.
    resolved = F.when(
        F.col("candidates").isNotNull() & (F.size("candidates") == 1),
        F.col("candidates")[0],
    ).when(F.col("candidates").isNull(), F.col("known_number"))
    return linked.select(
        *key_cols,
        "mention",
        status.alias("status"),
        resolved.alias("resolved_number"),
    )


def link_mentions(
    mentions: DataFrame,
    entities: DataFrame,
    strategy: str = "broadcast",
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
) -> DataFrame:
    """Resolve mention rows (*key_cols, mention) against the canonical
    dictionary -> + (status, resolved_number).

    ``key_cols`` carries the caller's row identity through unchanged —
    transcript linking keys on (conv_id, turn_idx, slot), the name-based
    BOM file flow keys on its edge pair.
    """
    index = build_name_index(entities)
    numbers = entities.select(F.col("number").alias("known_number")).distinct()
    m = mentions.withColumn("norm_mention", normalize_number_col(F.col("mention")))

    if strategy == "broadcast":
        joined = m.join(F.broadcast(index), m.mention == index.name, "left")
    elif strategy == "salted":
        salted_index = index.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(DEFAULT_SALT_BUCKETS - 1)))
        )
        m = m.withColumn(
            "salt",
            F.pmod(F.xxhash64(*key_cols), F.lit(DEFAULT_SALT_BUCKETS)).cast("int"),
        )
        joined = m.hint("shuffle_hash").join(
            salted_index,
            (m.mention == salted_index.name) & (m.salt == salted_index.salt),
            "left",
        )
    else:  # pragma: no cover
        raise ValueError(f"unknown strategy {strategy!r}")

    # pass-through fallback: normalized mention that IS a known number.
    # The numbers side is keyed by a near-unique column — uniform, always
    # broadcast-safe relative to the dictionary.
    joined = joined.join(
        F.broadcast(numbers), joined.norm_mention == numbers.known_number, "left"
    )
    return _classify(joined, key_cols)


def resolution_stats(linked: DataFrame) -> DataFrame:
    """A6: resolved/unknown/ambiguous tallies (reference :1394-1429)."""
    return linked.groupBy("status").agg(F.count("*").alias("n"))


def check_strict(linked: DataFrame) -> None:
    """Strict mode (reference strict_names :1438-1439): raise if any
    mention failed to resolve."""
    bad = (
        linked.filter(F.col("status") != "resolved")
        .groupBy("status")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    if bad:
        detail = ", ".join(f"{r['status']}={r['n']}" for r in bad)
        raise RuntimeError(f"strict name resolution failed: {detail}")


def enrich_number_to_name(df: DataFrame, entities: DataFrame, number_col: str) -> DataFrame:
    """J2: number -> display name with fallback to the number itself
    (generate_bom_by_name_file :1109-1121). Also emits an explicit
    ``{number_col}_name_missing`` flag from the join miss itself (``name
    IS NULL`` before the coalesce) — the unmapped tally the reference
    logs (:1113-1117) must count misses, not ``name == number`` string
    equality, because an entity whose display name legitimately equals
    its own number is NOT a fallback."""
    names = entities.select(
        F.col("number").alias("__n"), F.col("name").alias("__name")
    )
    return (
        df.join(F.broadcast(names), df[number_col] == F.col("__n"), "left")
        .withColumn(f"{number_col}_name", F.coalesce("__name", number_col))
        .withColumn(f"{number_col}_name_missing", F.col("__name").isNull())
        .drop("__n", "__name")
    )

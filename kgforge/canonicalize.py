"""Canonicalization: stable IRI assignment (the north-rule pass: cluster
equivalent entities, name each cluster by its minimum member, derive
the canonical IRI from that representative).

Equivalence here is the reference's same-display-name relation (the
SUPERSEDES self-join J5, snowmobile_neo4j_importer.py:250-264): two
numbers sharing a name are the same logical part across revisions. The
clusters of that relation are the name groups themselves, so the
representative is one window aggregate, ``min(number)`` per name — the
expression the DuckDB oracle checks. :func:`equivalence_edges` gives the
same relation as a star edge set for the general connected-components
pass (graph.connected_components), whose components on these edges are
exactly the name groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgforge.normalize import iri_encode_col
from kgforge.schema import PART_NS


def equivalence_edges(entities: DataFrame) -> DataFrame:
    """Same-name equivalence edges as a STAR per name group: every
    member connects to the group's minimum number (one map-side-combined
    groupBy, no self-join). A star has exactly the same connected
    components as the O(k²) all-pairs clique — with Zipfian-hot names
    (thousands of entities sharing one display name at corpus scale) the
    clique's pair explosion is quadratic in group size while the star
    stays linear.
    """
    reps = entities.groupBy("name").agg(F.min("number").alias("parent"))
    return (
        entities.select("name", F.col("number").alias("child"))
        .join(reps, "name")
        .filter(F.col("parent") != F.col("child"))
        .select("parent", "child")
        .dropDuplicates()
    )


def assign_canonical_iris(entities: DataFrame) -> DataFrame:
    """entities (keyed by number) + (canonical_number, canonical_iri):
    the representative is the minimum number of the row's name group; a
    row with a null name (or number) groups with nothing and represents
    itself. One window over ``name``, no job until the caller's action."""
    group_min = F.min("number").over(Window.partitionBy("name"))
    out = entities.withColumn(
        "canonical_number",
        F.when(F.col("name").isNull() | F.col("number").isNull(), F.col("number"))
        .otherwise(group_min),
    )
    return out.withColumn(
        "canonical_iri", F.concat(F.lit(PART_NS), iri_encode_col(F.col("canonical_number")))
    )

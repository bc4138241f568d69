"""Triple builders, N-Triples rendering, graph statistics
(SURVEY.md §2.5 T1-T9, §2.6 A1-A9).

Vocabulary and emission rules are byte-identical to the reference
(/root/reference/src/utils/spreadsheet_loader.py:878-1024): fixed
triples always emitted, metadata triples only for truthy values, the
URIRef-vs-Literal split preserved in ``obj_is_literal``.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.normalize import iri_encode_col
from kgforge.schema import DOC_NS, ONT, PART_NS, RDF_TYPE, RDFS_LABEL


def _part_iri(col):
    return F.concat(F.lit(PART_NS), iri_encode_col(col))


def _doc_iri(col):
    return F.concat(F.lit(DOC_NS), iri_encode_col(col))


def part_triples(entities: DataFrame) -> DataFrame:
    """T1 (:878-917): 3 fixed triples per part (rdf:type, ont:name,
    rdfs:label) + one per truthy metadata field. hasPartType/hasView/
    hasState/hasSource objects are URIs; name/label/revision/container
    are literals. Display name falls back to the number (:883)."""
    name = F.coalesce(F.when(F.col("name") == "", None).otherwise(F.col("name")), F.col("number"))
    rows = F.array(
        F.struct(F.lit(RDF_TYPE).alias("pred"), F.lit(ONT + "Part").alias("obj"), F.lit(False).alias("obj_is_literal")),
        F.struct(F.lit(ONT + "name").alias("pred"), name.alias("obj"), F.lit(True).alias("obj_is_literal")),
        F.struct(F.lit(RDFS_LABEL).alias("pred"), name.alias("obj"), F.lit(True).alias("obj_is_literal")),
        F.struct(F.lit(ONT + "hasPartType").alias("pred"), F.concat(F.lit(ONT), F.col("part_type")).alias("obj"), F.lit(False).alias("obj_is_literal")),
        F.struct(F.lit(ONT + "hasView").alias("pred"), F.concat(F.lit(ONT), F.col("view")).alias("obj"), F.lit(False).alias("obj_is_literal")),
        F.struct(F.lit(ONT + "hasState").alias("pred"), F.concat(F.lit(ONT), F.col("state")).alias("obj"), F.lit(False).alias("obj_is_literal")),
        F.struct(F.lit(ONT + "hasSource").alias("pred"), F.concat(F.lit(ONT), F.col("source")).alias("obj"), F.lit(False).alias("obj_is_literal")),
        F.struct(F.lit(ONT + "hasRevision").alias("pred"), F.col("revision").alias("obj"), F.lit(True).alias("obj_is_literal")),
        F.struct(F.lit(ONT + "inContainer").alias("pred"), F.col("container").alias("obj"), F.lit(True).alias("obj_is_literal")),
    )
    return (
        entities.select(_part_iri(F.col("number")).alias("subj"), F.explode(rows).alias("t"))
        .select("subj", "t.pred", "t.obj", "t.obj_is_literal")
        .filter(F.col("obj").isNotNull() & (F.col("obj") != ""))
    )


def _edge_triples(edges: DataFrame, pred: str, subj_col: str, obj_col: str) -> DataFrame:
    return edges.select(
        _part_iri(F.col(subj_col)).alias("subj"),
        F.lit(ONT + pred).alias("pred"),
        _part_iri(F.col(obj_col)).alias("obj"),
        F.lit(False).alias("obj_is_literal"),
    )


def bom_triples(edges: DataFrame) -> DataFrame:
    """T2 (:920-925): (parent, hasComponent, child)."""
    return _edge_triples(edges, "hasComponent", "parent", "child")


def used_in_triples(edges: DataFrame) -> DataFrame:
    """T6/G3 (:963-977): (child, usedIn, parent)."""
    return _edge_triples(edges, "usedIn", "child", "parent")


def part_of_assembly_triples(closure: DataFrame) -> DataFrame:
    """T7/G4 (:980-1024): (descendant, partOfAssembly, ancestor); closure
    rows arrive as (parent=ancestor, child=descendant)."""
    return _edge_triples(closure, "partOfAssembly", "child", "parent")


def alternate_triples(links: DataFrame) -> DataFrame:
    """T3 (:928-942): (original, hasAlternate, replacement);
    replacement_type is parsed but dropped in the RDF path."""
    return links.select(
        _part_iri(F.col("child_number")).alias("subj"),
        F.lit(ONT + "hasAlternate").alias("pred"),
        _part_iri(F.col("replacement_number")).alias("obj"),
        F.lit(False).alias("obj_is_literal"),
    )


def describe_triples(links: DataFrame) -> DataFrame:
    """T5 (:955-960): (document, describes, part)."""
    return links.select(
        _doc_iri(F.col("document_number")).alias("subj"),
        F.lit(ONT + "describes").alias("pred"),
        _part_iri(F.col("part_number")).alias("obj"),
        F.lit(False).alias("obj_is_literal"),
    )


def document_triples(links: DataFrame) -> DataFrame:
    """T4 (:944-953 + last-wins dedup :1471-1475): per unique document a
    type triple + truthy revision/org/container literals."""
    docs = links.dropDuplicates(["document_number"])
    rows = F.array(
        F.struct(F.lit(RDF_TYPE).alias("pred"), F.lit(ONT + "Document").alias("obj"), F.lit(True).alias("is_lit_no")),
        F.struct(F.lit(ONT + "hasRevision").alias("pred"), F.col("document_revision").alias("obj"), F.lit(True).alias("is_lit_no")),
        F.struct(F.lit(ONT + "hasOrganization").alias("pred"), F.col("document_org").alias("obj"), F.lit(True).alias("is_lit_no")),
        F.struct(F.lit(ONT + "inContainer").alias("pred"), F.col("document_container").alias("obj"), F.lit(True).alias("is_lit_no")),
    )
    out = (
        docs.select(_doc_iri(F.col("document_number")).alias("subj"), F.explode(rows).alias("t"))
        .select("subj", "t.pred", "t.obj")
        .filter(F.col("obj").isNotNull() & (F.col("obj") != ""))
    )
    return out.withColumn(
        "obj_is_literal", F.when(F.col("pred") == RDF_TYPE, F.lit(False)).otherwise(F.lit(True))
    )


def canonical_equivalence_triples(canon: DataFrame) -> DataFrame:
    """Canonicalization output (north rule): one canonicalEquivalent edge
    per non-representative entity, linking its IRI to the cluster
    representative's IRI. ``canon`` = canonicalize.assign_canonical_iris
    output (has number, canonical_number, canonical_iri)."""
    return canon.filter(F.col("number") != F.col("canonical_number")).select(
        _part_iri(F.col("number")).alias("subj"),
        F.lit(ONT + "canonicalEquivalent").alias("pred"),
        F.col("canonical_iri").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
    )


EDGE_LABEL_PREDS = ["hasComponent", "usedIn", "partOfAssembly", "hasAlternate", "describes"]


def edge_label_triples(spark) -> DataFrame:
    """T8 (:1495-1510): static rdfs:label triples for the 5 edge
    predicates (--add-edge-labels)."""
    rows = [(ONT + p, RDFS_LABEL, p, True) for p in EDGE_LABEL_PREDS]
    return spark.createDataFrame(rows, "subj string, pred string, obj string, obj_is_literal boolean")


def union_triples(*families: DataFrame) -> DataFrame:
    """§2.8: union of the triple families (reference list concat :1512-1513)."""
    return reduce(DataFrame.unionByName, families)


# ------------------------------------------------------------------ stats
def triple_counts(triples: DataFrame) -> DataFrame:
    """A1/A2: counts per predicate (get_statistics :841-875)."""
    return triples.groupBy("pred").agg(F.count("*").alias("n"))


def top_assemblies(edges: DataFrame, k: int = 20) -> DataFrame:
    """A3: children per part, top-k (GRAPHDB_QUERIES.md:73-85) —
    TakeOrderedAndProject, no full sort."""
    return (
        edges.groupBy("parent")
        .agg(F.count("*").alias("n_children"))
        .orderBy(F.desc("n_children"), F.asc("parent"))
        .limit(k)
    )


def deepest_paths(khop: DataFrame) -> DataFrame:
    """A9: max reached depth per root (verify_snowmobile_graph.py:224-236)."""
    return khop.groupBy("root").agg(F.max("depth").alias("max_depth"))


# ------------------------------------------------------------------ N-Triples
def _escape_literal(col):
    """N-Triples string escaping (backslash first, then quote/newlines) —
    matches rdflib's serializer for the N-Triples core escapes."""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    return c


def ntriples_lines(triples: DataFrame) -> DataFrame:
    """T9 (:1027-1038): render one N-Triples line per triple. Chunking
    becomes file sizing (maxRecordsPerFile) instead of HTTP batches."""
    obj_term = F.when(
        F.col("obj_is_literal"), F.concat(F.lit('"'), _escape_literal(F.col("obj")), F.lit('"'))
    ).otherwise(F.concat(F.lit("<"), F.col("obj"), F.lit(">")))
    return triples.select(
        F.concat(
            F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"), F.lit("> "), obj_term, F.lit(" .")
        ).alias("line")
    )


def write_ntriples(triples: DataFrame, path: str, records_per_file: int = 100_000) -> None:
    """Parity output: the reference's batched N-Triples POSTs become
    size-bounded text files."""
    (
        ntriples_lines(triples)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", records_per_file)
        .text(path)
    )

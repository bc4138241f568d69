"""The canonical entity schema and the RDF vocabulary, mirroring the
reference's stringly-typed data model (SURVEY.md §1.2)."""

from __future__ import annotations

from pyspark.sql import types as T

# Canonical entity table — the reference's parts dict
# (spreadsheet_loader.py:54-111): one flat row per normalized number.
ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("number", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("view", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("revision", T.StringType(), True),
        T.StructField("container", T.StringType(), True),
        T.StructField("part_type", T.StringType(), True),
    ]
)

# RDF vocabulary — byte-identical to the reference's IRIs
# (spreadsheet_loader.py:878-1024).
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
ONT = "urn:ontology:"
PART_NS = "urn:part:"
DOC_NS = "urn:document:"

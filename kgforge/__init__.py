"""kgforge — a PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the capabilities of Cars-10/xlsx_to_graphdb
(reference at /root/reference, read-only) as an idiomatic Spark
DataFrame pipeline: triple extraction -> entity linking ->
canonicalization -> graph materialization, over tables of multi-turn
conversation transcripts ``(conv_id, turn_idx, role, text, tool, ts)``.

Module map (SURVEY.md §7.0):

- :mod:`kgforge.session`       Spark session factory (AQE, Arrow, shuffle tuning)
- :mod:`kgforge.schema`        the entity StructType and the RDF vocabulary
- :mod:`kgforge.fixtures`      deterministic derivation of transcripts & side tables
- :mod:`kgforge.normalize`     scalar normalization & validation (SURVEY §2.2)
- :mod:`kgforge.sources`       CSV, workbook and paged-API sources; the one
                               sheet framing and the header synonyms (§1.3/§2.1)
- :mod:`kgforge.extract`       mention detection + per-turn triple extraction (§2.5)
- :mod:`kgforge.linking`       dictionary entity linking, broadcast + salted (§2.3 J1/J2)
- :mod:`kgforge.canonicalize`  north-rule canonical IRIs: min number per name group
- :mod:`kgforge.graph`         hierarchy/graph operators: closure, reverse edges,
                               self-joins, level-stack decode (§2.3/§2.4)
- :mod:`kgforge.materialize`   triple builders, N-Triples rendering, statistics (§2.5/§2.6)
- :mod:`kgforge.resume`        per-partition manifest checkpoint/resume (§2.9)
- :mod:`kgforge.pipeline`      end-to-end driver (§3.1 analogue)
- :mod:`kgforge.xlsx`          pure-stdlib .xlsx reader and its read_excel-like Table
- :mod:`kgforge.analysis`      dataset-analysis summaries (BOM names, change records)
- :mod:`kgforge.reports`       diagnostic sinks (§2.1 K3/K4)
- :mod:`kgforge.connector`     N-Triples and Cypher delivery legs (§2.1 K1/K2)
- :mod:`kgforge.sql_api`       the reference's query corpus as Spark SQL
- :mod:`kgforge.web`           stdlib web job launcher over the pipeline CLI
- :mod:`kgforge.package`       ``--py-files`` archive builder
- :mod:`kgforge.oracle`        the fixture derivation as DuckDB SQL (test oracle)
- :mod:`kgforge.gate`          operator registry paired with DuckDB oracle SQL
- :mod:`kgforge.datapipe`      training-data pipeline ops: dedup, similarity,
                               text analysis, multimodal plumbing
"""

__version__ = "0.1.0"

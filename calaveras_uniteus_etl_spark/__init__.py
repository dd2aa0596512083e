"""calaveras_uniteus_etl_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of ``waqqascalaveras/calaveras-uniteus-etl`` (a healthcare
ETL + SQL-analytics platform) on Apache Spark:

- ingest: delimited-file sources with encoding fallback, filename
  routing, dedup-by-hash bookkeeping (``sources/``)
- transforms: cleaning, PHI hashing, type casting (``operators/``)
- loads: window-based upsert/merge, undo, audit stamping (``operators/upsert``)
- analytics: the full report-query surface as composable DataFrame
  plans plus Spark SQL (``plans/``, ``reports/``)
- extensions: large-scale training-data pipeline operators — dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard), embedding
  similarity search, text statistics, multimodal column plumbing
  (``operators/dedup``, ``operators/similarity``, ``operators/textstats``,
  ``operators/multimodal``)

Everything is expressed through the DataFrame API / Spark SQL so that
Catalyst + AQE choose physical plans; no RDDs, and Python UDFs only
where built-ins genuinely cannot express the semantics.
"""

__version__ = "0.1.0"

from calaveras_uniteus_etl_spark.session import get_spark  # noqa: F401

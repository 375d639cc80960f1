"""pride_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of bigbio/pride-molecules-indexer.

Everything is expressed as pure ``DataFrame -> DataFrame`` transformations
(scans, filters, equi/theta joins, explodes, groupBys, window functions,
partitioned writes) designed for a 1000-executor / 100 TB deployment, and
validated locally against a DuckDB oracle.

Layout
------
- ``pride_spark.schemas``    — explicit StructType schemas (SURVEY §1 T1–T5)
- ``pride_spark.session``    — tuned SparkSession factory
- ``pride_spark.functions``  — scalar column functions (SURVEY §2.10 C1–C20)
- ``pride_spark.operators``  — relational operators: FDR windows, filter
  stacks, theta joins, rollups, inference, clustering, dedup, similarity,
  text analysis (SURVEY §2.3–§2.9 + north-star extensions)
- ``pride_spark.sources``    — readers/writers: JSON-lines, TSV/SDRF,
  MaraCluster, MGF (SURVEY §2.1–§2.2)
- ``pride_spark.plans``      — end-to-end pipeline compositions (the CLI
  commands of the reference: generate-index-files, perform-inference, ...)
"""

__version__ = "0.1.0"

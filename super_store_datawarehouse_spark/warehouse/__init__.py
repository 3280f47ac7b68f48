"""The Superstore star-schema warehouse: ingest → 9 dims → 6 facts.

Spark rewrite of the reference ETL (``etl.py``): the nine dimensions are
projections of one localized aggregate over the lines, and every fact is
a lazy DataFrame plan; surrogate-key "read-backs" become array lookups
and broadcast joins; row loops become set-oriented aggregation; batched
INSERTs become parquet writes. Load-order dependencies (dims before
facts) are plain DataFrame dependencies that the DAG scheduler orders.
"""

from super_store_datawarehouse_spark.warehouse.pipeline import build_warehouse, write_warehouse

__all__ = ["build_warehouse", "write_warehouse"]

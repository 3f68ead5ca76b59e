"""Driver-testdata loaders (TESTDATA.md contract).

``spark.read.parquet`` keeps schema, predicate pushdown and column
pruning at the scan (verified via .explain PushedFilters/ReadSchema in
tests); at cluster scale the same call targets an Iceberg catalog table
instead (see gipspark.sources.checkpoint for the catalog shim rationale,
SURVEY.md §7.5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def table_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet footer metadata — no Spark job, no scan.

    The local stand-in for Iceberg snapshot/manifest row counts: operators
    that need cardinality to pick a plan (e.g. knn_join's density-adaptive
    level) should read it from table metadata, never pay a count() job
    over the big side.
    """
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows

"""SQL surface: drive the whole engine from ``spark.sql``.

``attach(spark, sf_dir)`` registers (a) every driver table as a temp
view and (b) the engine's kernels as SQL functions, so an end user —
or a BI tool speaking Spark SQL over Thrift — can run the
tile/inventory/dedup workload without touching the Python API:

    SELECT gp_tile(lat, lon) AS tile_id, count(*) AS n
    FROM pts GROUP BY tile_id

Registration strategy per kernel kind:
- python kernels (S2/H3 encode) → registered *pandas* UDFs: Arrow
  batches in SQL too, the no-per-row-Python contract holds;
- pure-arithmetic kernels (tile graticule, haversine) → SQL scalar
  functions (CREATE TEMPORARY FUNCTION … RETURN expr, Spark 4 SQL
  UDFs): fully codegen'd, textually the same formula the DuckDB
  oracles run (gipspark.functions.cells.TILE_SQL).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

DRIVER_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def attach(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register driver tables as temp views + engine kernels as SQL fns."""
    for t in DRIVER_TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(f"{prefix}{t}")
    register_functions(spark)


def register_functions(spark: SparkSession) -> None:
    from gipspark.functions.cells import CELL_LEVEL, TILE_SQL
    from gipspark.geo import h3x, s2
    from gipspark.geo.haversine import HAVERSINE_SQL

    @pandas_udf(LongType())
    def gp_s2_cell12(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            s2.latlng_to_cell(lat.to_numpy(float), lon.to_numpy(float), CELL_LEVEL)
        )

    @pandas_udf(LongType())
    def gp_h3_cell7(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(h3x.latlng_to_cell(lat.to_numpy(float), lon.to_numpy(float), 7))

    spark.udf.register("gp_s2_cell12", gp_s2_cell12)
    spark.udf.register("gp_h3_cell7", gp_h3_cell7)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gp_tile(lat DOUBLE, lon DOUBLE) "
        "RETURNS STRING RETURN " + TILE_SQL.format(lat="lat", lon="lon")
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION gp_haversine_m("
        "lat1 DOUBLE, lon1 DOUBLE, lat2 DOUBLE, lon2 DOUBLE) "
        "RETURNS DOUBLE RETURN "
        + HAVERSINE_SQL.format(lat1="lat1", lon1="lon1", lat2="lat2", lon2="lon2")
    )

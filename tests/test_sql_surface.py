"""SQL surface: the engine drivable from spark.sql alone, with results
matching the Python/DataFrame API (same kernels, same values)."""

from pyspark.sql import functions as F

from gipspark.functions.cells import (
    LAT_MOD,
    LAT_MUL,
    LON_MOD,
    LON_MUL,
    derived_lat,
    derived_lon,
    tile_of,
    with_s2_cell,
)
from gipspark.sql import attach

LAT_SQL = f"cast((cast(c_custkey as bigint) * {LAT_MUL}) % {LAT_MOD} as double) / 1000.0 - 60.0"
LON_SQL = f"cast((cast(c_custkey as bigint) * {LON_MUL}) % {LON_MOD} as double) / 1000.0 - 180.0"


def test_sql_tile_rollup_matches_dataframe_api(spark, sf_dir):
    attach(spark, sf_dir)
    got = {
        (r.tile_id, r.n)
        for r in spark.sql(
            f"""
            WITH pts AS (SELECT c_custkey, {LAT_SQL} AS lat, {LON_SQL} AS lon FROM customer)
            SELECT gp_tile(lat, lon) AS tile_id, count(*) AS n
            FROM pts GROUP BY tile_id
            """
        ).collect()
    }
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    want = {
        (r.tile_id, r.n)
        for r in cust.select(
            tile_of(derived_lat(F.col("c_custkey")), derived_lon(F.col("c_custkey"))).alias(
                "tile_id"
            )
        )
        .groupBy("tile_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_sql_s2_encode_matches_column_kernel(spark, sf_dir):
    attach(spark, sf_dir)
    got = {
        (r.c_custkey, r.cell)
        for r in spark.sql(
            f"""
            SELECT c_custkey, gp_s2_cell12({LAT_SQL}, {LON_SQL}) AS cell
            FROM customer WHERE c_custkey <= 200
            """
        ).collect()
    }
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(F.col("c_custkey") <= 200)
    want = {
        (r.c_custkey, r.cell)
        for r in with_s2_cell(
            cust, derived_lat(F.col("c_custkey")), derived_lon(F.col("c_custkey")), 12, "cell"
        )
        .select("c_custkey", "cell")
        .collect()
    }
    assert got == want and len(got) >= 100


def test_sql_haversine_function(spark, sf_dir):
    attach(spark, sf_dir)
    d = spark.sql("SELECT gp_haversine_m(0.0, 0.0, 0.0, 1.0) AS m").first().m
    assert abs(d - 111_195) < 200  # one degree of longitude at the equator

"""Driver-facing query registry: every operator as (Spark fn, DuckDB oracle).

The driver harness (__spark_entry__.py) runs ``queries()[name](spark,
sf_dir)`` and DuckDB on ``oracle_sql()[name]`` over the same parquet
views and compares row count + schema + order-insensitive value hash.
Rules that keep the comparison bit-exact (SURVEY.md §5.2):

- identical column *names* both sides (driver sorts columns by name);
- doubles only from exact IEEE ops (int arithmetic, +,-,*,/ in the
  same textual order) — trig-derived values are rounded to coarse
  ticks (whole meters) so libm ulp differences can't flip a hash;
- money sums go through decimal(18,2) then cast to double (exact in
  both engines, avoids parallel-sum reorder drift and DuckDB's
  hugeint/decimal-widening schema mismatches);
- counts stay bigint (DuckDB count(*) is already BIGINT; int sums are
  cast); ranks cast to int to match Spark's row_number;
- timestamps leave as DATE or bigint epoch (naive-vs-UTC arrow
  mismatch avoidance).

Geospatial queries derive (lat, lon) deterministically from integer
keys (gipspark.functions.cells.derived_*) because the oracle sees only
the ten driver tables; the polygon set for PIP/zonal oracles is the
frozen ORACLE_POLYGONS below, whose edges are inlined into the SQL as
VALUES rows with the ray-cast crossing rule written textually identical
to the NumPy kernel (gipspark.geo.pip.points_in_polygon).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gipspark.functions import cells as C
from gipspark.functions import text as T
from gipspark.functions.geohash import geohash_col, geohash_sql
from gipspark.functions.vectors import cosine_sim
from gipspark.geo.haversine import HAVERSINE_SQL
from gipspark.operators import dedup as D
from gipspark.operators.asof import asof_join, range_join
from gipspark.operators.colocation import colocation_sql
from gipspark.operators.knn import knn_join, within_join
from gipspark.operators.pip import pip_join
from gipspark.operators.similarity import cosine_topk, lsh_cosine_topk
from gipspark.operators.skew import salted_hybrid_join
from gipspark.sources.tables import load, table_rows

# ---------------------------------------------------------------------------
# frozen oracle polygon set (vertices rounded to 6dp, embedded in SQL)
# ---------------------------------------------------------------------------


def _ngon(cx: float, cy: float, r: float, n: int, star: bool = False) -> list[list[float]]:
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n + 0.0991
        rr = r * (0.45 if (star and i % 2) else 1.0)
        pts.append([round(cx + rr * math.cos(a), 6), round(cy + rr * 0.8 * math.sin(a), 6)])
    pts.append(pts[0])
    return pts


ORACLE_POLYGONS: list[dict] = [
    {"poly_id": 0, "rings": [_ngon(20.0007, 10.0003, 15.0, 8)]},
    {"poly_id": 1, "rings": [_ngon(-60.0013, -40.0011, 18.0, 6)]},
    {"poly_id": 2, "rings": [_ngon(100.0003, 30.0007, 24.0, 10, star=True)]},
    # polygon with hole: outer ring + reversed inner ring (even-odd rule)
    {"poly_id": 3, "rings": [_ngon(150.0009, -20.0003, 20.0, 8), _ngon(150.0009, -20.0003, 8.0, 8)[::-1]]},
    {"poly_id": 4, "rings": [_ngon(-120.0007, 50.0001, 10.0, 8)]},
]


def _poly_edges_values_sql(polys: list[dict]) -> str:
    """Polygon edges (operators.distance's one edge list) as a VALUES
    table (poly_id, x1, y1, x2, y2)."""
    from gipspark.operators.distance import _polygon_edges

    rows = [
        f"({pid},{x1!r},{y1!r},{x2!r},{y2!r})"
        for pid, _, x1, y1, x2, y2 in _polygon_edges(polys)
    ]
    return "(VALUES " + ",".join(rows) + ") AS e(poly_id, x1, y1, x2, y2)"


def _edges_values_sql() -> str:
    return _poly_edges_values_sql(ORACLE_POLYGONS)


# Even-odd ray cast in SQL — textually the same crossing rule as
# gipspark.geo.pip.points_in_polygon (exact IEEE ops only).
def _pip_matches_sql(pts_cte: str, id_col: str) -> str:
    return f"""
  SELECT p.{id_col}, e.poly_id
  FROM {pts_cte} p CROSS JOIN {_edges_values_sql()}
  WHERE ((e.y1 > p.lat) != (e.y2 > p.lat))
    AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
  GROUP BY p.{id_col}, e.poly_id
  HAVING count(*) % 2 = 1
"""


_LAT = C.DERIVED_LAT_SQL
_LON = C.DERIVED_LON_SQL


def _cust_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )


# ---------------------------------------------------------------------------
# the registry: name -> (spark_fn, oracle_sql | None)
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        # A duplicate registration silently shadows the earlier one and
        # turns a whole implementation into dead code (it happened twice
        # in round 4, ADVICE r4 #3) — fail loudly instead.
        if name in REGISTRY:
            raise ValueError(f"duplicate registry query name: {name!r}")
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


DEC = "decimal(18,2)"

# --- relational surface (TPC-H-ish) ----------------------------------------



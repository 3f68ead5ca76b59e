"""Trajectory × boundary segment-intersection join (ST_Intersects on
linestrings, specialised to "which fence edges does each movement step
cross").

geofence_transitions (queries.py) detects state flips from PIP
inside-series; this operator finds the exact CROSSING events — the
(step, edge) pairs whose segments properly intersect — which also
catches pass-throughs that enter and leave a fence between two fixes
of a sparse trajectory... for the edge actually pierced.

Plan shape: steps come from one lag-window over the trajectory (the
only shuffle, on the entity key); the fence layer is a broadcast-size
dimension riding in as ONE literal edge array — operators.distance's
edge list (open rings closed), so edge_idx is the one snap_to_edge and
the oracle's VALUES table use. Each step explodes
against the edge array — a narrow generate, no join — then two exact
filters:

1. bbox reject: step envelope vs edge envelope (cheap, kills ~all
   pairs before the cross products);
2. proper-intersection test: both endpoints of each segment strictly
   on opposite sides of the other (four cross products, sign check
   via d1·d2 < 0 ∧ d3·d4 < 0).

All arithmetic is +,-,* on doubles in a fixed textual order —
IEEE-identical in the DuckDB oracle, so the match set is bit-exact.
Collinear/touching contacts are deliberately excluded (strict <):
"proper crossing" semantics, same convention both sides. For fence
layers too big to broadcast, the same refine runs after the
tile-cover equi-join prefilter of operators/bbox.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gipspark.operators.distance import _edge_array, _polygon_edges


def _cross(ox: Column, oy: Column, ax: Column, ay: Column, bx: Column, by: Column) -> Column:
    """2-D cross product (a - o) × (b - o)."""
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def segment_crossings(
    fixes: DataFrame,
    polygons: list[dict],
    *,
    id_col: str = "user_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    order_cols: tuple[str, str] = ("ts", "event_id"),
) -> DataFrame:
    """(id, poly_id, edge_idx, seg_order...) rows, one per proper
    step-edge intersection. Callers aggregate as needed."""
    w = Window.partitionBy(id_col).orderBy(*order_cols)
    steps = fixes.select(
        id_col,
        *order_cols,
        F.lag(lon_col).over(w).alias("px"),
        F.lag(lat_col).over(w).alias("py"),
        F.col(lon_col).alias("qx"),
        F.col(lat_col).alias("qy"),
    ).filter(F.col("px").isNotNull())

    edges = _edge_array(_polygon_edges(polygons))
    e = F.col("e")
    px, py, qx, qy = F.col("px"), F.col("py"), F.col("qx"), F.col("qy")
    bbox_ok = (
        (F.least(px, qx) <= F.greatest(e.x1, e.x2))
        & (F.greatest(px, qx) >= F.least(e.x1, e.x2))
        & (F.least(py, qy) <= F.greatest(e.y1, e.y2))
        & (F.greatest(py, qy) >= F.least(e.y1, e.y2))
    )
    d1 = _cross(e.x1, e.y1, e.x2, e.y2, px, py)
    d2 = _cross(e.x1, e.y1, e.x2, e.y2, qx, qy)
    d3 = _cross(px, py, qx, qy, e.x1, e.y1)
    d4 = _cross(px, py, qx, qy, e.x2, e.y2)
    proper = (d1 * d2 < F.lit(0.0)) & (d3 * d4 < F.lit(0.0))
    return (
        steps.select(id_col, *order_cols, "px", "py", "qx", "qy", F.explode(edges).alias("e"))
        .filter(bbox_ok & proper)
        .select(id_col, *order_cols, e.poly_id.alias("poly_id"), e.edge_idx.alias("edge_idx"))
    )


def crossings_sql(steps_cte: str, edges_values: str, id_col: str = "user_id") -> str:
    """DuckDB oracle body: proper-intersection pairs from a steps CTE
    exposing ({id_col}, px, py, qx, qy) and an edge VALUES table
    e(poly_id, edge_idx, x1, y1, x2, y2) — textually the same tests."""
    return f"""
  SELECT s.{id_col}, e.poly_id, e.edge_idx
  FROM {steps_cte} s CROSS JOIN {edges_values}
  WHERE least(s.px, s.qx) <= greatest(e.x1, e.x2)
    AND greatest(s.px, s.qx) >= least(e.x1, e.x2)
    AND least(s.py, s.qy) <= greatest(e.y1, e.y2)
    AND greatest(s.py, s.qy) >= least(e.y1, e.y2)
    AND ((e.x2 - e.x1) * (s.py - e.y1) - (e.y2 - e.y1) * (s.px - e.x1))
      * ((e.x2 - e.x1) * (s.qy - e.y1) - (e.y2 - e.y1) * (s.qx - e.x1)) < 0.0
    AND ((s.qx - s.px) * (e.y1 - s.py) - (s.qy - s.py) * (e.x1 - s.px))
      * ((s.qx - s.px) * (e.y2 - s.py) - (s.qy - s.py) * (e.x2 - s.px)) < 0.0
"""

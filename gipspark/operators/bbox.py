"""Bounding-box containment join (ST_Within on envelopes).

A naive point-in-box join is a non-equi θ-join, which Spark plans as
BroadcastNestedLoop — per-row evaluation of every box against every
point. This operator converts it to an equi join: each box's 5°
graticule tile cover (driver-side, boxes are dim-sized) broadcasts,
points carry their tile id (pure codegen arithmetic inside the scan
stage, functions/cells.tile_of), candidates equi-join on tile, and the
exact 4-comparison refine runs JVM-side on the candidates only. The
big side is touched once, shuffles never, and a point only meets the
boxes whose cover contains its tile — the same prefilter+refine shape
as the PIP join.

Semantics: inclusive bounds on all four edges; boxes must not cross
the antimeridian (split such boxes into two before calling — same
contract as the PIP covers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gipspark.functions.cells import TILE_DEG, tile_of
from gipspark.session import local_frame


def _tile_cover(box: dict) -> list[str]:
    ix0 = min(int((box["lon_min"] + 180.0) // TILE_DEG), 71)
    ix1 = min(int((box["lon_max"] + 180.0) // TILE_DEG), 71)
    iy0 = min(int((90.0 - box["lat_max"]) // TILE_DEG), 35)
    iy1 = min(int((90.0 - box["lat_min"]) // TILE_DEG), 35)
    return [
        f"h{ix:02d}v{iy:02d}"
        for ix in range(ix0, ix1 + 1)
        for iy in range(iy0, iy1 + 1)
    ]


def bbox_join(
    points: DataFrame,
    boxes: list[dict],
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """points ⋈ boxes → points' columns + ``box_id``.

    ``boxes``: list of {box_id, lon_min, lat_min, lon_max, lat_max}.
    """
    spark = points.sparkSession
    if len({b["box_id"] for b in boxes}) != len(boxes):
        raise ValueError("bbox_join: box_id values must be unique")
    cover = local_frame(
        spark,
        [(b["box_id"], t) for b in boxes for t in _tile_cover(b)],
        "box_id int, __tile string",
    )
    dims = local_frame(
        spark,
        [
            (b["box_id"], b["lon_min"], b["lat_min"], b["lon_max"], b["lat_max"])
            for b in boxes
        ],
        "box_id int, lon_min double, lat_min double, lon_max double, lat_max double",
    )
    pts = points.withColumn("__tile", tile_of(F.col(lat_col), F.col(lon_col)))
    cand = pts.join(F.broadcast(cover), "__tile")
    hit = cand.join(F.broadcast(dims), "box_id").filter(
        (F.col(lon_col) >= F.col("lon_min"))
        & (F.col(lon_col) <= F.col("lon_max"))
        & (F.col(lat_col) >= F.col("lat_min"))
        & (F.col(lat_col) <= F.col("lat_max"))
    )
    return hit.select(*points.columns, "box_id")

"""Raster↔vector zonal aggregation (upstream gips_stats semantics).

north_star: "raster↔vector zonal aggregation over GIPS-style fixed tile
grids" (BASELINE.json:6). The raster is a long-format table of pixel
centroids (tile_id, ix, iy, lon, lat, value); on the fixed tile grid
every pixel of a raster row shares one ``lat``.

Shape: raster intervals (*Raster Intervals*, SIGMOD 2023), exact on a
pixel grid.

1. **Row lats.** One bounded collect of the raster's distinct ``lat``
   values inside the zones' overall lat span. The fixed-grid contract
   is at most :data:`MAX_ROW_LATS` of them; past it the call raises
   ``ValueError`` rather than ship an unbounded run table.
2. **Runs** (driver, NumPy). For each polygon — all rings, so holes and
   antimeridian pieces count — and each row lat in its span, the
   crossing x of every straddling edge (gipspark.geo.pip.edge_crossings,
   the expression of operators.pip.ray_cast_inside) are sorted and
   paired into runs ``[x0, x1), [x2, x3), …`` → ``(poly_id, lat, lo,
   hi)``. A pixel at ``lon`` is inside iff an odd number of crossings
   satisfy ``lon < x`` (the ray cast's strict ``<``, ties included);
   the row's crossing count is even, so that is iff ``lon`` lies in a
   run. The matched pixels are exactly those ``pip_join`` matches.
3. **One join**: the raster broadcast-hash-joins the run table on
   ``lat`` with ``lon >= lo AND lon < hi``, then a plain hash aggregate
   per poly_id. Catalyst performs the partial/final split; no Python
   and no per-pixel ray cast run on the executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from gipspark.geo.antimeridian import normalize_antimeridian
from gipspark.geo.pip import edge_crossings
from gipspark.operators.distance import _polygon_edges

# distinct pixel-row lats one call may see inside the zones' lat span
MAX_ROW_LATS = 16_384
_CELLS_PER_PASS = 1 << 20  # (row, edge) pairs per NumPy pass

RUNS_SCHEMA = StructType(
    [
        StructField("poly_id", LongType(), False),
        StructField("__lat", DoubleType(), False),
        StructField("__lo", DoubleType(), False),
        StructField("__hi", DoubleType(), False),
    ]
)
_NO_RUNS = (np.empty(0, dtype=np.int64), np.empty(0), np.empty(0), np.empty(0))


def _runs(pid: int, edges: np.ndarray, lats: np.ndarray) -> tuple[np.ndarray, ...]:
    """(poly_id, lat, lo, hi) arrays of one polygon's non-empty x-runs on
    the sorted row ``lats``; ``edges`` is its (m, 4) x1, y1, x2, y2 array."""
    ys = edges[:, [1, 3]]
    # an edge straddles lat iff min(y1, y2) <= lat < max(y1, y2)
    a, b = np.searchsorted(lats, [ys.min(), ys.max()], side="left")
    pairs = len(edges) // 2
    step = max(1, _CELLS_PER_PASS // len(edges))
    out = []
    for i in range(a, b, step):
        rows = lats[i : min(i + step, b)]
        straddles, xcross = edge_crossings(rows, edges)
        xs = np.sort(np.where(straddles, xcross, np.inf), axis=1)
        lo, hi = xs[:, 0 : 2 * pairs : 2], xs[:, 1 : 2 * pairs : 2]
        keep = lo < hi  # drops the inf padding and empty runs
        row_lat = np.broadcast_to(rows[:, None], lo.shape)[keep]
        out.append((np.full(len(row_lat), pid, dtype=np.int64), row_lat, lo[keep], hi[keep]))
    return tuple(np.concatenate(c) for c in zip(_NO_RUNS, *out))


def zonal_stats(
    raster: DataFrame,
    polys: list[dict],
    value_col: str = "value",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-polygon stats (px_count, v_min, v_max, v_avg, v_std, v_sum) of
    the raster pixels inside each zone, by the even-odd rule of
    ``pip_join``. ``polys``: list of {poly_id, rings} dicts with unique
    poly_id. Raises ``ValueError`` when the raster has more than
    :data:`MAX_ROW_LATS` distinct lats inside the zones' lat span."""
    if len({p["poly_id"] for p in polys}) != len(polys):
        raise ValueError("zonal_stats: poly_id values must be unique")
    shapes = [
        (int(p["poly_id"]), np.array([e[2:] for e in _polygon_edges([p])]).reshape(-1, 4))
        for p in normalize_antimeridian(polys)
    ]
    shapes = [(pid, e) for pid, e in shapes if len(e)]
    lat = F.col(lat_col)
    if shapes:
        ys = np.concatenate([e[:, [1, 3]].ravel() for _, e in shapes])
        # excludes null lats, and NaN (Spark orders NaN above every double)
        in_span = (lat >= float(ys.min())) & (lat < float(ys.max()))
    else:
        in_span = F.lit(False)
    rows = raster.filter(in_span)
    found = rows.select(lat_col).distinct().limit(MAX_ROW_LATS + 1).collect()
    if len(found) > MAX_ROW_LATS:
        raise ValueError(
            f"zonal_stats: more than {MAX_ROW_LATS} distinct pixel-row lats in the "
            "zones' lat span; the raster must lie on a fixed tile grid whose "
            "pixel rows share one lat"
        )
    lats = np.sort(np.array([r[0] for r in found], dtype=np.float64))

    parts = [_runs(pid, e, lats) for pid, e in shapes]
    runs = pd.DataFrame(
        {f.name: np.concatenate(c) for f, c in zip(RUNS_SCHEMA, zip(_NO_RUNS, *parts))}
    )
    runs_df = raster.sparkSession.createDataFrame(runs, RUNS_SCHEMA)
    lon = F.col(lon_col)
    matched = rows.join(
        F.broadcast(runs_df),
        (lat == F.col("__lat")) & (lon >= F.col("__lo")) & (lon < F.col("__hi")),
    )
    v = F.col(value_col)
    return matched.groupBy("poly_id").agg(
        F.count("*").alias("px_count"),
        F.min(v).alias("v_min"),
        F.max(v).alias("v_max"),
        F.avg(v).alias("v_avg"),
        F.stddev_samp(v).alias("v_std"),
        F.sum(v).alias("v_sum"),
    )

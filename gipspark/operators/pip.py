"""Point-in-polygon join — cell-prefilter then exact ray-cast refine.

The north_star's signature operator (BASELINE.json:6: "point-in-polygon
joins (cell-prefilter then exact ray-casting refine against
Shapely-prepared polygon partitions)"). Spark-first shape:

1. **Prefilter** (JVM, no Python): polygons' S2 level-``level`` cell
   covers are computed driver-side (polygon sets are small dims) and
   exploded into a ``(cell, poly_id)`` table that is *broadcast* — the
   big point side equi-joins on its already-computed cell id, so the
   10^12-row scan never shuffles for this join and Catalyst pushes the
   cell computation/pruning into the scan stage.
2. **Refine** (JVM, no Python): candidate (point, poly) pairs run the
   exact even-odd ray cast of gipspark.geo.pip as a whole-stage-codegen
   ``aggregate`` fold (:func:`ray_cast_inside`) over the polygon's edge
   array, which rides in a broadcast (poly_id → edges) dim — the same
   role as the reference's Shapely *prepared* polygons (preprocessed
   once, reused per row).

Scale notes: the broadcast cover is |polys|·|cover| rows (thousands) —
tiny; refine cost is proportional to candidates only, and candidates
are bounded by cover cell area / point density, not |points|×|polys|.
Skew (a megacity cell matching many polygons) is handled upstream by
the salted hybrid join (gipspark.operators.skew) when needed.
"""

from __future__ import annotations

import hashlib
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from gipspark.functions.cells import s2_cell, s2_parent
from gipspark.geo import pip as pipgeo

COVER_SCHEMA = StructType(
    [StructField("__cell", LongType(), False), StructField("poly_id", LongType(), False)]
)
EDGES_T = "array<struct<x1:double,y1:double,x2:double,y2:double>>"

# LRU of driver-side covers keyed on (ring-bytes digest, level). Sized
# above the largest zone pool a session reuses (perfbench zone_queries:
# 1,500 pip zones + 100 zonal zones) so repeated zone sets always hit.
_COVER_CACHE_MAX = 4096
_COVER_CACHE: OrderedDict[tuple[bytes, int], np.ndarray] = OrderedDict()


COVER_LEVELS = (6, 9, 12)  # quantized cover levels — bounds the probe
# amplification of the single prefilter join to |COVER_LEVELS| rows/point


def choose_cover_level(rings: list[np.ndarray]) -> int:
    """Adaptive cover level: cell width ≈ polygon diameter / 8, snapped
    to COVER_LEVELS, so every polygon costs O(tens–hundreds) of cover
    cells whether it spans 5 km or 5000 km (a fixed fine level would
    need millions of cells for continental polygons)."""
    min_lon, min_lat, max_lon, max_lat = pipgeo.polygon_bbox(rings)
    diam = max(max_lon - min_lon, max_lat - min_lat, 1e-3)
    raw = np.log2(90.0 * 8.0 / diam)
    return min(COVER_LEVELS, key=lambda lv: abs(lv - raw))


def _rings_digest(rings: list[np.ndarray]) -> bytes:
    """Digest of every vertex of every ring; ring lengths are hashed too,
    so the same vertices split into rings differently do not collide."""
    h = hashlib.blake2b(digest_size=16)
    for r in rings:
        h.update(len(r).to_bytes(8, "little"))
        h.update(r.tobytes())
    return h.digest()


def polygon_covers(polys: list[dict], level: int) -> pd.DataFrame:
    """Driver-side (cell, poly_id) cover table at ``level`` (cached —
    bench/pipeline reruns must not pay the sampling twice)."""
    rows_cell, rows_pid = [], []
    for p in polys:
        rings = [np.ascontiguousarray(r, dtype=np.float64) for r in p["rings"]]
        key = (_rings_digest(rings), level)
        cells = _COVER_CACHE.get(key)
        if cells is None:
            cells = pipgeo.polygon_cover(rings, level=level)
            _COVER_CACHE[key] = cells
            if len(_COVER_CACHE) > _COVER_CACHE_MAX:
                _COVER_CACHE.popitem(last=False)
        else:
            _COVER_CACHE.move_to_end(key)
        rows_cell.append(cells)
        rows_pid.append(np.full(len(cells), p["poly_id"], dtype=np.int64))
    return pd.DataFrame(
        {"__cell": np.concatenate(rows_cell), "poly_id": np.concatenate(rows_pid)}
    )


def edge_rows(rings: list) -> list[tuple[float, float, float, float]]:
    """A polygon's (x1, y1, x2, y2) edges as plain tuples — one
    :data:`EDGES_T` array value for ``createDataFrame``."""
    edges = pipgeo.rings_to_edges([np.asarray(r, dtype=np.float64) for r in rings])
    return [(float(x1), float(y1), float(x2), float(y2)) for x1, y1, x2, y2 in edges]


def ray_cast_inside(x: Column, y: Column, edges: Column) -> Column:
    """Even-odd inside test of point (x, y) against an :data:`EDGES_T`
    array — the JVM twin of :func:`gipspark.geo.pip.points_in_polygon`
    and of the DuckDB oracle's rule, textually: straddle test first, so
    the xcross division only matters when y2 != y1. Spark's non-ANSI
    Divide returns NULL on a zero divisor (not IEEE inf/nan), and
    three-valued AND short-circuits `false AND NULL` to false — the
    straddle gate is false exactly when y1 == y2, so the NULL never
    escapes. NB: under spark.sql.ansi.enabled=true the division would
    raise instead; gate horizontal edges explicitly before enabling ANSI
    mode."""
    crossings = F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            ((e.y1 > y) != (e.y2 > y))
            & (x < (e.x2 - e.x1) * (y - e.y1) / (e.y2 - e.y1) + e.x1),
            1,
        ).otherwise(0),
    )
    return crossings % 2 == 1


def pip_join(
    points: DataFrame,
    polys: list[dict],
    lat_col: str = "lat",
    lon_col: str = "lon",
    level: int | None = None,
    cell_col: str | None = None,
    cell_level: int = 12,
    keep_all_points: bool = False,
) -> DataFrame:
    """points ⋈ polygons → points' columns + ``poly_id``.

    ``polys``: list of {poly_id, rings} dicts (rings = [[lon,lat]...]).
    ``level``: force one cover level; default picks one per polygon
    (choose_cover_level) and unions per-level prefilter joins — one
    shuffle-free broadcast join per distinct level (≤3 in practice).
    ``cell_col``/``cell_level``: reuse an existing S2 cell column for
    the group at that level (encode-once pipelines).
    ``keep_all_points``: left join semantics (unmatched → poly_id null).

    Candidates are refined by :func:`ray_cast_inside` against a
    broadcast (poly_id → edges) dim, so the join adds no Python stage.

    Polygons crossing the ±180° meridian are split into in-strip
    pieces first (geo/antimeridian.py; a no-op when nothing wraps) —
    the planar ray cast would otherwise test the polygon's complement.
    """
    from gipspark.geo.antimeridian import normalize_antimeridian

    spark = points.sparkSession
    if len({p["poly_id"] for p in polys}) != len(polys):
        raise ValueError("pip_join: poly_id values must be unique")
    polys = normalize_antimeridian(polys)

    # group polygons by cover level
    groups: dict[int, list[dict]] = {}
    for p in polys:
        lvl = level if level is not None else choose_cover_level(
            [np.asarray(r, dtype=np.float64) for r in p["rings"]]
        )
        groups.setdefault(lvl, []).append(p)

    # ONE pandas-UDF encode at the finest needed level; each point then
    # explodes into its parent cell at every active cover level
    # (s2_parent, pure JVM bitwise arithmetic) and ONE broadcast
    # equi-join probes the combined multi-level cover (cell ids
    # self-describe their level, so there are no cross-level
    # collisions). Single branch, single Python pass, |levels|× probe
    # amplification, no shuffle.
    finest = max(groups)
    pts = points
    if cell_col is not None and cell_level >= finest:
        base, base_lvl = cell_col, cell_level
    else:
        base, base_lvl = "__cellbase", finest
        pts = pts.withColumn(base, s2_cell(F.col(lat_col), F.col(lon_col), finest))

    def parent_expr(lvl: int):
        return F.col(base) if lvl == base_lvl else s2_parent(F.col(base), lvl)

    cover_pd = pd.concat(
        [polygon_covers(ps, lvl) for lvl, ps in sorted(groups.items())], ignore_index=True
    )
    cover = spark.createDataFrame(cover_pd, COVER_SCHEMA)
    probe = pts.withColumn(
        "__pcell", F.explode(F.array(*[parent_expr(lvl) for lvl in sorted(groups)]))
    )
    cand = probe.join(
        F.broadcast(cover.withColumnRenamed("__cell", "__pcell")), on="__pcell", how="inner"
    ).select(*points.columns, "poly_id")

    edges_df = spark.createDataFrame(
        [(int(p["poly_id"]), edge_rows(p["rings"])) for p in polys],
        f"poly_id long, __edges {EDGES_T}",
    )
    matched = (
        cand.join(F.broadcast(edges_df), "poly_id")
        .filter(ray_cast_inside(F.col(lon_col), F.col(lat_col), F.col("__edges")))
        .select(*points.columns, "poly_id")
    )
    if not keep_all_points:
        return matched
    return points.join(
        matched.select(*points.columns, "poly_id"), on=points.columns, how="left"
    )

"""Nearest-polygon-boundary distance (the "distance to coastline" op),
and the one owner of a polygon set's edges.

For every point, the minimum point-to-segment distance over a polygon
set's edges, plus WHICH polygon owns the nearest edge. The reference
family of engines expose this as ST_Distance against a boundary layer;
here the polygon dim is small (country/admin/coastline layers are
thousands of shapes, not billions), so the edges ride into the plan as
literals and the per-point minimization is ONE ``least()`` over the
unrolled per-edge candidate structs — a completely NARROW op: no join,
no shuffle, scales linearly with the point table and is embedded in
the same whole-stage-codegen span as the scan.

Why unrolled ``least`` and not an ``F.aggregate`` fold: higher-order
functions are CodegenFallback in Spark — the lambda re-evaluates
interpretively per array element, measured ~260 µs/row over 42 edges
at sf0.1 vs ~15 µs/row for the codegen'd least-tree (BENCH.md round 2).
Same story for explode + min(struct): as fast per-row but pays a
map-side-combined shuffle of |points| rows that the narrow form never
does. The unroll caps the edge count (codegen size grows linearly,
~64 KB method limits bite near a few hundred edges).

Two entry points, one per output: :func:`nearest_edge` (nearest poly
and distance) and :func:`snap_to_edge` (plus the winning edge and the
snapped coordinate). Each takes the least-tree up to UNROLL_CAP edges
and the grid-indexed path at the bottom of this file past it, which
handles any layer size with the SAME bit-exact result
(tests/test_distance_grid.py). The grid path needs ``key_col``, unique
per point row; a streaming frame against a dim-sized layer stays on the
narrow least-tree.

The edges of a polygon set are enumerated once, by
:func:`_polygon_edges`: (poly_id, edge_idx, x1, y1, x2, y2) in ring
order, an open ring closed by repeating its first vertex. pip_join,
overlay, crossing, viterbi, geofence and the oracle VALUES builders all
read that list; :func:`_edge_array` turns it into the one literal array
the narrow folds use.

Exactness/portability: squared planar distance in degree² is computed
with the textbook clamp-projection formula in a fixed textual operation
order (IEEE-identical in DuckDB), then quantized to integer 1e-6 ticks
BEFORE the min/argmin, so the comparison both engines make is on exact
integers — ulp drift can't flip the winner. Ties break lexicographically
on the candidate struct (ticks, poly_id[, edge_idx]) — ``least()`` on
structs IS that ordering. For metric output, callers convert ticks →
degrees → meters downstream; ordering is invariant.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Past this many edges the unrolled least-tree stops being the right
# plan (expression-tree build time and codegen method limits — BENCH.md
# finding 11); nearest_edge/snap_to_edge switch to the grid-indexed path.
UNROLL_CAP = 256

_Edge = tuple[int, int, float, float, float, float]


def _polygon_edges(polygons: list[dict]) -> list[_Edge]:
    """(poly_id, edge_idx, x1, y1, x2, y2) for every edge of every ring,
    in ring order; edge_idx counts across the whole set. A ring whose
    last vertex differs from its first is closed."""
    edges: list[_Edge] = []
    for p in polygons:
        pid = int(p["poly_id"])
        for ring in p["rings"]:
            pts = [(float(x), float(y)) for x, y in ring]
            if pts and pts[0] != pts[-1]:
                pts.append(pts[0])
            for (x1, y1), (x2, y2) in zip(pts[:-1], pts[1:]):
                edges.append((pid, len(edges), x1, y1, x2, y2))
    return edges


def _edge_array(edges: list[_Edge]) -> Column:
    """The edges as ONE literal array<struct<poly_id, edge_idx, x1, y1,
    x2, y2>> — Catalyst folds it to a constant."""
    return F.array(
        *[
            F.struct(
                F.lit(pid).alias("poly_id"),
                F.lit(i).alias("edge_idx"),
                F.lit(x1).alias("x1"),
                F.lit(y1).alias("y1"),
                F.lit(x2).alias("x2"),
                F.lit(y2).alias("y2"),
            )
            for pid, i, x1, y1, x2, y2 in edges
        ]
    )


def _edge_ticks(
    px: Column, py: Column, x1: Column, y1: Column, x2: Column, y2: Column
) -> tuple[Column, Column, Column]:
    """(ticks, cx, cy): point (px, py) against edge (x1, y1)–(x2, y2).

    t = clamp(((p-a)·(b-a)) / |b-a|², 0, 1); c = a + t(b-a);
    ticks = round(|p - c|²·10⁶) as BIGINT (round half up). Ring edges
    are never degenerate (consecutive ring vertices are distinct by
    construction), so the division is safe. With literal edges the
    edge-constant subexpressions (x2-x1 etc.) constant-fold identically
    in Catalyst and DuckDB — both are exact IEEE doubles.
    """
    dx = x2 - x1
    dy = y2 - y1
    l2 = dx * dx + dy * dy
    t = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), ((px - x1) * dx + (py - y1) * dy) / l2)
    )
    cx = x1 + t * dx
    cy = y1 + t * dy
    d2 = (px - cx) * (px - cx) + (py - cy) * (py - cy)
    return F.round(d2 * F.lit(1000000.0), 0).cast("long"), cx, cy


def _lit_ticks(px: Column, py: Column, x1: float, y1: float, x2: float, y2: float) -> Column:
    """Tick distance to one literal edge."""
    return _edge_ticks(px, py, F.lit(x1), F.lit(y1), F.lit(x2), F.lit(y2))[0]


def _least_tree(px: Column, py: Column, edges: list[_Edge], with_edge: bool) -> Column:
    """least() over (ticks, poly[, edge]) candidate structs, one per edge."""
    cands = []
    for pid, i, x1, y1, x2, y2 in edges:
        fields = [
            _lit_ticks(px, py, x1, y1, x2, y2).alias("ticks"),
            F.lit(pid).cast("long").alias("poly"),
        ]
        if with_edge:
            fields.append(F.lit(i).alias("edge"))
        cands.append(F.struct(*fields))
    return F.least(*cands)


def nearest_edge(
    points: DataFrame,
    polygons: list[dict],
    key_col: str | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """points + (nearest_poly, d2_ticks): argmin over all boundary edges.

    d2_ticks = round(d²·10⁶) as BIGINT (d in planar degrees).
    ``least`` over (ticks, poly) structs — deterministic argmin
    regardless of edge order, entirely inside whole-stage codegen.
    Past UNROLL_CAP edges the grid path gives the same rows; it needs
    ``key_col``.
    """
    edges = _polygon_edges(polygons)
    if len(edges) > UNROLL_CAP:
        return _edge_grid(points, edges, key_col, lat_col, lon_col).select(
            *points.columns, "nearest_poly", "d2_ticks"
        )
    best = _least_tree(F.col(lon_col), F.col(lat_col), edges, with_edge=False)
    with_best = points.withColumn("_best", best)
    return (
        with_best.withColumn("nearest_poly", F.col("_best.poly"))
        .withColumn("d2_ticks", F.col("_best.ticks"))
        .drop("_best")
    )


def _proj_sql(lat: str, lon: str) -> tuple[str, str]:
    """(t, d²) SQL text over an edges row (x1, y1, x2, y2) and the
    projected point (cx, cy) — the textual twin of :func:`_edge_ticks`."""
    t = (
        f"greatest(0.0, least(1.0, "
        f"(({lon} - x1) * (x2 - x1) + ({lat} - y1) * (y2 - y1)) / "
        f"((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))))"
    )
    d2 = f"(({lon} - cx) * ({lon} - cx) + ({lat} - cy) * ({lat} - cy))"
    return t, d2


def nearest_edge_sql(
    pts_cte: str,
    key: str,
    polygons: list[dict],
    lat: str = "lat",
    lon: str = "lon",
    wrap_cte: str | None = None,
) -> str:
    """DuckDB replay: edges as VALUES, the SAME textual d² expression
    quantized to the same ticks, argmin via (ticks, poly_id) ordering.
    The oracle may cross-join (it is not the scale path). With
    ``wrap_cte`` the final select becomes one more CTE of that name so
    callers can keep composing (map-matching smoothing)."""
    vals = ", ".join(
        f"({pid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for pid, _, x1, y1, x2, y2 in _polygon_edges(polygons)
    )
    t, d2 = _proj_sql(lat, lon)
    body = f"""
edges(poly_id, x1, y1, x2, y2) AS (VALUES {vals}),
proj AS (
  SELECT p.{key}, e.poly_id,
         {lat}, {lon},
         x1 + {t} * (x2 - x1) AS cx,
         y1 + {t} * (y2 - y1) AS cy
  FROM {pts_cte} p CROSS JOIN edges e
),
dists AS (
  SELECT {key}, poly_id,
         cast(round({d2} * 1000000.0, 0) as bigint) AS ticks
  FROM proj
),
ranked AS (
  SELECT {key}, poly_id, ticks,
         row_number() OVER (PARTITION BY {key} ORDER BY ticks, poly_id) AS rn
  FROM dists
)"""
    sel = (
        f"SELECT {key}, cast(poly_id as bigint) AS nearest_poly, ticks AS d2_ticks\n"
        "FROM ranked WHERE rn = 1"
    )
    if wrap_cte is not None:
        return f"{body},\n{wrap_cte} AS (\n{sel})"
    return f"{body}\n{sel}\n"


def snap_to_edge(
    points: DataFrame,
    polygons: list[dict],
    key_col: str | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """ST_ClosestPoint: points + (nearest_poly, edge_idx, d2_ticks,
    snap_lon, snap_lat) — the map-matching primitive ("snap this fix
    to the nearest boundary/road segment").

    Same narrow least-tree as :func:`nearest_edge`, with the argmin
    carrying the winning EDGE index (ties: smaller ticks, then poly_id,
    then edge_idx); the snapped coordinate is then the clamp projection
    onto that one edge, recomputed from the literal edge array via
    element_at — still zero joins, zero shuffles, all codegen.
    Projection arithmetic is +,-,*,/ and min/max only, in the same
    textual order as the SQL oracle; note the oracle's doubles can
    differ by 1 ulp (DuckDB fuses multiply-adds), so callers that hash
    results quantize the snapped coords to 1e-6 ticks. Past UNROLL_CAP
    edges the grid path gives the same rows; it needs ``key_col``.
    """
    edges = _polygon_edges(polygons)
    if len(edges) > UNROLL_CAP:
        return _edge_grid(points, edges, key_col, lat_col, lon_col)
    px, py = F.col(lon_col), F.col(lat_col)
    best = _least_tree(px, py, edges, with_edge=True)
    with_best = points.withColumn("_best", best).withColumn(
        "_e", F.element_at(_edge_array(edges), F.col("_best.edge") + F.lit(1))
    )
    e = F.col("_e")
    _, cx, cy = _edge_ticks(px, py, e.x1, e.y1, e.x2, e.y2)
    return with_best.select(
        *points.columns,
        F.col("_best.poly").alias("nearest_poly"),
        F.col("_best.edge").cast("long").alias("edge_idx"),
        F.col("_best.ticks").alias("d2_ticks"),
        cx.alias("snap_lon"),
        cy.alias("snap_lat"),
    )


def snap_to_edge_sql(
    pts_cte: str, key: str, polygons: list[dict], lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB replay of :func:`snap_to_edge`: same edges VALUES, same
    tick quantization, argmin by (ticks, poly_id, edge_idx), then the
    SAME textual projection on the winning edge."""
    vals = ", ".join(
        f"({pid}, {i}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for pid, i, x1, y1, x2, y2 in _polygon_edges(polygons)
    )
    t, d2 = _proj_sql(lat, lon)
    return f"""
edges(poly_id, edge_idx, x1, y1, x2, y2) AS (VALUES {vals}),
proj AS (
  SELECT p.{key}, e.poly_id, e.edge_idx, {lat}, {lon},
         x1 + {t} * (x2 - x1) AS cx,
         y1 + {t} * (y2 - y1) AS cy
  FROM {pts_cte} p CROSS JOIN edges e
),
dists AS (
  SELECT {key}, poly_id, edge_idx, cx, cy,
         cast(round({d2} * 1000000.0, 0) as bigint) AS ticks
  FROM proj
),
ranked AS (
  SELECT {key}, poly_id, edge_idx, cx, cy, ticks,
         row_number() OVER (PARTITION BY {key} ORDER BY ticks, poly_id, edge_idx) AS rn
  FROM dists
)
SELECT {key}, cast(poly_id as bigint) AS nearest_poly,
       cast(edge_idx as bigint) AS edge_idx, ticks AS d2_ticks,
       cast(round(cx * 1000000.0, 0) as bigint) AS snap_lon_ticks,
       cast(round(cy * 1000000.0, 0) as bigint) AS snap_lat_ticks
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Grid-indexed path: nearest edge over layers too large to unroll
# ---------------------------------------------------------------------------
#
# The least-tree above is the right plan for dim-sized layers (≤ a few
# hundred edges); a real coastline/road layer is 10⁴–10⁶ edges and the
# literal expression tree stops being buildable long before codegen
# limits bite (VERDICT r3 "what's wrong" #1). The scale path below is
# the same prefilter+refine shape as the PIP join, generalized from the
# fixed 5° graticule of operators/bbox.py to an ADAPTIVE grid with a
# nearest-neighbour guarantee:
#
#  level ℓ = 0, 1, 2, …: cell size g_ℓ = g₀·2^ℓ. Each edge is indexed
#  under every level-ℓ cell its bbox INFLATED BY g_ℓ covers (driver-side
#  over the edge dim, Arrow-shipped; broadcast when small, shuffle join
#  otherwise). A point meets exactly the edges indexed under its cell.
#  Guarantee: an edge NOT indexed under the point's cell has
#  d(point, edge) > g_ℓ — the inflated-cover test is a proof of
#  distance, so once a point's best candidate satisfies
#  ticks < T_ℓ = int(g_ℓ²·10⁶) − 1 (one-tick safety margin for the
#  round-half-up quantization), NO unseen edge can beat OR TIE it and
#  the point settles with the exact argmin. Unsettled points (far from
#  every edge) continue to the next, coarser level; the index size per
#  level is O(edges) (coarser cells ⇒ fewer cover cells), and
#  g_ℓ ≥ 540° indexes every edge under every cell, so the last level
#  settles unconditionally after ~log₂(540/g₀) levels.
#
# Per level the plan is: narrow cell-id compute → equi join against the
# edge index → ONE map-side-combinable min(struct) aggregate keyed by
# the point id (the point's payload rides inside the struct, so there
# is no join-back). The arithmetic per candidate is the same
# _edge_ticks expression as the least-tree, over edge columns from the
# index instead of literals, so the two paths are bit-identical —
# tests/test_distance_grid.py asserts it.
#
# Requirements: ``key_col`` must be unique per point row, and point
# payload columns must be orderable types (no maps) — they ride in a
# trailing struct field that is only ever compared on full candidate
# ties, which cannot occur across distinct candidates.

_SENTINEL_TICKS = 1 << 62
# level-0 index size target (rows per edge; 9 is the floor, see
# _pick_cell_size) and the index size past which it is shuffle-joined
_INDEX_ROWS_PER_EDGE = 16
_BROADCAST_INDEX_MAX = 2_000_000


def _pick_cell_size(x1, y1, x2, y2, budget_rows: int) -> float:
    """Smallest power-of-two multiple of the density-matched pitch whose
    level-0 index fits ``budget_rows`` — deterministic, data-driven."""
    import numpy as np

    bx0, bx1 = np.minimum(x1, x2), np.maximum(x1, x2)
    by0, by1 = np.minimum(y1, y2), np.maximum(y1, y2)
    span = max(float(bx1.max() - bx0.min()), float(by1.max() - by0.min()), 1e-6)
    g = span / max(1.0, math.sqrt(len(x1)))
    # inflating a bbox by g always covers ≥ 3×3 cells, so 9 rows/edge is
    # the floor — the budget below is kept above it by the caller; the
    # g > 1e6 break is the can't-happen backstop (cover is ~9/edge long
    # before that), not a correctness gate
    while g <= 1e6:
        nx = np.floor((bx1 + g) / g) - np.floor((bx0 - g) / g) + 1.0
        ny = np.floor((by1 + g) / g) - np.floor((by0 - g) / g) + 1.0
        if float((nx * ny).sum()) <= budget_rows:
            return g
        g *= 2.0
    return g


def _edge_index_pdf(pid, x1, y1, x2, y2, g: float):
    """(cix, ciy, pid, eidx, x1, y1, x2, y2) cover rows at cell size g."""
    import numpy as np
    import pandas as pd

    bx0, bx1 = np.minimum(x1, x2), np.maximum(x1, x2)
    by0, by1 = np.minimum(y1, y2), np.maximum(y1, y2)
    ix0 = np.floor((bx0 - g) / g).astype(np.int64)
    ix1 = np.floor((bx1 + g) / g).astype(np.int64)
    iy0 = np.floor((by0 - g) / g).astype(np.int64)
    iy1 = np.floor((by1 + g) / g).astype(np.int64)
    nx = ix1 - ix0 + 1
    ny = iy1 - iy0 + 1
    per = nx * ny
    e = np.repeat(np.arange(len(pid), dtype=np.int64), per)
    # within-edge cover offset, vectorized (no per-edge Python loop)
    off = np.arange(len(e), dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(per)[:-1])), per
    )
    cix = ix0[e] + off // ny[e]
    ciy = iy0[e] + off % ny[e]
    return pd.DataFrame(
        {
            "__ne_cix": cix,
            "__ne_ciy": ciy,
            "__ne_pid": pid[e],
            "__ne_eidx": e,
            "__ne_x1": x1[e],
            "__ne_y1": y1[e],
            "__ne_x2": x2[e],
            "__ne_y2": y2[e],
        }
    )


def _grid_candidate_struct(px: Column, py: Column, payload: Column) -> Column:
    """(ticks, poly, edge, slon, slat, payload) for one index row — the
    least-tree's ordering, with edge coords as COLUMNS from the join."""
    ticks, cx, cy = _edge_ticks(
        px, py, F.col("__ne_x1"), F.col("__ne_y1"), F.col("__ne_x2"), F.col("__ne_y2")
    )
    return F.struct(
        ticks.alias("ticks"),
        F.col("__ne_pid").alias("poly"),
        F.col("__ne_eidx").alias("edge"),
        cx.alias("slon"),
        cy.alias("slat"),
        payload.alias("p"),
    )


def _sentinel_struct(payload: Column) -> Column:
    return F.struct(
        F.lit(_SENTINEL_TICKS).cast("long").alias("ticks"),
        F.lit(-1).cast("long").alias("poly"),
        F.lit(-1).cast("long").alias("edge"),
        F.lit(0.0).alias("slon"),
        F.lit(0.0).alias("slat"),
        payload.alias("p"),
    )


def _edge_grid(
    points: DataFrame,
    edges: list[_Edge],
    key_col: str | None,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Grid-indexed :func:`snap_to_edge`: the same rows at any layer size
    (the exact global argmin per point)."""
    import numpy as np

    if key_col is None:
        raise ValueError(f"key_col is required past UNROLL_CAP ({UNROLL_CAP}) edges")
    if not edges:
        raise ValueError("polygon layer has no edges")
    spark = points.sparkSession
    pid = np.asarray([e[0] for e in edges], dtype=np.int64)
    x1, y1, x2, y2 = np.asarray([e[2:] for e in edges], dtype=np.float64).T
    budget = max(_INDEX_ROWS_PER_EDGE * len(pid), 4096)
    g = _pick_cell_size(x1, y1, x2, y2, budget)

    pcols = points.columns
    payload = F.struct(*[F.col(c) for c in pcols])
    px, py = F.col(lon_col), F.col(lat_col)
    pending = points.select(
        F.col(key_col).alias("__ne_key"), px.alias("__ne_px"), py.alias("__ne_py"),
        _sentinel_struct(payload).alias("__ne_best"),
    )
    settled = []
    # g doubles every level and the level with g ≥ 540° settles every
    # point, so the loop ends
    while True:
        idx_pdf = _edge_index_pdf(pid, x1, y1, x2, y2, g)
        idx = spark.createDataFrame(idx_pdf)
        if len(idx_pdf) <= _BROADCAST_INDEX_MAX:
            idx = F.broadcast(idx)
        pts_l = pending.select(
            "__ne_key", "__ne_px", "__ne_py", "__ne_best",
            F.floor(F.col("__ne_px") / F.lit(g)).cast("long").alias("__ne_cix"),
            F.floor(F.col("__ne_py") / F.lit(g)).cast("long").alias("__ne_ciy"),
        )
        cand = pts_l.join(idx, ["__ne_cix", "__ne_ciy"]).select(
            "__ne_key", "__ne_px", "__ne_py",
            _grid_candidate_struct(
                F.col("__ne_px"), F.col("__ne_py"), F.col("__ne_best.p")
            ).alias("__ne_c"),
        )
        carried = pending.select(
            "__ne_key", "__ne_px", "__ne_py", F.col("__ne_best").alias("__ne_c")
        )
        merged = (
            carried.unionByName(cand)
            .groupBy("__ne_key")
            .agg(
                F.min("__ne_c").alias("__ne_best"),
                F.first("__ne_px").alias("__ne_px"),
                F.first("__ne_py").alias("__ne_py"),
            )
        )
        if g >= 540.0:
            # every edge is indexed under every cell: exact by exhaustion
            settled.append(merged)
            break
        merged = merged.localCheckpoint(eager=True)
        threshold = int(g * g * 1e6) - 1
        done = F.col("__ne_best.ticks") < F.lit(threshold)
        settled.append(merged.filter(done))
        pending = merged.filter(~done)
        if pending.limit(1).count() == 0:
            break
        g *= 2.0
    out = settled[0]
    for s in settled[1:]:
        out = out.unionByName(s)
    return out.select(
        *[F.col(f"__ne_best.p.{c}").alias(c) for c in pcols],
        F.col("__ne_best.poly").alias("nearest_poly"),
        F.col("__ne_best.edge").alias("edge_idx"),
        F.col("__ne_best.ticks").alias("d2_ticks"),
        F.col("__ne_best.slon").alias("snap_lon"),
        F.col("__ne_best.slat").alias("snap_lat"),
    )

"""Polygon–polygon overlay join — cover-cell prefilter + exact refine.

The last spatial operator from SURVEY.md §9.5 (nothing in BASELINE.json
requires it; parcels×zones-style overlays do). Spark-first shape, same
skeleton as the PIP join:

1. **Prefilter** (JVM): each side's polygons get an S2 cover at an
   adaptive quantized level (operators.pip.choose_cover_level /
   polygon_covers — guaranteed supersets of every cell touching the
   polygon region). Because the two sides may cover at different
   COVER_LEVELS, each cover row is exploded into its ancestor chain at
   every quantized level (pure bit arithmetic, same parent math as
   pip_join's probe side); the candidate set is the distinct
   (a_id, b_id) pairs sharing any normalized cell. Shuffle is bounded
   by cover-cell occupancy, never |A|×|B|.
2. **Refine** (JVM codegen, no Python): polygons intersect under the
   house rule iff (a) some edge of A properly crosses some edge of B
   (strict orientation-sign test — nested array `exists` over the two
   broadcast-joined edge arrays), or (b) A's representative vertex lies
   in B (even-odd ray cast, the same `aggregate` fold as pip refine),
   or (c) symmetrically B's in A. Covers containment both ways plus
   partial overlap; boundary-touching degeneracies (collinear edges,
   vertex-on-edge) follow the strict rule and are excluded — the DuckDB
   oracle implements the textually-identical predicate, so both sides
   agree bit-for-bit. The ray cast is operators.pip.ray_cast_inside
   (its docstring covers the straddle gate and non-ANSI division).

Scale notes: edge arrays ride in the tables (array<struct> columns), so
the refine is one codegen stage over candidates; |Ea|·|Eb| orientation
tests per candidate pair with no shuffle beyond the candidate join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gipspark.functions.cells import s2_parent
from gipspark.geo import pip as pipgeo
from gipspark.operators.pip import (
    COVER_LEVELS,
    EDGES_T,
    choose_cover_level,
    edge_rows,
    polygon_covers,
    ray_cast_inside,
)


def _side_dfs(
    spark: SparkSession, polys: list[dict], prefix: str
) -> tuple[DataFrame, DataFrame]:
    """(cover_df, shape_df) for one side. cover: (cell, {prefix}_id) at
    each polygon's adaptive level. shape: ({prefix}_id, edges, vx, vy)."""
    groups: dict[int, list[dict]] = {}
    for p in polys:
        rings = [np.asarray(r, dtype=np.float64) for r in p["rings"]]
        groups.setdefault(choose_cover_level(rings), []).append(p)
    cover_pd = pd.concat(
        [polygon_covers(ps, lvl) for lvl, ps in sorted(groups.items())], ignore_index=True
    )
    cover = spark.createDataFrame(cover_pd, "__cell long, poly_id long").select(
        F.col("__cell").alias("cell"), F.col("poly_id").alias(f"{prefix}_id")
    )
    shape_rows = [
        (
            int(p["poly_id"]),
            edge_rows(p["rings"]),
            float(p["rings"][0][0][0]),
            float(p["rings"][0][0][1]),
        )
        for p in polys
    ]
    shape = spark.createDataFrame(
        shape_rows,
        f"{prefix}_id long, {prefix}_edges {EDGES_T}, {prefix}_vx double, {prefix}_vy double",
    )
    return cover, shape


def _ancestors(cell):
    """Explode helper: a cover cell plus its ancestors at every
    quantized level ≤ its own (functions.cells.s2_parent)."""
    out = [cell] + [s2_parent(cell, lvl) for lvl in COVER_LEVELS[:-1]]
    return F.array_distinct(F.array(*out))


def _orient(px, py, qx, qy, rx, ry):
    """Signed area of (p, q, r): (q − p) × (r − p)."""
    return (qx - px) * (ry - py) - (qy - py) * (rx - px)


def _proper_cross(ea, eb):
    oa1 = _orient(eb.x1, eb.y1, eb.x2, eb.y2, ea.x1, ea.y1)
    oa2 = _orient(eb.x1, eb.y1, eb.x2, eb.y2, ea.x2, ea.y2)
    ob1 = _orient(ea.x1, ea.y1, ea.x2, ea.y2, eb.x1, eb.y1)
    ob2 = _orient(ea.x1, ea.y1, ea.x2, ea.y2, eb.x2, eb.y2)
    return (oa1 * oa2 < 0) & (ob1 * ob2 < 0)


_EDGES_FROM_RINGS = (
    "flatten(transform({col}, r -> zip_with("
    "slice(r, 1, size(r) - 1), slice(r, 2, size(r) - 1), "
    "(p, q) -> struct(p[0] as x1, p[1] as y1, q[0] as x2, q[1] as y2))))"
)


def _poly_shape_cols(df: DataFrame, prefix: str) -> DataFrame:
    """(id, edges, vx, vy) from a (poly_id, rings) DataFrame — edge
    construction is pure JVM array HOFs (rings must be closed: first
    point repeated last, the fixture/POLY_SCHEMA convention)."""
    return df.select(
        F.col("poly_id").alias(f"{prefix}_id"),
        F.expr(_EDGES_FROM_RINGS.format(col="rings")).alias(f"{prefix}_edges"),
        F.expr("rings[0][0][0]").alias(f"{prefix}_vx"),
        F.expr("rings[0][0][1]").alias(f"{prefix}_vy"),
    )


def _poly_cover_df(df: DataFrame, prefix: str) -> DataFrame:
    """Distributed cover computation: one Arrow batch of (poly_id,
    rings) rows per task → (cell, id) rows at each polygon's adaptive
    quantized level. This is the scale path for polygon sides too big
    to enumerate driver-side (the list-of-dicts overlay_join builds the
    same table on the driver)."""
    import pandas as pd

    def gen(batches):
        for b in batches:
            ids, cells = [], []
            for pid, rings in zip(b["poly_id"], b["rings"]):
                # Arrow hands nested lists back as object arrays of
                # arrays — stack point-wise for a clean (n, 2) float64
                rr = [
                    np.stack([np.asarray(p, dtype=np.float64) for p in r])
                    for r in rings
                ]
                cs = pipgeo.polygon_cover(rr, level=choose_cover_level(rr))
                ids.append(np.full(len(cs), pid, dtype=np.int64))
                cells.append(cs)
            if ids:
                yield pd.DataFrame(
                    {"cell": np.concatenate(cells), "pid": np.concatenate(ids)}
                )
            else:
                yield pd.DataFrame({"cell": pd.Series(dtype=np.int64), "pid": pd.Series(dtype=np.int64)})

    return df.select("poly_id", "rings").mapInPandas(gen, "cell long, pid long").select(
        "cell", F.col("pid").alias(f"{prefix}_id")
    )


def _candidates(a_cover: DataFrame, b_cover: DataFrame) -> DataFrame:
    """Distinct (a_id, b_id) pairs sharing a normalized cover cell: both
    covers are exploded onto the quantized level lattice (the coarser
    side's own level always appears in the finer side's ancestor chain)."""
    a_norm = a_cover.select(F.explode(_ancestors(F.col("cell"))).alias("cell"), "a_id")
    b_norm = b_cover.select(F.explode(_ancestors(F.col("cell"))).alias("cell"), "b_id")
    return a_norm.join(b_norm, "cell").select("a_id", "b_id").distinct()


def _intersecting(pairs: DataFrame) -> DataFrame:
    """Candidate pairs carrying both sides' shape columns → the house
    rule's three flags, kept where any holds."""
    scored = pairs.select(
        "a_id",
        "b_id",
        F.exists(
            F.col("a_edges"),
            lambda ea: F.exists(F.col("b_edges"), lambda eb: _proper_cross(ea, eb)),
        ).alias("edge_cross"),
        ray_cast_inside(F.col("a_vx"), F.col("a_vy"), F.col("b_edges")).alias("a_in_b"),
        ray_cast_inside(F.col("b_vx"), F.col("b_vy"), F.col("a_edges")).alias("b_in_a"),
    )
    return scored.filter(F.col("edge_cross") | F.col("a_in_b") | F.col("b_in_a"))


def overlay_join_df(a_polys_df: DataFrame, b_polys_df: DataFrame) -> DataFrame:
    """DataFrame-native overlay join: both polygon sides are tables of
    (poly_id, rings) — the parcels×zones shape where neither side fits
    on the driver. Covers are computed distributed (mapInPandas, narrow),
    candidates shuffle on the normalized cover cell (bounded by cover
    occupancy), and the refine joins shapes back on poly_id — no
    broadcast anywhere, so both sides scale horizontally. Predicates
    are identical to :func:`overlay_join` (same oracle applies)."""
    cand = _candidates(_poly_cover_df(a_polys_df, "a"), _poly_cover_df(b_polys_df, "b"))
    return _intersecting(
        cand.join(_poly_shape_cols(a_polys_df, "a"), "a_id").join(
            _poly_shape_cols(b_polys_df, "b"), "b_id"
        )
    )


def overlay_join(
    spark: SparkSession, a_polys: list[dict], b_polys: list[dict]
) -> DataFrame:
    """Intersecting polygon pairs: (a_id, b_id, edge_cross, a_in_b,
    b_in_a), one row per pair where any flag holds."""
    a_cover, a_shape = _side_dfs(spark, a_polys, "a")
    b_cover, b_shape = _side_dfs(spark, b_polys, "b")
    cand = _candidates(a_cover, b_cover)
    return _intersecting(
        cand.join(F.broadcast(a_shape), "a_id").join(F.broadcast(b_shape), "b_id")
    )

"""Grid-indexed nearest-edge path: bit-exact parity with the least-tree
path and with NumPy brute force on a ≥2,000-edge coastline — the layer
size that breaks the unrolled plan (VERDICT r3 next-round #1)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gipspark.operators.distance import (
    UNROLL_CAP,
    _edge_grid,
    _polygon_edges,
    nearest_edge,
    snap_to_edge,
)
from gipspark.queries import ORACLE_POLYGONS


def _coast(poly_id: int, n: int, cx: float, cy: float, r0: float) -> dict:
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    r = r0 * (1.0 + 0.25 * np.sin(7 * ang) + 0.1 * np.cos(13 * ang))
    xs = cx + r * np.cos(ang)
    ys = cy + 0.5 * r * np.sin(ang)
    ring = [(float(x), float(y)) for x, y in zip(xs, ys)]
    ring.append(ring[0])
    return {"poly_id": poly_id, "rings": [ring]}


BIG_LAYER = [_coast(1, 1200, 10.0, 20.0, 8.0), _coast(2, 900, -40.0, -10.0, 12.0)]


def _brute(edges, lon, lat):
    """NumPy replay of the exact formula: clamp projection, round-half-up
    tick quantization, argmin by (ticks, poly, edge)."""
    pid = np.asarray([e[0] for e in edges], dtype=np.int64)
    x1 = np.asarray([e[2] for e in edges])
    y1 = np.asarray([e[3] for e in edges])
    x2 = np.asarray([e[4] for e in edges])
    y2 = np.asarray([e[5] for e in edges])
    dx, dy = x2 - x1, y2 - y1
    l2 = dx * dx + dy * dy
    t = np.maximum(0.0, np.minimum(1.0, ((lon - x1) * dx + (lat - y1) * dy) / l2))
    cx, cy = x1 + t * dx, y1 + t * dy
    d2 = (lon - cx) * (lon - cx) + (lat - cy) * (lat - cy)
    ticks = np.floor(d2 * 1000000.0 + 0.5).astype(np.int64)
    w = np.lexsort((np.arange(len(ticks)), pid, ticks))[0]
    return int(ticks[w]), int(pid[w]), int(w), float(cx[w]), float(cy[w])


@pytest.fixture(scope="module")
def scattered_pts():
    rng = np.random.default_rng(42)
    n = 400
    # half scattered globe-wide (exercises the far-level loop), half
    # hugging the coastline (settles at level 0/1)
    lon = np.concatenate([rng.uniform(-180, 180, n // 2), rng.uniform(0, 20, n // 2)])
    lat = np.concatenate([rng.uniform(-90, 90, n // 2), rng.uniform(14, 26, n // 2)])
    return pd.DataFrame(
        {"pt_id": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon}
    )


def test_grid_matches_brute_on_big_coastline(spark, scattered_pts):
    edges = _polygon_edges(BIG_LAYER)
    assert len(edges) >= 2000
    df = spark.createDataFrame(scattered_pts)
    res = {
        r.pt_id: r
        for r in snap_to_edge(df, BIG_LAYER, key_col="pt_id").collect()
    }
    assert len(res) == len(scattered_pts)
    for _, p in scattered_pts.iterrows():
        bt, bp, be, bx, by = _brute(edges, p.lon, p.lat)
        r = res[p.pt_id]
        assert (r.d2_ticks, r.nearest_poly, r.edge_idx) == (bt, bp, be)
        assert abs(r.snap_lon - bx) < 1e-9 and abs(r.snap_lat - by) < 1e-9


def test_grid_parity_with_least_tree_small_layer(spark):
    """On a layer the unrolled path CAN handle, both paths must agree
    bit-for-bit — same ticks, same argmin winner, same snap coords."""
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "pt_id": np.arange(200, dtype=np.int64),
            "lat": rng.uniform(-60, 60, 200),
            "lon": rng.uniform(-170, 170, 200),
        }
    )
    df = spark.createDataFrame(pdf)
    small = sorted(
        (r.pt_id, r.nearest_poly, r.edge_idx, r.d2_ticks, r.snap_lon, r.snap_lat)
        for r in snap_to_edge(df, ORACLE_POLYGONS).collect()
    )
    grid = sorted(
        (r.pt_id, r.nearest_poly, r.edge_idx, r.d2_ticks, r.snap_lon, r.snap_lat)
        for r in _edge_grid(df, _polygon_edges(ORACLE_POLYGONS), "pt_id").collect()
    )
    assert small == grid
    ne_small = sorted(
        (r.pt_id, r.nearest_poly, r.d2_ticks)
        for r in nearest_edge(df, ORACLE_POLYGONS).collect()
    )
    assert ne_small == sorted((g[0], g[1], g[3]) for g in grid)


def test_auto_dispatch(spark, scattered_pts):
    """Small layer → the narrow least-tree plan (no join in the plan);
    big layer → the grid path, no codegen failure at any size."""
    df = spark.createDataFrame(scattered_pts)
    small = nearest_edge(df, ORACLE_POLYGONS, key_col="pt_id")
    assert "Join" not in small._jdf.queryExecution().executedPlan().toString()
    assert len(_polygon_edges(BIG_LAYER)) > UNROLL_CAP
    big = snap_to_edge(df, BIG_LAYER, key_col="pt_id")
    assert big.count() == len(scattered_pts)
    cols = big.columns
    assert cols[-5:] == ["nearest_poly", "edge_idx", "d2_ticks", "snap_lon", "snap_lat"]
    with pytest.raises(ValueError, match="key_col"):
        nearest_edge(df, BIG_LAYER)


def test_grid_partitioning_invariant(spark, scattered_pts):
    """Same result regardless of input partitioning (the distance.py
    family contract)."""
    df = spark.createDataFrame(scattered_pts)
    a = sorted(
        (r.pt_id, r.nearest_poly, r.d2_ticks)
        for r in nearest_edge(df, BIG_LAYER, key_col="pt_id").collect()
    )
    b = sorted(
        (r.pt_id, r.nearest_poly, r.d2_ticks)
        for r in nearest_edge(
            df.repartition(13, "lat"), BIG_LAYER, key_col="pt_id"
        ).collect()
    )
    assert a == b

"""nearest_edge fold vs NumPy brute force + smoothing conservation."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gipspark.operators.distance import _polygon_edges, nearest_edge
from gipspark.queries import ORACLE_POLYGONS


def _brute(px: float, py: float, edges) -> tuple[int, int]:
    best = (1 << 62, -1)
    for pid, _, x1, y1, x2, y2 in edges:
        dx, dy = x2 - x1, y2 - y1
        l2 = dx * dx + dy * dy
        t = max(0.0, min(1.0, ((px - x1) * dx + (py - y1) * dy) / l2))
        cx, cy = x1 + t * dx, y1 + t * dy
        d2 = (px - cx) * (px - cx) + (py - cy) * (py - cy)
        ticks = int(np.round(d2 * 1000000.0))
        if ticks < best[0] or (ticks == best[0] and pid < best[1]):
            best = (ticks, pid)
    return best[1], best[0]


def test_nearest_edge_matches_brute(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(300),
            "lat": rng.uniform(-60, 60, 300),
            "lon": rng.uniform(-180, 180, 300),
        }
    )
    out = {
        r.pid: (r.nearest_poly, r.d2_ticks)
        for r in nearest_edge(spark.createDataFrame(pdf), ORACLE_POLYGONS).collect()
    }
    edges = _polygon_edges(ORACLE_POLYGONS)
    for _, row in pdf.iterrows():
        want_poly, want_ticks = _brute(row.lon, row.lat, edges)
        assert out[row.pid] == (want_poly, want_ticks), row.pid


def test_nearest_edge_on_vertex_and_inside(spark):
    # a point ON a polygon vertex has distance 0 to that polygon;
    # a point far from everything still gets a winner (argmin total).
    v = ORACLE_POLYGONS[0]["rings"][0][0]
    pdf = pd.DataFrame({"pid": [0, 1], "lat": [v[1], -89.0], "lon": [v[0], 0.0]})
    rows = {r.pid: r for r in nearest_edge(spark.createDataFrame(pdf), ORACLE_POLYGONS).collect()}
    assert rows[0].d2_ticks == 0 and rows[0].nearest_poly == 0
    assert rows[1].nearest_poly >= 0 and rows[1].d2_ticks > 0


def test_nearest_edge_partitioning_invariant(spark):
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {"pid": np.arange(100), "lat": rng.uniform(-60, 60, 100), "lon": rng.uniform(-180, 180, 100)}
    )
    df = spark.createDataFrame(pdf)
    a = sorted((r.pid, r.nearest_poly, r.d2_ticks) for r in nearest_edge(df, ORACLE_POLYGONS).collect())
    b = sorted(
        (r.pid, r.nearest_poly, r.d2_ticks)
        for r in nearest_edge(df.repartition(13, "lat"), ORACLE_POLYGONS).collect()
    )
    assert a == b


def test_open_ring_closing_edge_counts(spark):
    """A ring given without its closing vertex is closed: the edge from
    the last vertex back to the first counts in pip_join, nearest_edge
    and snap_to_edge alike."""
    from gipspark.operators.distance import snap_to_edge
    from gipspark.operators.pip import pip_join

    sq = [{"poly_id": 7, "rings": [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]]}]
    # pid 1 sits just west of the closing edge x = 0, pid 2 inside
    pts = spark.createDataFrame(
        [(1, 5.0, -1.0), (2, 5.0, 5.0)], "pid long, lat double, lon double"
    )
    assert [r.pid for r in pip_join(pts, sq, level=6).collect()] == [2]
    near = {r.pid: r for r in nearest_edge(pts, sq).collect()}
    assert (near[1].nearest_poly, near[1].d2_ticks) == (7, 1_000_000)
    snap = {r.pid: r for r in snap_to_edge(pts, sq).collect()}
    assert (snap[1].edge_idx, snap[1].d2_ticks) == (3, 1_000_000)
    assert (snap[1].snap_lon, snap[1].snap_lat) == (0.0, 5.0)


def test_heatmap_smooth_conservation(spark):
    from gipspark.queries import REGISTRY

    rows = REGISTRY["heatmap_smooth_events"][0](spark, "/root/testdata/sf0.001").collect()
    cells = {r.cell_id: r.n_points for r in rows}
    for r in rows:
        gx, gy = divmod(r.cell_id, 1000)
        want = sum(
            cells.get((gx + dx) * 1000 + (gy + dy), 0)
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        assert r.smooth_n == want and r.smooth_n >= r.n_points > 0

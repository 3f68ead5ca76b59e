"""Tests for ray-cast PIP and polygon covers (gipspark/geo/pip.py)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gipspark.geo import pip, s2


def _regular_polygon(cx, cy, r, n, phase=0.0):
    ang = phase + np.linspace(0, 2 * np.pi, n, endpoint=False)
    return np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)


def test_square_basic():
    sq = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
    edges = pip.rings_to_edges([sq])
    lon = np.array([0.5, 1.5, -0.1, 0.9999, 0.5])
    lat = np.array([0.5, 0.5, 0.5, 0.0001, 2.0])
    assert pip.points_in_polygon(lon, lat, edges).tolist() == [True, False, False, True, False]


def test_hole():
    outer = _regular_polygon(0, 0, 10, 8)
    hole = _regular_polygon(0, 0, 3, 8)
    edges = pip.rings_to_edges([outer, hole])
    lon = np.array([0.0, 5.0, 12.0])
    lat = np.array([0.0, 0.0, 0.0])
    # center is inside the hole -> excluded by even-odd
    assert pip.points_in_polygon(lon, lat, edges).tolist() == [False, True, False]


def test_concave_star():
    ang = np.linspace(0, 2 * np.pi, 10, endpoint=False)
    r = np.where(np.arange(10) % 2 == 0, 5.0, 1.5)
    star = np.stack([r * np.cos(ang), r * np.sin(ang)], axis=1)
    edges = pip.rings_to_edges([star])
    assert pip.points_in_polygon(np.array([0.0]), np.array([0.0]), edges)[0]
    # point between two arms (at radius 3, angle between spikes) is outside
    mid_ang = (ang[0] + ang[1]) / 2
    assert not pip.points_in_polygon(
        np.array([3.5 * np.cos(mid_ang)]), np.array([3.5 * np.sin(mid_ang)]), edges
    )[0]


def test_batched_equals_unbatched():
    rng = np.random.default_rng(3)
    poly = _regular_polygon(10.0, 45.0, 2.0, 11, phase=0.123)
    edges = pip.rings_to_edges([poly])
    lon = rng.uniform(7, 13, 5000)
    lat = rng.uniform(42, 48, 5000)
    a = pip.points_in_polygon(lon, lat, edges)
    b = pip.points_in_polygon_batched(lon, lat, edges, batch=137)
    assert (a == b).all()


@settings(max_examples=60, deadline=None)
@given(
    cx=st.floats(min_value=-170, max_value=170),
    cy=st.floats(min_value=-60, max_value=60),
    r=st.floats(min_value=0.05, max_value=2.0),
    n=st.integers(min_value=3, max_value=17),
    seed=st.integers(min_value=0, max_value=1000),
)
def test_convex_polygon_matches_geometry(cx, cy, r, n, seed):
    """For convex polygons, ray-cast must agree with the half-plane test."""
    poly = _regular_polygon(cx, cy, r, n, phase=0.017)
    edges = pip.rings_to_edges([poly])
    rng = np.random.default_rng(seed)
    lon = rng.uniform(cx - 2 * r, cx + 2 * r, 300)
    lat = rng.uniform(cy - 2 * r, cy + 2 * r, 300)
    got = pip.points_in_polygon(lon, lat, edges)
    # half-plane test (counter-clockwise vertices)
    x1, y1, x2, y2 = edges[:, 0], edges[:, 1], edges[:, 2], edges[:, 3]
    cross = (x2 - x1)[None] * (lat[:, None] - y1[None]) - (y2 - y1)[None] * (
        lon[:, None] - x1[None]
    )
    expected = (cross > 0).all(axis=1)
    # ignore points essentially on the boundary (float-sensitive)
    dist = np.abs(cross) / np.hypot(x2 - x1, y2 - y1)[None]
    clear = dist.min(axis=1) > 1e-9
    assert (got[clear] == expected[clear]).all()


def test_cover_is_superset_of_inside_cells():
    """The prefilter contract: every cell containing an inside point is
    in the polygon's cover (PIP join correctness depends on this)."""
    rng = np.random.default_rng(5)
    for trial in range(5):
        cx, cy = rng.uniform(-30, 30), rng.uniform(-40, 40)
        r = rng.uniform(0.1, 0.8)
        poly = _regular_polygon(cx, cy, r, int(rng.integers(3, 12)), phase=rng.uniform(0, 1))
        edges = pip.rings_to_edges([poly])
        cover = set(pip.polygon_cover([poly], level=12).tolist())
        lon = rng.uniform(cx - r, cx + r, 4000)
        lat = rng.uniform(cy - r, cy + r, 4000)
        inside = pip.points_in_polygon(lon, lat, edges)
        cells = s2.latlng_to_cell(lat[inside], lon[inside], 12)
        assert set(cells.tolist()) <= cover


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


def test_cover_superset_at_coarse_levels():
    """Adaptive cover levels (6/9) must stay supersets of the cells of
    interior points, exactly like the original level-12 property."""
    import numpy as np
    from gipspark.geo import pip, s2

    rng = np.random.default_rng(31)
    for level, radius in ((6, 20.0), (9, 3.0)):
        cx, cy = rng.uniform(-120, 120), rng.uniform(-50, 50)
        k = 9
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        ring = np.stack([cx + radius * np.cos(ang), cy + radius * 0.8 * np.sin(ang)], axis=1)
        ring = np.vstack([ring, ring[:1]])
        cover = set(pip.polygon_cover([ring], level=level).tolist())
        # random interior candidates via rejection sampling
        lon = rng.uniform(ring[:, 0].min(), ring[:, 0].max(), 4000)
        lat = rng.uniform(ring[:, 1].min(), ring[:, 1].max(), 4000)
        edges = pip.rings_to_edges([ring])
        inside = pip.points_in_polygon(lon, lat, edges)
        cells = set(s2.latlng_to_cell(lat[inside], lon[inside], level).tolist())
        assert cells <= cover, f"level {level}: {len(cells - cover)} cells escaped"


def test_pip_join_equals_numpy_ray_cast(spark):
    """pip_join (multi-level cover prefilter + JVM ray cast, encoding the
    points itself) returns exactly the pairs the NumPy ray cast finds by
    brute force over every point and polygon."""
    from pyspark.sql import functions as F

    from gipspark.operators.pip import pip_join
    from gipspark.plans.pipeline import enrich_docs
    from gipspark.sources.fixtures import docs_df, polygons

    enr = enrich_docs(docs_df(spark, 3000)).filter(F.col("lat").isNotNull())
    polys = polygons(40)
    got = {
        (r.url, r.poly_id)
        for r in pip_join(enr.drop("cell"), polys).select("url", "poly_id").collect()
    }
    pts = enr.select("url", "lat", "lon").toPandas()
    lon, lat = pts.lon.to_numpy(), pts.lat.to_numpy()
    want = set()
    for p in polys:
        edges = pip.rings_to_edges([np.asarray(r, dtype=np.float64) for r in p["rings"]])
        want |= {(u, p["poly_id"]) for u in pts.url[pip.points_in_polygon(lon, lat, edges)]}
    assert got == want and len(got) > 0


def test_cover_cache_follows_edited_rings(monkeypatch):
    """An edited zone that keeps its poly_id, ring count, vertex count
    and first vertex gets its own cover, not the cached one of its old
    shape; the cache is an LRU bounded at _COVER_CACHE_MAX entries."""
    from collections import OrderedDict

    from gipspark.operators import pip as pipop

    monkeypatch.setattr(pipop, "_COVER_CACHE", OrderedDict())
    builds, real_cover = [], pip.polygon_cover

    def counting_cover(rings, level):
        builds.append(rings[0][2, 0])
        return real_cover(rings, level=level)

    monkeypatch.setattr(pipop.pipgeo, "polygon_cover", counting_cover)

    def covers(side):
        ring = [[0.0, 0.0], [side, 0.0], [side, side], [0.0, side], [0.0, 0.0]]
        got = pipop.polygon_covers([{"poly_id": 7, "rings": [ring]}], 9)["__cell"]
        return sorted(got.tolist()), ring

    for side in (1.0, 2.0):
        got, ring = covers(side)
        assert got == sorted(real_cover([np.asarray(ring)], level=9).tolist())
    assert builds == [1.0, 2.0]

    monkeypatch.setattr(pipop, "_COVER_CACHE_MAX", 2)
    covers(1.0)  # hit: 1.0 becomes most recent, 2.0 least
    covers(3.0)  # miss: evicts 2.0
    covers(1.0)
    covers(2.0)
    assert builds == [1.0, 2.0, 3.0, 2.0]
    assert len(pipop._COVER_CACHE) == 2

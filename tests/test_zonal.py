"""zonal_stats (raster-interval join) against pip_join + the same aggregate."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gipspark.geo.pip import points_in_polygon
from gipspark.operators import zonal
from gipspark.operators.distance import _polygon_edges
from gipspark.operators.pip import pip_join
from gipspark.operators.zonal import zonal_stats

STEP = 0.05


def _grid(lon0, lat0, nx, ny):
    """Pixel centroids laid out like fixtures.raster_tile_pdf: one lat per row."""
    lon = lon0 + (np.arange(nx) + 0.5) * STEP
    lat = lat0 - (np.arange(ny) + 0.5) * STEP
    return lon, lat


LON, LAT = _grid(9.0, 46.5, 50, 50)  # lon 9..11.5, lat 44..46.5
AM_LON = np.concatenate([_grid(179.0, 11.0, 20, 1)[0], _grid(-180.0, 11.0, 20, 1)[0]])
AM_LAT = _grid(179.0, 11.0, 1, 20)[1]


def _ring(cx, cy, radii, phase=0.1):
    ang = phase + np.linspace(0, 2 * np.pi, len(radii), endpoint=False)
    return [[cx + r * np.cos(a), cy + r * np.sin(a)] for r, a in zip(radii, ang)]


def _zones():
    col = float(LON[12])
    return [
        {"poly_id": 1, "rings": [_ring(9.6, 45.9, [0.33] * 7)]},  # convex
        {"poly_id": 2, "rings": [_ring(10.6, 45.8, [0.5, 0.15] * 6)]},  # star
        {
            "poly_id": 3,  # holed
            "rings": [
                [[9.2, 44.2], [10.4, 44.2], [10.4, 45.3], [9.2, 45.3], [9.2, 44.2]],
                [[9.5, 44.5], [10.1, 44.5], [10.1, 45.0], [9.5, 45.0], [9.5, 44.5]],
            ],
        },
        {  # crosses the antimeridian
            "poly_id": 4,
            "rings": [[[179.3, 10.2], [-179.4, 10.3], [-179.6, 10.9], [179.6, 10.8]]],
        },
        {  # every vertex on a pixel-row lat, the left edge on a pixel column
            "poly_id": 5,
            "rings": [[[col, LAT[20]], [11.3, LAT[20]], [10.9, LAT[24]], [11.3, LAT[28]], [col, LAT[28]]]],
        },
        {  # between pixel centres: covers none
            "poly_id": 6,
            "rings": [[[10.03, 45.03], [10.045, 45.03], [10.045, 45.045], [10.03, 45.045]]],
        },
    ]


@pytest.fixture(scope="module")
def raster(spark):
    gx, gy = np.meshgrid(LON, LAT)
    ax, ay = np.meshgrid(AM_LON, AM_LAT)
    lon = np.concatenate([gx.ravel(), ax.ravel()])
    lat = np.concatenate([gy.ravel(), ay.ravel()])
    value = np.sin(lon * 3.1) * np.cos(lat * 1.7) * 10.0 + np.arange(len(lon)) % 7
    rows = [(float(a), float(b), float(v)) for a, b, v in zip(lon, lat, value)]
    rows.append((10.3, None, 1.0))  # a pixel without a lat
    return spark.createDataFrame(rows, "lon double, lat double, value double")


def _by_poly(df):
    return {r["poly_id"]: r for r in df.collect()}


def test_zonal_equals_pip_join(raster):
    polys = _zones()
    got = _by_poly(zonal_stats(raster, polys))
    v = F.col("value")
    want = _by_poly(
        pip_join(raster, polys)
        .groupBy("poly_id")
        .agg(
            F.count("*").alias("px_count"),
            F.min(v).alias("v_min"),
            F.max(v).alias("v_max"),
            F.avg(v).alias("v_avg"),
            F.stddev_samp(v).alias("v_std"),
            F.sum(v).alias("v_sum"),
        )
    )
    assert set(got) == set(want) == {1, 2, 3, 4, 5}  # zone 6 covers no pixel
    for pid, w in want.items():
        g = got[pid]
        assert (g.px_count, g.v_min, g.v_max) == (w.px_count, w.v_min, w.v_max), pid
        assert g.v_sum == pytest.approx(w.v_sum, abs=1e-9), pid
        assert g.v_avg == pytest.approx(w.v_avg, abs=1e-9), pid
    assert got[3].px_count < 24 * 22  # the hole is cut out


def test_runs_equal_ray_cast():
    """Membership by x-run equals the even-odd ray cast pixel for pixel,
    on random holed rings whose vertices snap to pixel rows and columns."""
    rng = np.random.default_rng(7)
    gx, gy = np.meshgrid(LON, LAT)
    lats = np.sort(LAT)
    for seed in range(30):
        rings = []
        for r0 in (1.0, 0.35):
            ring = np.array(_ring(10.2, 45.2, rng.uniform(0.4, 1.0, 11) * r0, phase=seed))
            snap = rng.random(len(ring)) < 0.5
            ring[snap, 0] = LON[np.abs(LON[:, None] - ring[snap, 0]).argmin(axis=0)]
            ring[snap, 1] = LAT[np.abs(LAT[:, None] - ring[snap, 1]).argmin(axis=0)]
            rings.append(ring.tolist())
        edges = np.array([e[2:] for e in _polygon_edges([{"poly_id": 0, "rings": rings}])])
        _, run_lat, lo, hi = zonal._runs(0, edges, lats)
        px_lon, px_lat = gx.ravel(), gy.ravel()
        in_run = (
            (px_lat[:, None] == run_lat) & (px_lon[:, None] >= lo) & (px_lon[:, None] < hi)
        ).any(axis=1)
        assert (in_run == points_in_polygon(px_lon, px_lat, edges)).all(), seed


def test_zonal_plan_runs_no_python(raster):
    plan = zonal_stats(raster, _zones())._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow", "PythonUDF"):
        assert node not in plan


def test_zonal_rejects_duplicate_poly_ids(raster):
    z = _zones()
    with pytest.raises(ValueError, match="unique"):
        zonal_stats(raster, [z[0], {**z[1], "poly_id": z[0]["poly_id"]}])


def test_zonal_rejects_raster_off_the_fixed_grid(raster, monkeypatch):
    monkeypatch.setattr(zonal, "MAX_ROW_LATS", 5)
    with pytest.raises(ValueError, match="fixed tile grid"):
        zonal_stats(raster, _zones()[:1])

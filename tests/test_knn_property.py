"""Adversarial kNN configurations: the guarantee loop must equal brute
force regardless of point distribution, seams, or parameter corners."""

import re
from unittest import mock

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _df(spark, ids, lat, lon, prefix):
    rows = [(int(i), float(la), float(lo)) for i, la, lo in zip(ids, lat, lon)]
    return spark.createDataFrame(rows, f"{prefix}_id long, {prefix}_lat double, {prefix}_lon double")


def _assert_equal(spark, qs, pts, k, **kw):
    """knn_join equals brute force with the query side on the driver
    and, with the driver limit at 0, with the rounds in Spark."""
    from gipspark.operators import knn

    brute = {(r.q_id, r.p_id, r.dist_m, r.rank) for r in knn.knn_join_brute(qs, pts, k=k).collect()}
    for limit in (knn._DRIVER_MAX_QUERIES, 0):
        with mock.patch.object(knn, "_DRIVER_MAX_QUERIES", limit):
            fast = {(r.q_id, r.p_id, r.dist_m, r.rank) for r in knn.knn_join(qs, pts, k=k, **kw).collect()}
        assert fast == brute, f"_DRIVER_MAX_QUERIES={limit}"


@pytest.mark.parametrize("seed", [0, 1])
def test_hotspot_cluster(spark, seed):
    rng = np.random.default_rng(seed)
    n = 300
    hot = rng.random(n) < 0.7
    lat = np.where(hot, 48.85 + rng.normal(0, 0.02, n), rng.uniform(-60, 60, n))
    lon = np.where(hot, 2.35 + rng.normal(0, 0.02, n), rng.uniform(-180, 180, n))
    pts = _df(spark, np.arange(n), lat, lon, "p")
    qlat = np.concatenate([[48.86, -30.0], rng.uniform(-60, 60, 8)])
    qlon = np.concatenate([[2.34, 100.0], rng.uniform(-180, 180, 8)])
    qs = _df(spark, np.arange(len(qlat)), qlat, qlon, "q")
    _assert_equal(spark, qs, pts, k=5)


def test_antimeridian_and_poles(spark):
    rng = np.random.default_rng(2)
    lat = np.concatenate([rng.uniform(-88, 88, 100), [89.5, -89.5, 0.0, 0.0]])
    lon = np.concatenate([rng.uniform(178, 182, 100) % 360 - 180, [10.0, 10.0, 179.9, -179.9]])
    pts = _df(spark, np.arange(len(lat)), lat, lon, "p")
    qs = _df(spark, [0, 1, 2, 3], [0.0, 89.0, -89.0, 1.0], [179.95, 0.0, 0.0, -179.95], "q")
    _assert_equal(spark, qs, pts, k=3)


def test_k_exceeds_cluster_and_forced_fine_level(spark):
    rng = np.random.default_rng(3)
    lat, lon = rng.uniform(-10, 10, 40), rng.uniform(-10, 10, 40)
    pts = _df(spark, np.arange(40), lat, lon, "p")
    qs = _df(spark, [0], [0.0], [0.0], "q")
    # forced too-fine level: every round under-fills → brute fallback path
    _assert_equal(spark, qs, pts, k=10, level=12)


def test_closer_point_outside_first_ball_is_found(spark):
    """k points in the query's radius-1 ball, all farther than a point
    just outside it: round 1 may not settle, the outside point ranks 1."""
    from gipspark.geo import s2
    from gipspark.geo.haversine import haversine_m

    level, qlat, qlon = 6, 10.3, 20.7
    rng = np.random.default_rng(8)
    lat, lon = qlat + rng.uniform(-3, 3, 4000), qlon + rng.uniform(-3, 3, 4000)
    qcell = s2.latlng_to_cell(np.array([qlat]), np.array([qlon]), level)
    inside = np.isin(s2.latlng_to_cell(lat, lon, level), s2.grid_disk_pairs(qcell, level, 1)[1])
    d = haversine_m(qlat, qlon, lat, lon)
    out = np.flatnonzero(~inside)[np.argmin(d[~inside])]
    far = np.flatnonzero(inside & (d > d[out]))[:3]
    assert len(far) == 3
    keep = np.concatenate([[out], far])
    pts = _df(spark, keep, lat[keep], lon[keep], "p")
    qs = _df(spark, [0], [qlat], [qlon], "q")
    _assert_equal(spark, qs, pts, k=3, level=level)


def test_null_coordinate_queries_get_no_rows(spark):
    from gipspark.operators.knn import knn_join

    rng = np.random.default_rng(4)
    pts = _df(spark, np.arange(30), rng.uniform(-5, 5, 30), rng.uniform(-5, 5, 30), "p")
    qs = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, None, 1.0), (2, 1.0, None)], "q_id long, q_lat double, q_lon double"
    )
    got = knn_join(qs, pts, k=3).collect()
    assert {r.q_id for r in got} == {0}
    assert all(r.dist_m is not None for r in got)
    _assert_equal(spark, qs.where("q_id = 0"), pts, k=3)


def test_empty_queries_return_empty_frame_with_output_schema(spark):
    from gipspark.operators.knn import knn_join

    pts = _df(spark, np.arange(10), np.zeros(10), np.arange(10.0), "p")
    qs = spark.createDataFrame([], "q_id long, q_lat double, q_lon double")
    out = knn_join(qs, pts, k=3)
    assert out.columns == ["q_id", "p_id", "dist_m", "rank"]
    assert out.collect() == []


def test_k_above_point_count_returns_every_point(spark):
    from gipspark.operators.knn import knn_join

    pts = _df(spark, np.arange(7), np.linspace(-1, 1, 7), np.linspace(2, 3, 7), "p")
    qs = _df(spark, [0, 1], [0.0, 40.0], [0.0, -70.0], "q")
    got = knn_join(qs, pts, k=10).collect()
    for q in (0, 1):
        mine = sorted((r.rank, r.p_id) for r in got if r.q_id == q)
        assert [rk for rk, _ in mine] == list(range(1, 8))
        assert {p for _, p in mine} == set(range(7))
    _assert_equal(spark, qs, pts, k=10)


def test_knn_join_persists_nothing(spark):
    from gipspark.operators.knn import knn_join

    rng = np.random.default_rng(5)
    pts = _df(spark, np.arange(200), rng.uniform(-20, 20, 200), rng.uniform(-20, 20, 200), "p")
    qs = _df(spark, np.arange(5), rng.uniform(-20, 20, 5), rng.uniform(-20, 20, 5), "q")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    knn_join(qs, pts, k=4).collect()
    knn_join(qs, pts, k=4, level=12, max_rounds=1).collect()
    # compare ids, not counts: the ContextCleaner may unpersist an
    # earlier test's garbage-collected RDD while these calls run
    assert set(jsc.getPersistentRDDs().keys()) <= before


def test_straggler_fallback_equals_brute(spark):
    rng = np.random.default_rng(6)
    pts = _df(spark, np.arange(120), rng.uniform(-30, 30, 120), rng.uniform(-30, 30, 120), "p")
    qs = _df(spark, np.arange(6), rng.uniform(-30, 30, 6), rng.uniform(-30, 30, 6), "q")
    # one round of a level-12 ball (~2 km) settles no query: all take
    # the brute branch
    _assert_equal(spark, qs, pts, k=3, level=12, max_rounds=1)


def test_large_query_side_rounds_in_spark(spark, monkeypatch):
    """Past _DRIVER_MAX_QUERIES the rounds run in Spark: null-coordinate
    queries are dropped, and of the frames the call persists only the
    result's own checkpoint is left."""
    from gipspark.operators import knn

    calls = []
    in_spark = knn._rounds_in_spark
    monkeypatch.setattr(knn, "_DRIVER_MAX_QUERIES", 4)
    monkeypatch.setattr(knn, "_rounds_in_spark", lambda *a: calls.append(a) or in_spark(*a))
    rng = np.random.default_rng(7)
    pts = _df(spark, np.arange(300), rng.uniform(-60, 60, 300), rng.uniform(-180, 180, 300), "p")
    qs = _df(spark, np.arange(12), rng.uniform(-60, 60, 12), rng.uniform(-180, 180, 12), "q")
    with_null = qs.unionByName(spark.createDataFrame([(99, None, 1.0)], qs.schema))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    got = {tuple(r) for r in knn.knn_join(with_null, pts, k=5).collect()}
    assert got == {tuple(r) for r in knn.knn_join_brute(qs, pts, k=5).collect()}
    assert len(calls) == 1
    assert jsc.getPersistentRDDs().size() <= before + 1


def _within_brute(spark, lt, rt, radius):
    from gipspark.geo.haversine import haversine_col

    d = (
        lt.crossJoin(rt)
        .withColumn("dist_m", haversine_col(F.col("l_lat"), F.col("l_lon"), F.col("r_lat"), F.col("r_lon")))
        .filter(F.col("dist_m") <= radius)
    )
    return {(r.l_id, r.r_id) for r in d.collect()}


@pytest.mark.parametrize("radius_km,level", [(50, None), (1500, None), (200, 10)])
def test_within_join_equals_brute(spark, radius_km, level):
    from gipspark.operators.knn import within_join

    rng = np.random.default_rng(radius_km)
    n = 250
    lat = np.concatenate([rng.uniform(-70, 70, n), [89.0, 0.0, 0.0]])
    lon = np.concatenate([rng.uniform(-180, 180, n), [0.0, 179.9, -179.9]])
    rt = _df(spark, np.arange(len(lat)), lat, lon, "r")
    qlat = np.concatenate([rng.uniform(-70, 70, 12), [88.5, 0.0]])
    qlon = np.concatenate([rng.uniform(-180, 180, 12), [120.0, 179.95]])
    lt = _df(spark, np.arange(len(qlat)), qlat, qlon, "l")
    radius = radius_km * 1000.0
    fast = {
        (r.l_id, r.r_id)
        for r in within_join(lt, rt, radius_m=radius, level=level).collect()
    }
    assert fast == _within_brute(spark, lt, rt, radius)


# the Python plan nodes test_zonal_plan_runs_no_python forbids
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow", "PythonUDF")


def _executed_plans(spark, action):
    """Run ``action`` and return the physical plan of every SQL query it
    executed, from the session's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty(60_000)
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = {e.executionId() for e in executions()}
    action()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() not in seen]


def _python_udfs(plan):
    """Names of the Python UDFs a formatted plan evaluates."""
    return set(re.findall(r"ArrowEvalPython\nInput \[\d+\]: \[.*\]\nArguments: \[(\w+)\(", plan))


def test_encodes_run_no_python(spark, tmp_path):
    """No operator encodes S2 cells in a Python worker. knn_join with the
    query side on the driver, and pip_join without ``cell_col``, run no
    Python node at all; knn_join's rounds in Spark and within_join still
    explode balls with the ``kring`` pandas UDF, and with nothing else."""
    from gipspark.operators import knn
    from gipspark.operators.pip import pip_join

    rng = np.random.default_rng(8)
    for side, n in (("p", 2000), ("q", 30)):
        coords = rng.uniform(-5, 5, (2, n))
        pd.DataFrame(
            {f"{side}_id": np.arange(n), f"{side}_lat": coords[0], f"{side}_lon": coords[1]}
        ).to_parquet(tmp_path / f"{side}.parquet")
    pts = spark.read.parquet(str(tmp_path / "p.parquet"))
    qs = spark.read.parquet(str(tmp_path / "q.parquet"))
    square = [[-2.0, -2.0], [2.0, -2.0], [2.0, 2.0], [-2.0, 2.0], [-2.0, -2.0]]
    runs = {
        "knn driver": (lambda: knn.knn_join(qs, pts, k=3).collect(), set()),
        "pip_join": (
            lambda: pip_join(
                pts, [{"poly_id": 1, "rings": [square]}], lat_col="p_lat", lon_col="p_lon"
            ).collect(),
            set(),
        ),
        "within_join": (
            lambda: knn.within_join(
                qs.toDF("l_id", "l_lat", "l_lon"), pts.toDF("r_id", "r_lat", "r_lon"), 50_000.0
            ).collect(),
            {"_ring"},
        ),
    }
    for name, (action, allowed) in runs.items():
        plans = _executed_plans(spark, action)
        assert plans, name
        for plan in plans:
            assert _python_udfs(plan) <= allowed, (name, _python_udfs(plan))
            nodes = [node for node in PYTHON_NODES if node in plan]
            assert nodes == (["ArrowEvalPython"] if _python_udfs(plan) else []), (name, nodes)
    with mock.patch.object(knn, "_DRIVER_MAX_QUERIES", 0):
        plans = _executed_plans(spark, lambda: knn.knn_join(qs, pts, k=3).collect())
    assert any("_ring" in _python_udfs(p) for p in plans)
    assert all(_python_udfs(p) <= {"_ring"} for p in plans)

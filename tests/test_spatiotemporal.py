"""Batch-9 operators: colocation, segment crossing, interval dissolve,
PII scrub — brute-force and known-geometry checks."""

import random

from pyspark.sql import functions as F


# --- segment crossings ------------------------------------------------------


def _unit_square():
    return [
        {
            "poly_id": 0,
            "rings": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]],
        }
    ]


def _fixes(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, lat double, lon double"
    )


def _crossings(spark, rows):
    from gipspark.operators.crossing import segment_crossings

    out = segment_crossings(
        _fixes(spark, rows), _unit_square(), order_cols=("ts", "event_id")
    )
    return sorted((r.poly_id, r.edge_idx) for r in out.collect())


def test_crossing_through_square(spark):
    # step pierces the left and right edges of the unit square
    rows = [(1, 0, 0, 0.5, -1.0), (1, 1, 1, 0.5, 2.0)]
    got = _crossings(spark, rows)
    assert len(got) == 2 and all(p == 0 for p, _ in got)


def test_crossing_into_square_once(spark):
    rows = [(1, 0, 0, 0.5, -1.0), (1, 1, 1, 0.5, 0.5)]
    assert len(_crossings(spark, rows)) == 1


def test_no_crossing_outside(spark):
    rows = [(1, 0, 0, 5.0, -1.0), (1, 1, 1, 5.0, 2.0)]
    assert _crossings(spark, rows) == []


def test_touching_vertex_not_proper(spark):
    # segment passes exactly through the (1,1) corner along the diagonal:
    # endpoint contacts are excluded by the strict inequality
    rows = [(1, 0, 0, 1.0, 1.0), (1, 1, 1, 2.0, 2.0)]
    assert _crossings(spark, rows) == []


def test_collinear_overlap_not_proper(spark):
    # step riding along the bottom edge: collinear → d1*d2 == 0, excluded
    rows = [(1, 0, 0, 0.0, -0.5), (1, 1, 1, 0.0, 0.5)]
    assert _crossings(spark, rows) == []


def test_crossing_brute_force_random(spark):
    # random walk vs pure-python orientation replay
    rng = random.Random(7)
    rows = []
    for uid in range(3):
        for i in range(40):
            rows.append(
                (uid, i, uid * 100 + i, rng.uniform(-2, 3), rng.uniform(-2, 3))
            )
    got = (
        segment_count(spark, rows)
    )
    from gipspark.operators.distance import _polygon_edges

    edges = _polygon_edges(_unit_square())

    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    want = 0
    by_user = {}
    for uid, ts, eid, lat, lon in rows:
        by_user.setdefault(uid, []).append((ts, eid, lon, lat))
    for fixes in by_user.values():
        fixes.sort()
        for (_, _, px, py), (_, _, qx, qy) in zip(fixes, fixes[1:]):
            for pid, _, x1, y1, x2, y2 in edges:
                d1 = cross(x1, y1, x2, y2, px, py)
                d2 = cross(x1, y1, x2, y2, qx, qy)
                d3 = cross(px, py, qx, qy, x1, y1)
                d4 = cross(px, py, qx, qy, x2, y2)
                if d1 * d2 < 0 and d3 * d4 < 0:
                    want += 1
    assert got == want


def segment_count(spark, rows):
    from gipspark.operators.crossing import segment_crossings

    return segment_crossings(
        _fixes(spark, rows), _unit_square(), order_cols=("ts", "event_id")
    ).count()


# --- interval dissolve ------------------------------------------------------


def _dissolve(spark, rows):
    from gipspark.operators.intervals import dissolve_intervals

    df = spark.createDataFrame(rows, "k long, start_s long, end_s long")
    out = dissolve_intervals(df, "k")
    return sorted((r.k, r.span_start, r.span_end) for r in out.collect())


def test_dissolve_basic(spark):
    rows = [(1, 0, 10), (1, 5, 15), (1, 20, 30), (2, 0, 1)]
    assert _dissolve(spark, rows) == [(1, 0, 15), (1, 20, 30), (2, 0, 1)]


def test_dissolve_touching_merge(spark):
    # half-open [0,10) + [10,20) merge into one span
    assert _dissolve(spark, [(1, 0, 10), (1, 10, 20)]) == [(1, 0, 20)]


def test_dissolve_contained(spark):
    assert _dissolve(spark, [(1, 0, 100), (1, 10, 20), (1, 30, 40)]) == [(1, 0, 100)]


def test_dissolve_random_vs_brute(spark):
    rng = random.Random(11)
    rows = []
    for k in range(4):
        for _ in range(50):
            s = rng.randrange(0, 1000)
            rows.append((k, s, s + rng.randrange(1, 60)))
    got = _dissolve(spark, rows)

    want = []
    by_k = {}
    for k, s, e in rows:
        by_k.setdefault(k, []).append((s, e))
    for k, iv in sorted(by_k.items()):
        iv.sort()
        cs, ce = iv[0]
        for s, e in iv[1:]:
            if s > ce:
                want.append((k, cs, ce))
                cs, ce = s, e
            else:
                ce = max(ce, e)
        want.append((k, cs, ce))
    assert got == sorted(want)


# --- colocation -------------------------------------------------------------


def test_colocation_brute(spark):
    from gipspark.operators.colocation import colocation_pairs

    rng = random.Random(3)
    rows = []
    for uid in range(12):
        for _ in range(30):
            rows.append(
                (
                    uid,
                    rng.randrange(0, 200_000),
                    rng.uniform(-50, 50),
                    rng.uniform(-170, 170),
                )
            )
    df = spark.createDataFrame(rows, "user_id long, t long, lat double, lon double").select(
        "user_id", F.col("t").cast("timestamp").alias("ts"), "lat", "lon"
    )
    out = colocation_pairs(df, grid_deg=30.0, bucket_sec=3600)
    got = sorted((r.id_a, r.id_b, r.n_shared) for r in out.collect())

    import math

    occ = set()
    for uid, t, lat, lon in rows:
        cell = math.floor((lon + 180.0) / 30.0) * 100 + math.floor((90.0 - lat) / 30.0)
        occ.add((uid, cell, t // 3600))
    from collections import Counter

    pairs = Counter()
    by_slot = {}
    for uid, cell, b in occ:
        by_slot.setdefault((cell, b), set()).add(uid)
    for us in by_slot.values():
        us = sorted(us)
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                pairs[(us[i], us[j])] += 1
    want = sorted((a, b, n) for (a, b), n in pairs.items())
    assert got == want


# --- PII scrub --------------------------------------------------------------


def test_pii_regexes(spark):
    from gipspark.queries import _PII_EMAIL, _PII_IP, _PII_PHONE

    df = spark.createDataFrame(
        [
            ("mail me at a.b+c@ex-ample.co.uk now", 1, 0, 0),
            ("server 192.168.0.1 and 10.0.0.255", 0, 2, 0),
            ("call +1-202-555-0147 or +44-20-7946-0958", 0, 0, 2),
            ("no pii here", 0, 0, 0),
            ("a@b.c is too short a tld", 0, 0, 0),
        ],
        "t string, e int, i int, p int",
    )
    got = df.select(
        F.regexp_count("t", F.lit(_PII_EMAIL)).alias("e2"),
        F.regexp_count("t", F.lit(_PII_IP)).alias("i2"),
        F.regexp_count("t", F.lit(_PII_PHONE)).alias("p2"),
        "e",
        "i",
        "p",
    ).collect()
    for r in got:
        assert (r.e2, r.i2, r.p2) == (r.e, r.i, r.p)

"""Viterbi map matching vs a brute-force reference DP + λ-limit laws."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gipspark.operators.distance import _polygon_edges
from gipspark.operators.viterbi import viterbi_match
from gipspark.queries import ORACLE_POLYGONS


def _emissions(polys, lon, lat):
    """Per-state integer-tick distances, same formula as the operator."""
    out = []
    for p in sorted(polys, key=lambda q: int(q["poly_id"])):
        best = None
        for _, _, x1, y1, x2, y2 in _polygon_edges([p]):
            dx, dy = x2 - x1, y2 - y1
            t = max(0.0, min(1.0, ((lon - x1) * dx + (lat - y1) * dy) / (dx * dx + dy * dy)))
            cx, cy = x1 + t * dx, y1 + t * dy
            d2 = (lon - cx) ** 2 + (lat - cy) ** 2
            ticks = int(np.floor(d2 * 1000000.0 + 0.5))
            best = ticks if best is None else min(best, ticks)
        out.append(best)
    return out


def _brute_viterbi(em_rows, lam):
    """Reference DP: smallest state wins argmins, stay beats switch on
    ties — the operator's documented tie-breaks."""
    T, S = len(em_rows), len(em_rows[0])
    dp = [list(em_rows[0])]
    bp = [[0] * S]
    for t in range(1, T):
        prev = dp[-1]
        best = min(prev)
        bidx = prev.index(best)
        row, brow = [], []
        for s in range(S):
            if prev[s] <= best + lam:
                row.append(em_rows[t][s] + prev[s])
                brow.append(s)
            else:
                row.append(em_rows[t][s] + best + lam)
                brow.append(bidx)
        dp.append(row)
        bp.append(brow)
    path = [0] * T
    path[-1] = dp[-1].index(min(dp[-1]))
    for t in range(T - 1, 0, -1):
        path[t - 1] = bp[t][path[t]]
    return path


def _pts(seed=11, n_users=12, n_pings=18):
    rng = np.random.default_rng(seed)
    rows = []
    eid = 0
    for u in range(n_users):
        cx, cy = rng.uniform(-150, 150), rng.uniform(-50, 50)
        for t in range(n_pings):
            rows.append(
                (
                    u,
                    eid,
                    t,
                    float(cy + rng.normal(0, 2.0)),
                    float(cx + rng.normal(0, 2.0)),
                )
            )
            eid += 1
    return rows


LAM = 2_000_000


@pytest.fixture(scope="module")
def matched(spark):
    rows = _pts()
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts long, lat double, lon double")
    res = viterbi_match(df, ORACLE_POLYGONS, switch_cost_ticks=LAM).collect()
    return rows, {r.event_id: r for r in res}


def test_viterbi_matches_brute_dp(matched):
    rows, res = matched
    state_ids = sorted(int(p["poly_id"]) for p in ORACLE_POLYGONS)
    by_user = {}
    for u, eid, t, lat, lon in rows:
        by_user.setdefault(u, []).append((t, eid, lat, lon))
    assert len(res) == len(rows)
    for u, pings in by_user.items():
        pings.sort()
        em = [_emissions(ORACLE_POLYGONS, lon, lat) for _, _, lat, lon in pings]
        path = _brute_viterbi(em, LAM)
        for (t, eid, lat, lon), s in zip(pings, path):
            r = res[eid]
            assert r.matched_poly == state_ids[s], (u, t)
            assert r.raw_poly == state_ids[int(np.argmin(em[pings.index((t, eid, lat, lon))]))]
            assert r.corrected == (r.raw_poly != r.matched_poly)


def test_lambda_zero_degenerates_to_raw(spark):
    df = spark.createDataFrame(
        _pts(seed=3), "user_id long, event_id long, ts long, lat double, lon double"
    )
    res = viterbi_match(df, ORACLE_POLYGONS, switch_cost_ticks=0).collect()
    assert all(r.matched_poly == r.raw_poly for r in res)


def test_huge_lambda_forces_constant_path(spark):
    df = spark.createDataFrame(
        _pts(seed=4), "user_id long, event_id long, ts long, lat double, lon double"
    )
    res = viterbi_match(df, ORACLE_POLYGONS, switch_cost_ticks=1 << 55).collect()
    per_user = {}
    for r in res:
        per_user.setdefault(r.user_id, set()).add(r.matched_poly)
    assert all(len(s) == 1 for s in per_user.values())


def test_flicker_is_corrected(spark):
    """A one-ping disagreement inside a stable run — the case the window
    flicker rule handles — must also be fixed by the DP with a moderate
    λ: Viterbi strictly generalizes the shortcut."""
    polys = [p for p in ORACLE_POLYGONS if p["poly_id"] in (0, 1)]
    # pings hugging poly 0, except ping 2 nudged marginally toward poly 1
    ring0 = polys[0]["rings"][0]
    ring1 = polys[1]["rings"][0]
    ax, ay = ring0[0]
    bx, by = ring1[0]
    rows = []
    for t in range(5):
        if t == 2:
            rows.append((1, t, t, by + 0.01, bx + 0.01))
        else:
            rows.append((1, t, t, ay + 0.01, ax + 0.01))
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts long, lat double, lon double")
    res = {r.event_id: r for r in viterbi_match(df, polys, switch_cost_ticks=10**12).collect()}
    assert res[2].raw_poly != res[0].raw_poly  # the flicker is real
    assert res[2].matched_poly == res[0].matched_poly  # and corrected
    assert res[2].corrected


def test_partitioning_invariant(spark):
    rows = _pts(seed=9, n_users=6, n_pings=10)
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts long, lat double, lon double")
    a = sorted(
        (r.event_id, r.matched_poly)
        for r in viterbi_match(df, ORACLE_POLYGONS, switch_cost_ticks=LAM).collect()
    )
    b = sorted(
        (r.event_id, r.matched_poly)
        for r in viterbi_match(
            df.repartition(7, "lat"), ORACLE_POLYGONS, switch_cost_ticks=LAM
        ).collect()
    )
    assert a == b

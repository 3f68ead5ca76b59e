"""Viterbi map matching: per-user min-cost state path over a feature set.

The full-HMM tier above map_match_smooth_events' flicker rule (VERDICT
r3 next-round #4): the flicker rule fixes one-ping disagreements, the
Viterbi DP picks the GLOBALLY cheapest feature sequence when traces are
genuinely noisy — runs of misassigned pings, oscillation between two
nearby features, noise bursts longer than one ping.

Model (integer costs end to end, so the DP is exact and replayable):

- states: the polygon features of a dim-sized layer (the same
  "candidate roads/admin zones" contract as the snap family — states
  are bounded, points are not);
- emission cost of ping t in state s: the squared planar distance from
  the ping to polygon s's nearest boundary edge, in integer
  1e-6-degree² ticks from operators/distance.py's one tick expression
  over its one edge list (quantize-then-min);
- transition cost: 0 to stay, ``switch_cost_ticks`` to change feature —
  the standard constant-penalty HMM that trades emission slack against
  trajectory stability; λ=0 degenerates to per-ping nearest (raw), a
  huge λ to one constant feature per user.

Plan shape: the per-state emission vector is ONE array column of
per-poly least-trees — narrow, whole-stage codegen, no join, no
shuffle (the nearest_edge fold, widened per state). The only shuffle is
the groupBy on the user key; the DP runs in ONE mapInPandas stage
vectorized ACROSS the user batch (the frechet_pairs batching pattern:
pad to a (batch, T, S) int64 tensor, T·S NumPy updates over the whole
batch, full dp history kept so each user backtracks from its own last
ping). Ties break deterministically: smallest state id wins every
argmin, staying beats switching at equal cost.

``pts`` must be CAPPED per user (same contract as frechet/hausdorff —
the hottest user bounds the task, not the table). Non-SQL-expressible
(sequential DP recurrence) → rows-only in the driver harness;
correctness is pinned by the brute-DP pytest plus the λ-limit
properties (tests/test_viterbi.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gipspark.operators.distance import _lit_ticks, _polygon_edges


def _poly_ticks(px, py, poly: dict) -> "F.Column":
    """Min integer-tick distance to one polygon's edges — the
    least-tree's tick expression (operators.distance._edge_ticks)."""
    cands = [_lit_ticks(px, py, *e[2:]) for e in _polygon_edges([poly])]
    return F.least(*cands) if len(cands) > 1 else cands[0]


def viterbi_match(
    points: DataFrame,
    polygons: list[dict],
    switch_cost_ticks: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(user_id, event_id, raw_poly, matched_poly, corrected) per ping.

    raw_poly is the per-ping emission argmin (ties → smaller poly_id —
    identical to nearest_edge's winner); matched_poly is the Viterbi
    state; corrected = (raw != matched).
    """
    polys = sorted(polygons, key=lambda p: int(p["poly_id"]))
    state_ids = [int(p["poly_id"]) for p in polys]
    if len(set(state_ids)) != len(state_ids):
        raise ValueError("viterbi_match: poly_id values must be unique")
    px, py = F.col(lon_col), F.col(lat_col)
    em = F.array(*[_poly_ticks(px, py, p) for p in polys])
    obs = points.select(
        F.col(user_col).alias("u"),
        F.struct(
            F.col(ts_col).alias("ts"),
            F.col(id_col).cast("long").alias("pid"),
            em.alias("em"),
        ).alias("s"),
    )
    traj = obs.groupBy("u").agg(F.array_sort(F.collect_list("s")).alias("tr"))
    seq = traj.select(
        "u", F.col("tr.pid").alias("pids"), F.col("tr.em").alias("ems")
    )

    lam = np.int64(switch_cost_ticks)
    sid = np.asarray(state_ids, dtype=np.int64)
    S = len(sid)

    def dp_batches(it):
        for pdf in it:
            if pdf.empty:
                continue
            b = len(pdf)
            lens = pdf["pids"].map(len).to_numpy(np.int64)
            T = int(lens.max())
            em = np.zeros((b, T, S), np.int64)
            pid = np.zeros((b, T), np.int64)
            for r in range(b):  # pack: O(rows), not O(rows·T·S)
                em[r, : lens[r]] = np.asarray(list(pdf["ems"].iloc[r]), np.int64)
                pid[r, : lens[r]] = pdf["pids"].iloc[r]
            dp = np.empty((b, T, S), np.int64)
            bp = np.empty((b, T, S), np.int64)
            dp[:, 0] = em[:, 0]
            states = np.arange(S, dtype=np.int64)[None, :]
            for t in range(1, T):
                prev = dp[:, t - 1]
                best_val = prev.min(axis=1)
                best_idx = prev.argmin(axis=1)  # first min = smallest state
                switch = best_val + lam
                stay_wins = prev <= switch[:, None]  # tie → stay
                dp[:, t] = em[:, t] + np.where(stay_wins, prev, switch[:, None])
                bp[:, t] = np.where(stay_wins, states, best_idx[:, None])
            # backtrack each user from ITS last ping; raw = per-ping argmin
            out_u, out_p, out_raw, out_m = [], [], [], []
            for r in range(b):
                n = int(lens[r])
                path = np.empty(n, np.int64)
                path[n - 1] = dp[r, n - 1].argmin()
                for t in range(n - 1, 0, -1):
                    path[t - 1] = bp[r, t, path[t]]
                out_u.append(np.full(n, pdf["u"].iloc[r]))
                out_p.append(pid[r, :n])
                out_raw.append(sid[em[r, :n].argmin(axis=1)])
                out_m.append(sid[path])
            raw = np.concatenate(out_raw)
            matched = np.concatenate(out_m)
            yield pd.DataFrame(
                {
                    "user_id": np.concatenate(out_u),
                    "event_id": np.concatenate(out_p),
                    "raw_poly": raw,
                    "matched_poly": matched,
                    "corrected": raw != matched,
                }
            )

    schema = (
        "user_id long, event_id long, raw_poly long, matched_poly long, corrected boolean"
    )
    return seq.mapInPandas(dp_batches, schema)

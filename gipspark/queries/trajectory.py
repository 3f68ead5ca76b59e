"""Registry family: trajectory (split from the single-file registry; query names and behavior unchanged)."""

from __future__ import annotations

from gipspark.queries._base import (  # noqa: F401
    C,
    D,
    F,
    HAVERSINE_SQL,
    ORACLE_POLYGONS,
    T,
    Window,
    _LAT,
    _LON,
    load,
    register,
    table_rows,
)
from gipspark.queries._shared import (  # noqa: F401
    _COOC_CAP,
    _DTW_COST,
    _DTW_INF,
    _DTW_MAXLEN,
    _DTW_USERS,
    _FT_SUP,
    _HAUS_K,
    _HAUS_W,
    _MOTIF_CAP,
    _MOTIF_GRID,
    _MOTIF_W,
    _PR_EDGE_DST,
    _PR_N,
    _TELEPORT_MMS,
    _TM_FAST,
    _TM_SLOW,
    _UNI_POINTS,
    _map_match_oracle,
    _segment_crossing_sql,
)



@register(
    "trajectory_user_stats",
    f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), steps0 AS (
  SELECT user_id, lat, lon,
         lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
         lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon
  FROM pts
), steps AS (
  SELECT user_id,
         cast(round({HAVERSINE_SQL.format(lat1='plat', lon1='plon', lat2='lat', lon2='lon')}, 0) as bigint) AS step_m
  FROM steps0
)
SELECT user_id, count(*) AS n_events,
       cast(coalesce(sum(step_m), 0) as bigint) AS path_m,
       cast(coalesce(max(step_m), 0) as bigint) AS max_step_m
FROM steps GROUP BY user_id
""",
)
def trajectory_user_stats(spark, sf_dir):
    """Per-user trajectory profile (GPS-telemetry shape): order each
    user's events by time, lag to the previous fix, per-step haversine
    rounded to whole meters (coarse tick per module convention), then
    exact integer sums. One shuffle on user_id shared by the window and
    the aggregate — Catalyst reuses the partitioning, so the plan is
    sort → window → partial/final agg with no second exchange."""
    from gipspark.geo.haversine import haversine_col

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "ts", "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = pts.select(
        "user_id",
        F.round(
            haversine_col(
                F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
            ),
            0,
        ).cast("long").alias("step_m"),
    )
    return steps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.coalesce(F.sum("step_m"), F.lit(0)).cast("long").alias("path_m"),
        F.coalesce(F.max("step_m"), F.lit(0)).cast("long").alias("max_step_m"),
    )



@register("trajectory_simplify", None)
def trajectory_simplify(spark, sf_dir):
    """Douglas-Peucker trajectory simplification (ST_Simplify) over
    per-user event polylines at eps=5° — rows-only by design (RDP's
    recursive farthest-point split is not SQL-expressible; DuckDB has
    no ST_Simplify in-sandbox). Correctness is pinned by
    tests/test_trajectory.py: bit-equality with an independent pure-
    Python recursive reference, partitioning invariance, eps
    monotonicity, and endpoint retention. Deterministic: per-user
    sort key (ts, event_id) is total, kernel is order-stable."""
    from gipspark.operators.trajectory import simplify_trajectories

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    return simplify_trajectories(pts, eps=5.0)



@register("segment_crossing_events", _segment_crossing_sql())
def segment_crossing_events(spark, sf_dir):
    """Exact fence-boundary crossings (linestring × polygon-edge
    intersection join, operators/crossing.py): per movement step, the
    edges it properly pierces — catches sparse-trajectory pass-throughs
    that PIP state-flip detection (geofence_transitions) cannot. One
    window shuffle; fences ride as a broadcast literal edge array."""
    from gipspark.operators.crossing import segment_crossings

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    x = segment_crossings(pts, ORACLE_POLYGONS)
    return x.groupBy("user_id", F.col("poly_id").cast("long").alias("poly_id")).agg(
        F.count("*").alias("n_crossings")
    )



@register(
    "circuity_user",
    f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), steps0 AS (
  SELECT user_id, lat, lon,
         lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
         lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon
  FROM pts
), path AS (
  SELECT user_id,
         cast(coalesce(sum(cast(round({HAVERSINE_SQL.format(lat1='plat', lon1='plon', lat2='lat', lon2='lon')}, 0) as bigint)), 0) as bigint) AS path_m
  FROM steps0 WHERE plat IS NOT NULL GROUP BY user_id
), ends0 AS (
  SELECT user_id, lat, lon,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
  FROM pts
), ends AS (
  SELECT f.user_id, f.lat AS flat, f.lon AS flon, l.lat AS llat, l.lon AS llon
  FROM (SELECT * FROM ends0 WHERE ra = 1) f
  JOIN (SELECT * FROM ends0 WHERE rd = 1) l USING (user_id)
), direct AS (
  SELECT user_id,
         cast(round({HAVERSINE_SQL.format(lat1='flat', lon1='flon', lat2='llat', lon2='llon')}, 0) as bigint) AS direct_m
  FROM ends
)
SELECT p.user_id, p.path_m, d.direct_m,
       CASE WHEN d.direct_m = 0 THEN NULL
            ELSE cast(p.path_m as double) / cast(d.direct_m as double) END AS circuity
FROM path p JOIN direct d USING (user_id)
""",
)
def circuity_user(spark, sf_dir):
    """Circuity (route-directness) per user: traveled path length over
    straight-line displacement between the first and last fix — the
    standard mobility detour index (1 = beeline). Path and displacement
    are whole-meter haversine ticks (module convention: round before
    summing so libm ulps can't drift a parallel sum); endpoints come
    from min_by/max_by on the (ts, event_id) struct — one aggregate,
    no first/last self-join on the Spark side (the oracle keeps the
    independent row_number formulation)."""
    from gipspark.geo.haversine import haversine_col

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = pts.select(
        "user_id",
        F.round(
            haversine_col(F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")),
            0,
        ).cast("long").alias("step_m"),
    )
    path = steps.groupBy("user_id").agg(
        F.coalesce(F.sum("step_m"), F.lit(0)).cast("long").alias("path_m")
    )
    ends = pts.groupBy("user_id").agg(
        F.min_by(F.struct("lat", "lon"), F.struct("ts", "event_id")).alias("f"),
        F.max_by(F.struct("lat", "lon"), F.struct("ts", "event_id")).alias("l"),
    )
    direct = ends.select(
        "user_id",
        F.round(
            haversine_col(F.col("f.lat"), F.col("f.lon"), F.col("l.lat"), F.col("l.lon")), 0
        ).cast("long").alias("direct_m"),
    )
    return path.join(direct, "user_id").select(
        "user_id",
        "path_m",
        "direct_m",
        F.when(F.col("direct_m") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("path_m").cast("double") / F.col("direct_m").cast("double"))
        .alias("circuity"),
    )



# ---------------------------------------------------------------------------
# round-2 batch 13: mobility OD flows, time-weighted average, Pareto skyline
# ---------------------------------------------------------------------------


@register(
    "od_matrix_daily",
    f"""
WITH raw AS (
  SELECT user_id, ts, event_id,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), pts AS (
  SELECT user_id, ts, event_id, cast(ts as date) AS day,
         cast(floor((lon + 180.0) / 10.0) as int) * 100
           + cast(floor((90.0 - lat) / 10.0) as int) AS cell
  FROM raw
), ranked AS (
  SELECT user_id, day, cell,
         row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM pts
)
SELECT o.cell AS origin, d.cell AS dest, count(*) AS n_trips
FROM (SELECT user_id, day, cell FROM ranked WHERE rn_a = 1) o
JOIN (SELECT user_id, day, cell FROM ranked WHERE rn_d = 1) d
  USING (user_id, day)
GROUP BY origin, dest
""",
)
def od_matrix_daily(spark, sf_dir):
    """Origin–destination flow matrix (the mobility-analytics staple):
    per (user, day), origin = cell of the first fix, destination = cell
    of the last, then flows aggregate per (origin, dest). The Spark
    side uses min_by/max_by on the (ts, event_id) struct — ONE
    map-side-combinable aggregate over the big table (no windows, no
    self-join: an earlier two-window formulation planned 4 exchanges +
    4 sorts because each join branch recomputed its window) — plus one
    tiny hash agg on the OD pair. The oracle keeps the independent
    row_number formulation of the same semantics."""
    ev = load(spark, sf_dir, "events")
    lat = C.derived_lat(F.col("event_id"))
    lon = C.derived_lon(F.col("event_id"))
    pts = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.struct("ts", "event_id").alias("ord"),
        (
            F.floor((lon + F.lit(180.0)) / F.lit(10.0)).cast("int") * 100
            + F.floor((F.lit(90.0) - lat) / F.lit(10.0)).cast("int")
        ).alias("cell"),
    )
    od = pts.groupBy("user_id", "day").agg(
        F.min_by("cell", F.col("ord")).alias("origin"),
        F.max_by("cell", F.col("ord")).alias("dest"),
    )
    return od.groupBy("origin", "dest").agg(F.count("*").alias("n_trips"))



@register("map_match_smooth_events", _map_match_oracle())
def map_match_smooth_events(spark, sf_dir):
    """Map-matching with sequence smoothing: snap every ping to its
    nearest boundary (the nearest_edge broadcast-fold — narrow, no
    shuffle), then fix one-ping flickers per user trajectory: if the
    previous and next pings matched the same feature and the current
    one disagrees, adopt the neighbors' match (the window-expressible
    core of HMM map matching — the full Viterbi adds transition
    probabilities, but the flicker rule is what correct 90%+ of real
    GPS jitter needs). One window shuffle on user_id after the narrow
    snap stage."""
    from gipspark.operators.distance import nearest_edge

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "user_id",
        "ts",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    ne = nearest_edge(pts, ORACLE_POLYGONS, key_col="event_id").select(
        "user_id", "ts", "event_id", F.col("nearest_poly").alias("raw_poly")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sm = ne.select(
        "user_id",
        "event_id",
        "raw_poly",
        F.lag("raw_poly").over(w).alias("pv"),
        F.lead("raw_poly").over(w).alias("nx"),
    )
    fix = (
        F.col("pv").isNotNull()
        & F.col("nx").isNotNull()
        & (F.col("pv") == F.col("nx"))
        & (F.col("raw_poly") != F.col("pv"))
    )
    return sm.select(
        "user_id",
        "event_id",
        "raw_poly",
        F.when(fix, F.col("pv")).otherwise(F.col("raw_poly")).alias("matched_poly"),
        fix.alias("corrected"),
    )



def _frechet_oracle_sql() -> str:
    """Recursive-CTE antidiagonal discrete-Fréchet mirror (round 5, the
    DTW-mirror technique generalized): dp[i,j] = max(d²[i,j],
    min(dp[i−1,j], dp[i,j−1], dp[i−1,j−1])) over integer tick coords,
    waves carried as list columns, same index arithmetic as the engine
    fold family. Verified bit-identical on all 11,107 blocked pairs at
    sf0.01 before wiring in."""
    from gipspark.queries._shared import _HAUS_K, _HAUS_W

    inf = f"cast({10**15} as bigint)"
    d2 = (
        "(lata[i]-latb[(d + 1) + 1 - i])*(lata[i]-latb[(d + 1) + 1 - i])"
        " + (lona[i]-lonb[(d + 1) + 1 - i])*(lona[i]-lonb[(d + 1) + 1 - i])"
    )
    d2_11 = "(lata[1]-latb[1])*(lata[1]-latb[1]) + (lona[1]-lonb[1])*(lona[1]-lonb[1])"
    return f"""
WITH RECURSIVE capped AS (
  SELECT user_id, ts, event_id,
         ((cast(event_id as bigint) * 48271) % 120000) - 60000 AS la,
         ((cast(event_id as bigint) * 69621) % 360000) - 180000 AS lo,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), fpts AS (SELECT * FROM capped WHERE rn <= {_HAUS_K}),
traj AS (
  SELECT user_id,
         list_transform(list_sort(list({{'t': ts, 'e': event_id, 'v': la}})), x -> x.v) AS lats,
         list_transform(list_sort(list({{'t': ts, 'e': event_id, 'v': lo}})), x -> x.v) AS lons
  FROM fpts GROUP BY user_id
), gcells AS (
  SELECT DISTINCT user_id AS u, cast(floor(la / {float(_HAUS_W)}) as bigint) AS cx,
         cast(floor(lo / {float(_HAUS_W)}) as bigint) AS cy
  FROM fpts
), cand AS (
  SELECT DISTINCT a.u AS ua, b.u AS ub
  FROM gcells a JOIN gcells b ON a.cx = b.cx AND a.cy = b.cy AND a.u < b.u
), pairs AS (
  SELECT ua AS u1, ub AS u2, ta.lats AS lata, ta.lons AS lona,
         tb.lats AS latb, tb.lons AS lonb,
         len(ta.lats) AS n1, len(tb.lats) AS n2
  FROM cand
  JOIN traj ta ON ta.user_id = ua
  JOIN traj tb ON tb.user_id = ub
), dp AS (
  SELECT u1, u2, lata, lona, latb, lonb, n1, n2, 1 AS d,
         [{d2_11}] AS prev, cast([] as bigint[]) AS prev2
  FROM pairs
  UNION ALL
  SELECT u1, u2, lata, lona, latb, lonb, n1, n2, d + 1,
         list_transform(
           generate_series(greatest(1, (d + 1) + 1 - n2), least(n1, d + 1)),
           i -> greatest({d2}, least(
       coalesce(CASE WHEN (i - greatest(1, (d + 1) - n2)) >= 1
                     AND (i - greatest(1, (d + 1) - n2)) <= len(prev)
                     THEN prev[i - greatest(1, (d + 1) - n2)] END, {inf}),
       coalesce(CASE WHEN (i + 1 - greatest(1, (d + 1) - n2)) >= 1
                     AND (i + 1 - greatest(1, (d + 1) - n2)) <= len(prev)
                     THEN prev[i + 1 - greatest(1, (d + 1) - n2)] END, {inf}),
       coalesce(CASE WHEN (i - greatest(1, (d + 1) - 1 - n2)) >= 1
                     AND (i - greatest(1, (d + 1) - 1 - n2)) <= len(prev2)
                     THEN prev2[i - greatest(1, (d + 1) - 1 - n2)] END, {inf})))),
         prev
  FROM dp WHERE d + 1 <= n1 + n2 - 1
)
SELECT u1 AS user_a, u2 AS user_b,
       cast(n1 as bigint) AS n_a, cast(n2 as bigint) AS n_b,
       cast(prev[n1 - greatest(1, (n1 + n2) - n2) + 1] as bigint) AS d2_frechet
FROM dp WHERE d = n1 + n2 - 1
ORDER BY user_a, user_b
"""


@register("frechet_traj_pairs", _frechet_oracle_sql())
def frechet_traj_pairs(spark, sf_dir):
    """Discrete Fréchet distance between blocked user-trajectory pairs
    — the order-aware companion to hausdorff_traj_pairs (same cap, same
    cell blocking, same exact integer ticks): opposite-direction routes
    that Hausdorff calls identical are Fréchet-far. The K×K dynamic
    program runs in one mapInPandas stage vectorized ACROSS the pair
    batch (padded tick tensors, K² NumPy updates over the whole batch —
    no per-pair Python loop). Round 5 made this a BIT-EXACT oracle
    query: the recursive-CTE antidiagonal mirror (the dtw technique)
    replays the DP in DuckDB, on top of the standing brute-force-DP
    pytest and the dF ≥ Hausdorff cross-operator bound."""
    from gipspark.operators.trajectory import frechet_pairs

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            ((F.col("event_id").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD) - F.lit(60000)).alias("la"),
            ((F.col("event_id").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD) - F.lit(180000)).alias("lo"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HAUS_K)
    )
    return frechet_pairs(pts, block_w=_HAUS_W)



# ---------------------------------------------------------------------------
# round-4 batch: Viterbi map matching (full-HMM tier over the flicker rule)
# ---------------------------------------------------------------------------


def _viterbi_oracle_sql() -> str:
    """Recursive-CTE Viterbi mirror (round 5): TWO chained recursions —
    a forward pass carrying the S-state cost vector plus the
    backpointer HISTORY as a list-of-lists, then a backward pass
    prepending one path state per step from that history. Emission
    reuses snap_to_edge_sql's textual clamp-projection ticks (min per
    polygon); stay-vs-switch and first-min argmin tie-breaks are
    transliterated from operators/viterbi.py's NumPy DP. Verified
    bit-identical on all 10,000 (user, ping) rows (2 of which the DP
    genuinely corrects, so the path machinery is exercised)."""
    from gipspark.operators.distance import _polygon_edges, _proj_sql
    from gipspark.queries._base import ORACLE_POLYGONS

    lam = 2_000_000
    S = len(ORACLE_POLYGONS)
    vals = ", ".join(
        f"({pid}, {i}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for pid, i, x1, y1, x2, y2 in _polygon_edges(ORACLE_POLYGONS)
    )
    t_expr, d2 = _proj_sql("lat", "lon")
    return f"""
WITH RECURSIVE edges(poly_id, edge_idx, x1, y1, x2, y2) AS (VALUES {vals}),
pts AS (
  SELECT user_id, event_id, ts,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), proj AS (
  SELECT p.user_id, p.event_id, p.ts, e.poly_id, lat, lon,
         x1 + {t_expr} * (x2 - x1) AS cx,
         y1 + {t_expr} * (y2 - y1) AS cy
  FROM pts p CROSS JOIN edges e
), em0 AS (
  SELECT user_id, event_id, ts, poly_id,
         min(cast(round({d2} * 1000000.0, 0) as bigint)) AS em
  FROM proj GROUP BY user_id, event_id, ts, poly_id
), emv AS (
  SELECT user_id, event_id, ts,
         list_transform(list_sort(list({{'p': poly_id, 'e': em}})), x -> x.e) AS em
  FROM em0 GROUP BY user_id, event_id, ts
), seq AS (
  SELECT user_id,
         list_transform(list_sort(list({{'t': ts, 'pid': event_id, 'em': em}})), x -> x.pid) AS pids,
         list_transform(list_sort(list({{'t': ts, 'pid': event_id, 'em': em}})), x -> x.em) AS ems,
         len(list(event_id)) AS n
  FROM emv GROUP BY user_id
), fw AS (
  SELECT user_id, pids, ems, n, 1 AS t, ems[1] AS dp,
         cast([] as bigint[][]) AS bps
  FROM seq
  UNION ALL
  SELECT user_id, pids, ems, n, t + 1,
         list_transform(generate_series(1, {S}), s ->
           ems[t + 1][s] + CASE WHEN dp[s] <= list_min(dp) + {lam}
                                THEN dp[s] ELSE list_min(dp) + {lam} END),
         list_append(bps, list_transform(generate_series(1, {S}), s ->
           CASE WHEN dp[s] <= list_min(dp) + {lam}
                THEN cast(s - 1 as bigint)
                ELSE cast(list_position(dp, list_min(dp)) - 1 as bigint) END))
  FROM fw WHERE t + 1 <= n
), bw AS (
  SELECT user_id, pids, ems, bps, n, n AS t,
         cast(list_position(dp, list_min(dp)) - 1 as bigint) AS cur,
         [cast(list_position(dp, list_min(dp)) - 1 as bigint)] AS path
  FROM fw WHERE t = n
  UNION ALL
  SELECT user_id, pids, ems, bps, n, t - 1,
         bps[t - 1][cur + 1],
         list_prepend(bps[t - 1][cur + 1], path)
  FROM bw WHERE t - 1 >= 1
), done AS (
  SELECT user_id, pids, ems, path FROM bw WHERE t = 1
), rows_out AS (
  SELECT user_id, pids, ems, path, unnest(generate_series(1, len(pids))) AS i
  FROM done
)
SELECT user_id, pids[i] AS event_id,
       cast(list_position(ems[i], list_min(ems[i])) - 1 as bigint) AS raw_poly,
       path[i] AS matched_poly,
       (list_position(ems[i], list_min(ems[i])) - 1) != path[i] AS corrected
FROM rows_out ORDER BY user_id, event_id
"""


@register("viterbi_map_match_events", _viterbi_oracle_sql())
def viterbi_map_match_events(spark, sf_dir):
    """Full Viterbi map matching over per-user ping sequences: emission
    = integer-tick distance to each candidate feature's boundary (the
    nearest_edge fold widened per state, all codegen), transition = a
    constant switch penalty, per-user min-cost path via the batched
    mapInPandas DP (operators/viterbi.py). The tier above
    map_match_smooth_events' window flicker rule — corrects runs and
    oscillations, not just one-ping blips. Round 5 made this a
    BIT-EXACT oracle query: a forward recursive CTE carries the state
    cost vector + backpointer history, a backward one replays the
    path (_viterbi_oracle_sql) — on top of the brute-DP pytest and the
    λ-limit laws (λ=0 ≡ raw nearest, λ→∞ ≡ one feature per user) in
    tests/test_viterbi.py. NOTE the oracle relies on ORACLE_POLYGONS'
    poly_ids being exactly 0..S−1 in sorted order (state index ==
    poly_id), which viterbi_match's sorted state list guarantees
    here."""
    from gipspark.operators.viterbi import viterbi_match

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "user_id",
        "ts",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    return viterbi_match(pts, ORACLE_POLYGONS, switch_cost_ticks=2_000_000)



@register(
    "frequent_triples_docs",
    rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents
), dt AS (
  SELECT DISTINCT doc_id, w FROM toks WHERE regexp_full_match(w, '[a-z]{{3,}}')
), capped AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY w) AS rn FROM dt
  ) WHERE rn <= {_COOC_CAP}
), fp AS (
  SELECT a.w AS w1, b.w AS w2
  FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w HAVING count(*) >= {_FT_SUP}
), tri AS (
  SELECT a.w AS w1, b.w AS w2, c.w AS w3
  FROM capped a
  JOIN capped b ON a.doc_id = b.doc_id AND a.w < b.w
  JOIN capped c ON b.doc_id = c.doc_id AND b.w < c.w
  JOIN fp f1 ON f1.w1 = a.w AND f1.w2 = b.w
  JOIN fp f2 ON f2.w1 = a.w AND f2.w2 = c.w
  JOIN fp f3 ON f3.w1 = b.w AND f3.w2 = c.w
)
SELECT w1, w2, w3, support FROM (
  SELECT w1, w2, w3, cast(count(*) as bigint) AS support FROM tri GROUP BY w1, w2, w3
) WHERE support >= {_FT_SUP}
ORDER BY support DESC, w1, w2, w3 LIMIT 100
""",
)
def frequent_triples_docs(spark, sf_dir):
    """Frequent 3-itemsets with the A-Priori candidate prune — the
    market-basket tier above cooccurrence_pairs_docs' pairs. The
    distributed-Apriori shape is the point: frequent pairs are counted
    first, and the cubic triple expansion is gated by THREE semi-joins
    against that pair set (downward closure: a triple can only be
    frequent if all three of its pairs are), so on a real corpus the
    candidate stream shrinks by orders of magnitude before the big
    agg. Per-doc candidates are already bounded by the same
    {_COOC_CAP}-term cap as the pair op (≤C({_COOC_CAP},3)=220 triple
    instances per doc — linear in the corpus); the frequent-pair set
    rides as a broadcast. Top-100 with full tie-breaks plans as
    TakeOrderedAndProject."""
    d = load(spark, sf_dir, "documents")
    dt = (
        d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").rlike("^[a-z]{3,}$"))
        .distinct()
    )
    wcap = Window.partitionBy("doc_id").orderBy("w")
    capped = (
        dt.withColumn("rn", F.row_number().over(wcap))
        .filter(F.col("rn") <= _COOC_CAP)
        .select("doc_id", "w")
    )
    a = capped.select("doc_id", F.col("w").alias("w1"))
    b = capped.select("doc_id", F.col("w").alias("w2"))
    c = capped.select("doc_id", F.col("w").alias("w3"))
    fp = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _FT_SUP)
        .select("w1", "w2")
    )
    tri = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .join(c, "doc_id")
        .filter(F.col("w2") < F.col("w3"))
        .join(F.broadcast(fp), ["w1", "w2"])
        .join(F.broadcast(fp.select(F.col("w1"), F.col("w2").alias("w3"))), ["w1", "w3"])
        .join(F.broadcast(fp.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"))), ["w2", "w3"])
    )
    return (
        tri.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _FT_SUP)
        .orderBy(F.desc("support"), "w1", "w2", "w3")
        .limit(100)
    )



@register(
    "motif_discovery_daily",
    f"""
WITH pts AS (
  SELECT epoch_us(ts) // 1000000 // 86400 AS d, cast(count(*) as bigint) AS y
  FROM events GROUP BY d
), idx AS (
  SELECT d, y, cast(row_number() OVER (ORDER BY d) as bigint) AS i FROM pts
), win AS (
  SELECT a.i AS w0,
         list(b.y ORDER BY b.i) AS v
  FROM idx a JOIN idx b ON b.i BETWEEN a.i AND a.i + {_MOTIF_W - 1}
  GROUP BY a.i HAVING count(*) = {_MOTIF_W}
), pairs AS (
  SELECT x.w0 AS wa, y.w0 AS wb,
         cast(list_reduce(list_transform(generate_series(1, {_MOTIF_W}),
                          j -> abs(x.v[j] - y.v[j])), (acc, e) -> acc + e) as bigint) AS l1
  FROM win x JOIN win y ON y.w0 >= x.w0 + {_MOTIF_W}
), best AS (
  SELECT wa, min(l1) AS min_l1 FROM pairs GROUP BY wa
)
SELECT b.wa AS window_start, b.min_l1,
       cast(min(p.wb) as bigint) AS nn_window,
       cast(row_number() OVER (ORDER BY b.min_l1, b.wa) as int) AS motif_rank
FROM best b JOIN pairs p ON p.wa = b.wa AND p.l1 = b.min_l1
GROUP BY b.wa, b.min_l1
QUALIFY motif_rank <= 5
""",
)
def motif_discovery_daily(spark, sf_dir):
    """Matrix-profile-style motif discovery over the daily event
    series: every 4-day window's nearest NON-OVERLAPPING window by L1
    distance (the trivial-match exclusion zone — overlapping windows
    always look similar), top-5 motif pairs ranked by distance. L1 on
    integer counts is exact; windows come from one self band-join on
    the calendar index (dim-scale: the pair kernel is days², never
    events²). The repeated-pattern detector behind bot-schedule and
    weekly-rhythm mining."""
    ev = load(spark, sf_dir, "events").select(
        F.expr("unix_timestamp(ts) div 86400").alias("d")
    )
    pts = ev.groupBy("d").agg(F.count("*").cast("long").alias("y"))
    w_i = Window.orderBy("d")
    idx = pts.select("d", "y", F.row_number().over(w_i).cast("long").alias("i"))
    a = idx.alias("a")
    b = idx.alias("b")
    win = (
        a.join(
            b,
            (F.col("b.i") >= F.col("a.i")) & (F.col("b.i") <= F.col("a.i") + (_MOTIF_W - 1)),
        )
        .groupBy(F.col("a.i").alias("w0"))
        .agg(
            F.array_sort(F.collect_list(F.struct(F.col("b.i").alias("i"), F.col("b.y").alias("y")))).alias("sv"),
            F.count("*").alias("cnt"),
        )
        .filter(F.col("cnt") == _MOTIF_W)
        .select("w0", F.transform(F.col("sv"), lambda s: s["y"]).alias("v"))
    )
    x = win.alias("x")
    y = win.alias("y")
    pairs = x.join(y, F.col("y.w0") >= F.col("x.w0") + _MOTIF_W).select(
        F.col("x.w0").alias("wa"),
        F.col("y.w0").alias("wb"),
        F.aggregate(
            F.zip_with(F.col("x.v"), F.col("y.v"), lambda p, q: F.abs(p - q)),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        ).alias("l1"),
    )
    best = pairs.groupBy("wa").agg(F.min("l1").alias("min_l1"))
    joined = best.join(
        pairs.select(F.col("wa").alias("pwa"), "wb", F.col("l1").alias("pl1")),
        (F.col("pwa") == F.col("wa")) & (F.col("pl1") == F.col("min_l1")),
    ).groupBy("wa", "min_l1").agg(F.min("wb").cast("long").alias("nn_window"))
    w_rank = Window.orderBy("min_l1", "window_start")
    return (
        joined.select(F.col("wa").alias("window_start"), "min_l1", "nn_window")
        .withColumn("motif_rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("motif_rank") <= 5)
    )



@register(
    "speed_profile_user",
    f"""
WITH pts AS (
  SELECT user_id, event_id, ts,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), seq AS (
  SELECT user_id, lat, lon, ts,
         lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
         lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM pts
), legs AS (
  SELECT user_id,
         cast(round({HAVERSINE_SQL.format(lat1='plat', lon1='plon', lat2='lat', lon2='lon')}, 0)
              as bigint) AS step_m,
         epoch_us(ts) // 1000000 - epoch_us(prev_ts) // 1000000 AS dt_s
  FROM seq WHERE plat IS NOT NULL
), sp AS (
  SELECT user_id, step_m, dt_s,
         CASE WHEN dt_s > 0 THEN step_m * 1000 // dt_s END AS speed_mms
  FROM legs
)
SELECT user_id, cast(count(*) as bigint) AS n_legs,
       cast(sum(step_m) as bigint) AS dist_m,
       cast(sum(dt_s) as bigint) AS dur_s,
       cast(coalesce(max(speed_mms), 0) as bigint) AS max_speed_mms,
       cast(count(CASE WHEN speed_mms > {_TELEPORT_MMS} THEN 1 END) as bigint) AS n_teleports
FROM sp GROUP BY user_id
""",
)
def speed_profile_user(spark, sf_dir):
    """Per-user speed profile + teleport QA — the mobility-data
    cleaning pass that runs BEFORE any trajectory analytics (a fix
    sequence with 200 km/h jumps is a device glitch or an account
    shared across devices, and every downstream dwell/turn/circuity
    stat is poisoned by it): legs from one (ts, event_id) lag window,
    whole-meter haversine ticks over floor-second gaps, speed as
    exact mm/s floor division (zero-gap legs yield NULL speed, never
    a division error), teleport = faster than 55 m/s. Same
    one-shuffle window→agg shape as trajectory_user_stats; the speed
    math is pure codegen arithmetic."""
    from gipspark.geo.haversine import haversine_col

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    legs = pts.select(
        "user_id",
        F.round(
            haversine_col(F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")),
            0,
        )
        .cast("long")
        .alias("step_m"),
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("dt_s"),
    ).filter(F.col("step_m").isNotNull())
    sp = legs.withColumn(
        "speed_mms", F.when(F.col("dt_s") > 0, F.expr("(step_m * 1000) div dt_s"))
    )
    return sp.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_legs"),
        F.sum("step_m").cast("long").alias("dist_m"),
        F.sum("dt_s").cast("long").alias("dur_s"),
        F.coalesce(F.max("speed_mms"), F.lit(0)).cast("long").alias("max_speed_mms"),
        F.count(F.when(F.col("speed_mms") > _TELEPORT_MMS, True)).cast("long").alias("n_teleports"),
    )



@register(
    "ffl_motif_links",
    f"""
WITH edges AS (
  SELECT DISTINCT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
), e AS (SELECT src, dst FROM edges WHERE src != dst),
path2 AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e e1 JOIN e e2 ON e1.dst = e2.src
  WHERE e1.src != e2.dst
), ffl AS (
  SELECT cast(count(*) as bigint) AS n_ffl
  FROM path2 p JOIN e e3 ON p.a = e3.src AND p.c = e3.dst
), cyc AS (
  SELECT cast(count(*) as bigint) AS n_cycle3
  FROM path2 p JOIN e e3 ON p.c = e3.src AND p.a = e3.dst
), p2 AS (
  SELECT cast(count(*) as bigint) AS n_path2 FROM path2
)
SELECT p2.n_path2, ffl.n_ffl, cyc.n_cycle3,
       cast(cyc.n_cycle3 // 3 as bigint) AS n_cycle3_distinct,
       cast(ffl.n_ffl * 1000000 // greatest(p2.n_path2, 1) as bigint) AS ffl_closure_micro
FROM p2, ffl, cyc
""",
)
def ffl_motif_links(spark, sf_dir):
    """Directed triad motif census on the deduplicated md5 link graph:
    feed-forward loops (a→b→c plus shortcut a→c) vs 3-cycles
    (a→b→c→a) per open 2-path — the Milo-style motif signature that
    separates hierarchy-shaped link structure (FFL-rich) from
    circular/spam link exchange (cycle-rich), with the closure rate
    in exact micro ticks. Each 3-cycle is counted once per rotation,
    so n_cycle3_distinct = n_cycle3/3 (exact — the count is always
    divisible by 3); triangle_count_links is the undirected cousin.
    Scale shape: one path2 equi-join (∝ Σoutdeg², bounded by the
    3-out-degree construction) + two closing equi-joins on (a,c) —
    never nodes³."""
    n = table_rows(sf_dir, "documents")
    d = load(spark, sf_dir, "documents")
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(
                    *[
                        D.md5_long(
                            F.concat(F.lit(f"e:{j}:"), F.col("doc_id").cast("string"))
                        )
                        % n
                        for j in range(3)
                    ]
                )
            ).alias("dst"),
        )
        .distinct()
        .filter(F.col("src") != F.col("dst"))
    )
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    path2 = e1.join(e2, "b").filter(F.col("a") != F.col("c")).select("a", "c")
    e3f = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    e3c = edges.select(F.col("dst").alias("a"), F.col("src").alias("c"))
    ffl = path2.join(e3f, ["a", "c"]).agg(F.count("*").cast("long").alias("n_ffl"))
    cyc = path2.join(e3c, ["a", "c"]).agg(F.count("*").cast("long").alias("n_cycle3"))
    p2 = path2.agg(F.count("*").cast("long").alias("n_path2"))
    return (
        p2.crossJoin(F.broadcast(ffl))
        .crossJoin(F.broadcast(cyc))
        .select(
            "n_path2",
            "n_ffl",
            "n_cycle3",
            F.expr("cast(n_cycle3 div 3 as bigint)").alias("n_cycle3_distinct"),
            F.expr(
                "cast(n_ffl * 1000000 div greatest(n_path2, 1) as bigint)"
            ).alias("ffl_closure_micro"),
        )
    )



@register(
    "trip_modes_users",
    f"""
WITH fixes AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), legs AS (
  SELECT user_id, t,
         cast(round({HAVERSINE_SQL.format(lat1='plat', lon1='plon', lat2='lat', lon2='lon')}, 0) as bigint) AS dist_m,
         t - pt AS dt
  FROM (
    SELECT user_id, t, lat, lon,
           lag(lat) OVER (PARTITION BY user_id ORDER BY t, event_id) AS plat,
           lag(lon) OVER (PARTITION BY user_id ORDER BY t, event_id) AS plon,
           lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
    FROM fixes
  ) WHERE plat IS NOT NULL
), typed AS (
  SELECT user_id, t, dist_m, dt,
         CASE WHEN dist_m // greatest(dt, 1) < {_TM_SLOW} THEN 'ground'
              WHEN dist_m // greatest(dt, 1) < {_TM_FAST} THEN 'flight'
              ELSE 'teleport' END AS mode
  FROM legs
), seg AS (
  SELECT user_id, mode, t, dist_m, dt,
         row_number() OVER (PARTITION BY user_id ORDER BY t)
           - row_number() OVER (PARTITION BY user_id, mode ORDER BY t) AS grp
  FROM typed
), segs AS (
  SELECT user_id, mode, grp, cast(count(*) as bigint) AS n_legs,
         cast(sum(dt) as bigint) AS secs, cast(sum(dist_m) as bigint) AS meters
  FROM seg GROUP BY user_id, mode, grp
)
SELECT user_id, mode,
       cast(count(*) as bigint) AS n_segments,
       cast(sum(n_legs) as bigint) AS n_legs,
       cast(max(n_legs) as bigint) AS longest_segment_legs,
       cast(sum(secs) as bigint) AS total_secs,
       cast(sum(meters) as bigint) AS total_m
FROM segs GROUP BY user_id, mode ORDER BY user_id, mode
""",
)
def trip_modes_users(spark, sf_dir):
    """Trajectory mode segmentation: classify each leg by speed band
    (ground < {_TM_SLOW} m/s, flight < {_TM_FAST} m/s, else teleport
    artifact) and merge CONSECUTIVE same-mode legs into segments via
    the dual-row_number gaps-and-islands difference — the
    trip-extraction layer between speed_profile_user (per-leg QA
    histogram) and dwell_cells_user (stay detection): a user's day
    becomes 'ground segment, 2 legs, 40 min' instead of a pile of
    disconnected fixes, and teleport segments isolate device glitches
    for the cleaning pass. Speeds are exact integer division of
    whole-meter haversine ticks over floor-second gaps (no float
    thresholds to flip). Scale shape: one user_id shuffle shared by
    the lag window, both ranking windows, and both aggs."""
    ev = load(spark, sf_dir, "events")
    fixes = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_timestamp(ts)").alias("t"),
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    from gipspark.geo.haversine import haversine_col

    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    legs = (
        fixes.select(
            "user_id",
            "t",
            "lat",
            "lon",
            F.lag("lat").over(w).alias("plat"),
            F.lag("lon").over(w).alias("plon"),
            F.lag("t").over(w).alias("pt"),
        )
        .filter(F.col("plat").isNotNull())
        .select(
            "user_id",
            "t",
            F.round(
                haversine_col(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")), 0
            )
            .cast("long")
            .alias("dist_m"),
            (F.col("t") - F.col("pt")).alias("dt"),
        )
    )
    speed = F.expr("dist_m div greatest(dt, 1)")
    typed = legs.select(
        "user_id",
        "t",
        "dist_m",
        "dt",
        F.when(speed < _TM_SLOW, "ground")
        .when(speed < _TM_FAST, "flight")
        .otherwise("teleport")
        .alias("mode"),
    )
    wu = Window.partitionBy("user_id").orderBy("t")
    wm = Window.partitionBy("user_id", "mode").orderBy("t")
    seg = typed.withColumn("grp", F.row_number().over(wu) - F.row_number().over(wm))
    segs = seg.groupBy("user_id", "mode", "grp").agg(
        F.count("*").cast("long").alias("n_legs"),
        F.sum("dt").cast("long").alias("secs"),
        F.sum("dist_m").cast("long").alias("meters"),
    )
    return (
        segs.groupBy("user_id", "mode")
        .agg(
            F.count("*").cast("long").alias("n_segments"),
            F.sum("n_legs").cast("long").alias("n_legs"),
            F.max("n_legs").cast("long").alias("longest_segment_legs"),
            F.sum("secs").cast("long").alias("total_secs"),
            F.sum("meters").cast("long").alias("total_m"),
        )
        .orderBy("user_id", "mode")
    )



@register(
    "mobility_motifs_users",
    f"""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t,
         epoch_us(ts) // 1000000 // 86400 AS d,
         cast(floor((90.0 - {_LAT.format(k='event_id')}) / {_MOTIF_GRID}) as int) * 100
           + cast(floor(({_LON.format(k='event_id')} + 180.0) / {_MOTIF_GRID}) as int)
           AS cell
  FROM events
), seqs AS (
  SELECT user_id, d, list(cell ORDER BY t, event_id) AS cells
  FROM pts GROUP BY user_id, d
), coll AS (
  SELECT user_id, d,
         list_filter(cells, (x, i) -> i = 1 OR x != cells[i - 1]) AS c
  FROM seqs
), motifs AS (
  SELECT user_id, d,
         CASE WHEN len(c) > {_MOTIF_CAP} THEN 'L'
              ELSE array_to_string(
                     list_transform(c, x -> cast(list_position(c, x) as varchar)), '')
         END AS motif,
         len(c) AS n_moves
  FROM coll
), tot AS (SELECT cast(count(*) as bigint) AS n_days FROM motifs)
SELECT m.motif,
       cast(count(*) as bigint) AS n_user_days,
       cast(count(DISTINCT m.user_id) as bigint) AS n_users,
       cast(max(m.n_moves) as bigint) AS max_moves,
       cast((count(*) * 1000000) // t.n_days as bigint) AS share_q
FROM motifs m CROSS JOIN tot t
GROUP BY m.motif, t.n_days ORDER BY n_user_days DESC, motif
""",
)
def mobility_motifs_users(spark, sf_dir):
    """Daily mobility motif census (Schneider et al.'s 'daily mobility
    networks'): each user-day's {_MOTIF_GRID:.0f}°-cell visit sequence
    — consecutive repeats collapsed — is canonicalized by
    FIRST-VISIT-INDEX encoding ('121' = went somewhere, came back,
    out again; 'ABAB' and 'CDCD' collapse to the same motif), and the
    census counts user-days per motif. Human mobility famously
    concentrates in ~17 motifs; a flat census here is the signature of
    bot traffic or shuffled data — the behavioral-realism audit for
    any trajectory corpus. The whole canonicalization is array HOFs
    (ordered collect → index-aware filter → array_position encoding)
    inside ONE (user, day) aggregate — no self-join, no Python; the
    census is a second tiny agg. Sequences longer than {_MOTIF_CAP}
    moves bucket to 'L'."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_timestamp(ts)").alias("t"),
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
        (
            F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_MOTIF_GRID)).cast(
                "int"
            )
            * 100
            + F.floor(
                (C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_MOTIF_GRID)
            ).cast("int")
        ).alias("cell"),
    )
    seqs = pts.groupBy("user_id", "d").agg(
        F.expr("transform(array_sort(collect_list(struct(t, event_id, cell))), x -> x.cell)")
        .alias("cells")
    )
    coll = seqs.select(
        "user_id",
        "d",
        F.expr("filter(cells, (x, i) -> i = 0 OR x != element_at(cells, i))").alias("c"),
    )
    motifs = coll.select(
        "user_id",
        "d",
        F.expr(
            f"CASE WHEN size(c) > {_MOTIF_CAP} THEN 'L' "
            "ELSE array_join(transform(c, x -> cast(array_position(c, x) as string)), '') END"
        ).alias("motif"),
        F.size("c").alias("n_moves"),
    )
    tot = motifs.agg(F.count("*").cast("long").alias("n_days"))
    return (
        motifs.crossJoin(F.broadcast(tot))
        .groupBy("motif", "n_days")
        .agg(
            F.count("*").cast("long").alias("n_user_days"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.max("n_moves").cast("long").alias("max_moves"),
        )
        .select(
            "motif",
            "n_user_days",
            "n_users",
            "max_moves",
            F.expr("(n_user_days * 1000000) div n_days").alias("share_q"),
        )
        .orderBy(F.desc("n_user_days"), "motif")
    )



def _dtw_oracle_sql() -> str:
    """Recursive-CTE antidiagonal DTW mirror (round 5): one recursion
    step per wave, the wave carried as a LIST column with the previous
    wave passed through — every lambda stays single-level, which is
    what the round-4 attempt (fully nested aggregate lambdas) could
    not get past DuckDB's binder. Index arithmetic is a verbatim
    transliteration of the engine fold's offsets; verified
    bit-identical on all 15 pairs before wiring in."""
    from gipspark.queries._shared import (
        _DTW_BAND,
        _DTW_COST,
        _DTW_INF,
        _DTW_MAXLEN,
        _DTW_USERS,
    )

    cd = _DTW_COST.format(
        la1="lata[i]", lo1="lona[i]",
        la2="latb[(d + 1) + 1 - i]", lo2="lonb[(d + 1) + 1 - i]",
    )
    c11 = _DTW_COST.format(la1="lata[1]", lo1="lona[1]", la2="latb[1]", lo2="lonb[1]")
    inf = f"cast({_DTW_INF} as bigint)"
    return f"""
WITH RECURSIVE fixes AS (
  SELECT user_id, epoch(ts) AS t, event_id,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events WHERE user_id < {_DTW_USERS}
), traj AS (
  SELECT user_id,
         list_transform(list_sort(list({{'t': t, 'e': event_id, 'v': lat}})), x -> x.v)[1:{_DTW_MAXLEN}] AS lats,
         list_transform(list_sort(list({{'t': t, 'e': event_id, 'v': lon}})), x -> x.v)[1:{_DTW_MAXLEN}] AS lons
  FROM fixes GROUP BY user_id
), pairs AS (
  SELECT a.user_id AS u1, b.user_id AS u2,
         a.lats AS lata, a.lons AS lona, b.lats AS latb, b.lons AS lonb,
         len(a.lats) AS n1, len(b.lats) AS n2
  FROM traj a JOIN traj b ON a.user_id < b.user_id
), dp AS (
  SELECT u1, u2, lata, lona, latb, lonb, n1, n2, 1 AS d,
         [{c11}] AS prev, cast([] as bigint[]) AS prev2
  FROM pairs
  UNION ALL
  SELECT u1, u2, lata, lona, latb, lonb, n1, n2, d + 1,
         list_transform(
           generate_series(greatest(1, (d + 1) + 1 - n2), least(n1, d + 1)),
           i -> CASE WHEN abs(2 * i - ((d + 1) + 1)) > {_DTW_BAND} THEN {inf}
                ELSE {cd} + least(
       coalesce(CASE WHEN (i - greatest(1, (d + 1) - n2)) >= 1
                     AND (i - greatest(1, (d + 1) - n2)) <= len(prev)
                     THEN prev[i - greatest(1, (d + 1) - n2)] END, {inf}),
       coalesce(CASE WHEN (i + 1 - greatest(1, (d + 1) - n2)) >= 1
                     AND (i + 1 - greatest(1, (d + 1) - n2)) <= len(prev)
                     THEN prev[i + 1 - greatest(1, (d + 1) - n2)] END, {inf}),
       coalesce(CASE WHEN (i - greatest(1, (d + 1) - 1 - n2)) >= 1
                     AND (i - greatest(1, (d + 1) - 1 - n2)) <= len(prev2)
                     THEN prev2[i - greatest(1, (d + 1) - 1 - n2)] END, {inf}))
                END),
         prev
  FROM dp WHERE d + 1 <= n1 + n2 - 1
)
SELECT u1, u2, cast(n1 as bigint) AS len1, cast(n2 as bigint) AS len2,
       cast(prev[n1 - greatest(1, (n1 + n2) - n2) + 1] as bigint) AS dtw_m
FROM dp WHERE d = n1 + n2 - 1
ORDER BY u1, u2
"""


@register("dtw_banded_traj_pairs", _dtw_oracle_sql())
def dtw_banded_traj_pairs(spark, sf_dir):
    """Banded dynamic time warping between user trajectories — now a
    BIT-EXACT oracle query (round 5): the DuckDB mirror runs the same
    antidiagonal DP as a recursive CTE that carries each wave as a
    list column (one single-level lambda per step — the shape the
    binder accepts, where round 4's fully-nested aggregate form did
    not), on top of the standing NumPy-DP pytest (tests/test_dtw.py). The ENGINE side is the point: DTW's
    O(n·m) DP is irreducibly sequential per pair, but by ANTIDIAGONAL
    the cells of wave d depend only on waves d−1 and d−2 — so each
    pair runs as ONE ordered fold carrying two diagonals as array
    state (the kalman → erlang → ffd fold family at its terminal
    form: array state + within-step map), with the Sakoe–Chiba band
    |i−j| ≤ {_DTW_BAND} pruning cells to a constant per wave.
    Distances are whole-meter haversine ticks, the DP is integer —
    bit-stable under any partitioning; a fleet of pairs folds in one
    shuffle (frechet/hausdorff's mapInPandas siblings do this in
    Python — this one never leaves Catalyst)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < _DTW_USERS)
    fixes = ev.select(
        "user_id",
        F.expr("unix_timestamp(ts)").alias("t"),
        "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    traj = fixes.groupBy("user_id").agg(
        F.expr(
            f"slice(transform(array_sort(collect_list(struct(t, event_id, lat))),"
            f" x -> x.lat), 1, {_DTW_MAXLEN})"
        ).alias("lats"),
        F.expr(
            f"slice(transform(array_sort(collect_list(struct(t, event_id, lon))),"
            f" x -> x.lon), 1, {_DTW_MAXLEN})"
        ).alias("lons"),
    )
    a = traj.alias("a")
    b = traj.alias("b")
    pairs = a.join(b, F.col("a.user_id") < F.col("b.user_id")).select(
        F.col("a.user_id").alias("u1"),
        F.col("b.user_id").alias("u2"),
        F.col("a.lats").alias("lata"),
        F.col("a.lons").alias("lona"),
        F.col("b.lats").alias("latb"),
        F.col("b.lons").alias("lonb"),
    )
    cost = _DTW_COST.format(
        la1="element_at(lata, i)",
        lo1="element_at(lona, i)",
        la2="element_at(latb, d + 1 - i)",
        lo2="element_at(lonb, d + 1 - i)",
    )
    inf = f"cast({_DTW_INF} as bigint)"
    fold = pairs.select(
        "u1",
        "u2",
        F.size("lata").alias("n1"),
        F.size("latb").alias("n2"),
        F.expr(
            """
aggregate(
  sequence(2, size(lata) + size(latb) - 1),
  named_struct(
    'prev2', cast(array() as array<bigint>),
    'prev', array(cast(round(2.0 * 6371000.0 * asin(sqrt(sin((element_at(latb, 1) * 0.017453292519943295 - element_at(lata, 1) * 0.017453292519943295) / 2) * sin((element_at(latb, 1) * 0.017453292519943295 - element_at(lata, 1) * 0.017453292519943295) / 2) + cos(element_at(lata, 1) * 0.017453292519943295) * cos(element_at(latb, 1) * 0.017453292519943295) * sin((element_at(lonb, 1) * 0.017453292519943295 - element_at(lona, 1) * 0.017453292519943295) / 2) * sin((element_at(lonb, 1) * 0.017453292519943295 - element_at(lona, 1) * 0.017453292519943295) / 2)))) as bigint))),
  (acc, d) -> named_struct(
    'prev2', acc.prev,
    'prev', transform(
      sequence(greatest(1, d + 1 - size(latb)), least(size(lata), d)),
      i -> CASE WHEN abs(2 * i - (d + 1)) > 5 THEN cast(1000000000000000 as bigint)
           ELSE cast(round(2.0 * 6371000.0 * asin(sqrt(sin((element_at(latb, d + 1 - i) * 0.017453292519943295 - element_at(lata, i) * 0.017453292519943295) / 2) * sin((element_at(latb, d + 1 - i) * 0.017453292519943295 - element_at(lata, i) * 0.017453292519943295) / 2) + cos(element_at(lata, i) * 0.017453292519943295) * cos(element_at(latb, d + 1 - i) * 0.017453292519943295) * sin((element_at(lonb, d + 1 - i) * 0.017453292519943295 - element_at(lona, i) * 0.017453292519943295) / 2) * sin((element_at(lonb, d + 1 - i) * 0.017453292519943295 - element_at(lona, i) * 0.017453292519943295) / 2)))) as bigint)
                + least(
    coalesce(CASE WHEN (i - greatest(1, d - size(latb))) >= 1 THEN try_element_at(acc.prev, i - greatest(1, d - size(latb))) END, cast(1000000000000000 as bigint)),
    coalesce(CASE WHEN (i + 1 - greatest(1, d - size(latb))) >= 1 THEN try_element_at(acc.prev, i + 1 - greatest(1, d - size(latb))) END, cast(1000000000000000 as bigint)),
    coalesce(CASE WHEN (i - greatest(1, d - 1 - size(latb))) >= 1 THEN try_element_at(acc.prev2, i - greatest(1, d - 1 - size(latb))) END, cast(1000000000000000 as bigint)))
           END)),
  acc -> acc.prev) AS lastdiag
"""
        ).alias("lastdiag"),
    )
    return fold.select(
        "u1",
        "u2",
        F.col("n1").cast("long").alias("len1"),
        F.col("n2").cast("long").alias("len2"),
        F.expr("element_at(lastdiag, n1 - greatest(1, (n1 + n2) - n2) + 1)")
        .cast("long")
        .alias("dtw_m"),
    ).orderBy("u1", "u2")



@register(
    "unicity_mobility_users",
    f"""
WITH fixes AS (
  SELECT user_id,
         cast(floor((90.0 - {_LAT.format(k='event_id')}) / 10.0) as int) * 1000
           + cast(floor(({_LON.format(k='event_id')} + 180.0) / 10.0) as int) AS cell,
         epoch_us(ts) // 1000000 // 86400 AS d,
         {D.MD5_LONG_SQL.format(x="concat('uni:', cast(event_id as varchar))")} AS pick
  FROM events
), ranked AS (
  SELECT user_id, cell, d,
         row_number() OVER (PARTITION BY user_id ORDER BY pick, cell, d) AS rk
  FROM (SELECT DISTINCT user_id, cell, d, pick FROM fixes)
), ms AS (SELECT * FROM (VALUES {", ".join(f"({m})" for m in _UNI_POINTS)}) AS m(m)
), sigs AS (
  SELECT m.m, r.user_id,
         array_to_string(list(cast(r.cell as varchar) || '@' || cast(r.d as varchar)
                              ORDER BY r.cell, r.d), '|') AS sig
  FROM ranked r CROSS JOIN ms m
  WHERE r.rk <= m.m
  GROUP BY m.m, r.user_id
), coll AS (
  SELECT m, sig, cast(count(*) as bigint) AS n_sharing FROM sigs GROUP BY m, sig
)
SELECT s.m AS n_points,
       cast(count(*) as bigint) AS n_users,
       cast(count(CASE WHEN c.n_sharing = 1 THEN 1 END) as bigint) AS n_unique,
       cast((count(CASE WHEN c.n_sharing = 1 THEN 1 END) * 1000000)
            // count(*) as bigint) AS unicity_q
FROM sigs s JOIN coll c ON c.m = s.m AND c.sig = s.sig
GROUP BY s.m ORDER BY n_points
""",
)
def unicity_mobility_users(spark, sf_dir):
    """Unicity of mobility traces (de Montjoye et al.'s famous result:
    four spatio-temporal points uniquely identify 95% of people): for
    m ∈ {_UNI_POINTS} md5-deterministically sampled (cell, day) points
    per user, what share of users has a point-set NO other user
    shares? This is the measured attack model behind
    pseudonym_linkage_audit and the reason spatial_cloaking_levels
    exists — unicity_q near 10⁶ at m=2 means 'anonymized' traces
    aren't, and the deterministic sampler makes the audit reproducible
    across runs and engines (an RNG version is a different audit every
    time). One distinct + one pick-window per user + signature
    group-count — candidate volume is users × m, never users²."""
    ev = load(spark, sf_dir, "events")
    fixes = ev.select(
        "user_id",
        (
            F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(10.0)).cast("int")
            * 1000
            + F.floor((C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(10.0)).cast(
                "int"
            )
        ).alias("cell"),
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
        D.md5_long(F.concat(F.lit("uni:"), F.col("event_id").cast("string"))).alias("pick"),
    ).distinct()
    ranked = fixes.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("user_id").orderBy("pick", "cell", "d")),
    )
    ms = spark.createDataFrame([(m,) for m in _UNI_POINTS], "m int")
    sigs = (
        ranked.crossJoin(F.broadcast(ms))
        .filter(F.col("rk") <= F.col("m"))
        .groupBy("m", "user_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(cell, d))),"
                " x -> cast(x.cell as string) || '@' || cast(x.d as string)), '|')"
            ).alias("sig")
        )
    )
    coll = sigs.groupBy("m", "sig").agg(F.count("*").cast("long").alias("n_sharing"))
    return (
        sigs.join(coll, ["m", "sig"])
        .groupBy(F.col("m").alias("n_points"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.count(F.when(F.col("n_sharing") == 1, 1)).cast("long").alias("n_unique"),
            F.expr(
                "(count(CASE WHEN n_sharing = 1 THEN 1 END) * 1000000) div count(*)"
            ).alias("unicity_q"),
        )
        .orderBy("n_points")
    )



@register(
    "polyline_varint_users",
    f"""
WITH fixes AS (
  SELECT user_id,
         cast(floor({_LAT.format(k='event_id')} * 100000) as bigint) AS qlat,
         cast(floor({_LON.format(k='event_id')} * 100000) as bigint) AS qlon,
         ts, event_id
  FROM events
), deltas AS (
  SELECT user_id,
         coalesce(qlat - lag(qlat) OVER w, qlat) AS dlat,
         coalesce(qlon - lag(qlon) OVER w, qlon) AS dlon
  FROM fixes
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), zz AS (
  SELECT user_id,
         CASE WHEN dlat >= 0 THEN 2 * dlat ELSE -2 * dlat - 1 END AS zlat,
         CASE WHEN dlon >= 0 THEN 2 * dlon ELSE -2 * dlon - 1 END AS zlon
  FROM deltas
), sized AS (
  SELECT user_id,
         (length(bin(zlat)) + 4) // 5 + (length(bin(zlon)) + 4) // 5 AS b
  FROM zz
)
SELECT user_id,
       cast(count(*) as bigint) AS n_points,
       cast(16 * count(*) as bigint) AS raw_bytes,
       cast(sum(b) as bigint) AS poly_bytes,
       cast(sum(b) * 1000000 // (16 * count(*)) as bigint) AS ratio_micro
FROM sized GROUP BY user_id ORDER BY user_id
""",
)
def polyline_varint_users(spark, sf_dir):
    """Encoded-polyline storage pricing (r5): per-user trajectory cost
    under the Google Encoded Polyline scheme's integer core — fixes
    quantized to 1e-5° (floor quantization, identical both engines),
    per-axis deltas with the first fix absolute, zigzag mapping
    (v≥0 → 2v, v<0 → −2v−1), and varint length in 5-bit groups,
    ceil(bitlen/5) bytes per value — against the 16-byte raw float64
    pair. The compression pricing every tile-server / mobility-export
    pipeline does before choosing a wire format; deltas after
    quantization are small, so typical fixes cost 2-4 bytes not 16.
    Libm-free: bit length via length(bin(z)) — Spark's bin() and
    DuckDB's bin() agree digit-for-digit on non-negative int64 (zigzag
    output is non-negative by construction). Scale shape: one
    user-partitioned lag window + one hash agg — shuffle on user_id
    only."""
    ev = load(spark, sf_dir, "events")
    fixes = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(C.derived_lat(F.col("event_id")) * 100000).cast("long").alias("qlat"),
        F.floor(C.derived_lon(F.col("event_id")) * 100000).cast("long").alias("qlon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = fixes.select(
        "user_id",
        F.coalesce(F.col("qlat") - F.lag("qlat").over(w), F.col("qlat")).alias("dlat"),
        F.coalesce(F.col("qlon") - F.lag("qlon").over(w), F.col("qlon")).alias("dlon"),
    )

    def zigzag(c):
        return F.when(c >= 0, 2 * c).otherwise(-2 * c - 1)

    def vbytes(z):
        return (F.length(F.bin(z)) + F.lit(4)).cast("long") / F.lit(5)

    sized = deltas.select(
        "user_id",
        (
            F.floor(vbytes(zigzag(F.col("dlat"))))
            + F.floor(vbytes(zigzag(F.col("dlon"))))
        ).cast("long").alias("b"),
    )
    return (
        sized.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            (16 * F.count("*")).cast("long").alias("raw_bytes"),
            F.sum("b").cast("long").alias("poly_bytes"),
            F.expr("cast((sum(b) * 1000000) div (16 * count(*)) as bigint)").alias(
                "ratio_micro"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "distance_approx_error_census",
    f"""
WITH fixes AS (
  SELECT user_id, ts, event_id,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), pairs AS (
  SELECT user_id, lat, lon,
         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
  FROM fixes WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), d AS (
  SELECT cast(floor(abs((lat + plat) / 2) / 30.0) as bigint) AS lat_band,
         cast(round({HAVERSINE_SQL.format(lat1='plat', lon1='plon', lat2='lat', lon2='lon')}, 0) as bigint) AS h_m,
         cast(round(6371000.0 * sqrt(
           ((lon - plon) * 0.017453292519943295
             * cos((lat + plat) / 2 * 0.017453292519943295))
           * ((lon - plon) * 0.017453292519943295
             * cos((lat + plat) / 2 * 0.017453292519943295))
           + ((lat - plat) * 0.017453292519943295)
             * ((lat - plat) * 0.017453292519943295)), 0) as bigint) AS e_m
  FROM pairs WHERE plat IS NOT NULL
)
SELECT lat_band,
       cast(count(*) as bigint) AS n_pairs,
       cast(sum(h_m) as bigint) AS sum_haversine_m,
       cast(sum(abs(e_m - h_m)) as bigint) AS sum_abs_err_m,
       cast(max(abs(e_m - h_m)) as bigint) AS max_abs_err_m
FROM d GROUP BY lat_band ORDER BY lat_band
""",
)
def distance_approx_error_census(spark, sf_dir):
    """Equirectangular-vs-haversine error census (r5): every consecutive
    user fix pair measured under BOTH the exact great-circle formula
    and the flat-earth equirectangular shortcut (Δλ·cos φ̄, Δφ — the
    one every hot loop is tempted to use because it needs one cos
    instead of two sin/cos/asin), with the absolute error summed and
    maxed per 30° latitude band — the evidence table for the standing
    engine question 'when is the cheap metric safe': sub-meter for
    short hops at low latitude, catastrophic across the antimeridian
    and for long jumps near the poles, and THIS census says which
    regime a given workload is in. Distances round to whole meters
    first (the repo's libm-absorption discipline — both engines'
    trig agrees to well under 0.5 m at these magnitudes), so every
    aggregate is exact integer arithmetic. Scale shape: one lag
    window + one hash agg on a 4-row band dim."""
    from gipspark.geo.haversine import DEG2RAD, EARTH_RADIUS_M, haversine_col

    ev = load(spark, sf_dir, "events")
    fixes = ev.select(
        "user_id",
        "ts",
        "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = fixes.select(
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    h = F.round(
        haversine_col(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")), 0
    ).cast("long")
    ex = (F.col("lon") - F.col("plon")) * F.lit(DEG2RAD) * F.cos(
        (F.col("lat") + F.col("plat")) / 2 * F.lit(DEG2RAD)
    )
    ey = (F.col("lat") - F.col("plat")) * F.lit(DEG2RAD)
    e = F.round(F.lit(EARTH_RADIUS_M) * F.sqrt(ex * ex + ey * ey), 0).cast("long")
    d = pairs.select(
        F.floor(F.abs((F.col("lat") + F.col("plat")) / 2) / F.lit(30.0))
        .cast("long")
        .alias("lat_band"),
        h.alias("h_m"),
        e.alias("e_m"),
    )
    return (
        d.groupBy("lat_band")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("h_m").cast("long").alias("sum_haversine_m"),
            F.sum(F.abs(F.col("e_m") - F.col("h_m"))).cast("long").alias("sum_abs_err_m"),
            F.max(F.abs(F.col("e_m") - F.col("h_m"))).cast("long").alias("max_abs_err_m"),
        )
        .orderBy("lat_band")
    )


def _ambiguity_oracle_sql() -> str:
    from gipspark.operators.distance import _polygon_edges, _proj_sql
    from gipspark.queries._base import ORACLE_POLYGONS

    vals = ", ".join(
        f"({pid}, {i}, {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for pid, i, x1, y1, x2, y2 in _polygon_edges(ORACLE_POLYGONS)
    )
    t_expr, d2 = _proj_sql("lat", "lon")
    return f"""
WITH edges(poly_id, edge_idx, x1, y1, x2, y2) AS (VALUES {vals}),
pts AS (
  SELECT event_id, {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), proj AS (
  SELECT p.event_id, e.poly_id, lat, lon,
         x1 + {t_expr} * (x2 - x1) AS cx,
         y1 + {t_expr} * (y2 - y1) AS cy
  FROM pts p CROSS JOIN edges e
), em AS (
  SELECT event_id, poly_id,
         min(cast(round({d2} * 1000000.0, 0) as bigint)) AS ticks
  FROM proj GROUP BY event_id, poly_id
), ranked AS (
  SELECT event_id, ticks,
         row_number() OVER (PARTITION BY event_id ORDER BY ticks, poly_id) AS rn
  FROM em
), margins AS (
  SELECT event_id,
         max(CASE WHEN rn = 2 THEN ticks END) - max(CASE WHEN rn = 1 THEN ticks END)
           AS margin
  FROM ranked GROUP BY event_id
)
SELECT cast(CASE WHEN margin = 0 THEN 0 ELSE length(bin(margin)) END as bigint)
         AS margin_bucket,
       cast(count(*) as bigint) AS n_pings,
       cast(min(margin) as bigint) AS min_margin,
       cast(max(margin) as bigint) AS max_margin
FROM margins GROUP BY margin_bucket ORDER BY margin_bucket
""";


@register("matching_ambiguity_census", _ambiguity_oracle_sql())
def matching_ambiguity_census(spark, sf_dir):
    """Map-matching ambiguity census (r5): per ping, the margin between
    the nearest and second-nearest feature's boundary distance (exact
    integer ticks, the viterbi emission machinery), bucketed by the
    libm-free bit-length ladder — the confidence panel behind the
    map-matching tier choice: mass in low buckets = pings sitting on
    feature boundaries where raw nearest-neighbor assignment flickers
    and the HMM (viterbi_map_match_events) earns its switch penalty;
    all-high-margin corpora can skip the DP entirely. Margin 0 (exact
    ties, broken by poly_id everywhere else) gets its own bucket.
    Scale shape: one bounded edges broadcast, per-ping min + one
    2-row-per-ping rank window keyed by event, one census agg."""
    from gipspark.operators.viterbi import _poly_ticks
    from gipspark.queries._base import ORACLE_POLYGONS

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    polys = sorted(ORACLE_POLYGONS, key=lambda p: int(p["poly_id"]))
    em = F.array(
        *[
            F.struct(
                _poly_ticks(F.col("lon"), F.col("lat"), p).alias("t"),
                F.lit(int(p["poly_id"])).alias("p"),
            )
            for p in polys
        ]
    )
    sorted_em = F.array_sort(em)
    margins = pts.select(
        (
            F.element_at(sorted_em, 2)["t"] - F.element_at(sorted_em, 1)["t"]
        ).alias("margin")
    )
    bucket = F.when(F.col("margin") == 0, F.lit(0)).otherwise(
        F.length(F.bin("margin"))
    ).cast("long")
    return (
        margins.groupBy(bucket.alias("margin_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_pings"),
            F.min("margin").cast("long").alias("min_margin"),
            F.max("margin").cast("long").alias("max_margin"),
        )
        .orderBy("margin_bucket")
    )

"""kNN join via k-ring expansion with a coverage guarantee loop.

north_star: "k-ring-expansion kNN" (BASELINE.json:6). Shape:

- the points carry an S2 cell at a coarse ``level``, encoded in the
  JVM by ``with_s2_cell`` inside the scan's codegen stage; queries with
  a null coordinate are dropped, as an inner join on a null key would
  drop them;
- round ``r``: each live query's radius-r adjacency ball
  (geo.s2.grid_disk — exact BFS across cube-face seams) is joined to
  the points on cell, exact haversine (JVM codegen, no Python) ranks
  the candidates and ONE action brings back how the round went;
- a query is *settled* when it has k candidates whose k-th distance is
  within the ball's guaranteed covered radius r·min_cell_width — every
  point outside the ball must be at least that far away (walk-
  contraction bound, see _min_cell_width_m), so the top-k is provably
  exact;
- unsettled queries re-expand (r doubles); after ``max_rounds`` the
  stragglers (typically none) go through knn_join_brute, a bounded
  broadcast nested-loop join of just those queries.

The query side picks the plan. Up to _DRIVER_MAX_QUERIES rows it is
the small build side of a hash join: it is collected once, its balls
are built with the NumPy kernels and broadcast, the point side is
scanned in place and never shuffled, each round returns ≤ k rows per
live query to the driver, and the result is a local relation with
nothing persisted; no Python worker runs. Past that (self-joins,
whole-table query sides) the query cells are encoded in the JVM too,
the balls come from the kring pandas UDF (the plan's only Python) and
shuffle-join on cell; each round's candidates are materialised once,
the result is checkpointed once, and the per-round frames are
unpersisted before the call returns — the driver sees counts, never
rows.
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType
from pyspark.sql.window import Window

from gipspark.functions.cells import kring, with_s2_cell
from gipspark.geo import s2
from gipspark.geo.haversine import haversine_col


# Published S2 metric (s2geometry s2metrics, quadratic projection):
# kMinWidth deriv = 2*sqrt(2)/3 — the minimum, over ALL level-L cells on
# the sphere, of the distance between a cell's two opposite edges is
# (2*sqrt(2)/3) * 2^-L radians. This is the constant S2 itself uses to
# lower-bound point-to-outside-cell distances.
_S2_MIN_WIDTH_DERIV = 2.0 * (2.0**0.5) / 3.0
_EARTH_RADIUS_M = 6371000.0  # must match geo/haversine.EARTH_RADIUS_M


@functools.lru_cache(maxsize=32)
def _min_cell_width_m(level: int) -> float:
    """Analytic lower bound on level-``level`` cell width (meters).

    Worst-case argument for the k-ring guarantee (replaces the round-2
    sampled 512-point estimate, which could not certify unsampled
    regions — ADVICE r2). geo/s2.grid_disk returns the true radius-r
    adjacency BALL (BFS over exact unit steps, edge+vertex adjacency
    across face seams). Walk-contraction lemma: a geodesic from a point
    in cell A to a point in cell B visits cells c_0=A..c_m=B where
    consecutive cells are adjacent; each intermediate crossing either
    enters and leaves through OPPOSITE edges of a full lattice cell —
    costing ≥ that cell's width ≥ kMinWidth(L) — or cuts a corner
    between two ADJACENT edges, in which case (same-level lattice ⇒
    neighbors share full edges ⇒ both flanking cells touch the shared
    vertex) c_{t−1} and c_{t+1} are themselves adjacent and the step
    contracts out of the walk. So graph_dist(A,B) = d implies geodesic
    ≥ (d−1)·kMinWidth(L). Any point OUTSIDE the radius-r ball has
    d ≥ r+1, hence is ≥ r·min_width away. kMinWidth deriv = 2√2/3 is
    the published global minimum cell width for the quadratic
    projection geo/s2.py implements (a minimum over every cell on every
    face, so face seams and corners are covered). The 0.999 factor
    absorbs float slop between the metric-space bound and the
    haversine refine.
    """
    return _S2_MIN_WIDTH_DERIV * (2.0 ** -level) * _EARTH_RADIUS_M * 0.999


# Largest query side knn_join brings to the driver, found with one
# limit(N + 1) collect. Up to it the query balls are built with NumPy
# and broadcast, and the result comes back as a local relation of at
# most k·N rows. Past it (self-joins, whole-table query sides) the
# balls are built and shuffle-joined in Spark and the driver holds no
# rows of either side.
_DRIVER_MAX_QUERIES = 2048


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    level: int | None = None,
    q_id: str = "q_id",
    p_id: str = "p_id",
    q_lat: str = "q_lat",
    q_lon: str = "q_lon",
    p_lat: str = "p_lat",
    p_lon: str = "p_lon",
    max_rounds: int = 3,
    n_points_hint: int | None = None,
) -> DataFrame:
    """Exact k nearest ``points`` per query row.

    Returns (q_id, p_id, dist_m, rank) with rank 1..k ordered by
    (dist_m, p_id) — the tie-break makes results deterministic and
    oracle-comparable. Queries with a null coordinate get no rows.
    ``n_points_hint`` skips the ``points.count()`` the density-adaptive
    level pick otherwise needs — at 10^12 rows pass the table's known
    row count (catalog/manifest metadata) instead of paying a full scan
    before the join starts.

    Each expansion round is one join of the (query, ball cell) rows
    against the point scan and one action; stragglers after
    ``max_rounds`` go through :func:`knn_join_brute`. A query side of
    at most ``_DRIVER_MAX_QUERIES`` rows is collected once, its balls
    are broadcast, and the result is a local relation; nothing is
    persisted. A larger one stays in Spark (:func:`_rounds_in_spark`):
    the result is checkpointed once and owned by the returned frame,
    and the per-round frames are unpersisted before returning.
    """
    if level is None:
        # density-adaptive: pick the level whose ring-1 disk (9 cells)
        # is expected to hold ~8k points, so most queries settle in the
        # first round instead of walking the expansion ladder
        n_pts = n_points_hint if n_points_hint is not None else points.count()
        target_cells = max(6, n_pts * 9 // (8 * k))
        level = max(1, min(14, int(math.log(max(target_cells / 6, 1), 4))))

    qs = queries.select(
        q_id, F.col(q_lat).cast("double").alias(q_lat), F.col(q_lon).cast("double").alias(q_lon)
    ).where(F.col(q_lat).isNotNull() & F.col(q_lon).isNotNull())
    pts = points.select(p_id, p_lat, p_lon).where(
        F.col(p_lat).isNotNull() & F.col(p_lon).isNotNull()
    )
    pts_at_level = with_s2_cell(pts, p_lat, p_lon, level, "__pcell")
    w = Window.partitionBy(q_id).orderBy(F.col("dist_m").asc(), F.col(p_id).asc())

    def top_k(ring: DataFrame) -> DataFrame:
        """(q_id, q_lat, q_lon, __pcell) rows → ≤ k nearest candidates per query."""
        return (
            ring.join(pts_at_level, "__pcell")
            .withColumn(
                "dist_m", haversine_col(F.col(q_lat), F.col(q_lon), F.col(p_lat), F.col(p_lon))
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, p_id, "dist_m", "rank")
        )

    def brute(stragglers: DataFrame) -> DataFrame:
        return knn_join_brute(stragglers, pts, k, q_id, p_id, q_lat, q_lon, p_lat, p_lon)

    head = qs.limit(_DRIVER_MAX_QUERIES + 1).toPandas()
    if len(head) > _DRIVER_MAX_QUERIES:
        return _rounds_in_spark(qs, top_k, brute, level, k, max_rounds, q_id, q_lat, q_lon)

    spark = queries.sparkSession
    ring_schema = StructType(qs.schema.fields + [StructField("__pcell", LongType())])
    out_schema = StructType(
        [
            queries.schema[q_id],
            points.schema[p_id],
            StructField("dist_m", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )
    qcell = s2.latlng_to_cell(head[q_lat].to_numpy(), head[q_lon].to_numpy(), level)
    min_width = _min_cell_width_m(level)
    settled: list[pd.DataFrame] = []
    live = np.arange(len(head))
    r = 1
    for _ in range(max_rounds):
        if not live.size:
            break
        row, cell = s2.grid_disk_pairs(qcell[live], level, r)
        ring = head.iloc[live[row]].reset_index(drop=True).assign(__pcell=cell)
        cand = top_k(F.broadcast(spark.createDataFrame(ring, ring_schema))).toPandas()
        # a point outside the radius-r lattice ball is separated from the
        # query cell by ≥ r full cell widths (the cells in between), so
        # the top-k is provably exact once kth ≤ r·min_width
        stats = cand.groupby(q_id, dropna=False)["dist_m"].agg(["size", "max"])
        ok = stats.index[(stats["size"] >= k) & (stats["max"] <= r * min_width)]
        settled.append(cand[cand[q_id].isin(ok)])
        live = live[~head[q_id].iloc[live].isin(ok).to_numpy()]
        r *= 2
    if live.size:
        stragglers = spark.createDataFrame(head.iloc[live].reset_index(drop=True), qs.schema)
        settled.append(brute(stragglers).toPandas())
    rows = pd.concat(settled, ignore_index=True) if settled else pd.DataFrame(columns=out_schema.names)
    return spark.createDataFrame(rows, out_schema)


def _rounds_in_spark(qs, top_k, brute, level, k, max_rounds, q_id, q_lat, q_lon) -> DataFrame:
    """knn_join's rounds for a query side too large for the driver.

    The query cells come from ``with_s2_cell``, the balls from the
    ``kring`` UDF, and they are shuffle-joined on cell. Each round's
    candidates, flagged settled or not by a window over the query, are
    persisted and materialised by the round's one action (the
    settled-query count). The union of the settled rows is
    checkpointed before the ``finally`` unpersists every frame the loop
    persisted, so the returned frame reads its own blocks and the cache
    keeps no entry of this call.
    """
    min_width = _min_cell_width_m(level)
    by_q = Window.partitionBy(q_id)
    held: list[DataFrame] = []
    try:
        live = with_s2_cell(qs, q_lat, q_lon, level, "__qcell").persist()
        held.append(live)
        n_live = live.count()
        parts: list[DataFrame] = []
        r = 1
        for _ in range(max_rounds):
            ring = live.select(
                q_id, q_lat, q_lon, F.explode(kring(F.col("__qcell"), level, r)).alias("__pcell")
            )
            kth_ok = F.max("dist_m").over(by_q) <= F.lit(r * min_width)
            cand = top_k(ring).withColumn(
                "__ok", (F.count("*").over(by_q) >= k) & kth_ok
            ).persist()
            held.append(cand)
            ok = cand.where(F.col("__ok") & (F.col("rank") == 1)).select(q_id)
            n_live -= ok.count()
            parts.append(cand.where(F.col("__ok")).drop("__ok"))
            r *= 2
            if not n_live:
                break
            live = live.join(ok, q_id, "left_anti").persist()
            held.append(live)
        if n_live:
            parts.append(brute(live.drop("__qcell")))
        return functools.reduce(DataFrame.unionByName, parts).localCheckpoint()
    finally:
        for df in held:
            df.unpersist()


def within_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    level: int | None = None,
    l_id: str = "l_id",
    r_id: str = "r_id",
    l_lat: str = "l_lat",
    l_lon: str = "l_lon",
    r_lat: str = "r_lat",
    r_lon: str = "r_lon",
) -> DataFrame:
    """Exact distance-within join: every (left, right) pair whose
    haversine distance is ≤ ``radius_m`` meters.

    Scale shape (north_star spatial-join family, BASELINE.json:6): both
    sides are S2-encoded at ``level`` in the JVM (``with_s2_cell``); the
    left side explodes the lattice disk of radius ``r`` cells and
    equi-joins the right side on cell — one shuffle on cell ids,
    candidate volume bounded by disk occupancy, never a cross join. Exactness: a point outside the
    radius-``r`` disk is separated from the query cell by ≥ r
    conservative cell widths (see :func:`_min_cell_width_m`), so with
    r·min_width > radius_m no qualifying pair can escape the prefilter.
    The haversine refine runs JVM-side (whole-stage codegen).

    Each right row has exactly one cell and the per-query disk is
    deduped, so no distinct() is needed — pairs appear once.
    Returns (l_id, r_id, dist_m).
    """
    import math

    if level is None:
        # finest level whose disk stays ≤2 rings wide for this radius —
        # small disks keep the explode factor O(10) while fine cells
        # keep per-cell candidate lists short in dense data
        level = 14
        while level > 1 and _min_cell_width_m(level) * 2.0 < radius_m:
            level -= 1
    # strict inequality: r·min_width must EXCEED the radius so the
    # boundary case (dist exactly r·min_width) cannot sit outside the disk
    r = int(math.floor(radius_m / _min_cell_width_m(level))) + 1

    rt = with_s2_cell(right.select(r_id, r_lat, r_lon), r_lat, r_lon, level, "__cell")
    lt = with_s2_cell(left.select(l_id, l_lat, l_lon), l_lat, l_lon, level, "__lcell")
    return (
        lt.withColumn("__ring", kring(F.col("__lcell"), level, r))
        .select(l_id, l_lat, l_lon, F.explode("__ring").alias("__cell"))
        .join(rt, on="__cell")
        .withColumn(
            "dist_m", haversine_col(F.col(l_lat), F.col(l_lon), F.col(r_lat), F.col(r_lon))
        )
        .filter(F.col("dist_m") <= F.lit(float(radius_m)))
        .select(l_id, r_id, "dist_m")
    )


def knn_join_brute(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    p_id: str = "p_id",
    q_lat: str = "q_lat",
    q_lon: str = "q_lon",
    p_lat: str = "p_lat",
    p_lon: str = "p_lon",
) -> DataFrame:
    """Reference brute force (broadcast nested loop) — baseline + oracle."""
    w = Window.partitionBy(q_id).orderBy(F.col("dist_m").asc(), F.col(p_id).asc())
    return (
        F.broadcast(queries.select(q_id, q_lat, q_lon))
        .crossJoin(points.select(p_id, p_lat, p_lon))
        .withColumn(
            "dist_m", haversine_col(F.col(q_lat), F.col(q_lon), F.col(p_lat), F.col(p_lon))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, p_id, "dist_m", "rank")
    )

"""Registry family: analytics (split from the single-file registry; query names and behavior unchanged)."""

from __future__ import annotations

from gipspark.queries._base import (  # noqa: F401
    C,
    D,
    DEC,
    F,
    HAVERSINE_SQL,
    ORACLE_POLYGONS,
    T,
    Window,
    _LAT,
    _LON,
    _cust_pts,
    knn_join,
    load,
    register,
    table_rows,
    within_join,
)
from gipspark.queries._shared import (  # noqa: F401
    _AB_ARM,
    _AGING_EDGES,
    _AGING_SNAPS,
    _ALLEN_CASE,
    _BAL_COVS,
    _BENFORD_CASE,
    _BOOT_CUTS,
    _BOOT_KEY,
    _BOOT_REPS,
    _BZF_PLAYERS,
    _CAMPAIGNS,
    _CBA_LOOKBACK,
    _CBA_MIN_ACTIVE,
    _CBA_QUIET,
    _CEM_TRT,
    _CE_AREA_M2,
    _CM_VARS,
    _COCHRAN_TYPES,
    _CONVOY_GRID,
    _CONVOY_MIN_RUN,
    _CORR_FEATURES,
    _D8_GRID_SQL,
    _DBSCAN_EPS,
    _DBSCAN_MINPTS,
    _DBS_OFFSETS,
    _DH_SEATS,
    _DIVISION_BASKET,
    _DT_GRID,
    _ES_WINDOW,
    _EVENT_TYPES,
    _EXPO_BUCKETS,
    _FCA_D0_M,
    _FD_CANDIDATES,
    _FFD_CAP,
    _GKF_K,
    _HAUS_K,
    _HAUS_W,
    _HBR_TAU,
    _HRW_S,
    _HUFF_WSCALE,
    _HW_PTS,
    _JC_SAMPLE_MOD,
    _JK_BUCKETS,
    _KM_K,
    _KM_ROUNDS,
    _LOF_HAV,
    _LOF_TOPK,
    _LR_SEATS,
    _MMF_ROUNDS,
    _NDCG_CASE,
    _NDCG_K,
    _NDCG_W,
    _NEYMAN_BUDGET,
    _OBF_C,
    _OD_GRID,
    _OLC_ALPHABET,
    _OTIF_LAG_DAYS,
    _PENTA_EDGES,
    _PERM_N,
    _PIDX_BASE,
    _PK_COMBOS,
    _PLD_SUBS,
    _PLD_SUFF2,
    _PLD_TLDS,
    _PL_T,
    _POT_THRESHOLDS,
    _PR_EDGE_DST,
    _PR_N,
    _RAD_CELL_DEG,
    _RAD_HAV,
    _RAD_HAV_K,
    _RFM_SPLIT,
    _RF_CAPS,
    _RING_M,
    _RSV_GRID,
    _SAT_RECTS,
    _SAT_RECT_VALUES,
    _SC_ROUNDS,
    _SESS_GAP_MIN,
    _SESS_GAP_S,
    _SHAPE_GRID,
    _SHAP_W,
    _SHAP_W_SQL,
    _SNB_MAXDIST,
    _SNB_W,
    _SPAN_W,
    _SPRT_A,
    _SPRT_B,
    _SPRT_F,
    _SPRT_S,
    _SRM_ARM,
    _SS_BIG,
    _SS_PARTS,
    _SS_SMALL,
    _SS_Y1,
    _SS_Y2,
    _STDB_EPS,
    _STDB_EPS_T,
    _STDB_MINPTS,
    _TITLE_SQL,
    _UTM_BANDS,
    _WAU_DAYS,
    _WM_LAT_MAX,
    _WM_PI,
    _WM_PI4,
    _WM_SIZE,
    _ZQ_BOX,
    _Z_GRID,
    _abs_pair_sum_sql,
    _balance_oracle_sql,
    _blen_col,
    _blen_sql,
    _boot_mult_sql,
    _corr_matrix_oracle_sql,
    _corr_oracle_sql,
    _d8_full,
    _easter_sql,
    _fca_oracle_sql,
    _fd_candidate_sql,
    _hrw_argmax_sql,
    _hrw_h_sql,
    _kmeans_oracle_sql,
    _linear_ref_oracle,
    _maidenhead_sql,
    _mmf_sql,
    _nearest_edge_oracle,
    _penta_edges_sql,
    _pk_oracle_sql,
    _pl_candidates,
    _pl_int_edges,
    _polylabel_sql,
    _ring_owner_sql,
    _ring_vnode_rows,
    _set_cover_oracle_sql,
    _str_pack_oracle,
    _title_col,
    _zq_ranges,
    _zrange_scan_sql,
    morton_key,
)



@register("multimodal_image_features", None)
def multimodal_image_features(spark, sf_dir):
    """Image-histogram features over the synthetic media table —
    rows-only (the decode kernel is the documented deterministic fake;
    the Spark plumbing under test — mapInPandas schema, Arrow batch
    shape, narrow no-shuffle plan — is real). Deterministic across
    partitionings: media_df is partition-pure, features are per-row."""
    from gipspark.functions.multimodal import image_features, synthetic_media_df

    media = synthetic_media_df(spark, 120)
    feats = image_features(media, bins=8)
    return feats.select(
        "media_id",
        F.round(F.col("mean_px").cast("double"), 6).alias("mean_px"),
        F.round(F.col("edge_density").cast("double"), 6).alias("edge_density"),
        F.size("histogram").alias("n_bins"),
    ).orderBy("media_id")



@register(
    "event_transition_matrix",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), trans AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, cast(n_trans as bigint) AS n_trans,
       cast((n_trans * 1000000) // sum(n_trans) OVER (PARTITION BY prev_type) as bigint) AS ppm
FROM trans
""",
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (the clickstream model behind next-event prediction):
    lag within (user ORDER BY ts, event_id), count (prev, next) pairs,
    and emit the transition probability as exact integer
    parts-per-million — BIGINT floor-division on both sides, never a
    float divide, so the hash can't drift. One exchange on user_id for
    the window, then the matrix aggregate is |types|^2 rows — tiny at
    any scale."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    return trans.select(
        "prev_type",
        "next_type",
        F.col("n_trans").cast("long").alias("n_trans"),
        F.expr("(n_trans * 1000000L) div sum(n_trans * 1L) over (partition by prev_type)")
        .cast("long")
        .alias("ppm"),
    )



@register("nearest_edge_customers", _nearest_edge_oracle())
def nearest_edge_customers(spark, sf_dir):
    """Distance-to-boundary join (ST_Distance vs a coastline/admin
    layer): every customer point → (nearest polygon, squared planar
    distance in integer 1e-6 ticks). The polygon dim rides as ONE
    broadcast edge-array literal folded per point in whole-stage
    codegen (operators/distance.py) — a narrow op with NO join and NO
    shuffle: the 100 TB point table streams through the scan stage.
    Quantize-then-argmin keeps the winner exact on both engines; the
    oracle cross-joins the same edges (bounded, oracle-only) and ranks
    by the identical integer ticks."""
    from gipspark.operators.distance import nearest_edge

    pts = _cust_pts(spark, sf_dir)
    return nearest_edge(pts, ORACLE_POLYGONS, key_col="c_custkey").select(
        "c_custkey", "nearest_poly", "d2_ticks"
    )



@register(
    "heatmap_smooth_events",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) * 1000
         + cast(floor((90.0 - lat) / 2.5) as int) AS cell_id,
         count(*) AS n
  FROM pts GROUP BY cell_id
), offs(dxy) AS (VALUES (-1001), (-1000), (-999), (-1), (0), (1), (999), (1000), (1001)),
scatter AS (
  SELECT c.cell_id + o.dxy AS cell_id, c.n
  FROM cells c CROSS JOIN offs o
), smoothed AS (
  SELECT cell_id, sum(n) AS smooth_n FROM scatter GROUP BY cell_id
)
SELECT c.cell_id, cast(c.n as bigint) AS n_points, cast(s.smooth_n as bigint) AS smooth_n
FROM cells c JOIN smoothed s ON c.cell_id = s.cell_id
""",
)
def heatmap_smooth_events(spark, sf_dir):
    """Sparse 3×3 box-filter over a 2.5° density grid (the raster
    convolution behind every web-activity heatmap), scatter-gather
    formulation: points collapse to occupied cells in one map-side-
    combinable aggregate (the raw table never shuffles), each cell
    SCATTERS its count to its 9 neighbor ids via an inline 9-element
    explode, a second tiny aggregate gathers, and the join back to
    occupied cells is broadcast (cell count is bounded by the grid —
    144×72 — regardless of table size). cell_id = gx*1000 + gy keeps
    neighbor arithmetic collision-free (gy < 72)."""
    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(
            (
                F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("int") * 1000
                + F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("int")
            ).alias("cell_id")
        )
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    offs = [-1001, -1000, -999, -1, 0, 1, 999, 1000, 1001]
    scatter = cells.select(
        F.explode(F.array(*[F.col("cell_id") + F.lit(o) for o in offs])).alias("cell_id"),
        "n",
    )
    smoothed = scatter.groupBy("cell_id").agg(F.sum("n").alias("smooth_n"))
    return (
        cells.join(F.broadcast(smoothed), "cell_id")
        .select(
            "cell_id",
            F.col("n").cast("long").alias("n_points"),
            F.col("smooth_n").cast("long").alias("smooth_n"),
        )
    )



@register(
    "correlated_subquery_orders",
    """
SELECT o.o_custkey, cast(count(*) as bigint) AS n_above
FROM orders o
WHERE cast(o.o_totalprice as decimal(18,2))
      * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      > (SELECT sum(cast(o3.o_totalprice as decimal(18,2)))
         FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
GROUP BY o.o_custkey
""",
)
def correlated_subquery_orders(spark, sf_dir):
    """Correlated scalar subqueries ("orders strictly above the
    customer's own mean"), written as SQL so Catalyst's subquery
    decorrelation (RewriteCorrelatedScalarSubquery → aggregate + join)
    is exercised — the plan becomes one shuffle on o_custkey, not a
    per-row re-scan. Mean comparison is cross-multiplied into exact
    DECIMAL math (price·n > sum) so no division drift can flip a
    borderline row."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("gp_cs_orders")
    return spark.sql(
        """
        SELECT o.o_custkey, count(*) AS n_above
        FROM gp_cs_orders o
        WHERE cast(o.o_totalprice as decimal(18,2))
              * (SELECT count(*) FROM gp_cs_orders o2
                 WHERE o2.o_custkey = o.o_custkey)
              > (SELECT sum(cast(o3.o_totalprice as decimal(18,2)))
                 FROM gp_cs_orders o3 WHERE o3.o_custkey = o.o_custkey)
        GROUP BY o.o_custkey
        """
    )



def _hull_oracle_sql() -> str:
    """Recursive-CTE Andrew monotone chain (round 5, the DTW/Fréchet
    wavefront technique applied to a STACK recursion): one point
    consumed per iteration into both the lower and upper chain lists;
    the data-dependent pop count is computed non-sequentially by the
    trailing-scan identity — the j-th pop's turn test reads ONLY
    original hull elements h[n−j+1], h[n−j] (pops never mutate
    surviving elements), so the count is the position of the first
    left-turn in one list_transform scan. NB list_position returns 0
    (not NULL) on a miss — nullif-guarded. Verified bit-identical on
    all 263 hull vertices before wiring in."""
    lon = _LON.format(k="c_custkey")
    lat = _LAT.format(k="c_custkey")

    def step(h: str, p: str) -> str:
        crosses = (
            f"list_transform(generate_series(1, len({h}) - 1), "
            f"j -> (({h}[len({h}) - j + 1].x - {h}[len({h}) - j].x) * (({p}).y - {h}[len({h}) - j].y)"
            f" - ({h}[len({h}) - j + 1].y - {h}[len({h}) - j].y) * (({p}).x - {h}[len({h}) - j].x)) > 0)"
        )
        pops = f"(coalesce(nullif(list_position({crosses}, true), 0), len({h})) - 1)"
        return f"list_append({h}[1:len({h}) - {pops}], {p})"

    return f"""
WITH RECURSIVE pts AS (
  SELECT cast(c_nationkey as bigint) AS nation,
         list_sort(list(DISTINCT {{'x': {lon}, 'y': {lat}}})) AS ps
  FROM customer GROUP BY c_nationkey
), chain AS (
  SELECT nation, ps, len(ps) AS n, 1 AS i,
         [ps[1]] AS lo, [ps[len(ps)]] AS up
  FROM pts WHERE len(ps) >= 3
  UNION ALL
  SELECT nation, ps, n, i + 1,
         {step('lo', 'ps[i + 1]')},
         {step('up', 'ps[n - i]')}
  FROM chain WHERE i + 1 <= n
), hull AS (
  SELECT nation, lo[1:len(lo) - 1] || up[1:len(up) - 1] AS h
  FROM chain WHERE i = n
  UNION ALL
  SELECT nation, ps AS h FROM pts WHERE len(ps) < 3
)
SELECT nation, cast(i - 1 as int) AS vertex_idx, h[i].x AS lon, h[i].y AS lat
FROM (SELECT nation, h, unnest(generate_series(1, len(h))) AS i FROM hull)
ORDER BY nation, vertex_idx
"""


@register("convex_hull_nations", _hull_oracle_sql())
def convex_hull_nations(spark, sf_dir):
    """Per-nation convex hull of customer points (ST_ConvexHull,
    operators/hull.py): one shuffle on the group key, NumPy monotone
    chain per group, canonical CCW vertex order. Round 5 made this a
    BIT-EXACT oracle query: the recursive-CTE monotone chain replays
    the stack recursion in DuckDB (trailing-scan pop counts — see
    _hull_oracle_sql), on top of the standing property pytests
    (tests/test_hull.py: all points inside, vertices ⊆ points,
    partitioning invariance)."""
    from gipspark.operators.hull import convex_hull

    pts = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nation"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
        C.derived_lat(F.col("c_custkey")).alias("lat"),
    )
    return convex_hull(pts, "nation")



@register("kmeans_int_customers", _kmeans_oracle_sql())
def kmeans_int_customers(spark, sf_dir):
    """Distributed Lloyd's k-means, bit-exact: coordinates as integer
    millidegree ticks (the synthetic derivation is ticks/1000 − offset,
    so ticks are exact int64), squared distances in bigint, assignment
    argmin as min(dist²·K + cid) % K (deterministic tie-break, no
    arg_min), centroid update as floor-division of bigint sums — no
    float ever enters, so partitioning/sum order cannot move a single
    point and the DuckDB oracle replays all rounds bit-identically.
    The float-free formulation is the trick that makes an ITERATIVE ML
    algorithm oracle-checkable at all.

    Scale shape per round: centroids are K rows broadcast into the
    point table on a literal key (BroadcastHashJoin, not a nested
    loop), one map-side-combinable sum/count aggregate per cluster.
    Empty clusters keep their previous centroid."""
    c = load(spark, sf_dir, "customer")
    lat_t = (F.col("c_custkey").cast("long") * 48271) % 120000
    lon_t = (F.col("c_custkey").cast("long") * 69621) % 360000
    pts = c.select(
        "c_custkey", lat_t.alias("py"), lon_t.alias("px"), F.lit(1).alias("__k")
    )
    cent = spark.createDataFrame(
        [
            (cid, (cid + 1) * 48271 % 120000, (cid + 1) * 69621 % 360000, 1)
            for cid in range(_KM_K)
        ],
        "cid long, cy long, cx long, __k int",
    )
    for _ in range(_KM_ROUNDS):
        d2 = (F.col("py") - F.col("cy")) * (F.col("py") - F.col("cy")) + (
            F.col("px") - F.col("cx")
        ) * (F.col("px") - F.col("cx"))
        assigned = (
            pts.join(F.broadcast(cent), "__k")
            .groupBy("c_custkey", "py", "px")
            .agg((F.min(d2 * _KM_K + F.col("cid")) % _KM_K).alias("cid"))
        )
        cent = (
            cent.join(assigned, "cid", "left")
            .groupBy("cid", "cy", "cx")
            .agg(
                F.sum("py").alias("sy"),
                F.count("py").alias("ny"),
                F.sum("px").alias("sx"),
                F.count("px").alias("nx"),
            )
            .select(
                "cid",
                F.coalesce(F.floor(F.col("sy") / F.col("ny")).cast("long"), F.col("cy")).alias("cy"),
                F.coalesce(F.floor(F.col("sx") / F.col("nx")).cast("long"), F.col("cx")).alias("cx"),
                F.lit(1).alias("__k"),
            )
        )
    # report the LAST round's assignment (computed against c_{R-1}),
    # exactly what the oracle's a{R} is — not a fresh assignment vs c_R
    return (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(cent.select("cid", "cy", "cx"), "cid")
        .select("cid", "n", "cy", "cx")
    )



@register(
    "string_agg_regions",
    """
SELECT r.r_name AS region,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
       cast(count(*) as bigint) AS n
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def string_agg_regions(spark, sf_dir):
    """Ordered string aggregation (LISTAGG / string_agg / group_concat —
    the one aggregate every SQL surface needs and Spark spells
    differently): collect_list is partition-order-dependent, so the
    deterministic form is array_sort before array_join — which is also
    the only form an oracle can hash. Broadcast dim join + one hash
    aggregate."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
    )



@register(
    "robust_outliers_orders",
    f"""
WITH it AS (
  SELECT o_orderkey, o_orderpriority AS pri,
         cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) AS cents
  FROM orders
), med AS (
  SELECT pri, cast(min(cents) as bigint) AS med_cents FROM (
    SELECT pri, cents,
           row_number() OVER (PARTITION BY pri ORDER BY cents, o_orderkey) AS rn,
           count(*) OVER (PARTITION BY pri) AS n
    FROM it
  ) WHERE 2 * rn >= n + 1 GROUP BY pri
), dev AS (
  SELECT it.o_orderkey, it.pri, it.cents, m.med_cents,
         abs(it.cents - m.med_cents) AS ad
  FROM it JOIN med m ON m.pri = it.pri
), mad AS (
  SELECT pri, cast(min(ad) as bigint) AS mad_cents FROM (
    SELECT pri, ad,
           row_number() OVER (PARTITION BY pri ORDER BY ad, o_orderkey) AS rn,
           count(*) OVER (PARTITION BY pri) AS n
    FROM dev
  ) WHERE 2 * rn >= n + 1 GROUP BY pri
)
SELECT d.pri, cast(count(*) as bigint) AS n,
       min(d.med_cents) AS med_cents, min(x.mad_cents) AS mad_cents,
       cast(sum(CASE WHEN d.ad > 3 * x.mad_cents THEN 1 ELSE 0 END) as bigint) AS n_outliers
FROM dev d JOIN mad x ON x.pri = d.pri
GROUP BY d.pri
""",
)
def robust_outliers_orders(spark, sf_dir):
    """Robust outlier detection per group — exact integer median and
    MAD (median absolute deviation), flagging |x − med| > 3·MAD. The
    lower-median is rank-selected with a deterministic (value, key)
    tie-break, so both engines pick the identical row; all arithmetic
    in bigint cents (the weighted_median pattern extended to a
    two-level robust statistic: med → deviations → med again). Two
    window passes + two joins, all shuffled on the same group key."""
    o = load(spark, sf_dir, "orders")
    it = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
    )

    def lower_median(df, val, out):
        w = Window.partitionBy("pri").orderBy(F.col(val).asc(), F.col("o_orderkey").asc())
        wn = Window.partitionBy("pri")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .filter(2 * F.col("rn") >= F.col("n") + 1)
            .groupBy("pri")
            .agg(F.min(val).cast("long").alias(out))
        )

    med = lower_median(it, "cents", "med_cents")
    dev = it.join(med, "pri").withColumn("ad", F.abs(F.col("cents") - F.col("med_cents")))
    mad = lower_median(dev, "ad", "mad_cents")
    return (
        dev.join(mad, "pri")
        .groupBy("pri")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med_cents").alias("med_cents"),
            F.min("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad_cents"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
    )



@register(
    "merge_upsert_customers",
    f"""
WITH base AS (
  SELECT c_custkey, c_name, cast(c_acctbal as decimal(12,2)) AS bal
  FROM customer
), changes AS (
  SELECT c_custkey,
         CASE WHEN {D.MD5_LONG_SQL.format(x="concat('del:', cast(c_custkey as varchar))")} % 100 < 5 THEN 'D'
              WHEN {D.MD5_LONG_SQL.format(x="concat('upd:', cast(c_custkey as varchar))")} % 100 < 20 THEN 'U'
         END AS op,
         cast(c_acctbal as decimal(12,2)) + 100 AS new_bal
  FROM customer
  WHERE {D.MD5_LONG_SQL.format(x="concat('chg:', cast(c_custkey as varchar))")} % 100 < 30
), ins AS (
  SELECT c_custkey + 10000000 AS c_custkey, 'I' AS op,
         cast(1.00 as decimal(12,2)) AS new_bal
  FROM customer WHERE c_custkey % 97 = 0
), cs AS (
  SELECT c_custkey, op, new_bal FROM changes WHERE op IS NOT NULL
  UNION ALL SELECT c_custkey, op, new_bal FROM ins
)
SELECT coalesce(b.c_custkey, c.c_custkey) AS c_custkey,
       CASE WHEN c.op = 'U' THEN cast(c.new_bal as double)
            WHEN c.op = 'I' THEN cast(c.new_bal as double)
            ELSE cast(b.bal as double) END AS bal,
       coalesce(c.op, 'K') AS action
FROM base b FULL OUTER JOIN cs c ON b.c_custkey = c.c_custkey
WHERE c.op IS DISTINCT FROM 'D'
""",
)
def merge_upsert_customers(spark, sf_dir):
    """MERGE INTO semantics without a catalog (the Iceberg MERGE path is
    jar-blocked in this sandbox — SURVEY §10): apply a deterministic
    change-set (5% deletes, 20% updates, sparse inserts) to the base
    table with ONE full-outer join on the key — matched+update rewrites
    the value, matched+delete drops the row, unmatched insert appends,
    everything else passes through. This is exactly the shuffle shape a
    real MERGE plans (join on merge key, one pass); on Iceberg the same
    frame lands via overwrite-by-filter."""
    c = load(spark, sf_dir, "customer")
    base = c.select("c_custkey", F.col("c_acctbal").cast("decimal(12,2)").alias("bal"))
    h = lambda tag: D.md5_long(F.concat(F.lit(tag), F.col("c_custkey").cast("string"))) % 100  # noqa: E731
    changes = (
        c.filter(h("chg:") < 30)
        .select(
            "c_custkey",
            F.when(h("del:") < 5, F.lit("D")).when(h("upd:") < 20, F.lit("U")).alias("op"),
            (F.col("c_acctbal").cast("decimal(12,2)") + 100).alias("new_bal"),
        )
        .filter(F.col("op").isNotNull())
    )
    ins = c.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"),
        F.lit("I").alias("op"),
        F.lit(1.00).cast("decimal(12,2)").alias("new_bal"),
    )
    cs = changes.unionByName(ins)
    merged = base.alias("b").join(
        cs.alias("c"), F.col("b.c_custkey") == F.col("c.c_custkey"), "full_outer"
    )
    return merged.filter(
        ~F.col("c.op").eqNullSafe("D")
    ).select(
        F.coalesce(F.col("b.c_custkey"), F.col("c.c_custkey")).alias("c_custkey"),
        F.when(F.col("c.op").isin("U", "I"), F.col("c.new_bal").cast("double"))
        .otherwise(F.col("b.bal").cast("double"))
        .alias("bal"),
        F.coalesce(F.col("c.op"), F.lit("K")).alias("action"),
    )



@register(
    "scd2_price_history",
    """
WITH snaps AS (
  SELECT p_partkey, cast(o_orderdate as date) AS snap_date,
         cast(min(cast(round(cast(l_extendedprice as decimal(18,2)) * 100) as bigint)
                  // cast(l_quantity as bigint)) as bigint) AS unit_price
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               JOIN part ON l_partkey = p_partkey
  WHERE p_partkey < 200
  GROUP BY p_partkey, snap_date
), changed AS (
  SELECT p_partkey, snap_date, unit_price,
         lag(unit_price) OVER w AS prev_price
  FROM snaps WINDOW w AS (PARTITION BY p_partkey ORDER BY snap_date)
), versions AS (
  SELECT p_partkey, snap_date AS valid_from, unit_price
  FROM changed WHERE prev_price IS NULL OR unit_price <> prev_price
)
SELECT p_partkey, valid_from,
       coalesce(lead(valid_from) OVER (PARTITION BY p_partkey ORDER BY valid_from),
                cast('9999-12-31' as date)) AS valid_to,
       unit_price AS unit_cents,
       lead(valid_from) OVER (PARTITION BY p_partkey ORDER BY valid_from) IS NULL AS is_current
FROM versions
""",
)
def scd2_price_history(spark, sf_dir):
    """SCD type-2 history build: per-part daily price snapshots collapse
    into validity intervals — keep only change rows (lag compare), then
    close each version with the next version's start (lead), open-ended
    current rows at the 9999-12-31 sentinel. Unit price in integer
    cents via floor division (exact on both engines). Two windows + the final
    projection all share the single shuffle on the dimension key — the
    standard warehouse dimension-history pipeline."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    snaps = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_partkey", F.col("o_orderdate").cast("date").alias("snap_date"))
        .agg(
            F.min(
                F.floor(
                    F.round(F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
                    / F.col("l_quantity").cast("long")
                )
            )
            .cast("long")
            .alias("unit_price")
        )
    )
    w = Window.partitionBy("p_partkey").orderBy("snap_date")
    changed = snaps.withColumn("prev_price", F.lag("unit_price").over(w))
    versions = changed.filter(
        F.col("prev_price").isNull() | (F.col("unit_price") != F.col("prev_price"))
    ).select("p_partkey", F.col("snap_date").alias("valid_from"), "unit_price")
    w2 = Window.partitionBy("p_partkey").orderBy("valid_from")
    nxt = F.lead("valid_from").over(w2)
    return versions.select(
        "p_partkey",
        "valid_from",
        F.coalesce(nxt, F.lit("9999-12-31").cast("date")).alias("valid_to"),
        F.col("unit_price").alias("unit_cents"),
        nxt.isNull().alias("is_current"),
    )



@register(
    "rate_anomaly_users",
    """
WITH perminute AS (
  SELECT user_id, date_trunc('minute', ts) AS minute, count(*) AS n
  FROM events GROUP BY user_id, minute
)
SELECT user_id,
       cast(count(*) as bigint) AS active_minutes,
       cast(max(n) as bigint) AS peak_per_minute,
       cast(sum(CASE WHEN n >= 3 THEN 1 ELSE 0 END) as bigint) AS burst_minutes,
       max(n) >= 5 AS flagged
FROM perminute GROUP BY user_id
""",
)
def rate_anomaly_users(spark, sf_dir):
    """Rate-anomaly (bot) flags: per-user per-minute event counts, peak
    rate, burst minutes, and a threshold flag — the abuse-detection
    rollup every crawl/event pipeline runs. Two map-side-combinable
    aggregates sharing the user_id shuffle."""
    ev = load(spark, sf_dir, "events")
    pm = ev.groupBy("user_id", F.date_trunc("minute", "ts").alias("minute")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return pm.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("active_minutes"),
        F.max("n").alias("peak_per_minute"),
        F.sum(F.when(F.col("n") >= 3, 1).otherwise(0)).cast("long").alias("burst_minutes"),
        (F.max("n") >= 5).alias("flagged"),
    )



@register(
    "wow_delta_orders",
    f"""
WITH weekly AS (
  SELECT date_trunc('week', cast(o_orderdate as date)) AS wk, o_orderpriority AS pri,
         cast(count(*) as bigint) AS n,
         cast(sum(cast(round(cast(o_totalprice as {DEC}) * 100) as bigint)) as bigint) AS cents
  FROM orders GROUP BY wk, pri
)
SELECT wk, pri, n, cents,
       n - lag(n) OVER w AS n_delta,
       cents - lag(cents) OVER w AS cents_delta,
       CASE WHEN lag(n) OVER w IS NULL OR lag(n) OVER w = 0 THEN NULL
            ELSE (CASE WHEN n >= lag(n) OVER w THEN 1 ELSE -1 END)
                 * ((abs(n - lag(n) OVER w) * 10000) // lag(n) OVER w) END AS n_delta_bp
FROM weekly WINDOW w AS (PARTITION BY pri ORDER BY wk)
""",
)
def wow_delta_orders(spark, sf_dir):
    """Week-over-week deltas per priority: weekly rollup then lag
    windows for absolute and basis-point changes (integer floor
    division — no float ratios). One shuffle on the group key shared by
    the aggregate and the window."""
    o = load(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date")).cast("date").alias("wk"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long")).alias("cents"),
    )
    w = Window.partitionBy("pri").orderBy("wk")
    lag_n, lag_c = F.lag("n").over(w), F.lag("cents").over(w)
    return weekly.select(
        "wk",
        "pri",
        "n",
        "cents",
        (F.col("n") - lag_n).alias("n_delta"),
        (F.col("cents") - lag_c).alias("cents_delta"),
        F.when(lag_n.isNull() | (lag_n == 0), F.lit(None).cast("long"))
        .otherwise(
            # sign-split keeps the integer division non-negative, where
            # Spark floor() and DuckDB // agree (they differ on negatives)
            F.when(F.col("n") >= lag_n, F.lit(1)).otherwise(F.lit(-1))
            * F.floor((F.abs(F.col("n") - lag_n) * 10000) / lag_n).cast("long")
        )
        .alias("n_delta_bp"),
    )



@register(
    "table_profile_orders",
    f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, cast(o_orderdate as date) AS d,
         cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) AS cents
  FROM orders
)
SELECT 'o_custkey' AS col, cast(count(*) as bigint) AS n,
       cast(count(o_custkey) as bigint) AS n_nonnull,
       cast(count(DISTINCT o_custkey) as bigint) AS ndv,
       cast(min(o_custkey) as varchar) AS min_v, cast(max(o_custkey) as varchar) AS max_v
FROM base
UNION ALL
SELECT 'o_orderstatus', cast(count(*) as bigint), cast(count(o_orderstatus) as bigint),
       cast(count(DISTINCT o_orderstatus) as bigint),
       cast(min(o_orderstatus) as varchar), cast(max(o_orderstatus) as varchar)
FROM base
UNION ALL
SELECT 'd', cast(count(*) as bigint), cast(count(d) as bigint),
       cast(count(DISTINCT d) as bigint), cast(min(d) as varchar), cast(max(d) as varchar)
FROM base
UNION ALL
SELECT 'cents', cast(count(*) as bigint), cast(count(cents) as bigint),
       cast(count(DISTINCT cents) as bigint), cast(min(cents) as varchar), cast(max(cents) as varchar)
FROM base
""",
)
def table_profile_orders(spark, sf_dir):
    """ANALYZE-style table profile: per-column row count, non-null
    count, exact NDV, and min/max rendered as strings so one result
    schema serves every column type — the statistics CBO/skew planning
    feed on. One pass per column group, all map-side-combinable except
    the exact distinct (which at 10^12 rows swaps to the HLL sketch
    contract in approx_vs_exact_distinct)."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("d"),
        F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
    )

    def prof(col):
        return base.agg(
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("ndv"),
            F.min(col).cast("string").alias("min_v"),
            F.max(col).cast("string").alias("max_v"),
        )
    out = prof("o_custkey")
    for c in ("o_orderstatus", "d", "cents"):
        out = out.unionByName(prof(c))
    return out



@register(
    "pyramid_incremental_update",
    f"""
WITH old_pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events WHERE event_id % 10 < 8
), delta_pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events WHERE event_id % 10 >= 8
), old_mv AS (
  SELECT {C.TILE_SQL.format(lat='lat', lon='lon')} AS tile_id, count(*) AS n
  FROM old_pts GROUP BY tile_id
), delta_mv AS (
  SELECT {C.TILE_SQL.format(lat='lat', lon='lon')} AS tile_id, count(*) AS n
  FROM delta_pts GROUP BY tile_id
)
SELECT coalesce(o.tile_id, d.tile_id) AS tile_id,
       cast(coalesce(o.n, 0) + coalesce(d.n, 0) as bigint) AS n,
       cast(coalesce(d.n, 0) as bigint) AS n_delta
FROM old_mv o FULL OUTER JOIN delta_mv d ON o.tile_id = d.tile_id
""",
)
def pyramid_incremental_update(spark, sf_dir):
    """Incremental materialized-view maintenance for the tile pyramid:
    the stored per-tile counts (the MV, here rebuilt from the 80%
    'old' slice — in production read back from the snapshot log) are
    updated by aggregating ONLY the delta events and merging additively
    with one full-outer join on tile id — never rescanning the corpus.
    Count is an additive measure, so incremental == full recompute
    exactly; the same merge maintains sums/heat ticks. Composes with
    sources/snapshots.read_incremental for the delta feed."""
    ev = load(spark, sf_dir, "events")

    def mv(df):
        return (
            df.select(
                C.derived_lat(F.col("event_id")).alias("lat"),
                C.derived_lon(F.col("event_id")).alias("lon"),
            )
            .groupBy(C.tile_of(F.col("lat"), F.col("lon")).alias("tile_id"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    old_mv = mv(ev.filter(F.col("event_id") % 10 < 8))
    delta_mv = mv(ev.filter(F.col("event_id") % 10 >= 8))
    o, d = old_mv.alias("o"), delta_mv.alias("d")
    return (
        o.join(d, F.col("o.tile_id") == F.col("d.tile_id"), "full_outer")
        .select(
            F.coalesce(F.col("o.tile_id"), F.col("d.tile_id")).alias("tile_id"),
            (F.coalesce(F.col("o.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0)))
            .cast("long")
            .alias("n"),
            F.coalesce(F.col("d.n"), F.lit(0)).cast("long").alias("n_delta"),
        )
    )



@register(
    "sequence_pattern_users",
    """
WITH seq AS (
  SELECT user_id,
         string_agg(upper(substr(event_type, 1, 1)), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
)
SELECT user_id, length(s) AS n_events,
       regexp_matches(s, 'V[^P]*C[^V]*P') AS matched
FROM seq
""",
)
def sequence_pattern_users(spark, sf_dir):
    """MATCH_RECOGNIZE-style sequence pattern matching: each user's
    time-ordered event-type initials collapse to one string, and the
    funnel pattern becomes a REGEX over it (view, then a click with no
    intervening purchase, then a purchase with no restart) — row
    pattern matching without the MATCH_RECOGNIZE clause, which Spark
    lacks. The per-user sequence build is one aggregate (deterministic
    struct sort = string_agg ORDER BY); the regex is a scan over the
    dim-sized sequence table."""
    ev = load(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", F.upper(F.substring("event_type", 1, 1)).alias("c"))
                    )
                ),
                lambda s: s["c"],
            ),
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.length("s").alias("n_events"),
        F.col("s").rlike("V[^P]*C[^V]*P").alias("matched"),
    )



@register(
    "timed_conversion_users",
    """
WITH fv AS (
  SELECT user_id, min(ts) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
), fp AS (
  SELECT f.user_id, f.first_view, min(e.ts) AS first_purchase
  FROM fv f JOIN events e
    ON e.user_id = f.user_id AND e.event_type = 'purchase' AND e.ts > f.first_view
  GROUP BY f.user_id, f.first_view
)
SELECT f.user_id, f.first_view, p.first_purchase,
       p.first_purchase IS NOT NULL
         AND epoch_us(p.first_purchase) // 1000000 - epoch_us(f.first_view) // 1000000 <= 604800
         AS converted_7d,
       CASE WHEN p.first_purchase IS NOT NULL
            THEN epoch_us(p.first_purchase) // 1000000 - epoch_us(f.first_view) // 1000000
       END AS latency_s
FROM fv f LEFT JOIN fp p ON p.user_id = f.user_id
""",
)
def timed_conversion_users(spark, sf_dir):
    """Timed conversion (the funnel's bounded-window variant): per user,
    first view, first subsequent purchase, the 7-day conversion flag,
    and the conversion latency in whole seconds. Two min-aggregates and
    one range-filtered join, all shuffled on user_id — the attribution
    query marketing pipelines run; the streaming twin is
    stream_stream_attribution."""
    ev = load(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        fv.join(
            ev.filter(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("pu"), F.col("ts").alias("pts")
            ),
            (F.col("user_id") == F.col("pu")) & (F.col("pts") > F.col("first_view")),
        )
        .groupBy("user_id", "first_view")
        .agg(F.min("pts").alias("first_purchase"))
    )
    lat = F.unix_timestamp("first_purchase") - F.unix_timestamp("first_view")
    return fv.join(fp.select("user_id", "first_purchase"), "user_id", "left").select(
        "user_id",
        "first_view",
        "first_purchase",
        (F.col("first_purchase").isNotNull() & (lat <= 604800)).alias("converted_7d"),
        F.when(F.col("first_purchase").isNotNull(), lat).alias("latency_s"),
    )



@register(
    "dup_span_stats",
    f"""
WITH spans AS (
  SELECT doc_id, {D.MD5_LONG_SQL.format(x='g')} AS h
  FROM (SELECT doc_id, unnest({D.shingles_all_sql('text', _SPAN_W)}) AS g FROM documents)
), freq AS (
  SELECT h, count(DISTINCT doc_id) AS nd FROM spans GROUP BY h
)
SELECT s.doc_id,
       cast(count(*) as bigint) AS n_spans,
       cast(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) as bigint) AS n_dup,
       cast(sum(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) as double)
         / cast(count(*) as double) AS dup_frac
FROM spans s JOIN freq f ON f.h = s.h
GROUP BY s.doc_id
""",
)
def dup_span_stats(spark, sf_dir):
    """Exact substring-span dedup profile (the Lee et al. 2022
    "Deduplicating Training Data" shape): per doc, how many of its
    positional 8-token spans also occur in ANOTHER document — the
    signal span-level dedup masks on. Spans ride as md5-hashed longs
    (never the strings) through one hash aggregate (span → distinct-doc
    count) and one equi-join back; shuffle is O(total spans), all
    JVM-side HOFs. Docs shorter than 8 tokens have no spans and drop
    out on both engines."""
    d = load(spark, sf_dir, "documents")
    sp = d.select(
        "doc_id", F.explode(D.shingles_all(F.col("text"), _SPAN_W)).alias("g")
    ).select("doc_id", D.md5_long(F.col("g")).alias("h"))
    freq = sp.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    dup = F.when(F.col("nd") >= 2, 1).otherwise(0)
    return (
        sp.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(dup).cast("long").alias("n_dup"),
            (F.sum(dup).cast("double") / F.count("*").cast("double")).alias("dup_frac"),
        )
    )



@register(
    "gravity_model_flows",
    # cell = gx*100+gy on the 10° lattice (od_matrix_daily's key); the
    # center of cell (gx, gy) in EXACT milli-degree integers:
    #   lon_mdeg = gx*10000 + 5000 - 180000,  lat_mdeg = 90000 - gy*10000 - 5000
    # so the squared center distance d2 is an exact bigint — no trig
    # anywhere near the oracle-facing columns.
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
), flows AS (
  SELECT o.cell AS origin, d.cell AS dest, cast(count(*) as bigint) AS n_trips
  FROM (SELECT user_id, day, cell FROM ranked WHERE rn_a = 1) o
  JOIN (SELECT user_id, day, cell FROM ranked WHERE rn_d = 1) d USING (user_id, day)
  WHERE o.cell <> d.cell
  GROUP BY origin, dest
), mass AS (
  SELECT cell, cast(count(*) as bigint) AS m FROM pts GROUP BY cell
), geo AS (
  SELECT f.origin, f.dest, f.n_trips, mo.m AS m_o, md.m AS m_d,
         (cast(f.dest // 100 - f.origin // 100 as bigint) * 10000) AS dx,
         (cast(f.origin % 100 - f.dest % 100 as bigint) * 10000) AS dy
  FROM flows f
  JOIN mass mo ON mo.cell = f.origin
  JOIN mass md ON md.cell = f.dest
)
SELECT origin, dest, n_trips, m_o, m_d,
       cast(dx * dx + dy * dy as bigint) AS d2_mdeg2,
       cast(m_o * m_d as double) / cast(dx * dx + dy * dy as double) AS g_score,
       cast(n_trips as double) * cast(dx * dx + dy * dy as double)
         / cast(m_o * m_d as double) AS calib_k
FROM geo
""",
)
def gravity_model_flows(spark, sf_dir):
    """Gravity spatial-interaction model over the daily OD flows: for
    every observed origin→dest cell pair, the model score m_o·m_d/d²
    and the per-pair calibration constant k = T·d²/(m_o·m_d) — the
    regression input transport planners fit. Flows come from the same
    one-pass min_by/max_by trick as od_matrix_daily; masses are one
    hash agg; the two mass lookups are explicit broadcast equi-joins
    (cells are dim-sized by construction). Cell-center distances are
    exact milli-degree bigints (the lattice is axis-aligned, so no trig
    enters any oracle-facing column); doubles appear only in the final
    two ratios, same textual order both engines."""
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
    ends = pts.groupBy("user_id", "day").agg(
        F.min_by("cell", "ord").alias("origin"), F.max_by("cell", "ord").alias("dest")
    )
    flows = (
        ends.filter(F.col("origin") != F.col("dest"))
        .groupBy("origin", "dest")
        .agg(F.count("*").cast("long").alias("n_trips"))
    )
    mass = pts.groupBy("cell").agg(F.count("*").cast("long").alias("m"))
    geo = (
        flows.join(F.broadcast(mass.select(F.col("cell").alias("origin"), F.col("m").alias("m_o"))), "origin")
        .join(F.broadcast(mass.select(F.col("cell").alias("dest"), F.col("m").alias("m_d"))), "dest")
        .select(
            "origin",
            "dest",
            "n_trips",
            "m_o",
            "m_d",
            # long before squaring: dx² reaches 1.3e11, past int32
            ((F.expr("dest div 100") - F.expr("origin div 100")).cast("long") * F.lit(10000)).alias("dx"),
            ((F.col("origin") % 100 - F.col("dest") % 100).cast("long") * F.lit(10000)).alias("dy"),
        )
    )
    d2 = F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")
    return geo.select(
        "origin",
        "dest",
        "n_trips",
        "m_o",
        "m_d",
        d2.cast("long").alias("d2_mdeg2"),
        ((F.col("m_o") * F.col("m_d")).cast("double") / d2.cast("double")).alias("g_score"),
        (
            F.col("n_trips").cast("double") * d2.cast("double")
            / (F.col("m_o") * F.col("m_d")).cast("double")
        ).alias("calib_k"),
    )



@register(
    "turn_stats_user",
    f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         (cast(event_id as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS la,
         (cast(event_id as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS lo
  FROM events
), seq AS (
  SELECT user_id,
         lag(la, 2) OVER w AS la1, lag(lo, 2) OVER w AS lo1,
         lag(la, 1) OVER w AS la2, lag(lo, 1) OVER w AS lo2,
         la AS la3, lo AS lo3
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tr AS (
  SELECT user_id,
         (la2 - la1) * (lo3 - lo2) - (lo2 - lo1) * (la3 - la2) AS cr,
         (la2 - la1) * (la3 - la2) + (lo2 - lo1) * (lo3 - lo2) AS dt
  FROM seq WHERE la1 IS NOT NULL
)
SELECT user_id,
       cast(count(*) as bigint) AS n_turns,
       cast(sum(CASE WHEN cr > 0 THEN 1 ELSE 0 END) as bigint) AS n_left,
       cast(sum(CASE WHEN cr < 0 THEN 1 ELSE 0 END) as bigint) AS n_right,
       cast(sum(CASE WHEN cr = 0 AND dt >= 0 THEN 1 ELSE 0 END) as bigint) AS n_straight,
       cast(sum(CASE WHEN cr = 0 AND dt < 0 THEN 1 ELSE 0 END) as bigint) AS n_uturn,
       cast(sum(CASE WHEN cr > 0 THEN 1 WHEN cr < 0 THEN -1 ELSE 0 END) as bigint) AS turn_bias
FROM tr GROUP BY user_id
""",
)
def turn_stats_user(spark, sf_dir):
    """Per-user turning statistics over the ordered GPS trajectory —
    trig-free: each consecutive fix triple classifies by the SIGN of
    the exact integer cross product (left/right/straight/U-turn via
    dot sign), so there is no atan2 parity risk and every count is an
    exact bigint. One shuffle on user_id shared by the double-lag
    window and the aggregate (the trajectory_user_stats plan shape)."""
    pts = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("event_id").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD) - F.lit(60000)).alias("la"),
        ((F.col("event_id").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD) - F.lit(180000)).alias("lo"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = pts.select(
        "user_id",
        F.lag("la", 2).over(w).alias("la1"), F.lag("lo", 2).over(w).alias("lo1"),
        F.lag("la", 1).over(w).alias("la2"), F.lag("lo", 1).over(w).alias("lo2"),
        F.col("la").alias("la3"), F.col("lo").alias("lo3"),
    ).filter(F.col("la1").isNotNull())
    cross = (F.col("la2") - F.col("la1")) * (F.col("lo3") - F.col("lo2")) - (
        F.col("lo2") - F.col("lo1")
    ) * (F.col("la3") - F.col("la2"))
    dot = (F.col("la2") - F.col("la1")) * (F.col("la3") - F.col("la2")) + (
        F.col("lo2") - F.col("lo1")
    ) * (F.col("lo3") - F.col("lo2"))
    tr = seq.select("user_id", cross.alias("cr"), dot.alias("dt"))
    return tr.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(F.when(F.col("cr") > 0, 1).otherwise(0)).cast("long").alias("n_left"),
        F.sum(F.when(F.col("cr") < 0, 1).otherwise(0)).cast("long").alias("n_right"),
        F.sum(F.when((F.col("cr") == 0) & (F.col("dt") >= 0), 1).otherwise(0)).cast("long").alias("n_straight"),
        F.sum(F.when((F.col("cr") == 0) & (F.col("dt") < 0), 1).otherwise(0)).cast("long").alias("n_uturn"),
        F.sum(
            F.when(F.col("cr") > 0, 1).when(F.col("cr") < 0, -1).otherwise(0)
        ).cast("long").alias("turn_bias"),
    )



@register(
    "st_dbscan_events",
    f"""
WITH RECURSIVE pts AS (
  SELECT event_id AS id,
         (cast(event_id as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS la,
         (cast(event_id as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS lo,
         epoch_us(ts) // 1000000 AS t
  FROM events WHERE event_type = 'click'
), pr AS (
  SELECT a.id AS ia, b.id AS ib
  FROM pts a JOIN pts b ON a.id <> b.id
   AND (a.la-b.la)*(a.la-b.la) + (a.lo-b.lo)*(a.lo-b.lo) <= {_STDB_EPS * _STDB_EPS}
   AND abs(a.t - b.t) <= {_STDB_EPS_T}
), deg AS (
  SELECT p.id, 1 + count(pr.ib) AS cnt FROM pts p LEFT JOIN pr ON pr.ia = p.id GROUP BY p.id
), cores AS (SELECT id FROM deg WHERE cnt >= {_STDB_MINPTS}),
ce AS (SELECT ia, ib FROM pr
       WHERE ia IN (SELECT id FROM cores) AND ib IN (SELECT id FROM cores)),
reach(node, r) AS (
  SELECT ia, ib FROM ce
  UNION
  SELECT re.node, e.ib FROM reach re JOIN ce e ON re.r = e.ia WHERE e.ib <> re.node
), comp AS (
  SELECT c.id, least(c.id, coalesce(min(r.r), c.id)) AS cluster_id
  FROM cores c LEFT JOIN reach r ON r.node = c.id GROUP BY c.id
), bord AS (
  SELECT pr.ia AS id, min(comp.cluster_id) AS cluster_id
  FROM pr JOIN comp ON pr.ib = comp.id
  WHERE pr.ia NOT IN (SELECT id FROM cores) GROUP BY pr.ia
)
SELECT p.id AS id,
       CASE WHEN comp.id IS NOT NULL THEN 'core'
            WHEN bord.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS "role",
       cast(coalesce(comp.cluster_id, bord.cluster_id, -1) as bigint) AS cluster_id
FROM pts p LEFT JOIN comp ON comp.id = p.id LEFT JOIN bord ON bord.id = p.id
""",
)
def st_dbscan_events(spark, sf_dir):
    """ST-DBSCAN over click events: a neighbor must be within ε in
    space AND ε_t in time (burst detection — a place is only a cluster
    if the activity is temporally compact too). Same blocked ε-graph
    machinery as dbscan_clusters_customers with the temporal predicate
    on the SAME spatially-blocked candidates (operators/dbscan.py);
    oracle is the bounded brute force + WITH RECURSIVE closure. At
    sf0.01: 295 cores of 2006 clicks."""
    from gipspark.operators.dbscan import dbscan

    pts = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("id"),
            ((F.col("event_id").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD) - F.lit(60000)).alias("la"),
            ((F.col("event_id").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD) - F.lit(180000)).alias("lo"),
            F.unix_timestamp("ts").alias("t"),
        )
    )
    return dbscan(
        pts, eps=_STDB_EPS, min_pts=_STDB_MINPTS, t_col="t", eps_t=_STDB_EPS_T
    )



@register(
    "clark_evans_customers",
    f"""
WITH p AS (SELECT c_custkey AS id, {_LAT.format(k='c_custkey')} AS lat,
                  {_LON.format(k='c_custkey')} AS lon FROM customer),
d AS (SELECT a.id,
             min({HAVERSINE_SQL.format(lat1='a.lat', lon1='a.lon', lat2='b.lat', lon2='b.lon')}) AS nn
      FROM p a JOIN p b ON a.id <> b.id GROUP BY a.id),
agg AS (SELECT cast(count(*) as bigint) AS n,
               cast(sum(cast(round(nn, 0) as bigint)) as bigint) AS sum_nn_m FROM d)
SELECT n, sum_nn_m,
       cast(sum_nn_m as double) / cast(n as double) AS mean_nn_m,
       0.5 * sqrt({_CE_AREA_M2!r} / cast(n as double)) AS expected_m,
       (cast(sum_nn_m as double) / cast(n as double))
         / (0.5 * sqrt({_CE_AREA_M2!r} / cast(n as double))) AS clark_evans_r
FROM agg
""",
)
def clark_evans_customers(spark, sf_dir):
    """Clark–Evans nearest-neighbor index over the customer cloud:
    R = mean observed NN distance / expected under CSR (0.5·√(A/n));
    R < 1 clustered, ≈1 random, → 2.15 dispersed. The NN distance per
    point reuses the exact k-ring-guaranteed kNN join with k=2 (self
    is always rank 1 at distance 0; no coincident distinct-key points
    exist under the derived-coordinate map for keys < 360000), so no
    all-pairs scan ever happens; per-point NN meters are rounded to
    integer ticks so the global sum is exact. Oracle: brute min over
    the same haversine text."""
    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("p_id"),
        C.derived_lat(F.col("c_custkey")).alias("p_lat"),
        C.derived_lon(F.col("c_custkey")).alias("p_lon"),
    )
    qs = pts.select(
        F.col("p_id").alias("q_id"),
        F.col("p_lat").alias("q_lat"),
        F.col("p_lon").alias("q_lon"),
    )
    nn = (
        knn_join(qs, pts, k=2, n_points_hint=table_rows(sf_dir, "customer"))
        .filter(F.col("p_id") != F.col("q_id"))
        .groupBy("q_id")
        .agg(F.min("dist_m").alias("nn"))
    )
    agg = nn.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.round("nn", 0).cast("long")).cast("long").alias("sum_nn_m"),
    )
    mean = F.col("sum_nn_m").cast("double") / F.col("n").cast("double")
    expected = F.lit(0.5) * F.sqrt(F.lit(_CE_AREA_M2) / F.col("n").cast("double"))
    return agg.select(
        "n",
        "sum_nn_m",
        mean.alias("mean_nn_m"),
        expected.alias("expected_m"),
        (mean / expected).alias("clark_evans_r"),
    )



@register(
    "hausdorff_traj_pairs",
    f"""
WITH ranked AS (
  SELECT user_id, event_id,
         (cast(event_id as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS la,
         (cast(event_id as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS lo,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), pts AS (SELECT user_id AS u, event_id AS pid, la, lo FROM ranked WHERE rn <= {_HAUS_K}),
cells AS (SELECT DISTINCT u,
                 cast(floor(la / {float(_HAUS_W)!r}) as bigint) AS cx,
                 cast(floor(lo / {float(_HAUS_W)!r}) as bigint) AS cy FROM pts),
cand AS (SELECT DISTINCT a.u AS ua, b.u AS ub
         FROM cells a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy AND a.u < b.u),
j AS (SELECT c.ua, c.ub, a.pid AS ea, b.pid AS eb,
             (a.la-b.la)*(a.la-b.la) + (a.lo-b.lo)*(a.lo-b.lo) AS d2
      FROM cand c JOIN pts a ON a.u = c.ua JOIN pts b ON b.u = c.ub),
dab AS (SELECT ua, ub, cast(max(mind) as bigint) AS d2_ab
        FROM (SELECT ua, ub, ea, min(d2) AS mind FROM j GROUP BY ua, ub, ea) GROUP BY ua, ub),
dba AS (SELECT ua, ub, cast(max(mind) as bigint) AS d2_ba
        FROM (SELECT ua, ub, eb, min(d2) AS mind FROM j GROUP BY ua, ub, eb) GROUP BY ua, ub)
SELECT dab.ua AS user_a, dab.ub AS user_b, d2_ab, d2_ba,
       greatest(d2_ab, d2_ba) AS d2_hausdorff
FROM dab JOIN dba ON dab.ua = dba.ua AND dab.ub = dba.ub
""",
)
def hausdorff_traj_pairs(spark, sf_dir):
    """Discrete symmetric Hausdorff distance between user trajectories
    (the trajectory-similarity join): each user capped to the 16
    earliest fixes by (ts, event_id) — the documented per-trajectory
    bound that makes the per-pair cross product ≤ K² — candidate pairs
    blocked by shared 30k-tick cells, max-min over exact integer d².
    operators/trajectory.py hausdorff_pairs; oracle mirrors cap,
    blocking and both directed distances."""
    from gipspark.operators.trajectory import hausdorff_pairs

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
    return hausdorff_pairs(pts, block_w=_HAUS_W)



@register(
    "dbscan_clusters_customers",
    # brute-force oracle (customer is dim-sized at oracle SF); WITH
    # RECURSIVE min-reach mirrors pointer-jumping component minima.
    # "role" quoted: reserved word in DuckDB's parser.
    f"""
WITH RECURSIVE pts AS (
  SELECT c_custkey AS id,
         (cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS la,
         (cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS lo
  FROM customer
), pr AS (
  SELECT a.id AS ia, b.id AS ib
  FROM pts a JOIN pts b ON a.id <> b.id
   AND (a.la-b.la)*(a.la-b.la) + (a.lo-b.lo)*(a.lo-b.lo) <= {_DBSCAN_EPS * _DBSCAN_EPS}
), deg AS (
  SELECT p.id, 1 + count(pr.ib) AS cnt FROM pts p LEFT JOIN pr ON pr.ia = p.id GROUP BY p.id
), cores AS (SELECT id FROM deg WHERE cnt >= {_DBSCAN_MINPTS}),
ce AS (SELECT ia, ib FROM pr
       WHERE ia IN (SELECT id FROM cores) AND ib IN (SELECT id FROM cores)),
reach(node, r) AS (
  SELECT ia, ib FROM ce
  UNION
  SELECT re.node, e.ib FROM reach re JOIN ce e ON re.r = e.ia WHERE e.ib <> re.node
), comp AS (
  SELECT c.id, least(c.id, coalesce(min(r.r), c.id)) AS cluster_id
  FROM cores c LEFT JOIN reach r ON r.node = c.id GROUP BY c.id
), bord AS (
  SELECT pr.ia AS id, min(comp.cluster_id) AS cluster_id
  FROM pr JOIN comp ON pr.ib = comp.id
  WHERE pr.ia NOT IN (SELECT id FROM cores) GROUP BY pr.ia
)
SELECT p.id AS id,
       CASE WHEN comp.id IS NOT NULL THEN 'core'
            WHEN bord.id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS "role",
       cast(coalesce(comp.cluster_id, bord.cluster_id, -1) as bigint) AS cluster_id
FROM pts p LEFT JOIN comp ON comp.id = p.id LEFT JOIN bord ON bord.id = p.id
""",
)
def dbscan_clusters_customers(spark, sf_dir):
    """Point-level DBSCAN over the customer cloud (ε=6 mdeg-k ticks,
    min_pts=4): core points by exact ε-ball occupancy, clusters =
    connected components of the core–core ε-graph (pointer-jumping),
    border attached to the smallest adjacent cluster, noise = -1.
    ε-pairs come from the 3×3 ε-cell offset join, never all-pairs
    (operators/dbscan.py); oracle is the bounded brute force with a
    WITH RECURSIVE closure. At sf0.01: 292 core / 126 border / 1082
    noise in 61 clusters — all three roles exercised."""
    from gipspark.operators.dbscan import dbscan

    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD) - F.lit(60000)).alias("la"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD) - F.lit(180000)).alias("lo"),
    )
    return dbscan(pts, eps=_DBSCAN_EPS, min_pts=_DBSCAN_MINPTS)



@register("str_pack_customers", _str_pack_oracle())
def str_pack_customers(spark, sf_dir):
    """Sort-Tile-Recursive R-tree bulk-load layout over the customer
    cloud: every point gets a leaf page id and its page's MBR — the
    spatial-index packing step (SpatialHadoop/Sedona's STR partitioner)
    that complements the zorder/hilbert 1-D layout keys with true
    rectangle pages. The x-rank that defines the vertical slabs is the
    distributed two-phase global rank (operators/ranking.py
    global_row_number: repartitionByRange → per-partition counts → a
    BOUNDED ≤#partitions driver collect of offsets → within-partition
    row_number), never a single-partition window; the y-rank partitions
    by slab (~√(N·B) rows each). Coordinates are exact integer
    milli-degree ticks and both ranks carry a unique tie-break, so page
    ids and MBRs are bit-exact against the oracle's plain global-window
    replay."""
    from gipspark.operators.ranking import str_pack

    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD) - F.lit(60000)).alias("la"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD) - F.lit(180000)).alias("lo"),
    )
    return str_pack(pts, "la", "lo", "c_custkey", capacity=64)



@register(
    "watershed_basins",
    f"""
WITH RECURSIVE {_D8_GRID_SQL}, walk AS (
  SELECT cx, cy, cx AS ccx, cy AS ccy, 0 AS hops FROM full_grid
  UNION ALL
  SELECT w.cx, w.cy, f.tx, f.ty, w.hops + 1
  FROM walk w JOIN full_grid f ON f.cx = w.ccx AND f.cy = w.ccy AND f.dir >= 0
), fin AS (
  SELECT cx, cy, ccx AS basin_cx, ccy AS basin_cy, cast(hops as bigint) AS hops
  FROM (
    SELECT *, row_number() OVER (PARTITION BY cx, cy ORDER BY hops DESC) AS rn FROM walk
  ) WHERE rn = 1
), sz AS (
  SELECT basin_cx, basin_cy, cast(count(*) as bigint) AS basin_size
  FROM fin GROUP BY basin_cx, basin_cy
)
SELECT f.cx, f.cy, f.basin_cx, f.basin_cy, f.hops, s.basin_size
FROM fin f JOIN sz s ON s.basin_cx = f.basin_cx AND s.basin_cy = f.basin_cy
""",
)
def watershed_basins(spark, sf_dir):
    """Watershed labeling: every raster cell resolved to its D8 sink
    (basin outlet) with hop distance and basin size — drainage-basin
    delineation, the canonical composition on top of d8_flow_cells.
    The walk is NOT one-hop-per-pass: the D8 pointer graph is a
    functional DAG (strictly decreasing density along flow), so the
    shared pointer-doubling resolver (operators/chains.py, the redirect
    resolver) labels depth-D paths in ⌈log₂ D⌉ equi-join rounds with
    localCheckpoint lineage cuts. Cells encode as cx·1000+cy (both
    coords non-negative and < 1000 on the 2.5° grid by construction);
    the oracle replays the walk as a recursive CTE. Basin sizes are one
    hash agg joined back broadcast (basins are dim-scale)."""
    from gipspark.operators.chains import resolve_chains

    full = _d8_full(spark, sf_dir)
    edges = full.select(
        (F.col("cx").cast("long") * 1000 + F.col("cy")).alias("id"),
        F.when(
            F.col("dir") >= 0, F.col("tx").cast("long") * 1000 + F.col("ty")
        ).alias("next"),
    )
    res = resolve_chains(edges, "id", "next")
    fin = res.selectExpr(
        "cast(id div 1000 as int) as cx",
        "cast(id % 1000 as int) as cy",
        "cast(final_id div 1000 as int) as basin_cx",
        "cast(final_id % 1000 as int) as basin_cy",
        "cast(hops as bigint) as hops",
    )
    sz = fin.groupBy("basin_cx", "basin_cy").agg(
        F.count(F.lit(1)).cast("long").alias("basin_size")
    )
    return fin.join(F.broadcast(sz), ["basin_cx", "basin_cy"]).select(
        "cx", "cy", "basin_cx", "basin_cy", "hops", "basin_size"
    )



@register(
    "bot_regularity_users",
    """
WITH ev AS (
  SELECT user_id, cast(floor(epoch(ts)) as bigint) AS t, event_id FROM events
), gaps AS (
  SELECT user_id,
         t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS d
  FROM ev
), agg AS (
  SELECT user_id,
         cast(count(d) as bigint) AS n_gaps,
         cast(sum(d) as bigint) AS sum_gap,
         cast(sum(cast(d as hugeint) * cast(d as hugeint)) as hugeint) AS sum_d2
  FROM gaps GROUP BY user_id
)
SELECT user_id, n_gaps, sum_gap,
       cast(cast(n_gaps as hugeint) * sum_d2
            - cast(sum_gap as hugeint) * cast(sum_gap as hugeint) as double) AS var_num,
       (n_gaps >= 3 AND cast(n_gaps as hugeint) * sum_d2
            - cast(sum_gap as hugeint) * cast(sum_gap as hugeint) = 0) AS is_regular
FROM agg WHERE n_gaps >= 1
""",
)
def bot_regularity_users(spark, sf_dir):
    """Bot detection by inter-arrival regularity — a crawler/script
    fires at metronome intervals, a human doesn't. Per user the
    variance numerator n·Σd² − (Σd)² of the inter-event second gaps is
    computed as exact integers (DECIMAL(38,0) / HUGEINT: Σd² scales
    ~gap²·events and wraps int64 on long-lived users — the chisq
    lesson), emitted as a correctly-rounded double; zero numerator over
    ≥3 gaps = perfectly regular = flagged. One user_id shuffle shared
    by the lag window and the aggregate; no floats anywhere before the
    final cast."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").cast("long").alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gaps = ev.select("user_id", (F.col("t") - F.lag("t").over(w)).alias("d"))
    dec = "decimal(38,0)"
    agg = gaps.groupBy("user_id").agg(
        F.count("d").cast("long").alias("n_gaps"),
        F.sum("d").cast("long").alias("sum_gap"),
        F.sum(F.col("d").cast(dec) * F.col("d").cast(dec)).cast(dec).alias("sum_d2"),
    )
    var_num = (
        F.col("n_gaps").cast(dec) * F.col("sum_d2")
        - F.col("sum_gap").cast(dec) * F.col("sum_gap").cast(dec)
    ).cast(dec)
    return agg.filter(F.col("n_gaps") >= 1).select(
        "user_id",
        "n_gaps",
        "sum_gap",
        var_num.cast("double").alias("var_num"),
        ((F.col("n_gaps") >= 3) & (var_num == 0)).alias("is_regular"),
    )



@register(
    "event_path_trigrams",
    """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type FROM events
), seq AS (
  SELECT user_id,
         lag(event_type, 2) OVER w AS e1,
         lag(event_type, 1) OVER w AS e2,
         event_type AS e3
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tri AS (
  SELECT concat(e1, '>', e2, '>', e3) AS path FROM seq WHERE e1 IS NOT NULL
)
SELECT path, n_occurrences, rnk FROM (
  SELECT path, cast(count(*) as bigint) AS n_occurrences,
         cast(row_number() OVER (ORDER BY count(*) DESC, path) as int) AS rnk
  FROM tri GROUP BY path
) WHERE rnk <= 25
""",
)
def event_path_trigrams(spark, sf_dir):
    """Clickstream path mining: the top event-type trigrams across all
    user sessions — the funnel-discovery pass that tells an analyst
    which 3-step paths actually happen before they hand-build funnels
    (funnel_view_click_purchase is the confirmatory twin). One user_id
    shuffle for the double-lag window, one hash agg on the path string,
    global top-25 by count with deterministic tie-break — at 100 TB the
    agg output is |event_types|³ rows max, a constant."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type", 2).over(w).alias("e1"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.col("event_type").alias("e3"),
    ).filter(F.col("e1").isNotNull())
    tri = seq.select(
        F.concat(F.col("e1"), F.lit(">"), F.col("e2"), F.lit(">"), F.col("e3")).alias("path")
    )
    counts = tri.groupBy("path").agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    wr = Window.orderBy(F.col("n_occurrences").desc(), "path")
    return (
        counts.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= 25)
        .select("path", "n_occurrences", "rnk")
    )



@register(
    "simpson_diversity_sources",
    """
WITH c AS (
  SELECT source, lang, cast(count(*) as bigint) AS n
  FROM documents GROUP BY source, lang
), agg AS (
  SELECT source,
         cast(count(*) as bigint) AS n_langs,
         cast(sum(n) as bigint) AS n_docs,
         cast(sum(cast(n as hugeint) * (cast(n as hugeint) - 1)) as hugeint) AS num
  FROM c GROUP BY source
)
SELECT source, n_langs, n_docs,
       cast(num as double) AS num,
       1.0 - cast(num as double)
           / (cast(n_docs as double) * (cast(n_docs as double) - 1.0)) AS simpson
FROM agg WHERE n_docs >= 2
""",
)
def simpson_diversity_sources(spark, sf_dir):
    """Simpson diversity index per source — the corpus-mixture monitor
    (probability two random docs from a source differ in language),
    chosen over Shannon entropy because it is an EXACT rational:
    1 − Σ nᵢ(nᵢ−1)/(N(N−1)) needs no log. Σ nᵢ(nᵢ−1) runs in
    DECIMAL(38,0)/HUGEINT (nᵢ² wraps int64 past ~3·10⁹ docs per lang);
    the index is the only double, from the same integers in the same
    textual order both engines. Two cheap hash aggregates, output
    |sources| rows."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    dec = "decimal(38,0)"
    agg = c.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.col("n").cast(dec) * (F.col("n").cast(dec) - 1)).cast(dec).alias("num_d"),
    )
    return agg.filter(F.col("n_docs") >= 2).select(
        "source",
        "n_langs",
        "n_docs",
        F.col("num_d").cast("double").alias("num"),
        (
            F.lit(1.0)
            - F.col("num_d").cast("double")
            / (F.col("n_docs").cast("double") * (F.col("n_docs").cast("double") - 1.0))
        ).alias("simpson"),
    )



@register(
    "trimmed_mean_orders",
    """
WITH c AS (
  SELECT o_orderpriority, o_orderkey,
         cast(round(o_totalprice * 100) as bigint) AS cents
  FROM orders
), r AS (
  SELECT o_orderpriority, cents,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM c
), kept AS (
  SELECT o_orderpriority, cents, n FROM r
  WHERE rn > n // 10 AND rn <= n - n // 10
)
SELECT o_orderpriority,
       cast(max(n) as bigint) AS n_total,
       cast(count(*) as bigint) AS n_kept,
       cast(sum(cents) as bigint) AS sum_cents,
       cast(sum(cents) as double) / cast(count(*) as double) / 100.0 AS trimmed_mean
FROM kept GROUP BY o_orderpriority
""",
)
def trimmed_mean_orders(spark, sf_dir):
    """10% two-sided trimmed mean of order value per priority — the
    robust location estimate that survives the outliers
    robust_outliers_orders flags. Prices quantize to exact integer
    cents BEFORE ranking (no float ties); the trim is rank-based with a
    deterministic (cents, orderkey) order shared by both engines, so
    the kept multiset is identical; the mean is one double from two
    exact integers. One shuffle on the group key feeds both windows and
    the aggregate."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    wr = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    wc = Window.partitionBy("o_orderpriority")
    r = o.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    kept = r.filter(
        (F.col("rn") > F.expr("n div 10")) & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
    )
    return kept.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("cents").cast("long").alias("sum_cents"),
        (
            F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double") / F.lit(100.0)
        ).alias("trimmed_mean"),
    )



@register(
    "benford_orders",
    f"""
WITH d AS (
  SELECT cast(substr(cast(cast(round(o_totalprice * 100) as bigint) as varchar), 1, 1) as int) AS digit
  FROM orders WHERE o_totalprice > 0
), c AS (
  SELECT digit, cast(count(*) as bigint) AS n FROM d GROUP BY digit
), t AS (SELECT cast(sum(n) as bigint) AS total FROM c)
SELECT c.digit, c.n,
       cast(c.n as double) / cast(t.total as double) AS observed,
       cast({_BENFORD_CASE} as double) AS expected
FROM c, t
""",
)
def benford_orders(spark, sf_dir):
    """Benford's-law first-digit audit over order values — the fraud /
    synthetic-data screen: observed leading-digit shares vs the
    log10(1+1/d) expectation. The leading digit comes from exact
    integer cents rendered to a string (no float formatting ambiguity);
    shares are single divisions of exact counts; the log10(1+1/d)
    expectations are nine Python-rendered literals inlined textually
    into BOTH plans (libm log10 is only 1-ulp accurate, so neither
    engine computes it). One hash agg + a 1-row total broadcast."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        ).cast("int").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.agg(F.sum("n").cast("long").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias("observed"),
        F.expr(_BENFORD_CASE).cast("double").alias("expected"),
    )



@register(
    "hrw_shard_assign",
    # rendezvous (highest-random-weight) hashing: shard = argmax over
    # shards of md5(shard:s:doc_id); adding a shard moves only the docs
    # whose new shard wins — the minimal-disruption guarantee measured
    # here as the per-shard moved fraction when 8 → 9.
    f"""
WITH h AS (
  SELECT doc_id, {", ".join(f"{_hrw_h_sql(s)} AS h{s}" for s in range(_HRW_S + 1))}
  FROM documents
), a AS (
  SELECT doc_id,
         cast({_hrw_argmax_sql(_HRW_S)} as bigint) AS shard,
         cast({_hrw_argmax_sql(_HRW_S + 1)} as bigint) AS shard_after
  FROM h
)
SELECT shard, cast(count(*) as bigint) AS n_docs,
       cast(sum(CASE WHEN shard <> shard_after THEN 1 ELSE 0 END) as bigint) AS n_moved,
       cast(sum(CASE WHEN shard <> shard_after THEN 1 ELSE 0 END) as double)
         / cast(count(*) as double) AS moved_frac
FROM a GROUP BY shard
""",
)
def hrw_shard_assign(spark, sf_dir):
    """Rendezvous (HRW) shard assignment — how a distributed cache /
    stateful-service tier routes keys without a coordination ring: each
    doc goes to the shard whose md5(shard, key) weight is highest, and
    adding a shard relocates only the keys the NEW shard wins (expected
    1/(S+1) of them, uniformly from every old shard). The query scores
    the 8→9 scale-out: per-shard doc counts and moved fraction.

    Scale shape: pure narrow — S+1 hash columns and two argmaxes in the
    scan-stage projection (whole-stage codegen, ties broken to the
    lowest shard identically in both engines), then one tiny hash-agg;
    zero joins. At 100 TB this is the shuffle-free alternative to a
    shard-map broadcast join."""
    d = load(spark, sf_dir, "documents")
    hs = [
        D.md5_long(F.concat(F.lit(f"shard:{s}:"), F.col("doc_id").cast("string"))).alias(f"h{s}")
        for s in range(_HRW_S + 1)
    ]
    h = d.select("doc_id", *hs)

    def argmax(n: int):
        gmax = F.greatest(*[F.col(f"h{s}") for s in range(n)])
        e = F.when(F.col("h0") == gmax, F.lit(0))
        for s in range(1, n):
            e = e.when(F.col(f"h{s}") == gmax, F.lit(s))
        return e.cast("long")

    a = h.select(
        "doc_id", argmax(_HRW_S).alias("shard"), argmax(_HRW_S + 1).alias("shard_after")
    )
    moved = F.when(F.col("shard") != F.col("shard_after"), F.lit(1)).otherwise(F.lit(0))
    return a.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(moved).cast("long").alias("n_moved"),
        (F.sum(moved).cast("double") / F.count("*").cast("double")).alias("moved_frac"),
    )



@register(
    "pld_site_stats",
    # registrable-domain (pay-level-domain) extraction with a frozen
    # public-suffix subset: if the last TWO labels form a listed
    # multi-label suffix the PLD keeps three labels, else two — the
    # scoping rule crawlers use for politeness and dedup domains.
    f"""
WITH hosts AS (
  SELECT doc_id, source,
         concat(CASE doc_id % 3 {" ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_PLD_SUBS))} END,
                '.', source, '.',
                CASE doc_id % 5 {" ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_PLD_TLDS))} END) AS host
  FROM documents
), lab AS (
  SELECT doc_id, source, host, string_split(host, '.') AS a FROM hosts
), pld AS (
  SELECT doc_id, source, host,
         CASE WHEN concat(a[-2], '.', a[-1]) IN {_PLD_SUFF2!r}
              THEN concat(a[-3], '.', a[-2], '.', a[-1])
              ELSE concat(a[-2], '.', a[-1]) END AS pld
  FROM lab
)
SELECT pld, cast(count(*) as bigint) AS n_docs,
       cast(count(DISTINCT host) as bigint) AS n_hosts,
       cast(count(DISTINCT source) as bigint) AS n_sources
FROM pld GROUP BY pld
""",
)
def pld_site_stats(spark, sf_dir):
    """Pay-level-domain (registrable domain) extraction and site-level
    rollup — the scoping primitive every crawler needs: politeness,
    robots caching, and dedup domains are keyed by PLD, not hostname,
    and getting 'a.co.uk' vs 'b.github.io' right requires the
    public-suffix list (frozen subset here), not 'last two labels'.
    Hosts are synthesized with mixed single- and multi-label suffixes
    so both branches of the rule execute.

    Scale shape: pure codegen string/array ops (split + negative
    element_at + a set-membership CASE) in the scan stage, then one
    PLD-key hash-agg — key domain bounded by the site count. At a real
    100 TB crawl the full PSL (~9k rules) broadcasts as a literal
    in-set or a small dim join; the rule shape is identical."""
    d = load(spark, sf_dir, "documents")
    sub = F.col("doc_id") % 3
    tld = F.col("doc_id") % 5
    sub_c = F.when(sub == 0, F.lit(_PLD_SUBS[0]))
    for i, s in enumerate(_PLD_SUBS[1:], 1):
        sub_c = sub_c.when(sub == i, F.lit(s))
    tld_c = F.when(tld == 0, F.lit(_PLD_TLDS[0]))
    for i, s in enumerate(_PLD_TLDS[1:], 1):
        tld_c = tld_c.when(tld == i, F.lit(s))
    hosts = d.select(
        "doc_id",
        "source",
        F.concat(sub_c, F.lit("."), F.col("source"), F.lit("."), tld_c).alias("host"),
    )
    a = F.split(F.col("host"), r"\.")
    last2 = F.concat(F.element_at(a, -2), F.lit("."), F.element_at(a, -1))
    pld = F.when(
        last2.isin(*_PLD_SUFF2),
        F.concat(F.element_at(a, -3), F.lit("."), last2),
    ).otherwise(last2)
    return (
        hosts.select("doc_id", "source", "host", pld.alias("pld"))
        .groupBy("pld")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
    )



@register(
    "props_map_ops",
    # map-typed column surface: parse props into a real MapType and
    # exercise map_keys / element_at / transform_values / map_concat;
    # DuckDB mirrors through its JSON functions on the same values.
    """
SELECT event_id,
       cast(len(json_keys(props)) as int) AS n_keys,
       cast(json_extract(props, '$.k') as bigint) AS v,
       cast(json_extract(props, '$.k') as bigint) * 2 AS v_doubled,
       array_to_string(list_sort(json_keys(props) || ['src']), ',') AS key_list
FROM events
WHERE event_id % 10 = 0
""",
)
def props_map_ops(spark, sf_dir):
    """Map-typed column surface: events.props parsed into a real
    ``map<string,bigint>`` and driven through the map function family —
    ``map_keys``, ``element_at``, ``transform_values`` (v→2v), and
    ``map_concat`` with a literal map — the part of the scalar surface
    the array/json sweeps don't touch. The oracle reaches the same
    values through DuckDB's JSON functions, proving the map semantics
    rather than the call names.

    Scale shape: pure narrow scan-stage projection; the event_id
    filter reaches the parquet reader as a pushed predicate."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    m = F.from_json(F.col("props"), "map<string,bigint>")
    m2 = F.map_concat(m, F.create_map(F.lit("src"), F.lit(1).cast("bigint")))
    doubled = F.transform_values(m, lambda _, v: v * 2)
    return ev.select(
        "event_id",
        F.size(F.map_keys(m)).cast("int").alias("n_keys"),
        F.element_at(m, "k").alias("v"),
        F.element_at(doubled, "k").alias("v_doubled"),
        F.array_join(F.array_sort(F.map_keys(m2)), ",").alias("key_list"),
    )



@register(
    "rfm_segments_users",
    # RFM segmentation: per-user recency/frequency/monetary quintiles.
    # Monetary in exact cents; recency in whole days vs the global max
    # day (computed as a window over the user-level dim table, no 1-row
    # broadcast); quintiles are ntile(5) with fully deterministic
    # (metric, user_id) orders.
    """
WITH u AS (
  SELECT user_id,
         max(epoch_us(ts) // 1000000 // 86400) AS last_d,
         cast(count(*) as bigint) AS freq,
         cast(sum(cast(round(value * 100) as bigint)) as bigint) AS monetary_c
  FROM events GROUP BY user_id
), r AS (
  SELECT user_id, freq, monetary_c,
         cast(max(last_d) OVER () - last_d as bigint) AS recency_d
  FROM u
)
SELECT user_id, recency_d, freq, monetary_c,
       cast(ntile(5) OVER (ORDER BY recency_d ASC, user_id ASC) as int) AS r_score,
       cast(ntile(5) OVER (ORDER BY freq DESC, user_id ASC) as int) AS f_score,
       cast(ntile(5) OVER (ORDER BY monetary_c DESC, user_id ASC) as int) AS m_score
FROM r
""",
)
def rfm_segments_users(spark, sf_dir):
    """RFM (recency / frequency / monetary) segmentation — the
    workhorse user-value partitioning every activity pipeline ships:
    per user, days since last event, event count, and exact-cents
    spend, each quintiled into a 1–5 score with fully deterministic
    tie-breaks. Recency anchors to the corpus max day via a window
    over the user-level table (dim-scale) rather than a 1-row
    broadcast.

    Scale shape: ONE user_id hash-agg over the big table; scoring runs
    on the per-user dim table. The unpartitioned ntile windows are
    bounded by user cardinality — for a truly huge user dim the
    two-phase global-rank operator (operators/ranking.py) is the drop-in
    replacement, as str_pack_customers demonstrates."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.floor(F.unix_timestamp("ts") / F.lit(86400))).alias("last_d"),
        F.count("*").cast("long").alias("freq"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("long").alias("monetary_c"),
    )
    r = u.select(
        "user_id",
        "freq",
        "monetary_c",
        (F.max("last_d").over(Window.partitionBy()) - F.col("last_d"))
        .cast("long")
        .alias("recency_d"),
    )
    return r.select(
        "user_id",
        "recency_d",
        "freq",
        "monetary_c",
        F.ntile(5).over(Window.orderBy(F.col("recency_d").asc(), F.col("user_id").asc())).cast("int").alias("r_score"),
        F.ntile(5).over(Window.orderBy(F.col("freq").desc(), F.col("user_id").asc())).cast("int").alias("f_score"),
        F.ntile(5).over(Window.orderBy(F.col("monetary_c").desc(), F.col("user_id").asc())).cast("int").alias("m_score"),
    )



@register(
    "allen_relations_events",
    f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) // 1000000 AS s1,
         epoch_us(ts) // 1000000 + 60 + cast(round(value * 100) as bigint) % 43140 AS e1
  FROM events
), pr AS (
  SELECT user_id, s1, e1,
         lead(s1) OVER (PARTITION BY user_id ORDER BY s1, e1) AS s2,
         lead(e1) OVER (PARTITION BY user_id ORDER BY s1, e1) AS e2
  FROM iv
)
SELECT {_ALLEN_CASE} AS relation, cast(count(*) as bigint) AS n_pairs
FROM pr WHERE s2 IS NOT NULL
GROUP BY relation
""",
)
def allen_relations_events(spark, sf_dir):
    """Allen's interval algebra over per-user activity intervals:
    consecutive intervals (start = event time, duration derived from
    the value column) classified into the 13 Allen relations by exact
    integer-second comparisons — the temporal-logic vocabulary interval
    joins, dissolves, and containment queries are special cases of
    (range_join = 'overlaps ∪ during ∪ ...', merge_intervals = the
    non-'before' closure). The CASE chain is rendered once and spliced
    into both engines, so the branch order IS the shared spec.

    Scale shape: one user_id shuffle feeds both the lead() window and
    the relation hash-agg; output is bounded by 13 rows."""
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("s1"),
        (
            F.unix_timestamp("ts").cast("long")
            + 60
            + F.round(F.col("value") * 100).cast("bigint") % 43140
        ).alias("e1"),
    )
    w = Window.partitionBy("user_id").orderBy("s1", "e1")
    pr = iv.select(
        "s1",
        "e1",
        F.lead("s1").over(w).alias("s2"),
        F.lead("e1").over(w).alias("e2"),
    ).filter(F.col("s2").isNotNull())
    return pr.groupBy(F.expr(_ALLEN_CASE).alias("relation")).agg(
        F.count("*").cast("long").alias("n_pairs")
    )



@register(
    "diameter_pairs_nations",
    # farthest customer pair per nation in exact milli-degree ticks;
    # oracle is the bounded all-pairs max with the same tie-break.
    f"""
WITH pts AS (
  SELECT c_custkey AS id, c_nationkey AS g,
         (cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS la,
         (cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS lo
  FROM customer
), d AS (
  SELECT a.g, a.id AS id_a, b.id AS id_b,
         (a.la - b.la) * (a.la - b.la) + (a.lo - b.lo) * (a.lo - b.lo) AS d2
  FROM pts a JOIN pts b ON a.g = b.g AND a.id < b.id
), pick AS (
  SELECT g, id_a, id_b, d2,
         row_number() OVER (PARTITION BY g ORDER BY d2 DESC, id_a ASC, id_b ASC) AS rn
  FROM d
), n AS (SELECT g, cast(count(*) as bigint) AS n_pts FROM pts GROUP BY g)
SELECT pick.g AS nationkey, cast(id_a as bigint) AS id_a, cast(id_b as bigint) AS id_b,
       cast(d2 as bigint) AS d2, n.n_pts
FROM pick JOIN n ON n.g = pick.g WHERE rn = 1
""",
)
def diameter_pairs_nations(spark, sf_dir):
    """Farthest customer pair per nation (the set diameter) — the
    spread/extent statistic that pairs with convex_hull_nations the way
    max pairs with argmax: service-area span, antenna placement,
    worst-case intra-group distance. Exact: planar milli-degree ticks
    keep every squared distance below 2^53, the diameter's endpoints
    are provably strict hull vertices, and ties resolve to the
    lexicographically smallest id pair — so the hull-reduced
    applyInPandas answer (operators/hull.py diameter_pairs) equals the
    oracle's all-pairs brute force bit-exactly.

    Scale shape: one group-key shuffle; per group O(n log n) hull +
    O(h²) vertex pairs instead of O(n²) — the hull reduction IS the
    scale story, with the per-fine-cell min-id pre-reduction as the
    planetary-group bound (same contract as convex_hull)."""
    from gipspark.operators.hull import diameter_pairs

    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").alias("g"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD) - F.lit(60000)).alias("x"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD) - F.lit(180000)).alias("y"),
    )
    out = diameter_pairs(pts, "g", id_col="id", x_col="x", y_col="y")
    return out.select(F.col("g").alias("nationkey"), "id_a", "id_b", "d2", "n_pts")



@register(
    "sde_directional_nations",
    # standard deviational ellipse (ArcGIS "Directional Distribution")
    # per nation, kept exact: centered second moments as n²-scaled
    # bigints (n·Σx² − (Σx)² never divides), orientation reported as
    # the exact rational tan(2θ) = 2·Sxy / (Sxx − Syy) instead of an
    # atan2 double (libm parity risk avoided by design).
    f"""
WITH pts AS (
  SELECT c_nationkey AS g,
         (cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS x,
         (cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS y
  FROM customer
)
SELECT g AS nationkey,
       cast(count(*) as bigint) AS n_pts,
       cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
       cast(count(*) * sum(cast(x as hugeint) * cast(x as hugeint))
            - cast(sum(x) as hugeint) * cast(sum(x) as hugeint) as double) AS sxx_sc,
       cast(count(*) * sum(cast(y as hugeint) * cast(y as hugeint))
            - cast(sum(y) as hugeint) * cast(sum(y) as hugeint) as double) AS syy_sc,
       cast(count(*) * sum(cast(x as hugeint) * cast(y as hugeint))
            - cast(sum(x) as hugeint) * cast(sum(y) as hugeint) as double) AS sxy_sc,
       cast(2 * (count(*) * sum(cast(x as hugeint) * cast(y as hugeint))
                 - cast(sum(x) as hugeint) * cast(sum(y) as hugeint)) as double)
         / cast(count(*) * sum(cast(x as hugeint) * cast(x as hugeint))
                - cast(sum(x) as hugeint) * cast(sum(x) as hugeint)
                - (count(*) * sum(cast(y as hugeint) * cast(y as hugeint))
                   - cast(sum(y) as hugeint) * cast(sum(y) as hugeint)) as double) AS tan_2theta
FROM pts GROUP BY g
""",
)
def sde_directional_nations(spark, sf_dir):
    """Standard deviational ellipse (directional distribution) per
    nation — the classic GIS dispersion summary: where the cloud
    centers, how it spreads, and along WHICH axis. Everything stays
    exact: centered moments are carried n²-scaled (n·Σx² − (Σx)², no
    division, DECIMAL(38,0)/HUGEINT against wrap) and the orientation
    is reported as the exact rational tan(2θ) = 2·Sxy/(Sxx−Syy) rather
    than an atan2 double — the same no-libm discipline as the flow-rose
    and turn-angle operators. One hash-agg over the big table; output
    is group-cardinality."""
    dec = "decimal(38,0)"
    pts = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("g"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD) - F.lit(60000)).alias("x"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD) - F.lit(180000)).alias("y"),
    )
    n = F.count("*").cast(dec)
    sx, sy = F.sum("x").cast(dec), F.sum("y").cast(dec)
    sxx = F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).cast(dec)
    syy = F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).cast(dec)
    sxy = F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).cast(dec)
    sxx_sc = (n * sxx - sx * sx).cast("double")
    syy_sc = (n * syy - sy * sy).cast("double")
    sxy_sc = (n * sxy - sx * sy).cast("double")
    return pts.groupBy("g").agg(
        F.count("*").cast("long").alias("n_pts"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        sxx_sc.alias("sxx_sc"),
        syy_sc.alias("syy_sc"),
        sxy_sc.alias("sxy_sc"),
        (
            (F.lit(2).cast(dec) * (n * sxy - sx * sy)).cast("double")
            / ((n * sxx - sx * sx) - (n * syy - sy * sy)).cast("double")
        ).alias("tan_2theta"),
    ).select("g", "n_pts", "sx", "sy", "sxx_sc", "syy_sc", "sxy_sc", "tan_2theta").withColumnRenamed("g", "nationkey")



@register(
    "median_center_nations",
    # L1 median center per nation: the exact per-axis lower median
    # (rank ⌊(n+1)/2⌋ with deterministic id ties) — the Manhattan
    # minimizer, the robust twin of the SDE's mean center.
    f"""
WITH pts AS (
  SELECT c_nationkey AS g, c_custkey AS id,
         (cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS x,
         (cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS y
  FROM customer
), rx AS (
  SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x, id) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM pts
), ry AS (
  SELECT g, y, row_number() OVER (PARTITION BY g ORDER BY y, id) AS rn,
         count(*) OVER (PARTITION BY g) AS n
  FROM pts
), mx AS (SELECT g, cast(x as bigint) AS med_x, cast(n as bigint) AS n_pts FROM rx WHERE rn = (n + 1) // 2),
my AS (SELECT g, cast(y as bigint) AS med_y FROM ry WHERE rn = (n + 1) // 2)
SELECT mx.g AS nationkey, n_pts, med_x, med_y
FROM mx JOIN my ON my.g = mx.g
""",
)
def median_center_nations(spark, sf_dir):
    """L1 median center per nation (the Manhattan-distance minimizer,
    robust to outliers where the SDE's mean center is not): the exact
    per-axis lower median at rank ⌊(n+1)/2⌋ with deterministic (value,
    id) tie-breaks — the same exact rank-select discipline as
    robust_outliers_orders and weighted_median_lineitem, applied to
    coordinates. One group-key shuffle feeds both axis windows."""
    pts = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("g"),
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD) - F.lit(60000)).alias("x"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD) - F.lit(180000)).alias("y"),
    )
    wg = Window.partitionBy("g")
    rx = pts.select(
        "g",
        "x",
        F.row_number().over(wg.orderBy("x", "id")).alias("rn"),
        F.count("*").over(wg).alias("n"),
    )
    ry = pts.select(
        "g",
        "y",
        F.row_number().over(wg.orderBy("y", "id")).alias("rn"),
        F.count("*").over(wg).alias("n"),
    )
    mx = rx.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2)).select(
        "g", F.col("x").cast("long").alias("med_x"), F.col("n").cast("long").alias("n_pts")
    )
    my = ry.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2)).select(
        "g", F.col("y").cast("long").alias("med_y")
    )
    return mx.join(my, "g").select(F.col("g").alias("nationkey"), "n_pts", "med_x", "med_y")



@register(
    "dow_baseline_anomaly",
    """
WITH c AS (
  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS d,
         cast(count(*) as bigint) AS x
  FROM events GROUP BY event_type, d
), c2 AS (
  SELECT event_type, d, cast((d + 4) % 7 as int) AS dow, x FROM c
), base AS (
  SELECT event_type, dow, cast(count(*) as bigint) AS n, cast(sum(x) as bigint) AS s,
         cast(sum(cast(x as hugeint) * x) as hugeint) AS sx2
  FROM c2 GROUP BY event_type, dow
)
SELECT c2.event_type, c2.d, c2.dow, c2.x, b.n, b.s,
       cast(b.n * c2.x - b.s as bigint) AS dev_num,
       cast(CASE WHEN b.n >= 3 AND
              cast(b.n * c2.x - b.s as hugeint) * (b.n * c2.x - b.s) * (b.n - 1)
              > 4 * b.n * (b.n * b.sx2 - cast(b.s as hugeint) * b.s)
            THEN 1 ELSE 0 END as int) AS is_anomaly
FROM c2 JOIN base b ON b.event_type = c2.event_type AND b.dow = c2.dow
""",
)
def dow_baseline_anomaly(spark, sf_dir):
    """Seasonal-baseline anomaly detection: each (event_type, day)
    count is tested against that type's same-day-of-week baseline —
    flagged when it sits more than 2 sample standard deviations from
    the weekday mean. The z²>4 test is kept ENTIRELY in integers:
    (n·x − s)²·(n−1) > 4·n·(n·sx2 − s²) clears the denominators of
    (x−μ)²/σ², so the flag is exact (decimal38 / HUGEINT for the
    squared moments — the chisq ADVICE lesson). Day-of-week comes from
    epoch days ((d+4) mod 7; 1970-01-01 was a Thursday) so both
    engines agree without locale-sensitive date functions. Shape: two
    groupBys and a broadcast-sized join back on (type, dow) — 7·#types
    baseline rows regardless of input scale."""
    dec = "decimal(38,0)"
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.expr("unix_timestamp(ts) div 86400").alias("d")
    )
    c = ev.groupBy("event_type", "d").agg(F.count(F.lit(1)).cast("long").alias("x"))
    c2 = c.select(
        "event_type", "d", ((F.col("d") + 4) % 7).cast("int").alias("dow"), "x"
    )
    base = c2.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sx2"),
    )
    j = c2.join(F.broadcast(base), ["event_type", "dow"])
    dev = F.col("n") * F.col("x") - F.col("s")
    lhs = dev.cast(dec) * dev * (F.col("n") - 1)
    rhs = (
        F.lit(4).cast(dec)
        * F.col("n")
        * (F.col("n").cast(dec) * F.col("sx2") - F.col("s").cast(dec) * F.col("s"))
    )
    return j.select(
        "event_type",
        "d",
        "dow",
        "x",
        "n",
        "s",
        dev.cast("long").alias("dev_num"),
        F.when((F.col("n") >= 3) & (lhs > rhs), 1).otherwise(0).cast("int").alias("is_anomaly"),
    )



@register(
    "gini_concentration_orders",
    """
WITH v AS (
  SELECT o_orderpriority AS pri,
         cast(round(o_totalprice * 100) as bigint) AS cents,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY cast(round(o_totalprice * 100) as bigint), o_orderkey
         ) AS i
  FROM orders
), s AS (
  SELECT pri, cast(count(*) as bigint) AS n,
         cast(sum(cents) as decimal(38,0)) AS sum_cents,
         cast(sum(cast(i as decimal(38,0)) * cents) as decimal(38,0)) AS ix_sum
  FROM v GROUP BY pri
)
SELECT pri, n, cast(sum_cents as bigint) AS sum_cents,
       cast(cast(2 * ix_sum - (n + 1) * sum_cents as decimal(38,0)) as double) AS gini_num,
       cast(cast(n * sum_cents as decimal(38,0)) as double) AS gini_den,
       cast(2 * ix_sum - (n + 1) * sum_cents as double)
         / cast(n * sum_cents as double) AS gini
FROM s
""",
)
def gini_concentration_orders(spark, sf_dir):
    """Gini coefficient of order-value concentration per priority class
    — the inequality audit (is revenue dominated by a few whale
    orders?) via the exact rank formula G = (2Σi·xᵢ − (n+1)Σx)/(n·Σx)
    on cents-integer values. Σi·x is tie-permutation-invariant (tied x
    contribute x·Σi regardless of rank order), so the orderkey
    tie-break affects nothing; both moments are decimal(38,0)-exact and
    gini is ONE fixed-form double division. Shape: one rank window per
    priority partition (the sort IS the algorithm — no pair joins), one
    agg; at 10^12 rows the two-phase distributed ranker
    (operators/ranking.py) replaces row_number per partition."""
    dec = "decimal(38,0)"
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("pri").orderBy("cents", "o_orderkey")
    v = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("pri"),
            cents.alias("cents"),
            "o_orderkey",
        )
        .withColumn("i", F.row_number().over(w))
    )
    s = v.groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast(dec).alias("sum_cents"),
        F.sum(F.col("i").cast(dec) * F.col("cents")).cast(dec).alias("ix_sum"),
    )
    gini_num = (
        F.lit(2).cast(dec) * F.col("ix_sum")
        - (F.col("n") + 1).cast(dec) * F.col("sum_cents")
    ).cast(dec)
    gini_den = (F.col("n").cast(dec) * F.col("sum_cents")).cast(dec)
    return s.select(
        "pri", "n", F.col("sum_cents").cast("long").alias("sum_cents"),
        gini_num.cast("double").alias("gini_num"),
        gini_den.cast("double").alias("gini_den"),
        (gini_num.cast("double") / gini_den.cast("double")).alias("gini"),
    )



@register(
    "areal_interp_zones",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon,
         cast(round(c_acctbal * 100) as bigint) AS cents
  FROM customer
), z AS (
  SELECT cast(floor((lon + 180.0) / 10.0) as int) AS ax,
         cast(floor((90.0 - lat) / 10.0) as int) AS ay,
         cast(floor((lon + 185.0) / 10.0) as int) AS bx,
         cast(floor((95.0 - lat) / 10.0) as int) AS by_,
         cents
  FROM pts
), ints AS (
  SELECT ax, ay, bx, by_, cast(count(*) as bigint) AS n_int FROM z
  GROUP BY ax, ay, bx, by_
), za AS (
  SELECT ax, ay, cast(sum(n_int) as bigint) AS n_a FROM ints GROUP BY ax, ay
), va AS (
  SELECT ax, ay, cast(sum(cents) as decimal(38,0)) AS value_a_cents
  FROM z GROUP BY ax, ay
)
SELECT i.ax, i.ay, i.bx, i.by_, i.n_int, a.n_a,
       cast(v.value_a_cents as bigint) AS value_a_cents,
       cast(i.n_int as double) / cast(a.n_a as double) AS weight,
       cast(v.value_a_cents as double) * cast(i.n_int as double)
         / cast(a.n_a as double) AS alloc_value
FROM ints i
JOIN za a ON a.ax = i.ax AND a.ay = i.ay
JOIN va v ON v.ax = i.ax AND v.ay = i.ay
""",
)
def areal_interp_zones(spark, sf_dir):
    """Areal interpolation weight matrix between two incompatible zone
    systems (10° admin grid A vs the 5°-offset grid B) — the dasymetric
    disaggregation step every census↔crawl reconciliation needs when
    source values exist only at zone-A level. Weights are point-count
    shares of each A∩B intersection (exact integers n_int/n_a — the
    Goodchild–Lam binary-dasymetric estimator with population weighting
    instead of raw area); value allocation is ONE fixed-form double
    expression per row, never a float re-aggregation (downstream sums
    pick their own rounding policy). Shape: one point-scale agg to the
    intersection lattice, two dim-scale reaggs, broadcast-sized joins
    — the customer table is scanned once."""
    pts = load(spark, sf_dir, "customer").select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    z = pts.select(
        F.floor((F.col("lon") + 180.0) / 10.0).cast("int").alias("ax"),
        F.floor((90.0 - F.col("lat")) / 10.0).cast("int").alias("ay"),
        F.floor((F.col("lon") + 185.0) / 10.0).cast("int").alias("bx"),
        F.floor((95.0 - F.col("lat")) / 10.0).cast("int").alias("by_"),
        "cents",
    )
    ints = z.groupBy("ax", "ay", "bx", "by_").agg(
        F.count(F.lit(1)).cast("long").alias("n_int")
    )
    za = ints.groupBy("ax", "ay").agg(F.sum("n_int").cast("long").alias("n_a"))
    va = z.groupBy("ax", "ay").agg(
        F.sum("cents").cast("decimal(38,0)").alias("value_a_cents")
    )
    return (
        ints.join(F.broadcast(za), ["ax", "ay"])
        .join(F.broadcast(va), ["ax", "ay"])
        .select(
            "ax", "ay", "bx", "by_", "n_int", "n_a",
            F.col("value_a_cents").cast("long").alias("value_a_cents"),
            (F.col("n_int").cast("double") / F.col("n_a").cast("double")).alias(
                "weight"
            ),
            (
                F.col("value_a_cents").cast("double")
                * F.col("n_int").cast("double")
                / F.col("n_a").cast("double")
            ).alias("alloc_value"),
        )
    )



@register(
    "runs_test_users",
    """
WITH m AS (
  SELECT user_id, cast(sum(cast(value as decimal(18,2))) as double) AS vsum,
         cast(count(*) as bigint) AS n
  FROM events GROUP BY user_id
), q AS (
  SELECT e.user_id, e.ts, e.event_id, m.n,
         CASE WHEN cast(e.value as double) * cast(m.n as double) > m.vsum
              THEN 1 ELSE 0 END AS side
  FROM events e JOIN m ON e.user_id = m.user_id
), r AS (
  SELECT user_id, side, n,
         lag(side) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM q
), agg AS (
  SELECT user_id, cast(max(n) as bigint) AS n,
         cast(sum(side) as bigint) AS n1,
         cast(max(n) - sum(side) as bigint) AS n2,
         cast(1 + sum(CASE WHEN prev IS NOT NULL AND side <> prev THEN 1 ELSE 0 END)
              as bigint) AS runs
  FROM r GROUP BY user_id
)
SELECT user_id, n, n1, n2, runs,
       (cast(runs as double)
        - (2.0 * cast(n1 as double) * cast(n2 as double) / cast(n as double) + 1.0))
       / sqrt((2.0 * cast(n1 as double) * cast(n2 as double)
               * (2.0 * cast(n1 as double) * cast(n2 as double) - cast(n as double)))
              / (cast(n as double) * cast(n as double) * (cast(n as double) - 1.0))) AS z
FROM agg WHERE n1 > 0 AND n2 > 0 AND n > 1
""",
)
def runs_test_users(spark, sf_dir):
    """Wald–Wolfowitz runs test per user: is the above/below-mean
    pattern of a user's event values serially random? Complements the
    rate-based bot detectors (bot_regularity_users = timing
    regularity, fano_burstiness_events = count dispersion) with a
    VALUE-sequence test — scripted clients alternate or streak far
    from the R ≈ 2·n1·n2/n + 1 expectation. Sides compare value·n >
    Σvalue (no division, decimal-exact sum); runs count via one lag
    window sharing the user_id shuffle with the aggregate; z is formed
    from exact integers — the only non-rational op is IEEE sqrt, which
    is correctly rounded and therefore engine-identical."""
    ev = load(spark, sf_dir, "events")
    m = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast(DEC)).cast("double").alias("vsum"),
        F.count("*").cast("long").alias("n"),
    )
    q = ev.join(m, "user_id").select(
        "user_id", "ts", "event_id", "n",
        F.when(
            F.col("value").cast("double") * F.col("n").cast("double") > F.col("vsum"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("side"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = q.select("user_id", "side", "n", F.lag("side").over(w).alias("prev"))
    agg = r.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n"),
        F.sum("side").cast("long").alias("n1"),
        (F.max("n") - F.sum("side")).cast("long").alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(F.col("prev").isNotNull() & (F.col("side") != F.col("prev")), 1).otherwise(0)
            )
        )
        .cast("long")
        .alias("runs"),
    )
    nd = F.col("n").cast("double")
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    two = F.lit(2.0) * n1d * n2d
    return agg.filter((F.col("n1") > 0) & (F.col("n2") > 0) & (F.col("n") > 1)).select(
        "user_id", "n", "n1", "n2", "runs",
        (
            (F.col("runs").cast("double") - (two / nd + F.lit(1.0)))
            / F.sqrt((two * (two - nd)) / (nd * nd * (nd - F.lit(1.0))))
        ).alias("z"),
    )



@register(
    "ab_welch_users",
    f"""
WITH v AS (
  SELECT {_AB_ARM} % 2 AS arm,
         cast(round(cast(value as {DEC}) * 100) as bigint) AS cents
  FROM events
), a AS (
  SELECT cast(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) as bigint) AS n_a,
         cast(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) as bigint) AS n_b,
         cast(sum(CASE WHEN arm = 0 THEN cents ELSE 0 END) as bigint) AS s_a,
         cast(sum(CASE WHEN arm = 1 THEN cents ELSE 0 END) as bigint) AS s_b,
         cast(sum(CASE WHEN arm = 0 THEN cents * cents ELSE 0 END) as bigint) AS q_a,
         cast(sum(CASE WHEN arm = 1 THEN cents * cents ELSE 0 END) as bigint) AS q_b
  FROM v
)
SELECT n_a, n_b,
       cast(s_a as double) / cast(n_a as double) / 100.0 AS mean_a,
       cast(s_b as double) / cast(n_b as double) / 100.0 AS mean_b,
       (cast(s_a as double) / cast(n_a as double)
        - cast(s_b as double) / cast(n_b as double))
       / sqrt(((cast(q_a as double) - cast(s_a as double) * cast(s_a as double) / cast(n_a as double))
               / (cast(n_a as double) - 1.0)) / cast(n_a as double)
            + ((cast(q_b as double) - cast(s_b as double) * cast(s_b as double) / cast(n_b as double))
               / (cast(n_b as double) - 1.0)) / cast(n_b as double)) AS welch_z
FROM a WHERE n_a > 1 AND n_b > 1
""",
)
def ab_welch_users(spark, sf_dir):
    """Deterministic A/B experiment read-out: users hash-split into
    two arms (md5 parity — the assignment IS the randomization, and
    it replays exactly), then Welch's unequal-variance z on event
    values. All moments (n, Σ, Σ²) are integer cents — one conditional
    hash aggregate, no per-arm shuffle — and the statistic is formed
    from exact integers with divisions/sqrt in the same textual order
    as the oracle. The parametric companion to mann_whitney_sources
    (rank-based) for pipeline holdout comparisons."""
    ev = load(spark, sf_dir, "events").select(
        (D.md5_long(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2).alias("arm"),
        F.round(F.col("value").cast(DEC) * 100).cast("long").alias("cents"),
    )
    a = ev.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents")).otherwise(0)).cast("long").alias("s_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents")).otherwise(0)).cast("long").alias("s_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("cents") * F.col("cents")).otherwise(0))
        .cast("long")
        .alias("q_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("cents") * F.col("cents")).otherwise(0))
        .cast("long")
        .alias("q_b"),
    )
    nd_a, nd_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sd_a, sd_b = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    qd_a, qd_b = F.col("q_a").cast("double"), F.col("q_b").cast("double")
    var_a = (qd_a - sd_a * sd_a / nd_a) / (nd_a - F.lit(1.0))
    var_b = (qd_b - sd_b * sd_b / nd_b) / (nd_b - F.lit(1.0))
    return a.filter((F.col("n_a") > 1) & (F.col("n_b") > 1)).select(
        "n_a", "n_b",
        (sd_a / nd_a / F.lit(100.0)).alias("mean_a"),
        (sd_b / nd_b / F.lit(100.0)).alias("mean_b"),
        ((sd_a / nd_a - sd_b / nd_b) / F.sqrt(var_a / nd_a + var_b / nd_b)).alias("welch_z"),
    )



@register(
    "nearest_event_join",
    """
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS ck_us,
         CASE WHEN event_type = 'click' THEN event_id END AS ck_id
  FROM events
), w AS (
  SELECT user_id, event_id, event_type, us,
         last_value(ck_us IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_us,
         last_value(ck_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_id,
         first_value(ck_us IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_us,
         first_value(ck_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_id
  FROM s
)
SELECT user_id, event_id,
       CASE WHEN n_us IS NULL OR (p_us IS NOT NULL AND us - p_us <= n_us - us)
            THEN p_id ELSE n_id END AS click_id,
       CASE WHEN n_us IS NULL OR (p_us IS NOT NULL AND us - p_us <= n_us - us)
            THEN p_us - us ELSE n_us - us END AS dt_us
FROM w
WHERE event_type = 'purchase' AND (p_us IS NOT NULL OR n_us IS NOT NULL)
""",
)
def nearest_event_join(spark, sf_dir):
    """Bidirectional nearest-event join: each purchase matched to the
    user's temporally NEAREST click in either direction (asof_join is
    backward-only — sensor-fusion and attribution flows need absolute
    nearest). One window pass over the interleaved per-user stream:
    last_value/first_value IGNORE NULLS give the previous/next click
    without separating the streams or re-joining, so the whole
    operator shares the single user_id shuffle. Ties (equidistant)
    break backward, matching the oracle textually. Timestamps compare
    as exact epoch microseconds."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        # cast makes unix_micros == DuckDB's epoch_us exactly (UTC session)
        F.unix_micros(F.col("ts").cast("timestamp")).cast("long").alias("us"),
    )
    s = ev.select(
        "user_id", "event_id", "event_type", "us",
        F.when(F.col("event_type") == "click", F.col("us")).alias("ck_us"),
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("ck_id"),
    )
    base = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = base.rowsBetween(Window.unboundedPreceding, -1)
    nxt = base.rowsBetween(1, Window.unboundedFollowing)
    w = s.select(
        "user_id", "event_id", "event_type", "us",
        F.last("ck_us", ignorenulls=True).over(prev).alias("p_us"),
        F.last("ck_id", ignorenulls=True).over(prev).alias("p_id"),
        F.first("ck_us", ignorenulls=True).over(nxt).alias("n_us"),
        F.first("ck_id", ignorenulls=True).over(nxt).alias("n_id"),
    )
    take_prev = F.col("n_us").isNull() | (
        F.col("p_us").isNotNull() & (F.col("us") - F.col("p_us") <= F.col("n_us") - F.col("us"))
    )
    return w.filter(
        (F.col("event_type") == "purchase")
        & (F.col("p_us").isNotNull() | F.col("n_us").isNotNull())
    ).select(
        "user_id", "event_id",
        F.when(take_prev, F.col("p_id")).otherwise(F.col("n_id")).alias("click_id"),
        F.when(take_prev, F.col("p_us") - F.col("us"))
        .otherwise(F.col("n_us") - F.col("us"))
        .alias("dt_us"),
    )



@register("zrange_scan_customers", _zrange_scan_sql())
def zrange_scan_customers(spark, sf_dir):
    """Z-order range-scan planning end to end: the driver-side quadtree
    planner (operators/zorder.zranges) decomposes a query box into ≤48
    Morton-key intervals, the scan keeps only keys inside them (a
    literal predicate — at 100 TB this is the file/row-group pruning
    check against Z-layout metadata, zero rows read outside), and an
    exact integer gx/gy refine separates true matches from range
    over-coverage. Per-range candidate and match counts expose the
    planner's pruning efficiency as data. The oracle replays the same
    literal ranges; the planner's COVERAGE (no box cell outside the
    ranges) is proven separately by tests/test_zranges.py against
    brute Morton enumeration."""
    from gipspark.operators.zorder import morton_key

    rs = _zq_ranges()
    gx0, gx1, gy0, gy1 = _ZQ_BOX
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    g = pts.select(
        "c_custkey",
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_Z_GRID)).cast("long").alias("gx"),
        F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_Z_GRID)).cast("long").alias("gy"),
    )
    z = g.select("c_custkey", "gx", "gy", morton_key(F.col("gx"), F.col("gy")).alias("zkey"))
    rid = F.lit(None).cast("int")
    for i, (lo, hi) in reversed(list(enumerate(rs))):
        rid = F.when((F.col("zkey") >= lo) & (F.col("zkey") < hi), F.lit(i)).otherwise(rid)
    c = z.select(
        rid.alias("range_id"),
        F.when(
            F.col("gx").between(gx0, gx1) & F.col("gy").between(gy0, gy1), 1
        )
        .otherwise(0)
        .alias("m"),
    ).filter(F.col("range_id").isNotNull())
    agg = c.groupBy("range_id").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum("m").cast("long").alias("n_matches"),
    )
    rdf = spark.createDataFrame(
        [(i, lo, hi) for i, (lo, hi) in enumerate(rs)], "range_id int, zlo long, zhi long"
    )
    return agg.join(F.broadcast(rdf), "range_id").select(
        "range_id", "zlo", "zhi", "n_candidates", "n_matches"
    )



# --- round-4 session-2 batch: market-basket / facility / link-prediction ---


@register(
    "copurchase_lift_parts",
    """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT cast(count(DISTINCT l_orderkey) as bigint) AS n_orders FROM op
), pc AS (
  SELECT l_partkey, cast(count(*) as bigint) AS n_part FROM op GROUP BY l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         cast(count(*) as bigint) AS n_ab
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)
SELECT part_a, part_b, n_ab, pa.n_part AS n_a, pb.n_part AS n_b,
       cast(n_ab as double) / cast(pa.n_part as double) AS conf_ab,
       (cast(n_ab as double) * cast(n.n_orders as double))
         / (cast(pa.n_part as double) * cast(pb.n_part as double)) AS lift
FROM pairs
JOIN pc pa ON pairs.part_a = pa.l_partkey
JOIN pc pb ON pairs.part_b = pb.l_partkey
CROSS JOIN n
WHERE n_ab >= 3
ORDER BY lift DESC, part_a, part_b
LIMIT 100
""",
)
def copurchase_lift_parts(spark, sf_dir):
    """Market-basket association rules over order baskets: for every
    part pair co-bought in ≥3 orders, support, directed confidence and
    lift — the curation analogue is "which doc sources co-occur in a
    crawl frontier".  Shapes for scale: the basket self-join shuffles
    on l_orderkey only and baskets are small (TPC-H orders hold ≤7
    parts), so candidate pairs are Σ|basket|² — never |parts|²; the
    per-part totals join back on part id; the global order count is a
    1-row broadcast, not a driver collect.  All counts integer; lift
    and confidence are single exact IEEE divisions; deterministic
    top-100 (lift DESC, then pair id)."""
    op = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = op.agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    pc = op.groupBy("l_partkey").agg(F.count("*").cast("long").alias("n_part"))
    a = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    out = (
        pairs.join(pc.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")), "part_a")
        .join(pc.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", "n_ab", "n_a", "n_b",
            (F.col("n_ab").cast("double") / F.col("n_a").cast("double")).alias("conf_ab"),
            (
                (F.col("n_ab").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
    )
    return out.orderBy(F.col("lift").desc(), "part_a", "part_b").limit(100)



@register(
    "minimax_facility_nations",
    f"""
WITH pts AS (
  SELECT c_nationkey AS nk, c_custkey AS ck,
         (cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} AS la,
         (cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD} AS lo
  FROM customer
), ecc AS (
  SELECT a.nk, a.ck,
         cast(max((a.la - b.la) * (a.la - b.la)
                + (a.lo - b.lo) * (a.lo - b.lo)) as bigint) AS max_d2
  FROM pts a JOIN pts b ON a.nk = b.nk AND a.ck <> b.ck
  GROUP BY a.nk, a.ck
), best AS (
  SELECT nk, ck, max_d2,
         row_number() OVER (PARTITION BY nk ORDER BY max_d2, ck) AS rn
  FROM ecc
)
SELECT nk AS nationkey, ck AS facility_custkey, max_d2
FROM best WHERE rn = 1
""",
)
def minimax_facility_nations(spark, sf_dir):
    """1-center (minimax) facility selection per nation: the customer
    site minimizing the maximum squared distance to every other
    customer of that nation — the "place one warehouse per region"
    primitive.  Distances stay on the integer micro-degree lattice
    (the derived-coordinate pre-division form), so eccentricities are
    exact BIGINTs and the argmin is hash-stable.  The pairwise join is
    keyed on nation — O(n_g²) per group with bounded group sizes (the
    documented contract, same as diameter_pairs_nations); at 100 TB
    you'd first coarsen each group through a cell-grid k-center sketch
    and run this exact kernel on the sketch."""
    pts = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("ck"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD)).alias("la"),
        ((F.col("c_custkey").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD)).alias("lo"),
    )
    b = pts.select(
        F.col("nk").alias("bnk"), F.col("ck").alias("bck"),
        F.col("la").alias("bla"), F.col("lo").alias("blo"),
    )
    d2 = (F.col("la") - F.col("bla")) * (F.col("la") - F.col("bla")) + (
        F.col("lo") - F.col("blo")
    ) * (F.col("lo") - F.col("blo"))
    ecc = (
        pts.join(b, (F.col("nk") == F.col("bnk")) & (F.col("ck") != F.col("bck")))
        .groupBy("nk", "ck")
        .agg(F.max(d2).cast("long").alias("max_d2"))
    )
    w = Window.partitionBy("nk").orderBy("max_d2", "ck")
    return (
        ecc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("nk").alias("nationkey"),
            F.col("ck").alias("facility_custkey"),
            "max_d2",
        )
    )



@register(
    "box_counting_events",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), lv AS (
  SELECT cast(s as double) AS cell_deg FROM (VALUES (32),(16),(8),(4),(2),(1)) t(s)
), occ AS (
  SELECT cell_deg,
         cast(floor((lon + 180.0) / cell_deg) as int) AS cx,
         cast(floor((90.0 - lat) / cell_deg) as int) AS cy,
         cast(count(*) as bigint) AS n_pts
  FROM pts CROSS JOIN lv
  GROUP BY cell_deg, cx, cy
)
SELECT cell_deg,
       cast(count(*) as bigint) AS n_occupied,
       cast(sum(n_pts) as bigint) AS n_points,
       cast(max(n_pts) as bigint) AS max_in_cell
FROM occ GROUP BY cell_deg
""",
)
def box_counting_events(spark, sf_dir):
    """Box-counting occupancy profile of the event point set: occupied
    cell counts at six dyadic grid resolutions (32°…1°) — the raw
    curve behind a fractal-dimension / clustering-regime read, kept
    transcendental-free by emitting (resolution, N(ε)) pairs instead
    of the log-log slope.  One point scan fanned ×6 by a literal
    resolution dim (explode, not a rescan), one hash agg per level
    fused into a single (level, cell) aggregate — at 100 TB this is
    the same one-shuffle shape as any tile count, ×6 constant."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    lv = F.explode(F.array(*[F.lit(float(s)) for s in (32, 16, 8, 4, 2, 1)])).alias(
        "cell_deg"
    )
    occ = (
        pts.select("lat", "lon", lv)
        .select(
            "cell_deg",
            F.floor((F.col("lon") + 180.0) / F.col("cell_deg")).cast("int").alias("cx"),
            F.floor((90.0 - F.col("lat")) / F.col("cell_deg")).cast("int").alias("cy"),
        )
        .groupBy("cell_deg", "cx", "cy")
        .agg(F.count("*").cast("long").alias("n_pts"))
    )
    return occ.groupBy("cell_deg").agg(
        F.count("*").cast("long").alias("n_occupied"),
        F.sum("n_pts").cast("long").alias("n_points"),
        F.max("n_pts").cast("long").alias("max_in_cell"),
    )



@register(
    "neighbor_degree_spectrum",
    f"""
WITH und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM (SELECT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst
        FROM documents, (VALUES (0),(1),(2)) AS t(j))
  WHERE src <> dst
), adj AS (
  SELECT a AS u, b AS v FROM und UNION ALL SELECT b AS u, a AS v FROM und
), deg AS (
  SELECT u, cast(count(*) as bigint) AS d FROM adj GROUP BY u
)
SELECT du.d AS degree,
       cast(count(DISTINCT adj.u) as bigint) AS n_nodes,
       cast(count(*) as bigint) AS n_ends,
       cast(sum(dv.d) as bigint) AS sum_nbr_deg,
       cast(sum(dv.d) as double) / cast(count(*) as double) AS avg_nbr_deg
FROM adj JOIN deg du ON adj.u = du.u JOIN deg dv ON adj.v = dv.u
GROUP BY du.d
""",
)
def neighbor_degree_spectrum(spark, sf_dir):
    """Average-neighbor-degree spectrum k_nn(k) of the doc link graph —
    the degree-correlation observable behind assortativity's single
    coefficient (rising k_nn(k) = assortative hubs-link-hubs crawl
    frontier, falling = disassortative hub-and-spoke).  Degrees join
    onto both edge endpoints (shuffles keyed on node id, Σdeg rows),
    then one hash agg per degree class; integer sums, one division."""
    n = table_rows(sf_dir, "documents")
    d = load(spark, sf_dir, "documents")
    raw = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                *[
                    D.md5_long(F.concat(F.lit(f"e:{j}:"), F.col("doc_id").cast("string"))) % n
                    for j in range(3)
                ]
            )
        ).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    und = raw.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    j = adj.join(deg.select(F.col("u").alias("u"), F.col("d").alias("du")), "u").join(
        deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v"
    )
    return j.groupBy(F.col("du").alias("degree")).agg(
        F.countDistinct("u").cast("long").alias("n_nodes"),
        F.count("*").cast("long").alias("n_ends"),
        F.sum("dv").cast("long").alias("sum_nbr_deg"),
        (F.sum("dv").cast("double") / F.count("*").cast("double")).alias("avg_nbr_deg"),
    )



@register(
    "odds_ratio_segments",
    f"""
WITH li AS (
  SELECT o.o_custkey, l.l_returnflag,
         cast(round(l.l_extendedprice * 100) as bigint) AS cents
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), seg AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN li.l_returnflag = 'R' THEN 1 ELSE 0 END AS returned,
         CASE WHEN li.cents >= 3000000 THEN 1 ELSE 0 END AS high_value
  FROM li JOIN customer c ON c.c_custkey = li.o_custkey
), cells AS (
  SELECT segment,
         cast(sum(returned * high_value) as bigint) AS a,
         cast(sum(returned * (1 - high_value)) as bigint) AS b,
         cast(sum((1 - returned) * high_value) as bigint) AS c,
         cast(sum((1 - returned) * (1 - high_value)) as bigint) AS d
  FROM seg GROUP BY segment
)
SELECT segment, a, b, c, d,
       cast(a * d as bigint) AS or_num,
       cast(b * c as bigint) AS or_den,
       cast(CASE WHEN b * c = 0 THEN -1 ELSE (a * d * 1000000) // (b * c) END as bigint)
         AS odds_ratio_q
FROM cells
""",
)
def odds_ratio_segments(spark, sf_dir):
    """Odds ratio per market segment for the 2×2 (returned ×
    high-value) contingency — the epidemiology/AB-analysis effect-size
    next to chisq: OR = ad/bc kept as the exact integer pair (ad, bc)
    plus a 1e6 fixed-point quotient (−1 sentinel when bc = 0, exact in
    both engines). Line items fold to per-segment cell counts in one
    agg after two FK hash joins — the marginals ARE the aggregate, no
    second pass."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("returned"),
            F.when(F.col("cents") >= 3000000, 1).otherwise(0).alias("high_value"),
        )
    )
    cells = seg.groupBy("segment").agg(
        F.sum(F.col("returned") * F.col("high_value")).cast("long").alias("a"),
        F.sum(F.col("returned") * (1 - F.col("high_value"))).cast("long").alias("b"),
        F.sum((1 - F.col("returned")) * F.col("high_value")).cast("long").alias("c"),
        F.sum((1 - F.col("returned")) * (1 - F.col("high_value"))).cast("long").alias("d"),
    )
    return cells.select(
        "segment",
        "a",
        "b",
        "c",
        "d",
        (F.col("a") * F.col("d")).cast("long").alias("or_num"),
        (F.col("b") * F.col("c")).cast("long").alias("or_den"),
        F.when(F.col("b") * F.col("c") == 0, F.lit(-1))
        .otherwise(F.expr("(a * d * 1000000) div (b * c)"))
        .cast("long")
        .alias("odds_ratio_q"),
    )



@register(
    "jackknife_mean_orders",
    f"""
WITH o AS (
  SELECT o_orderkey % {_JK_BUCKETS} AS bucket,
         cast(round(o_totalprice * 100) as bigint) AS cents
  FROM orders
), per AS (
  SELECT bucket, cast(count(*) as bigint) AS n_b, cast(sum(cents) as bigint) AS s_b
  FROM o GROUP BY bucket
), tot AS (
  SELECT cast(sum(n_b) as bigint) AS n, cast(sum(s_b) as bigint) AS s FROM per
)
SELECT per.bucket, per.n_b, per.s_b,
       cast(tot.n - per.n_b as bigint) AS n_loo,
       cast(tot.s - per.s_b as bigint) AS s_loo,
       cast((tot.s - per.s_b) // (tot.n - per.n_b) as bigint) AS loo_mean_cents
FROM per CROSS JOIN tot
""",
)
def jackknife_mean_orders(spark, sf_dir):
    """Delete-a-group jackknife over 10 deterministic key buckets —
    the resampling-variance workhorse for pipelines where bootstrap
    RNG is banned (this repo's determinism rule): each row is the
    leave-one-bucket-out total and integer mean in exact cents, from
    which jackknife SE and bias follow downstream. One hash agg to
    bucket totals (map-side combinable), one 1-row grand total
    broadcast — the groups travel as 10 rows, never re-scanning."""
    o = load(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % _JK_BUCKETS).alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per = o.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_b"), F.sum("cents").cast("long").alias("s_b")
    )
    tot = per.agg(
        F.sum("n_b").cast("long").alias("n"), F.sum("s_b").cast("long").alias("s")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_b",
        "s_b",
        (F.col("n") - F.col("n_b")).cast("long").alias("n_loo"),
        (F.col("s") - F.col("s_b")).cast("long").alias("s_loo"),
        F.expr("(s - s_b) div (n - n_b)").cast("long").alias("loo_mean_cents"),
    )



@register(
    "huff_market_share",
    f"""
WITH stores AS (
  SELECT s_suppkey AS sk,
         cast(10 + s_suppkey % 90 as bigint) AS attr,
         cast(floor(((s_suppkey * {C.LAT_MUL}) % {C.LAT_MOD}) / 100) as bigint) AS sla,
         cast(floor(((s_suppkey * {C.LON_MUL}) % {C.LON_MOD}) / 100) as bigint) AS slo
  FROM supplier WHERE s_suppkey % 3 = 1
),
cust AS (
  SELECT c_custkey AS ck,
         cast(floor(((c_custkey * {C.LAT_MUL}) % {C.LAT_MOD}) / 100) as bigint) AS la,
         cast(floor(((c_custkey * {C.LON_MUL}) % {C.LON_MOD}) / 100) as bigint) AS lo
  FROM customer WHERE c_custkey % 5 = 1
),
w AS (
  SELECT c.ck, s.sk,
         (s.attr * {_HUFF_WSCALE})
           // (1 + (c.la - s.sla) * (c.la - s.sla) + (c.lo - s.slo) * (c.lo - s.slo)) AS wt
  FROM cust c CROSS JOIN stores s
),
tot AS (SELECT ck, cast(sum(wt) as bigint) AS sum_w FROM w GROUP BY ck),
best AS (
  SELECT ck, sk, wt,
         row_number() OVER (PARTITION BY ck ORDER BY wt DESC, sk) AS rn
  FROM w
)
SELECT b.ck, b.sk AS best_store, cast(b.wt as bigint) AS w_best, t.sum_w,
       cast((b.wt * 1000000) // t.sum_w as bigint) AS p_best_q
FROM best b JOIN tot t ON t.ck = b.ck
WHERE b.rn = 1
""",
)
def huff_market_share(spark, sf_dir):
    """Huff gravity model of store choice (retail catchment analysis —
    the probabilistic sibling of the hard Voronoi catchment in
    catchment_counts_suppliers): utility of store j for customer i is
    attractiveness/d², kept exact as w = S·1e8 // (1+d²) on the
    integer lattice, and the capture probability is w·1e6 // Σw. The
    store dim is a bounded broadcast (every real Huff study has
    thousands of stores, not billions — the customer side is the big
    table and it never self-joins); per-customer argmax is a
    group-limit window."""
    st = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 3 == 1)
        .select(
            F.col("s_suppkey").alias("sk"),
            (10 + F.col("s_suppkey") % 90).cast("long").alias("attr"),
            F.floor(((F.col("s_suppkey").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD)) / 100)
            .cast("long")
            .alias("sla"),
            F.floor(((F.col("s_suppkey").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD)) / 100)
            .cast("long")
            .alias("slo"),
        )
    )
    cu = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 1)
        .select(
            F.col("c_custkey").alias("ck"),
            F.floor(((F.col("c_custkey").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD)) / 100)
            .cast("long")
            .alias("la"),
            F.floor(((F.col("c_custkey").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD)) / 100)
            .cast("long")
            .alias("lo"),
        )
    )
    w = cu.crossJoin(F.broadcast(st)).select(
        "ck",
        "sk",
        F.expr(
            f"(attr * cast({_HUFF_WSCALE} as bigint)) div "
            "(1 + (la - sla) * (la - sla) + (lo - slo) * (lo - slo))"
        ).alias("wt"),
    )
    tot = w.groupBy("ck").agg(F.sum("wt").cast("long").alias("sum_w"))
    w_rank = Window.partitionBy("ck").orderBy(F.col("wt").desc(), "sk")
    best = w.withColumn("rn", F.row_number().over(w_rank)).filter(F.col("rn") == 1)
    return best.join(tot, "ck").select(
        "ck",
        F.col("sk").alias("best_store"),
        F.col("wt").cast("long").alias("w_best"),
        "sum_w",
        F.expr("(wt * 1000000) div sum_w").cast("long").alias("p_best_q"),
    )



@register(
    "palma_ratio_segments",
    """
WITH o AS (
  SELECT c.c_mktsegment AS segment,
         cast(round(o.o_totalprice * 100) as bigint) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), r AS (
  SELECT segment, cents,
         cast(row_number() OVER (PARTITION BY segment ORDER BY cents DESC, cents) as bigint)
           AS rk,
         cast(count(*) OVER (PARTITION BY segment) as bigint) AS n
  FROM o
)
SELECT segment, any_value(n) AS n_orders,
       cast(sum(CASE WHEN rk <= n // 10 THEN cents ELSE 0 END) as bigint) AS top10_cents,
       cast(sum(CASE WHEN rk > n - (4 * n) // 10 THEN cents ELSE 0 END) as bigint)
         AS bottom40_cents,
       cast((sum(CASE WHEN rk <= n // 10 THEN cents ELSE 0 END) * 1000000)
            // sum(CASE WHEN rk > n - (4 * n) // 10 THEN cents ELSE 0 END) as bigint)
         AS palma_q
FROM r GROUP BY segment
""",
)
def palma_ratio_segments(spark, sf_dir):
    """Palma inequality ratio per market segment — top-10% share over
    bottom-40% share of order value (the modern complement to
    gini_concentration_orders: Palma ignores the stable middle, which
    is where the Gini's sensitivity is wasted): integer cents, rank
    thresholds by floor division, 1e6 fixed-point ratio. One FK join,
    one partitioned ranking window, one agg."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(cu, F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_mktsegment").alias("segment"), "cents"
    )
    w_rank = Window.partitionBy("segment").orderBy(F.col("cents").desc())
    w_seg = Window.partitionBy("segment")
    r = j.select(
        "segment",
        "cents",
        F.row_number().over(w_rank).cast("long").alias("rk"),
        F.count("*").over(w_seg).cast("long").alias("n"),
    )
    top = F.sum(F.when(F.col("rk") <= F.expr("n div 10"), F.col("cents")).otherwise(0))
    bot = F.sum(
        F.when(F.col("rk") > F.col("n") - F.expr("(4 * n) div 10"), F.col("cents")).otherwise(0)
    )
    return (
        r.groupBy("segment")
        .agg(
            F.first("n").alias("n_orders"),
            top.cast("long").alias("top10_cents"),
            bot.cast("long").alias("bottom40_cents"),
        )
        .withColumn("palma_q", F.expr("(top10_cents * 1000000) div bottom40_cents").cast("long"))
    )



@register(
    "consistent_ring_assign",
    f"""
WITH keys AS (
  SELECT doc_id, {D.MD5_LONG_SQL.format(x="concat('key:', cast(doc_id as varchar))")}
                  % {_RING_M} AS kh
  FROM documents
),
{_ring_owner_sql(_ring_vnode_rows(False), 'own_a')},
{_ring_owner_sql(_ring_vnode_rows(True), 'own_b')},
j AS (
  SELECT k.doc_id, a.node AS before_node, b.node AS after_node
  FROM keys k JOIN own_a a ON a.kh = k.kh JOIN own_b b ON b.kh = k.kh
)
SELECT after_node AS node,
       cast(sum(CASE WHEN before_node = after_node THEN 1 ELSE 0 END) as bigint) AS n_stayed,
       cast(sum(CASE WHEN before_node <> after_node THEN 1 ELSE 0 END) as bigint) AS n_gained,
       cast(count(*) as bigint) AS n_after
FROM j GROUP BY after_node
""",
)
def consistent_ring_assign(spark, sf_dir):
    """Consistent-hash ring resharding contract (the complement of
    hrw_shard_assign — rings are what Dynamo/Cassandra ship): 8 nodes
    × 16 md5 vnodes own keys by minimal clockwise ring distance
    (exact modular arithmetic, ties broken by a node-hash key), then a
    9th node joins and the query reports, per post-join node, how many
    keys stayed vs moved — the defining ring property is that ONLY
    keys adjacent to the new vnodes move (≈1/9 of traffic), and this
    makes it measurable. The vnode table is a bounded literal
    broadcast; ownership is one group-limit argmin per key."""
    keys = load(spark, sf_dir, "documents").select(
        "doc_id",
        (
            D.md5_long(F.concat(F.lit("key:"), F.col("doc_id").cast("string"))) % _RING_M
        ).alias("kh"),
    )

    def owners(extra: bool, out: str):
        vrows = _ring_vnode_rows(extra)
        vn = spark.createDataFrame(vrows, "node string, vh long")
        j = keys.crossJoin(F.broadcast(vn)).select(
            "doc_id",
            "kh",
            "node",
            ((F.col("vh") - F.col("kh") + _RING_M) % _RING_M).alias("dist"),
        )
        w = Window.partitionBy("doc_id").orderBy("dist")
        return (
            j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("node").alias(out))
        )

    a = owners(False, "before_node")
    b = owners(True, "after_node")
    return (
        a.join(b, "doc_id")
        .groupBy(F.col("after_node").alias("node"))
        .agg(
            F.sum(F.when(F.col("before_node") == F.col("after_node"), 1).otherwise(0))
            .cast("long")
            .alias("n_stayed"),
            F.sum(F.when(F.col("before_node") != F.col("after_node"), 1).otherwise(0))
            .cast("long")
            .alias("n_gained"),
            F.count("*").cast("long").alias("n_after"),
        )
    )



@register(
    "conductance_by_source",
    f"""
WITH nodes AS (SELECT doc_id AS id, source FROM documents),
edges AS (
  SELECT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
),
lab AS (
  SELECT e.src, e.dst, ns.source AS s_src, nd.source AS s_dst
  FROM edges e JOIN nodes ns ON ns.id = e.src JOIN nodes nd ON nd.id = e.dst
),
vol AS (
  SELECT s_src AS source,
         cast(count(*) as bigint) AS volume,
         cast(sum(CASE WHEN s_src <> s_dst THEN 1 ELSE 0 END) as bigint) AS cut
  FROM lab GROUP BY s_src
),
tot AS (SELECT cast(count(*) as bigint) AS m FROM lab)
SELECT vol.source, vol.volume, vol.cut,
       cast(tot.m - vol.volume as bigint) AS comp_volume,
       cast((vol.cut * 1000000) // least(vol.volume, tot.m - vol.volume) as bigint)
         AS conductance_q
FROM vol CROSS JOIN tot
WHERE least(vol.volume, tot.m - vol.volume) > 0
""",
)
def conductance_by_source(spark, sf_dir):
    """Conductance φ(S) = cut(S) / min(vol(S), vol(S̄)) of each source
    community in the shared directed link graph — the expansion
    measure that modularity_by_source can't see (modularity rewards
    density, conductance certifies bottlenecks; sweep-cut spectral
    partitioning minimizes exactly this). Exact integer cut/volume
    from one edge-labeling join pair, 1e6 fixed-point quotient, 1-row
    total-volume broadcast. Graph-scale work: two node-keyed hash
    joins — the pagerank edge shuffle shape."""
    n = table_rows(sf_dir, "documents")
    d = load(spark, sf_dir, "documents")
    nodes = d.select(F.col("doc_id").alias("id"), "source")
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                *[
                    D.md5_long(F.concat(F.lit(f"e:{j}:"), F.col("doc_id").cast("string"))) % n
                    for j in range(3)
                ]
            )
        ).alias("dst"),
    )
    lab = (
        edges.join(
            nodes.select(F.col("id").alias("src"), F.col("source").alias("s_src")), "src"
        )
        .join(nodes.select(F.col("id").alias("dst"), F.col("source").alias("s_dst")), "dst")
    )
    vol = lab.groupBy(F.col("s_src").alias("source")).agg(
        F.count("*").cast("long").alias("volume"),
        F.sum(F.when(F.col("s_src") != F.col("s_dst"), 1).otherwise(0))
        .cast("long")
        .alias("cut"),
    )
    tot = lab.agg(F.count("*").cast("long").alias("m"))
    return (
        vol.crossJoin(F.broadcast(tot))
        .filter(F.least(F.col("volume"), F.col("m") - F.col("volume")) > 0)
        .select(
            "source",
            "volume",
            "cut",
            (F.col("m") - F.col("volume")).cast("long").alias("comp_volume"),
            F.expr("(cut * 1000000) div least(volume, m - volume)")
            .cast("long")
            .alias("conductance_q"),
        )
    )



@register("set_cover_sources", _set_cover_oracle_sql())
def set_cover_sources(spark, sf_dir):
    """Greedy set cover — pick 5 sources that together cover the most
    3-shingle vocabulary (the corpus-acquisition / crawl-seed
    selection problem;
    greedy is the optimal-approximation 1−1/e algorithm): each round
    scores every source by its count of STILL-UNCOVERED terms (one
    anti-join + one agg), takes the argmax (a bounded driver scalar,
    the kmeans/compact precedent — 5 rounds, one row each), and folds
    the winner's terms into the covered set. The oracle replays the
    same 5 unrolled rounds in CTEs. At scale the per-round work is
    one term-keyed shuffle; rounds are few by construction."""
    d = load(spark, sf_dir, "documents")
    tw = d.select("source", F.explode(D.shingles_all(F.col("text"), 3)).alias("w")).distinct()
    covered = None
    out_rows = []
    for r in range(1, _SC_ROUNDS + 1):
        uncov = tw if covered is None else tw.join(covered, "w", "left_anti")
        top = (
            uncov.groupBy("source")
            .agg(F.count("*").cast("long").alias("gain"))
            .orderBy(F.col("gain").desc(), "source")
            .first()
        )
        if top is None:  # vocabulary exhausted before 5 rounds — stop, like the oracle
            break
        out_rows.append((r, top["source"], int(top["gain"])))
        picked_terms = tw.filter(F.col("source") == top["source"]).select("w")
        covered = picked_terms if covered is None else covered.union(picked_terms).distinct()
        covered = covered.localCheckpoint(eager=True)
    return spark.createDataFrame(out_rows, "round int, source string, gain bigint")



@register(
    "sorted_neighborhood_pairs",
    f"""
WITH names AS (
  SELECT c_custkey AS ck, lower(c_name) AS nm FROM customer WHERE c_custkey % 4 = 1
),
ranked AS (
  SELECT ck, nm, cast(row_number() OVER (ORDER BY nm, ck) as bigint) AS rn FROM names
),
cand AS (
  SELECT a.ck AS ck_a, b.ck AS ck_b, a.nm AS nm_a, b.nm AS nm_b
  FROM ranked a JOIN ranked b
    ON b.rn > a.rn AND b.rn <= a.rn + {_SNB_W}
)
SELECT ck_a, ck_b, cast(levenshtein(nm_a, nm_b) as bigint) AS dist
FROM cand
WHERE levenshtein(nm_a, nm_b) <= {_SNB_MAXDIST}
""",
)
def sorted_neighborhood_pairs(spark, sf_dir):
    """Sorted-neighborhood blocking for entity resolution (the third
    blocking scheme beside soundex_blocking_docs and the PassJoin
    segments in fuzzy_title_join — SNB is what you use when typos
    hit the END of strings and phonetic keys miss): sort records by
    the name key, slide a width-3 window (an rn-band self-join on the
    two-phase global rank — candidates ∝ n·w, never n²), verify with
    exact edit distance ≤ 2. Both engines ship the same
    Wagner-Fischer levenshtein, already relied on by the fuzzy
    family."""
    from gipspark.operators.ranking import global_row_number

    names = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 == 1)
        .select(F.col("c_custkey").alias("ck"), F.lower(F.col("c_name")).alias("nm"))
    )
    ranked = global_row_number(names, ["nm", "ck"], out="rn")
    a = ranked.alias("a")
    b = ranked.alias("b")
    cand = a.join(
        b,
        (F.col("b.rn") > F.col("a.rn")) & (F.col("b.rn") <= F.col("a.rn") + _SNB_W),
    ).select(
        F.col("a.ck").alias("ck_a"),
        F.col("b.ck").alias("ck_b"),
        F.col("a.nm").alias("nm_a"),
        F.col("b.nm").alias("nm_b"),
    )
    return cand.select(
        "ck_a",
        "ck_b",
        F.levenshtein("nm_a", "nm_b").cast("long").alias("dist"),
    ).filter(F.col("dist") <= _SNB_MAXDIST)



@register(
    "dhondt_seats_sources",
    f"""
WITH votes AS (
  SELECT source, cast(count(*) as bigint) AS v FROM documents GROUP BY source
), quot AS (
  SELECT source, v, d.d,
         (v * 1000000000) // d.d AS q
  FROM votes, (VALUES {', '.join(f'({i})' for i in range(1, _DH_SEATS + 1))}) AS d(d)
), ranked AS (
  SELECT source, v, d, q,
         cast(row_number() OVER (ORDER BY q DESC, source, d) as int) AS rk
  FROM quot
)
SELECT source, any_value(v) AS votes,
       cast(count(*) as bigint) AS seats,
       cast(min(rk) as bigint) AS first_seat_rank
FROM ranked WHERE rk <= {_DH_SEATS}
GROUP BY source
""",
)
def dhondt_seats_sources(spark, sf_dir):
    """D'Hondt divisor apportionment of 20 'crawl budget seats' across
    sources by doc count — the divisor-method counterpart to the
    largest-remainder crawl_budget_apportion (divisor methods are
    house-monotone; Hamilton isn't — together they bracket the
    apportionment design space): quotients v/d for d=1..20 ranked as
    exact 1e9 floor-division ticks (quotient ties break by source
    then divisor — documented, deterministic), top-20 quotients are
    the seats. One vote agg + a 20-row divisor dim + one global
    ranking window over the bounded (sources×20) quotient table."""
    d = load(spark, sf_dir, "documents")
    votes = d.groupBy("source").agg(F.count("*").cast("long").alias("v"))
    divs = spark.createDataFrame([(i,) for i in range(1, _DH_SEATS + 1)], "d int")
    quot = votes.crossJoin(F.broadcast(divs)).select(
        "source", "v", "d", F.expr("(v * 1000000000) div d").cast("long").alias("q")
    )
    w_rank = Window.orderBy(F.col("q").desc(), "source", "d")
    ranked = quot.withColumn("rk", F.row_number().over(w_rank).cast("int"))
    return (
        ranked.filter(F.col("rk") <= _DH_SEATS)
        .groupBy("source")
        .agg(
            F.first("v").alias("votes"),
            F.count("*").cast("long").alias("seats"),
            F.min("rk").cast("long").alias("first_seat_rank"),
        )
    )



@register(
    "join_card_estimate",
    f"""
WITH a AS (
  SELECT o_custkey AS k FROM orders
), b AS (
  SELECT c_custkey AS k FROM customer
), exact_cnt AS (
  SELECT cast(sum(ca.n * cb.n) as bigint) AS exact_rows
  FROM (SELECT k, cast(count(*) as bigint) AS n FROM a GROUP BY k) ca
  JOIN (SELECT k, cast(count(*) as bigint) AS n FROM b GROUP BY k) cb ON cb.k = ca.k
), samp AS (
  SELECT cast(sum(ca.n * cb.n) as bigint) AS samp_rows
  FROM (SELECT k, cast(count(*) as bigint) AS n FROM a
        WHERE {D.MD5_LONG_SQL.format(x="concat('jc:', cast(k as varchar))")} % {_JC_SAMPLE_MOD} = 0
        GROUP BY k) ca
  JOIN (SELECT k, cast(count(*) as bigint) AS n FROM b
        WHERE {D.MD5_LONG_SQL.format(x="concat('jc:', cast(k as varchar))")} % {_JC_SAMPLE_MOD} = 0
        GROUP BY k) cb ON cb.k = ca.k
)
SELECT exact_cnt.exact_rows,
       samp.samp_rows,
       cast(samp.samp_rows * {_JC_SAMPLE_MOD} as bigint) AS est_rows,
       cast(abs(samp.samp_rows * {_JC_SAMPLE_MOD} - exact_cnt.exact_rows) * 1000000
            // greatest(exact_cnt.exact_rows, 1) as bigint) AS rel_err_q
FROM exact_cnt CROSS JOIN samp
""",
)
def join_card_estimate(spark, sf_dir):
    """Join-cardinality estimation contract — the query-optimizer
    primitive, made checkable: |orders ⋈ customer| computed exactly
    as Σ cntA(k)·cntB(k) (never materializing the join), and
    estimated from a correlated 1/16 KEY-hash sample (both sides keep
    the SAME hashed keys — the only sampling scheme that preserves
    join structure; independent row samples would miss almost every
    match) scaled by 16. The query emits exact, sampled, estimate,
    and 1e6 relative error — the contract a cost model would assert.
    Both paths are count-aggregates + one key join; no row explosion."""
    a = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    b = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))

    def counts(df):
        return df.groupBy("k").agg(F.count("*").cast("long").alias("n"))

    def keep(df):
        return df.filter(
            D.md5_long(F.concat(F.lit("jc:"), F.col("k").cast("string"))) % _JC_SAMPLE_MOD
            == 0
        )

    exact = (
        counts(a)
        .join(counts(b).withColumnRenamed("n", "nb"), "k")
        .agg(F.sum(F.col("n") * F.col("nb")).cast("long").alias("exact_rows"))
    )
    samp = (
        counts(keep(a))
        .join(counts(keep(b)).withColumnRenamed("n", "nb"), "k")
        .agg(F.sum(F.col("n") * F.col("nb")).cast("long").alias("samp_rows"))
    )
    return (
        exact.crossJoin(F.broadcast(samp))
        .withColumn("est_rows", (F.col("samp_rows") * _JC_SAMPLE_MOD).cast("long"))
        .withColumn(
            "rel_err_q",
            F.expr(
                "(abs(est_rows - exact_rows) * 1000000) div greatest(exact_rows, cast(1 as bigint))"
            ).cast("long"),
        )
    )



# ---------------------------------------------------------------------------
# round-4 session-3 batch 14: CUPED, Chaikin smoothing, KMV sketch, cohort LTV
# ---------------------------------------------------------------------------


@register(
    "cuped_adjustment_users",
    """
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS d,
         cast(round(value * 100) as bigint) AS cents
  FROM events
), spanb AS (SELECT min(d) AS d0 FROM ev),
per AS (
  SELECT user_id,
         cast(sum(CASE WHEN d < (SELECT d0 FROM spanb) + 7 THEN cents ELSE 0 END) as bigint)
           AS x,
         cast(sum(CASE WHEN d >= (SELECT d0 FROM spanb) + 7 THEN cents ELSE 0 END) as bigint)
           AS y
  FROM ev GROUP BY user_id
), s AS (
  SELECT cast(count(*) as bigint) AS n,
         cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
         cast(sum(x * x) as bigint) AS sxx, cast(sum(x * y) as bigint) AS sxy
  FROM per
)
SELECT n, sx, sy,
       cast(n * sxy - sx * sy as bigint) AS cov_num,
       cast(n * sxx - sx * sx as bigint) AS var_num,
       cast(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                 ELSE ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx) END as bigint)
         AS theta_q,
       cast(sy * 1000000 - (CASE WHEN n * sxx - sx * sx = 0 THEN 0
                 ELSE ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx) END)
            * (sx - 0) as bigint) AS adj_sum_q
FROM s
""",
)
def cuped_adjustment_users(spark, sf_dir):
    """CUPED variance reduction (the experimentation-platform
    workhorse — regress the experiment-period metric on the
    pre-period covariate and analyze the residual, cutting variance
    by corr²): x = first-week spend, y = post-week spend per user;
    θ = cov/var carried as the exact integer pair (n·Σxy − ΣxΣy,
    n·Σxx − Σx²) plus the 1e6 floor quotient, and the adjusted total
    Σy·1e6 − θ_q·Σx in the same ticks. One per-user aggregate + one
    1-row moment fold; zero floats. Magnitudes: cents sums ≤ ~1e9 at
    sf1, so the int64 cross products clear 9.2e18 with headroom."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    d0 = ev.agg(F.min("d").alias("d0"))
    per = (
        ev.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("d") < F.col("d0") + 7, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("d") >= F.col("d0") + 7, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    s = per.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return (
        s.withColumn("cov_num", (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long"))
        .withColumn("var_num", (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long"))
        .withColumn(
            "theta_q",
            F.when(F.col("var_num") == 0, F.lit(0))
            .otherwise(F.expr("(cov_num * 1000000) div var_num"))
            .cast("long"),
        )
        .withColumn(
            "adj_sum_q", (F.col("sy") * F.lit(1000000) - F.col("theta_q") * F.col("sx")).cast("long")
        )
        .select("n", "sx", "sy", "cov_num", "var_num", "theta_q", "adj_sum_q")
    )



@register(
    "chaikin_smooth_traj",
    f"""
WITH pts AS (
  SELECT user_id, event_id, ts,
         cast(round(({_LAT.format(k='event_id')}) * 10000) as bigint) AS lat4,
         cast(round(({_LON.format(k='event_id')}) * 10000) as bigint) AS lon4
  FROM events WHERE user_id % 10 = 1
), seq AS (
  SELECT user_id, lat4, lon4,
         lead(lat4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nlat,
         lead(lon4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nlon,
         cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) as bigint) AS i
  FROM pts
), cut AS (
  SELECT user_id, i, 0 AS half,
         3 * lat4 + nlat AS qlat, 3 * lon4 + nlon AS qlon
  FROM seq WHERE nlat IS NOT NULL
  UNION ALL
  SELECT user_id, i, 1 AS half,
         lat4 + 3 * nlat AS qlat, lon4 + 3 * nlon AS qlon
  FROM seq WHERE nlat IS NOT NULL
)
SELECT user_id, cast(count(*) as bigint) AS n_out,
       cast(sum(qlat) as bigint) AS sum_qlat, cast(sum(qlon) as bigint) AS sum_qlon,
       cast(min(qlat) as bigint) AS min_qlat, cast(max(qlat) as bigint) AS max_qlat
FROM cut GROUP BY user_id
""",
)
def chaikin_smooth_traj(spark, sf_dir):
    """Chaikin corner-cutting (one iteration) over each sampled user's
    trajectory — the map-generalization smoother dual to RDP
    simplification (RDP removes points, Chaikin rounds corners):
    every consecutive pair (P, Q) yields the ¼ and ¾ points, carried
    as EXACT 4×-scaled integers 3P+Q and P+3Q on the 1e-4-degree
    lattice — no division ever happens. Per-user profile (count,
    sums, extremes) keeps the result hashable at any size. One
    per-user lead() window + one agg; the smoother is a narrow map."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 1)
    pts = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(C.derived_lat(F.col("event_id")) * 10000).cast("long").alias("lat4"),
        F.round(C.derived_lon(F.col("event_id")) * 10000).cast("long").alias("lon4"),
    )
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = pts.select(
        "user_id",
        "lat4",
        "lon4",
        F.lead("lat4").over(w_u).alias("nlat"),
        F.lead("lon4").over(w_u).alias("nlon"),
    ).filter(F.col("nlat").isNotNull())
    q1 = seq.select(
        "user_id",
        (3 * F.col("lat4") + F.col("nlat")).alias("qlat"),
        (3 * F.col("lon4") + F.col("nlon")).alias("qlon"),
    )
    q2 = seq.select(
        "user_id",
        (F.col("lat4") + 3 * F.col("nlat")).alias("qlat"),
        (F.col("lon4") + 3 * F.col("nlon")).alias("qlon"),
    )
    return (
        q1.unionAll(q2)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_out"),
            F.sum("qlat").cast("long").alias("sum_qlat"),
            F.sum("qlon").cast("long").alias("sum_qlon"),
            F.min("qlat").cast("long").alias("min_qlat"),
            F.max("qlat").cast("long").alias("max_qlat"),
        )
    )



@register(
    "permutation_test_values",
    f"""
WITH ev AS (
  SELECT event_id, event_type, cast(round(value * 100) as bigint) AS cents
  FROM events WHERE event_type IN ('click', 'view')
), obs AS (
  SELECT cast(sum(CASE WHEN event_type = 'click' THEN cents ELSE 0 END) as bigint) AS sa,
         cast(sum(CASE WHEN event_type = 'view' THEN cents ELSE 0 END) as bigint) AS sb,
         cast(count(CASE WHEN event_type = 'click' THEN 1 END) as bigint) AS na,
         cast(count(CASE WHEN event_type = 'view' THEN 1 END) as bigint) AS nb
  FROM ev
), perms AS (
  SELECT k,
         cast(sum(CASE WHEN {D.MD5_LONG_SQL.format(x="'perm:' || cast(k as varchar) || ':' || cast(event_id as varchar)")} % 2 = 0
                       THEN cents ELSE 0 END) as bigint) AS psa,
         cast(sum(CASE WHEN {D.MD5_LONG_SQL.format(x="'perm:' || cast(k as varchar) || ':' || cast(event_id as varchar)")} % 2 = 0
                       THEN 0 ELSE cents END) as bigint) AS psb,
         cast(count(CASE WHEN {D.MD5_LONG_SQL.format(x="'perm:' || cast(k as varchar) || ':' || cast(event_id as varchar)")} % 2 = 0
                         THEN 1 END) as bigint) AS pna,
         cast(count(CASE WHEN {D.MD5_LONG_SQL.format(x="'perm:' || cast(k as varchar) || ':' || cast(event_id as varchar)")} % 2 = 0
                         THEN NULL ELSE 1 END) as bigint) AS pnb
  FROM ev, (SELECT unnest(generate_series(1, {_PERM_N})) AS k)
  GROUP BY k
), extreme AS (
  SELECT cast(count(*) as bigint) AS n_extreme
  FROM perms, obs
  WHERE pna > 0 AND pnb > 0
    AND abs(cast(psa as hugeint) * pnb - cast(psb as hugeint) * pna) * (obs.na * obs.nb)
        >= abs(cast(obs.sa as hugeint) * obs.nb - cast(obs.sb as hugeint) * obs.na) * (pna * pnb)
)
SELECT obs.na, obs.nb,
       cast(obs.sa * obs.nb - obs.sb * obs.na as bigint) AS obs_diff_num,
       cast({_PERM_N} as bigint) AS n_perms, extreme.n_extreme,
       cast((1 + extreme.n_extreme) * 1000000 // (1 + {_PERM_N}) as bigint) AS p_q
FROM obs, extreme
""",
)
def permutation_test_values(spark, sf_dir):
    """Deterministic permutation test for the click-vs-view value
    difference — the exact nonparametric complement to the Welch
    t-test (ab_welch_users): 64 md5-keyed relabelings of each event
    (RNG-free, so the p-value is reproducible and lineage-auditable),
    statistic = the mean difference carried as the exact cross-
    multiplied integer pair (s_a·n_b − s_b·n_a over common denominator
    n_a·n_b), extremity compared by a further cross-multiply in
    128-bit so no division or float ever enters, and the standard
    add-one p estimate (1+#extreme)/(1+P) in 1e6 ticks. The
    relabeling fan-out is events×64 — one bounded explode, one hash
    agg; the 64-row perm table then meets two 1-row anchors."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "view"))
    ev = ev.select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    obs = ev.agg(
        F.sum(F.when(F.col("event_type") == "click", F.col("cents")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("event_type") == "view", F.col("cents")).otherwise(0))
        .cast("long")
        .alias("sb"),
        F.count(F.when(F.col("event_type") == "click", True)).cast("long").alias("na"),
        F.count(F.when(F.col("event_type") == "view", True)).cast("long").alias("nb"),
    )
    ks = spark.range(1, _PERM_N + 1).select(F.col("id").cast("int").alias("k"))
    flip = (
        D.md5_long(
            F.concat(
                F.lit("perm:"),
                F.col("k").cast("string"),
                F.lit(":"),
                F.col("event_id").cast("string"),
            )
        )
        % 2
        == 0
    )
    perms = (
        ev.crossJoin(F.broadcast(ks))
        .select("k", F.when(flip, F.col("cents")).alias("ca"), F.when(~flip, F.col("cents")).alias("cb"))
        .groupBy("k")
        .agg(
            F.coalesce(F.sum("ca"), F.lit(0)).cast("long").alias("psa"),
            F.coalesce(F.sum("cb"), F.lit(0)).cast("long").alias("psb"),
            F.count("ca").cast("long").alias("pna"),
            F.count("cb").cast("long").alias("pnb"),
        )
    )
    d38 = "decimal(38,0)"
    extreme = (
        perms.crossJoin(F.broadcast(obs))
        .filter((F.col("pna") > 0) & (F.col("pnb") > 0))
        .filter(
            F.abs(
                F.col("psa").cast(d38) * F.col("pnb") - F.col("psb").cast(d38) * F.col("pna")
            )
            * (F.col("na") * F.col("nb")).cast(d38)
            >= F.abs(
                F.col("sa").cast(d38) * F.col("nb") - F.col("sb").cast(d38) * F.col("na")
            )
            * (F.col("pna") * F.col("pnb")).cast(d38)
        )
        .agg(F.count("*").cast("long").alias("n_extreme"))
    )
    return (
        obs.crossJoin(F.broadcast(extreme))
        .select(
            "na",
            "nb",
            (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).cast("long").alias("obs_diff_num"),
            F.lit(_PERM_N).cast("long").alias("n_perms"),
            "n_extreme",
            F.expr(f"((1 + n_extreme) * 1000000) div (1 + {_PERM_N})").cast("long").alias("p_q"),
        )
    )



# ---------------------------------------------------------------------------
# round-4 session-4 batch 17: Fellegi-Sunter, Banzhaf power, weighted Jaccard,
# landscape metrics
# ---------------------------------------------------------------------------


@register(
    "fellegi_sunter_weights",
    f"""
WITH t AS (
  SELECT doc_id, {_TITLE_SQL} AS title, lang, source FROM documents
), b AS (
  SELECT doc_id, title, lang, source,
         regexp_replace(title, '-[a-z]+$', '') AS stem, length(title) AS L
  FROM t
), pairs AS (
  SELECT CASE WHEN levenshtein(a.title, c.title) <= 1 THEN 1 ELSE 0 END AS is_m,
         CASE WHEN a.lang = c.lang THEN 1 ELSE 0 END AS ag_lang,
         CASE WHEN a.source = c.source THEN 1 ELSE 0 END AS ag_src,
         CASE WHEN a.L = c.L THEN 1 ELSE 0 END AS ag_len
  FROM b a JOIN b c ON c.stem = a.stem AND c.doc_id > a.doc_id
), s AS (
  SELECT cast(sum(is_m) as bigint) AS n_match,
         cast(count(*) - sum(is_m) as bigint) AS n_nonmatch,
         cast(sum(is_m * ag_lang) as bigint) AS am_lang,
         cast(sum((1 - is_m) * ag_lang) as bigint) AS au_lang,
         cast(sum(is_m * ag_src) as bigint) AS am_src,
         cast(sum((1 - is_m) * ag_src) as bigint) AS au_src,
         cast(sum(is_m * ag_len) as bigint) AS am_len,
         cast(sum((1 - is_m) * ag_len) as bigint) AS au_len
  FROM pairs
)
SELECT 'lang' AS field, n_match, n_nonmatch, am_lang AS n_agree_match,
       au_lang AS n_agree_nonmatch,
       cast(am_lang * 1000000 // greatest(1, n_match) as bigint) AS m_q,
       cast(au_lang * 1000000 // greatest(1, n_nonmatch) as bigint) AS u_q
FROM s
UNION ALL
SELECT 'source', n_match, n_nonmatch, am_src, au_src,
       cast(am_src * 1000000 // greatest(1, n_match) as bigint),
       cast(au_src * 1000000 // greatest(1, n_nonmatch) as bigint)
FROM s
UNION ALL
SELECT 'len', n_match, n_nonmatch, am_len, au_len,
       cast(am_len * 1000000 // greatest(1, n_match) as bigint),
       cast(au_len * 1000000 // greatest(1, n_nonmatch) as bigint)
FROM s
""",
)
def fellegi_sunter_weights(spark, sf_dir):
    """Fellegi-Sunter record-linkage parameters: per comparison field
    (lang / source / title-length), the m-probability P(agree|match)
    and u-probability P(agree|non-match) estimated over stem-blocked
    candidate pairs with lev≤1 as the match label — the
    probabilistic-linkage weight table that turns the fuzzy/SNB/
    SymSpell blocking schemes into a SCORED matcher (a field whose
    m/u ratio is high is worth its comparison cost; one near 1 is
    noise). Probabilities are exact 1e6 floor ratios of pair counts;
    the blocked self-join is the fuzzy_title_join stem block
    (candidates ∝ block occupancy, never |D|²), one 1-row moment fold,
    3 unpivoted field rows."""
    docs = load(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        _title_col().alias("title"),
        "lang",
        "source",
        F.regexp_replace(_title_col(), "-[a-z]+$", "").alias("stem"),
        F.length(_title_col()).alias("L"),
    )
    a = b.select(
        F.col("doc_id").alias("ida"),
        F.col("title").alias("ta"),
        F.col("lang").alias("la"),
        F.col("source").alias("sa"),
        "stem",
        F.col("L").alias("len_a"),
    )
    c = b.select(
        F.col("doc_id").alias("idc"),
        F.col("title").alias("tc"),
        F.col("lang").alias("lc"),
        F.col("source").alias("sc"),
        "stem",
        F.col("L").alias("len_c"),
    )
    pairs = a.join(c, "stem").filter(F.col("idc") > F.col("ida")).select(
        F.when(F.levenshtein("ta", "tc") <= 1, 1).otherwise(0).alias("is_m"),
        F.when(F.col("la") == F.col("lc"), 1).otherwise(0).alias("ag_lang"),
        F.when(F.col("sa") == F.col("sc"), 1).otherwise(0).alias("ag_src"),
        F.when(F.col("len_a") == F.col("len_c"), 1).otherwise(0).alias("ag_len"),
    )
    s = pairs.agg(
        F.sum("is_m").cast("long").alias("n_match"),
        (F.count("*") - F.sum("is_m")).cast("long").alias("n_nonmatch"),
        F.sum(F.col("is_m") * F.col("ag_lang")).cast("long").alias("am_lang"),
        F.sum((1 - F.col("is_m")) * F.col("ag_lang")).cast("long").alias("au_lang"),
        F.sum(F.col("is_m") * F.col("ag_src")).cast("long").alias("am_src"),
        F.sum((1 - F.col("is_m")) * F.col("ag_src")).cast("long").alias("au_src"),
        F.sum(F.col("is_m") * F.col("ag_len")).cast("long").alias("am_len"),
        F.sum((1 - F.col("is_m")) * F.col("ag_len")).cast("long").alias("au_len"),
    )
    rows = []
    for name, am, au in (
        ("lang", "am_lang", "au_lang"),
        ("source", "am_src", "au_src"),
        ("len", "am_len", "au_len"),
    ):
        rows.append(
            s.select(
                F.lit(name).alias("field"),
                "n_match",
                "n_nonmatch",
                F.col(am).alias("n_agree_match"),
                F.col(au).alias("n_agree_nonmatch"),
                F.expr(f"({am} * 1000000) div greatest(1, n_match)").cast("long").alias("m_q"),
                F.expr(f"({au} * 1000000) div greatest(1, n_nonmatch)").cast("long").alias("u_q"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out



@register(
    "banzhaf_power_sources",
    f"""
WITH w AS (
  SELECT source, cast(sum(n_chars) // 1000 as bigint) AS wt
  FROM documents GROUP BY source
), top AS (
  SELECT source, wt, cast(row_number() OVER (ORDER BY wt DESC, source) as int) AS r
  FROM w QUALIFY r <= {_BZF_PLAYERS}
), q AS (SELECT cast(sum(wt) // 2 + 1 as bigint) AS quota FROM top),
co AS (SELECT unnest(generate_series(0, {2 ** _BZF_PLAYERS - 1})) AS c),
ws AS (
  SELECT co.c, cast(coalesce(sum(CASE WHEN (co.c >> (t.r - 1)) & 1 = 1 THEN t.wt END), 0)
                    as bigint) AS wsum
  FROM co, top t GROUP BY co.c
), swings AS (
  SELECT t.source, t.wt,
         cast(count(CASE WHEN (ws.c >> (t.r - 1)) & 1 = 0
                          AND ws.wsum < q.quota AND ws.wsum + t.wt >= q.quota
                         THEN 1 END) as bigint) AS n_swings
  FROM top t, ws, q GROUP BY t.source, t.wt
), tot AS (SELECT cast(sum(n_swings) as bigint) AS total_swings FROM swings)
SELECT s.source, s.wt, s.n_swings,
       cast(CASE WHEN tot.total_swings > 0
                 THEN s.n_swings * 1000000 // tot.total_swings ELSE 0 END as bigint) AS power_q
FROM swings s, tot
""",
)
def banzhaf_power_sources(spark, sf_dir):
    """Banzhaf voting-power index of the top-6 sources weighted by
    corpus bytes — the coalition-power complement to the D'Hondt and
    Hamilton apportionments (apportionment divides seats
    proportionally; Banzhaf measures how often a player is actually
    PIVOTAL under majority quota, which is wildly non-proportional —
    the classic result that weight shares misstate power): all 2⁶
    coalitions enumerate as one 64-row literal dim, membership is a
    bit test on the player's rank, a swing is coalition-sum < quota ≤
    sum + w_p, and the normalized index is exact 1e6 floor ticks.
    The 64×6 grid is a bounded literal cross — power-set evaluation
    is constant-size by design (players fixed at 6), never data-scale."""
    d = load(spark, sf_dir, "documents")
    w = d.groupBy("source").agg(F.expr("sum(n_chars) div 1000").cast("long").alias("wt"))
    top = (
        w.withColumn("r", F.row_number().over(Window.orderBy(F.col("wt").desc(), "source")))
        .filter(F.col("r") <= _BZF_PLAYERS)
        .select("source", "wt", F.col("r").cast("int").alias("r"))
    )
    q = top.agg(F.expr("sum(wt) div 2 + 1").cast("long").alias("quota"))
    co = spark.range(2**_BZF_PLAYERS).select(F.col("id").cast("int").alias("c"))
    ws = (
        co.crossJoin(F.broadcast(top))
        .groupBy("c")
        .agg(
            F.coalesce(
                F.sum(F.when(F.expr("(c >> (r - 1)) & 1 = 1"), F.col("wt"))), F.lit(0)
            )
            .cast("long")
            .alias("wsum")
        )
    )
    swings = (
        top.crossJoin(ws)
        .crossJoin(F.broadcast(q))
        .groupBy("source", "wt")
        .agg(
            F.count(
                F.when(
                    F.expr("(c >> (r - 1)) & 1 = 0")
                    & (F.col("wsum") < F.col("quota"))
                    & (F.col("wsum") + F.col("wt") >= F.col("quota")),
                    True,
                )
            )
            .cast("long")
            .alias("n_swings")
        )
    )
    tot = swings.agg(F.sum("n_swings").cast("long").alias("total_swings"))
    return (
        swings.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "wt",
            "n_swings",
            F.expr(
                "CASE WHEN total_swings > 0 THEN (n_swings * 1000000) div total_swings ELSE 0 END"
            )
            .cast("long")
            .alias("power_q"),
        )
    )



@register(
    "poisson_bootstrap_ci",
    f"""
WITH o AS (
  SELECT o_orderkey, cast(round(o_totalprice * 100) as bigint) AS cents FROM orders
), obs AS (
  SELECT cast(sum(cents) * 100 // count(*) as bigint) AS mean_obs_q FROM o
), reps AS (
  SELECT k,
         cast(sum(mult * cents) as bigint) AS wsum,
         cast(sum(mult) as bigint) AS wn
  FROM (
    SELECT k, cents,
           {_boot_mult_sql(f"{D.MD5_LONG_SQL.format(x=_BOOT_KEY)} % 1000000")} AS mult
    FROM o, (SELECT unnest(generate_series(1, {_BOOT_REPS})) AS k)
  ) GROUP BY k
), stats AS (
  SELECT k, cast(wsum * 100 // wn as bigint) AS mean_q,
         row_number() OVER (ORDER BY wsum * 100 // wn, k) AS rn
  FROM reps WHERE wn > 0
)
SELECT obs.mean_obs_q,
       cast({_BOOT_REPS} as bigint) AS n_reps,
       (SELECT mean_q FROM stats WHERE rn = 2) AS ci_lo_q,
       (SELECT mean_q FROM stats WHERE rn = {_BOOT_REPS - 1}) AS ci_hi_q
FROM obs
""",
)
def poisson_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap confidence interval for the mean order value
    — THE bootstrap that works on a cluster (classic resampling needs
    global with-replacement draws; the Poisson approximation gives
    every row an independent Poisson(1) multiplicity, so each
    replicate is one weighted aggregate and all 32 replicates ride
    ONE bounded fan-out): multiplicities come from md5 uniforms cut
    at the frozen Poisson(1) CDF ticks (RNG-free, reproducible),
    replicate means are exact centi-cent floor ratios, and the 90%
    interval is the rank-2 / rank-31 replicate by explicit order —
    quantiles as order statistics, never interpolation. Events×32
    explode + one hash agg; two 1-row anchors combine at the end."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    obs = o.agg(F.expr("(sum(cents) * 100) div count(*)").cast("long").alias("mean_obs_q"))
    ks = spark.range(1, _BOOT_REPS + 1).select(F.col("id").cast("int").alias("k"))
    u = (
        D.md5_long(
            F.concat(
                F.lit("boot:"),
                F.col("k").cast("string"),
                F.lit(":"),
                F.col("o_orderkey").cast("string"),
            )
        )
        % 1000000
    )
    mult = F.when(u < _BOOT_CUTS[0], 0)
    for i, c in enumerate(_BOOT_CUTS[1:], start=1):
        mult = mult.when(u < c, i)
    mult = mult.otherwise(6)
    reps = (
        o.crossJoin(F.broadcast(ks))
        .select("k", (mult * F.col("cents")).alias("wc"), mult.alias("mult"))
        .groupBy("k")
        .agg(F.sum("wc").cast("long").alias("wsum"), F.sum("mult").cast("long").alias("wn"))
    )
    stats = (
        reps.filter(F.col("wn") > 0)
        .select("k", F.expr("(wsum * 100) div wn").cast("long").alias("mean_q"))
        .withColumn("rn", F.row_number().over(Window.orderBy("mean_q", "k")))
    )
    lo = stats.filter(F.col("rn") == 2).select(F.col("mean_q").alias("ci_lo_q"))
    hi = stats.filter(F.col("rn") == _BOOT_REPS - 1).select(F.col("mean_q").alias("ci_hi_q"))
    return (
        obs.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "mean_obs_q",
            F.lit(_BOOT_REPS).cast("long").alias("n_reps"),
            "ci_lo_q",
            "ci_hi_q",
        )
    )



# ---------------------------------------------------------------------------
# round-4 session-4 batch 19: lateness profile, JL projection, k-truss,
# choropleth classification
# ---------------------------------------------------------------------------


@register(
    "lateness_profile_users",
    """
WITH seq AS (
  SELECT user_id, event_id, ts,
         max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
  FROM events
), lat AS (
  SELECT user_id,
         epoch_us(run_max) // 1000000 - epoch_us(ts) // 1000000 AS late_s
  FROM seq
)
SELECT user_id, cast(count(*) as bigint) AS n_events,
       cast(count(CASE WHEN late_s > 0 THEN 1 END) as bigint) AS n_late,
       cast(max(late_s) as bigint) AS max_late_s,
       cast(sum(late_s) as bigint) AS sum_late_s
FROM lat GROUP BY user_id
""",
)
def lateness_profile_users(spark, sf_dir):
    """Event-time lateness profile per user — the observability query
    that TUNES the streaming watermarks this engine's windowed/dedup
    operators depend on (withWatermark's delay is a guess unless you
    measure how late events actually arrive): arrival order is the
    ingest id, lateness is running-max(event time) minus event time in
    floor seconds, and the per-user profile (late count, max, sum)
    says which delay bound drops what mass. One running-max window +
    one agg sharing the user_id shuffle — the trajectory_user_stats
    plan shape pointed at the time axis itself."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lat = ev.select(
        "user_id",
        (F.unix_timestamp(F.max("ts").over(w)) - F.unix_timestamp("ts")).alias("late_s"),
    )
    return lat.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count(F.when(F.col("late_s") > 0, True)).cast("long").alias("n_late"),
        F.max("late_s").cast("long").alias("max_late_s"),
        F.sum("late_s").cast("long").alias("sum_late_s"),
    )



@register(
    "lof_lite_customers",
    f"""
WITH pts AS (
  SELECT c_custkey AS id,
         {C.DERIVED_LAT_SQL.format(k='c_custkey')} AS lat,
         {C.DERIVED_LON_SQL.format(k='c_custkey')} AS lon
  FROM customer
), nn AS MATERIALIZED (
  SELECT id, nn_id, d1_m FROM (
    SELECT a.id, b.id AS nn_id,
           cast(round({_LOF_HAV}, 0) as bigint) AS d1_m,
           row_number() OVER (PARTITION BY a.id ORDER BY {_LOF_HAV}, b.id) AS rn
    FROM pts a JOIN pts b ON b.id <> a.id
  ) WHERE rn = 1
)
SELECT x.id, x.nn_id, x.d1_m, y.d1_m AS nn_d1_m,
       cast(x.d1_m * 1000000 // greatest(1, y.d1_m) as bigint) AS lof_q
FROM nn x JOIN nn y ON y.id = x.nn_id
ORDER BY lof_q DESC, x.id LIMIT {_LOF_TOPK}
""",
)
def lof_lite_customers(spark, sf_dir):
    """LOF-lite spatial outlier score: each point's 1-NN distance over
    its own nearest neighbor's 1-NN distance — the density-RATIO
    outlier signal (a point far from everything in an otherwise tight
    region scores high; a point in uniformly sparse space does NOT,
    which is exactly what a plain distance threshold gets wrong). The
    forward 1-NN is the exact cell-prefiltered knn_join (self-join
    flavor: k=2 then drop the identity row — the oracle brute-forces
    the |C|² distances); the neighbor's own d1 is ONE id join of the
    nn table with itself; ratio in whole-meter 1e6 ticks. Top-20 by
    (score, id)."""
    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("q_id"),
        C.derived_lat(F.col("c_custkey")).alias("q_lat"),
        C.derived_lon(F.col("c_custkey")).alias("q_lon"),
    )
    tgt = pts.select(
        F.col("q_id").alias("p_id"),
        F.col("q_lat").alias("p_lat"),
        F.col("q_lon").alias("p_lon"),
    )
    knn = knn_join(pts, tgt, k=2, n_points_hint=table_rows(sf_dir, "customer"))
    w1 = Window.partitionBy("q_id").orderBy("rank")
    nn = (
        knn.filter(F.col("p_id") != F.col("q_id"))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            F.col("q_id").alias("id"),
            F.col("p_id").alias("nn_id"),
            F.round("dist_m", 0).cast("long").alias("d1_m"),
        )
    )
    nbr = nn.select(F.col("id").alias("nn_id"), F.col("d1_m").alias("nn_d1_m"))
    return (
        nn.join(nbr, "nn_id")
        .select(
            "id",
            "nn_id",
            "d1_m",
            "nn_d1_m",
            F.expr("(d1_m * 1000000) div greatest(1, nn_d1_m)").cast("long").alias("lof_q"),
        )
        .orderBy(F.col("lof_q").desc(), F.col("id"))
        .limit(_LOF_TOPK)
    )



@register(
    "shapley_power_sources",
    f"""
WITH w AS (
  SELECT source, cast(sum(n_chars) // 1000 as bigint) AS wt
  FROM documents GROUP BY source
), top AS (
  SELECT source, wt, cast(row_number() OVER (ORDER BY wt DESC, source) as int) AS r
  FROM w QUALIFY r <= {_BZF_PLAYERS}
), q AS (SELECT cast(sum(wt) // 2 + 1 as bigint) AS quota FROM top),
co AS (SELECT unnest(generate_series(0, {2 ** _BZF_PLAYERS - 1})) AS c),
ws AS (
  SELECT co.c, cast(coalesce(sum(CASE WHEN (co.c >> (t.r - 1)) & 1 = 1 THEN t.wt END), 0)
                    as bigint) AS wsum
  FROM co, top t GROUP BY co.c
), sw AS (
  SELECT t.source, t.wt,
         cast(coalesce(sum(CASE WHEN (ws.c >> (t.r - 1)) & 1 = 0
                            AND ws.wsum < q.quota AND ws.wsum + t.wt >= q.quota
                           THEN {_SHAP_W_SQL} END), 0) as bigint) AS shapley_num
  FROM top t, ws, q GROUP BY t.source, t.wt
)
SELECT source, wt, shapley_num,
       cast(shapley_num * 1000000 // 720 as bigint) AS shapley_q
FROM sw
""",
)
def shapley_power_sources(spark, sf_dir):
    """Shapley-Shubik power of the top-6 byte-weighted sources — the
    ORDERING-weighted power index beside Banzhaf (Banzhaf counts
    swings uniformly over coalitions; Shapley weights each swing by
    the |S|!·(n−|S|−1)!/n! orderings in which the player arrives
    exactly pivotal, which is the fair-division axiomatization): the
    same 64-coalition literal grid, swings weighted by the frozen
    s!(5−s)! table on bit_count(coalition), exact integer numerators
    over the common 6! = 720 denominator, 1e6 ticks. By construction
    Σ shapley_num = 720 across players — the self-audit identity."""
    d = load(spark, sf_dir, "documents")
    w = d.groupBy("source").agg(F.expr("sum(n_chars) div 1000").cast("long").alias("wt"))
    top = (
        w.withColumn("r", F.row_number().over(Window.orderBy(F.col("wt").desc(), "source")))
        .filter(F.col("r") <= _BZF_PLAYERS)
        .select("source", "wt", F.col("r").cast("int").alias("r"))
    )
    q = top.agg(F.expr("sum(wt) div 2 + 1").cast("long").alias("quota"))
    co = spark.range(2**_BZF_PLAYERS).select(F.col("id").cast("int").alias("c"))
    ws = (
        co.crossJoin(F.broadcast(top))
        .groupBy("c")
        .agg(
            F.coalesce(
                F.sum(F.when(F.expr("(c >> (r - 1)) & 1 = 1"), F.col("wt"))), F.lit(0)
            )
            .cast("long")
            .alias("wsum")
        )
    )
    wexpr = "CASE bit_count(c) " + " ".join(
        f"WHEN {k} THEN {v}" for k, v in sorted(_SHAP_W.items())
    ) + " END"
    sw = (
        top.crossJoin(ws)
        .crossJoin(F.broadcast(q))
        .groupBy("source", "wt")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.expr("(c >> (r - 1)) & 1 = 0")
                        & (F.col("wsum") < F.col("quota"))
                        & (F.col("wsum") + F.col("wt") >= F.col("quota")),
                        F.expr(wexpr),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("shapley_num")
        )
    )
    return sw.select(
        "source",
        "wt",
        "shapley_num",
        F.expr("(shapley_num * 1000000) div 720").cast("long").alias("shapley_q"),
    )



@register(
    "bounce_exit_stats",
    f"""
WITH ev AS (
  SELECT user_id, event_id, ts, event_type,
         epoch_us(ts) // 1000000 AS es,
         lag(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_es
  FROM events
), marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN prev_es IS NULL OR es - prev_es > {_SESS_GAP_S} THEN 1 ELSE 0 END AS new_s
  FROM ev
), sess AS (
  SELECT user_id, event_id, ts, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
), per AS (
  SELECT user_id, sid, cast(count(*) as bigint) AS n,
         first(event_type ORDER BY ts, event_id) AS landing,
         last(event_type ORDER BY ts, event_id) AS exit_type
  FROM sess GROUP BY user_id, sid
), lt AS (
  SELECT landing, cast(count(*) as bigint) AS n_landing FROM per GROUP BY landing
)
SELECT per.landing, per.exit_type,
       cast(count(*) as bigint) AS n_sessions,
       cast(count(CASE WHEN per.n = 1 THEN 1 END) as bigint) AS n_bounces,
       cast(count(*) * 1000000 // any_value(lt.n_landing) as bigint) AS share_q
FROM per JOIN lt ON lt.landing = per.landing
GROUP BY per.landing, per.exit_type
""",
)
def bounce_exit_stats(spark, sf_dir):
    """Bounce-rate and exit-page analytics over 30-minute-gap sessions
    — the web-analytics bread and butter (which landing event types
    fail to engage, and where sessions end): sessionization is the
    flag-cumsum trick (one lag + one running sum on the SAME user_id
    window shuffle — the merge_intervals machinery, no self-join),
    per-session landing/exit from order-aware first/last aggregates,
    and the (landing, exit) transition table carries session counts,
    single-event bounces, and exact landing-conditional shares. One
    shuffle on user_id + one dim-scale agg pair."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.unix_timestamp("ts")
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            F.lag(es).over(w).isNull() | (es - F.lag(es).over(w) > _SESS_GAP_S), 1
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("min_by(event_type, struct(ts, event_id))").alias("landing"),
        F.expr("max_by(event_type, struct(ts, event_id))").alias("exit_type"),
    )
    lt = per.groupBy("landing").agg(F.count("*").cast("long").alias("n_landing"))
    return (
        per.join(lt, "landing")
        .groupBy("landing", "exit_type")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.count(F.when(F.col("n") == 1, True)).cast("long").alias("n_bounces"),
            F.expr("(count(*) * 1000000) div any_value(n_landing)")
            .cast("long")
            .alias("share_q"),
        )
    )



@register(
    "dau_wau_sticky",
    f"""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 86400 AS d FROM events
), days AS (SELECT DISTINCT d FROM ud),
dau AS (SELECT d, cast(count(*) as bigint) AS dau FROM ud GROUP BY d),
wau AS (
  SELECT days.d, cast(count(DISTINCT ud.user_id) as bigint) AS wau
  FROM days JOIN ud ON ud.d BETWEEN days.d - {_WAU_DAYS - 1} AND days.d
  GROUP BY days.d
)
SELECT dau.d, dau.dau, wau.wau,
       cast(dau.dau * 1000000 // wau.wau as bigint) AS sticky_q
FROM dau JOIN wau ON wau.d = dau.d
""",
)
def dau_wau_sticky(spark, sf_dir):
    """DAU/WAU stickiness per day — the growth-accounting engagement
    ratio (what share of the weekly actives shows up on a given day;
    1e6 = every weekly user daily, ~143k = once-a-week visitors):
    the user-day table folds once, DAU is a trivial agg, and the
    trailing-7-day distinct count comes from a bounded band join of
    the day spine against user-days (fan-out ≤ 7 rows per user-day —
    the windowed-distinct that frame windows cannot express, shaped
    as an equi-ish band join instead of a 7× self-union). Exact 1e6
    ratio."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.expr("unix_timestamp(ts) div 86400").alias("d")
    ).distinct()
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count("*").cast("long").alias("dau"))
    spine = days.select(F.col("d").alias("sd"))
    wau = (
        spine.join(
            ud,
            (F.col("d") >= F.col("sd") - (_WAU_DAYS - 1)) & (F.col("d") <= F.col("sd")),
        )
        .groupBy(F.col("sd").alias("d"))
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            "d",
            "dau",
            "wau",
            F.expr("(dau * 1000000) div wau").cast("long").alias("sticky_q"),
        )
    )



@register(
    "radiation_model_flows",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / {_RAD_CELL_DEG}) as int) AS cx,
         cast(floor((90.0 - lat) / {_RAD_CELL_DEG}) as int) AS cy,
         cast(count(*) as bigint) AS m
  FROM pts GROUP BY cx, cy
), cells AS MATERIALIZED (
  SELECT cx, cy, m,
         (-180.0 + {_RAD_CELL_DEG} / 2.0 + {_RAD_CELL_DEG} * cx) AS clon,
         (90.0 - {_RAD_CELL_DEG} * cy - {_RAD_CELL_DEG} / 2.0) AS clat,
         cast(cx * 1000 + cy as bigint) AS cid
  FROM grid
), pair AS MATERIALIZED (
  SELECT a.cid AS o_cid, b.cid AS d_cid, a.m AS mi, b.m AS nj,
         cast(round({_RAD_HAV}, 0) as bigint) AS dij_m
  FROM cells a JOIN cells b ON b.cid <> a.cid
), sij AS (
  SELECT p.o_cid, p.d_cid,
         cast(coalesce(sum(CASE WHEN cast(round({_RAD_HAV_K}, 0) as bigint) < p.dij_m
                                 AND k.cid <> p.o_cid AND k.cid <> p.d_cid
                                THEN k.m END), 0) as bigint) AS s
  FROM pair p
  JOIN cells a ON a.cid = p.o_cid
  CROSS JOIN cells k
  GROUP BY p.o_cid, p.d_cid
)
SELECT p.o_cid, p.d_cid, p.mi, p.nj, sij.s,
       cast(cast(p.mi as hugeint) * p.mi * p.nj * 1000000
            // (cast(p.mi + sij.s as hugeint) * (p.mi + p.nj + sij.s)) as bigint) AS t_q
FROM pair p JOIN sij ON sij.o_cid = p.o_cid AND sij.d_cid = p.d_cid
""",
)
def radiation_model_flows(spark, sf_dir):
    """Radiation model of inter-cell flows (Simini et al. — the
    parameter-free rival to the fitted gravity model, driven by the
    INTERVENING OPPORTUNITIES s_ij: the population inside the circle
    of radius d_ij around the origin): T_ij = T_i·m_i·n_j /
    ((m_i+s_ij)(m_i+n_j+s_ij)) with T_i = m_i, computed in 128-bit
    exact ticks. The matrix is the bounded 30° cell dim, so the
    pair×cell circle-sum kernel is dims³ — never events² (points fold
    to cell masses first, the od/gravity discipline); distances are
    whole-meter center-to-center haversine with a strict-inequality
    circle law. Complements gravity_model_flows: same marginals, no
    exponent to fit."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / _RAD_CELL_DEG)
            .cast("int")
            .alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / _RAD_CELL_DEG)
            .cast("int")
            .alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("m"))
    )
    cells = grid.select(
        (F.col("cx") * 1000 + F.col("cy")).cast("long").alias("cid"),
        "m",
        (F.lit(90.0) - _RAD_CELL_DEG * F.col("cy") - _RAD_CELL_DEG / 2.0).alias("clat"),
        (F.lit(-180.0) + _RAD_CELL_DEG / 2.0 + _RAD_CELL_DEG * F.col("cx")).alias("clon"),
    ).localCheckpoint(eager=True)
    from gipspark.geo.haversine import haversine_col

    a = cells.select(
        F.col("cid").alias("o_cid"),
        F.col("m").alias("mi"),
        F.col("clat").alias("alat"),
        F.col("clon").alias("alon"),
    )
    b = cells.select(
        F.col("cid").alias("d_cid"),
        F.col("m").alias("nj"),
        F.col("clat").alias("blat"),
        F.col("clon").alias("blon"),
    )
    pair = a.join(b, F.col("d_cid") != F.col("o_cid")).select(
        "o_cid",
        "d_cid",
        "mi",
        "nj",
        "alat",
        "alon",
        F.round(haversine_col(F.col("alat"), F.col("alon"), F.col("blat"), F.col("blon")), 0)
        .cast("long")
        .alias("dij_m"),
    )
    k = cells.select(
        F.col("cid").alias("k_cid"),
        F.col("m").alias("km"),
        F.col("clat").alias("klat"),
        F.col("clon").alias("klon"),
    )
    sij = (
        pair.crossJoin(k)
        .groupBy("o_cid", "d_cid")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (
                            F.round(
                                haversine_col(
                                    F.col("alat"), F.col("alon"), F.col("klat"), F.col("klon")
                                ),
                                0,
                            ).cast("long")
                            < F.col("dij_m")
                        )
                        & (F.col("k_cid") != F.col("o_cid"))
                        & (F.col("k_cid") != F.col("d_cid")),
                        F.col("km"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("s")
        )
    )
    return (
        pair.select("o_cid", "d_cid", "mi", "nj", "dij_m")
        .join(sij, ["o_cid", "d_cid"])
        .select(
            "o_cid",
            "d_cid",
            "mi",
            "nj",
            "s",
            F.expr(
                "(cast(mi as decimal(38,0)) * mi * nj * 1000000)"
                " div (cast(mi + s as decimal(38,0)) * (mi + nj + s))"
            )
            .cast("long")
            .alias("t_q"),
        )
    )



@register(
    "hill_diversity_sources",
    f"""
WITH tf AS (
  SELECT source, w, cast(count(*) as bigint) AS f
  FROM (SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents) t
  GROUP BY source, w
)
SELECT source,
       cast(count(*) as bigint) AS d0_richness,
       cast(sum(f) as bigint) AS n_tokens,
       cast((cast(sum(f) as hugeint) * sum(f) * 1000000) // sum(cast(f as hugeint) * f)
            as bigint) AS d2_effective_q
FROM tf GROUP BY source
""",
)
def hill_diversity_sources(spark, sf_dir):
    """Hill diversity numbers of each source's vocabulary at the two
    log-free orders — q=0 (richness: distinct terms) and q=2 (inverse
    Simpson: (Σf)²/Σf², the EFFECTIVE vocabulary size — how many
    equally-common terms would give the same collision probability):
    the ecology-standard diversity profile applied to corpus mixing,
    the per-source companion to vocab_topk_share (concentration) and
    lexical_stats (TTR). Shannon (q=1) is deliberately absent — it
    needs a log, and the module's exactness contract wins; q=0 and
    q=2 bracket it. Exact 128-bit integer ratio in 1e6 ticks; one
    token-explode agg + one per-source fold."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("f"))
    )
    return tf.groupBy("source").agg(
        F.count("*").cast("long").alias("d0_richness"),
        F.sum("f").cast("long").alias("n_tokens"),
        F.expr(
            "(cast(sum(f) as decimal(38,0)) * sum(f) * 1000000)"
            " div sum(cast(f as decimal(38,0)) * f)"
        )
        .cast("long")
        .alias("d2_effective_q"),
    )



@register(
    "abc_analysis_parts",
    f"""
WITH rev AS (
  SELECT l_partkey,
         cast(sum(cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint)) as bigint)
           AS rev_cents
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, rev_cents,
         cast(sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - rev_cents as bigint) AS cum_prev,
         cast(sum(rev_cents) OVER () as bigint) AS total
  FROM rev
), classed AS (
  SELECT CASE WHEN cum_prev * 10 < 7 * total THEN 'A'
              WHEN cum_prev * 10 < 9 * total THEN 'B'
              ELSE 'C' END AS cls,
         rev_cents, total
  FROM ranked
)
SELECT cls, cast(count(*) as bigint) AS n_parts,
       cast(sum(rev_cents) as bigint) AS rev_cents,
       cast(sum(rev_cents) * 1000000 // any_value(total) as bigint) AS share_q
FROM classed GROUP BY cls
""",
)
def abc_analysis_parts(spark, sf_dir):
    """ABC / Pareto classification of parts by revenue — the
    operational 80/20 cut (class A = the head that carries 70% of
    revenue and deserves tight management, B to 90%, C the long tail)
    that the Gini/Palma indices summarize but planners actually
    consume as a partition: parts rank by exact cents, the class test
    uses the EXCLUSIVE running total cross-multiplied against the
    grand total (cum_prev·10 < 7·total — no percentage division, and
    the top part is always A by construction), and the output is the
    3-row class rollup with exact shares. One fact agg + one
    dim-scale ranking window."""
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice").cast(DEC) * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    wo = Window.orderBy(F.col("rev_cents").desc(), F.col("l_partkey").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    ranked = rev.select(
        "l_partkey",
        "rev_cents",
        (F.sum("rev_cents").over(wo) - F.col("rev_cents")).cast("long").alias("cum_prev"),
        F.sum("rev_cents").over(wt).cast("long").alias("total"),
    )
    classed = ranked.select(
        F.when(F.col("cum_prev") * 10 < 7 * F.col("total"), "A")
        .when(F.col("cum_prev") * 10 < 9 * F.col("total"), "B")
        .otherwise("C")
        .alias("cls"),
        "rev_cents",
        "total",
    )
    return classed.groupBy("cls").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("rev_cents").cast("long").alias("rev_cents"),
        F.expr("(sum(rev_cents) * 1000000) div any_value(total)")
        .cast("long")
        .alias("share_q"),
    )



@register("maxmin_fair_alloc", _mmf_sql())
def maxmin_fair_alloc(spark, sf_dir):
    """Max-min fair (progressive-filling) allocation of a byte budget
    across sources — the EGALITARIAN division that the proportional
    apportionments (Hamilton, D'Hondt) deliberately are not: each of
    three unrolled rounds tops every unsatisfied source up by an equal
    share of the remaining budget, capping at its demand, so small
    demands satisfy fully and the residual splits evenly among the
    big ones (the bandwidth-allocation / crawl-politeness fairness
    rule). Exact integer floor division each round (the flooring
    remainder stays in the budget — documented); per round one 1-row
    (remaining, active) anchor joined back. The allocation curve is
    the fairness audit."""
    d = load(spark, sf_dir, "documents")
    dem = d.groupBy("source").agg(F.sum("n_chars").cast("long").alias("d"))
    b = dem.agg(F.expr("sum(d) div 10").cast("long").alias("budget"))
    g = dem.withColumn("g", F.lit(0).cast("long"))
    for _t in range(_MMF_ROUNDS):
        r = (
            g.crossJoin(F.broadcast(b))
            .agg(
                (F.first("budget") - F.sum("g")).cast("long").alias("rem"),
                F.count(F.when(F.col("d") > F.col("g"), True)).cast("long").alias("n_active"),
            )
        )
        g = (
            g.crossJoin(F.broadcast(r))
            .select(
                "source",
                "d",
                F.when(
                    (F.col("d") > F.col("g")) & (F.col("n_active") > 0),
                    F.least(F.col("d"), F.col("g") + F.expr("rem div n_active")),
                )
                .otherwise(F.col("g"))
                .cast("long")
                .alias("g"),
            )
        )
    return g.select(
        "source",
        F.col("d").alias("demand"),
        F.col("g").alias("granted"),
        F.when(F.col("g") >= F.col("d"), 1).otherwise(0).alias("satisfied"),
    )



@register(
    "scd2_fact_join",
    """
WITH snaps AS (
  SELECT p_partkey, cast(o_orderdate as date) AS snap_date,
         cast(min(cast(round(cast(l_extendedprice as decimal(18,2)) * 100) as bigint)
                  // cast(l_quantity as bigint)) as bigint) AS unit_price
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               JOIN part ON l_partkey = p_partkey
  WHERE p_partkey < 200
  GROUP BY p_partkey, snap_date
), changed AS (
  SELECT p_partkey, snap_date, unit_price,
         lag(unit_price) OVER w AS prev_price
  FROM snaps WINDOW w AS (PARTITION BY p_partkey ORDER BY snap_date)
), versions AS (
  SELECT p_partkey, snap_date AS valid_from, unit_price,
         coalesce(lead(snap_date) OVER (PARTITION BY p_partkey ORDER BY snap_date),
                  cast('9999-12-31' as date)) AS valid_to
  FROM (SELECT p_partkey, snap_date, unit_price FROM changed
        WHERE prev_price IS NULL OR unit_price <> prev_price)
), facts AS (
  SELECT l.l_partkey, cast(o.o_orderdate as date) AS od,
         cast(round(cast(l.l_extendedprice as decimal(18,2)) * 100) as bigint)
           // cast(l.l_quantity as bigint) AS fact_price
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_partkey < 200
), joined AS (
  SELECT f.l_partkey, f.od, f.fact_price, v.unit_price AS version_price
  FROM facts f JOIN versions v
    ON v.p_partkey = f.l_partkey AND f.od >= v.valid_from AND f.od < v.valid_to
)
SELECT l_partkey, cast(count(*) as bigint) AS n_facts,
       cast(count(CASE WHEN fact_price = version_price THEN 1 END) as bigint)
         AS n_at_version_price,
       cast(min(version_price) as bigint) AS min_version_price,
       cast(max(version_price) as bigint) AS max_version_price
FROM joined GROUP BY l_partkey
""",
)
def scd2_fact_join(spark, sf_dir):
    """Fact-to-SCD2 temporal dimension join — the canonical warehouse
    query ON TOP of scd2_price_history (building history is half the
    job; joining facts to the version valid AT each fact's date is
    what history is FOR): every lineitem under partkey<200 picks its
    price version via [valid_from, valid_to) interval containment —
    expressed as the bucketless range join the asof/range operators
    formalize (versions per part are few, so the per-key interval
    probe is bounded), then per part the audit counts how many facts
    actually traded at the floor version price. Exact cents; the
    version build reuses the scd2 lag/lead collapse verbatim."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    dec = "decimal(18,2)"
    snaps = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", F.col("o_orderdate").cast("date").alias("snap_date"))
        .agg(
            F.min(
                F.expr(
                    f"cast(round(cast(l_extendedprice as {dec}) * 100) as bigint)"
                    " div cast(l_quantity as bigint)"
                )
            )
            .cast("long")
            .alias("unit_price")
        )
    )
    wp = Window.partitionBy("p_partkey").orderBy("snap_date")
    changed = snaps.withColumn("prev_price", F.lag("unit_price").over(wp))
    versions = (
        changed.filter(
            F.col("prev_price").isNull() | (F.col("unit_price") != F.col("prev_price"))
        )
        .select("p_partkey", F.col("snap_date").alias("valid_from"), "unit_price")
        .withColumn(
            "valid_to",
            F.coalesce(
                F.lead("valid_from").over(
                    Window.partitionBy("p_partkey").orderBy("valid_from")
                ),
                F.lit("9999-12-31").cast("date"),
            ),
        )
    )
    facts = (
        li.filter(F.col("l_partkey") < 200)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_partkey",
            F.col("o_orderdate").cast("date").alias("od"),
            F.expr(
                f"cast(round(cast(l_extendedprice as {dec}) * 100) as bigint)"
                " div cast(l_quantity as bigint)"
            ).alias("fact_price"),
        )
    )
    joined = facts.join(
        versions,
        (F.col("p_partkey") == F.col("l_partkey"))
        & (F.col("od") >= F.col("valid_from"))
        & (F.col("od") < F.col("valid_to")),
    )
    return joined.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_facts"),
        F.count(F.when(F.col("fact_price") == F.col("unit_price"), True))
        .cast("long")
        .alias("n_at_version_price"),
        F.min("unit_price").cast("long").alias("min_version_price"),
        F.max("unit_price").cast("long").alias("max_version_price"),
    )



@register(
    "diff_in_diff_users",
    f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS d,
         cast(round(value * 100) as bigint) AS cents,
         {D.MD5_LONG_SQL.format(x="'dd:' || cast(user_id as varchar)")} % 2 AS treat
  FROM events
), d0 AS (SELECT min(d) AS d0 FROM ev),
cells AS (
  SELECT cast(sum(CASE WHEN treat = 1 AND d >= d0.d0 + 15 THEN cents END) * 100
              // count(CASE WHEN treat = 1 AND d >= d0.d0 + 15 THEN 1 END) as bigint) AS m_t1,
         cast(sum(CASE WHEN treat = 1 AND d < d0.d0 + 15 THEN cents END) * 100
              // count(CASE WHEN treat = 1 AND d < d0.d0 + 15 THEN 1 END) as bigint) AS m_t0,
         cast(sum(CASE WHEN treat = 0 AND d >= d0.d0 + 15 THEN cents END) * 100
              // count(CASE WHEN treat = 0 AND d >= d0.d0 + 15 THEN 1 END) as bigint) AS m_c1,
         cast(sum(CASE WHEN treat = 0 AND d < d0.d0 + 15 THEN cents END) * 100
              // count(CASE WHEN treat = 0 AND d < d0.d0 + 15 THEN 1 END) as bigint) AS m_c0
  FROM ev, d0
)
SELECT m_t0, m_t1, m_c0, m_c1,
       cast((m_t1 - m_t0) - (m_c1 - m_c0) as bigint) AS did_q
FROM cells
""",
)
def diff_in_diff_users(spark, sf_dir):
    """Difference-in-differences estimate of the treated-vs-control
    value shift — the quasi-experimental workhorse when randomization
    is impossible (the control group's pre→post drift is the
    counterfactual; DiD subtracts it out): treatment is the md5 user
    split (the ab_welch/CUPED convention), periods split at day 15
    from the observed day-zero anchor, the four cell means are exact
    centi-cent floor ratios from ONE conditional aggregate (no joins,
    no pivot), and DiD is their second difference in the same ticks.
    Completes the experimentation family: ab_welch (variance),
    permutation (exact p), CUPED (variance reduction), DiD
    (identification)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (
            D.md5_long(F.concat(F.lit("dd:"), F.col("user_id").cast("string"))) % 2
        ).alias("treat"),
    )
    d0 = ev.agg(F.min("d").alias("d0"))
    j = ev.crossJoin(F.broadcast(d0))
    cells = j.agg(
        F.expr(
            "cast(sum(CASE WHEN treat = 1 AND d >= d0 + 15 THEN cents END) * 100"
            " div count(CASE WHEN treat = 1 AND d >= d0 + 15 THEN 1 END) as bigint)"
        ).alias("m_t1"),
        F.expr(
            "cast(sum(CASE WHEN treat = 1 AND d < d0 + 15 THEN cents END) * 100"
            " div count(CASE WHEN treat = 1 AND d < d0 + 15 THEN 1 END) as bigint)"
        ).alias("m_t0"),
        F.expr(
            "cast(sum(CASE WHEN treat = 0 AND d >= d0 + 15 THEN cents END) * 100"
            " div count(CASE WHEN treat = 0 AND d >= d0 + 15 THEN 1 END) as bigint)"
        ).alias("m_c1"),
        F.expr(
            "cast(sum(CASE WHEN treat = 0 AND d < d0 + 15 THEN cents END) * 100"
            " div count(CASE WHEN treat = 0 AND d < d0 + 15 THEN 1 END) as bigint)"
        ).alias("m_c0"),
    )
    return cells.select(
        "m_t0",
        "m_t1",
        "m_c0",
        "m_c1",
        ((F.col("m_t1") - F.col("m_t0")) - (F.col("m_c1") - F.col("m_c0")))
        .cast("long")
        .alias("did_q"),
    )



@register("polylabel_fixture_polys", _polylabel_sql())
def polylabel_fixture_polys(spark, sf_dir):
    """Pole of inaccessibility (polylabel) per fixture polygon — the
    label-placement point every cartographic renderer needs (the
    interior point with maximum clearance from the boundary; the
    centroid FAILS on concave and holed polygons — poly 2 is a star,
    poly 3 has a hole, both exercised): a frozen 12×12 candidate grid
    per bbox (inlined constants — the query text IS the grid, single-
    level by documented contract), the house even-odd inside test,
    and exact integer clearance on the 1e-4° lattice — the projected
    case as the 128-bit rational cross²·1e6 // len² and the endpoint
    case as exact squared distance, so the argmax needs no sqrt and
    no float. Bounded literal dims throughout: candidates × edges is
    constant-size, never data-scale."""
    cand_rows = _pl_candidates()
    cand = spark.createDataFrame(
        [(p, c, lat, lon, round(lon * _PL_T), round(lat * _PL_T)) for p, c, lat, lon in cand_rows],
        "poly_id int, cand_id int, lat double, lon double, px long, py long",
    )
    fedges = []
    for p in ORACLE_POLYGONS:
        for ring in p["rings"]:
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                fedges.append((p["poly_id"], x1, y1, x2, y2))
    fe = spark.createDataFrame(fedges, "poly_id int, x1 double, y1 double, x2 double, y2 double")
    ie = spark.createDataFrame(
        _pl_int_edges(), "poly_id int, ax long, ay long, bx long, by long"
    )
    crossing = (
        cand.join(fe, "poly_id")
        .filter(
            ((F.col("y1") > F.col("lat")) != (F.col("y2") > F.col("lat")))
            & (
                F.col("lon")
                < (F.col("x2") - F.col("x1"))
                * (F.col("lat") - F.col("y1"))
                / (F.col("y2") - F.col("y1"))
                + F.col("x1")
            )
        )
        .groupBy("poly_id", "cand_id")
        .agg(F.count("*").alias("nc"))
        .filter(F.col("nc") % 2 == 1)
        .select("poly_id", "cand_id")
    )
    dot = "(px - ax) * (bx - ax) + (py - ay) * (by - ay)"
    len2 = "(bx - ax) * (bx - ax) + (by - ay) * (by - ay)"
    cross = "(bx - ax) * (py - ay) - (by - ay) * (px - ax)"
    clr = (
        cand.join(ie, "poly_id")
        .groupBy("poly_id", "cand_id")
        .agg(
            F.min(
                F.expr(
                    f"CASE WHEN {dot} >= 0 AND {dot} <= {len2}"
                    f" THEN (cast({cross} as decimal(38,0)) * ({cross}) * 1000000) div ({len2})"
                    f" ELSE cast(least((px - ax) * (px - ax) + (py - ay) * (py - ay),"
                    f" (px - bx) * (px - bx) + (py - by) * (py - by)) as decimal(38,0)) * 1000000"
                    f" END"
                )
            )
            .cast("long")
            .alias("clearance_q")
        )
    )
    wv = Window.partitionBy("poly_id").orderBy(F.col("clearance_q").desc(), F.col("cand_id"))
    return (
        clr.join(crossing, ["poly_id", "cand_id"])
        .join(cand.select("poly_id", "cand_id", "lat", "lon"), ["poly_id", "cand_id"])
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("poly_id", "cand_id", "lat", "lon", "clearance_q")
    )



@register(
    "kruskal_wallis_chars",
    """
WITH m AS (
  SELECT source, cast(n_chars as bigint) AS x FROM documents
), rk AS (
  SELECT source, x,
         2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1 AS r2
  FROM m
), grp AS (
  SELECT source, cast(count(*) as bigint) AS ni,
         cast(sum(cast(r2 as HUGEINT)) as HUGEINT) AS s2
  FROM rk GROUP BY source
), ties AS (
  SELECT coalesce(cast(sum(t * t * t - t) as bigint), 0) AS tie_sum
  FROM (SELECT cast(count(*) as HUGEINT) AS t FROM m GROUP BY x HAVING count(*) > 1)
), tot AS (
  SELECT cast(sum(ni) as bigint) AS n, cast(count(*) as bigint) AS n_groups,
         cast(sum((s2 * s2 * 250000) // ni) as HUGEINT) AS csum
  FROM grp
)
SELECT tot.n AS n_docs, tot.n_groups, ties.tie_sum,
       cast((12 * tot.csum) // (cast(tot.n as HUGEINT) * (tot.n + 1))
            - 3000000 * (tot.n + 1) as bigint) AS h_q,
       cast((((12 * tot.csum) // (cast(tot.n as HUGEINT) * (tot.n + 1))
              - 3000000 * (tot.n + 1))
             * (cast(tot.n as HUGEINT) * tot.n * tot.n - tot.n))
            // (cast(tot.n as HUGEINT) * tot.n * tot.n - tot.n - ties.tie_sum)
            as bigint) AS h_corr_q
FROM tot, ties
""",
)
def kruskal_wallis_chars(spark, sf_dir):
    """Kruskal-Wallis H test of document length across sources — the
    k-group generalization of Mann-Whitney (is ANY source's length
    distribution shifted?), the nonparametric screen a curation
    pipeline runs before per-source length caps. Ranks use the exact
    doubled-average-rank convention (2*avg = 2*min_rank + ties - 1,
    the spearman idiom), so the per-source rank sums are exact
    integers. H is emitted in floor-quantized micro-ticks: the
    Sum(R_i^2/n_i) term is per-group floor(1e6*s2^2/(4*n_i)) summed
    (a well-defined exact integer both engines compute identically),
    then h_q = (12*csum) div (n(n+1)) - 3e6(n+1) and the tie-corrected
    h_corr_q = h_q*(n^3-n) div (n^3-n-SumT) — no float reduction
    anywhere, and Spark-div / DuckDB-`//` agree (both truncate).
    Exactness envelope: decimal(38,0) moments hold to ~1e7 docs per
    group (s2^2*2.5e5 < 1e38); far past that H saturates anyway.
    Scale shape: one global rank window + two hash aggs; the global
    sort is the same repartitionByRange shape as the ranking family.
    """
    dec = "decimal(38,0)"
    docs = load(spark, sf_dir, "documents")
    m = docs.select("source", F.col("n_chars").cast("long").alias("x"))
    rk = m.select(
        "source",
        (
            F.lit(2) * F.rank().over(Window.orderBy("x"))
            + F.count("*").over(Window.partitionBy("x"))
            - F.lit(1)
        ).alias("r2"),
    )
    grp = rk.groupBy("source").agg(
        F.count("*").cast("long").alias("ni"),
        F.sum(F.col("r2").cast(dec)).cast(dec).alias("s2"),
    )
    ties = (
        m.groupBy("x")
        .agg(F.count("*").cast(dec).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("long"),
                F.lit(0).cast("long"),
            ).alias("tie_sum")
        )
    )
    tot = grp.agg(
        F.sum("ni").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.expr(f"(s2 * s2 * 250000) div ni").cast(dec)).cast(dec).alias("csum"),
    )
    j = tot.crossJoin(F.broadcast(ties))
    h_q = (
        F.expr(f"(12 * csum) div (cast(n as {dec}) * (n + 1))")
        - F.lit(3000000) * (F.col("n") + 1)
    ).cast("long")
    return j.select(
        F.col("n").alias("n_docs"),
        "n_groups",
        "tie_sum",
        h_q.alias("h_q"),
        F.expr(
            f"""cast((((12 * csum) div (cast(n as {dec}) * (n + 1))
                   - 3000000 * (n + 1))
                  * (cast(n as {dec}) * n * n - n))
                 div (cast(n as {dec}) * n * n - n - tie_sum) as bigint)"""
        ).alias("h_corr_q"),
    )



@register(
    "wilcoxon_signed_users",
    """
WITH per_user AS (
  SELECT user_id,
         cast(count(*) FILTER (WHERE extract(day FROM ts) <= 15) as bigint) AS a,
         cast(count(*) FILTER (WHERE extract(day FROM ts) >= 16) as bigint) AS b
  FROM events GROUP BY user_id
), d AS (
  SELECT user_id, b - a AS diff, abs(b - a) AS ad
  FROM per_user WHERE b - a <> 0
), rk AS (
  SELECT diff, ad,
         2 * rank() OVER (ORDER BY ad) + count(*) OVER (PARTITION BY ad) - 1 AS r2
  FROM d
), ties AS (
  SELECT coalesce(cast(sum(t * t * t - t) as bigint), 0) AS tie_sum
  FROM (SELECT cast(count(*) as HUGEINT) AS t FROM d GROUP BY ad HAVING count(*) > 1)
)
SELECT cast(count(*) as bigint) AS n_pairs,
       cast(coalesce(sum(r2) FILTER (WHERE diff > 0), 0) as bigint) AS w_plus2,
       cast(coalesce(sum(r2) FILTER (WHERE diff < 0), 0) as bigint) AS w_minus2,
       cast(count(*) * (count(*) + 1) as bigint) AS mu4,
       cast(2 * count(*) * (count(*) + 1) * (2 * count(*) + 1)
            - any_value(ties.tie_sum) as bigint) AS var48
FROM rk, ties
""",
)
def wilcoxon_signed_users(spark, sf_dir):
    """Wilcoxon signed-rank test on paired per-user activity — did
    users' event volume shift from the first calendar half of the
    month (days 1-15) to the second (16-31)? The PAIRED complement to
    the unpaired mann_whitney_sources: each user is their own
    control, so cross-user volume variance cancels. Zero diffs drop
    (the standard convention); |diff| ranks use the exact doubled-
    average-rank idiom; outputs are the exact integer sufficient
    statistics — w_plus2/w_minus2 (doubled rank sums, their sum is
    n(n+1) by construction), mu4 = 4*E[W+] = n(n+1), and var48 =
    48*Var[W+] = 2n(n+1)(2n+1) - SumT(t^3-t) with the tie correction
    — the caller z-scores with one subtraction/sqrt. Scale shape: one
    user_id hash agg, then the rank window over the (tiny) per-user
    diff table; no self-join."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.dayofmonth("ts") <= 15, 1)).cast("long").alias("a"),
        F.count(F.when(F.dayofmonth("ts") >= 16, 1)).cast("long").alias("b"),
    )
    d = per_user.select(
        (F.col("b") - F.col("a")).alias("diff"),
        F.abs(F.col("b") - F.col("a")).alias("ad"),
    ).filter(F.col("diff") != 0)
    rk = d.select(
        "diff",
        "ad",
        (
            F.lit(2) * F.rank().over(Window.orderBy("ad"))
            + F.count("*").over(Window.partitionBy("ad"))
            - F.lit(1)
        ).alias("r2"),
    )
    ties = (
        d.groupBy("ad")
        .agg(F.count("*").cast("decimal(38,0)").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("long"),
                F.lit(0).cast("long"),
            ).alias("tie_sum")
        )
    )
    agg = rk.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.coalesce(F.sum(F.when(F.col("diff") > 0, F.col("r2"))), F.lit(0))
        .cast("long")
        .alias("w_plus2"),
        F.coalesce(F.sum(F.when(F.col("diff") < 0, F.col("r2"))), F.lit(0))
        .cast("long")
        .alias("w_minus2"),
    )
    return agg.crossJoin(F.broadcast(ties)).select(
        "n_pairs",
        "w_plus2",
        "w_minus2",
        (F.col("n_pairs") * (F.col("n_pairs") + 1)).cast("long").alias("mu4"),
        (
            F.lit(2)
            * F.col("n_pairs")
            * (F.col("n_pairs") + 1)
            * (2 * F.col("n_pairs") + 1)
            - F.col("tie_sum")
        )
        .cast("long")
        .alias("var48"),
    )



@register(
    "cliffs_delta_sources",
    """
WITH h AS (
  SELECT source, cast(n_chars as bigint) AS v, cast(count(*) as bigint) AS c
  FROM documents GROUP BY source, n_chars
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM (SELECT DISTINCT source FROM h) a
  JOIN (SELECT DISTINCT source FROM h) b ON a.source < b.source
), u AS (
  SELECT p.src_a, p.src_b, h.v, h.c AS ca, cast(0 as bigint) AS cb
  FROM pairs p JOIN h ON h.source = p.src_a
  UNION ALL
  SELECT p.src_a, p.src_b, h.v, cast(0 as bigint) AS ca, h.c AS cb
  FROM pairs p JOIN h ON h.source = p.src_b
), m AS (
  SELECT src_a, src_b, v, cast(sum(ca) as bigint) AS ca, cast(sum(cb) as bigint) AS cb
  FROM u GROUP BY src_a, src_b, v
), w AS (
  SELECT src_a, src_b, ca, cb,
         coalesce(sum(ca) OVER (PARTITION BY src_a, src_b ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_a,
         coalesce(sum(cb) OVER (PARTITION BY src_a, src_b ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_b
  FROM m
)
SELECT src_a, src_b,
       cast(sum(ca) as bigint) AS n_a, cast(sum(cb) as bigint) AS n_b,
       cast(sum(ca * cum_b) as bigint) AS n_gt,
       cast(sum(cb * cum_a) as bigint) AS n_lt,
       cast(sum(ca * cb) as bigint) AS n_eq,
       cast(sum(ca * cum_b) - sum(cb * cum_a) as double)
         / cast(sum(ca) * sum(cb) as double) AS delta
FROM w GROUP BY src_a, src_b ORDER BY src_a, src_b
""",
)
def cliffs_delta_sources(spark, sf_dir):
    """Cliff's delta ordinal effect size for every source pair — "how
    often is a src_a document longer than a src_b document", the
    robust effect-size companion to the rank tests (a p-value says a
    shift exists; delta says how big, insensitive to any monotone
    transform). Exact pair counts WITHOUT the |A|x|B| cross join: per
    pair, merge the two value histograms and take one cumulative
    window over distinct values — n_gt = Sum ca(v)*cumB(<v), n_lt
    symmetric, n_eq = Sum ca*cb; delta = (n_gt - n_lt)/(n_a*n_b) as a
    SINGLE exact-IEEE division of exact integers (identical both
    engines; no float reduction). Scale shape: pairs = k(k-1)/2
    sources (bounded dim), shuffle ~ k^2 x distinct-values — never
    rows^2; the same histogram-merge trick as mann_whitney but
    producing the full pairwise effect matrix."""
    docs = load(spark, sf_dir, "documents")
    h = docs.groupBy("source", F.col("n_chars").cast("long").alias("v")).agg(
        F.count("*").cast("long").alias("c")
    )
    srcs = h.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
    )
    ua = (
        F.broadcast(pairs)
        .join(h, F.col("source") == F.col("src_a"))
        .select("src_a", "src_b", "v", F.col("c").alias("ca"), F.lit(0).cast("long").alias("cb"))
    )
    ub = (
        F.broadcast(pairs)
        .join(h, F.col("source") == F.col("src_b"))
        .select("src_a", "src_b", "v", F.lit(0).cast("long").alias("ca"), F.col("c").alias("cb"))
    )
    m = (
        ua.unionAll(ub)
        .groupBy("src_a", "src_b", "v")
        .agg(F.sum("ca").cast("long").alias("ca"), F.sum("cb").cast("long").alias("cb"))
    )
    win = (
        Window.partitionBy("src_a", "src_b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = m.select(
        "src_a",
        "src_b",
        "ca",
        "cb",
        F.coalesce(F.sum("ca").over(win), F.lit(0)).alias("cum_a"),
        F.coalesce(F.sum("cb").over(win), F.lit(0)).alias("cum_b"),
    )
    return (
        w.groupBy("src_a", "src_b")
        .agg(
            F.sum("ca").cast("long").alias("n_a"),
            F.sum("cb").cast("long").alias("n_b"),
            F.sum(F.col("ca") * F.col("cum_b")).cast("long").alias("n_gt"),
            F.sum(F.col("cb") * F.col("cum_a")).cast("long").alias("n_lt"),
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("n_eq"),
        )
        .withColumn(
            "delta",
            (F.col("n_gt") - F.col("n_lt")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        )
        .orderBy("src_a", "src_b")
    )



@register(
    "decision_stump_orders",
    f"""
WITH o AS (
  SELECT cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS pos
  FROM orders
), h AS (
  SELECT cents, cast(count(*) as bigint) AS c, cast(sum(pos) as bigint) AS p
  FROM o GROUP BY cents
), cum AS (
  SELECT cents,
         sum(c) OVER (ORDER BY cents) AS nl,
         sum(p) OVER (ORDER BY cents) AS pl,
         sum(c) OVER () AS n, sum(p) OVER () AS np
  FROM h
), scored AS (
  SELECT cents AS threshold_cents,
         cast(nl as bigint) AS n_left, cast(pl as bigint) AS pos_left,
         cast(n - nl as bigint) AS n_right, cast(np - pl as bigint) AS pos_right,
         cast(n as bigint) AS n, cast(np as bigint) AS n_pos,
         cast(1000000 * cast(n as HUGEINT)
              - (1000000 * (cast(pl as HUGEINT) * pl
                            + cast(nl - pl as HUGEINT) * (nl - pl))) // nl
              - (1000000 * (cast(np - pl as HUGEINT) * (np - pl)
                            + cast((n - nl) - (np - pl) as HUGEINT)
                              * ((n - nl) - (np - pl)))) // (n - nl)
              as bigint) AS gini_q
  FROM cum WHERE nl < n
)
SELECT threshold_cents, gini_q, n, n_pos, n_left, pos_left, n_right, pos_right
FROM scored ORDER BY gini_q, threshold_cents LIMIT 1
""",
)
def decision_stump_orders(spark, sf_dir):
    """Exact-Gini decision stump: the single best price threshold that
    separates urgent/high-priority orders from the rest — the CART
    root-split primitive (and the feature-screening score behind
    gradient-boosting bin builders). Candidate thresholds are the
    distinct price cents; one cumulative window gives (n_left,
    pos_left) at every cut, and the weighted Gini impurity is
    floor-quantized per SIDE so it stays an exact integer: gini_q =
    1e6*n - floor(1e6*(posL^2+negL^2)/nL) - floor(1e6*(posR^2+negR^2)
    /nR) — pos^2*1e6 fits decimal(38,0) to ~1e12 rows (no cubes: the
    mean-form avoids the nL^2*nR overflow the naive cross-multiplied
    comparison hits at 1e10). argmin with the smaller-threshold tie
    break via ORDER BY + LIMIT 1 (TakeOrderedAndProject — scale-safe
    even when the price grid is wide). Scale shape: one histogram
    hash agg + one ranged window over distinct values + top-1."""
    dec = "decimal(38,0)"
    o = load(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("pos"),
    )
    h = o.groupBy("cents").agg(
        F.count("*").cast("long").alias("c"), F.sum("pos").cast("long").alias("p")
    )
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wg = Window.partitionBy()
    cum = h.select(
        "cents",
        F.sum("c").over(wc).alias("nl"),
        F.sum("p").over(wc).alias("pl"),
        F.sum("c").over(wg).alias("n"),
        F.sum("p").over(wg).alias("np"),
    )
    scored = cum.filter(F.col("nl") < F.col("n")).select(
        F.col("cents").alias("threshold_cents"),
        F.col("nl").cast("long").alias("n_left"),
        F.col("pl").cast("long").alias("pos_left"),
        (F.col("n") - F.col("nl")).cast("long").alias("n_right"),
        (F.col("np") - F.col("pl")).cast("long").alias("pos_right"),
        F.col("n").cast("long").alias("n"),
        F.col("np").cast("long").alias("n_pos"),
        F.expr(
            f"""cast(1000000 * cast(n as {dec})
                - (1000000 * (cast(pl as {dec}) * pl
                              + cast(nl - pl as {dec}) * (nl - pl))) div nl
                - (1000000 * (cast(np - pl as {dec}) * (np - pl)
                              + cast((n - nl) - (np - pl) as {dec})
                                * ((n - nl) - (np - pl)))) div (n - nl)
                as bigint)"""
        ).alias("gini_q"),
    )
    return scored.select(
        "threshold_cents",
        "gini_q",
        "n",
        "n_pos",
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
    ).orderBy("gini_q", "threshold_cents").limit(1)



@register(
    "fd_discovery_orders",
    "\nUNION ALL\n".join(_fd_candidate_sql(t, a, b) for t, a, b in _FD_CANDIDATES)
    + "\nORDER BY fd",
)
def fd_discovery_orders(spark, sf_dir):
    """Functional-dependency audit (TANE-style membership check) over a
    fixed candidate matrix — the schema-profiling primitive that tells
    a warehouse which column determines which: for each candidate
    det->dep it reports the violating-group count, the max dependent
    cardinality per determinant, and the g3 error (the MINIMUM rows to
    delete for the FD to hold = Sum over groups of group_size minus
    the group's majority dep count — Kivinen-Mannila's measure). All
    exact integers from two stacked hash aggs per candidate; the
    candidate list is a bounded literal (profiling runs enumerate
    pairs; the engine shape per pair never changes). o_orderkey->
    o_custkey holds by key-ness (g3 = 0) — the others quantify HOW
    broken they are. Scale shape: per candidate one (det,dep) agg on
    the big table then a det-scale reagg; candidates union at dim
    scale."""
    out = None
    for table, det, dep in _FD_CANDIDATES:
        df = load(spark, sf_dir, table)
        g = df.groupBy(det, dep).agg(F.count("*").cast("long").alias("c"))
        per_det = g.groupBy(det).agg(
            F.sum("c").cast("long").alias("nr"),
            F.max("c").cast("long").alias("mx"),
            F.count("*").cast("long").alias("card"),
        )
        s = per_det.agg(
            F.lit(f"{det}->{dep}").alias("fd"),
            F.sum("nr").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_groups"),
            F.count(F.when(F.col("card") > 1, 1)).cast("long").alias("n_violating"),
            F.max("card").cast("long").alias("max_dep_card"),
            F.sum(F.col("nr") - F.col("mx")).cast("long").alias("g3_remove"),
        ).select("fd", "n_rows", "n_groups", "n_violating", "max_dep_card", "g3_remove")
        out = s if out is None else out.unionAll(s)
    return out.orderBy("fd")



@register(
    "wasserstein_sources",
    """
WITH m AS (
  SELECT source, cast(n_chars as bigint) AS v FROM documents
), gh AS (
  SELECT v, cast(count(*) as bigint) AS cg FROM m GROUP BY v
), spine AS (
  SELECT s.source, gh.v, gh.cg,
         lead(gh.v) OVER (PARTITION BY s.source ORDER BY gh.v) AS nv
  FROM (SELECT DISTINCT source FROM m) s CROSS JOIN gh
), sh AS (
  SELECT source, v, cast(count(*) as bigint) AS cs FROM m GROUP BY source, v
), c AS (
  SELECT sp.source, sp.v, sp.nv,
         sum(sp.cg) OVER (PARTITION BY sp.source ORDER BY sp.v) AS cumg,
         sum(coalesce(sh.cs, 0)) OVER (PARTITION BY sp.source ORDER BY sp.v) AS cums
  FROM spine sp LEFT JOIN sh ON sh.source = sp.source AND sh.v = sp.v
), tot AS (
  SELECT cast(count(*) as bigint) AS ng FROM m
), st AS (
  SELECT source, cast(count(*) as bigint) AS ns FROM m GROUP BY source
)
SELECT c.source, st.ns AS n_source, tot.ng AS n_global,
       cast(sum(abs(c.cums * tot.ng - c.cumg * st.ns) * (c.nv - c.v))
              FILTER (WHERE c.nv IS NOT NULL) as bigint) AS w1_num,
       cast(sum(abs(c.cums * tot.ng - c.cumg * st.ns) * (c.nv - c.v))
              FILTER (WHERE c.nv IS NOT NULL) as double)
         / cast(st.ns as double) / cast(tot.ng as double) AS w1
FROM c JOIN st USING (source) CROSS JOIN tot
GROUP BY c.source, st.ns, tot.ng ORDER BY c.source
""",
)
def wasserstein_sources(spark, sf_dir):
    """Wasserstein-1 (earth-mover) distance between each source's
    document-length distribution and the corpus — the INTEGRATED drift
    measure that complements ks_drift_sources' max deviation: KS fires
    on one sharp gap, W1 on a broad shift of equal total mass. For 1-D
    discrete distributions W1 = integral |F_s - F_g| dx, computed
    EXACTLY by cross-multiplying the cumulative counts (|cums*ng -
    cumg*ns| * value_gap summed over the global value spine) so
    w1_num is an exact integer and w1 its fixed-order double division.
    Scale shape: one global histogram + one (source,value) histogram,
    a bounded source-dim x value spine, one cumulative window per
    source — never a pairwise join."""
    docs = load(spark, sf_dir, "documents")
    m = docs.select("source", F.col("n_chars").cast("long").alias("v"))
    gh = m.groupBy("v").agg(F.count("*").cast("long").alias("cg"))
    srcs = m.select("source").distinct()
    spine = srcs.crossJoin(F.broadcast(gh)).withColumn(
        "nv", F.lead("v").over(Window.partitionBy("source").orderBy("v"))
    )
    sh = m.groupBy("source", "v").agg(F.count("*").cast("long").alias("cs"))
    wcum = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = spine.join(sh, ["source", "v"], "left").select(
        "source",
        "v",
        "nv",
        F.sum("cg").over(wcum).alias("cumg"),
        F.sum(F.coalesce(F.col("cs"), F.lit(0))).over(wcum).alias("cums"),
    )
    tot = m.agg(F.count("*").cast("long").alias("ng"))
    st = m.groupBy("source").agg(F.count("*").cast("long").alias("ns"))
    dev = (
        c.join(st, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "ns",
            "ng",
            F.when(
                F.col("nv").isNotNull(),
                F.abs(F.col("cums") * F.col("ng") - F.col("cumg") * F.col("ns"))
                * (F.col("nv") - F.col("v")),
            ).alias("term"),
        )
    )
    return (
        dev.groupBy("source", F.col("ns").alias("n_source"), F.col("ng").alias("n_global"))
        .agg(F.sum("term").cast("long").alias("w1_num"))
        .select(
            "source",
            "n_source",
            "n_global",
            "w1_num",
            (
                F.col("w1_num").cast("double")
                / F.col("n_source").cast("double")
                / F.col("n_global").cast("double")
            ).alias("w1"),
        )
        .orderBy("source")
    )



@register(
    "brown_forsythe_sources",
    """
WITH m AS (
  SELECT source, cast(n_chars as bigint) AS x FROM documents
), rnk AS (
  SELECT source, x,
         row_number() OVER (PARTITION BY source ORDER BY x) AS rn,
         count(*) OVER (PARTITION BY source) AS cnt
  FROM m
), med AS (
  SELECT source,
         cast(max(CASE WHEN rn = (cnt + 1) // 2 THEN x END)
              + max(CASE WHEN rn = cnt // 2 + 1 THEN x END) as bigint) AS dmed
  FROM rnk GROUP BY source
), z AS (
  SELECT m.source, abs(2 * m.x - med.dmed) AS z
  FROM m JOIN med USING (source)
), grp AS (
  SELECT source, cast(count(*) as bigint) AS ng, cast(sum(z) as bigint) AS sg,
         cast(sum(cast(z as HUGEINT) * z) as HUGEINT) AS szz
  FROM z GROUP BY source
), tot AS (
  SELECT cast(count(*) as bigint) AS k, cast(sum(ng) as bigint) AS n,
         cast(sum(sg) as HUGEINT) AS t,
         cast(sum(szz) as HUGEINT) AS szz_all,
         cast(sum((cast(sg as HUGEINT) * sg * 1000000) // ng) as HUGEINT) AS a
  FROM grp
)
SELECT k, n,
       cast(a - (t * t * 1000000) // n as bigint) AS ssb_q,
       cast(szz_all * 1000000 - a as bigint) AS ssw_q,
       cast(cast(a - (t * t * 1000000) // n as double) * cast(n - k as double) as double)
         / (cast(szz_all * 1000000 - a as double) * cast(k - 1 as double)) AS f_stat
FROM tot
""",
)
def brown_forsythe_sources(spark, sf_dir):
    """Brown-Forsythe (median-based Levene) test of variance equality
    across sources — do sources differ in length SPREAD, not location?
    The dispersion complement to kruskal_wallis_chars: a source with
    the same median but wilder tails passes KW and fails here, and
    it's the variance-homogeneity gate an ANOVA-style comparison needs
    first. Deviations use the doubled-median trick (dmed = x(ceil(n/2))
    + x(floor(n/2)+1) is an exact integer for any group size), then
    the one-way F on z = |2x - dmed| comes from floor-quantized
    micro-tick sums of squares (the per-group S_g^2*1e6 div n_g
    pattern): ssb_q and ssw_q are exact integers, f_stat the only
    float in fixed textual order. Scale shape: one rank window per
    source + two hash aggs; no self-join."""
    docs = load(spark, sf_dir, "documents")
    m = docs.select("source", F.col("n_chars").cast("long").alias("x"))
    wsrc = Window.partitionBy("source")
    rnk = m.select(
        "source",
        "x",
        F.row_number().over(wsrc.orderBy("x")).alias("rn"),
        F.count("*").over(wsrc).alias("cnt"),
    )
    med = rnk.groupBy("source").agg(
        (
            F.max(F.when(F.col("rn") == F.expr("(cnt + 1) div 2"), F.col("x")))
            + F.max(F.when(F.col("rn") == F.expr("cnt div 2 + 1"), F.col("x")))
        )
        .cast("long")
        .alias("dmed")
    )
    z = m.join(med, "source").select(
        "source", F.abs(F.lit(2) * F.col("x") - F.col("dmed")).alias("z")
    )
    dec = "decimal(38,0)"
    grp = z.groupBy("source").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("z").cast("long").alias("sg"),
        F.sum(F.col("z").cast(dec) * F.col("z")).cast(dec).alias("szz"),
    )
    tot = grp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").cast(dec).alias("t"),
        F.sum("szz").cast(dec).alias("szz_all"),
        F.sum(F.expr(f"(cast(sg as {dec}) * sg * 1000000) div ng").cast(dec))
        .cast(dec)
        .alias("a"),
    )
    ssb = F.expr(f"a - (t * t * 1000000) div n")
    ssw = F.expr("szz_all * 1000000 - a")
    return tot.select(
        "k",
        "n",
        ssb.cast("long").alias("ssb_q"),
        ssw.cast("long").alias("ssw_q"),
        (
            ssb.cast("double") * (F.col("n") - F.col("k")).cast("double")
            / (ssw.cast("double") * (F.col("k") - 1).cast("double"))
        ).alias("f_stat"),
    )



@register("feature_corr_matrix", _corr_oracle_sql())
def feature_corr_matrix(spark, sf_dir):
    """Exact Pearson correlation matrix over the lineitem numeric
    features (quantity, price cents, discount ticks, tax ticks) — the
    multicollinearity screen a feature pipeline runs before any model
    (ols2_doc_features is the downstream consumer; spearman_tokens_
    chars is the rank sibling for ONE pair — this is the full moment
    matrix). ONE decimal(38,0) aggregate computes all 15 sufficient
    statistics; each of the 6 pair rows then forms num/vx/vy exactly
    and r as the fixed-order double — identical structure to the
    spearman contract, so ties/partitioning cannot move a bit. Scale
    shape: one scan, one aggregate, six 1-row projections."""
    dec = "decimal(38,0)"
    names = [n for n, _ in _CORR_FEATURES]
    li = load(spark, sf_dir, "lineitem")
    m = li.select(*[F.expr(expr).alias(n) for n, expr in _CORR_FEATURES])
    aggs = [F.count("*").cast(dec).alias("n")]
    for i, a in enumerate(names):
        aggs.append(F.sum(a).cast(dec).alias(f"s_{a}"))
        for b in names[i:]:
            aggs.append(
                F.sum(F.col(a).cast(dec) * F.col(b)).cast(dec).alias(f"s_{a}_{b}")
            )
    s = m.agg(*aggs).localCheckpoint()
    out = None
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            num = F.expr(f"n * s_{a}_{b} - s_{a} * s_{b}")
            vx = F.expr(f"n * s_{a}_{a} - s_{a} * s_{a}")
            vy = F.expr(f"n * s_{b}_{b} - s_{b} * s_{b}")
            row = s.select(
                F.lit(a).alias("f1"),
                F.lit(b).alias("f2"),
                F.col("n").cast("long").alias("n"),
                num.cast("double").alias("num"),
                vx.cast("double").alias("vx"),
                vy.cast("double").alias("vy"),
                F.when((vx == 0) | (vy == 0), F.lit(0.0))
                .otherwise(
                    num.cast("double") / F.sqrt(vx.cast("double")) / F.sqrt(vy.cast("double"))
                )
                .alias("r"),
            )
            out = row if out is None else out.unionAll(row)
    return out.orderBy("f1", "f2")



@register(
    "cochran_armitage_orders",
    """
WITH m AS (
  SELECT cast(substr(o_orderpriority, 1, 1) as bigint) AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS resp
  FROM orders
), g AS (
  SELECT s, cast(count(*) as bigint) AS ni, cast(sum(resp) as bigint) AS ri
  FROM m GROUP BY s
), tot AS (
  SELECT cast(sum(ni) as bigint) AS n, cast(sum(ri) as bigint) AS r,
         cast(sum(cast(s as HUGEINT) * ni) as HUGEINT) AS ssn,
         cast(sum(cast(s as HUGEINT) * s * ni) as HUGEINT) AS sssn,
         cast(sum(cast(s as HUGEINT) * ri) as HUGEINT) AS ssr
  FROM g
)
SELECT n, r,
       cast(n * ssr - r * ssn as bigint) AS t_num,
       cast(cast(r as HUGEINT) * (n - r) * (n * sssn - ssn * ssn) as double) AS v_num,
       cast(n * ssr - r * ssn as double) * sqrt(cast(n - 1 as double))
         / sqrt(cast(cast(r as HUGEINT) * (n - r) * (n * sssn - ssn * ssn) as double))
         AS z
FROM tot
""",
)
def cochran_armitage_orders(spark, sf_dir):
    """Cochran-Armitage trend test: does the order-FULFILLED rate move
    MONOTONICALLY with priority level (scores 1..5 parsed from the
    priority label)? The ordered-dose complement to the unordered
    chi-square family (chisq_contrib treats levels as nominal and
    burns power; CA spends its single degree of freedom on the trend).
    Sufficient statistics are exact integers from one group-level agg
    (t_num = N*Sum(s*r_i) - R*Sum(s*n_i); v_num = R(N-R)(N*Sum(s^2 n)
    - (Sum(s n))^2)), and z = t_num*sqrt(N-1)/sqrt(v_num) is the only
    float, formed in the same textual order both engines. Exact to
    ~1e11 rows in HUGEINT/decimal38 (v_num ~ N^3 * s^2). Scale shape:
    one hash agg to 5 rows, then arithmetic."""
    dec = "decimal(38,0)"
    o = load(spark, sf_dir, "orders")
    m = o.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("s"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("resp"),
    )
    g = m.groupBy("s").agg(
        F.count("*").cast("long").alias("ni"), F.sum("resp").cast("long").alias("ri")
    )
    tot = g.agg(
        F.sum("ni").cast("long").alias("n"),
        F.sum("ri").cast("long").alias("r"),
        F.sum(F.col("s").cast(dec) * F.col("ni")).cast(dec).alias("ssn"),
        F.sum(F.col("s").cast(dec) * F.col("s") * F.col("ni")).cast(dec).alias("sssn"),
        F.sum(F.col("s").cast(dec) * F.col("ri")).cast(dec).alias("ssr"),
    )
    t_num = F.expr("n * ssr - r * ssn")
    v_num = F.expr(f"cast(r as {dec}) * (n - r) * (n * sssn - ssn * ssn)")
    return tot.select(
        "n",
        "r",
        t_num.cast("long").alias("t_num"),
        v_num.cast("double").alias("v_num"),
        (
            t_num.cast("double")
            * F.sqrt((F.col("n") - 1).cast("double"))
            / F.sqrt(v_num.cast("double"))
        ).alias("z"),
    )



@register(
    "good_turing_counts",
    f"""
WITH t AS (
  SELECT unnest({D.shingles_all_sql('text', 3)}) AS term
  FROM documents
), tc AS (
  SELECT term, cast(count(*) as bigint) AS r FROM t WHERE term <> '' GROUP BY term
), coc AS (
  SELECT r, cast(count(*) as bigint) AS nr FROM tc GROUP BY r
), tot AS (
  SELECT cast(sum(r * nr) as bigint) AS n_tokens,
         cast(sum(nr) as bigint) AS vocab
  FROM coc
)
SELECT c.r, c.nr,
       cast((c.r + 1) * coalesce(c2.nr, 0) * 1000000 // c.nr as bigint)
         AS r_star_q,
       tot.n_tokens, tot.vocab,
       cast((SELECT coalesce(max(nr), 0) FROM coc WHERE r = 1) * 1000000
            // tot.n_tokens as bigint) AS missing_mass_q
FROM coc c LEFT JOIN coc c2 ON c2.r = c.r + 1 CROSS JOIN tot
WHERE c.r <= 5
ORDER BY c.r
""",
)
def good_turing_counts(spark, sf_dir):
    """Good-Turing frequency re-estimation table for the low-count
    head — the language-modeling primitive behind every smoothed
    count (kneser_ney_bigrams uses absolute discounting; this is the
    estimator that JUSTIFIES the discount): r* = (r+1) N_{r+1}/N_r in
    floor micro-ticks for r <= 5, plus the Turing missing-mass
    estimate N_1/N (the probability the NEXT token is unseen — the
    number a crawl-coverage planner actually wants). Count-of-counts
    is two stacked hash aggs; everything stays exact integers. The
    unit is word TRIGRAMS (shingles_all) because that is where a real
    Zipf tail lives — the synthetic word vocabulary is closed (31
    types, min count 26), so unigram N_1..N_5 are empty, while the
    trigram table has ~9.4k singletons at sf0.01. Scale shape: one
    shingle explode + two aggs; output <= 6 rows no matter the
    corpus."""
    d = load(spark, sf_dir, "documents")
    t = d.select(F.explode(D.shingles_all(F.col("text"), 3)).alias("term")).filter(
        F.col("term") != ""
    )
    tc = t.groupBy("term").agg(F.count("*").cast("long").alias("r"))
    coc = tc.groupBy("r").agg(F.count("*").cast("long").alias("nr"))
    coc = coc.localCheckpoint()
    tot = coc.agg(
        F.sum(F.col("r") * F.col("nr")).cast("long").alias("n_tokens"),
        F.sum("nr").cast("long").alias("vocab"),
    )
    n1 = coc.filter(F.col("r") == 1).agg(
        F.coalesce(F.max("nr"), F.lit(0)).cast("long").alias("n1")
    )
    c2 = coc.select((F.col("r") - 1).alias("r"), F.col("nr").alias("nr_next"))
    return (
        coc.filter(F.col("r") <= 5)
        .join(c2, "r", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "nr",
            F.expr("((r + 1) * coalesce(nr_next, 0) * 1000000) div nr")
            .cast("long")
            .alias("r_star_q"),
            "n_tokens",
            "vocab",
            F.expr("(n1 * 1000000) div n_tokens").cast("long").alias("missing_mass_q"),
        )
        .orderBy("r")
    )



@register(
    "neyman_allocation_sources",
    f"""
WITH g AS (
  SELECT source, cast(count(*) as bigint) AS nh,
         cast(count(*) as HUGEINT) * sum(cast(n_chars as HUGEINT) * n_chars)
           - cast(sum(n_chars) as HUGEINT) * sum(n_chars) AS var_num
  FROM documents GROUP BY source
), w AS (
  SELECT source, nh,
         cast(nh as HUGEINT)
           * cast(floor(sqrt(cast(var_num as double) / cast(nh as double)
                             / cast(nh as double))) as bigint) AS wgt
  FROM g
), tot AS (SELECT cast(sum(wgt) as HUGEINT) AS wsum FROM w),
q AS (
  SELECT w.source, w.nh, w.wgt,
         cast((w.wgt * {_NEYMAN_BUDGET}) // tot.wsum as bigint) AS base,
         cast((w.wgt * {_NEYMAN_BUDGET}) % tot.wsum as bigint) AS rem
  FROM w, tot
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
         cast({_NEYMAN_BUDGET} as bigint) - sum(base) OVER () AS leftover
  FROM q
)
SELECT source, nh, wgt,
       cast(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END as bigint) AS n_alloc
FROM ranked ORDER BY source
""",
)
def neyman_allocation_sources(spark, sf_dir):
    """Neyman optimal sample allocation across source strata — how to
    split a {_NEYMAN_BUDGET}-doc labeling budget so the stratified
    estimator's variance is minimized: n_h proportional to N_h * S_h
    (stratum size times stratum standard deviation), then Hamilton
    largest-remainder apportionment to land exactly on the budget
    (crawl_budget_apportion is the size-only special case; Neyman
    weights by the spread that actually drives estimator variance).
    S_h enters as floor(sqrt(var)) where the variance numerator
    n*Sum(x^2) - Sum(x)^2 is exact and IEEE sqrt is correctly rounded
    — both engines compute the identical integer weight. Scale shape:
    one moment agg per stratum, dim-scale apportionment windows."""
    dec = "decimal(38,0)"
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("nh"),
        (
            F.count("*").cast(dec)
            * F.sum(F.col("n_chars").cast(dec) * F.col("n_chars")).cast(dec)
            - F.sum("n_chars").cast(dec) * F.sum("n_chars").cast(dec)
        ).alias("var_num"),
    )
    w = g.select(
        "source",
        "nh",
        (
            F.col("nh").cast(dec)
            * F.floor(
                F.sqrt(
                    F.col("var_num").cast("double")
                    / F.col("nh").cast("double")
                    / F.col("nh").cast("double")
                )
            ).cast("long")
        ).alias("wgt"),
    )
    tot = w.agg(F.sum("wgt").cast(dec).alias("wsum"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "nh",
        "wgt",
        F.expr(f"(wgt * {_NEYMAN_BUDGET}) div wsum").cast("long").alias("base"),
        F.expr(f"(wgt * {_NEYMAN_BUDGET}) % wsum").cast("long").alias("rem"),
    )
    ranked = q.select(
        "*",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "source")).alias("rr"),
        (F.lit(_NEYMAN_BUDGET) - F.sum("base").over(Window.partitionBy()))
        .cast("long")
        .alias("leftover"),
    )
    return ranked.select(
        "source",
        "nh",
        F.col("wgt").cast("long").alias("wgt"),
        (F.col("base") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("n_alloc"),
    ).orderBy("source")



@register(
    "dunn_posthoc_sources",
    """
WITH m AS (
  SELECT source, cast(n_chars as bigint) AS x FROM documents
), rk AS (
  SELECT source,
         2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1 AS r2
  FROM m
), grp AS (
  SELECT source, cast(count(*) as bigint) AS ni, cast(sum(r2) as bigint) AS s2
  FROM rk GROUP BY source
), ties AS (
  SELECT coalesce(cast(sum(t * t * t - t) as bigint), 0) AS tie_sum
  FROM (SELECT cast(count(*) as HUGEINT) AS t FROM m GROUP BY x HAVING count(*) > 1)
), tot AS (SELECT cast(sum(ni) as bigint) AS n FROM grp)
SELECT a.source AS src_a, b.source AS src_b, a.ni AS n_a, b.ni AS n_b,
       cast(a.s2 * b.ni - b.s2 * a.ni as bigint) AS diff_num,
       cast(a.s2 * b.ni - b.s2 * a.ni as double)
         / cast(2 * a.ni * b.ni as double)
         / sqrt((cast(cast(tot.n as HUGEINT) * (tot.n + 1) * (tot.n - 1)
                      - ties.tie_sum as double)
                 / cast(12 * (tot.n - 1) as double))
                * cast(a.ni + b.ni as double) / cast(a.ni * b.ni as double)) AS z
FROM grp a JOIN grp b ON a.source < b.source, tot, ties
ORDER BY src_a, src_b
""",
)
def dunn_posthoc_sources(spark, sf_dir):
    """Dunn's post-hoc test for every source pair — the follow-up
    kruskal_wallis_chars demands: KW says SOME source's length
    distribution differs; Dunn says WHICH pairs, using the same
    global ranks (not per-pair reranking — that is what distinguishes
    it from running mann_whitney per pair, and why its z's are
    comparable across pairs). diff_num = S2_a*n_b - S2_b*n_a is the
    exact cross-multiplied doubled-rank-mean difference; the variance
    uses the tie-corrected (n(n+1)(n-1) - SumT)/(12(n-1)) factor; z
    is the only float, formed in one fixed textual order. Feed the
    190 z's to the existing bh_fdr_cells machinery for the
    multiple-comparison gate. Scale shape: one global rank window +
    one source agg + a bounded k^2 pair spine."""
    docs = load(spark, sf_dir, "documents")
    m = docs.select("source", F.col("n_chars").cast("long").alias("x"))
    rk = m.select(
        "source",
        (
            F.lit(2) * F.rank().over(Window.orderBy("x"))
            + F.count("*").over(Window.partitionBy("x"))
            - F.lit(1)
        ).alias("r2"),
    )
    grp = rk.groupBy("source").agg(
        F.count("*").cast("long").alias("ni"), F.sum("r2").cast("long").alias("s2")
    )
    dec = "decimal(38,0)"
    ties = (
        m.groupBy("x")
        .agg(F.count("*").cast(dec).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).cast("long"),
                F.lit(0).cast("long"),
            ).alias("tie_sum")
        )
    )
    tot = grp.agg(F.sum("ni").cast("long").alias("n"))
    a = grp.select(
        F.col("source").alias("src_a"), F.col("ni").alias("n_a"), F.col("s2").alias("s2_a")
    )
    b = grp.select(
        F.col("source").alias("src_b"), F.col("ni").alias("n_b"), F.col("s2").alias("s2_b")
    )
    pairs = (
        a.join(b, F.col("src_a") < F.col("src_b"))
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
    )
    diff_num = F.col("s2_a") * F.col("n_b") - F.col("s2_b") * F.col("n_a")
    var_core = (
        (
            F.col("n").cast(dec) * (F.col("n") + 1) * (F.col("n") - 1)
            - F.col("tie_sum")
        ).cast("double")
        / (F.lit(12) * (F.col("n") - 1)).cast("double")
    )
    return pairs.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        diff_num.cast("long").alias("diff_num"),
        (
            diff_num.cast("double")
            / (F.lit(2) * F.col("n_a") * F.col("n_b")).cast("double")
            / F.sqrt(
                var_core
                * (F.col("n_a") + F.col("n_b")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            )
        ).alias("z"),
    ).orderBy("src_a", "src_b")



@register(
    "energy_distance_types",
    f"""
WITH va AS (
  SELECT cast(round(cast(value as {DEC}) * 100) as bigint) AS v,
         cast(count(*) as bigint) AS c
  FROM events WHERE event_type = 'view' GROUP BY v
), vb AS (
  SELECT cast(round(cast(value as {DEC}) * 100) as bigint) AS v,
         cast(count(*) as bigint) AS c
  FROM events WHERE event_type = 'click' GROUP BY v
), sxy AS ({_abs_pair_sum_sql('va', 'vb')}),
sxx AS ({_abs_pair_sum_sql('va', 'va')}),
syy AS ({_abs_pair_sum_sql('vb', 'vb')}),
n AS (
  SELECT (SELECT cast(sum(c) as HUGEINT) FROM va) AS na,
         (SELECT cast(sum(c) as HUGEINT) FROM vb) AS nb
)
SELECT cast(n.na as bigint) AS n_a, cast(n.nb as bigint) AS n_b,
       cast(sxy.s as bigint) AS sxy_num,
       cast(sxx.s as bigint) AS sxx_num,
       cast(syy.s as bigint) AS syy_num,
       cast((2 * sxy.s * n.na * n.nb - sxx.s * n.nb * n.nb
             - syy.s * n.na * n.na) * 1000000
            // (n.na * n.na * n.nb * n.nb) as bigint) AS energy_q
FROM sxy, sxx, syy, n
""",
)
def energy_distance_types(spark, sf_dir):
    """Szekely energy distance between view and click purchase-value
    distributions: E = 2E|X-Y| - E|X-X'| - E|Y-Y'| — the
    characteristic-function two-sample statistic that is zero IFF the
    distributions are equal (KS sees only the max CDF gap, W1 the
    integrated gap; energy weights ALL moments). The 1-D trick makes
    it exact without pairs: each Sum|a-b| over a pair of histograms
    folds into one merged-spine cumulative window — per a-value,
    Sum_b |a-b| = a*(2*cumB - nB) - 2*cumsumB + sumB — so the three
    pairwise sums are exact integers and the normalized statistic is
    one floor-tick division over the common n_a^2*n_b^2 denominator
    (/n^2 convention incl. self-pairs, documented). Scale shape: two
    histograms, three merged-spine windows — never |A|x|B|."""
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value").cast(DEC) * 100).cast("long")
    dec = "decimal(38,0)"

    def hist(etype):
        return (
            ev.filter(F.col("event_type") == etype)
            .select(cents.alias("v"))
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("c"))
            .localCheckpoint()
        )

    va, vb = hist("view"), hist("click")

    def abs_pair_sum(ha, hb):
        spine = ha.select("v").union(hb.select("v")).distinct()
        tot = hb.agg(
            F.sum("c").cast("long").alias("nb"),
            F.sum(F.col("c").cast(dec) * F.col("v")).cast(dec).alias("sumb"),
        )
        wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        w = (
            spine.join(hb.withColumnRenamed("c", "cb"), "v", "left")
            .select(
                "v",
                F.coalesce(F.sum("cb").over(wcum), F.lit(0)).alias("cumc"),
                F.coalesce(
                    F.sum(F.col("cb").cast(dec) * F.col("v")).over(wcum),
                    F.lit(0).cast(dec),
                ).alias("cums"),
            )
            .crossJoin(F.broadcast(tot))
        )
        return (
            ha.join(w, "v")
            .agg(
                F.sum(
                    F.col("c").cast(dec)
                    * (
                        F.col("v").cast(dec) * (F.lit(2) * F.col("cumc") - F.col("nb"))
                        - F.lit(2) * F.col("cums")
                        + F.col("sumb")
                    )
                )
                .cast(dec)
                .alias("s")
            )
        )

    sxy = abs_pair_sum(va, vb).withColumnRenamed("s", "sxy")
    sxx = abs_pair_sum(va, va).withColumnRenamed("s", "sxx")
    syy = abs_pair_sum(vb, vb).withColumnRenamed("s", "syy")
    n = va.agg(F.sum("c").cast("long").alias("na")).crossJoin(
        vb.agg(F.sum("c").cast("long").alias("nb2"))
    )
    return (
        sxy.crossJoin(F.broadcast(sxx))
        .crossJoin(F.broadcast(syy))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb2").alias("n_b"),
            F.col("sxy").cast("long").alias("sxy_num"),
            F.col("sxx").cast("long").alias("sxx_num"),
            F.col("syy").cast("long").alias("syy_num"),
            F.expr(
                "cast((2 * sxy * na * nb2 - sxx * nb2 * nb2 - syy * na * na)"
                " * 1000000 div (cast(na as decimal(38,0)) * na * nb2 * nb2)"
                " as bigint)"
            ).alias("energy_q"),
        )
    )



@register(
    "partial_corr_lineitem",
    f"""
WITH m AS (
  SELECT cast(round(l_quantity) as bigint) AS x,
         cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint) AS y,
         cast(round(cast(l_discount as {DEC}) * 100) as bigint) AS z
  FROM lineitem
), s AS (
  SELECT cast(count(*) as HUGEINT) AS n,
         cast(sum(x) as HUGEINT) AS sx, cast(sum(y) as HUGEINT) AS sy,
         cast(sum(z) as HUGEINT) AS sz,
         cast(sum(cast(x as HUGEINT) * x) as HUGEINT) AS sxx,
         cast(sum(cast(y as HUGEINT) * y) as HUGEINT) AS syy,
         cast(sum(cast(z as HUGEINT) * z) as HUGEINT) AS szz,
         cast(sum(cast(x as HUGEINT) * y) as HUGEINT) AS sxy,
         cast(sum(cast(x as HUGEINT) * z) as HUGEINT) AS sxz,
         cast(sum(cast(y as HUGEINT) * z) as HUGEINT) AS syz
  FROM m
), r AS (
  SELECT cast(n as bigint) AS n,
         cast(n * sxy - sx * sy as double)
           / sqrt(cast(n * sxx - sx * sx as double))
           / sqrt(cast(n * syy - sy * sy as double)) AS rxy,
         cast(n * sxz - sx * sz as double)
           / sqrt(cast(n * sxx - sx * sx as double))
           / sqrt(cast(n * szz - sz * sz as double)) AS rxz,
         cast(n * syz - sy * sz as double)
           / sqrt(cast(n * syy - sy * sy as double))
           / sqrt(cast(n * szz - sz * sz as double)) AS ryz
  FROM s
)
SELECT n, rxy, rxz, ryz,
       (rxy - rxz * ryz) / sqrt(1.0 - rxz * rxz) / sqrt(1.0 - ryz * ryz)
         AS rxy_given_z
FROM r
""",
)
def partial_corr_lineitem(spark, sf_dir):
    """Partial correlation of quantity and price CONTROLLING for
    discount — is the qty~price association real or discount-driven?
    The causal-screening step the raw feature_corr_matrix can't
    answer (a confounder inflates marginal r; partialling it out is
    the standard first move before any regression story). Three
    marginal r's come from one exact moment aggregate (the spearman
    fixed-order convention), then rxy.z = (rxy - rxz*ryz)/
    sqrt((1-rxz^2)(1-ryz^2)) — every float op in one shared textual
    order so both engines round identically. Scale shape: one
    aggregate, 1-row arithmetic."""
    dec = "decimal(38,0)"
    li = load(spark, sf_dir, "lineitem")
    m = li.select(
        F.expr("cast(round(l_quantity) as bigint)").alias("x"),
        F.expr(f"cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint)").alias("y"),
        F.expr(f"cast(round(cast(l_discount as {DEC}) * 100) as bigint)").alias("z"),
    )
    s = m.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum("z").cast(dec).alias("sz"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
        F.sum(F.col("z").cast(dec) * F.col("z")).cast(dec).alias("szz"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("z")).cast(dec).alias("sxz"),
        F.sum(F.col("y").cast(dec) * F.col("z")).cast(dec).alias("syz"),
    )

    def rr(ab, a, b):
        return (
            F.expr(f"cast(n * s{ab} - s{a} * s{b} as double)")
            / F.sqrt(F.expr(f"cast(n * s{a}{a} - s{a} * s{a} as double)"))
            / F.sqrt(F.expr(f"cast(n * s{b}{b} - s{b} * s{b} as double)"))
        )

    r = s.select(
        F.col("n").cast("long").alias("n"),
        rr("xy", "x", "y").alias("rxy"),
        rr("xz", "x", "z").alias("rxz"),
        rr("yz", "y", "z").alias("ryz"),
    )
    return r.select(
        "n",
        "rxy",
        "rxz",
        "ryz",
        (
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / F.sqrt(F.lit(1.0) - F.col("rxz") * F.col("rxz"))
            / F.sqrt(F.lit(1.0) - F.col("ryz") * F.col("ryz"))
        ).alias("rxy_given_z"),
    )



@register(
    "overlap_duration_join",
    f"""
WITH e2 AS (
  SELECT user_id, epoch_us(ts) // 60000000 AS m, event_id FROM events
), flag AS (
  SELECT user_id, m,
         CASE WHEN m - lag(m) OVER (PARTITION BY user_id ORDER BY m, event_id)
                   > {_SESS_GAP_MIN} THEN 1 ELSE 0 END AS brk
  FROM e2
), sess AS (
  SELECT user_id, min(m) AS s, max(m) AS e
  FROM (SELECT user_id, m,
               sum(brk) OVER (PARTITION BY user_id ORDER BY m
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flag)
  GROUP BY user_id, sid
), camp AS (
  SELECT * FROM (VALUES {", ".join(
      f"('{c}', epoch_us(TIMESTAMP '{a} 00:00:00') // 60000000,"
      f" epoch_us(TIMESTAMP '{b} 00:00:00') // 60000000)"
      for c, a, b in _CAMPAIGNS
  )}) AS v(campaign, ws, we)
)
SELECT camp.campaign,
       cast(count(*) FILTER (WHERE least(sess.e, camp.we)
                                   >= greatest(sess.s, camp.ws)) as bigint)
         AS n_sessions,
       cast(coalesce(sum(greatest(0, least(sess.e, camp.we)
                                     - greatest(sess.s, camp.ws))), 0) as bigint)
         AS overlap_minutes
FROM camp CROSS JOIN sess
GROUP BY camp.campaign ORDER BY camp.campaign
""",
)
def overlap_duration_join(spark, sf_dir):
    """Weighted temporal-overlap join: user sessions (30-minute-gap
    sessionization, the merge_intervals convention) against literal
    campaign windows, crediting each campaign the exact MINUTES of
    session time it overlapped — the duration-weighted upgrade of
    allen_relations_events' class labels (an ad-exposure or
    maintenance-window attribution needs overlap LENGTH, not just
    'overlaps'). Gaps-and-islands sessionize in whole epoch minutes,
    overlap = max(0, min(ends) - max(starts)) in pure integers.
    Scale shape: one sessionization window + a 5-row literal campaign
    dim broadcast over sessions."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 60000000").alias("m"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("m", "event_id")
    flag = ev.select(
        "user_id",
        "m",
        F.when(F.col("m") - F.lag("m").over(w) > _SESS_GAP_MIN, 1)
        .otherwise(0)
        .alias("brk"),
    )
    sess = (
        flag.withColumn(
            "sid",
            F.sum("brk").over(
                Window.partitionBy("user_id")
                .orderBy("m")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("m").alias("s"), F.max("m").alias("e"))
    )
    camp = spark.createDataFrame(
        [(c, a, b) for c, a, b in _CAMPAIGNS], "campaign string, a string, b string"
    ).select(
        "campaign",
        F.expr("unix_micros(cast(a as timestamp)) div 60000000").alias("ws"),
        F.expr("unix_micros(cast(b as timestamp)) div 60000000").alias("we"),
    )
    return (
        sess.crossJoin(F.broadcast(camp))
        .groupBy("campaign")
        .agg(
            F.count(
                F.when(
                    F.least("e", "we") >= F.greatest("s", "ws"), 1
                )
            )
            .cast("long")
            .alias("n_sessions"),
            F.coalesce(
                F.sum(
                    F.greatest(
                        F.lit(0).cast("long"),
                        F.least("e", "we") - F.greatest("s", "ws"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("overlap_minutes"),
        )
        .orderBy("campaign")
    )



@register("covariate_balance_arms", _balance_oracle_sql())
def covariate_balance_arms(spark, sf_dir):
    """Covariate balance table for the md5 A/B split — the
    standardized mean difference (Cohen's d with pooled SD) of four
    pre-treatment user covariates between arms, the FIRST table any
    experiment readout shows (ab_welch tests the outcome; this
    validates the randomization — |SMD| > 0.1 on a covariate means
    the split is confounded and cuped/matching is mandatory). Exact
    integer sufficient statistics per (covariate, arm) from one user
    aggregate; SMD is the only float, in one shared textual order.
    Scale shape: one user-level agg + one 4-covariate stack at dim
    scale."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value").cast(DEC) * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.expr(
            "cast((max(unix_micros(cast(ts as timestamp)))"
            " - min(unix_micros(cast(ts as timestamp)))) div 60000000 as bigint)"
        ).alias("span_min"),
    )
    m = per_user.withColumn(
        "arm",
        D.md5_long(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2,
    ).localCheckpoint()
    dec = "decimal(38,0)"
    out = None
    for n, _ in _BAL_COVS:
        row = m.agg(
            F.lit(n).alias("covariate"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_c"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_t"),
            F.sum(F.when(F.col("arm") == 0, F.col(n)).otherwise(0))
            .cast(dec)
            .alias("s_c"),
            F.sum(F.when(F.col("arm") == 1, F.col(n)).otherwise(0))
            .cast(dec)
            .alias("s_t"),
            F.sum(
                F.when(F.col("arm") == 0, F.col(n).cast(dec) * F.col(n)).otherwise(0)
            )
            .cast(dec)
            .alias("ss_c"),
            F.sum(
                F.when(F.col("arm") == 1, F.col(n).cast(dec) * F.col(n)).otherwise(0)
            )
            .cast(dec)
            .alias("ss_t"),
        ).select(
            "covariate",
            "n_c",
            "n_t",
            F.col("s_c").cast("double").alias("s_c"),
            F.col("s_t").cast("double").alias("s_t"),
            F.when(
                (F.col("ss_t") * F.col("n_t") - F.col("s_t") * F.col("s_t") == 0)
                & (F.col("ss_c") * F.col("n_c") - F.col("s_c") * F.col("s_c") == 0),
                F.lit(0.0),
            )
            .otherwise(
                (
                    F.col("s_t").cast("double") / F.col("n_t").cast("double")
                    - F.col("s_c").cast("double") / F.col("n_c").cast("double")
                )
                / F.sqrt(
                    (
                        (
                            F.col("ss_t").cast("double")
                            - F.col("s_t").cast("double")
                            * F.col("s_t").cast("double")
                            / F.col("n_t").cast("double")
                        )
                        + (
                            F.col("ss_c").cast("double")
                            - F.col("s_c").cast("double")
                            * F.col("s_c").cast("double")
                            / F.col("n_c").cast("double")
                        )
                    )
                    / (F.col("n_t") + F.col("n_c") - 2).cast("double")
                )
            )
            .alias("smd"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("covariate")



@register(
    "arc_elasticity_parts",
    f"""
WITH li AS (
  SELECT cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint)
           // greatest(1, cast(round(l_quantity) as bigint)) AS unit_cents,
         cast(round(l_quantity) as bigint) AS qty,
         l_orderkey, l_linenumber
  FROM lineitem
), dec_b AS (
  SELECT ntile(10) OVER (ORDER BY unit_cents, l_orderkey, l_linenumber) AS decile,
         unit_cents, qty
  FROM li
), g AS (
  SELECT decile,
         cast(sum(unit_cents) as bigint) AS sp, cast(sum(qty) as bigint) AS sq,
         cast(count(*) as bigint) AS n
  FROM dec_b GROUP BY decile
), adj AS (
  SELECT g.decile AS d_lo, h.decile AS d_hi,
         g.sp * h.n AS p_lo_x, h.sp * g.n AS p_hi_x,
         g.sq * h.n AS q_lo_x, h.sq * g.n AS q_hi_x
  FROM g JOIN g h ON h.decile = g.decile + 1
)
SELECT d_lo, d_hi,
       cast((q_hi_x - q_lo_x) as double) * (cast(p_hi_x as double) + p_lo_x)
         / ((cast(q_hi_x as double) + q_lo_x) * (cast(p_hi_x as double) - p_lo_x))
         AS arc_elasticity
FROM adj ORDER BY d_lo
""",
)
def arc_elasticity_parts(spark, sf_dir):
    """Arc price elasticity of demand between adjacent unit-price
    deciles — the midpoint formula e = (dQ/Qbar)/(dP/Pbar), the
    econ-101 demand-curve summary a pricing team reads off order
    history (copurchase_lift is the cross-product complement; this is
    own-price response). Means never materialize: cross-multiplying
    by the two group counts (sp*h.n etc) makes every numerator an
    exact integer, and the midpoint ratio is ONE fixed-order double
    expression. Unit price = extended/quantity in floor cents (exact
    ints). Scale shape: one ntile window + one decile agg + a 9-row
    adjacent join."""
    li = load(spark, sf_dir, "lineitem").select(
        F.expr(
            f"cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint)"
            " div greatest(1, cast(round(l_quantity) as bigint))"
        ).alias("unit_cents"),
        F.expr("cast(round(l_quantity) as bigint)").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    dec_b = li.withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy("unit_cents", "l_orderkey", "l_linenumber")),
    )
    g = dec_b.groupBy("decile").agg(
        F.sum("unit_cents").cast("long").alias("sp"),
        F.sum("qty").cast("long").alias("sq"),
        F.count("*").cast("long").alias("n"),
    )
    h = g.select(
        F.col("decile").alias("d_hi"),
        F.col("sp").alias("sp_h"),
        F.col("sq").alias("sq_h"),
        F.col("n").alias("n_h"),
    )
    adj = g.join(h, F.col("d_hi") == F.col("decile") + 1).select(
        F.col("decile").alias("d_lo"),
        "d_hi",
        (F.col("sp") * F.col("n_h")).alias("p_lo_x"),
        (F.col("sp_h") * F.col("n")).alias("p_hi_x"),
        (F.col("sq") * F.col("n_h")).alias("q_lo_x"),
        (F.col("sq_h") * F.col("n")).alias("q_hi_x"),
    )
    return adj.select(
        "d_lo",
        "d_hi",
        (
            (F.col("q_hi_x") - F.col("q_lo_x")).cast("double")
            * (F.col("p_hi_x").cast("double") + F.col("p_lo_x"))
            / (
                (F.col("q_hi_x").cast("double") + F.col("q_lo_x"))
                * (F.col("p_hi_x").cast("double") - F.col("p_lo_x"))
            )
        ).alias("arc_elasticity"),
    ).orderBy("d_lo")



@register(
    "yules_k_sources",
    f"""
WITH t AS (
  SELECT source, unnest({D.shingles_all_sql('text', 1)}) AS term FROM documents
), tc AS (
  SELECT source, term, cast(count(*) as bigint) AS r
  FROM t WHERE term <> '' GROUP BY source, term
), coc AS (
  SELECT source, r, cast(count(*) as bigint) AS vm FROM tc GROUP BY source, r
)
SELECT source,
       cast(sum(r * vm) as bigint) AS n_tokens,
       cast(sum(vm) as bigint) AS vocab,
       cast(sum(cast(r as HUGEINT) * r * vm) as bigint) AS m2,
       cast(10000 * (sum(cast(r as HUGEINT) * r * vm) - sum(r * vm)) * 1000000
            // (cast(sum(r * vm) as HUGEINT) * sum(r * vm)) as bigint) AS yules_k_q
FROM coc GROUP BY source ORDER BY source
""",
)
def yules_k_sources(spark, sf_dir):
    """Yule's characteristic K per source — the length-INVARIANT
    lexical-repetitiveness constant K = 1e4*(Sum m^2*V_m - N)/N^2
    (unlike TTR/vocab ratios in lexical_stats_docs, K barely moves as
    you sample more text, which is why stylometry uses it; high K =
    few types dominate = template-like prose, the boilerplate smell at
    corpus level). Pure count-of-counts arithmetic — two stacked hash
    aggs and floor micro-ticks, no logs, no floats. Scale shape: one
    token explode + two aggs per source."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(D.shingles_all(F.col("text"), 1)).alias("term")
    ).filter(F.col("term") != "")
    tc = t.groupBy("source", "term").agg(F.count("*").cast("long").alias("r"))
    coc = tc.groupBy("source", "r").agg(F.count("*").cast("long").alias("vm"))
    dec = "decimal(38,0)"
    return (
        coc.groupBy("source")
        .agg(
            F.sum(F.col("r") * F.col("vm")).cast("long").alias("n_tokens"),
            F.sum("vm").cast("long").alias("vocab"),
            F.sum(F.col("r").cast(dec) * F.col("r") * F.col("vm")).cast("long").alias("m2"),
            F.expr(
                f"cast((10000 * (sum(cast(r as {dec}) * r * vm) - sum(r * vm))"
                f" * 1000000) div (cast(sum(r * vm) as {dec}) * sum(r * vm))"
                " as bigint)"
            ).alias("yules_k_q"),
        )
        .orderBy("source")
    )



@register(
    "lorenz_curve_deciles",
    f"""
WITH o AS (
  SELECT cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) AS cents,
         o_orderkey
  FROM orders
), rk AS (
  SELECT cents, ntile(10) OVER (ORDER BY cents, o_orderkey) AS decile FROM o
), g AS (
  SELECT decile, cast(count(*) as bigint) AS n, cast(sum(cents) as bigint) AS s
  FROM rk GROUP BY decile
), tot AS (SELECT cast(sum(s) as HUGEINT) AS st, cast(sum(n) as bigint) AS nt FROM g)
SELECT g.decile,
       g.n, g.s AS cents,
       cast(sum(g.s) OVER (ORDER BY g.decile) * 1000000 // tot.st as bigint)
         AS cum_share_q,
       cast(g.s * 1000000 // tot.st as bigint) AS share_q
FROM g, tot ORDER BY g.decile
""",
)
def lorenz_curve_deciles(spark, sf_dir):
    """Lorenz curve of order value by decile — the concentration CURVE
    under gini_concentration_orders' single number (a report needs the
    bend itself: 'the top decile carries share_q ticks'). Deciles come
    from one ntile with a total-order tie-break (value, then key — the
    arc_elasticity determinism rule), shares are floor micro-ticks of
    exact cent sums, cumulative share is one ordered window over 10
    rows. Scale shape: one global sort window + decile agg."""
    o = load(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    rk = o.withColumn(
        "decile", F.ntile(10).over(Window.orderBy("cents", "o_orderkey"))
    )
    g = rk.groupBy("decile").agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").cast("long").alias("s")
    )
    dec = "decimal(38,0)"
    tot = g.agg(F.sum("s").cast(dec).alias("st"))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            F.col("s").alias("cents"),
            F.expr("(sum(s) over (order by decile) * 1000000) div st")
            .cast("long")
            .alias("cum_share_q"),
            F.expr("(s * 1000000) div st").cast("long").alias("share_q"),
        )
        .orderBy("decile")
    )



# --- round-4 session-3 batch 1: classical stats + link prediction ---------


@register(
    "anova_oneway_chars",
    """
WITH g AS (
  SELECT source, cast(count(*) as bigint) AS n,
         cast(sum(n_chars) as bigint) AS s,
         cast(sum(cast(n_chars as HUGEINT) * n_chars) as HUGEINT) AS q
  FROM documents GROUP BY source
), t AS (
  SELECT cast(count(*) as bigint) AS k,
         cast(sum(n) as bigint) AS n_total,
         cast(sum(cast(s as HUGEINT)) as HUGEINT) AS s_tot,
         cast(sum(q) as HUGEINT) AS q_tot,
         cast(sum((cast(s as HUGEINT) * s * 1000000) // n) as HUGEINT) AS t_sum
  FROM g
)
SELECT k AS n_groups, n_total,
       cast(t_sum - (s_tot * s_tot * 1000000) // n_total as bigint) AS ssb_q,
       cast(q_tot * 1000000 - t_sum as bigint) AS ssw_q,
       cast(t_sum - (s_tot * s_tot * 1000000) // n_total as double)
         * (n_total - k)
         / (cast(q_tot * 1000000 - t_sum as double) * (k - 1)) AS f_stat
FROM t
""",
)
def anova_oneway_chars(spark, sf_dir):
    """One-way ANOVA F across sources on document length: does mean
    n_chars differ between the 20 sources at all? (the parametric
    complement to kruskal_wallis_chars' rank test and brown_forsythe's
    variance test). Sum-of-squares identities keep everything integral:
    SSB = Sigma s_g^2/n_g - S^2/N and SSW = Sigma x^2 - Sigma s_g^2/n_g
    where s_g, n_g, Sigma x^2 are exact integer aggregates; the only
    quantization is the documented 1e-6 floor tick on each s_g^2/n_g
    term (micro-tick idiom), and F = (SSB*(N-k))/(SSW*(k-1)) is ONE
    fixed-order float expression over two exact bigint tick sums.
    Scale shape: one hash agg per source + a 20-row reduce — a
    map-side-combinable single pass no matter the corpus size."""
    dec = "decimal(38,0)"
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars").cast(dec) * F.col("n_chars")).cast(dec).alias("q"),
    )
    t = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum(F.col("s").cast(dec)).cast(dec).alias("s_tot"),
        F.sum("q").cast(dec).alias("q_tot"),
        F.sum(F.expr(f"(cast(s as {dec}) * s * 1000000) div n").cast(dec))
        .cast(dec)
        .alias("t_sum"),
    )
    return t.select(
        F.col("k").alias("n_groups"),
        "n_total",
        F.expr("cast(t_sum - (s_tot * s_tot * 1000000) div n_total as bigint)").alias(
            "ssb_q"
        ),
        F.expr("cast(q_tot * 1000000 - t_sum as bigint)").alias("ssw_q"),
        F.expr(
            "cast(t_sum - (s_tot * s_tot * 1000000) div n_total as double)"
            " * (n_total - k)"
            " / (cast(q_tot * 1000000 - t_sum as double) * (k - 1))"
        ).alias("f_stat"),
    )



@register(
    "hoover_index_sources",
    """
WITH g AS (
  SELECT source, cast(count(*) as bigint) AS n, cast(sum(n_chars) as bigint) AS v
  FROM documents GROUP BY source
), t AS (
  SELECT cast(sum(n) as bigint) AS nd, cast(sum(v) as bigint) AS vt FROM g
), a AS (
  SELECT cast(count(*) as bigint) AS n_sources,
         any_value(nd) AS n_docs,
         any_value(vt) AS total_chars,
         cast(sum(abs(cast(v as HUGEINT) * nd - cast(n as HUGEINT) * vt)) as bigint)
           AS hoover_num
  FROM g CROSS JOIN t
)
SELECT n_sources, n_docs, total_chars, hoover_num,
       cast(hoover_num as double) / 2.0
         / cast(n_docs as double) / cast(total_chars as double) AS hoover
FROM a
""",
)
def hoover_index_sources(spark, sf_dir):
    """Hoover (Robin Hood) index of char-mass concentration across
    sources: the fraction of total characters that would have to move
    between sources to equalize chars-per-doc — the "how much to
    redistribute" number under the Gini/Lorenz/Palma family already in
    the registry (gini ranks, Lorenz draws the curve; Hoover is the
    max vertical gap of that curve). Every |share - share| deviation
    is cross-multiplied to the exact integer |v_g*N - n_g*V| (no
    per-group division), summed as decimal, and the final H =
    num/(2*N*V) is one fixed-order float over exact ints. Scale
    shape: one hash agg per source + a 20-row reduce + a 1-row
    broadcast."""
    dec = "decimal(38,0)"
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("v"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("nd"), F.sum("v").cast("long").alias("vt")
    )
    a = (
        g.crossJoin(F.broadcast(t))
        .agg(
            F.count("*").cast("long").alias("n_sources"),
            F.any_value("nd").alias("n_docs"),
            F.any_value("vt").alias("total_chars"),
            F.sum(
                F.abs(F.col("v").cast(dec) * F.col("nd") - F.col("n").cast(dec) * F.col("vt"))
            )
            .cast("long")
            .alias("hoover_num"),
        )
    )
    return a.select(
        "n_sources",
        "n_docs",
        "total_chars",
        "hoover_num",
        (
            F.col("hoover_num").cast("double")
            / F.lit(2.0)
            / F.col("n_docs").cast("double")
            / F.col("total_chars").cast("double")
        ).alias("hoover"),
    )



@register(
    "mood_scale_sources",
    """
WITH m AS (
  SELECT source, cast(n_chars as bigint) AS v FROM documents
), rk AS (
  SELECT source,
         2 * rank() OVER (ORDER BY v) + count(*) OVER (PARTITION BY v) - 1 AS r2
  FROM m
), tot AS (
  SELECT cast(count(*) as bigint) AS n FROM m
), agg AS (
  SELECT source, cast(count(*) as bigint) AS ns,
         cast(sum((r2 - n - 1) * (r2 - n - 1)) as bigint) AS m4
  FROM rk CROSS JOIN tot GROUP BY source, n
)
SELECT agg.source, agg.ns AS n_source, agg.m4,
       cast(agg.ns * (tot.n * tot.n - 1) as bigint) AS null3,
       cast(3 * agg.m4 as double) / cast(agg.ns * (tot.n * tot.n - 1) as double)
         AS dispersion_ratio
FROM agg CROSS JOIN tot ORDER BY agg.source
""",
)
def mood_scale_sources(spark, sf_dir):
    """Mood's squared-rank SCALE test per source: is a source's
    doc-length distribution more (or less) spread out than the pooled
    corpus, location aside? mann_whitney_sources tests location;
    this is the classic rank test for dispersion. With doubled
    midranks r2 = 2·rank + tiecount − 1 (the roc_auc idiom), the
    centered score is the exact integer r2 − (N+1) = 2(midrank −
    (N+1)/2), so m4 = Σ(r2−N−1)² is 4× Mood's statistic with no
    halves, null3 = ns·(N²−1) is 3·4×·its untied null expectation,
    and dispersion_ratio = 3·m4/null3 (>1 ⇒ over-dispersed) is ONE
    float division of two exact bigints. Scale shape: one global
    rank window + one hash agg — the mann-whitney plan with a
    different score kernel."""
    m = load(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("v")
    )
    rk = m.select(
        "source",
        (
            F.lit(2) * F.rank().over(Window.orderBy("v"))
            + F.count("*").over(Window.partitionBy("v"))
            - F.lit(1)
        ).alias("r2"),
    )
    tot = m.agg(F.count("*").cast("long").alias("n"))
    agg = (
        rk.crossJoin(F.broadcast(tot))
        .groupBy("source", "n")
        .agg(
            F.count("*").cast("long").alias("ns"),
            F.sum(
                (F.col("r2") - F.col("n") - 1) * (F.col("r2") - F.col("n") - 1)
            )
            .cast("long")
            .alias("m4"),
        )
    )
    return agg.select(
        "source",
        F.col("ns").alias("n_source"),
        "m4",
        (F.col("ns") * (F.col("n") * F.col("n") - 1)).cast("long").alias("null3"),
        (
            (F.lit(3) * F.col("m4")).cast("double")
            / (F.col("ns") * (F.col("n") * F.col("n") - 1)).cast("double")
        ).alias("dispersion_ratio"),
    ).orderBy("source")



@register(
    "pluscode_encode_customers",
    f"""
WITH pts AS (
  SELECT c_custkey,
         cast(floor(({_LAT.format(k='c_custkey')} + 90.0) * 8000.0) as bigint) AS ilat,
         cast(floor(({_LON.format(k='c_custkey')} + 180.0) * 8000.0) as bigint) AS ilon
  FROM customer
), dig AS (
  SELECT c_custkey,
         substr('{_OLC_ALPHABET}', cast(ilat // 160000 as int) + 1, 1) ||
         substr('{_OLC_ALPHABET}', cast(ilon // 160000 as int) + 1, 1) ||
         substr('{_OLC_ALPHABET}', cast(ilat // 8000 % 20 as int) + 1, 1) ||
         substr('{_OLC_ALPHABET}', cast(ilon // 8000 % 20 as int) + 1, 1) ||
         substr('{_OLC_ALPHABET}', cast(ilat // 400 % 20 as int) + 1, 1) ||
         substr('{_OLC_ALPHABET}', cast(ilon // 400 % 20 as int) + 1, 1) ||
         substr('{_OLC_ALPHABET}', cast(ilat // 20 % 20 as int) + 1, 1) ||
         substr('{_OLC_ALPHABET}', cast(ilon // 20 % 20 as int) + 1, 1) ||
         '+' ||
         substr('{_OLC_ALPHABET}', cast(ilat % 20 as int) + 1, 1) ||
         substr('{_OLC_ALPHABET}', cast(ilon % 20 as int) + 1, 1) AS plus_code
  FROM pts
), area AS (
  SELECT substr(plus_code, 1, 4) AS area4, cast(count(*) as bigint) AS n_area
  FROM dig GROUP BY area4
)
SELECT d.c_custkey, d.plus_code, a.n_area
FROM dig d JOIN area a ON a.area4 = substr(d.plus_code, 1, 4)
ORDER BY d.c_custkey
""",
)
def pluscode_encode_customers(spark, sf_dir):
    """Open Location Code (Google 'plus code') 10-digit encode — the
    third canonical-interop cell id after geohash and quadkey, and the
    one a user can paste straight into a maps client. The published
    spec is pure base-20 arithmetic: ilat = floor((lat+90)·8000),
    ilon = floor((lon+180)·8000) (1/8000° final resolution), five
    digit pairs interleaved lat/lon over the 'CFGHJMQRVWX' alphabet
    with the '+' separator after four pairs. Derived coordinates keep
    ilat within [0, 1 440 000) so no clipping branch is needed; the
    float product is the same fixed-order IEEE expression in both
    engines, so the floor tick is deterministic. Joined back to a
    4-char-area census (the ~100×100 km block) as the typical rollup
    consumer. Scale shape: one narrow codegen projection per row +
    one dim-scale area agg — no shuffle touches the point table
    besides the area-count broadcast join."""
    a = _OLC_ALPHABET
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor((C.derived_lat(F.col("c_custkey")) + F.lit(90.0)) * F.lit(8000.0))
        .cast("long")
        .alias("ilat"),
        F.floor((C.derived_lon(F.col("c_custkey")) + F.lit(180.0)) * F.lit(8000.0))
        .cast("long")
        .alias("ilon"),
    )

    # build via expr for textual identity with the oracle
    dig = pts.select(
        "c_custkey",
        F.expr(
            " || ".join(
                [
                    f"substr('{a}', cast(ilat div 160000 as int) + 1, 1)",
                    f"substr('{a}', cast(ilon div 160000 as int) + 1, 1)",
                    f"substr('{a}', cast(ilat div 8000 % 20 as int) + 1, 1)",
                    f"substr('{a}', cast(ilon div 8000 % 20 as int) + 1, 1)",
                    f"substr('{a}', cast(ilat div 400 % 20 as int) + 1, 1)",
                    f"substr('{a}', cast(ilon div 400 % 20 as int) + 1, 1)",
                    f"substr('{a}', cast(ilat div 20 % 20 as int) + 1, 1)",
                    f"substr('{a}', cast(ilon div 20 % 20 as int) + 1, 1)",
                    "'+'",
                    f"substr('{a}', cast(ilat % 20 as int) + 1, 1)",
                    f"substr('{a}', cast(ilon % 20 as int) + 1, 1)",
                ]
            )
        ).alias("plus_code"),
    )
    area = dig.groupBy(F.substring("plus_code", 1, 4).alias("area4")).agg(
        F.count("*").cast("long").alias("n_area")
    )
    return (
        dig.join(
            F.broadcast(area),
            F.substring("plus_code", 1, 4) == F.col("area4"),
        )
        .select("c_custkey", "plus_code", "n_area")
        .orderBy("c_custkey")
    )



@register(
    "utm_zone_customers",
    f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat,
         {_LON.format(k='c_custkey')} AS lon
  FROM customer
), z AS (
  SELECT c_custkey, lat, lon,
         CASE
           WHEN lat >= 72.0 AND lat < 84.0 AND lon >= 0.0 AND lon < 9.0 THEN 31
           WHEN lat >= 72.0 AND lat < 84.0 AND lon >= 9.0 AND lon < 21.0 THEN 33
           WHEN lat >= 72.0 AND lat < 84.0 AND lon >= 21.0 AND lon < 33.0 THEN 35
           WHEN lat >= 72.0 AND lat < 84.0 AND lon >= 33.0 AND lon < 42.0 THEN 37
           WHEN lat >= 56.0 AND lat < 64.0 AND lon >= 3.0 AND lon < 12.0 THEN 32
           ELSE cast(floor((lon + 180.0) / 6.0) as int) + 1
         END AS utm_zone,
         substr('{_UTM_BANDS}',
                cast(least(floor((lat + 80.0) / 8.0), 19.0) as int) + 1, 1) AS band,
         CASE WHEN lat >= 0.0 THEN 'N' ELSE 'S' END AS hemisphere
  FROM pts
), census AS (
  SELECT utm_zone, band, cast(count(*) as bigint) AS n_cell
  FROM z GROUP BY utm_zone, band
)
SELECT z.c_custkey, z.utm_zone, z.band, z.hemisphere, census.n_cell
FROM z JOIN census USING (utm_zone, band)
ORDER BY z.c_custkey
""",
)
def utm_zone_customers(spark, sf_dir):
    """UTM zone + MGRS latitude-band assignment — the projected-CRS
    interop id (which EPSG:326xx/327xx zone does each point project
    into?), with the two published irregular-grid exceptions encoded:
    Norway's widened 32V (56–64°N, 3–12°E) and the four Svalbard
    zones 31/33/35/37X (72–84°N). Band letters are the MGRS
    'CDEFGHJKLMNPQRSTUVWX' 8° ladder (I/O skipped by construction,
    X stretched to 84° via the least() clamp). Everything is
    comparisons and one floor per axis on the derived coordinates —
    no projection math, no trig, bit-exact. Joined to a zone/band
    census (the per-CRS shard sizing a reprojection fan-out needs).
    Scale shape: narrow codegen projection + one dim-scale census
    broadcast back — the pluscode plan."""
    b = _UTM_BANDS
    pts = _cust_pts(spark, sf_dir)
    lat, lon = F.col("lat"), F.col("lon")
    sval = (lat >= 72.0) & (lat < 84.0)
    zone = (
        F.when(sval & (lon >= 0.0) & (lon < 9.0), 31)
        .when(sval & (lon >= 9.0) & (lon < 21.0), 33)
        .when(sval & (lon >= 21.0) & (lon < 33.0), 35)
        .when(sval & (lon >= 33.0) & (lon < 42.0), 37)
        .when((lat >= 56.0) & (lat < 64.0) & (lon >= 3.0) & (lon < 12.0), 32)
        .otherwise(F.floor((lon + F.lit(180.0)) / F.lit(6.0)).cast("int") + 1)
    )
    z = pts.select(
        "c_custkey",
        zone.alias("utm_zone"),
        F.expr(
            f"substr('{b}', cast(least(floor((lat + 80.0) / 8.0), 19.0) as int) + 1, 1)"
        ).alias("band"),
        F.when(lat >= 0.0, F.lit("N")).otherwise(F.lit("S")).alias("hemisphere"),
    )
    census = z.groupBy("utm_zone", "band").agg(
        F.count("*").cast("long").alias("n_cell")
    )
    return (
        z.join(F.broadcast(census), ["utm_zone", "band"])
        .select("c_custkey", "utm_zone", "band", "hemisphere", "n_cell")
        .orderBy("c_custkey")
    )



@register(
    "friedman_dow_orders",
    """
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 1000000 // 86400 AS d,
         cast(count(*) as bigint) AS y
  FROM orders GROUP BY d
), tagged AS (
  SELECT d // 7 AS wk, d % 7 AS dow, y FROM daily
), full_wk AS (
  SELECT wk FROM tagged GROUP BY wk HAVING count(*) = 7
), rk AS (
  SELECT t.wk, t.dow,
         2 * rank() OVER (PARTITION BY t.wk ORDER BY t.y)
           + count(*) OVER (PARTITION BY t.wk, t.y) - 1 AS r2
  FROM tagged t JOIN full_wk USING (wk)
), sums AS (
  SELECT dow, cast(sum(r2) as bigint) AS r2_sum FROM rk GROUP BY dow
), q AS (
  SELECT cast(count(DISTINCT wk) as bigint) AS n_weeks FROM rk
)
SELECT sums.dow, sums.r2_sum, q.n_weeks,
       cast((3000 * (SELECT sum(r2_sum * r2_sum) FROM sums))
              // (4 * q.n_weeks * 7 * 8)
            - 3000 * q.n_weeks * 8 as bigint) AS q_milli
FROM sums CROSS JOIN q ORDER BY sums.dow
""",
)
def friedman_dow_orders(spark, sf_dir):
    """Friedman rank test for a day-of-week effect on daily order
    volume: each complete epoch-week is a block, the 7 weekdays are
    treatments, counts are ranked WITHIN each week (doubled midranks,
    the spearman/roc idiom) so the test is robust to the long-run
    trend that anova/kruskal on pooled days would confound. With
    doubled rank sums R2_j, Q = 12·Σ(R2_j/2)²/(n·k(k+1)) − 3n(k+1)
    becomes the exact milli-tick (3000·ΣR2²) div (4·n·7·8) − 3000·n·8
    (k=7 inlined); incomplete boundary weeks are dropped so every
    block has exactly k entries. This is the blocked complement to
    kendalls_w_terms (same statistic family, W = Q/(n(k−1))). Scale
    shape: one dim-scale daily agg, one per-week rank window, one
    7-row reduce."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_timestamp("o_orderdate") / F.lit(86400)).cast("long").alias("d")
    ).agg(F.count("*").cast("long").alias("y"))
    tagged = daily.select(
        F.expr("cast(d div 7 as bigint)").alias("wk"),
        F.expr("cast(d % 7 as bigint)").alias("dow"),
        "y",
    )
    full_wk = tagged.groupBy("wk").agg(F.count("*").alias("c")).filter(
        F.col("c") == 7
    ).select("wk")
    rk = tagged.join(full_wk, "wk").select(
        "wk",
        "dow",
        (
            F.lit(2) * F.rank().over(Window.partitionBy("wk").orderBy("y"))
            + F.count("*").over(Window.partitionBy("wk", "y"))
            - F.lit(1)
        ).alias("r2"),
    )
    sums = rk.groupBy("dow").agg(F.sum("r2").cast("long").alias("r2_sum"))
    q = rk.agg(F.countDistinct("wk").cast("long").alias("n_weeks"))
    tot = sums.agg(F.sum(F.col("r2_sum") * F.col("r2_sum")).cast("long").alias("ss"))
    return (
        sums.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "r2_sum",
            "n_weeks",
            F.expr(
                "cast((3000 * ss) div (4 * n_weeks * 7 * 8)"
                " - 3000 * n_weeks * 8 as bigint)"
            ).alias("q_milli"),
        )
        .orderBy("dow")
    )



@register(
    "mrr_first_relevant_sources",
    """
WITH rk AS (
  SELECT source, doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents
), firsts AS (
  SELECT source,
         min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
         cast(count(*) as bigint) AS n_ranked
  FROM rk GROUP BY source
), scored AS (
  SELECT source, first_rel, n_ranked,
         CASE WHEN first_rel IS NULL THEN 0
              ELSE cast(1000000 // first_rel as bigint) END AS rr_micro
  FROM firsts
)
SELECT source, cast(first_rel as bigint) AS first_rel, n_ranked, rr_micro,
       cast((SELECT sum(rr_micro) FROM scored) // (SELECT count(*) FROM scored)
            as bigint) AS mrr_micro
FROM scored ORDER BY source
""",
)
def mrr_first_relevant_sources(spark, sf_dir):
    """Mean Reciprocal Rank of the first English document when each
    source's corpus is ranked by length — the navigational-search
    eval metric (how deep must a consumer scan per shard before the
    first relevant hit?) completing the IR-eval family: roc/pr rate
    the whole ranking, rrf fuses rankings, MRR cares only about rank
    #1 of relevance. Reciprocal ranks are exact floor micro-ticks
    1e6 div rank (sources with no relevant doc contribute 0 — the
    standard convention), and the corpus MRR is one integer mean
    over sources. Scale shape: one per-source rank window + a
    dim-scale reduce; ties broken by doc_id for a total order."""
    d = load(spark, sf_dir, "documents")
    rk = d.select(
        "source",
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("rel"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rnk"),
    )
    firsts = rk.groupBy("source").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
        F.count("*").cast("long").alias("n_ranked"),
    )
    scored = firsts.select(
        "source",
        "first_rel",
        "n_ranked",
        F.when(F.col("first_rel").isNull(), F.lit(0).cast("long"))
        .otherwise(F.expr("cast(1000000 div first_rel as bigint)"))
        .alias("rr_micro"),
    )
    g = scored.agg(
        F.expr("cast(sum(rr_micro) div count(*) as bigint)").alias("mrr_micro")
    )
    return (
        scored.crossJoin(F.broadcast(g))
        .select(
            "source",
            F.col("first_rel").cast("long").alias("first_rel"),
            "n_ranked",
            "rr_micro",
            "mrr_micro",
        )
        .orderBy("source")
    )



@register(
    "ndcg_at10_sources",
    f"""
WITH graded AS (
  SELECT source, doc_id,
         {T.quality_score_sql('text')} AS pred,
         cast((CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END) as bigint) AS rel
  FROM documents
), ranked AS (
  SELECT source, rel,
         cast(row_number() OVER (PARTITION BY source ORDER BY pred DESC, doc_id ASC) as int) AS pr,
         cast(row_number() OVER (PARTITION BY source ORDER BY rel DESC, doc_id ASC) as int) AS ir
  FROM graded
), agg AS (
  SELECT source,
         cast(sum(CASE WHEN pr <= {_NDCG_K} THEN rel * (CASE pr {_NDCG_CASE} ELSE 0 END) ELSE 0 END) as bigint) AS dcg_fixed,
         cast(sum(CASE WHEN ir <= {_NDCG_K} THEN rel * (CASE ir {_NDCG_CASE} ELSE 0 END) ELSE 0 END) as bigint) AS idcg_fixed
  FROM ranked GROUP BY source
)
SELECT source, dcg_fixed, idcg_fixed,
       CASE WHEN idcg_fixed = 0 THEN cast(1000000 as bigint)
            ELSE cast(dcg_fixed * 1000000 // idcg_fixed as bigint) END AS ndcg_micro
FROM agg ORDER BY source
""",
)
def ndcg_at10_sources(spark, sf_dir):
    """NDCG@10 per source: rank each source's documents by the engine's
    quality score (the prediction) and grade relevance 0–3 from fixed
    n_chars thresholds, then score the ranking with the standard
    1/log2(rank+1) discount. The discounts are constants for ranks
    1..10, so they are inlined as identical nano-scale integer
    literals in both engines (module constant _NDCG_W) — DCG and
    ideal-DCG are exact bigint dot products, ndcg_micro an exact
    integer ratio; no data-dependent ln() anywhere. This is the
    ranking-quality eval a search/curation pipeline runs per shard.
    Scale shape: one source-partitioned window pair + one hash agg —
    shuffle ∝ docs, no self-join; the two row_numbers share one
    partitioning."""
    d = load(spark, sf_dir, "documents")
    rel = (
        (F.col("n_chars") >= 150).cast("long")
        + (F.col("n_chars") >= 300).cast("long")
        + (F.col("n_chars") >= 450).cast("long")
    )
    graded = d.select(
        "source",
        "doc_id",
        T.quality_score(F.col("text")).alias("pred"),
        rel.alias("rel"),
    )
    wp = Window.partitionBy("source").orderBy(F.desc("pred"), F.asc("doc_id"))
    wi = Window.partitionBy("source").orderBy(F.desc("rel"), F.asc("doc_id"))
    ranked = graded.select(
        "source",
        "rel",
        F.row_number().over(wp).alias("pr"),
        F.row_number().over(wi).alias("ir"),
    )
    warr = F.array(*[F.lit(w) for w in _NDCG_W])
    dcg = F.sum(
        F.when(F.col("pr") <= _NDCG_K, F.col("rel") * F.element_at(warr, F.col("pr"))).otherwise(F.lit(0))
    ).cast("long")
    idcg = F.sum(
        F.when(F.col("ir") <= _NDCG_K, F.col("rel") * F.element_at(warr, F.col("ir"))).otherwise(F.lit(0))
    ).cast("long")
    return (
        ranked.groupBy("source")
        .agg(dcg.alias("dcg_fixed"), idcg.alias("idcg_fixed"))
        .select(
            "source",
            "dcg_fixed",
            "idcg_fixed",
            F.when(F.col("idcg_fixed") == 0, F.lit(1000000).cast("long"))
            .otherwise(F.expr("cast(dcg_fixed * 1000000 div idcg_fixed as bigint)"))
            .alias("ndcg_micro"),
        )
        .orderBy("source")
    )



@register(
    "cochrans_q_events",
    f"""
WITH blocks AS (
  SELECT user_id, cast(ts as date) AS d,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x1,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x2,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x3
  FROM events GROUP BY user_id, cast(ts as date)
), sums AS (
  SELECT cast(count(*) as bigint) AS n_blocks,
         cast(sum(x1) as bigint) AS g1,
         cast(sum(x2) as bigint) AS g2,
         cast(sum(x3) as bigint) AS g3,
         cast(sum((x1 + x2 + x3) * (x1 + x2 + x3)) as bigint) AS sum_l_sq,
         cast(sum(x1 + x2 + x3) as bigint) AS t_total
  FROM blocks
)
SELECT n_blocks, t_total,
       cast(g1 * g1 + g2 * g2 + g3 * g3 as bigint) AS sum_g_sq,
       sum_l_sq,
       cast(2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3) - t_total * t_total) as bigint) AS q_num,
       cast(3 * t_total - sum_l_sq as bigint) AS q_den,
       cast(2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3) - t_total * t_total) as double)
         / cast(3 * t_total - sum_l_sq as double) AS q_stat
FROM sums
""",
)
def cochrans_q_events(spark, sf_dir):
    """Cochran's Q test — do the three binary "treatments" (did the
    user view / click / purchase at least once) have equal success
    rates across user blocks? Q = k(k-1)·(kΣG_j² − T²) / (kT − ΣL_i²)
    with k=3: column totals G_j, row totals L_i, grand total T — all
    integer counts, so numerator and denominator are exact bigints and
    the statistic one exact double division (~χ² with k−1 df). This is
    the matched-binary significance test behind "did funnel stage
    completion differ", complementing mcnemar_langid_docs (k=2 paired)
    with the k>2 blocked design. Blocks are (user, day) cells — the
    per-user lifetime block is degenerate here (every user eventually
    does all three), and the daily design is the real A/B question
    anyway. Scale shape: one (user, day) hash agg + one global fold —
    shuffle ∝ events, no join."""
    e = load(spark, sf_dir, "events")
    xs = [
        F.max(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"x{i + 1}")
        for i, t in enumerate(_COCHRAN_TYPES)
    ]
    blocks = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(*xs)
    ell = F.col("x1") + F.col("x2") + F.col("x3")
    sums = blocks.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("x1").cast("long").alias("g1"),
        F.sum("x2").cast("long").alias("g2"),
        F.sum("x3").cast("long").alias("g3"),
        F.sum(ell * ell).cast("long").alias("sum_l_sq"),
        F.sum(ell).cast("long").alias("t_total"),
    )
    gsq = F.col("g1") * F.col("g1") + F.col("g2") * F.col("g2") + F.col("g3") * F.col("g3")
    qnum = (F.lit(2) * (F.lit(3) * gsq - F.col("t_total") * F.col("t_total"))).cast("long")
    qden = (F.lit(3) * F.col("t_total") - F.col("sum_l_sq")).cast("long")
    return sums.select(
        "n_blocks",
        "t_total",
        gsq.cast("long").alias("sum_g_sq"),
        "sum_l_sq",
        qnum.alias("q_num"),
        qden.alias("q_den"),
        (qnum.cast("double") / qden.cast("double")).alias("q_stat"),
    )



@register(
    "jonckheere_sources",
    """
WITH hist AS (
  SELECT source, n_chars AS v, cast(count(*) as bigint) AS c
  FROM documents GROUP BY source, n_chars
), sizes AS (
  SELECT source, cast(sum(c) as bigint) AS n FROM hist GROUP BY source
), pairu AS (
  SELECT a.source AS g_lt, b.source AS g_gt,
         cast(sum(CASE WHEN a.v < b.v THEN 2 * a.c * b.c
                       WHEN a.v = b.v THEN a.c * b.c ELSE 0 END) as bigint) AS u2
  FROM hist a JOIN hist b ON a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.g_lt, p.g_gt, sa.n AS n_lt, sb.n AS n_gt, p.u2,
       cast(p.u2 * 1000000 // (2 * sa.n * sb.n) as bigint) AS u2_norm_micro
FROM pairu p
JOIN sizes sa ON p.g_lt = sa.source
JOIN sizes sb ON p.g_gt = sb.source
ORDER BY p.g_lt, p.g_gt
""",
)
def jonckheere_sources(spark, sf_dir):
    """Jonckheere–Terpstra ordered-alternative trend components: for
    every ordered pair of sources (ordinal order = source name), the
    doubled Mann-Whitney count u2 = 2·#{x<y} + #{x=y} over document
    lengths — the JT statistic is Σu2/2 over pairs, and u2_norm_micro
    is the pairwise probability-of-superiority in exact micro units.
    Everything is integer counting, bit-exact both engines. Scale
    shape: the pair comparison runs over the per-group VALUE HISTOGRAM
    (distinct n_chars per source), not the rows — the join is
    |V_i|·|V_j| per group pair, bounded by distinct-value counts, so a
    10^12-row table with bounded value cardinality costs one hash agg
    + a dim-scale histogram self-join (broadcastable)."""
    d = load(spark, sf_dir, "documents")
    hist = d.groupBy(F.col("source"), F.col("n_chars").alias("v")).agg(
        F.count("*").cast("long").alias("c")
    )
    sizes = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a = hist.select(
        F.col("source").alias("g_lt"), F.col("v").alias("va"), F.col("c").alias("ca")
    )
    b = hist.select(
        F.col("source").alias("g_gt"), F.col("v").alias("vb"), F.col("c").alias("cb")
    )
    contrib = (
        F.when(F.col("va") < F.col("vb"), F.lit(2) * F.col("ca") * F.col("cb"))
        .when(F.col("va") == F.col("vb"), F.col("ca") * F.col("cb"))
        .otherwise(F.lit(0))
    )
    pairu = (
        a.join(F.broadcast(b), F.col("g_lt") < F.col("g_gt"))
        .groupBy("g_lt", "g_gt")
        .agg(F.sum(contrib).cast("long").alias("u2"))
    )
    sa = sizes.select(F.col("source").alias("g_lt"), F.col("n").alias("n_lt"))
    sb = sizes.select(F.col("source").alias("g_gt"), F.col("n").alias("n_gt"))
    return (
        pairu.join(F.broadcast(sa), "g_lt")
        .join(F.broadcast(sb), "g_gt")
        .select(
            "g_lt",
            "g_gt",
            "n_lt",
            "n_gt",
            "u2",
            F.expr("cast(u2 * 1000000 div (2 * n_lt * n_gt) as bigint)").alias(
                "u2_norm_micro"
            ),
        )
        .orderBy("g_lt", "g_gt")
    )



@register(
    "sprt_decision_users",
    f"""
WITH obs AS (
  SELECT user_id,
         cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) as bigint) AS i,
         cast(sum(CASE WHEN event_type = 'purchase' THEN {_SPRT_S} ELSE {_SPRT_F} END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS llr
  FROM events
), per_user AS (
  SELECT user_id,
         cast(count(*) as bigint) AS n_obs,
         min(CASE WHEN llr >= {_SPRT_A} THEN i END) AS first_h1,
         min(CASE WHEN llr <= {_SPRT_B} THEN i END) AS first_h0
  FROM obs GROUP BY user_id
), final AS (
  SELECT o.user_id, cast(sum(CASE WHEN event_type = 'purchase' THEN {_SPRT_S} ELSE {_SPRT_F} END) as bigint) AS final_llr_nano
  FROM events o GROUP BY o.user_id
)
SELECT p.user_id, p.n_obs,
       CASE
         WHEN p.first_h1 IS NOT NULL AND (p.first_h0 IS NULL OR p.first_h1 < p.first_h0) THEN 'h1'
         WHEN p.first_h0 IS NOT NULL THEN 'h0'
         ELSE 'continue'
       END AS decision,
       cast(coalesce(least(p.first_h1, p.first_h0), coalesce(p.first_h1, p.first_h0), 0) as bigint) AS n_to_decision,
       f.final_llr_nano
FROM per_user p JOIN final f ON p.user_id = f.user_id
ORDER BY p.user_id
""",
)
def sprt_decision_users(spark, sf_dir):
    """Wald sequential probability ratio test per user: is this user's
    purchase rate the H1 rate (0.5) or the H0 rate (0.2)? Events are
    consumed in time order; the cumulative log-likelihood ratio walks
    by ln(p1/p0) on a purchase and ln((1-p1)/(1-p0)) otherwise, and
    the test DECIDES at the first crossing of the Wald boundaries
    ln((1-β)/α) / ln(β/(1-α)) — the optimal early-stopping test, i.e.
    the shape of a streaming fraud/bot decision that should not wait
    for the full history. All four log terms have constant arguments
    and are inlined as identical nano-nat integer literals both
    engines (module constants _SPRT_*) — the walk is exact bigint.
    Output per user: decision, steps-to-decision (0 = never decided),
    final LLR. Scale shape: one user-partitioned window cumsum + one
    hash agg — shuffle ∝ events, no join back (first crossings fold in
    the same agg)."""
    e = load(spark, sf_dir, "events")
    step = F.when(F.col("event_type") == "purchase", F.lit(_SPRT_S)).otherwise(
        F.lit(_SPRT_F)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    obs = e.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum(step)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("llr"),
        step.alias("step"),
    )
    per_user = obs.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_obs"),
        F.min(F.when(F.col("llr") >= _SPRT_A, F.col("i"))).alias("first_h1"),
        F.min(F.when(F.col("llr") <= _SPRT_B, F.col("i"))).alias("first_h0"),
        F.sum("step").cast("long").alias("final_llr_nano"),
    )
    decision = (
        F.when(
            F.col("first_h1").isNotNull()
            & (F.col("first_h0").isNull() | (F.col("first_h1") < F.col("first_h0"))),
            F.lit("h1"),
        )
        .when(F.col("first_h0").isNotNull(), F.lit("h0"))
        .otherwise(F.lit("continue"))
    )
    return per_user.select(
        "user_id",
        "n_obs",
        decision.alias("decision"),
        F.coalesce(
            F.least("first_h1", "first_h0"),
            F.coalesce("first_h1", "first_h0"),
            F.lit(0),
        )
        .cast("long")
        .alias("n_to_decision"),
        "final_llr_nano",
    ).orderBy("user_id")



@register(
    "mean_excess_orders",
    f"""
WITH t(thr) AS (VALUES {",".join(f"({t})" for t in _POT_THRESHOLDS)})
SELECT cast(t.thr as bigint) AS threshold,
       cast(count(*) as bigint) AS n_exceed,
       cast(sum(cast(o.o_totalprice as decimal(18,2)) - t.thr) as double) AS sum_excess,
       cast(sum(cast(o.o_totalprice as decimal(18,2)) - t.thr) as double)
         / cast(count(*) as double) AS mean_excess
FROM t JOIN orders o ON o.o_totalprice > t.thr
GROUP BY t.thr ORDER BY threshold
""",
)
def mean_excess_orders(spark, sf_dir):
    """Mean-excess (mean residual life) function over order values at
    five literal thresholds — the peaks-over-threshold diagnostic that
    picks the GPD threshold in extreme-value analysis (a roughly
    linear tail here would justify the block-maxima model that
    return_period_weekly fits). Excesses are decimal(18,2) sums (exact
    both engines, no float reduction order), the mean one exact
    division. Scale shape: each order row explodes into only the
    literal thresholds it exceeds (higher-order array filter, no join
    at all), then one 5-group hash agg; at 100 TB this is a single
    narrow pass, no sort, no quantile estimation. A threshold above
    the data max yields no row — by construction both engines agree."""
    o = load(spark, sf_dir, "orders")
    thr_arr = F.array(*[F.lit(t).cast("long") for t in _POT_THRESHOLDS])
    exploded = o.select(
        "o_totalprice",
        F.explode(
            F.filter(thr_arr, lambda t: F.col("o_totalprice") > t)
        ).alias("thr"),
    )
    excess = F.col("o_totalprice").cast(DEC) - F.col("thr")
    return (
        exploded.groupBy(F.col("thr").cast("long").alias("threshold"))
        .agg(
            F.count("*").cast("long").alias("n_exceed"),
            F.sum(excess).cast("double").alias("sum_excess"),
        )
        .select(
            "threshold",
            "n_exceed",
            "sum_excess",
            (F.col("sum_excess") / F.col("n_exceed").cast("double")).alias("mean_excess"),
        )
        .orderBy("threshold")
    )



@register(
    "obrien_fleming_interim",
    f"""
WITH daily AS (
  SELECT cast(ts as date) AS d, cast(user_id % 2 as int) AS arm,
         cast(count(*) as bigint) AS n,
         cast(count(*) FILTER (WHERE event_type = 'purchase') as bigint) AS c
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT d, arm,
         sum(n) OVER (PARTITION BY arm ORDER BY d) AS n_cum,
         sum(c) OVER (PARTITION BY arm ORDER BY d) AS c_cum
  FROM daily
), wide AS (
  SELECT a.d,
         cast(a.n_cum as bigint) AS n0, cast(a.c_cum as bigint) AS c0,
         cast(b.n_cum as bigint) AS n1, cast(b.c_cum as bigint) AS c1,
         cast(row_number() OVER (ORDER BY a.d) as bigint) AS day_idx,
         cast(count(*) OVER () as bigint) AS n_days
  FROM cum a JOIN cum b ON a.d = b.d AND a.arm = 0 AND b.arm = 1
)
SELECT d, day_idx, n0, c0, n1, c1,
       (cast(c0 as double) / cast(n0 as double) - cast(c1 as double) / cast(n1 as double))
         / sqrt((cast(c0 + c1 as double) / cast(n0 + n1 as double))
                * (1.0 - cast(c0 + c1 as double) / cast(n0 + n1 as double))
                * (1.0 / cast(n0 as double) + 1.0 / cast(n1 as double))) AS z_stat,
       {_OBF_C} * sqrt(cast(n_days as double) / cast(day_idx as double)) AS z_bound,
       abs((cast(c0 as double) / cast(n0 as double) - cast(c1 as double) / cast(n1 as double))
         / sqrt((cast(c0 + c1 as double) / cast(n0 + n1 as double))
                * (1.0 - cast(c0 + c1 as double) / cast(n0 + n1 as double))
                * (1.0 / cast(n0 as double) + 1.0 / cast(n1 as double))))
         > {_OBF_C} * sqrt(cast(n_days as double) / cast(day_idx as double)) AS crossed
FROM wide ORDER BY d
""",
)
def obrien_fleming_interim(spark, sf_dir):
    """Group-sequential interim monitoring with an O'Brien-Fleming-
    style spending boundary: arms = user_id parity, daily CUMULATIVE
    purchase-rate z statistics checked against the shrinking boundary
    c·√(1/t) (t = information fraction day_idx/n_days, c = {_OBF_C}
    inlined literal) — the "peek every day without inflating α" design
    that complements sprt_decision_users (per-unit) at the experiment
    level. z is the pooled two-proportion statistic written with the
    IDENTICAL operation order both engines (exact IEEE divisions,
    multiplies, one sqrt — all correctly rounded, no libm
    transcendentals). Scale shape: one (day, arm) hash agg over
    events, two arm-partitioned cumsum windows, one day equi-join —
    shuffle ∝ events once, then calendar-dim."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("d"), (F.col("user_id") % 2).cast("int").alias("arm")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).cast("long").alias("c"),
    )
    w = Window.partitionBy("arm").orderBy("d")
    cum = daily.select(
        "d",
        "arm",
        F.sum("n").over(w).alias("n_cum"),
        F.sum("c").over(w).alias("c_cum"),
    )
    a = cum.filter(F.col("arm") == 0).select(
        "d", F.col("n_cum").cast("long").alias("n0"), F.col("c_cum").cast("long").alias("c0")
    )
    b = cum.filter(F.col("arm") == 1).select(
        "d", F.col("n_cum").cast("long").alias("n1"), F.col("c_cum").cast("long").alias("c1")
    )
    wide = (
        a.join(b, "d")
        .withColumn("day_idx", F.row_number().over(Window.orderBy("d")).cast("long"))
        .withColumn("n_days", F.count("*").over(Window.partitionBy()).cast("long"))
    )
    p0 = F.col("c0").cast("double") / F.col("n0").cast("double")
    p1 = F.col("c1").cast("double") / F.col("n1").cast("double")
    pbar = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1")).cast("double")
    se = F.sqrt(
        pbar
        * (F.lit(1.0) - pbar)
        * (F.lit(1.0) / F.col("n0").cast("double") + F.lit(1.0) / F.col("n1").cast("double"))
    )
    z = (p0 - p1) / se
    bound = F.lit(_OBF_C) * F.sqrt(
        F.col("n_days").cast("double") / F.col("day_idx").cast("double")
    )
    return wide.select(
        "d",
        "day_idx",
        "n0",
        "c0",
        "n1",
        "c1",
        z.alias("z_stat"),
        bound.alias("z_bound"),
        (F.abs(z) > bound).alias("crossed"),
    ).orderBy("d")



@register(
    "rand_index_clusterings",
    """
WITH assign AS (
  SELECT vec_id, label AS ca, cast(vec_id % 10 as int) AS cb FROM embeddings
), cont AS (
  SELECT ca, cb, cast(count(*) as bigint) AS nij FROM assign GROUP BY ca, cb
), a_pairs AS (
  SELECT cast(sum(CASE WHEN nij % 2 = 0 THEN cast(nij // 2 as DECIMAL(38,0)) * (nij - 1) ELSE cast(nij as DECIMAL(38,0)) * ((nij - 1) // 2) END) as DECIMAL(38,0)) AS a FROM cont
), rows_p AS (
  SELECT cast(sum(CASE WHEN ai % 2 = 0 THEN cast(ai // 2 as DECIMAL(38,0)) * (ai - 1) ELSE cast(ai as DECIMAL(38,0)) * ((ai - 1) // 2) END) as DECIMAL(38,0)) AS p
  FROM (SELECT sum(nij) AS ai FROM cont GROUP BY ca)
), cols_q AS (
  SELECT cast(sum(CASE WHEN bj % 2 = 0 THEN cast(bj // 2 as DECIMAL(38,0)) * (bj - 1) ELSE cast(bj as DECIMAL(38,0)) * ((bj - 1) // 2) END) as DECIMAL(38,0)) AS q
  FROM (SELECT sum(nij) AS bj FROM cont GROUP BY cb)
), tot AS (
  SELECT cast(sum(nij) as bigint) AS n,
         cast(CASE WHEN sum(nij) % 2 = 0 THEN cast(sum(nij) // 2 as DECIMAL(38,0)) * (sum(nij) - 1) ELSE cast(sum(nij) as DECIMAL(38,0)) * ((sum(nij) - 1) // 2) END as DECIMAL(38,0)) AS c2
  FROM cont
)
SELECT t.n, cast(a.a as bigint) AS a_pairs, cast(r.p as bigint) AS p_sum,
       cast(c.q as bigint) AS q_sum, cast(t.c2 as bigint) AS total_pairs,
       cast(t.c2 + 2 * a.a - r.p - c.q as double) / cast(t.c2 as double) AS rand_index,
       cast(2 * (a.a * t.c2 - r.p * c.q) as double)
         / cast(t.c2 * (r.p + c.q) - 2 * r.p * c.q as double) AS adjusted_rand
FROM tot t, a_pairs a, rows_p r, cols_q c
""",
)
def rand_index_clusterings(spark, sf_dir):
    """Rand index + adjusted Rand between two clusterings of the
    embedding table — the generator's label column vs a vec_id % 10
    sharding — the pair-counting clustering-agreement statistic
    (ARI ≈ 0 here is the CORRECT answer: a hash shard should carry no
    cluster signal; a drifting generator would show up immediately).
    All pair counts C(n,2) accumulate in DECIMAL(38,0) (n² overflows
    int64 at web scale), RI and ARI are single exact decimal→double
    divisions of integer polynomials — no expectation is ever a
    float. Scale shape: one (ca, cb) contingency hash agg (K·K' cells)
    + three dim-scale folds cross-combined through 1-row anchors."""
    emb = load(spark, sf_dir, "embeddings")
    assign = emb.select(
        "vec_id", F.col("label").alias("ca"), (F.col("vec_id") % 10).cast("int").alias("cb")
    )
    cont = assign.groupBy("ca", "cb").agg(F.count("*").cast("long").alias("nij"))
    dec = "decimal(38,0)"
    a_pairs = cont.agg(
        F.sum(F.expr("CASE WHEN nij % 2 = 0 THEN cast(nij div 2 as decimal(38,0)) * (nij - 1) ELSE cast(nij as decimal(38,0)) * ((nij - 1) div 2) END")).cast(dec).alias("a")
    )
    rows_p = (
        cont.groupBy("ca")
        .agg(F.sum("nij").alias("ai"))
        .agg(F.sum(F.expr("CASE WHEN ai % 2 = 0 THEN cast(ai div 2 as decimal(38,0)) * (ai - 1) ELSE cast(ai as decimal(38,0)) * ((ai - 1) div 2) END")).cast(dec).alias("p"))
    )
    cols_q = (
        cont.groupBy("cb")
        .agg(F.sum("nij").alias("bj"))
        .agg(F.sum(F.expr("CASE WHEN bj % 2 = 0 THEN cast(bj div 2 as decimal(38,0)) * (bj - 1) ELSE cast(bj as decimal(38,0)) * ((bj - 1) div 2) END")).cast(dec).alias("q"))
    )
    tot = cont.agg(
        F.sum("nij").cast("long").alias("n"),
        F.expr("cast(CASE WHEN sum(nij) % 2 = 0 THEN cast(sum(nij) div 2 as decimal(38,0)) * (sum(nij) - 1) ELSE cast(sum(nij) as decimal(38,0)) * ((sum(nij) - 1) div 2) END as decimal(38,0))").alias("c2"),
    )
    joined = (
        tot.crossJoin(F.broadcast(a_pairs))
        .crossJoin(F.broadcast(rows_p))
        .crossJoin(F.broadcast(cols_q))
    )
    ri = (
        (F.col("c2") + F.lit(2) * F.col("a") - F.col("p") - F.col("q")).cast("double")
        / F.col("c2").cast("double")
    )
    ari = (
        (F.lit(2) * (F.col("a") * F.col("c2") - F.col("p") * F.col("q"))).cast("double")
        / (F.col("c2") * (F.col("p") + F.col("q")) - F.lit(2) * F.col("p") * F.col("q")).cast("double")
    )
    return joined.select(
        "n",
        F.col("a").cast("long").alias("a_pairs"),
        F.col("p").cast("long").alias("p_sum"),
        F.col("q").cast("long").alias("q_sum"),
        F.col("c2").cast("long").alias("total_pairs"),
        ri.alias("rand_index"),
        ari.alias("adjusted_rand"),
    )



@register(
    "largest_remainder_alloc",
    f"""
WITH counts AS (
  SELECT source, cast(count(*) as bigint) AS docs FROM documents GROUP BY source
), quota AS (
  SELECT source, docs,
         cast(sum(docs) OVER () as bigint) AS total,
         cast(docs * {_LR_SEATS} as bigint) AS qnum
  FROM counts
), base AS (
  SELECT source, docs, total,
         cast(qnum // total as bigint) AS base_seats,
         cast(qnum % total as bigint) AS rem_num,
         cast(sum(qnum // total) OVER () as bigint) AS base_total
  FROM quota
), ranked AS (
  SELECT source, docs, base_seats, rem_num,
         cast({_LR_SEATS} - base_total as bigint) AS leftover,
         cast(row_number() OVER (ORDER BY rem_num DESC, source ASC) as int) AS rnk
  FROM base
)
SELECT source, docs, base_seats, rem_num,
       (rnk <= leftover) AS got_extra,
       cast(base_seats + (CASE WHEN rnk <= leftover THEN 1 ELSE 0 END) as bigint) AS seats
FROM ranked ORDER BY source
""",
)
def largest_remainder_alloc(spark, sf_dir):
    """Hamilton largest-remainder apportionment of a {_LR_SEATS}-slot
    sampling budget across sources: integer quotas docs·S/total, floor
    seats first, then the leftover seats to the largest fractional
    remainders (compared as exact integer remainders — no float quota
    ever exists), ties to the lexicographically first source. The
    quota-method counterpart to dhondt_seats_sources (divisor method)
    — the pair lets a curation pipeline choose its rounding bias
    explicitly. Scale shape: one source hash agg, then three window
    passes over the bounded source dim — no join, no anchor
    collect."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").cast("long").alias("docs"))
    wall = Window.partitionBy()
    quota = counts.select(
        "source",
        "docs",
        F.sum("docs").over(wall).cast("long").alias("total"),
        (F.col("docs") * _LR_SEATS).cast("long").alias("qnum"),
    )
    base = quota.select(
        "source",
        "docs",
        F.expr("cast(qnum div total as bigint)").alias("base_seats"),
        (F.col("qnum") % F.col("total")).cast("long").alias("rem_num"),
        F.sum(F.expr("qnum div total")).over(wall).cast("long").alias("base_total"),
    )
    ranked = base.select(
        "source",
        "docs",
        "base_seats",
        "rem_num",
        (F.lit(_LR_SEATS) - F.col("base_total")).cast("long").alias("leftover"),
        F.row_number()
        .over(Window.orderBy(F.desc("rem_num"), F.asc("source")))
        .alias("rnk"),
    )
    return ranked.select(
        "source",
        "docs",
        "base_seats",
        "rem_num",
        (F.col("rnk") <= F.col("leftover")).alias("got_extra"),
        (
            F.col("base_seats")
            + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("seats"),
    ).orderBy("source")



@register(
    "err_at10_sources",
    f"""
WITH graded AS (
  SELECT source, doc_id,
         {T.quality_score_sql('text')} AS pred,
         (CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END)
       + (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
       + (CASE WHEN n_chars >= 450 THEN 1 ELSE 0 END) AS rel
  FROM documents
), ranked AS (
  SELECT source, rel,
         cast(row_number() OVER (PARTITION BY source ORDER BY pred DESC, doc_id ASC) as int) AS pr
  FROM graded
), rels AS (
  SELECT source, list(rel ORDER BY pr ASC) AS rl
  FROM ranked WHERE pr <= 10 GROUP BY source
), terms AS (
  SELECT source, g.d,
         cast(rl[g.d] as bigint) AS rel_d,
         cast(CASE WHEN g.d = 1 THEN 1
                   ELSE list_product(list_transform(rl[1:g.d - 1], r -> 4 - r)) END as bigint) AS stop_prod
  FROM rels, generate_series(1, 10) AS g(d)
  WHERE g.d <= len(rl)
)
SELECT source,
       cast(sum(1000000000 * rel_d * stop_prod
                // (d * cast(power(4, d) as bigint))) as bigint) AS err_fixed
FROM terms GROUP BY source ORDER BY source
""",
)
def err_at10_sources(spark, sf_dir):
    """Expected reciprocal rank at 10 (Chapelle's cascade model): the
    user scans down the quality-ranked list, stops at rank d with
    probability R_d·Π_{{i<d}}(1−R_i), and scores 1/d — with graded
    relevance mapped to stop probabilities R = rel/4 ∈ {{0,¼,½,¾}},
    every stop probability is an exact dyadic rational: term_d =
    rel_d·Π(4−rel_i) / (d·4^d), accumulated as per-term floor nano
    divisions (numerators ≤ 3·4⁹, pure bigint). The cascade-model
    complement to ndcg_at10_sources (position-discount) and
    rbo_rankings_sources (ranking agreement). Scale shape: one window
    rank, one ≤10-element ordered list per source, one 10-row depth
    explode + hash agg — shuffle ∝ docs once."""
    d = load(spark, sf_dir, "documents")
    rel = (
        (F.col("n_chars") >= 150).cast("int")
        + (F.col("n_chars") >= 300).cast("int")
        + (F.col("n_chars") >= 450).cast("int")
    )
    graded = d.select(
        "source", "doc_id", T.quality_score(F.col("text")).alias("pred"), rel.alias("rel")
    )
    wp = Window.partitionBy("source").orderBy(F.desc("pred"), F.asc("doc_id"))
    ranked = graded.select("source", "rel", F.row_number().over(wp).alias("pr")).filter(
        F.col("pr") <= 10
    )
    rels = ranked.groupBy("source").agg(
        F.array_sort(F.collect_list(F.struct("pr", "rel"))).alias("prl")
    )
    terms = rels.select(
        "source",
        F.posexplode(F.col("prl").getField("rel")).alias("d0", "rel_d"),
    ).select(
        "source",
        (F.col("d0") + 1).alias("d"),
        F.col("rel_d").cast("long").alias("rel_d"),
    )
    # stop_prod = product of (4 - rel_i) for i < d, recomputed from the
    # same ordered list via a bounded fold (list is <= 10 elements)
    prefix = rels.select(
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("prl")),
                lambda dd: F.aggregate(
                    F.slice(F.col("prl").getField("rel"), 1, dd - 1),
                    F.lit(1).cast("long"),
                    lambda acc, r: acc * (F.lit(4) - r),
                ),
            )
        ).alias("d0", "stop_prod"),
    ).select("source", (F.col("d0") + 1).alias("d"), "stop_prod")
    joined = terms.join(prefix, ["source", "d"])
    return (
        joined.groupBy("source")
        .agg(
            F.sum(
                F.expr(
                    "cast(1000000000 * rel_d * stop_prod"
                    " div (d * cast(power(4, d) as bigint)) as bigint)"
                )
            )
            .cast("long")
            .alias("err_fixed")
        )
        .orderBy("source")
    )



@register(
    "summed_area_rect_counts",
    f"""
WITH raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS n
  FROM raw GROUP BY gx, gy
), rects(rect_id, x1, x2, y1, y2) AS (VALUES {_SAT_RECT_VALUES})
SELECT cast(r.rect_id as bigint) AS rect_id,
       cast(coalesce(sum(c.n), 0) as bigint) AS exact_count
FROM rects r LEFT JOIN cells c
  ON c.gx BETWEEN r.x1 AND r.x2 AND c.gy BETWEEN r.y1 AND r.y2
GROUP BY r.rect_id ORDER BY rect_id
""",
)
def summed_area_rect_counts(spark, sf_dir):
    """Summed-area-table (integral image) range-count contract: Spark
    DENSIFIES the event lattice onto the full 36×18 grid spine, builds
    the 2-D prefix sum with two window cumsums (rows then columns —
    the classic SAT construction as two partitioned, sorted window
    passes), and answers each literal query rectangle with the 4-corner
    inclusion–exclusion lookup. The DuckDB oracle counts each
    rectangle DIRECTLY — so this query is a structural proof that the
    SAT is built right, the same contract pattern as
    hll_pyramid_contract. At scale the SAT is the O(1)-per-query
    structure behind dashboard range counts: build cost is two
    window shuffles over the bounded lattice, query cost 4 lookups —
    vs a full scan per rectangle. All counts exact bigints."""
    ev = load(spark, sf_dir, "events")
    nx = int(360.0 / _DT_GRID)
    ny = int(180.0 / _DT_GRID)
    cells = (
        ev.select(
            C.derived_lat(F.col("event_id")).alias("lat"),
            C.derived_lon(F.col("event_id")).alias("lon"),
        )
        .groupBy(
            F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_DT_GRID)).cast("int").alias("gx"),
            F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_DT_GRID)).cast("int").alias("gy"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    spine = spark.range(nx * ny).select(
        F.expr(f"cast(id div {ny} as int)").alias("gx"),
        (F.col("id") % ny).cast("int").alias("gy"),
    )
    dense = spine.join(cells, ["gx", "gy"], "left").select(
        "gx", "gy", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    wrow = Window.partitionBy("gy").orderBy("gx").rowsBetween(Window.unboundedPreceding, 0)
    wcol = Window.partitionBy("gx").orderBy("gy").rowsBetween(Window.unboundedPreceding, 0)
    sat = dense.select(
        "gx", "gy", F.sum("n").over(wrow).alias("rowsum")
    ).select("gx", "gy", F.sum("rowsum").over(wcol).cast("long").alias("s"))
    corners = []
    for r, x1, x2, y1, y2 in _SAT_RECTS:
        for cx, cy, sign in (
            (x2, y2, 1),
            (x1 - 1, y2, -1),
            (x2, y1 - 1, -1),
            (x1 - 1, y1 - 1, 1),
        ):
            if cx >= 0 and cy >= 0:
                corners.append((r, cx, cy, sign))
    cdim = spark.createDataFrame(corners, "rect_id int, gx int, gy int, sign int")
    return (
        sat.join(F.broadcast(cdim), ["gx", "gy"])
        .groupBy(F.col("rect_id").cast("long").alias("rect_id"))
        .agg(F.sum(F.col("s") * F.col("sign")).cast("long").alias("exact_count"))
        .orderBy("rect_id")
    )



@register(
    "missing_days_users",
    """
WITH spans AS (
  SELECT user_id, min(cast(ts as date)) AS d0, max(cast(ts as date)) AS d1,
         cast(count(DISTINCT cast(ts as date)) as bigint) AS active_days
  FROM events GROUP BY user_id
)
SELECT user_id, d0 AS first_day, d1 AS last_day,
       cast(d1 - d0 + 1 as bigint) AS span_days,
       active_days,
       cast((d1 - d0 + 1) - active_days as bigint) AS missing_days,
       cast(((d1 - d0 + 1) - active_days) * 1000 // (d1 - d0 + 1) as bigint) AS gap_milli
FROM spans ORDER BY user_id
""",
)
def missing_days_users(spark, sf_dir):
    """Per-user activity-coverage audit: span between first and last
    active day vs DISTINCT active days — the missing-day count and
    milli gap rate that segment "daily habit" users from sporadic
    ones, and the denominator sanity check every retention analysis
    needs before dividing by days. Arithmetic is pure date-integer
    (span = d1 − d0 + 1), no calendar spine materialized — the
    identity missing = span − distinct_active replaces the
    generate-days + anti-join formulation with one hash agg, which is
    the version that survives 10^12 rows. Scale shape: one user_id
    hash agg with a distinct-date sub-aggregate; shuffle ∝ events
    once."""
    e = load(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
        F.countDistinct(F.to_date("ts")).cast("long").alias("active_days"),
    )
    span_days = (F.datediff(F.col("d1"), F.col("d0")) + 1).cast("long")
    return spans.select(
        "user_id",
        F.col("d0").alias("first_day"),
        F.col("d1").alias("last_day"),
        span_days.alias("span_days"),
        "active_days",
        (span_days - F.col("active_days")).cast("long").alias("missing_days"),
        F.expr(
            "cast((datediff(d1, d0) + 1 - active_days) * 1000"
            " div (datediff(d1, d0) + 1) as bigint)"
        ).alias("gap_milli"),
    ).orderBy("user_id")



@register("linear_reference_customers", _linear_ref_oracle())
def linear_reference_customers(spark, sf_dir):
    """Linear referencing (ST_LineLocatePoint in length units): after
    snapping each point to its nearest boundary edge, report the
    CHAINAGE — distance along the ring from its first vertex to the
    snapped point — the along-route measure every transport/pipeline
    schema keys assets by. Chainage = (window cumsum of edge lengths
    BEFORE the winning edge, in deterministic edge order) + distance
    from the edge start to the QUANTIZED snap ticks; every sqrt is a
    correctly-rounded IEEE op and the cumsum order is pinned by the
    window, so both engines agree bit-for-bit before the final tick
    rounding. Scale shape: the snap itself is the zero-join broadcast
    fold of snap_to_edge_customers; the chainage adds one window over
    the EDGE DIM and one dim equi-join."""
    from gipspark.operators.distance import _polygon_edges, snap_to_edge

    pts = _cust_pts(spark, sf_dir)
    snapped = snap_to_edge(pts, ORACLE_POLYGONS, key_col="c_custkey").select(
        "c_custkey",
        "nearest_poly",
        "edge_idx",
        "d2_ticks",
        F.round(F.col("snap_lon") * 1000000.0, 0).cast("long").alias("snap_lon_ticks"),
        F.round(F.col("snap_lat") * 1000000.0, 0).cast("long").alias("snap_lat_ticks"),
    )
    edges = spark.createDataFrame(
        _polygon_edges(ORACLE_POLYGONS),
        "poly_id long, edge_idx long, x1 double, y1 double, x2 double, y2 double",
    )
    wlen = (
        Window.partitionBy("poly_id")
        .orderBy("edge_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg_len = F.sqrt(
        (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
        + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
    )
    elen = edges.select(
        F.col("poly_id").alias("nearest_poly"),
        "edge_idx",
        "x1",
        "y1",
        F.coalesce(F.sum(seg_len).over(wlen), F.lit(0.0)).alias("cum_before"),
    )
    sx = F.col("snap_lon_ticks") / 1000000.0
    sy = F.col("snap_lat_ticks") / 1000000.0
    chain = F.col("cum_before") + F.sqrt(
        (sx - F.col("x1")) * (sx - F.col("x1")) + (sy - F.col("y1")) * (sy - F.col("y1"))
    )
    return (
        snapped.join(F.broadcast(elen), ["nearest_poly", "edge_idx"])
        .select(
            "c_custkey",
            "nearest_poly",
            "edge_idx",
            "d2_ticks",
            F.round(chain * 1000000.0, 0).cast("long").alias("chainage_ticks"),
        )
        .orderBy("c_custkey")
    )



@register(
    "price_index_monthly",
    f"""
WITH pm AS (
  SELECT l.l_partkey AS part, year(o.o_orderdate) * 100 + month(o.o_orderdate) AS ym,
         cast(sum(cast(l.l_quantity as bigint)) as bigint) AS qty,
         cast(sum(cast(l.l_extendedprice as decimal(18,2))) * 100 as bigint) AS rev_cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY part, ym
), base AS (
  SELECT part, qty AS q0, rev_cents AS r0 FROM pm WHERE ym = {_PIDX_BASE}
), matched AS (
  SELECT pm.ym, pm.part, b.r0 AS w,
         cast(pm.rev_cents * b.q0 * 1000000 // (pm.qty * b.r0) as bigint) AS rel_micro
  FROM pm JOIN base b ON pm.part = b.part
  WHERE pm.ym != {_PIDX_BASE}
)
SELECT cast(ym as bigint) AS ym,
       cast(count(*) as bigint) AS n_matched,
       cast(sum(w) as bigint) AS w_total,
       cast(sum(w * rel_micro) // sum(w) as bigint) AS laspeyres_micro
FROM matched GROUP BY ym ORDER BY ym
""",
)
def price_index_monthly(spark, sf_dir):
    """Matched-model Laspeyres price index per month (base
    {_PIDX_BASE}): the weighted arithmetic mean of unit-value price
    relatives with base-period expenditure weights — the identity
    Σw·(p_t/p_0)/Σw with w = p₀q₀ that IS Laspeyres, but computed so
    every step is integer-exact: unit values never exist as floats
    (the relative cross-multiplies rev_t·q₀/(q_t·rev₀) into one floor
    micro division; quantities are integral in this schema, revenues
    decimal cents). Only parts traded in both base and current month
    enter — n_matched exposes the matched-model coverage that real
    CPI pipelines must report. Scale shape: one orderkey equi-join +
    one (part, month) hash agg, then a part-keyed join against the
    base-month dim."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    pm = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("l_partkey").alias("part"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
            (F.sum(F.col("l_extendedprice").cast(DEC)) * 100)
            .cast("long")
            .alias("rev_cents"),
        )
    )
    base = pm.filter(F.col("ym") == _PIDX_BASE).select(
        "part", F.col("qty").alias("q0"), F.col("rev_cents").alias("r0")
    )
    matched = (
        pm.filter(F.col("ym") != _PIDX_BASE)
        .join(F.broadcast(base), "part")
        .select(
            "ym",
            F.col("r0").alias("w"),
            F.expr(
                "cast(rev_cents * q0 * 1000000 div (qty * r0) as bigint)"
            ).alias("rel_micro"),
        )
    )
    return (
        matched.groupBy(F.col("ym").cast("long").alias("ym"))
        .agg(
            F.count("*").cast("long").alias("n_matched"),
            F.sum("w").cast("long").alias("w_total"),
            F.expr("cast(sum(w * rel_micro) div sum(w) as bigint)").alias(
                "laspeyres_micro"
            ),
        )
        .orderBy("ym")
    )



@register(
    "region_shape_metrics",
    f"""
WITH RECURSIVE pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_SHAPE_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_SHAPE_GRID}) as int) AS gy
  FROM pts GROUP BY gx, gy
), ids AS (
  SELECT gx, gy, cast(gx as bigint) * 1000 + gy AS id FROM cells
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM ids a JOIN ids b ON (abs(a.gx - b.gx) + abs(a.gy - b.gy)) = 1 AND a.id < b.id
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b AS src, id_a AS dst FROM pairs
), reach(node, r) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT re.node, e.dst FROM reach re JOIN edges e ON re.r = e.src
  WHERE e.dst <> re.node
), lbl AS (
  SELECT node AS id, least(node, min(r)) AS region_id FROM reach GROUP BY node
), full_lbl AS (
  SELECT i.gx, i.gy, i.id, coalesce(l.region_id, i.id) AS region_id
  FROM ids i LEFT JOIN lbl l ON l.id = i.id
), nbcount AS (
  SELECT f.id, f.region_id, cast(count(g.id) as bigint) AS n_nb
  FROM full_lbl f LEFT JOIN full_lbl g
    ON (abs(f.gx - g.gx) + abs(f.gy - g.gy)) = 1
  GROUP BY f.id, f.region_id
)
SELECT region_id,
       cast(count(*) as bigint) AS area_cells,
       cast(sum(4 - n_nb) as bigint) AS perimeter_edges,
       cast(count(*) * 16 * 1000000 // (sum(4 - n_nb) * sum(4 - n_nb)) as bigint)
         AS compactness_micro
FROM nbcount GROUP BY region_id ORDER BY region_id
""",
)
def region_shape_metrics(spark, sf_dir):
    """Per-region shape metrics over the labeled customer lattice:
    area (cells), perimeter (exposed rook edges, 4 − occupied
    neighbors per cell), and the lattice isoperimetric quotient
    16·A/P² in micro ticks (1.0 for a perfect square, →0 for
    filaments) — the landscape-ecology patch-shape layer on top of
    raster_regions_cells' labels (landscape_edge_metrics measures the
    class mosaic; this measures each PATCH). Labels come from the same
    pointer-jumping components; the neighbor count is one more
    offset-explode equi-join. All integers. Scale shape: bounded
    lattice joins, ⌈log d⌉ label rounds, two hash aggs."""
    from gipspark.operators.components import connected_components
    from gipspark.operators.morans import ROOK_OFFSETS, cell_counts

    pts = load(spark, sf_dir, "customer").select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    ids = cell_counts(pts, _SHAPE_GRID).select(
        "gx",
        "gy",
        (F.col("gx").cast("long") * 1000 + F.col("gy")).alias("id"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ROOK_OFFSETS
        ]
    )
    nb = ids.select("id", "gx", "gy", F.explode(offs).alias("o")).select(
        "id",
        (F.col("gx") + F.col("o.dx")).alias("ngx"),
        (F.col("gy") + F.col("o.dy")).alias("ngy"),
    )
    occ = ids.select(F.col("gx").alias("ngx"), F.col("gy").alias("ngy"), F.col("id").alias("nid"))
    nbcount = (
        nb.join(occ, ["ngx", "ngy"], "left")
        .groupBy("id")
        .agg(F.count("nid").cast("long").alias("n_nb"))
    )
    pairs = nb.join(occ, ["ngx", "ngy"]).filter(F.col("id") < F.col("nid")).select(
        F.col("id").alias("id_a"), F.col("nid").alias("id_b")
    )
    lbl = connected_components(pairs).select(
        F.col("node").alias("id"), F.col("comp").alias("comp")
    )
    labeled = ids.select("id").join(lbl, "id", "left").select(
        "id", F.coalesce("comp", "id").alias("region_id")
    )
    return (
        labeled.join(nbcount, "id")
        .groupBy("region_id")
        .agg(
            F.count("*").cast("long").alias("area_cells"),
            F.sum(F.lit(4) - F.col("n_nb")).cast("long").alias("perimeter_edges"),
        )
        .select(
            "region_id",
            "area_cells",
            "perimeter_edges",
            F.expr(
                "cast(area_cells * 16 * 1000000 div"
                " (perimeter_edges * perimeter_edges) as bigint)"
            ).alias("compactness_micro"),
        )
        .orderBy("region_id")
    )



@register(
    "cronbach_alpha_events",
    """
WITH items AS (
  SELECT user_id,
         cast(count(*) FILTER (WHERE event_type = 'view') as bigint) AS x1,
         cast(count(*) FILTER (WHERE event_type = 'click') as bigint) AS x2,
         cast(count(*) FILTER (WHERE event_type = 'purchase') as bigint) AS x3
  FROM events GROUP BY user_id
), moments AS (
  SELECT cast(count(*) as bigint) AS n,
         cast(sum(x1) as bigint) AS s1, cast(sum(x1 * x1) as bigint) AS q1,
         cast(sum(x2) as bigint) AS s2, cast(sum(x2 * x2) as bigint) AS q2,
         cast(sum(x3) as bigint) AS s3, cast(sum(x3 * x3) as bigint) AS q3,
         cast(sum(x1 + x2 + x3) as bigint) AS st,
         cast(sum((x1 + x2 + x3) * (x1 + x2 + x3)) as bigint) AS qt
  FROM items
)
SELECT n,
       cast((n * q1 - s1 * s1) + (n * q2 - s2 * s2) + (n * q3 - s3 * s3) as bigint) AS item_var_num,
       cast(n * qt - st * st as bigint) AS total_var_num,
       (3.0 / 2.0) * (1.0 - cast((n * q1 - s1 * s1) + (n * q2 - s2 * s2) + (n * q3 - s3 * s3) as double)
                            / cast(n * qt - st * st as double)) AS cronbach_alpha
FROM moments
""",
)
def cronbach_alpha_events(spark, sf_dir):
    """Cronbach's alpha internal-consistency reliability of a 3-item
    "engagement scale" (per-user view / click / purchase counts): α =
    k/(k−1)·(1 − Σvar_item/var_total) — do the three behaviors measure
    one underlying trait? The psychometrics gate before anyone
    averages the three counts into an 'engagement score'. The shared
    1/n² in every variance cancels, so the ratio is the exact integer
    pair Σ(nΣx² − S²) over (nΣt² − T²) and α is one exact double
    expression ((3/2)·(1 − num/den), identical text both engines).
    Scale shape: one user hash agg + one 1-row moment fold — shuffle
    ∝ events once, no join."""
    e = load(spark, sf_dir, "events")
    items = e.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1))
            .cast("long")
            .alias(f"x{i + 1}")
            for i, t in enumerate(_COCHRAN_TYPES)
        ]
    )
    tot = F.col("x1") + F.col("x2") + F.col("x3")
    m = items.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("q1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("q2"),
        F.sum("x3").cast("long").alias("s3"),
        F.sum(F.col("x3") * F.col("x3")).cast("long").alias("q3"),
        F.sum(tot).cast("long").alias("st"),
        F.sum(tot * tot).cast("long").alias("qt"),
    )
    ivar = (
        (F.col("n") * F.col("q1") - F.col("s1") * F.col("s1"))
        + (F.col("n") * F.col("q2") - F.col("s2") * F.col("s2"))
        + (F.col("n") * F.col("q3") - F.col("s3") * F.col("s3"))
    )
    tvar = F.col("n") * F.col("qt") - F.col("st") * F.col("st")
    return m.select(
        "n",
        ivar.cast("long").alias("item_var_num"),
        tvar.cast("long").alias("total_var_num"),
        (
            F.lit(3.0) / F.lit(2.0)
            * (F.lit(1.0) - ivar.cast("double") / tvar.cast("double"))
        ).alias("cronbach_alpha"),
    )



@register(
    "dup_evidence_pairs",
    f"""
WITH base AS (SELECT doc_id, {D.shingles_sql('text', 3)} AS sh FROM documents),
inv AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM base),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sza, b.sz AS szb,
         cast(count(*) as bigint) AS common
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
  HAVING count(*) * 100 >= (a.sz + b.sz - count(*)) * 50
), dfreq AS (
  SELECT s, cast(count(*) as bigint) AS df FROM inv GROUP BY s
), ev AS (
  SELECT p.id_a, p.id_b, i.s, d.df,
         row_number() OVER (PARTITION BY p.id_a, p.id_b ORDER BY d.df ASC, i.s ASC) AS rn
  FROM pairs p
  JOIN inv i ON i.doc_id = p.id_a
  JOIN inv j ON j.doc_id = p.id_b AND j.s = i.s
  JOIN dfreq d ON d.s = i.s
)
SELECT p.id_a, p.id_b, p.common,
       string_agg(e.s, ' | ' ORDER BY e.df ASC, e.s ASC) AS evidence
FROM pairs p JOIN ev e ON p.id_a = e.id_a AND p.id_b = e.id_b AND e.rn <= 3
GROUP BY p.id_a, p.id_b, p.common
ORDER BY p.id_a, p.id_b
""",
)
def dup_evidence_pairs(spark, sf_dir):
    """Dedup EXPLAINABILITY: for every Jaccard ≥ 0.5 trigram pair, the
    three RAREST shared shingles (rarest by corpus document frequency
    — the shingles that actually identify the match, not 'the of a')
    joined into one evidence string — what a curation reviewer sees
    next to a "duplicate" verdict instead of a bare score, and the
    quote-attribution primitive. Determinism: evidence order is
    (df asc, shingle asc), the same pair everywhere. Scale shape: the
    qualifying-pair set is prefix-filter bounded (prefix_jaccard
    family); evidence adds one id-keyed postings join per side + one
    per-pair window top-3 — shuffle ∝ pair shingles."""
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", D.shingles(F.col("text"), 3).alias("sh")).withColumn(
        "sz", F.size("sh")
    )
    inv = base.select("doc_id", "sz", F.explode("sh").alias("s"))
    a = inv.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sza"), "s")
    b = inv.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("szb"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sza", "szb")
        .agg(F.count("*").cast("long").alias("common"))
        .filter(
            F.col("common") * 100
            >= (F.col("sza") + F.col("szb") - F.col("common")) * 50
        )
        .select("id_a", "id_b", "common")
    )
    dfreq = inv.groupBy("s").agg(F.count("*").cast("long").alias("df"))
    ia = inv.select(F.col("doc_id").alias("id_a"), "s")
    ib = inv.select(F.col("doc_id").alias("id_b"), "s")
    ev = (
        pairs.join(ia, "id_a")
        .join(ib, ["id_b", "s"])
        .join(dfreq, "s")
        .select("id_a", "id_b", "common", "s", "df")
    )
    w = Window.partitionBy("id_a", "id_b").orderBy(F.asc("df"), F.asc("s"))
    top3 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    return (
        top3.groupBy("id_a", "id_b", "common")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("df", "s"))),
                    lambda x: x.getField("s"),
                ),
                " | ",
            ).alias("evidence")
        )
        .orderBy("id_a", "id_b")
    )



@register(
    "rfm_migration_matrix",
    f"""
WITH per_half AS (
  SELECT user_id,
         cast(count(*) FILTER (WHERE event_type = 'purchase' AND cast(ts as date) < DATE '{_RFM_SPLIT}') as bigint) AS p1,
         cast(count(*) FILTER (WHERE event_type = 'purchase' AND cast(ts as date) >= DATE '{_RFM_SPLIT}') as bigint) AS p2
  FROM events GROUP BY user_id
), seg AS (
  SELECT user_id,
         CASE WHEN p1 = 0 THEN 'none' WHEN p1 <= 4 THEN 'low' ELSE 'high' END AS seg_h1,
         CASE WHEN p2 = 0 THEN 'none' WHEN p2 <= 4 THEN 'low' ELSE 'high' END AS seg_h2
  FROM per_half
), mat AS (
  SELECT seg_h1, seg_h2, cast(count(*) as bigint) AS n_users FROM seg GROUP BY seg_h1, seg_h2
), rows_t AS (
  SELECT seg_h1, cast(sum(n_users) as bigint) AS row_total FROM mat GROUP BY seg_h1
)
SELECT m.seg_h1, m.seg_h2, m.n_users, r.row_total,
       cast(m.n_users * 1000000 // r.row_total as bigint) AS share_micro
FROM mat m JOIN rows_t r ON m.seg_h1 = r.seg_h1
ORDER BY m.seg_h1, m.seg_h2
""",
)
def rfm_migration_matrix(spark, sf_dir):
    """Segment migration matrix: users bucketed by purchase frequency
    (none / low / high) in each calendar half, cross-tabulated — the
    retention-team view of WHERE the high-value users go (churn to
    'none', decay to 'low', or hold), which rfm_segments_users (one
    static snapshot) cannot show. The spatial_markov mobility kernel
    applied to the customer dimension. Pure conditional counting; row-
    conditional shares in exact floor micro. Scale shape: one user
    hash agg with filtered counts + one 3×3 matrix rollup — shuffle
    ∝ events once."""
    e = load(spark, sf_dir, "events")
    split = F.lit(_RFM_SPLIT).cast("date")
    per_half = e.groupBy("user_id").agg(
        F.count(
            F.when(
                (F.col("event_type") == "purchase") & (F.to_date("ts") < split), 1
            )
        )
        .cast("long")
        .alias("p1"),
        F.count(
            F.when(
                (F.col("event_type") == "purchase") & (F.to_date("ts") >= split), 1
            )
        )
        .cast("long")
        .alias("p2"),
    )

    def seg(c: str) -> F.Column:
        return (
            F.when(F.col(c) == 0, "none").when(F.col(c) <= 4, "low").otherwise("high")
        )

    mat = per_half.select(
        seg("p1").alias("seg_h1"), seg("p2").alias("seg_h2")
    ).groupBy("seg_h1", "seg_h2").agg(F.count("*").cast("long").alias("n_users"))
    rows_t = mat.groupBy("seg_h1").agg(F.sum("n_users").cast("long").alias("row_total"))
    return (
        mat.join(F.broadcast(rows_t), "seg_h1")
        .select(
            "seg_h1",
            "seg_h2",
            "n_users",
            "row_total",
            F.expr("cast(n_users * 1000000 div row_total as bigint)").alias(
                "share_micro"
            ),
        )
        .orderBy("seg_h1", "seg_h2")
    )



@register(
    "ring_profile_events",
    f"""
WITH raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS n
  FROM raw GROUP BY gx, gy
), center AS (
  SELECT gx AS cx, gy AS cy FROM cells
  ORDER BY n DESC, gx ASC, gy ASC LIMIT 1
)
SELECT cast(greatest(abs(c.gx - ctr.cx), abs(c.gy - ctr.cy)) as bigint) AS ring,
       cast(count(*) as bigint) AS n_cells,
       cast(sum(c.n) as bigint) AS points,
       cast(sum(c.n) * 1000 // count(*) as bigint) AS density_milli
FROM cells c, center ctr
GROUP BY ring ORDER BY ring
""",
)
def ring_profile_events(spark, sf_dir):
    """Radial density profile around the single densest cell: point
    counts and per-cell density by Chebyshev ring — the monocentric
    decay curve (how fast does activity fall off from the hotspot
    core?) that distinguishes one dominant center from polycentric
    sprawl, feeding the gravity/huff family's distance-decay
    exponent choice. The center is the deterministic argmax cell
    (count desc, gx, gy); rings are pure integer Chebyshev distance
    on the lattice. Scale shape: events fold once; a 1-row center
    anchor broadcast re-keys the bounded cell table; one ring hash
    agg."""
    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(
            C.derived_lat(F.col("event_id")).alias("lat"),
            C.derived_lon(F.col("event_id")).alias("lon"),
        )
        .groupBy(
            F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_DT_GRID)).cast("int").alias("gx"),
            F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_DT_GRID)).cast("int").alias("gy"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    center = cells.orderBy(F.desc("n"), F.asc("gx"), F.asc("gy")).limit(1).select(
        F.col("gx").alias("cx"), F.col("gy").alias("cy")
    )
    ring = F.greatest(
        F.abs(F.col("gx") - F.col("cx")), F.abs(F.col("gy") - F.col("cy"))
    ).cast("long")
    return (
        cells.crossJoin(F.broadcast(center))
        .groupBy(ring.alias("ring"))
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("n").cast("long").alias("points"),
        )
        .select(
            "ring",
            "n_cells",
            "points",
            F.expr("cast(points * 1000 div n_cells as bigint)").alias("density_milli"),
        )
        .orderBy("ring")
    )



@register(
    "relational_division_suppliers",
    f"""
WITH basket(pk) AS (VALUES {",".join(f"({p})" for p in _DIVISION_BASKET)}),
hits AS (
  SELECT l_suppkey AS suppkey, cast(count(DISTINCT l_partkey) as bigint) AS n_hit,
         cast(count(*) as bigint) AS n_shipments
  FROM lineitem WHERE l_partkey IN ({",".join(str(p) for p in _DIVISION_BASKET)})
  GROUP BY l_suppkey
)
SELECT s.s_suppkey AS suppkey, s.s_name, h.n_hit, h.n_shipments
FROM hits h JOIN supplier s ON h.suppkey = s.s_suppkey
WHERE h.n_hit = {len(_DIVISION_BASKET)}
ORDER BY suppkey
""",
)
def relational_division_suppliers(spark, sf_dir):
    """Relational DIVISION (the ÷ of Codd's algebra): suppliers who
    have shipped EVERY part in a literal basket — the "for all"
    quantifier SQL lacks natively, expressed the scale-correct way:
    filter to basket parts (pushed to the scan), one distinct-count
    per supplier, keep counts equal to the basket size. No double
    NOT EXISTS, no anti-join chain — at 10^12 rows the predicate-
    pushdown + single hash agg form is the only one that survives.
    Completes the set-ops surface (union/intersect/except exist;
    division didn't). Output joins supplier names for usability."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    hits = (
        li.filter(F.col("l_partkey").isin(_DIVISION_BASKET))
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(
            F.countDistinct("l_partkey").cast("long").alias("n_hit"),
            F.count("*").cast("long").alias("n_shipments"),
        )
        .filter(F.col("n_hit") == len(_DIVISION_BASKET))
    )
    return (
        hits.join(
            F.broadcast(s.select(F.col("s_suppkey").alias("suppkey"), "s_name")),
            "suppkey",
        )
        .select("suppkey", "s_name", "n_hit", "n_shipments")
        .orderBy("suppkey")
    )



@register(
    "safety_stock_parts",
    """
WITH daily AS (
  SELECT l_partkey AS part, cast(l_shipdate as date) AS d,
         cast(sum(cast(l_quantity as bigint)) as bigint) AS q
  FROM lineitem GROUP BY part, d
), moments AS (
  SELECT part, cast(count(*) as bigint) AS n_days,
         cast(sum(q) as bigint) AS s, cast(sum(q * q) as bigint) AS q2
  FROM daily GROUP BY part
), top AS (
  SELECT part, n_days, s, q2 FROM moments WHERE n_days >= 10
  ORDER BY s DESC, part ASC LIMIT 20
)
SELECT part, n_days, s AS total_qty,
       cast(n_days * q2 - s * s as bigint) AS var_num,
       1.645 * sqrt(cast(n_days * q2 - s * s as double)) / cast(n_days as double)
             * sqrt(7.0) AS safety_stock
FROM top ORDER BY s DESC, part ASC
""",
)
def safety_stock_parts(spark, sf_dir):
    """Safety stock z·σ_d·√L (service level 95% → z = 1.645 literal,
    lead time L = 7 days) for the 20 highest-volume parts with ≥10
    active ship days — the inventory-planning op that turns the demand
    history into a reorder buffer. Daily demand variance is carried as
    the exact integer pair (nΣq² − S², n²) and σ_d = √num / n — one
    correctly-rounded sqrt, multiplications in pinned order, both
    engines textually identical. Scale shape: one (part, day) hash
    agg + one part rollup + one top-k — shuffle ∝ lineitems once."""
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.col("l_partkey").alias("part"), F.to_date("l_shipdate").alias("d")
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    moments = daily.groupBy("part").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("q2"),
    )
    top = (
        moments.filter(F.col("n_days") >= 10)
        .orderBy(F.desc("s"), F.asc("part"))
        .limit(20)
    )
    var_num = (F.col("n_days") * F.col("q2") - F.col("s") * F.col("s")).cast("long")
    ss = (
        F.lit(1.645)
        * F.sqrt(var_num.cast("double"))
        / F.col("n_days").cast("double")
        * F.sqrt(F.lit(7.0))
    )
    return top.select(
        "part",
        "n_days",
        F.col("s").alias("total_qty"),
        var_num.alias("var_num"),
        ss.alias("safety_stock"),
    ).orderBy(F.desc("total_qty"), F.asc("part"))



@register(
    "trailing_median_events",
    """
WITH v AS (
  SELECT event_id, user_id,
         cast(round(value * 100.0, 0) as bigint) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         list(cast(round(value * 100.0, 0) as bigint))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS win
  FROM events
)
SELECT event_id, user_id, cents,
       cast(list_sort(win)[3] as bigint) AS trailing_median_cents
FROM v WHERE rn >= 5 ORDER BY event_id
""",
)
def trailing_median_events(spark, sf_dir):
    """EXACT trailing median (not approx_percentile) of each user's
    last 5 event values — the robust rolling baseline that a mean
    (trailing_window_features) lets one outlier destroy; the spike
    detector's denominator of choice. The frame is pinned to exactly
    5 rows (rows with fewer are excluded), so the median is the 3rd
    order statistic of a 5-element integer-cents array — collected by
    a window, sorted, indexed: no interpolation, no doubles, and the
    window-collect stays bounded because the FRAME bounds it. Scale
    shape: one user-partitioned window carrying a constant-size
    array — shuffle ∝ events once."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-4, Window.currentRow)
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    v = e.select(
        "event_id",
        "user_id",
        cents.alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.collect_list(cents).over(wf).alias("win"),
    )
    return (
        v.filter(F.col("rn") >= 5)
        .select(
            "event_id",
            "user_id",
            "cents",
            F.element_at(F.array_sort("win"), 3).cast("long").alias(
                "trailing_median_cents"
            ),
        )
        .orderBy("event_id")
    )



@register(
    "response_time_matrix",
    f"""
WITH base AS (
  SELECT user_id, event_type, ts,
         {" ,".join(
            f"min(CASE WHEN event_type = '{t}' THEN epoch_us(ts) END)"
            f" OVER (PARTITION BY user_id ORDER BY ts, event_id"
            f" ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt_{t}"
            for t in _EVENT_TYPES
         )}
  FROM events
), gaps AS (
  {" UNION ALL ".join(
      f"SELECT event_type AS type_from, '{t}' AS type_to,"
      f" cast((nxt_{t} - epoch_us(ts)) // 1000000 as bigint) AS gap_s"
      f" FROM base WHERE nxt_{t} IS NOT NULL"
      for t in _EVENT_TYPES
  )}
), ranked AS (
  SELECT type_from, type_to, gap_s,
         row_number() OVER (PARTITION BY type_from, type_to ORDER BY gap_s, type_from) AS rn,
         count(*) OVER (PARTITION BY type_from, type_to) AS n
  FROM gaps
)
SELECT type_from, type_to, cast(max(n) as bigint) AS n_gaps,
       cast(max(CASE WHEN rn = (n + 1) // 2 THEN gap_s END) as bigint) AS median_lower_s,
       cast(sum(gap_s) as bigint) AS sum_gap_s
FROM ranked GROUP BY type_from, type_to ORDER BY type_from, type_to
""",
)
def response_time_matrix(spark, sf_dir):
    """Inter-event-type response-time matrix: for every ordered type
    pair (A→B), the LOWER-median and total of "seconds from an A to
    the same user's next B" — the latency table behind "how long after
    an error does the next purchase happen" ops questions, computed
    for all 25 pairs in ONE pass: five conditional forward-looking
    min windows share a single user partitioning, then a 25-group
    rank picks the exact order statistic at (n+1)//2 (lower median —
    pure integers, no interpolation). Scale shape: one user window
    stack (shuffle ∝ events once), one 25-group window + agg on the
    gap table."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    us = F.expr("unix_micros(cast(ts as timestamp))")
    base = e.select(
        "user_id",
        "event_type",
        us.alias("us"),
        *[
            F.min(
                F.when(F.col("event_type") == t, us)
            ).over(w).alias(f"nxt_{t}")
            for t in _EVENT_TYPES
        ],
    )
    gaps = None
    for t in _EVENT_TYPES:
        g = base.filter(F.col(f"nxt_{t}").isNotNull()).select(
            F.col("event_type").alias("type_from"),
            F.lit(t).alias("type_to"),
            F.expr(f"cast((nxt_{t} - us) div 1000000 as bigint)").alias("gap_s"),
        )
        gaps = g if gaps is None else gaps.unionByName(g)
    wr = Window.partitionBy("type_from", "type_to").orderBy("gap_s", "type_from")
    wn = Window.partitionBy("type_from", "type_to")
    ranked = gaps.select(
        "type_from",
        "type_to",
        "gap_s",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return (
        ranked.groupBy("type_from", "type_to")
        .agg(
            F.max("n").cast("long").alias("n_gaps"),
            F.max(F.when(F.expr("rn = (n + 1) div 2"), F.col("gap_s")))
            .cast("long")
            .alias("median_lower_s"),
            F.sum("gap_s").cast("long").alias("sum_gap_s"),
        )
        .orderBy("type_from", "type_to")
    )



@register(
    "user_gini_events",
    """
WITH vals AS (
  SELECT user_id, cast(round(value * 100.0, 0) as bigint) AS cents,
         row_number() OVER (PARTITION BY user_id ORDER BY round(value * 100.0, 0), event_id) AS i,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events WHERE value > 0
)
SELECT user_id, cast(max(n) as bigint) AS n_events,
       cast(sum(cents) as bigint) AS total_cents,
       cast(2 * sum(i * cents) - (max(n) + 1) * sum(cents) as bigint) AS gini_num,
       cast(max(n) * sum(cents) as bigint) AS gini_den,
       cast(2 * sum(i * cents) - (max(n) + 1) * sum(cents) as double)
         / cast(max(n) * sum(cents) as double) AS gini
FROM vals GROUP BY user_id HAVING max(n) >= 10
ORDER BY user_id
""",
)
def user_gini_events(spark, sf_dir):
    """WITHIN-user value inequality: each user's Gini over their own
    event values — G = (2Σi·x_(i) − (n+1)Σx)/(n·Σx) with x sorted and
    ranked inside the user partition — the whale-shape detector that
    separates "steady spender" (G→0) from "one giant purchase among
    noise" (G→1), per account, where the corpus-level
    gini_concentration_orders sees only the aggregate. Values
    quantize to integer cents, ranks are tie-broken row_numbers, so
    numerator and denominator are exact bigints and G one exact
    division. Scale shape: one user-partitioned sort window + one
    hash agg — shuffle ∝ events once."""
    e = load(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = F.round(F.col("value") * 100.0, 0).cast("long")
    w = Window.partitionBy("user_id").orderBy(
        F.round(F.col("value") * 100.0, 0), "event_id"
    )
    wn = Window.partitionBy("user_id")
    vals = e.select(
        "user_id",
        cents.alias("cents"),
        F.row_number().over(w).alias("i"),
        F.count("*").over(wn).alias("n"),
    )
    gnum = (
        F.lit(2) * F.sum(F.col("i") * F.col("cents"))
        - (F.max("n") + 1) * F.sum("cents")
    ).cast("long")
    gden = (F.max("n") * F.sum("cents")).cast("long")
    return (
        vals.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
            gnum.alias("gini_num"),
            gden.alias("gini_den"),
            (gnum.cast("double") / gden.cast("double")).alias("gini"),
        )
        .filter(F.col("n_events") >= 10)
        .orderBy("user_id")
    )



@register(
    "quadrant_segments_users",
    """
WITH per_user AS (
  SELECT user_id, cast(count(*) as bigint) AS n_events,
         cast(sum(cast(value as decimal(18,2))) as decimal(18,2)) AS total_v
  FROM events GROUP BY user_id
), ranked AS (
  SELECT user_id, n_events, total_v,
         row_number() OVER (ORDER BY n_events, user_id) AS ra,
         row_number() OVER (ORDER BY total_v, user_id) AS rb,
         count(*) OVER () AS n
  FROM per_user
), meds AS (
  SELECT max(CASE WHEN ra = (n + 1) // 2 THEN n_events END) AS med_events,
         max(CASE WHEN rb = (n + 1) // 2 THEN total_v END) AS med_value
  FROM ranked
), tagged AS (
  SELECT r.user_id,
         (CASE WHEN r.n_events > m.med_events THEN 'hi' ELSE 'lo' END) AS activity,
         (CASE WHEN r.total_v > m.med_value THEN 'hi' ELSE 'lo' END) AS value_band,
         r.n_events, r.total_v
  FROM ranked r, meds m
)
SELECT activity, value_band,
       cast(count(*) as bigint) AS n_users,
       cast(sum(n_events) as bigint) AS events_total,
       cast(sum(total_v) as double) AS value_total
FROM tagged GROUP BY activity, value_band ORDER BY activity, value_band
""",
)
def quadrant_segments_users(spark, sf_dir):
    """2×2 median-split segmentation (the BCG-matrix op): users split
    at the EXACT lower-median of activity (event count) and of total
    value, then the four quadrants profiled — engaged-and-valuable vs
    noisy-but-cheap etc., the first cut every growth team draws.
    Medians are order statistics at (n+1)//2 via tie-broken
    row_numbers (no approx_percentile, no interpolation); value sums
    decimal(18,2). Scale shape: one user hash agg, two global rank
    windows over the USER DIM (two-phase-safe at this cardinality),
    a 1-row median anchor, one 4-group rollup."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast(DEC)).cast(DEC).alias("total_v"),
    )
    ranked = per_user.select(
        "user_id",
        "n_events",
        "total_v",
        F.row_number().over(Window.orderBy("n_events", "user_id")).alias("ra"),
        F.row_number().over(Window.orderBy("total_v", "user_id")).alias("rb"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    meds = ranked.agg(
        F.max(F.when(F.expr("ra = (n + 1) div 2"), F.col("n_events"))).alias(
            "med_events"
        ),
        F.max(F.when(F.expr("rb = (n + 1) div 2"), F.col("total_v"))).alias(
            "med_value"
        ),
    )
    tagged = ranked.crossJoin(F.broadcast(meds)).select(
        F.when(F.col("n_events") > F.col("med_events"), "hi").otherwise("lo").alias(
            "activity"
        ),
        F.when(F.col("total_v") > F.col("med_value"), "hi").otherwise("lo").alias(
            "value_band"
        ),
        "n_events",
        "total_v",
    )
    return (
        tagged.groupBy("activity", "value_band")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("events_total"),
            F.sum("total_v").cast("double").alias("value_total"),
        )
        .orderBy("activity", "value_band")
    )



@register(
    "props_numeral_benford",
    """
WITH nums AS (
  SELECT cast(json_extract_string(props, '$.k') as int) AS k
  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
), digits AS (
  SELECT cast(substr(cast(k as varchar), 1, 1) as int) AS d,
         cast(count(*) as bigint) AS n
  FROM nums WHERE k >= 1 GROUP BY substr(cast(k as varchar), 1, 1)
), tot AS (SELECT cast(sum(n) as bigint) AS total FROM digits)
SELECT cast(d.d as bigint) AS lead_digit, d.n, t.total,
       cast(d.n * 1000000 // t.total as bigint) AS observed_micro
FROM digits d, tot t ORDER BY lead_digit
""",
)
def props_numeral_benford(spark, sf_dir):
    """Benford's-law forensics on the numeric payloads of the event
    props JSON: the leading-digit distribution of the extracted k
    values — a fabricated or template-generated metric stream bends
    away from log₁₀(1+1/d) (and a uniform generator, like this one,
    shows the characteristic flat-ish signature: the AUDIT is the
    operator, the verdict belongs to the reader) — complementing
    benford_orders, which audits a typed numeric column rather than a
    semi-structured payload. JSON extraction is the repo's
    established cross-engine pair (get_json_object /
    json_extract_string, the json_props_extract contract); shares in
    exact floor micro. Scale shape: one scan-stage JSON extract + one
    9-row hash agg + a 1-row total anchor."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    nums = e.select(k.alias("k")).filter(F.col("k").isNotNull() & (F.col("k") >= 1))
    digits = nums.groupBy(
        F.substring(F.col("k").cast("string"), 1, 1).cast("int").alias("d")
    ).agg(F.count("*").cast("long").alias("n"))
    tot = digits.agg(F.sum("n").cast("long").alias("total"))
    return (
        digits.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").cast("long").alias("lead_digit"),
            "n",
            "total",
            F.expr("cast(n * 1000000 div total as bigint)").alias("observed_micro"),
        )
        .orderBy("lead_digit")
    )



@register(
    "flow_asymmetry_od",
    f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), raw AS (
  SELECT user_id, ts, event_id,
         cast(floor((lon + 180.0) / {_OD_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_OD_GRID}) as int) AS gy
  FROM pts
), seq AS (
  SELECT user_id, gx, gy,
         lead(gx) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ngx,
         lead(gy) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ngy
  FROM raw
), flows AS (
  SELECT cast(gx as bigint) * 1000 + gy AS o, cast(ngx as bigint) * 1000 + ngy AS d,
         cast(count(*) as bigint) AS f
  FROM seq WHERE ngx IS NOT NULL AND (gx != ngx OR gy != ngy)
  GROUP BY o, d
), sym AS (
  SELECT a.o, a.d, a.f AS f_od, coalesce(b.f, 0) AS f_do
  FROM flows a LEFT JOIN flows b ON a.o = b.d AND a.d = b.o
  WHERE a.o < a.d
)
SELECT o AS cell_o, d AS cell_d, f_od, cast(f_do as bigint) AS f_do,
       cast(abs(f_od - f_do) * 1000000 // (f_od + f_do) as bigint) AS asymmetry_micro
FROM sym WHERE f_od + f_do >= 5
ORDER BY cell_o, cell_d
""",
)
def flow_asymmetry_od(spark, sf_dir):
    """Directional asymmetry of origin–destination flows: for each
    unordered cell pair with ≥5 total transitions, |f_od − f_do| /
    (f_od + f_do) in exact micro — commuting corridors are symmetric
    (→0), migration/funnel corridors are one-way (→10⁶); od_matrix
    gives the flows, this gives the DIRECTION diagnosis the gravity
    model (symmetric by construction) silently erases. One lead
    window builds transitions, one hash agg the flow table, one
    reversed-key self-equi-join the asymmetry. Scale shape: shuffle ∝
    events once, then the bounded OD dim."""
    e = load(spark, sf_dir, "events")
    raw = e.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(
            (C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_OD_GRID)
        ).cast("int").alias("gx"),
        F.floor(
            (F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_OD_GRID)
        ).cast("int").alias("gy"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = raw.select(
        "gx",
        "gy",
        F.lead("gx").over(w).alias("ngx"),
        F.lead("gy").over(w).alias("ngy"),
    ).filter(
        F.col("ngx").isNotNull()
        & ((F.col("gx") != F.col("ngx")) | (F.col("gy") != F.col("ngy")))
    )
    flows = seq.groupBy(
        (F.col("gx").cast("long") * 1000 + F.col("gy")).alias("o"),
        (F.col("ngx").cast("long") * 1000 + F.col("ngy")).alias("d"),
    ).agg(F.count("*").cast("long").alias("f"))
    a = flows.select("o", "d", F.col("f").alias("f_od"))
    b = flows.select(
        F.col("d").alias("o"), F.col("o").alias("d"), F.col("f").alias("f_do")
    )
    return (
        a.join(b, ["o", "d"], "left")
        .filter(F.col("o") < F.col("d"))
        .select(
            F.col("o").alias("cell_o"),
            F.col("d").alias("cell_d"),
            "f_od",
            F.coalesce("f_do", F.lit(0)).cast("long").alias("f_do"),
        )
        .filter(F.col("f_od") + F.col("f_do") >= 5)
        .select(
            "cell_o",
            "cell_d",
            "f_od",
            "f_do",
            F.expr(
                "cast(abs(f_od - f_do) * 1000000 div (f_od + f_do) as bigint)"
            ).alias("asymmetry_micro"),
        )
        .orderBy("cell_o", "cell_d")
    )



@register(
    "kish_neff_users",
    """
WITH w AS (
  SELECT user_id, cast(count(*) as bigint) AS wt FROM events GROUP BY user_id
)
SELECT cast(count(*) as bigint) AS n_users,
       cast(sum(wt) as bigint) AS sum_w,
       cast(sum(wt * wt) as bigint) AS sum_w_sq,
       cast(sum(wt) * sum(wt) as double) / cast(sum(wt * wt) as double) AS n_eff,
       cast(count(*) * sum(wt * wt) as double)
         / cast(sum(wt) * sum(wt) as double) AS design_effect
FROM w
""",
)
def kish_neff_users(spark, sf_dir):
    """Kish effective sample size n_eff = (Σw)²/Σw² and the matching
    design effect n/n_eff for activity-weighted user analyses — when
    per-user weights (here: event counts) are unequal, every
    "average over users weighted by activity" behaves like a survey of
    only n_eff independent users, and CIs must widen by √deff; this
    is the one-row honesty check that belongs next to every weighted
    mean in this registry. Integer weight moments, two exact double
    divisions. Scale shape: one user hash agg + one 1-row fold —
    shuffle ∝ events once."""
    e = load(spark, sf_dir, "events")
    w = e.groupBy("user_id").agg(F.count("*").cast("long").alias("wt"))
    return w.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("wt").cast("long").alias("sum_w"),
        F.sum(F.col("wt") * F.col("wt")).cast("long").alias("sum_w_sq"),
        (
            (F.sum("wt") * F.sum("wt")).cast("double")
            / F.sum(F.col("wt") * F.col("wt")).cast("double")
        ).alias("n_eff"),
        (
            (F.count("*") * F.sum(F.col("wt") * F.col("wt"))).cast("double")
            / (F.sum("wt") * F.sum("wt")).cast("double")
        ).alias("design_effect"),
    )



@register(
    "part_supply_concentration",
    """
WITH shares AS (
  SELECT l_partkey AS part, l_suppkey AS supp,
         cast(sum(cast(l_quantity as bigint)) as bigint) AS q
  FROM lineitem GROUP BY part, supp
), hhi AS (
  SELECT part,
         cast(count(*) as bigint) AS n_suppliers,
         cast(sum(q) as bigint) AS total_q,
         cast(sum(q * q) as bigint) AS sum_q_sq
  FROM shares GROUP BY part
), top AS (
  SELECT part, n_suppliers, total_q, sum_q_sq,
         cast(sum_q_sq * 1000000 // (total_q * total_q) as bigint) AS hhi_micro
  FROM hhi WHERE total_q >= 100
)
SELECT part, n_suppliers, total_q, hhi_micro,
       (hhi_micro > 500000) AS fragile
FROM top ORDER BY hhi_micro DESC, part ASC LIMIT 20
""",
)
def part_supply_concentration(spark, sf_dir):
    """Supply-base concentration per part: the Herfindahl index of
    supplier quantity shares, HHI = Σs_i² in exact cross-multiplied
    micro (Σq_i²·10⁶ // (Σq)²) — the procurement-risk screen whose
    'fragile' flag (HHI > 0.5 ≈ one supplier owns >70%) is what a
    supply-chain team actually alerts on; herfindahl_lang_source is
    the same index on a corpus axis, this is its operational
    inventory use with a volume floor and a worst-20 cut. All integer
    quantities. Scale shape: one (part, supplier) hash agg + one part
    rollup + one top-k — shuffle ∝ lineitems once."""
    li = load(spark, sf_dir, "lineitem")
    shares = li.groupBy(
        F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp")
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    hhi = shares.groupBy("part").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("q").cast("long").alias("total_q"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sum_q_sq"),
    )
    top = (
        hhi.filter(F.col("total_q") >= 100)
        .select(
            "part",
            "n_suppliers",
            "total_q",
            F.expr(
                "cast(sum_q_sq * 1000000 div (total_q * total_q) as bigint)"
            ).alias("hhi_micro"),
        )
        .orderBy(F.desc("hhi_micro"), F.asc("part"))
        .limit(20)
    )
    return top.select(
        "part",
        "n_suppliers",
        "total_q",
        "hhi_micro",
        (F.col("hhi_micro") > 500000).alias("fragile"),
    ).orderBy(F.desc("hhi_micro"), F.asc("part"))



@register(
    "region_orientation_metrics",
    f"""
WITH RECURSIVE pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), cells AS (
  SELECT cast(floor((lon + 180.0) / {{_SHAPE_GRID}}) as int) AS gx,
         cast(floor((90.0 - lat) / {{_SHAPE_GRID}}) as int) AS gy
  FROM pts GROUP BY gx, gy
), ids AS (
  SELECT gx, gy, cast(gx as bigint) * 1000 + gy AS id FROM cells
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM ids a JOIN ids b ON (abs(a.gx - b.gx) + abs(a.gy - b.gy)) = 1 AND a.id < b.id
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b AS src, id_a AS dst FROM pairs
), reach(node, r) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT re.node, e.dst FROM reach re JOIN edges e ON re.r = e.src
  WHERE e.dst <> re.node
), lbl AS (
  SELECT node AS id, least(node, min(r)) AS region_id FROM reach GROUP BY node
), full_lbl AS (
  SELECT i.gx, i.gy, coalesce(l.region_id, i.id) AS region_id
  FROM ids i LEFT JOIN lbl l ON l.id = i.id
), mom AS (
  SELECT region_id, cast(count(*) as bigint) AS area,
         cast(sum(gx) as bigint) AS sx, cast(sum(gy) as bigint) AS sy,
         cast(sum(gx * gx) as bigint) AS sxx,
         cast(sum(gy * gy) as bigint) AS syy,
         cast(sum(gx * gy) as bigint) AS sxy
  FROM full_lbl GROUP BY region_id
)
SELECT region_id, area,
       cast(area * sxx - sx * sx as bigint) AS mxx,
       cast(area * syy - sy * sy as bigint) AS myy,
       cast(area * sxy - sx * sy as bigint) AS mxy,
       cast(((area * sxx - sx * sx) - (area * syy - sy * sy)) * ((area * sxx - sx * sx) - (area * syy - sy * sy))
            + 4 * (area * sxy - sx * sy) * (area * sxy - sx * sy) as bigint) AS aniso_num,
       cast(((area * sxx - sx * sx) + (area * syy - sy * sy))
          * ((area * sxx - sx * sx) + (area * syy - sy * sy)) as bigint) AS aniso_den
FROM mom WHERE area >= 3 ORDER BY region_id
""".replace("{_SHAPE_GRID}", str(_SHAPE_GRID)),
)
def region_orientation_metrics(spark, sf_dir):
    """Second-moment shape tensor per labeled region (area ≥ 3): the
    exact central moment integers (n·Σx² − S², …) and the rotation-
    invariant elongation pair aniso_num/aniso_den = ((mxx−myy)² +
    4mxy²)/(mxx+myy)² — 0 for an isotropic blob, →1 for a pure
    filament; with mxy's sign carrying NE/NW orientation — the patch
    ELONGATION layer on top of region_shape_metrics' compactness
    (which cannot distinguish a snake from a plus-sign). Everything
    integer, no eigen-decomposition, no atan2 — the eigenvalue-gap
    identity collapses to one cross-multiplied ratio. Scale shape:
    same bounded component labeling as the region family + one moment
    hash agg."""
    from gipspark.operators.components import connected_components
    from gipspark.operators.morans import ROOK_OFFSETS, cell_counts

    pts = load(spark, sf_dir, "customer").select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    ids = cell_counts(pts, _SHAPE_GRID).select(
        "gx", "gy", (F.col("gx").cast("long") * 1000 + F.col("gy")).alias("id")
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ROOK_OFFSETS
        ]
    )
    nb = ids.select("id", "gx", "gy", F.explode(offs).alias("o")).select(
        "id",
        (F.col("gx") + F.col("o.dx")).alias("ngx"),
        (F.col("gy") + F.col("o.dy")).alias("ngy"),
    )
    occ = ids.select(
        F.col("gx").alias("ngx"), F.col("gy").alias("ngy"), F.col("id").alias("nid")
    )
    pairs = nb.join(occ, ["ngx", "ngy"]).filter(F.col("id") < F.col("nid")).select(
        F.col("id").alias("id_a"), F.col("nid").alias("id_b")
    )
    lbl = connected_components(pairs).select(
        F.col("node").alias("id"), F.col("comp").alias("comp")
    )
    labeled = ids.join(lbl, "id", "left").select(
        "gx", "gy", F.coalesce("comp", "id").alias("region_id")
    )
    mom = labeled.groupBy("region_id").agg(
        F.count("*").cast("long").alias("area"),
        F.sum("gx").cast("long").alias("sx"),
        F.sum("gy").cast("long").alias("sy"),
        F.sum(F.col("gx") * F.col("gx")).cast("long").alias("sxx"),
        F.sum(F.col("gy") * F.col("gy")).cast("long").alias("syy"),
        F.sum(F.col("gx") * F.col("gy")).cast("long").alias("sxy"),
    )
    mxx = (F.col("area") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long")
    myy = (F.col("area") * F.col("syy") - F.col("sy") * F.col("sy")).cast("long")
    mxy = (F.col("area") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long")
    return (
        mom.filter(F.col("area") >= 3)
        .select(
            "region_id",
            "area",
            mxx.alias("mxx"),
            myy.alias("myy"),
            mxy.alias("mxy"),
            ((mxx - myy) * (mxx - myy) + F.lit(4) * mxy * mxy)
            .cast("long")
            .alias("aniso_num"),
            ((mxx + myy) * (mxx + myy)).cast("long").alias("aniso_den"),
        )
        .orderBy("region_id")
    )



@register(
    "discount_waterfall_lineitem",
    """
WITH bands AS (
  SELECT cast(round(l_discount * 100.0, 0) as int) AS disc_pct,
         cast(sum(cast(l_extendedprice as decimal(18,2))) as decimal(18,2)) AS gross,
         cast(sum(cast(l_extendedprice as decimal(18,2)) * cast(round(l_discount * 100.0, 0) as bigint)) as decimal(28,2)) AS disc_raw,
         cast(count(*) as bigint) AS n_items
  FROM lineitem GROUP BY disc_pct
)
SELECT cast(disc_pct as bigint) AS disc_pct, n_items,
       cast(gross as double) AS gross,
       cast(disc_raw * cast(0.01 as decimal(3,2)) as double) AS discount_given,
       cast(gross - disc_raw * cast(0.01 as decimal(3,2)) as double) AS net
FROM bands ORDER BY disc_pct
""",
)
def discount_waterfall_lineitem(spark, sf_dir):
    """Revenue waterfall by discount band: gross extended price, the
    absolute discount given away, and net — per integer discount
    percentage — the pricing-team bridge that says WHICH bands burn
    margin (q1 aggregates by flag/status; q14 by promo; this is the
    full discount ladder). Discounts are TPC-H-style hundredths, so
    round(d·100) is an exact integer band and discount dollars =
    gross·pct/100 stays in decimal — no float money anywhere until
    the final exact decimal→double casts. Scale shape: one hash agg
    on a ≤11-value key — map-side combinable, shuffle ∝ bands."""
    li = load(spark, sf_dir, "lineitem")
    pct = F.round(F.col("l_discount") * 100.0, 0).cast("int")
    price = F.col("l_extendedprice").cast(DEC)
    bands = li.groupBy(pct.alias("disc_pct")).agg(
        F.sum(price).cast(DEC).alias("gross"),
        F.sum(price * F.round(F.col("l_discount") * 100.0, 0).cast("long"))
        .cast("decimal(28,2)")
        .alias("disc_raw"),
        F.count("*").cast("long").alias("n_items"),
    )
    cent = F.lit("0.01").cast("decimal(3,2)")
    return bands.select(
        F.col("disc_pct").cast("long").alias("disc_pct"),
        "n_items",
        F.col("gross").cast("double").alias("gross"),
        (F.col("disc_raw") * cent).cast("double").alias("discount_given"),
        (F.col("gross") - F.col("disc_raw") * cent).cast("double").alias("net"),
    ).orderBy("disc_pct")



@register(
    "home_work_commute_users",
    f"""
WITH pts AS ({_HW_PTS}), cls AS (
  SELECT user_id,
         CASE WHEN h < 7 THEN 'home' WHEN h BETWEEN 9 AND 17 THEN 'work' END AS period,
         gx, gy
  FROM pts WHERE h < 7 OR h BETWEEN 9 AND 17
), cnt AS (
  SELECT user_id, period, gx, gy, cast(count(*) as bigint) AS n
  FROM cls GROUP BY user_id, period, gx, gy
), best AS (
  SELECT user_id, period, gx, gy, n,
         row_number() OVER (PARTITION BY user_id, period
                            ORDER BY n DESC, gx ASC, gy ASC) AS rn
  FROM cnt
), modal AS (SELECT user_id, period, gx, gy, n FROM best WHERE rn = 1)
SELECT h.user_id, h.gx AS home_gx, h.gy AS home_gy, h.n AS n_home,
       w.gx AS work_gx, w.gy AS work_gy, w.n AS n_work,
       cast(greatest(abs(h.gx - w.gx), abs(h.gy - w.gy)) as bigint) AS commute_cells
FROM modal h JOIN modal w
  ON h.user_id = w.user_id AND h.period = 'home' AND w.period = 'work'
ORDER BY h.user_id
""",
)
def home_work_commute_users(spark, sf_dir):
    """Home/work anchor inference — the mobility-analytics primitive
    under commute matrices, catchment models, and workplace geofences:
    a user's HOME is their modal grid cell during night hours (0-6),
    WORK the modal cell during office hours (9-17), each with a
    deterministic (count desc, cell asc) argmax; commute_cells is the
    trig-free Chebyshev cell distance between the two anchors (0 =
    lives-at-work / remote). dwell_cells_user finds where users linger;
    this classifies WHICH lingering cell plays which role. Scale shape:
    one (user, period, cell) hash agg + one 2-rows-per-user window +
    a self-join on the per-user modal dim."""
    e = load(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        F.hour("ts").cast("int").alias("h"),
        F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5)
        .cast("int")
        .alias("gx"),
        F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5)
        .cast("int")
        .alias("gy"),
    )
    cls = pts.filter((F.col("h") < 7) | F.col("h").between(9, 17)).select(
        "user_id",
        F.when(F.col("h") < 7, "home").otherwise("work").alias("period"),
        "gx",
        "gy",
    )
    cnt = cls.groupBy("user_id", "period", "gx", "gy").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("user_id", "period").orderBy(
        F.col("n").desc(), F.col("gx").asc(), F.col("gy").asc()
    )
    modal = cnt.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    h = modal.filter(F.col("period") == "home").select(
        "user_id",
        F.col("gx").alias("home_gx"),
        F.col("gy").alias("home_gy"),
        F.col("n").alias("n_home"),
    )
    ww = modal.filter(F.col("period") == "work").select(
        "user_id",
        F.col("gx").alias("work_gx"),
        F.col("gy").alias("work_gy"),
        F.col("n").alias("n_work"),
    )
    return (
        h.join(ww, "user_id")
        .select(
            "user_id",
            "home_gx",
            "home_gy",
            "n_home",
            "work_gx",
            "work_gy",
            "n_work",
            F.greatest(
                F.abs(F.col("home_gx") - F.col("work_gx")),
                F.abs(F.col("home_gy") - F.col("work_gy")),
            )
            .cast("long")
            .alias("commute_cells"),
        )
        .orderBy("user_id")
    )



@register(
    "cem_att_users",
    f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS d,
         cast(round(value * 100) as bigint) AS cents
  FROM events
), spanb AS (SELECT min(d) AS d0 FROM ev),
per AS (
  SELECT user_id,
         cast(sum(CASE WHEN d < (SELECT d0 FROM spanb) + 7 THEN 1 ELSE 0 END) as bigint)
           AS pre_events,
         cast(sum(CASE WHEN d < (SELECT d0 FROM spanb) + 7 THEN cents ELSE 0 END) as bigint)
           AS pre_cents,
         cast(sum(CASE WHEN d >= (SELECT d0 FROM spanb) + 7 THEN cents ELSE 0 END) as bigint)
           AS y
  FROM ev GROUP BY user_id
), lab AS (
  SELECT user_id, {_CEM_TRT} % 2 AS t,
         least(pre_events // 5, 4) AS s_act,
         least(pre_cents // 200000, 4) AS s_spend, y
  FROM per
), str AS (
  SELECT s_act, s_spend,
         cast(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) as bigint) AS n_t,
         cast(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) as bigint) AS n_c,
         cast(sum(CASE WHEN t = 1 THEN y ELSE 0 END) as bigint) AS y_t,
         cast(sum(CASE WHEN t = 0 THEN y ELSE 0 END) as bigint) AS y_c
  FROM lab GROUP BY s_act, s_spend
)
SELECT s_act, s_spend, n_t, n_c, y_t, y_c,
       cast((y_t * 1000000) // n_t - (y_c * 1000000) // n_c as bigint) AS diff_micro,
       cast(n_t * ((y_t * 1000000) // n_t - (y_c * 1000000) // n_c) as bigint)
         AS att_contrib_micro
FROM str WHERE n_t > 0 AND n_c > 0 ORDER BY s_act, s_spend
""",
)
def cem_att_users(spark, sf_dir):
    """Coarsened Exact Matching ATT (Iacus-King-Porro) — the matching
    estimator tier of the causal family (diff_in_diff compares trends,
    cuped_adjustment reduces variance; CEM removes covariate imbalance
    BEFORE comparing): users are coarsened into (pre-period activity
    band × pre-period spend band) strata, strata missing either arm
    are pruned, and each surviving stratum reports its treated/control
    outcome-mean gap in micro-cent floor ticks plus the n_t-weighted
    ATT contribution (ATT = Σ contrib / Σ n_t, left unaggregated so
    the imbalance profile stays visible). Treatment is a deterministic
    md5 coin; outcomes are non-negative cents so floor division is
    sign-safe. Scale shape: one per-user aggregate + one <= 25-row
    stratum hash agg — the matching itself is free (it IS the
    groupBy), which is the whole CEM pitch at 10^9 users."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    d0 = ev.agg(F.min("d").alias("d0"))
    per = (
        ev.join(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("d") < F.col("d0") + 7, 1).otherwise(0))
            .cast("long")
            .alias("pre_events"),
            F.sum(F.when(F.col("d") < F.col("d0") + 7, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("pre_cents"),
            F.sum(F.when(F.col("d") >= F.col("d0") + 7, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    lab = per.select(
        (D.md5_long(F.concat(F.lit("trt:"), F.col("user_id").cast("string"))) % 2).alias(
            "t"
        ),
        F.least(F.expr("pre_events div 5"), F.lit(4).cast("long")).alias("s_act"),
        F.least(F.expr("pre_cents div 200000"), F.lit(4).cast("long")).alias("s_spend"),
        "y",
    )
    st = lab.groupBy("s_act", "s_spend").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("y_t"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("y_c"),
    )
    diff = F.expr("(y_t * 1000000L) div n_t - (y_c * 1000000L) div n_c")
    return (
        st.filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
        .select(
            "s_act",
            "s_spend",
            "n_t",
            "n_c",
            "y_t",
            "y_c",
            diff.cast("long").alias("diff_micro"),
            (F.col("n_t") * diff).cast("long").alias("att_contrib_micro"),
        )
        .orderBy("s_act", "s_spend")
    )



@register(
    "radius_gyration_users",
    f"""
WITH pts AS (
  SELECT user_id,
         (cast(event_id as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS x,
         (cast(event_id as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS y
  FROM events
), st AS (
  SELECT user_id, cast(count(*) as bigint) AS n,
         cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
         cast(sum(x * x) as bigint) AS sxx, cast(sum(y * y) as bigint) AS syy
  FROM pts GROUP BY user_id
)
SELECT user_id, n AS n_events, sx, sy,
       cast(n * (sxx + syy) - sx * sx - sy * sy as bigint) AS rog2_num,
       sqrt(cast(n * (sxx + syy) - sx * sx - sy * sy as double)) / cast(n as double)
         AS rog_mdeg
FROM st ORDER BY user_id
""",
)
def radius_gyration_users(spark, sf_dir):
    """Radius of gyration per user (Gonzalez-Hidalgo-Barabasi) — THE
    human-mobility scale parameter: the RMS distance of a user's
    event points from their own centroid, the number whose truncated
    power-law distribution separates commuters from travelers and
    which mobility models must reproduce first. Coordinates are the
    EXACT integer milli-degree congruences behind derived lat/lon (no
    float in any sum): rog² = (n·Σ(x²+y²) − Σx² − Σy²)/n² carried as
    the exact int64 numerator (≤ ~3e15 at 10⁴ events/user — fits with
    headroom), with rog_mdeg = √num / n the only double (correctly-
    rounded sqrt of an exactly-cast int, bit-identical both engines).
    Complements circuity_user (path shape) and dwell_cells_user
    (anchors): this is total territory. One hash agg, shuffle ∝
    users."""
    e = load(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        ((F.col("event_id").cast("long") * C.LON_MUL) % C.LON_MOD - 180000).alias("x"),
        ((F.col("event_id").cast("long") * C.LAT_MUL) % C.LAT_MOD - 60000).alias("y"),
    )
    st = pts.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (
        F.col("n") * (F.col("sxx") + F.col("syy"))
        - F.col("sx") * F.col("sx")
        - F.col("sy") * F.col("sy")
    )
    return st.select(
        "user_id",
        F.col("n").alias("n_events"),
        "sx",
        "sy",
        num.cast("long").alias("rog2_num"),
        (F.sqrt(num.cast("double")) / F.col("n").cast("double")).alias("rog_mdeg"),
    ).orderBy("user_id")



@register(
    "reserve_price_sweep_parts",
    f"""
WITH bids AS (
  SELECT l_partkey, cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint) AS cents,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY round(cast(l_extendedprice as {DEC}) * 100) DESC,
                                     l_orderkey ASC, l_linenumber ASC) AS rn
  FROM lineitem
), top2 AS (
  SELECT l_partkey,
         max(CASE WHEN rn = 1 THEN cents END) AS b1,
         max(CASE WHEN rn = 2 THEN cents END) AS b2
  FROM bids WHERE rn <= 2 GROUP BY l_partkey
), rs(reserve) AS (VALUES {', '.join(f'({r})' for r in _RSV_GRID)})
SELECT cast(rs.reserve as bigint) AS reserve_cents,
       cast(count(CASE WHEN b1 >= rs.reserve THEN 1 END) as bigint) AS n_sold,
       cast(coalesce(sum(CASE WHEN b1 >= rs.reserve
                              THEN greatest(coalesce(b2, 0), rs.reserve) END), 0)
            as bigint) AS revenue_cents
FROM top2 CROSS JOIN rs GROUP BY rs.reserve ORDER BY reserve_cents
""",
)
def reserve_price_sweep_parts(spark, sf_dir):
    """Second-price auction reserve sweep — the marketplace-economics
    op behind every ad-exchange floor-price tuner (Myerson's optimal
    reserve found empirically): treat each part's line items as sealed
    bids, keep the top two per part (deterministic window), and for a
    literal reserve grid report lots sold and total revenue where the
    winner pays max(second bid, reserve) when the top bid clears it —
    the revenue curve whose peak IS the reserve decision, exhibiting
    the classic volume/price trade-off as the reserve climbs. Exact
    cents end to end. Scale shape: one bid window (WindowGroupLimit
    prunes to 2 rows/part) + one part-dim hash agg fanned over the
    5-row reserve dim."""
    li = load(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice").cast(DEC) * 100).cast("long")
    w = Window.partitionBy("l_partkey").orderBy(
        F.round(F.col("l_extendedprice").cast(DEC) * 100).desc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    bids = li.select(
        "l_partkey", cents.alias("cents"), F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 2)
    top2 = bids.groupBy("l_partkey").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cents"))).alias("b1"),
        F.max(F.when(F.col("rn") == 2, F.col("cents"))).alias("b2"),
    )
    rs = spark.range(1).select(
        F.explode(F.array(*[F.lit(r) for r in _RSV_GRID])).alias("reserve")
    )
    return (
        top2.crossJoin(F.broadcast(rs))
        .groupBy("reserve")
        .agg(
            F.count(F.when(F.col("b1") >= F.col("reserve"), 1))
            .cast("long")
            .alias("n_sold"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("b1") >= F.col("reserve"),
                        F.greatest(F.coalesce("b2", F.lit(0)), F.col("reserve")),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("revenue_cents"),
        )
        .select(
            F.col("reserve").cast("long").alias("reserve_cents"),
            "n_sold",
            "revenue_cents",
        )
        .orderBy("reserve_cents")
    )



@register(
    "error_burn_rate_windows",
    """
WITH hr AS (
  SELECT epoch_us(ts) // 1000000 // 3600 AS h,
         cast(count(*) as bigint) AS n,
         cast(count(*) FILTER (WHERE event_type = 'error') as bigint) AS err
  FROM events GROUP BY h
), tot AS (SELECT cast(sum(n) as bigint) AS tn, cast(sum(err) as bigint) AS te FROM hr),
sw AS (
  SELECT a.h, cast(sum(b.n) as bigint) AS n_s, cast(sum(b.err) as bigint) AS err_s
  FROM hr a JOIN hr b ON b.h BETWEEN a.h - 5 AND a.h GROUP BY a.h
), lw AS (
  SELECT a.h, cast(sum(b.n) as bigint) AS n_l, cast(sum(b.err) as bigint) AS err_l
  FROM hr a JOIN hr b ON b.h BETWEEN a.h - 23 AND a.h GROUP BY a.h
)
SELECT sw.h, sw.n_s, sw.err_s, lw.n_l, lw.err_l,
       cast((sw.err_s * 1000000) // sw.n_s as bigint) AS rate_s_micro,
       cast((lw.err_l * 1000000) // lw.n_l as bigint) AS rate_l_micro,
       CASE WHEN sw.err_s * tot.tn > 2 * tot.te * sw.n_s
             AND lw.err_l * tot.tn * 10 > 12 * tot.te * lw.n_l THEN 1 ELSE 0 END AS alert
FROM sw JOIN lw ON sw.h = lw.h CROSS JOIN tot ORDER BY sw.h
""",
)
def error_burn_rate_windows(spark, sf_dir):
    """Multi-window error-budget burn-rate alerting (the Google-SRE
    workbook pattern every paging pipeline implements): per hour, the
    trailing-6h and trailing-24h error rates, alerting only when BOTH
    burn fast — short window > 2× the corpus base rate AND long window
    > 1.2× — so a brief blip (fails the long window) and a slow drift
    (fails the short) stay silent while a sustained burn pages. All
    comparisons are cross-multiplied integers against the 1-row base-
    rate anchor — no rate is ever divided before comparing; the micro
    rates are display-only floors. Scale shape: one hour hash agg,
    then ≤6×/≤24× calendar-band self-joins on the tiny hour dim (ewma
    sibling)."""
    e = load(spark, sf_dir, "events")
    hr = (
        e.groupBy(F.expr("unix_timestamp(ts) div 3600").alias("h"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count(F.when(F.col("event_type") == "error", 1))
            .cast("long")
            .alias("err"),
        )
        .localCheckpoint()
    )
    tot = hr.agg(
        F.sum("n").cast("long").alias("tn"), F.sum("err").cast("long").alias("te")
    )

    def band(width, np, ep):
        b = hr.select(
            F.col("h").alias("bh"), F.col("n").alias("bn"), F.col("err").alias("be")
        )
        return (
            hr.join(b, (F.col("bh") >= F.col("h") - width) & (F.col("bh") <= F.col("h")))
            .groupBy("h")
            .agg(
                F.sum("bn").cast("long").alias(np),
                F.sum("be").cast("long").alias(ep),
            )
        )

    sw = band(5, "n_s", "err_s")
    lw = band(23, "n_l", "err_l")
    return (
        sw.join(lw, "h")
        .crossJoin(F.broadcast(tot))
        .select(
            "h",
            "n_s",
            "err_s",
            "n_l",
            "err_l",
            F.expr("cast((err_s * 1000000) div n_s as bigint)").alias("rate_s_micro"),
            F.expr("cast((err_l * 1000000) div n_l as bigint)").alias("rate_l_micro"),
            F.when(
                (F.col("err_s") * F.col("tn") > 2 * F.col("te") * F.col("n_s"))
                & (F.col("err_l") * F.col("tn") * 10 > 12 * F.col("te") * F.col("n_l")),
                1,
            )
            .otherwise(0)
            .alias("alert"),
        )
        .orderBy("h")
    )



@register(
    "srm_check_users",
    f"""
WITH du AS (
  SELECT DISTINCT epoch_us(ts) // 1000000 // 86400 AS d, user_id,
         {_SRM_ARM} % 2 AS arm
  FROM events
), daily AS (
  SELECT d,
         cast(count(CASE WHEN arm = 0 THEN 1 END) as bigint) AS n0,
         cast(count(CASE WHEN arm = 1 THEN 1 END) as bigint) AS n1
  FROM du GROUP BY d
)
SELECT d AS day, n0, n1,
       cast(((n0 - n1) * (n0 - n1) * 1000000) // (n0 + n1) as bigint) AS chi2_micro,
       CASE WHEN ((n0 - n1) * (n0 - n1) * 1000000) // (n0 + n1) > 3841459
            THEN 1 ELSE 0 END AS srm_flag
FROM daily ORDER BY day
""",
)
def srm_check_users(spark, sf_dir):
    """Daily Sample-Ratio-Mismatch check — the first A/B-platform
    health gate (a biased randomizer invalidates every downstream
    read-out before any metric is computed): hash-assign users to two
    arms, count distinct ACTIVE users per arm per day, and flag days
    where the 1-df chi-square (n0−n1)²/(n0+n1) exceeds the p<0.05
    critical value 3.841459 — carried as exact integer micro ticks
    ((n0−n1)² is nonnegative so the floor is sign-safe, and the flag
    compares floored micro against the micro-scaled critical value).
    cuped/diff_in_diff estimate effects; this guards the denominator
    they stand on. Scale shape: one distinct-(day,user) agg + one
    day hash agg."""
    e = load(spark, sf_dir, "events")
    du = e.select(
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
        "user_id",
        (D.md5_long(F.concat(F.lit("arm:"), F.col("user_id").cast("string"))) % 2).alias(
            "arm"
        ),
    ).distinct()
    daily = du.groupBy("d").agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("long").alias("n0"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("long").alias("n1"),
    )
    chi = F.expr("((n0 - n1) * (n0 - n1) * 1000000) div (n0 + n1)")
    return daily.select(
        F.col("d").alias("day"),
        "n0",
        "n1",
        chi.cast("long").alias("chi2_micro"),
        F.when(chi > 3841459, 1).otherwise(0).alias("srm_flag"),
    ).orderBy("day")



@register("corr_matrix_lineitem", _corr_matrix_oracle_sql())
def corr_matrix_lineitem(spark, sf_dir):
    """Pairwise Pearson correlation matrix over the lineitem numeric
    columns (quantity, price cents, discount %, tax %) — the
    column-profiling sweep a data catalog runs on ingest to surface
    redundant or causally-linked columns before anyone builds a model
    on both (ols2/partial_corr fit chosen pairs; this is the blanket
    screen that chooses them). All sufficient statistics are exact
    DECIMAL(38,0) sums computed in ONE pass over the table (the
    spearman discipline: sums of int64 squares pass int64 near 10⁹
    rows, so decimal from the start); the 6 rhos are doubles from the
    same textual formula both engines evaluate on identical exact
    moments. Scale shape: one map-side-combinable 15-sum aggregate +
    literal 6-row unpivot — no per-pair passes."""
    d38 = "decimal(38,0)"
    li = load(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice").cast(DEC) * 100).cast("long").alias("price_c"),
        F.round(F.col("l_discount") * 100.0, 0).cast("long").alias("disc_pct"),
        F.round(F.col("l_tax") * 100.0, 0).cast("long").alias("tax_pct"),
    )
    aggs = [F.count("*").cast(d38).alias("n")]
    for nm, _ in _CM_VARS:
        aggs.append(F.sum(F.col(nm).cast(d38)).cast(d38).alias(f"s_{nm}"))
        aggs.append(
            F.sum(F.col(nm).cast(d38) * F.col(nm)).cast(d38).alias(f"ss_{nm}")
        )
    for i, (a, _) in enumerate(_CM_VARS):
        for b, _ in _CM_VARS[i + 1 :]:
            aggs.append(
                F.sum(F.col(a).cast(d38) * F.col(b)).cast(d38).alias(f"cx_{a}_{b}")
            )
    m = v.agg(*aggs)
    outs = []
    for i, (a, _) in enumerate(_CM_VARS):
        for b, _ in _CM_VARS[i + 1 :]:
            outs.append(
                m.select(
                    F.lit(a).alias("var_a"),
                    F.lit(b).alias("var_b"),
                    F.col("n").cast("long").alias("n"),
                    F.when(
                        (F.expr(f"n * ss_{a} - s_{a} * s_{a}") == 0)
                        | (F.expr(f"n * ss_{b} - s_{b} * s_{b}") == 0),
                        F.lit(0.0),
                    )
                    .otherwise(
                        F.expr(
                            f"cast(n * cx_{a}_{b} - s_{a} * s_{b} as double)"
                            f" / sqrt(cast(n * ss_{a} - s_{a} * s_{a} as double))"
                            f" / sqrt(cast(n * ss_{b} - s_{b} * s_{b} as double))"
                        )
                    )
                    .alias("rho"),
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("var_a", "var_b")



@register(
    "substitute_parts_pairs",
    """
WITH bask AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nord AS (SELECT cast(count(DISTINCT l_orderkey) as bigint) AS n FROM bask),
pc AS (
  SELECT l_partkey, cast(count(*) as bigint) AS np FROM bask GROUP BY l_partkey
), top AS (
  SELECT l_partkey, np FROM (
    SELECT l_partkey, np, row_number() OVER (ORDER BY np DESC, l_partkey ASC) AS rn
    FROM pc) WHERE rn <= 30
), tb AS (
  SELECT b.l_orderkey, b.l_partkey, t.np
  FROM bask b JOIN top t ON b.l_partkey = t.l_partkey
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         any_value(a.np) AS na, any_value(b.np) AS nb,
         cast(count(*) as bigint) AS obs
  FROM tb a JOIN tb b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b
), allp AS (
  SELECT ta.l_partkey AS part_a, tb2.l_partkey AS part_b, ta.np AS na, tb2.np AS nb
  FROM top ta JOIN top tb2 ON ta.l_partkey < tb2.l_partkey
)
SELECT p.part_a, p.part_b, p.na, p.nb,
       cast(coalesce(o.obs, 0) as bigint) AS obs,
       cast((coalesce(o.obs, 0) * nord.n * 1000000) // (p.na * p.nb) as bigint)
         AS lift_q,
       CASE WHEN 2 * coalesce(o.obs, 0) * nord.n < p.na * p.nb THEN 1 ELSE 0 END
         AS substitute_flag
FROM allp p LEFT JOIN pairs o ON p.part_a = o.part_a AND p.part_b = o.part_b
CROSS JOIN nord ORDER BY p.part_a, p.part_b
""",
)
def substitute_parts_pairs(spark, sf_dir):
    """Substitute detection — the NEGATIVE-association complement of
    copurchase_lift (which mines what sells together): among the 30
    most-ordered parts, pairs co-occurring in the same order at under
    HALF their independence expectation (2·obs·N < na·nb, pure
    cross-multiplied integers) are substitutes — customers choose one
    OR the other — the signal behind assortment rationalization and
    cannibalization forecasts, invisible to any support-threshold
    frequent-itemset pass because its evidence is ABSENCE. Zero-obs
    pairs are kept via the literal top-pair spine (absence of a row
    is the strongest signal, so the row must exist). Scale shape:
    top-30 semi-join bounds the basket self-join; the 435-pair spine
    is dim-scale."""
    li = load(spark, sf_dir, "lineitem")
    bask = li.select("l_orderkey", "l_partkey").distinct()
    nord = bask.agg(F.countDistinct("l_orderkey").cast("long").alias("n"))
    pc = bask.groupBy("l_partkey").agg(F.count("*").cast("long").alias("np"))
    w = Window.orderBy(F.col("np").desc(), F.col("l_partkey").asc())
    top = (
        pc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 30)
        .select("l_partkey", "np")
    )
    tb = bask.join(F.broadcast(top), "l_partkey").select("l_orderkey", "l_partkey", "np")
    a = tb.select(
        "l_orderkey", F.col("l_partkey").alias("part_a"), F.col("np").alias("na_")
    )
    b = tb.select(
        "l_orderkey", F.col("l_partkey").alias("part_b"), F.col("np").alias("nb_")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("obs"))
    )
    ta = top.select(F.col("l_partkey").alias("part_a"), F.col("np").alias("na"))
    tb2 = top.select(F.col("l_partkey").alias("part_b"), F.col("np").alias("nb"))
    allp = ta.join(tb2, F.col("part_a") < F.col("part_b"))
    return (
        allp.join(pairs, ["part_a", "part_b"], "left")
        .crossJoin(F.broadcast(nord))
        .select(
            "part_a",
            "part_b",
            "na",
            "nb",
            F.coalesce("obs", F.lit(0)).cast("long").alias("obs"),
            F.expr(
                "cast((coalesce(obs, 0L) * n * 1000000) div (na * nb) as bigint)"
            ).alias("lift_q"),
            F.when(
                2 * F.coalesce("obs", F.lit(0)) * F.col("n") < F.col("na") * F.col("nb"),
                1,
            )
            .otherwise(0)
            .alias("substitute_flag"),
        )
        .orderBy("part_a", "part_b")
    )



@register(
    "point_quarter_customers",
    f"""
WITH pts AS (
  SELECT c_custkey AS id,
         (cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS x,
         (cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS y
  FROM customer
), probes AS (SELECT id, x, y FROM pts WHERE id < 20),
cand AS (
  SELECT p.id AS probe_id, o.id AS nn_id,
         CASE WHEN o.x >= p.x AND o.y >= p.y THEN 'NE'
              WHEN o.x < p.x AND o.y >= p.y THEN 'NW'
              WHEN o.x < p.x AND o.y < p.y THEN 'SW'
              ELSE 'SE' END AS quadrant,
         (o.x - p.x) * (o.x - p.x) + (o.y - p.y) * (o.y - p.y) AS d2
  FROM probes p JOIN pts o ON o.id != p.id
), ranked AS (
  SELECT probe_id, quadrant, nn_id, cast(d2 as bigint) AS d2,
         row_number() OVER (PARTITION BY probe_id, quadrant
                            ORDER BY d2 ASC, nn_id ASC) AS rn
  FROM cand
)
SELECT probe_id, quadrant, nn_id, d2, sqrt(cast(d2 as double)) AS d_mdeg
FROM ranked WHERE rn = 1 ORDER BY probe_id, quadrant
""",
)
def point_quarter_customers(spark, sf_dir):
    """Point-quarter (point-centered quarter) sampling — the
    Cottam-Curtis field-ecology estimator: at each of 20 probe points,
    the nearest neighbor IN EACH bearing quadrant (NE/NW/SW/SE) and
    its distance — four directionally-stratified NN observations per
    probe whose mean distance feeds the classic density estimate
    1/d̄², robust to clustering in a way plain nearest-neighbor
    sampling (gfunction/clark_evans) is not because the quadrant
    stratification breaks clump-following. Distances are exact
    integer milli-degree d²; the sqrt is display-only. Scale shape:
    20-probe broadcast × corpus scan with a per-(probe, quadrant)
    WindowGroupLimit — the cosine_topk shape on geographic keys."""
    cu = load(spark, sf_dir, "customer")
    pts = cu.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey").cast("long") * C.LON_MUL) % C.LON_MOD - 180000).alias("x"),
        ((F.col("c_custkey").cast("long") * C.LAT_MUL) % C.LAT_MOD - 60000).alias("y"),
    )
    probes = pts.filter(F.col("id") < 20).select(
        F.col("id").alias("probe_id"), F.col("x").alias("px"), F.col("y").alias("py")
    )
    cand = (
        F.broadcast(probes)
        .join(pts, F.col("id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("id").alias("nn_id"),
            F.when((F.col("x") >= F.col("px")) & (F.col("y") >= F.col("py")), "NE")
            .when((F.col("x") < F.col("px")) & (F.col("y") >= F.col("py")), "NW")
            .when((F.col("x") < F.col("px")) & (F.col("y") < F.col("py")), "SW")
            .otherwise("SE")
            .alias("quadrant"),
            (
                (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
                + (F.col("y") - F.col("py")) * (F.col("y") - F.col("py"))
            )
            .cast("long")
            .alias("d2"),
        )
    )
    w = Window.partitionBy("probe_id", "quadrant").orderBy(
        F.col("d2").asc(), F.col("nn_id").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "probe_id",
            "quadrant",
            "nn_id",
            "d2",
            F.sqrt(F.col("d2").cast("double")).alias("d_mdeg"),
        )
        .orderBy("probe_id", "quadrant")
    )



@register(
    "icc_value_users",
    """
WITH ev AS (
  SELECT user_id, cast(round(value * 100) as bigint) AS y FROM events
), g AS (
  SELECT user_id, cast(count(*) as bigint) AS n,
         cast(sum(y) as bigint) AS s,
         cast(sum(cast(y as HUGEINT) * y) as HUGEINT) AS q
  FROM ev GROUP BY user_id
), t AS (
  SELECT cast(count(*) as bigint) AS k,
         cast(sum(n) as bigint) AS n_total,
         cast(sum(cast(s as HUGEINT)) as HUGEINT) AS s_tot,
         cast(sum(q) as HUGEINT) AS q_tot,
         cast(sum((cast(s as HUGEINT) * s * 1000000) // n) as HUGEINT) AS t_sum,
         cast(sum(cast(n as HUGEINT) * n) as HUGEINT) AS nn_sum
  FROM g
)
SELECT k AS n_groups, n_total,
       cast(t_sum - (s_tot * s_tot * 1000000) // n_total as bigint) AS ssb_q,
       cast(q_tot * 1000000 - t_sum as bigint) AS ssw_q,
       (cast(t_sum - (s_tot * s_tot * 1000000) // n_total as double) / (k - 1)
        - cast(q_tot * 1000000 - t_sum as double) / (n_total - k))
       / ((cast(n_total as double) - cast(nn_sum as double) / n_total) / (k - 1))
       / ((cast(t_sum - (s_tot * s_tot * 1000000) // n_total as double) / (k - 1)
           - cast(q_tot * 1000000 - t_sum as double) / (n_total - k))
          / ((cast(n_total as double) - cast(nn_sum as double) / n_total) / (k - 1))
          + cast(q_tot * 1000000 - t_sum as double) / (n_total - k)) AS icc
FROM t
""",
)
def icc_value_users(spark, sf_dir):
    """Intraclass correlation ICC(1) of event value within users — the
    hierarchical-data diagnostic that decides whether per-user
    clustering can be ignored (ICC ≈ 0: rows are exchangeable, naive
    SEs fine) or dominates (high ICC: the effective sample size is
    the USER count and kish_neff/cluster-robust methods are
    mandatory) — the number behind every design-effect correction.
    One-way random-effects decomposition with the anova_oneway
    discipline: SSB/SSW as exact micro-tick integers (HUGEINT /
    decimal38 moments), then variance components via the unequal-n n₀
    = (N − Σn²/N)/(k−1) and ICC = σ²_b/(σ²_b + σ²_w) as ONE
    fixed-order float expression. Scale shape: one per-user hash agg
    + a 1-row fold."""
    dec = "decimal(38,0)"
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("y")
    )
    g = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("q"),
    )
    t = g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum(F.col("s").cast(dec)).cast(dec).alias("s_tot"),
        F.sum("q").cast(dec).alias("q_tot"),
        F.sum(F.expr(f"(cast(s as {dec}) * s * 1000000) div n").cast(dec))
        .cast(dec)
        .alias("t_sum"),
        F.sum(F.col("n").cast(dec) * F.col("n")).cast(dec).alias("nn_sum"),
    )
    ssb = F.expr("t_sum - (s_tot * s_tot * 1000000) div n_total")
    ssw = F.expr("q_tot * 1000000 - t_sum")
    msb = ssb.cast("double") / (F.col("k") - 1)
    msw = ssw.cast("double") / (F.col("n_total") - F.col("k"))
    n0 = (
        F.col("n_total").cast("double")
        - F.col("nn_sum").cast("double") / F.col("n_total")
    ) / (F.col("k") - 1)
    varb = (msb - msw) / n0
    return t.select(
        F.col("k").alias("n_groups"),
        "n_total",
        ssb.cast("long").alias("ssb_q"),
        ssw.cast("long").alias("ssw_q"),
        (varb / (varb + msw)).alias("icc"),
    )



@register(
    "facility_outage_impact",
    f"""
WITH fac AS (
  SELECT s_suppkey AS fid,
         (cast(s_suppkey as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS fx,
         (cast(s_suppkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS fy
  FROM supplier WHERE s_suppkey < 10
), pts AS (
  SELECT c_custkey AS cid,
         (cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS x,
         (cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS y
  FROM customer
), cand AS (
  SELECT p.cid, f.fid, (p.x - f.fx) * (p.x - f.fx) + (p.y - f.fy) * (p.y - f.fy) AS d2
  FROM pts p CROSS JOIN fac f
), near1 AS (
  SELECT cid, fid, d2 FROM (
    SELECT cid, fid, d2,
           row_number() OVER (PARTITION BY cid ORDER BY d2 ASC, fid ASC) AS rn
    FROM cand) WHERE rn = 1
), busy AS (
  SELECT fid AS bfid FROM (
    SELECT fid, count(*) AS n, row_number() OVER (ORDER BY count(*) DESC, fid ASC) AS rn
    FROM near1 GROUP BY fid) WHERE rn = 1
), near2 AS (
  SELECT cid, fid, d2 FROM (
    SELECT c.cid, c.fid, c.d2,
           row_number() OVER (PARTITION BY c.cid ORDER BY c.d2 ASC, c.fid ASC) AS rn
    FROM cand c CROSS JOIN busy WHERE c.fid != busy.bfid) WHERE rn = 1
), moved AS (
  SELECT n2.fid, n1.d2 AS d2_old, n2.d2 AS d2_new
  FROM near1 n1 JOIN near2 n2 ON n1.cid = n2.cid CROSS JOIN busy
  WHERE n1.fid = busy.bfid
), orig AS (SELECT fid, cast(count(*) as bigint) AS n_orig FROM near1 GROUP BY fid)
SELECT o.fid, o.n_orig,
       cast(coalesce(m.ng, 0) as bigint) AS n_gained,
       cast(coalesce(m.extra, 0) as bigint) AS sum_extra_d2,
       CASE WHEN o.fid = (SELECT bfid FROM busy) THEN 1 ELSE 0 END AS is_removed
FROM orig o LEFT JOIN (
  SELECT fid, cast(count(*) as bigint) AS ng, cast(sum(d2_new - d2_old) as bigint) AS extra
  FROM moved GROUP BY fid) m ON o.fid = m.fid
ORDER BY o.fid
""",
)
def facility_outage_impact(spark, sf_dir):
    """Facility-outage resilience — the p-median stress test a network
    planner runs before trusting a catchment design: assign every
    customer to its nearest of 10 facility sites, knock out the
    BUSIEST one, reassign its customers to their next-nearest, and
    report per surviving facility the refugees gained and the total
    extra travel (Σ d²_new − d²_old, exact nonneg integers in
    milli-degrees). catchment_counts draws the steady state; this
    prices its single point of failure — overflow concentrating on
    one neighbor is the fragility signature. Scale shape: 10-row
    facility broadcast × customers (twice) + per-customer
    WindowGroupLimit; the busiest pick is a 1-row anchor."""
    su = load(spark, sf_dir, "supplier")
    cu = load(spark, sf_dir, "customer")
    fac = su.filter(F.col("s_suppkey") < 10).select(
        F.col("s_suppkey").alias("fid"),
        ((F.col("s_suppkey").cast("long") * C.LON_MUL) % C.LON_MOD - 180000).alias("fx"),
        ((F.col("s_suppkey").cast("long") * C.LAT_MUL) % C.LAT_MOD - 60000).alias("fy"),
    )
    pts = cu.select(
        F.col("c_custkey").alias("cid"),
        ((F.col("c_custkey").cast("long") * C.LON_MUL) % C.LON_MOD - 180000).alias("x"),
        ((F.col("c_custkey").cast("long") * C.LAT_MUL) % C.LAT_MOD - 60000).alias("y"),
    )
    cand = pts.crossJoin(F.broadcast(fac)).select(
        "cid",
        "fid",
        (
            (F.col("x") - F.col("fx")) * (F.col("x") - F.col("fx"))
            + (F.col("y") - F.col("fy")) * (F.col("y") - F.col("fy"))
        ).alias("d2"),
    ).localCheckpoint()
    w = Window.partitionBy("cid").orderBy(F.col("d2").asc(), F.col("fid").asc())
    near1 = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cid", "fid", "d2")
    )
    wb = Window.orderBy(F.col("n").desc(), F.col("fid").asc())
    busy = (
        near1.groupBy("fid")
        .agg(F.count("*").alias("n"))
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(F.col("fid").alias("bfid"))
    )
    near2 = (
        cand.crossJoin(F.broadcast(busy))
        .filter(F.col("fid") != F.col("bfid"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cid", F.col("fid").alias("fid2"), F.col("d2").alias("d2_new"))
    )
    moved = (
        near1.crossJoin(F.broadcast(busy))
        .filter(F.col("fid") == F.col("bfid"))
        .select("cid", F.col("d2").alias("d2_old"))
        .join(near2, "cid")
        .groupBy(F.col("fid2").alias("fid"))
        .agg(
            F.count("*").cast("long").alias("ng"),
            F.sum(F.col("d2_new") - F.col("d2_old")).cast("long").alias("extra"),
        )
    )
    orig = near1.groupBy("fid").agg(F.count("*").cast("long").alias("n_orig"))
    return (
        orig.join(moved, "fid", "left")
        .crossJoin(F.broadcast(busy))
        .select(
            "fid",
            "n_orig",
            F.coalesce("ng", F.lit(0)).cast("long").alias("n_gained"),
            F.coalesce("extra", F.lit(0)).cast("long").alias("sum_extra_d2"),
            F.when(F.col("fid") == F.col("bfid"), 1).otherwise(0).alias("is_removed"),
        )
        .orderBy("fid")
    )



@register(
    "price_dispersion_parts",
    f"""
WITH px AS (
  SELECT l_partkey, cast(round(cast(l_extendedprice as {DEC}) * 100 / l_quantity) as bigint)
           AS unit_c,
         l_orderkey, l_linenumber
  FROM lineitem WHERE l_quantity > 0
), top AS (
  SELECT l_partkey FROM (
    SELECT l_partkey, count(*) AS n,
           row_number() OVER (ORDER BY count(*) DESC, l_partkey ASC) AS rn
    FROM px GROUP BY l_partkey) WHERE rn <= 50
), rk AS (
  SELECT p.l_partkey, p.unit_c,
         cast(row_number() OVER (PARTITION BY p.l_partkey
                                 ORDER BY p.unit_c ASC, p.l_orderkey ASC,
                                          p.l_linenumber ASC) as bigint) AS rn,
         cast(count(*) OVER (PARTITION BY p.l_partkey) as bigint) AS n
  FROM px p JOIN top t ON p.l_partkey = t.l_partkey
)
SELECT l_partkey, any_value(n) AS n_sales,
       cast(min(unit_c) as bigint) AS min_c, cast(max(unit_c) as bigint) AS max_c,
       cast(max(CASE WHEN rn = (n + 1) // 2 THEN unit_c END) as bigint) AS p50_c,
       cast(((max(unit_c) - min(unit_c)) * 1000000)
            // max(CASE WHEN rn = (n + 1) // 2 THEN unit_c END) as bigint) AS rel_range_q
FROM rk GROUP BY l_partkey ORDER BY l_partkey
""",
)
def price_dispersion_parts(spark, sf_dir):
    """Law-of-one-price audit: unit-price dispersion within each of
    the 50 most-traded parts — exact min/max/median unit cents and
    the median-relative range in micro. In an efficient market
    identical goods converge to one price; persistent dispersion
    (rel_range_q ≫ 0) is the arbitrage/segmentation signal pricing
    teams mine and the classic IO economics measurement — per-part
    rather than per-band (discount_waterfall) or cross-column
    (corr_matrix). Median is an exact order statistic (the
    ship_lag_sla pattern), never an approx sketch. Scale shape:
    top-50 semi-join bounds the window input; one partitioned sort
    window + one hash agg."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    px = li.select(
        "l_partkey",
        F.round(F.col("l_extendedprice").cast(DEC) * 100 / F.col("l_quantity"))
        .cast("long")
        .alias("unit_c"),
        "l_orderkey",
        "l_linenumber",
    )
    wt = Window.orderBy(F.col("n").desc(), F.col("l_partkey").asc())
    top = (
        px.groupBy("l_partkey")
        .agg(F.count("*").alias("n"))
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= 50)
        .select("l_partkey")
    )
    pj = px.join(F.broadcast(top), "l_partkey")
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("unit_c").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    wn = Window.partitionBy("l_partkey")
    rk = pj.select(
        "l_partkey",
        "unit_c",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    med = F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("unit_c")))
    return (
        rk.groupBy("l_partkey")
        .agg(
            F.expr("any_value(n)").alias("n_sales"),
            F.min("unit_c").cast("long").alias("min_c"),
            F.max("unit_c").cast("long").alias("max_c"),
            med.cast("long").alias("p50_c"),
            F.expr(
                "cast(((max(unit_c) - min(unit_c)) * 1000000)"
                " div max(CASE WHEN rn = (n + 1) div 2 THEN unit_c END) as bigint)"
            ).alias("rel_range_q"),
        )
        .orderBy("l_partkey")
    )



@register(
    "incident_mttr_events",
    """
WITH mins AS (
  SELECT epoch_us(ts) // 1000000 // 600 AS b,
         cast(count(CASE WHEN event_type = 'error' THEN 1 END) as bigint) AS errs
  FROM events GROUP BY b
), bad AS (
  SELECT b, b - row_number() OVER (ORDER BY b) AS island
  FROM mins WHERE errs >= 5
), inc AS (
  SELECT island, cast(min(b) as bigint) AS start_b, cast(max(b) as bigint) AS end_b,
         cast(count(*) as bigint) AS n_buckets
  FROM bad GROUP BY island
)
SELECT cast(row_number() OVER (ORDER BY start_b) as bigint) AS incident_no,
       start_b, end_b, n_buckets,
       cast((end_b - start_b + 1) * 10 as bigint) AS duration_min
FROM inc ORDER BY start_b
""",
)
def incident_mttr_events(spark, sf_dir):
    """Incident extraction + MTTR: 10-minute buckets with >= 5 errors
    are 'burning'; maximal consecutive runs of burning buckets are
    INCIDENTS, extracted with the gaps-and-islands identity (bucket −
    row_number is constant within a run — one window, no self-join,
    no recursion), each reporting start/end and duration — the
    mean-time-to-recovery ledger that error_burn_rate_windows' alert
    stream needs next (alerting says NOW, this says HOW LONG, and
    MTTR is the SRE KPI contracts are written on). Deterministic
    integers throughout. Scale shape: one bucket hash agg collapses
    the event scan; the island window runs on the tiny burning-bucket
    dim."""
    e = load(spark, sf_dir, "events")
    mins = e.groupBy(F.expr("unix_timestamp(ts) div 600").alias("b")).agg(
        F.count(F.when(F.col("event_type") == "error", 1)).cast("long").alias("errs")
    )
    bad = mins.filter(F.col("errs") >= 5).select(
        "b", (F.col("b") - F.row_number().over(Window.orderBy("b"))).alias("island")
    )
    inc = bad.groupBy("island").agg(
        F.min("b").cast("long").alias("start_b"),
        F.max("b").cast("long").alias("end_b"),
        F.count("*").cast("long").alias("n_buckets"),
    )
    return inc.select(
        F.row_number().over(Window.orderBy("start_b")).cast("long").alias("incident_no"),
        "start_b",
        "end_b",
        "n_buckets",
        ((F.col("end_b") - F.col("start_b") + 1) * 10).cast("long").alias("duration_min"),
    ).orderBy("start_b")



@register("pk_discovery_lineitem", _pk_oracle_sql())
def pk_discovery_lineitem(spark, sf_dir):
    """Candidate-key discovery — the data-profiling sweep a catalog
    runs on an undocumented table: uniqueness ratio of five candidate
    key (combinations) over lineitem in ONE pass, with is_key set
    only at exactly 10⁶ (fd_discovery finds which columns DETERMINE
    others; this finds what IDENTIFIES the row — the constraint a
    MERGE/upsert pipeline must know before it can exist). Composite
    candidates hash through a delimited concat (exact for integer
    parts), all counts exact distinct aggregates computed
    side-by-side in a single scan, then a literal 5-row unpivot.
    Scale shape: one multi-distinct hash agg — shuffle ∝ rows once
    per distinct, never a self-join."""
    li = load(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("l_orderkey").cast("long").alias("d_orderkey"),
        F.countDistinct(F.concat_ws(":", "l_orderkey", "l_linenumber"))
        .cast("long")
        .alias("d_orderkey_linenumber"),
        F.countDistinct(F.concat_ws(":", "l_partkey", "l_suppkey"))
        .cast("long")
        .alias("d_partkey_suppkey"),
        F.countDistinct(F.concat_ws(":", "l_orderkey", "l_partkey"))
        .cast("long")
        .alias("d_orderkey_partkey"),
        F.countDistinct("l_suppkey").cast("long").alias("d_suppkey"),
    )
    outs = []
    for nm, _ in _PK_COMBOS:
        outs.append(
            m.select(
                F.lit(nm).alias("candidate"),
                "n",
                F.col(f"d_{nm}").alias("n_distinct"),
                F.expr(f"cast((d_{nm} * 1000000) div n as bigint)").alias("uniq_q"),
                F.when(F.col(f"d_{nm}") == F.col("n"), 1).otherwise(0).alias("is_key"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("candidate")



@register(
    "sync_pairs_users",
    """
WITH ub AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 600 AS b FROM events
), pairs AS (
  SELECT a.user_id AS user_a, c.user_id AS user_b, cast(count(*) as bigint) AS shared
  FROM ub a JOIN ub c ON a.b = c.b AND a.user_id < c.user_id
  GROUP BY user_a, user_b
), ranked AS (
  SELECT user_a, user_b, shared,
         row_number() OVER (ORDER BY shared DESC, user_a ASC, user_b ASC) AS rn
  FROM pairs
)
SELECT user_a, user_b, shared FROM ranked WHERE rn <= 25 ORDER BY user_a, user_b
""",
)
def sync_pairs_users(spark, sf_dir):
    """Temporal coordination detection: the 25 user pairs sharing the
    most distinct active 10-minute buckets — accounts that keep
    showing up at the SAME times are automation driven by one
    controller (bot farms, ticket scalpers, engagement pods), the
    integrity signal that survives IP rotation and content variation
    because the TIMING is the fingerprint (colocation_pairs catches
    shared PLACE; this catches shared CLOCK; bot_regularity catches
    solo rhythm — three orthogonal liveness axes). The bucket posting
    join is bounded by per-bucket occupancy² (the co-citation/LSH
    argument), never users². One distinct agg + one posting join +
    top-25."""
    e = load(spark, sf_dir, "events")
    ub = e.select(
        "user_id", F.expr("unix_timestamp(ts) div 600").alias("b")
    ).distinct()
    a = ub.select(F.col("user_id").alias("user_a"), "b")
    c = ub.select(F.col("user_id").alias("user_b"), "b")
    pairs = (
        a.join(c, "b")
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    w = Window.orderBy(
        F.col("shared").desc(), F.col("user_a").asc(), F.col("user_b").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select("user_a", "user_b", "shared")
        .orderBy("user_a", "user_b")
    )



@register(
    "dup_invoice_orders",
    f"""
WITH o AS (
  SELECT o_orderkey, o_custkey,
         cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) // 10000 AS amt_band,
         epoch_us(o_orderdate) // 1000000 // 86400 AS d
  FROM orders
)
SELECT a.o_custkey AS custkey, cast(a.amt_band as bigint) AS amt_band,
       a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       cast(abs(a.d - b.d) as bigint) AS day_gap
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.amt_band = b.amt_band
 AND a.o_orderkey < b.o_orderkey AND abs(a.d - b.d) <= 60
ORDER BY custkey, amt_band, order_a, order_b
""",
)
def dup_invoice_orders(spark, sf_dir):
    """Duplicate-invoice detection — the accounts-payable audit every
    controls team runs before payment batches: pairs of orders from
    the SAME customer in the SAME $100 amount band within 60 days —
    the signature of double submission, double capture, or
    split-approval gaming. The (customer, amount-band) equi-join key
    does the heavy lifting — candidate pairs are bounded by
    band-collision group sizes (the fingerprint-posting argument:
    small for real money amounts, which is precisely why a hit
    matters) — and the day band is a residual filter, not a join
    strategy. Exact integer bands and day gaps. Scale shape: one
    self equi-join on a high-cardinality composite key; shuffle ∝
    orders once."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            f"cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) div 10000"
        ).alias("amt_band"),
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("d"),
    )
    a = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("amt_band"),
        F.col("o_orderkey").alias("order_a"),
        F.col("d").alias("da"),
    )
    b = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("amt_band"),
        F.col("o_orderkey").alias("order_b"),
        F.col("d").alias("db"),
    )
    return (
        a.join(b, ["custkey", "amt_band"])
        .filter(
            (F.col("order_a") < F.col("order_b"))
            & (F.abs(F.col("da") - F.col("db")) <= 60)
        )
        .select(
            "custkey",
            F.col("amt_band").cast("long").alias("amt_band"),
            "order_a",
            "order_b",
            F.abs(F.col("da") - F.col("db")).cast("long").alias("day_gap"),
        )
        .orderBy("custkey", "amt_band", "order_a", "order_b")
    )



@register(
    "account_sharing_users",
    f"""
WITH pts AS (
  SELECT user_id, epoch_us(ts) // 1000000 // 600 AS b,
         cast(floor((({C.DERIVED_LON_SQL.format(k='event_id')}) + 180.0) / 2.5) as bigint) AS gx,
         cast(floor((90.0 - ({C.DERIVED_LAT_SQL.format(k='event_id')})) / 2.5) as bigint) AS gy
  FROM events
), span AS (
  SELECT user_id, b,
         greatest(max(gx) - min(gx), max(gy) - min(gy)) AS span_cells,
         cast(count(*) as bigint) AS n_ev
  FROM pts GROUP BY user_id, b
)
SELECT user_id,
       cast(count(*) as bigint) AS n_active_buckets,
       cast(count(CASE WHEN n_ev >= 2 THEN 1 END) as bigint) AS n_multi_buckets,
       cast(count(CASE WHEN span_cells >= 4 THEN 1 END) as bigint) AS n_conflicts,
       cast((count(CASE WHEN span_cells >= 4 THEN 1 END) * 1000000)
            // greatest(count(CASE WHEN n_ev >= 2 THEN 1 END), 1) as bigint)
         AS conflict_q
FROM span GROUP BY user_id ORDER BY user_id
""",
)
def account_sharing_users(spark, sf_dir):
    """Account-sharing / credential-abuse detection: 10-minute buckets
    where ONE account is active in grid cells >= 4 apart (≥ ~10° —
    physically impossible for one person, the within-user counterpart
    of sync_pairs_users' between-user coincidence): per user, active
    buckets, multi-event buckets (the denominator that matters —
    single-event buckets can't conflict), conflict buckets, and the
    conflict rate over multi-event buckets in micro. A high rate is
    shared credentials, session hijack, or proxy rotation — the
    first-line abuse triage before any content signal. One
    (user, bucket) min/max agg + one user agg; Chebyshev spans are
    exact integers."""
    e = load(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        F.expr("unix_timestamp(ts) div 600").alias("b"),
        F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5)
        .cast("long")
        .alias("gx"),
        F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5)
        .cast("long")
        .alias("gy"),
    )
    span = pts.groupBy("user_id", "b").agg(
        F.greatest(
            F.max("gx") - F.min("gx"), F.max("gy") - F.min("gy")
        ).alias("span_cells"),
        F.count("*").cast("long").alias("n_ev"),
    )
    return (
        span.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_active_buckets"),
            F.count(F.when(F.col("n_ev") >= 2, 1)).cast("long").alias("n_multi_buckets"),
            F.count(F.when(F.col("span_cells") >= 4, 1))
            .cast("long")
            .alias("n_conflicts"),
            F.expr(
                "cast((count(CASE WHEN span_cells >= 4 THEN 1 END) * 1000000)"
                " div greatest(count(CASE WHEN n_ev >= 2 THEN 1 END), 1L) as bigint)"
            ).alias("conflict_q"),
        )
        .orderBy("user_id")
    )



@register(
    "hof_function_sweep",
    """
SELECT vec_id,
       cast(len(list_filter(embedding, v -> v::double > 0)) as bigint) AS n_pos,
       list_reduce(list_transform(embedding, v -> abs(v::double)), (a, b) -> a + b)
         AS l1_norm,
       cast(list_reduce(list_transform(embedding,
              v -> CASE WHEN v::double > 0.5 THEN 1 ELSE 0 END),
              (a, b) -> a + b) as bigint) AS n_big,
       CASE WHEN len(list_filter(embedding, v -> abs(v::double) > 2.0)) > 0
            THEN 1 ELSE 0 END AS any_extreme,
       CASE WHEN len(list_filter(embedding, v -> abs(v::double) <= 3.0)) = len(embedding)
            THEN 1 ELSE 0 END AS all_bounded,
       list_reduce(list_transform(generate_series(1, len(embedding)),
           i -> (embedding)[i]::double * (embedding)[len(embedding) + 1 - i]::double),
           (a, b) -> a + b) AS palindrome_dot
FROM embeddings WHERE vec_id < 50 ORDER BY vec_id
""",
)
def hof_function_sweep(spark, sf_dir):
    """Higher-order-function surface sweep over array columns — the
    lambda-expression API (filter / transform / aggregate / exists /
    forall / reverse-zip) that keeps array work JVM-side where a
    lesser engine would fall back to a Python UDF: per vector, a
    filtered count, a sequential-fold L1 norm, a thresholded
    indicator sum, exists/forall flags, and a self-reversed dot
    (transform over an index sequence — the general indexed-lambda
    shape). scalar_function_sweep pins the scalar families; this
    pins the HOF family, every expression whole-stage codegen and
    fold-order-identical to the DuckDB list_* mirror. Narrow
    projection, no joins."""
    e = F.col("embedding")
    rev_dot = F.aggregate(
        F.zip_with(e, F.reverse(e), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") < 50)
        .select(
            "vec_id",
            F.size(F.filter(e, lambda v: v.cast("double") > 0))
            .cast("long")
            .alias("n_pos"),
            F.aggregate(
                F.transform(e, lambda v: F.abs(v.cast("double"))),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("l1_norm"),
            F.aggregate(
                F.transform(
                    e,
                    lambda v: F.when(v.cast("double") > 0.5, 1).otherwise(0),
                ),
                F.lit(0),
                lambda a, b: a + b,
            )
            .cast("long")
            .alias("n_big"),
            F.when(F.exists(e, lambda v: F.abs(v.cast("double")) > 2.0), 1)
            .otherwise(0)
            .alias("any_extreme"),
            F.when(F.forall(e, lambda v: F.abs(v.cast("double")) <= 3.0), 1)
            .otherwise(0)
            .alias("all_bounded"),
            rev_dot.alias("palindrome_dot"),
        )
        .orderBy("vec_id")
    )



@register(
    "runrate_backtest_monthly",
    f"""
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 1000000 // 86400 AS d,
         cast(sum(cast(round(cast(o_totalprice as {DEC}) * 100) as bigint)) as bigint) AS x
  FROM orders GROUP BY d
), mo AS (
  SELECT d // 30 AS m, cast(sum(x) as bigint) AS total,
         cast(sum(CASE WHEN d % 30 < 15 THEN x ELSE 0 END) as bigint) AS first_half,
         cast(count(*) as bigint) AS n_days,
         cast(count(CASE WHEN d % 30 < 15 THEN 1 END) as bigint) AS n_first
  FROM daily GROUP BY m
)
SELECT m AS period, n_days, total AS actual_cents,
       cast((first_half * n_days) // greatest(n_first, 1) as bigint) AS runrate_cents,
       cast(((first_half * n_days) // greatest(n_first, 1) - total) as bigint)
         AS err_cents,
       cast((abs((first_half * n_days) // greatest(n_first, 1) - total) * 1000000)
            // greatest(total, 1) as bigint) AS abs_err_q
FROM mo WHERE n_first > 0 ORDER BY period
""",
)
def runrate_backtest_monthly(spark, sf_dir):
    """Run-rate extrapolation backtest — the FP&A honesty check on the
    most common forecast in any business review ('we're at X
    mid-period, so the period lands at 2X'): per 30-day period,
    extrapolate the first-half revenue by day count, compare to the
    realized total, and report the signed error (pure subtraction —
    sign-safe) and the absolute error in micro. A persistent bias
    says intra-period seasonality breaks naive run-rating (and
    mase_backtest's weekly structure is why); the error SIZE prices
    how early a period's number can honestly be called. One day agg
    + one period agg, integer cents throughout."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    mo = daily.groupBy(F.expr("d div 30").alias("m")).agg(
        F.sum("x").cast("long").alias("total"),
        F.sum(F.when(F.col("d") % 30 < 15, F.col("x")).otherwise(0))
        .cast("long")
        .alias("first_half"),
        F.count("*").cast("long").alias("n_days"),
        F.count(F.when(F.col("d") % 30 < 15, 1)).cast("long").alias("n_first"),
    )
    rr = F.expr("(first_half * n_days) div greatest(n_first, 1L)")
    return (
        mo.filter(F.col("n_first") > 0)
        .select(
            F.col("m").alias("period"),
            "n_days",
            F.col("total").alias("actual_cents"),
            rr.cast("long").alias("runrate_cents"),
            (rr - F.col("total")).cast("long").alias("err_cents"),
            F.expr(
                "cast((abs((first_half * n_days) div greatest(n_first, 1L) - total)"
                " * 1000000) div greatest(total, 1L) as bigint)"
            ).alias("abs_err_q"),
        )
        .orderBy("period")
    )



@register(
    "vendor_consolidation_parts",
    f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         cast(sum(cast(round(l_quantity) as bigint)) as bigint) AS qty,
         cast(sum(cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint)) as bigint)
           AS cents
  FROM lineitem GROUP BY l_partkey, l_suppkey
), rk AS (
  SELECT l_partkey, l_suppkey, qty, cents,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY (cents * 1000000) // greatest(qty, 1) ASC,
                                     l_suppkey ASC) AS rn,
         cast(count(*) OVER (PARTITION BY l_partkey) as bigint) AS ns
  FROM ps
), best AS (SELECT l_partkey, qty AS bq, cents AS bc FROM rk WHERE rn = 1),
sc AS (
  SELECT r.l_partkey, r.ns,
         cast(sum(r.cents) as bigint) AS current_cents,
         cast(sum(CASE WHEN r.rn <= 2 THEN r.cents
                       ELSE (r.qty * b.bc) // greatest(b.bq, 1) END) as bigint)
           AS scenario_cents
  FROM rk r JOIN best b ON r.l_partkey = b.l_partkey
  GROUP BY r.l_partkey, r.ns
)
SELECT l_partkey, ns AS n_suppliers, current_cents, scenario_cents,
       cast(current_cents - scenario_cents as bigint) AS savings_cents
FROM sc WHERE ns >= 3 ORDER BY l_partkey
""",
)
def vendor_consolidation_parts(spark, sf_dir):
    """Vendor-consolidation what-if — the procurement scenario model
    behind every supplier-rationalization deck: for parts with >= 3
    suppliers, keep the two CHEAPEST (by exact volume-weighted unit
    price, ranked on the micro-floor key with supplier tie-break)
    and reprice every dropped supplier's volume at the cheapest
    survivor's unit rate ((qty·best_cents)//best_qty — integer floor
    on nonneg); savings_cents is the headline number and its SIGN is
    the sanity check (always ≥ 0 for rows where the cheapest truly
    is cheapest; a negative row would flag quantity/price data
    rot — part_supply_concentration flags the risk of consolidating,
    this prices the benefit). One (part, supplier) rollup + one
    window + one dim-scale join."""
    li = load(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round("l_quantity").cast("long")).cast("long").alias("qty"),
        F.sum(F.round(F.col("l_extendedprice").cast(DEC) * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.expr("(cents * 1000000) div greatest(qty, 1L)").asc(),
        F.col("l_suppkey").asc(),
    )
    wn = Window.partitionBy("l_partkey")
    rk = ps.select(
        "l_partkey",
        "l_suppkey",
        "qty",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).cast("long").alias("ns"),
    )
    best = rk.filter(F.col("rn") == 1).select(
        "l_partkey", F.col("qty").alias("bq"), F.col("cents").alias("bc")
    )
    sc = (
        rk.join(best, "l_partkey")
        .groupBy("l_partkey", "ns")
        .agg(
            F.sum("cents").cast("long").alias("current_cents"),
            F.sum(
                F.when(F.col("rn") <= 2, F.col("cents")).otherwise(
                    F.expr("(qty * bc) div greatest(bq, 1L)")
                )
            )
            .cast("long")
            .alias("scenario_cents"),
        )
    )
    return (
        sc.filter(F.col("ns") >= 3)
        .select(
            "l_partkey",
            F.col("ns").alias("n_suppliers"),
            "current_cents",
            "scenario_cents",
            (F.col("current_cents") - F.col("scenario_cents"))
            .cast("long")
            .alias("savings_cents"),
        )
        .orderBy("l_partkey")
    )



@register(
    "tail_ratio_types",
    """
WITH v AS (
  SELECT event_type, cast(round(value * 100) as bigint) AS cents, event_id FROM events
), rk AS (
  SELECT event_type, cents,
         cast(row_number() OVER (PARTITION BY event_type
                                 ORDER BY cents ASC, event_id ASC) as bigint) AS rn,
         cast(count(*) OVER (PARTITION BY event_type) as bigint) AS n
  FROM v
)
SELECT event_type, any_value(n) AS n_events,
       cast(max(CASE WHEN rn = (n + 1) // 2 THEN cents END) as bigint) AS p50_c,
       cast(max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) as bigint) AS p99_c,
       cast((max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) * 1000000)
            // greatest(max(CASE WHEN rn = (n + 1) // 2 THEN cents END), 1) as bigint)
         AS tail_ratio_q
FROM rk GROUP BY event_type ORDER BY event_type
""",
)
def tail_ratio_types(spark, sf_dir):
    """Tail-amplification ratio P99/P50 per event type — the
    latency-engineering dial transplanted to value distributions: a
    mean (or even a P50) dashboard hides the tail that dominates
    cost/risk, and the P99/P50 ratio in micro is the one number that
    says HOW MUCH (ratio near 10⁶ = tight distribution, means are
    honest; ≫ 10⁶ = heavy tail, plan for the P99 —
    daily_envelope_orders tracks the band over TIME, this ranks the
    TYPES by tail weight). Both quantiles are exact order statistics
    at ranks ⌈n/2⌉ and ⌈99n/100⌉ with deterministic ties — never an
    approximate sketch. One partitioned window + one hash agg."""
    e = load(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("cents").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    rk = v.select(
        "event_type",
        "cents",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    p50 = F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("cents")))
    p99 = F.max(F.when(F.col("rn") == F.expr("(99 * n + 99) div 100"), F.col("cents")))
    return (
        rk.groupBy("event_type")
        .agg(
            F.expr("any_value(n)").alias("n_events"),
            p50.cast("long").alias("p50_c"),
            p99.cast("long").alias("p99_c"),
            F.expr(
                "cast((max(CASE WHEN rn = (99 * n + 99) div 100 THEN cents END)"
                " * 1000000) div greatest(max(CASE WHEN rn = (n + 1) div 2"
                " THEN cents END), 1L) as bigint)"
            ).alias("tail_ratio_q"),
        )
        .orderBy("event_type")
    )



@register(
    "copy_direction_sources",
    f"""
WITH fp AS (
  SELECT doc_id, source, {T.doc_fingerprint_sql('text')} AS f FROM documents
), pairs AS (
  SELECT a.source AS src_from, b.source AS src_to, cast(count(*) as bigint) AS n_copies
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id AND a.source != b.source
  GROUP BY src_from, src_to
)
SELECT src_from, src_to, n_copies FROM pairs WHERE n_copies >= 2
ORDER BY src_from, src_to
""",
)
def copy_direction_sources(spark, sf_dir):
    """Directed copy-flow matrix between sources: for cross-source
    identical-content pairs, orient each edge from the LOWER doc_id
    (the crawl-order proxy for first publication) to the higher — the
    syndication NETWORK with arrows, where host_mirror_pairs only
    drew the undirected overlap: a source that is mostly arrow-TAIL
    originates content, mostly arrow-HEAD republishes it, and the
    asymmetry between (A→B) and (B→A) counts is the
    plagiarism-direction evidence a takedown or canonical-URL
    decision cites. Fingerprint posting join bounded by dup-group
    sizes; pairs >= 2 keep the matrix above noise. Exact counts
    only."""
    d = load(spark, sf_dir, "documents")
    fp = d.select("doc_id", "source", T.doc_fingerprint(F.col("text")).alias("f"))
    a = fp.select(
        F.col("f"), F.col("doc_id").alias("da"), F.col("source").alias("src_from")
    )
    b = fp.select(
        F.col("f"), F.col("doc_id").alias("db"), F.col("source").alias("src_to")
    )
    return (
        a.join(b, "f")
        .filter((F.col("da") < F.col("db")) & (F.col("src_from") != F.col("src_to")))
        .groupBy("src_from", "src_to")
        .agg(F.count("*").cast("long").alias("n_copies"))
        .filter(F.col("n_copies") >= 2)
        .orderBy("src_from", "src_to")
    )



@register(
    "convoy_pairs_users",
    f"""
WITH pts AS (
  SELECT user_id,
         cast(floor(({_LON.format(k='event_id')} + 180.0) / {_CONVOY_GRID}) as int) AS gx,
         cast(floor((90.0 - {_LAT.format(k='event_id')}) / {_CONVOY_GRID}) as int) AS gy,
         epoch_us(ts) // 1000000 // 86400 AS d
  FROM events
), occ AS (
  SELECT DISTINCT user_id, gx, gy, d FROM pts
), pair_day AS (
  SELECT DISTINCT a.user_id AS u1, b.user_id AS u2, a.d
  FROM occ a JOIN occ b
    ON a.gx = b.gx AND a.gy = b.gy AND a.d = b.d AND a.user_id < b.user_id
), runs AS (
  SELECT u1, u2, d,
         d - row_number() OVER (PARTITION BY u1, u2 ORDER BY d) AS grp
  FROM pair_day
), rl AS (
  SELECT u1, u2, grp, cast(count(*) as bigint) AS run_len
  FROM runs GROUP BY u1, u2, grp
)
SELECT u1, u2,
       cast(max(run_len) as bigint) AS max_run,
       cast(count(CASE WHEN run_len >= {_CONVOY_MIN_RUN} THEN 1 END) as bigint)
         AS n_convoys,
       cast(sum(run_len) as bigint) AS n_days_together
FROM rl GROUP BY u1, u2
HAVING max(run_len) >= {_CONVOY_MIN_RUN}
ORDER BY u1, u2
""",
)
def convoy_pairs_users(spark, sf_dir):
    """Convoy detection: user pairs that co-occupy the same
    {_CONVOY_GRID:.0f}° cell on ≥{_CONVOY_MIN_RUN} CONSECUTIVE days —
    the travel-together pattern that one-off colocation counting
    cannot see (colocation_pairs_events counts shared slots,
    sync_pairs_users shared clock buckets; a convoy additionally
    requires temporal CONTIGUITY, the signature of joint travel,
    shared devices, or coordinated account farms that move together).
    Run lengths come from the classic gaps-and-islands d − row_number
    trick per pair. Scale shape: distinct occupancy first (one agg),
    then a (cell, day)-keyed self-join whose output is bounded by
    per-slot occupancy² — never |users|² — then one window + two aggs
    on the (much smaller) pair-day stream."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.floor((C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_CONVOY_GRID))
        .cast("int")
        .alias("gx"),
        F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_CONVOY_GRID))
        .cast("int")
        .alias("gy"),
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
    )
    occ = pts.distinct()
    a = occ.alias("a")
    b = occ.alias("b")
    pair_day = (
        a.join(
            b,
            (F.col("a.gx") == F.col("b.gx"))
            & (F.col("a.gy") == F.col("b.gy"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u1"),
            F.col("b.user_id").alias("u2"),
            F.col("a.d").alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("u1", "u2").orderBy("d")
    runs = pair_day.withColumn("grp", F.col("d") - F.row_number().over(w))
    rl = runs.groupBy("u1", "u2", "grp").agg(F.count("*").cast("long").alias("run_len"))
    return (
        rl.groupBy("u1", "u2")
        .agg(
            F.max("run_len").cast("long").alias("max_run"),
            F.count(F.when(F.col("run_len") >= _CONVOY_MIN_RUN, 1))
            .cast("long")
            .alias("n_convoys"),
            F.sum("run_len").cast("long").alias("n_days_together"),
        )
        .filter(F.col("max_run") >= _CONVOY_MIN_RUN)
        .orderBy("u1", "u2")
    )



@register(
    "webmercator_pixels_customers",
    f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), px AS (
  SELECT c_custkey,
         least(greatest(cast(floor((lon + 180.0) / 360.0 * {_WM_SIZE}.0) as bigint),
                        0), {_WM_SIZE - 1}) AS pxx,
         least(greatest(cast(floor(
             (1.0 - ln(tan({_WM_PI4} + least(greatest(lat, -{_WM_LAT_MAX}),
                                             {_WM_LAT_MAX})
                              * 0.017453292519943295 / 2.0)) / {_WM_PI})
             / 2.0 * {_WM_SIZE}.0) as bigint), 0), {_WM_SIZE - 1}) AS pxy
  FROM pts
)
SELECT c_custkey, pxx // 256 AS tile_x, pxy // 256 AS tile_y,
       pxx % 256 AS pix_x, pxy % 256 AS pix_y
FROM px ORDER BY c_custkey
""",
)
def webmercator_pixels_customers(spark, sf_dir):
    """True Web-Mercator (EPSG:3857) tile/pixel addressing at z={_WM_Z}
    — the slippy-map projection every tile server (OSM, Google, Bing)
    actually renders with, where quadkey_pyramid_customers' equirect
    grid is only the KEY scheme: py = (1 − ln(tan(π/4 + φ/2))/π)/2 ·
    2^z·256 with the standard ±{_WM_LAT_MAX}° clamp (the latitude where
    the square world cuts off). The ln∘tan is the one trig pipeline in
    the op and lands on a 153 m pixel grid, so the floor is a coarse
    tick in the repo's libm-ulp discipline (a last-ulp disagreement
    moves py by ~10⁻¹¹ px). Pure codegen column math — the renderer's
    per-point hot path stays JVM-side at any scale; tile_x/tile_y is
    the natural write-partition key for a tile-serving sink."""
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    lat_c = F.least(F.greatest(F.col("lat"), F.lit(-_WM_LAT_MAX)), F.lit(_WM_LAT_MAX))
    pxx = F.least(
        F.greatest(
            F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(float(_WM_SIZE))).cast(
                "long"
            ),
            F.lit(0).cast("long"),
        ),
        F.lit(_WM_SIZE - 1).cast("long"),
    )
    pxy = F.least(
        F.greatest(
            F.floor(
                (
                    F.lit(1.0)
                    - F.log(
                        F.tan(F.lit(_WM_PI4) + lat_c * F.lit(0.017453292519943295) / F.lit(2.0))
                    )
                    / F.lit(_WM_PI)
                )
                / F.lit(2.0)
                * F.lit(float(_WM_SIZE))
            ).cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit(_WM_SIZE - 1).cast("long"),
    )
    return (
        pts.select("c_custkey", pxx.alias("pxx"), pxy.alias("pxy"))
        .select(
            "c_custkey",
            F.expr("pxx div 256").alias("tile_x"),
            F.expr("pxy div 256").alias("tile_y"),
            (F.col("pxx") % 256).alias("pix_x"),
            (F.col("pxy") % 256).alias("pix_y"),
        )
        .orderBy("c_custkey")
    )



# ---------------------------------------------------------------------------
# round-4 batch (session 3d): Chatterjee xi, tile cache, R-tree QA, daylength
# ---------------------------------------------------------------------------


@register(
    "chatterjee_xi_sources",
    f"""
WITH m AS (
  SELECT source, doc_id, cast(n_chars as bigint) AS x,
         cast({T.TOKEN_COUNT_SQL.format(t='text')} as bigint) AS y
  FROM documents
), rk AS (
  SELECT source, x, y, doc_id,
         count(*) OVER (PARTITION BY source ORDER BY y
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r,
         count(*) OVER (PARTITION BY source ORDER BY y DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l
  FROM m
), dr AS (
  SELECT source, r, l,
         count(*) OVER (PARTITION BY source) AS n_src,
         abs(r - lag(r) OVER (PARTITION BY source ORDER BY x, doc_id)) AS adr
  FROM rk
), st AS (
  SELECT source, cast(count(*) as bigint) AS n,
         cast(sum(adr) as bigint) AS s,
         cast(2 * sum(l * (n_src - l)) as bigint) AS d
  FROM dr GROUP BY source
)
SELECT source, n AS n_docs, s AS sum_abs_dr, d AS denom,
       CASE WHEN d = 0 THEN 0.0
            ELSE cast(d - n * s as double) / cast(d as double) END AS xi
FROM st ORDER BY source
""",
)
def chatterjee_xi_sources(spark, sf_dir):
    """Chatterjee's ξ rank correlation (2020) between document length
    and token count per source — the modern third member of the
    association family next to spearman_tokens_chars (monotone
    strength) and kendall_tau: ξ detects ARBITRARY functional
    dependence (oscillating, non-monotone) and converges to 0 iff
    independent, 1 iff y is a measurable function of x. Tie-aware
    form: ξ = 1 − n·Σ|r_{{i+1}}−r_i| / (2·Σ lᵢ(n−lᵢ)) with r = #{{y_j
    ≤ y_i}}, l = #{{y_j ≥ y_i}}, the consecutive differences taken in
    x-order (doc_id tie-break, identical both engines). Every
    sufficient statistic is an exact integer from cumulative-count
    windows — no libm; the single double division is the last step.
    Scale shape: three windows + one agg, all sharing the source
    partition shuffle."""
    docs = load(spark, sf_dir, "documents")
    m = docs.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("long").alias("x"),
        T.token_count(F.col("text")).cast("long").alias("y"),
    )
    wy = (
        Window.partitionBy("source")
        .orderBy("y")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wyd = (
        Window.partitionBy("source")
        .orderBy(F.col("y").desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rk = m.select(
        "source",
        "x",
        "doc_id",
        F.count("*").over(wy).alias("r"),
        F.count("*").over(wyd).alias("l"),
    )
    wx = Window.partitionBy("source").orderBy("x", "doc_id")
    dr = rk.select(
        "source",
        "l",
        F.abs(F.col("r") - F.lag("r").over(wx)).alias("adr"),
    )
    wsrc = Window.partitionBy("source")
    dr2 = dr.withColumn("n_src", F.count("*").over(wsrc))
    st = dr2.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("adr").cast("long").alias("s"),
        (F.lit(2) * F.sum(F.col("l") * (F.col("n_src") - F.col("l"))))
        .cast("long")
        .alias("d"),
    )
    return st.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("s").alias("sum_abs_dr"),
        F.col("d").alias("denom"),
        F.when(F.col("d") == 0, F.lit(0.0))
        .otherwise(
            (F.col("d") - F.col("n") * F.col("s")).cast("double") / F.col("d").cast("double")
        )
        .alias("xi"),
    ).orderBy("source")



@register(
    "price_endings_parts",
    f"""
WITH cents AS (
  SELECT cast(round(cast(p_retailprice as {DEC}) * 100) as bigint) % 100 AS ending
  FROM part
), hist AS (
  SELECT ending, cast(count(*) as bigint) AS n FROM cents GROUP BY ending
), tot AS (SELECT cast(count(*) as bigint) AS total FROM cents)
SELECT h.ending, h.n,
       cast((h.n * 1000000) // t.total as bigint) AS share_q,
       cast(((h.n * 100 - t.total) * (h.n * 100 - t.total) * 1000000)
            // (t.total * 100) as bigint) AS chi2_contrib_q
FROM hist h CROSS JOIN tot t ORDER BY ending
""",
)
def price_endings_parts(spark, sf_dir):
    """Price-ending census: the cents digits of every part price, with
    each ending's share and its χ² contribution against the uniform
    1/100 expectation — the retail forensic complementary to
    benford_orders' LEADING digit: human price-setters pile mass on
    .99/.95/.00 ('psychological pricing'), so a uniform ending
    histogram flags machine-generated or randomized price books, and
    a .99-heavy one flags scraped retail data. χ² contribution is the
    integer cross-multiplied form ((100n − N)² / 100N, in micro) — no
    float probabilities. One two-level hash agg + a 1-row total
    broadcast; the key domain is exactly 100 regardless of table
    size."""
    cents = load(spark, sf_dir, "part").select(
        (F.round(F.col("p_retailprice").cast(DEC) * 100).cast("long") % 100).alias("ending")
    )
    hist = cents.groupBy("ending").agg(F.count("*").cast("long").alias("n"))
    tot = cents.agg(F.count("*").cast("long").alias("total"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "ending",
            "n",
            F.expr("(n * 1000000) div total").alias("share_q"),
            F.expr(
                "((n * 100 - total) * (n * 100 - total) * 1000000) div (total * 100)"
            ).alias("chi2_contrib_q"),
        )
        .orderBy("ending")
    )



@register("fca_accessibility_customers", _fca_oracle_sql())
def fca_accessibility_customers(spark, sf_dir):
    """Two-step floating catchment area (2SFCA) accessibility — the
    standard spatial-equity metric for 'how much supply can each
    demand point actually reach': step 1 gives every supplier a
    supply-to-demand ratio R_j = capacity / #customers within d₀ =
    {_FCA_D0_M} m; step 2 scores every customer A_i = Σ R_j over
    reachable suppliers. Low A_i = a supply desert even if a facility
    is nearby-but-swamped — the property neither plain catchment
    counts (supply side only) nor huff shares (no congestion) capture.
    Ratios are exact integer micro; the ONE distance join is computed
    once and reused by both steps (self-joining the pair list, not the
    point tables). Scale shape: within_join's cell-disk prefilter with
    the exact haversine ≤ d₀ gate, then two hash aggs. At d₀ = 3,000 km
    within_join picks S2 level 2 (96 cells) with a radius-2 disk of up
    to 25 cells, so the prefilter drops only about 3/4 of the customer
    × supplier pairs; the pair count stays O(C·S), as it must when the
    catchment is a quarter of the globe."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        C.derived_lat(F.col("c_custkey")).alias("c_lat"),
        C.derived_lon(F.col("c_custkey")).alias("c_lon"),
    )
    sk = F.col("s_suppkey") * 31 + 7
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (1 + F.col("s_suppkey") % 3).alias("cap"),
        C.derived_lat(sk).alias("s_lat"),
        C.derived_lon(sk).alias("s_lon"),
    )
    pairs = (
        within_join(
            cust,
            sup,
            radius_m=float(_FCA_D0_M),
            l_id="c_custkey",
            r_id="s_suppkey",
            l_lat="c_lat",
            l_lon="c_lon",
            r_lat="s_lat",
            r_lon="s_lon",
        )
        .join(F.broadcast(sup.select("s_suppkey", "cap")), "s_suppkey")
        .select("c_custkey", "s_suppkey", "cap")
        .localCheckpoint()
    )
    r = pairs.groupBy("s_suppkey").agg(
        F.expr("(cast(max(cap) as bigint) * 1000000) div count(*)").alias("r_q")
    )
    return (
        pairs.join(r, "s_suppkey")
        .groupBy("c_custkey")
        .agg(
            F.count("*").cast("long").alias("n_supp_reach"),
            F.sum("r_q").cast("long").alias("access_q"),
        )
        .orderBy("c_custkey")
    )



@register(
    "share_of_wallet_customers",
    f"""
WITH spend AS (
  SELECT o.o_custkey AS ck, l.l_suppkey AS sk,
         cast(sum(cast(round(cast(l.l_extendedprice as {DEC}) * 100) as bigint))
              as bigint) AS cents
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY ck, sk
), tot AS (
  SELECT ck, cast(sum(cents) as bigint) AS total,
         cast(count(*) as bigint) AS n_suppliers,
         cast(max(cents) as bigint) AS top_cents
  FROM spend GROUP BY ck
), shares AS (
  SELECT s.ck, (s.cents * 1000000) // t.total AS share_q
  FROM spend s JOIN tot t ON t.ck = s.ck
)
SELECT t.ck AS c_custkey, t.n_suppliers,
       cast((t.top_cents * 1000000) // t.total as bigint) AS top_share_q,
       cast(sum(sh.share_q * sh.share_q) // 1000000 as bigint) AS hhi_q
FROM tot t JOIN shares sh ON sh.ck = t.ck
GROUP BY t.ck, t.n_suppliers, t.top_cents, t.total
ORDER BY c_custkey
""",
)
def share_of_wallet_customers(spark, sf_dir):
    """Share-of-wallet concentration per customer: how much of each
    customer's spend goes to their TOP supplier, plus a quantized HHI
    over their supplier mix — the demand-side mirror of
    part_supply_concentration (which asks the same of supply): a
    customer with top_share_q → 10⁶ is single-sourced (churn risk =
    that one relationship), a flat mix is a comparison shopper the
    loyalty program hasn't captured. Money is exact cents; shares are
    exact integer micro and the HHI is Σ(shareᵩ²)/10⁶ — a quantized
    (floor-per-term) HHI, identical in both engines by construction
    and within 10⁻⁶·n of the real one. Two hash aggs + one self-join
    of the (customer, supplier) spend table — cardinality bounded by
    purchase relationships, never rows²."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    spend = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice").cast(DEC) * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = spend.groupBy("ck").agg(
        F.sum("cents").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_suppliers"),
        F.max("cents").cast("long").alias("top_cents"),
    )
    shares = spend.join(tot.select("ck", "total"), "ck").select(
        "ck", F.expr("(cents * 1000000) div total").alias("share_q")
    )
    return (
        tot.join(shares, "ck")
        .groupBy("ck", "n_suppliers", "top_cents", "total")
        .agg(
            F.expr("cast(sum(share_q * share_q) div 1000000 as bigint)").alias("hhi_q")
        )
        .select(
            F.col("ck").alias("c_custkey"),
            "n_suppliers",
            F.expr("cast((top_cents * 1000000) div total as bigint)").alias("top_share_q"),
            "hhi_q",
        )
        .orderBy("c_custkey")
    )



@register(
    "reach_frequency_curve_users",
    f"""
WITH per_user AS (
  SELECT user_id, cast(count(*) as bigint) AS n FROM events GROUP BY user_id
), tot AS (
  SELECT cast(sum(n) as bigint) AS total, cast(count(*) as bigint) AS reach
  FROM per_user
), caps AS (SELECT * FROM (VALUES {", ".join(f"({k})" for k in _RF_CAPS)}) AS c(cap))
SELECT c.cap, t.reach,
       cast(sum(least(p.n, c.cap)) as bigint) AS capped_impressions,
       cast((sum(least(p.n, c.cap)) * 1000000) // t.total as bigint) AS kept_share_q,
       cast((sum(least(p.n, c.cap)) * 1000000) // t.reach as bigint) AS avg_freq_q
FROM per_user p CROSS JOIN caps c CROSS JOIN tot t
GROUP BY c.cap, t.reach, t.total ORDER BY cap
""",
)
def reach_frequency_curve_users(spark, sf_dir):
    """Reach & frequency-capping curve — the ad-ops planning table: if
    each user is capped at k impressions (k ∈ {_RF_CAPS}), how many
    impressions survive (capped_impressions), what share of the
    uncapped volume is that (kept_share_q), and what average frequency
    does the audience see (avg_freq_q, micro)? The curve's fast
    saturation is the Zipf-concentration argument for capping: most
    volume beyond k=3 hits the same heavy users (the per-user twin of
    tile_cache_working_set's per-tile curve). One per-user agg + a
    5-row literal cap dim + a 1-row total anchor — exact integers
    throughout."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n"))
    tot = per_user.agg(
        F.sum("n").cast("long").alias("total"), F.count("*").cast("long").alias("reach")
    )
    caps = spark.createDataFrame([(k,) for k in _RF_CAPS], "cap int")
    return (
        per_user.crossJoin(F.broadcast(caps))
        .crossJoin(F.broadcast(tot))
        .groupBy("cap", "reach", "total")
        .agg(F.sum(F.least(F.col("n"), F.col("cap"))).cast("long").alias("capped_impressions"))
        .select(
            "cap",
            "reach",
            "capped_impressions",
            F.expr("(capped_impressions * 1000000) div total").alias("kept_share_q"),
            F.expr("(capped_impressions * 1000000) div reach").alias("avg_freq_q"),
        )
        .orderBy("cap")
    )



@register("multimodal_image_ahash", None)
def multimodal_image_ahash(spark, sf_dir):
    """Perceptual average-hash fingerprints over the synthetic media
    table — rows-only like multimodal_image_features (the decode is
    the documented deterministic fake; what's real and under test is
    the batched mapInPandas plumbing and the bit-packing math in
    functions/multimodal.image_ahash). Emits the 64-bit aHash (signed
    int64) and its popcount per image; downstream, exact groupBy on
    ahash (or the simhash banded-hamming join) is the visual near-dup
    path that byte-digest dedup cannot see. Deterministic across
    partitionings — per-row hashes, no cross-row state."""
    from gipspark.functions.multimodal import image_ahash, synthetic_media_df

    media = synthetic_media_df(spark, 120)
    return image_ahash(media, grid=8).orderBy("media_id")



@register(
    "group_kfold_assign",
    f"""
WITH hosts AS (
  SELECT doc_id, source,
         {D.MD5_LONG_SQL.format(x="concat('gkf:', source)")} % {_GKF_K} AS fold
  FROM documents
), span AS (
  SELECT source, cast(count(DISTINCT fold) as bigint) AS n_folds_of_host
  FROM hosts GROUP BY source
), tot AS (SELECT cast(count(*) as bigint) AS n_total FROM hosts)
SELECT h.fold,
       cast(count(*) as bigint) AS n_docs,
       cast(count(DISTINCT h.source) as bigint) AS n_hosts,
       cast((count(*) * 1000000) // t.n_total as bigint) AS share_q,
       cast(max(s.n_folds_of_host) as bigint) AS max_folds_per_host,
       (max(s.n_folds_of_host) = 1) AS leakage_free
FROM hosts h JOIN span s ON s.source = h.source CROSS JOIN tot t
GROUP BY h.fold, t.n_total ORDER BY fold
""",
)
def group_kfold_assign(spark, sf_dir):
    """GROUP k-fold assignment contract: fold = md5(host) mod {_GKF_K},
    so every document of a host lands in the SAME fold — the split
    discipline that actually prevents the leakage split_leakage_audit
    measures (near-duplicate pages overwhelmingly share a host;
    stratified_kfold_assign's row-level split balances labels but puts
    a host's boilerplate twins on both sides of the train/eval fence,
    inflating eval). Emits per-fold size/host census plus the
    leakage_free contract column (max folds any host spans — 1 by
    construction, and the oracle asserts it). Deterministic pure-
    function assignment: reproducible across runs, partitionings, and
    cluster sizes — the property an RNG split cannot give. Two hash
    aggs on host keys."""
    docs = load(spark, sf_dir, "documents")
    hosts = docs.select(
        "doc_id",
        "source",
        (D.md5_long(F.concat(F.lit("gkf:"), F.col("source"))) % _GKF_K).alias("fold"),
    )
    span = hosts.groupBy("source").agg(
        F.countDistinct("fold").cast("long").alias("n_folds_of_host")
    )
    tot = hosts.agg(F.count("*").cast("long").alias("n_total"))
    return (
        hosts.join(span, "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("fold", "n_total")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_hosts"),
            F.max("n_folds_of_host").cast("long").alias("max_folds_per_host"),
        )
        .select(
            "fold",
            "n_docs",
            "n_hosts",
            F.expr("(n_docs * 1000000) div n_total").alias("share_q"),
            "max_folds_per_host",
            (F.col("max_folds_per_host") == 1).alias("leakage_free"),
        )
        .orderBy("fold")
    )



@register(
    "fixed_effects_slope_users",
    f"""
WITH obs AS (
  SELECT user_id, cast(hour(ts) as bigint) AS x,
         cast(round(cast(value as {DEC}) * 100) as bigint) AS y
  FROM events
), per_user AS (
  SELECT user_id, cast(count(*) as bigint) AS n,
         cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
         cast(sum(x * x) as bigint) AS sxx, cast(sum(x * y) as bigint) AS sxy
  FROM obs GROUP BY user_id
), fe AS (
  SELECT cast(count(*) as bigint) AS n_users,
         cast(sum(((n * sxy - sx * sy) * 1000000) // n) as bigint) AS num_q,
         cast(sum(((n * sxx - sx * sx) * 1000000) // n) as bigint) AS den_q
  FROM per_user WHERE n >= 2
), pool AS (
  SELECT cast(count(*) as bigint) AS n_obs,
         cast(count(*) * sum(x * y) - sum(x) * sum(y) as bigint) AS pnum,
         cast(count(*) * sum(x * x) - sum(x) * sum(x) as bigint) AS pden
  FROM obs
)
SELECT f.n_users, p.n_obs,
       cast(p.pnum as double) / cast(p.pden as double) AS pooled_slope,
       cast(f.num_q as double) / cast(f.den_q as double) AS fe_slope
FROM fe f CROSS JOIN pool p
""",
)
def fixed_effects_slope_users(spark, sf_dir):
    """Fixed-effects (within) estimator vs pooled OLS — econometrics'
    standard confounding demonstration, as a one-row contrast: the
    slope of event value on hour-of-day estimated POOLED (one
    regression over all rows — absorbs every between-user difference
    into the slope) vs WITHIN users (each user demeaned, so only
    intra-user hour variation identifies the effect; user-level
    confounders — heavy spenders who are also night owls — cancel
    exactly). A large pooled/FE gap is the composition-bias alarm
    simpsons_paradox_audit raises for categorical strata, here for a
    continuous regressor. Per-user moments are exact integers; each
    user's within contribution is quantized to micro BEFORE the
    cross-user sum so the total is exact integer arithmetic in both
    engines (no float accumulation order). Two hash aggs, one 1-row
    combine."""
    ev = load(spark, sf_dir, "events")
    obs = ev.select(
        "user_id",
        F.hour("ts").cast("long").alias("x"),
        F.round(F.col("value").cast(DEC) * 100).cast("long").alias("y"),
    )
    per_user = obs.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    fe = per_user.filter(F.col("n") >= 2).agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.expr("((n * sxy - sx * sy) * 1000000) div n")).cast("long").alias("num_q"),
        F.sum(F.expr("((n * sxx - sx * sx) * 1000000) div n")).cast("long").alias("den_q"),
    )
    pool = obs.agg(
        F.count("*").cast("long").alias("n_obs"),
        (F.count("*") * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
        .cast("long")
        .alias("pnum"),
        (F.count("*") * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        .cast("long")
        .alias("pden"),
    )
    return fe.crossJoin(F.broadcast(pool)).select(
        "n_users",
        "n_obs",
        (F.col("pnum").cast("double") / F.col("pden").cast("double")).alias("pooled_slope"),
        (F.col("num_q").cast("double") / F.col("den_q").cast("double")).alias("fe_slope"),
    )



# ---------------------------------------------------------------------------
# round-4 batch (session 3i): null semantics, spherical centroid, aging,
# block bootstrap
# ---------------------------------------------------------------------------


@register(
    "null_semantics_sweep",
    f"""
WITH base AS (
  SELECT event_id,
         CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE cast(round(cast(value as {DEC}) * 100) as bigint) END AS x,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS s
  FROM events
)
SELECT cast(count(*) as bigint) AS n_rows,
       cast(count(x) as bigint) AS count_x,
       cast(count(*) - count(x) as bigint) AS n_null_x,
       cast(count(DISTINCT s) as bigint) AS n_distinct_s,
       cast(sum(x) as bigint) AS sum_x,
       cast(sum(x) // count(x) as bigint) AS avg_floor_x,
       cast(count(CASE WHEN x IS NOT DISTINCT FROM NULL THEN 1 END) as bigint)
         AS nullsafe_eq_null,
       cast(count(CASE WHEN greatest(x, 0) >= 0 THEN 1 END) as bigint)
         AS greatest_skips_null,
       cast(count(CASE WHEN (s || 'suffix') IS NULL THEN 1 END) as bigint)
         AS concat_op_propagates,
       cast(count(coalesce(x, 0)) as bigint) AS coalesce_restores,
       cast(count(nullif(event_id % 5, 0)) as bigint) AS nullif_blanks,
       cast(count(CASE WHEN x = x THEN 1 END) as bigint) AS self_eq_drops_null,
       cast(count(CASE WHEN x NOT IN (0, NULL) THEN 1 END) as bigint)
         AS not_in_null_trap
FROM base
""",
)
def null_semantics_sweep(spark, sf_dir):
    """NULL-semantics contract — the three-valued-logic behaviors every
    query in this registry silently depends on, pinned as one row of
    counted facts agreed by BOTH engines: count(*) vs count(col),
    null-skipping sum/avg and count(DISTINCT), null-safe equality
    (<=> / IS NOT DISTINCT FROM), greatest() SKIPPING nulls (not
    propagating — the MySQL-style trap inverted), || propagating
    through strings, coalesce/nullif round-trips, x = x dropping null
    rows, and the classic `NOT IN (…, NULL)` trap yielding zero
    matches. Deliberately EXCLUDED because the engines genuinely
    diverge (verified): concat() (variadic — Spark propagates NULL,
    DuckDB skips it) and collect_list/list() (Spark drops nulls,
    DuckDB keeps them) — the two functions an oracle-paired engine
    must never put on a nullable column, which is exactly why this
    registry routes through || and pre-filtered collects. One scan,
    one agg."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("long"))
        .otherwise(F.round(F.col("value").cast(DEC) * 100).cast("long"))
        .alias("x"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("s"),
    )
    return base.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("x").cast("long").alias("count_x"),
        (F.count("*") - F.count("x")).cast("long").alias("n_null_x"),
        F.countDistinct("s").cast("long").alias("n_distinct_s"),
        F.sum("x").cast("long").alias("sum_x"),
        F.expr("cast(sum(x) div count(x) as bigint)").alias("avg_floor_x"),
        F.count(F.when(F.expr("x <=> NULL"), 1)).cast("long").alias("nullsafe_eq_null"),
        F.count(F.when(F.greatest(F.col("x"), F.lit(0)) >= 0, 1))
        .cast("long")
        .alias("greatest_skips_null"),
        F.count(F.when(F.expr("(s || 'suffix') IS NULL"), 1))
        .cast("long")
        .alias("concat_op_propagates"),
        F.count(F.coalesce(F.col("x"), F.lit(0))).cast("long").alias("coalesce_restores"),
        F.count(F.nullif(F.col("event_id") % 5, F.lit(0))).cast("long").alias("nullif_blanks"),
        F.count(F.when(F.col("x") == F.col("x"), 1)).cast("long").alias("self_eq_drops_null"),
        F.count(F.when(F.expr("x NOT IN (0, NULL)"), 1))
        .cast("long")
        .alias("not_in_null_trap"),
    )



@register(
    "order_aging_buckets",
    f"""
WITH done AS (
  SELECT l_orderkey, max(l_shipdate) AS last_ship FROM lineitem GROUP BY l_orderkey
), snaps AS (
  SELECT cast(snap as date) AS snap
  FROM (VALUES {", ".join(f"(DATE '{d}')" for d in _AGING_SNAPS)}) AS s(snap)
), open_orders AS (
  SELECT s.snap, o.o_orderkey,
         cast(round(cast(o.o_totalprice as {DEC}) * 100) as bigint) AS cents,
         datediff('day', cast(o.o_orderdate as date), s.snap) AS age_d
  FROM orders o JOIN done d ON d.l_orderkey = o.o_orderkey
  CROSS JOIN snaps s
  WHERE cast(o.o_orderdate as date) <= s.snap AND cast(d.last_ship as date) > s.snap
), bucketed AS (
  SELECT snap,
         CASE WHEN age_d <= {_AGING_EDGES[0]} THEN 'a_0_30'
              WHEN age_d <= {_AGING_EDGES[1]} THEN 'b_31_90'
              ELSE 'c_90_plus' END AS bucket,
         cents
  FROM open_orders
)
SELECT snap, bucket, cast(count(*) as bigint) AS n_orders,
       cast(sum(cents) as bigint) AS open_cents
FROM bucketed GROUP BY snap, bucket ORDER BY snap, bucket
""",
)
def order_aging_buckets(spark, sf_dir):
    """Open-order aging report — the month-end AS-OF snapshot every
    operations review runs: at each snapshot date, which orders were
    placed but not yet fully shipped (last line-item ship date still
    in the future), bucketed by age (0–30 / 31–90 / 90+ days) with
    exact open value in cents. The point-in-time reconstruction from
    an event-sourced table (orders + shipments) — no mutable 'status'
    column needed, the same bitemporal discipline as scd2_fact_join —
    and the 90+ bucket is the stuck-order alarm. One per-order
    max-ship agg + a 4-row literal snapshot dim with range predicates
    + one hash agg."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    done = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    snaps = spark.createDataFrame([(d,) for d in _AGING_SNAPS], "snap string").select(
        F.col("snap").cast("date").alias("snap")
    )
    open_orders = (
        o.join(done, done["l_orderkey"] == o["o_orderkey"])
        .crossJoin(F.broadcast(snaps))
        .filter(
            (F.col("o_orderdate").cast("date") <= F.col("snap"))
            & (F.col("last_ship").cast("date") > F.col("snap"))
        )
        .select(
            "snap",
            F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
            F.datediff(F.col("snap"), F.col("o_orderdate").cast("date")).alias("age_d"),
        )
    )
    bucket = (
        F.when(F.col("age_d") <= _AGING_EDGES[0], "a_0_30")
        .when(F.col("age_d") <= _AGING_EDGES[1], "b_31_90")
        .otherwise("c_90_plus")
    )
    return (
        open_orders.groupBy("snap", bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("open_cents"),
        )
        .orderBy("snap", "bucket")
    )



# ---------------------------------------------------------------------------
# round-4 batch (session 3j): solar hour, grid sweep, cloaking, ABC-XYZ
# ---------------------------------------------------------------------------


@register(
    "solar_hour_profile",
    f"""
WITH pts AS (
  SELECT event_type, epoch_us(ts) // 1000000 AS t,
         {_LON.format(k='event_id')} AS lon
  FROM events
), hrs AS (
  SELECT event_type,
         (t // 3600) % 24 AS utc_hour,
         (((t // 3600 + cast(round(lon / 15.0, 0) as bigint)) % 24) + 24) % 24
           AS solar_hour
  FROM pts
)
SELECT event_type, cast(solar_hour as int) AS solar_hour,
       cast(count(*) as bigint) AS n_solar,
       cast(count(CASE WHEN utc_hour = solar_hour THEN 1 END) as bigint)
         AS n_same_as_utc
FROM hrs GROUP BY event_type, solar_hour ORDER BY event_type, solar_hour
""",
)
def solar_hour_profile(spark, sf_dir):
    """Solar-local-hour activity profile: shift each event's UTC hour
    by its longitude's solar offset (round(lon/15) hours — the
    timezone approximation that needs no tz database) and census
    activity by event type × solar hour — the mobility-data trick
    that recovers the true diurnal rhythm from UTC-stamped global
    data (a UTC histogram of worldwide events is flat even when every
    human sleeps at night; the solar histogram shows the pulse).
    modal_hour_users reads UTC clocks; this is the geography-corrected
    twin, and n_same_as_utc measures how much of the corpus lives
    near Greenwich. Offset is exact integer arithmetic after one
    coarse round; double-mod keeps negative offsets in [0, 24). One
    scan + one agg."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.expr("unix_timestamp(ts)").alias("t"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    hrs = pts.select(
        "event_type",
        F.expr("(t div 3600) % 24").alias("utc_hour"),
        F.expr(
            "(((t div 3600 + cast(round(lon / 15.0, 0) as bigint)) % 24) + 24) % 24"
        ).alias("solar_hour"),
    )
    return (
        hrs.groupBy("event_type", F.col("solar_hour").cast("int").alias("solar_hour"))
        .agg(
            F.count("*").cast("long").alias("n_solar"),
            F.count(F.when(F.col("utc_hour") == F.col("solar_hour"), 1))
            .cast("long")
            .alias("n_same_as_utc"),
        )
        .orderBy("event_type", "solar_hour")
    )



@register(
    "abc_xyz_matrix_parts",
    f"""
WITH demand AS (
  SELECT l_partkey,
         epoch_us(l_shipdate) // 1000000 // 604800 AS wk,
         cast(sum(cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint)) as bigint)
           AS cents,
         cast(sum(cast(l_quantity as bigint)) as bigint) AS qty
  FROM lineitem GROUP BY l_partkey, wk
), per_part AS (
  SELECT l_partkey,
         cast(sum(cents) as bigint) AS rev,
         cast(count(*) as bigint) AS n_wk,
         cast(sum(qty) as bigint) AS sq,
         cast(sum(qty * qty) as bigint) AS sqq
  FROM demand GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, rev, n_wk, sq, sqq,
         sum(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
         sum(rev) OVER () AS tot_rev
  FROM per_part
), classed AS (
  SELECT l_partkey,
         CASE WHEN cum_rev * 10 <= tot_rev * 8 THEN 'A'
              WHEN cum_rev * 100 <= tot_rev * 95 THEN 'B' ELSE 'C' END AS abc,
         CASE WHEN n_wk < 2 THEN 'Z'
              WHEN (n_wk * sqq - sq * sq) * 4 <= sq * sq THEN 'X'
              WHEN (n_wk * sqq - sq * sq) <= sq * sq THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM ranked
)
SELECT abc, xyz, cast(count(*) as bigint) AS n_parts
FROM classed GROUP BY abc, xyz ORDER BY abc, xyz
""",
)
def abc_xyz_matrix_parts(spark, sf_dir):
    """ABC-XYZ inventory matrix — the supply-chain planning 9-box:
    parts classed by cumulative revenue share (A = first 80%, B = to
    95%, C = tail — abc_analysis_parts' axis) CROSSED with weekly
    demand variability (X: CV² ≤ ¼ i.e. steady, Y: CV² ≤ 1, Z: erratic
    or <2 active weeks). AX cells run on automated min-max
    replenishment, CZ cells are the make-to-order/discontinue review
    list — the matrix IS the inventory-policy assignment. CV² compares
    as the exact integer cross-multiplication n·Σq²−(Σq)² vs (Σq)²
    (no float variance), and the ABC cut uses integer cum·10 ≤ tot·8.
    One week-grain agg, one part-grain agg, one global revenue-rank
    window (at scale: the two-phase global rank of str_pack), one
    census agg."""
    li = load(spark, sf_dir, "lineitem")
    demand = li.groupBy(
        "l_partkey", F.expr("unix_timestamp(l_shipdate) div 604800").alias("wk")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice").cast(DEC) * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
    )
    per_part = demand.groupBy("l_partkey").agg(
        F.sum("cents").cast("long").alias("rev"),
        F.count("*").cast("long").alias("n_wk"),
        F.sum("qty").cast("long").alias("sq"),
        F.sum(F.col("qty") * F.col("qty")).cast("long").alias("sqq"),
    )
    w_cum = Window.orderBy(F.desc("rev"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_part.select(
        "l_partkey",
        "rev",
        "n_wk",
        "sq",
        "sqq",
        F.sum("rev").over(w_cum).alias("cum_rev"),
        F.sum("rev").over(w_all).alias("tot_rev"),
    )
    var_num = F.col("n_wk") * F.col("sqq") - F.col("sq") * F.col("sq")
    classed = ranked.select(
        F.when(F.col("cum_rev") * 10 <= F.col("tot_rev") * 8, "A")
        .when(F.col("cum_rev") * 100 <= F.col("tot_rev") * 95, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("n_wk") < 2, "Z")
        .when(var_num * 4 <= F.col("sq") * F.col("sq"), "X")
        .when(var_num <= F.col("sq") * F.col("sq"), "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        classed.groupBy("abc", "xyz")
        .agg(F.count("*").cast("long").alias("n_parts"))
        .orderBy("abc", "xyz")
    )



# ---------------------------------------------------------------------------
# round-4 batch (session 3k): TOPSIS, encoding advisor, MDE, OTIF
# ---------------------------------------------------------------------------


@register(
    "topsis_suppliers",
    """
WITH crit AS (
  SELECT s_suppkey,
         cast(round(cast(s_acctbal as decimal(18,2)) * 100) as bigint) + 100000
           AS c_bal,
         1 + s_suppkey % 3 AS c_cap,
         1 + s_suppkey % 7 AS c_lag
  FROM supplier
), norms AS (
  SELECT cast(sum(c_bal * c_bal) as DECIMAL(38,0)) AS n_bal,
         cast(sum(c_cap * c_cap) as DECIMAL(38,0)) AS n_cap,
         cast(sum(c_lag * c_lag) as DECIMAL(38,0)) AS n_lag
  FROM crit
), scored AS (
  SELECT c.s_suppkey,
         cast(c.c_bal as double) / sqrt(cast(n.n_bal as double)) AS v_bal,
         cast(c.c_cap as double) / sqrt(cast(n.n_cap as double)) AS v_cap,
         cast(c.c_lag as double) / sqrt(cast(n.n_lag as double)) AS v_lag
  FROM crit c CROSS JOIN norms n
), ideal AS (
  SELECT max(v_bal) AS b_bal, max(v_cap) AS b_cap, min(v_lag) AS b_lag,
         min(v_bal) AS w_bal, min(v_cap) AS w_cap, max(v_lag) AS w_lag
  FROM scored
), dist AS (
  SELECT s.s_suppkey,
         sqrt((s.v_bal - i.b_bal) * (s.v_bal - i.b_bal)
              + (s.v_cap - i.b_cap) * (s.v_cap - i.b_cap)
              + (s.v_lag - i.b_lag) * (s.v_lag - i.b_lag)) AS d_best,
         sqrt((s.v_bal - i.w_bal) * (s.v_bal - i.w_bal)
              + (s.v_cap - i.w_cap) * (s.v_cap - i.w_cap)
              + (s.v_lag - i.w_lag) * (s.v_lag - i.w_lag)) AS d_worst
  FROM scored s CROSS JOIN ideal i
)
SELECT s_suppkey, cast(round(d_worst / (d_best + d_worst) * 1000000.0, 0) as bigint)
         AS closeness_q,
       cast(row_number() OVER (
         ORDER BY d_worst / (d_best + d_worst) DESC, s_suppkey) as int) AS rnk
FROM dist ORDER BY rnk
""",
)
def topsis_suppliers(spark, sf_dir):
    """TOPSIS multi-criteria supplier ranking — the standard MCDM
    compromise method (Hwang–Yoon): vector-normalize each criterion
    (account balance ↑, capacity ↑, synthetic ship-lag ↓), measure each
    supplier's Euclidean distance to the ideal and anti-ideal points,
    rank by relative closeness d⁻/(d⁺+d⁻). Where skyline_customers
    returns the whole Pareto-efficient SET, TOPSIS produces the TOTAL
    ORDER a procurement review actually signs off on. Criteria are
    exact integers (balance shifted positive so the vector norm is
    monotone-safe); norms come from DECIMAL(38,0) sums; the doubles
    (one sqrt-normalize, two distances) are the same textual IEEE tree
    both engines, emitted as a micro-rounded closeness plus the rank.
    Two 1-row anchors (norms, ideal/anti-ideal) broadcast over the
    supplier dim — no pairwise work."""
    dec = "decimal(38,0)"
    sup = load(spark, sf_dir, "supplier")
    crit = sup.select(
        "s_suppkey",
        (F.round(F.col("s_acctbal").cast("decimal(18,2)") * 100).cast("long") + 100000).alias(
            "c_bal"
        ),
        (1 + F.col("s_suppkey") % 3).alias("c_cap"),
        (1 + F.col("s_suppkey") % 7).alias("c_lag"),
    )
    norms = crit.agg(
        F.sum(F.col("c_bal").cast(dec) * F.col("c_bal")).cast(dec).alias("n_bal"),
        F.sum(F.col("c_cap").cast(dec) * F.col("c_cap")).cast(dec).alias("n_cap"),
        F.sum(F.col("c_lag").cast(dec) * F.col("c_lag")).cast(dec).alias("n_lag"),
    )
    scored = crit.crossJoin(F.broadcast(norms)).select(
        "s_suppkey",
        (F.col("c_bal").cast("double") / F.sqrt(F.col("n_bal").cast("double"))).alias("v_bal"),
        (F.col("c_cap").cast("double") / F.sqrt(F.col("n_cap").cast("double"))).alias("v_cap"),
        (F.col("c_lag").cast("double") / F.sqrt(F.col("n_lag").cast("double"))).alias("v_lag"),
    )
    ideal = scored.agg(
        F.max("v_bal").alias("b_bal"),
        F.max("v_cap").alias("b_cap"),
        F.min("v_lag").alias("b_lag"),
        F.min("v_bal").alias("w_bal"),
        F.min("v_cap").alias("w_cap"),
        F.max("v_lag").alias("w_lag"),
    )
    d = scored.crossJoin(F.broadcast(ideal))
    d_best = F.sqrt(
        (F.col("v_bal") - F.col("b_bal")) * (F.col("v_bal") - F.col("b_bal"))
        + (F.col("v_cap") - F.col("b_cap")) * (F.col("v_cap") - F.col("b_cap"))
        + (F.col("v_lag") - F.col("b_lag")) * (F.col("v_lag") - F.col("b_lag"))
    )
    d_worst = F.sqrt(
        (F.col("v_bal") - F.col("w_bal")) * (F.col("v_bal") - F.col("w_bal"))
        + (F.col("v_cap") - F.col("w_cap")) * (F.col("v_cap") - F.col("w_cap"))
        + (F.col("v_lag") - F.col("w_lag")) * (F.col("v_lag") - F.col("w_lag"))
    )
    cc = d_worst / (d_best + d_worst)
    return (
        d.select(
            "s_suppkey",
            F.round(cc * F.lit(1000000.0), 0).cast("long").alias("closeness_q"),
            F.row_number()
            .over(Window.orderBy(cc.desc(), F.col("s_suppkey")))
            .cast("int")
            .alias("rnk"),
        )
        .orderBy("rnk")
    )



@register(
    "mde_power_orders",
    f"""
WITH obs AS (
  SELECT o_orderpriority AS seg,
         cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) AS cents
  FROM orders
), st AS (
  SELECT seg, cast(count(*) as bigint) AS n,
         cast(sum(cents) as DECIMAL(38,0)) AS s,
         cast(sum(cast(cents as DECIMAL(38,0)) * cents) as DECIMAL(38,0)) AS ss
  FROM obs GROUP BY seg
)
SELECT seg, cast(n as bigint) AS n,
       cast((n * ss - s * s) as double) / cast(n as double) / cast(n as double)
         AS var_cents,
       2.8015 * sqrt(2.0 * (cast((n * ss - s * s) as double)
                            / cast(n as double) / cast(n as double))
                     / (cast(n as double) / 2.0)) AS mde_cents,
       2.8015 * sqrt(2.0 * (cast((n * ss - s * s) as double)
                            / cast(n as double) / cast(n as double))
                     / (cast(n as double) / 2.0))
         / (cast(s as double) / cast(n as double)) * 100.0 AS mde_pct
FROM st ORDER BY seg
""",
)
def mde_power_orders(spark, sf_dir):
    """Minimum detectable effect (MDE) calculator per order-priority
    segment — the experiment-PLANNING number every A/B review asks for
    BEFORE launch (srm/cuped/sprt audit tests after): with this
    segment's observed variance and a 50/50 split of its n, the
    smallest lift detectable at α=0.05 two-sided with 80% power is
    (z_{{0.975}}+z_{{0.8}})·√(2σ²/(n/2)) — the z-sum 1.9600+0.8416 =
    2.8015 inlined as one literal (the module's constant discipline,
    like the O'Brien-Fleming boundary). Variance comes from exact
    DECIMAL(38,0) moments (cents² sums pass int64 fast); the doubles
    are the same textual tree both engines. Segments with huge MDE%
    are the 'this test can never conclude' warnings. One hash agg."""
    dec = "decimal(38,0)"
    o = load(spark, sf_dir, "orders")
    obs = o.select(
        F.col("o_orderpriority").alias("seg"),
        F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
    )
    st = obs.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast(dec)).cast(dec).alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).cast(dec).alias("ss"),
    )
    var_c = (
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double")
        / F.col("n").cast("double")
        / F.col("n").cast("double")
    )
    mde = F.lit(2.8015) * F.sqrt(
        F.lit(2.0) * var_c / (F.col("n").cast("double") / F.lit(2.0))
    )
    return st.select(
        "seg",
        F.col("n").cast("long").alias("n"),
        var_c.alias("var_cents"),
        mde.alias("mde_cents"),
        (mde / (F.col("s").cast("double") / F.col("n").cast("double")) * F.lit(100.0)).alias(
            "mde_pct"
        ),
    ).orderBy("seg")



@register(
    "otif_rate_orders",
    f"""
WITH lines AS (
  SELECT l_orderkey,
         cast(count(*) as bigint) AS n_lines,
         cast(count(CASE WHEN l_returnflag != 'R' THEN 1 END) as bigint)
           AS n_kept,
         max(cast(l_shipdate as date)) AS last_ship
  FROM lineitem GROUP BY l_orderkey
), orders_j AS (
  SELECT o.o_orderpriority AS priority, l.n_lines, l.n_kept,
         datediff('day', cast(o.o_orderdate as date), l.last_ship) AS lag_d
  FROM orders o JOIN lines l ON l.l_orderkey = o.o_orderkey
), flagged AS (
  SELECT priority,
         CASE WHEN lag_d <= {_OTIF_LAG_DAYS} THEN 1 ELSE 0 END AS on_time,
         CASE WHEN n_kept = n_lines THEN 1 ELSE 0 END AS in_full
  FROM orders_j
)
SELECT priority,
       cast(count(*) as bigint) AS n_orders,
       cast(sum(on_time) as bigint) AS n_on_time,
       cast(sum(in_full) as bigint) AS n_in_full,
       cast(sum(on_time * in_full) as bigint) AS n_otif,
       cast((sum(on_time * in_full) * 1000000) // count(*) as bigint) AS otif_q
FROM flagged GROUP BY priority ORDER BY priority
""",
)
def otif_rate_orders(spark, sf_dir):
    """OTIF (on-time in-full) rate per order priority — supply chain's
    headline composite SLA, and deliberately a PRODUCT of two
    conditions rather than two separate rates: an order counts only if
    its LAST line shipped within {_OTIF_LAG_DAYS} days (on-time, the
    ship_lag_sla angle) AND no line was returned (in-full proxy).
    Reporting the components next to the composite exposes the
    classic gaming pattern — high on-time and high in-full can still
    multiply to a poor OTIF when failures anti-correlate across
    orders. Exact integer counting, rate in micro; one per-order agg +
    one equi-join + one census agg."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lines = li.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.count(F.when(F.col("l_returnflag") != "R", 1)).cast("long").alias("n_kept"),
        F.max(F.col("l_shipdate").cast("date")).alias("last_ship"),
    )
    oj = o.join(lines, lines["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        "n_lines",
        "n_kept",
        F.datediff(F.col("last_ship"), F.col("o_orderdate").cast("date")).alias("lag_d"),
    )
    flagged = oj.select(
        "priority",
        F.when(F.col("lag_d") <= _OTIF_LAG_DAYS, 1).otherwise(0).alias("on_time"),
        F.when(F.col("n_kept") == F.col("n_lines"), 1).otherwise(0).alias("in_full"),
    )
    return (
        flagged.groupBy("priority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("on_time").cast("long").alias("n_on_time"),
            F.sum("in_full").cast("long").alias("n_in_full"),
            F.sum(F.col("on_time") * F.col("in_full")).cast("long").alias("n_otif"),
            F.expr(
                "cast((sum(on_time * in_full) * 1000000) div count(*) as bigint)"
            ).alias("otif_q"),
        )
        .orderBy("priority")
    )



@register(
    "shift_share_nations",
    f"""
WITH rev AS (
  SELECT c.c_nationkey AS nat, p.p_brand AS ind,
         cast(year(o.o_orderdate) as int) AS yr,
         cast(sum(cast(round(cast(l.l_extendedprice as {DEC}) * 100) as bigint))
              as bigint) AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(o.o_orderdate) IN ({_SS_Y1}, {_SS_Y2})
  GROUP BY nat, ind, yr
), cell AS (
  SELECT nat, ind,
         cast(sum(CASE WHEN yr = {_SS_Y1} THEN cents ELSE 0 END) as bigint) AS r1,
         cast(sum(CASE WHEN yr = {_SS_Y2} THEN cents ELSE 0 END) as bigint) AS r2
  FROM rev GROUP BY nat, ind
), nat_tot AS (
  SELECT cast(sum(r1) as bigint) AS n1, cast(sum(r2) as bigint) AS n2 FROM cell
), ind_tot AS (
  SELECT ind, cast(sum(r1) as bigint) AS i1, cast(sum(r2) as bigint) AS i2
  FROM cell GROUP BY ind
), comp AS (
  SELECT c.nat, c.r1, c.r2,
         (c.r1 * t.n2) // t.n1 - c.r1 AS ns,
         (c.r1 * i.i2) // i.i1 - (c.r1 * t.n2) // t.n1 AS im
  FROM cell c CROSS JOIN nat_tot t JOIN ind_tot i ON i.ind = c.ind
  WHERE c.r1 > 0
)
SELECT nat AS c_nationkey,
       cast(sum(r1) as bigint) AS rev1_cents,
       cast(sum(r2) as bigint) AS rev2_cents,
       cast(sum(ns) as bigint) AS national_share,
       cast(sum(im) as bigint) AS industry_mix,
       cast(sum(r2 - r1) - sum(ns) - sum(im) as bigint) AS regional_shift
FROM comp GROUP BY nat ORDER BY c_nationkey
""",
)
def shift_share_nations(spark, sf_dir):
    """Shift-share analysis — regional economics' standard growth
    decomposition: each nation's revenue change {_SS_Y1}→{_SS_Y2}
    splits into the NATIONAL-SHARE component (what growing with the
    whole economy would have delivered), the INDUSTRY-MIX component
    (being overweight in fast/slow-growing brands), and the
    REGIONAL-SHIFT residual (genuine local competitiveness — the
    number development agencies actually argue about). Components are
    exact integer floor arithmetic on cents with the regional shift
    computed as the exact residual, so the three columns sum to the
    actual change identically — no float drift in an accounting
    identity. One star join + three hash aggs + a brand-dim join."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    rev = (
        o.filter(F.year("o_orderdate").isin(_SS_Y1, _SS_Y2))
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(p, p["p_partkey"] == li["l_partkey"])
        .groupBy(
            F.col("c_nationkey").alias("nat"),
            F.col("p_brand").alias("ind"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice").cast(DEC) * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    cell = rev.groupBy("nat", "ind").agg(
        F.sum(F.when(F.col("yr") == _SS_Y1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("r1"),
        F.sum(F.when(F.col("yr") == _SS_Y2, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("r2"),
    )
    nat_tot = cell.agg(
        F.sum("r1").cast("long").alias("n1"), F.sum("r2").cast("long").alias("n2")
    )
    ind_tot = cell.groupBy("ind").agg(
        F.sum("r1").cast("long").alias("i1"), F.sum("r2").cast("long").alias("i2")
    )
    comp = (
        cell.filter(F.col("r1") > 0)
        .crossJoin(F.broadcast(nat_tot))
        .join(ind_tot, "ind")
        .select(
            "nat",
            "r1",
            "r2",
            F.expr("(r1 * n2) div n1 - r1").alias("ns"),
            F.expr("(r1 * i2) div i1 - (r1 * n2) div n1").alias("im"),
        )
    )
    return (
        comp.groupBy(F.col("nat").alias("c_nationkey"))
        .agg(
            F.sum("r1").cast("long").alias("rev1_cents"),
            F.sum("r2").cast("long").alias("rev2_cents"),
            F.sum("ns").cast("long").alias("national_share"),
            F.sum("im").cast("long").alias("industry_mix"),
            (F.sum(F.col("r2") - F.col("r1")) - F.sum("ns") - F.sum("im"))
            .cast("long")
            .alias("regional_shift"),
        )
        .orderBy("c_nationkey")
    )



@register(
    "maidenhead_encode_customers",
    f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), enc AS (
  SELECT c_custkey, {_maidenhead_sql('lat', 'lon')} AS locator FROM pts
)
SELECT substr(locator, 1, 2) AS field,
       cast(count(*) as bigint) AS n,
       cast(count(DISTINCT locator) as bigint) AS n_subsquares,
       min(locator) AS first_locator
FROM enc GROUP BY field ORDER BY field
""",
)
def maidenhead_encode_customers(spark, sf_dir):
    """Maidenhead grid locator (ham radio / APRS's global grid): the
    6-character field-square-subsquare encode (AA00aa — 18×18 20°×10°
    fields, 10×10 2°×1° squares, 24×24 5'×2.5' subsquares), rolled up
    to per-field counts — the registry's seventh interoperable grid
    encode next to geohash, plus-code, quadkey, UTM, S2 and the h3x
    index, covering the amateur-radio/IoT-beacon corner of location
    interop. Like quadkey, every prefix IS a coarser cell, so the
    rollup is a substr aggregate. Pure integer/char codegen math from
    the exact derived coordinates — floor divisions and chr() only,
    identical text both engines."""
    cust = load(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    enc = pts.select(
        "c_custkey", F.expr(_maidenhead_sql("lat", "lon")).alias("locator")
    )
    return (
        enc.groupBy(F.substring("locator", 1, 2).alias("field"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("locator").cast("long").alias("n_subsquares"),
            F.min("locator").alias("first_locator"),
        )
        .orderBy("field")
    )



@register(
    "event_study_alignment",
    f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS d, event_type,
         cast(round(cast(value as {DEC}) * 100) as bigint) AS cents
  FROM events
), anchor AS (
  SELECT user_id, cast(min(d) as bigint) AS d0
  FROM ev WHERE event_type = 'purchase' GROUP BY user_id
), aligned AS (
  SELECT e.user_id, cast(e.d - a.d0 as bigint) AS rel_day, e.cents
  FROM ev e JOIN anchor a ON a.user_id = e.user_id
  WHERE e.d - a.d0 BETWEEN -{_ES_WINDOW} AND {_ES_WINDOW}
)
SELECT rel_day,
       cast(count(*) as bigint) AS n_events,
       cast(count(DISTINCT user_id) as bigint) AS n_users,
       cast(sum(cents) as bigint) AS sum_cents,
       cast(sum(cents) // count(*) as bigint) AS mean_cents_floor
FROM aligned GROUP BY rel_day ORDER BY rel_day
""",
)
def event_study_alignment(spark, sf_dir):
    """Event-study alignment — the causal-inference visual: re-index
    every user's activity RELATIVE to their own first purchase (day 0)
    and average outcomes across users per relative day, ±{_ES_WINDOW}
    days. The pre-period (rel_day < 0) IS the identification check —
    a flat pre-trend supports attributing the day-0 jump to the event,
    a sloping one exposes selection (users who were ramping anyway),
    which is the error its_segmented_daily's calendar-time cut cannot
    see because every user converts on a different date. One anchor
    min-agg + one self-join on user + one census agg — exact cents,
    floor means."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
        "event_type",
        F.round(F.col("value").cast(DEC) * 100).cast("long").alias("cents"),
    )
    anchor = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("d").cast("long").alias("d0"))
    )
    aligned = (
        ev.join(anchor, "user_id")
        .withColumn("rel_day", (F.col("d") - F.col("d0")).cast("long"))
        .filter(F.col("rel_day").between(-_ES_WINDOW, _ES_WINDOW))
    )
    return (
        aligned.groupBy("rel_day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.expr("cast(sum(cents) div count(*) as bigint)").alias("mean_cents_floor"),
        )
        .orderBy("rel_day")
    )



@register(
    "rhumb_vs_greatcircle_routes",
    f"""
WITH ctr AS (
  SELECT n_nationkey AS k,
         {_LAT.format(k='n_nationkey * 101 + 13')} AS lat,
         {_LON.format(k='n_nationkey * 101 + 13')} AS lon
  FROM nation
), pairs AS (
  SELECT a.k AS k1, b.k AS k2, a.lat AS lat1, a.lon AS lon1,
         b.lat AS lat2, b.lon AS lon2
  FROM ctr a JOIN ctr b ON a.k < b.k
), calc AS (
  SELECT k1, k2,
         {HAVERSINE_SQL.format(lat1='lat1', lon1='lon1', lat2='lat2', lon2='lon2')} AS gc,
         (lat2 - lat1) * 0.017453292519943295 AS dphi,
         ln(tan(0.7853981633974483 + lat2 * 0.017453292519943295 / 2.0))
           - ln(tan(0.7853981633974483 + lat1 * 0.017453292519943295 / 2.0)) AS dpsi,
         CASE WHEN abs(lon2 - lon1) <= 180.0 THEN (lon2 - lon1)
              WHEN lon2 > lon1 THEN (lon2 - lon1) - 360.0
              ELSE (lon2 - lon1) + 360.0 END * 0.017453292519943295 AS dlam
  FROM pairs
), rh AS (
  SELECT k1, k2, gc,
         6371000.0 * sqrt(dphi * dphi
           + (CASE WHEN abs(dpsi) > 1e-12 THEN dphi / dpsi ELSE 1.0 END)
             * (CASE WHEN abs(dpsi) > 1e-12 THEN dphi / dpsi ELSE 1.0 END)
             * dlam * dlam) AS rl
  FROM calc
)
SELECT k1, k2,
       cast(round(gc, 0) as bigint) AS gc_m,
       cast(round(rl, 0) as bigint) AS rhumb_m,
       cast(round(rl - gc, 0) as bigint) AS extra_m
FROM rh ORDER BY k1, k2
""",
)
def rhumb_vs_greatcircle_routes(spark, sf_dir):
    """Rhumb line (loxodrome — constant compass bearing) vs great
    circle for every nation-center pair: the navigation trade every
    route planner prices — the rhumb track is steerable with one
    heading but longer, and the penalty explodes at high latitude and
    long east-west legs. Rhumb length uses the inverse-Mercator
    formula R·√(Δφ² + q²Δλ²) with q = Δφ/Δψ (Δψ = Mercator-stretched
    latitude difference, the webmercator ln∘tan reused; q → 1 on
    near-constant-latitude legs where the ratio degenerates),
    anti-meridian-aware Δλ. All trig is the same textual tree both
    engines; outputs round to whole meters (coarse-tick discipline).
    25-center dim self-join — 300 metadata rows, zero data-scale
    work."""
    nk = F.col("n_nationkey") * 101 + 13
    ctr = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"),
        C.derived_lat(nk).alias("lat"),
        C.derived_lon(nk).alias("lon"),
    )
    a = ctr.alias("a")
    b = ctr.alias("b")
    pairs = a.join(b, F.col("a.k") < F.col("b.k")).select(
        F.col("a.k").alias("k1"),
        F.col("b.k").alias("k2"),
        F.col("a.lat").alias("lat1"),
        F.col("a.lon").alias("lon1"),
        F.col("b.lat").alias("lat2"),
        F.col("b.lon").alias("lon2"),
    )
    from gipspark.geo.haversine import haversine_col

    d2r = F.lit(0.017453292519943295)
    gc = haversine_col(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"))
    dphi = (F.col("lat2") - F.col("lat1")) * d2r
    psi = lambda lat: F.log(  # noqa: E731 — tiny local expr builder
        F.tan(F.lit(0.7853981633974483) + lat * d2r / F.lit(2.0))
    )
    dpsi = psi(F.col("lat2")) - psi(F.col("lat1"))
    dlon = F.col("lon2") - F.col("lon1")
    dlam = (
        F.when(F.abs(dlon) <= 180.0, dlon)
        .when(F.col("lon2") > F.col("lon1"), dlon - 360.0)
        .otherwise(dlon + 360.0)
    ) * d2r
    q = F.when(F.abs(dpsi) > 1e-12, dphi / dpsi).otherwise(F.lit(1.0))
    rl = F.lit(6371000.0) * F.sqrt(dphi * dphi + q * q * dlam * dlam)
    return pairs.select(
        "k1",
        "k2",
        F.round(gc, 0).cast("long").alias("gc_m"),
        F.round(rl, 0).cast("long").alias("rhumb_m"),
        F.round(rl - gc, 0).cast("long").alias("extra_m"),
    ).orderBy("k1", "k2")



@register(
    "jump_size_spectrum_users",
    f"""
WITH fixes AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), jumps AS (
  SELECT greatest(cast(round({HAVERSINE_SQL.format(lat1='plat', lon1='plon', lat2='lat', lon2='lon')}, 0) as bigint), 1) AS jump_m
  FROM (
    SELECT lat, lon,
           lag(lat) OVER (PARTITION BY user_id ORDER BY t, event_id) AS plat,
           lag(lon) OVER (PARTITION BY user_id ORDER BY t, event_id) AS plon
    FROM fixes
  ) WHERE plat IS NOT NULL
), binned AS (
  SELECT {_blen_sql('jump_m', 26)} AS log2_bucket FROM jumps
), tot AS (SELECT cast(count(*) as bigint) AS n FROM binned)
SELECT b.log2_bucket,
       cast(count(*) as bigint) AS n_jumps,
       cast((count(*) * 1000000) // t.n as bigint) AS share_q
FROM binned b CROSS JOIN tot t
GROUP BY b.log2_bucket, t.n ORDER BY log2_bucket
""",
)
def jump_size_spectrum_users(spark, sf_dir):
    """Displacement (jump-size) spectrum on doubling buckets — the
    Lévy-flight diagnostic of human-mobility science: consecutive-fix
    jump distances binned by integer bit-length (bucket k ≈ [2^(k-1),
    2^k) meters), whose count-vs-bucket decay slope distinguishes
    power-law exploration (slow geometric decay across many octaves —
    the Brockmann 'Where's George' signature) from Gaussian commuting
    (a single dominant octave) and from shuffled/bot data (flat) —
    the spatial twin of degree_ccdf_doubling_links, using the same
    libm-free bit-length ladder. radius_gyration_users summarizes each
    user; this is the corpus-level distribution shape. One lag window
    + one census agg."""
    from gipspark.geo.haversine import haversine_col

    ev = load(spark, sf_dir, "events")
    fixes = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_timestamp(ts)").alias("t"),
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    jumps = (
        fixes.select(
            "lat",
            "lon",
            F.lag("lat").over(w).alias("plat"),
            F.lag("lon").over(w).alias("plon"),
        )
        .filter(F.col("plat").isNotNull())
        .select(
            F.greatest(
                F.round(
                    haversine_col(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")), 0
                ).cast("long"),
                F.lit(1).cast("long"),
            ).alias("jump_m")
        )
    )
    binned = jumps.select(_blen_col(F.col("jump_m"), 26).alias("log2_bucket"))
    tot = binned.agg(F.count("*").cast("long").alias("n"))
    return (
        binned.crossJoin(F.broadcast(tot))
        .groupBy("log2_bucket", "n")
        .agg(F.count("*").cast("long").alias("n_jumps"))
        .select(
            "log2_bucket",
            "n_jumps",
            F.expr("(n_jumps * 1000000) div n").alias("share_q"),
        )
        .orderBy("log2_bucket")
    )



@register(
    "holiday_proximity_orders",
    f"""
WITH yrs AS (
  SELECT DISTINCT cast(year(o_orderdate) as bigint) AS yr FROM orders
), easter AS (
  SELECT yr, {_easter_sql('yr')} AS edate FROM yrs
), j AS (
  SELECT e.yr, e.edate,
         datediff('day', e.edate, cast(o.o_orderdate as date)) AS delta,
         cast(round(cast(o.o_totalprice as {DEC}) * 100) as bigint) AS cents
  FROM orders o JOIN easter e ON cast(year(o.o_orderdate) as bigint) = e.yr
)
SELECT yr, cast(month(edate) as int) AS easter_month,
       cast(day(edate) as int) AS easter_day,
       cast(count(CASE WHEN abs(delta) <= 3 THEN 1 END) as bigint) AS n_near,
       cast(sum(CASE WHEN abs(delta) <= 3 THEN cents ELSE 0 END) as bigint)
         AS cents_near,
       cast(count(*) as bigint) AS n_year,
       cast((count(CASE WHEN abs(delta) <= 3 THEN 1 END) * 365 * 1000)
            // (count(*) * 7) as bigint) AS near_vs_uniform_milli
FROM j GROUP BY yr, easter_month, easter_day ORDER BY yr
""",
)
def holiday_proximity_orders(spark, sf_dir):
    """Movable-feast proximity census with Easter computed IN-QUERY by
    the anonymous Gregorian computus (Gauss's algorithm: pure integer
    div/mod on the year — the oldest 'deterministic function both
    engines must agree on' in this registry, 19th-century edition):
    per order year, Easter's date and the orders falling within ±3
    days, with near_vs_uniform_milli = observed-vs-uniform density
    ratio in milli (1000 = no effect). The movable-holiday join is
    the calendar-dimension problem fixed-date holiday tables can't
    solve and dow_baseline_anomaly can't see (Easter moves across
    5 weeks of March–April). One 7-row year dim computed inline, one
    year equi-join, exact cents."""
    o = load(spark, sf_dir, "orders")
    yrs = o.select(F.year("o_orderdate").cast("long").alias("yr")).distinct()
    y = "yr"
    aa = F.col(y) % 19
    bb = F.expr(f"{y} div 100")
    cc = F.col(y) % 100
    dd = F.expr(f"({y} div 100) div 4")
    ee = F.expr(f"({y} div 100) % 4")
    gg = F.expr(f"(({y} div 100) - (({y} div 100) + 8) div 25 + 1) div 3")
    step1 = yrs.select(
        y,
        aa.alias("aa"),
        bb.alias("b"),
        cc.alias("c"),
        dd.alias("d"),
        ee.alias("e"),
        gg.alias("g"),
    )
    step2 = step1.select(
        y,
        "aa",
        "e",
        "c",
        ((F.lit(19) * F.col("aa") + F.col("b") - F.col("d") - F.col("g") + 15) % 30).alias("h"),
        F.expr("c div 4").alias("i"),
        (F.col("c") % 4).alias("k"),
    )
    step3 = step2.select(
        y,
        "aa",
        "h",
        ((F.lit(32) + 2 * F.col("e") + 2 * F.col("i") - F.col("h") - F.col("k")) % 7).alias("l"),
    )
    step4 = step3.select(
        y,
        "h",
        "l",
        F.expr("(aa + 11 * h + 22 * l) div 451").alias("m"),
    )
    easter = step4.select(
        y,
        F.make_date(
            F.col(y).cast("int"),
            F.expr("(h + l - 7 * m + 114) div 31").cast("int"),
            ((F.col("h") + F.col("l") - 7 * F.col("m") + 114) % 31 + 1).cast("int"),
        ).alias("edate"),
    )
    j = o.join(
        F.broadcast(easter), F.year("o_orderdate").cast("long") == F.col("yr")
    ).select(
        "yr",
        "edate",
        F.datediff(F.col("o_orderdate").cast("date"), F.col("edate")).alias("delta"),
        F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
    )
    near = F.abs(F.col("delta")) <= 3
    return (
        j.groupBy(
            "yr",
            F.month("edate").cast("int").alias("easter_month"),
            F.dayofmonth("edate").cast("int").alias("easter_day"),
        )
        .agg(
            F.count(F.when(near, 1)).cast("long").alias("n_near"),
            F.sum(F.when(near, F.col("cents")).otherwise(0)).cast("long").alias("cents_near"),
            F.count("*").cast("long").alias("n_year"),
            F.expr(
                "cast((count(CASE WHEN abs(delta) <= 3 THEN 1 END) * 365 * 1000)"
                " div (count(*) * 7) as bigint)"
            ).alias("near_vs_uniform_milli"),
        )
        .orderBy("yr")
    )



@register(
    "ffd_binpack_orders",
    f"""
WITH RECURSIVE items AS (
  SELECT r.r_regionkey AS region,
         epoch_us(o.o_orderdate) // 1000000 // 604800 AS wk,
         cast(sum(cast(round(cast(o.o_totalprice as {DEC}) * 100) as bigint))
              as bigint) AS sz
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY region, wk
), sorted AS (
  SELECT region, sz,
         row_number() OVER (PARTITION BY region ORDER BY sz DESC, wk) AS rn,
         count(*) OVER (PARTITION BY region) AS n
  FROM items
), pack(region, rn, n, bins) AS (
  SELECT region, 0, n, cast([] as bigint[]) FROM (
    SELECT DISTINCT region, n FROM sorted
  )
  UNION ALL
  SELECT p.region, p.rn + 1, p.n,
         CASE WHEN coalesce(list_position(
                      list_transform(p.bins, b -> b >= s.sz), true), 0) = 0
              THEN list_append(p.bins, cast({_FFD_CAP} as bigint) - s.sz)
              ELSE list_transform(p.bins, (b, i) ->
                CASE WHEN i = list_position(
                       list_transform(p.bins, b2 -> b2 >= s.sz), true)
                     THEN b - s.sz ELSE b END)
         END
  FROM pack p JOIN sorted s ON s.region = p.region AND s.rn = p.rn + 1
)
SELECT region, cast(max(n) as bigint) AS n_items,
       cast(len(bins) as bigint) AS bins_used,
       cast((SELECT sum(sz) FROM items i WHERE i.region = pack.region) as bigint)
         AS total_cents,
       cast(((SELECT sum(sz) FROM items i WHERE i.region = pack.region)
             + {_FFD_CAP} - 1) // {_FFD_CAP} as bigint) AS lower_bound
FROM pack WHERE rn = n GROUP BY region, bins ORDER BY region
""",
)
def ffd_binpack_orders(spark, sf_dir):
    """First-fit-decreasing bin packing — the workhorse heuristic for
    truck loading, VM placement, and file compaction, with its famous
    11/9·OPT+6/9 guarantee: weekly order volumes per region (items)
    pack into ${_FFD_CAP // 100:,}-capacity bins, largest first, each
    into the FIRST bin with room. FFD is inherently sequential (each
    placement depends on all previous), so the engine runs it as the
    ordered-fold pattern with a LIST of remaining capacities as the
    fold state — first-fit is array_position over the capacity array,
    the update a single indexed transform — per region in one
    aggregate(), against a recursive-CTE oracle carrying the same list
    state (the kalman/erlang fold family graduating from scalar to
    ARRAY state). bins_used lands between the ceiling lower bound and
    the guarantee. Scale: one fold per region, state ∝ bins."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    items = (
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .join(n, n["n_nationkey"] == c["c_nationkey"])
        .join(r, r["r_regionkey"] == n["n_regionkey"])
        .groupBy(
            F.col("r_regionkey").alias("region"),
            F.expr("unix_timestamp(o_orderdate) div 604800").alias("wk"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long"))
            .cast("long")
            .alias("sz")
        )
    )
    packed = items.groupBy("region").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("sz").cast("long").alias("total_cents"),
        F.expr(
            f"""
aggregate(
  transform(
    array_sort(collect_list(struct(-sz as negsz, wk, sz))),
    x -> x.sz),
  cast(array() as array<bigint>),
  (bins, s) -> CASE
    WHEN array_position(transform(bins, b -> b >= s), true) IS NULL
         OR array_position(transform(bins, b -> b >= s), true) = 0
    THEN concat(bins, array(cast({_FFD_CAP} as bigint) - s))
    ELSE transform(bins, (b, i) ->
      CASE WHEN i + 1 = array_position(transform(bins, b2 -> b2 >= s), true)
           THEN b - s ELSE b END)
  END) AS bins
"""
        ).alias("bins"),
    )
    return packed.select(
        "region",
        "n_items",
        F.size("bins").cast("long").alias("bins_used"),
        "total_cents",
        F.expr(f"(total_cents + {_FFD_CAP} - 1) div {_FFD_CAP}").alias("lower_bound"),
    ).orderBy("region")



@register(
    "stochastic_dominance_types",
    f"""
WITH vals AS (
  SELECT event_type, cast(round(cast(value as {DEC}) * 100) as bigint) AS cents
  FROM events WHERE event_type IN ('view', 'purchase')
), per_val AS (
  SELECT cents AS g,
         cast(count(CASE WHEN event_type = 'view' THEN 1 END) as bigint) AS da,
         cast(count(CASE WHEN event_type = 'purchase' THEN 1 END) as bigint) AS db
  FROM vals GROUP BY cents
), cdf AS (
  SELECT g,
         sum(da) OVER (ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         sum(db) OVER (ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         (SELECT cast(count(*) as bigint) FROM vals WHERE event_type = 'view') AS na,
         (SELECT cast(count(*) as bigint) FROM vals WHERE event_type = 'purchase') AS nb
  FROM per_val
)
SELECT cast(count(*) as bigint) AS n_grid,
       cast(count(CASE WHEN ca * nb >= cb * na THEN 1 END) as bigint)
         AS n_a_below,
       cast(count(CASE WHEN ca * nb <= cb * na THEN 1 END) as bigint)
         AS n_b_below,
       (count(CASE WHEN ca * nb < cb * na THEN 1 END) = 0) AS a_dominated,
       cast(max(abs(ca * nb - cb * na) * 1000000 // (na * nb)) as bigint)
         AS max_gap_q
FROM cdf
""",
)
def stochastic_dominance_types(spark, sf_dir):
    """First-order stochastic dominance census between the 'view' and
    'purchase' value distributions: at every observed value, compare
    the two empirical CDFs by exact integer cross-multiplication
    (ca·nb vs cb·na — no float CDFs), count where each sits below, and
    assert whether dominance holds EVERYWHERE (one distribution's CDF
    never above the other — the decision-theory condition under which
    every risk-averse agent agrees which is bigger, far stronger than
    a mean or median comparison and the question mann_whitney answers
    only on average; max_gap_q is the KS statistic as a by-product).
    Scale shape: one per-value agg + one cumulative window over the
    distinct-value spine — never values × rows."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    vals = ev.select(
        "event_type", F.round(F.col("value").cast(DEC) * 100).cast("long").alias("cents")
    )
    na_nb = vals.agg(
        F.count(F.when(F.col("event_type") == "view", 1)).cast("long").alias("na"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).cast("long").alias("nb"),
    )
    per_val = vals.groupBy(F.col("cents").alias("g")).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).cast("long").alias("da"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).cast("long").alias("db"),
    )
    w_cum = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cdf = per_val.select(
        "g",
        F.sum("da").over(w_cum).alias("ca"),
        F.sum("db").over(w_cum).alias("cb"),
    ).crossJoin(F.broadcast(na_nb))
    return cdf.agg(
        F.count("*").cast("long").alias("n_grid"),
        F.count(F.when(F.col("ca") * F.col("nb") >= F.col("cb") * F.col("na"), 1))
        .cast("long")
        .alias("n_a_below"),
        F.count(F.when(F.col("ca") * F.col("nb") <= F.col("cb") * F.col("na"), 1))
        .cast("long")
        .alias("n_b_below"),
        (
            F.count(F.when(F.col("ca") * F.col("nb") < F.col("cb") * F.col("na"), 1)) == 0
        ).alias("a_dominated"),
        F.max(
            F.expr("abs(ca * nb - cb * na) * 1000000 div (na * nb)")
        )
        .cast("long")
        .alias("max_gap_q"),
    )



@register(
    "exposure_response_users",
    f"""
WITH per_user AS (
  SELECT user_id,
         cast(count(CASE WHEN event_type = 'view' THEN 1 END) as bigint) AS n_views,
         cast(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) as bigint)
           AS converted
  FROM events GROUP BY user_id
), bucketed AS (
  SELECT CASE {" ".join(f"WHEN n_views <= {b} THEN {b}" for b in _EXPO_BUCKETS)}
              ELSE 999 END AS view_bucket,
         converted
  FROM per_user
)
SELECT view_bucket,
       cast(count(*) as bigint) AS n_users,
       cast(sum(converted) as bigint) AS n_converted,
       cast((sum(converted) * 1000000) // count(*) as bigint) AS conv_rate_q
FROM bucketed GROUP BY view_bucket ORDER BY view_bucket
""",
)
def exposure_response_users(spark, sf_dir):
    """Exposure-response (dose-response) curve: conversion rate by
    view-count bucket — the frequency-effectiveness read every media
    plan wants next to reach_frequency_curve_users' cost side: if
    conv_rate_q flattens after bucket 3, impressions past the third
    are reach you already bought (and the honest read is
    CORRELATIONAL — heavy viewers are also heavy intenders, the
    selection bias cuped/cem exist to strip; this op is the raw curve
    those adjustments start from). Buckets are a branch ladder on
    exact counts; rates in micro. One per-user agg + one census."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).cast("long").alias("n_views"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("converted"),
    )
    bucket = F.lit(999)
    for b in reversed(_EXPO_BUCKETS):
        bucket = F.when(F.col("n_views") <= b, F.lit(b)).otherwise(bucket)
    return (
        per_user.select(bucket.alias("view_bucket"), "converted")
        .groupBy("view_bucket")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("converted").cast("long").alias("n_converted"),
            F.expr("(sum(converted) * 1000000) div count(*)").alias("conv_rate_q"),
        )
        .orderBy("view_bucket")
    )



@register(
    "german_tank_orders",
    """
WITH sample AS (
  SELECT o_orderkey FROM orders
  WHERE cast(concat('0x', substr(md5(cast(o_orderkey as varchar)), 1, 15)) as bigint)
        % 20 = 0
), st AS (
  SELECT cast(count(*) as bigint) AS k, cast(max(o_orderkey) as bigint) AS m
  FROM sample
), truth AS (
  SELECT cast(count(*) as bigint) AS n_true, cast(max(o_orderkey) as bigint) AS max_true
  FROM orders
)
SELECT s.k AS sample_size, s.m AS sample_max,
       t.max_true,
       cast(s.m + s.m // s.k - 1 as bigint) AS mvue_estimate,
       cast((s.m * (s.k + 1)) // s.k - 1 as bigint) AS mvue_exact_q,
       cast(abs((s.m * (s.k + 1)) // s.k - 1 - t.max_true) * 1000000
            // t.max_true as bigint) AS rel_err_q
FROM st s CROSS JOIN truth t
""",
)
def german_tank_orders(spark, sf_dir):
    """German tank problem — the serial-number population estimator
    (how the Allies counted tanks from captured serials, and how a
    competitor estimates your order volume from leaked order ids): a
    deterministic 5% md5 sample of order keys yields the
    minimum-variance unbiased estimate N̂ = m(1+1/k)−1 from just the
    sample max m and size k, compared against the true max key with
    relative error in micro. The business lesson this op encodes:
    sequential ids LEAK aggregate volume — which is why exposed ids
    should be hrw/md5-derived (hrw_shard_assign's keyspace), and the
    capture_recapture_dups estimator is this op's two-sample sibling.
    Exact integer arithmetic; two 1-row aggregates."""
    o = load(spark, sf_dir, "orders")
    sample = o.filter(
        D.md5_long(F.col("o_orderkey").cast("string")) % 20 == 0
    ).select("o_orderkey")
    st = sample.agg(
        F.count("*").cast("long").alias("k"), F.max("o_orderkey").cast("long").alias("m")
    )
    truth = o.agg(
        F.count("*").cast("long").alias("n_true"),
        F.max("o_orderkey").cast("long").alias("max_true"),
    )
    return st.crossJoin(F.broadcast(truth)).select(
        F.col("k").alias("sample_size"),
        F.col("m").alias("sample_max"),
        "max_true",
        F.expr("m + m div k - 1").alias("mvue_estimate"),
        F.expr("(m * (k + 1)) div k - 1").alias("mvue_exact_q"),
        F.expr(
            "abs((m * (k + 1)) div k - 1 - max_true) * 1000000 div max_true"
        ).alias("rel_err_q"),
    )



@register(
    "winding_vs_evenodd_pip",
    f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS py, {_LON.format(k='c_custkey')} AS px
  FROM customer
), hits AS (
  SELECT p.c_custkey,
         cast(count(*) as bigint) AS crossings,
         cast(sum(CASE WHEN e.y2 > e.y1 THEN 1 ELSE -1 END) as bigint) AS winding
  FROM pts p CROSS JOIN {_penta_edges_sql()}
  WHERE ((e.y1 > p.py) != (e.y2 > p.py))
    AND (p.px < (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1) + e.x1)
  GROUP BY p.c_custkey
), cls AS (
  SELECT coalesce(h.winding, 0) AS wn,
         (coalesce(h.crossings, 0) % 2 = 1) AS inside_evenodd,
         (coalesce(h.winding, 0) != 0) AS inside_nonzero
  FROM pts p LEFT JOIN hits h ON h.c_custkey = p.c_custkey
)
SELECT cast(wn as int) AS winding_number,
       cast(count(*) as bigint) AS n_points,
       cast(count(CASE WHEN inside_evenodd THEN 1 END) as bigint) AS n_evenodd_in,
       cast(count(CASE WHEN inside_nonzero THEN 1 END) as bigint) AS n_nonzero_in,
       cast(count(CASE WHEN inside_evenodd != inside_nonzero THEN 1 END) as bigint)
         AS n_divergent
FROM cls GROUP BY wn ORDER BY winding_number
""",
)
def winding_vs_evenodd_pip(spark, sf_dir):
    """Even-odd vs nonzero-winding fill-rule divergence — the SVG/
    PostScript fill-rule question made countable: against an inline
    PENTAGRAM (self-overlapping, wound 0→2→4→1→3), the star's five
    points have winding ±1 (both rules agree: inside) but the core
    pentagon has winding ±2 — nonzero says INSIDE, even-odd says
    OUTSIDE, and n_divergent counts exactly the customers standing in
    that core. The engine's pip_join implements even-odd (the
    ORACLE_POLYGONS contract); this op is the documented boundary of
    that choice — self-overlapping real-world boundaries (badly
    digitized admin polygons) are precisely where a silent rule
    mismatch corrupts joins. Both rules come from ONE signed crossing
    scan (sign = edge direction), same ray-cast expression as
    pip_join's oracle. 10-edge literal dim × points."""
    cust = load(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        C.derived_lat(F.col("c_custkey")).alias("py"),
        C.derived_lon(F.col("c_custkey")).alias("px"),
    )
    edges = spark.createDataFrame(
        [(x1, y1, x2, y2) for (x1, y1), (x2, y2) in _PENTA_EDGES],
        "x1 double, y1 double, x2 double, y2 double",
    )
    crossing = ((F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))) & (
        F.col("px")
        < (F.col("x2") - F.col("x1"))
        * (F.col("py") - F.col("y1"))
        / (F.col("y2") - F.col("y1"))
        + F.col("x1")
    )
    hits = (
        pts.crossJoin(F.broadcast(edges))
        .filter(crossing)
        .groupBy("c_custkey")
        .agg(
            F.count("*").cast("long").alias("crossings"),
            F.sum(F.when(F.col("y2") > F.col("y1"), 1).otherwise(-1))
            .cast("long")
            .alias("winding"),
        )
    )
    cls = pts.join(hits, "c_custkey", "left").select(
        F.coalesce("winding", F.lit(0).cast("long")).alias("wn"),
        (F.coalesce("crossings", F.lit(0).cast("long")) % 2 == 1).alias("inside_evenodd"),
        (F.coalesce("winding", F.lit(0).cast("long")) != 0).alias("inside_nonzero"),
    )
    return (
        cls.groupBy(F.col("wn").cast("int").alias("winding_number"))
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.count(F.when(F.col("inside_evenodd"), 1)).cast("long").alias("n_evenodd_in"),
            F.count(F.when(F.col("inside_nonzero"), 1)).cast("long").alias("n_nonzero_in"),
            F.count(F.when(F.col("inside_evenodd") != F.col("inside_nonzero"), 1))
            .cast("long")
            .alias("n_divergent"),
        )
        .orderBy("winding_number")
    )



@register(
    "delta_method_ratio_users",
    f"""
WITH per_user AS (
  SELECT c.c_nationkey % 5 AS segment, e.user_id,
         cast(sum(cast(round(cast(e.value as {DEC}) * 100) as bigint)) as bigint) AS x,
         cast(count(*) as bigint) AS y
  FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
  GROUP BY segment, e.user_id
), st AS (
  SELECT segment, cast(count(*) as bigint) AS n,
         cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy,
         cast(sum(cast(x as DECIMAL(38,0)) * x) as DECIMAL(38,0)) AS sxx,
         cast(sum(cast(y as DECIMAL(38,0)) * y) as DECIMAL(38,0)) AS syy,
         cast(sum(cast(x as DECIMAL(38,0)) * y) as DECIMAL(38,0)) AS sxy
  FROM per_user GROUP BY segment
)
SELECT segment,
       cast(n as bigint) AS n_users,
       cast((sx * 1000000) // sy as bigint) AS ratio_q,
       sqrt((cast(n * sxx - sx * sx as double) / cast(n as double) / cast(n as double)
               / (cast(sy as double) / cast(n as double))
               / (cast(sy as double) / cast(n as double))
             + cast(sx as double) / cast(n as double)
               * (cast(sx as double) / cast(n as double))
               * (cast(n * syy - sy * sy as double) / cast(n as double) / cast(n as double))
               / (cast(sy as double) / cast(n as double))
               / (cast(sy as double) / cast(n as double))
               / (cast(sy as double) / cast(n as double))
               / (cast(sy as double) / cast(n as double))
             - 2.0 * (cast(sx as double) / cast(n as double))
               * (cast(n * sxy - sx * sy as double) / cast(n as double) / cast(n as double))
               / (cast(sy as double) / cast(n as double))
               / (cast(sy as double) / cast(n as double))
               / (cast(sy as double) / cast(n as double)))
            / cast(n as double)) AS ratio_se
FROM st ORDER BY segment
""",
)
def delta_method_ratio_users(spark, sf_dir):
    """Delta-method standard error for a RATIO metric (revenue per
    event, the shape of almost every experiment metric that isn't a
    plain mean): Var(x̄/ȳ) ≈ (σ²ₓ/ȳ² + x̄²σ²ᵧ/ȳ⁴ − 2x̄σₓᵧ/ȳ³)/n —
    the correction for the fact that BOTH numerator and denominator
    are random per user, which the naive 'treat the ratio as a mean'
    SE silently ignores (and mde_power_orders would then mis-size).
    The unit of analysis is the USER (randomization unit), so
    per-user (x, y) pairs feed exact integer/DECIMAL(38,0) moments;
    the SE is one textual double tree from those moments. One
    per-user agg + one per-segment agg."""
    dec = "decimal(38,0)"
    ev = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    per_user = (
        ev.join(c, c["c_custkey"] == ev["user_id"] + 1)
        .groupBy((F.col("c_nationkey") % 5).alias("segment"), "user_id")
        .agg(
            F.sum(F.round(F.col("value").cast(DEC) * 100).cast("long"))
            .cast("long")
            .alias("x"),
            F.count("*").cast("long").alias("y"),
        )
    )
    st = per_user.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    xbar = F.col("sx").cast("double") / n_d
    ybar = F.col("sy").cast("double") / n_d
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double") / n_d / n_d
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double") / n_d / n_d
    cxy = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / n_d / n_d
    se = F.sqrt(
        (
            vx / ybar / ybar
            + xbar * xbar * vy / ybar / ybar / ybar / ybar
            - F.lit(2.0) * xbar * cxy / ybar / ybar / ybar
        )
        / n_d
    )
    return st.select(
        "segment",
        F.col("n").alias("n_users"),
        F.expr("(sx * 1000000) div sy").alias("ratio_q"),
        se.alias("ratio_se"),
    ).orderBy("segment")



@register(
    "ss_policy_sim_parts",
    f"""
WITH RECURSIVE demand AS (
  SELECT l_partkey, epoch_us(l_shipdate) // 1000000 // 604800 AS wk,
         cast(sum(cast(l_quantity as bigint)) as bigint) AS q
  FROM lineitem WHERE l_partkey < {_SS_PARTS} GROUP BY l_partkey, wk
), seq AS (
  SELECT l_partkey, q,
         row_number() OVER (PARTITION BY l_partkey ORDER BY wk) AS rn,
         count(*) OVER (PARTITION BY l_partkey) AS n
  FROM demand
), sim(l_partkey, rn, n, stock, n_orders, n_stockout_wks, lost_units) AS (
  SELECT l_partkey, 0, n, cast({_SS_BIG} as bigint),
         cast(0 as bigint), cast(0 as bigint), cast(0 as bigint)
  FROM (SELECT DISTINCT l_partkey, n FROM seq)
  UNION ALL
  SELECT p.l_partkey, p.rn + 1, p.n,
         CASE WHEN greatest(p.stock - s.q, 0) < {_SS_SMALL}
              THEN cast({_SS_BIG} as bigint)
              ELSE greatest(p.stock - s.q, 0) END,
         p.n_orders + CASE WHEN greatest(p.stock - s.q, 0) < {_SS_SMALL}
                           THEN 1 ELSE 0 END,
         p.n_stockout_wks + CASE WHEN s.q > p.stock THEN 1 ELSE 0 END,
         p.lost_units + greatest(s.q - p.stock, 0)
  FROM sim p JOIN seq s ON s.l_partkey = p.l_partkey AND s.rn = p.rn + 1
)
SELECT l_partkey, cast(n as bigint) AS n_weeks, n_orders, n_stockout_wks,
       lost_units, cast(stock as bigint) AS final_stock
FROM sim WHERE rn = n ORDER BY l_partkey
""",
)
def ss_policy_sim_parts(spark, sf_dir):
    """(s, S) inventory-policy replay — the classic min-max
    replenishment rule simulated exactly against each part's observed
    weekly demand: start at S={_SS_BIG}; each week consume demand
    (lost sales when it exceeds stock), and when the period-end
    position falls below s={_SS_SMALL}, reorder up to S (instant
    lead-time variant; a lead time adds one state field to the same
    fold). Outputs the service trade: order events vs stockout weeks
    vs lost units — the backtest that turns abc_xyz_matrix_parts'
    policy ASSIGNMENT and newsvendor's single-period quantile into a
    multi-period replay. The recursion is week-sequential per part, so
    it's the scalar ordered fold again (kalman/erlang family), one
    fold per part in a single aggregate; the oracle replays the same
    integer state machine in a recursive CTE."""
    li = load(spark, sf_dir, "lineitem")
    demand = (
        li.filter(F.col("l_partkey") < _SS_PARTS)
        .groupBy("l_partkey", F.expr("unix_timestamp(l_shipdate) div 604800").alias("wk"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    )
    fold = demand.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_weeks"),
        F.expr(
            f"""
aggregate(
  transform(array_sort(collect_list(struct(wk, q))), x -> x.q),
  named_struct('stock', cast({_SS_BIG} as bigint), 'n_orders', cast(0 as bigint),
               'n_stockout_wks', cast(0 as bigint), 'lost_units', cast(0 as bigint)),
  (acc, q) -> named_struct(
    'stock', CASE WHEN greatest(acc.stock - q, 0L) < {_SS_SMALL}
                  THEN cast({_SS_BIG} as bigint)
                  ELSE greatest(acc.stock - q, 0L) END,
    'n_orders', acc.n_orders + CASE WHEN greatest(acc.stock - q, 0L) < {_SS_SMALL}
                                    THEN 1L ELSE 0L END,
    'n_stockout_wks', acc.n_stockout_wks + CASE WHEN q > acc.stock THEN 1L ELSE 0L END,
    'lost_units', acc.lost_units + greatest(q - acc.stock, 0L)),
  acc -> acc) AS st
"""
        ).alias("st"),
    )
    return fold.select(
        "l_partkey",
        "n_weeks",
        F.col("st.n_orders").cast("long").alias("n_orders"),
        F.col("st.n_stockout_wks").cast("long").alias("n_stockout_wks"),
        F.col("st.lost_units").cast("long").alias("lost_units"),
        F.col("st.stock").cast("long").alias("final_stock"),
    ).orderBy("l_partkey")



# ---------------------------------------------------------------------------
# round-4 batch (session 3v): id gaps, day boundaries, regex dialects,
# exact sign test
# ---------------------------------------------------------------------------


@register(
    "id_gap_ranges_orders",
    """
WITH ids AS (
  SELECT DISTINCT o_orderkey AS k FROM orders
), gaps AS (
  SELECT k, prev,
         k - prev - 1 AS missing
  FROM (SELECT k, lag(k) OVER (ORDER BY k) AS prev FROM ids)
  WHERE prev IS NOT NULL AND k - prev > 1
), tot AS (
  SELECT cast(count(*) as bigint) AS n_ids,
         cast(min(k) as bigint) AS min_id, cast(max(k) as bigint) AS max_id
  FROM ids
)
SELECT t.n_ids, t.min_id, t.max_id,
       cast(coalesce(count(g.k), 0) as bigint) AS n_gaps,
       cast(coalesce(sum(g.missing), 0) as bigint) AS n_missing_ids,
       cast(coalesce(max(g.missing), 0) as bigint) AS largest_gap,
       cast((t.n_ids * 1000000) // (t.max_id - t.min_id + 1) as bigint)
         AS density_q
FROM tot t LEFT JOIN gaps g ON TRUE
GROUP BY t.n_ids, t.min_id, t.max_id
""",
)
def id_gap_ranges_orders(spark, sf_dir):
    """ID-space gap census — ingestion's smoke detector: sort the
    distinct order keys, lag once, and report how many gaps the key
    space has, how many ids are missing inside them, the largest
    hole, and the occupancy density. A key space that was dense
    yesterday and has a 40k-wide hole today is a dropped partition or
    a failed upstream batch — caught by arithmetic on ids alone,
    BEFORE any fact-level reconciliation (the cheap front-runner to
    table_reconciliation_audit; german_tank_orders is the adversarial
    reading of the same id structure). One distinct + one lag window
    + one census."""
    o = load(spark, sf_dir, "orders")
    ids = o.select(F.col("o_orderkey").alias("k")).distinct()
    w = Window.orderBy("k")
    gaps = (
        ids.select("k", F.lag("k").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("k") - F.col("prev") > 1))
        .select((F.col("k") - F.col("prev") - 1).alias("missing"))
    )
    tot = ids.agg(
        F.count("*").cast("long").alias("n_ids"),
        F.min("k").cast("long").alias("min_id"),
        F.max("k").cast("long").alias("max_id"),
    )
    g = gaps.agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.coalesce(F.sum("missing"), F.lit(0)).cast("long").alias("n_missing_ids"),
        F.coalesce(F.max("missing"), F.lit(0)).cast("long").alias("largest_gap"),
    )
    return tot.crossJoin(F.broadcast(g)).select(
        "n_ids",
        "min_id",
        "max_id",
        "n_gaps",
        "n_missing_ids",
        "largest_gap",
        F.expr("(n_ids * 1000000) div (max_id - min_id + 1)").alias("density_q"),
    )



@register(
    "day_boundary_sensitivity",
    f"""
WITH offs AS (
  SELECT cast(o as bigint) AS off
  FROM (VALUES {", ".join(f"({o})" for o in _DBS_OFFSETS)}) AS t(o)
), daily AS (
  SELECT o.off, (epoch_us(e.ts) // 1000000 + o.off) // 86400 AS d,
         cast(count(*) as bigint) AS n
  FROM events e CROSS JOIN offs o
  GROUP BY o.off, d
)
SELECT off AS boundary_offset_s,
       cast(count(*) as bigint) AS n_days,
       cast(max(n) as bigint) AS peak_day_count,
       cast(min(n) as bigint) AS min_day_count,
       cast(sum(n) as bigint) AS total_events
FROM daily GROUP BY off ORDER BY boundary_offset_s
""",
)
def day_boundary_sensitivity(spark, sf_dir):
    """Day-boundary sensitivity sweep: recompute the daily series with
    the day cut at midnight UTC and shifted ±6 h — the audit for the
    oldest metric incident in the book ('DAU moved 4% the day the
    batch window changed'): if peak/min day counts swing across
    offsets, the daily metric is an artifact of WHERE the knife
    falls, not of behavior (diurnally-concentrated traffic is
    boundary-sensitive; this registry's epoch-day convention is one
    specific knife, here made visibly so). Sibling of
    solar_hour_profile (which fixes the knife per-longitude) and
    grid_offset_stability (the same MAUP sweep on the spatial axis).
    One 3-row offset fan-out + two aggs."""
    ev = load(spark, sf_dir, "events")
    offs = spark.createDataFrame([(o,) for o in _DBS_OFFSETS], "off long")
    daily = (
        ev.crossJoin(F.broadcast(offs))
        .groupBy("off", F.expr("(unix_timestamp(ts) + off) div 86400").alias("d"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    return (
        daily.groupBy(F.col("off").alias("boundary_offset_s"))
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.max("n").cast("long").alias("peak_day_count"),
            F.min("n").cast("long").alias("min_day_count"),
            F.sum("n").cast("long").alias("total_events"),
        )
        .orderBy("boundary_offset_s")
    )



@register(
    "monthly_rate_normalization",
    f"""
WITH m AS (
  SELECT cast(year(o_orderdate) as int) AS yr, cast(month(o_orderdate) as int) AS mo,
         cast(count(*) as bigint) AS n_orders,
         cast(sum(cast(round(cast(o_totalprice as {DEC}) * 100) as bigint)) as bigint)
           AS cents,
         cast(day(last_day(min(o_orderdate))) as bigint) AS days_in_month
  FROM orders GROUP BY yr, mo
)
SELECT yr, mo, n_orders, days_in_month,
       cast((n_orders * 1000) // days_in_month as bigint) AS orders_per_day_milli,
       cast(cents // days_in_month as bigint) AS cents_per_day,
       cast((n_orders * 1000 * 30) // (days_in_month *
         greatest(lag(n_orders) OVER (ORDER BY yr, mo), 1)) * 1 as bigint)
         AS vs_prev_raw_q
FROM m ORDER BY yr, mo
""",
)
def monthly_rate_normalization(spark, sf_dir):
    """Month-length normalization — the February effect: monthly
    totals move ±10% purely because months have 28–31 days, so every
    month-over-month read must divide by days_in_month BEFORE anyone
    calls a dip a trend. Emits raw counts next to per-day rates
    (milli/exact-cents) and a raw prior-month ratio for contrast —
    the calendar sibling of day_boundary_sensitivity (where the day
    knife falls) and fiscal_445_calendar_orders (the convention that
    designs the problem away with equal weeks). last_day()/day()
    date math agrees in both engines; all rates exact integer
    division. One month agg + one lag window."""
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.dayofmonth(F.last_day(F.min("o_orderdate"))).cast("long").alias("days_in_month"),
    )
    w = Window.orderBy("yr", "mo")
    return m.select(
        "yr",
        "mo",
        "n_orders",
        "days_in_month",
        F.expr("(n_orders * 1000) div days_in_month").alias("orders_per_day_milli"),
        F.expr("cents div days_in_month").alias("cents_per_day"),
        F.expr(
            "cast((n_orders * 1000 * 30) div (days_in_month *"
            " greatest(lag(n_orders) OVER (ORDER BY yr, mo), 1)) * 1 as bigint)"
        ).alias("vs_prev_raw_q"),
    ).orderBy("yr", "mo")



@register(
    "cadence_break_alerts",
    f"""
WITH bounds AS (
  SELECT cast(max(epoch_us(ts) // 1000000 // 86400) as bigint) AS dmax FROM events
), act AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 86400 AS d FROM events
), win AS (
  SELECT a.user_id,
         cast(count(CASE WHEN a.d BETWEEN b.dmax - {_CBA_LOOKBACK - 1 + _CBA_QUIET}
                          AND b.dmax - {_CBA_QUIET} THEN 1 END) as bigint)
           AS active_days,
         cast(count(CASE WHEN a.d > b.dmax - {_CBA_QUIET} THEN 1 END) as bigint)
           AS quiet_period_days
  FROM act a CROSS JOIN bounds b
  GROUP BY a.user_id
)
SELECT user_id, active_days, quiet_period_days,
       (active_days >= {_CBA_MIN_ACTIVE} AND quiet_period_days = 0) AS alert
FROM win
WHERE active_days >= {_CBA_MIN_ACTIVE}
ORDER BY user_id
""",
)
def cadence_break_alerts(spark, sf_dir):
    """Cadence-break early warning: users who were active ≥
    {_CBA_MIN_ACTIVE} of the {_CBA_LOOKBACK} days preceding the final
    {_CBA_QUIET}-day window and then went SILENT in it — the churn
    signal with the shortest possible lag, because a daily-habit
    user's first missing days carry information a sporadic user's
    never do (missing_days_users measures lifetime coverage;
    resurrection_users catches the return; this catches the
    departure while re-engagement is still cheap). The alert
    denominator is anchored to the corpus's last day, so the op is
    deterministic on any snapshot. One distinct + one windowed
    census against a 1-row anchor."""
    ev = load(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.expr("unix_timestamp(ts) div 86400").alias("d")
    ).distinct()
    bounds = act.agg(F.max("d").cast("long").alias("dmax"))
    win = (
        act.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.count(
                F.when(
                    F.col("d").between(
                        F.col("dmax") - (_CBA_LOOKBACK - 1 + _CBA_QUIET),
                        F.col("dmax") - _CBA_QUIET,
                    ),
                    1,
                )
            )
            .cast("long")
            .alias("active_days"),
            F.count(F.when(F.col("d") > F.col("dmax") - _CBA_QUIET, 1))
            .cast("long")
            .alias("quiet_period_days"),
        )
    )
    return (
        win.filter(F.col("active_days") >= _CBA_MIN_ACTIVE)
        .select(
            "user_id",
            "active_days",
            "quiet_period_days",
            (
                (F.col("active_days") >= _CBA_MIN_ACTIVE)
                & (F.col("quiet_period_days") == 0)
            ).alias("alert"),
        )
        .orderBy("user_id")
    )



@register(
    "hawkes_branching_ratio",
    f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS t, event_id FROM events
), lagged AS (
  SELECT event_type,
         t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
  FROM ev
)
SELECT event_type,
       cast(count(*) as bigint) AS n_events,
       cast(count(CASE WHEN gap IS NOT NULL AND gap <= {_HBR_TAU} THEN 1 END)
            as bigint) AS n_triggered,
       cast((count(CASE WHEN gap IS NOT NULL AND gap <= {_HBR_TAU} THEN 1 END)
             * 1000000) // count(*) as bigint) AS branching_q
FROM lagged GROUP BY event_type ORDER BY event_type
""",
)
def hawkes_branching_ratio(spark, sf_dir):
    """Hawkes branching-ratio estimate: the share of each type's
    events arriving within {_HBR_TAU} s of the same user's previous
    event — the endogenous (self-excited) fraction vs exogenous
    arrivals, point-process theory's headline number read directly
    from inter-arrival gaps (branching_q → 10⁶ means cascades feed
    themselves — sessions, retry storms, doomscrolls; → 0 means a
    Poisson-like exogenous stream). fano_burstiness and
    burstiness_gaps measure dispersion; this measures the CAUSAL
    fraction under the simplest Hawkes reading, and the τ knob is the
    same session-boundary question session_gap_sweep sweeps. One lag
    window + one census."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    lagged = ev.select(
        "event_type",
        F.expr("unix_timestamp(ts)").alias("t"),
        "event_id",
        "user_id",
    ).select(
        "event_type",
        (F.col("t") - F.lag("t").over(w)).alias("gap"),
    )
    trig = F.col("gap").isNotNull() & (F.col("gap") <= _HBR_TAU)
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count(F.when(trig, 1)).cast("long").alias("n_triggered"),
            F.expr(
                f"(count(CASE WHEN gap IS NOT NULL AND gap <= {_HBR_TAU} THEN 1 END)"
                " * 1000000) div count(*)"
            ).alias("branching_q"),
        )
        .orderBy("event_type")
    )



@register(
    "edge_duplication_profile",
    """
WITH heads AS (
  SELECT doc_id, source,
         md5(substr(text, 1, 32)) AS head_sig,
         md5(substr(text, greatest(length(text) - 31, 1), 32)) AS tail_sig
  FROM documents
), hs AS (
  SELECT head_sig, cast(count(*) as bigint) AS c FROM heads GROUP BY head_sig
), ts AS (
  SELECT tail_sig, cast(count(*) as bigint) AS c FROM heads GROUP BY tail_sig
)
SELECT h.source,
       cast(count(*) as bigint) AS n_docs,
       cast(count(CASE WHEN hs.c > 1 THEN 1 END) as bigint) AS n_shared_head,
       cast(count(CASE WHEN ts.c > 1 THEN 1 END) as bigint) AS n_shared_tail,
       cast((count(CASE WHEN hs.c > 1 THEN 1 END) * 1000000) // count(*) as bigint)
         AS head_dup_share_q,
       cast((count(CASE WHEN ts.c > 1 THEN 1 END) * 1000000) // count(*) as bigint)
         AS tail_dup_share_q
FROM heads h JOIN hs ON hs.head_sig = h.head_sig JOIN ts ON ts.tail_sig = h.tail_sig
GROUP BY h.source ORDER BY h.source
""",
)
def edge_duplication_profile(spark, sf_dir):
    """Edge-duplication profile: how many docs share their FIRST or
    LAST 32 characters with another doc — boilerplate LOCALIZED
    (navigation headers inflate head_dup_share, footers and cookie
    banners the tail) where dup_span_stats and boilerplate_ratio
    measure overall duplication: knowing WHICH edge repeats tells the
    extractor which side to trim first, for two digest aggs instead
    of a shingle pass — the O(docs) triage before the O(tokens)
    treatment. Exact md5 digest grouping, shares in micro."""
    docs = load(spark, sf_dir, "documents")
    heads = docs.select(
        "source",
        F.md5(F.expr("substr(text, 1, 32)")).alias("head_sig"),
        F.md5(F.expr("substr(text, greatest(length(text) - 31, 1), 32)")).alias("tail_sig"),
    )
    hs = heads.groupBy("head_sig").agg(F.count("*").cast("long").alias("hc"))
    ts = heads.groupBy("tail_sig").agg(F.count("*").cast("long").alias("tc"))
    return (
        heads.join(hs, "head_sig")
        .join(ts, "tail_sig")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count(F.when(F.col("hc") > 1, 1)).cast("long").alias("n_shared_head"),
            F.count(F.when(F.col("tc") > 1, 1)).cast("long").alias("n_shared_tail"),
            F.expr(
                "(count(CASE WHEN hc > 1 THEN 1 END) * 1000000) div count(*)"
            ).alias("head_dup_share_q"),
            F.expr(
                "(count(CASE WHEN tc > 1 THEN 1 END) * 1000000) div count(*)"
            ).alias("tail_dup_share_q"),
        )
        .orderBy("source")
    )



@register(
    "effect_size_orders",
    f"""
WITH obs AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hi' ELSE 'lo' END
           AS arm,
         cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) AS cents
  FROM orders
), st AS (
  SELECT arm, cast(count(*) as bigint) AS n,
         cast(sum(cents) as DECIMAL(38,0)) AS s,
         cast(sum(cast(cents as DECIMAL(38,0)) * cents) as DECIMAL(38,0)) AS ss
  FROM obs GROUP BY arm
), w AS (
  SELECT max(CASE WHEN arm = 'hi' THEN n END) AS n1,
         max(CASE WHEN arm = 'lo' THEN n END) AS n2,
         cast(max(CASE WHEN arm = 'hi' THEN s END) as double)
           / cast(max(CASE WHEN arm = 'hi' THEN n END) as double) AS m1,
         cast(max(CASE WHEN arm = 'lo' THEN s END) as double)
           / cast(max(CASE WHEN arm = 'lo' THEN n END) as double) AS m2,
         cast(max(CASE WHEN arm = 'hi' THEN n END) * max(CASE WHEN arm = 'hi' THEN ss END)
              - max(CASE WHEN arm = 'hi' THEN s END) * max(CASE WHEN arm = 'hi' THEN s END)
              as double)
           / cast(max(CASE WHEN arm = 'hi' THEN n END) as double)
           / cast(max(CASE WHEN arm = 'hi' THEN n END) - 1 as double) AS v1,
         cast(max(CASE WHEN arm = 'lo' THEN n END) * max(CASE WHEN arm = 'lo' THEN ss END)
              - max(CASE WHEN arm = 'lo' THEN s END) * max(CASE WHEN arm = 'lo' THEN s END)
              as double)
           / cast(max(CASE WHEN arm = 'lo' THEN n END) as double)
           / cast(max(CASE WHEN arm = 'lo' THEN n END) - 1 as double) AS v2
  FROM st
)
SELECT cast(n1 as bigint) AS n_hi, cast(n2 as bigint) AS n_lo,
       (m1 - m2) / sqrt(((cast(n1 - 1 as double)) * v1 + (cast(n2 - 1 as double)) * v2)
                        / cast(n1 + n2 - 2 as double)) AS cohens_d,
       ((m1 - m2) / sqrt(((cast(n1 - 1 as double)) * v1 + (cast(n2 - 1 as double)) * v2)
                         / cast(n1 + n2 - 2 as double)))
         * (1.0 - 3.0 / cast(4 * (n1 + n2) - 9 as double)) AS hedges_g
FROM w
""",
)
def effect_size_orders(spark, sf_dir):
    """Cohen's d and Hedges' g between urgent and routine order values
    — the standardized effect sizes meta-analysis and power planning
    run on (mde_power_orders consumes exactly this d to translate
    'detectable cents' into 'detectable effect'; cliffs_delta is the
    rank-based sibling for non-normal data). Pooled-SD d from exact
    DECIMAL(38,0) moments, then the small-sample Hedges correction
    g = d·(1 − 3/(4N−9)) — the correction factor is a rational, no
    gamma function needed at this precision. Doubles assembled in the
    same textual order both engines. One two-arm agg + one 1-row
    combine."""
    dec = "decimal(38,0)"
    o = load(spark, sf_dir, "orders")
    obs = o.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hi"
        )
        .otherwise("lo")
        .alias("arm"),
        F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
    )
    st = obs.groupBy("arm").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast(dec)).cast(dec).alias("s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents")).cast(dec).alias("ss"),
    )
    w = st.agg(
        F.max(F.when(F.col("arm") == "hi", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == "lo", F.col("n"))).alias("n2"),
        (
            F.max(F.when(F.col("arm") == "hi", F.col("s"))).cast("double")
            / F.max(F.when(F.col("arm") == "hi", F.col("n"))).cast("double")
        ).alias("m1"),
        (
            F.max(F.when(F.col("arm") == "lo", F.col("s"))).cast("double")
            / F.max(F.when(F.col("arm") == "lo", F.col("n"))).cast("double")
        ).alias("m2"),
        (
            (
                F.max(F.when(F.col("arm") == "hi", F.col("n")))
                * F.max(F.when(F.col("arm") == "hi", F.col("ss")))
                - F.max(F.when(F.col("arm") == "hi", F.col("s")))
                * F.max(F.when(F.col("arm") == "hi", F.col("s")))
            ).cast("double")
            / F.max(F.when(F.col("arm") == "hi", F.col("n"))).cast("double")
            / (F.max(F.when(F.col("arm") == "hi", F.col("n"))) - 1).cast("double")
        ).alias("v1"),
        (
            (
                F.max(F.when(F.col("arm") == "lo", F.col("n")))
                * F.max(F.when(F.col("arm") == "lo", F.col("ss")))
                - F.max(F.when(F.col("arm") == "lo", F.col("s")))
                * F.max(F.when(F.col("arm") == "lo", F.col("s")))
            ).cast("double")
            / F.max(F.when(F.col("arm") == "lo", F.col("n"))).cast("double")
            / (F.max(F.when(F.col("arm") == "lo", F.col("n"))) - 1).cast("double")
        ).alias("v2"),
    )
    pooled = F.sqrt(
        (
            (F.col("n1") - 1).cast("double") * F.col("v1")
            + (F.col("n2") - 1).cast("double") * F.col("v2")
        )
        / (F.col("n1") + F.col("n2") - 2).cast("double")
    )
    d = (F.col("m1") - F.col("m2")) / pooled
    return w.select(
        F.col("n1").cast("long").alias("n_hi"),
        F.col("n2").cast("long").alias("n_lo"),
        d.alias("cohens_d"),
        (d * (F.lit(1.0) - F.lit(3.0) / (4 * (F.col("n1") + F.col("n2")) - 9).cast("double"))).alias(
            "hedges_g"
        ),
    )



@register(
    "sbc_demand_classes_parts",
    """
WITH weeks AS (
  SELECT l_partkey, epoch_us(l_shipdate) // 1000000 // 604800 AS wk,
         cast(sum(cast(l_quantity as bigint)) as bigint) AS q
  FROM lineitem GROUP BY l_partkey, wk
), span AS (
  SELECT l_partkey,
         cast(count(*) as bigint) AS n_demand_wks,
         cast(max(wk) - min(wk) + 1 as bigint) AS span_wks,
         cast(sum(q) as bigint) AS sq,
         cast(sum(q * q) as bigint) AS sqq
  FROM weeks GROUP BY l_partkey
), classed AS (
  SELECT l_partkey,
         -- ADI = span / demand periods; threshold 1.32 → cross-mult
         CASE WHEN span_wks * 100 <= n_demand_wks * 132 THEN 'frequent'
              ELSE 'intermittent' END AS adi_class,
         -- CV² vs 0.49: (n·Σq²−(Σq)²)·100 vs (Σq)²·49, exact integers
         CASE WHEN (n_demand_wks * sqq - sq * sq) * 100 <= sq * sq * 49
              THEN 'stable' ELSE 'variable' END AS cv_class
  FROM span WHERE n_demand_wks >= 2
)
SELECT CASE adi_class || '/' || cv_class
         WHEN 'frequent/stable' THEN 'smooth'
         WHEN 'frequent/variable' THEN 'erratic'
         WHEN 'intermittent/stable' THEN 'intermittent'
         ELSE 'lumpy' END AS sbc_class,
       cast(count(*) as bigint) AS n_parts
FROM classed GROUP BY sbc_class ORDER BY sbc_class
""",
)
def sbc_demand_classes_parts(spark, sf_dir):
    """Syntetos–Boylan demand classification — the forecasting-method
    selector: average inter-demand interval (ADI, vs the published
    1.32 cutoff) × demand-size CV² (vs 0.49) put every part in
    smooth / erratic / intermittent / lumpy, and the quadrant decides
    the METHOD (smooth → exponential smoothing; intermittent →
    Croston; lumpy → don't trust any point forecast) — the
    upstream decision abc_xyz_matrix_parts' policy matrix and
    newsvendor's quantiles both assume someone made. Both thresholds
    are exact integer cross-multiplications. One week agg + one part
    agg + one census."""
    li = load(spark, sf_dir, "lineitem")
    weeks = li.groupBy(
        "l_partkey", F.expr("unix_timestamp(l_shipdate) div 604800").alias("wk")
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    span = weeks.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_demand_wks"),
        (F.max("wk") - F.min("wk") + 1).cast("long").alias("span_wks"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sqq"),
    )
    classed = span.filter(F.col("n_demand_wks") >= 2).select(
        F.when(F.col("span_wks") * 100 <= F.col("n_demand_wks") * 132, "frequent")
        .otherwise("intermittent")
        .alias("adi_class"),
        F.when(
            (F.col("n_demand_wks") * F.col("sqq") - F.col("sq") * F.col("sq")) * 100
            <= F.col("sq") * F.col("sq") * 49,
            "stable",
        )
        .otherwise("variable")
        .alias("cv_class"),
    )
    sbc = (
        F.when(
            (F.col("adi_class") == "frequent") & (F.col("cv_class") == "stable"), "smooth"
        )
        .when(
            (F.col("adi_class") == "frequent") & (F.col("cv_class") == "variable"),
            "erratic",
        )
        .when(
            (F.col("adi_class") == "intermittent") & (F.col("cv_class") == "stable"),
            "intermittent",
        )
        .otherwise("lumpy")
    )
    return (
        classed.groupBy(sbc.alias("sbc_class"))
        .agg(F.count("*").cast("long").alias("n_parts"))
        .orderBy("sbc_class")
    )


"""Registry family: geo_join (split from the single-file registry; query names and behavior unchanged)."""

from __future__ import annotations

from gipspark.queries._base import (  # noqa: F401
    C,
    F,
    HAVERSINE_SQL,
    ORACLE_POLYGONS,
    T,
    Window,
    _LAT,
    _LON,
    _cust_pts,
    _edges_values_sql,
    _pip_matches_sql,
    _poly_edges_values_sql,
    knn_join,
    load,
    pip_join,
    register,
    table_rows,
    within_join,
)
from gipspark.queries._shared import (  # noqa: F401
    ORACLE_BBOXES,
    WRAPPED_FENCE,
    _BBOX_VALUES,
    _BUF_D_MICRO,
    _CLOAK_K,
    _CLOAK_LEVELS,
    _DOT,
    _GAZ,
    _GAZ_NAMES,
    _GAZ_VALUES_SQL,
    _IDW_PROBES,
    _IDW_R2,
    _REVGEO_TICKS,
    _RKNN_HAV,
    _overlay_oracle_sql,
    _overlay_sets,
    _poly_bboxes,
    _poly_validity,
    _polygon_metrics_oracle_sql,
    _reverse_geocode_oracle,
    _sjce_oracle_sql,
    _snap_ambiguity_oracle,
    _snap_oracle,
    _snap_tick_expr,
    _union_boxes_sql,
    _validity_edge_rows,
    _wrapped_fence_pieces,
)



@register(
    "pip_join_customers",
    f"""
WITH pts AS (SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon FROM customer)
SELECT c_custkey, poly_id FROM ({_pip_matches_sql('pts', 'c_custkey')})
""",
)
def pip_join_customers(spark, sf_dir):
    pts = _cust_pts(spark, sf_dir)
    return pip_join(pts, ORACLE_POLYGONS, level=7).select("c_custkey", "poly_id")



@register(
    "pip_left_join_coverage",
    # left-join PIP semantics: every point kept, poly_id null outside
    f"""
WITH pts AS (SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
             FROM customer WHERE c_custkey < 400),
m AS (SELECT c_custkey, poly_id FROM ({_pip_matches_sql('pts', 'c_custkey')}))
SELECT p.c_custkey, m.poly_id
FROM pts p LEFT JOIN m ON p.c_custkey = m.c_custkey
""",
)
def pip_left_join_coverage(spark, sf_dir):
    pts = _cust_pts(spark, sf_dir).filter(F.col("c_custkey") < 400)
    m = pip_join(pts, ORACLE_POLYGONS, level=7).select("c_custkey", "poly_id")
    return pts.select("c_custkey").join(m, "c_custkey", "left")



@register(
    "knn_join_nations",
    f"""
WITH q AS (SELECT n_nationkey AS q_id,
                  {_LAT.format(k='n_nationkey * 101 + 13')} AS q_lat,
                  {_LON.format(k='n_nationkey * 101 + 13')} AS q_lon FROM nation),
p AS (SELECT c_custkey AS p_id, {_LAT.format(k='c_custkey')} AS p_lat, {_LON.format(k='c_custkey')} AS p_lon FROM customer),
d AS (SELECT q_id, p_id,
             {HAVERSINE_SQL.format(lat1='q_lat', lon1='q_lon', lat2='p_lat', lon2='p_lon')} AS dist_m
      FROM q CROSS JOIN p),
r AS (SELECT q_id, p_id, dist_m,
             cast(row_number() OVER (PARTITION BY q_id ORDER BY dist_m ASC, p_id ASC) as int) AS rank
      FROM d)
SELECT q_id, p_id, cast(round(dist_m, 0) as double) AS dist_km0, rank FROM r WHERE rank <= 5
""",
)
def knn_join_nations(spark, sf_dir):
    n = load(spark, sf_dir, "nation")
    qk = F.col("n_nationkey") * 101 + 13
    qs = n.select(
        F.col("n_nationkey").alias("q_id"),
        C.derived_lat(qk).alias("q_lat"),
        C.derived_lon(qk).alias("q_lon"),
    )
    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("p_id"),
        C.derived_lat(F.col("c_custkey")).alias("p_lat"),
        C.derived_lon(F.col("c_custkey")).alias("p_lon"),
    )
    # cardinality from parquet footer metadata (Iceberg-manifest analogue):
    # lets knn_join pick its density-adaptive level without a full
    # points.count() job over the big side (VERDICT r1 "What's wrong" #2)
    out = knn_join(qs, pts, k=5, n_points_hint=table_rows(sf_dir, "customer"))
    return out.select(
        "q_id", "p_id", F.round("dist_m", 0).cast("double").alias("dist_km0"), "rank"
    )



@register(
    "within_radius_join",
    f"""
WITH q AS (SELECT n_nationkey AS l_id,
                  {_LAT.format(k='n_nationkey * 101 + 13')} AS l_lat,
                  {_LON.format(k='n_nationkey * 101 + 13')} AS l_lon FROM nation),
p AS (SELECT c_custkey AS r_id, {_LAT.format(k='c_custkey')} AS r_lat, {_LON.format(k='c_custkey')} AS r_lon FROM customer)
SELECT l_id, r_id,
       cast(round({HAVERSINE_SQL.format(lat1='l_lat', lon1='l_lon', lat2='r_lat', lon2='r_lon')}, 0) as double) AS dist_m0
FROM q CROSS JOIN p
WHERE {HAVERSINE_SQL.format(lat1='l_lat', lon1='l_lon', lat2='r_lat', lon2='r_lon')} <= 1500000.0
""",
)
def within_radius_join(spark, sf_dir):
    """Distance-within join (operators/knn.within_join): nation-derived
    anchors × customer-derived points within 1,500 km — cell-disk
    prefilter + JVM haversine refine; the oracle is the all-pairs
    definition the operator must reproduce exactly."""
    n = load(spark, sf_dir, "nation")
    qk = F.col("n_nationkey") * 101 + 13
    anchors = n.select(
        F.col("n_nationkey").alias("l_id"),
        C.derived_lat(qk).alias("l_lat"),
        C.derived_lon(qk).alias("l_lon"),
    )
    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("r_id"),
        C.derived_lat(F.col("c_custkey")).alias("r_lat"),
        C.derived_lon(F.col("c_custkey")).alias("r_lon"),
    )
    out = within_join(anchors, pts, radius_m=1_500_000.0)
    return out.select(
        "l_id", "r_id", F.round("dist_m", 0).cast("double").alias("dist_m0")
    )



@register("overlay_polygon_join", _overlay_oracle_sql())
def overlay_polygon_join(spark, sf_dir):
    """Polygon–polygon overlay join (operators/overlay.py): cover-cell
    prefilter + strict edge-cross / even-odd containment refine, all
    JVM. The oracle replays the predicate over ALL pairs with no
    prefilter, so a cover false-negative fails the row count."""
    from gipspark.operators.overlay import overlay_join

    a, b = _overlay_sets()
    return overlay_join(spark, a, b)



@register("overlay_polygon_join_df", _overlay_oracle_sql())
def overlay_polygon_join_df(spark, sf_dir):
    """DataFrame-native overlay (operators/overlay.overlay_join_df):
    same polygon sets as overlay_polygon_join but both sides enter as
    (poly_id, rings) tables — covers computed distributed via
    mapInPandas, candidates shuffled on cell, shapes joined on poly_id,
    no broadcast. Same all-pairs oracle: the two operators must agree
    with each other AND with DuckDB."""
    from gipspark.operators.overlay import overlay_join_df

    a, b = _overlay_sets()
    ring_t = "poly_id long, rings array<array<array<double>>>"
    a_df = spark.createDataFrame([(p["poly_id"], p["rings"]) for p in a], ring_t)
    b_df = spark.createDataFrame([(p["poly_id"], p["rings"]) for p in b], ring_t)
    return overlay_join_df(a_df, b_df)



@register("polygon_metrics", _polygon_metrics_oracle_sql())
def polygon_metrics(spark, sf_dir):
    """Per-polygon shoelace area, area centroid, and perimeter over the
    (poly_id, rings) table shape — the polygon-side profiling pass an
    overlay/zonal pipeline runs before choosing cover resolutions.

    Edges are built WITHOUT a driver loop (transform over the ring
    array, then explode) so an arbitrarily large polygon table stays
    distributed; the math is exact integer micro-degree arithmetic in
    DECIMAL(38,0) (holes subtract automatically via ring orientation),
    mirrored bit-for-bit by the oracle's HUGEINT. Perimeter sums
    per-edge whole-meter haversine (coarse-tick rounding per the module
    convention, so libm ulp drift can't flip the hash)."""
    from gipspark.geo.haversine import haversine_col

    rows = [(p["poly_id"], p["rings"]) for p in ORACLE_POLYGONS]
    polys = spark.createDataFrame(rows, "poly_id int, rings array<array<array<double>>>")
    edges = (
        polys.select("poly_id", F.explode("rings").alias("ring"))
        .select(
            "poly_id",
            F.expr(
                "transform(slice(ring, 1, size(ring)-1), (v, i) -> "
                "struct(v[0] as x1, v[1] as y1, ring[i+1][0] as x2, ring[i+1][1] as y2))"
            ).alias("es"),
        )
        .select("poly_id", F.explode("es").alias("e"))
        .select("poly_id", "e.*")
    )
    d20, d38 = "decimal(20,0)", "decimal(38,0)"
    x1u = F.round(F.col("x1") * 1e6).cast(d20)
    y1u = F.round(F.col("y1") * 1e6).cast(d20)
    x2u = F.round(F.col("x2") * 1e6).cast(d20)
    y2u = F.round(F.col("y2") * 1e6).cast(d20)
    cr = (x1u * y2u - x2u * y1u).cast(d38)
    elen = F.round(haversine_col(F.col("y1"), F.col("x1"), F.col("y2"), F.col("x2")), 0).cast("long")
    agg = (
        edges.select(
            "poly_id",
            cr.alias("cr"),
            ((x1u + x2u).cast(d38) * cr).cast(d38).alias("nxe"),
            ((y1u + y2u).cast(d38) * cr).cast(d38).alias("nye"),
            elen.alias("elen"),
        )
        .groupBy("poly_id")
        .agg(
            F.sum("cr").cast("double").alias("a2"),
            F.sum("nxe").cast("double").alias("nx"),
            F.sum("nye").cast("double").alias("ny"),
            F.sum("elen").alias("perimeter_m"),
            F.count("*").alias("n_edges"),
        )
    )
    return agg.select(
        "poly_id",
        (F.abs(F.col("a2")) / F.lit(2000000000000.0)).alias("area_deg2"),
        (F.col("nx") / (F.lit(3.0) * F.col("a2")) / F.lit(1000000.0)).alias("cx"),
        (F.col("ny") / (F.lit(3.0) * F.col("a2")) / F.lit(1000000.0)).alias("cy"),
        "perimeter_m",
        "n_edges",
    )



# --- geofencing / bbox / hulls (round-2 batch 8) ----------------------------


@register(
    "geofence_transitions",
    f"""
WITH pts AS (
  SELECT event_id, user_id, ts,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), m AS (
  SELECT event_id, poly_id FROM ({_pip_matches_sql('pts', 'event_id')})
), pids AS (SELECT DISTINCT e.poly_id FROM {_edges_values_sql()}),
grid AS (
  SELECT p.user_id, p.ts, p.event_id, q.poly_id FROM pts p CROSS JOIN pids q
), flags AS (
  SELECT g.user_id, g.poly_id, g.ts, g.event_id,
         CASE WHEN m.event_id IS NOT NULL THEN 1 ELSE 0 END AS inside
  FROM grid g LEFT JOIN m ON g.event_id = m.event_id AND g.poly_id = m.poly_id
), seq AS (
  SELECT user_id, poly_id, inside,
         lag(inside) OVER (PARTITION BY user_id, poly_id ORDER BY ts, event_id) AS prev
  FROM flags
), tr AS (SELECT * FROM seq WHERE prev IS NOT NULL AND prev <> inside)
SELECT user_id, poly_id,
       cast(sum(CASE WHEN inside = 1 THEN 1 ELSE 0 END) as bigint) AS n_enter,
       cast(sum(CASE WHEN inside = 0 THEN 1 ELSE 0 END) as bigint) AS n_exit
FROM tr GROUP BY user_id, poly_id
""",
)
def geofence_transitions(spark, sf_dir):
    """Geofence enter/exit detection over event trajectories: each
    fix's inside/outside state per fence comes from the exact PIP join
    (cell prefilter + JVM ray cast), the per-(user, fence) time series
    is lag-compared, and state flips aggregate to enter/exit counts.
    The (event × fence) grid is a literal-array explode — narrow, zero
    join; the only real shuffle is the (user_id, poly_id) window,
    shared by the final aggregate."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "user_id",
        "ts",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    m = pip_join(pts, ORACLE_POLYGONS, level=7).select("event_id", "poly_id")
    grid = pts.select("user_id", "ts", "event_id").withColumn(
        "poly_id",
        F.explode(F.array(*[F.lit(int(p["poly_id"])) for p in ORACLE_POLYGONS])),
    )
    flags = grid.join(
        m.withColumn("inside", F.lit(1)), ["event_id", "poly_id"], "left"
    ).select(
        "user_id", "poly_id", "ts", "event_id", F.coalesce("inside", F.lit(0)).alias("inside")
    )
    w = Window.partitionBy("user_id", "poly_id").orderBy("ts", "event_id")
    seq = flags.withColumn("prev", F.lag("inside").over(w))
    tr = seq.filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("inside")))
    return tr.groupBy("user_id", "poly_id").agg(
        F.sum(F.when(F.col("inside") == 1, 1).otherwise(0)).alias("n_enter"),
        F.sum(F.when(F.col("inside") == 0, 1).otherwise(0)).alias("n_exit"),
    )



@register(
    "bbox_join_customers",
    f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
)
SELECT p.c_custkey, bx.box_id
FROM pts p JOIN {_BBOX_VALUES}
  ON p.lon >= bx.lon_min AND p.lon <= bx.lon_max
 AND p.lat >= bx.lat_min AND p.lat <= bx.lat_max
""",
)
def bbox_join_customers(spark, sf_dir):
    """Envelope containment join (ST_Within on bounding boxes,
    operators/bbox.py): the θ-join the oracle writes literally is
    converted to tile-cover equi-join + 4-comparison refine, so the
    point side never meets a box outside its 5° tile and Spark never
    plans a nested loop over the big side."""
    from gipspark.operators.bbox import bbox_join

    pts = _cust_pts(spark, sf_dir)
    return bbox_join(pts, ORACLE_BBOXES).select("c_custkey", "box_id")



@register("snap_to_edge_customers", _snap_oracle())
def snap_to_edge_customers(spark, sf_dir):
    """Map matching / ST_ClosestPoint: snap every point to the nearest
    boundary segment and emit the projected coordinate. Same zero-
    join broadcast-fold as nearest_edge_customers, now carrying the
    winning edge index so the clamp projection is recomputed on just
    that edge (operators/distance.py snap_to_edge). Snapped coords are
    emitted as 1e-6-degree integer ticks: the raw doubles agree only to
    1 ulp across engines (DuckDB's compiled multiply-add contracts
    where the JVM never fuses), and the house rule is to quantize any
    libm/FMA-sensitive value before it reaches a hash."""
    from gipspark.operators.distance import snap_to_edge

    pts = _cust_pts(spark, sf_dir)
    return snap_to_edge(pts, ORACLE_POLYGONS, key_col="c_custkey").select(
        "c_custkey",
        "nearest_poly",
        "edge_idx",
        "d2_ticks",
        F.round(F.col("snap_lon") * 1000000.0, 0).cast("long").alias("snap_lon_ticks"),
        F.round(F.col("snap_lat") * 1000000.0, 0).cast("long").alias("snap_lat_ticks"),
    )



@register(
    "idw_interpolate_probes",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon,
         cast(round(c_acctbal * 100) as bigint) AS vc
  FROM customer
), probes AS (
  SELECT * FROM (VALUES {",".join(f"({i},{la!r},{lo!r})" for i, la, lo in _IDW_PROBES)})
         AS p(probe_id, plat, plon)
), cand AS (
  SELECT probe_id,
         cast(round(1000000.0 / (1.0 + ((lon - plon) * (lon - plon) + (lat - plat) * (lat - plat))), 0) as bigint) AS w,
         vc
  FROM pts CROSS JOIN probes
  WHERE (lon - plon) * (lon - plon) + (lat - plat) * (lat - plat) <= {_IDW_R2!r}
)
SELECT probe_id, count(*) AS n_pts,
       cast(sum(w) as bigint) AS sum_w,
       cast(sum(w * vc) as double) / cast(sum(w) as double) / 100.0 AS idw_value
FROM cand GROUP BY probe_id
""",
)
def idw_interpolate_probes(spark, sf_dir):
    """Inverse-distance-weighted interpolation at fixed probe sites
    (spatial kriging-lite): probes ride as a literal array exploded per
    point — narrow, zero joins — with a radius gate, then one aggregate
    per probe. Weights quantize to integer ticks BEFORE summing, so
    both weight and weighted-value sums are exact bigints; the only
    double is the final ratio. At scale the radius gate would sit
    behind a cell-cover prefilter (operators/knn.py k-ring) — at 6
    probes the explode is already minimal."""
    cust = load(spark, sf_dir, "customer")
    probes = F.array(
        *[
            F.struct(
                F.lit(i).alias("probe_id"), F.lit(la).alias("plat"), F.lit(lo).alias("plon")
            )
            for i, la, lo in _IDW_PROBES
        ]
    )
    pts = cust.select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("vc"),
        F.explode(probes).alias("p"),
    )
    d2 = (F.col("lon") - F.col("p.plon")) * (F.col("lon") - F.col("p.plon")) + (
        F.col("lat") - F.col("p.plat")
    ) * (F.col("lat") - F.col("p.plat"))
    cand = pts.filter(d2 <= F.lit(_IDW_R2)).select(
        F.col("p.probe_id").alias("probe_id"),
        F.round(F.lit(1000000.0) / (F.lit(1.0) + d2), 0).cast("long").alias("w"),
        "vc",
    )
    return cand.groupBy("probe_id").agg(
        F.count("*").alias("n_pts"),
        F.sum("w").cast("long").alias("sum_w"),
        (
            F.sum(F.col("w") * F.col("vc")).cast("double")
            / F.sum("w").cast("double")
            / F.lit(100.0)
        ).alias("idw_value"),
    )



@register(
    "polygon_validity_report",
    f"""
WITH e AS (
  SELECT * FROM (VALUES {",".join("(" + ",".join(repr(v) for v in r) + ")" for r in _validity_edge_rows())})
       AS e(poly_id, eid, ring_idx, pos, nseg, x1, y1, x2, y2)
), bad AS (
  SELECT a.poly_id, count(*) AS n_improper
  FROM e a JOIN e b
    ON a.poly_id = b.poly_id AND a.eid < b.eid
   AND NOT (a.ring_idx = b.ring_idx
            AND ((b.pos - a.pos) = 1 OR (a.pos = 0 AND b.pos = a.nseg - 1)))
   AND ((b.x2 - b.x1) * (a.y1 - b.y1) - (b.y2 - b.y1) * (a.x1 - b.x1))
     * ((b.x2 - b.x1) * (a.y2 - b.y1) - (b.y2 - b.y1) * (a.x2 - b.x1)) < 0.0
   AND ((a.x2 - a.x1) * (b.y1 - a.y1) - (a.y2 - a.y1) * (b.x1 - a.x1))
     * ((a.x2 - a.x1) * (b.y2 - a.y1) - (a.y2 - a.y1) * (b.x2 - a.x1)) < 0.0
  GROUP BY a.poly_id
)
SELECT p.poly_id, cast(p.n_edges as bigint) AS n_edges,
       cast(coalesce(bad.n_improper, 0) as bigint) AS n_improper,
       coalesce(bad.n_improper, 0) = 0 AS is_simple
FROM (SELECT poly_id, count(*) AS n_edges FROM e GROUP BY poly_id) p
LEFT JOIN bad ON bad.poly_id = p.poly_id
""",
)
def polygon_validity_report(spark, sf_dir):
    """Geometry validation (ST_IsValid-lite): per polygon, count proper
    intersections between non-adjacent edges (same math as
    operators/crossing.py) — any makes the ring self-crossing, hence
    not simple. The tested layer is the oracle fixture set plus a
    deliberately invalid bowtie, so both verdicts are exercised. Plan
    shape: the edge table self-joins keyed on poly_id — per-polygon
    quadratic, which is the exact check's nature; a plane-sweep inside
    applyInPandas would be the path for polygons with 10⁵⁺ vertices."""
    rows = _validity_edge_rows()
    e = spark.createDataFrame(
        rows, "poly_id long, eid int, ring_idx int, pos int, nseg int, x1 double, y1 double, x2 double, y2 double"
    )
    a, b = e.alias("a"), e.alias("b")
    A, B = (lambda c: F.col("a." + c)), (lambda c: F.col("b." + c))
    adjacent = (A("ring_idx") == B("ring_idx")) & (
        ((B("pos") - A("pos")) == 1) | ((A("pos") == 0) & (B("pos") == A("nseg") - 1))
    )
    d1 = (B("x2") - B("x1")) * (A("y1") - B("y1")) - (B("y2") - B("y1")) * (A("x1") - B("x1"))
    d2 = (B("x2") - B("x1")) * (A("y2") - B("y1")) - (B("y2") - B("y1")) * (A("x2") - B("x1"))
    d3 = (A("x2") - A("x1")) * (B("y1") - A("y1")) - (A("y2") - A("y1")) * (B("x1") - A("x1"))
    d4 = (A("x2") - A("x1")) * (B("y2") - A("y1")) - (A("y2") - A("y1")) * (B("x2") - A("x1"))
    bad = (
        a.join(b, (A("poly_id") == B("poly_id")) & (A("eid") < B("eid")))
        .filter(~adjacent & (d1 * d2 < 0.0) & (d3 * d4 < 0.0))
        .groupBy(A("poly_id").alias("poly_id"))
        .agg(F.count("*").alias("n_improper"))
    )
    per = e.groupBy("poly_id").agg(F.count("*").cast("long").alias("n_edges"))
    return per.join(bad, "poly_id", "left").select(
        "poly_id",
        "n_edges",
        F.coalesce("n_improper", F.lit(0)).cast("long").alias("n_improper"),
        (F.coalesce("n_improper", F.lit(0)) == 0).alias("is_simple"),
    )



@register(
    "pip_anti_join_customers",
    f"""
WITH pts AS (SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon FROM customer)
SELECT c_custkey FROM pts
WHERE c_custkey NOT IN (SELECT c_custkey FROM ({_pip_matches_sql('pts', 'c_custkey')}))
""",
)
def pip_anti_join_customers(spark, sf_dir):
    """Spatial ANTI join — points inside NO polygon (coverage-gap
    analysis, the complement every tiling pipeline needs for 'untiled
    remainder' accounting). Same cell-prefilter + exact ray-cast refine
    as pip_join, then a left-anti join of the point table against the
    matched ids — the anti side shuffles once on the point key."""
    from gipspark.operators.pip import pip_join

    pts = _cust_pts(spark, sf_dir)
    matched = pip_join(pts, ORACLE_POLYGONS, level=7).select("c_custkey").distinct()
    return pts.join(matched, "c_custkey", "left_anti").select("c_custkey")



@register(
    "pip_wrapped_fence",
    f"""
WITH pts AS (SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon FROM customer)
SELECT p.c_custkey, e.poly_id
FROM pts p CROSS JOIN {_poly_edges_values_sql(_wrapped_fence_pieces())}
WHERE ((e.y1 > p.lat) != (e.y2 > p.lat))
  AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
GROUP BY p.c_custkey, e.poly_id
HAVING count(*) % 2 = 1
""",
)
def pip_wrapped_fence(spark, sf_dir):
    """PIP join against a polygon straddling the antimeridian — the
    megacity-fence case a 10^12-doc web corpus hits (Fiji, Chukotka,
    date-line shipping zones). pip_join strip-splits the wrapped ring
    (geo/antimeridian.py) so the planar even-odd kernel stays exact;
    the cell prefilter covers each split piece's own bbox. Same
    broadcast-prefilter + codegen-refine plan as pip_join_customers —
    wrapping costs nothing at scale."""
    pts = _cust_pts(spark, sf_dir)
    return pip_join(pts, [WRAPPED_FENCE], level=7).select("c_custkey", "poly_id")



@register(
    "temporal_pip_events",
    f"""
WITH pts AS (
  SELECT event_id, ts,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), m AS (
  SELECT event_id, poly_id FROM ({_pip_matches_sql('pts', 'event_id')})
), valid AS (
  SELECT * FROM (VALUES {','.join(f"({p}, TIMESTAMP '{a}', TIMESTAMP '{b}')" for p, a, b in _poly_validity())})
           AS v(poly_id, t_from, t_to)
)
SELECT p.event_id, m.poly_id
FROM m JOIN pts p ON p.event_id = m.event_id
JOIN valid v ON v.poly_id = m.poly_id AND p.ts >= v.t_from AND p.ts < v.t_to
""",
)
def temporal_pip_events(spark, sf_dir):
    """Spatio-temporal containment: events inside a polygon WHILE the
    polygon is active (staggered per-poly validity windows) — the
    moving-geofence / seasonal-zone query. Plan: the usual broadcast
    PIP prefilter + codegen refine, then one more broadcast equi-join
    on poly_id carrying the interval bounds; the time filter rides in
    the join condition so Catalyst pushes it into the probe side."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    m = pip_join(ev, ORACLE_POLYGONS, level=7).select("event_id", "ts", "poly_id")
    valid = spark.createDataFrame(
        [(p, a, b) for p, a, b in _poly_validity()], "poly_id int, t_from string, t_to string"
    ).select("poly_id", F.to_timestamp("t_from").alias("t_from"), F.to_timestamp("t_to").alias("t_to"))
    return (
        m.join(
            F.broadcast(valid),
            (m.poly_id == valid.poly_id) & (m.ts >= valid.t_from) & (m.ts < valid.t_to),
        )
        .select("event_id", m.poly_id.alias("poly_id"))
    )



@register("reverse_geocode_customers", _reverse_geocode_oracle())
def reverse_geocode_customers(spark, sf_dir):
    """Reverse geocoding with fallback — the lookup shape a web-corpus
    geotagger actually runs: points inside a fence get its id
    ('inside'); points outside snap to the nearest boundary when within
    the fallback radius ('near', with the exact integer-tick d²);
    everything else is 'none'. Composition of the two existing narrow
    kernels: the cell-prefiltered PIP join (broadcast covers + codegen
    refine) and the codegen least-tree nearest-edge — the fallback leg
    runs ONLY on the PIP-miss anti-join, so the expensive edge scan
    touches just the outside points. Ambiguous containment (overlapping
    fences) resolves deterministically to min(poly_id)."""
    from gipspark.operators.distance import nearest_edge

    pts = _cust_pts(spark, sf_dir)
    inside = (
        pip_join(pts, ORACLE_POLYGONS, level=7)
        .groupBy("c_custkey")
        .agg(F.min("poly_id").cast("long").alias("poly_id"))
    )
    rest = pts.join(inside.select("c_custkey"), "c_custkey", "left_anti")
    near = nearest_edge(rest, ORACLE_POLYGONS, key_col="c_custkey").select(
        "c_custkey",
        F.when(F.col("d2_ticks") <= _REVGEO_TICKS, F.col("nearest_poly").cast("long")).alias("poly_id"),
        F.when(F.col("d2_ticks") <= _REVGEO_TICKS, F.lit("near")).otherwise(F.lit("none")).alias("method"),
        F.when(F.col("d2_ticks") <= _REVGEO_TICKS, F.col("d2_ticks")).alias("d2_ticks"),
    )
    return inside.select(
        "c_custkey", "poly_id", F.lit("inside").alias("method"),
        F.lit(0).cast("long").alias("d2_ticks"),
    ).unionByName(near)



@register(
    "knn_classify_suppliers",
    # kNN majority-vote classification: each supplier point takes the
    # modal market segment of its 7 nearest customers (vote count desc,
    # then lexicographically smallest segment). Oracle is the bounded
    # brute force.
    f"""
WITH q AS (SELECT s_suppkey AS q_id,
                  {_LAT.format(k='s_suppkey * 211 + 7')} AS q_lat,
                  {_LON.format(k='s_suppkey * 211 + 7')} AS q_lon FROM supplier),
p AS (SELECT c_custkey AS p_id, c_mktsegment AS seg,
             {_LAT.format(k='c_custkey')} AS p_lat, {_LON.format(k='c_custkey')} AS p_lon FROM customer),
d AS (SELECT q_id, p_id, seg,
             {HAVERSINE_SQL.format(lat1='q_lat', lon1='q_lon', lat2='p_lat', lon2='p_lon')} AS dist_m
      FROM q CROSS JOIN p),
r AS (SELECT q_id, p_id, seg,
             row_number() OVER (PARTITION BY q_id ORDER BY dist_m ASC, p_id ASC) AS rank
      FROM d),
v AS (SELECT q_id, seg, cast(count(*) as bigint) AS votes FROM r WHERE rank <= 7 GROUP BY q_id, seg),
pick AS (SELECT q_id, seg, votes,
                row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, seg ASC) AS rn
         FROM v)
SELECT q_id, seg AS pred_segment, votes FROM pick WHERE rn = 1
""",
)
def knn_classify_suppliers(spark, sf_dir):
    """kNN majority-vote classification: every supplier point gets the
    modal market segment of its 7 nearest customers — nearest-neighbor
    label transfer (the classic spatial classifier / label-densification
    op), composed from the exact k-ring-guaranteed kNN join
    (operators/knn.py) plus one vote hash-agg and one argmax window;
    ties break to the smallest segment so both engines agree. The
    oracle replays the bounded brute force.

    Scale shape: inherits knn_join's candidate-bounded expansion (never
    all-pairs); voting adds a (query, label) hash-agg and a
    query-partitioned WindowGroupLimit-style argmax."""
    sup = load(spark, sf_dir, "supplier")
    qk = F.col("s_suppkey") * 211 + 7
    qs = sup.select(
        F.col("s_suppkey").alias("q_id"),
        C.derived_lat(qk).alias("q_lat"),
        C.derived_lon(qk).alias("q_lon"),
    )
    pts = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("p_id"),
        F.col("c_mktsegment").alias("seg"),
        C.derived_lat(F.col("c_custkey")).alias("p_lat"),
        C.derived_lon(F.col("c_custkey")).alias("p_lon"),
    )
    out = knn_join(
        qs,
        pts.select("p_id", "p_lat", "p_lon"),
        k=7,
        n_points_hint=table_rows(sf_dir, "customer"),
    )
    voted = out.join(pts.select("p_id", "seg"), "p_id").groupBy("q_id", "seg").agg(
        F.count("*").cast("long").alias("votes")
    )
    pick = voted.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("seg").asc())
        ),
    ).filter(F.col("rn") == 1)
    return pick.select("q_id", F.col("seg").alias("pred_segment"), "votes")



@register(
    "catchment_counts_suppliers",
    f"""
WITH q AS (SELECT c_custkey AS q_id,
                  {C.DERIVED_LAT_SQL.format(k='c_custkey')} AS q_lat,
                  {C.DERIVED_LON_SQL.format(k='c_custkey')} AS q_lon FROM customer),
p AS (SELECT s_suppkey AS p_id,
             {C.DERIVED_LAT_SQL.format(k='s_suppkey * 31 + 7')} AS p_lat,
             {C.DERIVED_LON_SQL.format(k='s_suppkey * 31 + 7')} AS p_lon FROM supplier),
d AS (SELECT q_id, p_id,
             {HAVERSINE_SQL.format(lat1='q_lat', lon1='q_lon', lat2='p_lat', lon2='p_lon')} AS dist_m
      FROM q CROSS JOIN p),
r AS (SELECT q_id, p_id, dist_m,
             row_number() OVER (PARTITION BY q_id ORDER BY dist_m ASC, p_id ASC) AS rn
      FROM d)
SELECT p_id AS s_suppkey,
       cast(count(*) as bigint) AS n_customers,
       cast(round(max(dist_m), 0) as double) AS max_dist0
FROM r WHERE rn = 1 GROUP BY p_id ORDER BY s_suppkey
""",
)
def catchment_counts_suppliers(spark, sf_dir):
    """Voronoi catchment analysis: assign every customer to its NEAREST
    supplier (k=1 kNN with the deterministic dist-then-id tie-break)
    and report each supplier's catchment population and radius — the
    facility-coverage question (store catchments, cell-tower load)
    behind most siting studies. Engine side is knn_join's k-ring
    lattice walk (operators/knn.py): customers never cross-join the
    supplier table; candidates come from expanding cell disks, exact by
    the k-ring guarantee. The oracle is the bounded brute force. One
    hash agg on the winning supplier follows; haversine is shared
    textually by both engines."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("q_id"),
        C.derived_lat(F.col("c_custkey")).alias("q_lat"),
        C.derived_lon(F.col("c_custkey")).alias("q_lon"),
    )
    sk = F.col("s_suppkey") * 31 + 7
    sup = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("p_id"),
        C.derived_lat(sk).alias("p_lat"),
        C.derived_lon(sk).alias("p_lon"),
    )
    nn = knn_join(cust, sup, k=1, n_points_hint=table_rows(sf_dir, "supplier"))
    return (
        nn.groupBy(F.col("p_id").alias("s_suppkey"))
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.max("dist_m"), 0).cast("double").alias("max_dist0"),
        )
        .orderBy("s_suppkey")
    )



@register(
    "polygon_density_customers",
    f"""
WITH ed AS (
  SELECT poly_id,
         cast(round(x1 * 1000000) as bigint) AS xa,
         cast(round(y1 * 1000000) as bigint) AS ya,
         cast(round(x2 * 1000000) as bigint) AS xb,
         cast(round(y2 * 1000000) as bigint) AS yb
  FROM {_edges_values_sql()}
), geo AS (
  SELECT poly_id, cast(count(*) as bigint) AS n_edges,
         cast(sum(xa * yb - xb * ya) as bigint) AS area2,
         cast(sum(cast(xa * yb - xb * ya as hugeint) * (xa + xb)) as decimal(38,0)) AS cx_num,
         cast(sum(cast(xa * yb - xb * ya as hugeint) * (ya + yb)) as decimal(38,0)) AS cy_num
  FROM ed GROUP BY poly_id
), pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), m AS ({_pip_matches_sql('pts', 'c_custkey')}
), cnt AS (
  SELECT poly_id, cast(count(*) as bigint) AS n_inside FROM m GROUP BY poly_id
)
SELECT g.poly_id, g.n_edges, g.area2,
       cast(g.cx_num as double) AS cx_num, cast(g.cy_num as double) AS cy_num,
       coalesce(c.n_inside, 0) AS n_inside,
       cast(g.cx_num as double) / (3.0 * cast(g.area2 as double) * 1000000.0) AS cx_deg,
       cast(g.cy_num as double) / (3.0 * cast(g.area2 as double) * 1000000.0) AS cy_deg,
       cast(coalesce(c.n_inside, 0) as double) * 2000000000000.0
         / abs(cast(g.area2 as double)) AS density_per_deg2
FROM geo g LEFT JOIN cnt c ON c.poly_id = g.poly_id
""",
)
def polygon_density_customers(spark, sf_dir):
    """Choropleth geometry: exact shoelace area + centroid of each
    oracle polygon (ST_Area / ST_Centroid) joined with the PIP
    population count → point density per deg². Vertices snap to
    integer microdegrees (they are 6-dp literals, so the snap is
    exact), making the signed doubled area Σ(x₁y₂ − x₂y₁) and the
    centroid numerators Σcross·(x₁+x₂) pure integer sums — holes work
    for free because the inner ring is wound opposite (its signed area
    subtracts). Only the final centroid-degrees and density columns
    are doubles, each ONE fixed-form expression of exact integers.
    Shape: the polygon side is a ~40-row literal table (one tiny agg);
    the density join reuses the broadcast cell-cover PIP path — the
    only scan of a big table is the point side."""
    from gipspark.operators.distance import _polygon_edges

    dec = "decimal(38,0)"
    ed = spark.createDataFrame(
        [(pid, x1, y1, x2, y2) for pid, _, x1, y1, x2, y2 in _polygon_edges(ORACLE_POLYGONS)],
        "poly_id int, x1 double, y1 double, x2 double, y2 double",
    ).select(
        "poly_id",
        F.round(F.col("x1") * 1000000).cast("long").alias("xa"),
        F.round(F.col("y1") * 1000000).cast("long").alias("ya"),
        F.round(F.col("x2") * 1000000).cast("long").alias("xb"),
        F.round(F.col("y2") * 1000000).cast("long").alias("yb"),
    )
    cross = F.col("xa") * F.col("yb") - F.col("xb") * F.col("ya")
    geo = ed.groupBy("poly_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(cross).cast("long").alias("area2"),
        F.sum(cross.cast(dec) * (F.col("xa") + F.col("xb"))).cast(dec).alias("cx_num"),
        F.sum(cross.cast(dec) * (F.col("ya") + F.col("yb"))).cast(dec).alias("cy_num"),
    )
    cnt = (
        pip_join(_cust_pts(spark, sf_dir), ORACLE_POLYGONS, level=7)
        .groupBy("poly_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inside"))
    )
    j = geo.join(cnt, "poly_id", "left").select(
        "poly_id",
        "n_edges",
        "area2",
        "cx_num",
        "cy_num",
        F.coalesce("n_inside", F.lit(0).cast("long")).alias("n_inside"),
    )
    denom = F.lit(3.0) * F.col("area2").cast("double") * F.lit(1000000.0)
    return j.select(
        "poly_id",
        "n_edges",
        "area2",
        F.col("cx_num").cast("double").alias("cx_num"),
        F.col("cy_num").cast("double").alias("cy_num"),
        "n_inside",
        (F.col("cx_num").cast("double") / denom).alias("cx_deg"),
        (F.col("cy_num").cast("double") / denom).alias("cy_deg"),
        (
            F.col("n_inside").cast("double")
            * F.lit(2000000000000.0)
            / F.abs(F.col("area2").cast("double"))
        ).alias("density_per_deg2"),
    )



@register(
    "toponym_resolution_docs",
    f"""
WITH gaz AS (
  SELECT name, place_id,
         (cast(key as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} AS glat_t,
         (cast(key as bigint) * {C.LON_MUL}) % {C.LON_MOD} AS glon_t
  FROM (VALUES {_GAZ_VALUES_SQL}) AS g(name, place_id, key)
), mentions AS (
  SELECT DISTINCT doc_id, w AS name FROM (
    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
    FROM documents
  ) WHERE w IN ({", ".join(f"'{n}'" for n in _GAZ_NAMES)})
), cand AS (
  SELECT m.doc_id, m.name, g.place_id,
         ((cast(m.doc_id as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - g.glat_t) AS dy,
         ((cast(m.doc_id as bigint) * {C.LON_MUL}) % {C.LON_MOD} - g.glon_t) AS dx
  FROM mentions m JOIN gaz g ON g.name = m.name
), scored AS (
  SELECT doc_id, name, place_id, dy * dy + dx * dx AS d2_ticks,
         row_number() OVER (PARTITION BY doc_id, name
                            ORDER BY dy * dy + dx * dx, place_id) AS rn
  FROM cand
)
SELECT name, place_id, cast(count(*) as bigint) AS n_docs,
       cast(sum(d2_ticks) as bigint) AS sum_d2_ticks
FROM scored WHERE rn = 1 GROUP BY name, place_id
""",
)
def toponym_resolution_docs(spark, sf_dir):
    """Toponym resolution — the geotagger's entity-disambiguation step:
    a mention of an ambiguous place name resolves to the gazetteer
    sense nearest the document's own geotag (planar millideg-tick d²,
    place_id tie-break). The gazetteer is a 24-row broadcast literal
    (8 names × 3 senses, coordinates from the corpus LCG so every
    quantity is BIGINT — no doubles anywhere); mentions are the
    per-doc DISTINCT vocabulary hits, so the candidate join emits ≤3
    rows per mention and the argmin is a ≤3-row window. Scale shape:
    one token explode + distinct (the same linear pass every text op
    pays), a broadcast-hash join against a dim that never grows with
    the corpus, and one final hash agg — no shuffle keyed on anything
    wider than (doc_id, name)."""
    gaz = spark.createDataFrame(
        [(n, pid, key) for n, pid, key in _GAZ], "name string, place_id int, key long"
    ).select(
        "name", "place_id",
        ((F.col("key") * C.LAT_MUL) % C.LAT_MOD).alias("glat_t"),
        ((F.col("key") * C.LON_MUL) % C.LON_MOD).alias("glon_t"),
    )
    d = load(spark, sf_dir, "documents")
    mentions = (
        d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("name"))
        .filter(F.col("name").isin(*_GAZ_NAMES))
        .distinct()
    )
    cand = mentions.join(F.broadcast(gaz), "name").select(
        "doc_id", "name", "place_id",
        ((F.col("doc_id").cast("long") * C.LAT_MUL) % C.LAT_MOD - F.col("glat_t")).alias("dy"),
        ((F.col("doc_id").cast("long") * C.LON_MUL) % C.LON_MOD - F.col("glon_t")).alias("dx"),
    )
    w = Window.partitionBy("doc_id", "name").orderBy(
        (F.col("dy") * F.col("dy") + F.col("dx") * F.col("dx")).asc(), F.col("place_id").asc()
    )
    best = (
        cand.withColumn("d2_ticks", F.col("dy") * F.col("dy") + F.col("dx") * F.col("dx"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return best.groupBy("name", "place_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("d2_ticks").cast("long").alias("sum_d2_ticks"),
    )



@register(
    "bbox_union_area",
    f"""
WITH bx AS (
  SELECT ck, xc - hw AS x0, xc + hw AS x1, yc - hh AS y0, yc + hh AS y1
  FROM ({_union_boxes_sql()})
),
xs AS (
  SELECT x, cast(row_number() OVER (ORDER BY x) as bigint) AS rn
  FROM (SELECT DISTINCT x FROM (SELECT x0 AS x FROM bx UNION SELECT x1 FROM bx))
),
slabs AS (
  SELECT a.rn AS si, a.x AS sx0, b.x AS sx1
  FROM xs a JOIN xs b ON b.rn = a.rn + 1
),
cov AS (
  SELECT s.si, s.sx1 - s.sx0 AS width, b.y0, b.y1
  FROM bx b
  JOIN xs r0 ON r0.x = b.x0
  JOIN xs r1 ON r1.x = b.x1
  JOIN slabs s ON s.si >= r0.rn AND s.si < r1.rn
),
seg AS (
  SELECT si, width, y0, y1,
         CASE WHEN y0 > coalesce(max(y1) OVER (
                PARTITION BY si ORDER BY y0, y1
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), y0 - 1)
              THEN 1 ELSE 0 END AS newseg
  FROM cov
),
segid AS (
  SELECT si, width, y0, y1,
         sum(newseg) OVER (PARTITION BY si ORDER BY y0, y1
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM seg
),
merged AS (
  SELECT si, any_value(width) AS width, max(y1) - min(y0) AS ylen
  FROM segid GROUP BY si, sid
)
SELECT cast((SELECT count(*) FROM bx) as bigint) AS n_boxes,
       cast((SELECT count(*) FROM slabs) as bigint) AS n_slabs,
       cast(sum(width * ylen) as bigint) AS union_area,
       cast((SELECT sum((x1 - x0) * (y1 - y0)) FROM bx) as bigint) AS sum_area
FROM merged
""",
)
def bbox_union_area(spark, sf_dir):
    """Area of the union of axis-aligned boxes (coverage footprint of a
    tile/crawl-extent set — the classic sweep-line measure problem) as
    pure DataFrame ops: coordinate-compress the x endpoints into slabs
    (global_row_number — the two-phase rank, no single-partition
    window), equi-join each box to its start/end slab rank and explode
    the covered slab range (sequence — fully equi, no range predicate
    ⇒ no BNLJ), then merge y-intervals per slab with the gap-flag +
    running-segment-id window and sum width×merged-length. Integer
    hectometre-degree lattice end to end; the DuckDB oracle runs the
    textually identical sweep. Shuffles: one distinct, one rank, one
    slab partition — each keyed finer than the box count, so the plan
    scales with slab density, not box pairs."""
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 11 == 1)
        .select(
            F.col("c_custkey").alias("ck"),
            F.floor(((F.col("c_custkey").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD)) / 100)
            .cast("long")
            .alias("yc"),
            F.floor(((F.col("c_custkey").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD)) / 100)
            .cast("long")
            .alias("xc"),
            (5 + F.col("c_custkey") % 40).cast("long").alias("hw"),
            (5 + (F.col("c_custkey") * 7) % 40).cast("long").alias("hh"),
        )
    )
    bx = cust.select(
        "ck",
        (F.col("xc") - F.col("hw")).alias("x0"),
        (F.col("xc") + F.col("hw")).alias("x1"),
        (F.col("yc") - F.col("hh")).alias("y0"),
        (F.col("yc") + F.col("hh")).alias("y1"),
    )
    from gipspark.operators.ranking import global_row_number

    xs = global_row_number(
        bx.select(F.col("x0").alias("x")).union(bx.select("x1")).distinct(),
        ["x"],
        out="rn",
    )
    slabs = xs.alias("a").join(
        xs.alias("b"), F.col("b.rn") == F.col("a.rn") + 1
    ).select(
        F.col("a.rn").alias("si"),
        F.col("a.x").alias("sx0"),
        F.col("b.x").alias("sx1"),
    )
    ranked = (
        bx.join(xs.select(F.col("x").alias("x0"), F.col("rn").alias("r0")), "x0")
        .join(xs.select(F.col("x").alias("x1"), F.col("rn").alias("r1")), "x1")
        .select("ck", "y0", "y1", F.explode(F.sequence("r0", (F.col("r1") - 1))).alias("si"))
    )
    cov = ranked.join(slabs, "si").select(
        "si", (F.col("sx1") - F.col("sx0")).alias("width"), "y0", "y1"
    )
    w_prev = (
        Window.partitionBy("si")
        .orderBy("y0", "y1")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("si")
        .orderBy("y0", "y1")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = cov.withColumn(
        "newseg",
        F.when(
            F.col("y0") > F.coalesce(F.max("y1").over(w_prev), F.col("y0") - 1), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("sid", F.sum("newseg").over(w_run))
    merged = seg.groupBy("si", "sid").agg(
        F.first("width").alias("width"), (F.max("y1") - F.min("y0")).alias("ylen")
    )
    n_boxes = bx.agg(F.count("*").cast("long").alias("n_boxes"))
    n_slabs = slabs.agg(F.count("*").cast("long").alias("n_slabs"))
    sum_area = bx.agg(
        F.sum((F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0")))
        .cast("long")
        .alias("sum_area")
    )
    total = merged.agg(F.sum(F.col("width") * F.col("ylen")).cast("long").alias("union_area"))
    return (
        total.crossJoin(F.broadcast(n_boxes))
        .crossJoin(F.broadcast(n_slabs))
        .crossJoin(F.broadcast(sum_area))
        .select("n_boxes", "n_slabs", "union_area", "sum_area")
    )



@register(
    "rknn_influence_suppliers",
    f"""
WITH q AS (
  SELECT c_custkey AS q_id,
         {C.DERIVED_LAT_SQL.format(k='c_custkey')} AS q_lat,
         {C.DERIVED_LON_SQL.format(k='c_custkey')} AS q_lon
  FROM customer
), p AS (
  SELECT s_suppkey AS p_id,
         {C.DERIVED_LAT_SQL.format(k='s_suppkey * 211 + 7')} AS p_lat,
         {C.DERIVED_LON_SQL.format(k='s_suppkey * 211 + 7')} AS p_lon
  FROM supplier
), d AS (
  SELECT q.q_id, p.p_id,
         row_number() OVER (PARTITION BY q.q_id ORDER BY {_RKNN_HAV}, p.p_id) AS rn
  FROM q, p
), nn AS (SELECT q_id, p_id FROM d WHERE rn = 1),
cnt AS (SELECT p_id, cast(count(*) as bigint) AS n_influenced FROM nn GROUP BY p_id),
tot AS (SELECT cast(count(*) as bigint) AS n_q FROM q)
SELECT p.p_id AS s_suppkey,
       cast(coalesce(cnt.n_influenced, 0) as bigint) AS n_influenced,
       cast(coalesce(cnt.n_influenced, 0) * 1000000 // tot.n_q as bigint) AS share_q
FROM p LEFT JOIN cnt ON cnt.p_id = p.p_id, tot
""",
)
def rknn_influence_suppliers(spark, sf_dir):
    """Bichromatic reverse nearest neighbor (RkNN, k=1): for every
    supplier, how many customers have IT as their closest supplier —
    the facility-influence / cannibalization query (the hard Voronoi
    cell cardinality, where catchment_counts_suppliers assigns and
    this one inverts the assignment to the facility side, zeros
    included). The forward 1-NN comes from the exact cell-prefiltered
    knn_join (k-ring guarantee loop — never the |C|×|S| product the
    oracle brute-forces); influence is one count per facility plus a
    left join back to the supplier dim so uncontested-zero facilities
    survive. Ties break (dist, supplier id) — knn_join's own law."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("q_id"),
        C.derived_lat(F.col("c_custkey")).alias("q_lat"),
        C.derived_lon(F.col("c_custkey")).alias("q_lon"),
    )
    pk = F.col("s_suppkey") * 211 + 7
    sup = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("p_id"),
        C.derived_lat(pk).alias("p_lat"),
        C.derived_lon(pk).alias("p_lon"),
    )
    nn = knn_join(cust, sup, k=1, n_points_hint=table_rows(sf_dir, "supplier")).select(
        "q_id", "p_id"
    )
    cnt = nn.groupBy("p_id").agg(F.count("*").cast("long").alias("n_influenced"))
    tot = cust.agg(F.count("*").cast("long").alias("n_q"))
    return (
        sup.select("p_id")
        .join(cnt, "p_id", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("p_id").alias("s_suppkey"),
            F.coalesce(F.col("n_influenced"), F.lit(0)).cast("long").alias("n_influenced"),
            F.expr("(coalesce(n_influenced, 0) * 1000000) div n_q").cast("long").alias("share_q"),
        )
    )



@register(
    "pip_buffer_join_customers",
    f"""
WITH pts AS (
  SELECT c_custkey,
         ((cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD}) * 1000
           - 60000000 AS py,
         ((cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD}) * 1000
           - 180000000 AS px
  FROM customer
), e AS (
  SELECT poly_id,
         cast(round(x1 * 1000000) as bigint) AS ax,
         cast(round(y1 * 1000000) as bigint) AS ay,
         cast(round(x2 * 1000000) as bigint) AS bx,
         cast(round(y2 * 1000000) as bigint) AS byy
  FROM {_edges_values_sql()}
), pe AS (
  SELECT p.c_custkey, e.poly_id,
         CASE WHEN ((e.ay > p.py) != (e.byy > p.py)) AND (
                CASE WHEN e.byy > e.ay
                     THEN (cast(p.px as HUGEINT) - e.ax) * (e.byy - e.ay)
                          < (cast(e.bx as HUGEINT) - e.ax) * (p.py - e.ay)
                     ELSE (cast(p.px as HUGEINT) - e.ax) * (e.byy - e.ay)
                          > (cast(e.bx as HUGEINT) - e.ax) * (p.py - e.ay) END)
              THEN 1 ELSE 0 END AS crossing,
         CASE WHEN (
           CASE
             WHEN (cast(p.px as HUGEINT) - e.ax) * (e.bx - e.ax)
                  + (cast(p.py as HUGEINT) - e.ay) * (e.byy - e.ay) <= 0
             THEN (cast(p.px as HUGEINT) - e.ax) * (p.px - e.ax)
                  + (cast(p.py as HUGEINT) - e.ay) * (p.py - e.ay)
                  <= {_BUF_D_MICRO}::HUGEINT * {_BUF_D_MICRO}
             WHEN (cast(p.px as HUGEINT) - e.ax) * (e.bx - e.ax)
                  + (cast(p.py as HUGEINT) - e.ay) * (e.byy - e.ay)
                  >= (cast(e.bx as HUGEINT) - e.ax) * (e.bx - e.ax)
                     + (cast(e.byy as HUGEINT) - e.ay) * (e.byy - e.ay)
             THEN (cast(p.px as HUGEINT) - e.bx) * (p.px - e.bx)
                  + (cast(p.py as HUGEINT) - e.byy) * (p.py - e.byy)
                  <= {_BUF_D_MICRO}::HUGEINT * {_BUF_D_MICRO}
             ELSE ((cast(e.bx as HUGEINT) - e.ax) * (p.py - e.ay)
                   - (cast(e.byy as HUGEINT) - e.ay) * (p.px - e.ax))
                  * ((cast(e.bx as HUGEINT) - e.ax) * (p.py - e.ay)
                     - (cast(e.byy as HUGEINT) - e.ay) * (p.px - e.ax))
                  <= {_BUF_D_MICRO}::HUGEINT * {_BUF_D_MICRO}
                     * ((cast(e.bx as HUGEINT) - e.ax) * (e.bx - e.ax)
                        + (cast(e.byy as HUGEINT) - e.ay) * (e.byy - e.ay))
           END)
              THEN 1 ELSE 0 END AS near
  FROM pts p, e
), agg AS (
  SELECT c_custkey, poly_id,
         cast(sum(crossing) % 2 as int) AS inside, max(near) AS near
  FROM pe GROUP BY c_custkey, poly_id
)
SELECT c_custkey, poly_id,
       CASE WHEN inside = 1 THEN 'inside' ELSE 'buffer' END AS zone
FROM agg WHERE inside = 1 OR near = 1
ORDER BY c_custkey, poly_id
""",
)
def pip_buffer_join_customers(spark, sf_dir):
    """Polygon BUFFER join: customers inside each polygon OR within
    2 degrees of its boundary — the 'service area with fringe' query a
    geofencing pipeline runs when the fence has a tolerance band
    (pip_join is the d=0 special case; within_radius_join buffers a
    POINT set — this buffers polygon GEOMETRY). Everything is exact
    integer micro-degree arithmetic: the even-odd crossing rule is the
    division-free cross-multiplied form (sign-flipped on descending
    edges), and point-to-segment distance is the clamped three-case
    comparison — endpoint circles via |p-v|^2 <= D^2, the
    perpendicular band via cross^2 <= D^2*len^2 (128-bit, the
    nearest_edge discipline). Scale shape: a broadcast bbox(+D)
    prefilter bounds candidate pairs, then one 40-edge equi-join
    refine + parity/any aggregate per pair — the oracle replays the
    same integer predicates over the inlined edge table."""
    d2 = f"cast({_BUF_D_MICRO} as decimal(38,0)) * {_BUF_D_MICRO}"
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        (
            (F.col("c_custkey").cast("long") * C.LAT_MUL) % C.LAT_MOD * 1000
            - 60000000
        ).alias("py"),
        (
            (F.col("c_custkey").cast("long") * C.LON_MUL) % C.LON_MOD * 1000
            - 180000000
        ).alias("px"),
    )
    erows = []
    for p in ORACLE_POLYGONS:
        for ring in p["rings"]:
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                erows.append((p["poly_id"], x1, y1, x2, y2))
    edges = spark.createDataFrame(
        erows, "poly_id int, x1 double, y1 double, x2 double, y2 double"
    ).select(
        "poly_id",
        F.round(F.col("x1") * 1e6).cast("long").alias("ax"),
        F.round(F.col("y1") * 1e6).cast("long").alias("ay"),
        F.round(F.col("x2") * 1e6).cast("long").alias("bx"),
        F.round(F.col("y2") * 1e6).cast("long").alias("byy"),
    )
    bbox = edges.groupBy("poly_id").agg(
        (F.least(F.min("ax"), F.min("bx")) - _BUF_D_MICRO).alias("minx"),
        (F.greatest(F.max("ax"), F.max("bx")) + _BUF_D_MICRO).alias("maxx"),
        (F.least(F.min("ay"), F.min("byy")) - _BUF_D_MICRO).alias("miny"),
        (F.greatest(F.max("ay"), F.max("byy")) + _BUF_D_MICRO).alias("maxy"),
    )
    cand = cust.join(
        F.broadcast(bbox),
        (F.col("px") >= F.col("minx"))
        & (F.col("px") <= F.col("maxx"))
        & (F.col("py") >= F.col("miny"))
        & (F.col("py") <= F.col("maxy")),
    ).select("c_custkey", "px", "py", "poly_id")
    dec = "decimal(38,0)"
    pe = cand.join(F.broadcast(edges), "poly_id").select(
        "c_custkey",
        "poly_id",
        F.expr(
            f"""CASE WHEN ((ay > py) != (byy > py)) AND (
                  CASE WHEN byy > ay
                       THEN (cast(px as {dec}) - ax) * (byy - ay)
                            < (cast(bx as {dec}) - ax) * (py - ay)
                       ELSE (cast(px as {dec}) - ax) * (byy - ay)
                            > (cast(bx as {dec}) - ax) * (py - ay) END)
                THEN 1 ELSE 0 END"""
        ).alias("crossing"),
        F.expr(
            f"""CASE WHEN (
              CASE
                WHEN (cast(px as {dec}) - ax) * (bx - ax)
                     + (cast(py as {dec}) - ay) * (byy - ay) <= 0
                THEN (cast(px as {dec}) - ax) * (px - ax)
                     + (cast(py as {dec}) - ay) * (py - ay) <= {d2}
                WHEN (cast(px as {dec}) - ax) * (bx - ax)
                     + (cast(py as {dec}) - ay) * (byy - ay)
                     >= (cast(bx as {dec}) - ax) * (bx - ax)
                        + (cast(byy as {dec}) - ay) * (byy - ay)
                THEN (cast(px as {dec}) - bx) * (px - bx)
                     + (cast(py as {dec}) - byy) * (py - byy) <= {d2}
                ELSE ((cast(bx as {dec}) - ax) * (py - ay)
                      - (cast(byy as {dec}) - ay) * (px - ax))
                     * ((cast(bx as {dec}) - ax) * (py - ay)
                        - (cast(byy as {dec}) - ay) * (px - ax))
                     <= {d2}
                        * ((cast(bx as {dec}) - ax) * (bx - ax)
                           + (cast(byy as {dec}) - ay) * (byy - ay))
              END)
                THEN 1 ELSE 0 END"""
        ).alias("near"),
    )
    agg = pe.groupBy("c_custkey", "poly_id").agg(
        (F.sum("crossing") % 2).cast("int").alias("inside"),
        F.max("near").alias("near"),
    )
    return (
        agg.filter((F.col("inside") == 1) | (F.col("near") == 1))
        .select(
            "c_custkey",
            "poly_id",
            F.when(F.col("inside") == 1, "inside").otherwise("buffer").alias("zone"),
        )
        .orderBy("c_custkey", "poly_id")
    )



@register("snap_ambiguity_customers", _snap_ambiguity_oracle())
def snap_ambiguity_customers(spark, sf_dir):
    """Map-matching CONFIDENCE: for every point, the d² gap between its
    best and second-best candidate edges — the ratio real matchers
    threshold on before trusting a snap (ambiguity_micro → 10⁶ means
    two edges are equally close: an intersection, a divided highway, a
    digitizing artifact; snap_to_edge_customers alone can't see it).
    Per-edge distances use the IDENTICAL textual projection formula as
    the snap family (literal repr floats, same clamp/round), built as
    one literal candidate ARRAY exploded per row — no join at all —
    then one window top-2 per point. Scale shape: narrow 40× per-row
    fan-out over the edge dim + one point-partitioned window; for
    10⁴+-edge layers the grid-indexed prefilter path bounds the same
    fan-out."""
    from gipspark.operators.distance import _polygon_edges

    pts = _cust_pts(spark, sf_dir)
    elems = ", ".join(
        f"named_struct('poly_id', {pid}, 'edge_idx', {i}, "
        f"'ticks', {_snap_tick_expr('lon', 'lat', x1, y1, x2, y2)})"
        for pid, i, x1, y1, x2, y2 in _polygon_edges(ORACLE_POLYGONS)
    )
    cand = pts.select(
        "c_custkey", F.explode(F.expr(f"array({elems})")).alias("c")
    ).select(
        "c_custkey",
        F.col("c.poly_id").alias("poly_id"),
        F.col("c.edge_idx").alias("edge_idx"),
        F.col("c.ticks").alias("ticks"),
    )
    w = Window.partitionBy("c_custkey").orderBy("ticks", "poly_id", "edge_idx")
    ranked = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    a = ranked.filter(F.col("rn") == 1).select(
        "c_custkey",
        F.col("poly_id").cast("long").alias("best_poly"),
        F.col("edge_idx").cast("long").alias("best_edge"),
        F.col("ticks").alias("best_ticks"),
    )
    b = ranked.filter(F.col("rn") == 2).select(
        "c_custkey", F.col("ticks").alias("second_ticks")
    )
    return (
        a.join(b, "c_custkey")
        .select(
            "c_custkey",
            "best_poly",
            "best_edge",
            "best_ticks",
            "second_ticks",
            (F.col("second_ticks") - F.col("best_ticks")).cast("long").alias("gap_ticks"),
            F.expr(
                "cast(best_ticks * 1000000 div greatest(second_ticks, 1) as bigint)"
            ).alias("ambiguity_micro"),
        )
        .orderBy("c_custkey")
    )



@register(
    "idw_loocv_probes",
    f"""
WITH pts AS (
  SELECT c_custkey AS id, {C.DERIVED_LAT_SQL.format(k='c_custkey')} AS lat,
         {C.DERIVED_LON_SQL.format(k='c_custkey')} AS lon,
         cast(round(c_acctbal * 100) as bigint) AS vc
  FROM customer
), held AS (SELECT id, lat, lon, vc FROM pts WHERE id < 20),
cand AS (
  SELECT h.id AS probe_id, h.vc AS actual_c,
         cast(round(1000000.0 / (1.0 + ((p.lon - h.lon) * (p.lon - h.lon)
                                       + (p.lat - h.lat) * (p.lat - h.lat))), 0)
              as bigint) AS w,
         p.vc
  FROM held h JOIN pts p ON p.id != h.id
  WHERE (p.lon - h.lon) * (p.lon - h.lon) + (p.lat - h.lat) * (p.lat - h.lat) <= 400.0
)
SELECT probe_id, cast(count(*) as bigint) AS n_pts,
       cast(sum(w) as bigint) AS sum_w,
       any_value(actual_c) AS actual_c,
       cast(sum(w * vc) as double) / cast(sum(w) as double) AS pred_c,
       abs(cast(sum(w * vc) as double) / cast(sum(w) as double)
           - cast(any_value(actual_c) as double)) AS abs_err_c
FROM cand GROUP BY probe_id ORDER BY probe_id
""",
)
def idw_loocv_probes(spark, sf_dir):
    """Leave-one-out cross-validation of the IDW interpolator — the
    geostatistical honesty check that turns idw_interpolate from 'a
    surface' into 'a surface with a measured error bar': each of 20
    held-out customers is predicted from every OTHER point within the
    radius using the same integer-tick weights (w = round(10⁶/(1+d²))
    summed exactly; one double ratio at the end), and the absolute
    error against the true balance is reported per probe — the number
    that chooses the IDW power/radius (and says when to graduate to
    kriging via the semivariogram op). Scale shape: 20-probe
    broadcast × radius-gated scan + one hash agg (cosine_topk
    shape)."""
    cu = load(spark, sf_dir, "customer")
    pts = cu.select(
        F.col("c_custkey").alias("id"),
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("vc"),
    )
    held = pts.filter(F.col("id") < 20).select(
        F.col("id").alias("probe_id"),
        F.col("lat").alias("hlat"),
        F.col("lon").alias("hlon"),
        F.col("vc").alias("actual_c"),
    )
    d2 = (F.col("lon") - F.col("hlon")) * (F.col("lon") - F.col("hlon")) + (
        F.col("lat") - F.col("hlat")
    ) * (F.col("lat") - F.col("hlat"))
    cand = (
        F.broadcast(held)
        .join(pts, F.col("id") != F.col("probe_id"))
        .filter(d2 <= 400.0)
        .select(
            "probe_id",
            "actual_c",
            F.round(1000000.0 / (1.0 + d2), 0).cast("long").alias("w"),
            "vc",
        )
    )
    pred = F.sum(F.col("w") * F.col("vc")).cast("double") / F.sum("w").cast("double")
    return (
        cand.groupBy("probe_id")
        .agg(
            F.count("*").cast("long").alias("n_pts"),
            F.sum("w").cast("long").alias("sum_w"),
            F.expr("any_value(actual_c)").alias("actual_c"),
            pred.alias("pred_c"),
            F.abs(pred - F.expr("any_value(actual_c)").cast("double")).alias(
                "abs_err_c"
            ),
        )
        .orderBy("probe_id")
    )



@register("spatial_join_card_estimate", _sjce_oracle_sql())
def spatial_join_card_estimate(spark, sf_dir):
    """Spatial-join cardinality estimation audit — the optimizer-grade
    number behind every PIP plan choice: per polygon, the bbox-filter
    candidate count (the estimate a planner derives from min/max
    column statistics — literally what parquet zone maps give for
    free) against the TRUE polygon match count, with the selectivity
    ratio in micro. A star-shaped or holed polygon's low selectivity
    says the bbox overestimates wildly and the cell-cover prefilter
    (pip_join's actual strategy) is paying for itself;
    join_card_estimate audits the equi-join estimator — this audits
    the SPATIAL one. Bboxes are import-time literals from the same
    frozen rings both engines test. 5-row bbox dim broadcast + the
    pip machinery."""
    from gipspark.operators.pip import pip_join

    pts = _cust_pts(spark, sf_dir)
    bb = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(pid).alias("poly_id"),
                        F.lit(x0).alias("x0"),
                        F.lit(x1).alias("x1"),
                        F.lit(y0).alias("y0"),
                        F.lit(y1).alias("y1"),
                    )
                    for pid, x0, x1, y0, y1 in _poly_bboxes()
                ]
            )
        ).alias("b")
    ).select("b.*")
    est = (
        pts.crossJoin(F.broadcast(bb))
        .filter(
            F.col("lon").between(F.col("x0"), F.col("x1"))
            & F.col("lat").between(F.col("y0"), F.col("y1"))
        )
        .groupBy("poly_id")
        .agg(F.count("*").cast("long").alias("bbox_candidates"))
    )
    act = (
        pip_join(pts, ORACLE_POLYGONS, level=7)
        .groupBy("poly_id")
        .agg(F.count("*").cast("long").alias("n_matches"))
    )
    return (
        est.join(act, "poly_id", "left")
        .select(
            "poly_id",
            "bbox_candidates",
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.expr(
                "cast((coalesce(n_matches, 0L) * 1000000) div bbox_candidates"
                " as bigint)"
            ).alias("selectivity_q"),
        )
        .orderBy("poly_id")
    )



@register(
    "knn_tie_fragility",
    f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
pairs AS (
  SELECT q.vec_id AS qid, e.vec_id AS nid,
         {_DOT.format(a='q.embedding', b='e.embedding')} AS dot
  FROM q JOIN embeddings e ON e.vec_id != q.vec_id
), rk AS (
  SELECT qid, nid, dot,
         row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid ASC) AS r
  FROM pairs
), cut AS (SELECT qid, dot AS cut_dot FROM rk WHERE r = 3)
SELECT rk.qid AS vec_id,
       cast(count(CASE WHEN abs(rk.dot - c.cut_dot) < 1e-6 AND rk.r != 3 THEN 1 END)
            as bigint) AS n_near_cut,
       cast(max(CASE WHEN rk.r = 3 THEN rk.nid END) as bigint) AS rank3_id,
       CASE WHEN count(CASE WHEN abs(rk.dot - c.cut_dot) < 1e-6 AND rk.r != 3
                       THEN 1 END) > 0 THEN 1 ELSE 0 END AS fragile
FROM rk JOIN cut c ON rk.qid = c.qid
GROUP BY rk.qid ORDER BY vec_id
""",
)
def knn_tie_fragility(spark, sf_dir):
    """Top-k boundary fragility: for 20 probes, how many OTHER
    neighbors score within 10⁻⁶ of the rank-3 cutoff dot product —
    the reproducibility audit for float rankings that explains why
    'the same query returns different neighbors on the new cluster':
    a fragile probe's top-3 membership is decided below the noise
    floor of any reassociated float sum, so index comparisons
    (int8_recall, prefix_dim, corpus_growth) must treat its
    overlap-count differences as ties, not regressions. This engine's
    folds are order-pinned so the audit itself is bit-stable — it
    measures the DATA's fragility, not the engine's. Probe broadcast
    × corpus + one rank window + one cutoff join."""
    from gipspark.functions.vectors import dot_product

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    pairs = (
        F.broadcast(q)
        .join(
            emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ne")),
            F.col("nid") != F.col("qid"),
        )
        .select("qid", "nid", dot_product(F.col("qe"), F.col("ne")).alias("dot"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("nid"))
    rk = pairs.withColumn("r", F.row_number().over(w))
    cut = rk.filter(F.col("r") == 3).select("qid", F.col("dot").alias("cut_dot"))
    near = (F.abs(F.col("dot") - F.col("cut_dot")) < 1e-6) & (F.col("r") != 3)
    return (
        rk.join(cut, "qid")
        .groupBy(F.col("qid").alias("vec_id"))
        .agg(
            F.count(F.when(near, 1)).cast("long").alias("n_near_cut"),
            F.max(F.when(F.col("r") == 3, F.col("nid"))).cast("long").alias("rank3_id"),
            F.when(F.count(F.when(near, 1)) > 0, 1).otherwise(0).alias("fragile"),
        )
        .orderBy("vec_id")
    )



@register(
    "spatial_cloaking_levels",
    f"""
WITH pts AS (
  SELECT user_id, {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), lv AS (
  SELECT cast(s as double) AS cell, i AS lvl
  FROM (VALUES {", ".join(f"({s}, {i})" for i, s in enumerate(_CLOAK_LEVELS))}) AS s(s, i)
), occ AS (
  SELECT l.cell, l.lvl,
         cast(floor((90.0 - p.lat) / l.cell) as int) AS gy,
         cast(floor((p.lon + 180.0) / l.cell) as int) AS gx,
         cast(count(DISTINCT p.user_id) as bigint) AS k_users
  FROM pts p CROSS JOIN lv l
  GROUP BY l.cell, l.lvl, gy, gx
), per_pt AS (
  SELECT p.user_id, p.lat, p.lon,
         max(CASE WHEN o.k_users >= {_CLOAK_K} THEN o.lvl ELSE -1 END) AS best_lvl
  FROM pts p JOIN lv l ON TRUE
  JOIN occ o ON o.lvl = l.lvl
            AND o.gy = cast(floor((90.0 - p.lat) / l.cell) as int)
            AND o.gx = cast(floor((p.lon + 180.0) / l.cell) as int)
  GROUP BY p.user_id, p.lat, p.lon
)
SELECT cast(best_lvl as int) AS finest_safe_level,
       cast(count(*) as bigint) AS n_fixes,
       cast(count(DISTINCT user_id) as bigint) AS n_users
FROM per_pt GROUP BY best_lvl ORDER BY finest_safe_level
""",
)
def spatial_cloaking_levels(spark, sf_dir):
    """Spatial k-anonymity cloaking census: for every location fix, the
    FINEST grid level ({_CLOAK_LEVELS}° — level index 0 coarsest) at
    which its cell still holds ≥{_CLOAK_K} distinct users — the box a
    location-privacy cloak must blur that fix to before release
    (Gruteser–Grunwald spatial cloaking; k_anonymity_audit is this
    exact question for tabular quasi-identifiers, l_diversity for
    sensitive values). Fixes stuck at level −1 fail even the coarsest
    cell — the rural-user problem that makes naive 'just coarsen'
    anonymization leak exactly the people it should protect most. One
    multi-level occupancy agg (the pyramid pass) + one equi-join back
    per level + a max-reduce; candidate volume is fixes × 4 levels,
    never fixes²."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    lv = spark.createDataFrame(
        [(float(s), i) for i, s in enumerate(_CLOAK_LEVELS)], "cell double, lvl int"
    )
    fanned = pts.crossJoin(F.broadcast(lv)).select(
        "user_id",
        "lat",
        "lon",
        "cell",
        "lvl",
        F.floor((F.lit(90.0) - F.col("lat")) / F.col("cell")).cast("int").alias("gy"),
        F.floor((F.col("lon") + F.lit(180.0)) / F.col("cell")).cast("int").alias("gx"),
    )
    occ = fanned.groupBy("cell", "lvl", "gy", "gx").agg(
        F.countDistinct("user_id").cast("long").alias("k_users")
    )
    per_pt = (
        fanned.join(occ, ["cell", "lvl", "gy", "gx"])
        .groupBy("user_id", "lat", "lon")
        .agg(
            F.max(
                F.when(F.col("k_users") >= _CLOAK_K, F.col("lvl")).otherwise(-1)
            ).alias("best_lvl")
        )
    )
    return (
        per_pt.groupBy(F.col("best_lvl").cast("int").alias("finest_safe_level"))
        .agg(
            F.count("*").cast("long").alias("n_fixes"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("finest_safe_level")
    )



@register(
    "bbox_wkt_nations",
    f"""
WITH pts AS (
  SELECT c_nationkey,
         cast(floor({_LON.format(k='c_custkey')} * 1000000) as bigint) AS xm,
         cast(floor({_LAT.format(k='c_custkey')} * 1000000) as bigint) AS ym
  FROM customer
), env AS (
  SELECT c_nationkey, min(xm) AS x0, min(ym) AS y0, max(xm) AS x1, max(ym) AS y1,
         cast(count(*) as bigint) AS n_pts
  FROM pts GROUP BY c_nationkey
), f AS (
  SELECT *,
    CASE WHEN x0 < 0 THEN '-' ELSE '' END || cast(abs(x0) // 1000000 as varchar) || '.' || lpad(cast(abs(x0) % 1000000 as varchar), 6, '0') AS sx0,
    CASE WHEN y0 < 0 THEN '-' ELSE '' END || cast(abs(y0) // 1000000 as varchar) || '.' || lpad(cast(abs(y0) % 1000000 as varchar), 6, '0') AS sy0,
    CASE WHEN x1 < 0 THEN '-' ELSE '' END || cast(abs(x1) // 1000000 as varchar) || '.' || lpad(cast(abs(x1) % 1000000 as varchar), 6, '0') AS sx1,
    CASE WHEN y1 < 0 THEN '-' ELSE '' END || cast(abs(y1) // 1000000 as varchar) || '.' || lpad(cast(abs(y1) % 1000000 as varchar), 6, '0') AS sy1
  FROM env
)
SELECT cast(c_nationkey as bigint) AS nationkey, n_pts,
       'POLYGON((' || sx0 || ' ' || sy0 || ',' || sx1 || ' ' || sy0 || ','
                   || sx1 || ' ' || sy1 || ',' || sx0 || ' ' || sy1 || ','
                   || sx0 || ' ' || sy0 || '))' AS wkt
FROM f ORDER BY nationkey
""",
)
def bbox_wkt_nations(spark, sf_dir):
    """WKT envelope writer (r5): per-nation bounding box of the derived
    customer points emitted as an OGC ``POLYGON`` string — the interop
    surface every GIS consumer (PostGIS, GDAL, Shapely, BigQuery GEO)
    reads. The serialization itself is the thing under test, so the
    WKT STRING is an output column and the driver's value hash proves
    BYTE parity: coordinates go through integer micro-degrees
    (floor(deg·1e6)) and are formatted by pure integer div/mod +
    lpad — never %f, whose half-even-vs-half-up tie handling differs
    between Java's Formatter and C printf. Ring follows the WKT
    closed-ring convention (first vertex repeated), CCW from the
    lower-left. Scale shape: one hash agg (envelope) per nation + a
    string projection — dim-bounded output."""
    pts = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(C.derived_lon(F.col("c_custkey")) * 1000000).cast("long").alias("xm"),
        F.floor(C.derived_lat(F.col("c_custkey")) * 1000000).cast("long").alias("ym"),
    )
    env = pts.groupBy("c_nationkey").agg(
        F.min("xm").alias("x0"),
        F.min("ym").alias("y0"),
        F.max("xm").alias("x1"),
        F.max("ym").alias("y1"),
        F.count("*").cast("long").alias("n_pts"),
    )

    def fmt(name: str):
        # pure integer formatting: sign + div + '.' + zero-padded mod
        return F.concat(
            F.when(F.col(name) < 0, F.lit("-")).otherwise(F.lit("")),
            F.expr(f"cast(abs({name}) div 1000000 as string)"),
            F.lit("."),
            F.lpad(F.expr(f"cast(abs({name}) % 1000000 as string)"), 6, "0"),
        )

    sx0, sy0, sx1, sy1 = (fmt(c) for c in ("x0", "y0", "x1", "y1"))
    wkt = F.concat(
        F.lit("POLYGON(("),
        sx0, F.lit(" "), sy0, F.lit(","),
        sx1, F.lit(" "), sy0, F.lit(","),
        sx1, F.lit(" "), sy1, F.lit(","),
        sx0, F.lit(" "), sy1, F.lit(","),
        sx0, F.lit(" "), sy0,
        F.lit("))"),
    )
    return env.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "n_pts",
        wkt.alias("wkt"),
    ).orderBy("nationkey")


_BOWTIE = [(-60.0, -30.0), (60.0, 30.0), (60.0, -30.0), (-60.0, 30.0), (-60.0, -30.0)]


def _bowtie_edges_sql() -> str:
    rows = ",".join(
        f"({x1!r},{y1!r},{x2!r},{y2!r})"
        for (x1, y1), (x2, y2) in zip(_BOWTIE[:-1], _BOWTIE[1:])
    )
    return f"(VALUES {rows}) AS e(x1, y1, x2, y2)"


@register(
    "fill_rule_contract",
    f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), cr AS (
  SELECT p.c_custkey,
         count(*) AS n_cross,
         sum(CASE WHEN e.y2 > e.y1 THEN 1 ELSE -1 END) AS winding
  FROM pts p CROSS JOIN {_bowtie_edges_sql()}
  WHERE ((e.y1 > p.lat) != (e.y2 > p.lat))
    AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
  GROUP BY p.c_custkey
), cls AS (
  SELECT p.c_custkey,
         coalesce(cr.n_cross, 0) % 2 = 1 AS eo_in,
         coalesce(cr.winding, 0) != 0 AS nz_in
  FROM pts p LEFT JOIN cr ON cr.c_custkey = p.c_custkey
)
SELECT cast(count(*) FILTER (WHERE eo_in AND nz_in) as bigint) AS n_both,
       cast(count(*) FILTER (WHERE eo_in AND NOT nz_in) as bigint) AS n_eo_only,
       cast(count(*) FILTER (WHERE nz_in AND NOT eo_in) as bigint) AS n_nz_only,
       cast(count(*) FILTER (WHERE NOT eo_in AND NOT nz_in) as bigint) AS n_neither
FROM cls
""",
)
def fill_rule_contract(spark, sf_dir):
    """Fill-rule semantics contract (r5): even-odd vs nonzero-winding
    point-in-polygon classification of the customer points against a
    SELF-INTERSECTING bowtie quad — the polygon family where the
    SVG/GL fill rules can genuinely disagree, and the census records
    the exact agreement/disagreement sets (n_both / n_eo_only /
    n_nz_only / n_neither). Every serious geometry engine pins this
    down because data lakes receive unclean polygons: GEOS
    ST_Contains rejects self-intersections outright, rasterizers
    silently pick a rule, and a pipeline that mixes rules
    double-counts or drops the overlap region. Crossing rule and xcross arithmetic are textually
    the house ray-cast (geo/pip.py) in BOTH engines; winding adds only
    the integer up/down sign. Scale shape: one broadcast 4-edge
    cross + hash agg — the pip_join cover-prefilter shape without the
    cover (4 edges)."""
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    edges = spark.createDataFrame(
        [
            (x1, y1, x2, y2)
            for (x1, y1), (x2, y2) in zip(_BOWTIE[:-1], _BOWTIE[1:])
        ],
        "x1 double, y1 double, x2 double, y2 double",
    )
    hit = (
        (F.col("y1") > F.col("lat")) != (F.col("y2") > F.col("lat"))
    ) & (
        F.col("lon")
        < (F.col("x2") - F.col("x1"))
        * (F.col("lat") - F.col("y1"))
        / (F.col("y2") - F.col("y1"))
        + F.col("x1")
    )
    cr = (
        pts.crossJoin(F.broadcast(edges))
        .filter(hit)
        .groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_cross"),
            F.sum(
                F.when(F.col("y2") > F.col("y1"), F.lit(1)).otherwise(F.lit(-1))
            ).alias("winding"),
        )
    )
    cls = pts.join(cr, "c_custkey", "left").select(
        (F.coalesce(F.col("n_cross"), F.lit(0)) % 2 == 1).alias("eo_in"),
        (F.coalesce(F.col("winding"), F.lit(0)) != 0).alias("nz_in"),
    )
    return cls.agg(
        F.count_if(F.col("eo_in") & F.col("nz_in")).cast("long").alias("n_both"),
        F.count_if(F.col("eo_in") & ~F.col("nz_in")).cast("long").alias("n_eo_only"),
        F.count_if(F.col("nz_in") & ~F.col("eo_in")).cast("long").alias("n_nz_only"),
        F.count_if(~F.col("eo_in") & ~F.col("nz_in")).cast("long").alias("n_neither"),
    )


@register(
    "pip_degenerate_contract",
    f"""
WITH e AS (
  -- ::DOUBLE: DuckDB binds bare VALUES literals as DECIMAL, whose
  -- EXACT midpoint halving diverges from IEEE double on boundary
  -- probes (the same trap the zonal oracle documents)
  SELECT poly_id, x1::DOUBLE AS x1, y1::DOUBLE AS y1,
         x2::DOUBLE AS x2, y2::DOUBLE AS y2
  FROM {_edges_values_sql()}
),
probes AS (
  SELECT poly_id, x1 AS px, y1 AS py, 'vertex' AS kind FROM e
  UNION ALL
  SELECT poly_id, (x1 + x2) / 2, (y1 + y2) / 2, 'edge_mid' FROM e
), cr AS (
  SELECT p.poly_id, p.px, p.py, p.kind,
         (SELECT count(*) FROM e
          WHERE e.poly_id = p.poly_id
            AND ((e.y1 > p.py) != (e.y2 > p.py))
            AND (p.px < (e.x2 - e.x1) * (p.py - e.y1) / (e.y2 - e.y1) + e.x1)
         ) AS n_cross
  FROM probes p
)
SELECT poly_id, kind,
       cast(count(*) as bigint) AS n_probes,
       cast(count(*) FILTER (WHERE n_cross % 2 = 1) as bigint) AS n_inside
FROM cr GROUP BY poly_id, kind ORDER BY poly_id, kind
""",
)
def pip_degenerate_contract(spark, sf_dir):
    """Ray-cast degenerate-input contract (r5): classify every polygon
    VERTEX and every EDGE MIDPOINT of the oracle polygon set against
    its own polygon under the house crossing rule — the boundary
    points where naive PIP implementations go undefined (double-count
    a vertex the ray passes through, divide by zero on horizontal
    edges). The house rule's half-open comparison ((y1 > p) != (y2 >
    p)) counts each vertex's incident edges at most once and skips
    horizontal edges entirely (y1 > p equals y2 > p), so boundary
    points get a DETERMINISTIC in/out answer that both engines
    reproduce bit-exactly — which is the actual production requirement
    (a point on a shared border of two admin polygons must land in
    exactly one, not zero or two; the census records where boundary
    probes land). Scale shape: bounded probe set (2 probes per edge of
    the fixture polygons) — a contract, not a data-scale query."""
    import itertools

    from gipspark.queries._base import ORACLE_POLYGONS

    rows = []
    for p in ORACLE_POLYGONS:
        for ring in p["rings"]:
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                rows.append((len(rows), p["poly_id"], float(x1), float(y1), "vertex"))
                rows.append(
                    (len(rows), p["poly_id"], (x1 + x2) / 2, (y1 + y2) / 2, "edge_mid")
                )
    probes = spark.createDataFrame(
        rows, "probe_id long, poly_id long, px double, py double, kind string"
    )
    edges = spark.createDataFrame(
        [
            (p["poly_id"], float(x1), float(y1), float(x2), float(y2))
            for p in ORACLE_POLYGONS
            for ring in p["rings"]
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:])
        ],
        "poly_id long, x1 double, y1 double, x2 double, y2 double",
    )
    hit = (
        (F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))
    ) & (
        F.col("px")
        < (F.col("x2") - F.col("x1"))
        * (F.col("py") - F.col("y1"))
        / (F.col("y2") - F.col("y1"))
        + F.col("x1")
    )
    cr = (
        probes.join(F.broadcast(edges), "poly_id")
        .withColumn("c", F.when(hit, 1).otherwise(0))
        .groupBy("probe_id", "poly_id", "kind")
        .agg(F.sum("c").alias("n_cross"))
    )
    return (
        cr.groupBy("poly_id", "kind")
        .agg(
            F.count("*").cast("long").alias("n_probes"),
            F.count_if(F.col("n_cross") % 2 == 1).cast("long").alias("n_inside"),
        )
        .orderBy("poly_id", "kind")
    )


def _ring_edges_rows() -> list[tuple]:
    """(poly_id, ring_idx, seq, x1m, y1m, x2m, y2m) integer-micro edges
    of every oracle-polygon ring — the shared pure generator both the
    Spark fixture and the oracle VALUES derive from."""
    from gipspark.queries._base import ORACLE_POLYGONS

    out = []
    for p in ORACLE_POLYGONS:
        for ri, ring in enumerate(p["rings"]):
            for si, ((x1, y1), (x2, y2)) in enumerate(zip(ring[:-1], ring[1:])):
                out.append(
                    (
                        p["poly_id"],
                        ri,
                        si,
                        round(x1 * 1e6),
                        round(y1 * 1e6),
                        round(x2 * 1e6),
                        round(y2 * 1e6),
                    )
                )
    return out


@register(
    "ring_orientation_census",
    """
WITH e AS (SELECT * FROM (VALUES """
    + ",".join(
        f"({p},{ri},{si},{a},{b},{c},{d})" for p, ri, si, a, b, c, d in _ring_edges_rows()
    )
    + """) AS t(poly_id, ring_idx, seq, x1, y1, x2, y2)),
c AS (
  -- BIGINT casts: DuckDB binds the VALUES ints as INT32 and the cross
  -- product overflows at micro-degree scale
  SELECT poly_id, ring_idx,
         cast(x1 as bigint) * cast(y2 as bigint)
           - cast(x2 as bigint) * cast(y1 as bigint) AS cr
  FROM e
)
SELECT cast(poly_id as bigint) AS poly_id, cast(ring_idx as bigint) AS ring_idx,
       cast(count(*) as bigint) AS n_edges,
       cast(sum(cr) as bigint) AS area2_micro2,
       CASE WHEN sum(cr) > 0 THEN 'ccw'
            WHEN sum(cr) < 0 THEN 'cw'
            ELSE 'degenerate' END AS orientation,
       ring_idx > 0 AS is_inner
FROM c GROUP BY poly_id, ring_idx ORDER BY poly_id, ring_idx
""",
)
def ring_orientation_census(spark, sf_dir):
    """Ring-orientation census (r5, completing the polygon-hygiene trio
    with fill_rule_contract and pip_degenerate_contract): signed
    shoelace area of every oracle-polygon ring in EXACT integer
    micro-degree coordinates (cross terms ≤ ~4e17, inside int64) —
    CCW outer / CW inner is the OGC convention, and a hole wound the
    same way as its shell is the classic silently-wrong-area input
    (even-odd PIP doesn't care, winding and area do — exactly the
    divergence fill_rule_contract measures from the point side). The
    doubled signed area is emitted raw so downstream exact area math
    composes without division. Scale shape: bounded fixture census —
    a contract on polygon inputs, not a data-scale query."""
    rows = _ring_edges_rows()
    e = spark.createDataFrame(
        rows, "poly_id long, ring_idx long, seq long, x1 long, y1 long, x2 long, y2 long"
    )
    cross = F.col("x1") * F.col("y2") - F.col("x2") * F.col("y1")
    return (
        e.groupBy("poly_id", "ring_idx")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum(cross).cast("long").alias("area2_micro2"),
        )
        .select(
            "poly_id",
            "ring_idx",
            "n_edges",
            "area2_micro2",
            F.when(F.col("area2_micro2") > 0, "ccw")
            .when(F.col("area2_micro2") < 0, "cw")
            .otherwise("degenerate")
            .alias("orientation"),
            (F.col("ring_idx") > 0).alias("is_inner"),
        )
        .orderBy("poly_id", "ring_idx")
    )


@register(
    "pip_prefilter_selectivity",
    f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), e AS (SELECT * FROM {_edges_values_sql()}),
bb AS (
  SELECT poly_id, min(least(x1, x2)) AS x0, max(greatest(x1, x2)) AS x1,
         min(least(y1, y2)) AS y0, max(greatest(y1, y2)) AS y1
  FROM e GROUP BY poly_id
), cand AS (
  SELECT b.poly_id, p.c_custkey, p.lat, p.lon
  FROM pts p JOIN bb b
    ON p.lon >= b.x0 AND p.lon <= b.x1 AND p.lat >= b.y0 AND p.lat <= b.y1
), refined AS (
  SELECT c.poly_id, c.c_custkey
  FROM cand c JOIN e ON e.poly_id = c.poly_id
  WHERE ((e.y1 > c.lat) != (e.y2 > c.lat))
    AND (c.lon < (e.x2 - e.x1) * (c.lat - e.y1) / (e.y2 - e.y1) + e.x1)
  GROUP BY c.poly_id, c.c_custkey
  HAVING count(*) % 2 = 1
)
SELECT b.poly_id,
       cast((SELECT count(*) FROM cand WHERE cand.poly_id = b.poly_id) as bigint)
         AS n_bbox_candidates,
       cast((SELECT count(*) FROM refined WHERE refined.poly_id = b.poly_id) as bigint)
         AS n_inside,
       cast(coalesce((SELECT count(*) FROM refined WHERE refined.poly_id = b.poly_id)
         * 1000000 // nullif((SELECT count(*) FROM cand WHERE cand.poly_id = b.poly_id), 0), 0)
         as bigint) AS keep_rate_micro
FROM bb b ORDER BY b.poly_id
""",
)
def pip_prefilter_selectivity(spark, sf_dir):
    """PIP prefilter selectivity census (r5): per oracle polygon, how
    many customer points its BOUNDING BOX admits versus how many the
    exact ray-cast keeps — the number that justifies (or indicts) the
    engine's prefilter-then-refine architecture: keep-rate near 10⁶
    means the bbox is tight and cell covers buy little; a thin
    diagonal or star polygon (keep ~ area/bbox-area) is exactly where
    the S2 cover prefilter (operators/pip.py) beats bboxes, and this
    census quantifies by how much per polygon. Exact: the bbox test
    is pure comparisons on the shared doubles, the refine is the house
    crossing rule. Scale shape: broadcast 5-row bbox dim join +
    candidate-bounded refine + per-poly counts."""
    from gipspark.queries._base import ORACLE_POLYGONS

    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    bbs = []
    edges_rows = []
    for p in ORACLE_POLYGONS:
        xs = [v[0] for ring in p["rings"] for v in ring]
        ys = [v[1] for ring in p["rings"] for v in ring]
        bbs.append((p["poly_id"], min(xs), max(xs), min(ys), max(ys)))
        for ring in p["rings"]:
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                edges_rows.append((p["poly_id"], float(x1), float(y1), float(x2), float(y2)))
    bb = spark.createDataFrame(bbs, "poly_id long, x0 double, x1 double, y0 double, y1 double")
    edges = spark.createDataFrame(
        edges_rows, "poly_id long, ex1 double, ey1 double, ex2 double, ey2 double"
    )
    cand = pts.join(
        F.broadcast(bb),
        (F.col("lon") >= F.col("x0"))
        & (F.col("lon") <= F.col("x1"))
        & (F.col("lat") >= F.col("y0"))
        & (F.col("lat") <= F.col("y1")),
    ).select("poly_id", "c_custkey", "lat", "lon")
    hit = (
        (F.col("ey1") > F.col("lat")) != (F.col("ey2") > F.col("lat"))
    ) & (
        F.col("lon")
        < (F.col("ex2") - F.col("ex1"))
        * (F.col("lat") - F.col("ey1"))
        / (F.col("ey2") - F.col("ey1"))
        + F.col("ex1")
    )
    refined = (
        cand.join(F.broadcast(edges), "poly_id")
        .withColumn("c", F.when(hit, 1).otherwise(0))
        .groupBy("poly_id", "c_custkey")
        .agg(F.sum("c").alias("nc"))
        .filter(F.col("nc") % 2 == 1)
    )
    nc = cand.groupBy("poly_id").agg(F.count("*").cast("long").alias("n_bbox_candidates"))
    ni = refined.groupBy("poly_id").agg(F.count("*").cast("long").alias("n_inside"))
    return (
        bb.select("poly_id")
        .join(nc, "poly_id", "left")
        .join(ni, "poly_id", "left")
        .select(
            "poly_id",
            F.coalesce("n_bbox_candidates", F.lit(0)).cast("long").alias("n_bbox_candidates"),
            F.coalesce("n_inside", F.lit(0)).cast("long").alias("n_inside"),
            F.expr(
                "cast(coalesce((coalesce(n_inside, 0) * 1000000)"
                " div nullif(coalesce(n_bbox_candidates, 0), 0), 0) as bigint)"
            ).alias("keep_rate_micro"),
        )
        .orderBy("poly_id")
    )

"""Registry family: geo_cells (split from the single-file registry; query names and behavior unchanged)."""

from __future__ import annotations

from gipspark.queries._base import (  # noqa: F401
    C,
    D,
    DEC,
    DataFrame,
    F,
    HAVERSINE_SQL,
    ORACLE_POLYGONS,
    T,
    Window,
    _LAT,
    _LON,
    _cust_pts,
    _pip_matches_sql,
    geohash_col,
    load,
    pip_join,
    register,
)
from gipspark.queries._shared import (  # noqa: F401
    _ACF_LAGS,
    _AQT_D,
    _AQT_K,
    _BB_BLOCK,
    _BB_CELL,
    _BB_REPS,
    _BH_ALPHA_Q,
    _BIV_GRID,
    _CD_ROUNDS,
    _CD_SEED,
    _CF_GRID,
    _CHORO_CLASSES,
    _CLW_GRID,
    _COMPACT_CELL_SQL_SPARK,
    _CUSUM_GRID,
    _D8_GRID_SQL,
    _DASY_GRID,
    _DT_DENSE,
    _DT_GRID,
    _DT_MAXHOP,
    _EB_PSEUDO,
    _EVANS_OFFSETS,
    _EVANS_VALUES,
    _FF_RADII,
    _FOCAL_OFFS,
    _GAP_GRID,
    _GEOHASH_ORACLE,
    _GRID_DENSE_MIN,
    _GRS_SIZES,
    _HEQ_LEVELS,
    _HILBERT_GX,
    _HILBERT_GY,
    _HW_PTS,
    _HYP_GRID,
    _ISO_CELL,
    _ISO_K,
    _ISO_OFF,
    _LBP_GRID,
    _LBP_OFFSETS,
    _LD_GRID,
    _LSB12,
    _LSB8,
    _LSM_DENSE_MIN,
    _MK_GRID,
    _MORAN_GRID,
    _MS_SEGS_SQL,
    _NV_PARTS,
    _NV_RATIOS,
    _OCTANT_CASE,
    _OTSU_LEVELS,
    _PRISM_K,
    _PRISM_USERS,
    _PYR_CELL_DUCK,
    _PYR_CELL_SPARK,
    _QR_SLOPES,
    _QR_TAU_Q,
    _RASTER_PX,
    _RASTER_TILES,
    _RESAMPLE_VALUES,
    _RESAMPLE_W,
    _RQ_COARSE,
    _RQ_DECILES,
    _SAX_SEGS,
    _SAX_SYMS,
    _SCAN_TOPK,
    _SEAM_GRID,
    _SHAPE_GRID,
    _SEAM_SUPER,
    _SOLAR_BANDS,
    _SOLAR_DECL,
    _SPF_GRID,
    _SZM_BOXES,
    _SZM_FILE_ROWS,
    _TC_LEVEL,
    _TC_SIZES,
    _TMP_GRID,
    _TMP_TOPK,
    _VS_SCALE,
    _Z_GRID,
    _adaptive_quadtree_sql,
    _compact_oracle_sql,
    _d8_full,
    _dasy_oracle_sql,
    _ff_grid_rows,
    _geohash_roundtrip_oracle,
    _gua_oracle_sql,
    _haar_level_sql,
    _hstride_oracle_sql,
    _lbp_oracle_sql,
    _maidenhead_sql,
    _prism_oracle_sql,
    _qk_decode_xy,
    _raster_algebra_oracle,
    _szm_oracle_sql,
    _zonal_raster_oracle_sql,
    hilbert_sql,
    morton_key,
    morton_key_sql,
)



# --- spatial surface -------------------------------------------------------


@register(
    "tile_assign_customers",
    f"""
WITH pts AS (SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon FROM customer)
SELECT {C.TILE_SQL.format(lat='lat', lon='lon')} AS tile_id, count(*) AS n
FROM pts GROUP BY tile_id
""",
)
def tile_assign_customers(spark, sf_dir):
    pts = _cust_pts(spark, sf_dir)
    return pts.groupBy(C.tile_of(F.col("lat"), F.col("lon")).alias("tile_id")).agg(
        F.count("*").alias("n")
    )



@register(
    "zonal_customer_stats",
    f"""
WITH pts AS (SELECT c_custkey, c_acctbal, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon FROM customer),
m AS (SELECT c_custkey, poly_id FROM ({_pip_matches_sql('pts', 'c_custkey')}))
SELECT m.poly_id, count(*) AS n_pts,
       cast(sum(cast(p.c_acctbal as decimal(18,2))) as double) AS bal_sum,
       min(p.c_custkey) AS min_key, max(p.c_custkey) AS max_key
FROM m JOIN pts p ON m.c_custkey = p.c_custkey
GROUP BY m.poly_id
""",
)
def zonal_customer_stats(spark, sf_dir):
    pts = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    m = pip_join(pts, ORACLE_POLYGONS, level=7)
    return m.groupBy("poly_id").agg(
        F.count("*").alias("n_pts"),
        F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("bal_sum"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )



@register("geohash_encode_customers", _GEOHASH_ORACLE)
def geohash_encode_customers(spark, sf_dir):
    """Canonical base32 geohash per customer point — the interop encode
    (functions/geohash.geohash_col): Morton interleave entirely inside
    whole-stage codegen, oracle = the same magic-number pipeline
    mirrored as a DuckDB CTE chain (functions/geohash.geohash_sql)."""
    c = load(spark, sf_dir, "customer")
    out = c.select(
        "c_custkey",
        geohash_col(
            C.derived_lat(F.col("c_custkey")), C.derived_lon(F.col("c_custkey")), 8
        ).alias("gh8"),
    )
    return out.select("c_custkey", "gh8", F.substring("gh8", 1, 4).alias("gh4"))



# --- rows-only queries (non-SQL-expressible: vendored cell geometry) -------


@register("s2_cell_counts", None)
def s2_cell_counts(spark, sf_dir):
    pts = _cust_pts(spark, sf_dir)
    return (
        pts.withColumn("cell", C.s2_cell(F.col("lat"), F.col("lon"), 12))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("cell").asc())
        .limit(100)
    )



@register("h3_cell_counts", None)
def h3_cell_counts(spark, sf_dir):
    pts = _cust_pts(spark, sf_dir)
    return (
        pts.withColumn("cell", C.h3_cell(F.col("lat"), F.col("lon"), 7))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("cell").asc())
        .limit(100)
    )



@register("kring_expansion", None)
def kring_expansion(spark, sf_dir):
    pts = _cust_pts(spark, sf_dir).filter(F.col("c_custkey") < 50)
    cells = pts.withColumn("cell", C.s2_cell(F.col("lat"), F.col("lon"), 10))
    return (
        cells.withColumn("ring", C.kring(F.col("cell"), 10, 2))
        .select("c_custkey", "cell", F.explode("ring").alias("neighbor"))
        .groupBy("c_custkey", "cell")
        .agg(F.count("*").alias("n_neighbors"))
    )



@register("zonal_raster_stats", _zonal_raster_oracle_sql())
def zonal_raster_stats(spark, sf_dir):
    """Raster↔vector zonal aggregation (gips_stats semantics). No driver
    table carries a raster, so the oracle bakes the same deterministic
    pixel/polygon fixtures as VALUES and replays the house PIP rule
    without the cell prefilter — checking cover+refine+agg end to end."""
    from gipspark.operators.zonal import zonal_stats
    from gipspark.sources.fixtures import polygons, raster_cells_df

    raster = raster_cells_df(spark, _RASTER_TILES, px=_RASTER_PX)
    out = zonal_stats(raster, polygons(10), level=9)
    return out.select(
        "poly_id",
        "px_count",
        F.round("v_min", 6).alias("v_min"),
        F.round("v_max", 6).alias("v_max"),
        F.round("v_avg", 6).alias("v_avg"),
        F.round("v_sum", 6).alias("v_sum"),
    )



@register(
    "streaming_tile_counts",
    f"""
WITH ev AS (SELECT ts, {_LAT.format(k='user_id + 1')} AS lat,
                   {_LON.format(k='user_id + 1')} AS lon FROM events)
SELECT cast(floor(epoch(ts) / 900) * 900 as bigint) AS win_start_s,
       {C.TILE_SQL.format(lat='lat', lon='lon')} AS tile_id,
       count(*) AS n
FROM ev GROUP BY win_start_s, tile_id
""",
)
def streaming_tile_counts(spark, sf_dir):
    """Batch-mode execution of the streaming per-tile rollup plan
    (same DataFrame ops Structured Streaming runs incrementally).
    Oracle: tumbling window == epoch floored to 900 s, tile via the
    TILE_SQL textual mirror — the same batch-shape trick as
    tumbling_window_counts."""
    ev = load(spark, sf_dir, "events")
    lat = C.derived_lat(F.col("user_id") + F.lit(1))
    lon = C.derived_lon(F.col("user_id") + F.lit(1))
    return (
        ev.withColumn("tile_id", C.tile_of(lat, lon))
        .groupBy(F.window("ts", "15 minutes").alias("win"), "tile_id")
        .agg(F.count("*").alias("n"))
        .select(F.unix_timestamp(F.col("win.start")).cast("bigint").alias("win_start_s"), "tile_id", "n")
    )



@register(
    "percentile_order_value",
    """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
       count(*) AS n
FROM orders GROUP BY o_orderpriority
""",
)
def percentile_order_value(spark, sf_dir):
    """Exact percentiles (linear interpolation — Spark `percentile` and
    DuckDB `quantile_cont` implement the same rule; rounded to 4dp to
    absorb last-ulp summation differences). At 10^12 rows the exact
    sort-based percentile is the wrong tool — approx_percentile's
    KLL/GK sketch is the scale path — but the exact one anchors the
    oracle, mirroring the approx_vs_exact_distinct pattern."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )



@register(
    "approx_percentile_contract",
    """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
       TRUE AS approx_ok
FROM orders GROUP BY o_orderpriority
""",
)
def approx_percentile_contract(spark, sf_dir):
    """approx_percentile (KLL/GK sketch — the 10^12-row scale path)
    checked the same way as approx_vs_exact_distinct: the exact median
    bit-matches DuckDB, and the sketch estimate must land within 2% of
    the group's value span of it or the value-hash fails."""
    o = load(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
        (F.max("o_totalprice") - F.min("o_totalprice")).alias("span"),
    )
    return agg.select(
        "o_orderpriority",
        F.round(F.col("p50"), 4).alias("p50_exact"),
        (F.abs(F.col("p50_approx") - F.col("p50")) <= F.lit(0.02) * F.col("span")).alias(
            "approx_ok"
        ),
    )



@register("compact_cell_cover", _compact_oracle_sql())
def compact_cell_cover(spark, sf_dir):
    """compact/uncompact round-trip over a deterministic res-4 h3x cell
    set derived bit-arithmetically from c_custkey (digit 4 fastest —
    contiguous keys fill sibling septets, so the cover genuinely
    promotes across several resolutions). The synthetic derivation is
    SQL-expressible on both sides, which upgrades this from rows-only
    to a full oracle: DuckDB replays the promotion rounds as an
    unrolled CTE chain over the same ids. Geographic (polygon-cover)
    compaction stays covered by tests/test_compact.py. Output:
    per-resolution cell counts + a roundtrip_ok flag that fails the
    check if uncompact(compact(S)) != S (oracle asserts TRUE — the
    approx_ok contract pattern)."""
    from gipspark.operators.compact import compact_cells, uncompact_cells

    cells = (
        load(spark, sf_dir, "customer")
        .select(F.expr(_COMPACT_CELL_SQL_SPARK).alias("cell"))
        .distinct()
    )
    compacted = compact_cells(cells, 4)
    restored = uncompact_cells(compacted, 4).select(F.col("cell").alias("rcell"))
    n_in = cells.count()
    n_round = cells.join(restored, cells.cell == F.col("rcell"), "inner").count()
    per_res = (
        compacted.groupBy(
            F.shiftright(F.col("cell"), 52).bitwiseAND(F.lit(0xF)).alias("res")
        )
        .agg(F.count(F.lit(1)).alias("n_cells"))
        .withColumn("roundtrip_ok", F.lit(n_round == n_in))
    )
    return per_res.orderBy("res")



@register(
    "grid_cluster_events",
    f"""
WITH RECURSIVE pts AS (
  SELECT event_id, {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) * 1000
         + cast(floor((90.0 - lat) / 2.5) as int) AS cell_id,
         count(*) AS n_points
  FROM pts GROUP BY cell_id HAVING count(*) >= {_GRID_DENSE_MIN}
), edges AS (
  SELECT a.cell_id AS src, b.cell_id AS dst
  FROM cells a JOIN cells b
    ON abs((a.cell_id // 1000) - (b.cell_id // 1000)) <= 1
   AND abs((a.cell_id % 1000) - (b.cell_id % 1000)) <= 1
   AND a.cell_id <> b.cell_id
), reach(node, r) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT re.node, e.dst FROM reach re JOIN edges e ON re.r = e.src
  WHERE e.dst <> re.node
)
SELECT c.cell_id, cast(coalesce(least(c.cell_id, m.mr), c.cell_id) as int) AS cluster_id,
       c.n_points
FROM cells c LEFT JOIN (SELECT node, min(r) AS mr FROM reach GROUP BY node) m
  ON m.node = c.cell_id
""",
)
def grid_cluster_events(spark, sf_dir):
    """Grid-based density clustering (DBSCAN-on-a-grid): bucket points
    into 2.5° integer cells, keep cells with >= 3 points, connect
    8-neighbor dense cells, label clusters by component minimum.

    Scale shape: points collapse to dense cells in ONE hash aggregate
    (map-side combinable — the 100 TB point table never shuffles raw
    rows); adjacency is an 8-offset explode + equi-join on cell coords
    (hash join, no inequality scan); components run pointer-jumping
    (operators/components.py, O(log d) rounds). Oracle: recursive
    reachability over the same dense-cell graph."""
    from gipspark.operators.gridcluster import grid_cluster

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    return grid_cluster(pts, cell_deg=2.5, min_points=_GRID_DENSE_MIN)



@register(
    "s2_pyramid_rollup",
    f"""
WITH base AS (
  SELECT {_PYR_CELL_DUCK} AS cell FROM customer
), l16 AS (
  SELECT cell, count(*) AS n FROM base GROUP BY cell
), l12 AS (
  SELECT ((cell & ~({_LSB12 - 1}::BIGINT)) | {_LSB12}::BIGINT) AS cell,
         sum(n) AS n
  FROM l16 GROUP BY 1
), l8 AS (
  SELECT ((cell & ~({_LSB8 - 1}::BIGINT)) | {_LSB8}::BIGINT) AS cell,
         sum(n) AS n
  FROM l12 GROUP BY 1
)
SELECT cast(16 as int) AS level, cell, cast(n as bigint) AS n FROM l16
UNION ALL
SELECT cast(12 as int) AS level, cell, cast(n as bigint) AS n FROM l12
UNION ALL
SELECT cast(8 as int) AS level, cell, cast(n as bigint) AS n FROM l8
""",
)
def s2_pyramid_rollup(spark, sf_dir):
    """Multi-resolution tile-pyramid rollup (the hypertable/continuous-
    aggregate pattern): per-cell counts at S2 level 16, then levels 12
    and 8 derived by re-aggregating the ALREADY-AGGREGATED level-16
    partials through :func:`gipspark.functions.cells.s2_parent` (the JVM
    twin of :func:`gipspark.geo.s2.parent`) — the raw table is
    scanned and shuffled exactly once; every coarser level is a rollup
    over at-most-|cells| rows, which is how a 10^12-row pyramid stays
    one-pass. The oracle replays the parent bit-math ((cell & ~(lsb-1))
    | lsb, s2.py:210) textually in SQL over the same bit-derived valid
    level-16 ids, making the hierarchy arithmetic oracle-checked
    bit-exact (the geographic encode stays covered by s2_cell_counts +
    golden vectors)."""
    base = load(spark, sf_dir, "customer").select(F.expr(_PYR_CELL_SPARK).alias("cell"))
    l16 = base.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    l12 = (
        l16.select(C.s2_parent(F.col("cell"), 12).alias("cell"), "n")
        .groupBy("cell")
        .agg(F.sum("n").alias("n"))
    )
    l8 = (
        l12.select(C.s2_parent(F.col("cell"), 8).alias("cell"), "n")
        .groupBy("cell")
        .agg(F.sum("n").alias("n"))
    )

    def lvl(df, v):
        return df.select(
            F.lit(v).cast("int").alias("level"), "cell", F.col("n").cast("long").alias("n")
        )

    return lvl(l16, 16).unionAll(lvl(l12, 12)).unionAll(lvl(l8, 8))



@register(
    "morans_i_tiles",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_MORAN_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MORAN_GRID}) as int) AS gy,
         count(*) AS x
  FROM pts GROUP BY gx, gy
), st AS (
  SELECT count(*) AS n, cast(sum(x) as bigint) AS s FROM cells
), dev AS (
  SELECT gx, gy, st.n AS n, (st.n * x - st.s) AS dev FROM cells, st
), pairs AS (
  SELECT a.n, a.dev AS di, b.dev AS dj
  FROM dev a JOIN dev b ON (abs(a.gx - b.gx) + abs(a.gy - b.gy)) = 1
), agg AS (
  SELECT count(*) AS w_links, cast(sum(di * dj) as bigint) AS num FROM pairs
), dn AS (SELECT cast(sum(dev * dev) as bigint) AS den FROM dev)
SELECT st.n AS n_cells, agg.w_links, agg.num, dn.den,
       (cast(st.n as double) / cast(agg.w_links as double))
       * (cast(agg.num as double) / cast(dn.den as double)) AS morans_i
FROM st, agg, dn
""",
)
def morans_i_tiles(spark, sf_dir):
    """Global Moran's I over the 15° customer-density lattice
    (operators/morans.py): rook-neighbor pairs come from an offset-
    explode equi-join (never a θ-join), the moments ride as a broadcast
    scalar, and numerator/denominator are exact bigints via the
    n·x − S deviation trick — the only double is the final ratio,
    computed from the same four integers on both engines."""
    from gipspark.operators.morans import cell_counts, morans_i

    pts = load(spark, sf_dir, "customer").select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    return morans_i(cell_counts(pts, _MORAN_GRID))



@register("raster_algebra_zones", _raster_algebra_oracle())
def raster_algebra_zones(spark, sf_dir):
    """Raster map algebra (the raster↔raster half of the GIS matrix —
    zonal_raster_stats covers raster↔vector): two aligned bands join on
    the pixel key (tile_id, ix, iy) — at scale a co-partitioned
    equi-join per tile, never a positional zip — then a cellwise
    normalized-difference (NDVI shape) and a per-tile reduction.
    The second band derives from pixel indices so both engines
    synthesize identical doubles; per-pixel ND is quantized to 1e-6
    ticks before the sum (exact bigint, no reorder drift)."""
    from gipspark.sources.fixtures import raster_cells_df

    a = raster_cells_df(spark, _RASTER_TILES, px=_RASTER_PX)
    b = raster_cells_df(spark, _RASTER_TILES, px=_RASTER_PX).select(
        "tile_id",
        "ix",
        "iy",
        (((F.col("ix") * 7 + F.col("iy") * 13) % 97).cast("double") / F.lit(97.0)).alias(
            "value_b"
        ),
    )
    nd = a.join(b, ["tile_id", "ix", "iy"]).select(
        "tile_id",
        (
            (F.col("value") - F.col("value_b"))
            / (F.abs(F.col("value")) + F.abs(F.col("value_b")) + F.lit(1.0))
        ).alias("nd"),
    )
    return nd.groupBy("tile_id").agg(
        F.count("*").alias("n_px"),
        F.sum(F.when(F.col("nd") > 0.0, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.round(F.col("nd") * 1000000.0, 0).cast("long")).cast("long").alias(
            "sum_nd_ticks"
        ),
    )



@register(
    "zorder_cluster_customers",
    f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), g AS (
  SELECT c_custkey,
         cast(floor((lon + 180.0) / {_Z_GRID}) as bigint) AS gx,
         cast(floor((90.0 - lat) / {_Z_GRID}) as bigint) AS gy
  FROM pts
)
SELECT c_custkey, gx, gy,
       {morton_key_sql('gx', 'gy')} AS zkey,
       cast({morton_key_sql('gx', 'gy')} >> 14 as bigint) AS zbucket
FROM g
""",
)
def zorder_cluster_customers(spark, sf_dir):
    """Z-order (Morton) clustering key per point (operators/zorder.py)
    — the Delta/Iceberg Z-ORDER layout primitive: sort/range-partition
    by zkey and a lat/lon box scan prunes to a handful of key ranges.
    The 16-bit magic-number spread is rendered from one step list into
    both engines, so keys are bit-exact; zbucket (top bits) is the
    file-assignment granularity a writer would range-partition on."""
    cust = load(spark, sf_dir, "customer")
    gx = F.floor((C.derived_lon(F.col("c_custkey")) + F.lit(180.0)) / F.lit(_Z_GRID)).cast(
        "long"
    )
    gy = F.floor((F.lit(90.0) - C.derived_lat(F.col("c_custkey"))) / F.lit(_Z_GRID)).cast(
        "long"
    )
    g = cust.select("c_custkey", gx.alias("gx"), gy.alias("gy"))
    zkey = morton_key(F.col("gx"), F.col("gy"))
    return g.select(
        "c_custkey",
        "gx",
        "gy",
        zkey.alias("zkey"),
        F.shiftright(zkey, 14).cast("long").alias("zbucket"),
    )



@register(
    "distance_transform_cells",
    f"""
WITH RECURSIVE raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         count(*) AS n
  FROM raw GROUP BY gx, gy
), reach(gx, gy, d) AS (
  SELECT gx, gy, 0 FROM cells WHERE n >= {_DT_DENSE}
  UNION
  SELECT c.gx, c.gy, r.d + 1
  FROM reach r JOIN cells c
    ON (abs(c.gx - r.gx) + abs(c.gy - r.gy)) = 1
  WHERE r.d < {_DT_MAXHOP}
)
SELECT gx, gy, cast(min(d) as bigint) AS dist
FROM reach GROUP BY gx, gy
""",
)
def distance_transform_cells(spark, sf_dir):
    """Lattice distance transform (cost-distance / isochrone rings):
    min rook-hops from any dense seed cell, over occupied cells only,
    bounded to {_DT_MAXHOP} hops. Spark runs {_DT_MAXHOP} unrolled
    relaxation rounds — each round min-joins the frontier against the
    offset-exploded occupied lattice (equi-join, never θ) — so the
    plan is K chained aggregates over the bounded cell table; the big
    event table is touched once by the density aggregate. The oracle
    is an independent recursive-CTE BFS of the same lattice."""
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
        .agg(F.count("*").alias("n"))
    )
    occupied = cells.select("gx", "gy")
    dist = cells.filter(F.col("n") >= _DT_DENSE).select(
        "gx", "gy", F.lit(0).cast("long").alias("dist")
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        ]
    )
    for _ in range(_DT_MAXHOP):
        nbr = (
            dist.select("gx", "gy", "dist", F.explode(offsets).alias("o"))
            .select(
                (F.col("gx") + F.col("o.dx")).alias("gx"),
                (F.col("gy") + F.col("o.dy")).alias("gy"),
                (F.col("dist") + F.lit(1)).alias("dist"),
            )
            .join(occupied, ["gx", "gy"])  # stay on the occupied lattice
        )
        dist = (
            dist.unionByName(nbr)
            .groupBy("gx", "gy")
            .agg(F.min("dist").alias("dist"))
        )
    return dist



# ---------------------------------------------------------------------------
# round-2 batch 14: spatial autocorrelation pair + geometry validation
# ---------------------------------------------------------------------------


@register(
    "gearys_c_tiles",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_MORAN_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MORAN_GRID}) as int) AS gy,
         count(*) AS x
  FROM pts GROUP BY gx, gy
), st AS (
  SELECT count(*) AS n, cast(sum(x) as bigint) AS s FROM cells
), dev AS (
  SELECT gx, gy, st.n AS n, (st.n * x - st.s) AS dev FROM cells, st
), pairs AS (
  SELECT a.n, a.dev AS di, b.dev AS dj
  FROM dev a JOIN dev b ON (abs(a.gx - b.gx) + abs(a.gy - b.gy)) = 1
), agg AS (
  SELECT count(*) AS w_links, cast(sum((di - dj) * (di - dj)) as bigint) AS num FROM pairs
), dn AS (SELECT cast(sum(dev * dev) as bigint) AS den FROM dev)
SELECT st.n AS n_cells, agg.w_links, agg.num, dn.den,
       (cast(st.n - 1 as double) / cast(agg.w_links as double))
       * (cast(agg.num as double) / cast(dn.den as double)) / 2.0 AS gearys_c
FROM st, agg, dn
""",
)
def gearys_c_tiles(spark, sf_dir):
    """Geary's C over the same customer-density lattice as
    morans_i_tiles (operators/morans.py gearys_c): the local-contrast
    autocorrelation index, num = Σ (dev_i − dev_j)² over rook pairs —
    the n² scaling cancels against the denominator, so both moments
    are exact bigints and only the final ratio is floating."""
    from gipspark.operators.morans import cell_counts, gearys_c

    pts = load(spark, sf_dir, "customer").select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    return gearys_c(cell_counts(pts, _MORAN_GRID))



@register(
    "quadkey_pyramid_customers",
    f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), qk AS (
  SELECT c_custkey, {{qk8}} AS qk8 FROM pts
)
SELECT substr(qk8, 1, 4) AS qk4,
       cast(count(*) as bigint) AS n,
       cast(count(DISTINCT qk8) as bigint) AS n_leaf_tiles,
       min(qk8) AS first_leaf
FROM qk GROUP BY qk4
""".format(qk8=C.quadkey_sql("lat", "lon", 8)),
)
def quadkey_pyramid_customers(spark, sf_dir):
    """Quadkey tile pyramid: encode customers at level 8 and roll up to
    level 4 with substr — the prefix IS the parent key, so every
    pyramid level is a substring aggregate, no re-encode and no join
    (the property that makes quadkeys the storage layout of slippy-map
    tile servers). functions/cells.quadkey_of; pure codegen digits,
    oracle bit-exact."""
    c = load(spark, sf_dir, "customer")
    qk = c.select(
        C.quadkey_of(
            C.derived_lat(F.col("c_custkey")), C.derived_lon(F.col("c_custkey")), 8
        ).alias("qk8")
    )
    return (
        qk.groupBy(F.substring("qk8", 1, 4).alias("qk4"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("qk8").alias("n_leaf_tiles"),
            F.min("qk8").alias("first_leaf"),
        )
    )



@register(
    "dwell_cells_user",
    f"""
WITH ordered AS (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), pos AS (
  SELECT user_id, event_id, ts, rn,
         user_id * 100 + (rn - 1) // 5 AS pk
  FROM ordered
), ll AS (
  SELECT user_id, ts, rn,
         {_LAT.format(k='pk')} AS lat, {_LON.format(k='pk')} AS lon
  FROM pos
), cells AS (
  SELECT user_id, ts, rn,
         cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy
  FROM ll
), flagged AS (
  SELECT user_id, ts, rn, cx, cy,
         CASE WHEN cx = lag(cx) OVER w AND cy = lag(cy) OVER w THEN 0 ELSE 1 END AS brk
  FROM cells WINDOW w AS (PARTITION BY user_id ORDER BY rn)
), runs AS (
  SELECT user_id, ts, cx, cy,
         sum(brk) OVER (PARTITION BY user_id ORDER BY rn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
)
SELECT user_id, run_id, min(cx) AS cell_x, min(cy) AS cell_y,
       min(ts) AS enter_ts, max(ts) AS exit_ts,
       cast(count(*) as bigint) AS n_pings
FROM runs GROUP BY user_id, run_id HAVING count(*) >= 4
""",
)
def dwell_cells_user(spark, sf_dir):
    """Stay-point / dwell detection over synthetic trajectories: pings
    ordered per user, positions quantized to 2.5° cells, maximal runs
    of consecutive same-cell pings collapsed with the lag-flag-cumsum
    idiom (same as interval dissolve), dwells = runs of ≥4 pings with
    their enter/exit times. Positions derive from a key that advances
    every 5 pings, so the fixture has real dwell segments. One shuffle
    on user_id shared by both windows and the final aggregate — the
    mobility analytics op (dwell mining) at its 100 TB shape."""
    ev = load(spark, sf_dir, "events")
    w_rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pos = ev.select(
        "user_id",
        "ts",
        F.row_number().over(w_rn).alias("rn"),
    ).withColumn("pk", F.col("user_id") * 100 + F.floor((F.col("rn") - 1) / 5))
    cells = pos.select(
        "user_id",
        "ts",
        "rn",
        F.floor((C.derived_lon(F.col("pk")) + 180.0) / 2.5).cast("int").alias("cx"),
        F.floor((90.0 - C.derived_lat(F.col("pk"))) / 2.5).cast("int").alias("cy"),
    )
    w = Window.partitionBy("user_id").orderBy("rn")
    flagged = cells.withColumn(
        "brk",
        F.when(
            (F.col("cx") == F.lag("cx").over(w)) & (F.col("cy") == F.lag("cy").over(w)),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    runs = flagged.withColumn(
        "run_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        runs.groupBy("user_id", "run_id")
        .agg(
            F.min("cx").alias("cell_x"),
            F.min("cy").alias("cell_y"),
            F.min("ts").alias("enter_ts"),
            F.max("ts").alias("exit_ts"),
            F.count(F.lit(1)).alias("n_pings"),
        )
        .filter(F.col("n_pings") >= 4)
    )



@register(
    "raster_gradient_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
)
SELECT g.cx, g.cy, g.v,
       coalesce(e.v, 0) - coalesce(w.v, 0) AS gx,
       coalesce(s.v, 0) - coalesce(n.v, 0) AS gy,
       (coalesce(e.v, 0) - coalesce(w.v, 0)) * (coalesce(e.v, 0) - coalesce(w.v, 0))
       + (coalesce(s.v, 0) - coalesce(n.v, 0)) * (coalesce(s.v, 0) - coalesce(n.v, 0)) AS mag2,
       CASE WHEN coalesce(e.v, 0) = coalesce(w.v, 0) AND coalesce(s.v, 0) = coalesce(n.v, 0) THEN 'flat'
            WHEN abs(coalesce(e.v, 0) - coalesce(w.v, 0)) >= abs(coalesce(s.v, 0) - coalesce(n.v, 0))
              THEN (CASE WHEN coalesce(e.v, 0) > coalesce(w.v, 0) THEN 'east' ELSE 'west' END)
            ELSE (CASE WHEN coalesce(s.v, 0) > coalesce(n.v, 0) THEN 'south' ELSE 'north' END)
       END AS aspect
FROM grid g
LEFT JOIN grid e ON e.cx = g.cx + 1 AND e.cy = g.cy
LEFT JOIN grid w ON w.cx = g.cx - 1 AND w.cy = g.cy
LEFT JOIN grid s ON s.cx = g.cx AND s.cy = g.cy + 1
LEFT JOIN grid n ON n.cx = g.cx AND n.cy = g.cy - 1
""",
)
def raster_gradient_cells(spark, sf_dir):
    """Raster gradient (slope/aspect — the terrain-analysis kernel) over
    the event-density grid: central differences E−W and S−N per cell
    via four equi-joins on shifted cell coords (hash joins over the
    dense-cell table, which is orders of magnitude smaller than the
    point table), integer gradient magnitude², and a trig-free 4-way
    aspect classification. The point table collapses to cells in ONE
    map-side-combinable aggregate; everything after is dim-scale."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    grid = (
        pts.select(
            F.floor((F.col("lon") + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - F.col("lat")) / 2.5).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    g = grid.alias("g")

    def nb(name, dx, dy):
        t = grid.alias(name)
        return t, [
            F.col(f"{name}.cx") == F.col("g.cx") + dx,
            F.col(f"{name}.cy") == F.col("g.cy") + dy,
        ]

    e, e_on = nb("e", 1, 0)
    w, w_on = nb("w", -1, 0)
    s, s_on = nb("s", 0, 1)
    n, n_on = nb("n", 0, -1)
    j = (
        g.join(e, e_on, "left")
        .join(w, w_on, "left")
        .join(s, s_on, "left")
        .join(n, n_on, "left")
    )
    ev_, wv, sv, nv = (
        F.coalesce(F.col(f"{x}.v"), F.lit(0)) for x in ("e", "w", "s", "n")
    )
    gx, gy = ev_ - wv, sv - nv
    aspect = (
        F.when((ev_ == wv) & (sv == nv), F.lit("flat"))
        .when(
            F.abs(ev_ - wv) >= F.abs(sv - nv),
            F.when(ev_ > wv, F.lit("east")).otherwise(F.lit("west")),
        )
        .otherwise(F.when(sv > nv, F.lit("south")).otherwise(F.lit("north")))
    )
    return j.select(
        F.col("g.cx").alias("cx"),
        F.col("g.cy").alias("cy"),
        F.col("g.v").alias("v"),
        gx.alias("gx"),
        gy.alias("gy"),
        (gx * gx + gy * gy).alias("mag2"),
        aspect.alias("aspect"),
    )



@register("geohash_decode_roundtrip", _geohash_roundtrip_oracle())
def geohash_decode_roundtrip(spark, sf_dir):
    """Geohash DECODE (the inverse interop path: external geohashed data
    → coordinates): base32 → 40-bit Morton code → bit compaction →
    cell-center doubles, all power-of-two arithmetic so both engines
    emit the identical value; the roundtrip flag asserts every decoded
    center sits within half a quantization cell of the original point.
    Pure codegen — array_position + shifts, no UDF, no shuffle."""
    from gipspark.functions.geohash import geohash_decode

    half_lat = 180.0 / (1 << 21)
    half_lon = 360.0 / (1 << 21)
    c = load(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    dec = pts.select(
        "c_custkey",
        "lat",
        "lon",
        geohash_decode(geohash_col(F.col("lat"), F.col("lon"), 8)).alias("d"),
    )
    return dec.select(
        "c_custkey",
        F.col("d.lat").alias("dec_lat"),
        F.col("d.lon").alias("dec_lon"),
        (
            (F.abs(F.col("d.lat") - F.col("lat")) <= half_lat)
            & (F.abs(F.col("d.lon") - F.col("lon")) <= half_lon)
        ).alias("ok"),
    )



@register(
    "decayed_tile_heat",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         cast(ts as date) AS d FROM events
), anchor AS (SELECT max(cast(ts as date)) AS mx FROM events)
SELECT {C.TILE_SQL.format(lat='lat', lon='lon')} AS tile_id,
       cast(sum(1::bigint << (30 - least(cast(a.mx - d as int), 30))) as bigint) AS heat_ticks,
       cast(count(*) as bigint) AS n
FROM pts CROSS JOIN anchor a
GROUP BY tile_id
""",
)
def decayed_tile_heat(spark, sf_dir):
    """Freshness-weighted tile density: each event contributes
    2^(30 − age_days) ticks (half-life = 1 day), so the heat map decays
    exponentially without a single float — shifts of 1L are EXACT
    bigints, the sum is exact, and both engines agree regardless of sum
    order (the float version would be order-dependent). Ages clamp at
    30 days (contribution 1 tick). Anchor = max event date (1-row
    broadcast); one map-side-combinable aggregate on tile id."""
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.max(F.col("ts").cast("date")).alias("mx"))
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.col("ts").cast("date").alias("d"),
    )
    # shiftleft's DSL binding takes only an int literal; the SQL form
    # shifts by a column
    ticks = F.expr("shiftleft(cast(1 as bigint), cast(30 - least(datediff(mx, d), 30) as int))")
    return (
        pts.crossJoin(F.broadcast(anchor))
        .groupBy(C.tile_of(F.col("lat"), F.col("lon")).alias("tile_id"))
        .agg(F.sum(ticks).alias("heat_ticks"), F.count(F.lit(1)).alias("n"))
    )



@register("adaptive_quadtree_tiles", _adaptive_quadtree_sql())
def adaptive_quadtree_tiles(spark, sf_dir):
    """Density-adaptive tiling: the coarsest prefix-free quadkey cover
    of the customer points with ≤ 40 points per tile (forced leaves at
    depth 6) — what a tile server builds over megacity-skewed doc
    densities. One pass over points, then substr-pyramid rollups and
    per-depth broadcast parent joins over the CELL table; counts nest,
    so "all ancestors overfull" collapses to one parent check
    (operators/tiles.adaptive_quadtree)."""
    from gipspark.operators.tiles import adaptive_quadtree

    pts = _cust_pts(spark, sf_dir).select("lat", "lon")
    return adaptive_quadtree(pts, _AQT_K, _AQT_D)



@register(
    "tile_presence_bitmap",
    # day-of-January bitmask per 10° cell: bit d set ⟺ any event on
    # 2024-01-(d+1). The events fixture spans one month, so the mask
    # fits a bigint; the roaring-bitmap idea at its word-sized core.
    # lat/lon bound in a CTE first — the derived-column SQL is not a
    # fully parenthesized expression (the round-2 oracle rule)
    f"""
WITH raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon, ts
  FROM events
), pts AS (
  SELECT cast(floor((lon + 180.0) / 10.0) as int) * 100
           + cast(floor((90.0 - lat) / 10.0) as int) AS cell,
         epoch_us(ts) // 1000000 // 86400 - 19723 AS day
  FROM raw
)
SELECT cell,
       cast(bit_or(cast(1 as bigint) << cast(day as int)) as bigint) AS day_mask,
       cast(count(DISTINCT day) as bigint) AS n_days,
       cast(min(day) as bigint) AS first_day, cast(max(day) as bigint) AS last_day
FROM pts GROUP BY cell
""",
)
def tile_presence_bitmap(spark, sf_dir):
    """Per-tile presence bitmap: one bigint whose bit d says "this cell
    had traffic on day d" — the word-sized core of a roaring-bitmap
    index, and the cheapest way to ship per-tile activity calendars out
    of a 10^12-row table (ONE map-side-combinable bit_or aggregate; the
    mask then answers arbitrary day-set intersections without rescans,
    like the HLL/CMS sketch pyramid). Day 0 = 2024-01-01 (epoch day
    19723); the fixture's single month keeps the mask in 64 bits —
    longer calendars shard the mask by month partition."""
    ev = load(spark, sf_dir, "events")
    lat = C.derived_lat(F.col("event_id"))
    lon = C.derived_lon(F.col("event_id"))
    pts = ev.select(
        (
            F.floor((lon + F.lit(180.0)) / F.lit(10.0)).cast("int") * 100
            + F.floor((F.lit(90.0) - lat) / F.lit(10.0)).cast("int")
        ).alias("cell"),
        (F.expr("unix_timestamp(ts) div 86400") - F.lit(19723)).alias("day"),
    )
    return pts.groupBy("cell").agg(
        # F.shiftleft only takes a literal shift; the SQL form shifts by a column
        F.bit_or(F.expr("shiftleft(cast(1 as bigint), cast(day as int))")).alias("day_mask"),
        F.count_distinct("day").cast("long").alias("n_days"),
        F.min("day").cast("long").alias("first_day"),
        F.max("day").cast("long").alias("last_day"),
    )



@register(
    "focal_median_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
), sh AS (
  SELECT g.cx + o.dx AS cx, g.cy + o.dy AS cy, g.v
  FROM grid g, (VALUES {', '.join(f'({dx}, {dy})' for dx, dy in _FOCAL_OFFS)}) AS o(dx, dy)
), ag AS (
  SELECT t.cx, t.cy, t.v, list(s.v) AS vs
  FROM grid t JOIN sh s ON s.cx = t.cx AND s.cy = t.cy
  GROUP BY t.cx, t.cy, t.v
)
SELECT cx, cy, v,
       list_sort(list_concat(vs, list_transform(generate_series(1, 9 - len(vs)),
                                                x -> cast(0 as bigint))))[5] AS med9
FROM ag
""",
)
def focal_median_cells(spark, sf_dir):
    """Focal 3×3 median filter over the event-density raster — the
    classic salt-and-pepper denoise kernel (GDAL focal statistics),
    sparse-raster form: absent neighbors are zero-valued pixels, so
    each occupied cell's window is padded to 9 with zeros before the
    exact integer median. The point table collapses to cells in ONE
    aggregate; the neighborhood is a 9-offset explode + equi-join over
    the dense-cell table (dim-scale, never the point table)."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("v"))
    )
    sh = grid.select(
        "v",
        F.explode(
            F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _FOCAL_OFFS])
        ).alias("o"),
        F.col("cx").alias("scx"),
        F.col("cy").alias("scy"),
    ).select(
        (F.col("scx") + F.col("o.dx")).alias("cx"),
        (F.col("scy") + F.col("o.dy")).alias("cy"),
        F.col("v").alias("nv"),
    )
    ag = (
        grid.join(sh, ["cx", "cy"])
        .groupBy("cx", "cy", "v")
        .agg(F.collect_list("nv").alias("vs"))
    )
    padded = F.concat(
        F.col("vs"), F.array_repeat(F.lit(0).cast("long"), F.lit(9) - F.size("vs"))
    )
    return ag.select(
        "cx", "cy", "v", F.element_at(F.sort_array(padded), 5).alias("med9")
    )



@register(
    "theil_sen_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         epoch_us(ts) // 1000000 // 86400 AS d
  FROM events
), c AS (
  SELECT cast(floor((lon + 180.0) / {_MK_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MK_GRID}) as int) AS gy,
         d, cast(count(*) as bigint) AS x
  FROM pts GROUP BY gx, gy, d
), p AS (
  SELECT a.gx, a.gy,
         cast(b.x - a.x as bigint) AS dv, cast(b.d - a.d as bigint) AS dt, a.d AS t1,
         cast(b.x - a.x as double) / cast(b.d - a.d as double) AS slope
  FROM c a JOIN c b ON a.gx = b.gx AND a.gy = b.gy AND b.d > a.d
), r AS (
  SELECT gx, gy, slope,
         row_number() OVER (PARTITION BY gx, gy ORDER BY slope, dv, dt, t1) AS rn,
         count(*) OVER (PARTITION BY gx, gy) AS cnt
  FROM p
)
SELECT gx, gy, cast(cnt as bigint) AS n_pairs, slope AS sen_slope
FROM r WHERE rn = (cnt + 1) // 2
""",
)
def theil_sen_cells(spark, sf_dir):
    """Theil–Sen robust trend slope per 30° cell over the cell's daily
    event counts — the magnitude estimator paired with
    mann_kendall_cells' direction test (the emerging-hotspot duo).
    Pairwise slopes from a calendar-bounded self equi-join on the cell
    key; exact lower median selected by one window rank with full
    deterministic tie-breaks (operators/morans.py theil_sen)."""
    from gipspark.operators.morans import theil_sen

    ev = load(spark, sf_dir, "events").select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
    )
    c = ev.groupBy(
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_MK_GRID)).cast("int").alias("gx"),
        F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_MK_GRID)).cast("int").alias("gy"),
        "d",
    ).agg(F.count("*").cast("long").alias("x"))
    return theil_sen(c, ["gx", "gy"], t_col="d", v_col="x")



@register(
    "hilbert_key_customers",
    "WITH "
    + hilbert_sql(
        key_expr="c_custkey",
        gx_expr=_HILBERT_GX,
        gy_expr=_HILBERT_GY,
        table_sql="SELECT c_custkey FROM customer",
        bits=16,
    )
    + "\nSELECT key AS c_custkey, gx, gy, hkey FROM hilbert",
)
def hilbert_key_customers(spark, sf_dir):
    """Hilbert-curve clustering key per customer point — the
    locality-optimal layout key (vs zorder_cluster_customers' Morton):
    sorting/bucketing files by hkey makes every lat/lon range scan
    prune to contiguous key ranges with no Z-jumps. Grid coords are
    exact 16-bit integer divisions of the derived milli-degree ticks
    (`div` both engines); the 4-state machine is derived from the xy2d
    loop at import and rendered into both engines from the same tables
    (operators/hilbert.py), so keys are bit-exact."""
    from gipspark.operators.hilbert import hilbert_key_df

    c = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        f"(((cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD}) * 65536) div {C.LAT_MOD} as gx",
        f"(((cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD}) * 65536) div {C.LON_MOD} as gy",
    )
    return hilbert_key_df(c, "gx", "gy", bits=16, out="hkey")



@register(
    "d8_flow_cells",
    f"""
WITH {_D8_GRID_SQL}, inflow AS (
  SELECT tx AS cx, ty AS cy, cast(count(*) as bigint) AS n_in
  FROM full_grid WHERE dir >= 0 GROUP BY tx, ty
)
SELECT f.cx, f.cy, f.v, f.dir, f.tx, f.ty,
       coalesce(i.n_in, 0) AS n_in, (f.dir = -1) AS is_sink
FROM full_grid f LEFT JOIN inflow i ON i.cx = f.cx AND i.cy = f.cy
""",
)
def d8_flow_cells(spark, sf_dir):
    """D8 flow direction over the 2.5° event-density raster — the
    hydrology kernel (each cell drains to its strictly-lowest 8-neighbor;
    no lower neighbor = a sink/pit) plus per-cell inflow degree, the
    first step of flow accumulation / watershed labeling. Scale shape:
    the point table collapses to cells in ONE map-side-combinable agg;
    the neighbor candidates come from an 8-offset explode + equi-join
    over the dense-cell table only (sparse-raster focal idiom, same as
    focal_median_cells — shuffle O(cells·8), never O(points)); the
    steepest-descent pick is a per-cell window over ≤8 rows with the
    deterministic (value, direction) tie-break; inflow is one more
    cell-scale agg. All-integer comparisons — no slopes, no trig."""
    full = _d8_full(spark, sf_dir)
    inflow = (
        full.filter(F.col("dir") >= 0)
        .groupBy(F.col("tx").alias("icx"), F.col("ty").alias("icy"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_in"))
    )
    return full.join(
        inflow,
        (F.col("icx") == F.col("cx")) & (F.col("icy") == F.col("cy")),
        "left",
    ).select(
        "cx", "cy", "v", "dir", "tx", "ty",
        F.coalesce("n_in", F.lit(0).cast("long")).alias("n_in"),
        (F.col("dir") == -1).alias("is_sink"),
    )



@register(
    "raster_regions_cells",
    f"""
WITH RECURSIVE pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_MORAN_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MORAN_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS x
  FROM pts GROUP BY gx, gy
), ids AS (
  SELECT gx, gy, x, cast(gx as bigint) * 1000 + gy AS id FROM cells
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
  SELECT i.gx, i.gy, i.x, coalesce(l.region_id, i.id) AS region_id
  FROM ids i LEFT JOIN lbl l ON l.id = i.id
), sz AS (
  SELECT region_id, cast(count(*) as bigint) AS region_cells,
         cast(sum(x) as bigint) AS region_points
  FROM full_lbl GROUP BY region_id
)
SELECT f.gx, f.gy, f.x, f.region_id, s.region_cells, s.region_points
FROM full_lbl f JOIN sz s ON s.region_id = f.region_id
""",
)
def raster_regions_cells(spark, sf_dir):
    """Contiguous-region labeling of the occupied 15° customer lattice
    (GDAL sieve / raster polygonization step 1): rook-connected cells
    share a region labeled by the component's minimum cell id, with
    region size in cells and points. Edges come from the offset-explode
    rook equi-join (shuffle O(cells), never θ); labels from the shared
    pointer-jumping min-label propagation (operators/components.py,
    ⌈log d⌉ rounds, loud on non-convergence); isolated cells label
    themselves via the left-join coalesce. Cell ids are gx·1000+gy
    (both non-negative on this grid). Oracle: recursive reachability +
    min, the near_dedup_clusters pattern on the lattice graph."""
    from gipspark.operators.components import connected_components
    from gipspark.operators.morans import ROOK_OFFSETS, cell_counts

    pts = load(spark, sf_dir, "customer").select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    ids = cell_counts(pts, _MORAN_GRID).select(
        "gx", "gy", F.col("x").cast("long").alias("x"),
        (F.col("gx").cast("long") * 1000 + F.col("gy")).alias("id"),
    )
    shifted = ids.select(
        F.col("id").alias("id_b"),
        F.explode(
            F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in ROOK_OFFSETS])
        ).alias("o"),
        F.col("gx").alias("bgx"),
        F.col("gy").alias("bgy"),
    ).select(
        (F.col("bgx") + F.col("o.dx")).alias("gx"),
        (F.col("bgy") + F.col("o.dy")).alias("gy"),
        "id_b",
    )
    pairs = (
        ids.join(shifted, ["gx", "gy"])
        .filter(F.col("id") < F.col("id_b"))
        .select(F.col("id").alias("id_a"), "id_b")
    )
    lbl = connected_components(pairs)
    full_lbl = ids.join(lbl, ids.id == lbl.node, "left").select(
        "gx", "gy", "x", F.coalesce("comp", F.col("id")).alias("region_id")
    )
    sz = full_lbl.groupBy("region_id").agg(
        F.count(F.lit(1)).cast("long").alias("region_cells"),
        F.sum("x").cast("long").alias("region_points"),
    )
    return full_lbl.join(F.broadcast(sz), "region_id").select(
        "gx", "gy", "x", "region_id", "region_cells", "region_points"
    )



@register(
    "flow_rose_cells",
    f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         (cast(event_id as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS la,
         (cast(event_id as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS lo
  FROM events
), seq AS (
  SELECT cast(floor((lag(lo) OVER w + 180000.0) / 10000.0) as int) * 100
           + cast(floor((60000.0 - lag(la) OVER w) / 10000.0) as int) AS cell,
         lo - lag(lo) OVER w AS dx,
         la - lag(la) OVER w AS dy
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), cls AS (
  SELECT cell, {_OCTANT_CASE} AS octant FROM seq WHERE dx IS NOT NULL
)
SELECT cell, octant, cast(count(*) as bigint) AS n_moves
FROM cls GROUP BY cell, octant
""",
)
def flow_rose_cells(spark, sf_dir):
    """Directional flow rose per origin cell — the wind-rose of
    movement: every consecutive ping pair classified into one of 8
    compass octants by EXACT integer delta comparisons (the turn_stats
    trig-free trick: sign and |dx| vs |dy| tests, one CASE expression
    shared textually by both engines — no atan2, no boundary-ulp risk;
    octant -1 = stationary). One user_id window shuffle, one hash agg;
    output bounded by cells × 9."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", "ts", "event_id",
        ((F.col("event_id").cast("long") * C.LAT_MUL) % C.LAT_MOD - 60000).alias("la"),
        ((F.col("event_id").cast("long") * C.LON_MUL) % C.LON_MOD - 180000).alias("lo"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = pts.select(
        (
            F.floor((F.lag("lo").over(w) + 180000.0) / 10000.0).cast("int") * 100
            + F.floor((60000.0 - F.lag("la").over(w)) / 10000.0).cast("int")
        ).alias("cell"),
        (F.col("lo") - F.lag("lo").over(w)).alias("dx"),
        (F.col("la") - F.lag("la").over(w)).alias("dy"),
    ).filter(F.col("dx").isNotNull())
    cls = seq.select("cell", F.expr(_OCTANT_CASE).alias("octant"))
    return cls.groupBy("cell", "octant").agg(
        F.count(F.lit(1)).cast("long").alias("n_moves")
    )



@register(
    "cusum_changepoint_cells",
    # CUSUM change-point over each cell's daily event-count series:
    # max_k |n·S_k − k·S_n| (the centered cumulative sum cleared of
    # division) — exact bigints end to end, the normalized statistic
    # the only double. k indexes OBSERVED days (gaps collapse), which
    # both engines compute identically via row_number over day.
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         epoch_us(ts) // 1000000 // 86400 AS d
  FROM events
), c AS (
  SELECT cast(floor((lon + 180.0) / {_CUSUM_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_CUSUM_GRID}) as int) AS gy,
         d, cast(count(*) as bigint) AS x
  FROM pts GROUP BY gx, gy, d
), r AS (
  SELECT gx, gy, d,
         cast(row_number() OVER (PARTITION BY gx, gy ORDER BY d) as bigint) AS k,
         sum(x) OVER (PARTITION BY gx, gy ORDER BY d) AS s_k,
         cast(count(*) OVER (PARTITION BY gx, gy) as bigint) AS n,
         sum(x) OVER (PARTITION BY gx, gy) AS s_n
  FROM c
), dev AS (
  SELECT gx, gy, d, n, s_n, abs(n * s_k - k * s_n) AS dnum FROM r
), pick AS (
  SELECT gx, gy, d, n, s_n, dnum,
         row_number() OVER (PARTITION BY gx, gy ORDER BY dnum DESC, d ASC) AS rn
  FROM dev
)
SELECT gx, gy, cast(n as bigint) AS n_days, cast(s_n as bigint) AS total_events,
       cast(dnum as bigint) AS d_num, cast(d as bigint) AS change_day,
       cast(dnum as double) / (cast(n as double) * cast(s_n as double)) AS cusum_stat
FROM pick WHERE rn = 1
""",
)
def cusum_changepoint_cells(spark, sf_dir):
    """CUSUM change-point detection per 30° cell: the day where each
    cell's cumulative event count deviates most from its own uniform
    trend — the burst-ONSET locator that complements mann_kendall_cells
    (direction) and theil_sen_cells (magnitude): MK says a cell is
    rising, CUSUM says since when. |n·S_k − k·S_n| clears the division
    so the scan statistic is an exact bigint; ties resolve to the
    earliest day; the normalized statistic is the only double.

    Scale shape: one (cell, day) hash-agg over the big table, then
    windows partitioned by cell over calendar-bounded daily series —
    the same one-shuffle lattice pattern as the Mann–Kendall twin."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("d"),
    )
    c = pts.groupBy(
        F.floor((F.col("lon") + 180.0) / F.lit(_CUSUM_GRID)).cast("int").alias("gx"),
        F.floor((90.0 - F.col("lat")) / F.lit(_CUSUM_GRID)).cast("int").alias("gy"),
        "d",
    ).agg(F.count("*").cast("long").alias("x"))
    wcell = Window.partitionBy("gx", "gy")
    wday = wcell.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    r = c.select(
        "gx",
        "gy",
        "d",
        F.row_number().over(wcell.orderBy("d")).cast("long").alias("k"),
        F.sum("x").over(wday).alias("s_k"),
        F.count("*").over(wcell).cast("long").alias("n"),
        F.sum("x").over(wcell).alias("s_n"),
    )
    dev = r.select(
        "gx", "gy", "d", "n", "s_n", F.abs(F.col("n") * F.col("s_k") - F.col("k") * F.col("s_n")).alias("dnum")
    )
    pick = dev.withColumn(
        "rn",
        F.row_number().over(wcell.orderBy(F.col("dnum").desc(), F.col("d").asc())),
    ).filter(F.col("rn") == 1)
    return pick.select(
        "gx",
        "gy",
        F.col("n").cast("long").alias("n_days"),
        F.col("s_n").cast("long").alias("total_events"),
        F.col("dnum").cast("long").alias("d_num"),
        F.col("d").cast("long").alias("change_day"),
        (F.col("dnum").cast("double") / (F.col("n").cast("double") * F.col("s_n").cast("double"))).alias(
            "cusum_stat"
        ),
    )



@register(
    "coverage_gaps_cells",
    # inventory completeness per cell: which cells have day-level holes
    # in the global observation span, and how big the worst hole is.
    # Gaps come from lead() over each cell's observed days plus the two
    # edge gaps vs the global span — no calendar explode needed.
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         epoch_us(ts) // 1000000 // 86400 AS d
  FROM events
), c AS (
  SELECT cast(floor((lon + 180.0) / {_GAP_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_GAP_GRID}) as int) AS gy,
         d
  FROM pts GROUP BY gx, gy, d
), g AS (SELECT min(d) AS d0, max(d) AS d1 FROM c),
w AS (
  SELECT gx, gy, d,
         lead(d) OVER (PARTITION BY gx, gy ORDER BY d) AS dn,
         min(d) OVER (PARTITION BY gx, gy) AS dmin,
         max(d) OVER (PARTITION BY gx, gy) AS dmax,
         cast(count(*) OVER (PARTITION BY gx, gy) as bigint) AS active_days
  FROM c
), per AS (
  SELECT gx, gy, active_days, dmin, dmax,
         max(CASE WHEN dn IS NULL THEN 0 ELSE dn - d - 1 END) AS max_inner_gap
  FROM w GROUP BY gx, gy, active_days, dmin, dmax
)
SELECT gx, gy, active_days,
       cast((SELECT d1 - d0 + 1 FROM g) as bigint) AS span_days,
       cast((SELECT d1 - d0 + 1 FROM g) as bigint) - active_days AS missing_days,
       cast(greatest(max_inner_gap,
                     dmin - (SELECT d0 FROM g),
                     (SELECT d1 FROM g) - dmax) as bigint) AS max_gap
FROM per
""",
)
def coverage_gaps_cells(spark, sf_dir):
    """Inventory completeness per 30° cell — the GIPS-flavored
    "missing assets" report: for every cell, how many days of the
    global observation span have NO events, and the worst contiguous
    hole (counting the edges against the global first/last day). This
    is the operational complement of inventory_matrix: that one says
    what exists, this one says what's missing and how badly.

    Scale shape: one (cell, day) hash-agg (big table collapses
    immediately), a 1-row global-span aggregate broadcast in, and
    lead()/min/max windows partitioned by cell over calendar-bounded
    series — no dense calendar explode, no grid join."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("d"),
    )
    c = (
        pts.groupBy(
            F.floor((F.col("lon") + 180.0) / F.lit(_GAP_GRID)).cast("int").alias("gx"),
            F.floor((90.0 - F.col("lat")) / F.lit(_GAP_GRID)).cast("int").alias("gy"),
            "d",
        )
        .agg(F.count("*").alias("__n"))
        .drop("__n")
    )
    g = c.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    wcell = Window.partitionBy("gx", "gy")
    w = c.select(
        "gx",
        "gy",
        "d",
        F.lead("d").over(wcell.orderBy("d")).alias("dn"),
        F.min("d").over(wcell).alias("dmin"),
        F.max("d").over(wcell).alias("dmax"),
        F.count("*").over(wcell).cast("long").alias("active_days"),
    )
    per = w.groupBy("gx", "gy", "active_days", "dmin", "dmax").agg(
        F.max(
            F.when(F.col("dn").isNull(), F.lit(0)).otherwise(F.col("dn") - F.col("d") - 1)
        ).alias("max_inner_gap")
    )
    out = (
        per.withColumn("__k", F.lit(1))
        .join(F.broadcast(g.withColumn("__k", F.lit(1))), "__k")
        .drop("__k")
    )
    return out.select(
        "gx",
        "gy",
        "active_days",
        (F.col("d1") - F.col("d0") + 1).cast("long").alias("span_days"),
        ((F.col("d1") - F.col("d0") + 1) - F.col("active_days")).cast("long").alias("missing_days"),
        F.greatest(
            F.col("max_inner_gap"),
            F.col("dmin") - F.col("d0"),
            F.col("d1") - F.col("dmax"),
        )
        .cast("long")
        .alias("max_gap"),
    )



@register(
    "bivariate_moran_cells",
    # bivariate Moran's I between customer density and account wealth
    # on the 15° lattice; deviations n·v − S exact, num and moments in
    # HUGEINT/DECIMAL(38,0) (money-scale products exceed int64), index
    # the only double in the same textual order.
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon,
         cast(round(c_acctbal * 100) as bigint) AS bal
  FROM customer
), c AS (
  SELECT cast(floor((lon + 180.0) / {_BIV_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_BIV_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS x, cast(sum(bal) as bigint) AS y
  FROM pts GROUP BY gx, gy
), s AS (SELECT cast(count(*) as bigint) AS n, cast(sum(x) as bigint) AS sx, cast(sum(y) as bigint) AS sy FROM c),
dev AS (
  SELECT gx, gy, s.n,
         cast(s.n as hugeint) * cast(x as hugeint) - cast(s.sx as hugeint) AS devx,
         cast(s.n as hugeint) * cast(y as hugeint) - cast(s.sy as hugeint) AS devy
  FROM c CROSS JOIN s
), sh AS (
  SELECT gx + o.dx AS gx, gy + o.dy AS gy, devy AS devy_j
  FROM dev CROSS JOIN (VALUES (1,0),(-1,0),(0,1),(0,-1)) AS o(dx, dy)
), pr AS (SELECT dev.n, dev.devx, sh.devy_j FROM dev JOIN sh USING (gx, gy)),
agg AS (
  SELECT cast(min(n) as bigint) AS n_cells, cast(count(*) as bigint) AS w_links,
         sum(devx * devy_j) AS num
  FROM pr
), mom AS (SELECT sum(devx * devx) AS mxx, sum(devy * devy) AS myy FROM dev)
SELECT n_cells, w_links,
       cast(num as double) AS num, cast(mxx as double) AS mxx, cast(myy as double) AS myy,
       (cast(n_cells as double) / cast(w_links as double)) * cast(num as double)
         / sqrt(cast(mxx as double)) / sqrt(cast(myy as double)) AS moran_ixy
FROM agg CROSS JOIN mom
""",
)
def bivariate_moran_cells(spark, sf_dir):
    """Bivariate Moran's I between customer DENSITY and customer
    WEALTH on the 15° lattice — the cross-variable completion of the
    lattice-statistics family (Moran/Geary/LISA answer "is x next to
    x?", this answers "is x next to y?" — the spillover question).
    operators/morans.py bivariate_moran: same rook offset-explode
    equi-join, exact n·v − S deviations, money-scale products in
    DECIMAL(38,0)/HUGEINT, the index the only double."""
    from gipspark.operators.morans import bivariate_moran

    pts = load(spark, sf_dir, "customer").select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
    )
    cells = pts.groupBy(
        F.floor((F.col("lon") + 180.0) / F.lit(_BIV_GRID)).cast("int").alias("gx"),
        F.floor((90.0 - F.col("lat")) / F.lit(_BIV_GRID)).cast("int").alias("gy"),
    ).agg(F.count("*").cast("long").alias("x"), F.sum("bal").cast("long").alias("y"))
    return bivariate_moran(cells)



@register(
    "isochrone_hops_cells",
    f"""
WITH RECURSIVE occ AS (
  SELECT DISTINCT
    cast(floor(cast((cast(event_id as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 as double) / {_ISO_CELL}.0) as bigint) AS gx,
    cast(floor(cast((cast(event_id as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 as double) / {_ISO_CELL}.0) as bigint) AS gy
  FROM events
), occn AS (
  SELECT (gx + 100) * 1000 + (gy + 100) AS node, gx, gy FROM occ
), sup AS (
  SELECT DISTINCT
    cast(floor(cast((cast(s_suppkey as bigint) * 31 + 7) * {C.LAT_MUL} % {C.LAT_MOD} - 60000 as double) / {_ISO_CELL}.0) as bigint) AS gx,
    cast(floor(cast((cast(s_suppkey as bigint) * 31 + 7) * {C.LON_MUL} % {C.LON_MOD} - 180000 as double) / {_ISO_CELL}.0) as bigint) AS gy
  FROM supplier
), seeds AS (
  SELECT o.node FROM occn o JOIN sup s ON o.gx = s.gx AND o.gy = s.gy
), edges AS (
  SELECT o.node AS src, n.node AS dst
  FROM occn o
  JOIN (VALUES {', '.join(f'({dx}, {dy})' for dx, dy in _ISO_OFF)}) AS t(dx, dy) ON true
  JOIN occn n ON n.gx = o.gx + t.dx AND n.gy = o.gy + t.dy
), bfs AS (
  SELECT node, cast(0 as bigint) AS hops FROM seeds
  UNION ALL
  SELECT e.dst, b.hops + 1 FROM bfs b JOIN edges e ON b.node = e.src WHERE b.hops < {_ISO_K}
)
SELECT node, cast(min(hops) as bigint) AS hops FROM bfs GROUP BY node ORDER BY node
""",
)
def isochrone_hops_cells(spark, sf_dir):
    """Grid isochrone / service area: minimum number of 8-adjacent
    occupied-cell steps (≤ {_ISO_K}) from the nearest supplier-occupied
    cell, over the cells the event cloud actually occupies — the
    drive-time-band question asked of facility networks, on the lattice
    instead of a road graph. Engine side: events collapse to distinct
    cells in one hash agg; the adjacency edge table is an 8-offset
    explode + equi-join over OCCUPIED cells only (orders of magnitude
    smaller than the points); multi-source BFS runs k min-agg relax
    rounds with every seed in one frontier
    (operators/shortestpath.py multi_source_hops). The oracle replays
    the same lattice as a bounded recursive CTE. Exact integers end to
    end; cell key (gx+100)*1000+(gy+100) is stride-safe at 2.5°
    (gridcluster's guard)."""
    ev = load(spark, sf_dir, "events")
    la = (F.col("event_id").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD) - F.lit(60000)
    lo = (F.col("event_id").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD) - F.lit(180000)
    occ = ev.select(
        F.floor(la.cast("double") / F.lit(float(_ISO_CELL))).cast("long").alias("gx"),
        F.floor(lo.cast("double") / F.lit(float(_ISO_CELL))).cast("long").alias("gy"),
    ).distinct()
    node = ((F.col("gx") + 100) * 1000 + (F.col("gy") + 100)).alias("node")
    occn = occ.select(node, "gx", "gy")

    sk = F.col("s_suppkey").cast("long") * 31 + 7
    sla = (sk * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD) - F.lit(60000)
    slo = (sk * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD) - F.lit(180000)
    sup = (
        load(spark, sf_dir, "supplier")
        .select(
            F.floor(sla.cast("double") / F.lit(float(_ISO_CELL))).cast("long").alias("gx"),
            F.floor(slo.cast("double") / F.lit(float(_ISO_CELL))).cast("long").alias("gy"),
        )
        .distinct()
    )
    seeds = occn.join(sup, ["gx", "gy"]).select("node")

    offs = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _ISO_OFF])
    ).alias("o")
    nbr = occn.select("node", "gx", "gy", offs).select(
        F.col("node").alias("src"),
        (F.col("gx") + F.col("o.dx")).alias("gx"),
        (F.col("gy") + F.col("o.dy")).alias("gy"),
    )
    edges = nbr.join(occn.select(F.col("node").alias("dst"), "gx", "gy"), ["gx", "gy"]).select(
        "src", "dst"
    )

    from gipspark.operators.shortestpath import multi_source_hops

    return multi_source_hops(seeds, edges, _ISO_K).orderBy("node")



# --- round-4 batch: iterative/recursive + inequality/graph stats -----------


@register(
    "flow_accumulation_cells",
    f"""
WITH RECURSIVE {_D8_GRID_SQL}, walk AS (
  SELECT cx, cy, tx AS ccx, ty AS ccy FROM full_grid WHERE dir >= 0
  UNION ALL
  SELECT w.cx, w.cy, f.tx, f.ty
  FROM walk w JOIN full_grid f ON f.cx = w.ccx AND f.cy = w.ccy AND f.dir >= 0
), ups AS (
  SELECT w.ccx AS cx, w.ccy AS cy, cast(count(*) as bigint) AS n_upstream,
         cast(sum(g.v) as bigint) AS v_upstream
  FROM walk w JOIN full_grid g ON g.cx = w.cx AND g.cy = w.cy
  GROUP BY w.ccx, w.ccy
)
SELECT f.cx, f.cy, f.v,
       coalesce(u.n_upstream, cast(0 as bigint)) AS n_upstream,
       cast(f.v + coalesce(u.v_upstream, 0) as bigint) AS drainage,
       (f.dir = -1) AS is_sink
FROM full_grid f LEFT JOIN ups u ON u.cx = f.cx AND u.cy = f.cy
""",
)
def flow_accumulation_cells(spark, sf_dir):
    """Flow accumulation over the D8 pointer raster — the hydrology
    step between d8_flow_cells (local pointers) and watershed_basins
    (sink labels): every cell's upstream-cell count and accumulated
    drainage volume (own density + all upstream densities). The
    upstream relation is the transitive closure of a FUNCTIONAL forest
    (each cell ≤1 out-pointer, strictly decreasing density ⇒ acyclic),
    so Spark materializes the (cell, ancestor) pair set by pointer
    DOUBLING — P ← P ∪ P∘P, ⌈log₂ depth⌉ equi-join rounds with
    localCheckpoint lineage cuts — never one-hop-per-pass. Pair volume
    is O(cells·depth), the same rows the oracle's recursive CTE walks;
    the raster is fixed-size (grid cells, not points), so at 100 TB the
    only point-scale work remains the ONE map-side-combinable density
    agg inside _d8_full. All-integer sums; no floats anywhere."""
    full = _d8_full(spark, sf_dir)
    nodes = full.select(
        (F.col("cx").cast("long") * 1000 + F.col("cy")).alias("id"),
        F.col("v"),
        F.when(
            F.col("dir") >= 0, F.col("tx").cast("long") * 1000 + F.col("ty")
        ).alias("nxt"),
    )
    pairs = nodes.filter(F.col("nxt").isNotNull()).select(
        "id", F.col("nxt").alias("anc")
    ).localCheckpoint()
    prev = pairs.count()
    for _ in range(8):  # depth ≤ 2^8 — the 2.5° grid is ≤144 cells wide
        comp = (
            pairs.alias("x")
            .join(pairs.alias("y"), F.col("x.anc") == F.col("y.id"))
            .select(F.col("x.id").alias("id"), F.col("y.anc").alias("anc"))
        )
        pairs = pairs.unionByName(comp).distinct().localCheckpoint()
        cur = pairs.count()
        if cur == prev:
            break
        prev = cur
    ups = (
        pairs.join(nodes.select("id", F.col("v").alias("uv")), "id")
        .groupBy(F.col("anc").alias("id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_upstream"),
            F.sum("uv").cast("long").alias("v_upstream"),
        )
    )
    return nodes.join(ups, "id", "left").select(
        F.expr("cast(id div 1000 as int)").alias("cx"),
        F.expr("cast(id % 1000 as int)").alias("cy"),
        "v",
        F.coalesce("n_upstream", F.lit(0).cast("long")).alias("n_upstream"),
        (F.col("v") + F.coalesce("v_upstream", F.lit(0))).cast("long").alias("drainage"),
        F.col("nxt").isNull().alias("is_sink"),
    )



@register(
    "location_quotient_cells",
    f"""
WITH d AS (
  SELECT cast(floor((({_LON.format(k='doc_id')}) + 180.0) / 15.0) as int) AS gx,
         cast(floor((90.0 - ({_LAT.format(k='doc_id')})) / 15.0) as int) AS gy,
         lang
  FROM documents
), cl AS (
  SELECT gx, gy, lang, cast(count(*) as bigint) AS n_cl FROM d GROUP BY gx, gy, lang
), c AS (
  SELECT gx, gy, cast(sum(n_cl) as bigint) AS n_c FROM cl GROUP BY gx, gy
), l AS (
  SELECT lang, cast(sum(n_cl) as bigint) AS n_l FROM cl GROUP BY lang
), t AS (
  SELECT cast(count(*) as bigint) AS n_tot FROM d
)
SELECT cl.gx, cl.gy, cl.lang, cl.n_cl, c.n_c, l.n_l, t.n_tot,
       (cast(cl.n_cl as double) * cast(t.n_tot as double))
         / (cast(c.n_c as double) * cast(l.n_l as double)) AS lq
FROM cl JOIN c ON c.gx = cl.gx AND c.gy = cl.gy
JOIN l ON l.lang = cl.lang CROSS JOIN t
WHERE cl.n_cl >= 2
""",
)
def location_quotient_cells(spark, sf_dir):
    """Location quotient per (15° cell, lang): the share of a language
    inside a cell relative to its global share — LQ>1 marks regional
    over-representation, the geo-web analogue of industry LQ in
    regional science. Exact: LQ = n_cl·N / (n_c·n_l) with all four
    moments integer and ONE fixed-form double expression (products in
    double are exact below 2^53). Shape: one cell+lang agg off the doc
    scan, two dim-scale reaggs, broadcast joins back — the corpus is
    touched once; the n_cl≥2 floor keeps singleton noise out. The
    global total rides as a window sum over the tiny per-lang dim (no
    1-row cross join, which would plan a BroadcastNestedLoopJoin)."""
    d = load(spark, sf_dir, "documents").select(
        F.floor((C.derived_lon(F.col("doc_id")) + 180.0) / 15.0).cast("int").alias("gx"),
        F.floor((90.0 - C.derived_lat(F.col("doc_id"))) / 15.0).cast("int").alias("gy"),
        "lang",
    )
    cl = d.groupBy("gx", "gy", "lang").agg(F.count(F.lit(1)).cast("long").alias("n_cl"))
    c = cl.groupBy("gx", "gy").agg(F.sum("n_cl").cast("long").alias("n_c"))
    lt = (
        cl.groupBy("lang")
        .agg(F.sum("n_cl").cast("long").alias("n_l"))
        .withColumn("n_tot", F.sum("n_l").over(Window.partitionBy()))
    )
    return (
        cl.filter(F.col("n_cl") >= 2)
        .join(F.broadcast(c), ["gx", "gy"])
        .join(F.broadcast(lt), "lang")
        .select(
            "gx", "gy", "lang", "n_cl", "n_c", "n_l", "n_tot",
            (
                (F.col("n_cl").cast("double") * F.col("n_tot").cast("double"))
                / (F.col("n_c").cast("double") * F.col("n_l").cast("double"))
            ).alias("lq"),
        )
    )



@register(
    "viewshed_scanline_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
), sc AS (
  SELECT cx, cy, v,
         first_value(cx) OVER wr AS ocx,
         first_value(v) OVER wr AS ov
  FROM grid
  WINDOW wr AS (PARTITION BY cy ORDER BY cx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tan AS (
  SELECT cx, cy, v, cast(cx - ocx as bigint) AS d,
         CASE WHEN cx > ocx THEN
           cast(floor(cast((v - ov) * {_VS_SCALE} as double) / (cx - ocx)) as bigint)
         END AS tan_ticks
  FROM sc
), vis AS (
  SELECT cx, cy, v, d, tan_ticks,
         max(tan_ticks) OVER (PARTITION BY cy ORDER BY cx
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
  FROM tan
)
SELECT cx, cy, v, d, tan_ticks,
       (d = 0 OR prevmax IS NULL OR tan_ticks > prevmax) AS visible
FROM vis
""",
)
def viewshed_scanline_cells(spark, sf_dir):
    """Scanline viewshed over the 2.5° event-density raster — the GIS
    line-of-sight kernel restricted to the west→east scan so it is
    window-expressible: the observer sits on each row's westernmost
    occupied cell, and a cell is visible iff its elevation angle
    strictly exceeds every angle between it and the observer. The
    tangent is frozen as integer ticks floor((v−v_obs)·2^20 / dist)
    (numerator exact in double far past any cell count, one IEEE
    divide + floor — bit-identical across engines), so the running
    occlusion horizon is a plain cumulative MAX over the preceding
    frame: two window passes on a cell-scale frame, zero joins, and
    the only point-scale work is the one map-side-combinable density
    agg. Classic viewshed's per-pair Bresenham walk never appears —
    at 100 TB the raster stays fixed-size and the scan stays linear."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    wr = Window.partitionBy("cy").orderBy("cx")
    sc = grid.select(
        "cx", "cy", "v",
        F.first("cx").over(wr).alias("ocx"),
        F.first("v").over(wr).alias("ov"),
    )
    tan = sc.select(
        "cx", "cy", "v",
        (F.col("cx") - F.col("ocx")).cast("long").alias("d"),
        F.when(
            F.col("cx") > F.col("ocx"),
            F.floor(
                ((F.col("v") - F.col("ov")) * F.lit(_VS_SCALE)).cast("double")
                / (F.col("cx") - F.col("ocx"))
            ).cast("long"),
        ).alias("tan_ticks"),
    )
    wprev = wr.rowsBetween(Window.unboundedPreceding, -1)
    return tan.select(
        "cx", "cy", "v", "d", "tan_ticks",
        (
            (F.col("d") == 0)
            | F.max("tan_ticks").over(wprev).isNull()
            | (F.col("tan_ticks") > F.max("tan_ticks").over(wprev))
        ).alias("visible"),
    )



# --- round-4 batch (session 2): trend/sequence/randomness/components/raster -


@register(
    "ols_trend_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         epoch_us(ts) // 1000000 // 86400 AS d
  FROM events
), c AS (
  SELECT cast(floor((lon + 180.0) / {_MK_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MK_GRID}) as int) AS gy,
         d, cast(count(*) as bigint) AS x
  FROM pts GROUP BY gx, gy, d
), a AS (
  SELECT gx, gy, cast(count(*) as bigint) AS n,
         cast(sum(d) as bigint) AS sx, cast(sum(x) as bigint) AS sy,
         cast(sum(d * d) as bigint) AS sxx, cast(sum(d * x) as bigint) AS sxy
  FROM c GROUP BY gx, gy
)
SELECT gx, gy, n AS n_days,
       cast(n * sxy - sx * sy as double) / cast(n * sxx - sx * sx as double) AS slope,
       (cast(sy as double)
        - cast(n * sxy - sx * sy as double) / cast(n * sxx - sx * sx as double)
          * cast(sx as double)) / cast(n as double) AS intercept
FROM a WHERE n >= 2 AND n * sxx - sx * sx > 0
""",
)
def ols_trend_cells(spark, sf_dir):
    """Exact ordinary-least-squares trend (slope + intercept) of daily
    event counts per 30° cell — the moment-based magnitude estimator
    next to the rank-based pair (mann_kendall_cells direction,
    theil_sen_cells robust slope). All five moments (n, Σd, Σx, Σd²,
    Σdx) are one BIGINT hash aggregate — no self-join, unlike Theil–Sen
    — so this is the cheap screening pass a pipeline runs over every
    cell before paying for the robust estimator on the interesting
    ones. num/den are exact int64 (day index ≤ ~2·10⁴, headroom to
    ~10¹⁴ events per cell; beyond that widen the two products to
    decimal(38,0) — the spearman_tokens_chars pattern); slope and
    intercept are formed from exact integers with divisions in the
    same textual order as the oracle."""
    ev = load(spark, sf_dir, "events").select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
    )
    c = ev.groupBy(
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_MK_GRID)).cast("int").alias("gx"),
        F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_MK_GRID)).cast("int").alias("gy"),
        "d",
    ).agg(F.count("*").cast("long").alias("x"))
    a = c.groupBy("gx", "gy").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("x").cast("long").alias("sy"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
        F.sum(F.col("d") * F.col("x")).cast("long").alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return (
        a.filter((F.col("n") >= 2) & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0))
        .select(
            "gx", "gy",
            F.col("n").alias("n_days"),
            slope.alias("slope"),
            (
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("n").cast("double")
            ).alias("intercept"),
        )
    )



@register(
    "line_density_cells",
    f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         (cast(event_id as bigint) * {C.LON_MUL}) % {C.LON_MOD} AS x,
         (cast(event_id as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} AS y
  FROM events
), seg AS (
  SELECT x AS x1, y AS y1,
         lag(x) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x0,
         lag(y) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y0
  FROM pts
), s AS (
  SELECT x0, y0, x1, y1,
         x0 // {_LD_GRID} AS cx0, y0 // {_LD_GRID} AS cy0,
         CASE WHEN x1 > x0 THEN 1 WHEN x1 < x0 THEN -1 ELSE 0 END AS sx,
         CASE WHEN y1 > y0 THEN 1 WHEN y1 < y0 THEN -1 ELSE 0 END AS sy,
         abs(x1 - x0) AS adx, abs(y1 - y0) AS ady,
         abs(x1 // {_LD_GRID} - x0 // {_LD_GRID}) AS nx,
         abs(y1 // {_LD_GRID} - y0 // {_LD_GRID}) AS ny
  FROM seg WHERE x0 IS NOT NULL
), p AS (
  SELECT *,
         CASE WHEN sx > 0 THEN (cx0 + 1) * {_LD_GRID} - x0
              WHEN sx < 0 THEN x0 - cx0 * {_LD_GRID} ELSE 0 END AS f0v,
         CASE WHEN sy > 0 THEN (cy0 + 1) * {_LD_GRID} - y0
              WHEN sy < 0 THEN y0 - cy0 * {_LD_GRID} ELSE 0 END AS f0h
  FROM s
), vr AS (
  SELECT cx0, cy0, sx, sy, adx, ady, ny, f0v, f0h,
         unnest(generate_series(1, nx)) AS i
  FROM p WHERE nx >= 1
), hr AS (
  SELECT cx0, cy0, sx, sy, adx, ady, nx, f0v, f0h,
         unnest(generate_series(1, ny)) AS j
  FROM p WHERE ny >= 1
), cells AS (
  SELECT cx0 AS gx, cy0 AS gy FROM p
  UNION ALL
  SELECT cx0 + sx * i AS gx,
         cy0 + sy * least(ny, greatest(cast(0 as bigint), cast(ceil(
             cast((f0v + (i - 1) * {_LD_GRID}) * ady - f0h * adx as double)
             / cast({_LD_GRID} * adx as double)) as bigint))) AS gy
  FROM vr
  UNION ALL
  SELECT cx0 + sx * least(nx, greatest(cast(0 as bigint), cast(floor(
             cast((f0h + (j - 1) * {_LD_GRID}) * adx - f0v * ady as double)
             / cast({_LD_GRID} * ady as double)) as bigint) + 1)) AS gx,
         cy0 + sy * j AS gy
  FROM hr
)
SELECT cast(gx as int) AS gx, cast(gy as int) AS gy,
       cast(count(*) as bigint) AS n_hits
FROM cells GROUP BY gx, gy
""",
)
def line_density_cells(spark, sf_dir):
    """Line density raster: how many trajectory segments touch each 5°
    cell — exact supercover rasterization of every consecutive-fix
    segment per user, in CLOSED FORM (operators/rasterlines.py): no
    sequential Bresenham walk, no per-segment sort — a narrow explode
    (∝ path length in cells, the output's own size) and one hash
    aggregate on the cell key. Corner hits break x-first so both
    engines enumerate identical cells; all comparisons are exact
    integer cross-multiplications on the common denominator adx·ady.
    The oracle mirrors the formulas; tests/test_rasterlines.py checks
    them against an independent Fraction-exact sequential walker."""
    from gipspark.operators.rasterlines import segment_cells

    pts = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        ((F.col("event_id").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD)).alias("x"),
        ((F.col("event_id").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD)).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = pts.select(
        F.lag("x").over(w).alias("x0"),
        F.lag("y").over(w).alias("y0"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
    ).filter(F.col("x0").isNotNull())
    cells = segment_cells(seg, _LD_GRID)
    return cells.groupBy(
        F.col("gx").cast("int").alias("gx"), F.col("gy").cast("int").alias("gy")
    ).agg(F.count("*").cast("long").alias("n_hits"))



@register(
    "focal_mode_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
), sh AS (
  SELECT g.cx + o.dx AS cx, g.cy + o.dy AS cy, g.v
  FROM grid g, (VALUES {', '.join(f'({dx}, {dy})' for dx, dy in _FOCAL_OFFS)}) AS o(dx, dy)
), cnt AS (
  SELECT t.cx, t.cy, t.v AS v0, s.v AS nv, cast(count(*) as bigint) AS m
  FROM grid t JOIN sh s ON s.cx = t.cx AND s.cy = t.cy
  GROUP BY t.cx, t.cy, t.v, s.v
), best AS (
  SELECT cx, cy, v0, nv, m,
         cast(sum(m) OVER (PARTITION BY cx, cy) as bigint) AS n_present,
         row_number() OVER (PARTITION BY cx, cy ORDER BY m DESC, nv) AS rn
  FROM cnt
)
SELECT cx, cy, v0 AS v,
       CASE WHEN 9 - n_present >= m THEN cast(0 as bigint) ELSE nv END AS mode9
FROM best WHERE rn = 1
""",
)
def focal_mode_cells(spark, sf_dir):
    """Focal 3×3 majority (mode) filter over the event-density raster —
    the categorical-raster smoother (GDAL `majority` focal statistic),
    sparse form: absent neighbors are zero pixels, so the padding zeros
    compete in the vote (z = 9 − occupied neighbors zeros; ties break
    to the smallest value, hence any tie with zero IS zero).  Same
    one-aggregate densify + 9-offset explode/equi-join shape as
    focal_median_cells; the vote is a second (cell, value) hash agg
    plus one per-cell window — integer-exact throughout."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            C.derived_lat(F.col("event_id")).alias("lat"),
            C.derived_lon(F.col("event_id")).alias("lon"),
        )
        .select(
            F.floor((F.col("lon") + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - F.col("lat")) / 2.5).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("v"))
    )
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _FOCAL_OFFS])
    sh = grid.select(
        F.explode(offs).alias("o"), F.col("cx").alias("gx"), F.col("cy").alias("gy"), "v"
    ).select(
        (F.col("gx") + F.col("o.dx")).alias("cx"),
        (F.col("gy") + F.col("o.dy")).alias("cy"),
        F.col("v").alias("nv"),
    )
    cnt = (
        grid.withColumnRenamed("v", "v0")
        .join(sh, ["cx", "cy"])
        .groupBy("cx", "cy", "v0", "nv")
        .agg(F.count("*").cast("long").alias("m"))
    )
    wc = Window.partitionBy("cx", "cy")
    best = cnt.select(
        "cx", "cy", "v0", "nv", "m",
        F.sum("m").over(wc).cast("long").alias("n_present"),
        F.row_number().over(wc.orderBy(F.col("m").desc(), "nv")).alias("rn"),
    ).filter(F.col("rn") == 1)
    return best.select(
        "cx", "cy", F.col("v0").alias("v"),
        F.when(F.lit(9) - F.col("n_present") >= F.col("m"), F.lit(0).cast("long"))
        .otherwise(F.col("nv"))
        .alias("mode9"),
    )



@register(
    "kendall_tau_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         cast(ts as date) AS day, event_type
  FROM events
), cd AS (
  SELECT cast(floor((lon + 180.0) / 15.0) as int) AS cx,
         cast(floor((90.0 - lat) / 15.0) as int) AS cy,
         day,
         cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as bigint) AS x,
         cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) as bigint) AS y
  FROM pts GROUP BY cx, cy, day
), pr AS (
  SELECT a.cx, a.cy,
         cast(count(*) as bigint) AS n0,
         cast(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END) as bigint) AS nc,
         cast(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END) as bigint) AS nd,
         cast(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) as bigint) AS tx,
         cast(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) as bigint) AS ty
  FROM cd a JOIN cd b ON a.cx = b.cx AND a.cy = b.cy AND a.day < b.day
  GROUP BY a.cx, a.cy
)
SELECT cx, cy, n0, nc, nd, tx, ty,
       cast(nc - nd as double)
         / sqrt(cast((n0 - tx) * (n0 - ty) as double)) AS tau_b
FROM pr
WHERE n0 >= 45 AND tx < n0 AND ty < n0
""",
)
def kendall_tau_cells(spark, sf_dir):
    """Kendall τ-b between daily click and view counts per raster cell
    — the rank-correlation robustness check next to the Pearson-style
    OLS trend and Spearman queries (is engagement co-moving, without
    assuming linearity or caring about outliers?).  Pair counting is a
    per-cell day×day self-join: groups are bounded by the calendar (≤
    ~30 days ⇒ ≤435 pairs per cell), so the quadratic kernel is a
    constant factor, keyed and shuffled on cell only.  Concordant /
    discordant / tie counts are exact integers; τ-b is one sqrt of an
    integer product and one division — bit-stable in both engines."""
    ev = load(spark, sf_dir, "events")
    cd = (
        ev.select(
            C.derived_lat(F.col("event_id")).alias("lat"),
            C.derived_lon(F.col("event_id")).alias("lon"),
            F.col("ts").cast("date").alias("day"),
            "event_type",
        )
        .select(
            F.floor((F.col("lon") + 180.0) / 15.0).cast("int").alias("cx"),
            F.floor((90.0 - F.col("lat")) / 15.0).cast("int").alias("cy"),
            "day",
            "event_type",
        )
        .groupBy("cx", "cy", "day")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    b = cd.select(
        F.col("cx").alias("bcx"), F.col("cy").alias("bcy"),
        F.col("day").alias("bday"), F.col("x").alias("bx"), F.col("y").alias("by"),
    )
    prod = (F.col("x") - F.col("bx")) * (F.col("y") - F.col("by"))
    pr = (
        cd.join(
            b,
            (F.col("cx") == F.col("bcx"))
            & (F.col("cy") == F.col("bcy"))
            & (F.col("day") < F.col("bday")),
        )
        .groupBy("cx", "cy")
        .agg(
            F.count("*").cast("long").alias("n0"),
            F.sum(F.when(prod > 0, 1).otherwise(0)).cast("long").alias("nc"),
            F.sum(F.when(prod < 0, 1).otherwise(0)).cast("long").alias("nd"),
            F.sum(F.when(F.col("x") == F.col("bx"), 1).otherwise(0)).cast("long").alias("tx"),
            F.sum(F.when(F.col("y") == F.col("by"), 1).otherwise(0)).cast("long").alias("ty"),
        )
    )
    return pr.filter(
        (F.col("n0") >= 45) & (F.col("tx") < F.col("n0")) & (F.col("ty") < F.col("n0"))
    ).select(
        "cx", "cy", "n0", "nc", "nd", "tx", "ty",
        (
            (F.col("nc") - F.col("nd")).cast("double")
            / F.sqrt(((F.col("n0") - F.col("tx")) * (F.col("n0") - F.col("ty"))).cast("double"))
        ).alias("tau_b"),
    )



@register(
    "longest_streak_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         cast(ts as date) AS day
  FROM events
), cd AS (
  SELECT cast(floor((lon + 180.0) / 15.0) as int) AS cx,
         cast(floor((90.0 - lat) / 15.0) as int) AS cy,
         day, cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy, day
), lagd AS (
  SELECT cx, cy, day, v,
         lag(day) OVER (PARTITION BY cx, cy ORDER BY day) AS pday,
         lag(v) OVER (PARTITION BY cx, cy ORDER BY day) AS pv
  FROM cd
), brk AS (
  SELECT cx, cy, day, v,
         CASE WHEN pday = day - INTERVAL 1 DAY AND v > pv THEN 0 ELSE 1 END AS b
  FROM lagd
), isl AS (
  SELECT cx, cy, day, v,
         cast(sum(b) OVER (PARTITION BY cx, cy ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS island
  FROM brk
), runs AS (
  SELECT cx, cy, island, cast(count(*) as bigint) AS run_len
  FROM isl GROUP BY cx, cy, island
)
SELECT cx, cy,
       cast(max(run_len) as bigint) AS longest_streak,
       cast(count(*) as bigint) AS n_runs
FROM runs GROUP BY cx, cy
""",
)
def longest_streak_cells(spark, sf_dir):
    """Longest day-over-day growth streak per cell — gaps-and-islands:
    a streak extends only across CONSECUTIVE calendar days with
    strictly increasing event counts; the island id is the running
    break count, runs collapse in one agg.  (The trend-detection
    sibling of mann_kendall_cells that cares about uninterrupted
    momentum, e.g. flagging tiles with sustained crawl growth.)  One
    densify agg + one per-cell ordered window + two hash aggs, integer
    throughout; windows and aggs all share the cell key, so Catalyst
    plans a single exchange."""
    ev = load(spark, sf_dir, "events")
    cd = (
        ev.select(
            C.derived_lat(F.col("event_id")).alias("lat"),
            C.derived_lon(F.col("event_id")).alias("lon"),
            F.col("ts").cast("date").alias("day"),
        )
        .select(
            F.floor((F.col("lon") + 180.0) / 15.0).cast("int").alias("cx"),
            F.floor((90.0 - F.col("lat")) / 15.0).cast("int").alias("cy"),
            "day",
        )
        .groupBy("cx", "cy", "day")
        .agg(F.count("*").cast("long").alias("v"))
    )
    wo = Window.partitionBy("cx", "cy").orderBy("day")
    brk = cd.select(
        "cx", "cy", "day", "v",
        F.when(
            (F.lag("day").over(wo) == F.date_sub(F.col("day"), 1))
            & (F.col("v") > F.lag("v").over(wo)),
            0,
        )
        .otherwise(1)
        .alias("b"),
    )
    isl = brk.select(
        "cx", "cy", "day", "v",
        F.sum("b")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("island"),
    )
    runs = isl.groupBy("cx", "cy", "island").agg(F.count("*").cast("long").alias("run_len"))
    return runs.groupBy("cx", "cy").agg(
        F.max("run_len").cast("long").alias("longest_streak"),
        F.count("*").cast("long").alias("n_runs"),
    )



@register(
    "haar_energy_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         cast(ts as date) AS day
  FROM events
), d0 AS (
  SELECT cast(min(day) as date) AS day0 FROM pts
), cd AS (
  SELECT cast(floor((lon + 180.0) / 15.0) as int) AS cx,
         cast(floor((90.0 - lat) / 15.0) as int) AS cy,
         datediff('day', day0, day) AS idx,
         cast(count(*) as bigint) AS v
  FROM pts CROSS JOIN d0 GROUP BY cx, cy, idx
), {", ".join(_haar_level_sql(k) for k in range(1, 6))}
SELECT e1.cx, e1.cy,
       e1.e AS energy1, e2.e AS energy2, e3.e AS energy3,
       e4.e AS energy4, e5.e AS energy5
FROM e1
JOIN e2 ON e1.cx = e2.cx AND e1.cy = e2.cy
JOIN e3 ON e1.cx = e3.cx AND e1.cy = e3.cy
JOIN e4 ON e1.cx = e4.cx AND e1.cy = e4.cy
JOIN e5 ON e1.cx = e5.cx AND e1.cy = e5.cy
""",
)
def haar_energy_cells(spark, sf_dir):
    """Unnormalized Haar wavelet detail energies (5 dyadic scales) of
    each cell's daily event series — the multi-scale burstiness
    decomposition: energy1 = day-to-day jitter, energy5 = first-half
    vs second-half regime shift; the √2 normalizers are dropped so
    every coefficient is an exact INTEGER difference of counts and the
    energies exact integer sums of squares (zero FP anywhere).  Each
    level is one (cell, idx»1) pair-aggregate feeding the next —
    log₂(window) chained shuffles all keyed on cell, absent days act
    as zero slots for free because sums ignore them.  The global
    day-zero anchor is a 1-row broadcast."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.col("ts").cast("date").alias("day"),
    )
    d0 = pts.agg(F.min("day").alias("day0"))
    cd = (
        pts.crossJoin(F.broadcast(d0))
        .select(
            F.floor((F.col("lon") + 180.0) / 15.0).cast("int").alias("cx"),
            F.floor((90.0 - F.col("lat")) / 15.0).cast("int").alias("cy"),
            F.datediff("day", "day0").alias("idx"),
        )
        .groupBy("cx", "cy", "idx")
        .agg(F.count("*").cast("long").alias("v"))
    )
    cur = cd
    energies = []
    for k in range(1, 6):
        sk = (
            cur.select(
                "cx", "cy", "v",
                F.floor(F.col("idx") / 2).cast("int").alias("pidx"),
                F.when(F.col("idx") % 2 == 0, F.col("v")).otherwise(-F.col("v")).alias("sv"),
            )
            .groupBy("cx", "cy", "pidx")
            .agg(
                F.sum("v").cast("long").alias("v"),
                F.sum("sv").cast("long").alias("d"),
            )
        )
        ek = sk.groupBy("cx", "cy").agg(
            F.sum(F.col("d") * F.col("d")).cast("long").alias(f"energy{k}")
        )
        energies.append(ek)
        cur = sk.select("cx", "cy", F.col("pidx").alias("idx"), "v")
    out = energies[0]
    for ek in energies[1:]:
        out = out.join(ek, ["cx", "cy"])
    return out



# ---------------------------------------------------------------------------
# round-4 session-3 batch 3: Pettitt changepoint, Nelson–Aalen hazard,
# Zipf doubling-slope, per-language term chi²
# ---------------------------------------------------------------------------


@register(
    "pettitt_changepoint_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         epoch_us(ts) // 1000000 // 86400 AS d
  FROM events
), c AS (
  SELECT cast(floor((lon + 180.0) / {_MK_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MK_GRID}) as int) AS gy,
         d, cast(count(*) as bigint) AS x
  FROM pts GROUP BY gx, gy, d
), rk AS (
  SELECT gx, gy, d, x,
         2 * rank() OVER (PARTITION BY gx, gy ORDER BY x)
           + count(*) OVER (PARTITION BY gx, gy, x) - 1 AS r2,
         cast(row_number() OVER (PARTITION BY gx, gy ORDER BY d) as bigint) AS t,
         cast(count(*) OVER (PARTITION BY gx, gy) as bigint) AS n
  FROM c
), u AS (
  SELECT gx, gy, d, t, n,
         sum(r2) OVER (PARTITION BY gx, gy ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - t * (n + 1) AS ut
  FROM rk
), k AS (
  SELECT gx, gy, any_value(n) AS n_periods, max(abs(ut)) AS k_stat
  FROM u WHERE t < n GROUP BY gx, gy
)
SELECT k.gx, k.gy, k.n_periods, cast(k.k_stat as bigint) AS k_stat,
       cast(min(u.d) as bigint) AS change_day
FROM k JOIN u ON u.gx = k.gx AND u.gy = k.gy AND abs(u.ut) = k.k_stat AND u.t < u.n
GROUP BY k.gx, k.gy, k.n_periods, k.k_stat
""",
)
def pettitt_changepoint_cells(spark, sf_dir):
    """Pettitt's rank-based changepoint test per 30° cell over the
    cell's daily event counts (the nonparametric sibling of
    cusum_changepoint_cells — robust to outliers because it sees only
    ranks): U_t = Σ_{{i≤t}}Σ_{{j>t}} sgn(x_j − x_i), evaluated in O(n)
    per cell via the midrank identity U_t = Σ_{{i≤t}} 2r_i − t(n+1)
    with 2r = 2·rank + ties − 1 kept integral, so no pair join and no
    floats. K = max|U_t| (t<n), split day = earliest argmax. Windows
    partition by cell — the plan scales with cells × days, never
    pairs. DuckDB replays the identical rank/cumsum pipeline."""
    ev = load(spark, sf_dir, "events").select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
    )
    c = ev.groupBy(
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_MK_GRID)).cast("int").alias("gx"),
        F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_MK_GRID)).cast("int").alias("gy"),
        "d",
    ).agg(F.count("*").cast("long").alias("x"))
    w_val = Window.partitionBy("gx", "gy").orderBy("x")
    w_eq = Window.partitionBy("gx", "gy", "x")
    w_day = Window.partitionBy("gx", "gy").orderBy("d")
    w_cell = Window.partitionBy("gx", "gy")
    rk = c.select(
        "gx",
        "gy",
        "d",
        (2 * F.rank().over(w_val) + F.count("*").over(w_eq) - 1).alias("r2"),
        F.row_number().over(w_day).cast("long").alias("t"),
        F.count("*").over(w_cell).cast("long").alias("n"),
    )
    u = rk.select(
        "gx",
        "gy",
        "d",
        "t",
        "n",
        (
            F.sum("r2").over(w_day.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - F.col("t") * (F.col("n") + 1)
        ).alias("ut"),
    )
    k = (
        u.filter(F.col("t") < F.col("n"))
        .groupBy("gx", "gy")
        .agg(F.first("n").alias("n_periods"), F.max(F.abs("ut")).alias("k_stat"))
    )
    u2 = u.filter(F.col("t") < F.col("n")).select(
        F.col("gx").alias("ugx"), F.col("gy").alias("ugy"), "d", F.abs("ut").alias("aut")
    )
    return (
        k.join(
            u2,
            (F.col("ugx") == F.col("gx"))
            & (F.col("ugy") == F.col("gy"))
            & (F.col("aut") == F.col("k_stat")),
        )
        .groupBy("gx", "gy", "n_periods", "k_stat")
        .agg(F.min("d").cast("long").alias("change_day"))
        .select("gx", "gy", "n_periods", F.col("k_stat").cast("long").alias("k_stat"), "change_day")
    )



@register(
    "ffunction_cells",
    f"""
WITH grid(gid, gla, glo) AS (VALUES {', '.join(f'({g}, {a}, {b})' for g, a, b in _ff_grid_rows())}),
pts AS (
  SELECT cast(floor(((c_custkey * {C.LAT_MUL}) % {C.LAT_MOD}) / 100) as bigint) AS la,
         cast(floor(((c_custkey * {C.LON_MUL}) % {C.LON_MOD}) / 100) as bigint) AS lo
  FROM customer WHERE c_custkey % 7 = 1
),
nn AS (
  SELECT g.gid, min((g.gla - p.la) * (g.gla - p.la) + (g.glo - p.lo) * (g.glo - p.lo)) AS d2
  FROM grid g CROSS JOIN pts p GROUP BY g.gid
),
radii(r) AS (VALUES {', '.join(f'({r})' for r in _FF_RADII)})
SELECT r,
       cast(sum(CASE WHEN d2 <= r * r THEN 1 ELSE 0 END) as bigint) AS n_le,
       cast(count(*) as bigint) AS n_grid
FROM radii CROSS JOIN nn
GROUP BY r
""",
)
def ffunction_cells(spark, sf_dir):
    """Empty-space F-function (Diggle's point-pattern diagnostic — the
    complement of gfunction_customers: distances from a FIXED reference
    grid to the nearest observed point; F ≫ G means clustering, F ≈ G
    CSR): a literal 6×12 reference grid on the same integer
    hectometre lattice as the capped customer points, exact integer
    d² minima, and the CDF at five fixed radii as pure counts. The
    grid is a bounded literal broadcast (ripleys/gfunction sibling);
    at scale the NN step swaps to the cell-prefiltered knn_join — the
    operator contract (counts at fixed radii) is unchanged."""
    sess = spark
    grid = sess.createDataFrame(_ff_grid_rows(), "gid int, gla bigint, glo bigint")
    pts = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 1)
        .select(
            F.floor(((F.col("c_custkey").cast("long") * F.lit(C.LAT_MUL)) % F.lit(C.LAT_MOD)) / 100)
            .cast("long")
            .alias("la"),
            F.floor(((F.col("c_custkey").cast("long") * F.lit(C.LON_MUL)) % F.lit(C.LON_MOD)) / 100)
            .cast("long")
            .alias("lo"),
        )
    )
    d2 = (F.col("gla") - F.col("la")) * (F.col("gla") - F.col("la")) + (
        F.col("glo") - F.col("lo")
    ) * (F.col("glo") - F.col("lo"))
    nn = (
        pts.crossJoin(F.broadcast(grid))
        .groupBy("gid")
        .agg(F.min(d2).alias("d2"))
    )
    radii = sess.createDataFrame([(r,) for r in _FF_RADII], "r int")
    return (
        nn.crossJoin(F.broadcast(radii))
        .groupBy("r")
        .agg(
            F.sum(F.when(F.col("d2") <= F.col("r") * F.col("r"), 1).otherwise(0))
            .cast("long")
            .alias("n_le"),
            F.count("*").cast("long").alias("n_grid"),
        )
    )



@register(
    "morph_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), occ AS (
  SELECT DISTINCT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy
  FROM pts
), nbrs AS (
  SELECT o.cx, o.cy, cast(count(*) as bigint) AS n8
  FROM occ o JOIN occ p
    ON p.cx BETWEEN o.cx - 1 AND o.cx + 1 AND p.cy BETWEEN o.cy - 1 AND o.cy + 1
   AND NOT (p.cx = o.cx AND p.cy = o.cy)
  GROUP BY o.cx, o.cy
), eroded AS (
  SELECT occ.cx, occ.cy, coalesce(n.n8, 0) AS n8,
         CASE WHEN coalesce(n.n8, 0) = 8 THEN 1 ELSE 0 END AS interior
  FROM occ LEFT JOIN nbrs n ON n.cx = occ.cx AND n.cy = occ.cy
), dil AS (
  SELECT DISTINCT o.cx + dx.d AS cx, o.cy + dy.d AS cy
  FROM occ o, (VALUES (-1),(0),(1)) AS dx(d), (VALUES (-1),(0),(1)) AS dy(d)
)
SELECT cast((SELECT count(*) FROM occ) as bigint) AS n_occ,
       cast((SELECT sum(interior) FROM eroded) as bigint) AS n_eroded,
       cast((SELECT count(*) FROM dil) as bigint) AS n_dilated,
       cast((SELECT count(*) FROM eroded WHERE interior = 0) as bigint) AS n_boundary
""",
)
def morph_cells(spark, sf_dir):
    """Morphological erosion/dilation of the event-occupancy raster
    (the open/close primitives of map generalization and noise
    removal): a cell survives erosion iff all 8 neighbors are
    occupied; dilation unions each cell's 3×3 stamp. The neighbor
    count is ONE band-join on the ±1 cell window (occupancy is
    dim-scale after the DISTINCT, so the 9× stamp explode stays tiny
    relative to the point table); boundary = occupied − interior.
    Exact integer counts; DuckDB replays the identical stamps."""
    ev = load(spark, sf_dir, "events")
    occ = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("int").alias("cy"),
        )
        .distinct()
    )
    stamp = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    nbr_stamp = [(dx, dy) for dx, dy in stamp if not (dx == 0 and dy == 0)]
    shifted = occ.select(
        F.explode(
            F.array(*[F.struct((F.col("cx") + dx).alias("cx"), (F.col("cy") + dy).alias("cy")) for dx, dy in nbr_stamp])
        ).alias("s")
    ).select(F.col("s.cx").alias("cx"), F.col("s.cy").alias("cy"))
    n8 = shifted.join(occ, ["cx", "cy"]).groupBy("cx", "cy").agg(
        F.count("*").cast("long").alias("n8")
    )
    # n8 counts, for each occupied cell, how many of ITS stamp sources are
    # occupied — symmetric stamp ⇒ equals its own occupied-neighbor count
    eroded = occ.join(n8, ["cx", "cy"], "left").select(
        "cx",
        "cy",
        F.when(F.coalesce(F.col("n8"), F.lit(0)) == 8, 1).otherwise(0).alias("interior"),
    )
    dil = (
        occ.select(
            F.explode(
                F.array(
                    *[
                        F.struct((F.col("cx") + dx).alias("cx"), (F.col("cy") + dy).alias("cy"))
                        for dx, dy in stamp
                    ]
                )
            ).alias("s")
        )
        .select(F.col("s.cx").alias("cx"), F.col("s.cy").alias("cy"))
        .distinct()
    )
    n_occ = occ.agg(F.count("*").cast("long").alias("n_occ"))
    n_er = eroded.agg(F.sum("interior").cast("long").alias("n_eroded"))
    n_dil = dil.agg(F.count("*").cast("long").alias("n_dilated"))
    n_bd = eroded.filter(F.col("interior") == 0).agg(
        F.count("*").cast("long").alias("n_boundary")
    )
    return (
        n_occ.crossJoin(F.broadcast(n_er))
        .crossJoin(F.broadcast(n_dil))
        .crossJoin(F.broadcast(n_bd))
        .select("n_occ", "n_eroded", "n_dilated", "n_boundary")
    )



@register(
    "peak_hour_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         (epoch_us(ts) // 1000000 % 86400) // 3600 AS hr
  FROM events
), c AS (
  SELECT cast(floor((lon + 180.0) / {_MK_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MK_GRID}) as int) AS gy,
         cast(hr as int) AS hr, cast(count(*) as bigint) AS n
  FROM pts GROUP BY gx, gy, hr
), r AS (
  SELECT gx, gy, hr, n,
         row_number() OVER (PARTITION BY gx, gy ORDER BY n DESC, hr) AS rn,
         cast(sum(n) OVER (PARTITION BY gx, gy) as bigint) AS tot
  FROM c
)
SELECT gx, gy, hr AS peak_hour, n AS peak_n, tot,
       cast((n * 1000000) // tot as bigint) AS peak_share_q
FROM r WHERE rn = 1
""",
)
def peak_hour_cells(spark, sf_dir):
    """Diurnal peak detection per 30° cell: the UTC hour with the most
    events, its count, and its 1e6 fixed-point share of the cell's
    activity — the temporal-signature feature that separates
    commuter-pattern cells from always-on (bot/datacenter) cells.
    One (cell, hour) agg then a 24-row-per-cell group-limit window;
    ties break to the earliest hour in both engines."""
    ev = load(spark, sf_dir, "events").select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.expr("(unix_timestamp(ts) % 86400) div 3600").cast("int").alias("hr"),
    )
    c = ev.groupBy(
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_MK_GRID)).cast("int").alias("gx"),
        F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_MK_GRID)).cast("int").alias("gy"),
        "hr",
    ).agg(F.count("*").cast("long").alias("n"))
    w_rank = Window.partitionBy("gx", "gy").orderBy(F.col("n").desc(), "hr")
    w_cell = Window.partitionBy("gx", "gy")
    r = c.select(
        "gx",
        "gy",
        "hr",
        "n",
        F.row_number().over(w_rank).alias("rn"),
        F.sum("n").over(w_cell).cast("long").alias("tot"),
    )
    return (
        r.filter(F.col("rn") == 1)
        .select(
            "gx",
            "gy",
            F.col("hr").alias("peak_hour"),
            F.col("n").alias("peak_n"),
            "tot",
            F.expr("(n * 1000000) div tot").cast("long").alias("peak_share_q"),
        )
    )



@register(
    "sax_symbols_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         epoch_us(ts) // 1000000 // 86400 AS d
  FROM events
), spanb AS (
  SELECT min(d) AS d0, max(d) - min(d) + 1 AS span FROM pts
), c AS (
  SELECT cast(floor((lon + 180.0) / {_MK_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MK_GRID}) as int) AS gy,
         cast(((d - (SELECT d0 FROM spanb)) * {_SAX_SEGS}) // (SELECT span FROM spanb) as int)
           AS seg,
         cast(count(*) as bigint) AS n
  FROM pts GROUP BY gx, gy, seg
), paa AS (
  SELECT gx, gy, seg, n,
         row_number() OVER (PARTITION BY gx, gy ORDER BY n, seg) AS vr,
         count(*) OVER (PARTITION BY gx, gy) AS nseg
  FROM c
), sym AS (
  SELECT gx, gy, seg,
         cast(((vr - 1) * {_SAX_SYMS}) // nseg as int) AS s
  FROM paa
)
SELECT gx, gy,
       string_agg(cast(s as varchar), '' ORDER BY seg) AS sax,
       cast(count(*) as bigint) AS n_segs
FROM sym GROUP BY gx, gy
""",
)
def sax_symbols_cells(spark, sf_dir):
    """SAX symbolization of each cell's activity curve (the time-series
    motif/anomaly alphabet): the observation span splits into 8 equal
    segments (integer floor of (d−d0)·8/span — a per-segment count IS
    the PAA in this equal-width design), and each segment maps to one
    of 4 symbols by its RANK among the cell's own segments ((rank−1)·4
    // nseg — the distribution-free stand-in for Gaussian breakpoints,
    which would need erfinv). The symbol string concatenates in time
    order. Per-cell windows only; exact integers; DuckDB replays the
    identical ranks."""
    ev = load(spark, sf_dir, "events").select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
    )
    spanb = ev.agg(
        F.min("d").alias("d0"), (F.max("d") - F.min("d") + 1).alias("span")
    )
    c = (
        ev.crossJoin(F.broadcast(spanb))
        .groupBy(
            F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_MK_GRID)).cast("int").alias("gx"),
            F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_MK_GRID)).cast("int").alias("gy"),
            F.expr(f"cast(((d - d0) * {_SAX_SEGS}) div span as int)").alias("seg"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    w_rank = Window.partitionBy("gx", "gy").orderBy("n", "seg")
    w_cell = Window.partitionBy("gx", "gy")
    sym = (
        c.withColumn("vr", F.row_number().over(w_rank))
        .withColumn("nseg", F.count("*").over(w_cell))
        .select(
            "gx",
            "gy",
            "seg",
            F.expr(f"cast(((vr - 1) * {_SAX_SYMS}) div nseg as int)").alias("s"),
        )
    )
    return sym.groupBy("gx", "gy").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "s"))), lambda x: x["s"].cast("string")
            ),
            "",
        ).alias("sax"),
        F.count("*").cast("long").alias("n_segs"),
    )



@register(
    "quantile_normalize_sources",
    """
WITH ranked AS (
  SELECT source, n_chars,
         cast(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) as bigint) AS r
  FROM documents
), m AS (
  SELECT cast(min(cnt) as bigint) AS mincnt
  FROM (SELECT source, count(*) AS cnt FROM documents GROUP BY source)
), kept AS (
  SELECT source, n_chars, r FROM ranked WHERE r <= (SELECT mincnt FROM m)
)
SELECT r AS rank,
       cast(count(*) as bigint) AS n_sources,
       cast(sum(n_chars) as bigint) AS sum_chars,
       cast((sum(n_chars) * 1000000) // count(*) as bigint) AS mean_chars_q
FROM kept GROUP BY r
""",
)
def quantile_normalize_sources(spark, sf_dir):
    """Quantile normalization reference distribution across sources
    (the batch-effect remover from genomics, applied to per-host doc
    length distributions): rank docs by length within each source,
    truncate every source to the smallest source's count so rank
    vectors align, and emit the cross-source mean at each rank (1e6
    fixed point — this is the target distribution every source maps
    onto). One per-source ranking window + one rank-keyed agg; the
    truncation threshold is a 1-row broadcast."""
    d = load(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source", "n_chars", F.row_number().over(w_rank).cast("long").alias("r")
    )
    m = (
        d.groupBy("source")
        .agg(F.count("*").alias("cnt"))
        .agg(F.min("cnt").cast("long").alias("mincnt"))
    )
    kept = ranked.crossJoin(F.broadcast(m)).filter(F.col("r") <= F.col("mincnt"))
    return (
        kept.groupBy(F.col("r").alias("rank"))
        .agg(
            F.count("*").cast("long").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("mean_chars_q", F.expr("(sum_chars * 1000000) div n_sources").cast("long"))
    )



@register(
    "acf_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         epoch_us(ts) // 1000000 // 86400 AS d
  FROM events
), c AS (
  SELECT cast(floor((lon + 180.0) / {_MK_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MK_GRID}) as int) AS gy,
         d, cast(count(*) as bigint) AS x
  FROM pts GROUP BY gx, gy, d
), lags(lag) AS (VALUES {', '.join(f'({x})' for x in _ACF_LAGS)})
SELECT a.gx, a.gy, lags.lag,
       cast(count(*) as bigint) AS n_pairs,
       cast(sum(a.x) as bigint) AS s1,
       cast(sum(b.x) as bigint) AS s2,
       cast(sum(a.x * b.x) as bigint) AS sp,
       cast(count(*) * sum(a.x * b.x) - sum(a.x) * sum(b.x) as bigint) AS cov_num
FROM c a JOIN lags ON true JOIN c b
  ON b.gx = a.gx AND b.gy = a.gy AND b.d = a.d + lags.lag
GROUP BY a.gx, a.gy, lags.lag
""",
)
def acf_cells(spark, sf_dir):
    """Autocovariance spectrum (lags 1–3) of each cell's daily counts —
    the memory/persistence observable under cusum/mann-kendall (white
    noise ⇒ cov_num ≈ 0 at all lags; commuter rhythm ⇒ structure):
    pairs come from ONE self equi-join on (cell, d+lag) over observed
    days, and the covariance numerator n·Σxy − ΣxΣy is exact bigint —
    the no-float-reduction rule. The lag dim is a 3-row broadcast;
    shuffle is keyed on the (cell, day) table, never points."""
    ev = load(spark, sf_dir, "events").select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.expr("unix_timestamp(ts) div 86400").alias("d"),
    )
    c = ev.groupBy(
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_MK_GRID)).cast("int").alias("gx"),
        F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_MK_GRID)).cast("int").alias("gy"),
        "d",
    ).agg(F.count("*").cast("long").alias("x"))
    lags = spark.createDataFrame([(x,) for x in _ACF_LAGS], "lag int")
    a = c.alias("a")
    b = c.alias("b")
    j = a.crossJoin(F.broadcast(lags)).join(
        b,
        (F.col("b.gx") == F.col("a.gx"))
        & (F.col("b.gy") == F.col("a.gy"))
        & (F.col("b.d") == F.col("a.d") + F.col("lag")),
    )
    return (
        j.groupBy(F.col("a.gx").alias("gx"), F.col("a.gy").alias("gy"), "lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.col("a.x")).cast("long").alias("s1"),
            F.sum(F.col("b.x")).cast("long").alias("s2"),
            F.sum(F.col("a.x") * F.col("b.x")).cast("long").alias("sp"),
        )
        .withColumn("cov_num", (F.col("n_pairs") * F.col("sp") - F.col("s1") * F.col("s2")).cast("long"))
    )



@register(
    "hist_equalize_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
), r AS (
  SELECT cx, cy, v,
         cast(rank() OVER (ORDER BY v) as bigint) AS rk,
         cast(count(*) OVER () as bigint) AS n
  FROM grid
)
SELECT cx, cy, v,
       cast(((rk - 1) * {_HEQ_LEVELS}) // n as int) AS eq_level
FROM r
""",
)
def hist_equalize_cells(spark, sf_dir):
    """Histogram equalization of the event-density raster (the
    contrast-stretch every web-map heat layer applies before
    colorizing — raw counts are Zipf-skewed and render as one hot
    pixel): each cell's 16-level output is its value RANK scaled by
    the cell count, rank() (not row_number) so equal densities get
    equal levels in both engines. The window runs on the cell table —
    dim-scale after the one map-combinable point aggregate, the same
    contract as the gradient/hillshade family."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("v"))
    )
    w_rank = Window.orderBy("v")
    w_all = Window.partitionBy()
    return (
        grid.withColumn("rk", F.rank().over(w_rank).cast("long"))
        .withColumn("n", F.count("*").over(w_all).cast("long"))
        .select(
            "cx",
            "cy",
            "v",
            F.expr(f"cast(((rk - 1) * {_HEQ_LEVELS}) div n as int)").alias("eq_level"),
        )
    )



@register(
    "st_scan_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         epoch_us(ts) // 1000000 // 604800 AS wk
  FROM events
), o AS (
  SELECT cast(floor((lon + 180.0) / {_MK_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MK_GRID}) as int) AS gy,
         wk, cast(count(*) as bigint) AS obs
  FROM pts GROUP BY gx, gy, wk
), r AS (SELECT gx, gy, cast(sum(obs) as bigint) AS rt FROM o GROUP BY gx, gy),
c AS (SELECT wk, cast(sum(obs) as bigint) AS ct FROM o GROUP BY wk),
t AS (SELECT cast(sum(obs) as bigint) AS tt FROM o),
ex AS (
  SELECT o.gx, o.gy, o.wk, o.obs, r.rt, c.ct,
         cast(o.obs as bigint) * (SELECT tt FROM t) - r.rt * c.ct AS excess_num
  FROM o JOIN r ON r.gx = o.gx AND r.gy = o.gy JOIN c ON c.wk = o.wk
)
SELECT gx, gy, wk, obs, rt, ct, cast(excess_num as bigint) AS excess_num,
       cast(row_number() OVER (ORDER BY excess_num DESC, gx, gy, wk) as int) AS rk
FROM ex
QUALIFY rk <= {_SCAN_TOPK}
""",
)
def st_scan_cells(spark, sf_dir):
    """Space-time scan statistic, permutation-model flavor (SaTScan's
    screening pass — which (cell, week) pockets hold more activity
    than their space and time marginals predict, the
    outbreak/flashmob/bot-burst detector): excess_num = O·T − R·C is
    the exact integer numerator of O − E under the permutation
    expectation E = R·C/T (the chisq/modularity discipline — no
    division enters the hash), ranked top-10. One (cell, week) agg +
    two marginal joins + the allowlisted 1-row total broadcast."""
    ev = load(spark, sf_dir, "events").select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.expr("unix_timestamp(ts) div 604800").alias("wk"),
    )
    o = ev.groupBy(
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_MK_GRID)).cast("int").alias("gx"),
        F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_MK_GRID)).cast("int").alias("gy"),
        "wk",
    ).agg(F.count("*").cast("long").alias("obs"))
    r = o.groupBy("gx", "gy").agg(F.sum("obs").cast("long").alias("rt"))
    c = o.groupBy("wk").agg(F.sum("obs").cast("long").alias("ct"))
    t = o.agg(F.sum("obs").cast("long").alias("tt"))
    ex = (
        o.join(r, ["gx", "gy"])
        .join(F.broadcast(c), "wk")
        .crossJoin(F.broadcast(t))
        .select(
            "gx",
            "gy",
            "wk",
            "obs",
            "rt",
            "ct",
            (F.col("obs") * F.col("tt") - F.col("rt") * F.col("ct"))
            .cast("long")
            .alias("excess_num"),
        )
    )
    w_rank = Window.orderBy(F.col("excess_num").desc(), "gx", "gy", "wk")
    return (
        ex.withColumn("rk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rk") <= _SCAN_TOPK)
    )



# ---------------------------------------------------------------------------
# round-4 session-3 batch 11: segregation index, RANSAC, motifs, conductance
# ---------------------------------------------------------------------------


@register(
    "segregation_index_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon, event_type
  FROM events WHERE event_type IN ('click', 'view')
), c AS (
  SELECT cast(floor((lon + 180.0) / {_MK_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MK_GRID}) as int) AS gy,
         cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as bigint) AS a,
         cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) as bigint) AS b
  FROM pts GROUP BY gx, gy
), tot AS (
  SELECT cast(sum(a) as bigint) AS ta, cast(sum(b) as bigint) AS tb FROM c
)
SELECT c.gx, c.gy, c.a, c.b,
       cast(abs(c.a * tot.tb - c.b * tot.ta) as bigint) AS contrib_num,
       cast((abs(c.a * tot.tb - c.b * tot.ta) * 1000000) // (2 * tot.ta * tot.tb) as bigint)
         AS contrib_q
FROM c CROSS JOIN tot
""",
)
def segregation_index_cells(spark, sf_dir):
    """Duncan dissimilarity index contributions per cell — the
    demography segregation measure (what share of clicks would have
    to relocate for clicks and views to spread identically): D = ½
    Σ|aᵢ/A − bᵢ/B|, carried as the exact integer |aᵢ·B − bᵢ·A| with
    the common denominator 2AB applied once in 1e6 fixed point.
    Σ contrib_q ≈ D·1e6. One cell aggregate + the allowlisted 1-row
    marginal broadcast — the chisq/st_scan shuffle shape."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            C.derived_lat(F.col("event_id")).alias("lat"),
            C.derived_lon(F.col("event_id")).alias("lon"),
            "event_type",
        )
    )
    c = ev.groupBy(
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_MK_GRID)).cast("int").alias("gx"),
        F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_MK_GRID)).cast("int").alias("gy"),
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).cast("long").alias("b"),
    )
    tot = c.agg(F.sum("a").cast("long").alias("ta"), F.sum("b").cast("long").alias("tb"))
    return c.crossJoin(F.broadcast(tot)).select(
        "gx",
        "gy",
        "a",
        "b",
        F.abs(F.col("a") * F.col("tb") - F.col("b") * F.col("ta")).cast("long").alias("contrib_num"),
        F.expr("(abs(a * tb - b * ta) * 1000000) div (2 * ta * tb)").cast("long").alias("contrib_q"),
    )



@register(
    "otsu_threshold_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
), vm AS (SELECT cast(max(v) as bigint) AS vmax FROM grid),
lv AS (
  SELECT least({_OTSU_LEVELS - 1}, v * {_OTSU_LEVELS} // (vm.vmax + 1)) AS lvl, v
  FROM grid, vm
), hist AS (
  SELECT lvl, cast(count(*) as bigint) AS c, cast(sum(v) as bigint) AS s FROM lv GROUP BY lvl
), tot AS (SELECT cast(sum(c) as bigint) AS ct, cast(sum(s) as bigint) AS st FROM hist),
pre AS (
  SELECT lvl,
         cast(sum(c) OVER (ORDER BY lvl) as bigint) AS c0,
         cast(sum(s) OVER (ORDER BY lvl) as bigint) AS s0
  FROM hist
), scored AS (
  SELECT pre.lvl AS threshold, pre.c0, pre.s0,
         tot.ct - pre.c0 AS c1, tot.st - pre.s0 AS s1,
         cast((cast(pre.s0 as hugeint) * (tot.ct - pre.c0) - cast(tot.st - pre.s0 as hugeint) * pre.c0)
              * (cast(pre.s0 as hugeint) * (tot.ct - pre.c0) - cast(tot.st - pre.s0 as hugeint) * pre.c0)
              // (cast(pre.c0 as hugeint) * (tot.ct - pre.c0) * tot.ct * tot.ct) as bigint) AS btw_q
  FROM pre, tot WHERE tot.ct - pre.c0 > 0
)
SELECT threshold, c0, s0, cast(c1 as bigint) AS c1, cast(s1 as bigint) AS s1, btw_q
FROM scored
ORDER BY btw_q DESC, threshold ASC LIMIT 1
""",
)
def otsu_threshold_cells(spark, sf_dir):
    """Otsu's optimal threshold over the event-density raster — the
    binarization step every raster→vector pipeline runs before region
    labeling (raster_regions_cells assumes a foreground mask; THIS is
    where the mask comes from): density values bin to 16 levels, and
    the threshold maximizing between-class variance w0·w1·(μ0−μ1)² is
    found from ONE prefix-sum window over the 16-row histogram —
    the variance carried as the exact 128-bit integer
    (s0·c1 − s1·c0)² // (c0·c1·C²) so no float enters the argmax
    (ties → smallest threshold, by explicit sort law). One
    map-combinable point agg, one 16-row window, two 1-row anchors —
    the hist_equalize shape with an argmax instead of a rank."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    grid = (
        pts.select(
            F.floor((F.col("lon") + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - F.col("lat")) / 2.5).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("v"))
    )
    vm = grid.agg(F.max("v").cast("long").alias("vmax"))
    lv = grid.crossJoin(F.broadcast(vm)).select(
        F.least(
            F.lit(_OTSU_LEVELS - 1).cast("long"),
            F.expr(f"(v * {_OTSU_LEVELS}) div (vmax + 1)"),
        ).alias("lvl"),
        "v",
    )
    hist = lv.groupBy("lvl").agg(
        F.count("*").cast("long").alias("c"), F.sum("v").cast("long").alias("s")
    )
    tot = hist.agg(F.sum("c").cast("long").alias("ct"), F.sum("s").cast("long").alias("st"))
    wo = Window.orderBy("lvl")
    pre = hist.select(
        "lvl",
        F.sum("c").over(wo).cast("long").alias("c0"),
        F.sum("s").over(wo).cast("long").alias("s0"),
    )
    scored = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.col("ct") - F.col("c0") > 0)
        .select(
            F.col("lvl").alias("threshold"),
            "c0",
            "s0",
            (F.col("ct") - F.col("c0")).cast("long").alias("c1"),
            (F.col("st") - F.col("s0")).cast("long").alias("s1"),
            # decimal `div` (not `/`): `/` rounds HALF_UP at scale 6 before a
            # long cast, which can exceed the true floor quotient by one
            F.expr(
                "(cast(s0 as decimal(38,0)) * (ct - c0) - cast(st - s0 as decimal(38,0)) * c0)"
                " * (cast(s0 as decimal(38,0)) * (ct - c0) - cast(st - s0 as decimal(38,0)) * c0)"
                " div (cast(c0 as decimal(38,0)) * (ct - c0) * ct * ct)"
            )
            .cast("long")
            .alias("btw_q"),
        )
    )
    return scored.orderBy(F.col("btw_q").desc(), F.col("threshold").asc()).limit(1)



@register(
    "bh_fdr_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS o
  FROM pts GROUP BY cx, cy
), tot AS (
  SELECT cast(sum(o) as bigint) AS total, cast(count(*) as bigint) AS n_cells FROM grid
), pv AS (
  SELECT cx, cy, o,
         least(1000000, cast(tot.total * 1000000 // (o * tot.n_cells) as bigint)) AS p_q,
         tot.n_cells
  FROM grid, tot
), ranked AS (
  SELECT cx, cy, o, p_q, n_cells,
         cast(row_number() OVER (ORDER BY p_q, cx, cy) as bigint) AS rnk
  FROM pv
), kstar AS (
  SELECT cast(coalesce(max(CASE WHEN p_q * n_cells <= {_BH_ALPHA_Q} * rnk THEN rnk END), 0)
              as bigint) AS k_star
  FROM ranked
)
SELECT tot.n_cells, tot.total, kstar.k_star,
       (SELECT cast(min(p_q) as bigint) FROM ranked) AS min_p_q,
       (SELECT cast(count(*) as bigint) FROM ranked WHERE p_q <= {_BH_ALPHA_Q}) AS n_nominal
FROM tot, kstar
""",
)
def bh_fdr_cells(spark, sf_dir):
    """Benjamini-Hochberg FDR control over per-cell density anomalies
    — the multiple-testing gate every cell-level anomaly scan
    (st_scan, gi_star, rate_anomaly) should pass through before
    alerting on thousands of cells at once: per-cell p-value is the
    exact Markov bound E/O = total/(o·n_cells) in 1e6 ticks (crude
    but distribution-free and integer-exact — the documented design
    choice), cells rank by p, and BH keeps ranks ≤ k* = max{{k :
    p_(k)·n ≤ α·k}} with the comparison cross-multiplied so no
    division enters the cutoff. α = 0.05. Output is the 1-row
    decision summary (n, k*, min p, nominal-α count): on the
    uniform synthetic geography the correct answer IS k* = 0 — BH
    refusing every cell that uncorrected α would wrongly alert on,
    which is exactly the multiple-testing lesson, and n_nominal
    shows the avoided false-discovery mass. One point agg, one
    dim-scale ranking window, two 1-row anchors."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("o"))
    )
    tot = grid.agg(
        F.sum("o").cast("long").alias("total"), F.count("*").cast("long").alias("n_cells")
    )
    pv = grid.crossJoin(F.broadcast(tot)).select(
        "cx",
        "cy",
        "o",
        F.least(
            F.lit(1000000).cast("long"),
            F.expr("(total * 1000000) div (o * n_cells)").cast("long"),
        ).alias("p_q"),
        "n_cells",
    )
    ranked = pv.withColumn(
        "rnk", F.row_number().over(Window.orderBy("p_q", "cx", "cy")).cast("long")
    )
    summary = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_q") * F.col("n_cells") <= _BH_ALPHA_Q * F.col("rnk"),
                    F.col("rnk"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("k_star"),
        F.min("p_q").cast("long").alias("min_p_q"),
        F.count(F.when(F.col("p_q") <= _BH_ALPHA_Q, True)).cast("long").alias("n_nominal"),
    )
    return tot.crossJoin(F.broadcast(summary)).select(
        "n_cells", "total", "k_star", "min_p_q", "n_nominal"
    )



@register(
    "choropleth_classes_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
), stats AS (
  SELECT cast(min(v) as bigint) AS vmin, cast(max(v) as bigint) AS vmax,
         cast(count(*) as bigint) AS n, cast(sum(v) // count(*) as bigint) AS m1
  FROM grid
), m2s AS (SELECT cast(sum(v) // count(*) as bigint) AS m2 FROM grid, stats WHERE v > m1),
m3s AS (SELECT cast(sum(v) // count(*) as bigint) AS m3 FROM grid, m2s WHERE v > m2),
classed AS (
  SELECT 'equal_interval' AS scheme,
         cast(least({_CHORO_CLASSES - 1},
                    (v - stats.vmin) * {_CHORO_CLASSES} // (stats.vmax - stats.vmin + 1))
              as int) AS cls, v
  FROM grid, stats
  UNION ALL
  SELECT 'quantile',
         cast((rn - 1) * {_CHORO_CLASSES} // n as int), v
  FROM (SELECT v, row_number() OVER (ORDER BY v, cx, cy) AS rn,
               count(*) OVER () AS n FROM grid)
  UNION ALL
  SELECT 'head_tail',
         cast(CASE WHEN v <= stats.m1 THEN 0
                   WHEN v <= m2s.m2 THEN 1
                   WHEN v <= m3s.m3 THEN 2
                   ELSE 3 END as int), v
  FROM grid, stats, m2s, m3s
)
SELECT scheme, cls, cast(count(*) as bigint) AS n_cells,
       cast(min(v) as bigint) AS v_min, cast(max(v) as bigint) AS v_max
FROM classed GROUP BY scheme, cls
""",
)
def choropleth_classes_cells(spark, sf_dir):
    """Choropleth class breaks under the three standard cartographic
    schemes, compared in one table (the map-styling decision every
    density tile layer makes): equal-interval (legible legend, bad for
    skew), quantile (balanced class mass, deterministic (v, cx, cy)
    rank law), and Jiang's head/tail breaks (the scheme FOR heavy-
    tailed web data — split above the floor-integer mean, twice
    unrolled). All breaks are exact integer arithmetic on the cell
    histogram; conditional means are 1-row anchors. Per (scheme,
    class): cell count and value span — the legend itself."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("v"))
    )
    stats = grid.agg(
        F.min("v").cast("long").alias("vmin"),
        F.max("v").cast("long").alias("vmax"),
        F.count("*").cast("long").alias("n"),
        F.expr("sum(v) div count(*)").cast("long").alias("m1"),
    )
    g1 = grid.crossJoin(F.broadcast(stats))
    m2 = g1.filter(F.col("v") > F.col("m1")).agg(
        F.expr("sum(v) div count(*)").cast("long").alias("m2")
    )
    m3 = (
        g1.crossJoin(F.broadcast(m2))
        .filter(F.col("v") > F.col("m2"))
        .agg(F.expr("sum(v) div count(*)").cast("long").alias("m3"))
    )
    eq = g1.select(
        F.lit("equal_interval").alias("scheme"),
        F.least(
            F.lit(_CHORO_CLASSES - 1).cast("long"),
            F.expr(f"((v - vmin) * {_CHORO_CLASSES}) div (vmax - vmin + 1)"),
        )
        .cast("int")
        .alias("cls"),
        "v",
    )
    wq = Window.orderBy("v", "cx", "cy")
    qt = (
        grid.withColumn("rn", F.row_number().over(wq).cast("long"))
        .crossJoin(F.broadcast(stats.select("n")))
        .select(
            F.lit("quantile").alias("scheme"),
            F.expr(f"((rn - 1) * {_CHORO_CLASSES}) div n").cast("int").alias("cls"),
            "v",
        )
    )
    ht = (
        g1.crossJoin(F.broadcast(m2))
        .crossJoin(F.broadcast(m3))
        .select(
            F.lit("head_tail").alias("scheme"),
            F.when(F.col("v") <= F.col("m1"), 0)
            .when(F.col("v") <= F.col("m2"), 1)
            .when(F.col("v") <= F.col("m3"), 2)
            .otherwise(3)
            .cast("int")
            .alias("cls"),
            "v",
        )
    )
    return (
        eq.unionAll(qt)
        .unionAll(ht)
        .groupBy("scheme", "cls")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.min("v").cast("long").alias("v_min"),
            F.max("v").cast("long").alias("v_max"),
        )
    )



@register(
    "marching_squares_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
), fg AS (SELECT cx, cy FROM grid WHERE v >= {_LSM_DENSE_MIN}),
anchors AS (
  SELECT DISTINCT cx - dx AS ax, cy - dy AS ay
  FROM fg, (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) AS o(dx, dy)
), cases AS (
  SELECT a.ax, a.ay,
         (CASE WHEN b00.cx IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN b10.cx IS NOT NULL THEN 2 ELSE 0 END
          + CASE WHEN b01.cx IS NOT NULL THEN 4 ELSE 0 END
          + CASE WHEN b11.cx IS NOT NULL THEN 8 ELSE 0 END) AS ms_case
  FROM anchors a
  LEFT JOIN fg b00 ON b00.cx = a.ax AND b00.cy = a.ay
  LEFT JOIN fg b10 ON b10.cx = a.ax + 1 AND b10.cy = a.ay
  LEFT JOIN fg b01 ON b01.cx = a.ax AND b01.cy = a.ay + 1
  LEFT JOIN fg b11 ON b11.cx = a.ax + 1 AND b11.cy = a.ay + 1
)
SELECT cast(ms_case as int) AS ms_case, cast(count(*) as bigint) AS n_blocks,
       cast({_MS_SEGS_SQL} as bigint) AS segs_per_block,
       cast(count(*) * {_MS_SEGS_SQL} as bigint) AS total_segs
FROM cases WHERE ms_case > 0 GROUP BY ms_case
""",
)
def marching_squares_cells(spark, sf_dir):
    """Marching-squares case census over the dense-cell mask — the
    raster→vector contouring kernel (every isoline/boundary renderer
    classifies 2×2 blocks into the 16 cases; saddles 5 and 10 carry
    two contour segments): candidate blocks come from exploding each
    foreground cell into the 4 blocks containing it (so empty sky is
    never enumerated — the sparse-raster discipline), corner bits from
    four left hash-joins against the mask, and the output is the case
    histogram with the exact total contour-segment count — the
    vectorization workload estimate. One point agg + one bounded
    4-way explode + 4 equi-joins."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").cast("long").alias("v"))
    )
    fg = grid.filter(F.col("v") >= _LSM_DENSE_MIN).select("cx", "cy")
    offs = spark.createDataFrame([(0, 0), (1, 0), (0, 1), (1, 1)], "dx int, dy int")
    anchors = (
        fg.crossJoin(F.broadcast(offs))
        .select((F.col("cx") - F.col("dx")).alias("ax"), (F.col("cy") - F.col("dy")).alias("ay"))
        .distinct()
    )
    cur = anchors
    for name, dx, dy, bit in (("b00", 0, 0, 1), ("b10", 1, 0, 2), ("b01", 0, 1, 4), ("b11", 1, 1, 8)):
        corner = fg.select(
            (F.col("cx") - dx).alias("ax"), (F.col("cy") - dy).alias("ay"), F.lit(bit).alias(name)
        )
        cur = cur.join(corner, ["ax", "ay"], "left")
    cases = cur.select(
        (
            F.coalesce(F.col("b00"), F.lit(0))
            + F.coalesce(F.col("b10"), F.lit(0))
            + F.coalesce(F.col("b01"), F.lit(0))
            + F.coalesce(F.col("b11"), F.lit(0))
        ).alias("ms_case")
    ).filter(F.col("ms_case") > 0)
    segs = F.expr(_MS_SEGS_SQL)
    return (
        cases.groupBy(F.col("ms_case").cast("int").alias("ms_case"))
        .agg(F.count("*").cast("long").alias("n_blocks"))
        .select(
            "ms_case",
            "n_blocks",
            segs.cast("long").alias("segs_per_block"),
            (F.col("n_blocks") * segs).cast("long").alias("total_segs"),
        )
    )



@register(
    "eb_shrunk_rates_cells",
    f"""
WITH pts AS (
  SELECT event_type, {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 10.0) as int) AS cx,
         cast(floor((90.0 - lat) / 10.0) as int) AS cy,
         cast(count(*) as bigint) AS n,
         cast(count(CASE WHEN event_type = 'click' THEN 1 END) as bigint) AS clicks
  FROM pts GROUP BY cx, cy
), g AS (
  SELECT cast(sum(clicks) * 1000000 // sum(n) as bigint) AS global_q FROM grid
)
SELECT cx, cy, n, clicks,
       cast(clicks * 1000000 // n as bigint) AS raw_q,
       cast((clicks * 1000000 + {_EB_PSEUDO} * g.global_q) // (n + {_EB_PSEUDO}) as bigint)
         AS shrunk_q
FROM grid, g
""",
)
def eb_shrunk_rates_cells(spark, sf_dir):
    """Empirical-Bayes shrinkage of per-cell click rates toward the
    global rate with 20 pseudo-counts — the small-sample leaderboard
    fix (a 2-event cell with 2 clicks is NOT a 100%-click hotspot;
    shrinkage pulls it to the prior exactly as much as its evidence
    is thin, the beta-binomial posterior mean with a moment-matched
    prior): shrunk = (clicks·1e6 + m·global) // (n + m), all exact
    integer ticks, the global prior a 1-row anchor. Complements
    wilson_host_ranking (bounds) with the point-estimate repair. One
    point agg + one 1-row broadcast."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            "event_type",
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 10.0).cast("int").alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 10.0).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count(F.when(F.col("event_type") == "click", True)).cast("long").alias("clicks"),
        )
    )
    g = grid.agg(F.expr("(sum(clicks) * 1000000) div sum(n)").cast("long").alias("global_q"))
    return grid.crossJoin(F.broadcast(g)).select(
        "cx",
        "cy",
        "n",
        "clicks",
        F.expr("(clicks * 1000000) div n").cast("long").alias("raw_q"),
        F.expr(f"(clicks * 1000000 + {_EB_PSEUDO} * global_q) div (n + {_EB_PSEUDO})")
        .cast("long")
        .alias("shrunk_q"),
    )



@register(
    "holt_trend_cells",
    f"""
WITH RECURSIVE pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         epoch_us(ts) // 1000000 // 86400 AS d
  FROM events
), c AS (
  SELECT cast(floor((lon + 180.0) / {_CUSUM_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_CUSUM_GRID}) as int) AS gy,
         d, cast(count(*) as bigint) AS x
  FROM pts GROUP BY gx, gy, d
), s AS (
  SELECT gx, gy, x,
         row_number() OVER (PARTITION BY gx, gy ORDER BY d) AS k,
         count(*) OVER (PARTITION BY gx, gy) AS n
  FROM c
), r AS (
  SELECT gx, gy, 1 AS k, n,
         cast(x * 1000000 as HUGEINT) AS l,
         cast(0 as HUGEINT) AS b,
         cast(0 as HUGEINT) AS sse
  FROM s WHERE k = 1
  UNION ALL
  SELECT s.gx, s.gy, r.k + 1, r.n,
         (s.x * 1000000 + 4 * (r.l + r.b)) // 5,
         (((s.x * 1000000 + 4 * (r.l + r.b)) // 5 - r.l) + 9 * r.b) // 10,
         r.sse + (s.x * 1000000 - (r.l + r.b)) * (s.x * 1000000 - (r.l + r.b))
  FROM r JOIN s ON s.gx = r.gx AND s.gy = r.gy AND s.k = r.k + 1
)
SELECT gx, gy, cast(n as bigint) AS n_days, cast(l as bigint) AS level_q,
       cast(b as bigint) AS trend_q, cast(l + b as bigint) AS forecast_q,
       cast(sse as bigint) AS sse_q
FROM r WHERE k = n ORDER BY gx, gy
""",
)
def holt_trend_cells(spark, sf_dir):
    """Holt double-exponential smoothing of each 30° cell's daily event
    series — level + trend state with one-step-ahead forecast and its
    SSE, the classic short-horizon forecaster (ETS(A,A,N)) a capacity
    planner runs per region. alpha=1/5, beta=1/10 as EXACT rationals in
    integer micro-ticks with truncating division, so the recurrence is
    deterministic and engine-portable (Python kernel emulates trunc;
    DuckDB `//` truncates); floored updates are non-associative — no
    window can express them — so the Spark path is one applyInPandas
    per cell over its calendar-bounded daily series (operators/
    recurrence.py), the oracle an equivalent WITH RECURSIVE over the
    step index. Scale shape: one (cell,day) hash agg over the big
    table, then per-cell state strictly bounded by days-in-window;
    sse_q is exact to |err| ~ 3e9 ticks/day (Python ints inside,
    int64 on emit)."""
    from gipspark.operators.recurrence import holt_kernel

    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("d"),
    )
    c = pts.groupBy(
        F.floor((F.col("lon") + 180.0) / F.lit(_CUSUM_GRID)).cast("int").alias("gx"),
        F.floor((90.0 - F.col("lat")) / F.lit(_CUSUM_GRID)).cast("int").alias("gy"),
        "d",
    ).agg(F.count("*").cast("long").alias("x"))
    return (
        c.groupBy("gx", "gy")
        .applyInPandas(
            holt_kernel,
            "gx int, gy int, n_days long, level_q long, trend_q long, "
            "forecast_q long, sse_q long",
        )
        .orderBy("gx", "gy")
    )



@register(
    "cost_distance_cells",
    f"""
WITH RECURSIVE raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cellsw AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS n,
         cast(1 + least(count(*) // 8, 3) as bigint) AS w
  FROM raw GROUP BY gx, gy
), reach(gx, gy, cost, rnd) AS (
  SELECT gx, gy, cast(0 as bigint), 0 FROM cellsw WHERE n >= {_CD_SEED}
  UNION
  SELECT c.gx, c.gy,
         r.cost + c.w * (CASE WHEN abs(c.gx - r.gx) + abs(c.gy - r.gy) = 2
                              THEN 14 ELSE 10 END),
         r.rnd + 1
  FROM reach r JOIN cellsw c
    ON abs(c.gx - r.gx) <= 1 AND abs(c.gy - r.gy) <= 1
   AND NOT (c.gx = r.gx AND c.gy = r.gy)
  WHERE r.rnd < {_CD_ROUNDS}
)
SELECT r.gx, r.gy, cast(min(r.cost) as bigint) AS cost,
       any_value(c.w) AS w, any_value(c.n) AS n
FROM reach r JOIN cellsw c ON c.gx = r.gx AND c.gy = r.gy
GROUP BY r.gx, r.gy ORDER BY r.gx, r.gy
""",
)
def cost_distance_cells(spark, sf_dir):
    """Weighted cost-distance surface (GIS least-cost accumulation):
    min accumulated traversal cost from any dense seed cell over the
    occupied lattice, where entering cell c costs w(c)*10 axially and
    w(c)*14 diagonally (the 10/14 integer chamfer that approximates
    sqrt2 without a float) and w(c) = 1 + min(n/8, 3) makes dense
    cells slow — the friction-surface generalization of
    distance_transform_cells (which is the unweighted rook-hop case).
    Spark unrolls {_CD_ROUNDS} Bellman-Ford relax rounds — each round
    explodes the 8 offsets on the frontier and equi-joins the target
    cell's weight, then min-aggregates — so after K rounds the cost is
    EXACTLY min over paths of <= K moves, which is what the oracle's
    bounded recursive enumeration computes. Scale shape: the big table
    is touched once by the density agg; every round is an equi-join +
    agg on the bounded cell table (never a theta join)."""
    ev = load(spark, sf_dir, "events")
    cellsw = (
        ev.select(
            C.derived_lat(F.col("event_id")).alias("lat"),
            C.derived_lon(F.col("event_id")).alias("lon"),
        )
        .groupBy(
            F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_DT_GRID)).cast("int").alias("gx"),
            F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_DT_GRID)).cast("int").alias("gy"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn(
            "w", (F.lit(1) + F.least(F.expr("n div 8"), F.lit(3))).cast("long")
        )
    )
    cellsw = cellsw.localCheckpoint()
    dist = cellsw.filter(F.col("n") >= _CD_SEED).select(
        "gx", "gy", F.lit(0).cast("long").alias("cost")
    )
    offsets = F.expr(
        "array("
        + ", ".join(
            f"struct({dx} as dx, {dy} as dy)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        )
        + ")"
    )
    tgt = cellsw.select(
        F.col("gx").alias("tx"), F.col("gy").alias("ty"), F.col("w").alias("tw")
    )
    for _ in range(_CD_ROUNDS):
        cand = (
            dist.select("gx", "gy", "cost", F.explode(offsets).alias("o"))
            .select(
                (F.col("gx") + F.col("o.dx")).alias("tx"),
                (F.col("gy") + F.col("o.dy")).alias("ty"),
                "cost",
                (F.abs(F.col("o.dx")) + F.abs(F.col("o.dy"))).alias("manh"),
            )
            .join(tgt, ["tx", "ty"])
            .select(
                F.col("tx").alias("gx"),
                F.col("ty").alias("gy"),
                (
                    F.col("cost")
                    + F.col("tw") * F.when(F.col("manh") == 2, 14).otherwise(10)
                ).alias("cost"),
            )
        )
        dist = (
            dist.unionAll(cand)
            .groupBy("gx", "gy")
            .agg(F.min("cost").cast("long").alias("cost"))
            .localCheckpoint()
        )
    return (
        dist.join(cellsw, ["gx", "gy"])
        .select("gx", "gy", "cost", "w", "n")
        .orderBy("gx", "gy")
    )



@register(
    "ols2_doc_features",
    """
WITH m AS (
  SELECT cast(n_chars as bigint) AS y,
         cast(len(regexp_split_to_array(lower(trim(text)), '\\s+')) as bigint) AS x1,
         cast(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g'))
              as bigint) AS x2
  FROM documents
), s AS (
  SELECT cast(count(*) as HUGEINT) AS n,
         cast(sum(x1) as HUGEINT) AS s1, cast(sum(x2) as HUGEINT) AS s2,
         cast(sum(y) as HUGEINT) AS sy,
         cast(sum(cast(x1 as HUGEINT) * x1) as HUGEINT) AS s11,
         cast(sum(cast(x2 as HUGEINT) * x2) as HUGEINT) AS s22,
         cast(sum(cast(x1 as HUGEINT) * x2) as HUGEINT) AS s12,
         cast(sum(cast(x1 as HUGEINT) * y) as HUGEINT) AS s1y,
         cast(sum(cast(x2 as HUGEINT) * y) as HUGEINT) AS s2y
  FROM m
)
SELECT cast(n as bigint) AS n,
       cast(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2) as double) AS det,
       cast(sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y) as double) AS det0,
       cast(n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2) as double) AS det1,
       cast(n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2) as double) AS det2,
       cast(sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y) as double)
         / cast(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2) as double) AS b0,
       cast(n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2) as double)
         / cast(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2) as double) AS b1,
       cast(n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2) as double)
         / cast(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2) as double) AS b2
FROM s
""",
)
def ols2_doc_features(spark, sf_dir):
    """Two-regressor OLS by exact normal equations — predict document
    length from whitespace token count and vowel count, the multiple-
    regression extension of ols_trend_cells (one regressor) via
    Cramer's rule on the 3x3 moment matrix: all nine moments are one
    exact DECIMAL(38,0) hash aggregate, the four determinants expand
    in a FIXED textual term order both engines share, and the
    coefficients are the only floats (single divisions of exact-int
    casts). Exactness envelope: triple moment products need ~3x the
    moment digits — exact to ~1e9 docs at these magnitudes, document-
    scale regression far beyond any single-pass float implementation's
    reproducibility. Scale shape: ONE aggregate over the corpus, no
    shuffle beyond it."""
    dec = "decimal(38,0)"
    docs = load(spark, sf_dir, "documents")
    m = docs.select(
        F.col("n_chars").cast("long").alias("y"),
        T.token_count(F.col("text")).cast("long").alias("x1"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[aeiou]", ""))
        )
        .cast("long")
        .alias("x2"),
    )
    s = m.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x1").cast(dec).alias("s1"),
        F.sum("x2").cast(dec).alias("s2"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x1").cast(dec) * F.col("x1")).cast(dec).alias("s11"),
        F.sum(F.col("x2").cast(dec) * F.col("x2")).cast(dec).alias("s22"),
        F.sum(F.col("x1").cast(dec) * F.col("x2")).cast(dec).alias("s12"),
        F.sum(F.col("x1").cast(dec) * F.col("y")).cast(dec).alias("s1y"),
        F.sum(F.col("x2").cast(dec) * F.col("y")).cast(dec).alias("s2y"),
    )
    det = "n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)"
    det0 = "sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)"
    det1 = "n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)"
    det2 = "n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)"
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.expr(det).cast("double").alias("det"),
        F.expr(det0).cast("double").alias("det0"),
        F.expr(det1).cast("double").alias("det1"),
        F.expr(det2).cast("double").alias("det2"),
        (F.expr(det0).cast("double") / F.expr(det).cast("double")).alias("b0"),
        (F.expr(det1).cast("double") / F.expr(det).cast("double")).alias("b1"),
        (F.expr(det2).cast("double") / F.expr(det).cast("double")).alias("b2"),
    )



@register(
    "control_chart_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon,
         epoch_us(ts) // 1000000 // 86400 AS d
  FROM events
), c AS (
  SELECT cast(floor((lon + 180.0) / {_CUSUM_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_CUSUM_GRID}) as int) AS gy,
         d, cast(count(*) as bigint) AS x
  FROM pts GROUP BY gx, gy, d
), mr AS (
  SELECT gx, gy, d, x,
         abs(x - lag(x) OVER (PARTITION BY gx, gy ORDER BY d)) AS mrv
  FROM c
), st AS (
  SELECT gx, gy, cast(count(*) as bigint) AS n_days,
         cast(sum(x) * 1000000 // count(*) as bigint) AS xbar_q,
         cast(sum(mrv) * 1000000 // (count(*) - 1) as bigint) AS mrbar_q
  FROM mr GROUP BY gx, gy HAVING count(*) >= 2
), lim AS (
  SELECT gx, gy, n_days, xbar_q, mrbar_q,
         xbar_q + (2660 * mrbar_q) // 1000 AS ucl_q,
         xbar_q - (2660 * mrbar_q) // 1000 AS lcl_q
  FROM st
)
SELECT lim.gx, lim.gy, lim.n_days, lim.xbar_q, lim.mrbar_q,
       cast(lim.ucl_q as bigint) AS ucl_q, cast(lim.lcl_q as bigint) AS lcl_q,
       cast(count(*) FILTER (WHERE c.x * 1000000 > lim.ucl_q
                                OR c.x * 1000000 < lim.lcl_q) as bigint) AS n_viol
FROM lim JOIN c ON c.gx = lim.gx AND c.gy = lim.gy
GROUP BY lim.gx, lim.gy, lim.n_days, lim.xbar_q, lim.mrbar_q, lim.ucl_q, lim.lcl_q
ORDER BY lim.gx, lim.gy
""",
)
def control_chart_cells(spark, sf_dir):
    """Shewhart individuals/moving-range (XmR) control chart per 30°
    cell — the SPC primitive an ops team wires per region: center line
    = mean daily count, natural process limits = xbar ± 2.66 * mean
    moving range (the d2=1.128 constant folded to the exact integer
    2660/1000), and the count of out-of-control days. The reactive
    complement to cusum_changepoint_cells (CUSUM finds the shift
    onset; XmR flags individual excursions against Shewhart limits).
    All floor-tick integers — means are sum*1e6 div n, limits are
    integer combinations, violations compare x*1e6 against them — so
    the chart is bit-reproducible. Scale shape: one (cell,day) agg,
    one lag window, one reagg, one membership join back."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("d"),
    )
    c = pts.groupBy(
        F.floor((F.col("lon") + 180.0) / F.lit(_CUSUM_GRID)).cast("int").alias("gx"),
        F.floor((90.0 - F.col("lat")) / F.lit(_CUSUM_GRID)).cast("int").alias("gy"),
        "d",
    ).agg(F.count("*").cast("long").alias("x"))
    mr = c.withColumn(
        "mrv",
        F.abs(
            F.col("x")
            - F.lag("x").over(Window.partitionBy("gx", "gy").orderBy("d"))
        ),
    )
    st = (
        mr.groupBy("gx", "gy")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.expr("(sum(x) * 1000000) div count(*)").cast("long").alias("xbar_q"),
            F.expr("(sum(mrv) * 1000000) div (count(*) - 1)")
            .cast("long")
            .alias("mrbar_q"),
        )
        .filter(F.col("n_days") >= 2)
    )
    lim = st.select(
        "gx",
        "gy",
        "n_days",
        "xbar_q",
        "mrbar_q",
        (F.col("xbar_q") + F.expr("(2660 * mrbar_q) div 1000")).alias("ucl_q"),
        (F.col("xbar_q") - F.expr("(2660 * mrbar_q) div 1000")).alias("lcl_q"),
    )
    return (
        lim.join(c, ["gx", "gy"])
        .groupBy("gx", "gy", "n_days", "xbar_q", "mrbar_q", "ucl_q", "lcl_q")
        .agg(
            F.count(
                F.when(
                    (F.col("x") * 1000000 > F.col("ucl_q"))
                    | (F.col("x") * 1000000 < F.col("lcl_q")),
                    1,
                )
            )
            .cast("long")
            .alias("n_viol")
        )
        .select(
            "gx",
            "gy",
            "n_days",
            "xbar_q",
            "mrbar_q",
            F.col("ucl_q").cast("long").alias("ucl_q"),
            F.col("lcl_q").cast("long").alias("lcl_q"),
            "n_viol",
        )
        .orderBy("gx", "gy")
    )



@register(
    "slx_spillover_cells",
    f"""
WITH ec AS (
  SELECT cast(floor((({_LON.format(k='event_id')}) + 180.0) / 30.0) as int) AS gx,
         cast(floor((90.0 - ({_LAT.format(k='event_id')})) / 30.0) as int) AS gy,
         cast(count(*) as bigint) AS y
  FROM events GROUP BY gx, gy
), cc AS (
  SELECT cast(floor((({_LON.format(k='c_custkey')}) + 180.0) / 30.0) as int) AS gx,
         cast(floor((90.0 - ({_LAT.format(k='c_custkey')})) / 30.0) as int) AS gy,
         cast(count(*) as bigint) AS x
  FROM customer GROUP BY gx, gy
), uni AS (
  SELECT gx, gy, coalesce(max(y), 0) AS y, coalesce(max(x), 0) AS x
  FROM (SELECT gx, gy, y, NULL AS x FROM ec
        UNION ALL SELECT gx, gy, NULL, x FROM cc)
  GROUP BY gx, gy
), wx AS (
  SELECT a.gx, a.gy, a.y, a.x,
         cast(coalesce(sum(b.x), 0) as bigint) AS wx
  FROM uni a LEFT JOIN uni b
    ON (abs(b.gx - a.gx) + abs(b.gy - a.gy)) = 1
  GROUP BY a.gx, a.gy, a.y, a.x
), s AS (
  SELECT cast(count(*) as HUGEINT) AS n,
         cast(sum(x) as HUGEINT) AS s1, cast(sum(wx) as HUGEINT) AS s2,
         cast(sum(y) as HUGEINT) AS sy,
         cast(sum(cast(x as HUGEINT) * x) as HUGEINT) AS s11,
         cast(sum(cast(wx as HUGEINT) * wx) as HUGEINT) AS s22,
         cast(sum(cast(x as HUGEINT) * wx) as HUGEINT) AS s12,
         cast(sum(cast(x as HUGEINT) * y) as HUGEINT) AS s1y,
         cast(sum(cast(wx as HUGEINT) * y) as HUGEINT) AS s2y
  FROM wx
)
SELECT cast(n as bigint) AS n,
       cast(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2) as double) AS det,
       cast(n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2) as double)
         / cast(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2) as double) AS beta_x,
       cast(n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2) as double)
         / cast(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2) as double) AS beta_wx
FROM s
""",
)
def slx_spillover_cells(spark, sf_dir):
    """SLX spatial-spillover regression: does a cell's event volume
    respond to its OWN customer base (beta_x) or to its NEIGHBORS'
    (beta_wx, the spatially lagged regressor Wx = rook-neighbor sum)?
    The regression form of what morans_i_tiles only hints at —
    separating local effect from spillover is the standard first
    spatial-econometrics move (SLX, the exogenous-lag model that
    needs no matrix inversion). Machinery is ols2_doc_features'
    exact Cramer determinants on integer cell counts; W is built
    with one rook equi-... adjacency LEFT join so empty-neighbor
    cells keep Wx = 0. Scale shape: two big-table cell aggs, one
    bounded-lattice adjacency join, one moment aggregate."""
    dec = "decimal(38,0)"
    ev = load(spark, sf_dir, "events")
    cu = load(spark, sf_dir, "customer")

    def cells(df, key):
        return df.groupBy(
            F.floor((C.derived_lon(F.col(key)) + 180.0) / F.lit(30.0))
            .cast("int")
            .alias("gx"),
            F.floor((90.0 - C.derived_lat(F.col(key))) / F.lit(30.0))
            .cast("int")
            .alias("gy"),
        ).agg(F.count("*").cast("long").alias("n"))

    ec = cells(ev, "event_id").withColumnRenamed("n", "y")
    cc = cells(cu, "c_custkey").withColumnRenamed("n", "x")
    uni = (
        ec.select("gx", "gy", "y", F.lit(None).cast("long").alias("x"))
        .unionAll(cc.select("gx", "gy", F.lit(None).cast("long").alias("y"), "x"))
        .groupBy("gx", "gy")
        .agg(
            F.coalesce(F.max("y"), F.lit(0)).alias("y"),
            F.coalesce(F.max("x"), F.lit(0)).alias("x"),
        )
        .localCheckpoint()
    )
    nb = uni.select(
        F.col("gx").alias("bgx"), F.col("gy").alias("bgy"), F.col("x").alias("bx")
    )
    shifts = [(1, 0), (-1, 0), (0, 1), (0, -1)]
    wx = uni
    acc = None
    for dx, dy in shifts:
        t = uni.join(
            nb,
            (F.col("bgx") == F.col("gx") + dx) & (F.col("bgy") == F.col("gy") + dy),
            "left",
        ).select("gx", "gy", F.coalesce(F.col("bx"), F.lit(0)).alias("nx"))
        acc = t if acc is None else acc.unionAll(t)
    wxs = acc.groupBy("gx", "gy").agg(F.sum("nx").cast("long").alias("wx"))
    wx = uni.join(wxs, ["gx", "gy"]).select("y", "x", "wx")
    s = wx.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("s1"),
        F.sum("wx").cast(dec).alias("s2"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("s11"),
        F.sum(F.col("wx").cast(dec) * F.col("wx")).cast(dec).alias("s22"),
        F.sum(F.col("x").cast(dec) * F.col("wx")).cast(dec).alias("s12"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("s1y"),
        F.sum(F.col("wx").cast(dec) * F.col("y")).cast(dec).alias("s2y"),
    )
    det = "n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)"
    det1 = "n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)"
    det2 = "n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)"
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.expr(det).cast("double").alias("det"),
        (F.expr(det1).cast("double") / F.expr(det).cast("double")).alias("beta_x"),
        (F.expr(det2).cast("double") / F.expr(det).cast("double")).alias("beta_wx"),
    )



@register(
    "tri_tpi_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
), nb AS (
  SELECT g.cx, g.cy, g.v,
         cast(count(n.v) as bigint) AS n_nb,
         cast(coalesce(sum(abs(g.v - n.v)), 0) as bigint) AS adiff,
         cast(coalesce(sum(n.v), 0) as bigint) AS vsum
  FROM grid g
  CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1))
    AS o(dx, dy)
  LEFT JOIN grid n ON n.cx = g.cx + o.dx AND n.cy = g.cy + o.dy
  GROUP BY g.cx, g.cy, g.v
)
SELECT cx, cy, v, n_nb,
       adiff + (8 - n_nb) * v AS tri,
       8 * v - vsum AS tpi8,
       CASE WHEN 8 * v - vsum > 0 THEN 'ridge'
            WHEN 8 * v - vsum < 0 THEN 'valley'
            ELSE 'flat' END AS tpi_class
FROM nb ORDER BY cx, cy
""",
)
def tri_tpi_cells(spark, sf_dir):
    """Terrain Ruggedness Index + Topographic Position Index over the
    event-density raster — the two Wilson/Gallant focal terrain
    metrics raster_gradient (slope/aspect) doesn't cover: TRI =
    Σ|z−z_nb| over the 8-neighborhood (local relief), TPI×8 = 8z −
    Σz_nb (positive ⇒ the cell sits above its surroundings — a
    hotspot 'ridge'; negative ⇒ a local 'valley'). The sparse grid
    treats absent neighbors as 0-density cells ((8−n_nb)·v folds
    them into TRI exactly), so both indices are pure bigint sums.
    Scale shape: the point table collapses to dense cells in one
    map-side-combinable agg; the 8× offset explode + equi-join runs
    on the dim-scale cell table (the morans_i rook-join idiom
    widened to queen adjacency)."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5)
            .cast("int")
            .alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5)
            .cast("int")
            .alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)],
        "dx int, dy int",
    )
    g = grid.alias("g").crossJoin(F.broadcast(offs))
    n = grid.select(
        F.col("cx").alias("ncx"), F.col("cy").alias("ncy"), F.col("v").alias("nv")
    )
    nb = (
        g.join(
            n,
            (F.col("ncx") == F.col("g.cx") + F.col("dx"))
            & (F.col("ncy") == F.col("g.cy") + F.col("dy")),
            "left",
        )
        .groupBy(F.col("g.cx").alias("cx"), F.col("g.cy").alias("cy"), F.col("g.v").alias("v"))
        .agg(
            F.count("nv").cast("long").alias("n_nb"),
            F.coalesce(F.sum(F.abs(F.col("g.v") - F.col("nv"))), F.lit(0))
            .cast("long")
            .alias("adiff"),
            F.coalesce(F.sum("nv"), F.lit(0)).cast("long").alias("vsum"),
        )
    )
    tpi8 = F.lit(8) * F.col("v") - F.col("vsum")
    return nb.select(
        "cx",
        "cy",
        "v",
        "n_nb",
        (F.col("adiff") + (F.lit(8) - F.col("n_nb")) * F.col("v")).alias("tri"),
        tpi8.alias("tpi8"),
        F.when(tpi8 > 0, F.lit("ridge"))
        .when(tpi8 < 0, F.lit("valley"))
        .otherwise(F.lit("flat"))
        .alias("tpi_class"),
    ).orderBy("cx", "cy")



# --- round-4 session-4 batch 4: global G, spatial Markov, SemDeDup ---------


@register(
    "general_g_tiles",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_MORAN_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_MORAN_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS x
  FROM pts GROUP BY gx, gy
), pairs AS (
  SELECT a.x AS xi, b.x AS xj
  FROM cells a JOIN cells b ON (abs(a.gx - b.gx) + abs(a.gy - b.gy)) = 1
), st AS (
  SELECT cast(count(*) as bigint) AS n, cast(sum(x) as bigint) AS s,
         cast(sum(x * x) as bigint) AS s2
  FROM cells
), agg AS (
  SELECT cast(count(*) as bigint) AS w_links, cast(sum(xi * xj) as bigint) AS num
  FROM pairs
)
SELECT st.n AS n_cells, agg.w_links, agg.num,
       cast(st.s * st.s - st.s2 as bigint) AS den,
       cast(agg.num as double) / cast(st.s * st.s - st.s2 as double) AS general_g,
       cast(agg.w_links as double) / cast(st.n * (st.n - 1) as double) AS expected_g,
       (cast(agg.num as double) / cast(st.s * st.s - st.s2 as double))
         / (cast(agg.w_links as double) / cast(st.n * (st.n - 1) as double))
         AS g_ratio
FROM st, agg
""",
)
def general_g_tiles(spark, sf_dir):
    """Global Getis–Ord General G over the 15° customer lattice — the
    GLOBAL high/low-clustering statistic that gi_star_hotspots
    localizes: G = Σ_rook x_i·x_j / Σ_{{i≠j}} x_i·x_j, where the
    all-pairs denominator is the moment identity S² − Σx² (no pair
    join), the numerator is one rook offset-join sum, and E[G] =
    W/(n(n−1)) under CSR. G/E[G] > 1 ⇒ high values cluster next to
    high values (Moran's I says 'similar values cluster'; G says
    WHICH tail drives it). Every moment is an exact bigint; the three
    doubles are fixed-order ratios of those integers. Scale shape:
    one cell agg + one rook equi-join on the dim-scale lattice."""
    from gipspark.operators.morans import cell_counts

    pts = load(spark, sf_dir, "customer").select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    cells = cell_counts(pts, _MORAN_GRID).select(
        "gx", "gy", F.col("x").cast("long").alias("x")
    )
    a = cells.select(F.col("gx").alias("ax"), F.col("gy").alias("ay"), F.col("x").alias("xi"))
    b = cells.select(F.col("gx").alias("bx"), F.col("gy").alias("by"), F.col("x").alias("xj"))
    offs = spark.createDataFrame(
        [(-1, 0), (1, 0), (0, -1), (0, 1)], "dx int, dy int"
    )
    pairs = a.crossJoin(F.broadcast(offs)).join(
        b,
        (F.col("bx") == F.col("ax") + F.col("dx"))
        & (F.col("by") == F.col("ay") + F.col("dy")),
    )
    st = cells.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    agg = pairs.agg(
        F.count("*").cast("long").alias("w_links"),
        F.sum(F.col("xi") * F.col("xj")).cast("long").alias("num"),
    )
    den = (F.col("s") * F.col("s") - F.col("s2")).cast("long")
    g = F.col("num").cast("double") / den.cast("double")
    eg = F.col("w_links").cast("double") / (F.col("n") * (F.col("n") - 1)).cast("double")
    return (
        st.crossJoin(F.broadcast(agg))
        .select(
            F.col("n").alias("n_cells"),
            "w_links",
            "num",
            den.alias("den"),
            g.alias("general_g"),
            eg.alias("expected_g"),
            (g / eg).alias("g_ratio"),
        )
    )



@register(
    "spatial_markov_cells",
    f"""
WITH pts AS (
  SELECT epoch_us(ts) // 1000000 // 86400 AS d,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), half AS (SELECT (min(d) + max(d) + 1) // 2 AS mid FROM pts),
cells AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) FILTER (WHERE d < mid) as bigint) AS x1,
         cast(count(*) FILTER (WHERE d >= mid) as bigint) AS x2
  FROM pts, half GROUP BY cx, cy
), cls AS (
  SELECT cx, cy, x1, x2,
         ntile(5) OVER (ORDER BY x1, cx, cy) AS c1,
         ntile(5) OVER (ORDER BY x2, cx, cy) AS c2
  FROM cells
), lag AS (
  SELECT g.cx, g.cy, g.c1, g.c2,
         cast(count(n.c1) as bigint) AS n_nb,
         cast(coalesce(sum(n.c1), 0) as bigint) AS nb_sum
  FROM cls g
  CROSS JOIN (VALUES (-1,0),(1,0),(0,-1),(0,1)) AS o(dx, dy)
  LEFT JOIN cls n ON n.cx = g.cx + o.dx AND n.cy = g.cy + o.dy
  GROUP BY g.cx, g.cy, g.c1, g.c2
), lagc AS (
  SELECT cx, cy, c1, c2,
         CASE WHEN n_nb = 0 THEN 0
              ELSE cast((nb_sum * 1000) // n_nb as bigint) END AS lag_milli,
         ntile(3) OVER (ORDER BY CASE WHEN n_nb = 0 THEN 0
                                      ELSE cast((nb_sum * 1000) // n_nb as bigint) END,
                        cx, cy) AS lag_class
  FROM lag
), tr AS (
  SELECT lag_class, c1, c2, cast(count(*) as bigint) AS n
  FROM lagc GROUP BY lag_class, c1, c2
), rowt AS (
  SELECT lag_class, c1, cast(sum(n) as bigint) AS row_n FROM tr GROUP BY lag_class, c1
)
SELECT tr.lag_class, tr.c1 AS class_from, tr.c2 AS class_to, tr.n, rowt.row_n,
       cast(tr.n * 1000000 // rowt.row_n as bigint) AS p_micro
FROM tr JOIN rowt USING (lag_class, c1)
ORDER BY tr.lag_class, class_from, class_to
""",
)
def spatial_markov_cells(spark, sf_dir):
    """Spatial Markov transition matrix (Rey's regional-dynamics
    kernel): split the event stream at its median epoch-day, classify
    every 2.5° cell into density quintiles in each half (ntile under
    a total (count, cx, cy) order — deterministic in both engines),
    and cross-tabulate class transitions CONDITIONED on the rook
    spatial-lag class — does a cell's mobility depend on whether its
    neighbors are hot? event_transition_matrix is the temporal
    Markov chain; this is its spatial conditional. The lag is the
    exact milli-tick neighbor-average class (isolated cells → class
    floor), bucketed into terciles; transition probabilities are
    floor micro-ticks of exact counts. Scale shape: one cell agg,
    two rank windows over the dim-scale lattice, one 4-offset rook
    join — points are touched exactly once."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        F.floor(F.unix_timestamp("ts") / F.lit(86400)).cast("long").alias("d"),
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    half = pts.agg(
        F.expr("cast((min(d) + max(d) + 1) div 2 as bigint)").alias("mid")
    )
    cells = (
        pts.crossJoin(F.broadcast(half))
        .groupBy(
            F.floor((F.col("lon") + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - F.col("lat")) / 2.5).cast("int").alias("cy"),
        )
        .agg(
            F.count(F.when(F.col("d") < F.col("mid"), 1)).cast("long").alias("x1"),
            F.count(F.when(F.col("d") >= F.col("mid"), 1)).cast("long").alias("x2"),
        )
    )
    cls = cells.select(
        "cx",
        "cy",
        "x1",
        "x2",
        F.ntile(5).over(Window.orderBy("x1", "cx", "cy")).alias("c1"),
        F.ntile(5).over(Window.orderBy("x2", "cx", "cy")).alias("c2"),
    )
    offs = spark.createDataFrame(
        [(-1, 0), (1, 0), (0, -1), (0, 1)], "dx int, dy int"
    )
    n = cls.select(
        F.col("cx").alias("ncx"), F.col("cy").alias("ncy"), F.col("c1").alias("nc1")
    )
    lag = (
        cls.alias("g")
        .crossJoin(F.broadcast(offs))
        .join(
            n,
            (F.col("ncx") == F.col("g.cx") + F.col("dx"))
            & (F.col("ncy") == F.col("g.cy") + F.col("dy")),
            "left",
        )
        .groupBy(
            F.col("g.cx").alias("cx"),
            F.col("g.cy").alias("cy"),
            F.col("g.c1").alias("c1"),
            F.col("g.c2").alias("c2"),
        )
        .agg(
            F.count("nc1").cast("long").alias("n_nb"),
            F.coalesce(F.sum("nc1"), F.lit(0)).cast("long").alias("nb_sum"),
        )
    )
    lag_milli = F.when(F.col("n_nb") == 0, F.lit(0).cast("long")).otherwise(
        F.expr("cast((nb_sum * 1000) div n_nb as bigint)")
    )
    lagc = lag.select(
        "cx",
        "cy",
        "c1",
        "c2",
        lag_milli.alias("lag_milli"),
        F.ntile(3)
        .over(Window.orderBy(lag_milli, F.col("cx"), F.col("cy")))
        .alias("lag_class"),
    )
    tr = lagc.groupBy("lag_class", "c1", "c2").agg(
        F.count("*").cast("long").alias("n")
    )
    rowt = tr.groupBy("lag_class", "c1").agg(F.sum("n").cast("long").alias("row_n"))
    return (
        tr.join(rowt, ["lag_class", "c1"])
        .select(
            "lag_class",
            F.col("c1").alias("class_from"),
            F.col("c2").alias("class_to"),
            "n",
            "row_n",
            F.expr("cast(n * 1000000 div row_n as bigint)").alias("p_micro"),
        )
        .orderBy("lag_class", "class_from", "class_to")
    )



@register(
    "allocation_cells",
    f"""
WITH RECURSIVE raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         count(*) AS n
  FROM raw GROUP BY gx, gy
), reach(gx, gy, d, seed) AS (
  SELECT gx, gy, 0, gx * 1000 + gy FROM cells WHERE n >= {_DT_DENSE}
  UNION
  SELECT c.gx, c.gy, r.d + 1, r.seed
  FROM reach r JOIN cells c
    ON (abs(c.gx - r.gx) + abs(c.gy - r.gy)) = 1
  WHERE r.d < {_DT_MAXHOP}
), best AS (
  SELECT gx, gy, min(d) AS dist FROM reach GROUP BY gx, gy
)
SELECT b.gx, b.gy, cast(b.dist as bigint) AS dist,
       cast(min(r.seed) as bigint) AS seed_id
FROM best b JOIN reach r ON r.gx = b.gx AND r.gy = b.gy AND r.d = b.dist
GROUP BY b.gx, b.gy, b.dist
""",
)
def allocation_cells(spark, sf_dir):
    """Nearest-facility ALLOCATION on the occupied lattice (the raster
    'euclidean allocation' / discrete-Voronoi operator): every cell
    within {_DT_MAXHOP} rook hops of a dense seed is labeled with the
    seed it is CLOSEST to (ties → smallest seed id), extending
    distance_transform_cells from "how far" to "whose catchment".
    Spark runs the same unrolled relaxation, but the frontier carries
    (dist, seed) and each round folds min(struct(dist, seed)) — the
    lexicographic min IS the tie rule, so no separate argmin pass.
    Scale shape: the event table is touched once by the density agg;
    K rounds of offset-explode equi-joins over the bounded cell
    lattice; no θ-join. Oracle: recursive-CTE BFS with an independent
    min-then-argmin formulation."""
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
        .agg(F.count("*").alias("n"))
    )
    occupied = cells.select("gx", "gy")
    state = cells.filter(F.col("n") >= _DT_DENSE).select(
        "gx",
        "gy",
        F.struct(
            F.lit(0).cast("long").alias("dist"),
            (F.col("gx").cast("long") * 1000 + F.col("gy")).alias("seed"),
        ).alias("ds"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        ]
    )
    for _ in range(_DT_MAXHOP):
        nbr = (
            state.select("gx", "gy", "ds", F.explode(offsets).alias("o"))
            .select(
                (F.col("gx") + F.col("o.dx")).alias("gx"),
                (F.col("gy") + F.col("o.dy")).alias("gy"),
                F.struct(
                    (F.col("ds.dist") + F.lit(1)).alias("dist"),
                    F.col("ds.seed").alias("seed"),
                ).alias("ds"),
            )
            .join(occupied, ["gx", "gy"])
        )
        state = (
            state.unionByName(nbr).groupBy("gx", "gy").agg(F.min("ds").alias("ds"))
        )
    return state.select(
        "gx",
        "gy",
        F.col("ds.dist").cast("long").alias("dist"),
        F.col("ds.seed").cast("long").alias("seed_id"),
    )



@register(
    "raster_resample_cells",
    f"""
WITH raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS n
  FROM raw GROUP BY gx, gy
), scatter AS (
  SELECT 2 * c.gx + o.a AS fx, 2 * c.gy + o.b AS fy,
         c.n * o.w AS contrib, o.w AS w
  FROM cells c CROSS JOIN (VALUES {_RESAMPLE_VALUES}) AS o(a, b, w)
)
SELECT cast(fx as int) AS fx, cast(fy as int) AS fy,
       cast(sum(contrib) as bigint) AS v16,
       cast(sum(w) as bigint) AS w_total
FROM scatter GROUP BY fx, fy ORDER BY fx, fy
""",
)
def raster_resample_cells(spark, sf_dir):
    """2× bilinear raster upsample of the event-density grid — the
    resample every tile-pyramid zoom-in needs. Implemented SCATTER-
    style: each coarse cell explodes into its 16 fine contributions
    with the integer weight table _RESAMPLE_W (per-axis 3/1 quarter-
    pixel weights, 2-D products 9/3/1, ×16 fixed point), then one hash
    agg sums per fine cell — v16 is an exact bigint and w_total
    records the achieved weight mass (16 in the interior, less at the
    raster edge, so edge handling is explicit data, not a silent
    renormalization). Scale shape: the event table folds once; the
    scatter is a literal 16-row dim explode over the bounded lattice +
    one fine-cell hash agg — no join against the fine grid at all."""
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
    offsets = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"), F.lit(w).alias("w"))
            for a, b, w in _RESAMPLE_W
        ]
    )
    return (
        cells.select("gx", "gy", "n", F.explode(offsets).alias("o"))
        .groupBy(
            (F.lit(2) * F.col("gx") + F.col("o.a")).cast("int").alias("fx"),
            (F.lit(2) * F.col("gy") + F.col("o.b")).cast("int").alias("fy"),
        )
        .agg(
            F.sum(F.col("n") * F.col("o.w")).cast("long").alias("v16"),
            F.sum(F.col("o.w")).cast("long").alias("w_total"),
        )
        .orderBy("fx", "fy")
    )



@register(
    "evans_curvature_cells",
    f"""
WITH raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS z
  FROM raw GROUP BY gx, gy
), scatter AS (
  SELECT c.gx + o.dx AS tx, c.gy + o.dy AS ty,
         c.z * o.wr AS cr, c.z * o.wt AS ct, c.z * o.ws AS cs
  FROM cells c CROSS JOIN (VALUES {_EVANS_VALUES}) AS o(dx, dy, wr, wt, ws)
)
SELECT cast(tx as int) AS gx, cast(ty as int) AS gy,
       cast(sum(cr) as bigint) AS r12,
       cast(sum(ct) as bigint) AS t12,
       cast(sum(cs) as bigint) AS s12,
       cast(sum(cr) + sum(ct) as bigint) AS laplacian12
FROM scatter GROUP BY tx, ty ORDER BY gx, gy
""",
)
def evans_curvature_cells(spark, sf_dir):
    """Evans–Young second-derivative surface fit on the event-density
    raster: r = ∂²z/∂x², t = ∂²z/∂y², s = ∂²z/∂x∂y from the standard
    3×3 quadratic-fit kernels (×12 fixed point clears the /3 and /4
    denominators — pure bigints), plus the Laplacian r+t — the
    curvature layer behind peak/pit/saddle morphometry that
    raster_gradient_cells (1st derivatives) and tri_tpi_cells
    (roughness) don't give. The kernels are negation-symmetric, so one
    SCATTER explode (the raster_resample_cells idiom) feeds all three
    — absent neighbors are genuine zero density, stated, not imputed.
    Scale shape: events fold once; 9-offset literal explode + one
    hash agg, no join."""
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
        .agg(F.count("*").cast("long").alias("z"))
    )
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(wr).alias("wr"),
                F.lit(wt).alias("wt"),
                F.lit(ws).alias("ws"),
            )
            for dx, dy, wr, wt, ws in _EVANS_OFFSETS
        ]
    )
    return (
        cells.select("gx", "gy", "z", F.explode(offsets).alias("o"))
        .groupBy(
            (F.col("gx") + F.col("o.dx")).cast("int").alias("gx"),
            (F.col("gy") + F.col("o.dy")).cast("int").alias("gy"),
        )
        .agg(
            F.sum(F.col("z") * F.col("o.wr")).cast("long").alias("r12"),
            F.sum(F.col("z") * F.col("o.wt")).cast("long").alias("t12"),
            F.sum(F.col("z") * F.col("o.ws")).cast("long").alias("s12"),
        )
        .select(
            "gx",
            "gy",
            "r12",
            "t12",
            "s12",
            (F.col("r12") + F.col("t12")).cast("long").alias("laplacian12"),
        )
        .orderBy("gx", "gy")
    )



@register(
    "anisotropy_ratio_cells",
    f"""
WITH raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS z
  FROM raw GROUP BY gx, gy
), ew AS (
  SELECT cast(count(*) as bigint) AS n_ew,
         cast(sum((a.z - b.z) * (a.z - b.z)) as bigint) AS g_ew
  FROM cells a JOIN cells b ON b.gx = a.gx + 1 AND b.gy = a.gy
), ns AS (
  SELECT cast(count(*) as bigint) AS n_ns,
         cast(sum((a.z - b.z) * (a.z - b.z)) as bigint) AS g_ns
  FROM cells a JOIN cells b ON b.gx = a.gx AND b.gy = a.gy + 1
)
SELECT ew.n_ew, ew.g_ew, ns.n_ns, ns.g_ns,
       cast(ew.g_ew * ns.n_ns * 1000000 // greatest(ns.g_ns * ew.n_ew, 1) as bigint)
         AS anisotropy_micro
FROM ew, ns
""",
)
def anisotropy_ratio_cells(spark, sf_dir):
    """Directional anisotropy of the event-density surface: the lag-1
    semivariance east–west vs north–south (γ_EW/γ_NS as an exact
    micro-tick cross-multiplied ratio) — the quick directional check
    that decides whether semivariogram_customers' isotropic model is
    even admissible (ratio far from 10⁶ ⇒ fit directional variograms).
    Squared increments over axis-neighbor pairs are pure bigints; the
    two directional sums come from two offset EQUI-joins on the
    bounded lattice (the morans rook idiom, split by axis). Scale
    shape: events fold once; two lattice self-equi-joins + two 1-row
    folds cross-combined."""
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
        .agg(F.count("*").cast("long").alias("z"))
    )
    a = cells.select(F.col("gx").alias("ax"), F.col("gy").alias("ay"), F.col("z").alias("za"))

    def axis(dx: int, dy: int, n_name: str, g_name: str) -> DataFrame:
        b = cells.select(
            (F.col("gx") - dx).alias("ax"), (F.col("gy") - dy).alias("ay"), F.col("z").alias("zb")
        )
        return a.join(b, ["ax", "ay"]).agg(
            F.count("*").cast("long").alias(n_name),
            F.sum((F.col("za") - F.col("zb")) * (F.col("za") - F.col("zb")))
            .cast("long")
            .alias(g_name),
        )

    ew = axis(1, 0, "n_ew", "g_ew")
    ns = axis(0, 1, "n_ns", "g_ns")
    return ew.crossJoin(F.broadcast(ns)).select(
        "n_ew",
        "g_ew",
        "n_ns",
        "g_ns",
        F.expr(
            "cast(g_ew * n_ns * 1000000 div greatest(g_ns * n_ew, 1) as bigint)"
        ).alias("anisotropy_micro"),
    )



@register(
    "pyramid_variance_cells",
    f"""
WITH raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), base AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS n
  FROM raw GROUP BY gx, gy
), levels AS (
  SELECT 0 AS level, gx AS cx, gy AS cy, n FROM base
  UNION ALL
  SELECT 1, gx // 2, gy // 2, n FROM base
  UNION ALL
  SELECT 2, gx // 4, gy // 4, n FROM base
), cellsum AS (
  SELECT level, cx, cy, cast(sum(n) as bigint) AS z
  FROM levels GROUP BY level, cx, cy
)
SELECT cast(level as bigint) AS level,
       cast(count(*) as bigint) AS n_cells,
       cast(sum(z) as bigint) AS total,
       cast(sum(z * z) as bigint) AS sum_sq,
       cast(count(*) * sum(z * z) - sum(z) * sum(z) as bigint) AS var_num,
       cast(count(*) * count(*) as bigint) AS var_den
FROM cellsum GROUP BY level ORDER BY level
""",
)
def pyramid_variance_cells(spark, sf_dir):
    """Variance decomposition of event density across 3 pyramid
    aggregation levels (1×, 2×, 4× cell coarsening) — the modifiable-
    areal-unit-problem (MAUP) probe: how fast does per-cell variance
    collapse as zones coarsen? A clustered surface keeps var_num/
    var_den high up the pyramid; CSR decays ∝1/cells. Population
    variance is left as the exact integer pair (n·Σz² − (Σz)²,  n²) —
    no float reduction. Scale shape: events fold to the base lattice
    once; each pyramid level is a pure integer-division re-key of the
    BOUNDED cell table (the quadkey_pyramid idiom), one hash agg per
    level, all in a single union plan."""
    ev = load(spark, sf_dir, "events")
    base = (
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
    levels = None
    for lvl, div in ((0, 1), (1, 2), (2, 4)):
        lv = base.select(
            F.lit(lvl).alias("level"),
            F.expr(f"gx div {div}").alias("cx"),
            F.expr(f"gy div {div}").alias("cy"),
            "n",
        )
        levels = lv if levels is None else levels.unionByName(lv)
    cellsum = levels.groupBy("level", "cx", "cy").agg(
        F.sum("n").cast("long").alias("z")
    )
    return (
        cellsum.groupBy(F.col("level").cast("long").alias("level"))
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("z").cast("long").alias("total"),
            F.sum(F.col("z") * F.col("z")).cast("long").alias("sum_sq"),
            (
                F.count("*") * F.sum(F.col("z") * F.col("z"))
                - F.sum("z") * F.sum("z")
            )
            .cast("long")
            .alias("var_num"),
            (F.count("*") * F.count("*")).cast("long").alias("var_den"),
        )
        .orderBy("level")
    )



@register(
    "local_maxima_cells",
    f"""
WITH raw AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS n
  FROM raw GROUP BY gx, gy
), nb AS (
  SELECT c.gx, c.gy, c.n,
         cast(max(coalesce(o.n, 0)) as bigint) AS max_nb,
         cast(count(o.gx) as bigint) AS n_nb
  FROM cells c
  CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)) AS d(dx, dy)
  LEFT JOIN cells o ON o.gx = c.gx + d.dx AND o.gy = c.gy + d.dy
  GROUP BY c.gx, c.gy, c.n
)
SELECT gx, gy, n, max_nb, n_nb
FROM nb WHERE n > max_nb
ORDER BY gx, gy
""",
)
def local_maxima_cells(spark, sf_dir):
    """Peak extraction: cells STRICTLY denser than all 8 queen
    neighbors (absent neighbor = 0 density, stated) — the discrete
    local-maxima operator behind hotspot seeding, NMS-style cluster
    center picking, and terrain summit detection; gi_star scores
    every cell, this returns only the summits. One literal 8-offset
    explode + left equi-join against the occupied lattice + a strict
    max comparison — all integer counts. Scale shape: events fold
    once; the neighbor probe is offset-explode ∝ 8·cells with a hash
    join, never a lattice cross."""
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
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    probes = cells.select(
        "gx", "gy", "n", F.explode(offsets).alias("o")
    ).select(
        "gx",
        "gy",
        "n",
        (F.col("gx") + F.col("o.dx")).alias("ngx"),
        (F.col("gy") + F.col("o.dy")).alias("ngy"),
    )
    occ = cells.select(
        F.col("gx").alias("ngx"), F.col("gy").alias("ngy"), F.col("n").alias("nn")
    )
    nb = (
        probes.join(occ, ["ngx", "ngy"], "left")
        .groupBy("gx", "gy", "n")
        .agg(
            F.max(F.coalesce("nn", F.lit(0))).cast("long").alias("max_nb"),
            F.count("nn").cast("long").alias("n_nb"),
        )
    )
    return nb.filter(F.col("n") > F.col("max_nb")).orderBy("gx", "gy")



@register(
    "cell_user_diversity",
    f"""
WITH pts AS (
  SELECT user_id,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cu AS (
  SELECT cast(floor((lon + 180.0) / {_DT_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_DT_GRID}) as int) AS gy,
         user_id, cast(count(*) as bigint) AS n_u
  FROM pts GROUP BY gx, gy, user_id
), cells AS (
  SELECT gx, gy,
         cast(sum(n_u) as bigint) AS n_events,
         cast(count(*) as bigint) AS n_users,
         cast(max(n_u) as bigint) AS top_user_events
  FROM cu GROUP BY gx, gy
)
SELECT gx, gy, n_events, n_users, top_user_events,
       cast(top_user_events * 1000000 // n_events as bigint) AS dominance_micro
FROM cells WHERE n_events >= 10 ORDER BY gx, gy
""",
)
def cell_user_diversity(spark, sf_dir):
    """Per-cell contributor diversity: events, distinct users, and the
    top single user's share (dominance_micro) for every cell with ≥10
    events — a cell whose activity is one account (dominance → 10⁶)
    is a bot farm, a scraper box, or a stuck device, not a place; the
    provenance filter every heatmap should run before trusting its
    hotspots (heatmap_smooth_events smooths the counts, this audits
    WHO made them). Two stacked hash aggs — (cell, user) then cell —
    keep the max-share exact without any window. Scale shape: shuffle
    ∝ events once on the composite key, then the bounded cell dim."""
    e = load(spark, sf_dir, "events")
    cu = (
        e.select(
            "user_id",
            C.derived_lat(F.col("event_id")).alias("lat"),
            C.derived_lon(F.col("event_id")).alias("lon"),
        )
        .groupBy(
            F.floor((F.col("lon") + F.lit(180.0)) / F.lit(_DT_GRID)).cast("int").alias("gx"),
            F.floor((F.lit(90.0) - F.col("lat")) / F.lit(_DT_GRID)).cast("int").alias("gy"),
            "user_id",
        )
        .agg(F.count("*").cast("long").alias("n_u"))
    )
    cells = cu.groupBy("gx", "gy").agg(
        F.sum("n_u").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_users"),
        F.max("n_u").cast("long").alias("top_user_events"),
    )
    return (
        cells.filter(F.col("n_events") >= 10)
        .select(
            "gx",
            "gy",
            "n_events",
            "n_users",
            "top_user_events",
            F.expr("cast(top_user_events * 1000000 div n_events as bigint)").alias(
                "dominance_micro"
            ),
        )
        .orderBy("gx", "gy")
    )



@register(
    "covisitation_cells",
    f"""
WITH pts AS ({_HW_PTS}), uc AS (
  SELECT user_id, cast(gx as bigint) * 1000 + gy AS cell, cast(count(*) as bigint) AS n
  FROM pts GROUP BY user_id, cell
), top AS (
  SELECT user_id, cell,
         row_number() OVER (PARTITION BY user_id ORDER BY n DESC, cell ASC) AS rn
  FROM uc
), kept AS (SELECT user_id, cell FROM top WHERE rn <= 8)
SELECT a.cell AS cell_a, b.cell AS cell_b, cast(count(*) as bigint) AS n_covisitors
FROM kept a JOIN kept b ON a.user_id = b.user_id AND a.cell < b.cell
GROUP BY cell_a, cell_b HAVING count(*) >= 2
ORDER BY cell_a, cell_b
""",
)
def covisitation_cells(spark, sf_dir):
    """Co-visitation projection of the user-cell bipartite graph — the
    'people who visit X also visit Y' edge list behind related-places
    recommendations and functional-region detection: cell pairs sharing
    >= 2 distinct visitors, weighted by co-visitor count. Distinct from
    od_matrix_daily (ordered consecutive transitions) and
    colocation_pairs_events (same cell, same time): this is unordered
    lifetime affinity. The classic bipartite-projection blowup (a user
    visiting V cells emits V² pairs) is capped by keeping each user's
    top-8 cells by visit count (deterministic tie-break) — the same
    df-cap discipline as the posting-list joins — so pair fan-out is
    <= 28 rows per user, shuffle ∝ users. One (user, cell) hash agg +
    one window + one per-user self-join."""
    e = load(spark, sf_dir, "events")
    uc = (
        e.select(
            "user_id",
            (
                F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("long")
                * 1000
                + F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("long")
            ).alias("cell"),
        )
        .groupBy("user_id", "cell")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("cell").asc())
    kept = (
        uc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select("user_id", "cell")
    )
    a = kept.select("user_id", F.col("cell").alias("cell_a"))
    b = kept.select("user_id", F.col("cell").alias("cell_b"))
    return (
        a.join(b, "user_id")
        .filter(F.col("cell_a") < F.col("cell_b"))
        .groupBy("cell_a", "cell_b")
        .agg(F.count("*").cast("long").alias("n_covisitors"))
        .filter(F.col("n_covisitors") >= 2)
        .orderBy("cell_a", "cell_b")
    )



@register(
    "wetness_index_cells",
    f"""
WITH RECURSIVE {_D8_GRID_SQL}, walk AS (
  SELECT cx, cy, tx AS ccx, ty AS ccy FROM full_grid WHERE dir >= 0
  UNION ALL
  SELECT w.cx, w.cy, f.tx, f.ty
  FROM walk w JOIN full_grid f ON f.cx = w.ccx AND f.cy = w.ccy AND f.dir >= 0
), ups AS (
  SELECT w.ccx AS cx, w.ccy AS cy, cast(sum(g.v) as bigint) AS v_upstream
  FROM walk w JOIN full_grid g ON g.cx = w.cx AND g.cy = w.cy
  GROUP BY w.ccx, w.ccy
), acc AS (
  SELECT f.cx, f.cy, f.v,
         cast(f.v + coalesce(u.v_upstream, 0) as bigint) AS drainage,
         (f.dir = -1) AS is_sink
  FROM full_grid f LEFT JOIN ups u ON u.cx = f.cx AND u.cy = f.cy
), mag AS (
  SELECT g.cx, g.cy,
         cast((coalesce(e.v, 0) - coalesce(w.v, 0)) * (coalesce(e.v, 0) - coalesce(w.v, 0))
            + (coalesce(s.v, 0) - coalesce(n.v, 0)) * (coalesce(s.v, 0) - coalesce(n.v, 0))
            as bigint) AS mag2
  FROM grid g
  LEFT JOIN grid e ON e.cx = g.cx + 1 AND e.cy = g.cy
  LEFT JOIN grid w ON w.cx = g.cx - 1 AND w.cy = g.cy
  LEFT JOIN grid s ON s.cx = g.cx AND s.cy = g.cy + 1
  LEFT JOIN grid n ON n.cx = g.cx AND n.cy = g.cy - 1
)
SELECT a.cx, a.cy, a.v, a.drainage, m.mag2,
       cast((a.drainage * 1000000) // (1 + m.mag2) as bigint) AS wetness_q, a.is_sink
FROM acc a JOIN mag m ON m.cx = a.cx AND m.cy = a.cy ORDER BY a.cx, a.cy
""",
)
def wetness_index_cells(spark, sf_dir):
    """Topographic wetness index, integer form — the hydrology
    composite that closes the D8 family (d8_flow_cells: pointers;
    flow_accumulation_cells: drainage; watershed_basins: labels):
    TWI orders cells by ln(a / tan β); this keeps the same ORDERING
    with zero floats as wetness_q = drainage·10⁶ // (1 + |∇v|²) —
    large where much density drains through flat ground (the
    'saturation zones' where a demand/moisture model pools), small on
    steep well-drained slopes. Drainage reuses the pointer-doubling
    transitive closure (O(log depth) equi-join rounds); the slope term
    is the central-difference magnitude² from four shifted equi-joins
    on the dense-cell dim. Everything after the ONE point-scale
    density agg is cell-dim work."""
    acc = flow_accumulation_cells(spark, sf_dir).select(
        "cx", "cy", "v", "drainage", "is_sink"
    )
    grid = _d8_full(spark, sf_dir).select("cx", "cy", "v")
    g = grid.alias("g")

    def nb(name, dx, dy):
        t = grid.select(
            F.col("cx").alias(f"{name}cx"),
            F.col("cy").alias(f"{name}cy"),
            F.col("v").alias(f"{name}v"),
        )
        cond = (F.col(f"{name}cx") == F.col("g.cx") + dx) & (
            F.col(f"{name}cy") == F.col("g.cy") + dy
        )
        return t, cond

    e, e_on = nb("e", 1, 0)
    w, w_on = nb("w", -1, 0)
    s, s_on = nb("s", 0, 1)
    n, n_on = nb("n", 0, -1)
    gx = F.coalesce("ev", F.lit(0)) - F.coalesce("wv", F.lit(0))
    gy = F.coalesce("sv", F.lit(0)) - F.coalesce("nv", F.lit(0))
    mag = (
        g.join(e, e_on, "left")
        .join(w, w_on, "left")
        .join(s, s_on, "left")
        .join(n, n_on, "left")
        .select(
            F.col("g.cx").alias("cx"),
            F.col("g.cy").alias("cy"),
            (gx * gx + gy * gy).cast("long").alias("mag2"),
        )
    )
    return (
        acc.join(mag, ["cx", "cy"])
        .select(
            "cx",
            "cy",
            "v",
            "drainage",
            "mag2",
            F.expr("cast((drainage * 1000000L) div (1 + mag2) as bigint)").alias(
                "wetness_q"
            ),
            "is_sink",
        )
        .orderBy("cx", "cy")
    )



@register(
    "euler_number_cells",
    f"""
WITH pts AS (
  SELECT ({C.DERIVED_LAT_SQL.format(k='event_id')}) AS lat,
         ({C.DERIVED_LON_SQL.format(k='event_id')}) AS lon
  FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
), occ AS (SELECT cx, cy FROM grid WHERE v >= 2),
offs(dx, dy) AS (VALUES (0, 0), (1, 0), (0, 1), (1, 1)),
blocks AS (
  SELECT o.cx - f.dx AS bx, o.cy - f.dy AS by_,
         cast(sum(1 << (f.dx + 2 * f.dy)) as int) AS mask
  FROM occ o CROSS JOIN offs f GROUP BY bx, by_
), cls AS (
  SELECT cast(count(CASE WHEN mask IN (1, 2, 4, 8) THEN 1 END) as bigint) AS q1,
         cast(count(CASE WHEN mask IN (7, 11, 13, 14) THEN 1 END) as bigint) AS q3,
         cast(count(CASE WHEN mask IN (6, 9) THEN 1 END) as bigint) AS qd
  FROM blocks
)
SELECT (SELECT cast(count(*) as bigint) FROM occ) AS n_cells, q1, q3, qd,
       cast(q1 - q3 + 2 * qd as bigint) AS euler4_x4,
       cast(q1 - q3 - 2 * qd as bigint) AS euler8_x4
FROM cls
""",
)
def euler_number_cells(spark, sf_dir):
    """Euler number of the occupied-cell mask via Gray's quad-count
    algorithm — the binary-image topology op that counts components
    MINUS holes without ever labeling either (raster_regions labels
    components; this detects enclosed holes — lakes in the coverage —
    from purely LOCAL 2×2 evidence, which is what makes it
    embarrassingly parallel): every occupied cell votes into its four
    containing 2×2 blocks with a position bit, the per-block 4-bit
    mask classifies quads into Q1/Q3/Q_diagonal, and 4·Euler =
    Q1−Q3±2Q_D (+ for 4-connectivity, − for 8; the theorem guarantees
    divisibility by 4 — numerators are reported raw to stay in exact
    signed-addition land). Scale shape: one point→cell agg, one
    4-row offset explode + block hash agg, one 1-row fold."""
    ev = load(spark, sf_dir, "events")
    occ = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5)
            .cast("int")
            .alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5)
            .cast("int")
            .alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("v"))
        .filter(F.col("v") >= 2)
        .select("cx", "cy")
    )
    offs = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in ((0, 0), (1, 0), (0, 1), (1, 1))
                ]
            )
        ).alias("f")
    ).select("f.*")
    blocks = (
        occ.crossJoin(F.broadcast(offs))
        .groupBy(
            (F.col("cx") - F.col("dx")).alias("bx"),
            (F.col("cy") - F.col("dy")).alias("by_"),
        )
        .agg(F.sum(F.expr("shiftleft(1, dx + 2 * dy)")).cast("int").alias("mask"))
    )
    cls = blocks.agg(
        F.count(F.when(F.col("mask").isin(1, 2, 4, 8), 1)).cast("long").alias("q1"),
        F.count(F.when(F.col("mask").isin(7, 11, 13, 14), 1)).cast("long").alias("q3"),
        F.count(F.when(F.col("mask").isin(6, 9), 1)).cast("long").alias("qd"),
    )
    ncells = occ.agg(F.count("*").cast("long").alias("n_cells"))
    return (
        cls.crossJoin(F.broadcast(ncells))
        .select(
            "n_cells",
            "q1",
            "q3",
            "qd",
            (F.col("q1") - F.col("q3") + 2 * F.col("qd")).cast("long").alias("euler4_x4"),
            (F.col("q1") - F.col("q3") - 2 * F.col("qd")).cast("long").alias("euler8_x4"),
        )
    )



@register(
    "grid_offset_stability",
    f"""
WITH pts AS (
  SELECT ({C.DERIVED_LAT_SQL.format(k='event_id')}) AS lat,
         ({C.DERIVED_LON_SQL.format(k='event_id')}) AS lon
  FROM events
), ev AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as bigint) * 1000
           + cast(floor((90.0 - lat) / 2.5) as bigint) AS ca,
         cast(floor((lon + 181.25) / 2.5) as bigint) * 1000
           + cast(floor((91.25 - lat) / 2.5) as bigint) AS cb
  FROM pts
), hota AS (
  SELECT ca AS cell FROM (
    SELECT ca, count(*) AS n, row_number() OVER (ORDER BY count(*) DESC, ca ASC) AS rn
    FROM ev GROUP BY ca) WHERE rn <= 20
), hotb AS (
  SELECT cb AS cell FROM (
    SELECT cb, count(*) AS n, row_number() OVER (ORDER BY count(*) DESC, cb ASC) AS rn
    FROM ev GROUP BY cb) WHERE rn <= 20
), flagged AS (
  SELECT (ev.ca IN (SELECT cell FROM hota)) AS fa,
         (ev.cb IN (SELECT cell FROM hotb)) AS fb
  FROM ev
)
SELECT cast(count(*) as bigint) AS n_events,
       cast(count(CASE WHEN fa THEN 1 END) as bigint) AS n_hot_a,
       cast(count(CASE WHEN fb THEN 1 END) as bigint) AS n_hot_b,
       cast(count(CASE WHEN fa AND fb THEN 1 END) as bigint) AS n_both,
       cast((count(CASE WHEN fa AND fb THEN 1 END) * 1000000)
            // (count(CASE WHEN fa THEN 1 END) + count(CASE WHEN fb THEN 1 END)
                - count(CASE WHEN fa AND fb THEN 1 END)) as bigint) AS jaccard_q
FROM flagged
""",
)
def grid_offset_stability(spark, sf_dir):
    """MAUP / gerrymander audit of the hotspot layer: re-run the
    top-20-hot-cells analysis on the SAME points with the grid shifted
    half a cell in both axes, then measure event-level agreement —
    the Jaccard of 'this event lies in a hot cell' between the two
    gridings. A stable hotspot geography survives the shift (jaccard_q
    near 10⁶); conclusions that evaporate under a half-cell offset
    were artifacts of where the lines fell, not of the data — the
    modifiable-areal-unit check every choropleth should run
    (grid_cluster/gi_star find hotspots; this tests whether the
    FINDING is grid-invariant). Scale shape: two cell aggs + two
    20-row hot dims broadcast back over the events — one scan, no
    pair joins."""
    ev0 = load(spark, sf_dir, "events")
    lat = C.derived_lat(F.col("event_id"))
    lon = C.derived_lon(F.col("event_id"))
    ev = ev0.select(
        (
            F.floor((lon + 180.0) / 2.5).cast("long") * 1000
            + F.floor((90.0 - lat) / 2.5).cast("long")
        ).alias("ca"),
        (
            F.floor((lon + 181.25) / 2.5).cast("long") * 1000
            + F.floor((91.25 - lat) / 2.5).cast("long")
        ).alias("cb"),
    ).localCheckpoint()

    def hot(col):
        w = Window.orderBy(F.col("n").desc(), F.col(col).asc())
        return (
            ev.groupBy(col)
            .agg(F.count("*").alias("n"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 20)
            .select(F.col(col).alias("cell"))
        )

    ha = hot("ca").withColumn("fa", F.lit(True))
    hb = hot("cb").withColumn("fb", F.lit(True))
    flagged = (
        ev.join(F.broadcast(ha), ev.ca == ha.cell, "left")
        .join(F.broadcast(hb), ev.cb == hb.cell, "left")
        .select(
            F.coalesce("fa", F.lit(False)).alias("fa"),
            F.coalesce("fb", F.lit(False)).alias("fb"),
        )
    )
    return flagged.agg(
        F.count("*").cast("long").alias("n_events"),
        F.count(F.when(F.col("fa"), 1)).cast("long").alias("n_hot_a"),
        F.count(F.when(F.col("fb"), 1)).cast("long").alias("n_hot_b"),
        F.count(F.when(F.col("fa") & F.col("fb"), 1)).cast("long").alias("n_both"),
        F.expr(
            "cast((count(CASE WHEN fa AND fb THEN 1 END) * 1000000)"
            " div (count(CASE WHEN fa THEN 1 END) + count(CASE WHEN fb THEN 1 END)"
            " - count(CASE WHEN fa AND fb THEN 1 END)) as bigint)"
        ).alias("jaccard_q"),
    )



@register(
    "cell_emergence_weekly",
    f"""
WITH pts AS (
  SELECT epoch_us(ts) // 1000000 // 604800 AS wk,
         cast(floor((({C.DERIVED_LON_SQL.format(k='event_id')}) + 180.0) / 2.5) as bigint) * 1000
           + cast(floor((90.0 - ({C.DERIVED_LAT_SQL.format(k='event_id')})) / 2.5) as bigint) AS cell
  FROM events
), first AS (SELECT cell, cast(min(wk) as bigint) AS fw FROM pts GROUP BY cell),
newc AS (SELECT fw AS wk, cast(count(*) as bigint) AS n_new FROM first GROUP BY fw),
act AS (SELECT wk, cast(count(DISTINCT cell) as bigint) AS n_active FROM pts GROUP BY wk)
SELECT act.wk AS week, act.n_active, coalesce(newc.n_new, 0) AS n_new,
       cast(sum(coalesce(newc.n_new, 0)) OVER (ORDER BY act.wk) as bigint) AS cum_cells
FROM act LEFT JOIN newc ON act.wk = newc.wk ORDER BY week
""",
)
def cell_emergence_weekly(spark, sf_dir):
    """Coverage-emergence curve: per week, how many grid cells saw
    activity, how many saw it for the FIRST time, and the cumulative
    footprint — the spatial twin of vocab_growth_curve (types ~ cells,
    tokens ~ events) and the saturation diagnostic a crawl/sensor
    rollout actually tracks: a flattening cum_cells says the
    discoverable territory is exhausted, a steady n_new says the
    frontier is still open (coverage_gaps_cells shows WHERE is
    missing; this shows WHEN discovery slows). Scale shape: one
    (cell) min-agg + one (week, cell) distinct agg + a window over
    the tiny week dim."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        F.expr("unix_timestamp(ts) div 604800").alias("wk"),
        (
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("long") * 1000
            + F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("long")
        ).alias("cell"),
    )
    first = pts.groupBy("cell").agg(F.min("wk").cast("long").alias("fw"))
    newc = first.groupBy(F.col("fw").alias("wk")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    act = pts.groupBy("wk").agg(F.countDistinct("cell").cast("long").alias("n_active"))
    w = Window.orderBy("wk")
    return (
        act.join(newc, "wk", "left")
        .select(
            F.col("wk").alias("week"),
            "n_active",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
        .withColumn("cum_cells", F.sum("n_new").over(Window.orderBy("week")).cast("long"))
        .orderBy("week")
    )



@register(
    "hotspot_persistence_cells",
    f"""
WITH pts AS (
  SELECT epoch_us(ts) // 1000000 // 604800 AS wk,
         cast(floor((({C.DERIVED_LON_SQL.format(k='event_id')}) + 180.0) / 2.5) as bigint) * 1000
           + cast(floor((90.0 - ({C.DERIVED_LAT_SQL.format(k='event_id')})) / 2.5) as bigint) AS cell
  FROM events
), wc AS (SELECT wk, cell, cast(count(*) as bigint) AS n FROM pts GROUP BY wk, cell),
hot AS (
  SELECT wk, cell FROM (
    SELECT wk, cell, row_number() OVER (PARTITION BY wk ORDER BY n DESC, cell ASC) AS rn
    FROM wc) WHERE rn <= 20
), horizons(h) AS (VALUES (1), (2), (3)),
surv AS (
  SELECT a.wk, hz.h,
         cast(count(*) as bigint) AS n_base,
         cast(count(b.cell) as bigint) AS n_survived
  FROM hot a CROSS JOIN horizons hz
  LEFT JOIN hot b ON b.wk = a.wk + hz.h AND b.cell = a.cell
  WHERE EXISTS (SELECT 1 FROM hot x WHERE x.wk = a.wk + hz.h)
  GROUP BY a.wk, hz.h
)
SELECT h AS horizon_weeks,
       cast(sum(n_base) as bigint) AS n_base,
       cast(sum(n_survived) as bigint) AS n_survived,
       cast((sum(n_survived) * 1000000) // sum(n_base) as bigint) AS survival_q
FROM surv GROUP BY h ORDER BY h
""",
)
def hotspot_persistence_cells(spark, sf_dir):
    """Hotspot persistence curve: of each week's top-20 cells, the
    fraction still top-20 one, two, and three weeks later — the decay
    curve that says whether hotspots are STRUCTURE (survival flat and
    high: city centers, worth caching/pre-provisioning) or NOISE
    (fast decay: flash events, chase them and you waste capacity).
    emerging_hotspots detects arrivals, rank_flux tracks users; this
    is the spatial half-life number a tile-cache eviction policy
    keys on. Base weeks lacking a w+h comparison week are excluded
    exactly (EXISTS), so the micro survival rate is never diluted by
    edge weeks. Scale shape: one (week, cell) agg + per-week top-20
    window + a 3-row horizon dim self-join on the tiny hot dim."""
    e = load(spark, sf_dir, "events")
    pts = e.select(
        F.expr("unix_timestamp(ts) div 604800").alias("wk"),
        (
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("long") * 1000
            + F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("long")
        ).alias("cell"),
    )
    wc = pts.groupBy("wk", "cell").agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("wk").orderBy(F.col("n").desc(), F.col("cell").asc())
    hot = (
        wc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("wk", "cell")
        .localCheckpoint()
    )
    hz = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("h")
    )
    weeks = hot.select("wk").distinct().select(F.col("wk").alias("ewk"))
    b = hot.select(F.col("wk").alias("bwk"), F.col("cell").alias("bcell"))
    surv = (
        hot.crossJoin(F.broadcast(hz))
        .join(weeks, F.col("ewk") == F.col("wk") + F.col("h"), "left_semi")
        .join(
            b,
            (F.col("bwk") == F.col("wk") + F.col("h")) & (F.col("bcell") == F.col("cell")),
            "left",
        )
        .groupBy("wk", "h")
        .agg(
            F.count("*").cast("long").alias("n_base"),
            F.count("bcell").cast("long").alias("n_survived"),
        )
    )
    return (
        surv.groupBy(F.col("h").alias("horizon_weeks"))
        .agg(
            F.sum("n_base").cast("long").alias("n_base"),
            F.sum("n_survived").cast("long").alias("n_survived"),
            F.expr(
                "cast((sum(n_survived) * 1000000) div sum(n_base) as bigint)"
            ).alias("survival_q"),
        )
        .orderBy("horizon_weeks")
    )



@register(
    "cell_user_turnover",
    f"""
WITH pts AS (
  SELECT epoch_us(ts) // 1000000 // 604800 AS wk, user_id,
         cast(floor((({C.DERIVED_LON_SQL.format(k='event_id')}) + 180.0) / 2.5) as bigint) * 1000
           + cast(floor((90.0 - ({C.DERIVED_LAT_SQL.format(k='event_id')})) / 2.5) as bigint) AS cell
  FROM events
), top AS (
  SELECT cell FROM (
    SELECT cell, count(*) AS n, row_number() OVER (ORDER BY count(*) DESC, cell ASC) AS rn
    FROM pts GROUP BY cell) WHERE rn <= 20
), wu AS (
  SELECT DISTINCT p.wk, p.cell, p.user_id FROM pts p JOIN top t ON p.cell = t.cell
), sz AS (SELECT wk, cell, cast(count(*) as bigint) AS nu FROM wu GROUP BY wk, cell),
inter AS (
  SELECT a.wk, a.cell, cast(count(*) as bigint) AS common
  FROM wu a JOIN wu b ON b.cell = a.cell AND b.wk = a.wk + 1 AND b.user_id = a.user_id
  GROUP BY a.wk, a.cell
)
SELECT s1.cell, s1.wk AS week,
       s1.nu AS users_w, s2.nu AS users_w1,
       cast(coalesce(i.common, 0) as bigint) AS common,
       cast((coalesce(i.common, 0) * 1000000)
            // (s1.nu + s2.nu - coalesce(i.common, 0)) as bigint) AS jaccard_q
FROM sz s1 JOIN sz s2 ON s2.cell = s1.cell AND s2.wk = s1.wk + 1
LEFT JOIN inter i ON i.cell = s1.cell AND i.wk = s1.wk
ORDER BY s1.cell, week
""",
)
def cell_user_turnover(spark, sf_dir):
    """Hotspot audience turnover: for the 20 busiest cells, the
    week-over-week Jaccard of each cell's DISTINCT USER set — the
    who-axis that hotspot_persistence's what-axis misses: a cell can
    stay top-20 forever while its visitors fully churn (transit hub /
    tourist site) or retain them (residential) — and the two need
    opposite caching, staffing, and ad strategies. Cold pairs with no
    returning user keep an explicit 0 row via the left join (absence
    is the signal). Exact integer set algebra: |A∩B| from one
    (cell, user) equi-join, |A∪B| by inclusion-exclusion, one micro
    floor. Scale shape: top-20 semi-join bounds everything; the
    weekly user sets shuffle once on (cell, user)."""
    e = load(spark, sf_dir, "events")
    pts = e.select(
        F.expr("unix_timestamp(ts) div 604800").alias("wk"),
        "user_id",
        (
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("long") * 1000
            + F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("long")
        ).alias("cell"),
    )
    wt = Window.orderBy(F.col("n").desc(), F.col("cell").asc())
    top = (
        pts.groupBy("cell")
        .agg(F.count("*").alias("n"))
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= 20)
        .select("cell")
    )
    wu = pts.join(F.broadcast(top), "cell").select("wk", "cell", "user_id").distinct()
    sz = wu.groupBy("wk", "cell").agg(F.count("*").cast("long").alias("nu"))
    b = wu.select(
        F.col("wk").alias("bwk"), F.col("cell").alias("bcell"), F.col("user_id")
    )
    inter = (
        wu.join(
            b,
            (F.col("bcell") == F.col("cell"))
            & (F.col("bwk") == F.col("wk") + 1)
            & (b.user_id == wu.user_id),
        )
        .groupBy("wk", "cell")
        .agg(F.count("*").cast("long").alias("common"))
    )
    s2 = sz.select(
        F.col("wk").alias("wk2"), F.col("cell").alias("cell2"), F.col("nu").alias("nu2")
    )
    return (
        sz.join(s2, (F.col("cell2") == F.col("cell")) & (F.col("wk2") == F.col("wk") + 1))
        .join(inter, ["wk", "cell"], "left")
        .select(
            "cell",
            F.col("wk").alias("week"),
            F.col("nu").alias("users_w"),
            F.col("nu2").alias("users_w1"),
            F.coalesce("common", F.lit(0)).cast("long").alias("common"),
            F.expr(
                "cast((coalesce(common, 0L) * 1000000)"
                " div (nu + nu2 - coalesce(common, 0L)) as bigint)"
            ).alias("jaccard_q"),
        )
        .orderBy("cell", "week")
    )



@register("hilbert_stride_sample", _hstride_oracle_sql())
def hilbert_stride_sample(spark, sf_dir):
    """Spatially-balanced systematic sampling — stride every 10th unit
    along the HILBERT order vs an md5 Bernoulli sample at the same
    rate, audited on cell coverage and worst per-cell pile-up. The
    stride inherits the curve's locality: consecutive sample points
    are spread across space (the GRTS idea every environmental-
    monitoring design uses), so it covers MORE distinct cells with
    LESS clumping than iid hashing at equal n — coverage_q and
    max_per_cell quantify exactly that edge, turning the repo's SFC
    layout machinery into a sampling design. At scale the global rank
    is repartitionByRange on hkey + per-range offsets (the
    str_pack/ranking.py two-phase pattern); here the window states
    the semantics. Integer end to end."""
    from gipspark.operators.hilbert import hilbert_key_df

    cu = load(spark, sf_dir, "customer")
    pts = cu.select(
        F.col("c_custkey").alias("key"),
        F.floor((C.derived_lon(F.col("c_custkey")) + 180.0) / 2.5)
        .cast("long")
        .alias("gx"),
        F.floor((90.0 - C.derived_lat(F.col("c_custkey"))) / 2.5)
        .cast("long")
        .alias("gy"),
    )
    hk = hilbert_key_df(pts, "gx", "gy", bits=8, out="hkey")
    ranked = hk.select(
        "key",
        (F.col("gx") * 1000 + F.col("gy")).alias("cell"),
        F.row_number()
        .over(Window.orderBy(F.col("hkey").asc(), F.col("key").asc()))
        .alias("rn"),
    ).localCheckpoint()
    occ = hk.agg(
        F.countDistinct(F.col("gx") * 1000 + F.col("gy"))
        .cast("long")
        .alias("total_cells")
    )
    stride = ranked.filter(F.col("rn") % 10 == 1).select(
        F.lit("hilbert_stride").alias("method"), "cell"
    )
    hashed = ranked.filter(
        D.md5_long(F.concat(F.lit("samp:"), F.col("key").cast("string"))) % 10 == 0
    ).select(F.lit("hash").alias("method"), "cell")
    samp = stride.unionByName(hashed)
    wc = Window.partitionBy("method", "cell")
    return (
        samp.withColumn("cnt", F.count("*").over(wc))
        .crossJoin(F.broadcast(occ))
        .groupBy("method")
        .agg(
            F.count("*").cast("long").alias("n_sample"),
            F.countDistinct("cell").cast("long").alias("cells_covered"),
            F.max("cnt").cast("long").alias("max_per_cell"),
            F.expr(
                "cast((count(DISTINCT cell) * 1000000) div any_value(total_cells)"
                " as bigint)"
            ).alias("coverage_q"),
        )
        .orderBy("method")
    )



@register("spatial_zonemap_audit", _szm_oracle_sql())
def spatial_zonemap_audit(spark, sf_dir):
    """2-D zone-map skipping audit: the spatial twin of
    zone_map_skipping_audit and the END-TO-END metric behind
    sfc_locality_audit's rank-gap proxy — simulate {_SZM_FILE_ROWS}-row
    files under three write orders (natural key, Morton/Z-order,
    Hilbert), record each file's lat/lon bounding box (exactly what
    GeoParquet/Iceberg keep as column min/max for the two coordinate
    columns), then measure how many files three bbox queries must scan.
    Natural order gives every file a world-spanning bbox (zero skip);
    both curves cluster space so small boxes prune to a handful of
    files, with Hilbert's no-jump property typically edging Morton on
    elongated boxes. This is the quantified case for CLUSTER BY
    (hilbert|zorder) before writing a 10¹²-row geo table. Plan: one
    16-bit grid encode, three ranking windows (the simulated writers —
    at scale each becomes repartitionByRange on the same key), one
    bbox agg, literal-dim broadcasts."""
    from gipspark.operators.hilbert import hilbert_key_df
    from gipspark.operators.zorder import morton_key

    cust = load(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        f"(((cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD}) * 65536) div {C.LAT_MOD} as gx",
        f"(((cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD}) * 65536) div {C.LON_MOD} as gy",
    )
    pts = hilbert_key_df(cust, "gx", "gy", bits=16, out="hkey").select(
        F.col("c_custkey").alias("ck"),
        "gx",
        "gy",
        "hkey",
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    ranked = pts.select(
        "ck",
        "lat",
        "lon",
        (F.row_number().over(Window.orderBy("ck")) - 1).alias("rn_nat"),
        (
            F.row_number().over(Window.orderBy(morton_key(F.col("gx"), F.col("gy")), F.col("ck")))
            - 1
        ).alias("rn_mor"),
        (F.row_number().over(Window.orderBy("hkey", "ck")) - 1).alias("rn_hil"),
    )
    files = None
    for layout, rn in (("natural", "rn_nat"), ("morton", "rn_mor"), ("hilbert", "rn_hil")):
        part = ranked.select(
            F.lit(layout).alias("layout"),
            F.expr(f"{rn} div {_SZM_FILE_ROWS}").alias("file_id"),
            "lat",
            "lon",
        )
        files = part if files is None else files.unionByName(part)
    zm = files.groupBy("layout", "file_id").agg(
        F.min("lat").alias("lat_lo"),
        F.max("lat").alias("lat_hi"),
        F.min("lon").alias("lon_lo"),
        F.max("lon").alias("lon_hi"),
        F.count("*").cast("long").alias("n_rows"),
    )
    boxes = spark.createDataFrame(
        list(_SZM_BOXES), "box_id int, q_lat_lo double, q_lat_hi double, q_lon_lo double, q_lon_hi double"
    )
    hit = (
        zm.join(
            F.broadcast(boxes),
            (F.col("lat_lo") <= F.col("q_lat_hi"))
            & (F.col("lat_hi") >= F.col("q_lat_lo"))
            & (F.col("lon_lo") <= F.col("q_lon_hi"))
            & (F.col("lon_hi") >= F.col("q_lon_lo")),
        )
        .groupBy("layout", "box_id")
        .agg(
            F.count("*").cast("long").alias("n_files_scanned"),
            F.sum("n_rows").cast("long").alias("rows_scanned"),
        )
    )
    tot = zm.groupBy("layout").agg(F.count("*").cast("long").alias("n_files_total"))
    mt = (
        pts.join(
            F.broadcast(boxes),
            (F.col("lat") >= F.col("q_lat_lo"))
            & (F.col("lat") <= F.col("q_lat_hi"))
            & (F.col("lon") >= F.col("q_lon_lo"))
            & (F.col("lon") <= F.col("q_lon_hi")),
        )
        .groupBy("box_id")
        .agg(F.count("*").cast("long").alias("n_rows_matched"))
    )
    return (
        tot.join(hit, "layout")
        .join(mt, "box_id", "left")
        .select(
            "layout",
            "box_id",
            "n_files_total",
            "n_files_scanned",
            "rows_scanned",
            F.coalesce("n_rows_matched", F.lit(0).cast("long")).alias("n_rows_matched"),
            F.expr(
                "((n_files_total - n_files_scanned) * 1000000) div n_files_total"
            ).alias("skip_ratio_q"),
        )
        .orderBy("layout", "box_id")
    )



@register("st_prism_cells_users", _prism_oracle_sql())
def st_prism_cells_users(spark, sf_dir):
    """Space-time prism (time geography's potential path area): for
    each consecutive fix pair of a user, which {_PRISM_GRID:.0f}° cell
    centers could the user have visited in between, given a detour
    budget of {_PRISM_K}× the direct distance — the reachability
    ellipse (d(a,c)+d(c,b) ≤ K·d(a,b)) that underpins alibi queries,
    mobility-constrained interpolation, and candidate-cell pruning for
    map matching between sparse fixes (Hägerstrand's prism with the
    speed budget expressed as a detour factor, making it purely
    spatial and oracle-exact). Haversines stay raw inside the compare
    (the within_radius_join discipline) and only the rounded direct
    distance is emitted. Scale shape: one lag window per user + a
    288-row literal cell-dim broadcast — the refine would be preceded
    by a bbox cell prefilter at real grid resolutions."""
    from gipspark.geo.haversine import haversine_col

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < _PRISM_USERS)
    fixes = ev.select(
        "user_id",
        F.expr("unix_timestamp(ts)").alias("t"),
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "lat", "lon")
    pairs = fixes.select(
        "user_id",
        F.col("t").alias("t2"),
        F.lag("lat").over(w).alias("lat1"),
        F.lag("lon").over(w).alias("lon1"),
        F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"),
    ).filter(F.col("lat1").isNotNull())
    cells = (
        spark.range(12)
        .select((F.lit(-82.5) + F.lit(15.0) * F.col("id").cast("double")).alias("c_lat"))
        .crossJoin(
            spark.range(24).select(
                (F.lit(-172.5) + F.lit(15.0) * F.col("id").cast("double")).alias("c_lon")
            )
        )
    )
    dab = haversine_col(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"))
    dac = haversine_col(F.col("lat1"), F.col("lon1"), F.col("c_lat"), F.col("c_lon"))
    dcb = haversine_col(F.col("c_lat"), F.col("c_lon"), F.col("lat2"), F.col("lon2"))
    return (
        pairs.crossJoin(F.broadcast(cells))
        .groupBy("user_id", "t2", F.round(dab, 0).cast("double").alias("direct_m0"))
        .agg(
            F.count(F.when(dac + dcb <= F.lit(float(_PRISM_K)) * dab, 1))
            .cast("long")
            .alias("n_cells")
        )
        .orderBy("user_id", "t2")
    )



@register(
    "tile_cache_working_set",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), reqs AS (
  SELECT {C.quadkey_sql('lat', 'lon', 6)} AS qk FROM pts
), pop AS (
  SELECT qk, cast(count(*) as bigint) AS n,
         row_number() OVER (ORDER BY count(*) DESC, qk) AS rk
  FROM reqs GROUP BY qk
), tot AS (
  SELECT cast(count(*) as bigint) AS total, cast(count(DISTINCT qk) as bigint) AS n_tiles
  FROM reqs
), ks AS (SELECT * FROM (VALUES {", ".join(f"({k})" for k in _TC_SIZES)}) AS k(cache_k))
SELECT k.cache_k, t.n_tiles, t.total AS n_requests,
       cast(sum(CASE WHEN p.rk <= k.cache_k THEN p.n ELSE 0 END) as bigint) AS hits,
       cast((sum(CASE WHEN p.rk <= k.cache_k THEN p.n ELSE 0 END) * 1000000)
            // t.total as bigint) AS hit_ratio_q
FROM pop p CROSS JOIN ks k CROSS JOIN tot t
GROUP BY k.cache_k, t.n_tiles, t.total
ORDER BY cache_k
""",
)
def tile_cache_working_set(spark, sf_dir):
    """Tile-server cache working-set audit: if a cache could pin the k
    most-requested level-{_TC_LEVEL} quadkey tiles (the static optimum
    — an upper bound on every online policy incl. LRU), what hit ratio
    would k ∈ {_TC_SIZES} buy against this request stream? The
    capacity-planning curve every slippy-map/CDN operator draws before
    sizing edge caches: tile popularity is Zipf-ish, so the curve
    saturates fast and its knee IS the cache budget. One hash agg for
    popularity, one ranking window, a 3-row literal k-dim — exact
    integer hit counting, ratios in micro. At 10¹² requests the same
    plan holds: popularity is the only shuffle and its cardinality is
    the TILE count, not the request count."""
    ev = load(spark, sf_dir, "events")
    reqs = ev.select(
        C.quadkey_of(
            C.derived_lat(F.col("event_id")), C.derived_lon(F.col("event_id")), _TC_LEVEL
        ).alias("qk")
    )
    pop = (
        reqs.groupBy("qk")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn("rk", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("qk"))))
    )
    tot = reqs.agg(
        F.count("*").cast("long").alias("total"),
        F.countDistinct("qk").cast("long").alias("n_tiles"),
    )
    ks = spark.createDataFrame([(k,) for k in _TC_SIZES], "cache_k int")
    return (
        pop.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("cache_k", "n_tiles", F.col("total").alias("n_requests"))
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("cache_k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("hits"),
            F.expr(
                "cast((sum(CASE WHEN rk <= cache_k THEN n ELSE 0 END) * 1000000)"
                " div max(total) as bigint)"
            ).alias("hit_ratio_q"),
        )
        .orderBy("cache_k")
    )



@register(
    "solar_daylength_cells",
    f"""
WITH days AS (
  SELECT DISTINCT epoch_us(ts) // 1000000 // 86400 AS d FROM events
), doys AS (
  SELECT d, cast(d - 19723 + 1 as double) AS doy FROM days
), bands AS (
  SELECT cast(band_lat as double) AS band_lat
  FROM (VALUES {", ".join(f"({b!r})" for b in _SOLAR_BANDS)}) AS b(band_lat)
), calc AS (
  SELECT b.band_lat, y.d, y.doy,
         least(greatest(
           -(sin(b.band_lat * 0.017453292519943295)
             / cos(b.band_lat * 0.017453292519943295))
           * (sin({_SOLAR_DECL} * 0.017453292519943295)
              / cos({_SOLAR_DECL} * 0.017453292519943295)),
           -1.0), 1.0) AS cos_h
  FROM bands b CROSS JOIN doys y
)
SELECT band_lat, cast(d as bigint) AS day,
       cast(round(acos(cos_h) * 458.3662361046586, 0) as bigint) AS daylen_min
FROM calc ORDER BY band_lat, day
""",
)
def solar_daylength_cells(spark, sf_dir):
    """Astronomical day length (whole minutes) per 10° latitude band
    per observed day — the day/night masking input every optical
    satellite-imagery and human-activity pipeline needs before
    interpreting 'no data at 70°N in December' as anything but polar
    night: cos H₀ = −tanφ·tanδ with the standard ±23.44°
    cosine-declination model, day length = 1440/π·H₀ (the constant is
    inlined as one literal, 1440/π ≈ 458.366…). All trig is the same
    textual IEEE tree in both engines and the output rounds to whole
    minutes — a coarse tick per the module's libm discipline (a
    last-ulp sin/tan disagreement moves the result by ~10⁻¹⁰ min).
    The clamp handles polar day/night. 12-band literal dim × distinct
    days — scale-free metadata, computed once per (band, day) however
    many points sit under it."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(F.expr("unix_timestamp(ts) div 86400").alias("d")).distinct()
    doys = days.select("d", (F.col("d") - 19723 + 1).cast("double").alias("doy"))
    bands = spark.createDataFrame([(b,) for b in _SOLAR_BANDS], "band_lat double")
    d2r = F.lit(0.017453292519943295)
    decl = F.lit(-23.44) * F.cos(
        d2r * (F.lit(360.0) / F.lit(365.0)) * (F.col("doy") + F.lit(10.0))
    )
    cos_h = F.least(
        F.greatest(
            -(F.sin(F.col("band_lat") * d2r) / F.cos(F.col("band_lat") * d2r))
            * (F.sin(decl * d2r) / F.cos(decl * d2r)),
            F.lit(-1.0),
        ),
        F.lit(1.0),
    )
    return (
        F.broadcast(bands)
        .crossJoin(doys)
        .select(
            "band_lat",
            F.col("d").cast("long").alias("day"),
            F.round(F.acos(cos_h) * F.lit(458.3662361046586), 0)
            .cast("long")
            .alias("daylen_min"),
        )
        .orderBy("band_lat", "day")
    )



@register("dasymetric_disaggregate_zones", _dasy_oracle_sql())
def dasymetric_disaggregate_zones(spark, sf_dir):
    """Dasymetric disaggregation — the cartographic technique for
    turning zone-level totals into a plausible raster: each nation's
    customer count (the 'census total') is spread over the
    {_DASY_GRID:.0f}° cells assigned to it (nearest nation center —
    discrete Voronoi zoning, catchment's assignment step) PROPORTIONAL
    to an ancillary intensity layer (event density), with
    largest-remainder integer apportionment so allocations are exact
    integers that sum back to every zone total (the
    largest_remainder_alloc electoral math, applied spatially — no
    fractional people, no drift). This is how population/web-activity
    grids (GPW, Meta's density maps) are actually built from admin
    polygons + a weight raster. Scale shape: one cell agg on events,
    one cells×25-center argmin (bounded dim), two windows per zone —
    never per-point work after the first agg."""
    from gipspark.geo.haversine import haversine_col

    ev = load(spark, sf_dir, "events")
    w = ev.groupBy(
        F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_DASY_GRID))
        .cast("int")
        .alias("gy"),
        F.floor((C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_DASY_GRID))
        .cast("int")
        .alias("gx"),
    ).agg(F.count("*").cast("long").alias("weight"))
    cells = w.select(
        "gy",
        "gx",
        "weight",
        (F.lit(90.0) - (F.col("gy") + F.lit(0.5)) * F.lit(_DASY_GRID)).alias("c_lat"),
        ((F.col("gx") + F.lit(0.5)) * F.lit(_DASY_GRID) - F.lit(180.0)).alias("c_lon"),
    )
    nk = F.col("n_nationkey") * 101 + 13
    centers = load(spark, sf_dir, "nation").select(
        "n_nationkey",
        C.derived_lat(nk).alias("n_lat"),
        C.derived_lon(nk).alias("n_lon"),
    )
    d = haversine_col(F.col("c_lat"), F.col("c_lon"), F.col("n_lat"), F.col("n_lon"))
    wv = Window.partitionBy("gy", "gx").orderBy(d.asc(), F.col("n_nationkey").asc())
    assigned = (
        cells.crossJoin(F.broadcast(centers))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("gy", "gx", "weight", "n_nationkey")
    )
    pop = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("n_nationkey"))
        .agg(F.count("*").cast("long").alias("pop"))
    )
    wz = Window.partitionBy("n_nationkey")
    zs = assigned.join(pop, "n_nationkey").select(
        "n_nationkey",
        "gy",
        "gx",
        "weight",
        "pop",
        F.sum("weight").over(wz).alias("wtot"),
        F.expr("(pop * weight) div sum(weight) OVER (PARTITION BY n_nationkey)").alias("base"),
        ((F.col("pop") * F.col("weight")) % F.sum("weight").over(wz)).alias("rem"),
    )
    ranked = zs.select(
        "n_nationkey",
        "gy",
        "gx",
        "weight",
        "pop",
        "base",
        F.row_number()
        .over(Window.partitionBy("n_nationkey").orderBy(F.desc("rem"), "gy", "gx"))
        .alias("rrank"),
        (F.col("pop") - F.sum("base").over(wz)).alias("leftover"),
    )
    return ranked.select(
        "n_nationkey",
        "gy",
        "gx",
        "weight",
        (
            F.col("base")
            + F.when(F.col("rrank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_pop"),
    ).orderBy("n_nationkey", "gy", "gx")



@register(
    "tile_markov_prefetch",
    f"""
WITH pts AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t,
         cast(floor((90.0 - {_LAT.format(k='event_id')}) / {_TMP_GRID}) as int) * 100
           + cast(floor(({_LON.format(k='event_id')} + 180.0) / {_TMP_GRID}) as int)
           AS cell
  FROM events
), trans AS (
  SELECT prev AS from_cell, cell AS to_cell FROM (
    SELECT cell, lag(cell) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
    FROM pts
  ) WHERE prev IS NOT NULL AND prev != cell
), cnt AS (
  SELECT from_cell, to_cell, cast(count(*) as bigint) AS n FROM trans
  GROUP BY from_cell, to_cell
), tot AS (
  SELECT from_cell, cast(sum(n) as bigint) AS n_from FROM cnt GROUP BY from_cell
), rk AS (
  SELECT c.from_cell, c.to_cell, c.n, t.n_from,
         row_number() OVER (PARTITION BY c.from_cell
                            ORDER BY c.n DESC, c.to_cell) AS rnk
  FROM cnt c JOIN tot t ON t.from_cell = c.from_cell
)
SELECT from_cell, cast(rnk as int) AS rnk, to_cell, n,
       cast((n * 1000000) // n_from as bigint) AS p_q
FROM rk WHERE rnk <= {_TMP_TOPK} ORDER BY from_cell, rnk
""",
)
def tile_markov_prefetch(spark, sf_dir):
    """First-order Markov tile-prefetch table: from each
    {_TMP_GRID:.0f}° tile, the top-{_TMP_TOPK} NEXT tiles users move
    to, with exact transition probabilities in micro — the table a
    map client or tile CDN loads to prefetch the tiles a user is most
    likely to pan into (the mobility-Markov sibling of
    event_transition_matrix, which does event TYPES, and
    spatial_markov_cells, which does value classes; and the dynamic
    complement to tile_cache_working_set's static popularity).
    Self-transitions are excluded — prefetching the tile already on
    screen is free. One lag window per user + two hash aggs + one
    per-tile top-k ranking window (WindowGroupLimit keeps it
    map-side-partial at scale)."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_timestamp(ts)").alias("t"),
        (
            F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_TMP_GRID)).cast(
                "int"
            )
            * 100
            + F.floor(
                (C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_TMP_GRID)
            ).cast("int")
        ).alias("cell"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    trans = (
        pts.select("cell", F.lag("cell").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("cell")))
        .select(F.col("prev").alias("from_cell"), F.col("cell").alias("to_cell"))
    )
    cnt = trans.groupBy("from_cell", "to_cell").agg(F.count("*").cast("long").alias("n"))
    tot = cnt.groupBy("from_cell").agg(F.sum("n").cast("long").alias("n_from"))
    wr = Window.partitionBy("from_cell").orderBy(F.desc("n"), F.asc("to_cell"))
    return (
        cnt.join(tot, "from_cell")
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _TMP_TOPK)
        .select(
            "from_cell",
            F.col("rnk").cast("int").alias("rnk"),
            "to_cell",
            "n",
            F.expr("(n * 1000000) div n_from").alias("p_q"),
        )
        .orderBy("from_cell", "rnk")
    )



@register(
    "hypsometric_curve_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / {_HYP_GRID}) as int) AS gx,
         cast(floor((90.0 - lat) / {_HYP_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY gx, gy
), rk AS (
  SELECT v, row_number() OVER (ORDER BY v DESC, gy, gx) AS r,
         count(*) OVER () AS n,
         min(v) OVER () AS vmin, max(v) OVER () AS vmax
  FROM cells
), ds AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) AS d(dec))
SELECT d.dec AS area_decile,
       cast(max(r.n) as bigint) AS n_cells,
       cast(max(CASE WHEN r.r = greatest(1, (d.dec * r.n) // 10) THEN r.v END)
            as bigint) AS elev_at,
       cast(max(CASE WHEN r.r = greatest(1, (d.dec * r.n) // 10)
                THEN CASE WHEN r.vmax = r.vmin THEN 0
                          ELSE ((r.v - r.vmin) * 1000000) // (r.vmax - r.vmin) END
                END) as bigint) AS elev_rel_q
FROM rk r CROSS JOIN ds d
WHERE r.r = greatest(1, (d.dec * r.n) // 10)
GROUP BY d.dec ORDER BY area_decile
""",
)
def hypsometric_curve_cells(spark, sf_dir):
    """Hypsometric curve of the event-density 'terrain': rank every
    {_HYP_GRID}° cell by its value (density-as-elevation, the d8/
    watershed family's raster) and sample relative elevation at each
    relative-area decile — geomorphology's maturity diagnostic (a
    convex curve = a few towering peaks over lowlands → young/
    concentrated; S-shaped = mature spread), here reading as 'how
    top-heavy is the activity surface' at a glance, the ranked-CDF
    complement of lorenz_curve_deciles (value mass) on the SPATIAL
    margin (area mass). Relative elevations are exact integer micro
    against the observed min/max; decile anchoring is pure integer
    rank arithmetic. One cell agg + one global ranking window over
    CELLS (bounded) + an 11-row literal dim."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.floor((C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_HYP_GRID))
        .cast("int")
        .alias("gx"),
        F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_HYP_GRID))
        .cast("int")
        .alias("gy"),
    ).agg(F.count("*").cast("long").alias("v"))
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = cells.select(
        "v",
        F.row_number().over(Window.orderBy(F.desc("v"), "gy", "gx")).alias("r"),
        F.count("*").over(w_all).alias("n"),
        F.min("v").over(w_all).alias("vmin"),
        F.max("v").over(w_all).alias("vmax"),
    )
    ds = spark.createDataFrame([(i,) for i in range(11)], "dec int")
    j = rk.crossJoin(F.broadcast(ds)).filter(
        F.col("r") == F.greatest(F.lit(1), F.expr("(dec * n) div 10"))
    )
    rel = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        F.expr("((v - vmin) * 1000000) div (vmax - vmin)")
    )
    return (
        j.groupBy(F.col("dec").alias("area_decile"))
        .agg(
            F.max("n").cast("long").alias("n_cells"),
            F.max("v").cast("long").alias("elev_at"),
            F.max(rel).cast("long").alias("elev_rel_q"),
        )
        .orderBy("area_decile")
    )



@register(
    "coslat_weighted_mean_cells",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((90.0 - lat) / {_CLW_GRID}) as int) AS gy,
         cast(floor((lon + 180.0) / {_CLW_GRID}) as int) AS gx,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY gy, gx
), wtd AS (
  SELECT gy, gx, v,
         cast(round(cos((90.0 - (gy + 0.5) * {_CLW_GRID})
                        * 0.017453292519943295) * 1000000.0, 0) as bigint) AS w_q
  FROM cells
)
SELECT method, n_cells, value_sum, weight_sum, mean_milli FROM (
  SELECT 'uniform' AS method, cast(count(*) as bigint) AS n_cells,
         cast(sum(v) as bigint) AS value_sum,
         cast(count(*) as bigint) AS weight_sum,
         cast((sum(v) * 1000) // count(*) as bigint) AS mean_milli
  FROM wtd
  UNION ALL
  SELECT 'coslat' AS method, cast(count(*) as bigint),
         cast(sum(v * w_q) as bigint),
         cast(sum(w_q) as bigint),
         cast((sum(v * w_q) * 1000) // sum(w_q) as bigint)
  FROM wtd
) ORDER BY method
""",
)
def coslat_weighted_mean_cells(spark, sf_dir):
    """Cos-latitude area weighting — the correctness rule every
    climate/earth-observation mean depends on: a lat/lon grid cell at
    60° covers half the area of its equatorial sibling, so the naive
    'average over cells' systematically overweights high latitudes;
    the fix weights each cell by cos(center latitude). This op reports
    the global mean cell density BOTH ways so the bias is a visible
    number (mean_milli uniform vs coslat) — the audit that catches
    'we averaged a 2° grid and called it the global mean'. Weights
    are cos values rounded to integer micro BEFORE any aggregation,
    so every sum is exact integer arithmetic (the one trig call per
    BAND is the module's coarse-tick discipline). One cell agg + one
    2-branch rollup."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_CLW_GRID))
        .cast("int")
        .alias("gy"),
        F.floor((C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_CLW_GRID))
        .cast("int")
        .alias("gx"),
    ).agg(F.count("*").cast("long").alias("v"))
    w_q = F.round(
        F.cos(
            (F.lit(90.0) - (F.col("gy") + F.lit(0.5)) * F.lit(_CLW_GRID))
            * F.lit(0.017453292519943295)
        )
        * F.lit(1000000.0),
        0,
    ).cast("long")
    wtd = cells.withColumn("w_q", w_q)
    uni = wtd.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("v").cast("long").alias("value_sum"),
        F.count("*").cast("long").alias("weight_sum"),
        F.expr("(sum(v) * 1000) div count(*)").alias("mean_milli"),
    ).select(F.lit("uniform").alias("method"), "n_cells", "value_sum", "weight_sum", "mean_milli")
    cl = wtd.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.col("v") * F.col("w_q")).cast("long").alias("value_sum"),
        F.sum("w_q").cast("long").alias("weight_sum"),
        F.expr("(sum(v * w_q) * 1000) div sum(w_q)").alias("mean_milli"),
    ).select(F.lit("coslat").alias("method"), "n_cells", "value_sum", "weight_sum", "mean_milli")
    return uni.unionByName(cl).orderBy("method")



@register(
    "speed_field_cells",
    f"""
WITH fixes AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), legs AS (
  SELECT cast(floor((90.0 - plat) / {_SPF_GRID}) as int) AS gy,
         cast(floor((plon + 180.0) / {_SPF_GRID}) as int) AS gx,
         cast(round({HAVERSINE_SQL.format(lat1='plat', lon1='plon', lat2='lat', lon2='lon')}, 0) as bigint)
           // greatest(t - pt, 1) AS speed
  FROM (
    SELECT user_id, t, lat, lon,
           lag(lat) OVER (PARTITION BY user_id ORDER BY t, event_id) AS plat,
           lag(lon) OVER (PARTITION BY user_id ORDER BY t, event_id) AS plon,
           lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
    FROM fixes
  ) WHERE plat IS NOT NULL
), rk AS (
  SELECT gy, gx, speed,
         row_number() OVER (PARTITION BY gy, gx ORDER BY speed, gy) AS r,
         count(*) OVER (PARTITION BY gy, gx) AS n
  FROM legs
)
SELECT gy, gx, cast(max(n) as bigint) AS n_legs,
       cast(sum(speed) // max(n) as bigint) AS mean_speed,
       cast(max(CASE WHEN r = (n + 1) // 2 THEN speed END) as bigint) AS p50_speed
FROM rk GROUP BY gy, gx ORDER BY gy, gx
""",
)
def speed_field_cells(spark, sf_dir):
    """Probe-derived speed field — the traffic-tile product every
    navigation stack computes from GPS probes: each leg's
    integer-exact speed (whole-meter haversine over floor-second gap,
    the trip_modes convention) is credited to its ORIGIN
    {_SPF_GRID:.0f}° cell, and each cell reports probe count, mean,
    and exact lower-median speed (rank (n+1)//2 — a real observed
    value, deterministic, no interpolation). Cells with few legs are
    the map's gray roads; the p50/mean gap flags bimodal cells
    (congested + free-flow regimes sharing one tile). One user-window
    for legs + one cell window for the median + one agg — the
    user_id shuffle and the cell shuffle are the op's whole cost at
    any probe volume."""
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
    legs = (
        fixes.select(
            "t",
            "lat",
            "lon",
            F.lag("lat").over(w).alias("plat"),
            F.lag("lon").over(w).alias("plon"),
            F.lag("t").over(w).alias("pt"),
        )
        .filter(F.col("plat").isNotNull())
        .select(
            F.floor((F.lit(90.0) - F.col("plat")) / F.lit(_SPF_GRID)).cast("int").alias("gy"),
            F.floor((F.col("plon") + F.lit(180.0)) / F.lit(_SPF_GRID)).cast("int").alias("gx"),
            (
                F.round(
                    haversine_col(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")), 0
                ).cast("long")
            ).alias("dist_m"),
            (F.col("t") - F.col("pt")).alias("dt"),
        )
        .select("gy", "gx", F.expr("dist_m div greatest(dt, 1)").alias("speed"))
    )
    wc = Window.partitionBy("gy", "gx").orderBy("speed", "gy")
    wn = Window.partitionBy("gy", "gx")
    rk = legs.select(
        "gy",
        "gx",
        "speed",
        F.row_number().over(wc).alias("r"),
        F.count("*").over(wn).alias("n"),
    )
    return (
        rk.groupBy("gy", "gx")
        .agg(
            F.max("n").cast("long").alias("n_legs"),
            F.expr("cast(sum(speed) div max(n) as bigint)").alias("mean_speed"),
            F.max(F.when(F.col("r") == F.expr("(n + 1) div 2"), F.col("speed")))
            .cast("long")
            .alias("p50_speed"),
        )
        .orderBy("gy", "gx")
    )



@register(
    "block_bootstrap_cells",
    f"""
WITH cells AS (
  SELECT cast(floor((90.0 - {_LAT.format(k='event_id')}) / {_BB_CELL}) as int) AS gy,
         cast(floor(({_LON.format(k='event_id')} + 180.0) / {_BB_CELL}) as int) AS gx,
         cast(count(*) as bigint) AS v
  FROM events GROUP BY gy, gx
), blk AS (
  SELECT gy, gx, v, gy // {_BB_BLOCK} AS by, gx // {_BB_BLOCK} AS bx FROM cells
), reps AS (SELECT * FROM range({_BB_REPS}) AS r(rep)
), wtd AS (
  SELECT r.rep, b.v,
         {D.MD5_LONG_SQL.format(x="concat('bb:', cast(r.rep as varchar), ':', cast(b.by as varchar), ':', cast(b.bx as varchar))")} % 3 AS w
  FROM blk b CROSS JOIN reps r
)
SELECT cast(rep as int) AS rep,
       cast(sum(w) as bigint) AS n_cells_resampled,
       cast(sum(v * w) as bigint) AS value_sum,
       cast((sum(v * w) * 1000) // greatest(sum(w), 1) as bigint) AS mean_milli
FROM wtd GROUP BY rep ORDER BY rep
""",
)
def block_bootstrap_cells(spark, sf_dir):
    """Spatial BLOCK bootstrap of the mean cell density: {_BB_REPS}
    deterministic resamples that draw whole {_BB_BLOCK}×{_BB_BLOCK}-cell
    BLOCKS (uniform {{0,1,2}} md5-derived weights per (rep, block) —
    mean-1 multiplicities, the documented stand-in for Poisson(1))
    rather than independent cells — the spatial-statistics correction
    poisson_bootstrap_ci ignores: neighboring cells are correlated
    (Moran's I says so), so a cell-level bootstrap understates the
    variance of the mean; resampling blocks preserves short-range
    correlation inside each draw. The spread of mean_milli across the
    32 reps IS the honest CI width. Every weight is a pure function of
    (rep, block) — reproducible on any cluster; all sums exact
    integers. One cell agg + a 32-row rep fan-out over BLOCKS."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_BB_CELL))
        .cast("int")
        .alias("gy"),
        F.floor((C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_BB_CELL))
        .cast("int")
        .alias("gx"),
    ).agg(F.count("*").cast("long").alias("v"))
    blk = cells.select(
        "v", F.expr(f"gy div {_BB_BLOCK}").alias("by"), F.expr(f"gx div {_BB_BLOCK}").alias("bx")
    )
    reps = spark.range(_BB_REPS).select(F.col("id").cast("int").alias("rep"))
    wtd = blk.crossJoin(F.broadcast(reps)).select(
        "rep",
        "v",
        (
            D.md5_long(
                F.concat(
                    F.lit("bb:"),
                    F.col("rep").cast("string"),
                    F.lit(":"),
                    F.col("by").cast("string"),
                    F.lit(":"),
                    F.col("bx").cast("string"),
                )
            )
            % 3
        ).alias("w"),
    )
    return (
        wtd.groupBy("rep")
        .agg(
            F.sum("w").cast("long").alias("n_cells_resampled"),
            F.sum(F.col("v") * F.col("w")).cast("long").alias("value_sum"),
            F.expr(
                "cast((sum(v * w) * 1000) div greatest(sum(w), 1) as bigint)"
            ).alias("mean_milli"),
        )
        .orderBy("rep")
    )



@register(
    "grid_resolution_sweep",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), sizes AS (
  SELECT cast(s as double) AS cell
  FROM (VALUES {", ".join(f"({s})" for s in _GRS_SIZES)}) AS s(s)
), occ AS (
  SELECT s.cell,
         cast(floor((90.0 - p.lat) / s.cell) as int) AS gy,
         cast(floor((p.lon + 180.0) / s.cell) as int) AS gx,
         cast(count(*) as bigint) AS c
  FROM pts p CROSS JOIN sizes s
  GROUP BY s.cell, gy, gx
)
SELECT cell AS cell_deg,
       cast(count(*) as bigint) AS n_occupied,
       cast(max(c) as bigint) AS max_occupancy,
       cast(sum(c * c) as bigint) AS self_join_candidates,
       cast(sum(c * (c - 1)) // 2 as bigint) AS distinct_pairs,
       cast((max(c) * count(*) * 1000000) // sum(c) as bigint) AS skew_q
FROM occ GROUP BY cell ORDER BY cell_deg
""",
)
def grid_resolution_sweep(spark, sf_dir):
    """Grid-resolution cost sweep — the planner's own knob, measured:
    for candidate prefilter cell sizes {_GRS_SIZES}°, the occupied-cell
    count, the hottest cell, and the SELF-JOIN CANDIDATE volume Σc²
    (exactly the shuffle output a cell-equi-join prefilter produces —
    the quantity the PIP/kNN/colocation operators' cost is linear in).
    Coarser cells mean fewer keys but quadratically fatter candidate
    lists; skew_q = max·cells/Σc (micro) is the straggler ratio AQE
    would have to fix. This audit turns 'pick a sensible grid' into a
    measured elbow — the same evidence spatial_join_card_estimate
    gives per-query, here swept across resolutions. One fan-out agg
    over a 4-row literal size dim."""
    cust = load(spark, sf_dir, "customer")
    pts = cust.select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    sizes = spark.createDataFrame([(float(s),) for s in _GRS_SIZES], "cell double")
    occ = (
        pts.crossJoin(F.broadcast(sizes))
        .groupBy(
            "cell",
            F.floor((F.lit(90.0) - F.col("lat")) / F.col("cell")).cast("int").alias("gy"),
            F.floor((F.col("lon") + F.lit(180.0)) / F.col("cell")).cast("int").alias("gx"),
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    return (
        occ.groupBy(F.col("cell").alias("cell_deg"))
        .agg(
            F.count("*").cast("long").alias("n_occupied"),
            F.max("c").cast("long").alias("max_occupancy"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("self_join_candidates"),
            F.expr("cast(sum(c * (c - 1)) div 2 as bigint)").alias("distinct_pairs"),
            F.expr(
                "cast((max(c) * count(*) * 1000000) div sum(c) as bigint)"
            ).alias("skew_q"),
        )
        .orderBy("cell_deg")
    )



@register(
    "cell_function_classify",
    f"""
WITH fixes AS (
  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t,
         cast(floor((90.0 - {_LAT.format(k='event_id')}) / {_CF_GRID}) as int) * 100
           + cast(floor(({_LON.format(k='event_id')} + 180.0) / {_CF_GRID}) as int)
           AS cell
  FROM events
), runs AS (
  SELECT user_id, cell, grp, cast(count(*) as bigint) AS run_len
  FROM (
    SELECT user_id, cell,
           row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
             - row_number() OVER (PARTITION BY user_id, cell ORDER BY t, event_id)
             AS grp
    FROM fixes
  ) GROUP BY user_id, cell, grp
), vis AS (
  SELECT cell,
         cast(count(CASE WHEN run_len >= 2 THEN 1 END) as bigint) AS n_stays,
         cast(count(CASE WHEN run_len = 1 THEN 1 END) as bigint) AS n_passes,
         cast(count(*) as bigint) AS n_visits
  FROM runs GROUP BY cell
)
SELECT cell, n_visits, n_stays, n_passes,
       cast((n_stays * 1000000) // n_visits as bigint) AS stay_share_q,
       CASE WHEN n_stays * 2 >= n_visits THEN 'destination'
            WHEN n_visits >= 5 THEN 'corridor' ELSE 'sparse' END AS function
FROM vis ORDER BY cell
""",
)
def cell_function_classify(spark, sf_dir):
    """Urban cell-function classification: each visit to a
    {_CF_GRID:.0f}° cell is a STAY (≥2 consecutive fixes — the user
    lingered) or a PASS-THROUGH (one fix and gone), and the per-cell
    stay share separates DESTINATION cells (places people go TO) from
    CORRIDOR cells (places people go THROUGH) — the land-use signal
    behind transit planning and POI inference, invisible to raw
    density (dwell_cells_user profiles users; this profiles PLACES;
    decayed_tile_heat weights recency — three orthogonal reads of the
    same fixes). Visit runs come from the dual-row_number islands
    trick per (user, cell); classification is exact integer share
    arithmetic. One user-window pass + two hash aggs."""
    ev = load(spark, sf_dir, "events")
    fixes = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_timestamp(ts)").alias("t"),
        (
            F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_CF_GRID)).cast(
                "int"
            )
            * 100
            + F.floor(
                (C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_CF_GRID)
            ).cast("int")
        ).alias("cell"),
    )
    wu = Window.partitionBy("user_id").orderBy("t", "event_id")
    wc = Window.partitionBy("user_id", "cell").orderBy("t", "event_id")
    runs = (
        fixes.withColumn("grp", F.row_number().over(wu) - F.row_number().over(wc))
        .groupBy("user_id", "cell", "grp")
        .agg(F.count("*").cast("long").alias("run_len"))
    )
    vis = runs.groupBy("cell").agg(
        F.count(F.when(F.col("run_len") >= 2, 1)).cast("long").alias("n_stays"),
        F.count(F.when(F.col("run_len") == 1, 1)).cast("long").alias("n_passes"),
        F.count("*").cast("long").alias("n_visits"),
    )
    return vis.select(
        "cell",
        "n_visits",
        "n_stays",
        "n_passes",
        F.expr("(n_stays * 1000000) div n_visits").alias("stay_share_q"),
        F.when(F.col("n_stays") * 2 >= F.col("n_visits"), "destination")
        .when(F.col("n_visits") >= 5, "corridor")
        .otherwise("sparse")
        .alias("function"),
    ).orderBy("cell")



@register(
    "newsvendor_quantile_parts",
    f"""
WITH demand AS (
  SELECT l_partkey, epoch_us(l_shipdate) // 1000000 // 604800 AS wk,
         cast(sum(cast(l_quantity as bigint)) as bigint) AS qty
  FROM lineitem WHERE l_partkey < {_NV_PARTS} GROUP BY l_partkey, wk
), rk AS (
  SELECT l_partkey, qty,
         row_number() OVER (PARTITION BY l_partkey ORDER BY qty, wk) AS r,
         count(*) OVER (PARTITION BY l_partkey) AS n
  FROM demand
), ratios AS (
  SELECT * FROM (VALUES {", ".join(f"({i}, {q})" for i, q in _NV_RATIOS)})
    AS r(ratio_id, cr_q)
)
SELECT rk.l_partkey, ra.ratio_id,
       cast(max(rk.n) as bigint) AS n_weeks,
       cast(max(CASE WHEN rk.r = least(rk.n, (ra.cr_q * rk.n + 999999) // 1000000)
                THEN rk.qty END) as bigint) AS stock_qty
FROM rk CROSS JOIN ratios ra
WHERE rk.r = least(rk.n, (ra.cr_q * rk.n + 999999) // 1000000)
GROUP BY rk.l_partkey, ra.ratio_id
ORDER BY l_partkey, ratio_id
""",
)
def newsvendor_quantile_parts(spark, sf_dir):
    """Newsvendor optimal stocking — inventory theory's one-line
    answer: stock the CRITICAL-RATILE of the demand distribution,
    q* = F⁻¹(cᵤ/(cᵤ+cₒ)), evaluated here as the exact empirical
    weekly-demand quantile (ceil(cr·n)-th order statistic — a real
    observed week, no normality) for critical ratios 0.5/0.8/0.9 per
    part. safety_stock_parts assumes Gaussian demand; this IS the
    distribution-free answer, and comparing the two on skewed parts
    shows exactly where the Gaussian approximation under-stocks the
    tail. Pure integer rank arithmetic (ceil via (a·n+10⁶−1)//10⁶);
    one week agg + one per-part ranking window + a 3-row ratio dim."""
    li = load(spark, sf_dir, "lineitem")
    demand = (
        li.filter(F.col("l_partkey") < _NV_PARTS)
        .groupBy("l_partkey", F.expr("unix_timestamp(l_shipdate) div 604800").alias("wk"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    wr = Window.partitionBy("l_partkey").orderBy("qty", "wk")
    wn = Window.partitionBy("l_partkey")
    rk = demand.select(
        "l_partkey",
        "qty",
        F.row_number().over(wr).alias("r"),
        F.count("*").over(wn).alias("n"),
    )
    ratios = spark.createDataFrame(list(_NV_RATIOS), "ratio_id int, cr_q long")
    j = rk.crossJoin(F.broadcast(ratios)).filter(
        F.col("r") == F.least(F.col("n"), F.expr("(cr_q * n + 999999) div 1000000"))
    )
    return (
        j.groupBy("l_partkey", "ratio_id")
        .agg(
            F.max("n").cast("long").alias("n_weeks"),
            F.max("qty").cast("long").alias("stock_qty"),
        )
        .orderBy("l_partkey", "ratio_id")
    )



@register(
    "tile_seam_audit_cells",
    f"""
WITH cells AS (
  SELECT cast(floor((90.0 - {_LAT.format(k='event_id')}) / {_SEAM_GRID}) as int) AS gy,
         cast(floor(({_LON.format(k='event_id')} + 180.0) / {_SEAM_GRID}) as int) AS gx,
         cast(count(*) as bigint) AS v
  FROM events GROUP BY gy, gx
), pairs AS (
  SELECT a.gy AS gy, a.gx AS gx, a.v AS va, b.v AS vb,
         (a.gx // {_SEAM_SUPER} != b.gx // {_SEAM_SUPER}
          OR a.gy // {_SEAM_SUPER} != b.gy // {_SEAM_SUPER}) AS crosses
  FROM cells a JOIN cells b
    ON (b.gx = a.gx + 1 AND b.gy = a.gy) OR (b.gx = a.gx AND b.gy = a.gy + 1)
)
SELECT crosses,
       cast(count(*) as bigint) AS n_pairs,
       cast(sum(abs(va - vb)) as bigint) AS sum_abs_diff,
       cast((sum(abs(va - vb)) * 1000) // count(*) as bigint) AS mean_abs_diff_milli
FROM pairs GROUP BY crosses ORDER BY crosses
""",
)
def tile_seam_audit_cells(spark, sf_dir):
    """Tile-seam artifact detector — the QA pass every distributed
    raster pipeline needs after per-tile processing: compare the mean
    absolute value jump between rook-adjacent cells WITHIN a
    {_SEAM_SUPER}×{_SEAM_SUPER} super-tile vs across super-tile
    boundaries. On clean data the two are statistically equal (this
    op's baseline reading); per-tile normalization bugs, per-worker
    calibration drift, or boundary-pixel double counting show up as
    crossing ≫ interior — the seam you can see on the rendered map,
    quantified before anyone renders it. One cell agg + one
    neighbor self-join over the OCCUPIED-cell table + one census agg —
    integer exact. The OR-shaped join condition plans as a nested loop,
    which is bounded BY THE GRID here (≤ 72×24 occupied cells at this
    resolution, regardless of point volume — dim², never points²); at
    finer grids split it into per-offset equi-joins (the focal
    idiom)."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_SEAM_GRID))
        .cast("int")
        .alias("gy"),
        F.floor((C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_SEAM_GRID))
        .cast("int")
        .alias("gx"),
    ).agg(F.count("*").cast("long").alias("v"))
    a = cells.alias("a")
    b = cells.alias("b")
    right = (F.col("b.gx") == F.col("a.gx") + 1) & (F.col("b.gy") == F.col("a.gy"))
    down = (F.col("b.gx") == F.col("a.gx")) & (F.col("b.gy") == F.col("a.gy") + 1)
    pairs = a.join(b, right | down).select(
        F.col("a.v").alias("va"),
        F.col("b.v").alias("vb"),
        (
            (F.expr(f"a.gx div {_SEAM_SUPER}") != F.expr(f"b.gx div {_SEAM_SUPER}"))
            | (F.expr(f"a.gy div {_SEAM_SUPER}") != F.expr(f"b.gy div {_SEAM_SUPER}"))
        ).alias("crosses"),
    )
    return (
        pairs.groupBy("crosses")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.abs(F.col("va") - F.col("vb"))).cast("long").alias("sum_abs_diff"),
            F.expr(
                "(sum(abs(va - vb)) * 1000) div count(*)"
            ).alias("mean_abs_diff_milli"),
        )
        .orderBy("crosses")
    )



@register("lbp_texture_cells", _lbp_oracle_sql())
def lbp_texture_cells(spark, sf_dir):
    """Local Binary Pattern texture census of the event-density raster
    — computer vision's classic texture fingerprint (Ojala's LBP),
    computed relationally: each cell's 8 neighbors (fixed clockwise
    order) threshold against the center, pack into an 8-bit code,
    census the codes, and flag UNIFORM patterns (≤2 circular 0↔1
    transitions — edges/corners/flats, which dominate natural
    surfaces; a high non-uniform share marks noise or synthetic
    texture). Circular transitions come from bit_count(code XOR
    rot1(code)) — pure integer bit ops in both engines, no pixels
    ever leaving SQL. The focal 8-offset join runs over OCCUPIED
    cells only with absent neighbors as 0 (the sparse-raster idiom
    of focal_median/d8). One cell agg + one 8-way fan-out join + two
    census aggs."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.floor((C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(_LBP_GRID))
        .cast("int")
        .alias("gx"),
        F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(_LBP_GRID))
        .cast("int")
        .alias("gy"),
    ).agg(F.count("*").cast("long").alias("v"))
    offs = spark.createDataFrame(
        [(i, dx, dy) for i, (dx, dy) in enumerate(_LBP_OFFSETS)], "i int, dx int, dy int"
    )
    nb = cells.select(
        F.col("gx").alias("nx"), F.col("gy").alias("ny"), F.col("v").alias("nv")
    )
    bits = (
        cells.crossJoin(F.broadcast(offs))
        .join(
            nb,
            (F.col("nx") == F.col("gx") + F.col("dx"))
            & (F.col("ny") == F.col("gy") + F.col("dy")),
            "left",
        )
        .groupBy("gx", "gy")
        .agg(
            F.sum(
                F.when(
                    F.coalesce(F.col("nv"), F.lit(0)) > F.col("v"),
                    F.expr("shiftleft(1, i)"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("code")
        )
    )
    cl = bits.select(
        "code",
        F.expr(
            "bit_count(cast(code ^ (((code << 1) | (code >> 7)) & 255) as bigint))"
        ).alias("transitions"),
    )
    return (
        cl.groupBy("code")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            (F.max("transitions") <= 2).alias("uniform_pattern"),
        )
        .orderBy("code")
    )



# ---------------------------------------------------------------------------
# round-4 batch (session 3p): APC lattice, FFD packing, dominance, exposure
# ---------------------------------------------------------------------------


@register(
    "apc_lattice_orders",
    f"""
WITH first_yr AS (
  SELECT o_custkey, cast(min(year(o_orderdate)) as bigint) AS cohort
  FROM orders GROUP BY o_custkey
), lat AS (
  SELECT f.cohort, cast(year(o.o_orderdate) as bigint) AS period,
         cast(year(o.o_orderdate) as bigint) - f.cohort AS age,
         cast(round(cast(o.o_totalprice as {DEC}) * 100) as bigint) AS cents
  FROM orders o JOIN first_yr f ON f.o_custkey = o.o_custkey
)
SELECT cohort, period, cast(max(age) as bigint) AS age,
       cast(count(*) as bigint) AS n_orders,
       cast(sum(cents) as bigint) AS cents,
       (max(age) = period - cohort) AS identity_holds
FROM lat GROUP BY cohort, period ORDER BY cohort, period
""",
)
def apc_lattice_orders(spark, sf_dir):
    """Age-period-cohort lattice — demography's structurally-singular
    triangle: every order is indexed by its customer's acquisition
    COHORT (first order year), calendar PERIOD, and AGE =
    period − cohort, and the identity column makes the linear
    dependence explicit (you can never estimate all three effects
    freely — the APC identification problem every tenure-vs-calendar
    debate secretly trips on; cohort_retention_weekly shows one slice
    of this lattice, this emits the whole triangle with exact cents
    so either margin can be read). One first-order min-agg + one
    equi-join + one lattice agg."""
    o = load(spark, sf_dir, "orders")
    first_yr = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).cast("long").alias("cohort")
    )
    lat = o.join(first_yr, "o_custkey").select(
        "cohort",
        F.year("o_orderdate").cast("long").alias("period"),
        (F.year("o_orderdate").cast("long") - F.col("cohort")).alias("age"),
        F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("cents"),
    )
    return (
        lat.groupBy("cohort", "period")
        .agg(
            F.max("age").cast("long").alias("age"),
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
            (F.max("age") == F.col("period") - F.col("cohort")).alias("identity_holds"),
        )
        .orderBy("cohort", "period")
    )



@register(
    "quantile_regression_daily",
    f"""
WITH daily AS (
  SELECT cast(row_number() OVER (ORDER BY d) - 1 as bigint) AS x,
         cast(y as bigint) AS y
  FROM (
    SELECT epoch_us(ts) // 1000000 // 86400 AS d, count(*) AS y
    FROM events GROUP BY d
  )
), slopes AS (
  SELECT cast(s as bigint) AS s
  FROM (VALUES {", ".join(f"({s})" for s in _QR_SLOPES)}) AS t(s)
), resid AS (
  SELECT s.s, d.x, 1000 * d.y - s.s * d.x AS r
  FROM daily d CROSS JOIN slopes s
), icept AS (
  SELECT s, r AS b FROM (
    SELECT s, r,
           row_number() OVER (PARTITION BY s ORDER BY r, x) AS rk,
           count(*) OVER (PARTITION BY s) AS n
    FROM resid
  ) WHERE rk = least(n, ({_QR_TAU_Q} * n + 999999) // 1000000)
), loss AS (
  SELECT r.s, i.b,
         cast(sum(CASE WHEN r.r >= i.b THEN {_QR_TAU_Q} * (r.r - i.b)
                  ELSE (1000000 - {_QR_TAU_Q}) * (i.b - r.r) END) as bigint)
           AS pinball
  FROM resid r JOIN icept i ON i.s = r.s
  GROUP BY r.s, i.b
)
SELECT s AS slope_milli, b AS icept_milli, pinball,
       cast(row_number() OVER (ORDER BY pinball, s) as int) AS rnk
FROM loss ORDER BY rnk
""",
)
def quantile_regression_daily(spark, sf_dir):
    """Quantile regression (τ=0.9) of daily event counts by exact
    profile grid search: for each candidate slope on a literal
    milli-grid, the optimal intercept is the exact τ-order-statistic
    of the residuals (a known property of the pinball loss — no
    solver), then the total pinball loss ranks the grid; row 1 is the
    90th-percentile TREND line, the 'capacity envelope is growing
    this fast' statement OLS can't make because it tracks the mean,
    not the tail (value_at_risk watches one day's tail; this fits the
    tail's SLOPE). Everything is exact integers — residuals in
    milli-units, losses in micro-weighted milli — so the argmin is
    deterministic. One day agg + a 21-row slope fan-out + one rank
    window + one loss agg per slope."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.expr("unix_timestamp(ts) div 86400").alias("d")).agg(
        F.count("*").alias("y")
    )
    rn = daily.select(
        (F.row_number().over(Window.orderBy("d")) - 1).cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    slopes = spark.createDataFrame([(s,) for s in _QR_SLOPES], "s long")
    resid = rn.crossJoin(F.broadcast(slopes)).select(
        "s", "x", (1000 * F.col("y") - F.col("s") * F.col("x")).alias("r")
    )
    wq = Window.partitionBy("s").orderBy("r", "x")
    wn = Window.partitionBy("s")
    icept = (
        resid.select(
            "s",
            "r",
            F.row_number().over(wq).alias("rk"),
            F.count("*").over(wn).alias("n"),
        )
        .filter(
            F.col("rk")
            == F.least(F.col("n"), F.expr(f"({_QR_TAU_Q} * n + 999999) div 1000000"))
        )
        .select("s", F.col("r").alias("b"))
    )
    loss = (
        resid.join(icept, "s")
        .groupBy("s", "b")
        .agg(
            F.sum(
                F.when(
                    F.col("r") >= F.col("b"),
                    _QR_TAU_Q * (F.col("r") - F.col("b")),
                ).otherwise((1000000 - _QR_TAU_Q) * (F.col("b") - F.col("r")))
            )
            .cast("long")
            .alias("pinball")
        )
    )
    return loss.select(
        F.col("s").alias("slope_milli"),
        F.col("b").alias("icept_milli"),
        "pinball",
        F.row_number().over(Window.orderBy("pinball", "s")).cast("int").alias("rnk"),
    ).orderBy("rnk")



@register(
    "radix_quantile_contract",
    f"""
WITH vals AS (
  SELECT cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) AS v FROM orders
), bounds AS (
  SELECT cast(min(v) as bigint) AS lo, cast(max(v) as bigint) AS hi,
         cast(count(*) as bigint) AS n
  FROM vals
), hist AS (
  SELECT least(((v.v - b.lo) * {_RQ_COARSE}) // greatest(b.hi - b.lo + 1, 1),
               {_RQ_COARSE - 1}) AS bucket,
         cast(count(*) as bigint) AS c
  FROM vals v CROSS JOIN bounds b GROUP BY bucket
), cum AS (
  SELECT bucket, c,
         sum(c) OVER (ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
  FROM hist
), targets AS (
  SELECT d.d, (b.n * d.d + 9) // 10 AS target_rank, b.lo, b.hi, b.n
  FROM (VALUES {", ".join(f"({d})" for d in _RQ_DECILES)}) AS d(d)
  CROSS JOIN bounds b
), picked AS (
  SELECT t.d, t.target_rank, min(c.bucket) AS bkt
  FROM targets t JOIN cum c ON c.cum_c >= t.target_rank
  GROUP BY t.d, t.target_rank
), refined AS (
  SELECT p.d, p.target_rank, v.v,
         row_number() OVER (PARTITION BY p.d ORDER BY v.v) AS r_in,
         (SELECT coalesce(max(cum_c), 0) FROM cum
          WHERE bucket < p.bkt) AS below
  FROM picked p JOIN vals v
    ON least(((v.v - (SELECT lo FROM bounds)) * {_RQ_COARSE})
             // greatest((SELECT hi FROM bounds) - (SELECT lo FROM bounds) + 1, 1),
             {_RQ_COARSE - 1}) = p.bkt
), answer AS (
  SELECT d, max(CASE WHEN r_in = target_rank - below THEN v END) AS radix_v
  FROM refined GROUP BY d
), direct AS (
  SELECT d.d, max(CASE WHEN rv.r = (SELECT (n * d.d + 9) // 10 FROM bounds)
                  THEN rv.v END) AS direct_v
  FROM (SELECT v, row_number() OVER (ORDER BY v) AS r FROM vals) rv
  CROSS JOIN (VALUES {", ".join(f"({d})" for d in _RQ_DECILES)}) AS d(d)
  GROUP BY d.d
)
SELECT a.d AS decile, cast(a.radix_v as bigint) AS radix_value,
       cast(di.direct_v as bigint) AS direct_value,
       (a.radix_v = di.direct_v) AS match
FROM answer a JOIN direct di ON di.d = a.d ORDER BY decile
""",
)
def radix_quantile_contract(spark, sf_dir):
    """Exact distributed quantiles by histogram refinement — the
    scale path this registry's rank-window medians do NOT have: pass
    1 builds a {_RQ_COARSE}-bucket histogram (one agg), locates the
    bucket holding each target rank from the cumulative counts, pass
    2 rank-orders ONLY that bucket's rows — total work two scans and
    a per-bucket sort, vs the global single-partition sort a rank
    window needs. The contract proves every decile equals the direct
    rank-window answer exactly (match = TRUE ×9) — approx_percentile
    trades this exactness for one pass; this keeps exactness for one
    extra pass, the classic BigQuery/Presto exact-quantile design.
    All bucket math is exact integer floor division."""
    o = load(spark, sf_dir, "orders")
    vals = o.select(F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("v"))
    bounds = vals.agg(
        F.min("v").alias("lo"), F.max("v").alias("hi"), F.count("*").alias("n")
    )
    wv = vals.crossJoin(F.broadcast(bounds))
    bucket = F.expr(
        f"least(((v - lo) * {_RQ_COARSE}) div greatest(hi - lo + 1, 1), {_RQ_COARSE - 1})"
    )
    hist = wv.groupBy(bucket.alias("bucket")).agg(F.count("*").cast("long").alias("c"))
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.select("bucket", "c", F.sum("c").over(w_cum).alias("cum_c"))
    ds = spark.createDataFrame([(d,) for d in _RQ_DECILES], "d int")
    targets = ds.crossJoin(F.broadcast(bounds)).select(
        "d", F.expr("(n * d + 9) div 10").alias("target_rank")
    )
    picked = (
        targets.join(F.broadcast(cum), F.col("cum_c") >= F.col("target_rank"))
        .groupBy("d", "target_rank")
        .agg(F.min("bucket").alias("bkt"))
    )
    below = cum.select(
        F.col("bucket").alias("b_lo"), F.col("cum_c").alias("below_cum")
    )
    picked2 = (
        picked.join(F.broadcast(below), F.col("b_lo") < F.col("bkt"), "left")
        .groupBy("d", "target_rank", "bkt")
        .agg(F.coalesce(F.max("below_cum"), F.lit(0)).alias("below"))
    )
    in_bucket = wv.select("v", bucket.alias("bkt2"))
    refined = in_bucket.join(
        F.broadcast(picked2), F.col("bkt2") == F.col("bkt")
    ).select(
        "d",
        "target_rank",
        "below",
        "v",
        F.row_number().over(Window.partitionBy("d").orderBy("v")).alias("r_in"),
    )
    answer = refined.groupBy("d").agg(
        F.max(
            F.when(F.col("r_in") == F.col("target_rank") - F.col("below"), F.col("v"))
        ).alias("radix_v")
    )
    rv = vals.select("v", F.row_number().over(Window.orderBy("v")).alias("r"))
    direct = (
        rv.crossJoin(F.broadcast(targets))
        .groupBy(F.col("d").alias("dd"))
        .agg(F.max(F.when(F.col("r") == F.col("target_rank"), F.col("v"))).alias("direct_v"))
    )
    return (
        answer.join(direct, answer["d"] == direct["dd"])
        .select(
            F.col("d").alias("decile"),
            F.col("radix_v").cast("long").alias("radix_value"),
            F.col("direct_v").cast("long").alias("direct_value"),
            (F.col("radix_v") == F.col("direct_v")).alias("match"),
        )
        .orderBy("decile")
    )



@register(
    "quadkey_roundtrip_contract",
    f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), enc AS (
  SELECT c_custkey, lat, lon, {C.quadkey_sql('lat', 'lon', 8)} AS qk FROM pts
), dec AS (
  SELECT c_custkey, lat, lon, qk,
         {_qk_decode_xy('qk', 8)[0]} AS tx,
         {_qk_decode_xy('qk', 8)[1]} AS ty
  FROM enc
), chk AS (
  SELECT c_custkey, qk, tx, ty,
         (lon >= tx * 360.0 / 256 - 180.0
          AND lon < (tx + 1) * 360.0 / 256 - 180.0) AS lon_in,
         (90.0 - lat >= ty * 180.0 / 256
          AND 90.0 - lat < (ty + 1) * 180.0 / 256) AS lat_in
  FROM dec
)
SELECT cast(count(*) as bigint) AS n_points,
       cast(count(CASE WHEN lon_in AND lat_in THEN 1 END) as bigint) AS n_contained,
       cast(count(CASE WHEN NOT (lon_in AND lat_in) THEN 1 END) as bigint)
         AS n_violations,
       (count(CASE WHEN NOT (lon_in AND lat_in) THEN 1 END) = 0) AS roundtrip_ok
FROM chk
""",
)
def quadkey_roundtrip_contract(spark, sf_dir):
    """Quadkey decode-roundtrip contract (the geohash_decode_roundtrip
    symmetry for the tile-key family): parse each level-8 quadkey's
    digits back to integer tile (x, y) by un-interleaving the bits,
    reconstruct the tile's bbox, and assert EVERY encoding point lies
    inside its own decoded tile (clamp-edge points included). This is
    the property that makes quadkeys usable as two-way KEYS rather
    than write-only labels — a digit-order or bit-interleave bug
    passes encode-only tests and fails exactly this. Digit math is
    integer substr/parse, the bbox check pure double compare —
    no trig, no libm. One scan + one census agg."""
    cust = load(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    enc = pts.select(
        "c_custkey", "lat", "lon", C.quadkey_of(F.col("lat"), F.col("lon"), 8).alias("qk")
    )
    tx_sql, ty_sql = _qk_decode_xy("qk", 8)
    dec = enc.select(
        "lat", "lon", F.expr(tx_sql).alias("tx"), F.expr(ty_sql).alias("ty")
    )
    lon_in = (F.col("lon") >= F.col("tx") * 360.0 / 256 - 180.0) & (
        F.col("lon") < (F.col("tx") + 1) * 360.0 / 256 - 180.0
    )
    lat_in = (F.lit(90.0) - F.col("lat") >= F.col("ty") * 180.0 / 256) & (
        F.lit(90.0) - F.col("lat") < (F.col("ty") + 1) * 180.0 / 256
    )
    chk = dec.select(lon_in.alias("lon_in"), lat_in.alias("lat_in"))
    bad = ~(F.col("lon_in") & F.col("lat_in"))
    return chk.agg(
        F.count("*").cast("long").alias("n_points"),
        F.count(F.when(F.col("lon_in") & F.col("lat_in"), 1))
        .cast("long")
        .alias("n_contained"),
        F.count(F.when(bad, 1)).cast("long").alias("n_violations"),
        (F.count(F.when(bad, 1)) == 0).alias("roundtrip_ok"),
    )



@register(
    "cell_freshness_census",
    f"""
WITH bounds AS (
  SELECT cast(max(epoch_us(ts) // 1000000 // 86400) as bigint) AS dmax FROM events
), cells AS (
  SELECT cast(floor((90.0 - {_LAT.format(k='event_id')}) / 10.0) as int) AS gy,
         cast(floor(({_LON.format(k='event_id')} + 180.0) / 10.0) as int) AS gx,
         cast(max(epoch_us(ts) // 1000000 // 86400) as bigint) AS last_d,
         cast(count(*) as bigint) AS n_events
  FROM events GROUP BY gy, gx
), aged AS (
  SELECT c.gy, c.gx, c.n_events, b.dmax - c.last_d AS staleness_d
  FROM cells c CROSS JOIN bounds b
)
SELECT cast(least(staleness_d, 7) as int) AS staleness_bucket_d,
       cast(count(*) as bigint) AS n_cells,
       cast(sum(n_events) as bigint) AS n_events,
       cast(max(staleness_d) as bigint) AS max_staleness_in_bucket
FROM aged GROUP BY staleness_bucket_d ORDER BY staleness_bucket_d
""",
)
def cell_freshness_census(spark, sf_dir):
    """Per-cell data-freshness census: days since each 10° cell last
    saw an event, anchored to the corpus's final day, bucketed (7+
    capped) — the re-visit planning map a crawl or sensor-fleet
    scheduler reads before allocating tomorrow's budget
    (waterfill_crawl_hosts allocates by volume; this axis is AGE —
    a busy cell that went quiet 6 days ago outranks a trickle cell
    seen today; decayed_tile_heat blends the two with a decay
    kernel, this keeps them separable). One cell agg + a 1-row
    corpus-end anchor, exact day arithmetic."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.floor((F.lit(90.0) - C.derived_lat(F.col("event_id"))) / F.lit(10.0))
        .cast("int")
        .alias("gy"),
        F.floor((C.derived_lon(F.col("event_id")) + F.lit(180.0)) / F.lit(10.0))
        .cast("int")
        .alias("gx"),
    ).agg(
        F.max(F.expr("unix_timestamp(ts) div 86400")).cast("long").alias("last_d"),
        F.count("*").cast("long").alias("n_events"),
    )
    bounds = ev.agg(
        F.max(F.expr("unix_timestamp(ts) div 86400")).cast("long").alias("dmax")
    )
    aged = cells.crossJoin(F.broadcast(bounds)).select(
        "n_events", (F.col("dmax") - F.col("last_d")).alias("staleness_d")
    )
    return (
        aged.groupBy(
            F.least(F.col("staleness_d"), F.lit(7)).cast("int").alias("staleness_bucket_d")
        )
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.max("staleness_d").cast("long").alias("max_staleness_in_bucket"),
        )
        .orderBy("staleness_bucket_d")
    )



@register("grid_uniformity_audit", _gua_oracle_sql())
def grid_uniformity_audit(spark, sf_dir):
    """Cross-scheme grid uniformity audit: the same points keyed by
    Maidenhead subsquares, quadkey-8, and a matched-granularity lat/lon grid
    (1.40625° = 360/256, quadkey-8's own cell width) — occupancy
    count, hottest cell, Σc² (the self-join/shuffle cost driver), and
    the straggler skew ratio per scheme. All three are equirect-family
    encodings so their DIFFERENCES isolate pure bucketing artifacts
    (cell aspect and boundary placement), the fair-comparison baseline
    a DGGS bake-off needs before crediting S2/H3's equal-area claims
    (their encoders live in geo/ and are audited by their own
    golden-vector tests; this op covers the three SQL-expressible
    schemes exactly). grid_resolution_sweep swept SIZE within one
    scheme; this sweeps SCHEME at fixed size. One fan-out agg."""
    cust = load(spark, sf_dir, "customer")
    pts = cust.select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    keyed = (
        pts.select(
            F.lit("maidenhead6").alias("scheme"),
            F.expr(_maidenhead_sql("lat", "lon")).alias("cell"),
        )
        .unionByName(
            pts.select(
                F.lit("quadkey8").alias("scheme"),
                C.quadkey_of(F.col("lat"), F.col("lon"), 8).alias("cell"),
            )
        )
        .unionByName(
            pts.select(
                F.lit("latlon1.40625").alias("scheme"),
                (
                    F.floor((F.lit(90.0) - F.col("lat")) / F.lit(1.40625)).cast("int") * 1000
                    + F.floor((F.col("lon") + F.lit(180.0)) / F.lit(1.40625)).cast("int")
                )
                .cast("string")
                .alias("cell"),
            )
        )
    )
    occ = keyed.groupBy("scheme", "cell").agg(F.count("*").cast("long").alias("c"))
    return (
        occ.groupBy("scheme")
        .agg(
            F.count("*").cast("long").alias("n_occupied"),
            F.max("c").cast("long").alias("max_occupancy"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
            F.expr("(max(c) * count(*) * 1000000) div sum(c)").alias("skew_q"),
        )
        .orderBy("scheme")
    )



@register(
    "quantile_method_contract",
    f"""
WITH vals AS (
  SELECT cast(round(cast(o_totalprice as {DEC}) * 100) as bigint) AS v FROM orders
), rk AS (
  SELECT v, row_number() OVER (ORDER BY v) AS r, count(*) OVER () AS n FROM vals
), ds AS (
  SELECT d FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS t(d)
), anchors AS (
  SELECT d.d,
         ((r2.n - 1) * d.d) // 10 + 1 AS lo_rank,
         ((r2.n - 1) * d.d) % 10 AS frac10
  FROM ds d CROSS JOIN (SELECT max(n) AS n FROM rk) r2
), picked AS (
  SELECT a.d, a.frac10,
         max(CASE WHEN rk.r = a.lo_rank THEN rk.v END) AS v_lo,
         max(CASE WHEN rk.r = least(a.lo_rank + 1, (SELECT max(n) FROM rk))
             THEN rk.v END) AS v_hi,
         max(CASE WHEN rk.r = (rk.n * a.d + 9) // 10 THEN rk.v END) AS v_nearest
  FROM anchors a JOIN rk
    ON rk.r IN (a.lo_rank, least(a.lo_rank + 1, (SELECT max(n) FROM rk)),
                (rk.n * a.d + 9) // 10)
  GROUP BY a.d, a.frac10
)
SELECT d AS decile,
       cast(v_nearest as bigint) AS nearest_rank_cents,
       cast(v_lo as bigint) AS lower_cents,
       cast(v_lo * 10 + (v_hi - v_lo) * frac10 as bigint) AS linear_interp_decicents,
       cast(abs(v_nearest - v_lo) as bigint) AS method_gap_cents
FROM picked ORDER BY decile
""",
)
def quantile_method_contract(spark, sf_dir):
    """Quantile METHOD contract — nearest-rank vs lower-order-statistic
    vs linear interpolation (numpy's 'linear', SQL's percentile_cont)
    computed exactly side by side: the interpolated value is the
    exact rational v_lo + (v_hi−v_lo)·frac, emitted in deci-cents so
    no float enters, and method_gap_cents is how far two dashboards
    disagree about 'the same' decile purely from method choice — the
    answer to a recurring incident ('your p90 isn't my p90') that is
    nobody's bug. Anchors use the (n−1)·q convention; the nearest-rank
    column uses ceil(n·q) — both pinned. One global rank + a 9-row
    dim."""
    o = load(spark, sf_dir, "orders")
    vals = o.select(F.round(F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("v"))
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = vals.select(
        "v",
        F.row_number().over(Window.orderBy("v")).alias("r"),
        F.count("*").over(w_all).alias("n"),
    )
    ds = spark.createDataFrame([(d,) for d in range(1, 10)], "d int")
    nmax = rk.agg(F.max("n").alias("n"))
    anchors = ds.crossJoin(F.broadcast(nmax)).select(
        "d",
        F.expr("((n - 1) * d) div 10 + 1").alias("lo_rank"),
        F.expr("((n - 1) * d) % 10").alias("frac10"),
        "n",
    )
    joined = rk.crossJoin(F.broadcast(anchors.withColumnRenamed("n", "n2"))).filter(
        (F.col("r") == F.col("lo_rank"))
        | (F.col("r") == F.least(F.col("lo_rank") + 1, F.col("n2")))
        | (F.col("r") == F.expr("(n * d + 9) div 10"))
    )
    picked = joined.groupBy("d", "frac10").agg(
        F.max(F.when(F.col("r") == F.col("lo_rank"), F.col("v"))).alias("v_lo"),
        F.max(
            F.when(F.col("r") == F.least(F.col("lo_rank") + 1, F.col("n2")), F.col("v"))
        ).alias("v_hi"),
        F.max(F.when(F.col("r") == F.expr("(n * d + 9) div 10"), F.col("v"))).alias(
            "v_nearest"
        ),
    )
    return picked.select(
        F.col("d").alias("decile"),
        F.col("v_nearest").cast("long").alias("nearest_rank_cents"),
        F.col("v_lo").cast("long").alias("lower_cents"),
        (F.col("v_lo") * 10 + (F.col("v_hi") - F.col("v_lo")) * F.col("frac10"))
        .cast("long")
        .alias("linear_interp_decicents"),
        F.abs(F.col("v_nearest") - F.col("v_lo")).cast("long").alias("method_gap_cents"),
    ).orderBy("decile")



def _rle_raster_oracle_sql() -> str:
    """Embed the deterministic raster BANDS (floor(value), integer) as a
    VALUES table — both sides derive from the same pure generator
    (fixtures.raster_tile_pdf), the _zonal_raster_oracle_sql pattern —
    then count scanline runs with a lag window."""
    import math

    from gipspark.sources.fixtures import raster_tile_pdf

    rows = []
    for t in _RASTER_TILES:
        pdf = raster_tile_pdf(t, _RASTER_PX)
        for ix, iy, val in zip(pdf["ix"], pdf["iy"], pdf["value"]):
            rows.append(f"('{t}',{int(ix)},{int(iy)},{math.floor(val)})")
    px_values = "(VALUES " + ",".join(rows) + ") AS t(tile_id, ix, iy, band)"
    return f"""
WITH px AS (SELECT * FROM {px_values}),
runs AS (
  SELECT tile_id,
         CASE WHEN lag(band) OVER w IS NULL OR band != lag(band) OVER w
              THEN 1 ELSE 0 END AS run_start
  FROM px
  WINDOW w AS (PARTITION BY tile_id, iy ORDER BY ix)
)
SELECT tile_id,
       cast(count(*) as bigint) AS n_px,
       cast(sum(run_start) as bigint) AS n_runs,
       cast(2 * sum(run_start) as bigint) AS rle_bytes,
       cast(count(*) as bigint) AS raw_bytes,
       cast(2 * sum(run_start) * 1000000 // count(*) as bigint) AS ratio_micro
FROM runs GROUP BY tile_id ORDER BY tile_id
"""


@register("rle_raster_audit", _rle_raster_oracle_sql())
def rle_raster_audit(spark, sf_dir):
    """Scanline run-length-encoding audit for raster tiles (r5): price
    each tile's banded pixels (band = floor(value), one byte) under
    per-row RLE — runs restart at every scanline, (band, length) pairs
    at 2 bytes per run — against 1-byte-per-pixel raw. The raster twin
    of encoding_advisor_lineitem: smooth fields RLE 3-10×, noisy
    tiles approach 2 bytes/px WORSE than raw, and this census is how a
    tile pipeline decides per-tile between RLE, bit-packing, and raw
    (the GeoTIFF/COG predictor choice). Exact: integer bands, one lag
    window partitioned by (tile, scanline) — run boundaries never cross
    rows, so partitioning is also the correctness contract — and one
    hash agg per tile. Scale shape: narrow over the raster table,
    shuffle on (tile_id, iy) only."""
    from gipspark.sources.fixtures import raster_cells_df

    px = raster_cells_df(spark, _RASTER_TILES, _RASTER_PX).select(
        "tile_id", "ix", "iy", F.floor("value").cast("long").alias("band")
    )
    w = Window.partitionBy("tile_id", "iy").orderBy("ix")
    runs = px.select(
        "tile_id",
        F.when(
            F.lag("band").over(w).isNull() | (F.col("band") != F.lag("band").over(w)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("run_start"),
    )
    return (
        runs.groupBy("tile_id")
        .agg(
            F.count("*").cast("long").alias("n_px"),
            F.sum("run_start").cast("long").alias("n_runs"),
            (2 * F.sum("run_start")).cast("long").alias("rle_bytes"),
            F.count("*").cast("long").alias("raw_bytes"),
            F.expr(
                "cast((2 * sum(run_start) * 1000000) div count(*) as bigint)"
            ).alias("ratio_micro"),
        )
        .orderBy("tile_id")
    )


@register(
    "perimeter_scaling_census",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), base AS (
  SELECT DISTINCT cast(floor((lon + 180.0) / {{g}}) as bigint) AS gx,
                  cast(floor((90.0 - lat) / {{g}}) as bigint) AS gy
  FROM pts
), levels AS (
  SELECT 1 AS lvl, gx, gy FROM base
  UNION
  SELECT 2, gx // 2, gy // 2 FROM base
  UNION
  SELECT 4, gx // 4, gy // 4 FROM base
), nb AS (
  SELECT a.lvl, a.gx, a.gy, count(b.gx) AS n_nbr
  FROM levels a
  LEFT JOIN levels b
    ON b.lvl = a.lvl AND abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1
  GROUP BY a.lvl, a.gx, a.gy
)
SELECT cast(lvl as bigint) AS coarsen,
       cast(count(*) as bigint) AS n_cells,
       cast(sum(4 - n_nbr) as bigint) AS perimeter_edges,
       cast(sum(4 - n_nbr) * 1000000 // count(*) as bigint)
         AS perimeter_per_cell_micro
FROM nb GROUP BY lvl ORDER BY coarsen
""".replace("{g}", str(_SHAPE_GRID)),
)
def perimeter_scaling_census(spark, sf_dir):
    """Coastline-paradox census (r5): the occupied-cell set's exposed
    boundary (4·cells − 2·rook-adjacencies, counted as 4 − #rook
    neighbors per cell) at 1×, 2× and 4× coarsening — how fast
    measured perimeter shrinks as the ruler grows is the discrete
    fractal-dimension probe (Richardson's law), and the perimeter
    twin of pyramid_variance_cells' MAUP area probe: a smooth blob's
    per-cell perimeter drops toward the 4/√n ideal under coarsening
    while a filamentous/speckled occupation stays perimeter-dominated
    — which is exactly what decides whether polygon covers or cell
    lists are the cheaper representation for a region at a given
    zoom (the engine's cover-vs-refine planning question). Exact:
    occupancy is a distinct integer lattice, coarsening is integer
    halving, adjacency a self-equi-join on |Δ|=1. Scale shape: one
    distinct per level off one base lattice + one rook self-join per
    level, all hash-keyed."""
    pts = load(spark, sf_dir, "customer").select(
        C.derived_lat(F.col("c_custkey")).alias("lat"),
        C.derived_lon(F.col("c_custkey")).alias("lon"),
    )
    base = pts.select(
        F.floor((F.col("lon") + 180.0) / _SHAPE_GRID).cast("long").alias("gx"),
        F.floor((90.0 - F.col("lat")) / _SHAPE_GRID).cast("long").alias("gy"),
    ).distinct()
    lvls = None
    for lvl in (1, 2, 4):
        l = base.select(
            F.lit(lvl).alias("lvl"),
            F.expr(f"gx div {lvl}").alias("gx"),
            F.expr(f"gy div {lvl}").alias("gy"),
        ).distinct()
        lvls = l if lvls is None else lvls.unionByName(l)
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        ]
    )
    probes = lvls.select(
        "lvl", "gx", "gy", F.explode(offs).alias("o")
    ).select(
        "lvl",
        "gx",
        "gy",
        (F.col("gx") + F.col("o.dx")).alias("ngx"),
        (F.col("gy") + F.col("o.dy")).alias("ngy"),
    )
    occ = lvls.select(
        F.col("lvl").alias("blvl"), F.col("gx").alias("ngx"), F.col("gy").alias("ngy")
    )
    nb = (
        probes.join(
            occ,
            (F.col("blvl") == F.col("lvl"))
            & (occ["ngx"] == probes["ngx"])
            & (occ["ngy"] == probes["ngy"]),
            "left",
        )
        .groupBy("lvl", "gx", "gy")
        .agg(F.count("blvl").alias("n_nbr"))
    )
    return (
        nb.groupBy("lvl")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum(4 - F.col("n_nbr")).cast("long").alias("perimeter_edges"),
            F.expr(
                "cast((sum(4 - n_nbr) * 1000000) div count(*) as bigint)"
            ).alias("perimeter_per_cell_micro"),
        )
        .select(
            F.col("lvl").cast("long").alias("coarsen"),
            "n_cells",
            "perimeter_edges",
            "perimeter_per_cell_micro",
        )
        .orderBy("coarsen")
    )


def _geohash_neighbors_oracle() -> str:
    from gipspark.functions.geohash import BASE32, QBITS, QMAX, SPREAD_STEPS

    n = 1 << QBITS
    offsets = ",".join(
        f"({dx},{dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    steps = []
    x, y = "xn", "yn"
    for i, (shift, mask) in enumerate(SPREAD_STEPS):
        nx, ny = f"x{i}", f"y{i}"
        steps.append(
            f"g{i} AS (SELECT skey, (({x} | ({x} << {shift})) & {mask}) AS {nx}, "
            f"(({y} | ({y} << {shift})) & {mask}) AS {ny} FROM g{'o' if i == 0 else i - 1})"
        )
        x, y = nx, ny
    chars = " || ".join(
        f"substr('{BASE32}', cast(((z >> {5 * (8 - 1 - j)}) & 31) as int) + 1, 1)"
        for j in range(8)
    )
    return f"""
WITH gq AS (
  SELECT c_custkey AS key,
         cast(greatest(least(floor((({_LON.format(k='c_custkey')}) + 180.0) / 360.0 * {n}), {QMAX}), 0) as bigint) AS xq,
         cast(greatest(least(floor((({_LAT.format(k='c_custkey')}) + 90.0) / 180.0 * {n}), {QMAX}), 0) as bigint) AS yq
  FROM customer WHERE c_custkey < 200
), go AS (
  SELECT key * 100 + (o.dx + 1) * 10 + (o.dy + 1) AS skey,
         (xq + o.dx + {n}) % {n} AS xn, yq + o.dy AS yn
  FROM gq CROSS JOIN (VALUES {offsets}) AS o(dx, dy)
  WHERE yq + o.dy BETWEEN 0 AND {QMAX}
),
{", ".join(steps)},
gz AS (SELECT skey, (({x} << 1) | {y}) AS z FROM g{len(SPREAD_STEPS) - 1})
SELECT cast(skey // 100 as bigint) AS c_custkey,
       cast(skey % 100 // 10 - 1 as bigint) AS dx,
       cast(skey % 10 - 1 as bigint) AS dy,
       {chars} AS neighbor_gh
FROM gz ORDER BY c_custkey, dx, dy
""";


@register("geohash_neighbors_contract", _geohash_neighbors_oracle())
def geohash_neighbors_contract(spark, sf_dir):
    """Geohash neighbor generation contract (r5): the 8-neighborhood of
    every sampled customer cell, produced WITHOUT the textbook base-32
    edge/border lookup tables — decode-free: offset the quantized
    integer grid coordinates directly (longitude wraps modulo 2^20,
    latitude clamps at the poles by dropping the out-of-range row) and
    re-encode through the shared quantize→spread→interleave→base32
    chain. Neighbor-finding is where hand-rolled geohash code
    classically breaks (the odd/even-char asymmetry makes the lookup
    tables error-prone; the z-curve integer form has no such cases),
    and the emitted neighbor STRINGS hash-compare across engines —
    byte parity on the full 9-cell stencil incl. the (0,0) self-check.
    Scale shape: bounded sample × 9 literal offsets, all integer bit
    ops, no joins beyond the offset explode."""
    from gipspark.functions.geohash import BASE32, QMAX, _quantize, _spread

    n_wrap = QMAX + 1
    pts = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(
            "c_custkey",
            _quantize(C.derived_lon(F.col("c_custkey")), -180.0, 360.0 - 180.0).alias("xq"),
            _quantize(C.derived_lat(F.col("c_custkey")), -90.0, 90.0).alias("yq"),
        )
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    e = (
        pts.select("c_custkey", "xq", "yq", F.explode(offs).alias("o"))
        .select(
            "c_custkey",
            F.col("o.dx").cast("long").alias("dx"),
            F.col("o.dy").cast("long").alias("dy"),
            ((F.col("xq") + F.col("o.dx") + n_wrap) % n_wrap).alias("xn"),
            (F.col("yq") + F.col("o.dy")).alias("yn"),
        )
        .filter((F.col("yn") >= 0) & (F.col("yn") <= QMAX))
    )
    z = F.shiftleft(_spread(F.col("xn")), 1).bitwiseOR(_spread(F.col("yn")))
    alphabet = F.array(*[F.lit(c) for c in BASE32])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(z, 5 * (8 - 1 - j)).bitwiseAND(F.lit(31)) + 1).cast("int"),
        )
        for j in range(8)
    ]
    return e.select(
        "c_custkey", "dx", "dy", F.concat(*chars).alias("neighbor_gh")
    ).orderBy("c_custkey", "dx", "dy")


@register(
    "tile_load_gini",
    f"""
WITH pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), cells AS (
  SELECT cast(floor((lon + 180.0) / {{g}}) as bigint) AS gx,
         cast(floor((90.0 - lat) / {{g}}) as bigint) AS gy,
         cast(count(*) as bigint) AS c
  FROM pts GROUP BY gx, gy
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c, gx, gy) AS i,
         count(*) OVER () AS n, sum(c) OVER () AS tot
  FROM cells
)
SELECT cast(max(n) as bigint) AS n_cells,
       cast(max(tot) as bigint) AS n_events,
       cast(sum((2 * i - n - 1) * c) * 1000000 // (max(n) * max(tot)) as bigint)
         AS gini_micro,
       cast(max(c) * 1000000 // max(tot) as bigint) AS top_cell_share_micro
FROM ranked
""".replace("{g}", str(_SHAPE_GRID)),
)
def tile_load_gini(spark, sf_dir):
    """Spatial load-imbalance Gini (r5): inequality of per-cell event
    counts plus the single hottest cell's share — THE planning number
    behind this engine's skew machinery (salted joins, AQE skew
    splits, the megacity-hotspot fixture): Gini near 0 says plain
    hash partitioning on cell id balances fine, a high Gini with a
    fat top-cell share says exactly how much salt the hot cells need
    (skew_salted_join's threshold derives from this census). Exact:
    integer Gini via the sorted-rank identity Σ(2i−n−1)cᵢ / (n·Σc)
    in micro ticks with a (count, gx, gy) total tie-break. Scale
    shape: one hash agg to the bounded cell table + one global rank
    window ON THE CELL TABLE (dim-bounded — cells, not events; the
    repo's global-window contract) + scalar aggregates."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        C.derived_lat(F.col("event_id")).alias("lat"),
        C.derived_lon(F.col("event_id")).alias("lon"),
    )
    cells = pts.groupBy(
        F.floor((F.col("lon") + 180.0) / _SHAPE_GRID).cast("long").alias("gx"),
        F.floor((90.0 - F.col("lat")) / _SHAPE_GRID).cast("long").alias("gy"),
    ).agg(F.count("*").cast("long").alias("c"))
    w = Window.orderBy("c", "gx", "gy")
    wa = Window.partitionBy()
    ranked = cells.select(
        "c",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wa).alias("n"),
        F.sum("c").over(wa).alias("tot"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_cells"),
        F.max("tot").cast("long").alias("n_events"),
        F.expr(
            "cast((sum((2 * i - n - 1) * c) * 1000000) div (max(n) * max(tot)) as bigint)"
        ).alias("gini_micro"),
        F.expr("cast((max(c) * 1000000) div max(tot) as bigint)").alias(
            "top_cell_share_micro"
        ),
    )

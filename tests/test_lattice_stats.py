"""Batch-10 operators: Moran's I, snap-to-edge, IDW — brute-force checks."""

import math
import random

from pyspark.sql import functions as F


def test_morans_i_vs_brute(spark):
    from gipspark.operators.morans import cell_counts, morans_i

    rng = random.Random(5)
    rows = [
        (rng.uniform(-55.0, 55.0), rng.uniform(-170.0, 170.0)) for _ in range(800)
    ]
    pts = spark.createDataFrame(rows, "lat double, lon double")
    out = morans_i(cell_counts(pts, 30.0)).collect()[0]

    # brute force
    counts = {}
    for lat, lon in rows:
        gx = math.floor((lon + 180.0) / 30.0)
        gy = math.floor((90.0 - lat) / 30.0)
        counts[(gx, gy)] = counts.get((gx, gy), 0) + 1
    n = len(counts)
    s = sum(counts.values())
    dev = {k: n * v - s for k, v in counts.items()}
    num = 0
    w = 0
    for (gx, gy), di in dev.items():
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            dj = dev.get((gx + dx, gy + dy))
            if dj is not None:
                num += di * dj
                w += 1
    den = sum(d * d for d in dev.values())
    assert (out.n_cells, out.w_links, out.num, out.den) == (n, w, num, den)
    assert out.morans_i == (n / w) * (num / den)

    # sanity vs the textbook float formula (same value, scaled)
    xbar = s / n
    fnum = sum(
        (counts[(gx, gy)] - xbar) * (counts[(gx + dx, gy + dy)] - xbar)
        for (gx, gy) in counts
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        if (gx + dx, gy + dy) in counts
    )
    fden = sum((v - xbar) ** 2 for v in counts.values())
    assert abs(out.morans_i - (n / w) * (fnum / fden)) < 1e-9


def test_morans_i_checkerboard_negative(spark):
    # perfect alternation → strong negative autocorrelation
    from gipspark.operators.morans import morans_i

    cells = [
        (gx, gy, 10 if (gx + gy) % 2 == 0 else 1) for gx in range(6) for gy in range(6)
    ]
    df = spark.createDataFrame(cells, "gx int, gy int, x long")
    out = morans_i(df).collect()[0]
    assert out.morans_i < -0.9


def test_snap_to_edge_vs_brute(spark):
    from gipspark.operators.distance import snap_to_edge, _polygon_edges
    from gipspark.queries import ORACLE_POLYGONS

    rng = random.Random(9)
    rows = [
        (i, rng.uniform(-60.0, 60.0), rng.uniform(-180.0, 180.0)) for i in range(300)
    ]
    pts = spark.createDataFrame(rows, "pid long, lat double, lon double")
    got = {
        r.pid: (r.nearest_poly, r.edge_idx, r.snap_lon, r.snap_lat)
        for r in snap_to_edge(pts, ORACLE_POLYGONS).collect()
    }

    edges = _polygon_edges(ORACLE_POLYGONS)
    for pid, lat, lon in rows:
        best = None
        for pl, idx, x1, y1, x2, y2 in edges:
            dx, dy = x2 - x1, y2 - y1
            t = max(0.0, min(1.0, ((lon - x1) * dx + (lat - y1) * dy) / (dx * dx + dy * dy)))
            cx, cy = x1 + t * dx, y1 + t * dy
            ticks = round(((lon - cx) ** 2 + (lat - cy) ** 2) * 1e6)
            key = (ticks, pl, idx)
            if best is None or key < best[0]:
                best = (key, cx, cy)
        (ticks, pl, idx), cx, cy = best
        gpl, gidx, gx, gy = got[pid]
        assert (gpl, gidx) == (pl, idx)
        assert abs(gx - cx) < 1e-9 and abs(gy - cy) < 1e-9


def test_snap_point_lies_on_edge(spark):
    from gipspark.operators.distance import snap_to_edge

    sq = [{"poly_id": 0, "rings": [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]]}]
    pts = spark.createDataFrame(
        [(1, -5.0, 5.0), (2, 5.0, 20.0), (3, 5.0, 5.0)], "pid long, lat double, lon double"
    )
    out = {r.pid: r for r in snap_to_edge(pts, sq).collect()}
    # left of the square at lat -5 → clamps to corner (0,0)
    assert (out[1].snap_lon, out[1].snap_lat) == (5.0, 0.0)
    # right of the square → projects onto x=10 edge at lat 5
    assert (out[2].snap_lon, out[2].snap_lat) == (10.0, 5.0)
    # interior point still snaps to the nearest boundary (lon 5, lat 5 → bottom or left at distance 5)
    assert out[3].d2_ticks == 25_000_000


def test_idw_weights_positive_and_bounded(spark, sf_dir):
    from gipspark.queries import REGISTRY

    fn, _ = REGISTRY["idw_interpolate_probes"]
    rows = fn(spark, sf_dir).collect()
    assert rows, "no probes matched any points"
    for r in rows:
        assert r.n_pts > 0 and r.sum_w > 0
        # IDW output must lie inside the value range of the inputs
        assert -1000.0 < r.idw_value < 11000.0


def test_raster_algebra_pixel_alignment(spark):
    from gipspark.queries import REGISTRY, _RASTER_PX, _RASTER_TILES

    fn, _ = REGISTRY["raster_algebra_zones"]
    rows = fn(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == len(_RASTER_TILES)
    for r in rows:
        assert r.n_px == _RASTER_PX * _RASTER_PX


def test_morton_key_matches_python_interleave(spark):
    from gipspark.operators.zorder import morton_key

    import random

    rng = random.Random(31)
    rows = [(rng.randrange(0, 1 << 16), rng.randrange(0, 1 << 16)) for _ in range(500)]
    rows += [(0, 0), (65535, 65535), (1, 0), (0, 1)]
    df = spark.createDataFrame(rows, "gx long, gy long")
    got = {(r.gx, r.gy): r.z for r in df.select("gx", "gy", morton_key(F.col("gx"), F.col("gy")).alias("z")).collect()}

    def interleave(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for (gx, gy), z in got.items():
        assert z == interleave(gx, gy)


def test_morton_locality(spark):
    # neighboring cells in a 2^k-aligned block share the zkey prefix:
    # all 16 cells of an aligned 4x4 block land in one 256-key range
    from gipspark.operators.zorder import morton_key

    base_x, base_y = 128, 256  # 4-aligned
    rows = [(base_x + i, base_y + j) for i in range(4) for j in range(4)]
    df = spark.createDataFrame(rows, "gx long, gy long")
    zs = [r.z for r in df.select(morton_key(F.col("gx"), F.col("gy")).alias("z")).collect()]
    assert max(zs) - min(zs) < 16 and len(set(z >> 4 for z in zs)) == 1


def test_skyline_window_formulation_vs_brute(spark):
    # the window-only skyline must equal the O(n²) dominance definition
    import random

    rng = random.Random(17)
    rows = [
        (g, i, rng.randrange(0, 50) * 100, rng.randrange(0, 12))
        for g in range(3)
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "nation int, c_custkey long, spend_cents long, n_orders long")

    from pyspark.sql.window import Window

    w_gt = (
        Window.partitionBy("nation")
        .orderBy(F.col("spend_cents").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("nation", "spend_cents")
    flagged = df.select(
        "nation", "c_custkey", "spend_cents", "n_orders",
        F.max("n_orders").over(w_gt).alias("m_gt"),
        F.max("n_orders").over(w_eq).alias("m_eq"),
    )
    got = {
        (r.nation, r.c_custkey)
        for r in flagged.filter(
            (F.col("m_gt").isNull() | (F.col("m_gt") < F.col("n_orders")))
            & (F.col("m_eq") == F.col("n_orders"))
        ).collect()
    }

    want = set()
    for g, i, sp, n in rows:
        dominated = any(
            g2 == g and ((sp2 > sp and n2 >= n) or (sp2 == sp and n2 > n))
            for g2, _, sp2, n2 in rows
        )
        if not dominated:
            want.add((g, i))
    assert got == want and len(got) > 0


def test_gearys_c_vs_brute(spark):
    from gipspark.operators.morans import cell_counts, gearys_c

    rng = random.Random(23)
    rows = [(rng.uniform(-55.0, 55.0), rng.uniform(-170.0, 170.0)) for _ in range(600)]
    pts = spark.createDataFrame(rows, "lat double, lon double")
    out = gearys_c(cell_counts(pts, 30.0)).collect()[0]

    counts = {}
    for lat, lon in rows:
        gx = math.floor((lon + 180.0) / 30.0)
        gy = math.floor((90.0 - lat) / 30.0)
        counts[(gx, gy)] = counts.get((gx, gy), 0) + 1
    n = len(counts)
    s = sum(counts.values())
    dev = {k: n * v - s for k, v in counts.items()}
    num = w = 0
    for (gx, gy), di in dev.items():
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            dj = dev.get((gx + dx, gy + dy))
            if dj is not None:
                num += (di - dj) ** 2
                w += 1
    den = sum(d * d for d in dev.values())
    assert (out.n_cells, out.w_links, out.num, out.den) == (n, w, num, den)
    # textbook float formula agrees (n² cancels between num and den)
    xbar = s / n
    fnum = sum(
        (counts[a] - counts[(a[0] + dx, a[1] + dy)]) ** 2
        for a in counts
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        if (a[0] + dx, a[1] + dy) in counts
    )
    fden = sum((v - xbar) ** 2 for v in counts.values())
    want = ((n - 1) / w) * (fnum / fden) / 2.0
    assert abs(out.gearys_c - want) < 1e-9


def test_local_moran_sums_to_global_numerator(spark):
    from gipspark.operators.morans import cell_counts, local_moran, morans_i

    rng = random.Random(29)
    rows = [(rng.uniform(-55.0, 55.0), rng.uniform(-170.0, 170.0)) for _ in range(600)]
    pts = spark.createDataFrame(rows, "lat double, lon double")
    cells = cell_counts(pts, 30.0).cache()
    li = local_moran(cells).collect()
    glob = morans_i(cells).collect()[0]
    cells.unpersist()
    assert sum(r.li_num for r in li) == glob.num


def test_validity_bowtie_flagged(spark):
    from gipspark.queries import REGISTRY

    rows = {r.poly_id: r for r in REGISTRY["polygon_validity_report"][0](spark, "/root/testdata/sf0.001").collect()}
    assert not rows[900].is_simple and rows[900].n_improper == 1
    assert all(rows[p].is_simple for p in rows if p != 900)


def test_weighted_median_window_vs_brute(spark):
    import random

    rng = random.Random(37)
    rows = [(g, rng.randrange(1, 500) * 10, rng.randrange(1, 9)) for g in ("a", "b") for _ in range(200)]
    df = spark.createDataFrame(rows, "flag string, cents long, w long")

    from pyspark.sql.window import Window

    w_cum = Window.partitionBy("flag").orderBy("cents", "w").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy("flag")
    cum = df.select("flag", "cents", F.sum("w").over(w_cum).alias("cw"), F.sum("w").over(w_all).alias("tw"))
    got = {
        r.flag: r.m
        for r in cum.filter(2 * F.col("cw") >= F.col("tw")).groupBy("flag").agg(F.min("cents").alias("m")).collect()
    }

    for g in ("a", "b"):
        items = sorted((c, w) for gg, c, w in rows if gg == g)
        tw = sum(w for _, w in items)
        acc = 0
        for c, w in items:
            acc += w
            if 2 * acc >= tw:
                assert got[g] == c
                break


def test_ripleys_k_vs_brute(spark):
    # the 3x3 cell-offset prefilter must find EXACTLY the brute-force
    # pair counts at every radius, including pairs that straddle cell
    # boundaries and coincident points (excluded by d2 > 0)
    import random

    from gipspark.operators.morans import ripleys_k

    rng = random.Random(11)
    pts = [(i, rng.randrange(-6000, 6000), rng.randrange(-18000, 18000)) for i in range(400)]
    pts += [(400 + i, pts[i][1], pts[i][2]) for i in range(10)]  # coincident duplicates
    df = spark.createDataFrame(pts, "id long, la long, lo long")
    radii = [500, 1500, 4000]
    area = 12000.0 * 36000.0

    out = {r.r_mdeg: (r.n_pairs, r.k_hat) for r in ripleys_k(df, radii, area).collect()}

    n = len(pts)
    for r in radii:
        brute = sum(
            1
            for i in range(n)
            for j in range(i + 1, n)
            if 0 < (pts[i][1] - pts[j][1]) ** 2 + (pts[i][2] - pts[j][2]) ** 2 <= r * r
        )
        assert out[r][0] == brute, f"r={r}: {out[r][0]} != brute {brute}"
        assert out[r][1] == area * 2.0 * brute / (n * n)


def test_hilbert_key_matches_reference_loop(spark):
    # exhaustive 32x32 grid at bits=5: Spark chain == xy2d loop,
    # bijective onto [0, 1024), and true Hilbert locality (consecutive
    # keys are edge-adjacent cells — the property Morton lacks)
    from gipspark.operators.hilbert import hilbert_key_df, hilbert_ref

    n = 32
    df = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "gx int, gy int"
    )
    got = {(r.gx, r.gy): r.hkey for r in hilbert_key_df(df, bits=5).collect()}
    assert len(got) == n * n
    inv = {}
    for (x, y), d in got.items():
        assert d == hilbert_ref(x, y, 5), (x, y)
        inv[d] = (x, y)
    assert sorted(inv) == list(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_plan_is_linear_chain(spark):
    # the state-machine fold must NOT collapse back into one
    # exponential expression: the formatted plan for bits=16 stays
    # small (a 2^16-node tree would be megabytes) and stays codegen
    from gipspark.operators.hilbert import hilbert_key_df

    df = spark.range(4).selectExpr("cast(id as int) gx", "cast(id * 3 as int) gy")
    out = hilbert_key_df(df, bits=16)
    plan = spark._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert len(plan) < 200_000, f"plan exploded: {len(plan)} chars"
    assert "BatchEvalPython" not in plan


def test_knox_test_vs_brute(spark):
    # both blocked joins (3x3 spatial cells, 3-offset time buckets)
    # must reproduce the literal all-pairs counts exactly, including
    # pairs straddling cell and bucket boundaries
    import random

    from gipspark.operators.morans import knox_test

    rng = random.Random(31)
    pts = [
        (i, rng.randrange(-8000, 8000), rng.randrange(-8000, 8000), rng.randrange(0, 40 * 86400))
        for i in range(250)
    ]
    s_crit, t_crit = 1500, 5 * 86400
    df = spark.createDataFrame(pts, "id long, la long, lo long, t long")
    row = knox_test(df, s_crit, t_crit).collect()[0]

    n = len(pts)
    ns = nt = x = 0
    for i in range(n):
        for j in range(i + 1, n):
            d2 = (pts[i][1] - pts[j][1]) ** 2 + (pts[i][2] - pts[j][2]) ** 2
            dt = abs(pts[i][3] - pts[j][3])
            sp, tm = d2 <= s_crit * s_crit, dt <= t_crit
            ns += sp
            nt += tm
            x += sp and tm
    assert (row.n, row.n_pairs) == (n, n * (n - 1) // 2)
    assert (row.n_space, row.n_time, row.x_st) == (ns, nt, x)
    assert ns > 0 and nt > 0 and x > 0, "fixture must exercise all counts"
    assert row.knox_ratio == x / (ns * nt / (n * (n - 1) / 2))


def test_theil_sen_vs_brute(spark):
    # exact lower-median of pairwise slopes, with slope ties (parallel
    # segments at different magnitudes) exercising the tie-break chain
    import random

    from gipspark.operators.morans import theil_sen

    rng = random.Random(41)
    rows = []
    series = {}
    for g in range(6):
        days = sorted(rng.sample(range(40), rng.randrange(2, 12)))
        vals = [rng.randrange(0, 20) for _ in days]
        series[g] = list(zip(days, vals))
        rows += [(g, d, v) for d, v in series[g]]
    df = spark.createDataFrame(rows, "g int, t long, x long")
    got = {r.g: (r.n_pairs, r.sen_slope) for r in theil_sen(df, ["g"]).collect()}

    for g, sv in series.items():
        slopes = []
        for i in range(len(sv)):
            for j in range(i + 1, len(sv)):
                dv, dt = sv[j][1] - sv[i][1], sv[j][0] - sv[i][0]
                slopes.append((dv / dt, dv, dt, sv[i][0]))
        slopes.sort()
        want = slopes[(len(slopes) + 1) // 2 - 1][0]
        assert got[g] == (len(slopes), want), g

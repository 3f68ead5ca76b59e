"""Shared helpers that were interleaved between register blocks
in the original single-file registry — original order preserved
(it carries definition dependencies)."""

from __future__ import annotations

from gipspark.queries._base import (  # noqa: F401
    C,
    Callable,
    D,
    DEC,
    DataFrame,
    F,
    HAVERSINE_SQL,
    ORACLE_POLYGONS,
    REGISTRY,
    SparkSession,
    T,
    Window,
    _LAT,
    _LON,
    _edges_values_sql,
    _ngon,
    _pip_matches_sql,
    _poly_edges_values_sql,
    geohash_sql,
    load,
    math,
)



# BPE-ish tokenizer pattern: contraction suffixes, letter runs, single
# digits, punctuation runs. Deliberately lookaround-free so Java regex
# (Spark) and RE2 (DuckDB) agree token-for-token.
BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]|[^\sA-Za-z0-9]+"



_GEOHASH_ORACLE = f"""
WITH ghx AS ({geohash_sql(
    lat_expr='lat', lon_expr='lon', key_expr='c_custkey',
    table_sql=f"SELECT c_custkey, {C.DERIVED_LAT_SQL.format(k='c_custkey')} AS lat, "
    f"{C.DERIVED_LON_SQL.format(k='c_custkey')} AS lon FROM customer",
    precision=8,
)})
SELECT key AS c_custkey, gh AS gh8, substr(gh, 1, 4) AS gh4 FROM ghx
"""



def _minhash_sig_sql(
    n_hashes: int,
    shingle_n: int,
    prefix: str = "",
    where: str = "",
    text_expr: str = "text",
    with_kw: bool = True,
    hash_offset: int = 0,
) -> str:
    """CTE chain ending in {prefix}sig(doc_id, h0..h{n-1}); prefix/where/
    text_expr parameterize it so one oracle can carry several corpora
    (incremental dedup: old vs new snapshot); hash_offset selects an
    independent slice of the hash family (capture_recapture_dups)."""
    sh = D.shingles_sql(text_expr, shingle_n)
    m = D._MASK30
    base_hash = "(" + D.MD5_LONG_SQL.format(x="s") + f") & {m}"
    mins = ",".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) & {m})) AS h{i}"
        for i, (a, b) in ((j, D._mix_consts(hash_offset + j)) for j in range(n_hashes))
    )
    p = prefix
    return (
        f"{'WITH ' if with_kw else ''}{p}base AS (SELECT doc_id, {sh} AS sh FROM documents{where}), "
        f"{p}hashed AS (SELECT doc_id, list_transform(sh, s -> {base_hash}) AS hs FROM {p}base), "
        f"{p}sig AS (SELECT doc_id, {mins} FROM {p}hashed)"
    )



# --- embeddings ------------------------------------------------------------

def _cos_sql(k: int = 5) -> str:
    return f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
d AS (
  SELECT q.q_id, e.vec_id,
    list_reduce(list_transform(generate_series(1, len(q.q_vec)), i -> q.q_vec[i]::double * e.embedding[i]::double), (acc, x) -> acc + x)
    / (sqrt(list_reduce(list_transform(generate_series(1, len(q.q_vec)), i -> q.q_vec[i]::double * q.q_vec[i]::double), (acc, x) -> acc + x))
     * sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)), i -> e.embedding[i]::double * e.embedding[i]::double), (acc, x) -> acc + x))) AS sim
  FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.q_id),
r AS (SELECT q_id, vec_id, sim,
             cast(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) as int) AS rank
      FROM d)
SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= {k}
"""


_COS_SQL = _cos_sql(5)



_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), i -> ({a})[i]::double * ({b})[i]::double), (acc, x) -> acc + x)"
)



_ANN_FLOOR_PCT = 70


_ANN_RECALL_SQL = f"""
WITH b3 AS (
  SELECT cast(count(distinct q_id) as bigint) AS n_queries,
         cast(count(*) as bigint) AS brute_pairs
  FROM ({_cos_sql(3)})
), b5 AS (
  SELECT cast(count(distinct q_id) as bigint) AS n_queries,
         cast(count(*) as bigint) AS brute_pairs
  FROM ({_cos_sql(5)})
)
SELECT m.method, k.k,
       CASE WHEN k.k = 3 THEN (SELECT n_queries FROM b3)
            ELSE (SELECT n_queries FROM b5) END AS n_queries,
       CASE WHEN k.k = 3 THEN (SELECT brute_pairs FROM b3)
            ELSE (SELECT brute_pairs FROM b5) END AS brute_pairs,
       cast({_ANN_FLOOR_PCT} as bigint) AS floor_pct,
       TRUE AS floor_met
FROM (VALUES ('ivf'), ('ivfpq'), ('lsh'), ('pq')) AS m(method)
CROSS JOIN (VALUES (cast(3 as bigint)), (cast(5 as bigint))) AS k(k)
ORDER BY method, k
"""



def _simhash_oracle_sql(bits: int = 32, shingle_n: int = 1) -> str:
    """Textual DuckDB mirror of dedup.simhash64: md5-derived shingle
    hashes, per-bit ±1 votes, sign bits packed little-endian."""
    sh = D.shingles_sql("text", shingle_n)
    h = D.MD5_LONG_SQL.format(x="s")
    terms = []
    for b in range(bits):
        vote = (
            f"list_sum(list_transform(hs, h -> "
            f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {2 ** b} ELSE 0 END)")
    sig = "\n     + ".join(terms)
    return f"""
WITH base AS (SELECT doc_id, {sh} AS sh FROM documents WHERE doc_id < 100),
hashed AS (SELECT doc_id, list_transform(sh, s -> ({h})) AS hs FROM base)
SELECT doc_id, cast({sig} AS BIGINT) AS sig FROM hashed
"""



_RASTER_TILES = ["h36v08", "h37v08", "h36v09"]  # megacity neighborhood

_RASTER_PX = 32



def _zonal_raster_oracle_sql() -> str:
    """Bake the deterministic raster pixels and fixture-polygon edges as
    VALUES tables (both sides derive from the same pure generators —
    fixtures.raster_tile_pdf / fixtures.polygons — so the doubles are
    bit-identical), then run the house even-odd ray-cast rule + stats.
    This verifies the Spark zonal operator (per-row x-runs joined on
    lat + agg) against a per-pixel SQL PIP."""
    from gipspark.sources.fixtures import polygons as fixture_polygons
    from gipspark.sources.fixtures import raster_tile_pdf

    rows = []
    pid = 0
    for t in _RASTER_TILES:
        pdf = raster_tile_pdf(t, _RASTER_PX)
        for lat, lon, val in zip(pdf["lat"], pdf["lon"], pdf["value"]):
            # ::DOUBLE keeps DuckDB from binding the literals as
            # DECIMAL (sum overflow + wrong type tags)
            rows.append(f"({pid},{lat!r}::DOUBLE,{lon!r}::DOUBLE,{val!r}::DOUBLE)")
            pid += 1
    px_values = "(VALUES " + ",".join(rows) + ") AS t(pid, lat, lon, value)"
    edges = _poly_edges_values_sql(fixture_polygons(10))
    return f"""
WITH px AS (SELECT * FROM {px_values}),
m AS (
  SELECT p.pid, e.poly_id
  FROM px p CROSS JOIN {edges}
  WHERE ((e.y1 > p.lat) != (e.y2 > p.lat))
    AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
  GROUP BY p.pid, e.poly_id
  HAVING count(*) % 2 = 1)
SELECT m.poly_id, count(*) AS px_count,
       round(min(p.value), 6) AS v_min, round(max(p.value), 6) AS v_max,
       round(avg(p.value), 6) AS v_avg, round(sum(p.value), 6) AS v_sum
FROM m JOIN px p ON p.pid = m.pid
GROUP BY m.poly_id
"""



def _neardup_ver_sql() -> str:
    """CTE chain ending in ver(id_a, id_b) — the verified near-dup pair
    set (textual mirror of _verified_neardup_pairs); shared by the
    near_dedup_decision and near_dedup_clusters oracles."""
    return (
        _minhash_sig_sql(8, 2)
        + """,
banded AS (
  SELECT doc_id, b.band, b.bucket FROM sig, LATERAL (
    SELECT * FROM (VALUES
      (0, """
        + D.MD5_LONG_SQL.format(x="cast(h0 as varchar) || ',' || cast(h1 as varchar)")
        + """),
      (1, """
        + D.MD5_LONG_SQL.format(x="cast(h2 as varchar) || ',' || cast(h3 as varchar)")
        + """),
      (2, """
        + D.MD5_LONG_SQL.format(x="cast(h4 as varchar) || ',' || cast(h5 as varchar)")
        + """),
      (3, """
        + D.MD5_LONG_SQL.format(x="cast(h6 as varchar) || ',' || cast(h7 as varchar)")
        + """)) AS t(band, bucket)) b),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b
  FROM banded a JOIN banded bb
    ON a.band = bb.band AND a.bucket = bb.bucket AND a.doc_id < bb.doc_id),
sz AS (SELECT doc_id, sh, len(sh) AS sz FROM base),
ver AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sz a ON a.doc_id = c.id_a JOIN sz b ON b.doc_id = c.id_b
  WHERE 2 * len(list_intersect(a.sh, b.sh)) >= a.sz + b.sz - len(list_intersect(a.sh, b.sh)))"""
    )



def _verified_neardup_pairs(spark, sf_dir):
    """Shared by near_dedup_decision (one-hop, oracle) and
    near_dedup_clusters (transitive, iterative)."""
    docs = load(spark, sf_dir, "documents")
    cand = D.minhash_lsh_pairs(docs, n_hashes=8, bands=4, shingle_n=2).select("id_a", "id_b")
    sh = docs.select(
        F.col("doc_id").alias("sid"), D.shingles(F.col("text"), 2).alias("sh")
    ).withColumn("sz", F.size("sh"))
    p = (
        cand.join(
            sh.select(
                F.col("sid").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a")
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("sid").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")
            ),
            "id_b",
        )
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
    )
    return p.filter(2 * F.col("common") >= F.col("sz_a") + F.col("sz_b") - F.col("common"))



def _banded_sql(prefix: str, n_hashes: int, bands: int) -> str:
    """{prefix}banded(doc_id, band, bucket) from {prefix}sig — DuckDB
    mirror of operators/dedup.minhash_index's band buckets."""
    rows = n_hashes // bands
    vals = ",\n      ".join(
        f"({b}, "
        + D.MD5_LONG_SQL.format(
            x=" || ',' || ".join(f"cast(h{b * rows + r} as varchar)" for r in range(rows))
        )
        + ")"
        for b in range(bands)
    )
    return (
        f"{prefix}banded AS (\n  SELECT doc_id, b.band, b.bucket FROM {prefix}sig, LATERAL (\n"
        f"    SELECT * FROM (VALUES\n      {vals}) AS t(band, bucket)) b)"
    )



_OLD_SNAP_WHERE = (
    " WHERE " + D.MD5_LONG_SQL.format(x="concat('a:', cast(doc_id as varchar))") + " % 100 < 90"
)

_NEW_SNAP_WHERE = (
    " WHERE "
    + D.MD5_LONG_SQL.format(x="concat('b:', cast(doc_id as varchar))")
    + " % 100 < 90 AND NOT ("
    + D.MD5_LONG_SQL.format(x="concat('a:', cast(doc_id as varchar))")
    + " % 100 < 90)"
)

_NEW_SNAP_TEXT = (
    "CASE WHEN "
    + D.MD5_LONG_SQL.format(x="concat('c:', cast(doc_id as varchar))")
    + " % 100 < 20 THEN concat(text, ' updated') ELSE text END"
)



_COMPACT_CELL_SQL_DUCK = (
    "(((1::BIGINT << 59) | (4::BIGINT << 52)"
    " | ((((cast(c_custkey as bigint) // 2401) % 20)) << 45)"
    " | ((((cast(c_custkey as bigint) // 343) % 7)) << 42)"
    " | ((((cast(c_custkey as bigint) // 49) % 7)) << 39)"
    " | ((((cast(c_custkey as bigint) // 7) % 7)) << 36)"
    " | (((cast(c_custkey as bigint) % 7)) << 33)"
    " | 8589934591))"
)

_COMPACT_CELL_SQL_SPARK = (
    "shiftleft(1L, 59) | shiftleft(4L, 52)"
    " | shiftleft((cast(c_custkey as bigint) div 2401) % 20, 45)"
    " | shiftleft((cast(c_custkey as bigint) div 343) % 7, 42)"
    " | shiftleft((cast(c_custkey as bigint) div 49) % 7, 39)"
    " | shiftleft((cast(c_custkey as bigint) div 7) % 7, 36)"
    " | shiftleft(cast(c_custkey as bigint) % 7, 33)"
    " | 8589934591L"
)



def _compact_oracle_sql(res: int = 4) -> str:
    """Unrolled DuckDB replay of operators/compact.compact_cells: the
    round count is bounded by ``res``, so the iterative promotion loop
    becomes a fixed CTE chain — parent via the same signed bit
    constants, full-sibling detection via GROUP BY HAVING count = 7."""
    from gipspark.operators.compact import _RES_MASK_CLEAR

    parts = [f"cells AS (SELECT DISTINCT {_COMPACT_CELL_SQL_DUCK} AS cell FROM customer)"]
    cur = "cells"
    kept = []
    for r in range(res, 0, -1):
        shift = 3 * (15 - r)
        parent = f"((cell & ({_RES_MASK_CLEAR})) | ({(r - 1) << 52}) | ({7 << shift}))"
        parts.append(f"r{r} AS (SELECT cell, {parent} AS p FROM {cur})")
        parts.append(f"f{r} AS (SELECT p FROM r{r} GROUP BY p HAVING count(*) = 7)")
        parts.append(f"k{r} AS (SELECT cell FROM r{r} WHERE p NOT IN (SELECT p FROM f{r}))")
        parts.append(f"c{r - 1} AS (SELECT p AS cell FROM f{r})")
        kept.append(f"SELECT cell FROM k{r}")
        cur = f"c{r - 1}"
    kept.append(f"SELECT cell FROM {cur}")
    union = " UNION ALL ".join(kept)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
final AS ({union})
SELECT cast((cell >> 52) & 15 AS BIGINT) AS res, count(*) AS n_cells,
       TRUE AS roundtrip_ok
FROM final GROUP BY res
"""
    )



def _overlay_sets() -> tuple[list[dict], list[dict]]:
    """A = seeded fixture polygons; B = the same shapes shifted by
    (+0.08°, +0.05°) — every pair (a_i, b_i) overlaps partially (edge
    crossings) and the megacity cluster adds cross-id containment and
    crossing pairs. Deterministic, derivable at oracle-build time."""
    from gipspark.sources.fixtures import polygons

    a = polygons(15)
    b = [
        {
            "poly_id": p["poly_id"],
            "rings": [[[x + 0.08, y + 0.05] for x, y in ring] for ring in p["rings"]],
        }
        for p in a
    ]
    return a, b



def _overlay_values(polys: list[dict], edge_alias: str) -> tuple[str, str]:
    """(edges_values, vertex_values) SQL fragments with ::DOUBLE casts
    (the orientation products would otherwise multiply DECIMALs and
    overflow, as the raster oracle did)."""
    from gipspark.operators.distance import _polygon_edges

    erows = [
        f"({pid},{x1!r}::DOUBLE,{y1!r}::DOUBLE,{x2!r}::DOUBLE,{y2!r}::DOUBLE)"
        for pid, _, x1, y1, x2, y2 in _polygon_edges(polys)
    ]
    vrows = [
        f"({p['poly_id']},{p['rings'][0][0][0]!r}::DOUBLE,{p['rings'][0][0][1]!r}::DOUBLE)"
        for p in polys
    ]
    edges = (
        "(VALUES "
        + ",".join(erows)
        + f") AS {edge_alias}(poly_id, x1, y1, x2, y2)"
    )
    verts = "(VALUES " + ",".join(vrows) + ") AS v(poly_id, vx, vy)"
    return edges, verts



def _overlay_oracle_sql() -> str:
    """Prefilter-free replay of operators/overlay.overlay_join: all
    |A|×|B| pairs scored with the textually-identical strict
    orientation-cross + even-odd containment predicates — independently
    checks that the cover prefilter dropped no true pair."""
    a, b = _overlay_sets()
    ea_vals, va_vals = _overlay_values(a, "e")
    eb_vals, vb_vals = _overlay_values(b, "e")
    return f"""
WITH ea AS (SELECT * FROM {ea_vals}),
eb AS (SELECT * FROM {eb_vals}),
va AS (SELECT * FROM {va_vals}),
vb AS (SELECT * FROM {vb_vals}),
pairs AS (SELECT a.poly_id AS a_id, b.poly_id AS b_id
          FROM (SELECT DISTINCT poly_id FROM ea) a
          CROSS JOIN (SELECT DISTINCT poly_id FROM eb) b),
crossx AS (
  SELECT DISTINCT a.poly_id AS a_id, b.poly_id AS b_id
  FROM ea a JOIN eb b ON
    (((b.x2-b.x1)*(a.y1-b.y1) - (b.y2-b.y1)*(a.x1-b.x1))
     * ((b.x2-b.x1)*(a.y2-b.y1) - (b.y2-b.y1)*(a.x2-b.x1)) < 0)
    AND (((a.x2-a.x1)*(b.y1-a.y1) - (a.y2-a.y1)*(b.x1-a.x1))
     * ((a.x2-a.x1)*(b.y2-a.y1) - (a.y2-a.y1)*(b.x2-a.x1)) < 0)),
ain AS (
  SELECT v.poly_id AS a_id, e.poly_id AS b_id FROM va v CROSS JOIN eb e
  WHERE ((e.y1 > v.vy) != (e.y2 > v.vy))
    AND (v.vx < (e.x2 - e.x1) * (v.vy - e.y1) / (e.y2 - e.y1) + e.x1)
  GROUP BY 1, 2 HAVING count(*) % 2 = 1),
binb AS (
  SELECT e.poly_id AS a_id, v.poly_id AS b_id FROM vb v CROSS JOIN ea e
  WHERE ((e.y1 > v.vy) != (e.y2 > v.vy))
    AND (v.vx < (e.x2 - e.x1) * (v.vy - e.y1) / (e.y2 - e.y1) + e.x1)
  GROUP BY 1, 2 HAVING count(*) % 2 = 1)
SELECT p.a_id, p.b_id,
       (c.a_id IS NOT NULL) AS edge_cross,
       (ai.a_id IS NOT NULL) AS a_in_b,
       (bi.a_id IS NOT NULL) AS b_in_a
FROM pairs p
LEFT JOIN crossx c ON c.a_id = p.a_id AND c.b_id = p.b_id
LEFT JOIN ain ai ON ai.a_id = p.a_id AND ai.b_id = p.b_id
LEFT JOIN binb bi ON bi.a_id = p.a_id AND bi.b_id = p.b_id
WHERE (c.a_id IS NOT NULL) OR (ai.a_id IS NOT NULL) OR (bi.a_id IS NOT NULL)
"""



# --- training-data curation / mixing surface --------------------------------

# Frozen per-language mixing rates in basis points (out of 10 000): the
# data-mixing op a training pipeline runs to rebalance a web crawl.
# Membership is decided by a deterministic md5-derived bucket — never
# rand() — so the sample is reproducible across engines, partitionings,
# task retries, and reruns (same property the near-dup keep-min-id
# decision relies on).
MIX_RATES_BP: dict[str, int] = {"en": 5000, "de": 8000, "fr": 3000, "es": 6000, "zh": 10000}

_MIX_DEFAULT_BP = 2500



def _mix_case_sql() -> str:
    whens = " ".join(f"WHEN '{lang}' THEN {bp}" for lang, bp in MIX_RATES_BP.items())
    return f"CASE lang {whens} ELSE {_MIX_DEFAULT_BP} END"



def _polygon_metrics_oracle_sql() -> str:
    """Exact-integer shoelace in micro-degrees: vertices are frozen at
    6 dp, so round(x*1e6) is an exact integer; cross products and their
    sums stay in HUGEINT (DuckDB) / DECIMAL(38,0) (Spark) — no
    float-sum order dependence. Only the final divisions and the
    per-edge whole-meter haversine rounding touch doubles, both
    textually identical across engines."""
    hav = HAVERSINE_SQL.format(lat1="y1", lon1="x1", lat2="y2", lon2="x2")
    return f"""
WITH e AS (SELECT * FROM {_edges_values_sql()}),
i AS (
  SELECT poly_id, x1, y1, x2, y2,
         cast(round(x1*1000000) as hugeint) AS x1u, cast(round(y1*1000000) as hugeint) AS y1u,
         cast(round(x2*1000000) as hugeint) AS x2u, cast(round(y2*1000000) as hugeint) AS y2u
  FROM e
), c AS (
  SELECT poly_id, (x1u*y2u - x2u*y1u) AS cr, (x1u+x2u) AS sx, (y1u+y2u) AS sy,
         cast(round({hav}, 0) as bigint) AS elen
  FROM i
), agg AS (
  SELECT poly_id, cast(sum(cr) as double) AS a2, cast(sum(sx*cr) as double) AS nx,
         cast(sum(sy*cr) as double) AS ny, cast(sum(elen) as bigint) AS perimeter_m,
         count(*) AS n_edges
  FROM c GROUP BY poly_id
)
SELECT poly_id, abs(a2) / 2000000000000.0 AS area_deg2,
       nx / (3.0 * a2) / 1000000.0 AS cx,
       ny / (3.0 * a2) / 1000000.0 AS cy,
       perimeter_m, n_edges
FROM agg
"""



# Deterministic benchmark set for the decontamination op: the leading
# 8-gram of each doc_id < 10 document. Derived inside BOTH engines from
# the corpus itself (no driver-side collect) — at scale the benchmark
# side is a small broadcast dim, the corpus side a single explode pass.
_DECON_N = 8

_DECON_BENCH_DOCS = 10



# Per-language repetition factors for deterministic upsampling (the
# "epochs per mixture component" op): each doc appears factor(lang)
# times with an explicit copy index, so downstream shuffles can treat
# copies as distinct rows while lineage stays reconstructible.
UPSAMPLE_FACTORS: dict[str, int] = {"fr": 3, "es": 2}



def _upsample_case_sql() -> str:
    whens = " ".join(f"WHEN '{lang}' THEN {k}" for lang, k in UPSAMPLE_FACTORS.items())
    return f"CASE lang {whens} ELSE 1 END"



# Grid density clustering: 2.5° integer cells, dense = >= 3 points,
# clusters = connected components over 8-neighbor adjacency of dense
# cells. cell_id = gx*1000 + gy (gy range guarded against the stride
# seam inside grid_cluster). No antimeridian wrap at this demo grid —
# the production path for spherical adjacency is the S2 k-ring
# (operators/knn.py).
_GRID_DENSE_MIN = 3



# S2 hierarchy rollup over synthetic-but-VALID level-16 cells derived
# bit-arithmetically from c_custkey (face limited to 0-3 so face<<61
# stays positive BIGINT in both engines; 14-bit LCG pos prefix at the
# level-16 position bits — small on purpose so sibling cells share
# parents and the rollup genuinely merges counts at 12 and collapses
# to one cell per face at 8; sentinel lsb 1<<28). Parent lsb constants:
# level 12 -> 1<<36, level 8 -> 1<<44 (s2.lsb_for_level).
_PYR_CELL_SPARK = (
    "shiftleft(cast(c_custkey as bigint) % 4, 61)"
    " | shiftleft((cast(c_custkey as bigint) * 48271) % 9973, 29)"
    " | shiftleft(1L, 28)"
)

_PYR_CELL_DUCK = (
    "(((cast(c_custkey as bigint) % 4) << 61)"
    " | (((cast(c_custkey as bigint) * 48271) % 9973) << 29)"
    " | (1::BIGINT << 28))"
)

_LSB12 = 1 << 36

_LSB8 = 1 << 44



def _nearest_edge_oracle() -> str:
    from gipspark.operators.distance import nearest_edge_sql

    pts = (
        "(SELECT c_custkey, "
        f"{_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon "
        "FROM customer)"
    )
    return "WITH " + nearest_edge_sql(pts, "c_custkey", ORACLE_POLYGONS)



# --- web/link analytics + sketches (round-2 batch 6) -----------------------


_URL_SQL = (
    "concat('https://', source, '.example.com:8443/', lang, '/doc-', "
    "cast(doc_id as varchar))"
)



_PR_N = "(SELECT count(*) FROM documents)"

_PR_EDGE_DST = D.MD5_LONG_SQL.format(
    x="concat('e:', cast(j as varchar), ':', cast(doc_id as varchar))"
)



# --- graph / sketch / relational-surface (round-2 batch 7) -----------------


_TRI_DST = D.MD5_LONG_SQL.format(
    x="concat('t:', cast(j as varchar), ':', cast(doc_id as varchar))"
)



_CMS_CELL = D.MD5_LONG_SQL.format(x="concat(cast(j as varchar), ':', term)")



# frozen bbox dimension for the envelope join (6dp, inside the derived
# point domain lat ∈ [-60,60), lon ∈ [-180,180); none crosses the
# antimeridian — bbox_join's documented contract)
ORACLE_BBOXES: list[dict] = [
    {"box_id": 0, "lon_min": -12.000003, "lat_min": -8.000001, "lon_max": 25.000007, "lat_max": 18.000009},
    {"box_id": 1, "lon_min": -130.000001, "lat_min": 35.000003, "lon_max": -95.000009, "lat_max": 58.000001},
    {"box_id": 2, "lon_min": 80.000007, "lat_min": 5.000009, "lon_max": 130.000003, "lat_max": 48.000007},
    {"box_id": 3, "lon_min": -80.000009, "lat_min": -55.000007, "lon_max": -40.000001, "lat_max": -25.000003},
    {"box_id": 4, "lon_min": 140.000001, "lat_min": -35.000009, "lon_max": 175.000007, "lat_max": -5.000001},
    {"box_id": 5, "lon_min": 2.000001, "lat_min": 2.000002, "lon_max": 3.000003, "lat_max": 3.000004},
]


_BBOX_VALUES = (
    "(VALUES "
    + ",".join(
        f"({b['box_id']},{b['lon_min']!r},{b['lat_min']!r},{b['lon_max']!r},{b['lat_max']!r})"
        for b in ORACLE_BBOXES
    )
    + ") AS bx(box_id, lon_min, lat_min, lon_max, lat_max)"
)



# ---------------------------------------------------------------------------
# round-2 batch 9: webtext PII scrub + spatio-temporal join family
# ---------------------------------------------------------------------------

# RE2 ∩ java.util.regex common subset only (no backrefs/lookaround), so
# Spark and DuckDB scan identically: leftmost, non-overlapping.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_PHONE = r"\+\d[\d-]{7,14}\d"


# deterministic PII augmentation: the synthetic corpus carries no PII,
# so both engines splice the SAME key-derived email/ip/phone strings
# into the text before detection — the regexes then have real targets.
_PII_AUG_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || cast(doc_id as varchar) || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || cast(doc_id % 256 as varchar) || '.0.' || cast(doc_id % 100 as varchar) ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' call +1-202-555-0' || cast(100 + doc_id % 100 as varchar) ELSE '' END"
)



def _pii_aug_col() -> F.Column:
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" call +1-202-555-0"), (F.lit(100) + did % 100).cast("string")),
        ).otherwise(F.lit("")),
    )



def _poly_edges_idx_values_sql(polys: list[dict]) -> str:
    """Edges as VALUES (poly_id, edge_idx, x1, y1, x2, y2), read from
    operators.distance._polygon_edges — the list segment_crossings
    explodes, so edge_idx agrees between the engines."""
    from gipspark.operators.distance import _polygon_edges

    rows = [
        f"({pid},{i},{x1!r},{y1!r},{x2!r},{y2!r})"
        for pid, i, x1, y1, x2, y2 in _polygon_edges(polys)
    ]
    return "(VALUES " + ",".join(rows) + ") AS e(poly_id, edge_idx, x1, y1, x2, y2)"



def _segment_crossing_sql() -> str:
    from gipspark.operators.crossing import crossings_sql

    steps = f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events
), steps0 AS (
  SELECT user_id,
         lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS px,
         lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS py,
         lon AS qx, lat AS qy
  FROM pts
), steps AS MATERIALIZED (SELECT * FROM steps0 WHERE px IS NOT NULL),
edges AS MATERIALIZED (SELECT * FROM {_poly_edges_idx_values_sql(ORACLE_POLYGONS)})
"""
    # MATERIALIZED blocks DuckDB 1.0's inequality-join planner path,
    # which hits an internal flat-vector assertion on this shape.
    body = crossings_sql("steps", "edges e")
    return f"""{steps}, x AS ({body})
SELECT user_id, cast(poly_id as bigint) AS poly_id, count(*) AS n_crossings
FROM x GROUP BY user_id, poly_id
"""



def _merge_intervals_sql() -> str:
    from gipspark.operators.intervals import dissolve_sql

    body = dissolve_sql("iv", "user_id")
    return f"""
WITH iv AS (
  SELECT user_id,
         cast(floor(epoch(ts)) as bigint) AS start_s,
         cast(floor(epoch(ts)) as bigint) + 1800 AS end_s
  FROM events
)
SELECT user_id, count(*) AS n_spans,
       cast(sum(span_end - span_start) as bigint) AS covered_s,
       cast(max(span_end - span_start) as bigint) AS max_span_s
FROM ({body}) d
GROUP BY user_id
"""



# ---------------------------------------------------------------------------
# round-2 batch 10: lattice statistics, map matching, raster algebra, IDW
# ---------------------------------------------------------------------------

_MORAN_GRID = 15.0



def _snap_oracle() -> str:
    from gipspark.operators.distance import snap_to_edge_sql

    pts = (
        "(SELECT c_custkey, "
        f"{_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon "
        "FROM customer)"
    )
    return "WITH " + snap_to_edge_sql(pts, "c_custkey", ORACLE_POLYGONS)



def _raster_algebra_oracle() -> str:
    from gipspark.sources.fixtures import raster_tile_pdf

    rows = []
    for t in _RASTER_TILES:
        pdf = raster_tile_pdf(t, _RASTER_PX)
        for ix, iy, val in zip(pdf["ix"], pdf["iy"], pdf["value"]):
            rows.append(f"('{t}',{ix},{iy},{val!r}::DOUBLE)")
    a_values = "(VALUES " + ",".join(rows) + ") AS a(tile_id, ix, iy, value)"
    return f"""
WITH a AS (SELECT * FROM {a_values}),
b AS (
  SELECT tile_id, ix, iy,
         cast((ix * 7 + iy * 13) % 97 as double) / 97.0 AS value
  FROM a
), nd AS (
  SELECT a.tile_id,
         (a.value - b.value) / (abs(a.value) + abs(b.value) + 1.0) AS nd
  FROM a JOIN b ON a.tile_id = b.tile_id AND a.ix = b.ix AND a.iy = b.iy
)
SELECT tile_id, count(*) AS n_px,
       cast(sum(CASE WHEN nd > 0.0 THEN 1 ELSE 0 END) as bigint) AS n_pos,
       cast(sum(cast(round(nd * 1000000.0, 0) as bigint)) as bigint) AS sum_nd_ticks
FROM nd GROUP BY tile_id
"""



# frozen IDW probe grid (inside the derived-point domain)
_IDW_PROBES: list[tuple[int, float, float]] = [
    (0, 10.000001, 20.000003),
    (1, -35.000007, -60.000009),
    (2, 45.000003, 100.000001),
    (3, -50.000009, 150.000007),
    (4, 30.000001, -120.000003),
    (5, 0.000007, 0.000009),
]

_IDW_R2 = 400.0  # 20° planar radius



# deterministic alias graph over doc ids: ~1/8 of ids are terminals,
# everyone else aliases 1–3 ids downward (mixed by 48271 so residues
# are quasi-uniform) — chains are acyclic by construction (strictly
# decreasing) with data-dependent depth.
_CHAIN_NXT_SQL = (
    "CASE WHEN doc_id % 16 < 2 OR doc_id - 1 - ((doc_id * 48271) % 3) < 0 "
    "THEN NULL ELSE doc_id - 1 - ((doc_id * 48271) % 3) END"
)



# ---------------------------------------------------------------------------
# round-2 batch 12: data-layout keys + sketch-merge rollup
# ---------------------------------------------------------------------------

from gipspark.operators.zorder import morton_key, morton_key_sql  # noqa: E402


_Z_GRID = 0.25  # 0.25° lattice → gx < 1440, gy < 600 (both fit 16 bits)



# ---------------------------------------------------------------------------
# round-2 batch 19: lattice distance transform + chi-square contributions
# ---------------------------------------------------------------------------

_DT_GRID = 10.0

_DT_DENSE = 20  # seed cells: ≥ this many events

_DT_MAXHOP = 4



# ---------------------------------------------------------------------------
# round-2 batch 18: time-series resample + linear interpolation
# ---------------------------------------------------------------------------

_RESAMPLE_STEP = 21600  # 6 h grid



# ---------------------------------------------------------------------------
# round-2 batch 17: fuzzy (edit-distance) record-linkage join
# ---------------------------------------------------------------------------

# deterministic near-duplicate titles: triplets share a stem, the
# variant suffix differs per member — fuzzy linkage must recover the
# in-triplet pairs without ever seeing the triplet id (blocking uses
# only the title prefix).
_TITLE_SQL = (
    "'doc-' || cast(doc_id // 3 as varchar) || '-' || "
    "CASE doc_id % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'alpa' ELSE 'alphaz' END"
)



def _title_col() -> F.Column:
    did = F.col("doc_id")
    return F.concat(
        F.lit("doc-"),
        (did / 3).cast("long").cast("string"),
        F.lit("-"),
        F.when(did % 3 == 0, F.lit("alpha"))
        .when(did % 3 == 1, F.lit("alpa"))
        .otherwise(F.lit("alphaz")),
    )



# validity fixture: the oracle set plus a deliberately self-crossing bowtie
_BOWTIE = {"poly_id": 900, "rings": [[[0.0, 0.0], [4.0, 4.0], [4.0, 0.0], [0.0, 4.0], [0.0, 0.0]]]}



def _validity_edge_rows() -> list[tuple]:
    rows = []
    eid = 0
    for p in ORACLE_POLYGONS + [_BOWTIE]:
        for ring_idx, ring in enumerate(p["rings"]):
            nseg = len(ring) - 1
            for pos, ((x1, y1), (x2, y2)) in enumerate(zip(ring[:-1], ring[1:])):
                rows.append(
                    (int(p["poly_id"]), eid, ring_idx, pos, nseg, float(x1), float(y1), float(x2), float(y2))
                )
                eid += 1
    return rows



# ---------------------------------------------------------------------------
# round-3 batch 1: sub-document chunk dedup + quadkey pyramid
# ---------------------------------------------------------------------------

_CHUNK_TOKS = 12  # tokens per pseudo-paragraph

_CHUNK_DUP_MAX_PCT = 50  # drop a doc once >50% of its chunks are owned elsewhere



# messy-URL synthesis: deterministic per-doc case noise, default ports,
# dot segments, unsorted query params, fragments — the canonicalizer's
# obstacle course, mirrored textually in SQL
_MESSY_URL_SQL = """concat(
  CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' WHEN doc_id % 3 = 1 THEN 'https' ELSE 'Https' END,
  '://',
  CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END,
  '.Example.COM',
  CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
  '/', lang, '/./docs//doc-', cast(doc_id as varchar),
  '?b=', cast(doc_id % 7 as varchar), '&a=', cast(doc_id % 3 as varchar),
  CASE WHEN doc_id % 4 = 0 THEN '#section-2' ELSE '' END)"""



# K-round Bellman-Ford over the deterministic doc link graph (same
# edge derivation as pagerank, plus an md5-derived integer weight)
_SP_K = 4

_SP_EDGE_W = "1 + " + D.MD5_LONG_SQL.format(
    x="concat('w:', cast(j as varchar), ':', cast(doc_id as varchar))"
) + " % 100"



def _sp_oracle_sql() -> str:
    rounds = []
    for i in range(_SP_K):
        rounds.append(
            f"""d{i + 1} AS (
  SELECT node, cast(min(dist) as bigint) AS dist FROM (
    SELECT node, dist FROM d{i}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d{i} d JOIN edges e ON d.node = e.src
  ) GROUP BY node)"""
        )
    return (
        f"""
WITH edges AS (
  SELECT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst,
         cast({_SP_EDGE_W} as bigint) AS w
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
),
d0 AS (SELECT cast(0 as bigint) AS node, cast(0 as bigint) AS dist),
"""
        + ",\n".join(rounds)
        + f"\nSELECT node, dist FROM d{_SP_K}\n"
    )



# integer-exact k-means: coordinates in millidegree ticks (the derived
# lat/lon are k-ticks/1000 − offset, so ticks are EXACT int64), squared
# distances and centroid floor-division updates all in bigint — Lloyd's
# algorithm with zero float drift, hence bit-exact across engines.
_KM_K = 5

_KM_ROUNDS = 3

# ticks kept in the NON-NEGATIVE domain (no -60000/-180000 shift):
# k-means is translation-invariant, and non-negative operands make
# Spark floor() and DuckDB // agree (they differ on negatives:
# trunc-toward-zero vs floor)
_KM_LAT_TICKS = "(cast({k} as bigint) * 48271) % 120000"

_KM_LON_TICKS = "(cast({k} as bigint) * 69621) % 360000"



def _kmeans_oracle_sql() -> str:
    seeds = ", ".join(
        f"({cid}, ({cid + 1} * 48271) % 120000, ({cid + 1} * 69621) % 360000)"
        for cid in range(_KM_K)
    )
    sql = f"""
WITH pts AS (
  SELECT c_custkey,
         cast({_KM_LAT_TICKS.format(k='c_custkey')} as bigint) AS py,
         cast({_KM_LON_TICKS.format(k='c_custkey')} as bigint) AS px
  FROM customer
),
c0(cid, cy, cx) AS (SELECT * FROM (VALUES {seeds}))
"""
    prev = "c0"
    for r in range(1, _KM_ROUNDS + 1):
        sql += f""",
a{r} AS (
  SELECT c_custkey, py, px,
         cast(min(((py - cy) * (py - cy) + (px - cx) * (px - cx)) * {_KM_K} + cid) as bigint)
           % {_KM_K} AS cid
  FROM pts CROSS JOIN {prev}
  GROUP BY c_custkey, py, px
),
c{r} AS (
  SELECT p.cid,
         coalesce(cast(sum(a.py) // count(a.py) as bigint), p.cy) AS cy,
         coalesce(cast(sum(a.px) // count(a.px) as bigint), p.cx) AS cx
  FROM {prev} p LEFT JOIN a{r} a ON a.cid = p.cid
  GROUP BY p.cid, p.cy, p.cx
)"""
        prev = f"c{r}"
    sql += f"""
SELECT a.cid, cast(count(*) as bigint) AS n, min(c.cy) AS cy, min(c.cx) AS cx
FROM a{_KM_ROUNDS} a JOIN c{_KM_ROUNDS} c ON c.cid = a.cid
GROUP BY a.cid
"""
    return sql



def _map_match_oracle() -> str:
    from gipspark.operators.distance import nearest_edge_sql

    pts = (
        "(SELECT event_id, user_id, ts, "
        f"{_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon "
        "FROM events)"
    )
    ne = nearest_edge_sql("pts", "event_id", ORACLE_POLYGONS, wrap_cte="ne")
    return f"""
WITH pts AS {pts},
{ne},
seq AS (
  SELECT p.user_id, p.ts, p.event_id, ne.nearest_poly AS raw_poly
  FROM pts p JOIN ne ON ne.event_id = p.event_id
), sm AS (
  SELECT user_id, event_id, raw_poly,
         lag(raw_poly) OVER w AS pv, lead(raw_poly) OVER w AS nx
  FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, raw_poly,
       CASE WHEN pv IS NOT NULL AND pv = nx AND raw_poly <> pv THEN pv
            ELSE raw_poly END AS matched_poly,
       (pv IS NOT NULL AND nx IS NOT NULL AND pv = nx AND raw_poly <> pv) AS corrected
FROM sm
"""



# robots.txt-style rule table: longest matching path prefix wins; ''
# is the root rule. Literal dim in both engines.
_CRAWL_RULES = [
    ("", True),
    ("/en", True),
    ("/en/private", False),
    ("/de", False),
    ("/de/docs", True),
    ("/fr/docs", True),
]

_CRAWL_RULES_SQL = ", ".join(f"({p!r}, {str(a).upper()})" for p, a in _CRAWL_RULES)



# MMR (maximal marginal relevance) diversified top-k: λ = 0.5, exact
# double parity via the same ordered fold both engines use for cosine.
_MMR_K = 5



def _mmr_oracle_sql() -> str:
    def sim(a: str, b: str) -> str:
        return (
            f"{_DOT.format(a=a, b=b)} / (sqrt({_DOT.format(a=a, b=a)})"
            f" * sqrt({_DOT.format(a=b, b=b)}))"
        )

    sql = f"""
WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
base AS (
  SELECT e.vec_id, e.embedding, {sim('e.embedding', 'q.embedding')} AS simq
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
),
s1 AS (SELECT vec_id, embedding, 0.5 * simq - 0.5 * 0.0 AS score
       FROM base ORDER BY score DESC, vec_id ASC LIMIT 1)"""
    for t in range(2, _MMR_K + 1):
        joins = " ".join(f"CROSS JOIN s{i} p{i}" for i in range(1, t))
        not_in = ", ".join(f"p{i}.vec_id" for i in range(1, t))
        sims = ", ".join(sim("b.embedding", f"p{i}.embedding") for i in range(1, t))
        sql += f""",
s{t} AS (
  SELECT b.vec_id, b.embedding,
         0.5 * b.simq - 0.5 * greatest(0.0, {sims}) AS score
  FROM base b {joins}
  WHERE b.vec_id NOT IN ({not_in})
  ORDER BY score DESC, b.vec_id ASC LIMIT 1)"""
    sql += "\n" + "\nUNION ALL\n".join(
        f"SELECT cast({t} as bigint) AS rank, vec_id, score FROM s{t}"
        for t in range(1, _MMR_K + 1)
    )
    return sql



def _geohash_roundtrip_oracle() -> str:
    from gipspark.functions.geohash import geohash_decode_sql, geohash_sql

    enc = geohash_sql(
        _LAT.format(k="c_custkey"),
        _LON.format(k="c_custkey"),
        "c_custkey",
        "SELECT c_custkey FROM customer",
    )
    dec = geohash_decode_sql("gh", "key", enc)
    half_lat = 180.0 / (1 << 21)
    half_lon = 360.0 / (1 << 21)
    return f"""
WITH rt AS ({dec}),
orig AS (SELECT c_custkey AS key,
                {_LAT.format(k='c_custkey')} AS lat,
                {_LON.format(k='c_custkey')} AS lon
         FROM customer)
SELECT o.key AS c_custkey, r.dec_lat, r.dec_lon,
       (abs(r.dec_lat - o.lat) <= {half_lat!r} AND abs(r.dec_lon - o.lon) <= {half_lon!r}) AS ok
FROM rt r JOIN orig o ON o.key = r.key
"""



_KCORE_K = 5

_KCORE_ROUNDS = 3



def _kcore_oracle_sql() -> str:
    sql = f"""
WITH raw AS (
  SELECT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
),
e0 AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst GROUP BY a, b
)"""
    for r in range(_KCORE_ROUNDS):
        sql += f""",
deg{r} AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e{r} UNION ALL SELECT b AS node FROM e{r}
  ) GROUP BY node),
keep{r} AS (SELECT node FROM deg{r} WHERE deg >= {_KCORE_K}),
e{r + 1} AS (
  SELECT a, b FROM e{r}
  WHERE a IN (SELECT node FROM keep{r}) AND b IN (SELECT node FROM keep{r}))"""
    sql += f"""
SELECT node, cast(count(*) as bigint) AS degree FROM (
  SELECT a AS node FROM e{_KCORE_ROUNDS} UNION ALL SELECT b AS node FROM e{_KCORE_ROUNDS}
) GROUP BY node HAVING count(*) >= {_KCORE_K}
"""
    return sql



# end-to-end curation pipeline: repetition gate → quality gate → exact
# dedup → verified near-dup drop → exact-k per-source sample. Every
# stage reuses an already-oracled component; the composition is the
# point (this is the flagship LLM-corpus flow).
_CUR_QUALITY_MIN = 0.55

_CUR_SAMPLE_K = 10



def _curation_oracle_sql() -> str:
    sh3_all = D.shingles_all_sql("text", 3)
    sh3 = D.shingles_sql("text", 3)
    sh2 = D.shingles_sql("text", 2)
    m = D._MASK30
    base_hash = "(" + D.MD5_LONG_SQL.format(x="s") + f") & {m}"
    mins = ",".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) & {m})) AS h{i}"
        for i, (a, b) in ((j, D._mix_consts(j)) for j in range(8))
    )
    rep_ppm = f"(CASE WHEN len({sh3_all}) = 0 THEN 0 ELSE ((len({sh3_all}) - len({sh3})) * 1000000) // len({sh3_all}) END)"
    smp = D.MD5_LONG_SQL.format(x="concat('cur:', cast(doc_id as varchar))")
    return f"""
WITH s0 AS (SELECT doc_id, source, text FROM documents),
gate AS (
  SELECT doc_id FROM s0
  WHERE {rep_ppm} <= 50000 AND ({T.quality_score_sql('text')}) >= {_CUR_QUALITY_MIN}
),
ex AS (
  SELECT min(s0.doc_id) AS doc_id
  FROM s0 JOIN gate USING (doc_id) GROUP BY md5(s0.text)
),
surv2 AS (SELECT s0.doc_id, s0.source, s0.text FROM s0 JOIN ex USING (doc_id)),
cbase AS (SELECT doc_id, {sh2} AS sh FROM surv2),
chashed AS (SELECT doc_id, list_transform(sh, s -> {base_hash}) AS hs FROM cbase),
csig AS (SELECT doc_id, {mins} FROM chashed),
{_banded_sql('c', 8, 4)},
ccand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM cbanded a JOIN cbanded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
csz AS (SELECT doc_id, sh, len(sh) AS sz FROM cbase),
cver AS (
  SELECT c.id_b
  FROM ccand c JOIN csz a ON a.doc_id = c.id_a JOIN csz b ON b.doc_id = c.id_b
  WHERE 2 * len(list_intersect(a.sh, b.sh)) >= a.sz + b.sz - len(list_intersect(a.sh, b.sh))
),
surv3 AS (
  SELECT s.doc_id, s.source FROM surv2 s
  WHERE s.doc_id NOT IN (SELECT id_b FROM cver)
)
SELECT doc_id, source, rk FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY {smp}, doc_id) AS rk
  FROM surv3
) WHERE rk <= {_CUR_SAMPLE_K}
"""



# ---------------------------------------------------------------------------
# round-3 batch: antimeridian-wrapped fence (oracle-gated)
# ---------------------------------------------------------------------------

# An octagon centered ON the ±180 seam, vertices stored wrapped into
# [-180, 180] the way real datasets ship them (edges jump ~346° in
# planar lon). The Spark side hands pip_join the RAW wrapped ring;
# geo/antimeridian.py splits it into strip pieces before the ray cast.
# The oracle replays the same deterministic split (identical Python →
# identical float edges) as inline VALUES — bit-exact both sides.
# Ground truth for the split itself is tests/test_antimeridian.py's
# 180°-shifted-frame kernel comparison.


def _wrap_lon_scalar(lon: float) -> float:
    if lon > 180.0:
        return lon - 360.0
    if lon < -180.0:
        return lon + 360.0
    return lon



WRAPPED_FENCE: dict = {
    "poly_id": 7,
    "rings": [[[_wrap_lon_scalar(x), y] for x, y in _ngon(180.0007, 5.0003, 25.0, 8)]],
}



def _wrapped_fence_pieces() -> list[dict]:
    from gipspark.geo.antimeridian import normalize_antimeridian

    return normalize_antimeridian([WRAPPED_FENCE])



_MK_GRID = 30.0



_SPAN_W = 8



_AQT_K, _AQT_D = 40, 6



def _adaptive_quadtree_sql() -> str:
    """DuckDB replay of operators/tiles.adaptive_quadtree's pyramid."""
    ctes = [
        f"c{_AQT_D} AS (SELECT {C.quadkey_sql('lat', 'lon', _AQT_D)} AS qk, "
        f"cast(count(*) as bigint) AS n FROM pts GROUP BY qk)"
    ]
    for d in range(_AQT_D - 1, 0, -1):
        ctes.append(
            f"c{d} AS (SELECT substr(qk, 1, {d}) AS qk, cast(sum(n) as bigint) AS n "
            f"FROM c{d + 1} GROUP BY substr(qk, 1, {d}))"
        )
    lv = " UNION ALL ".join(
        f"SELECT qk, {d} AS depth, n FROM c{d}" for d in range(1, _AQT_D + 1)
    )
    return (
        f"WITH pts AS (SELECT {_LAT.format(k='c_custkey')} AS lat, "
        f"{_LON.format(k='c_custkey')} AS lon FROM customer),\n"
        + ",\n".join(ctes)
        + f",\nlv AS ({lv})\n"
        f"SELECT a.qk AS tile, a.depth, a.n\n"
        f"FROM lv a LEFT JOIN lv p ON p.depth = a.depth - 1 AND p.qk = substr(a.qk, 1, a.depth - 1)\n"
        f"WHERE (a.n <= {_AQT_K} OR a.depth = {_AQT_D}) AND (a.depth = 1 OR p.n > {_AQT_K})"
    )



# deterministic validity window per oracle polygon: poly p is "active"
# [2024-01-01 + 3p days, +12 days) — overlapping staggered windows over
# the events fixture's January span, so every branch (in-space+in-time,
# in-space+out-of-time) is exercised.
def _poly_validity() -> list[tuple[int, str, str]]:
    import datetime as _dt

    base = _dt.datetime(2024, 1, 1)
    out = []
    for p in ORACLE_POLYGONS:
        a = base + _dt.timedelta(days=3 * p["poly_id"])
        b = a + _dt.timedelta(days=12)
        out.append((p["poly_id"], a.strftime("%Y-%m-%d %H:%M:%S"), b.strftime("%Y-%m-%d %H:%M:%S")))
    return out



_RIPLEY_R = [2000, 5000, 10000]  # milli-degree radii

_RIPLEY_AREA = 360000.0 * 120000.0  # derived-coordinate domain, mdeg²



_STDB_EPS, _STDB_EPS_T, _STDB_MINPTS = 5000, 3 * 86400, 3



_FOCAL_OFFS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]



import math as _math  # noqa: E402


# study area: the derived-coordinate lat band [-60, 60] over the full
# sphere of radius EARTH_RADIUS_M: A = 2π R² (sin60 − sin(−60)) = 2√3 π R²
_CE_AREA_M2 = 2.0 * _math.sqrt(3.0) * _math.pi * 6371000.0 * 6371000.0



_CONT_TAU, _CONT_MAXDF, _CONT_MIN = 0.4, 50, 5



_KNOX_S, _KNOX_T = 5000, 604800  # 5k mdeg ticks, 7 days



_HAUS_K, _HAUS_W = 16, 30000



_DBSCAN_EPS, _DBSCAN_MINPTS = 6000, 4



from gipspark.operators.hilbert import hilbert_sql  # noqa: E402


_HILBERT_GX = f"(((cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD}) * 65536) // {C.LAT_MOD}"

_HILBERT_GY = f"(((cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD}) * 65536) // {C.LON_MOD}"



def _str_pack_oracle() -> str:
    from gipspark.operators.ranking import str_pack_sql

    pts = (
        "(SELECT c_custkey, "
        f"(cast(c_custkey as bigint) * {C.LAT_MUL}) % {C.LAT_MOD} - 60000 AS la, "
        f"(cast(c_custkey as bigint) * {C.LON_MUL}) % {C.LON_MOD} - 180000 AS lo "
        "FROM customer)"
    )
    return "WITH " + str_pack_sql(pts, "la", "lo", "c_custkey", capacity=64)



_D8_OFFSETS = (
    (0, 1, 0), (1, 1, 1), (2, 0, 1), (3, -1, 1),
    (4, -1, 0), (5, -1, -1), (6, 0, -1), (7, 1, -1),
)



_D8_GRID_SQL = f"""pts AS (
  SELECT {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon FROM events
), grid AS (
  SELECT cast(floor((lon + 180.0) / 2.5) as int) AS cx,
         cast(floor((90.0 - lat) / 2.5) as int) AS cy,
         cast(count(*) as bigint) AS v
  FROM pts GROUP BY cx, cy
), offs(d, dx, dy) AS (
  VALUES {', '.join(f'({d}, {dx}, {dy})' for d, dx, dy in _D8_OFFSETS)}
), cand AS (
  SELECT g.cx, g.cy, g.v, o.d, n.cx AS tx, n.cy AS ty, n.v AS tv,
         row_number() OVER (PARTITION BY g.cx, g.cy ORDER BY n.v, o.d) AS rn
  FROM grid g JOIN offs o ON true
  JOIN grid n ON n.cx = g.cx + o.dx AND n.cy = g.cy + o.dy
), best AS (
  SELECT cx, cy, v,
         CASE WHEN tv < v THEN d ELSE -1 END AS dir,
         CASE WHEN tv < v THEN tx END AS tx,
         CASE WHEN tv < v THEN ty END AS ty
  FROM cand WHERE rn = 1
), full_grid AS (
  SELECT g.cx, g.cy, g.v, coalesce(b.dir, -1) AS dir, b.tx, b.ty
  FROM grid g LEFT JOIN best b ON b.cx = g.cx AND b.cy = g.cy
)"""



def _d8_full(spark, sf_dir) -> DataFrame:
    """(cx, cy, v, dir, tx, ty): D8 steepest-descent pointer per
    occupied cell of the 2.5° event-density raster (dir = -1, tx/ty
    NULL at sinks). Shared by d8_flow_cells and watershed_basins."""
    ev = load(spark, sf_dir, "events")
    grid = (
        ev.select(
            F.floor((C.derived_lon(F.col("event_id")) + 180.0) / 2.5).cast("int").alias("cx"),
            F.floor((90.0 - C.derived_lat(F.col("event_id"))) / 2.5).cast("int").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    nbr = grid.select(
        F.col("cx").alias("ncx"),
        F.col("cy").alias("ncy"),
        F.col("v").alias("tv"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for d, dx, dy in _D8_OFFSETS
                ]
            )
        ).alias("o"),
    ).select(
        (F.col("ncx") - F.col("o.dx")).alias("cx"),
        (F.col("ncy") - F.col("o.dy")).alias("cy"),
        F.col("o.d").alias("d"),
        F.col("ncx").alias("tx"),
        F.col("ncy").alias("ty"),
        "tv",
    )
    w = Window.partitionBy("cx", "cy").orderBy("tv", "d")
    best = (
        grid.join(nbr, ["cx", "cy"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cx", "cy",
            F.when(F.col("tv") < F.col("v"), F.col("d")).otherwise(F.lit(-1)).alias("dir"),
            F.when(F.col("tv") < F.col("v"), F.col("tx")).alias("tx"),
            F.when(F.col("tv") < F.col("v"), F.col("ty")).alias("ty"),
        )
    )
    return grid.join(best, ["cx", "cy"], "left").select(
        "cx", "cy", "v",
        F.coalesce("dir", F.lit(-1)).cast("int").alias("dir"),
        "tx", "ty",
    )



_COOC_CAP = 12  # per-doc distinct-term cap: ≤ C(12,2)=66 pairs per doc



_REVGEO_TICKS = 25_000_000  # d² ≤ 25 deg² (≈5° planar) fallback radius



def _reverse_geocode_oracle() -> str:
    from gipspark.operators.distance import nearest_edge_sql

    return f"""
WITH pts AS (SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon FROM customer),
inside AS (
  SELECT c_custkey, cast(min(poly_id) as bigint) AS poly_id
  FROM ({_pip_matches_sql('pts', 'c_custkey')}) GROUP BY c_custkey
),
rest AS (
  SELECT p.* FROM pts p LEFT JOIN inside i ON i.c_custkey = p.c_custkey
  WHERE i.c_custkey IS NULL
),
{nearest_edge_sql('rest', 'c_custkey', ORACLE_POLYGONS, wrap_cte='near_all')}
SELECT c_custkey, poly_id, 'inside' AS method, cast(0 as bigint) AS d2_ticks FROM inside
UNION ALL
SELECT r.c_custkey,
       CASE WHEN n.d2_ticks <= {_REVGEO_TICKS} THEN n.nearest_poly END AS poly_id,
       CASE WHEN n.d2_ticks <= {_REVGEO_TICKS} THEN 'near' ELSE 'none' END AS method,
       CASE WHEN n.d2_ticks <= {_REVGEO_TICKS} THEN n.d2_ticks END AS d2_ticks
FROM rest r JOIN near_all n ON n.c_custkey = r.c_custkey
"""



_TFIDF_DF_CAP = 200  # stop-term postings cap for the cosine pair join



# trig-free 8-octant classifier over integer deltas — ONE textual CASE
# used verbatim by BOTH engines (F.expr here, inlined in the oracle), so
# cross-engine agreement is by construction; sector-vs-atan2 coverage is
# pytest-verified (tests/test_ranking.py::test_octant_classifier).
_OCTANT_CASE = """CASE
 WHEN dx = 0 AND dy = 0 THEN -1
 WHEN dy >= 0 AND dx > 0 AND dx >= dy THEN 0
 WHEN dy > 0 AND dx >= 0 AND dy > dx THEN 1
 WHEN dy > 0 AND dx < 0 AND dy >= -dx THEN 2
 WHEN dy >= 0 AND dx < 0 AND -dx > dy THEN 3
 WHEN dy < 0 AND dx <= 0 AND -dx >= -dy THEN 4
 WHEN dy < 0 AND dx < 0 AND -dy > -dx THEN 5
 WHEN dy < 0 AND dx >= 0 AND -dy >= dx THEN 6
 ELSE 7
END"""



# Benford expectations as shared literals: log10 is only 1-ulp-accurate
# (not correctly rounded) in both engines' libm, so the nine constants
# are rendered ONCE from Python and inlined textually into both plans.
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {math.log10(1.0 + 1.0 / d)!r}" for d in range(1, 10)
) + " END"



_VARIO_BINS = [2000, 5000, 10000]  # milli-degree bin upper edges



_WIN_K = 4  # tokens per k-gram

_WIN_W = 8  # winnowing window (guarantee: every match ≥ W+K-1 tokens is caught)

_WIN_P = 1 << 22  # position stride inside the tie-break key (docs < 4M tokens)

_WIN_H = 1 << 30  # hash range



_CUSUM_GRID = 30.0



_BLOCK_TERMS = ["spark", "hash", "merge", "stream", "filter", "window"]

_BLOCK_THRESHOLD = 10



_LPA_DST = D.MD5_LONG_SQL.format(
    x="concat('l:', cast(j as varchar), ':', cast(doc_id as varchar))"
)


_LPA_ROUND_SQL = """
nbr{r} AS (
  SELECT e.v, l.community, cast(count(*) as bigint) AS cnt
  FROM nb e JOIN lab{p} l ON l.id = e.n GROUP BY e.v, l.community
),
best{r} AS (
  SELECT v AS id, community FROM (
    SELECT v, community,
           row_number() OVER (PARTITION BY v ORDER BY cnt DESC, community ASC) AS rn
    FROM nbr{r}
  ) WHERE rn = 1
),
lab{r} AS (
  SELECT n.id, cast(coalesce(b.community, n.id) as bigint) AS community
  FROM nodes n LEFT JOIN best{r} b ON b.id = n.id
)"""



_HRW_S = 8  # shard count before the scale-out



def _hrw_h_sql(s: int) -> str:
    return D.MD5_LONG_SQL.format(x=f"concat('shard:{s}:', cast(doc_id as varchar))")



def _hrw_argmax_sql(n: int) -> str:
    gmax = f"greatest({', '.join(f'h{s}' for s in range(n))})"
    cases = " ".join(f"WHEN h{s} = {gmax} THEN {s}" for s in range(n))
    return f"CASE {cases} END"



_LANGID_CM_SQL = f"""
cm AS (
  SELECT lang AS gold, {T.lang_id_sql('text')} AS pred, cast(count(*) as bigint) AS n
  FROM documents GROUP BY lang, pred
)"""



_GAP_GRID = 30.0



# Wilson lower bound rendered ONCE and spliced textually into both
# plans (the benford literal-sharing discipline): s_d/n_d are exact
# counts as doubles, z = 1.96 appears only as the literal product.
_WILSON_EXPR = (
    "((s_d / n_d) + (1.96 * 1.96) / (2.0 * n_d)"
    " - 1.96 * sqrt(((s_d / n_d) * (1.0 - (s_d / n_d))"
    " + (1.96 * 1.96) / (4.0 * n_d)) / n_d))"
    " / (1.0 + (1.96 * 1.96) / n_d)"
)



_PLD_SUFF2 = ("co.uk", "github.io", "gov.au")  # multi-label public suffixes

_PLD_SUBS = ("www", "cdn", "img")

_PLD_TLDS = ("com", "co.uk", "org", "github.io", "gov.au")



_MARKOV_TICKS = 1_000_000_000_000  # probability mass as integer ticks



def _markov_round_sql(r: int, p: int) -> str:
    return f"""
m{r} AS (
  SELECT t.dst AS state, cast(sum((m{p}.mass * t.n) // t.row_n) as bigint) AS mass
  FROM m{p} JOIN t ON t.src = m{p}.state GROUP BY t.dst
)"""



_NORM_TICKS = 1000.0  # norm² quantized to 1e-3 ticks before the cross-row sum



# Allen's 13 interval relations, classified by exact integer-second
# comparisons of (s1,e1) vs (s2,e2). Rendered ONCE and spliced into both
# engines (the benford discipline) — the CASE order IS the spec.
_ALLEN_CASE = """CASE
  WHEN e1 < s2 THEN 'before'
  WHEN e1 = s2 THEN 'meets'
  WHEN s1 = s2 AND e1 = e2 THEN 'equals'
  WHEN s1 = s2 AND e1 < e2 THEN 'starts'
  WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
  WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
  WHEN e1 = e2 AND s1 < s2 THEN 'finished_by'
  WHEN s1 > s2 AND e1 < e2 THEN 'during'
  WHEN s1 < s2 AND e1 > e2 THEN 'contains'
  WHEN s1 < s2 AND e1 > s2 AND e1 < e2 THEN 'overlaps'
  WHEN s1 > s2 AND s1 < e2 AND e1 > e2 THEN 'overlapped_by'
  WHEN s1 = e2 THEN 'met_by'
  ELSE 'after'
END"""



_QUADRAT_DEG = 15.0

_QUADRAT_N = int((360 / _QUADRAT_DEG) * (180 / _QUADRAT_DEG))  # fixed world frame



_BIV_GRID = 15.0



# ---------------------------------------------------------------------------
# round-3 batch: bivariate cross-K, Spearman rank correlation, assortativity
# ---------------------------------------------------------------------------


_XK_R = [1000, 2000, 4000]

_XK_AREA = 120000.0 * 360000.0  # milli-degree tick plane of the derived coords



# ---------------------------------------------------------------------------
# round-3 batch: grid isochrone (multi-source BFS) + Heaps vocabulary growth
# ---------------------------------------------------------------------------


_ISO_CELL = 2500  # ticks (2.5 deg) — gridcluster's guarded cell size

_ISO_K = 4

_ISO_OFF = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]



# ---------------------------------------------------------------------------
# round-3 batch: G-function NN-distance CDF + co-citation related pairs
# ---------------------------------------------------------------------------


_GFN_R_M = [100_000, 250_000, 500_000]



# ---------------------------------------------------------------------------
# round-4 batch B: IR ranking, link prediction, space-time composition,
# stylometry, seasonal anomaly, weighted sampling, pipeline audits
# ---------------------------------------------------------------------------

# BM25 query terms are frozen — the score sum must have a fixed textual
# order (t1 + t2 + t3) so double addition is identical in both engines.
_BM25_TERMS = ["join", "hash", "scan"]



def _bm25_tf_sql(term: str) -> str:
    return (
        "len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
        f" x -> x = '{term}'))"
    )



_RA_TICK = 1_000_000_000_000



_EH_GRID = 30.0



_BD_VOCAB = 20

_BD_TICK = 1_000_000_000  # rel-freq ticks; exact while count·10⁹ < 2⁶³ per (source, word)



_WSS_K = 100



_CPA_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]



# --- round-4 batch 3: viewshed, toponym resolution, harmonic centrality ----


_VS_SCALE = 1_048_576  # 2^20 tangent ticks — exact in double up to v ~ 2^32



# deterministic multi-sense gazetteer over the fixed doc vocabulary:
# 8 ambiguous place names × 3 senses; coordinates derive from the same
# LCG the corpus geotags use, in integer millidegree ticks.
_GAZ_NAMES = ("spark", "join", "window", "stream", "merge", "batch", "filter", "sort")

_GAZ = [
    (name, 100 * (ni + 1) + s, 7919 * (16 * ni + s) + 13)
    for ni, name in enumerate(_GAZ_NAMES)
    for s in range(3)
]

_GAZ_VALUES_SQL = ", ".join(f"('{n}', {pid}, {key})" for n, pid, key in _GAZ)



_HC_K = 3  # hop bound: reach ≤ outdeg + outdeg² + outdeg³ per source



def _hc_oracle_sql() -> str:
    rounds = []
    for i in range(_HC_K):
        rounds.append(
            f"""d{i + 1} AS (
  SELECT src, node, cast(min(dist) as bigint) AS dist FROM (
    SELECT src, node, dist FROM d{i}
    UNION ALL
    SELECT d.src, e.dst AS node, d.dist + 1 AS dist
    FROM d{i} d JOIN edges e ON d.node = e.src
  ) GROUP BY src, node)"""
        )
    return (
        f"""
WITH edges AS (
  SELECT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
),
d0 AS (SELECT doc_id AS src, cast(doc_id as bigint) AS node, cast(0 as bigint) AS dist FROM documents),
"""
        + ",\n".join(rounds)
        + f"""
SELECT src, cast(count(*) as bigint) AS n_reach,
       cast(sum(1000000 // dist) as bigint) AS h_ticks
FROM d{_HC_K} WHERE dist > 0 GROUP BY src
"""
    )



# --- round-4 batch 4: Apriori triples + capacity-constrained matching ------


_FT_SUP = 3  # support floor, same as cooccurrence_pairs_docs



_MATCH_ROUNDS = 3

_MATCH_CAP_SQL = "cast(1 + s_suppkey % 3 as bigint)"



def _match_oracle_sql() -> str:
    hav = HAVERSINE_SQL.format(lat1="q.q_lat", lon1="q.q_lon", lat2="r.p_lat", lon2="r.p_lon")
    parts = [
        f"""
WITH q AS (SELECT c_custkey AS cid,
                  {C.DERIVED_LAT_SQL.format(k='c_custkey')} AS q_lat,
                  {C.DERIVED_LON_SQL.format(k='c_custkey')} AS q_lon FROM customer),
p AS (SELECT s_suppkey AS sid, {_MATCH_CAP_SQL} AS cap,
             {C.DERIVED_LAT_SQL.format(k='s_suppkey * 31 + 7')} AS p_lat,
             {C.DERIVED_LON_SQL.format(k='s_suppkey * 31 + 7')} AS p_lon FROM supplier),
m0 AS (SELECT cast(NULL as bigint) AS cid, cast(NULL as bigint) AS sid,
              cast(NULL as double) AS dist_m, cast(NULL as bigint) AS rnd WHERE false)"""
    ]
    for i in range(1, _MATCH_ROUNDS + 1):
        parts.append(
            f""",
rem{i} AS (
  SELECT p.sid, p.cap - coalesce(a.cnt, 0) AS rem, p.p_lat, p.p_lon
  FROM p LEFT JOIN (SELECT sid, count(*) AS cnt FROM m{i - 1} GROUP BY sid) a USING (sid)
),
prop{i} AS (
  SELECT cid, sid, dist_m,
         row_number() OVER (PARTITION BY cid ORDER BY dist_m, sid) AS rn
  FROM (
    SELECT q.cid, r.sid, {hav} AS dist_m
    FROM q CROSS JOIN rem{i} r
    WHERE r.rem > 0
      AND q.cid NOT IN (SELECT cid FROM m{i - 1} WHERE cid IS NOT NULL)
  )
),
acc{i} AS (
  SELECT cid, sid, dist_m,
         row_number() OVER (PARTITION BY sid ORDER BY dist_m, cid) AS srn
  FROM prop{i} WHERE rn = 1
),
m{i} AS (
  SELECT cid, sid, dist_m, rnd FROM m{i - 1}
  UNION ALL
  SELECT a.cid, a.sid, a.dist_m, cast({i} as bigint) AS rnd
  FROM acc{i} a JOIN rem{i} r ON r.sid = a.sid WHERE a.srn <= r.rem
)"""
        )
    parts.append(
        f"\nSELECT cid AS c_custkey, sid AS s_suppkey, rnd,"
        f" cast(round(dist_m, 0) as double) AS dist_m0 FROM m{_MATCH_ROUNDS}\n"
    )
    return "".join(parts)



_WCC_EDGE = D.MD5_LONG_SQL.format(x="concat('w:', cast(doc_id as varchar))")

_WCC_PREV = D.MD5_LONG_SQL.format(x="concat('w:', cast(doc_id - 1 as varchar))")



_LD_GRID = 5000  # ticks (5°) — derived coords are integer millidegree ticks



def _cr_pairs_sql(prefix: str) -> str:
    """{prefix}pairs(id_a, id_b): distinct LSH candidate pairs from the
    {prefix}banded bucket table (capture_recapture_dups helper)."""
    return (
        f"{prefix}pairs AS (\n"
        f"  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b\n"
        f"  FROM {prefix}banded a JOIN {prefix}banded b\n"
        f"    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"
    )



_HT_P = 1 << 20  # inclusion-probability resolution

_HT_N = 500  # target sample size



_SCC_N = "(SELECT count(*) FROM documents)"

_SCC_F = D.MD5_LONG_SQL.format(x="concat('f:', cast(id as varchar))")

_SCC_H = D.MD5_LONG_SQL.format(x="concat('h:', cast(id as varchar))")

_SCC_G = D.MD5_LONG_SQL.format(x="concat('g:', cast(id as varchar))")

_SCC_K = D.MD5_LONG_SQL.format(x="concat('k:', cast(id as varchar))")

_SCC_B = D.MD5_LONG_SQL.format(x="concat('b:', cast(id as varchar))")



_PACK_BUDGET = 512

_PACK_B = 8

_PACK_H = D.MD5_LONG_SQL.format(x="concat('p:', cast(doc_id as varchar))")



_AB_ARM = D.MD5_LONG_SQL.format(x="concat('ab:', cast(user_id as varchar))")



# z-range scan planning: query box in GRID coordinates (0.25° lattice,
# the zorder_cluster_customers layout); ranges computed ONCE at import
# by the driver-side planner and inlined as literals into BOTH engines.
_ZQ_BOX = (640, 1019, 200, 499)  # gx0, gx1, gy0, gy1



def _zq_ranges() -> list[tuple[int, int]]:
    from gipspark.operators.zorder import zranges

    return zranges(*_ZQ_BOX, bits=16, max_ranges=48)



def _zrange_scan_sql() -> str:
    from gipspark.operators.zorder import morton_key_sql

    rs = _zq_ranges()
    case = "CASE " + " ".join(
        f"WHEN zkey >= {lo} AND zkey < {hi} THEN {i}" for i, (lo, hi) in enumerate(rs)
    ) + " END"
    vals = ",".join(f"({i},{lo},{hi})" for i, (lo, hi) in enumerate(rs))
    gx0, gx1, gy0, gy1 = _ZQ_BOX
    return f"""
WITH pts AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), g AS (
  SELECT c_custkey,
         cast(floor((lon + 180.0) / {_Z_GRID}) as bigint) AS gx,
         cast(floor((90.0 - lat) / {_Z_GRID}) as bigint) AS gy
  FROM pts
), z AS (
  SELECT c_custkey, gx, gy, {morton_key_sql('gx', 'gy')} AS zkey FROM g
), c AS (
  SELECT {case} AS range_id,
         CASE WHEN gx BETWEEN {gx0} AND {gx1} AND gy BETWEEN {gy0} AND {gy1}
              THEN 1 ELSE 0 END AS m
  FROM z
)
SELECT r.range_id, r.zlo, r.zhi,
       cast(count(*) as bigint) AS n_candidates,
       cast(sum(m) as bigint) AS n_matches
FROM c JOIN (VALUES {vals}) AS r(range_id, zlo, zhi) ON c.range_id = r.range_id
GROUP BY r.range_id, r.zlo, r.zhi
"""



_ECE_HITS = " + ".join(T._lang_score_sql("text", lang) for lang in T._LANG_ORDER)

_ECE_EN = T._lang_score_sql("text", "en")



_RAKE_STOPS = (
    "the and of to a in is it that for on as with was at by an be this are or "
    "from we you his her they not has had have but all its were which their"
).split()



_MIS_P = D.MD5_LONG_SQL.format(x="concat('mis:', cast(doc_id as varchar))")



_CRAWL_BUDGET = 10000



def _haar_level_sql(k: int) -> str:
    src = "cd" if k == 1 else f"s{k - 1}"
    return f"""s{k} AS (
  SELECT cx, cy, idx // 2 AS idx,
         cast(sum(v) as bigint) AS v,
         cast(sum(CASE WHEN idx % 2 = 0 THEN v ELSE -v END) as bigint) AS d
  FROM {src} GROUP BY cx, cy, idx // 2
), e{k} AS (
  SELECT cx, cy, cast(sum(d * d) as bigint) AS e FROM s{k} GROUP BY cx, cy
)"""



# ---------------------------------------------------------------------------
# round-4 session-3 batch 1: walk spectra, bounded DAG paths, union-area
# sweep, integer hillshade
# ---------------------------------------------------------------------------


def _walk_oracle_sql() -> str:
    rounds = []
    prev = "x0"
    for k in range(1, 5):
        rounds.append(
            f"""x{k} AS (
  SELECT n.id, coalesce(s.w, 0) AS w FROM nodes n LEFT JOIN (
    SELECT e.dst AS id, cast(sum(p.w) as bigint) AS w
    FROM edges e JOIN {prev} p ON e.src = p.id GROUP BY e.dst
  ) s ON s.id = n.id
)"""
        )
        prev = f"x{k}"
    body = ",\n".join(rounds)
    return f"""
WITH nodes AS (SELECT doc_id AS id FROM documents),
edges AS (
  SELECT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
),
x0 AS (SELECT id, cast(1 as bigint) AS w FROM nodes),
{body}
SELECT id, w AS walks4 FROM x4
"""



_DAG_EDGE_H = D.MD5_LONG_SQL.format(
    x="concat('dag:', cast(j as varchar), ':', cast(doc_id as varchar))"
)



def _dag_oracle_sql() -> str:
    rounds = []
    prev = "b0"
    for k in range(1, 5):
        rounds.append(
            f"""b{k} AS (
  SELECT n.id, greatest(p0.best, coalesce(s.best, -1)) AS best
  FROM nodes n JOIN {prev} p0 ON p0.id = n.id LEFT JOIN (
    SELECT e.dst AS id, max(p.best + e.w) AS best
    FROM edges e JOIN {prev} p ON e.src = p.id WHERE p.best >= 0 GROUP BY e.dst
  ) s ON s.id = n.id
)"""
        )
        prev = f"b{k}"
    body = ",\n".join(rounds)
    return f"""
WITH nodes AS (SELECT doc_id AS id FROM documents),
eraw AS (
  SELECT doc_id AS src,
         doc_id + 1 + {_DAG_EDGE_H} % 25 AS dst,
         1 + {_DAG_EDGE_H} % 97 AS w
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
),
edges AS (
  SELECT src, dst, cast(max(w) as bigint) AS w FROM eraw
  WHERE dst < {_PR_N} GROUP BY src, dst
),
b0 AS (SELECT id, cast(0 as bigint) AS best FROM nodes),
{body}
SELECT id, best AS maxpath4 FROM b4
"""



def _union_boxes_sql() -> str:
    return f"""
SELECT c_custkey AS ck,
       cast(floor(((c_custkey * {C.LAT_MUL}) % {C.LAT_MOD}) / 100) as bigint) AS yc,
       cast(floor(((c_custkey * {C.LON_MUL}) % {C.LON_MOD}) / 100) as bigint) AS xc,
       cast(5 + c_custkey % 40 as bigint) AS hw,
       cast(5 + (c_custkey * 7) % 40 as bigint) AS hh
FROM customer WHERE c_custkey % 11 = 1
"""



# ---------------------------------------------------------------------------
# round-4 session-3 batch 2: CDC chunking, TextTiling, h-index, surprisal
# ---------------------------------------------------------------------------

_CDC_W = 8  # rolling window width (chars)



_TT_BLOCK = 10  # tokens per TextTiling block

_TT_SCALE = 1000000000000  # 1e12 fixed-point for the cos² quotient



_SURP_SCALE = 1000000000  # 1e9 fixed-point bigram probability



_NA_SCALE = 1000000000000  # 1e12 fixed-point hazard ticks



_CHI2_MIN_FREQ = 5

_CHI2_TOPK = 10



# ---------------------------------------------------------------------------
# round-4 session-3 batch 4: F-function, embedding covariance, odds ratio,
# raster morphology
# ---------------------------------------------------------------------------

_FF_GRID_STEP = 30  # degrees between reference grid points

_FF_RADII = [200, 400, 800, 1600, 3200]  # hectometre-lattice radii



def _ff_grid_rows() -> list[tuple[int, int, int]]:
    # reference grid on the same integer hectometre lattice as the
    # customer points: lat ticks 0..~180*100, lon ticks 0..~360*100
    rows = []
    gid = 0
    for gy in range(15, 180, _FF_GRID_STEP):
        for gx in range(15, 360, _FF_GRID_STEP):
            rows.append((gid, gy * 100, gx * 100))
            gid += 1
    return rows



_COV_DIMS = 6

_COV_SCALE = 1000000



def _cov_pairs():
    return [(i, j) for i in range(1, _COV_DIMS + 1) for j in range(i, _COV_DIMS + 1)]



# ---------------------------------------------------------------------------
# round-4 session-3 batch 5: seeded PPR, jackknife, vocab share, K4 count
# ---------------------------------------------------------------------------


def _ppr_oracle_sql() -> str:
    seed_mass = "(1000000000000 // (SELECT count(*) FROM seeds))"
    rounds = []
    prev = "r0"
    for k in range(1, 4):
        rounds.append(
            f"""c{k} AS (
  SELECT dst, cast(sum(rank // outdeg) as bigint) AS in_sum
  FROM edges JOIN {prev} p ON edges.src = p.id JOIN deg ON edges.src = deg.src
  GROUP BY dst
),
r{k} AS (
  SELECT n.id,
         cast(CASE WHEN s.id IS NOT NULL THEN (15 * {seed_mass}) // 100 ELSE 0 END
              + (85 * coalesce(in_sum, 0)) // 100 as bigint) AS rank
  FROM nodes n LEFT JOIN c{k} ON n.id = c{k}.dst LEFT JOIN seeds s ON s.id = n.id
)"""
        )
        prev = f"r{k}"
    body = ",\n".join(rounds)
    return f"""
WITH nodes AS (SELECT doc_id AS id FROM documents),
seeds AS (SELECT doc_id AS id FROM documents WHERE doc_id % 50 = 0),
edges AS (
  SELECT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
),
deg AS (SELECT src, cast(count(*) as bigint) AS outdeg FROM edges GROUP BY src),
r0 AS (
  SELECT n.id, cast(CASE WHEN s.id IS NOT NULL THEN {seed_mass} ELSE 0 END as bigint) AS rank
  FROM nodes n LEFT JOIN seeds s ON s.id = n.id
),
{body}
SELECT id, rank FROM r3 WHERE rank > 0
"""



_JK_BUCKETS = 10



_VSHARE_KS = [10, 100, 1000]



# ---------------------------------------------------------------------------
# round-4 session-3 batch 6: Huff model, RLE profile, char classes, peak hour
# ---------------------------------------------------------------------------

_HUFF_WSCALE = 100000000  # 1e8 gravity-weight ticks



_CHARCLASSES = [
    ("letters", "[a-zA-Z]"),
    ("digits", "[0-9]"),
    ("spaces", "[ ]"),
    ("punct", "[.,;:!?()-]"),
]



# ---------------------------------------------------------------------------
# round-4 session-3 batch 7: unique prefixes, SAX, host novelty, quantile norm
# ---------------------------------------------------------------------------

_UPF_H = D.MD5_LONG_SQL.format(x="concat('u:', cast(doc_id as varchar))")



_SAX_SEGS = 8

_SAX_SYMS = 4



_ACF_LAGS = [1, 2, 3]



# ---------------------------------------------------------------------------
# round-4 session-3 batch 9: RRF fusion, log-rank test, Bloom FP contract,
# KWIC snippets
# ---------------------------------------------------------------------------

_RRF_K = 60

_RRF_SCALE = 1000000000



_LR_SCALE = 1000000  # 1e6 ticks: n1_risk·d·scale must clear int64 at sf1



_BF_M = 4096

_BF_SALTS = ["b0", "b1", "b2"]



def _bf_h(salt: str, key: str) -> str:
    return (
        D.MD5_LONG_SQL.format(x=f"concat('{salt}:', cast({key} as varchar))") + f" % {_BF_M}"
    )



_KWIC_TERMS = ["join", "hash", "stream"]

_KWIC_CTX = 15



# ---------------------------------------------------------------------------
# round-4 session-3 batch 10: consistent-hash ring, priority sampling,
# histogram equalization, space-time scan
# ---------------------------------------------------------------------------

_RING_NODES = 8

_RING_VNODES = 16

_RING_M = 1 << 60



def _ring_vnode_rows(extra: bool) -> list[tuple[str, int]]:
    import hashlib

    rows = []
    n_nodes = _RING_NODES + (1 if extra else 0)
    for n in range(n_nodes):
        for v in range(_RING_VNODES):
            h = int(hashlib.md5(f"ring:n{n}:v{v}".encode()).hexdigest()[:15], 16) % _RING_M
            rows.append((f"n{n}", h))
    return rows



def _ring_owner_sql(vrows: list[tuple[str, int]], alias: str) -> str:
    # all vnode hashes are pairwise distinct (asserted at import), so
    # ring distances for a fixed key are distinct ⇒ arg_min is
    # deterministic without a tie-break
    vals = ", ".join(f"('{n}', {h})" for n, h in vrows)
    return f"""
{alias}_v(node, vh) AS (VALUES {vals}),
{alias} AS (
  SELECT k.kh, arg_min(v.node, (v.vh - k.kh + {_RING_M}) % {_RING_M}) AS node
  FROM keys k CROSS JOIN {alias}_v v
  GROUP BY k.kh
)"""



assert len({h for _, h in _ring_vnode_rows(True)}) == (_RING_NODES + 1) * _RING_VNODES



_PS_K = 50



_HEQ_LEVELS = 16



_SCAN_TOPK = 10



_RANSAC_K = 16

_RANSAC_TOL = 8



_MOTIF_W = 4



# ---------------------------------------------------------------------------
# round-4 session-3 batch 12: set cover, edge embeddedness, sorted-
# neighborhood blocking, greedy knapsack
# ---------------------------------------------------------------------------

_SC_ROUNDS = 5



def _set_cover_oracle_sql() -> str:
    parts = [
        f"""tw AS (
  SELECT DISTINCT source, unnest({D.shingles_all_sql('text', 3)}) AS w
  FROM documents
)"""
    ]
    prev_cov = None
    picks = []
    for r in range(1, _SC_ROUNDS + 1):
        uncov = (
            "tw"
            if prev_cov is None
            else f"(SELECT tw.* FROM tw LEFT JOIN {prev_cov} c ON c.w = tw.w WHERE c.w IS NULL)"
        )
        parts.append(
            f"""g{r} AS (
  SELECT source, cast(count(*) as bigint) AS gain
  FROM {uncov} u GROUP BY source
),
p{r} AS (
  SELECT source, gain, {r} AS round FROM g{r}
  ORDER BY gain DESC, source LIMIT 1
),
cov{r} AS (
  SELECT DISTINCT tw.w FROM tw JOIN p{r} ON p{r}.source = tw.source
  {f'UNION SELECT w FROM {prev_cov}' if prev_cov else ''}
)"""
        )
        picks.append(f"SELECT round, source, gain FROM p{r}")
        prev_cov = f"cov{r}"
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT round, source, gain FROM ({' UNION ALL '.join(picks)})
"""



_SNB_W = 3

_SNB_MAXDIST = 2



# ---------------------------------------------------------------------------
# round-4 session-3 batch 13: k-anonymity, D'Hondt, join cardinality, rich club
# ---------------------------------------------------------------------------

_KA_KS = [2, 5, 10]



_DH_SEATS = 20



_JC_SAMPLE_MOD = 16



_RC_KS = [2, 4, 8]



_KMV_K = 64

_KMV_MAXH = (1 << 60) - 1



# ---------------------------------------------------------------------------
# round-4 session-4 batch 15: AMS F2 sketch, SymSpell blocking, speed QA,
# reverse-1NN influence
# ---------------------------------------------------------------------------


_AMS_SIGN_KEY = "'ams' || cast(i as varchar) || ':' || w"



_TELEPORT_MMS = 55_000  # 55 m/s ≈ 200 km/h — faster is a GPS glitch



_RKNN_HAV = HAVERSINE_SQL.format(lat1="q.q_lat", lon1="q.q_lon", lat2="p.p_lat", lon2="p.p_lon")



# ---------------------------------------------------------------------------
# round-4 session-4 batch 16: permutation test, power iteration, multi-touch
# attribution, Otsu thresholding
# ---------------------------------------------------------------------------


_PERM_N = 64



_PI_DIMS = 8

_PI_SCALE = 1024

_PI_ITERS = 4



def _pi_sql() -> str:
    dims = range(1, _PI_DIMS + 1)
    qcols = ", ".join(
        f"cast(round(embedding[{i}]::double * {_PI_SCALE}) as bigint) AS q{i}" for i in dims
    )
    mcols = ", ".join(
        f"cast(sum(q{i} * q{j}) as bigint) AS m{i}_{j}" for i in dims for j in dims
    )
    its = [f"it0 AS (SELECT *, {', '.join(f'cast({_PI_SCALE} as bigint) AS v{i}_0' for i in dims)} FROM m)"]
    for t in range(1, _PI_ITERS + 1):
        ws = ", ".join(
            f"({' + '.join(f'm{i}_{j} * v{j}_{t - 1}' for j in dims)}) AS w{i}_{t}" for i in dims
        )
        nrm = f"greatest(1, {', '.join(f'abs(w{i}_{t})' for i in dims)})"
        its.append(f"pre{t} AS (SELECT *, {ws} FROM it{t - 1})")
        its.append(
            f"it{t} AS (SELECT *, {nrm} AS n_{t}, "
            + ", ".join(f"w{i}_{t} * {_PI_SCALE} // ({nrm}) AS v{i}_{t}" for i in dims)
            + f" FROM pre{t})"
        )
    last = _PI_ITERS
    fin = " UNION ALL ".join(
        f"SELECT {i} AS dim, cast(v{i}_{last} as bigint) AS v_q, "
        f"cast(n_{last} // {_PI_SCALE} as bigint) AS lambda_lo FROM it{last}"
        for i in dims
    )
    return (
        f"WITH q AS (SELECT {qcols} FROM embeddings), m AS (SELECT {mcols} FROM q),\n"
        + ",\n".join(its)
        + f"\n{fin}"
    )



_OTSU_LEVELS = 16



_BZF_PLAYERS = 6



_WJ_NQUERIES = 20



_LSM_DENSE_MIN = 3



# ---------------------------------------------------------------------------
# round-4 session-4 batch 18: IPF balancing, eigenvector centrality, Poisson
# bootstrap, BH-FDR
# ---------------------------------------------------------------------------


_IPF_ROUNDS = 3



def _ipf_sql() -> str:
    head = f"""
WITH pts AS (
  SELECT user_id, epoch_us(ts) // 1000000 // 86400 AS d, ts, event_id,
         cast(floor(({_LON.format(k='event_id')} + 180.0) / 30.0) as int) AS cell
  FROM events
), seq AS (
  SELECT user_id, d, cell,
         row_number() OVER (PARTITION BY user_id, d ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, d ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM pts
), fl AS (
  SELECT fo.user_id, fo.d, fo.cell AS o, fd.cell AS dst
  FROM (SELECT user_id, d, cell FROM seq WHERE rn_a = 1) fo
  JOIN (SELECT user_id, d, cell FROM seq WHERE rn_d = 1) fd USING (user_id, d)
), od AS (
  SELECT o, dst, cast(count(*) * 1000000 as bigint) AS x0
  FROM fl GROUP BY o, dst
), rt AS (
  SELECT o, cast(sum(x0) as bigint) AS r_target FROM od GROUP BY o
), ct AS (
  SELECT dst, cast(sum(x0) as bigint) AS c_target FROM od GROUP BY dst
)"""
    body = []
    prev = "od"
    xcol = "x0"
    for t in range(1, _IPF_ROUNDS + 1):
        body.append(
            f""", rs{t} AS (
  SELECT o, cast(sum({xcol}) as bigint) AS rsum FROM {prev} GROUP BY o
), xr{t} AS (
  SELECT p.o, p.dst,
         cast(cast(p.{xcol} as hugeint) * rt.r_target // rs{t}.rsum as bigint) AS xr
  FROM {prev} p JOIN rs{t} ON rs{t}.o = p.o JOIN rt ON rt.o = p.o
), cs{t} AS (
  SELECT dst, cast(sum(xr) as bigint) AS csum FROM xr{t} GROUP BY dst
), it{t} AS (
  SELECT p.o, p.dst,
         cast(cast(p.xr as hugeint) * ct.c_target // cs{t}.csum as bigint) AS x{t}
  FROM xr{t} p JOIN cs{t} ON cs{t}.dst = p.dst JOIN ct ON ct.dst = p.dst
)"""
        )
        prev, xcol = f"it{t}", f"x{t}"
    tail = f"""
SELECT o, dst, cast({xcol} as bigint) AS x_q FROM {prev}"""
    return head + "".join(body) + tail



_EIG_ROUNDS = 3

_EIG_TOPK = 10



def _eig_sql() -> str:
    head = f"""
WITH edges_raw AS (
  SELECT doc_id AS src,
         (doc_id + 1 + {_TRI_DST} % 25) % (SELECT count(*) FROM documents) AS dst
  FROM documents, (VALUES (0),(1),(2),(4),(5)) AS t(j)
), und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges_raw WHERE src <> dst
), sym AS (
  SELECT a AS s, b AS d FROM und UNION ALL SELECT b, a FROM und
), v0 AS (
  SELECT DISTINCT s AS id, cast(1024 as bigint) AS v FROM sym
)"""
    body = []
    prev = "v0"
    for t in range(1, _EIG_ROUNDS + 1):
        body.append(
            f""", w{t} AS (
  SELECT sym.d AS id, cast(sum(p.v) as bigint) AS w
  FROM sym JOIN {prev} p ON p.id = sym.s GROUP BY sym.d
), m{t} AS (SELECT cast(max(w) as bigint) AS m FROM w{t}),
v{t} AS (
  SELECT w{t}.id, cast(w{t}.w * 1024 // m{t}.m as bigint) AS v FROM w{t}, m{t}
)"""
        )
        prev = f"v{t}"
    tail = f"""
SELECT id, v AS v_q, cast(row_number() OVER (ORDER BY v DESC, id) as int) AS rnk
FROM {prev}
QUALIFY rnk <= {_EIG_TOPK}"""
    return head + "".join(body) + tail



_BOOT_REPS = 32

# Poisson(1) CDF in 1e6 ticks: P(X<=k) for k = 0..5; the tail maps to 6.
_BOOT_CUTS = (367879, 735758, 919698, 981011, 996340, 999406)



_BOOT_KEY = "'boot:' || cast(k as varchar) || ':' || cast(o_orderkey as varchar)"



def _boot_mult_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_BOOT_CUTS)
    )
    return f"CASE {branches} ELSE 6 END"



_BH_ALPHA_Q = 50_000  # alpha = 0.05 in 1e6 ticks



_CHORO_CLASSES = 5



# ---------------------------------------------------------------------------
# round-4 session-4 batch 20: densest-subgraph peeling, Rocchio classifier,
# marching squares, top-N+other rollup
# ---------------------------------------------------------------------------


_PEEL_ROUNDS = 3



def _peel_sql() -> str:
    head = f"""
WITH edges_raw AS (
  SELECT doc_id AS src,
         (doc_id + 1 + {_TRI_DST} % 25) % (SELECT count(*) FROM documents) AS dst
  FROM documents, (VALUES (0),(1),(2),(4),(5)) AS t(j)
), und0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges_raw WHERE src <> dst
)"""
    body = []
    for t in range(1, _PEEL_ROUNDS + 1):
        p = t - 1
        body.append(
            f""", deg{p} AS MATERIALIZED (
  SELECT id, cast(count(*) as bigint) AS deg
  FROM (SELECT a AS id FROM und{p} UNION ALL SELECT b FROM und{p})
  GROUP BY id
), st{p} AS (
  SELECT cast(count(*) as bigint) AS n_nodes, cast(sum(deg) // 2 as bigint) AS n_edges
  FROM deg{p}
), keep{t} AS (
  SELECT deg{p}.id FROM deg{p}, st{p} WHERE deg{p}.deg * st{p}.n_nodes >= 2 * st{p}.n_edges
), und{t} AS MATERIALIZED (
  SELECT e.a, e.b FROM und{p} e
  JOIN keep{t} ka ON ka.id = e.a JOIN keep{t} kb ON kb.id = e.b
)"""
        )
    final_deg = f""", deg{_PEEL_ROUNDS} AS (
  SELECT id, cast(count(*) as bigint) AS deg
  FROM (SELECT a AS id FROM und{_PEEL_ROUNDS} UNION ALL SELECT b FROM und{_PEEL_ROUNDS})
  GROUP BY id
), st{_PEEL_ROUNDS} AS (
  SELECT cast(count(*) as bigint) AS n_nodes, cast(sum(deg) // 2 as bigint) AS n_edges
  FROM deg{_PEEL_ROUNDS}
)"""
    counts = " UNION ALL ".join(
        f"""SELECT {t} AS round, n_nodes, n_edges,
       cast(CASE WHEN n_nodes > 0 THEN n_edges * 1000000 // n_nodes ELSE 0 END as bigint)
         AS density_q FROM st{t}"""
        for t in range(_PEEL_ROUNDS + 1)
    )
    return head + "".join(body) + final_deg + "\n" + counts



_ROC_DIMS = 64

_ROC_SCALE = 1024



def _rocchio_sql() -> str:
    dims = range(1, _ROC_DIMS + 1)
    qcols = ", ".join(
        f"cast(round(embedding[{j}]::double * {_ROC_SCALE}) as bigint) AS q{j}" for j in dims
    )
    ccols = ", ".join(f"cast(sum(q{j}) // count(*) as bigint) AS c{j}" for j in dims)
    dist = " + ".join(f"(t.q{j} - c.c{j}) * (t.q{j} - c.c{j})" for j in dims)
    return f"""
WITH q AS (SELECT vec_id, label, {qcols} FROM embeddings),
cent AS (
  SELECT label AS clabel, {ccols} FROM q WHERE vec_id % 5 <> 0 GROUP BY label
), scored AS (
  SELECT t.vec_id, t.label, c.clabel,
         row_number() OVER (PARTITION BY t.vec_id ORDER BY {dist}, c.clabel) AS rn
  FROM q t, cent c WHERE t.vec_id % 5 = 0
)
SELECT label, clabel AS pred, cast(count(*) as bigint) AS n
FROM scored WHERE rn = 1 GROUP BY label, clabel
"""



# marching-squares cases: number of contour segments per 2x2 case
# (cases 5 and 10 are the two-segment saddles; 0 and 15 are interior)
_MS_SEGS = {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 6: 1, 7: 1, 8: 1, 9: 1, 10: 2, 11: 1, 12: 1, 13: 1, 14: 1, 15: 0}

_MS_SEGS_SQL = "CASE ms_case " + " ".join(
    f"WHEN {k} THEN {v}" for k, v in sorted(_MS_SEGS.items())
) + " END"



_TOPN_KEEP = 3



# ---------------------------------------------------------------------------
# round-4 session-4 batch 21: Gale-Shapley matching, LOF-lite outliers,
# Shapley values, empirical-Bayes shrinkage
# ---------------------------------------------------------------------------


_GS_PREFS = 4

_GS_ROUNDS = 4

_GS_HAV = HAVERSINE_SQL.format(lat1="q_lat", lon1="q_lon", lat2="p_lat", lon2="p_lon")



def _gs_sql() -> str:
    head = f"""
WITH q AS (
  SELECT c_custkey AS c,
         {C.DERIVED_LAT_SQL.format(k='c_custkey')} AS q_lat,
         {C.DERIVED_LON_SQL.format(k='c_custkey')} AS q_lon
  FROM customer
), p AS (
  SELECT s_suppkey AS s,
         {C.DERIVED_LAT_SQL.format(k='s_suppkey * 211 + 7')} AS p_lat,
         {C.DERIVED_LON_SQL.format(k='s_suppkey * 211 + 7')} AS p_lon
  FROM supplier
), pref AS MATERIALIZED (
  SELECT c, s, dist, rnk FROM (
    SELECT q.c, p.s, {_GS_HAV} AS dist,
           row_number() OVER (PARTITION BY q.c ORDER BY {_GS_HAV}, p.s) AS rnk
    FROM q, p
  ) WHERE rnk <= {_GS_PREFS}
), nr0 AS MATERIALIZED (SELECT c, 1 AS nr FROM q),
held0 AS MATERIALIZED (SELECT c, s, dist FROM pref WHERE 1 = 0)"""
    body = []
    for t in range(1, _GS_ROUNDS + 1):
        p = t - 1
        body.append(
            f""", prop{t} AS MATERIALIZED (
  SELECT pref.c, pref.s, pref.dist
  FROM pref JOIN nr{p} ON nr{p}.c = pref.c AND pref.rnk = nr{p}.nr
  WHERE nr{p}.nr <= {_GS_PREFS} AND pref.c NOT IN (SELECT c FROM held{p})
), cand{t} AS (
  SELECT c, s, dist FROM prop{t} UNION ALL SELECT c, s, dist FROM held{p}
), held{t} AS MATERIALIZED (
  SELECT c, s, dist FROM (
    SELECT c, s, dist, row_number() OVER (PARTITION BY s ORDER BY dist, c) AS w
    FROM cand{t}
  ) WHERE w = 1
), nr{t} AS MATERIALIZED (
  SELECT nr{p}.c, nr{p}.nr + (CASE WHEN prop{t}.c IS NOT NULL THEN 1 ELSE 0 END) AS nr
  FROM nr{p} LEFT JOIN prop{t} ON prop{t}.c = nr{p}.c
)"""
        )
    tail = f"""
SELECT s AS s_suppkey, c AS c_custkey,
       cast(round(dist, 0) as bigint) AS dist_m0
FROM held{_GS_ROUNDS}"""
    return head + "".join(body) + tail



_LOF_TOPK = 20

_LOF_HAV = HAVERSINE_SQL.format(lat1="a.lat", lon1="a.lon", lat2="b.lat", lon2="b.lon")



# s!*(5-s)! for s = 0..5 — the Shapley ordering weights over 6 players
_SHAP_W = {0: 120, 1: 24, 2: 12, 3: 12, 4: 24, 5: 120}

_SHAP_W_SQL = "CASE bit_count(ws.c) " + " ".join(
    f"WHEN {k} THEN {v}" for k, v in sorted(_SHAP_W.items())
) + " END"



_EB_PSEUDO = 20



# ---------------------------------------------------------------------------
# round-4 session-4 batch 22: bounce/exit stats, DAU/WAU stickiness,
# radiation model, Hill diversity
# ---------------------------------------------------------------------------


_SESS_GAP_S = 1800



_WAU_DAYS = 7



_RAD_CELL_DEG = 30.0

_RAD_HAV = HAVERSINE_SQL.format(lat1="a.clat", lon1="a.clon", lat2="b.clat", lon2="b.clon")

_RAD_HAV_K = HAVERSINE_SQL.format(lat1="a.clat", lon1="a.clon", lat2="k.clat", lon2="k.clon")



# ---------------------------------------------------------------------------
# round-4 session-4 batch 23: bowtie decomposition, winnow cross-source
# matrix, ABC analysis, max-min fair allocation
# ---------------------------------------------------------------------------


_BOW_HOPS = 4



_MMF_ROUNDS = 3



def _mmf_sql() -> str:
    head = """
WITH dem AS (
  SELECT source, cast(sum(n_chars) as bigint) AS d FROM documents GROUP BY source
), b AS (SELECT cast(sum(d) // 10 as bigint) AS budget FROM dem),
g0 AS (SELECT source, d, cast(0 as bigint) AS g FROM dem)"""
    body = []
    for t in range(1, _MMF_ROUNDS + 1):
        p = t - 1
        body.append(
            f""", r{t} AS (
  SELECT cast(b.budget - sum(g) as bigint) AS rem,
         cast(count(CASE WHEN d > g THEN 1 END) as bigint) AS n_active
  FROM g{p}, b
  GROUP BY b.budget
), g{t} AS (
  SELECT source, d,
         CASE WHEN d > g AND r{t}.n_active > 0
              THEN least(d, g + r{t}.rem // r{t}.n_active)
              ELSE g END AS g
  FROM g{p}, r{t}
)"""
        )
    tail = f"""
SELECT source, d AS demand, cast(g as bigint) AS granted,
       CASE WHEN g >= d THEN 1 ELSE 0 END AS satisfied
FROM g{_MMF_ROUNDS}"""
    return head + "".join(body) + tail



# ---------------------------------------------------------------------------
# round-4 session-4 batch 24: simhash Hamming search, SCD2 fact join,
# feature-hash contract, diff-in-diff
# ---------------------------------------------------------------------------


_SH_BITS = 32

_SH_MAXHAM = 3



def _simhash_pairs_sql() -> str:
    sh = D.shingles_sql("text", 1)
    h = D.MD5_LONG_SQL.format(x="s")
    terms = []
    for b in range(_SH_BITS):
        vote = (
            f"list_sum(list_transform(hs, h -> "
            f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {2 ** b} ELSE 0 END)")
    sig = " + ".join(terms)
    half = _SH_BITS // 2
    return f"""
WITH base AS (SELECT doc_id, {sh} AS sh FROM documents),
hashed AS (SELECT doc_id, list_transform(sh, s -> ({h})) AS hs FROM base),
sigs AS MATERIALIZED (SELECT doc_id, cast({sig} AS BIGINT) AS sig FROM hashed),
blocks AS (
  SELECT doc_id, sig, 0 AS part, sig % {2 ** half} AS blk FROM sigs
  UNION ALL
  SELECT doc_id, sig, 1 AS part, sig >> {half} AS blk FROM sigs
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
  FROM blocks a JOIN blocks b
    ON b.part = a.part AND b.blk = a.blk AND b.doc_id > a.doc_id
)
SELECT id_a, id_b, cast(bit_count(xor(sig_a, sig_b)) as bigint) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {_SH_MAXHAM}
"""



_FH_BUCKETS = 4096



# ---------------------------------------------------------------------------
# round-4 session-4 batch 25: polylabel, value-at-risk, stratified k-fold
# ---------------------------------------------------------------------------

_PL_GRID = 12  # candidates per bbox axis

_PL_T = 10_000  # integer lattice: 1e-4 degrees per tick



def _pl_candidates() -> list[tuple[int, int, float, float]]:
    """(poly_id, cand_id, lat, lon) grid candidates inside each polygon's
    bbox — pure-Python constants inlined into BOTH engines, so the
    candidate set is part of the query text (the JL-matrix discipline)."""
    out = []
    for p in ORACLE_POLYGONS:
        xs = [x for ring in p["rings"] for x, _ in ring]
        ys = [y for ring in p["rings"] for _, y in ring]
        x0, x1, y0, y1 = min(xs), max(xs), min(ys), max(ys)
        cid = 0
        for i in range(_PL_GRID):
            for jj in range(_PL_GRID):
                lon = round(x0 + (x1 - x0) * (2 * i + 1) / (2 * _PL_GRID), 6)
                lat = round(y0 + (y1 - y0) * (2 * jj + 1) / (2 * _PL_GRID), 6)
                out.append((p["poly_id"], cid, lat, lon))
                cid += 1
    return out



def _pl_int_edges() -> list[tuple[int, int, int, int, int]]:
    """(poly_id, ax, ay, bx, by) edges on the 1e-4-degree integer lattice."""
    rows = []
    for p in ORACLE_POLYGONS:
        for ring in p["rings"]:
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                rows.append(
                    (
                        p["poly_id"],
                        round(x1 * _PL_T),
                        round(y1 * _PL_T),
                        round(x2 * _PL_T),
                        round(y2 * _PL_T),
                    )
                )
    return rows



def _polylabel_sql() -> str:
    cands = ",".join(
        f"({pid},{cid},{lat!r},{lon!r},{round(lon * _PL_T)},{round(lat * _PL_T)})"
        for pid, cid, lat, lon in _pl_candidates()
    )
    iedges = ",".join(f"({p},{ax},{ay},{bx},{by})" for p, ax, ay, bx, by in _pl_int_edges())
    d38 = "hugeint"
    return f"""
WITH cand AS (
  SELECT poly_id, cand_id, cast(lat as double) AS lat, cast(lon as double) AS lon,
         cast(px as bigint) AS px, cast(py as bigint) AS py
  FROM (VALUES {cands}) AS c(poly_id, cand_id, lat, lon, px, py)
), ie AS (
  SELECT poly_id, cast(ax as bigint) AS ax, cast(ay as bigint) AS ay,
         cast(bx as bigint) AS bx, cast(by as bigint) AS by
  FROM (VALUES {iedges}) AS e(poly_id, ax, ay, bx, by)
),
inside AS (
  SELECT p.poly_id, p.cand_id
  FROM cand p JOIN {_edges_values_sql()} ON e.poly_id = p.poly_id
  WHERE ((e.y1 > p.lat) != (e.y2 > p.lat))
    AND (p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
  GROUP BY p.poly_id, p.cand_id
  HAVING count(*) % 2 = 1
), clr AS (
  SELECT c.poly_id, c.cand_id,
         cast(min(CASE
           WHEN (c.px - ie.ax) * (ie.bx - ie.ax) + (c.py - ie.ay) * (ie.by - ie.ay) >= 0
            AND (c.px - ie.ax) * (ie.bx - ie.ax) + (c.py - ie.ay) * (ie.by - ie.ay)
                <= (ie.bx - ie.ax) * (ie.bx - ie.ax) + (ie.by - ie.ay) * (ie.by - ie.ay)
           THEN (cast((ie.bx - ie.ax) * (c.py - ie.ay) - (ie.by - ie.ay) * (c.px - ie.ax)
                      as {d38})
                 * ((ie.bx - ie.ax) * (c.py - ie.ay) - (ie.by - ie.ay) * (c.px - ie.ax))
                 * 1000000)
                // ((ie.bx - ie.ax) * (ie.bx - ie.ax) + (ie.by - ie.ay) * (ie.by - ie.ay))
           ELSE cast(least(
                  (c.px - ie.ax) * (c.px - ie.ax) + (c.py - ie.ay) * (c.py - ie.ay),
                  (c.px - ie.bx) * (c.px - ie.bx) + (c.py - ie.by) * (c.py - ie.by))
                as {d38}) * 1000000
         END) as bigint) AS clearance_q
  FROM cand c JOIN ie ON ie.poly_id = c.poly_id
  GROUP BY c.poly_id, c.cand_id
)
SELECT poly_id, cand_id, lat, lon, clearance_q FROM (
  SELECT c.poly_id, c.cand_id, cand.lat, cand.lon, c.clearance_q,
         row_number() OVER (PARTITION BY c.poly_id
                            ORDER BY c.clearance_q DESC, c.cand_id) AS rn
  FROM clr c
  JOIN inside i ON i.poly_id = c.poly_id AND i.cand_id = c.cand_id
  JOIN cand ON cand.poly_id = c.poly_id AND cand.cand_id = c.cand_id
) WHERE rn = 1
"""



_VAR_PCT = 5  # tail percent for VaR / ES



_KF_FOLDS = 5



_FD_CANDIDATES = [
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderdate", "o_orderstatus"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
]



def _fd_candidate_sql(table: str, det: str, dep: str) -> str:
    return f"""
  SELECT '{det}->{dep}' AS fd, cast(sum(nr) as bigint) AS n_rows,
         cast(count(*) as bigint) AS n_groups,
         cast(count(*) FILTER (WHERE card > 1) as bigint) AS n_violating,
         cast(max(card) as bigint) AS max_dep_card,
         cast(sum(nr - mx) as bigint) AS g3_remove
  FROM (
    SELECT {det}, cast(sum(c) as bigint) AS nr, cast(max(c) as bigint) AS mx,
           cast(count(*) as bigint) AS card
    FROM (SELECT {det}, {dep}, cast(count(*) as bigint) AS c
          FROM {table} GROUP BY {det}, {dep})
    GROUP BY {det}
  )"""



_CONDORCET_K = 12



_KM_HORIZONS = [1, 2, 5, 10, 15, 30, 60, 120, 240, 480]



_CD_ROUNDS = 5

_CD_SEED = 20  # cost-distance seeds: cells with >= this many events



_MK_CHANNELS = ["click", "error", "signup", "view"]

_MK_STEPS = 6

_MK_TICK = 1_000_000_000_000



def _markov_trans_sql() -> str:
    return """
seqd AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM events
), ps AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'purchase' THEN seq END) AS pseq,
         max(seq) AS mseq
  FROM seqd GROUP BY user_id
), kept AS (
  SELECT s.user_id, s.event_type, s.seq, p.pseq,
         lead(s.event_type) OVER (PARTITION BY s.user_id ORDER BY s.seq) AS nxt
  FROM seqd s JOIN ps p USING (user_id)
  WHERE s.seq <= coalesce(p.pseq, p.mseq)
), steps AS (
  SELECT 'START' AS s,
         CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS t
  FROM kept WHERE seq = 1
  UNION ALL
  SELECT event_type,
         CASE WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END
  FROM kept WHERE nxt IS NOT NULL
  UNION ALL
  SELECT event_type, 'DROP' FROM kept WHERE nxt IS NULL AND pseq IS NULL
), trans AS MATERIALIZED (
  -- MATERIALIZED: five propagation runs reference this matrix; without
  -- it DuckDB inlines and recomputes the events window chain per
  -- reference (~20 s of pure oracle-side recomputation at sf0.01)
  SELECT s, t, cast(count(*) as HUGEINT) AS cnt,
         cast(sum(count(*)) OVER (PARTITION BY s) as HUGEINT) AS total
  FROM steps GROUP BY s, t
)"""



def _markov_run_sql(tag: str, removed: str | None) -> str:
    """CTE chain propagating START mass for _MK_STEPS rounds with the
    per-term floor (m*cnt)//total, accumulating CONV absorption."""
    rf = f" AND t.s <> '{removed}' AND t.t <> '{removed}'" if removed else ""
    parts = [
        f"m_{tag}_0 AS (SELECT 'START' AS state, cast({_MK_TICK} as HUGEINT) AS m)"
    ]
    for k in range(_MK_STEPS):
        parts.append(
            f"""a_{tag}_{k} AS (
  SELECT coalesce(sum((m.m * t.cnt) // t.total), 0) AS a
  FROM m_{tag}_{k} m JOIN trans t ON t.s = m.state AND t.t = 'CONV'{rf}
)"""
        )
        if k < _MK_STEPS - 1:
            parts.append(
                f"""m_{tag}_{k + 1} AS (
  SELECT t.t AS state, cast(sum((m.m * t.cnt) // t.total) as HUGEINT) AS m
  FROM m_{tag}_{k} m JOIN trans t ON t.s = m.state{rf}
  WHERE t.t NOT IN ('CONV', 'DROP')
  GROUP BY t.t
)"""
            )
    absorbed = " + ".join(f"(SELECT a FROM a_{tag}_{k})" for k in range(_MK_STEPS))
    parts.append(f"p_{tag} AS (SELECT cast({absorbed} as HUGEINT) AS p)")
    return ",\n".join(parts)



_PQ_SUBS = 4  # subspaces (64-dim vectors -> 4 x 16)

_PQ_SUBDIM = 16

_PQ_K = 8  # codebook size per subspace

_PQ_ROUNDS = 2



def _pq_oracle_sql() -> str:
    """Unrolled product-quantization Lloyd rounds in SQL. Points are
    (vec_id, s, pos, val) component ticks; centroids likewise; every
    round is: d2 per (vec, s, cid) via a 16-way position join, argmin
    with the min(d2*K+cid)%K tie-break, then a componentwise trunc-div
    mean (empty codes keep the previous centroid via the coalesce
    spine)."""
    k, subs, sd = _PQ_K, _PQ_SUBS, _PQ_SUBDIM
    parts = [
        f"""comp AS (
  SELECT vec_id, s.s AS s, p.pos AS pos,
         cast(floor(cast(embedding[s.s * {sd} + p.pos] as double) * 1000) as bigint)
           AS val
  FROM embeddings,
       (SELECT unnest(range({subs})) AS s) s,
       (SELECT unnest(range(1, {sd} + 1)) AS pos) p
), cent0 AS (
  SELECT s, cast(vec_id as int) AS cid, pos, val AS cval
  FROM comp WHERE vec_id < {k}
)"""
    ]
    prev = "cent0"
    for r in range(1, _PQ_ROUNDS + 1):
        parts.append(
            f"""d_{r} AS (
  SELECT c.vec_id, c.s, ct.cid,
         sum((c.val - ct.cval) * (c.val - ct.cval)) AS d2
  FROM comp c JOIN {prev} ct ON ct.s = c.s AND ct.pos = c.pos
  GROUP BY c.vec_id, c.s, ct.cid
), asn_{r} AS (
  SELECT vec_id, s, cast(min(d2 * {k} + cid) % {k} as int) AS cid,
         cast(min(d2 * {k} + cid) // {k} as bigint) AS d2
  FROM d_{r} GROUP BY vec_id, s
)"""
        )
        if r < _PQ_ROUNDS:
            parts.append(
                f"""upd_{r} AS (
  SELECT a.s, a.cid, c.pos,
         cast(sum(c.val) // count(*) as bigint) AS cval
  FROM asn_{r} a JOIN comp c ON c.vec_id = a.vec_id AND c.s = a.s
  GROUP BY a.s, a.cid, c.pos
), cent_{r} AS (
  SELECT p.s, p.cid, p.pos, coalesce(u.cval, p.cval) AS cval
  FROM {prev} p LEFT JOIN upd_{r} u
    ON u.s = p.s AND u.cid = p.cid AND u.pos = p.pos
)"""
            )
            prev = f"cent_{r}"
    parts.append(
        f"""csum AS (
  SELECT s, cid, cast(sum(cval) as bigint) AS cent_sum FROM {prev}
  GROUP BY s, cid
)
SELECT a.s, a.cid, cast(count(*) as bigint) AS n_assigned,
       cast(sum(a.d2) as bigint) AS sse_q, any_value(c.cent_sum) AS cent_sum
FROM asn_{_PQ_ROUNDS} a JOIN csum c ON c.s = a.s AND c.cid = a.cid
GROUP BY a.s, a.cid ORDER BY a.s, a.cid"""
    )
    return "WITH " + ",\n".join(parts)



_CORR_FEATURES = [
    ("qty", "cast(round(l_quantity) as bigint)"),
    ("price_c", f"cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint)"),
    ("disc_t", f"cast(round(cast(l_discount as {DEC}) * 100) as bigint)"),
    ("tax_t", f"cast(round(cast(l_tax as {DEC}) * 100) as bigint)"),
]



def _corr_pair_sql(fa: str, fb: str) -> str:
    return f"""
  SELECT '{fa}' AS f1, '{fb}' AS f2, cast(n as bigint) AS n,
         cast(n * s_{fa}_{fb} - s_{fa} * s_{fb} as double) AS num,
         cast(n * s_{fa}_{fa} - s_{fa} * s_{fa} as double) AS vx,
         cast(n * s_{fb}_{fb} - s_{fb} * s_{fb} as double) AS vy,
         CASE WHEN n * s_{fa}_{fa} - s_{fa} * s_{fa} = 0
                OR n * s_{fb}_{fb} - s_{fb} * s_{fb} = 0 THEN 0.0
              ELSE cast(n * s_{fa}_{fb} - s_{fa} * s_{fb} as double)
                   / sqrt(cast(n * s_{fa}_{fa} - s_{fa} * s_{fa} as double))
                   / sqrt(cast(n * s_{fb}_{fb} - s_{fb} * s_{fb} as double)) END AS r
  FROM s"""



def _corr_oracle_sql() -> str:
    names = [n for n, _ in _CORR_FEATURES]
    cols = [f"{expr} AS {n}" for n, expr in _CORR_FEATURES]
    sums = ["cast(count(*) as HUGEINT) AS n"]
    for i, a in enumerate(names):
        sums.append(f"cast(sum({a}) as HUGEINT) AS s_{a}")
        for b in names[i:]:
            sums.append(f"cast(sum(cast({a} as HUGEINT) * {b}) as HUGEINT) AS s_{a}_{b}")
    pairs = [
        _corr_pair_sql(a, b) for i, a in enumerate(names) for b in names[i + 1 :]
    ]
    return (
        "WITH m AS (\n  SELECT " + ", ".join(cols) + " FROM lineitem\n), s AS (\n"
        "  SELECT " + ",\n         ".join(sums) + "\n  FROM m\n)\n"
        + "\nUNION ALL\n".join(pairs)
        + "\nORDER BY f1, f2"
    )



_BUF_D_MICRO = 2_000_000  # polygon buffer: 2.0 degrees in micro-degrees



_SFC_BITS = 6  # 64x64 audit lattice



def _sfc_oracle_sql() -> str:
    from gipspark.operators.hilbert import hilbert_sql
    from gipspark.operators.zorder import morton_key_sql

    n = 1 << _SFC_BITS
    cells = f"""
  SELECT DISTINCT
         (((cast(event_id as bigint) * {C.LON_MUL}) % {C.LON_MOD}) * {n})
           // {C.LON_MOD} AS cgx,
         (((cast(event_id as bigint) * {C.LAT_MUL}) % {C.LAT_MOD}) * {n})
           // {C.LAT_MOD} AS cgy
  FROM events"""
    hchain = hilbert_sql(
        "cgx * 64 + cgy", "cgx", "cgy", f"SELECT cgx, cgy FROM cells", bits=_SFC_BITS
    )
    return f"""
WITH cells AS ({cells}),
{hchain},
keyed AS (
  SELECT c.cgx, c.cgy,
         {morton_key_sql('c.cgx', 'c.cgy')} AS zkey,
         h.hkey
  FROM cells c JOIN hilbert h ON h.gx = c.cgx AND h.gy = c.cgy
), ranked AS (
  SELECT cgx, cgy,
         row_number() OVER (ORDER BY zkey) AS zrank,
         row_number() OVER (ORDER BY hkey) AS hrank
  FROM keyed
), pairs AS (
  SELECT a.zrank AS za, b.zrank AS zb, a.hrank AS ha, b.hrank AS hb
  FROM ranked a JOIN ranked b
    ON (b.cgx = a.cgx + 1 AND b.cgy = a.cgy)
  UNION ALL
  SELECT a.zrank, b.zrank, a.hrank, b.hrank
  FROM ranked a JOIN ranked b
    ON (b.cgx = a.cgx AND b.cgy = a.cgy + 1)
), stats AS (
  SELECT 'hilbert' AS curve,
         cast((SELECT count(*) FROM ranked) as bigint) AS n_cells,
         cast(count(*) as bigint) AS n_pairs,
         cast(sum(abs(ha - hb)) as bigint) AS gap_sum,
         cast(max(abs(ha - hb)) as bigint) AS gap_max
  FROM pairs
  UNION ALL
  SELECT 'zorder',
         cast((SELECT count(*) FROM ranked) as bigint),
         cast(count(*) as bigint),
         cast(sum(abs(za - zb)) as bigint),
         cast(max(abs(za - zb)) as bigint)
  FROM pairs
)
SELECT curve, n_cells, n_pairs, gap_sum, gap_max,
       cast(gap_sum * 1000000 // n_pairs as bigint) AS mean_gap_q
FROM stats ORDER BY curve
"""



_BPE_ROUNDS = 4



def _bpe_oracle_sql() -> str:
    """Unrolled BPE merge-training rounds. Symbol strings use the
    double-space separator convention (' a  b  c ') so the padded
    replace pattern ' a  b ' consumes only ONE of the two separator
    spaces — disjoint occurrences of the same pair all merge in one
    left-to-right pass, exactly the greedy classic-BPE semantics, and
    token boundaries can never false-match inside a symbol."""
    parts = [
        """w_0 AS (
  SELECT word, cast(count(*) as bigint) AS freq,
         ' ' || replace(trim(regexp_replace(word, '(.)', '\\1 ', 'g')), ' ', '  ')
             || '  </w> ' AS s
  FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY word
)"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        prev = f"w_{r - 1}"
        parts.append(
            f"""p_{r} AS (
  SELECT pair, cast(sum(freq) as bigint) AS weight
  FROM (
    SELECT freq, unnest(
      list_transform(
        generate_series(1, len(regexp_split_to_array(trim(s), ' +')) - 1),
        i -> (regexp_split_to_array(trim(s), ' +'))[i] || ' '
             || (regexp_split_to_array(trim(s), ' +'))[i + 1])) AS pair
    FROM {prev}
  ) GROUP BY pair
), b_{r} AS (
  SELECT pair, weight FROM p_{r} ORDER BY weight DESC, pair LIMIT 1
), w_{r} AS (
  SELECT w.word, w.freq,
         replace(w.s, ' ' || replace(b.pair, ' ', '  ') || ' ',
                 ' ' || replace(b.pair, ' ', '') || ' ') AS s
  FROM {prev} w, b_{r} b
), o_{r} AS (
  SELECT {r} AS rnd, b.pair, replace(b.pair, ' ', '') AS merged, b.weight,
         (SELECT cast(sum(freq * len(regexp_split_to_array(trim(s), ' +')))
                 as bigint) FROM w_{r}) AS n_symbols_after
  FROM b_{r} b
)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM o_{r}" for r in range(1, _BPE_ROUNDS + 1))
    return "WITH " + ",\n".join(parts) + f"\n{union} ORDER BY rnd"



_PACF_LAGS = 5



def _dl_levels(divop: str) -> list[list[tuple[str, str]]]:
    """Durbin-Levinson recursion on 1e6-tick autocorrelations, one
    level per list entry as (column, integer-expr) pairs. All ops are
    integer (products of tick values, truncating division `divop` =
    Spark `div` / DuckDB `//` — verified same truncation), so the two
    engines agree bit-for-bit regardless of expression nesting."""
    T = 1_000_000
    levels = [[("p_1_1", "r1q")]]
    for k in range(2, _PACF_LAGS + 1):
        prev = k - 1
        num = f"r{k}q * {T} - (" + " + ".join(
            f"p_{prev}_{j} * r{k - j}q" for j in range(1, k)
        ) + ")"
        den = f"{T} * cast({T} as bigint) - (" + " + ".join(
            f"p_{prev}_{j} * r{j}q" for j in range(1, k)
        ) + ")"
        lvl = [(f"p_{k}_{k}", f"(({num}) * {T}) {divop} ({den})")]
        for j in range(1, k):
            lvl.append(
                (f"p_{k}_{j}", f"p_{prev}_{j} - (p_{k}_{k} * p_{prev}_{k - j}) {divop} {T}")
            )
        levels.append(lvl)
    return levels



def _acf_pacf_oracle_sql() -> str:
    lags = ",".join(f"({j})" for j in range(1, _PACF_LAGS + 1))
    cj = ", ".join(
        f"max(CASE WHEN j = {j} THEN cnum END) AS c{j}" for j in range(1, _PACF_LAGS + 1)
    )
    rq = ", ".join(f"(c{j} * 1000000) // c0 AS r{j}q" for j in range(1, _PACF_LAGS + 1))
    ctes = []
    prev = "ticks"
    for i, lvl in enumerate(_dl_levels("//"), start=1):
        cols = ", ".join(f"{e} AS {nm}" for nm, e in lvl)
        ctes.append(f"l{i}a AS (SELECT *, {lvl[0][1]} AS {lvl[0][0]} FROM {prev})")
        rest = ", ".join(f"{e} AS {nm}" for nm, e in lvl[1:])
        if rest:
            ctes.append(f"l{i} AS (SELECT *, {rest} FROM l{i}a)")
        else:
            ctes.append(f"l{i} AS (SELECT * FROM l{i}a)")
        prev = f"l{i}"
    pacf_rows = " UNION ALL ".join(
        f"""SELECT {j} AS lag, cast(c{j} as double) AS c_num, r{j}q AS r_q,
               p_{j}_{j} AS pacf_q,
               cast({" + ".join(
                   f"(n * (n + 2) * r{i}q * r{i}q) // ((n - {i}) * 1000000)"
                   for i in range(1, j + 1)
               )} as bigint) AS lb_cum_q
        FROM {prev}"""
        for j in range(1, _PACF_LAGS + 1)
    )
    return f"""
WITH daily AS (
  SELECT epoch_us(o_orderdate) // 1000000 // 86400 AS d,
         cast(sum(cast(round(cast(o_totalprice as decimal(18,2)) * 100) as bigint))
              as bigint) AS x
  FROM orders GROUP BY d
), idx AS (
  SELECT row_number() OVER (ORDER BY d) AS k, x FROM daily
), mom AS (
  SELECT cast(count(*) as bigint) AS n, cast(sum(x) as HUGEINT) AS sx FROM idx
), z AS (
  SELECT idx.k, cast(mom.n as HUGEINT) * idx.x - mom.sx AS z, mom.n FROM idx, mom
), cov AS (
  SELECT j.j, cast(sum(a.z * b.z) as HUGEINT) AS cnum
  FROM (SELECT unnest(range(0, {_PACF_LAGS + 1})) AS j) j
  JOIN z a ON true
  JOIN z b ON b.k = a.k + j.j
  GROUP BY j.j
), wide AS (
  SELECT any_value(n) AS n,
         max(CASE WHEN j = 0 THEN cnum END) AS c0, {cj}
  FROM cov, (SELECT any_value(n) AS n FROM z)
), ticks AS (
  SELECT cast(n as bigint) AS n,
         cast(c0 as HUGEINT) AS c0,
         {", ".join(f"cast(c{j} as HUGEINT) AS c{j}" for j in range(1, _PACF_LAGS + 1))},
         {rq}
  FROM wide
),
{",".join(ctes)}
{pacf_rows} ORDER BY lag
"""



_NEYMAN_BUDGET = 1000



_RS_WINDOWS = [7, 14, 28]



_VOPT_B = 6

_VOPT_GRID = 10_000  # dollars per histogram value bucket



def _voptimal_oracle_sql() -> str:
    # CASE-guarded: engines may reorder pushed predicates around the
    # join condition, evaluating the quotient on not-yet-filtered pairs
    seg = (
        "(CASE WHEN pi.c - pj.c > 0 THEN"
        " ((pi.ss - pj.ss) * (pi.c - pj.c) - (pi.s - pj.s) * (pi.s - pj.s))"
        " // (pi.c - pj.c) END)"
    )
    ctes = [
        f"""h AS (
  SELECT cast(round(cast(o_totalprice as decimal(18,2)) * 100) as bigint)
           // 100 // {_VOPT_GRID} AS v,
         cast(count(*) as bigint) AS cnt,
         cast(sum(cast(round(cast(o_totalprice as decimal(18,2)) * 100) as bigint)
                  // 100) as HUGEINT) AS s,
         cast(sum((cast(round(cast(o_totalprice as decimal(18,2)) * 100) as bigint)
                   // 100)
                  * (cast(round(cast(o_totalprice as decimal(18,2)) * 100) as bigint)
                     // 100)) as HUGEINT) AS ss
  FROM orders GROUP BY v
), p AS (
  SELECT row_number() OVER (ORDER BY v) AS i, v,
         sum(cnt) OVER (ORDER BY v) AS c,
         sum(s) OVER (ORDER BY v) AS s,
         sum(ss) OVER (ORDER BY v) AS ss
  FROM h
), p0 AS (
  SELECT 0 AS i, cast(0 as bigint) AS v, cast(0 as HUGEINT) AS c,
         cast(0 as HUGEINT) AS s, cast(0 as HUGEINT) AS ss
  UNION ALL SELECT i, v, c, s, ss FROM p
), nmax AS (SELECT cast(max(i) as bigint) AS n FROM p),
best_1 AS (
  SELECT pi.i, cast({seg.replace('pj.', 'z.')} as bigint) AS cost,
         cast(0 as bigint) AS lastj
  FROM p pi, (SELECT * FROM p0 WHERE i = 0) z
)"""
    ]
    for b in range(2, _VOPT_B + 1):
        ctes.append(
            f"""cand_{b} AS (
  SELECT pi.i, bb.cost + cast({seg} as bigint) AS total, pj.i AS j
  FROM best_{b - 1} bb JOIN p0 pj ON pj.i = bb.i
  JOIN p pi ON pi.i > pj.i
), best_{b} AS (
  SELECT c.i, m.cost, cast(min(c.j) as bigint) AS lastj
  FROM cand_{b} c JOIN (SELECT i, min(total) AS cost FROM cand_{b} GROUP BY i) m
    ON m.i = c.i AND c.total = m.cost
  GROUP BY c.i, m.cost
)"""
        )
    rows = " UNION ALL ".join(
        f"""SELECT {b} AS n_buckets, cast(bb.cost as bigint) AS total_cost,
               bb.lastj AS last_split_i,
               (SELECT cast(v as bigint) FROM p0 WHERE i = bb.lastj) AS last_split_v
        FROM best_{b} bb, nmax WHERE bb.i = nmax.n"""
        for b in range(1, _VOPT_B + 1)
    )
    return "WITH " + ",\n".join(ctes) + f"\n{rows} ORDER BY n_buckets"



def _abs_pair_sum_sql(ha: str, hb: str) -> str:
    """Sum over all cross pairs of |a - b| from two value histograms,
    without materializing pairs: merge the histograms on the value
    spine; at each a-value, Sum_b |a - b| = a*(2*cumcnt_b - nb)
    - 2*cumsum_b + sumb_total (split below/above)."""
    return f"""
  SELECT cast(sum(a.c * (a.v * (2 * w.cumc - w.nb) - 2 * w.cums + w.sumb))
              as HUGEINT) AS s
  FROM {ha} a JOIN (
    SELECT sp.v,
           coalesce(sum(b.c) OVER (ORDER BY sp.v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cumc,
           coalesce(sum(b.c * b.v) OVER (ORDER BY sp.v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cums,
           (SELECT sum(c) FROM {hb}) AS nb,
           (SELECT sum(c * v) FROM {hb}) AS sumb
    FROM (SELECT DISTINCT v FROM {ha} UNION SELECT DISTINCT v FROM {hb}) sp
    LEFT JOIN {hb} b ON b.v = sp.v
  ) w ON w.v = a.v
"""



_LSH_SWEEP = [(2, 4), (4, 2), (8, 1)]  # (bands, rows-per-band) over 8 hashes



def _lsh_sweep_oracle_sql() -> str:
    parts = [_minhash_sig_sql(8, 2, with_kw=False)]
    parts.append(
        """post AS (SELECT doc_id, unnest(sh) AS s, len(sh) AS sz FROM base),
truth AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           cast(count(*) as bigint) AS common,
           any_value(a.sz) AS sz_a, any_value(b.sz) AS sz_b
    FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY id_a, id_b
  ) WHERE 2 * common >= sz_a + sz_b - common
), nt AS (SELECT cast(count(*) as bigint) AS n_truth FROM truth)"""
    )
    rows = []
    for bands, rpb in _LSH_SWEEP:
        buckets = []
        for band in range(bands):
            key = " || ',' || ".join(
                f"cast(h{band * rpb + j} as varchar)" for j in range(rpb)
            )
            buckets.append(f"({band}, " + D.MD5_LONG_SQL.format(x=key) + ")")
        parts.append(
            f"""banded_{bands} AS (
  SELECT doc_id, b.band, b.bucket FROM sig, LATERAL (
    SELECT * FROM (VALUES {", ".join(buckets)}) AS t(band, bucket)) b
), cand_{bands} AS (
  SELECT a.doc_id AS id_a, bb.doc_id AS id_b
  FROM banded_{bands} a JOIN banded_{bands} bb
    ON a.band = bb.band AND a.bucket = bb.bucket AND a.doc_id < bb.doc_id
  GROUP BY id_a, id_b
), st_{bands} AS (
  SELECT {bands} AS bands, {rpb} AS rows_per_band,
         (SELECT cast(count(*) as bigint) FROM cand_{bands}) AS n_cand,
         (SELECT cast(count(*) as bigint) FROM truth t
          JOIN cand_{bands} c ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_tp
)"""
        )
        rows.append(
            f"""SELECT bands, rows_per_band, nt.n_truth, n_cand, n_tp,
       cast(CASE WHEN n_cand = 0 THEN 0
                 ELSE n_tp * 1000000 // n_cand END as bigint) AS precision_q,
       cast(CASE WHEN nt.n_truth = 0 THEN 0
                 ELSE n_tp * 1000000 // nt.n_truth END as bigint) AS recall_q
FROM st_{bands}, nt"""
        )
    return "WITH " + ",\n".join(parts) + "\n" + " UNION ALL ".join(rows) + " ORDER BY bands"



_HAMPEL_K = 3  # half-window (calendar days); MAD multiplier 3 (x1.4826 folded)



_BURST_FLAT = 30

_BURST_SWITCH = 120



_ATTACK_KS = [0, 2, 8]



def _attack_oracle_sql() -> str:
    base = f"""und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM (
    SELECT doc_id AS src,
           (doc_id + 1 + {_TRI_DST} % 25) % (SELECT count(*) FROM documents) AS dst
    FROM documents, (VALUES (0),(1),(2),(4),(5)) AS t(j)
  ) WHERE src <> dst
), deg AS (
  SELECT id, cast(count(*) as bigint) AS deg
  FROM (SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
  GROUP BY id
), ranked AS (
  SELECT id, row_number() OVER (ORDER BY deg DESC, id) AS rk FROM deg
)"""
    parts = [base]
    rows = []
    for k in _ATTACK_KS:
        parts.append(
            f"""kept_{k} AS (
  SELECT id FROM ranked WHERE rk > {k}
), ue_{k} AS (
  SELECT u.a, u.b FROM und u
  JOIN kept_{k} ka ON ka.id = u.a JOIN kept_{k} kb ON kb.id = u.b
), se_{k} AS (
  SELECT a AS u, b AS v FROM ue_{k} UNION ALL SELECT b, a FROM ue_{k}
), reach_{k}(src, node) AS (
  SELECT id, id FROM kept_{k}
  UNION
  SELECT r.src, e.v FROM reach_{k} r JOIN se_{k} e ON e.u = r.node
), comp_{k} AS (
  SELECT node, min(src) AS comp FROM reach_{k} GROUP BY node
), st_{k} AS (
  SELECT {k} AS k_removed,
         cast(count(*) as bigint) AS n_nodes,
         cast(count(DISTINCT comp) as bigint) AS n_components,
         cast(max(csz) as bigint) AS giant_size
  FROM (SELECT comp, node, count(*) OVER (PARTITION BY comp) AS csz FROM comp_{k})
)"""
        )
        rows.append(
            f"""SELECT k_removed, n_nodes, n_components, giant_size,
       cast(giant_size * 1000000 // n_nodes as bigint) AS giant_share_q
FROM st_{k}"""
        )
    return (
        "WITH RECURSIVE "
        + ",\n".join(parts)
        + "\n"
        + " UNION ALL ".join(rows)
        + " ORDER BY k_removed"
    )



_HLL_TRAIL_D = 6  # trailing window: day and the 6 preceding days



_CAMPAIGNS = [
    ("c1", "2024-01-03", "2024-01-06"),
    ("c2", "2024-01-08", "2024-01-15"),
    ("c3", "2024-01-14", "2024-01-17"),
    ("c4", "2024-01-20", "2024-01-21"),
    ("c5", "2024-01-24", "2024-01-31"),
]

_SESS_GAP_MIN = 30



_BAL_COVS = [
    ("n_events", "cast(count(*) as bigint)"),
    ("value_cents", f"cast(sum(cast(round(cast(value as {DEC}) * 100) as bigint)) as bigint)"),
    ("n_types", "cast(count(DISTINCT event_type) as bigint)"),
    ("span_min", "cast((max(epoch_us(ts)) - min(epoch_us(ts))) // 60000000 as bigint)"),
]



def _balance_oracle_sql() -> str:
    cov_cols = ", ".join(f"{expr} AS {n}" for n, expr in _BAL_COVS)
    rows = []
    for n, _ in _BAL_COVS:
        rows.append(
            f"""SELECT '{n}' AS covariate,
       cast(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) as bigint) AS n_c,
       cast(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) as bigint) AS n_t,
       cast(sum(CASE WHEN arm = 0 THEN {n} ELSE 0 END) as HUGEINT) AS s_c,
       cast(sum(CASE WHEN arm = 1 THEN {n} ELSE 0 END) as HUGEINT) AS s_t,
       cast(sum(CASE WHEN arm = 0 THEN cast({n} as HUGEINT) * {n} ELSE 0 END)
            as HUGEINT) AS ss_c,
       cast(sum(CASE WHEN arm = 1 THEN cast({n} as HUGEINT) * {n} ELSE 0 END)
            as HUGEINT) AS ss_t
FROM m"""
        )
    union = " UNION ALL ".join(f"({r})" for r in rows)
    return f"""
WITH per_user AS (
  SELECT user_id, {cov_cols} FROM events GROUP BY user_id
), m AS (
  SELECT *, {D.MD5_LONG_SQL.format(x="concat('ab:', cast(user_id as varchar))")} % 2
           AS arm
  FROM per_user
), stats AS ({union})
SELECT covariate, n_c, n_t,
       cast(s_c as double) AS s_c, cast(s_t as double) AS s_t,
       CASE WHEN ss_t * n_t - s_t * s_t = 0 AND ss_c * n_c - s_c * s_c = 0
            THEN 0.0
            ELSE (cast(s_t as double) / cast(n_t as double)
                  - cast(s_c as double) / cast(n_c as double))
                 / sqrt(((cast(ss_t as double)
                          - cast(s_t as double) * cast(s_t as double)
                            / cast(n_t as double))
                         + (cast(ss_c as double)
                            - cast(s_c as double) * cast(s_c as double)
                              / cast(n_c as double)))
                        / cast(n_t + n_c - 2 as double)) END AS smd
FROM stats ORDER BY covariate
"""



_GALL_SEATS = 60



_EWMA_W = 8  # trailing window (calendar days); lambda = 1/2 dyadic weights



_OLC_ALPHABET = "23456789CFGHJMQRVWX"



# --- round-4 session-4 batch 2: UTM interop, terrain indices, Friedman, PA


_UTM_BANDS = "CDEFGHJKLMNPQRSTUVWX"



_SEMDEDUP_TAU = 0.4



# NDCG@10: the discount weights 1/log2(rank+1) are the ONLY log this op
# needs, and every argument is a constant rank 1..10 — so the weights are
# precomputed here once and inlined as identical integer literals (nano
# scale) into BOTH engines, keeping the repo-wide no-data-dependent-ln()
# discipline intact while still being real NDCG.
_NDCG_K = 10

_NDCG_W = [round(1e9 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1)]

_NDCG_CASE = " ".join(f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W))



_COCHRAN_TYPES = ["view", "click", "purchase"]



# Wald SPRT constants: H0 p=0.2 vs H1 p=0.5 Bernoulli (success = a
# purchase event), alpha = beta = 0.05. The four log terms take only
# CONSTANT arguments, so they are precomputed once and inlined as
# identical nano-nat integer literals both engines (same discipline as
# _NDCG_W): per-step increments ln(p1/p0), ln((1-p1)/(1-p0)) and the
# Wald thresholds ln((1-beta)/alpha), ln(beta/(1-alpha)).
_SPRT_S = round(1e9 * math.log(0.5 / 0.2))

_SPRT_F = round(1e9 * math.log(0.5 / 0.8))

_SPRT_A = round(1e9 * math.log(0.95 / 0.05))

_SPRT_B = round(1e9 * math.log(0.05 / 0.95))



# Light suffix stemmer — ONE textual rule set evaluated as SQL in both
# engines (Spark F.expr and DuckDB share the CASE/right/substr dialect),
# so the collapse is definitionally identical: no libm, no regex-engine
# divergence, just string slicing.
_LIGHT_STEM = (
    "CASE"
    " WHEN length({w}) > 4 AND right({w}, 3) = 'ies' THEN concat(substr({w}, 1, length({w}) - 3), 'y')"
    " WHEN length({w}) > 5 AND right({w}, 3) = 'ing' THEN substr({w}, 1, length({w}) - 3)"
    " WHEN length({w}) > 4 AND right({w}, 2) = 'ed' THEN substr({w}, 1, length({w}) - 2)"
    " WHEN length({w}) > 3 AND right({w}, 1) = 's' AND right({w}, 2) != 'ss' THEN substr({w}, 1, length({w}) - 1)"
    " ELSE {w} END"
)



# 2x bilinear upsample scatter weights: coarse (gx,gy) -> fine (2gx+a,
# 2gy+b), per-axis weight 3 for the primary offsets {0,1} and 1 for the
# halo offsets {-1,2}; 2-D weight = wx*wy in {9,3,1}, sums to 16 per
# fine cell when all four coarse parents exist.
_RESAMPLE_W = [
    (a, b, (3 if a in (0, 1) else 1) * (3 if b in (0, 1) else 1))
    for a in (-1, 0, 1, 2)
    for b in (-1, 0, 1, 2)
]

_RESAMPLE_VALUES = ",".join(f"({a},{b},{w})" for a, b, w in _RESAMPLE_W)



_POT_THRESHOLDS = [100000, 200000, 300000, 400000, 450000]



_BALL_SEEDS = 10

_BALL_HOPS = 4



# O'Brien-Fleming-style boundary constant for a two-sided 0.05 design,
# inlined as the same literal both engines (the only non-rational input).
_OBF_C = 1.969



# Truncated RBO@10 weights: (1-p)·p^(d-1) at p=0.9 — constant-argument
# powers inlined as nano-scale integer literals both engines.
_RBO_P = 0.9

_RBO_W = [round(1e9 * (1 - _RBO_P) * _RBO_P ** (d - 1)) for d in range(1, 11)]

_RBO_CASE = " ".join(f"WHEN {d + 1} THEN {w}" for d, w in enumerate(_RBO_W))



_MKNN_DOT = _DOT



_SIL_SCALE = 1000000



# Evans–Young 3x3 quadratic-fit second derivatives: the kernel weights
# are symmetric under offset negation, so the scatter and gather forms
# coincide — one offset explode serves all three kernels. x12 scale
# clears the /3 and /4 denominators to keep everything integer.
_EVANS_OFFSETS = [
    (
        dx,
        dy,
        4 * ((1 if abs(dx) == 1 else -2)),  # r (d2z/dx2) x12
        4 * ((1 if abs(dy) == 1 else -2)),  # t (d2z/dy2) x12
        3 * (dx * dy),  # s (d2z/dxdy) x12: kernel weight dx*dy/4, x12 -> 3*dx*dy
    )
    for dx in (-1, 0, 1)
    for dy in (-1, 0, 1)
]

_EVANS_VALUES = ",".join(f"({dx},{dy},{wr},{wt},{ws})" for dx, dy, wr, wt, ws in _EVANS_OFFSETS)



_LR_SEATS = 100



# Business-day counter: g(x) = 5·(x div 7) + min(x mod 7, 5) counts the
# business days in [anchor, anchor+x) when the anchor is a MONDAY;
# 1992-01-06 is a Monday strictly before every date in the tables.
_BD_ANCHOR = "1992-01-06"



# Literal query rectangles for the summed-area-table contract, in grid
# coordinates (x1 <= x <= x2, y1 <= y <= y2), chosen to cover interior,
# edge, and full-span cases on the 36x18 (grid=10 deg) lattice.
_SAT_RECTS = [
    (0, 5, 10, 8, 12),
    (1, 0, 35, 0, 17),
    (2, 12, 20, 3, 9),
    (3, 30, 35, 14, 17),
    (4, 0, 0, 0, 0),
]

_SAT_RECT_VALUES = ",".join(f"({r},{x1},{x2},{y1},{y2})" for r, x1, x2, y1, y2 in _SAT_RECTS)



def _linear_ref_oracle() -> str:
    from gipspark.operators.distance import snap_to_edge_sql

    pts = (
        "(SELECT c_custkey, "
        f"{_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon "
        "FROM customer)"
    )
    snap = snap_to_edge_sql(pts, "c_custkey", ORACLE_POLYGONS)
    head, tail = snap.rsplit("\nSELECT c_custkey,", 1)
    return (
        "WITH "
        + head
        + ", snapped AS (SELECT c_custkey,"
        + tail
        + """),
elen AS (
  SELECT poly_id, edge_idx, x1, y1,
         coalesce(sum(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)))
                  OVER (PARTITION BY poly_id ORDER BY edge_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_before
  FROM edges
)
SELECT s.c_custkey, s.nearest_poly, s.edge_idx, s.d2_ticks,
       cast(round((e.cum_before
            + sqrt((s.snap_lon_ticks / 1000000.0 - e.x1) * (s.snap_lon_ticks / 1000000.0 - e.x1)
                 + (s.snap_lat_ticks / 1000000.0 - e.y1) * (s.snap_lat_ticks / 1000000.0 - e.y1)))
            * 1000000.0, 0) as bigint) AS chainage_ticks
FROM snapped s JOIN elen e ON s.nearest_poly = e.poly_id AND s.edge_idx = e.edge_idx
ORDER BY s.c_custkey
"""
    )



_PIDX_BASE = 199501



_STTR_WIN = 50



def _snap_tick_expr(lon: str, lat: str, x1: float, y1: float, x2: float, y2: float) -> str:
    """Textual d² ticks for one edge — the SAME formula text as
    snap_to_edge_sql so every engine sees identical literals and
    operation order (repr floats, same clamp, same round)."""
    t = (
        f"greatest(0.0, least(1.0, "
        f"(({lon} - {x1!r}) * {(x2 - x1)!r} + ({lat} - {y1!r}) * {(y2 - y1)!r}) / "
        f"{((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))!r}))"
    )
    cx = f"({x1!r} + {t} * {(x2 - x1)!r})"
    cy = f"({y1!r} + {t} * {(y2 - y1)!r})"
    return (
        f"cast(round((({lon} - {cx}) * ({lon} - {cx}) + ({lat} - {cy}) * ({lat} - {cy}))"
        f" * 1000000.0, 0) as bigint)"
    )



def _snap_ambiguity_oracle() -> str:
    from gipspark.operators.distance import _polygon_edges

    cands = ", ".join(
        f"({pid}, {i}, {_snap_tick_expr('p.lon', 'p.lat', x1, y1, x2, y2)})"
        for pid, i, x1, y1, x2, y2 in _polygon_edges(ORACLE_POLYGONS)
    )
    return f"""
WITH p AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), cand AS (
  SELECT p.c_custkey, c.poly_id, c.edge_idx, c.ticks
  FROM p, LATERAL (SELECT * FROM (VALUES {cands}) AS v(poly_id, edge_idx, ticks)) c
), ranked AS (
  SELECT c_custkey, poly_id, edge_idx, ticks,
         row_number() OVER (PARTITION BY c_custkey ORDER BY ticks, poly_id, edge_idx) AS rn
  FROM cand
)
SELECT a.c_custkey,
       cast(a.poly_id as bigint) AS best_poly, cast(a.edge_idx as bigint) AS best_edge,
       a.ticks AS best_ticks, b.ticks AS second_ticks,
       cast(b.ticks - a.ticks as bigint) AS gap_ticks,
       cast(a.ticks * 1000000 // greatest(b.ticks, 1) as bigint) AS ambiguity_micro
FROM ranked a JOIN ranked b ON a.c_custkey = b.c_custkey AND a.rn = 1 AND b.rn = 2
ORDER BY a.c_custkey
"""



_WIDEST_SEEDS = 5

_WIDEST_HOPS = 3



_SHAPE_GRID = 5.0  # finer than _MORAN_GRID so the lattice fragments into real patches



# Bernoulli CUSUM shares the SPRT's constant-log increments; the alarm
# threshold h is the same ln(19) Wald bound in nano-nats.
_CUSUM_H = _SPRT_A



_RFM_SPLIT = "2024-01-16"



_DIVISION_BASKET = [558, 817, 1182]  # high-supplier-coverage parts: division result non-empty at sf0.01



# int8 dot on the SAME symmetric per-vector quantization as
# embedding_int8_quantize: q = floor(v*127/absmax + 0.5).
_INT8_Q = (
    "list_transform({e}, v -> cast(floor(v::double * (127.0 / list_max(list_transform({e}, x -> abs(x::double)))) + 0.5) as bigint))"
)



_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]




_OD_GRID = 45.0  # coarse macro-region cells so OD pairs accumulate enough flow



_PERIODS = [1, 2, 3, 4, 5, 6, 7, 8]



# --- graph cohesion / web-spam / calibration / leakage (round-4 batch) -----


_KT_K = 4

_KT_ROUNDS = 2

_KT_DST = D.MD5_LONG_SQL.format(
    x="concat('kt:', cast(j as varchar), ':', cast(doc_id as varchar))"
)



def _ktruss_oracle_sql() -> str:
    sql = f"""
WITH edges_raw AS (
  SELECT doc_id AS src,
         (doc_id + 1 + {_KT_DST} % 18) % {_PR_N} AS dst
  FROM documents, (VALUES (0),(1),(2),(3),(4),(5)) AS t(j)
),
e0 AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges_raw WHERE src <> dst
)"""
    for r in range(_KT_ROUNDS + 1):
        sql += f""",
tri{r} AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e{r} e1 JOIN e{r} e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e{r} e3 ON e3.a = e1.b AND e3.b = e2.b
),
sup{r} AS (
  SELECT a, b, cast(count(*) as bigint) AS support FROM (
    SELECT x AS a, y AS b FROM tri{r}
    UNION ALL SELECT x AS a, z AS b FROM tri{r}
    UNION ALL SELECT y AS a, z AS b FROM tri{r}
  ) GROUP BY a, b),
e{r + 1} AS (SELECT a, b FROM sup{r} WHERE support >= {_KT_K - 2})"""
    sql += f"""
SELECT a, b, support FROM sup{_KT_ROUNDS} WHERE support >= {_KT_K - 2} ORDER BY a, b
"""
    return sql



_TR_SEEDTICK = f"(1000000000000 // (({_PR_N} + 15) // 16))"

_TR_BASE = f"((15 * {_TR_SEEDTICK}) // 100)"



def _trustrank_oracle_sql() -> str:
    sql = f"""
WITH nodes AS (SELECT doc_id AS id FROM documents),
edges AS (
  SELECT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
),
deg AS (SELECT src, cast(count(*) as bigint) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT id, 1000000000000 // {_PR_N} AS rank FROM nodes),
t0 AS (SELECT id, CASE WHEN id % 16 = 0 THEN {_TR_SEEDTICK} ELSE 0 END AS trust FROM nodes)"""
    for r in range(3):
        sql += f""",
c{r + 1} AS (SELECT dst, cast(sum(rank // outdeg) as bigint) AS in_sum
       FROM edges JOIN r{r} ON edges.src = r{r}.id JOIN deg ON edges.src = deg.src GROUP BY dst),
r{r + 1} AS (SELECT n.id,
       cast((15 * (1000000000000 // {_PR_N})) // 100
            + (85 * coalesce(in_sum, 0)) // 100 as bigint) AS rank
       FROM nodes n LEFT JOIN c{r + 1} ON n.id = c{r + 1}.dst),
tc{r + 1} AS (SELECT dst, cast(sum(trust // outdeg) as bigint) AS in_sum
       FROM edges JOIN t{r} ON edges.src = t{r}.id JOIN deg ON edges.src = deg.src GROUP BY dst),
t{r + 1} AS (SELECT n.id,
       cast(CASE WHEN n.id % 16 = 0 THEN {_TR_BASE} ELSE 0 END
            + (85 * coalesce(in_sum, 0)) // 100 as bigint) AS trust
       FROM nodes n LEFT JOIN tc{r + 1} ON n.id = tc{r + 1}.dst)"""
    sql += """
SELECT p.id, p.rank, t.trust,
       cast((greatest(p.rank - t.trust, 0) * 1000000) // p.rank as bigint) AS spam_mass_micro
FROM r3 p JOIN t3 t ON p.id = t.id ORDER BY p.id
"""
    return sql



_SPLIT_A = D.MD5_LONG_SQL.format(x="concat('split:', cast(id_a as varchar))") + " % 10"

_SPLIT_B = D.MD5_LONG_SQL.format(x="concat('split:', cast(id_b as varchar))") + " % 10"



_HW_PTS = f"""
  SELECT user_id, cast(hour(ts) as int) AS h,
         cast(floor((({C.DERIVED_LON_SQL.format(k='event_id')}) + 180.0) / 2.5) as int) AS gx,
         cast(floor((90.0 - ({C.DERIVED_LAT_SQL.format(k='event_id')})) / 2.5) as int) AS gy
  FROM events
"""



_CEM_TRT = D.MD5_LONG_SQL.format(x="concat('trt:', cast(user_id as varchar))")



# Shapley terms for |C| = 3 channels (bits: 1=view, 2=click, 4=signup):
# (channel bit i, subset mask S of the OTHER channels, 6x Shapley weight
# |S|!(2-|S|)! — 2 for |S| in {0,2}, 1 for |S|=1).
_SHAP_TERMS = [
    (1, 0, 2), (1, 2, 1), (1, 4, 1), (1, 6, 2),
    (2, 0, 2), (2, 1, 1), (2, 4, 1), (2, 5, 2),
    (4, 0, 2), (4, 1, 1), (4, 2, 1), (4, 3, 2),
]



_IBN_BATCH = D.MD5_LONG_SQL.format(x="concat('batch:', cast(doc_id as varchar))")



_RSV_GRID = [2_000_000, 4_000_000, 6_000_000, 8_000_000, 10_000_000]  # cents



_SRM_ARM = D.MD5_LONG_SQL.format(x="concat('arm:', cast(user_id as varchar))")



def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 sign matrix for 8 JL planes × 64 dims, derived
    from md5 parity (precomputed in Python; baked as literals into BOTH
    the Spark plan and the oracle so the two share one matrix)."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"jl:{j}:{i}".encode()).digest()[0] % 2 else -1
            for i in range(64)
        ]
        for j in range(8)
    ]



def _jl_oracle_sql() -> str:
    signs = _jl_signs()
    proj = lambda e, j: (  # noqa: E731
        f"list_reduce(list_transform(generate_series(1, 64), i -> ({e})[i]::double"
        f" * ([{', '.join(str(s) for s in signs[j])}][i])::double), (acc, x) -> acc + x)"
    )
    d2p = " + ".join(
        f"({proj('a.embedding', j)} - {proj('b.embedding', j)})"
        f" * ({proj('a.embedding', j)} - {proj('b.embedding', j)})"
        for j in range(8)
    )
    return f"""
WITH pr AS (
  SELECT a.vec_id // 2 AS pair_id,
         list_reduce(list_transform(generate_series(1, 64),
           i -> ((a.embedding)[i]::double - (b.embedding)[i]::double)
              * ((a.embedding)[i]::double - (b.embedding)[i]::double)),
           (acc, x) -> acc + x) AS d2_full,
         {d2p} AS d2_proj
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id < 40 AND a.vec_id % 2 = 0
)
SELECT pair_id, d2_full, d2_proj, d2_proj / (8.0 * d2_full) AS jl_ratio
FROM pr ORDER BY pair_id
"""



_NGS_LAT_A = f"({C.DERIVED_LAT_SQL.format(k='id_a')})"

_NGS_LON_A = f"({C.DERIVED_LON_SQL.format(k='id_a')})"

_NGS_LAT_B = f"({C.DERIVED_LAT_SQL.format(k='id_b')})"

_NGS_LON_B = f"({C.DERIVED_LON_SQL.format(k='id_b')})"



_CM_VARS = [
    ("qty", "cast(l_quantity as bigint)"),
    ("price_c", f"cast(round(cast(l_extendedprice as {DEC}) * 100) as bigint)"),
    ("disc_pct", "cast(round(l_discount * 100.0, 0) as bigint)"),
    ("tax_pct", "cast(round(l_tax * 100.0, 0) as bigint)"),
]



def _corr_matrix_oracle_sql() -> str:
    d38 = "DECIMAL(38,0)"
    base = ", ".join(f"{expr} AS {nm}" for nm, expr in _CM_VARS)
    sums = ", ".join(
        f"cast(sum(cast({nm} as {d38})) as {d38}) AS s_{nm}, "
        f"cast(sum(cast({nm} as {d38}) * {nm}) as {d38}) AS ss_{nm}"
        for nm, _ in _CM_VARS
    )
    crosses = ", ".join(
        f"cast(sum(cast({a} as {d38}) * {b}) as {d38}) AS cx_{a}_{b}"
        for i, (a, _) in enumerate(_CM_VARS)
        for b, _ in _CM_VARS[i + 1 :]
    )
    rows = " UNION ALL ".join(
        f"""SELECT '{a}' AS var_a, '{b}' AS var_b, cast(n as bigint) AS n,
       CASE WHEN n * ss_{a} - s_{a} * s_{a} = 0 OR n * ss_{b} - s_{b} * s_{b} = 0 THEN 0.0
            ELSE cast(n * cx_{a}_{b} - s_{a} * s_{b} as double)
                 / sqrt(cast(n * ss_{a} - s_{a} * s_{a} as double))
                 / sqrt(cast(n * ss_{b} - s_{b} * s_{b} as double)) END AS rho
FROM m"""
        for i, (a, _) in enumerate(_CM_VARS)
        for b, _ in _CM_VARS[i + 1 :]
    )
    return f"""
WITH v AS (SELECT {base} FROM lineitem),
m AS (SELECT cast(count(*) as {d38}) AS n, {sums}, {crosses} FROM v)
SELECT * FROM ({rows}) ORDER BY var_a, var_b
"""



_SB_HASH = D.MD5_LONG_SQL.format(x="concat('sh:', cast(c_custkey as varchar))")



def _shard_balance_oracle_sql() -> str:
    from gipspark.operators.zorder import morton_key_sql

    mort = morton_key_sql(
        gx="cast(floor(((" + C.DERIVED_LON_SQL.format(k="c_custkey") + ") + 180.0) / 2.5) as bigint)",
        gy="cast(floor((90.0 - (" + C.DERIVED_LAT_SQL.format(k="c_custkey") + ")) / 2.5) as bigint)",
    )
    return f"""
WITH base AS (
  SELECT c_custkey, {_SB_HASH} % 32 AS h_shard,
         {mort} AS mort
  FROM customer
), anch AS (
  SELECT cast(max(c_custkey) as bigint) AS mk, cast(max(mort) as bigint) AS mm,
         cast(count(*) as bigint) AS n
  FROM base
), assigned AS (
  SELECT 'hash' AS strategy, h_shard AS shard FROM base
  UNION ALL
  SELECT 'range', (b.c_custkey * 32) // (a.mk + 1) FROM base b CROSS JOIN anch a
  UNION ALL
  SELECT 'zorder', (b.mort * 32) // (a.mm + 1) FROM base b CROSS JOIN anch a
), sh AS (
  SELECT strategy, shard, cast(count(*) as bigint) AS c
  FROM assigned GROUP BY strategy, shard
)
SELECT s.strategy, cast(count(*) as bigint) AS n_shards,
       cast(max(c) as bigint) AS max_n, cast(min(c) as bigint) AS min_n,
       cast((max(c) * 32 * 1000000) // any_value(a.n) as bigint) AS imbalance_q
FROM sh s CROSS JOIN anch a GROUP BY s.strategy ORDER BY s.strategy
"""



def _hstride_oracle_sql() -> str:
    from gipspark.operators.hilbert import hilbert_sql

    grid = (
        "SELECT c_custkey, "
        f"cast(floor((({C.DERIVED_LON_SQL.format(k='c_custkey')}) + 180.0) / 2.5) as bigint) AS gx0, "
        f"cast(floor((90.0 - ({C.DERIVED_LAT_SQL.format(k='c_custkey')})) / 2.5) as bigint) AS gy0 "
        "FROM customer"
    )
    chain = hilbert_sql("c_custkey", "gx0", "gy0", grid, bits=8)
    md5s = D.MD5_LONG_SQL.format(x="concat('samp:', cast(key as varchar))")
    return f"""
WITH {chain},
ranked AS (
  SELECT key, gx, gy, hkey,
         row_number() OVER (ORDER BY hkey ASC, key ASC) AS rn
  FROM hilbert
), occ AS (SELECT cast(count(DISTINCT gx * 1000 + gy) as bigint) AS total_cells FROM hilbert),
samp AS (
  SELECT 'hilbert_stride' AS method, gx * 1000 + gy AS cell FROM ranked WHERE rn % 10 = 1
  UNION ALL
  SELECT 'hash', gx * 1000 + gy FROM ranked WHERE {md5s} % 10 = 0
)
SELECT s.method, cast(count(*) as bigint) AS n_sample,
       cast(count(DISTINCT s.cell) as bigint) AS cells_covered,
       cast(max(cnt) as bigint) AS max_per_cell,
       cast((count(DISTINCT s.cell) * 1000000) // any_value(o.total_cells) as bigint)
         AS coverage_q
FROM (SELECT method, cell, count(*) OVER (PARTITION BY method, cell) AS cnt FROM samp) s
CROSS JOIN occ o GROUP BY s.method ORDER BY s.method
"""



_PK_COMBOS = [
    ("orderkey", "l_orderkey"),
    ("orderkey_linenumber", "concat(l_orderkey, ':', l_linenumber)"),
    ("partkey_suppkey", "concat(l_partkey, ':', l_suppkey)"),
    ("orderkey_partkey", "concat(l_orderkey, ':', l_partkey)"),
    ("suppkey", "l_suppkey"),
]



def _pk_oracle_sql() -> str:
    aggs = ", ".join(
        f"cast(count(DISTINCT {expr}) as bigint) AS d_{nm}" for nm, expr in _PK_COMBOS
    )
    rows = " UNION ALL ".join(
        f"""SELECT '{nm}' AS candidate, n, d_{nm} AS n_distinct,
       cast((d_{nm} * 1000000) // n as bigint) AS uniq_q,
       CASE WHEN d_{nm} = n THEN 1 ELSE 0 END AS is_key
FROM m"""
        for nm, _ in _PK_COMBOS
    )
    return f"""
WITH m AS (SELECT cast(count(*) as bigint) AS n, {aggs} FROM lineitem)
SELECT * FROM ({rows}) ORDER BY candidate
"""



_SSA_A = D.MD5_LONG_SQL.format(x="concat('sa:', cast(doc_id as varchar))")

_SSA_B = D.MD5_LONG_SQL.format(x="concat('sb:', cast(doc_id as varchar))")



def _langid_scores_sql() -> str:
    return ", ".join(T._lang_score_sql("text", lang) for lang in T._LANG_ORDER)



def _poly_bboxes() -> list[tuple[int, float, float, float, float]]:
    out = []
    for p in ORACLE_POLYGONS:
        xs = [pt[0] for ring in p["rings"] for pt in ring]
        ys = [pt[1] for ring in p["rings"] for pt in ring]
        out.append((p["poly_id"], min(xs), max(xs), min(ys), max(ys)))
    return out



def _sjce_oracle_sql() -> str:
    vals = ", ".join(
        f"({pid}, {x0!r}, {x1!r}, {y0!r}, {y1!r})"
        for pid, x0, x1, y0, y1 in _poly_bboxes()
    )
    return f"""
WITH pts AS (SELECT c_custkey, {_LAT.format(k='c_custkey')} AS lat,
                    {_LON.format(k='c_custkey')} AS lon FROM customer),
bb(poly_id, x0, x1, y0, y1) AS (VALUES {vals}),
est AS (
  SELECT bb.poly_id, cast(count(*) as bigint) AS bbox_candidates
  FROM bb JOIN pts p ON p.lon BETWEEN bb.x0 AND bb.x1
                    AND p.lat BETWEEN bb.y0 AND bb.y1
  GROUP BY bb.poly_id
), act AS (
  SELECT poly_id, cast(count(*) as bigint) AS n_matches
  FROM ({_pip_matches_sql('pts', 'c_custkey')}) GROUP BY poly_id
)
SELECT e.poly_id, e.bbox_candidates, coalesce(a.n_matches, 0) AS n_matches,
       cast((coalesce(a.n_matches, 0) * 1000000) // e.bbox_candidates as bigint)
         AS selectivity_q
FROM est e LEFT JOIN act a ON e.poly_id = a.poly_id ORDER BY e.poly_id
"""



_PLA_PTS = f"""
  SELECT user_id, epoch_us(ts) // 1000000 AS sec, cast(hour(ts) as int) AS h,
         cast(floor((({C.DERIVED_LON_SQL.format(k='event_id')}) + 180.0) / 30.0) as bigint) AS zx,
         cast(floor((90.0 - ({C.DERIVED_LAT_SQL.format(k='event_id')})) / 30.0) as bigint) AS zy
  FROM events
"""



_EPC_DST = D.MD5_LONG_SQL.format(
    x="concat('pc:', cast(j as varchar), ':', cast(doc_id as varchar))"
)

_EPC_KEEP = D.MD5_LONG_SQL.format(
    x="concat('pk:', cast(a as varchar), ':', cast(b as varchar))"
)



def _percolation_oracle_sql() -> str:
    sql = f"""
WITH RECURSIVE base AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM (
    SELECT doc_id AS src,
           (doc_id + 1 + {_EPC_DST} % 20) % {_PR_N} AS dst
    FROM documents, (VALUES (0),(1),(2)) AS t(j)
  ) WHERE src <> dst
)"""
    stats = []
    for k in (2, 5, 8):
        sql += f""",
e{k} AS MATERIALIZED (SELECT a, b FROM base WHERE {_EPC_KEEP} % 10 < {k}),
u{k} AS MATERIALIZED (SELECT a AS s, b AS t FROM e{k} UNION SELECT b, a FROM e{k}),
reach{k}(node, r) AS (
  SELECT s, t FROM u{k}
  UNION
  SELECT re.node, e.t FROM reach{k} re JOIN u{k} e ON re.r = e.s
  WHERE e.t <> re.node
),
lab{k} AS (SELECT node, least(node, min(r)) AS comp FROM reach{k} GROUP BY node),
full{k} AS (
  SELECT d.doc_id AS node, coalesce(l.comp, d.doc_id) AS comp
  FROM documents d LEFT JOIN lab{k} l ON l.node = d.doc_id
),
st{k} AS (
  SELECT cast({k} as bigint) AS keep_tenths,
         (SELECT cast(count(*) as bigint) FROM e{k}) AS n_edges,
         cast(count(DISTINCT comp) as bigint) AS n_components,
         cast(max(cs) as bigint) AS largest_comp,
         cast((max(cs) * 1000000) // count(*) as bigint) AS largest_q
  FROM (SELECT comp, count(*) OVER (PARTITION BY comp) AS cs FROM full{k})
)"""
        stats.append(f"SELECT * FROM st{k}")
    sql += f"""
SELECT * FROM ({' UNION ALL '.join(stats)}) ORDER BY keep_tenths
"""
    return sql



# ---------------------------------------------------------------------------
# round-4 batch (session 3): zone maps, convoys, OLS influence, HyperANF
# ---------------------------------------------------------------------------

_ZM_FILE_ROWS = 4096  # rows per simulated data file (zone-map granularity)

_ZM_PREDS = [  # (pred_id, lo, hi) half-open shipdate ranges
    (0, "1997-03-01", "1997-06-01"),
    (1, "1995-06-01", "1995-07-01"),
    (2, "1996-01-01", "1997-01-01"),
]



_CONVOY_GRID = 30.0  # degrees — coarse enough that daily co-cells recur

_CONVOY_MIN_RUN = 3  # consecutive days together to count as a convoy



# --- HyperANF: HLL-register neighborhood function over the link graph ------

_HA_M = 64  # registers per node

_HA_HOPS = 3

# linear-counting lookup: round(ln(m / V) * 1e9) for V = 1..m, inlined as
# the same integer literals in both engines (log-free discipline — the only
# ln in the op happens here, once, in Python, at module import).
_HA_LNQ = [round(math.log(_HA_M / v) * 1e9) for v in range(1, _HA_M + 1)]



def _ha_rho_sql(x: str) -> str:
    """33 − bit_length(x) for a 32-bit value, as a branch ladder (no log2)."""
    branches = " ".join(
        f"WHEN {x} >= {1 << (k - 1)} THEN {33 - k}" for k in range(32, 0, -1)
    )
    return f"(CASE {branches} ELSE 33 END)"



def _ha_rho_col(x):
    out = F.lit(33)
    for k in range(1, 33):  # ascending so the largest threshold wins last
        out = F.when(x >= (1 << (k - 1)), F.lit(33 - k)).otherwise(out)
    return out



# ---------------------------------------------------------------------------
# round-4 batch (session 3b): 2-D zone maps, Web-Mercator, prisms, l-diversity
# ---------------------------------------------------------------------------

_SZM_FILE_ROWS = 128

_SZM_BOXES = [  # (box_id, lat_lo, lat_hi, lon_lo, lon_hi)
    (0, 0.0, 20.0, 0.0, 30.0),
    (1, -60.0, -20.0, -120.0, -60.0),
    (2, 30.0, 60.0, 100.0, 160.0),
]



def _szm_oracle_sql() -> str:
    from gipspark.operators.hilbert import hilbert_sql
    from gipspark.operators.zorder import morton_key_sql

    boxes = ", ".join(
        f"({b}, {la0!r}, {la1!r}, {lo0!r}, {lo1!r})" for b, la0, la1, lo0, lo1 in _SZM_BOXES
    )
    return f"""
WITH {hilbert_sql(
        key_expr="c_custkey",
        gx_expr=_HILBERT_GX,
        gy_expr=_HILBERT_GY,
        table_sql="SELECT c_custkey FROM customer",
        bits=16,
    )}, pts AS (
  SELECT h.key AS ck, h.gx, h.gy, h.hkey,
         {_LAT.format(k='h.key')} AS lat, {_LON.format(k='h.key')} AS lon
  FROM hilbert h
), ranked AS (
  SELECT ck, lat, lon,
         row_number() OVER (ORDER BY ck) - 1 AS rn_nat,
         row_number() OVER (ORDER BY {morton_key_sql('gx', 'gy')}, ck) - 1 AS rn_mor,
         row_number() OVER (ORDER BY hkey, ck) - 1 AS rn_hil
  FROM pts
), files AS (
  SELECT 'natural' AS layout, rn_nat // {_SZM_FILE_ROWS} AS file_id, lat, lon FROM ranked
  UNION ALL
  SELECT 'morton' AS layout, rn_mor // {_SZM_FILE_ROWS} AS file_id, lat, lon FROM ranked
  UNION ALL
  SELECT 'hilbert' AS layout, rn_hil // {_SZM_FILE_ROWS} AS file_id, lat, lon FROM ranked
), zm AS (
  SELECT layout, file_id,
         min(lat) AS lat_lo, max(lat) AS lat_hi,
         min(lon) AS lon_lo, max(lon) AS lon_hi,
         cast(count(*) as bigint) AS n_rows
  FROM files GROUP BY layout, file_id
), boxes AS (
  SELECT * FROM (VALUES {boxes}) AS b(box_id, q_lat_lo, q_lat_hi, q_lon_lo, q_lon_hi)
), hit AS (
  SELECT z.layout AS layout, b.box_id AS box_id,
         cast(count(*) as bigint) AS n_files_scanned,
         cast(sum(z.n_rows) as bigint) AS rows_scanned
  FROM zm z JOIN boxes b
    ON z.lat_lo <= b.q_lat_hi AND z.lat_hi >= b.q_lat_lo
   AND z.lon_lo <= b.q_lon_hi AND z.lon_hi >= b.q_lon_lo
  GROUP BY z.layout, b.box_id
), tot AS (
  SELECT layout, cast(count(*) as bigint) AS n_files_total FROM zm GROUP BY layout
), mt AS (
  SELECT b.box_id, cast(count(*) as bigint) AS n_rows_matched
  FROM (SELECT DISTINCT ck, lat, lon FROM pts) p JOIN boxes b
    ON p.lat >= b.q_lat_lo AND p.lat <= b.q_lat_hi
   AND p.lon >= b.q_lon_lo AND p.lon <= b.q_lon_hi
  GROUP BY b.box_id
)
SELECT t.layout AS layout, h.box_id AS box_id, t.n_files_total, h.n_files_scanned,
       h.rows_scanned, coalesce(m.n_rows_matched, 0) AS n_rows_matched,
       ((t.n_files_total - h.n_files_scanned) * 1000000) // t.n_files_total
         AS skip_ratio_q
FROM tot t JOIN hit h ON h.layout = t.layout
LEFT JOIN mt m ON m.box_id = h.box_id
ORDER BY layout, box_id
"""



_WM_Z = 10

_WM_SIZE = (1 << _WM_Z) * 256  # 262144 px world at z=10

_WM_LAT_MAX = 85.05112878

_WM_PI = 3.141592653589793

_WM_PI4 = 0.7853981633974483  # π/4



_PRISM_USERS = 30

_PRISM_GRID = 15.0

_PRISM_K = "1.25"  # detour budget: reachable if d(a,c)+d(c,b) <= K * d(a,b)



def _prism_oracle_sql() -> str:
    hav = HAVERSINE_SQL
    dab = hav.format(lat1="lat1", lon1="lon1", lat2="lat2", lon2="lon2")
    dac = hav.format(lat1="lat1", lon1="lon1", lat2="c_lat", lon2="c_lon")
    dcb = hav.format(lat1="c_lat", lon1="c_lon", lat2="lat2", lon2="lon2")
    return f"""
WITH fixes AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS t,
         {_LAT.format(k='event_id')} AS lat, {_LON.format(k='event_id')} AS lon
  FROM events WHERE user_id < {_PRISM_USERS}
), pairs AS (
  SELECT user_id, t AS t2,
         lag(lat) OVER (PARTITION BY user_id ORDER BY t, lat, lon) AS lat1,
         lag(lon) OVER (PARTITION BY user_id ORDER BY t, lat, lon) AS lon1,
         lat AS lat2, lon AS lon2
  FROM fixes
), p AS (SELECT * FROM pairs WHERE lat1 IS NOT NULL),
cells AS (
  SELECT -82.5 + 15.0 * i.i AS c_lat, -172.5 + 15.0 * j.j AS c_lon
  FROM generate_series(0, 11) AS i(i), generate_series(0, 23) AS j(j)
)
SELECT p.user_id, p.t2,
       cast(round({dab}, 0) as double) AS direct_m0,
       cast(count(CASE WHEN {dac} + {dcb} <= {_PRISM_K} * {dab} THEN 1 END) as bigint)
         AS n_cells
FROM p CROSS JOIN cells
GROUP BY p.user_id, p.t2, direct_m0
ORDER BY user_id, t2
"""



_LDIV_BUCKET = 2000.0  # sensitive-attribute bucket width (acctbal)

_LDIV_LS = [2, 3, 4]



# ---------------------------------------------------------------------------
# round-4 batch (session 3c): Kalman fold, trip modes, gap codes, IVM merge
# ---------------------------------------------------------------------------

# Kalman 1-D constants: process noise Q, measurement noise R (literals
# rendered identically into both engines; the gain expression below is
# repeated textually so every occurrence is the same IEEE op tree).
_KF_GAIN = "(({p} + 0.5) / (({p} + 0.5) + 4.0))"



_TM_SLOW = 50  # m/s — below: ground travel

_TM_FAST = 300  # m/s — below: flight-speed; at/above: teleport artifact



def _blen_sql(x: str, maxbits: int = 20) -> str:
    """bit_length({x}) for 0 < x < 2^maxbits as a branch ladder."""
    branches = " ".join(
        f"WHEN {x} >= {1 << (k - 1)} THEN {k}" for k in range(maxbits, 0, -1)
    )
    return f"(CASE {branches} ELSE 0 END)"



def _blen_col(x, maxbits: int = 20):
    out = F.lit(0)
    for k in range(1, maxbits + 1):
        out = F.when(x >= (1 << (k - 1)), F.lit(k)).otherwise(out)
    return out



_IVM_SPLIT = "2024-01-26"  # base: before; delta: on/after



_TC_LEVEL = 6

_TC_SIZES = [16, 64, 256]



_RTQ_PAGE = 128

_RTQ_SLABS = 4



_SOLAR_BANDS = [-55.0 + 10.0 * i for i in range(12)]

_SOLAR_DECL = "(-23.44 * cos(0.017453292519943295 * (360.0 / 365.0) * (doy + 10.0)))"



# ---------------------------------------------------------------------------
# round-4 batch (session 3e): mobility motifs, dasymetric, front-coding, prices
# ---------------------------------------------------------------------------

_MOTIF_GRID = 30.0

_MOTIF_CAP = 6



_DASY_GRID = 10.0



def _dasy_oracle_sql() -> str:
    hav = HAVERSINE_SQL.format(lat1="c_lat", lon1="c_lon", lat2="n_lat", lon2="n_lon")
    return f"""
WITH w AS (
  SELECT cast(floor((90.0 - {_LAT.format(k='event_id')}) / {_DASY_GRID}) as int) AS gy,
         cast(floor(({_LON.format(k='event_id')} + 180.0) / {_DASY_GRID}) as int) AS gx,
         cast(count(*) as bigint) AS weight
  FROM events GROUP BY gy, gx
), cells AS (
  SELECT gy, gx, weight,
         90.0 - (gy + 0.5) * {_DASY_GRID} AS c_lat,
         (gx + 0.5) * {_DASY_GRID} - 180.0 AS c_lon
  FROM w
), centers AS (
  SELECT n_nationkey,
         {_LAT.format(k='n_nationkey * 101 + 13')} AS n_lat,
         {_LON.format(k='n_nationkey * 101 + 13')} AS n_lon
  FROM nation
), assigned AS (
  SELECT gy, gx, weight, n_nationkey FROM (
    SELECT c.gy, c.gx, c.weight, z.n_nationkey,
           row_number() OVER (PARTITION BY c.gy, c.gx
                              ORDER BY {hav}, z.n_nationkey) AS rn
    FROM cells c CROSS JOIN centers z
  ) WHERE rn = 1
), pop AS (
  SELECT c_nationkey AS n_nationkey, cast(count(*) as bigint) AS pop
  FROM customer GROUP BY c_nationkey
), zs AS (
  SELECT a.n_nationkey, a.gy, a.gx, a.weight, p.pop,
         sum(a.weight) OVER (PARTITION BY a.n_nationkey) AS wtot,
         (p.pop * a.weight) // sum(a.weight) OVER (PARTITION BY a.n_nationkey) AS base,
         (p.pop * a.weight) % sum(a.weight) OVER (PARTITION BY a.n_nationkey) AS rem
  FROM assigned a JOIN pop p ON p.n_nationkey = a.n_nationkey
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY n_nationkey
                               ORDER BY rem DESC, gy, gx) AS rrank,
         pop - sum(base) OVER (PARTITION BY n_nationkey) AS leftover
  FROM zs
)
SELECT n_nationkey, gy, gx, weight,
       cast(base + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END as bigint)
         AS alloc_pop
FROM ranked ORDER BY n_nationkey, gy, gx
"""



_FC_BUCKETS = [64, 48, 32, 24, 16, 12, 8, 4, 2, 1]



def _lcp_bucket_sql(a: str, b: str) -> str:
    branches = " ".join(
        f"WHEN substr({a}, 1, {l}) = substr({b}, 1, {l}) THEN {l}" for l in _FC_BUCKETS
    )
    return f"(CASE WHEN {b} IS NULL THEN 0 {branches} ELSE 0 END)"



# ---------------------------------------------------------------------------
# round-4 batch (session 3f): 2SFCA, tile prefetch, wallet share, hypsometry
# ---------------------------------------------------------------------------

_FCA_D0_M = "3000000.0"  # catchment radius: 3,000 km



def _fca_oracle_sql() -> str:
    hav = HAVERSINE_SQL.format(lat1="c_lat", lon1="c_lon", lat2="s_lat", lon2="s_lon")
    return f"""
WITH cust AS (
  SELECT c_custkey, {_LAT.format(k='c_custkey')} AS c_lat, {_LON.format(k='c_custkey')} AS c_lon
  FROM customer
), sup AS (
  SELECT s_suppkey, 1 + s_suppkey % 3 AS cap,
         {_LAT.format(k='s_suppkey * 31 + 7')} AS s_lat,
         {_LON.format(k='s_suppkey * 31 + 7')} AS s_lon
  FROM supplier
), pairs AS (
  SELECT c.c_custkey, s.s_suppkey, s.cap
  FROM cust c CROSS JOIN sup s
  WHERE {hav} <= {_FCA_D0_M}
), r AS (
  SELECT s_suppkey, (cast(max(cap) as bigint) * 1000000) // count(*) AS r_q
  FROM pairs GROUP BY s_suppkey
)
SELECT p.c_custkey AS c_custkey,
       cast(count(*) as bigint) AS n_supp_reach,
       cast(sum(r.r_q) as bigint) AS access_q
FROM pairs p JOIN r ON r.s_suppkey = p.s_suppkey
GROUP BY p.c_custkey ORDER BY c_custkey
"""



_TMP_GRID = 30.0

_TMP_TOPK = 3



_HYP_GRID = 2.5



# ---------------------------------------------------------------------------
# round-4 batch (session 3g): temporal reachability, reach/frequency, aHash,
# week semantics
# ---------------------------------------------------------------------------

_TR_GRID = 10.0

_TR_BUCKET = 21600  # 6 h contact slots (the colocation_pairs convention)

_TR_SEEDS = 5

_TR_ROUNDS = 3



_RF_CAPS = [1, 2, 3, 5, 10]



# ---------------------------------------------------------------------------
# round-4 batch (session 3h): cos-lat weighting, group k-fold, speed field,
# fixed-effects slope
# ---------------------------------------------------------------------------

_CLW_GRID = 5.0



_GKF_K = 5



_SPF_GRID = 15.0



_AGING_SNAPS = ["1996-06-30", "1997-06-30", "1998-06-30", "1999-06-30"]

_AGING_EDGES = [30, 90]



_BB_REPS = 32

_BB_CELL = 10.0

_BB_BLOCK = 3  # 3x3 cells per block side → 30° blocks



_GRS_SIZES = ["2.5", "5.0", "10.0", "20.0"]



_CLOAK_K = 5

_CLOAK_LEVELS = ["20.0", "10.0", "5.0", "2.5"]  # coarse → fine



_ENC_COLS = ["l_returnflag", "l_linestatus", "l_shipmode_na", "l_quantity_i", "l_partkey"]



_OTIF_LAG_DAYS = 60



# ---------------------------------------------------------------------------
# round-4 batch (session 3l): shift-share, Maidenhead, cell function, rollups
# ---------------------------------------------------------------------------

_SS_Y1, _SS_Y2 = 1996, 1999



def _maidenhead_sql(lat: str, lon: str) -> str:
    """6-character Maidenhead locator: field (18×18 of 20°×10°),
    square (10×10 of 2°×1°), subsquare (24×24 of 5'×2.5')."""
    alon = f"({lon} + 180.0)"
    alat = f"({lat} + 90.0)"
    f1 = f"chr(65 + cast(floor({alon} / 20.0) as int))"
    f2 = f"chr(65 + cast(floor({alat} / 10.0) as int))"
    # "string" parses as VARCHAR in DuckDB and as StringType in Spark —
    # the one cast spelling both engines accept
    s1 = f"cast(cast(floor({alon} / 2.0) as int) % 10 as string)"
    s2 = f"cast(cast(floor({alat}) as int) % 10 as string)"
    u1 = f"chr(97 + cast(floor(({alon} - floor({alon} / 2.0) * 2.0) * 12.0) as int))"
    u2 = f"chr(97 + cast(floor(({alat} - floor({alat})) * 24.0) as int))"
    return f"({f1} || {f2} || {s1} || {s2} || {u1} || {u2})"



_CF_GRID = 15.0



# ---------------------------------------------------------------------------
# round-4 batch (session 3m): event study, rhumb lines, newsvendor, Fleiss
# ---------------------------------------------------------------------------

_ES_WINDOW = 5  # relative days around each user's first purchase



_NV_RATIOS = [(0, 500000), (1, 800000), (2, 900000)]  # (id, critical ratio micro)

_NV_PARTS = 40



# ---------------------------------------------------------------------------
# round-4 batch (session 3n): tile seams, frame semantics, Lévy jumps, 4-4-5
# ---------------------------------------------------------------------------

_SEAM_GRID = 5.0

_SEAM_SUPER = 3  # super-tile = 3x3 cells



_F445_EPOCH = "1995-01-01"  # fiscal year start anchor (a Sunday)



# ---------------------------------------------------------------------------
# round-4 batch (session 3o): Erlang-B, b-bit MinHash, LBP texture, computus
# ---------------------------------------------------------------------------

_EB_SERVERS = 16



_BBM_DOCS = 25

_BBM_K = 32



def _bbm_oracle_sql() -> str:
    h = D.MD5_LONG_SQL.format(
        x="concat('mh', cast(j as varchar), ':', w)"
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
  FROM documents WHERE doc_id < {_BBM_DOCS}
), sigs AS (
  SELECT doc_id, j, min({h}) AS mh
  FROM toks, (SELECT unnest(generate_series(0, {_BBM_K - 1})) AS j)
  GROUP BY doc_id, j
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         cast(count(CASE WHEN a.mh = b.mh THEN 1 END) as bigint) AS full_match,
         cast(count(CASE WHEN a.mh % 2 = b.mh % 2 THEN 1 END) as bigint) AS bit_match
  FROM sigs a JOIN sigs b ON a.j = b.j AND a.doc_id < b.doc_id
  GROUP BY d1, d2
), exact AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         cast(count(*) as bigint) AS inter
  FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY d1, d2
), sizes AS (
  SELECT doc_id, cast(count(*) as bigint) AS sz FROM toks GROUP BY doc_id
)
SELECT p.d1 AS d1, p.d2 AS d2,
       cast((coalesce(e.inter, 0) * 1000000)
            // (s1.sz + s2.sz - coalesce(e.inter, 0)) as bigint) AS exact_j_q,
       cast((p.full_match * 1000000) // {_BBM_K} as bigint) AS minhash_j_q,
       cast(greatest(2 * ((p.bit_match * 1000000) // {_BBM_K}) - 1000000, 0)
            as bigint) AS bbit_j_q
FROM pairs p
JOIN sizes s1 ON s1.doc_id = p.d1 JOIN sizes s2 ON s2.doc_id = p.d2
LEFT JOIN exact e ON e.d1 = p.d1 AND e.d2 = p.d2
ORDER BY d1, d2
"""



_LBP_GRID = 2.5

_LBP_OFFSETS = [(-1, -1), (0, -1), (1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0)]



def _lbp_oracle_sql() -> str:
    offs = ", ".join(f"({i}, {dx}, {dy})" for i, (dx, dy) in enumerate(_LBP_OFFSETS))
    return f"""
WITH cells AS (
  SELECT cast(floor(({_LON.format(k='event_id')} + 180.0) / {_LBP_GRID}) as int) AS gx,
         cast(floor((90.0 - {_LAT.format(k='event_id')}) / {_LBP_GRID}) as int) AS gy,
         cast(count(*) as bigint) AS v
  FROM events GROUP BY gx, gy
), offs AS (SELECT * FROM (VALUES {offs}) AS o(i, dx, dy)
), bits AS (
  SELECT c.gx, c.gy,
         cast(sum(CASE WHEN coalesce(nb.v, 0) > c.v THEN 1 << o.i ELSE 0 END)
              as bigint) AS code
  FROM cells c CROSS JOIN offs o
  LEFT JOIN cells nb ON nb.gx = c.gx + o.dx AND nb.gy = c.gy + o.dy
  GROUP BY c.gx, c.gy
), cl AS (
  SELECT code,
         bit_count(cast(xor(code, ((code << 1) | (code >> 7)) & 255) as bigint))
           AS transitions
  FROM bits
)
SELECT code, cast(count(*) as bigint) AS n_cells,
       (max(transitions) <= 2) AS uniform_pattern
FROM cl GROUP BY code ORDER BY code
"""



def _easter_sql(y: str) -> str:
    """Anonymous Gregorian computus — pure integer arithmetic."""
    return f"""(
  SELECT make_date(cast({y} as int),
    cast((h + l - 7 * m + 114) // 31 as int),
    cast((h + l - 7 * m + 114) % 31 + 1 as int))
  FROM (
    SELECT h, l, (aa + 11 * h + 22 * l) // 451 AS m FROM (
      SELECT aa, h, (32 + 2 * e + 2 * i - h - k) % 7 AS l FROM (
        SELECT aa, e, (19 * aa + b - d - g + 15) % 30 AS h,
               c // 4 AS i, c % 4 AS k
        FROM (
          SELECT {y} % 19 AS aa, {y} // 100 AS b, {y} % 100 AS c,
                 ({y} // 100) // 4 AS d, ({y} // 100) % 4 AS e,
                 (({y} // 100) - (({y} // 100) + 8) // 25 + 1) // 3 AS g
        )
      )
    )
  )
)"""



_FFD_CAP = 500_000_000  # truck capacity: $5M in cents



_EXPO_BUCKETS = [0, 1, 2, 3, 5, 10]



# ---------------------------------------------------------------------------
# round-4 batch (session 3q): banded DTW, unicity, German tank, quantile reg
# ---------------------------------------------------------------------------

_DTW_USERS = 6

_DTW_MAXLEN = 40

_DTW_BAND = 5

_DTW_INF = 10**15


# whole-meter haversine between trajectory points inside a lambda; {la1}
# etc. are expression strings valid in both engines' lambda bodies.
_DTW_COST = (
    "cast(round(2.0 * 6371000.0 * asin(sqrt("
    "sin(({la2} * 0.017453292519943295 - {la1} * 0.017453292519943295) / 2) * "
    "sin(({la2} * 0.017453292519943295 - {la1} * 0.017453292519943295) / 2) + "
    "cos({la1} * 0.017453292519943295) * cos({la2} * 0.017453292519943295) * "
    "sin(({lo2} * 0.017453292519943295 - {lo1} * 0.017453292519943295) / 2) * "
    "sin(({lo2} * 0.017453292519943295 - {lo1} * 0.017453292519943295) / 2)"
    "))) as bigint)"
)



_UNI_POINTS = [1, 2, 3]



_QR_TAU_Q = 900000  # τ = 0.9 in micro

_QR_SLOPES = [i for i in range(-10, 11)]  # slope grid, milli-units per day



# ---------------------------------------------------------------------------
# round-4 batch (session 3r): winding rules, delta method, try_cast, mediants
# ---------------------------------------------------------------------------

# pentagram: 5 outer vertices connected skipping one (0→2→4→1→3→0) —
# a self-OVERLAPPING polygon whose core pentagon has winding number 2.
_PENTA = [
    (round(30.0 * math.cos(2 * math.pi * k / 5 + math.pi / 2), 6),
     round(30.0 * math.sin(2 * math.pi * k / 5 + math.pi / 2), 6))
    for k in (0, 2, 4, 1, 3)
]

_PENTA_EDGES = list(zip(_PENTA, _PENTA[1:] + _PENTA[:1]))



def _penta_edges_sql() -> str:
    rows = ", ".join(
        f"({x1!r}, {y1!r}, {x2!r}, {y2!r})" for (x1, y1), (x2, y2) in _PENTA_EDGES
    )
    return f"(VALUES {rows}) AS e(x1, y1, x2, y2)"



_SB_MAXQ = 64

_SB_STEPS = 24



# ---------------------------------------------------------------------------
# round-4 batch (session 3s): precision loss, Gorilla, equalized odds, (s,S)
# ---------------------------------------------------------------------------

_CPA_DECIMALS = [1, 2, 3]



_SS_SMALL = 200  # reorder point s (units)

_SS_BIG = 600  # order-up-to level S

_SS_PARTS = 20



_BDAY_BUCKETS = [64, 256, 1024]



_MOM_PARTS = 32



_RQ_DECILES = [1, 2, 3, 4, 5, 6, 7, 8, 9]

_RQ_COARSE = 256



_TRIE_DEPTHS = [12, 20, 28]



_BIP_ROUNDS = 4



_DBS_OFFSETS = [-21600, 0, 21600]



# ---------------------------------------------------------------------------
# round-4 batch (session 3w): quadkey roundtrip, monthly normalization,
# step-turn census, cadence breaks
# ---------------------------------------------------------------------------


def _qk_decode_xy(qk: str, level: int) -> tuple[str, str]:
    """(x, y) integer tile coords re-parsed from quadkey digits."""
    xs = " + ".join(
        f"(cast(substr({qk}, {i + 1}, 1) as int) % 2) * {1 << (level - 1 - i)}"
        for i in range(level)
    )
    ys = " + ".join(
        f"(CASE WHEN cast(substr({qk}, {i + 1}, 1) as int) >= 2 THEN 1 ELSE 0 END)"
        f" * {1 << (level - 1 - i)}"
        for i in range(level)
    )
    return f"({xs})", f"({ys})"



_STJ_TURN_BUCKETS = 8



_CBA_LOOKBACK = 12  # days of the cadence window

_CBA_QUIET = 2  # trailing quiet days that trigger the alert

_CBA_MIN_ACTIVE = 8



# ---------------------------------------------------------------------------
# round-4 batch (session 3x): row groups, semi-join fan-out, token bucket,
# freshness
# ---------------------------------------------------------------------------

_RG_TARGET_BYTES = 128 * 1024 * 1024



_TB_RATE_SEC = 900  # one token per 15 minutes

_TB_BURST = 4



# ---------------------------------------------------------------------------
# round-4 batch (session 3y): grid uniformity, LSH bucket skew, damping
# sweep, Hawkes branching
# ---------------------------------------------------------------------------


def _gua_oracle_sql() -> str:
    mh6 = _maidenhead_sql("lat", "lon")
    qk8 = C.quadkey_sql("lat", "lon", 8)
    return f"""
WITH pts AS (
  SELECT {_LAT.format(k='c_custkey')} AS lat, {_LON.format(k='c_custkey')} AS lon
  FROM customer
), keyed AS (
  SELECT 'maidenhead6' AS scheme, {mh6} AS cell FROM pts
  UNION ALL
  SELECT 'quadkey8', {qk8} FROM pts
  UNION ALL
  SELECT 'latlon1.40625',
         cast(cast(floor((90.0 - lat) / 1.40625) as int) * 1000
              + cast(floor((lon + 180.0) / 1.40625) as int) as varchar)
  FROM pts
), occ AS (
  SELECT scheme, cell, cast(count(*) as bigint) AS c FROM keyed GROUP BY scheme, cell
)
SELECT scheme,
       cast(count(*) as bigint) AS n_occupied,
       cast(max(c) as bigint) AS max_occupancy,
       cast(sum(c * c) as bigint) AS sum_c2,
       cast((max(c) * count(*) * 1000000) // sum(c) as bigint) AS skew_q
FROM occ GROUP BY scheme ORDER BY scheme
"""



_PDS_DAMPINGS = [(0, 750), (1, 900)]  # (sweep id, damping in milli)

_PDS_ROUNDS = 6

_PDS_SCALE = 10**9



def _pds_oracle_sql() -> str:
    runs = []
    for sid, d_milli in _PDS_DAMPINGS:
        base = (
            f"((cast({_PDS_SCALE} as bigint) * (1000 - {d_milli})) // 1000) // n"
        )
        parts = [
            f"r{sid}_0 AS (SELECT id AS node, cast({_PDS_SCALE} as bigint) // n AS m"
            f" FROM nodes CROSS JOIN nn)"
        ]
        for k in range(1, _PDS_ROUNDS + 1):
            parts.append(
                f"r{sid}_{k} AS (SELECT n2.id AS node, "
                f"{base} + ({d_milli} * coalesce(inm.s, 0)) // 1000 AS m "
                f"FROM nodes n2 CROSS JOIN nn LEFT JOIN ("
                f"SELECT e.dst AS node, cast(sum(p.m // 3) as bigint) AS s "
                f"FROM edges e JOIN r{sid}_{k - 1} p ON p.node = e.src GROUP BY e.dst"
                f") inm ON inm.node = n2.id)"
            )
        runs.append(", ".join(parts))
    return f"""
WITH nodes AS (SELECT doc_id AS id FROM documents),
nn AS (SELECT cast(count(*) as bigint) AS n FROM nodes),
edges AS (
  SELECT doc_id AS src, {_PR_EDGE_DST} % {_PR_N} AS dst
  FROM documents, (VALUES (0),(1),(2)) AS t(j)
), {runs[0]}, {runs[1]},
rk AS (
  SELECT a.node,
         row_number() OVER (ORDER BY a.m DESC, a.node) AS rk_a,
         row_number() OVER (ORDER BY b.m DESC, b.node) AS rk_b
  FROM r0_{_PDS_ROUNDS} a JOIN r1_{_PDS_ROUNDS} b ON b.node = a.node
)
SELECT cast(count(*) as bigint) AS n_nodes,
       cast(count(CASE WHEN rk_a <= 20 AND rk_b <= 20 THEN 1 END) as bigint)
         AS top20_overlap,
       cast(sum(abs(rk_a - rk_b)) as bigint) AS total_rank_shift,
       cast(max(abs(rk_a - rk_b)) as bigint) AS max_rank_shift
FROM rk
"""



_HBR_TAU = 600  # seconds: a follow-up within tau counts as triggered



_SPA_TARGET = 64 * 1024 * 1024



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}



def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (fn, sql) in REGISTRY.items() if sql is not None}


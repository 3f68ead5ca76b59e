"""Spatial cell-index Columns: S2 / H3 encodes, k-rings, GIPS-style tiles.

The encode path is the engine's hottest per-row operation at 10^12 docs
(BASELINE.json:2 "H3-encode + PIP-join + tile-assign"). The S2 encode
operators run (:func:`with_s2_cell`) is Catalyst arithmetic that copies
:func:`gipspark.geo.s2.latlng_to_cell` step by step, bit for bit, so it
stays inside whole-stage codegen and starts no Python worker. The NumPy
kernel itself serves driver-side work (covers, query rings) and the
enrich stage's fused pass. H3, the k-ring and the cell center remain
vectorized pandas/Arrow UDFs over the NumPy kernels in
:mod:`gipspark.geo`: one Arrow batch crossing per ~64k rows, zero
per-row Python (BASELINE.json:15).

The GIPS-style *tile* (the fixed 5°×5° h##v## graticule, upstream-GIPS
tile-naming convention — SURVEY.md §1.1 "Fixed tile grid") is pure JVM
arithmetic: floor-divide on lat/lon inside whole-stage codegen, with a
textually-mirrored DuckDB template (TILE_SQL) for the oracle harness.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from gipspark.geo import h3x, s2

# The S2 level of the ``cell`` column every encoded table carries
# (enrich_docs, the gp_s2_cell12 SQL function); pip_join reuses a
# ``cell_col`` at this level instead of re-encoding.
CELL_LEVEL = 12

# ---------------------------------------------------------------------------
# S2 encode (JVM: Catalyst arithmetic, whole-stage codegen)
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=1)
def _lookup_pos(gateway) -> Column:
    """geo.s2's Hilbert table as one array literal, built once per JVM
    ``gateway`` (it takes ~1,000 py4j calls). ``F.lit(list)`` would plan
    a CreateArray instead, which a projection over a LocalRelation
    rebuilds for every row (ConvertToLocalRelation evaluates it without
    codegen)."""
    return F.lit(s2.LOOKUP_POS.astype(np.int64))


def with_s2_cell(
    df: DataFrame,
    lat: str | Column,
    lon: str | Column,
    level: int = CELL_LEVEL,
    name: str = "cell",
) -> DataFrame:
    """``df`` plus (or with a replaced) column ``name``: the S2 cell id
    (int64) at ``level`` of each (lat, lon) in degrees, equal bit for bit
    to :func:`gipspark.geo.s2.latlng_to_cell`. A null or NaN coordinate
    gives a null cell.

    Each step of ``latlng_to_cell`` is the same double expression in
    the same order, so the JVM rounds as NumPy does. The steps are four
    projections (xyz; face; i, j; cell) rather than one Column: a Column
    copies every operand it reuses, and the whole encode nested in one
    expression grows too large to compile.
    """
    la = F.col(lat) if isinstance(lat, str) else lat
    lo = F.col(lon) if isinstance(lon, str) else lon
    names = [f"`{c}`" for c in df.columns if c != name]
    # degrees -> unit-sphere xyz (latlng_to_xyz); NaN turns null here
    null = F.lit(None).cast("double")
    rad_la = F.radians(F.nanvl(la.cast("double"), null))
    rad_lo = F.radians(F.nanvl(lo.cast("double"), null))
    xyz = df.select(
        *names,
        (F.cos(rad_la) * F.cos(rad_lo)).alias("__s2_x"),
        (F.cos(rad_la) * F.sin(rad_lo)).alias("__s2_y"),
        F.sin(rad_la).alias("__s2_z"),
    )
    # cube face with xyz_to_face_uv's >= ties, then u and v as one
    # numerator over the major axis, the quadratic st and the clamped
    # 30-bit leaf coordinates (uv_to_st, st_to_ij)
    face = xyz.selectExpr(
        "*",
        """CASE WHEN __s2_x IS NULL THEN NULL
                WHEN abs(__s2_x) >= abs(__s2_y)
                     THEN IF(abs(__s2_x) >= abs(__s2_z), IF(__s2_x < 0, 3, 0), IF(__s2_z < 0, 5, 2))
                ELSE IF(abs(__s2_y) >= abs(__s2_z), IF(__s2_y < 0, 4, 1), IF(__s2_z < 0, 5, 2))
           END AS __s2_face""",
    )

    def leaf_coord(num: str) -> str:
        uv = f"({num}) / CASE __s2_face % 3 WHEN 0 THEN __s2_x WHEN 1 THEN __s2_y ELSE __s2_z END"
        r = f"0.5D * sqrt(1.0D + 3.0D * abs({uv}))"
        st = f"IF({uv} >= 0.0D, {r}, 1.0D - {r})"
        return f"least(greatest(floor(1073741824.0D * {st}), 0L), 1073741823L)"

    fij = face.selectExpr(
        *names,
        "__s2_face",
        leaf_coord(
            "CASE __s2_face WHEN 0 THEN __s2_y WHEN 1 THEN -__s2_x WHEN 2 THEN -__s2_x "
            "WHEN 3 THEN __s2_z WHEN 4 THEN __s2_z ELSE -__s2_y END"
        )
        + " AS __s2_i",
        leaf_coord(
            "CASE __s2_face WHEN 0 THEN __s2_z WHEN 1 THEN __s2_z WHEN 2 THEN -__s2_y "
            "WHEN 3 THEN __s2_y ELSE -__s2_x END"
        )
        + " AS __s2_j",
    )
    # from_face_ij's LOOKUP_POS steps. Step k writes position bits
    # [8k, 8k+8); a level-L cell keeps bits [60-2L, 60), so the steps
    # stop at the last k that reaches them and the parent mask clears
    # the rest. The table holds longs: Java shifts an int modulo 32.
    lookup = _lookup_pos(SparkContext._gateway)
    i, j = F.col("__s2_i"), F.col("__s2_j")
    n = F.col("__s2_face").cast("long")
    bits = n.bitwiseAND(F.lit(s2.SWAP_MASK))
    n = F.shiftleft(n, 60)
    for k in range(7, max(0, (52 - 2 * level) // 8 + 1) - 1, -1):
        idx = (
            F.shiftleft(F.shiftright(i, 4 * k).bitwiseAND(F.lit(15)), 6)
            .bitwiseOR(F.shiftleft(F.shiftright(j, 4 * k).bitwiseAND(F.lit(15)), 2))
            .bitwiseOR(bits)
        )
        val = F.get(lookup, idx.cast("int"))
        n = n.bitwiseOR(F.shiftleft(F.shiftright(val, 2), 8 * k))
        bits = val.bitwiseAND(F.lit(3))
    leaf = F.shiftleft(n, 1).bitwiseOR(F.lit(1))
    cell = fij.select(*names, s2_parent(leaf, level).alias("__s2_cell"))
    # the cell leaves through a one-row explode: the optimizer pushes a
    # filter on a Project's output down through it by inlining the
    # column's expression, and a filter on the cell (a join infers
    # ``isnotnull``) would then inline all four stages into one
    # predicate that encodes every row a second time, outside codegen's
    # common-subexpression elimination. No filter on a generated column
    # passes a Generate.
    return cell.select(*names, F.explode(F.array("__s2_cell")).alias(name))


def h3_cell(lat: Column, lon: Column, res: int = 7) -> Column:
    """h3x cell id (int64, H3 bit layout) at ``res`` (SURVEY.md §2.3)."""

    @pandas_udf(LongType())
    def _enc(la: pd.Series, lo: pd.Series) -> pd.Series:
        out = np.full(len(la), -1, dtype=np.int64)
        m = la.notna().to_numpy() & lo.notna().to_numpy()
        if m.any():
            out[m] = h3x.latlng_to_cell(
                la.to_numpy(np.float64, na_value=np.nan)[m],
                lo.to_numpy(np.float64, na_value=np.nan)[m],
                res,
            )
        res_s = pd.Series(out)
        return res_s.where(pd.Series(m), other=pd.NA)

    return _enc(lat, lon)


def s2_parent(cell: Column, level: int) -> Column:
    """Ancestor S2 cell at coarser ``level`` (hierarchy rollup): the bit
    trick ``(cell & ~(lsb-1)) | lsb`` of :func:`gipspark.geo.s2.parent`
    as pure JVM bitwise arithmetic, so it stays inside whole-stage
    codegen. Python's ``~(lsb-1)`` is already the signed-int64 mask, as
    LongType needs for face-5 ids, which are negative. Null in, null out.
    """
    lsb = s2.lsb_for_level(level)
    return cell.bitwiseAND(F.lit(~(lsb - 1)).cast("long")).bitwiseOR(
        F.lit(lsb).cast("long")
    )


def kring(cell: Column, level: int, k: int = 1) -> Column:
    """Lattice disk (deduped) around each S2 cell — the kNN candidate
    generator (SURVEY.md §2.3 "k-ring-expansion kNN")."""

    @pandas_udf(ArrayType(LongType()))
    def _ring(c: pd.Series) -> pd.Series:
        row, ball = s2.grid_disk_pairs(c.to_numpy(np.int64), level, k)
        ends = np.searchsorted(row, np.arange(len(c) + 1))
        return pd.Series([ball[a:b].tolist() for a, b in zip(ends[:-1], ends[1:])])

    return _ring(cell)


def cell_center_latlng(cell: Column) -> Column:
    """S2 cell → struct(lat, lon) of the exact cell center."""

    @pandas_udf(StructType([StructField("lat", DoubleType()), StructField("lon", DoubleType())]))
    def _ctr(c: pd.Series) -> pd.DataFrame:
        lat, lon = s2.cell_to_latlng(c.to_numpy(np.int64))
        return pd.DataFrame({"lat": lat, "lon": lon})

    return _ctr(cell)


# ---------------------------------------------------------------------------
# GIPS-style fixed tile grid (JVM-side; oracle-mirrored)
# ---------------------------------------------------------------------------

TILE_DEG = 5.0  # 5°×5° graticule → 72×36 tiles, h00v00 = (-180, 90) corner


def tile_of(lat: Column, lon: Column) -> Column:
    """GIPS-style tile id ``h{ix:02d}v{iy:02d}``: ix counts east from
    -180°, iy counts south from +90° (upstream MODIS h##v## convention).
    Pure codegen arithmetic; edge rows (lat=-90, lon=180) clamp inward.
    """
    ix = F.least(F.floor((lon + F.lit(180.0)) / F.lit(TILE_DEG)).cast("int"), F.lit(71))
    iy = F.least(F.floor((F.lit(90.0) - lat) / F.lit(TILE_DEG)).cast("int"), F.lit(35))
    return F.format_string("h%02dv%02d", ix, iy)


TILE_SQL = (
    "printf('h%02dv%02d', "
    "least(cast(floor(({lon} + 180.0) / 5.0) as int), 71), "
    "least(cast(floor((90.0 - {lat}) / 5.0) as int), 35))"
)


def quadkey_of(lat: Column, lon: Column, level: int = 8) -> Column:
    """Quadtree tile key over the equirectangular grid, MSB-first with
    the standard slippy/Bing digit convention (digit = x_bit + 2·y_bit,
    so a level-(k−1) key is the level-k key's prefix — parents are
    substrings, pyramids roll up with substr).

    Deliberate divergence from Bing's tile system: Bing projects
    through Web-Mercator (ln/tan), which is not bit-reproducible across
    engines; this key uses the same plate-carrée mapping as the tile
    grid above, keeping the oracle exact. Pure codegen arithmetic.
    """
    n = 1 << level
    x = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n).cast("int"), F.lit(0)),
        F.lit(n - 1),
    )
    y = F.least(
        F.greatest(F.floor((F.lit(90.0) - lat) / F.lit(180.0) * n).cast("int"), F.lit(0)),
        F.lit(n - 1),
    )
    digits = [
        (
            F.shiftright(x, k).bitwiseAND(F.lit(1))
            + F.lit(2) * F.shiftright(y, k).bitwiseAND(F.lit(1))
        ).cast("string")
        for k in range(level - 1, -1, -1)
    ]
    return F.concat(*digits)


def quadkey_sql(lat: str, lon: str, level: int = 8) -> str:
    """DuckDB mirror of :func:`quadkey_of` (identical double expression
    → identical floor → identical digits)."""
    n = 1 << level
    x = f"least(greatest(cast(floor(({lon} + 180.0) / 360.0 * {n}) as int), 0), {n - 1})"
    y = f"least(greatest(cast(floor((90.0 - {lat}) / 180.0 * {n}) as int), 0), {n - 1})"
    digits = " || ".join(
        f"cast((({x} >> {k}) & 1) + 2 * (({y} >> {k}) & 1) as varchar)"
        for k in range(level - 1, -1, -1)
    )
    return "(" + digits + ")"


def tile_bounds(tile_id: str) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) of a tile id — driver-side."""
    ix = int(tile_id[1:3])
    iy = int(tile_id[4:6])
    min_lon = -180.0 + ix * TILE_DEG
    max_lat = 90.0 - iy * TILE_DEG
    return (min_lon, max_lat - TILE_DEG, min_lon + TILE_DEG, max_lat)


# ---------------------------------------------------------------------------
# deterministic derived coordinates (oracle-shared synthetic geography)
# ---------------------------------------------------------------------------
# The driver's DuckDB oracle can only see the ten testdata tables, which
# carry no coordinates. Spatial queries therefore derive (lat, lon)
# deterministically from integer keys with arithmetic simple enough to
# mirror textually in SQL: exact int64 multiply-mod, then one exact
# double divide. Identical IEEE results in Spark and DuckDB.

LAT_MUL, LAT_MOD = 48271, 120000  # lat ∈ [-60, 60)
LON_MUL, LON_MOD = 69621, 360000  # lon ∈ [-180, 180)


def derived_lat(key: Column) -> Column:
    return ((key.cast("long") * F.lit(LAT_MUL)) % F.lit(LAT_MOD)).cast("double") / F.lit(
        1000.0
    ) - F.lit(60.0)


def derived_lon(key: Column) -> Column:
    return ((key.cast("long") * F.lit(LON_MUL)) % F.lit(LON_MOD)).cast("double") / F.lit(
        1000.0
    ) - F.lit(180.0)


# Self-parenthesized: these templates get embedded inside larger
# expressions (e.g. "(90.0 - {lat})"), where an unwrapped trailing
# "- 60.0" would silently rebind under SQL precedence.
DERIVED_LAT_SQL = (
    f"(((cast({{k}} as bigint) * {LAT_MUL}) % {LAT_MOD})::double / 1000.0 - 60.0)"
)
DERIVED_LON_SQL = (
    f"(((cast({{k}} as bigint) * {LON_MUL}) % {LON_MOD})::double / 1000.0 - 180.0)"
)

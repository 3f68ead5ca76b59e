"""GIPS tile assignment + inventory matrices (SURVEY.md §2.5).

Upstream-GIPS semantics re-expressed relationally: *tile assignment* is
a pure-codegen column (the fixed h##v## graticule — no join needed, the
grid is arithmetic); *inventory* is the availability matrix per
(tile, date): how many docs, how many geocoded, distinct languages,
coverage fraction — the DataInventory analogue. Rollups give the
tile→date calendar views via ``rollup``/``grouping_id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gipspark.functions.cells import tile_of


def inventory(
    df: DataFrame,
    ts_col: str = "warc_ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
    lang_col: str = "lang",
) -> DataFrame:
    """Per (tile_id, date) availability matrix. Ungeocodable rows count
    toward coverage's denominator under tile '(none)'."""
    geocoded = F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull()
    tagged = df.withColumn(
        "tile_id",
        F.when(geocoded, tile_of(F.col(lat_col), F.col(lon_col))).otherwise(F.lit("(none)")),
    ).withColumn("date", F.to_date(F.col(ts_col)))
    return tagged.groupBy("tile_id", "date").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(F.col(lang_col)).alias("n_langs"),
        F.sum(F.when(geocoded, 1).otherwise(0)).alias("n_geocoded"),
    )


def inventory_rollup(inv: DataFrame) -> DataFrame:
    """Calendar rollup tile→total, date→month (grouping-sets surface)."""
    return (
        inv.withColumn("month", F.date_trunc("month", F.col("date").cast("timestamp")).cast("date"))
        .rollup("tile_id", "month")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_geocoded").alias("n_geocoded"),
            F.grouping_id().alias("gid"),
        )
    )


def adaptive_quadtree(
    points: DataFrame,
    max_occupancy: int,
    max_depth: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Density-adaptive tiling: the coarsest variable-depth quadkey
    tiles such that every emitted tile holds ≤ ``max_occupancy`` points
    (tiles still overfull at ``max_depth`` are emitted as forced
    leaves). The adaptive analogue of the fixed graticule above — what
    a tile server builds over megacity-skewed web-doc densities.

    Scale shape: ONE pass over the points (quadkey at max_depth + one
    hash aggregate); every deeper structure is a substr pyramid rollup
    over the depth-D *cell table* (occupied cells, orders of magnitude
    smaller than points), and the emit rule is a per-depth broadcast
    equi-join of a level against its parent level. Because counts nest
    (child ≤ parent), "all ancestors overfull" reduces to "the direct
    parent is overfull" — no recursion, no iteration, no driver loop:

        emit(t, d)  ⟺  (n_t ≤ K  ∨  d = D)  ∧  (d = 1  ∨  n_parent(t) > K)

    Returns (tile, depth, n); the emitted set is a prefix-free cover of
    every occupied leaf, so Σn = |points| (asserted in tests).

    Output columns are exact integers; the DuckDB oracle replays the
    identical pyramid (quadkey digits are pure floor arithmetic both
    engines — functions/cells.quadkey_of).
    """
    from gipspark.functions.cells import quadkey_of

    k = int(max_occupancy)
    levels: dict[int, DataFrame] = {
        max_depth: points.select(
            quadkey_of(F.col(lat_col), F.col(lon_col), max_depth).alias("qk")
        )
        .groupBy("qk")
        .agg(F.count("*").cast("long").alias("n"))
    }
    for d in range(max_depth - 1, 0, -1):
        levels[d] = (
            levels[d + 1]
            .select(F.substring("qk", 1, d).alias("qk"), "n")
            .groupBy("qk")
            .agg(F.sum("n").cast("long").alias("n"))
        )
    emitted = []
    for d in range(1, max_depth + 1):
        cur = levels[d]
        keep_here = (F.col("n") <= k) if d < max_depth else F.lit(True)
        if d == 1:
            part = cur.filter(keep_here)
        else:
            parent = levels[d - 1].select(
                F.col("qk").alias("pqk"), F.col("n").alias("pn")
            )
            part = (
                cur.join(
                    F.broadcast(parent),
                    F.substring("qk", 1, d - 1) == F.col("pqk"),
                )
                .filter((F.col("pn") > k) & keep_here)
                .select("qk", "n")
            )
        emitted.append(part.select(F.col("qk").alias("tile"), F.lit(d).alias("depth"), "n"))
    out = emitted[0]
    for p in emitted[1:]:
        out = out.unionByName(p)
    return out

"""Distributed global ranking + Sort-Tile-Recursive (STR) R-tree packing.

``global_row_number`` is the scale primitive the rest of this module
builds on: Spark's ``row_number() OVER (ORDER BY ...)`` with no
PARTITION BY plans a SINGLE-partition window — the whole table funnels
through one task, which is exactly the shape this repo bans at 10^12
rows. The distributed construction is the classic two-phase rank:

    1. ``repartitionByRange`` on the full ORDER BY key (the key list
       must be a total order — callers append a unique tie-break);
       range partitioning gives partition_i < partition_j ⇒ every key
       in i sorts before every key in j;
    2. per-partition counts (one tiny agg, ≤ num_partitions rows)
       are collected, cumulative offsets computed on the driver —
       a BOUNDED collect in the bloom/hot-keys class, never data rows;
    3. within-partition ``row_number`` (each window task sees only its
       partition) + broadcast-joined offset = the exact global rank.

STR packing (Leutenegger et al., the standard bulk-load layout for
R-trees; the same recipe SpatialHadoop/Sedona use) turns that rank into
a spatial page layout: rank points by x into ⌈√L⌉ vertical slabs
(L = ⌈N/B⌉ leaf pages of capacity B), then rank by y WITHIN each slab
and cut every B rows into a page. Pages are near-square, fill factor is
maximal, and page MBRs — the R-tree leaf rectangles — come from one
groupBy. At 10^12 rows both levels stay distributed: level 1 is the
two-phase global rank, level 2 partitions by slab (a slab holds ~√(N·B)
rows — resort to the same two-phase rank per slab if B is tiny).

Exactness: ranks are integers from total-order sorts with explicit
unique tie-breaks, so page ids and MBRs are bit-identical to the
oracle's plain ``row_number() OVER (ORDER BY ...)`` replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gipspark.session import local_frame


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact 1-based global row_number over ``order_cols`` WITHOUT a
    single-partition window.

    ``order_cols`` must define a total order (append a unique key);
    otherwise ranks at partition boundaries are still correct but ties
    within a partition break by the same columns, matching the oracle
    only when the order is total.
    """
    with_pid = _ranged_with_pid(df, order_cols, num_partitions)
    # bounded driver-side collect: one row per partition, never data rows
    counts = sorted(
        with_pid.groupBy("__pid").agg(F.count("*").alias("c")).collect(),
        key=lambda r: r["__pid"],
    )
    offsets, acc = {}, 0
    for r in counts:
        offsets[r["__pid"]] = acc
        acc += r["c"]
    off_df = F.broadcast(
        local_frame(
            df.sparkSession,
            [(int(p), int(o)) for p, o in offsets.items()],
            "__pid int, __off bigint",
        )
    )
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in order_cols])
    return (
        with_pid.withColumn("__local", F.row_number().over(w))
        .join(off_df, "__pid")
        .withColumn(out, (F.col("__off") + F.col("__local")).cast("long"))
        .drop("__pid", "__off", "__local")
    )


def _ranged_with_pid(
    df: DataFrame, order_cols: list[str], num_partitions: int | None
) -> DataFrame:
    """Range-partition ``df`` on ``order_cols`` and PIN the resulting
    row→partition assignment with a localCheckpoint.

    The pin is load-bearing for correctness, not a cache hint:
    ``repartitionByRange`` picks its boundaries from a reservoir
    sample whose seed folds in the RDD id, and the two-phase rank runs
    TWO jobs (the per-partition stats collect, then the windowed
    pass). Without the checkpoint each job re-plans the exchange with
    a fresh RDD id → a fresh sample → different boundaries, and the
    driver-computed offsets no longer describe the partitions the
    window ran over — silently wrong ranks (caught at 15k rows; small
    inputs hide it because a sample that covers the whole partition is
    deterministic). Materializing once makes both jobs read the same
    partitioning. Cost: one MEMORY_AND_DISK copy of the input for the
    operator's lifetime — the same price TeraSort-style sorts pay to
    share one boundary computation across stages."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
    return ranged.withColumn("__pid", F.spark_partition_id()).localCheckpoint(eager=False)


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact inclusive global running sum of ``value_col`` in
    ``order_cols`` order WITHOUT a single-partition window — the same
    two-phase construction as :func:`global_row_number`, with the
    driver-side prefix over per-partition COUNTS replaced by one over
    per-partition SUMS (still ≤ num_partitions rows collected, never
    data rows). ``value_col`` must be integer-typed: integer partial
    sums re-associate exactly, which is what keeps the distributed
    cumsum bit-identical to the oracle's single-sequence
    ``sum() OVER (ORDER BY ...)``. ``order_cols`` must be a total
    order (append a unique key)."""
    with_pid = _ranged_with_pid(df, order_cols, num_partitions)
    sums = sorted(
        with_pid.groupBy("__pid").agg(F.sum(value_col).cast("long").alias("s")).collect(),
        key=lambda r: r["__pid"],
    )
    offsets, acc = {}, 0
    for r in sums:
        offsets[r["__pid"]] = acc
        acc += r["s"]
    off_df = F.broadcast(
        local_frame(
            df.sparkSession,
            [(int(p), int(o)) for p, o in offsets.items()],
            "__pid int, __off bigint",
        )
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        with_pid.withColumn("__local", F.sum(value_col).over(w))
        .join(off_df, "__pid")
        .withColumn(out, (F.col("__off") + F.col("__local")).cast("long"))
        .drop("__pid", "__off", "__local")
    )


def _ceil_isqrt(v: int) -> int:
    """Exact ⌈√v⌉ (math.isqrt, no float). Equals SQL's
    ceil(sqrt(v::double)) for every v < 2^52: float sqrt is correctly
    rounded, and it can only land ON an integer when v is a perfect
    square (where it is exact), so the ceilings agree."""
    import math

    r = math.isqrt(v)
    return r if r * r == v else r + 1


def str_pack(
    pts: DataFrame,
    x_col: str,
    y_col: str,
    key_col: str,
    capacity: int,
) -> DataFrame:
    """Sort-Tile-Recursive leaf assignment: (key, slab, page_id) plus
    the page MBR (min/max of both coords) and page row count.

    Page ids are ``slab * 100000 + page_in_slab`` — slab count is
    ⌈√⌈N/B⌉⌉ so the stride is safe below 10^10 leaf pages (10^13 rows
    at B=1000); assert rather than alias past that. N comes from one
    count() action (metadata-cheap on parquet); slab parameters are
    exact integer math (⌈·⌉ via ceil-div, ⌈√·⌉ via isqrt) replayed by
    the oracle in SQL.
    """
    n = int(pts.count())
    if n == 0:
        raise ValueError("str_pack: empty input")
    leaves = (n + capacity - 1) // capacity
    slabs = max(1, _ceil_isqrt(leaves))
    rows_per_slab = (n + slabs - 1) // slabs
    assert slabs < 100000, "page-id stride overflow: raise the stride"
    ranked_x = global_row_number(pts, [x_col, key_col], out="rx")
    slabbed = ranked_x.withColumn(
        "slab", F.expr(f"cast((rx - 1) div {rows_per_slab} as bigint)")
    )
    wy = Window.partitionBy("slab").orderBy(F.col(y_col), F.col(key_col))
    paged = slabbed.withColumn("ry", F.row_number().over(wy)).withColumn(
        "page_id", F.expr(f"cast(slab * 100000 + (ry - 1) div {capacity} as bigint)")
    )
    mbr = paged.groupBy("page_id").agg(
        F.min(x_col).alias("mbr_xmin"),
        F.max(x_col).alias("mbr_xmax"),
        F.min(y_col).alias("mbr_ymin"),
        F.max(y_col).alias("mbr_ymax"),
        F.count("*").cast("long").alias("page_rows"),
    )
    return paged.select(key_col, x_col, y_col, "slab", "page_id").join(
        F.broadcast(mbr), "page_id"
    )


def str_pack_sql(pts_cte: str, x: str, y: str, key: str, capacity: int) -> str:
    """DuckDB replay of :func:`str_pack` with plain global windows (the
    oracle can afford the single-partition sort) and the SAME exact
    integer parameter derivation, computed in SQL so the oracle stays
    scale-factor independent. ``pts_cte`` is a subquery producing
    (key, x, y)."""
    return f"""
base AS (SELECT * FROM {pts_cte}),
pr AS (
  SELECT cast(count(*) as bigint) AS n,
         greatest(1, cast(ceil(sqrt(cast((cast(count(*) as bigint) + {capacity} - 1)
                                         // {capacity} as double))) as bigint)) AS slabs
  FROM base
), pr2 AS (SELECT n, slabs, (n + slabs - 1) // slabs AS rps FROM pr),
ranked AS (
  SELECT base.*, row_number() OVER (ORDER BY {x}, {key}) AS rx FROM base
), slabbed AS (
  SELECT ranked.*, cast((rx - 1) // pr2.rps as bigint) AS slab FROM ranked, pr2
), paged AS (
  SELECT slabbed.*, cast(slab * 100000
        + (row_number() OVER (PARTITION BY slab ORDER BY {y}, {key}) - 1) // {capacity}
        as bigint) AS page_id
  FROM slabbed
), mbr AS (
  SELECT page_id, min({x}) AS mbr_xmin, max({x}) AS mbr_xmax,
         min({y}) AS mbr_ymin, max({y}) AS mbr_ymax,
         cast(count(*) as bigint) AS page_rows
  FROM paged GROUP BY page_id
)
SELECT p.{key}, p.{x}, p.{y}, p.slab, p.page_id,
       m.mbr_xmin, m.mbr_xmax, m.mbr_ymin, m.mbr_ymax, m.page_rows
FROM paged p JOIN mbr m USING (page_id)
"""

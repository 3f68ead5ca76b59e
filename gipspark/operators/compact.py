"""compact / uncompact for h3x cell sets (multi-resolution covers).

H3's ``compactCells`` semantics over the engine's aperture-7 index
(gipspark.geo.h3x): a set of cells at one resolution is rewritten as
the minimal mixed-resolution set covering the same area — whenever all
7 children of a parent are present they collapse into the parent,
recursively. ``uncompact`` inverts it back to a fixed resolution.

Spark shape: pure JVM bit arithmetic on the 64-bit cell id
(res field at bit 52, 3-bit digit slots from bit 45 down — h3x._pack).
compact loops res→1 driver-side but each round's DataFrame work is one
groupBy(parent).count over a set that SHRINKS by ≥7× per promotion —
at 10^12-cell covers the first round dominates and later rounds are
near-free. uncompact explodes one level per round (7-way array
explode), also pure codegen.

Use case (SURVEY.md §2.3): polygon covers stored compact are ~7×
smaller to broadcast; probe sides explode their cell's ancestor chain
(functions/cells.py s2_parent does the S2 analogue) to match any
cover level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gipspark.geo.h3x import MAX_RES

_RES_MASK_CLEAR = ~(0xF << 52) & 0xFFFFFFFFFFFFFFFF
if _RES_MASK_CLEAR >= 1 << 63:
    _RES_MASK_CLEAR -= 1 << 64


def _parent_col(cell, child_res: int):
    """Ancestor one level up for cells at ``child_res`` (Column expr)."""
    digit_shift = 3 * (MAX_RES - child_res)
    return (
        cell.bitwiseAND(F.lit(_RES_MASK_CLEAR))
        .bitwiseOR(F.lit((child_res - 1) << 52))
        .bitwiseOR(F.lit(0x7 << digit_shift))
    )


def _child_cols(cell, parent_res: int):
    """The 7 children one level down for cells at ``parent_res``."""
    digit_shift = 3 * (MAX_RES - (parent_res + 1))
    base = (
        cell.bitwiseAND(F.lit(_RES_MASK_CLEAR))
        .bitwiseOR(F.lit((parent_res + 1) << 52))
        # clear the child digit slot (it held 7 = unused)
        .bitwiseAND(F.lit(~(0x7 << digit_shift) & 0x7FFFFFFFFFFFFFFF))
    )
    return [base.bitwiseOR(F.lit(d << digit_shift)) for d in range(7)]


def compact_cells(df: DataFrame, res: int, cell_col: str = "cell") -> DataFrame:
    """Minimal mixed-res representation of a set of res-``res`` cells.

    Input must be distinct cells all at ``res``; output column ``cell``
    carries mixed resolutions (read with h3x.cell_res).
    """
    # persist each round's shrinking frontier: the rounds form a chain,
    # and without caching the final union re-derives round k's input
    # k times over (including any python encode upstream) — measured
    # O(rounds²) blowup on a 1.5k-cell cover
    frontiers: list[DataFrame] = []
    remaining = df.select(F.col(cell_col).alias("cell")).persist()
    frontiers.append(remaining)
    kept_parts: list[DataFrame] = []
    for r in range(res, 0, -1):
        with_parent = remaining.withColumn("__p", _parent_col(F.col("cell"), r))
        counts = with_parent.groupBy("__p").agg(F.count(F.lit(1)).alias("__n"))
        full = counts.filter(F.col("__n") == 7).select("__p")
        kept_parts.append(
            with_parent.join(F.broadcast(full), "__p", "left_anti").select("cell")
        )
        remaining = full.select(F.col("__p").alias("cell")).persist()
        frontiers.append(remaining)
        # NB: broadcast(full) is correct while promoted sets are
        # dim-sized; for planet-scale covers drop the hint and let AQE
        # choose (the join key is already the shuffle key)
    kept_parts.append(remaining)
    out = kept_parts[0]
    for p in kept_parts[1:]:
        out = out.unionByName(p)
    # materialize once while the frontier caches are live, then release
    # them — otherwise every call leaks `res`+1 cached blocks for the
    # session lifetime (components.py-style bounded-memory discipline).
    # localCheckpoint (eager) instead of persist: it cuts the lineage so
    # downstream reuse never re-derives the frontiers, and its blocks
    # are released by the ContextCleaner when the returned DataFrame is
    # garbage-collected — a plain persist() here would leak one cached
    # DataFrame per call for the session lifetime (ADVICE r2).
    out = out.localCheckpoint(eager=True)
    for f in frontiers:
        f.unpersist()
    return out


def uncompact_cells(df: DataFrame, res: int, cell_col: str = "cell") -> DataFrame:
    """Expand a mixed-res cell set back to all descendants at ``res``."""
    from gipspark.geo.h3x import cell_res  # noqa: F401  (doc pointer)

    out = df.select(F.col(cell_col).alias("cell"))
    for r in range(res):  # at most ``res`` expansion rounds
        cur_res = F.shiftright(F.col("cell"), 52).bitwiseAND(F.lit(0xF))
        at_target = out.filter(cur_res >= res)
        below = out.filter(cur_res < res)
        expanded = below.select(
            F.explode(
                # children exist only for the row's own res; build the
                # 7-child array per distinct res via chained whens
                _children_any_res(F.col("cell"), res)
            ).alias("cell")
        )
        out = at_target.unionByName(expanded)
    return out


def _children_any_res(cell, max_res: int):
    """Array of the 7 children for a cell at ANY res < max_res —
    res-dispatched via chained CASE (res is data, not a literal)."""
    cur = F.shiftright(cell, 52).bitwiseAND(F.lit(0xF))
    expr = F.array(cell)  # fallback: already at/above target
    for r in range(max_res - 1, -1, -1):
        expr = F.when(cur == r, F.array(*_child_cols(cell, r))).otherwise(expr)
    return expr

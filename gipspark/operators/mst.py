"""Borůvka minimum spanning tree / forest.

The textbook distributed MST: every round, each component selects its
minimum-weight outgoing edge; selected edges merge components; repeat.
Component count at least halves per round ⇒ O(log n) rounds, each one
a (component, min-struct) hash aggregate plus a component-contraction
WCC over the SELECTED edges only (a graph with ≤ #components edges —
tiny next to the input), never a shuffle of the full edge list beyond
the label join.

Correctness contract: edge weights MUST be pairwise distinct (the
caller encodes a tie-break into the integer weight, e.g.
w = d²·K + a·n + b). With distinct weights the MST is unique and
Borůvka's selected-edge union is acyclic without a cycle-break step —
and, crucially for the oracle, ANY correct algorithm (the DuckDB
recursive-Prim replay, a Python Kruskal) produces the identical edge
set, making the check method-independent rather than a mirror.

Rounds localCheckpoint their label frame (the components.py lesson:
self-join plans double per round otherwise). Disconnected inputs
yield the minimum spanning FOREST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gipspark.operators.components import connected_components
from gipspark.session import local_frame


def boruvka_mst(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    w_col: str = "w",
    max_rounds: int = 40,
) -> DataFrame:
    """(a, b, w) rows of the unique MST/MSF of an undirected weighted
    graph with pairwise-distinct integer weights; a < b canonical."""
    ed = (
        edges.select(
            F.least(a_col, b_col).alias("a"),
            F.greatest(a_col, b_col).alias("b"),
            F.col(w_col).alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    comp = (
        ed.select(F.col("a").alias("node"))
        .unionAll(ed.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    out: DataFrame | None = None
    for _ in range(max_rounds):
        lab = (
            ed.join(
                comp.select(F.col("node").alias("a"), F.col("comp").alias("ca")), "a"
            )
            .join(comp.select(F.col("node").alias("b"), F.col("comp").alias("cb")), "b")
            .filter(F.col("ca") != F.col("cb"))
        )
        if lab.limit(1).count() == 0:
            break
        # each endpoint component nominates its min outgoing edge
        pick = (
            lab.select(F.col("ca").alias("c"), "w", "a", "b")
            .unionAll(lab.select(F.col("cb").alias("c"), "w", "a", "b"))
            .groupBy("c")
            .agg(F.min(F.struct("w", "a", "b")).alias("m"))
            .select(F.col("m.a").alias("a"), F.col("m.b").alias("b"), F.col("m.w").alias("w"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        out = pick if out is None else out.unionAll(pick).distinct().localCheckpoint(eager=True)
        # contract: WCC over the selected edges' component ids
        sel_comp = (
            pick.join(
                comp.select(F.col("node").alias("a"), F.col("comp").alias("ca")), "a"
            )
            .join(comp.select(F.col("node").alias("b"), F.col("comp").alias("cb")), "b")
            .select(F.col("ca").alias("id_a"), F.col("cb").alias("id_b"))
        )
        merged = connected_components(sel_comp)  # (node=old comp, comp=new comp)
        comp = (
            comp.join(
                merged.select(F.col("node").alias("comp"), F.col("comp").alias("nc")),
                "comp",
                "left",
            )
            .select("node", F.coalesce("nc", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(f"boruvka_mst: not converged after {max_rounds} rounds")
    ed.unpersist()
    if out is None:
        return local_frame(edges.sparkSession, [], "a long, b long, w long")
    return out

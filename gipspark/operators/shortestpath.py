"""K-round Bellman-Ford (bounded-hop cheapest path) over an edge table.

The distributed single-source shortest path shape: keep a (node, dist)
frontier table, and each round relax EVERY edge leaving the current
table (one shuffle join on src), union with the current distances, and
take the per-node min (one hash aggregate). Integer weights keep the
result bit-exact and oracle-replayable as an unrolled recursion.

Why rounds, not a priority queue: Dijkstra's queue is inherently
sequential; Bellman-Ford rounds are the textbook distributed
formulation (Pregel/GraphX SSSP) — each round is one candidate-bounded
shuffle, and K rounds bound both work and the oracle's recursion depth.
For full convergence set ``converge=True``: iterate until a round adds
no improvement (≤ diameter rounds), with localCheckpoint cutting
lineage every round (components.py discipline).

At 10^12 edges: the edge table shuffles once per round on src; the
distance table is bounded by the reachable set; nothing is collected
to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gipspark.session import local_frame


def khop_cheapest(
    edges: DataFrame,
    source: int,
    k: int,
    converge: bool = False,
    max_rounds: int = 64,
) -> DataFrame:
    """(node, dist) of the cheapest ≤k-hop path from ``source`` over
    ``edges`` (src, dst, w) with non-negative integer weights. With
    ``converge=True``, k is ignored and rounds run until fixpoint
    (bounded by ``max_rounds``, raising on non-convergence — the
    components.py contract)."""
    spark = edges.sparkSession
    dist = local_frame(spark, [(int(source), 0)], "node long, dist long")
    rounds = max_rounds if converge else k
    for r in range(rounds):
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        new = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if converge:
            # materialize once per round, cut lineage, and stop when no
            # node improved (anti-join on the exact (node, dist) pair)
            new = new.localCheckpoint(eager=True)
            changed = new.join(dist, ["node", "dist"], "left_anti").limit(1).count()
            dist = new
            if changed == 0:
                return dist
        else:
            dist = new
    if converge:
        raise RuntimeError(
            f"khop_cheapest did not converge within max_rounds={max_rounds}"
        )
    return dist


def multi_source_hops(
    seeds: DataFrame,
    edges: DataFrame,
    k: int,
) -> DataFrame:
    """(node, hops) of the minimum hop count ≤ ``k`` from ANY seed node
    over unit-weight ``edges`` (src, dst) — the multi-source BFS behind
    isochrones / service areas (how many grid steps from the nearest
    facility?). Same k-round relax shape as khop_cheapest above, but
    the frontier starts as the whole seed set (one DataFrame, never a
    per-seed loop) so all sources expand in the same k joins; the
    min-agg collapses overlapping wavefronts each round. At 100 TB the
    per-round shuffle is bounded by the reached-node set, and k is a
    small constant — no convergence loop needed for the isochrone use."""
    dist = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct().select(
        "node", F.lit(0).cast("long").alias("hops")
    )
    for r in range(k):
        relaxed = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"), (F.col("hops") + F.lit(1)).alias("hops")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
        # cut lineage every few rounds (khop_cheapest converge-mode
        # discipline) so the plan stays flat for large-k callers; at the
        # isochrone's k=4 this never fires and the plan is unchanged
        if (r + 1) % 8 == 0 and r + 1 < k:
            dist = dist.localCheckpoint(eager=True)
    return dist

"""Streaming geofence: enter/exit transition detection with state.

Batch geofencing (queries.geofence_transitions) lag-compares each
(user, fence) series inside one job. A stream can't window over its
whole history, so the last inside/outside flag per (user, fence) lives
in the state store and transitions are detected across micro-batch
boundaries via applyInPandasWithState — the canonical "custom stateful
operator" shape (SURVEY.md §2.10).

The inside test itself is operators.pip.ray_cast_inside, the pip
refine's even-odd crossing fold, with the fence's edges inlined as a
LITERAL array expression (operators.distance's edge list, the one
pip_join refines against, open rings closed) — fences are dim-sized,
so each event's flags for all fences are pure whole-stage-codegen
arithmetic: narrow, no join, no Python, exactly what a 10^12-event
stream needs ahead of the single stateful shuffle on (user_id,
poly_id).

State is one integer per (user, fence) key with event-time eviction 24h
past the key's last fix (bounded state; same EventTimeTimeout choice as
streaming/stateful.py — ProcessingTimeTimeout + availableNow NPEs on
Spark 4.1.2).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gipspark.operators.distance import _edge_array, _polygon_edges
from gipspark.operators.pip import ray_cast_inside

FENCE_STATE_SCHEMA = StructType([StructField("last_inside", IntegerType())])

FENCE_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("poly_id", IntegerType()),
        StructField("ts_us", LongType()),
        StructField("event_id", LongType()),
        StructField("kind", StringType()),
    ]
)


def inside_flag(lat: Column, lon: Column, poly: dict) -> Column:
    """Even-odd inside test against the polygon's literal edge array —
    the pip refine's ray cast, zero joins."""
    return ray_cast_inside(lon, lat, _edge_array(_polygon_edges([poly]))).cast("int")


def fence_flags(
    df: DataFrame,
    polys: list[dict],
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """df + (poly_id, inside) per fence — one literal-array explode,
    works identically on batch and streaming frames. Fences crossing
    ±180° are strip-split first (geo/antimeridian.py; no-op otherwise)."""
    from gipspark.geo.antimeridian import normalize_antimeridian

    polys = normalize_antimeridian(polys)
    la, lo = F.col(lat_col), F.col(lon_col)
    return df.withColumn(
        "__f",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(p["poly_id"])).alias("poly_id"),
                        inside_flag(la, lo, p).alias("inside"),
                    )
                    for p in polys
                ]
            )
        ),
    ).select(*df.columns, "__f.poly_id", "__f.inside")


def _transitions(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    user_id, poly_id = key
    if state.hasTimedOut:
        state.remove()
        return
    import numpy as np

    pdf = pd.concat(list(pdfs), ignore_index=True)
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")  # stable, total
    inside = pdf["inside"].to_numpy(np.int64)
    ts_us = pdf["ts"].astype("int64").to_numpy() // 1000  # ns → µs
    # vectorized flip detection: each fix compares to its predecessor;
    # the first fix compares to the carried state (no transition when
    # the key is brand new — matches the batch lag-NULL semantics)
    prev = np.empty_like(inside)
    prev[1:] = inside[:-1]
    prev[0] = state.get[0] if state.exists else inside[0]
    flip = inside != prev
    state.update((int(inside[-1]),))
    state.setTimeoutTimestamp(int(ts_us[-1]) // 1000 + 24 * 3_600_000)
    if flip.any():
        yield pd.DataFrame(
            {
                "user_id": np.full(int(flip.sum()), int(user_id), dtype=np.int64),
                "poly_id": np.full(int(flip.sum()), int(poly_id), dtype=np.int32),
                "ts_us": ts_us[flip],
                "event_id": pdf["event_id"].to_numpy(np.int64)[flip],
                "kind": np.where(inside[flip] == 1, "enter", "exit"),
            }
        )


def geofence_stream(
    events: DataFrame,
    polys: list[dict],
    lat_col: str = "lat",
    lon_col: str = "lon",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming events(user_id, ts, event_id, lat, lon) → transition
    rows (user_id, poly_id, ts_us, event_id, kind), state persisting
    across micro-batches."""
    flagged = fence_flags(events.withWatermark("ts", watermark), polys, lat_col, lon_col)
    return flagged.groupBy("user_id", "poly_id").applyInPandasWithState(
        _transitions,
        outputStructType=FENCE_OUT_SCHEMA,
        stateStructType=FENCE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def geofence_batch(
    events: DataFrame,
    polys: list[dict],
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """The batch twin (same flags, window lag) — the streaming result
    under time-ordered arrival must equal this exactly."""
    from pyspark.sql.window import Window

    flagged = fence_flags(events, polys, lat_col, lon_col)
    w = Window.partitionBy("user_id", "poly_id").orderBy("ts", "event_id")
    seq = flagged.withColumn("prev", F.lag("inside").over(w))
    tr = seq.filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("inside")))
    return tr.select(
        "user_id",
        F.col("poly_id").cast("int").alias("poly_id"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.when(F.col("inside") == 1, F.lit("enter")).otherwise(F.lit("exit")).alias("kind"),
    )

"""Streaming ingest of the events table (SURVEY.md §2.10).

The batch engine's cells/tiles re-used under Structured Streaming:
``events`` replayed as a file stream (parquet chunks dropped into a
monitored dir — the local stand-in for Kafka/rate sources), windowed
aggregation with a watermark for late data, stateful dedup, and a
``foreachBatch`` sink writing per-batch checkpoint tables through the
same parquet layout the batch engine reads.

Tests drive everything with ``trigger(availableNow=True)`` so streams
terminate deterministically (no wall-clock flakiness).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gipspark.functions.cells import derived_lat, derived_lon, tile_of

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def stage_stream_chunks(spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 4) -> None:
    """Split the events parquet into n_chunks files under ``out_dir`` —
    the replayable stream source (each file = one arrival batch).

    Chunks are contiguous EVENT-TIME slices written oldest-first (one
    sequential write per chunk → strictly increasing modification
    times), so the file source's oldest-first ordering replays arrival
    in event-time order. That mirrors a real log tail and makes
    append-mode watermark output deterministic: a window only closes
    once every event that can reach it has arrived. The earlier
    hash-sliced staging made every later file almost entirely
    late-beyond-watermark, so which rows were dropped depended on the
    (job-identical, hence unordered) file modification times — a
    suite-level coin flip."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo, hi = ev.agg(
        F.unix_timestamp(F.min("ts")).alias("lo"), F.unix_timestamp(F.max("ts")).alias("hi")
    ).collect()[0]
    span = max(1, (int(hi) - int(lo)) // n_chunks + 1)
    chunk = F.floor((F.unix_timestamp(F.col("ts")) - F.lit(int(lo))) / F.lit(span))
    for i in range(n_chunks):
        mode = "overwrite" if i == 0 else "append"
        ev.filter(chunk == i).coalesce(1).write.mode(mode).parquet(out_dir)


def read_events_stream(spark: SparkSession, chunk_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )


def windowed_counts(stream: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Tumbling-window counts per event_type with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session closes after ``gap`` idle."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("value_sum"))
    )


def dedup_stream(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful exact dedup on event_id within the watermark horizon."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def streaming_cell_counts(stream: DataFrame) -> DataFrame:
    """Geo rollup on a stream: derive coordinates (same deterministic
    rule as the batch oracle queries), assign GIPS tiles, count per
    (window, tile) — the streaming analogue of the inventory matrix."""
    tagged = stream.withColumn("lat", derived_lat(F.col("user_id") + F.lit(1))).withColumn(
        "lon", derived_lon(F.col("user_id") + F.lit(1))
    )
    return (
        tagged.withColumn("tile_id", tile_of(F.col("lat"), F.col("lon")))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("win"), "tile_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "tile_id", "n")
    )


def streaming_polygon_counts(stream: DataFrame, polys: list[dict]) -> DataFrame:
    """Streaming PIP: events → derived coords → point-in-polygon
    (broadcast cell-prefilter + JVM ray-cast refine — the SAME
    gipspark.operators.pip operator the batch engine runs; its plan is
    narrow joins + filters, so Structured Streaming accepts it
    unchanged) → per-(window, poly) counts with a watermark."""
    from gipspark.operators.pip import pip_join

    tagged = stream.withColumn("lat", derived_lat(F.col("event_id") + F.lit(1))).withColumn(
        "lon", derived_lon(F.col("event_id") + F.lit(1))
    )
    matched = pip_join(tagged, polys, level=7)
    return (
        matched.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("win"), "poly_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "poly_id", "n")
    )


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "24 hours",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase matched to
    the same user's earlier clicks within ``horizon``.

    Both sides carry an event-time watermark and the join condition
    bounds purchase_ts to [click_ts, click_ts + horizon], so Spark can
    derive a state-retention bound for each side — click state is
    evicted once the purchase watermark passes click_ts + horizon;
    state never grows unboundedly (the requirement for a 10^12-row
    stream). With time-ordered arrival the result equals the batch
    interval join exactly (pytested); out-of-order arrival beyond the
    watermark degrades to a documented subset.
    """
    c = clicks.select(
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("p_user") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return p.join(c, cond, "inner").select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )


def run_to_table(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str, mode: str = "append"
) -> None:
    """Drain a streaming query to parquet via foreachBatch with
    availableNow (terminates when the source is exhausted). foreachBatch
    gives the batch-engine sink (checkpointed parquet) + per-batch
    metrics for free."""
    metrics: list[tuple[int, int]] = []

    def sink(batch: DataFrame, batch_id: int) -> None:
        n = batch.count()
        metrics.append((batch_id, n))
        batch.write.mode("append").parquet(out_dir)

    q = (
        stream_df.writeStream.outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    with open(os.path.join(checkpoint_dir, "batch_metrics.txt"), "w") as f:
        for bid, n in metrics:
            f.write(f"{bid}\t{n}\n")

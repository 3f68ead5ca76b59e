"""Deterministic synthetic fixtures — the engine's own test geography.

Implements FIXTURES.md §1 exactly: a Common-Crawl-style document table
shaped like BASELINE.json:15's ``input_hint`` (url, warc_ts, html, text,
lang), polygon zones, the GIPS-style 5°×5° tile grid, and a
raster-as-table for zonal aggregation. "No external data" (task brief):
every value is a pure function of (seed, row id) via a splitmix64-style
counter hash, so any row can be generated on any executor independently
— the generator parallelizes with ``spark.range(n) → mapInPandas`` and
produces identical bytes at any partitioning (property-tested).

Skew fixture: ~30% of geocoded docs fall in one "megacity" hotspot
(Paris ±0.05°) → one dominant S2 cell, exercising the salted hybrid
join (BASELINE.json:6 "megacity hotspots").
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from gipspark.functions.text import extract_text_series
from gipspark.session import local_frame

SEED = 7
DOC_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), False),
        StructField("lang", StringType(), False),
    ]
)

_VOCAB = (
    "tile cell index join query scan web page crawl text geo map point polygon "
    "zone raster value data table spark shuffle partition skew city river road "
    "lake park street north south east west"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
MEGACITY = (48.8566, 2.3522)  # the hotspot cell anchor


def _mix(ids: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer over (seed, salt, id) — uniform uint64."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        z = ids.astype(np.uint64) + np.uint64(
            (0x9E3779B97F4A7C15 * (SEED * 1000003 + salt)) & 0xFFFFFFFFFFFFFFFF
        )
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(ids: np.ndarray, salt: int) -> np.ndarray:
    """Uniform float64 in [0, 1)."""
    return (_mix(ids, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def docs_pdf(ids: np.ndarray) -> pd.DataFrame:
    """Generate document rows for arbitrary ids — pure, vectorized."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    url = pd.Series(
        np.char.add(
            np.char.add("https://site", (_mix(ids, 1) % np.uint64(1000)).astype("U4")),
            np.char.add(".example/p/", ids.astype("U20")),
        )
    )
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        (ids * 7777) % (90 * 86400), unit="s"
    )
    lang = pd.Series(np.array(_LANGS, dtype=object)[(_mix(ids, 2) % np.uint64(5)).astype(int)])

    # body text: 20–120 tokens drawn from the vocab via counter hashes
    n_tok = 20 + (_mix(ids, 3) % np.uint64(101)).astype(np.int64)
    max_tok = int(n_tok.max()) if n else 0
    tok_idx = np.stack(
        [(_mix(ids * np.int64(131) + np.int64(t), 4) % np.uint64(len(_VOCAB))).astype(int) for t in range(max_tok)],
        axis=1,
    ) if n else np.zeros((0, 0), dtype=int)
    vocab = np.array(_VOCAB, dtype=object)
    bodies = [" ".join(vocab[tok_idx[i, : n_tok[i]]]) for i in range(n)]

    # geocoding: ~70% geocoded; of those, 30% in the megacity hotspot
    geo_u = _unit(ids, 5)
    geocoded = geo_u < 0.7
    hot = _unit(ids, 6) < 0.3
    lat = np.where(
        hot,
        MEGACITY[0] + (_unit(ids, 7) - 0.5) * 0.1,
        -60.0 + _unit(ids, 7) * 120.0,
    )
    lon = np.where(
        hot,
        MEGACITY[1] + (_unit(ids, 8) - 0.5) * 0.1,
        -180.0 + _unit(ids, 8) * 360.0,
    )
    lat = np.round(lat, 6)
    lon = np.round(lon, 6)

    geo_meta = np.where(
        geocoded,
        np.char.add(
            np.char.add('<meta name="geo.position" content="', lat.astype("U12")),
            np.char.add(np.char.add(";", lon.astype("U12")), '">'),
        ),
        "",
    )
    html = pd.Series(
        [
            (
                f"<html><head><title>Page {i}</title>{g}"
                f"<script>var x={int(i) % 97};</script></head>"
                f"<body><!-- crawl --><p>{b}</p></body></html>"
            ).encode("utf-8")
            for i, g, b in zip(ids, geo_meta, bodies)
        ]
    )
    text = extract_text_series(html)  # the frozen spec — invariant by construction
    return pd.DataFrame({"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang})


def docs_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed generator: spark.range → mapInPandas(docs_pdf).

    Each partition generates only its own id span — embarrassingly
    parallel, no shuffle, no driver materialization; at cluster scale the
    same code generates the 10^12-row surrogate directly into Iceberg.
    """
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield docs_pdf(b["id"].to_numpy())

    return spark.range(0, n, 1, parts).mapInPandas(gen, DOC_SCHEMA)


# ---------------------------------------------------------------------------
# polygons / tile grid / raster (FIXTURES.md §1.2–1.4)
# ---------------------------------------------------------------------------


def polygons(n: int = 50) -> list[dict]:
    """Seeded zone polygons: convex 6–12-gons, 5 stars (concave), 2 with
    holes; 3 clustered over the megacity hotspot. Rings are (lon, lat)."""
    rng = np.random.default_rng(SEED)
    out = []
    for pid in range(n):
        if pid < 3:  # megacity cluster
            cx, cy = MEGACITY[1] + rng.uniform(-0.3, 0.3), MEGACITY[0] + rng.uniform(-0.3, 0.3)
            radius = rng.uniform(0.05, 0.4)
        else:
            cx, cy = rng.uniform(-170, 170), rng.uniform(-55, 55)
            radius = rng.uniform(0.05, 1.8)  # ~5–200 km
        k = int(rng.integers(6, 13))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        star = n - 8 <= pid < n - 3  # 5 concave stars
        r = radius * (0.4 + 0.6 * ((np.arange(k) % 2) if star else np.ones(k))) * rng.uniform(
            0.7, 1.0, k
        )
        ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang) * 0.8], axis=1)
        rings = [np.vstack([ring, ring[:1]])]
        if pid >= n - 2:  # 2 with holes
            hole = np.stack(
                [
                    cx + 0.3 * radius * np.cos(ang[::-1]),
                    cy + 0.3 * radius * np.sin(ang[::-1]) * 0.8,
                ],
                axis=1,
            )
            rings.append(np.vstack([hole, hole[:1]]))
        out.append({"poly_id": pid, "name": f"zone{pid}", "rings": [r_.tolist() for r_ in rings]})
    return out


def raster_tile_pdf(tile_id: str, px: int) -> pd.DataFrame:
    """One tile's pixel rows — pure, deterministic, shared by the Spark
    fixture (mapInPandas kernel below) and the DuckDB oracle builder
    (queries._raster_px_values_sql), so both sides see bit-identical
    doubles."""
    from gipspark.functions.cells import tile_bounds

    min_lon, min_lat, max_lon, max_lat = tile_bounds(tile_id)
    ix, iy = np.meshgrid(np.arange(px), np.arange(px), indexing="ij")
    ix, iy = ix.ravel(), iy.ravel()
    lon = min_lon + (ix + 0.5) * (max_lon - min_lon) / px
    lat = max_lat - (iy + 0.5) * (max_lat - min_lat) / px
    base = np.sin(np.radians(lon) * 3.0) * np.cos(np.radians(lat) * 2.0) * 10.0
    noise = (_unit((ix * 7919 + iy).astype(np.int64), 99) - 0.5) * 0.5
    return pd.DataFrame(
        {
            "tile_id": tile_id,
            "ix": ix.astype(np.int32),
            "iy": iy.astype(np.int32),
            "lon": lon,
            "lat": lat,
            "value": base + noise,
        }
    )


def raster_cells_df(
    spark: SparkSession, tiles: list[str], px: int = 64, partitions: int | None = None
) -> DataFrame:
    """Raster-as-table: px×px pixels per tile, value = seeded smooth
    field f(lon, lat) + deterministic noise (FIXTURES.md §1.4)."""
    parts = partitions or spark.sparkContext.defaultParallelism
    tiles_df = local_frame(
        spark, [(t,) for t in tiles], StructType([StructField("tile_id", StringType())])
    )

    schema = StructType(
        [
            StructField("tile_id", StringType(), False),
            StructField("ix", IntegerType(), False),
            StructField("iy", IntegerType(), False),
            StructField("lon", DoubleType(), False),
            StructField("lat", DoubleType(), False),
            StructField("value", DoubleType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            frames = [raster_tile_pdf(t, px) for t in b["tile_id"]]
            yield pd.concat(frames) if frames else pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in schema.fields}
            )

    return tiles_df.repartition(min(parts, max(1, len(tiles)))).mapInPandas(gen, schema)

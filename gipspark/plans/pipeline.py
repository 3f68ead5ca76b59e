"""The flagship pipeline: scan → extract/geotag → encode → PIP join →
tile assign → clustered write, checkpointed per stage.

This is the BASELINE.json:2 benchmark subject ("H3-encode + PIP-join +
tile-assign … docs/sec end-to-end") and the resume demonstration
(BASELINE.json:6). Each stage is a declarative DataFrame; Python is
crossed exactly once per row batch (the fused extract+geotag+encode
pass) — everything else, the PIP refine included, is whole-stage
codegen.

Stage list (names are manifest keys — stable across runs):
  s1_enrich   html → text', (lat,lon), s2/h3 cells, tile  [one fused
              mapInPandas pass + codegen tile; html dropped at the seam]
  s2_pip      ⋈ polygons (broadcast multi-level prefilter + refine)
  s3_cluster  cluster by cell (repartitionByRange) + final table
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gipspark.functions.cells import tile_of
from gipspark.operators.pip import pip_join
from gipspark.operators.skew import cluster_by_cell
from gipspark.sources.checkpoint import CheckpointedRun


def enrich_docs(docs: DataFrame, keep_html: bool = False) -> DataFrame:
    """scan → extract/geotag → encode (bench hot path).

    ONE ``mapInPandas`` pass does extraction, geotagging and both cell
    encodes — a single Arrow transfer of html and a single Python worker
    pool. (Chaining one scalar pandas UDF per step plans stacked
    ArrowEvalPython nodes, each with its own worker pool per core —
    measured 3× *slower* at local[32] than local[8] from pure worker
    thrash, BENCH notes.) The fused plan is also what a 1000-executor
    run wants: narrow, no shuffle, one python process per task slot.

    ``keep_html=False`` (default) drops the html payload from the
    output: the bytes must cross INTO Python once (they are the input),
    but shipping them back out through Arrow — and through every
    downstream exchange — doubles the pipeline's byte volume for a
    column nothing downstream reads.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from gipspark.functions.text import extract_text_series, geotag_frame
    from gipspark.geo import h3x, s2

    out_fields = [f for f in docs.schema.fields if keep_html or f.name != "html"]
    out_schema = StructType(
        out_fields
        + [
            StructField("text_extracted", StringType()),
            StructField("lat", DoubleType()),
            StructField("lon", DoubleType()),
            StructField("cell", LongType()),
            StructField("h3cell", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            # decode once: geotag and extract both need str, and the
            # ("utf-8", "replace") decode is ~15% of the kernel — the
            # frozen-spec bytes→str rule lives HERE now, shared
            html_s = b["html"].map(
                lambda v: v.decode("utf-8", "replace")
                if isinstance(v, (bytes, bytearray))
                else v
            )
            geo = geotag_frame(html_s)
            text = extract_text_series(html_s)
            if not keep_html:
                b = b.drop(columns=["html"])
            b = b.assign(
                text_extracted=text,
                lat=geo["lat"].to_numpy(),
                lon=geo["lon"].to_numpy(),
            )
            m = geo["lat"].notna().to_numpy()
            cell = np.full(len(b), np.nan)
            h3c = np.full(len(b), np.nan)
            if m.any():
                la = geo["lat"].to_numpy(np.float64)[m]
                lo = geo["lon"].to_numpy(np.float64)[m]
                cell[m] = s2.latlng_to_cell(la, lo, 12)
                h3c[m] = h3x.latlng_to_cell(la, lo, 7)
            b = b.assign(
                cell=pd.array(
                    np.where(m, cell, 0).astype(np.int64), dtype="Int64"
                ),
                h3cell=pd.array(np.where(m, h3c, 0).astype(np.int64), dtype="Int64"),
            )
            b.loc[~m, "cell"] = pd.NA
            b.loc[~m, "h3cell"] = pd.NA
            yield b

    enriched = docs.mapInPandas(run, out_schema)
    geocoded = F.col("lat").isNotNull()
    return enriched.withColumn(
        "tile_id", F.when(geocoded, tile_of(F.col("lat"), F.col("lon"))).otherwise(F.lit(None))
    )


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    polys: list[dict],
    ckpt_root: str,
    run_id: str = "run0",
) -> tuple[DataFrame, CheckpointedRun]:
    """Checkpointed end-to-end run; returns (final assignments, run)."""
    run = CheckpointedRun(spark, ckpt_root, run_id)

    enriched = run.stage("s1_enrich", lambda: enrich_docs(docs), key_col="cell")

    def s2() -> DataFrame:
        pts = enriched.filter(F.col("lat").isNotNull())
        return pip_join(pts, polys, cell_col="cell").select(
            "url", "warc_ts", "lang", "lat", "lon", "cell", "h3cell", "tile_id", "poly_id"
        )

    matched = run.stage("s2_pip", s2, key_col="cell")

    final = run.stage("s3_cluster", lambda: cluster_by_cell(matched, "cell"), key_col="cell")
    return final, run

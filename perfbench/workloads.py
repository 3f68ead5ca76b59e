"""The two workloads. Each drives gipspark only through public functions.

A workload runs *rounds*. ``round(i, traced=False)`` runs round ``i`` fused,
the way a user calls the library; ``round(i, traced=True)`` runs the same
ops staged, each layer ending at its own action on an input the previous
layer materialized, with a span around every call into a layer. Both
return :class:`Op` records whose canonical results are checked against the
reference outside the timed interval.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import inputs
import reference
from probes import Clock, pip_rows


@dataclass
class Op:
    kind: str  # result kind for reference.compare
    wall: float  # timed wall of the op (s)
    rows: int  # input rows the op scanned
    result: dict  # canonical result
    want: dict  # reference result
    layers: dict = field(default_factory=dict)  # per-layer counts/times (traced)
    cpu: float = 0.0  # CPU seconds of the process tree over the op (untraced)


N_DOCS, SMOKE_DOCS = 30_000, 3_000  # one doc table per seed, shared by all workloads


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Ctx:
    """What every workload needs: session, probes, tracer, cache, seed, size."""

    def __init__(self, spark, probe, tracer, cache: str, seed: int, smoke: bool):
        self.spark, self.probe, self.tracer = spark, probe, tracer
        self.cache, self.seed, self.smoke = cache, seed, smoke

    def span(self, name: str, op: int | None = None, **attrs):
        return self.tracer.span(name, op, **attrs)


def tiling_polys() -> list[dict]:
    """bench.py's zone set: 50 fixture zones + the oracle polygons."""
    from gipspark.queries import ORACLE_POLYGONS
    from gipspark.sources.fixtures import polygons

    return polygons(50) + [{**p, "poly_id": 100 + p["poly_id"]} for p in ORACLE_POLYGONS]


def kernel_probe(ctx: Ctx, docs_path: str, polys: list[dict]) -> dict:
    """Driver-side kernel costs on a fixed batch of the workload's own docs,
    and an uncached cover build of its zone set."""
    import pandas as pd
    import pyarrow.parquet as pq

    from gipspark.functions.text import extract_text_series, geotag_frame
    from gipspark.geo import h3x, s2
    from gipspark.geo.pip import polygon_cover
    from gipspark.operators.pip import choose_cover_level

    html = pq.read_table(docs_path, columns=["html"]).column("html").to_pylist()[:16384]
    batch = pd.Series(html)
    out = {}

    def best(fn, reps=3):
        walls = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t)
        return median(walls)

    out["text.extract_us_per_doc"] = best(lambda: extract_text_series(batch)) / len(batch) * 1e6
    out["text.geotag_us_per_doc"] = best(lambda: geotag_frame(batch)) / len(batch) * 1e6
    geo = geotag_frame(batch).dropna()
    lat, lon = geo["lat"].to_numpy(np.float64), geo["lon"].to_numpy(np.float64)
    out["geo.s2_ns_per_point"] = best(lambda: s2.latlng_to_cell(lat, lon, 12)) / len(lat) * 1e9
    out["geo.h3_ns_per_point"] = best(lambda: h3x.latlng_to_cell(lat, lon, 7)) / len(lat) * 1e9
    out["enrich.geocoded_ratio"] = len(lat) / len(batch)

    cells = 0
    t = time.perf_counter()
    for p in polys:
        rings = [np.asarray(r, dtype=np.float64) for r in p["rings"]]
        cells += len(polygon_cover(rings, level=choose_cover_level(rings)))
    out["geo.cover_build_s"] = time.perf_counter() - t
    out["geo.cover_cells"] = cells
    return out


def cover_rows(polys: list[dict]) -> int:
    """Rows of the public polygon_covers table pip_join broadcasts."""
    from gipspark.operators.pip import choose_cover_level, polygon_covers

    groups: dict[int, list[dict]] = {}
    for p in polys:
        lvl = choose_cover_level([np.asarray(r, dtype=np.float64) for r in p["rings"]])
        groups.setdefault(lvl, []).append(p)
    return sum(len(polygon_covers(ps, lvl)) for lvl, ps in groups.items())


def tile_counts(df) -> dict:
    return {(r["tile_id"], int(r["poly_id"])): int(r["n"]) for r in df.collect()}


def count_by_tile_poly(df):
    from pyspark.sql import functions as F

    return df.groupBy("tile_id", "poly_id").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# tiling
# ---------------------------------------------------------------------------


class Tiling:
    """bench.py's pass: docs → enrich_docs → pip_join → per-(tile, zone)
    counts, collected to the driver and checked."""

    name = "tiling"
    OPS = 1  # ops per round
    # untimed rounds before the first timed one: the JIT and the python
    # workers settle over the first three passes, each faster than the last
    WARMUP_ROUNDS = 3
    MIN_ROUNDS = 3  # timed rounds a run holds however long they take
    runs_enrich = True  # rounds run enrich_docs

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_docs = SMOKE_DOCS if ctx.smoke else N_DOCS

    def prepare(self) -> None:
        ctx = self.ctx
        self.docs = inputs.ensure_docs(ctx.cache, ctx.seed, self.n_docs)
        self.polys = tiling_polys()
        lat, lon, _ = reference.docs_latlon(self.docs)
        self.n_geocoded = len(lat)
        self.want = reference.tile_poly_counts(lat, lon, self.polys)
        self.input_bytes = inputs.dir_bytes(self.docs)[0]

    def input_digest(self) -> str:
        return inputs.input_digest(*reference.docs_latlon(self.docs)[:2])

    def probe_polys(self) -> list[dict]:
        return self.polys

    def close(self) -> None:
        pass

    def trace_extra(self) -> tuple[list[Op], dict]:
        """The checkpointed pipeline, traced once per run: a fused cold
        run_pipeline and resume to warm it, then the same pair staged. Its
        layers (checkpoint stages, lineage skew) are recorded here; no
        end-to-end metric times it."""
        ckpt = Checkpointed(self)
        try:
            ops = ckpt.round(0, False) + ckpt.round(1, True)
        finally:
            ckpt.close()
        cold, resume = ops[2], ops[3]
        return ops, {
            **{k: v for k, v in cold.layers.items() if k.startswith(("checkpoint.", "cluster."))},
            "checkpoint.cold_s": cold.wall,
            "checkpoint.resume_s": resume.wall,
            "checkpoint.write_amp": cold.layers["checkpoint.bytes_written"] / self.input_bytes,
        }

    def round(self, i: int, traced: bool) -> list[Op]:
        from pyspark.sql import functions as F

        from gipspark.operators.pip import pip_join
        from gipspark.plans.pipeline import enrich_docs
        from gipspark.sources.catalog import read_table

        ctx = self.ctx
        if not traced:
            with Clock() as clk:
                docs = read_table(ctx.spark, self.docs)
                enriched = enrich_docs(docs).filter(F.col("lat").isNotNull())
                got = tile_counts(count_by_tile_poly(pip_join(enriched, self.polys, cell_col="cell")))
            return [Op("tiles", clk.wall, self.n_docs, got, self.want, cpu=clk.cpu)]

        layers: dict = {}
        with ctx.span("tiling.pass", i) as root:
            with ctx.span("sources.scan", i) as sp:
                noop(read_table(ctx.spark, self.docs))
            layers["sources.scan_s"] = sp.wall
            with ctx.span("plans.pipeline.enrich_docs", i) as sp:
                enriched = (
                    enrich_docs(read_table(ctx.spark, self.docs))
                    .filter(F.col("lat").isNotNull())
                    .persist()
                )
                noop(enriched)
            layers["enrich.stage_s"] = sp.wall
            with ctx.span("operators.pip", i):
                with ctx.span("pip.plan", i) as sp:
                    matched = pip_join(enriched, self.polys, cell_col="cell")
                layers["pip.plan_s"] = sp.wall
                mark = ctx.probe.mark()
                with ctx.span("pip.stage", i) as sp:
                    matched = matched.persist()
                    noop(matched)
                layers["pip.stage_s"] = sp.wall
                layers.update(pip_rows(ctx.probe.plans(mark)))
            with ctx.span("operators.tiles.counts", i) as sp:
                got = tile_counts(count_by_tile_poly(matched))
            layers["tiles.counts_s"] = sp.wall
        layers["enrich.rows"] = layers["pip.points"] = self.n_geocoded
        layers["pip.cover_cells"] = cover_rows(self.polys)
        matched.unpersist()
        enriched.unpersist()
        return [Op("tiles", root.wall, self.n_docs, got, self.want, layers)]

    def summary(self, rounds: list[list[Op]]) -> dict:
        ops = [r[0] for r in rounds]
        p50 = median([o.wall for o in ops])
        return {
            "op_cpu_s": median([o.cpu for o in ops]),
            "op_p50_s": p50,
            "rows_per_s": self.n_docs / p50,
            "samples": len(ops),
        }


# ---------------------------------------------------------------------------
# the checkpointed pipeline (traced on tiling)
# ---------------------------------------------------------------------------

STAGES = ("s1_enrich", "s2_pip", "s3_cluster")


class Checkpointed:
    """A cold checkpointed run_pipeline into an empty root, then delete
    s2_pip and s3_cluster and rerun: the run resumes after s1_enrich.
    Shares the docs, zones and reference of the tiling workload."""

    def __init__(self, tiling: Tiling):
        self.ctx, self.docs, self.polys = tiling.ctx, tiling.docs, tiling.polys
        self.n_docs, self.n_geocoded, self.want = tiling.n_docs, tiling.n_geocoded, tiling.want
        self.root = os.path.join(tiling.ctx.cache, f"ckpt_{os.getpid()}")

    def _final_counts(self, final) -> dict:
        return tile_counts(count_by_tile_poly(final))

    def _staged(self, i: int, run_id: str, layers: dict, prefix: str):
        """run_pipeline's three stages, one span and one action each."""
        from pyspark.sql import functions as F

        from gipspark.operators.pip import pip_join
        from gipspark.operators.skew import cluster_by_cell
        from gipspark.plans.pipeline import enrich_docs
        from gipspark.sources.catalog import read_table
        from gipspark.sources.checkpoint import CheckpointedRun

        ctx = self.ctx
        run = CheckpointedRun(ctx.spark, self.root, run_id)
        docs = read_table(ctx.spark, self.docs)
        with ctx.span(f"checkpoint.{prefix}s1_enrich", i) as sp:
            enriched = run.stage("s1_enrich", lambda: enrich_docs(docs), key_col="cell")
        if not prefix:
            layers["enrich.stage_s"] = sp.wall
            layers["enrich.rows"] = layers["pip.points"] = self.n_geocoded
            layers["pip.cover_cells"] = cover_rows(self.polys)

        def s2():
            with ctx.span("pip.plan", i) as plan:
                out = pip_join(
                    enriched.filter(F.col("lat").isNotNull()), self.polys, cell_col="cell"
                ).select("url", "warc_ts", "lang", "lat", "lon", "cell", "h3cell", "tile_id", "poly_id")
            layers["pip.plan_s"] = plan.wall
            return out

        mark = ctx.probe.mark()
        with ctx.span(f"checkpoint.{prefix}s2_pip", i) as sp:
            matched = run.stage("s2_pip", s2, key_col="cell")
        if "pip.plan_s" in layers and not prefix:
            layers["pip.stage_s"] = sp.wall - layers["pip.plan_s"]
            layers.update(pip_rows(ctx.probe.plans(mark)))
        with ctx.span(f"checkpoint.{prefix}s3_cluster", i) as sp:
            final = run.stage("s3_cluster", lambda: cluster_by_cell(matched, "cell"), key_col="cell")
        return final, run

    def round(self, i: int, traced: bool) -> list[Op]:
        from gipspark.plans.pipeline import run_pipeline
        from gipspark.sources.catalog import read_table

        ctx = self.ctx
        run_id = f"r{i}{'t' if traced else ''}"
        run_dir = os.path.join(self.root, run_id)
        shutil.rmtree(run_dir, ignore_errors=True)
        layers: dict = {}

        def cold():
            if traced:
                with ctx.span("sources.scan", i) as sp:
                    noop(read_table(ctx.spark, self.docs))
                layers["sources.scan_s"] = sp.wall
                return self._staged(i, run_id, layers, "")
            return run_pipeline(ctx.spark, read_table(ctx.spark, self.docs), self.polys, self.root, run_id)

        def resume():
            if traced:
                return self._staged(i, run_id, {}, "resume.")
            return run_pipeline(ctx.spark, read_table(ctx.spark, self.docs), self.polys, self.root, run_id)

        with ctx.span("checkpoint.cold_run", i) as sp:
            final, run = cold()
        cold_wall = sp.wall
        got_cold = self._final_counts(final)
        ok_cold = run.executed == list(STAGES) and run.skipped == []
        manifests = {s: run.manifest(s) for s in STAGES}
        written, files = inputs.dir_bytes(run_dir)
        layers["checkpoint.bytes_written"] = written
        if traced:
            for s in STAGES:
                layers[f"checkpoint.{s}_s"] = manifests[s]["wall_s"]
            layers["checkpoint.files_written"] = files
            layers["cluster.partition_skew"] = self._skew(run_dir)
        # stage bookkeeping is part of the output: which stages ran, and
        # the manifest row count against the rows read back
        rows_ok = manifests["s3_cluster"]["rows"] == sum(got_cold.values())
        want = {**self.want, "_stages_ok": True}
        cold_op = Op("tiles", cold_wall, self.n_docs, {**got_cold, "_stages_ok": ok_cold and rows_ok}, want, layers)
        for s in ("s2_pip", "s3_cluster"):
            shutil.rmtree(os.path.join(run_dir, s))
        with ctx.span("checkpoint.resume_run", i) as sp:
            final2, run2 = resume()
        got_resume = self._final_counts(final2)
        ok_resume = run2.executed == ["s2_pip", "s3_cluster"] and run2.skipped == ["s1_enrich"]
        shutil.rmtree(run_dir, ignore_errors=True)
        return [cold_op, Op("tiles", sp.wall, 0, {**got_resume, "_stages_ok": ok_resume}, want)]

    @staticmethod
    def _skew(run_dir: str) -> float:
        """max ÷ mean rows per s3_cluster output partition, from lineage."""
        import pyarrow.parquet as pq

        rows = pq.read_table(os.path.join(run_dir, "s3_cluster", "lineage"), columns=["rows"])
        rows = rows.column("rows").to_numpy()
        return float(rows.max() / rows.mean())

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


# ---------------------------------------------------------------------------
# zone_queries
# ---------------------------------------------------------------------------

KINDS = ("pip", "pip_repeat", "knn", "zonal", "inventory")


class ZoneQueries:
    """Analyst mix over a geocoded point table built once from the docs.
    Every round runs pip_join against a fresh seeded zone set and again
    against the previous round's set (so half the sets repeat and hit the
    cover cache), knn_join for a fresh query batch, zonal stats of a fixed
    raster tile set, and the tile inventory."""

    name = "zone_queries"
    OPS = len(KINDS)
    # a round is five queries and about 9 s. The round after the cold one
    # still costs up to a quarter more CPU than the next, by an amount that
    # follows the host's load (compiled code arrives later on a busy host),
    # so it is not timed either; two timed rounds keep a run near a minute
    WARMUP_ROUNDS = 2
    MIN_ROUNDS = 2
    runs_enrich = False
    POOL = 1500
    SET_SIZE = 200
    K = 5
    HOT_SHARE = 0.3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_docs = SMOKE_DOCS if ctx.smoke else N_DOCS
        self.n_queries = 20 if ctx.smoke else 60
        self.n_tiles, self.px = (4, 16) if ctx.smoke else (8, 48)
        self.seen: set[int] = set()
        self.cache_hits = self.cache_lookups = 0

    def prepare(self) -> None:
        ctx = self.ctx
        self.docs = inputs.ensure_docs(ctx.cache, ctx.seed, self.n_docs)
        self.points = inputs.ensure_points(ctx.cache, ctx.seed, self.n_docs)
        self.pool = inputs.zone_pool(ctx.seed, self.POOL)
        self.tiles = inputs.raster_tiles(ctx.seed, self.pool, self.n_tiles)
        self.raster = inputs.ensure_raster(ctx.cache, ctx.seed, self.tiles, self.px)
        self.pts = reference.read_points(self.points)
        self.px_ref = reference.read_raster(self.raster)
        self.n_points = len(self.pts["p_id"])
        self.n_pixels = len(self.px_ref["value"])
        self.inventory_want = reference.inventory(self.pts)
        self.input_bytes = inputs.dir_bytes(self.points)[0] + inputs.dir_bytes(self.raster)[0]
        centers = np.array([np.mean(p["rings"][0], axis=0) for p in self.pool])
        in_raster = set(self.tiles)
        tiles = inputs.tile_of(centers[:, 1], centers[:, 0])
        self.raster_zones = [i for i, t in enumerate(tiles) if t in in_raster]
        self.hot_zones = list(range(max(1, self.POOL // 20)))

    def input_digest(self) -> str:
        return inputs.input_digest(self.pts["p_id"], self.pts["lat"], self.pool, self.tiles)

    def probe_polys(self) -> list[dict]:
        return self.zone_set(0)

    def close(self) -> None:
        pass

    def trace_extra(self) -> tuple[list[Op], dict]:
        return [], {}

    def zone_set(self, j: int) -> list[dict]:
        """The j-th fresh zone set: 4 megacity zones plus SET_SIZE - 4 others."""
        rng = np.random.default_rng([self.ctx.seed, 4, j])
        hot = rng.choice(self.hot_zones, 4, replace=False).tolist()
        rest = rng.choice(np.arange(len(self.hot_zones), self.POOL), self.SET_SIZE - 4, replace=False)
        return [self.pool[k] for k in sorted(hot + rest.tolist())]

    def zonal_set(self, j: int) -> list[dict]:
        rng = np.random.default_rng([self.ctx.seed, 5, j])
        inside = rng.choice(self.raster_zones, min(40, len(self.raster_zones)), replace=False)
        rest = rng.choice(self.POOL, 60, replace=False)
        return [self.pool[k] for k in sorted(set(inside.tolist()) | set(rest.tolist()))]

    def _points(self):
        from gipspark.sources.catalog import read_table

        return read_table(self.ctx.spark, self.points)

    def _pip(self, i: int, set_id: int, traced: bool) -> Op:
        from pyspark.sql import functions as F

        from gipspark.operators.pip import pip_join

        ctx = self.ctx
        polys = self.zone_set(set_id)
        if not traced:  # hit accounting once per round, on the untraced pass
            ids = {p["poly_id"] for p in polys}
            self.cache_lookups += len(ids)
            self.cache_hits += len(ids & self.seen)
            self.seen |= ids
        layers: dict = {}
        mark = ctx.probe.mark() if traced else None
        with Clock() as clk, ctx.span("operators.pip", i, zones=len(polys), zone_set=set_id) as root:
            with ctx.span("pip.plan", i) as sp:
                m = pip_join(self._points(), polys, cell_col="cell")
            layers["pip.plan_s"] = sp.wall
            with ctx.span("pip.stage", i) as sp:
                rows = (
                    m.groupBy("poly_id").agg(F.count("*").alias("n"), F.sum("p_id").alias("s")).collect()
                )
            layers["pip.stage_s"] = sp.wall
        if traced:
            layers.update(pip_rows(ctx.probe.plans(mark)))
            layers["pip.cover_cells"] = cover_rows(polys)
            layers["pip.points"] = self.n_points
        if set_id != i:  # the repeated set: reported apart from the fresh one
            layers = {k.replace("pip.", "pip_repeat.", 1): v for k, v in layers.items()}
        got = {int(r["poly_id"]): (int(r["n"]), int(r["s"])) for r in rows}
        return Op("pip", root.wall, self.n_points, got, reference.pip_counts(self.pts, polys), layers, clk.cpu)

    def _knn(self, i: int, traced: bool) -> Op:
        import pandas as pd
        from pyspark.sql import functions as F

        from gipspark.operators.knn import knn_join

        ctx = self.ctx
        b = inputs.knn_batch(ctx.seed, i, self.n_queries, self.HOT_SHARE)
        qdf = pd.DataFrame({k: b[k] for k in ("q_id", "q_lat", "q_lon")})
        queries = ctx.spark.createDataFrame(qdf)
        pts = self._points().select("p_id", F.col("lat").alias("p_lat"), F.col("lon").alias("p_lon"))
        mark = ctx.probe.mark() if traced else None
        with Clock() as clk, ctx.span("operators.knn", i, queries=self.n_queries) as root:
            rows = knn_join(queries, pts, k=self.K, n_points_hint=self.n_points).collect()
        got: dict = {}
        for r in sorted(rows, key=lambda r: (r["q_id"], r["rank"])):
            got.setdefault(int(r["q_id"]), []).append((int(r["p_id"]), float(r["dist_m"])))
        layers = {}
        if traced:
            layers["knn.spark_jobs"] = ctx.probe.jobs(mark)["spark.jobs"]
            layers["knn.hot_query_share"] = float(b["hot"].mean())
        return Op("knn", root.wall, self.n_points, got, reference.knn(self.pts, b, self.K), layers, clk.cpu)

    def _zonal(self, i: int, traced: bool) -> Op:
        from gipspark.operators.zonal import zonal_stats

        ctx = self.ctx
        polys = self.zonal_set(i)
        raster = ctx.spark.read.parquet(self.raster)
        with Clock() as clk, ctx.span("operators.zonal", i, zones=len(polys)) as root:
            rows = zonal_stats(raster, polys).collect()
        got = {
            int(r["poly_id"]): (
                int(r["px_count"]), r["v_min"], r["v_max"], r["v_sum"], r["v_avg"], r["v_std"]
            )
            for r in rows
        }
        return Op("zonal", root.wall, self.n_pixels, got, reference.zonal(self.px_ref, polys), cpu=clk.cpu)

    def _inventory(self, i: int, traced: bool) -> Op:
        from gipspark.operators.tiles import inventory

        ctx = self.ctx
        with Clock() as clk, ctx.span("operators.tiles.inventory", i) as root:
            pdf = inventory(self._points()).toPandas()
        got = {
            (t, str(d)): (int(a), int(b), int(c))
            for t, d, a, b, c in zip(pdf["tile_id"], pdf["date"], pdf["n_docs"], pdf["n_langs"], pdf["n_geocoded"])
        }
        layers = {"tiles.groups": len(pdf)} if traced else {}
        return Op("inventory", root.wall, self.n_points, got, self.inventory_want, layers, clk.cpu)

    def round(self, i: int, traced: bool) -> list[Op]:
        ctx = self.ctx
        layers: dict = {}
        with ctx.span("zone_queries.round", i):
            if traced:
                with ctx.span("sources.scan", i) as sp:
                    noop(self._points())
                layers["sources.scan_s"] = sp.wall
            ops = [
                self._pip(i, i, traced),
                self._pip(i, max(i - 1, 0), traced),
                self._knn(i, traced),
                self._zonal(i, traced),
                self._inventory(i, traced),
            ]
        if traced:
            ops[0].layers.update(layers)
            ops[2].layers["knn.persisted_rdds"] = ctx.probe.persisted_rdds()
        return ops

    def summary(self, rounds: list[list[Op]]) -> dict:
        # a typical round: each query kind at its own median, so one slow
        # query in a round does not make the whole round the outlier
        by_kind = {k: [r[j].wall for r in rounds] for j, k in enumerate(KINDS)}
        p50 = sum(median(w) for w in by_kind.values())
        return {
            "op_cpu_s": sum(median([r[j].cpu for r in rounds]) for j in range(len(KINDS))),
            "op_p50_s": p50,
            "rows_per_s": sum(o.rows for o in rounds[0]) / p50,
            "samples": len(rounds),
            "pip_query_p50_s": median(by_kind["pip"]),
            "pip_repeat_query_p50_s": median(by_kind["pip_repeat"]),
            "knn_query_p50_s": median(by_kind["knn"]),
            "zonal_query_p50_s": median(by_kind["zonal"]),
            "inventory_p50_s": median(by_kind["inventory"]),
            "pip.cover_cache_hit_share": self.cache_hits / max(1, self.cache_lookups),
        }


WORKLOADS = {w.name: w for w in (Tiling, ZoneQueries)}

"""Seeded benchmark inputs, cached once per (seed, size) outside the timings.

Every input is a pure function of the seed:

- docs: ``gipspark.sources.fixtures.docs_pdf`` over the id span
  ``[s*N, (s+1)*N)`` (s = seed mod 10^6), so each seed gets a fresh table
  with the fixture's distributions (70% geocoded, 30% of those in the
  megacity hotspot) without touching the fixture module;
- zone pools, raster tile sets and kNN query batches: drawn from
  ``numpy.random.default_rng`` in this module.

Docs, the geocoded point table and the raster are written as parquet under
the cache directory, in driver processes rather than through Spark: a run
that generates its inputs must leave the JVM and the python workers as cold
as a run that finds them cached, or ``setup_s`` would depend on the cache.
A ``_SUCCESS`` marker makes reruns reuse them.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MEGACITY = (48.8566, 2.3522)  # (lat, lon) of the fixture's hotspot
PARTS = 8  # parquet files per table: the partition count Spark plans over

DOCS_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# The geo.position meta-tag rule the docs carry (same grammar as the
# engine's geotag spec: a signed decimal pair, ';'-separated).
_GEO = re.compile(
    rb'(?is)<meta\s+name=["\']geo\.position["\']\s+content=["\']\s*'
    rb"(-?\d+(?:\.\d+)?)\s*;\s*(-?\d+(?:\.\d+)?)\s*[\"']"
)


def geotags(html: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) per doc, NaN where the doc carries no geo.position."""
    lat = np.full(len(html), np.nan)
    lon = np.full(len(html), np.nan)
    for i, h in enumerate(html):
        m = _GEO.search(h)
        if m:
            lat[i], lon[i] = float(m.group(1)), float(m.group(2))
    return lat, lon


def seed_base(seed: int, n: int) -> int:
    return (seed % 1_000_000) * n


def _cached(path: str, write) -> str:
    """Run ``write(tmp_dir)`` once; the directory appears complete or not at all."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def _docs_part(path: str, lo: int, hi: int) -> None:
    from gipspark.sources.fixtures import docs_pdf

    pdf = docs_pdf(np.arange(lo, hi))
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    pq.write_table(pa.Table.from_pandas(pdf, schema=DOCS_SCHEMA, preserve_index=False), path)


def _wait(proc: subprocess.Popen) -> None:
    if proc.wait() != 0:
        raise RuntimeError(f"docs generator {proc.args} exited {proc.returncode}")


def ensure_docs(cache: str, seed: int, n: int) -> str:
    """Docs parquet for ids ``[base, base + n)``, generated in parallel."""

    def write(tmp: str) -> None:
        base = seed_base(seed, n)
        cuts = np.linspace(base, base + n, PARTS + 1).astype(np.int64)
        # one child process per part, at most nproc at a time, each waited for
        running: list[subprocess.Popen] = []
        for k in range(PARTS):
            if len(running) == len(os.sched_getaffinity(0)):
                _wait(running.pop(0))
            part = os.path.join(tmp, f"part-{k:02d}.parquet")
            running.append(subprocess.Popen([sys.executable, __file__, part, str(cuts[k]), str(cuts[k + 1])]))
        for proc in running:
            _wait(proc)

    return _cached(os.path.join(cache, f"docs_s{seed}_n{n}"), write)


def _write_parts(table: pa.Table, tmp: str) -> None:
    cuts = np.linspace(0, table.num_rows, PARTS + 1).astype(np.int64)
    for k in range(PARTS):
        pq.write_table(table.slice(cuts[k], cuts[k + 1] - cuts[k]), os.path.join(tmp, f"part-{k:02d}.parquet"))


def ensure_points(cache: str, seed: int, n: int) -> str:
    """Geocoded point table built once from the docs: p_id (the doc id),
    lat, lon, cell (S2 level 12, the encode enrich_docs applies), warc_ts,
    lang."""
    from gipspark.geo import s2

    docs = ensure_docs(cache, seed, n)

    def write(tmp: str) -> None:
        t = pq.read_table(docs, columns=["url", "html", "warc_ts", "lang"])
        lat, lon = geotags(t.column("html").to_pylist())
        ok = ~np.isnan(lat)
        p_id = np.array([int(u.rsplit("/", 1)[1]) for u in t.column("url").to_pylist()], dtype=np.int64)
        table = pa.table(
            {
                "p_id": p_id[ok],
                "lat": lat[ok],
                "lon": lon[ok],
                "cell": s2.latlng_to_cell(lat[ok], lon[ok], 12).astype(np.int64),
                "warc_ts": t.column("warc_ts").filter(pa.array(ok)),
                "lang": t.column("lang").filter(pa.array(ok)),
            }
        )
        _write_parts(table, tmp)

    return _cached(os.path.join(cache, f"points_s{seed}_n{n}"), write)


def ensure_raster(cache: str, seed: int, tiles: list[str], px: int) -> str:
    """The fixture raster (``raster_tile_pdf``) of ``tiles``, one file per tile."""
    from gipspark.sources.fixtures import raster_tile_pdf

    def write(tmp: str) -> None:
        for k, tile in enumerate(tiles):
            pq.write_table(
                pa.Table.from_pandas(raster_tile_pdf(tile, px), preserve_index=False),
                os.path.join(tmp, f"part-{k:02d}.parquet"),
            )

    return _cached(os.path.join(cache, f"raster_s{seed}_t{len(tiles)}_px{px}"), write)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            p = os.path.join(root, name)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


# ---------------------------------------------------------------------------
# zones, raster tiles, kNN batches
# ---------------------------------------------------------------------------


def _zone(rng: np.random.Generator, pid: int, cx: float, cy: float, radius: float, kind: str) -> dict:
    k = int(rng.integers(6, 13))
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    if kind == "star":
        k += k % 2  # alternate long/short spokes around the ring
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        r = radius * np.where(np.arange(k) % 2 == 0, 1.0, 0.45) * rng.uniform(0.8, 1.0, k)
    else:
        r = radius * rng.uniform(0.7, 1.0, k)
    ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang) * 0.8], axis=1)
    rings = [np.vstack([ring, ring[:1]])]
    if kind == "holed":
        hole = np.stack(
            [cx + 0.3 * radius * np.cos(ang[::-1]), cy + 0.3 * radius * np.sin(ang[::-1]) * 0.8],
            axis=1,
        )
        rings.append(np.vstack([hole, hole[:1]]))
    return {"poly_id": pid, "name": f"z{pid}", "rings": [np.round(x, 6).tolist() for x in rings]}


def zone_pool(seed: int, n: int) -> list[dict]:
    """``n`` zones: 5% clustered over the megacity hotspot, the rest
    spread over lon [-170, 170] x lat [-55, 55] (no antimeridian
    crossing); 10% concave stars and 5% with a hole."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for pid in range(n):
        if pid < max(1, n // 20):
            cx = MEGACITY[1] + rng.uniform(-0.3, 0.3)
            cy = MEGACITY[0] + rng.uniform(-0.3, 0.3)
            radius = rng.uniform(0.02, 0.3)
        else:
            cx, cy = rng.uniform(-170, 170), rng.uniform(-55, 55)
            radius = rng.uniform(0.05, 1.8)
        u = rng.uniform()
        kind = "star" if u < 0.10 else "holed" if u < 0.15 else "convex"
        out.append(_zone(rng, pid, cx, cy, radius, kind))
    return out


def tile_of(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """The h##v## 5-degree graticule, written independently of the engine."""
    ix = np.minimum(np.floor((np.asarray(lon) + 180.0) / 5.0).astype(np.int64), 71)
    iy = np.minimum(np.floor((90.0 - np.asarray(lat)) / 5.0).astype(np.int64), 35)
    return np.array([f"h{a:02d}v{b:02d}" for a, b in zip(ix, iy)], dtype=object)


def raster_tiles(seed: int, pool: list[dict], n: int) -> list[str]:
    """The megacity tile plus ``n - 1`` seeded tiles holding pool zones."""
    rng = np.random.default_rng([seed, 2])
    centers = np.array([np.mean(p["rings"][0], axis=0) for p in pool])  # (lon, lat)
    home = tile_of(np.array([MEGACITY[0]]), np.array([MEGACITY[1]]))[0]
    cands = sorted(set(tile_of(centers[:, 1], centers[:, 0])) - {home})
    picked = rng.choice(len(cands), size=min(n - 1, len(cands)), replace=False)
    return [home] + sorted(cands[i] for i in picked)


def knn_batch(seed: int, op: int, n: int, hot_share: float) -> dict:
    """A fresh query batch per op around the megacity: ``hot_share`` of the
    queries in the hotspot, the rest 0.2 to 1.5 degrees from its centre.

    Every batch then takes the same rounds of knn_join's expansion ladder
    (the same Spark jobs). With queries spread over the globe, each query
    has a small chance to need one more round, so whether a batch of sixty
    needed one, two or three rounds, at up to twice the CPU time, was a
    coin toss per batch and set the spread between seeds."""
    rng = np.random.default_rng([seed, 3, op])
    hot = np.arange(n) < round(hot_share * n)
    dist, bearing = rng.uniform(0.2, 1.5, n), rng.uniform(0, 2 * np.pi, n)
    lat = np.where(hot, MEGACITY[0] + rng.uniform(-0.05, 0.05, n), MEGACITY[0] + dist * np.sin(bearing))
    lon = np.where(hot, MEGACITY[1] + rng.uniform(-0.05, 0.05, n), MEGACITY[1] + dist * np.cos(bearing))
    return {
        "q_id": np.arange(op * 100_000, op * 100_000 + n, dtype=np.int64),
        "q_lat": np.round(lat, 6),
        "q_lon": np.round(lon, 6),
        "hot": hot,
    }


def input_digest(*arrays) -> str:
    """sha256 over the bytes of the given arrays / zone lists."""
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, list):
            h.update(repr(a).encode())
        else:
            h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()


if __name__ == "__main__":  # one docs part: inputs.py <path> <first id> <end id>
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    _docs_part(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))

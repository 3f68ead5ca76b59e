"""Independent references and the output checker.

References are computed driver-side with NumPy brute force over the cached
inputs (read with pyarrow, never through Spark) and the ``gipspark.geo``
kernels: the even-odd ray cast (``points_in_polygon``), ``haversine_m``,
and an independent h##v## graticule. Results are put in one canonical form
per op kind, and :func:`compare` tells whether an op's output matches.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pyarrow.parquet as pq

from gipspark.geo.haversine import haversine_m
from gipspark.geo.pip import points_in_polygon_batched, rings_to_edges

from inputs import geotags, tile_of


def docs_latlon(path: str) -> tuple[np.ndarray, np.ndarray, int]:
    """Parse (lat, lon) of the geocoded docs; returns (lat, lon, n_docs)."""
    html = pq.read_table(path, columns=["html"]).column("html").to_pylist()
    lat, lon = geotags(html)
    ok = ~np.isnan(lat)
    return lat[ok], lon[ok], len(html)


def read_points(path: str) -> dict:
    t = pq.read_table(path, columns=["p_id", "lat", "lon", "warc_ts", "lang"]).to_pandas()
    t = t.sort_values("p_id", kind="stable").reset_index(drop=True)
    return {
        "p_id": t["p_id"].to_numpy(np.int64),
        "lat": t["lat"].to_numpy(np.float64),
        "lon": t["lon"].to_numpy(np.float64),
        "warc_ts": t["warc_ts"],
        "lang": t["lang"].to_numpy(object),
    }


def read_raster(path: str) -> dict:
    t = pq.read_table(path, columns=["lon", "lat", "value"])
    return {c: t.column(c).to_numpy() for c in ("lon", "lat", "value")}


def _inside(lon: np.ndarray, lat: np.ndarray, poly: dict) -> np.ndarray:
    """Indices of the points inside ``poly`` (bbox cut, then exact ray cast)."""
    rings = [np.asarray(r, dtype=np.float64) for r in poly["rings"]]
    # bbox of every ring: under the even-odd rule a ring that pokes out of
    # the outer ring adds area there too
    x0, y0 = np.min([r.min(axis=0) for r in rings], axis=0)
    x1, y1 = np.max([r.max(axis=0) for r in rings], axis=0)
    idx = np.nonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))[0]
    if not len(idx):
        return idx
    return idx[points_in_polygon_batched(lon[idx], lat[idx], rings_to_edges(rings))]


def tile_poly_counts(lat: np.ndarray, lon: np.ndarray, polys: list[dict]) -> dict:
    """{(tile_id, poly_id): matched points} — the tiling pass output."""
    out: dict = {}
    for p in polys:
        idx = _inside(lon, lat, p)
        if len(idx):
            tiles, n = np.unique(tile_of(lat[idx], lon[idx]), return_counts=True)
            for t, c in zip(tiles, n):
                out[(str(t), int(p["poly_id"]))] = int(c)
    return out


def pip_counts(pts: dict, polys: list[dict]) -> dict:
    """{poly_id: (matched points, sum of their p_id)}."""
    out = {}
    for p in polys:
        idx = _inside(pts["lon"], pts["lat"], p)
        if len(idx):
            out[int(p["poly_id"])] = (int(len(idx)), int(pts["p_id"][idx].sum()))
    return out


def knn(pts: dict, batch: dict, k: int) -> dict:
    """{q_id: [(p_id, dist_m), ...]} ranked by (dist_m, p_id)."""
    out = {}
    for q, la, lo in zip(batch["q_id"], batch["q_lat"], batch["q_lon"]):
        d = haversine_m(np.full(len(pts["lat"]), la), np.full(len(pts["lat"]), lo), pts["lat"], pts["lon"])
        near = np.argpartition(d, k)[: k + 1] if len(d) > k else np.arange(len(d))
        kth = np.sort(d[near])[min(k, len(near)) - 1]
        cand = np.nonzero(d <= kth)[0]  # every point tied with the k-th
        order = cand[np.lexsort((pts["p_id"][cand], d[cand]))][:k]
        out[int(q)] = [(int(pts["p_id"][i]), float(d[i])) for i in order]
    return out


def zonal(raster: dict, polys: list[dict]) -> dict:
    """{poly_id: (px_count, v_min, v_max, v_sum, v_avg, v_std)}."""
    out = {}
    for p in polys:
        idx = _inside(raster["lon"], raster["lat"], p)
        if len(idx):
            v = raster["value"][idx]
            std = float(np.std(v, ddof=1)) if len(v) > 1 else None
            out[int(p["poly_id"])] = (
                int(len(v)), float(v.min()), float(v.max()), float(v.sum()), float(v.mean()), std
            )
    return out


def inventory(pts: dict) -> dict:
    """{(tile_id, date): (n_docs, n_langs, n_geocoded)} over geocoded points."""
    import pandas as pd

    df = pd.DataFrame(
        {
            "tile_id": tile_of(pts["lat"], pts["lon"]),
            "date": pd.to_datetime(pts["warc_ts"], utc=True).dt.strftime("%Y-%m-%d").to_numpy(),
            "lang": pts["lang"],
        }
    )
    g = df.groupby(["tile_id", "date"]).agg(n=("lang", "size"), langs=("lang", "nunique"))
    return {(t, d): (int(n), int(l), int(n)) for (t, d), n, l in zip(g.index, g["n"], g["langs"])}


# ---------------------------------------------------------------------------
# digests and comparison
# ---------------------------------------------------------------------------


def _close(a, b, rel: float = 1e-9, abs_: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))


def digest(result: dict) -> str:
    """Stable sha256 of a canonical result (floats to 6 significant digits)."""

    def norm(v):
        if isinstance(v, float):
            return float(f"{v:.6g}")
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        return v

    items = sorted((json.dumps(norm(k)), norm(v)) for k, v in result.items())
    return hashlib.sha256(json.dumps(items).encode()).hexdigest()[:16]


def compare(kind: str, got: dict, want: dict) -> str | None:
    """None when ``got`` matches ``want``; otherwise what differs."""
    if set(got) != set(want):
        extra, missing = set(got) - set(want), set(want) - set(got)
        return f"{kind}: keys differ (+{sorted(map(repr, extra))[:3]} -{sorted(map(repr, missing))[:3]})"
    for key, w in want.items():
        g = got[key]
        if kind == "knn":
            if len(g) != len(w):
                return f"knn: query {key} has {len(g)} neighbours, want {len(w)}"
            for (gp, gd), (wp, wd) in zip(g, w):
                if not _close(gd, wd, 1e-12, 1e-6):
                    return f"knn: query {key} distance {gd} != {wd}"
                tied = [p for p, d in w if _close(d, wd, 1e-12, 1e-6)]
                if gp != wp and gp not in tied:
                    return f"knn: query {key} neighbour {gp} != {wp}"
        elif kind == "zonal":
            if g[0] != w[0] or not all(_close(a, b) for a, b in zip(g[1:], w[1:])):
                return f"zonal: zone {key} stats {g} != {w}"
        elif g != w:
            return f"{kind}: {key} -> {g} != {w}"
    return None

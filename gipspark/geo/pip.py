"""Point-in-polygon kernels: exact ray casting + S2 cell covers.

Replaces the reference's Shapely-prepared polygon partitions
(BASELINE.json:6 "cell-prefilter then exact ray-casting refine against
Shapely-prepared polygon partitions") with a vendored, NumPy-vectorized
even-odd ray cast and an S2 level-``level`` cell cover used as the join
prefilter (SURVEY.md §2.4).

Polygons are (lon, lat) rings: ``rings = [outer, hole1, ...]`` where each
ring is an (k, 2) float array. Even-odd rule handles holes for free.
The crossing test is written in exactly one algebraic form, repeated
textually in the DuckDB oracle SQL, so engine and oracle agree
bit-for-bit on every non-degenerate point.
"""

from __future__ import annotations

import numpy as np

from gipspark.geo import s2


def rings_to_edges(rings: list[np.ndarray]) -> np.ndarray:
    """Flatten rings → edge array (m, 4) of (x1, y1, x2, y2), lon/lat."""
    edges = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        edges.append(np.hstack([r[:-1], r[1:]]))
    return np.vstack(edges)


def edge_crossings(lat: np.ndarray, edges: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(straddles, xcross), shape (n, m): does the eastward ray at each
    of the n ``lat`` values straddle each of the m edges, and at which x
    it meets the edge's line. An edge counts for a point at ``lon`` iff
    ``straddles & (lon < xcross)``. The expression is the one of
    operators.pip.ray_cast_inside and the oracle SQL, term for term, so
    every engine computes the same doubles; xcross is meaningless where
    the edge does not straddle."""
    lat = np.asarray(lat, dtype=np.float64)[:, None]
    x1, y1, x2, y2 = edges[:, 0][None], edges[:, 1][None], edges[:, 2][None], edges[:, 3][None]
    straddles = (y1 > lat) != (y2 > lat)
    with np.errstate(divide="ignore", invalid="ignore"):
        xcross = (x2 - x1) * (lat - y1) / (y2 - y1) + x1
    return straddles, xcross


def points_in_polygon(lon: np.ndarray, lat: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Even-odd ray cast (eastward ray): bool mask (n,).

    Crossing rule (mirrored verbatim in oracle SQL):
        ((y1 > lat) != (y2 > lat)) AND
        (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
    """
    straddles, xcross = edge_crossings(lat, edges)
    lon = np.asarray(lon, dtype=np.float64)[:, None]
    crossings = (straddles & (lon < xcross)).sum(axis=1)
    return (crossings % 2) == 1


def points_in_polygon_batched(
    lon: np.ndarray, lat: np.ndarray, edges: np.ndarray, batch: int = 8192
) -> np.ndarray:
    """Memory-bounded ray cast: O(batch × edges) peak instead of n × m."""
    n = len(lon)
    out = np.empty(n, dtype=bool)
    for lo in range(0, n, batch):
        hi = min(lo + batch, n)
        out[lo:hi] = points_in_polygon(lon[lo:hi], lat[lo:hi], edges)
    return out


def polygon_bbox(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    outer = np.asarray(rings[0], dtype=np.float64)
    return (
        float(outer[:, 0].min()),
        float(outer[:, 1].min()),
        float(outer[:, 0].max()),
        float(outer[:, 1].max()),
    )


def polygon_cover(
    rings: list[np.ndarray], level: int = 12, sample_deg: float | None = None
) -> np.ndarray:
    """S2 cells at ``level`` whose region intersects the polygon's bbox.

    A guaranteed-superset prefilter for the PIP join: sample the bbox on
    a grid finer than the min cell in-radius at ``level`` (sample_deg
    0.01° ≈ 1.1 km ≪ level-12 edge ≈ 3–5 km), encode samples, then
    expand every hit by one lattice ring to close sampling gaps.
    Supersetness (cover ⊇ {cells of points inside polygon}) is
    property-tested against brute force in tests/test_pip.py.
    """
    if sample_deg is None:
        # ~1/3 of the min cell width at ``level`` (level-12 cells ≈ 3–5 km
        # ≈ 0.03°): fine enough that every polygon-interior cell contains
        # or neighbors a sample, coarse enough to stay cheap for the
        # large oracle polygons covered at level 6–8.
        sample_deg = (90.0 / (1 << level)) / 3.0 * 4.0
    # sample each ring's own bbox: rings may be DISJOINT siblings (the
    # antimeridian split emits one outer ring per strip piece), so the
    # old rings[0]-only bbox would miss every other piece; hole rings
    # sit inside their outer's bbox and add nothing
    pad = sample_deg
    all_cells = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        min_lon, min_lat = float(r[:, 0].min()), float(r[:, 1].min())
        max_lon, max_lat = float(r[:, 0].max()), float(r[:, 1].max())
        lons = np.arange(min_lon - pad, max_lon + pad + sample_deg, sample_deg)
        lats = np.arange(min_lat - pad, max_lat + pad + sample_deg, sample_deg)
        glon, glat = np.meshgrid(lons, lats)
        all_cells.append(s2.latlng_to_cell(glat.ravel(), glon.ravel(), level))
    cells = np.unique(np.concatenate(all_cells))
    ring1 = s2.grid_disk(cells, level, 1)
    return np.unique(ring1.ravel())

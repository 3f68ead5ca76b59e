"""Property tests for the vendored S2 kernel (gipspark/geo/s2.py).

The reference fixtures are unavailable (SURVEY.md §0), so correctness is
established structurally: exact encode/decode round trips, hierarchy
containment, level arithmetic, neighbor adjacency and wrap behavior.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gipspark.geo import s2
from gipspark.geo.haversine import haversine_m

RNG = np.random.default_rng(7)
LAT = RNG.uniform(-89.9, 89.9, 5000)
LON = RNG.uniform(-180, 180, 5000)


def test_leaf_roundtrip_exact():
    leaf = s2.latlng_to_cell(LAT, LON, 30)
    clat, clon = s2.cell_to_latlng(leaf)
    assert (s2.latlng_to_cell(clat, clon, 30) == leaf).all()


def test_level_and_parent():
    c12 = s2.latlng_to_cell(LAT, LON, 12)
    assert (s2.cell_level(c12) == 12).all()
    leaf = s2.latlng_to_cell(LAT, LON, 30)
    assert (s2.parent(leaf, 12) == c12).all()
    # parent is monotone in level
    c5 = s2.latlng_to_cell(LAT, LON, 5)
    assert (s2.parent(c12, 5) == c5).all()


def test_center_containment():
    c12 = s2.latlng_to_cell(LAT, LON, 12)
    clat, clon = s2.cell_to_latlng(c12)
    assert (s2.latlng_to_cell(clat, clon, 12) == c12).all()


def test_center_distance_bounded():
    # level-12 cells have ~3-6 km diagonals; centers must be local
    c12 = s2.latlng_to_cell(LAT, LON, 12)
    clat, clon = s2.cell_to_latlng(c12)
    assert haversine_m(LAT, LON, clat, clon).max() < 4000


def test_all_faces_reached():
    leaf = s2.latlng_to_cell(LAT, LON, 30)
    faces = np.asarray(leaf, dtype=np.int64).view(np.uint64) >> np.uint64(61)
    assert set(faces.tolist()) == {0, 1, 2, 3, 4, 5}


def test_grid_disk_contains_self_and_adjacent():
    c = s2.latlng_to_cell(LAT[:500], LON[:500], 12)
    disk = s2.grid_disk(c, 12, 1)
    assert disk.shape == (500, 9)
    assert (disk == c[:, None]).any(axis=1).all()
    # all disk members are level 12 and geographically near the center
    assert (s2.cell_level(disk.ravel()) == 12).all()
    dlat, dlon = s2.cell_to_latlng(disk.ravel())
    clat, clon = s2.cell_to_latlng(np.repeat(c, 9))
    assert haversine_m(clat, clon, dlat, dlon).max() < 20000


def test_grid_disk_symmetry():
    c = s2.latlng_to_cell(LAT[:300], LON[:300], 12)
    disk = s2.grid_disk(c, 12, 1)
    # b in disk(a) => a in disk(b) for lattice disks away from corners
    for i in range(0, 300, 17):
        for b in np.unique(disk[i]):
            if b == c[i]:
                continue
            back = s2.grid_disk(np.array([b]), 12, 1)
            assert c[i] in back


def test_grid_disk_coverage_guarantee():
    # THE invariant knn/within_join rely on (walk-contraction bound,
    # operators/knn._min_cell_width_m): if two points are within
    # k·kMinWidth(L) meters, each one's cell is inside the other's
    # radius-k ball. Regression for the round-2 false negative: the old
    # (2k+1)² offset grid truncated the disk one cell past any face
    # edge, so cross-face pairs ≥2 rows deep were silently dropped.
    from gipspark.operators.knn import _min_cell_width_m

    rng = np.random.default_rng(99)
    n = 4000
    for level, k in [(3, 2), (5, 1), (8, 3), (12, 2)]:
        w = _min_cell_width_m(level)
        # bias origins toward face edges/corners: lon near ±45/±135,
        # lat near ±35.26 (cube corner latitudes) plus uniform fill
        lat = np.concatenate(
            [rng.uniform(-89, 89, n // 2),
             rng.choice([35.264, -35.264, 0.0], n // 2) + rng.normal(0, 3.0, n // 2)]
        ).clip(-89.9, 89.9)
        lon = np.concatenate(
            [rng.uniform(-180, 180, n // 2),
             rng.choice([45.0, -45.0, 135.0, -135.0], n // 2) + rng.normal(0, 3.0, n // 2)]
        )
        lon = (lon + 180.0) % 360.0 - 180.0
        # random geodesic step of length ≤ k·w
        d = rng.uniform(0, k * w, n) / 6371000.0  # radians
        brg = rng.uniform(0, 2 * np.pi, n)
        la1, lo1 = np.radians(lat), np.radians(lon)
        la2 = np.arcsin(np.sin(la1) * np.cos(d) + np.cos(la1) * np.sin(d) * np.cos(brg))
        lo2 = lo1 + np.arctan2(
            np.sin(brg) * np.sin(d) * np.cos(la1), np.cos(d) - np.sin(la1) * np.sin(la2)
        )
        lat2, lon2 = np.degrees(la2), (np.degrees(lo2) + 180.0) % 360.0 - 180.0
        c1 = s2.latlng_to_cell(lat, lon, level)
        c2 = s2.latlng_to_cell(lat2, lon2, level)
        ball = s2.grid_disk(c1, level, k)
        inside = (ball == c2[:, None]).any(axis=1)
        missing = np.flatnonzero(~inside)
        assert missing.size == 0, (
            f"level={level} k={k}: {missing.size} pairs within {k}·w escaped "
            f"the ball, e.g. ({lat[missing[0]]}, {lon[missing[0]]}) -> "
            f"({lat2[missing[0]]}, {lon2[missing[0]]})"
        )


def test_face_wrap_produces_valid_cells():
    # points right at the equator/±45° land near face edges; wrap neighbors
    edge_lat = np.full(100, 0.0)
    edge_lon = np.linspace(44.9, 45.1, 100)  # face 0/1 boundary at lon 45
    c = s2.latlng_to_cell(edge_lat, edge_lon, 12)
    disk = s2.grid_disk(c, 12, 1)
    assert (s2.cell_level(disk.ravel()) == 12).all()
    faces = np.asarray(disk.ravel(), dtype=np.int64).view(np.uint64) >> np.uint64(61)
    assert len(set(faces.tolist())) >= 2  # the ring crosses the face edge


@settings(max_examples=200, deadline=None)
@given(
    lat=st.floats(min_value=-89.99, max_value=89.99),
    lon=st.floats(min_value=-179.99, max_value=179.99),
    level=st.integers(min_value=1, max_value=30),
)
def test_encode_scalar_properties(lat, lon, level):
    c = s2.latlng_to_cell(np.array([lat]), np.array([lon]), level)
    assert s2.cell_level(c)[0] == level
    clat, clon = s2.cell_to_latlng(c)
    assert s2.latlng_to_cell(clat, clon, level)[0] == c[0]


def test_determinism_across_chunking():
    whole = s2.latlng_to_cell(LAT, LON, 12)
    parts = np.concatenate(
        [s2.latlng_to_cell(LAT[i : i + 137], LON[i : i + 137], 12) for i in range(0, 5000, 137)]
    )
    assert (whole == parts).all()


def test_token_roundtrippable_prefixes():
    c = s2.latlng_to_cell(LAT[:10], LON[:10], 12)
    toks = s2.cell_token(c)
    assert all(1 <= len(t) <= 16 for t in toks)


if __name__ == "__main__":
    pytest.main([__file__, "-x", "-q"])


def test_jvm_parent_equals_numpy_parent(spark):
    """functions.cells.s2_parent (JVM bit trick) equals geo.s2.parent for
    valid cells on all six faces (face-5 ids are negative as int64) at
    every source and target level 0–30; a null cell stays null."""
    from pyspark.sql import functions as F

    from gipspark.functions.cells import s2_parent

    face = np.repeat(np.arange(6), 8)
    ij = RNG.integers(0, 1 << 30, (2, face.size))
    leaf = s2.from_face_ij(face, ij[0], ij[1])
    cells = np.concatenate([s2.parent(leaf, lvl) for lvl in range(31)])
    assert (cells < 0).any()
    df = spark.createDataFrame([(int(c),) for c in cells] + [(None,)], "cell long")
    rows = df.select(
        "cell", *[s2_parent(F.col("cell"), lvl).alias(f"p{lvl}") for lvl in range(31)]
    ).collect()
    assert [r for r in rows if r.cell is None] == [tuple([None] * 32)]
    got = np.array([list(r) for r in rows if r.cell is not None], dtype=np.int64)
    for lvl in range(31):
        assert (got[:, lvl + 1] == s2.parent(got[:, 0], lvl)).all(), lvl

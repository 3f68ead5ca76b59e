"""S2 cell ids — vendored, NumPy-vectorized, from the public S2 spec.

The reference engine indexes every geocoded page to an S2 level-12 cell
(BASELINE.json:6). No ``s2``/``s2sphere`` wheel exists in the sandbox
(SURVEY.md §7.5), so this module implements the public s2geometry cell-id
scheme from its published specification (s2geometry.io and the
apache-licensed C++ source's documented algorithm):

- lat/lng → unit-sphere XYZ → cube face + (u,v) gnomonic coords
- quadratic (u,v)→(s,t) projection (the S2_QUADRATIC_PROJECTION default)
- (s,t) → 30-bit leaf (i,j) → position along the face's Hilbert curve
  via 4-bit lookup tables
- 64-bit cell id = face(3 bits) · hilbert position (2·level bits) ·
  trailing sentinel bit

Everything is array→array NumPy so it can run inside pandas/Arrow UDFs
with zero per-row Python. Cell ids are bit-identical to the canonical
library's scheme by construction of the same algorithm; self-consistency
(encode→decode round-trips, neighbor adjacency, hierarchy containment)
is property-tested in tests/test_s2.py.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
MAX_SIZE = 1 << MAX_LEVEL  # ij coordinates are in [0, 2^30)
LOOKUP_BITS = 4
SWAP_MASK = 1
INVERT_MASK = 2

# Hilbert curve sub-cell orderings, indexed by orientation.
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, SWAP_MASK | INVERT_MASK)

# 4-level lookup tables: (ij<<2)+orient -> (pos<<2)+orient and inverse.
LOOKUP_POS = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)
LOOKUP_IJ = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.uint64)


def _init_lookup(level: int, i: int, j: int, orig: int, pos: int, orient: int) -> None:
    if level == LOOKUP_BITS:
        ij = (i << LOOKUP_BITS) + j
        LOOKUP_POS[(ij << 2) + orig] = (pos << 2) + orient
        LOOKUP_IJ[(pos << 2) + orig] = (ij << 2) + orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orient]
    for idx in range(4):
        ij = r[idx]
        _init_lookup(
            level, i + (ij >> 1), j + (ij & 1), orig, pos + idx, orient ^ _POS_TO_ORIENTATION[idx]
        )


for _o in (0, SWAP_MASK, INVERT_MASK, SWAP_MASK | INVERT_MASK):
    _init_lookup(0, 0, 0, _o, 0, _o)


# ---------------------------------------------------------------------------
# sphere <-> cube-face coordinates
# ---------------------------------------------------------------------------


def latlng_to_xyz(lat_deg: np.ndarray, lon_deg: np.ndarray) -> np.ndarray:
    """Degrees → unit-sphere XYZ, shape (n, 3)."""
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cos_lat = np.cos(lat)
    return np.stack([cos_lat * np.cos(lon), cos_lat * np.sin(lon), np.sin(lat)], axis=-1)


def xyz_to_latlng(p: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lat = np.degrees(np.arctan2(p[..., 2], np.hypot(p[..., 0], p[..., 1])))
    lon = np.degrees(np.arctan2(p[..., 1], p[..., 0]))
    return lat, lon


def xyz_to_face_uv(p: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """XYZ (n,3) → (face (n,), u, v) per the S2 cube-face mapping."""
    x, y, z = p[..., 0], p[..., 1], p[..., 2]
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        for f, (uf, vf) in enumerate(
            [
                (y / x, z / x),  # +x
                (-x / y, z / y),  # +y
                (-x / z, -y / z),  # +z
                (z / x, y / x),  # -x
                (z / y, -x / y),  # -y
                (-y / z, -x / z),  # -z
            ]
        ):
            m = face == f
            u[m] = uf[m]
            v[m] = vf[m]
    return face, u, v


def face_uv_to_xyz(face: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Inverse of :func:`xyz_to_face_uv` (un-normalized)."""
    one = np.ones_like(u)
    out = np.empty(u.shape + (3,), dtype=np.float64)
    frames = [
        (one, u, v),
        (-u, one, v),
        (-u, -v, one),
        (-one, -v, -u),
        (v, -one, -u),
        (v, u, -one),
    ]
    for f, (x, y, z) in enumerate(frames):
        m = face == f
        out[m, 0] = x[m]
        out[m, 1] = y[m]
        out[m, 2] = z[m]
    return out


def uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic projection (S2 default): cube coord → [0,1] cell-space."""
    r = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(u))
    return np.where(u >= 0, r, 1.0 - r)


def st_to_uv(s: np.ndarray) -> np.ndarray:
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0), (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) ** 2)
    )


def st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip(np.floor(MAX_SIZE * s), 0, MAX_SIZE - 1).astype(np.int64)


# ---------------------------------------------------------------------------
# (face, i, j) <-> cell id  (Hilbert curve)
# ---------------------------------------------------------------------------


def from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf cell id for 30-bit (i, j) on ``face``. All args int arrays."""
    face = np.asarray(face, dtype=np.uint64)
    i = np.asarray(i, dtype=np.uint64)
    j = np.asarray(j, dtype=np.uint64)
    n = face << np.uint64(60)
    bits = face & np.uint64(SWAP_MASK)
    for k in range(7, -1, -1):
        nib_i = (i >> np.uint64(k * 4)) & np.uint64(15)
        nib_j = (j >> np.uint64(k * 4)) & np.uint64(15)
        idx = (nib_i << np.uint64(6)) | (nib_j << np.uint64(2)) | bits
        val = LOOKUP_POS[idx]
        n |= (val >> np.uint64(2)) << np.uint64(k * 8)
        bits = val & np.uint64(3)
    return ((n << np.uint64(1)) | np.uint64(1)).view(np.int64)


def to_face_ij(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id → (face, i, j) of the leaf cell containing the cell center."""
    cid = np.asarray(cell, dtype=np.int64).view(np.uint64)
    face = (cid >> np.uint64(61)).astype(np.int64)
    bits = (face & SWAP_MASK).astype(np.uint64)
    i = np.zeros_like(cid)
    j = np.zeros_like(cid)
    for k in range(7, -1, -1):
        nbits = 2 if k == 7 else 4
        extract = (cid >> np.uint64(k * 8 + 1)) & np.uint64((1 << (2 * nbits)) - 1)
        idx = (extract << np.uint64(2)) | bits
        val = LOOKUP_IJ[idx]
        i |= ((val >> np.uint64(6)) & np.uint64(15)) << np.uint64(k * 4)
        j |= ((val >> np.uint64(2)) & np.uint64(15)) << np.uint64(k * 4)
        bits = val & np.uint64(3)
    return face, i.astype(np.int64), j.astype(np.int64)


# ---------------------------------------------------------------------------
# public cell-id surface
# ---------------------------------------------------------------------------


def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def cell_level(cell: np.ndarray) -> np.ndarray:
    """Level of each cell id = 30 − (position of lowest set bit)/2."""
    cid = np.asarray(cell, dtype=np.uint64)
    lsb = cid & (~cid + np.uint64(1))
    # log2 of lsb via float conversion is exact for powers of two < 2^53;
    # lsb can be up to 2^60, so use bit-length via uint64 trickery instead.
    levels = np.zeros(cid.shape, dtype=np.int64)
    shifted = lsb
    for shift in (32, 16, 8, 4, 2, 1):
        mask = shifted >= (np.uint64(1) << np.uint64(shift))
        levels[mask] += shift
        shifted = np.where(mask, shifted >> np.uint64(shift), shifted)
    return MAX_LEVEL - levels // 2


def parent(cell: np.ndarray, level: int) -> np.ndarray:
    """Ancestor cell id at ``level``."""
    cid = np.asarray(cell, dtype=np.int64).view(np.uint64)
    lsb = np.uint64(lsb_for_level(level))
    return ((cid & ~(lsb - np.uint64(1))) | lsb).view(np.int64)


def latlng_to_cell(lat_deg: np.ndarray, lon_deg: np.ndarray, level: int = 12) -> np.ndarray:
    """Vectorized lat/lng (degrees) → S2 cell id at ``level`` (int64)."""
    p = latlng_to_xyz(lat_deg, lon_deg)
    face, u, v = xyz_to_face_uv(p)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    leaf = from_face_ij(face, i, j)
    if level >= MAX_LEVEL:
        return leaf
    return parent(leaf, level)


def cell_to_latlng(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id → (lat, lon) of the exact cell center, degrees."""
    cid = np.asarray(cell, dtype=np.int64).view(np.uint64)
    face, i, j = to_face_ij(cell)
    is_leaf = (cid & np.uint64(1)) == 1
    # center si/ti offset per the public spec: leaf → +1, else +0/+2
    # depending on Hilbert orientation parity at the cell's level.
    delta = np.where(
        is_leaf,
        1,
        np.where(((i ^ (cid.view(np.int64) >> 2)) & 1) != 0, 2, 0),
    )
    si = 2 * i + delta
    ti = 2 * j + delta
    s = si.astype(np.float64) / (2.0 * MAX_SIZE)
    t = ti.astype(np.float64) / (2.0 * MAX_SIZE)
    p = face_uv_to_xyz(face, st_to_uv(s), st_to_uv(t))
    p = p / np.linalg.norm(p, axis=-1, keepdims=True)
    return xyz_to_latlng(p)


def from_face_ij_wrap(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf id for (i, j) that may fall just outside [0, 2^30) — wraps to
    the adjacent cube face (linear projection both ways, per the spec)."""
    i = np.clip(i, -1, MAX_SIZE)
    j = np.clip(j, -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    limit = np.nextafter(1.0, 2.0)
    u = np.clip(scale * (2.0 * (i - MAX_SIZE // 2) + 1.0), -limit, limit)
    v = np.clip(scale * (2.0 * (j - MAX_SIZE // 2) + 1.0), -limit, limit)
    p = face_uv_to_xyz(np.asarray(face), u, v)
    nface, nu, nv = xyz_to_face_uv(p)
    ni = st_to_ij(0.5 * (nu + 1.0))
    nj = st_to_ij(0.5 * (nv + 1.0))
    return from_face_ij(nface, ni, nj)


def neighbor_offsets(cell: np.ndarray, level: int, offsets: np.ndarray) -> np.ndarray:
    """Cells at lattice ``offsets`` (m, 2) around each cell (n,) at ``level``.

    Returns an (n, m) int64 array. Offsets are in units of one level-
    ``level`` cell along the face i/j axes; face boundaries wrap exactly.
    This is the S2 analogue of H3's k-ring (SURVEY.md §2.3) and the
    candidate generator for the kNN join.
    """
    face, i, j = to_face_ij(cell)
    size = 1 << (MAX_LEVEL - level)
    i0 = (i & ~(size - 1))[:, None] + offsets[None, :, 0] * size
    j0 = (j & ~(size - 1))[:, None] + offsets[None, :, 1] * size
    f = np.broadcast_to(face[:, None], i0.shape)
    in_range = (i0 >= 0) & (i0 < MAX_SIZE) & (j0 >= 0) & (j0 < MAX_SIZE)
    flat_f = f.ravel()
    flat_i = i0.ravel()
    flat_j = j0.ravel()
    leaf = np.empty(flat_i.shape, dtype=np.int64)
    m = in_range.ravel()
    if m.any():
        leaf[m] = from_face_ij(flat_f[m], flat_i[m], flat_j[m])
    if (~m).any():
        leaf[~m] = from_face_ij_wrap(flat_f[~m], flat_i[~m], flat_j[~m])
    return parent(leaf, level).reshape(i0.shape)


# the 8 single-cell steps; single steps are EXACT across face seams
# (from_face_ij_wrap's ±1-leaf clip lands a one-cell step in precisely
# the adjacent row of the glued face), so a BFS over them yields the
# true adjacency ball — unlike a (2k+1)² offset grid, whose >1-cell
# cross-face offsets all collapse onto the glued face's first row under
# the clip, silently truncating the disk one cell past any face edge
_UNIT_STEPS = np.array(
    [[di, dj] for di in (-1, 0, 1) for dj in (-1, 0, 1) if (di, dj) != (0, 0)],
    dtype=np.int64,
)
# never a valid cell id: top 3 bits = face 7 (faces are 0..5)
_PAD_SENTINEL = np.uint64(0xFFFFFFFFFFFFFFFF)


def _compact_rows(a: np.ndarray) -> np.ndarray:
    """Row-wise dedupe an int64 (n, m) id matrix, shrinking m to the
    max unique count; freed slots are padded with the row's own first
    id (callers dedupe per row anyway)."""
    s = np.sort(np.ascontiguousarray(a).view(np.uint64), axis=1)
    dup = np.empty(s.shape, dtype=bool)
    dup[:, 0] = False
    dup[:, 1:] = s[:, 1:] == s[:, :-1]
    s[dup] = _PAD_SENTINEL
    s = np.sort(s, axis=1)[:, : max(1, int((~dup).sum(axis=1).max()))]
    pad = s == _PAD_SENTINEL
    if pad.any():
        s[pad] = np.broadcast_to(s[:, :1], s.shape)[pad]
    return s.view(np.int64)


def grid_disk(cell: np.ndarray, level: int, k: int) -> np.ndarray:
    """Radius-``k`` adjacency ball around each cell: (n, m) int64.

    BFS over the 8 exact single-cell steps, one round per ring, row-
    deduped between rounds. This is the true graph ball (edge + vertex
    adjacency, exact across cube-face edges and corners — at a cube
    corner all apex-touching cells are full-edge neighbors, so unit
    steps already reach them), which is what the kNN / within-radius
    coverage guarantee needs: any cell OUTSIDE the ball is ≥ k+1 walk
    steps away, hence ≥ k·kMinWidth(level) geodesic meters away (walk-
    contraction bound, see operators/knn._min_cell_width_m).

    May still contain duplicate ids (padding, corner wraps); callers
    that need each ball once use :func:`grid_disk_pairs`.
    """
    ball = np.asarray(cell, dtype=np.int64).reshape(-1, 1)
    for _ in range(k):
        nb = neighbor_offsets(ball.ravel(), level, _UNIT_STEPS).reshape(ball.shape[0], -1)
        ball = _compact_rows(np.concatenate([ball, nb], axis=1))
    return ball


def grid_disk_pairs(cell: np.ndarray, level: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """:func:`grid_disk` deduped per row and flattened: (row index,
    ball cell) pairs, rows in input order, each row's cells ascending
    (np.unique order)."""
    disk = np.sort(grid_disk(cell, level, k), axis=1)
    keep = np.ones(disk.shape, dtype=bool)
    keep[:, 1:] = disk[:, 1:] != disk[:, :-1]
    return np.nonzero(keep)[0], disk[keep]


def cell_token(cell: np.ndarray) -> np.ndarray:
    """Canonical hex token (id with trailing zeros stripped) — for display."""
    cid = np.asarray(cell, dtype=np.int64).view(np.uint64)
    out = []
    for c in cid.tolist():
        h = format(c, "016x").rstrip("0")
        out.append(h if h else "X")
    return np.array(out)

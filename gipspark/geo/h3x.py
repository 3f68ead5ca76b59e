"""h3x — an H3-bit-layout aperture-7 icosahedral hexagonal index.

The reference indexes pages to "H3 res-7" cells (BASELINE.json:6). No
``h3`` wheel or network exists in the sandbox (SURVEY.md §7.5/§7.6), and
canonical H3 ids depend on large arbitrary lookup tables (base-cell
numbering, Dymaxion orientation) that cannot be reproduced from spec
alone. This module therefore implements the *published H3 design* —
icosahedral gnomonic faces, aperture-7 hexagonal hierarchy, H3's 64-bit
bit layout — with a deterministic, derived parameterization:

- icosahedron constructed from the golden ratio (fixed orientation,
  faces ordered deterministically); base cell = face index (0..19)
- aperture-7 subdivision via exact Eisenstein-integer arithmetic:
  each resolution divides the hex lattice by (2 + ω), |2+ω|² = 7,
  rotating by atan(√3/5) ≈ 19.107° per level (the H3 Class-II/III
  alternation, expressed algebraically)
- digits 0..6 = the seven residues mod (2+ω): center + six unit vectors
- id layout identical to H3 mode-1 cell ids:
  [0][mode=1:4][rsvd:3][res:4][base:7][digit×15:3 each, unused=7]

DEVIATIONS from canonical H3 (documented, by design): ids are NOT
numerically equal to the h3 library's; there are no pentagon cells —
each point belongs to the Voronoi region of its nearest face center, so
hexes straddling an icosahedron edge are truncated at the face boundary
(two near-boundary points can fall in different cells where canonical
H3 would merge them via pentagon distortion). Hierarchy, aperture-7
containment, and same-face k-rings are exact; the operational engine
index is S2 (gipspark.geo.s2), which has no such seams.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 15
MODE_CELL = 1

# --- icosahedron (golden-ratio construction, fixed orientation) -----------
_PHI = (1.0 + np.sqrt(5.0)) / 2.0


def _icosahedron() -> tuple[np.ndarray, np.ndarray]:
    v = []
    for a in (-1.0, 1.0):
        for b in (-_PHI, _PHI):
            v += [(0.0, a, b), (a, b, 0.0), (b, 0.0, a)]
    verts = np.array(v)
    verts /= np.linalg.norm(verts, axis=1, keepdims=True)
    # faces = triples of mutually-adjacent vertices (edge length = 2/sqrt(phi^2+1))
    edge2 = 4.0 / (_PHI**2 + 1.0)
    faces = []
    n = len(verts)
    for i in range(n):
        for j in range(i + 1, n):
            if abs(np.sum((verts[i] - verts[j]) ** 2) - edge2) > 1e-9:
                continue
            for k in range(j + 1, n):
                if (
                    abs(np.sum((verts[i] - verts[k]) ** 2) - edge2) < 1e-9
                    and abs(np.sum((verts[j] - verts[k]) ** 2) - edge2) < 1e-9
                ):
                    faces.append((i, j, k))
    centers = np.array([verts[list(f)].sum(axis=0) for f in faces])
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # deterministic face order: by (z, atan2(y, x)) of center
    order = np.lexsort((np.arctan2(centers[:, 1], centers[:, 0]), centers[:, 2]))
    return verts, centers[order]


_VERTS, FACE_CENTERS = _icosahedron()
assert FACE_CENTERS.shape == (20, 3)

# orthonormal tangent basis per face (deterministic: derived from +z or +x)
_ref = np.where(
    np.abs(FACE_CENTERS[:, 2:3]) < 0.9,
    np.array([[0.0, 0.0, 1.0]]),
    np.array([[1.0, 0.0, 0.0]]),
)
_e1 = _ref - (FACE_CENTERS * _ref).sum(axis=1, keepdims=True) * FACE_CENTERS
FACE_E1 = _e1 / np.linalg.norm(_e1, axis=1, keepdims=True)
FACE_E2 = np.cross(FACE_CENTERS, FACE_E1)

# Lattice scale: the set of points whose aperture-7 digit expansion has a
# zero quotient is a fractal Gosper island, not the base hexagon, so the
# face's Voronoi region (gnomonic radius tan(center→vertex)) must fit
# inside the island with margin. κ=1.15 is empirically stray-free at
# 400k uniform samples for res 3..9; 1.25 adds fractal-boundary margin
# (the encode loop still nudges any residual stragglers inward).
_CENTER_TO_VERTEX = np.arccos(np.clip((FACE_CENTERS[0] * _VERTS).sum(axis=1).max(), -1, 1))
_KAPPA = 1.25
S0 = 2.0 * np.tan(_CENTER_TO_VERTEX) * _KAPPA
# complex lattice unit per res: u_r = S0 / (2+w)^r, w = e^{i*pi/3}
_W = np.exp(1j * np.pi / 3.0)
_D = 2.0 + _W  # aperture-7 divisor, |d|^2 = 7
_U = np.array([S0 / _D**r for r in range(MAX_RES + 1)])

# the seven digit residues mod (2+w): 0 then w^k, k=0..5 → digits 1..6
_DIGIT_AB = np.array(
    [(0, 0), (1, 0), (0, 1), (-1, 1), (-1, 0), (0, -1), (1, -1)], dtype=np.int64
)


def _hex_round(xf: np.ndarray, zf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Round fractional axial (a, b) to the nearest hex lattice point."""
    yf = -xf - zf
    rx, ry, rz = np.round(xf), np.round(yf), np.round(zf)
    dx, dy, dz = np.abs(rx - xf), np.abs(ry - yf), np.abs(rz - zf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def _eisenstein_divmod(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(a + bω) = q·(2+ω) + r, r one of the 7 residues. Exact int math."""
    qx = (3 * a + b) / 7.0
    qz = (2 * b - a) / 7.0
    qa, qb = _hex_round(qx, qz)
    ra = a - (2 * qa - qb)
    rb = b - (qa + 3 * qb)
    return qa, qb, ra * 8 + rb  # residue packed for digit lookup


_RES_TO_DIGIT = np.full(17 * 8 * 2, -1, dtype=np.int64)
for _d, (_ra, _rb) in enumerate(_DIGIT_AB.tolist()):
    _RES_TO_DIGIT[(_ra * 8 + _rb) % (17 * 8 * 2)] = _d


def _residue_to_digit(packed: np.ndarray) -> np.ndarray:
    return _RES_TO_DIGIT[packed % (17 * 8 * 2)]


# --- encode ----------------------------------------------------------------


def latlng_to_cell(lat_deg: np.ndarray, lon_deg: np.ndarray, res: int = 7) -> np.ndarray:
    """Vectorized lat/lng (degrees) → h3x cell id (int64) at ``res``."""
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lon = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cos_lat = np.cos(lat)
    p = np.stack([cos_lat * np.cos(lon), cos_lat * np.sin(lon), np.sin(lat)], axis=-1)
    dots = p @ FACE_CENTERS.T
    face = np.argmax(dots, axis=-1)
    c = FACE_CENTERS[face]
    scale = (p * c).sum(axis=-1)
    q = p / scale[:, None] - c  # gnomonic projection into tangent plane
    x = (q * FACE_E1[face]).sum(axis=-1)
    y = (q * FACE_E2[face]).sum(axis=-1)
    # axial coords in the res-R lattice
    zeta = (x + 1j * y) / _U[res]

    def _digits_of(zeta_arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        bf = zeta_arr.imag / (np.sqrt(3.0) / 2.0)
        af = zeta_arr.real - bf / 2.0
        a, b = _hex_round(af, bf)
        digs = np.zeros((len(a), MAX_RES), dtype=np.int64)
        for r in range(res, 0, -1):
            a, b, packed = _eisenstein_divmod(a, b)
            digs[:, r - 1] = _residue_to_digit(packed)
        return digs, (a != 0) | (b != 0)

    digits, stray = _digits_of(zeta)
    # A point whose *nearest* res-R hex center lies across the face edge
    # (rounding pushed it into the neighbor face's base hex) is nudged
    # radially inward until it rounds inside — deterministic, moves the
    # point by ≪ one hex, and keeps the cell local (no pentagon cells in
    # h3x; see module docstring).
    tries = 0
    while stray.any() and tries < 20:
        zeta = np.where(stray, zeta * 0.998, zeta)
        sub, sub_stray = _digits_of(zeta[stray])
        digits[stray] = sub
        stray_idx = np.flatnonzero(stray)
        stray = np.zeros_like(stray)
        stray[stray_idx[sub_stray]] = True
        tries += 1
    return _pack(face.astype(np.int64), res, digits)


def _pack(base: np.ndarray, res: int, digits: np.ndarray) -> np.ndarray:
    cid = np.zeros(base.shape, dtype=np.int64)
    cid |= np.int64(MODE_CELL) << 59
    cid |= np.int64(res) << 52
    cid |= base << 45
    for r in range(1, MAX_RES + 1):
        d = digits[:, r - 1] if r <= res else np.full(base.shape, 7, dtype=np.int64)
        cid |= d << (3 * (MAX_RES - r))
    return cid


def cell_res(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> 52) & 0xF


def cell_base(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> 45) & 0x7F


def cell_digits(cell: np.ndarray, res: int) -> np.ndarray:
    cid = np.asarray(cell, dtype=np.int64)
    out = np.zeros((len(cid), res), dtype=np.int64)
    for r in range(1, res + 1):
        out[:, r - 1] = (cid >> (3 * (MAX_RES - r))) & 0x7
    return out


def parent(cell: np.ndarray, res: int) -> np.ndarray:
    """Ancestor at coarser ``res``: truncate digits, set unused to 7."""
    cid = np.asarray(cell, dtype=np.int64).copy()
    cid &= ~(np.int64(0xF) << 52)
    cid |= np.int64(res) << 52
    for r in range(res + 1, MAX_RES + 1):
        cid |= np.int64(0x7) << (3 * (MAX_RES - r))
    return cid


def _axial_of(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell → (face, res-scale axial a, b, res) via digit recomposition."""
    cid = np.asarray(cell, dtype=np.int64)
    res = int(cell_res(cid[:1])[0]) if len(cid) else 0
    face = cell_base(cid)
    a = np.zeros(len(cid), dtype=np.int64)
    b = np.zeros(len(cid), dtype=np.int64)
    for r in range(1, res + 1):
        d = (cid >> (3 * (MAX_RES - r))) & 0x7
        da = _DIGIT_AB[d, 0]
        db = _DIGIT_AB[d, 1]
        # a+bω := (a+bω)(2+ω) + digit ; (a+bω)(2+ω) = (2a−b) + (a+3b)ω
        a, b = 2 * a - b + da, a + 3 * b + db
    return face, a, b, res


def cell_to_latlng(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id → (lat, lon) degrees of the hex center (uniform res batch)."""
    face, a, b, res = _axial_of(cell)
    zeta = (a + b * _W) * _U[res]
    x, y = zeta.real, zeta.imag
    c = FACE_CENTERS[face]
    q = c + x[:, None] * FACE_E1[face] + y[:, None] * FACE_E2[face]
    q /= np.linalg.norm(q, axis=-1, keepdims=True)
    lat = np.degrees(np.arcsin(np.clip(q[:, 2], -1, 1)))
    lon = np.degrees(np.arctan2(q[:, 1], q[:, 0]))
    return lat, lon


def grid_disk(cell: np.ndarray, k: int) -> np.ndarray:
    """Same-face k-ring: (n, 3k(k+1)+1) ids at the cell's own resolution.

    Hex distance ≤ k in axial coords. Neighbors across icosahedron edges
    are not generated (h3x deviation note in the module docstring); the
    engine's cross-seam k-ring lives on S2 (s2.grid_disk).
    """
    face, a, b, res = _axial_of(cell)
    offs = [
        (da, db)
        for da in range(-k, k + 1)
        for db in range(-k, k + 1)
        if max(abs(da), abs(db), abs(da + db)) <= k
    ]
    offs = np.array(offs, dtype=np.int64)
    na = a[:, None] + offs[None, :, 0]
    nb = b[:, None] + offs[None, :, 1]
    # re-extract digits for each neighbor (same base/face)
    sh = na.shape
    na_f, nb_f = na.ravel(), nb.ravel()
    digits = np.zeros((na_f.size, MAX_RES), dtype=np.int64)
    qa, qb = na_f, nb_f
    for r in range(res, 0, -1):
        qa, qb, packed = _eisenstein_divmod(qa, qb)
        digits[:, r - 1] = _residue_to_digit(packed)
    base = np.broadcast_to(face[:, None], sh).ravel()
    cid = _pack(base, res, digits)
    # neighbors whose quotient escapes the face's base hex are clamped to
    # the cell itself (face-edge truncation)
    stray = (qa != 0) | (qb != 0)
    if stray.any():
        cid = np.where(stray, np.broadcast_to(np.asarray(cell)[:, None], sh).ravel(), cid)
    return cid.reshape(sh)

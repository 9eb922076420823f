"""Pure-Python H3 grid geometry: the icosahedral forward/inverse
transforms (latlng ↔ cell), neighbor traversal, and grid disks.

The engine's H3 *index* math (parent/children/compact — pure bit
arithmetic) lives in :mod:`ukis_h3cellstore_spark.h3.cells`; this
module adds the *geometry* so the real hexagonal grid runs without any
native dependency. The reference obtains these from the Rust ``h3ron``
crate (``traversal.rs:131-162`` uses ``to_h3_cells`` = polyfill,
``traversal.rs:403-418`` uses ``grid_disk``); here they are a
from-the-public-spec implementation of the H3 core algorithms
(https://h3geo.org/docs/core-library/overview — gnomonic projection
onto the 20 icosahedron faces, aperture-7 IJK digit arithmetic).

Design note — recalled vs derived data
--------------------------------------
Only three data tables are transcribed from the public H3 spec:

- ``FACE_CENTER_GEO``: the 20 icosahedron face centers (radians),
- ``FACE_AZ_RADS_CII``: the Class-II i-axis azimuth per face,
- ``BASE_CELL_DATA``: home face + IJK of the 122 base cells (+ the
  12-pentagon flags shared with ``cells.PENTAGON_BASE_CELLS``).

Every other table the C library hard-codes is **derived at import**
from those three plus the projection math itself:

- ``_FACE_SLOT_OWNER`` (face slot → base cell): each res-0 lattice
  point on a face coincides exactly with some base cell's center, so
  the slot owner is found by nearest-center matching in 3D. Because
  there are exactly 122 base cells and 122 distinct res-0 lattice
  points globally, any wrong ``BASE_CELL_DATA`` entry would collide
  with another center — ``_validate_base_cells`` makes that a hard
  import error (pigeonhole check).
- slot *rotations* and the pentagon cw-offset faces: calibrated by
  round-trip consistency (forward digits on the overlap face must
  decode — via the home-face inverse — to the same physical point).
- ``_FACE_NEIGHBORS`` (face adjacency + coordinate transform):
  recovered from matched lattice-point pairs across face projections.
- base-cell neighbor + rotation tables and the digit-carry tables of
  ``h3NeighborRotations``: exact integer IJK arithmetic.

External anchors (vendored public vectors, tests/test_h3_public_vectors.py):
the ``latLngToCell``/``cellToLatLng`` doc examples, the SF polyfill
cell counts from the H3 C test suite, grid-disk size formulas, and the
pentagon examples. Those pin the recalled tables to ground truth in
the regions they cover; everywhere else correctness rests on the
pigeonhole/center-distinctness argument plus global round-trip tests.
"""

from __future__ import annotations

import math
from functools import lru_cache

from . import cells as _cells

# ----------------------------------------------------------- constants

M_SIN60 = math.sqrt(3.0) / 2.0
M_SQRT7 = math.sqrt(7.0)
#: res-0 unit distance in gnomonic plane units (public spec constant).
RES0_U_GNOMONIC = 0.38196601125010500003
#: rotation angle between Class II and Class III grids: asin(sqrt(3/28)).
M_AP7_ROT_RADS = math.asin(math.sqrt(3.0 / 28.0))
_EPSILON = 1.0e-16

NUM_ICOSA_FACES = 20
NUM_BASE_CELLS = 122
MAX_RES = 15

# digit constants (match cells.py / the public spec)
CENTER_DIGIT = 0
K_AXES_DIGIT = 1
J_AXES_DIGIT = 2
JK_AXES_DIGIT = 3
I_AXES_DIGIT = 4
IK_AXES_DIGIT = 5
IJ_AXES_DIGIT = 6

#: unit IJK vector per digit 0..6
UNIT_VECS = (
    (0, 0, 0),
    (0, 0, 1),
    (0, 1, 0),
    (0, 1, 1),
    (1, 0, 0),
    (1, 0, 1),
    (1, 1, 0),
)

# ------------------------------------------------- recalled spec tables

#: (lat, lng) radians of the 20 icosahedron face centers (public spec).
FACE_CENTER_GEO = (
    (0.803582649718989942, 1.248397419617396099),
    (1.307747883455638156, 2.536945009877921159),
    (1.054751253523952054, -1.347517358900396623),
    (0.600191595538186799, -0.450603909469755746),
    (0.491715428198773866, 0.401988202911306943),
    (0.172745327415618701, 1.678146885280433686),
    (0.605929321571350690, 2.953923329812411617),
    (0.427370518328979641, -1.888876200336285401),
    (-0.079066118549212831, -0.733429513380867741),
    (-0.230961644455383637, 0.506495587332349035),
    (0.079066118549212831, 2.408163140208925497),
    (0.230961644455383637, -2.635097066257444203),
    (-0.172745327415618701, -1.463445768309359553),
    (-0.605929321571350690, -0.187669323777381622),
    (-0.427370518328979641, 1.252716453253569838),
    (-0.600191595538186799, 2.690988744120037492),
    (-0.491715428198773866, -2.739604450678486295),
    (-0.803582649718989942, -1.893195233972397139),
    (-1.307747883455638156, -0.604647643711872080),
    (-1.054751253523952054, 1.794075294689396615),
)

#: Class-II i-axis azimuth (radians) per face (public spec; only the
#: CII entry of faceAxesAzRadsCII is used by the transforms).
FACE_AZ_RADS_CII = (
    5.619958268523939882,
    5.760339081714187279,
    0.780213654393430055,
    0.430469363979999913,
    6.130269123335111400,
    2.692877706530642877,
    2.982963003477243874,
    3.532912002790141181,
    3.494305004259568154,
    3.003214169499538391,
    5.930472956509811562,
    0.138378484090254847,
    0.448714947059150361,
    0.158629650112549365,
    5.891865957979238535,
    2.711123289609793325,
    3.294508837434268316,
    3.804819692245439833,
    3.664438879055192436,
    2.361378999196363184,
)

#: home (face, (i, j, k)) of each base cell 0..121 (public spec table;
#: validated at import by the pigeonhole center-distinctness check).
BASE_CELL_DATA = (
    (1, (1, 0, 0)), (2, (1, 1, 0)), (1, (0, 0, 0)), (2, (1, 0, 0)),
    (0, (2, 0, 0)), (1, (1, 1, 0)), (1, (0, 0, 1)), (2, (0, 0, 0)),
    (0, (1, 0, 0)), (2, (0, 1, 0)), (1, (0, 1, 0)), (1, (0, 1, 1)),
    (3, (1, 0, 0)), (3, (1, 1, 0)), (11, (2, 0, 0)), (4, (1, 0, 0)),
    (0, (0, 0, 0)), (6, (0, 1, 0)), (0, (0, 0, 1)), (2, (0, 1, 1)),
    (7, (0, 0, 1)), (2, (0, 0, 1)), (0, (1, 1, 0)), (6, (0, 0, 1)),
    (10, (2, 0, 0)), (6, (0, 0, 0)), (3, (0, 0, 0)), (11, (1, 0, 0)),
    (4, (1, 1, 0)), (3, (0, 1, 0)), (0, (0, 1, 1)), (4, (0, 0, 0)),
    (5, (0, 1, 0)), (0, (0, 1, 0)), (7, (0, 1, 0)), (11, (1, 1, 0)),
    (7, (0, 0, 0)), (10, (1, 0, 0)), (12, (2, 0, 0)), (6, (1, 0, 1)),
    (7, (1, 0, 1)), (4, (0, 0, 1)), (3, (0, 0, 1)), (3, (0, 1, 1)),
    (4, (0, 1, 0)), (6, (1, 0, 0)), (11, (0, 0, 0)), (8, (0, 0, 1)),
    (5, (0, 0, 1)), (14, (2, 0, 0)), (5, (0, 0, 0)), (12, (1, 0, 0)),
    (10, (1, 1, 0)), (4, (0, 1, 1)), (12, (1, 1, 0)), (7, (1, 0, 0)),
    (11, (0, 1, 0)), (10, (0, 0, 0)), (13, (2, 0, 0)), (10, (0, 0, 1)),
    (11, (0, 0, 1)), (9, (0, 1, 0)), (8, (0, 1, 0)), (6, (2, 0, 0)),
    (8, (0, 0, 0)), (9, (0, 0, 1)), (14, (1, 0, 0)), (5, (1, 0, 1)),
    (16, (0, 1, 1)), (8, (1, 0, 1)), (5, (1, 0, 0)), (12, (0, 0, 0)),
    (7, (2, 0, 0)), (12, (0, 1, 0)), (10, (0, 1, 0)), (9, (0, 0, 0)),
    (13, (1, 0, 0)), (16, (0, 0, 1)), (15, (0, 1, 1)), (15, (0, 1, 0)),
    (16, (0, 1, 0)), (14, (1, 1, 0)), (13, (1, 1, 0)), (5, (2, 0, 0)),
    (8, (1, 0, 0)), (14, (0, 0, 0)), (9, (1, 0, 1)), (14, (0, 0, 1)),
    (17, (0, 0, 1)), (12, (0, 0, 1)), (16, (0, 0, 0)), (17, (0, 1, 1)),
    (15, (0, 0, 1)), (16, (1, 0, 1)), (9, (1, 0, 0)), (15, (0, 0, 0)),
    (13, (0, 0, 0)), (8, (2, 0, 0)), (13, (0, 1, 0)), (17, (1, 0, 1)),
    (19, (0, 1, 0)), (14, (0, 1, 0)), (14, (0, 1, 1)), (17, (0, 1, 0)),
    (13, (0, 0, 1)), (17, (0, 0, 0)), (16, (1, 0, 0)), (9, (2, 0, 0)),
    (15, (1, 0, 1)), (15, (1, 0, 0)), (18, (0, 1, 1)), (18, (0, 0, 1)),
    (19, (0, 0, 1)), (17, (1, 0, 0)), (19, (0, 0, 0)), (18, (0, 1, 0)),
    (18, (1, 0, 1)), (19, (2, 0, 0)), (19, (1, 0, 0)), (18, (0, 0, 0)),
    (18, (1, 1, 0)), (18, (1, 0, 0)),
)

PENTAGONS = _cells.PENTAGON_BASE_CELLS
#: the two pentagons with all-i-axis neighbors (polar pentagons)
POLAR_PENTAGONS = frozenset({4, 117})


# ------------------------------------------------------------ IJK math


def ijk_normalize(i: int, j: int, k: int) -> tuple[int, int, int]:
    """Normalize to the canonical form with at least one zero axis."""
    if i < 0:
        j -= i
        k -= i
        i = 0
    if j < 0:
        i -= j
        k -= j
        j = 0
    if k < 0:
        i -= k
        j -= k
        k = 0
    m = min(i, j, k)
    return i - m, j - m, k - m


def ijk_rotate60_ccw(i: int, j: int, k: int) -> tuple[int, int, int]:
    return ijk_normalize(i + k, i + j, j + k)


def ijk_rotate60_cw(i: int, j: int, k: int) -> tuple[int, int, int]:
    return ijk_normalize(i + j, j + k, i + k)


def down_ap7(i: int, j: int, k: int) -> tuple[int, int, int]:
    """Aperture-7 down, counter-clockwise (into a Class III grid)."""
    return ijk_normalize(3 * i + j, 3 * j + k, i + 3 * k)


def down_ap7r(i: int, j: int, k: int) -> tuple[int, int, int]:
    """Aperture-7 down, clockwise (into a Class II grid)."""
    return ijk_normalize(3 * i + k, i + 3 * j, j + 3 * k)


def up_ap7(i: int, j: int, k: int) -> tuple[int, int, int]:
    ii = i - k
    jj = j - k
    return ijk_normalize(
        round((3 * ii - jj) / 7.0), round((ii + 2 * jj) / 7.0), 0
    )


def up_ap7r(i: int, j: int, k: int) -> tuple[int, int, int]:
    ii = i - k
    jj = j - k
    return ijk_normalize(
        round((2 * ii + jj) / 7.0), round((3 * jj - ii) / 7.0), 0
    )


def unit_ijk_to_digit(i: int, j: int, k: int) -> int:
    try:
        return UNIT_VECS.index(ijk_normalize(i, j, k))
    except ValueError:
        return -1  # invalid digit


def ijk_to_hex2d(i: int, j: int, k: int) -> tuple[float, float]:
    ii = i - k
    jj = j - k
    return ii - 0.5 * jj, jj * M_SIN60


def hex2d_to_ijk(x: float, y: float) -> tuple[int, int, int]:
    """Round planar hex coordinates to the containing cell's IJK
    (public-spec rounding case analysis)."""
    a1 = abs(x)
    a2 = abs(y)
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = int(x1)
    m2 = int(x2)
    r1 = x1 - m1
    r2 = x2 - m2
    if r1 < 0.5:
        if r1 < 1.0 / 3.0:
            i = m1
            j = m2 if r2 < (1.0 + r1) / 2.0 else m2 + 1
        else:
            j = m2 if r2 < (1.0 - r1) else m2 + 1
            i = m1 + 1 if (1.0 - r1) <= r2 < (2.0 * r1) else m1
    else:
        if r1 < 2.0 / 3.0:
            j = m2 if r2 < (1.0 - r1) else m2 + 1
            i = m1 if (2.0 * r1 - 1.0) < r2 < (1.0 - r1) else m1 + 1
        else:
            i = m1 + 1
            j = m2 if r2 < (r1 / 2.0) else m2 + 1
    k = 0
    # fold across the axes if x or y is negative
    if x < 0.0:
        if j % 2 == 0:
            axis_i = j // 2
            i = i - 2 * (i - axis_i)
        else:
            axis_i = (j + 1) // 2
            i = i - (2 * (i - axis_i) + 1)
    if y < 0.0:
        i = i - (2 * j + 1) // 2
        j = -j
    return ijk_normalize(i, j, k)


# ------------------------------------------------------ spherical math


def _pos_angle(rads: float) -> float:
    tau = 2.0 * math.pi
    rads = rads % tau
    return rads + tau if rads < 0.0 else rads


def _geo_to_3d(lat: float, lng: float) -> tuple[float, float, float]:
    r = math.cos(lat)
    return r * math.cos(lng), r * math.sin(lng), math.sin(lat)


def _geo_azimuth(p1: tuple[float, float], p2: tuple[float, float]) -> float:
    """Azimuth (radians) from geo point p1 to p2 (both (lat, lng) rad)."""
    return math.atan2(
        math.cos(p2[0]) * math.sin(p2[1] - p1[1]),
        math.cos(p1[0]) * math.sin(p2[0])
        - math.sin(p1[0]) * math.cos(p2[0]) * math.cos(p2[1] - p1[1]),
    )


def _geo_az_distance(
    p: tuple[float, float], az: float, distance: float
) -> tuple[float, float]:
    """Point at (azimuth, angular distance) from p on the unit sphere."""
    if distance < _EPSILON:
        return p
    az = _pos_angle(az)
    plat, plng = p
    if az < _EPSILON or abs(az - math.pi) < _EPSILON:  # due north/south
        lat = plat + distance if az < _EPSILON else plat - distance
        if abs(lat - math.pi / 2.0) < _EPSILON:  # north pole
            return math.pi / 2.0, 0.0
        if abs(lat + math.pi / 2.0) < _EPSILON:  # south pole
            return -math.pi / 2.0, 0.0
        return lat, _constrain_lng(plng)
    sinlat = math.sin(plat) * math.cos(distance) + math.cos(plat) * math.sin(
        distance
    ) * math.cos(az)
    sinlat = min(1.0, max(-1.0, sinlat))
    lat = math.asin(sinlat)
    if abs(lat - math.pi / 2.0) < _EPSILON:
        return math.pi / 2.0, 0.0
    if abs(lat + math.pi / 2.0) < _EPSILON:
        return -math.pi / 2.0, 0.0
    sinlng = math.sin(az) * math.sin(distance) / math.cos(lat)
    coslng = (math.cos(distance) - math.sin(plat) * math.sin(lat)) / (
        math.cos(plat) * math.cos(lat)
    )
    sinlng = min(1.0, max(-1.0, sinlng))
    coslng = min(1.0, max(-1.0, coslng))
    return lat, _constrain_lng(plng + math.atan2(sinlng, coslng))


def _constrain_lng(lng: float) -> float:
    while lng > math.pi:
        lng -= 2.0 * math.pi
    while lng < -math.pi:
        lng += 2.0 * math.pi
    return lng


_FACE_CENTER_3D = tuple(_geo_to_3d(lat, lng) for lat, lng in FACE_CENTER_GEO)


def _closest_face(lat: float, lng: float) -> tuple[int, float]:
    """(face, squared 3D chord distance) of the nearest face center."""
    v = _geo_to_3d(lat, lng)
    best, bestd = 0, 5.0
    for f, c in enumerate(_FACE_CENTER_3D):
        d = (
            (v[0] - c[0]) ** 2
            + (v[1] - c[1]) ** 2
            + (v[2] - c[2]) ** 2
        )
        if d < bestd:
            best, bestd = f, d
    return best, bestd


# -------------------------------------------- face plane ↔ geo transforms


def _geo_to_hex2d(lat: float, lng: float, res: int) -> tuple[int, float, float]:
    """Project a geo point onto its nearest face's gnomonic plane,
    scaled to res ``res``. Returns (face, x, y)."""
    face, sqd = _closest_face(lat, lng)
    r = math.acos(1.0 - sqd / 2.0)
    if r < _EPSILON:
        return face, 0.0, 0.0
    theta = _pos_angle(
        FACE_AZ_RADS_CII[face]
        - _pos_angle(_geo_azimuth(FACE_CENTER_GEO[face], (lat, lng)))
    )
    if res % 2 == 1:  # Class III
        theta = _pos_angle(theta - M_AP7_ROT_RADS)
    r = math.tan(r) / RES0_U_GNOMONIC
    r *= M_SQRT7 ** res
    return face, r * math.cos(theta), r * math.sin(theta)


def _hex2d_to_geo(x: float, y: float, face: int, res: int) -> tuple[float, float]:
    """Inverse of :func:`_geo_to_hex2d` for a known face."""
    r = math.hypot(x, y)
    if r < _EPSILON:
        return FACE_CENTER_GEO[face]
    theta = math.atan2(y, x)
    r /= M_SQRT7 ** res
    r = math.atan(r * RES0_U_GNOMONIC)
    if res % 2 == 1:  # Class III
        theta = _pos_angle(theta + M_AP7_ROT_RADS)
    theta = _pos_angle(FACE_AZ_RADS_CII[face] - theta)
    return _geo_az_distance(FACE_CENTER_GEO[face], theta, r)


def _face_ijk_to_geo(
    face: int, ijk: tuple[int, int, int], res: int
) -> tuple[float, float]:
    x, y = ijk_to_hex2d(*ijk)
    return _hex2d_to_geo(x, y, face, res)


def _geo_to_face_ijk(
    lat: float, lng: float, res: int
) -> tuple[int, tuple[int, int, int]]:
    face, x, y = _geo_to_hex2d(lat, lng, res)
    return face, hex2d_to_ijk(x, y)


# ------------------------------------------------ derived: base cells


def _derive_base_cell_centers() -> tuple:
    centers = []
    for face, ijk in BASE_CELL_DATA:
        lat, lng = _face_ijk_to_geo(face, ijk, 0)
        centers.append((lat, lng))
    return tuple(centers)


BASE_CELL_CENTER_GEO = _derive_base_cell_centers()
_BASE_CELL_CENTER_3D = tuple(_geo_to_3d(*c) for c in BASE_CELL_CENTER_GEO)


def _validate_base_cells() -> None:
    """Pigeonhole check: the 122 home entries must land on 122 distinct
    res-0 lattice positions (any wrong entry collides with another)."""
    min_d = 5.0
    for a in range(NUM_BASE_CELLS):
        va = _BASE_CELL_CENTER_3D[a]
        for b in range(a + 1, NUM_BASE_CELLS):
            vb = _BASE_CELL_CENTER_3D[b]
            d = (
                (va[0] - vb[0]) ** 2
                + (va[1] - vb[1]) ** 2
                + (va[2] - vb[2]) ** 2
            )
            if d < min_d:
                min_d = d
            if d < 1.0e-6:
                raise AssertionError(
                    f"BASE_CELL_DATA error: base cells {a} and {b} map to "
                    f"the same res-0 lattice point (sq chord {d:.3e})"
                )
    # res-0 neighbor spacing on the unit sphere is ~0.35 rad; half that
    # squared-chord is a safe distinctness margin.
    if min_d < 0.02:
        raise AssertionError(
            f"BASE_CELL_DATA error: suspiciously close base-cell centers "
            f"(min sq chord {min_d:.4f})"
        )
    # the H3 icosahedron placement is centrally symmetric and the base
    # cell numbering respects it: center(bc) == -center(121 - bc).
    # This pins every entry against its antipodal partner.
    for bc in range(NUM_BASE_CELLS // 2):
        va = _BASE_CELL_CENTER_3D[bc]
        vb = _BASE_CELL_CENTER_3D[NUM_BASE_CELLS - 1 - bc]
        d = (
            (va[0] + vb[0]) ** 2
            + (va[1] + vb[1]) ** 2
            + (va[2] + vb[2]) ** 2
        )
        if d > 1.0e-12:
            raise AssertionError(
                f"BASE_CELL_DATA error: base cells {bc} and "
                f"{NUM_BASE_CELLS - 1 - bc} are not antipodal "
                f"(sq residual {d:.3e})"
            )


_validate_base_cells()


def _derive_face_slot_owners() -> dict:
    """(face, normalized res-0 ijk, coords ≤ 2) → base cell.

    The 19 normalized slots per face (the spec's faceIjkBaseCells
    domain). Every slot center coincides with some base-cell center:
    exactly for on-face slots (i+j+k ≤ 2), and up to cross-face
    gnomonic distortion (a few % of a cell) for overage slots — far
    inside the half-spacing matching margin, which the second-nearest
    gap assertion enforces.
    """
    owners: dict = {}
    for face in range(NUM_ICOSA_FACES):
        for i in range(3):
            for j in range(3):
                for k in range(3):
                    if min(i, j, k) != 0:
                        continue
                    lat, lng = _face_ijk_to_geo(face, (i, j, k), 0)
                    v = _geo_to_3d(lat, lng)
                    ranked = sorted(
                        (
                            (vv[0] - v[0]) ** 2
                            + (vv[1] - v[1]) ** 2
                            + (vv[2] - v[2]) ** 2,
                            bc,
                        )
                        for bc, vv in enumerate(_BASE_CELL_CENTER_3D)
                    )
                    best_sqd, bc = ranked[0]
                    tol = 1.0e-6 if i + j + k <= 2 else 0.03
                    if best_sqd > tol:
                        raise AssertionError(
                            f"face {face} slot {(i, j, k)}: no base cell at "
                            f"the slot center (sq chord {best_sqd:.3e})"
                        )
                    if ranked[1][0] < 0.05:  # second-nearest ≥ half spacing
                        raise AssertionError(
                            f"face {face} slot {(i, j, k)}: ambiguous owner "
                            f"({bc} vs {ranked[1][1]})"
                        )
                    owners[(face, (i, j, k))] = bc
    return owners


_FACE_SLOT_OWNER = _derive_face_slot_owners()


# ------------------------------------------- derived: face neighbors

#: quadrant index constants (public spec: IJ=1, KI=2, JK=3)
_IJ_QUAD = 1
_KI_QUAD = 2
_JK_QUAD = 3


def _derive_face_neighbors() -> tuple:
    """Recover faceNeighbors[face][quadrant] = (face, translate, ccwRot60)
    from matched lattice points across face projections."""
    out = []
    for face in range(NUM_ICOSA_FACES):
        row: dict = {0: (face, (0, 0, 0), 0)}
        # representative overage lattice points per quadrant (res 0,
        # i+j+k > 2): IJ has k == 0, KI has j == 0, JK has i == 0.
        quads = {
            _IJ_QUAD: [(2, 1, 0), (1, 2, 0), (2, 2, 0)],
            _KI_QUAD: [(2, 0, 1), (1, 0, 2), (2, 0, 2)],
            _JK_QUAD: [(0, 2, 1), (0, 1, 2), (0, 2, 2)],
        }
        for quad, pts in quads.items():
            pairs = []
            gface = None
            for p in pts:
                if (face, p) not in _FACE_SLOT_OWNER:
                    continue
                bc = _FACE_SLOT_OWNER[(face, p)]
                # find bc's slot on its true (non-overage) face: prefer
                # the home representation
                hface, hijk = BASE_CELL_DATA[bc]
                if hface == face:
                    continue  # not a real overage point
                # which face does this quadrant lead to? the home face
                # of the matched cells when consistent, else search all
                # on-face slots owned by bc
                cands = [
                    (f2, ijk2)
                    for (f2, ijk2), owner in _FACE_SLOT_OWNER.items()
                    if owner == bc and f2 != face and sum(ijk2) <= 2
                ]
                pairs.append((p, cands))
            # the target face: one that can host all matched points
            face_sets = [set(f2 for f2, _ in cands) for _, cands in pairs]
            common = set.intersection(*face_sets) if face_sets else set()
            if not common:
                raise AssertionError(
                    f"face {face} quadrant {quad}: no common neighbor face"
                )
            # resolve transform: ijk_g = normalize(rot_ccw^r(ijk_f) + t).
            # Slot coords are normalized, so t is only determined modulo
            # the all-ones vector — which normalize() cancels anyway.
            solved = None
            for g in sorted(common):
                for r in range(6):
                    translate = None
                    ok = True
                    for p, cands in pairs:
                        tgt = [ijk2 for f2, ijk2 in cands if f2 == g]
                        if len(tgt) != 1:
                            ok = False
                            break
                        q = p
                        for _ in range(r):
                            q = ijk_rotate60_ccw(*q)
                        t = (
                            tgt[0][0] - q[0],
                            tgt[0][1] - q[1],
                            tgt[0][2] - q[2],
                        )
                        if translate is None:
                            translate = t
                        else:
                            d = (
                                t[0] - translate[0],
                                t[1] - translate[1],
                                t[2] - translate[2],
                            )
                            if not (d[0] == d[1] == d[2]):
                                ok = False
                                break
                    if ok and translate is not None:
                        solved = (g, translate, r)
                        break
                if solved:
                    break
            if solved is None:
                raise AssertionError(
                    f"face {face} quadrant {quad}: no consistent transform"
                )
            row[quad] = solved
        out.append((row[0], row[_IJ_QUAD], row[_KI_QUAD], row[_JK_QUAD]))
    return tuple(out)


_FACE_NEIGHBORS = _derive_face_neighbors()


def _max_dim_cii(res: int) -> int:
    return 2 * 7 ** (res // 2)


def _unit_scale_cii(res: int) -> int:
    return 7 ** (res // 2)


def _adjust_overage_class_ii(
    face: int, ijk: tuple[int, int, int], res: int, pent_leading_4: bool
) -> tuple[bool, int, tuple[int, int, int]]:
    """If ijk overflows ``face`` at Class-II res, hop to the neighbor
    face. Returns (had_overage, face, ijk)."""
    i, j, k = ijk
    max_dim = _max_dim_cii(res)
    if i + j + k <= max_dim:
        return False, face, ijk
    if k > 0:
        if j > 0:
            quad = _JK_QUAD
        else:
            quad = _KI_QUAD
            if pent_leading_4:
                # rotate out of the deleted k-axes subsequence: translate
                # the pentagon origin to the face corner, rotate cw, back
                oi, oj, ok = max_dim, 0, 0
                ti, tj, tk = ijk_rotate60_cw(i - oi, j - oj, k - ok)
                i, j, k = ti + oi, tj + oj, tk + ok
    else:
        quad = _IJ_QUAD
    nface, translate, ccw = _FACE_NEIGHBORS[face][quad]
    for _ in range(ccw):
        i, j, k = ijk_rotate60_ccw(i, j, k)
    scale = _unit_scale_cii(res)
    i, j, k = ijk_normalize(
        i + translate[0] * scale, j + translate[1] * scale, k + translate[2] * scale
    )
    return True, nface, (i, j, k)


def _exact_point_3d(face: int, ijk: tuple[int, int, int], even_res: int):
    """Exact 3D position of a Class-II lattice point given in (possibly
    overflowing) ``face`` coordinates: hop faces via the exact overage
    transform until on-face, then project."""
    for _ in range(4):
        over, face, ijk = _adjust_overage_class_ii(face, ijk, even_res, False)
        if not over:
            break
    else:
        raise AssertionError(f"unresolvable overage: face {face} {ijk}")
    lat, lng = _face_ijk_to_geo(face, ijk, even_res)
    return _geo_to_3d(lat, lng)


# ------------------------------------------------------ H3 digit helpers


def _digits_of(cell: int) -> tuple[int, list[int]]:
    res = _cells.get_resolution(cell)
    return res, [_cells.get_digit(cell, r) for r in range(1, res + 1)]


def _with_digits(base: int, digits: list[int]) -> int:
    return _cells.build_cell(base, digits)


def _leading_nonzero_digit(digits: list[int]) -> int:
    for d in digits:
        if d != 0:
            return d
    return 0


def _rotate_digit_ccw(d: int) -> int:
    return {1: 5, 5: 4, 4: 6, 6: 2, 2: 3, 3: 1}.get(d, d)


def _rotate_digit_cw(d: int) -> int:
    return {1: 3, 3: 2, 2: 6, 6: 4, 4: 5, 5: 1}.get(d, d)


def _rotate60_ccw(digits: list[int]) -> list[int]:
    return [_rotate_digit_ccw(d) for d in digits]


def _rotate60_cw(digits: list[int]) -> list[int]:
    return [_rotate_digit_cw(d) for d in digits]


def _rotate_pent60_ccw(digits: list[int]) -> list[int]:
    """Rotate a pentagon cell's digits ccw; if that lands the leading
    digit on the deleted k axis, rotate once more (leading zeros are
    fixed points of the rotation, so one post-check is equivalent to
    the spec's rotate-as-you-scan formulation)."""
    out = _rotate60_ccw(digits)
    if _leading_nonzero_digit(out) == K_AXES_DIGIT:
        out = _rotate60_ccw(out)
    return out


# ----------------------------------- derived: slot rotations + cw offsets


def _inverse_face_ijk(base: int, digits: list[int]) -> tuple[int, tuple[int, int, int], int]:
    """H3 digits → (face, ijk, adjusted_res) — the cellToLatLng core
    (home-face walk + exact overage arithmetic)."""
    if base in PENTAGONS and _leading_nonzero_digit(digits) == IK_AXES_DIGIT:
        digits = _rotate60_cw(digits)
    face, ijk = BASE_CELL_DATA[base]
    i, j, k = ijk
    res = len(digits)
    possible_overage = True
    if base not in PENTAGONS and (res == 0 or (i, j, k) == (0, 0, 0)):
        possible_overage = False
    for r in range(1, res + 1):
        if r % 2 == 1:  # Class III
            i, j, k = down_ap7(i, j, k)
        else:
            i, j, k = down_ap7r(i, j, k)
        u = UNIT_VECS[digits[r - 1]]
        i, j, k = ijk_normalize(i + u[0], j + u[1], k + u[2])
    if not possible_overage:
        return face, (i, j, k), res
    orig = (i, j, k)
    adj_res = res
    if res % 2 == 1:  # Class III: drop into the finer Class II grid
        i, j, k = down_ap7r(i, j, k)
        adj_res += 1
    pent_leading_4 = base in PENTAGONS and _leading_nonzero_digit(digits) == I_AXES_DIGIT
    over, face, (i, j, k) = _adjust_overage_class_ii(
        face, (i, j, k), adj_res, pent_leading_4
    )
    if over:
        if base in PENTAGONS:
            while True:
                over2, face, (i, j, k) = _adjust_overage_class_ii(
                    face, (i, j, k), adj_res, False
                )
                if not over2:
                    break
        if adj_res != res:
            i, j, k = up_ap7r(i, j, k)
            adj_res = res
    elif adj_res != res:
        i, j, k = orig
        adj_res = res
    return face, (i, j, k), adj_res


def cell_to_latlng(cell: int) -> tuple[float, float]:
    """Cell center in degrees (lat, lng) — ``cellToLatLng`` parity."""
    res, digits = _digits_of(cell)
    base = _cells.get_base_cell(cell)
    face, ijk, _ = _inverse_face_ijk(base, digits)
    lat, lng = _face_ijk_to_geo(face, ijk, res)
    return math.degrees(lat), math.degrees(lng)


def _forward_digits_on_face(
    face: int, ijk: tuple[int, int, int], res: int
) -> tuple[tuple[int, int, int], list[int]]:
    """Peel digits res..1 off a face-ijk, leaving res-0 coords."""
    digits = [0] * res
    i, j, k = ijk
    for r in range(res, 0, -1):
        last = (i, j, k)
        if r % 2 == 1:  # Class III
            i, j, k = up_ap7(i, j, k)
            ci, cj, ck = down_ap7(i, j, k)
        else:
            i, j, k = up_ap7r(i, j, k)
            ci, cj, ck = down_ap7r(i, j, k)
        digits[r - 1] = unit_ijk_to_digit(
            last[0] - ci, last[1] - cj, last[2] - ck
        )
    return (i, j, k), digits


def _probe_face_side_3d(
    face: int, slot: tuple[int, int, int], d1: int, d2: int
):
    """Exact 3D position of the res-2 descendant [d1, d2] of the cell
    at res-0 ``slot`` in ``face``'s frame (res 1 is Class III → ap7,
    res 2 Class II → ap7r; overage resolved exactly at res 2)."""
    i, j, k = down_ap7(*slot)
    u = UNIT_VECS[d1]
    i, j, k = ijk_normalize(i + u[0], j + u[1], k + u[2])
    i, j, k = down_ap7r(i, j, k)
    u = UNIT_VECS[d2]
    i, j, k = ijk_normalize(i + u[0], j + u[1], k + u[2])
    return _exact_point_3d(face, (i, j, k), 2)


def _canonical_side_3d(bc: int, digits: list[int]):
    """Exact 3D center of the cell ``(bc, digits)`` via the home-frame
    inverse walk."""
    qface, qijk, _ = _inverse_face_ijk(bc, digits)
    qlat, qlng = _face_ijk_to_geo(qface, qijk, len(digits))
    return _geo_to_3d(qlat, qlng)


def _sq3(a, b) -> float:
    return (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2


def _derive_rotation_tables() -> tuple[dict, dict]:
    """Calibrate the slot rotation counts and the pentagon cw-offset
    faces by round-trip consistency: the digits a probe point gets in
    the overlap face's frame, rotated r times ccw, must decode — via
    the home-face inverse — to the same physical lattice point. Both
    sides are computed with exact overage arithmetic, so the correct r
    matches to float precision and wrong ones miss by ≥ a cell."""
    rotations: dict = {}
    cw_offset: dict = {bc: set() for bc in PENTAGONS}
    for (face, ijk), bc in _FACE_SLOT_OWNER.items():
        hface, hijk = BASE_CELL_DATA[bc]
        if face == hface and ijk == hijk:
            rotations[(face, ijk)] = 0
            continue
        # score every rotation count across all probe directions: for a
        # pentagon slot one probe direction lies in the deleted-wedge
        # fold and can match a wrong rotation spuriously — majority
        # vote rejects it. Rotation counts producing identical digit
        # maps (pentagon rotation has period 5) tie harmlessly.
        probes = (J_AXES_DIGIT, I_AXES_DIGIT, IJ_AXES_DIGIT,
                  JK_AXES_DIGIT, IK_AXES_DIGIT)
        pvs = [_probe_face_side_3d(face, ijk, p, 0) for p in probes]
        score = [0] * 6
        digit_maps = []
        for r in range(6):
            dmap = []
            for pi, probe in enumerate(probes):
                digits = [probe, 0]
                if bc in PENTAGONS:
                    for _ in range(r):
                        digits = _rotate_pent60_ccw(digits)
                else:
                    for _ in range(r):
                        digits = _rotate60_ccw(digits)
                dmap.append(tuple(digits))
                if _sq3(pvs[pi], _canonical_side_3d(bc, digits)) < 1.0e-12:
                    score[r] += 1
            digit_maps.append(tuple(dmap))
        best = max(score)
        need = 3 if bc in PENTAGONS else 5
        winners_r = [r for r in range(6) if score[r] == best]
        if best < need or len({digit_maps[r] for r in winners_r}) != 1:
            raise AssertionError(
                f"slot rotation calibration failed for face {face} "
                f"slot {ijk} (base cell {bc}): scores {score}"
            )
        rotations[(face, ijk)] = winners_r[0]
    # pentagon cw-offset faces: on which overlap faces does a k-leading
    # digit sequence escape the deleted subsequence clockwise?
    for (face, ijk), bc in _FACE_SLOT_OWNER.items():
        if bc not in PENTAGONS:
            continue
        hface, hijk = BASE_CELL_DATA[bc]
        if face == hface and ijk == hijk:
            continue
        r = rotations[(face, ijk)]
        pv = _probe_face_side_3d(face, ijk, K_AXES_DIGIT, 0)
        matches = []
        for is_cw in (True, False):
            digits = [K_AXES_DIGIT, 0]
            digits = _rotate60_cw(digits) if is_cw else _rotate60_ccw(digits)
            for _ in range(r):
                digits = _rotate_pent60_ccw(digits)
            if _sq3(pv, _canonical_side_3d(bc, digits)) < 1.0e-12:
                matches.append(is_cw)
        if len(matches) != 1:
            raise AssertionError(
                f"pentagon cw-offset calibration failed for face {face} "
                f"slot {ijk} (base cell {bc}): {matches}"
            )
        if matches[0]:
            cw_offset[bc].add(face)
    return rotations, cw_offset


_SLOT_ROTATIONS, _PENT_CW_OFFSET = _derive_rotation_tables()


# --------------------------------------------------- forward transform


def _forward_with_info(
    lat_deg: float, lng_deg: float, res: int
) -> tuple[int, int, bool]:
    """(cell, projection face, used-k-escape) for a geo point."""
    lat = math.radians(lat_deg)
    lng = math.radians(lng_deg)
    face, ijk = _geo_to_face_ijk(lat, lng, res)
    ijk0, digits = _forward_digits_on_face(face, ijk, res)
    key = (face, ijk0)
    if key not in _SLOT_ROTATIONS:
        raise AssertionError(
            f"res-0 coords {ijk0} out of face {face} range for "
            f"({lat_deg}, {lng_deg})"
        )
    bc = _FACE_SLOT_OWNER[key]
    rots = _SLOT_ROTATIONS[key]
    escaped = False
    if bc in PENTAGONS:
        if _leading_nonzero_digit(digits) == K_AXES_DIGIT:
            escaped = True
            if face in _PENT_CW_OFFSET[bc]:
                digits = _rotate60_cw(digits)
            else:
                digits = _rotate60_ccw(digits)
        for _ in range(rots):
            digits = _rotate_pent60_ccw(digits)
    else:
        for _ in range(rots):
            digits = _rotate60_ccw(digits)
    return _with_digits(bc, digits), face, escaped


def latlng_to_cell(lat_deg: float, lng_deg: float, res: int) -> int:
    """Geo point (degrees) → H3 cell index — ``latLngToCell`` parity."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution {res} out of range 0..15")
    return _forward_with_info(lat_deg, lng_deg, res)[0]


def _calibrate_cw_offsets_by_roundtrip() -> None:
    """Fix the pentagon cw-offset fold sides against ground truth: the
    center of every cell in a pentagon base cell must forward-map back
    to that cell. Cells whose centers project into the deleted-wedge
    (k-leading) region of an overlap face exercise exactly one
    (pentagon, face) boolean each, so each boolean is pinned
    independently by zero-failure selection."""
    for p in sorted(PENTAGONS):
        root = _cells.build_cell(p, [])
        probes = []  # (cell, lat, lng)
        for res in (1, 2, 3):
            for cell in _cells.cell_to_children(root, res):
                lat, lng = cell_to_latlng(cell)
                probes.append((cell, lat, lng, res))
        by_face: dict[int, list] = {}
        for cell, lat, lng, res in probes:
            back, face, escaped = _forward_with_info(lat, lng, res)
            if escaped:
                by_face.setdefault(face, []).append((cell, lat, lng, res))
            elif back != cell:
                raise AssertionError(
                    f"pentagon {p} round-trip failure without k-escape: "
                    f"{cell:#x} -> {back:#x}"
                )
        for face, cases in by_face.items():
            ok_values = []
            for cw in (True, False):
                if cw:
                    _PENT_CW_OFFSET[p].add(face)
                else:
                    _PENT_CW_OFFSET[p].discard(face)
                if all(
                    _forward_with_info(lat, lng, res)[0] == cell
                    for cell, lat, lng, res in cases
                ):
                    ok_values.append(cw)
            if len(ok_values) != 1:
                raise AssertionError(
                    f"cw-offset round-trip calibration failed for "
                    f"pentagon {p} face {face}: {ok_values}"
                )
            if ok_values[0]:
                _PENT_CW_OFFSET[p].add(face)
            else:
                _PENT_CW_OFFSET[p].discard(face)


_calibrate_cw_offsets_by_roundtrip()


# ------------------------------------- derived: neighbor digit tables


def _derive_digit_carry(down) -> dict:
    """(old digit, move dir) → (new digit, parent adjustment dir), by
    exact IJK arithmetic on the given aperture-7 substitution."""
    table = {}
    for old in range(7):
        for dr in range(7):
            u = UNIT_VECS[old]
            v = UNIT_VECS[dr]
            tgt = ijk_normalize(u[0] + v[0], u[1] + v[1], u[2] + v[2])
            hit = None
            for adj in range(7):
                pi, pj, pk = down(*UNIT_VECS[adj])
                for new in range(7):
                    w = UNIT_VECS[new]
                    if ijk_normalize(pi + w[0], pj + w[1], pk + w[2]) == tgt:
                        hit = (new, adj)
                        break
                if hit:
                    break
            if hit is None:
                raise AssertionError(f"digit carry unsolvable: {old} + {dr}")
            table[(old, dr)] = hit
    return table


_CARRY_AP7 = _derive_digit_carry(down_ap7)  # Class III child grids
_CARRY_AP7R = _derive_digit_carry(down_ap7r)  # Class II child grids


def _derive_base_cell_neighbors() -> tuple[dict, dict]:
    """baseCellNeighbors / baseCellNeighbor60CCWRots by geometric
    matching of the home-face unit step per direction."""
    neighbors: dict = {}
    rotations: dict = {}
    ambiguous: list = []
    for bc in range(NUM_BASE_CELLS):
        face, (i, j, k) = BASE_CELL_DATA[bc]
        for dr in range(7):
            if dr == 0:
                neighbors[(bc, 0)] = bc
                rotations[(bc, 0)] = 0
                continue
            if bc in PENTAGONS and dr == K_AXES_DIGIT:
                neighbors[(bc, dr)] = -1  # deleted axis
                rotations[(bc, dr)] = -1
                continue
            u = UNIT_VECS[dr]
            p = ijk_normalize(i + u[0], j + u[1], k + u[2])
            v = _exact_point_3d(face, p, 0)
            ranked = sorted(
                (_sq3(v, vv), cand)
                for cand, vv in enumerate(_BASE_CELL_CENTER_3D)
            )
            if ranked[0][0] > 1.0e-12:
                raise AssertionError(
                    f"base cell {bc} dir {dr}: no neighbor at the unit "
                    f"step (sq chord {ranked[0][0]:.3e})"
                )
            nb = ranked[0][1]
            neighbors[(bc, dr)] = nb
            # rotation: how many ccw turns take directions in bc's
            # frame to directions in nb's home frame. Calibrated on
            # neighbor *positions* (period-6 unambiguous — the digit
            # probe alone cannot tell r from r+5 for pentagons): the
            # lattice point one unit from nb in bc-frame direction d
            # must coincide with the one in home-frame direction
            # ccw^r(d). Around a pentagon one of the six planar slots
            # is the deleted wedge and may mismatch, so require ≥ 5
            # agreeing directions and a unique winner.
            hface, hijk = BASE_CELL_DATA[nb]
            scores = []
            for r in range(6):
                good = 0
                for d in range(1, 7):
                    u = UNIT_VECS[d]
                    pf = ijk_normalize(p[0] + u[0], p[1] + u[1], p[2] + u[2])
                    dd = d
                    for _ in range(r):
                        dd = _rotate_digit_ccw(dd)
                    uu = UNIT_VECS[dd]
                    ph = ijk_normalize(
                        hijk[0] + uu[0], hijk[1] + uu[1], hijk[2] + uu[2]
                    )
                    if _sq3(
                        _exact_point_3d(face, pf, 0),
                        _exact_point_3d(hface, ph, 0),
                    ) < 1.0e-12:
                        good += 1
                scores.append(good)
            best = max(scores)
            if nb in PENTAGONS:
                # the deleted wedge makes hexagon→pentagon frames not a
                # pure rotation; two adjacent values split the score.
                # Record the plausible candidates; the behavioral pass
                # below picks the one whose walks are geometrically
                # correct together with the pentagon fixups.
                cands = [r for r, s in enumerate(scores) if s >= 2]
                if not cands:
                    raise AssertionError(
                        f"neighbor rotation calibration failed: {bc} dir "
                        f"{dr} → pentagon {nb} (scores {scores})"
                    )
                rotations[(bc, dr)] = scores.index(best)
                ambiguous.append((bc, dr, tuple(cands)))
            else:
                # a pentagon origin's own frame contains the deleted
                # wedge, so one of the six probe directions may miss.
                need = 4 if bc in PENTAGONS else 5
                if best < need or scores.count(best) != 1:
                    raise AssertionError(
                        f"neighbor rotation calibration failed: {bc} dir "
                        f"{dr} (scores {scores})"
                    )
                rotations[(bc, dr)] = scores.index(best)
    return neighbors, rotations, ambiguous


_BC_NEIGHBORS, _BC_NEIGHBOR_ROTS, _BC_ROT_AMBIGUOUS = _derive_base_cell_neighbors()


# ------------------------------------------------- neighbor traversal


#: whether the k-crossing escape in the neighbor walk uses the
#: cw-offset set directly (False) or inverted (True); the set itself is
#: pinned by forward round-trips, this one bit by ring geometry.
_WALK_SENSE = [False]



def h3_neighbor_rotations(cell: int, direction: int, rotations: int) -> tuple[int, int]:
    """Neighbor of ``cell`` in ``direction`` under a frame rotated
    ``rotations`` times ccw. Returns (neighbor, new rotations); the
    neighbor is 0 for the pentagon deleted-axis case."""
    res, digits = _digits_of(cell)
    old_base = _cells.get_base_cell(cell)
    old_leading = _leading_nonzero_digit(digits)
    for _ in range(rotations % 6):
        direction = _rotate_digit_ccw(direction)
    new_rotations = 0
    out = list(digits)
    r = res - 1
    while True:
        if r == -1:
            nb = _BC_NEIGHBORS[(old_base, direction)]
            new_rotations = _BC_NEIGHBOR_ROTS[(old_base, direction)]
            if nb == -1:
                # deleted k axis of a pentagon: rotate into the ik
                # neighbor's frame
                nb = _BC_NEIGHBORS[(old_base, IK_AXES_DIGIT)]
                new_rotations = _BC_NEIGHBOR_ROTS[(old_base, IK_AXES_DIGIT)]
                out = _rotate60_ccw(out)
                rotations += 1
            new_base = nb
            break
        old_digit = out[r]
        if r + 1 <= 0:
            raise AssertionError("walk underflow")
        table = _CARRY_AP7 if (r + 1) % 2 == 1 else _CARRY_AP7R
        new_digit, next_dir = table[(old_digit, direction)]
        out[r] = new_digit
        if next_dir != CENTER_DIGIT:
            direction = next_dir
            r -= 1
        else:
            new_base = old_base
            break
    if new_base in PENTAGONS:
        already_adjusted = False
        if _leading_nonzero_digit(out) == K_AXES_DIGIT:
            if old_base != new_base:
                # traversed into the deleted k subsequence from outside
                old_home_face = BASE_CELL_DATA[old_base][0]
                is_cw = old_home_face in _PENT_CW_OFFSET.get(new_base, set())
                if is_cw != _WALK_SENSE[0]:
                    out = _rotate60_cw(out)
                else:
                    out = _rotate60_ccw(out)
                already_adjusted = True
            else:
                if old_leading == CENTER_DIGIT:
                    return 0, rotations  # undefined: pentagon k axis
                elif old_leading == JK_AXES_DIGIT:
                    out = _rotate60_ccw(out)
                    rotations += 1
                elif old_leading == IK_AXES_DIGIT:
                    out = _rotate60_cw(out)
                    rotations += 5
                else:
                    return 0, rotations
        for _ in range(new_rotations):
            out = _rotate_pent60_ccw(out)
        if old_base != new_base:
            if new_base in POLAR_PENTAGONS:
                # 'polar' pentagons have all-i neighbors
                if old_base != 118 and old_base != 8 and _leading_nonzero_digit(out) != JK_AXES_DIGIT:
                    rotations += 1
            elif _leading_nonzero_digit(out) == IK_AXES_DIGIT and not already_adjusted:
                rotations += 1
    else:
        for _ in range(new_rotations):
            out = _rotate60_ccw(out)
    rotations = (rotations + new_rotations) % 6
    return _with_digits(new_base, out), rotations


def _ring_geometry_ok(c: int) -> bool:
    """All ring-1 neighbors of ``c`` must be distinct, complete (6, or
    5 around a pentagon), and at near-uniform center spacing — a wrong
    rotation lands on a second-ring cell at ≥ √3× the spacing."""
    lat, lng = cell_to_latlng(c)
    v = _geo_to_3d(math.radians(lat), math.radians(lng))
    nbs = cell_neighbors(c)
    expect = 5 if _cells.is_pentagon(c) else 6
    if len(nbs) != expect:
        return False
    dists = []
    for nb in nbs:
        nlat, nlng = cell_to_latlng(nb)
        w = _geo_to_3d(math.radians(nlat), math.radians(nlng))
        dists.append(_sq3(v, w))
    return max(dists) <= 2.1 * min(dists)  # ratio 1.45 on distances


def _calibrate_pentagon_tables() -> None:
    """Resolve the hexagon→pentagon rotation-count candidates and the
    single walk-sense bit against ring geometry: for each base cell
    adjacent to a pentagon, only the right combination makes every
    res-1/res-2 ring around it correct. Candidates that remain tied
    are frame-equivalent for set-based traversal (the frame value only
    permutes direction visit order) — the first is taken. The
    cw-offset sets themselves are already pinned by forward
    round-trips and are not touched here."""
    from itertools import product

    by_bc: dict[int, list] = {}
    for bc, dr, cands in _BC_ROT_AMBIGUOUS:
        by_bc.setdefault(bc, []).append((dr, cands))

    def solve_all() -> dict | None:
        solution = {}
        for bc, entries in by_bc.items():
            cells_to_check = []
            root = _cells.build_cell(bc, [])
            for res in (1, 2):
                cells_to_check.extend(_cells.cell_to_children(root, res))
            winners = []
            for combo in product(*(c for _, c in entries)):
                for (dr, _), val in zip(entries, combo):
                    _BC_NEIGHBOR_ROTS[(bc, dr)] = val
                if all(_ring_geometry_ok(c) for c in cells_to_check):
                    winners.append(combo)
            if not winners:
                return None
            for (dr, _), val in zip(entries, winners[0]):
                solution[(bc, dr)] = val
        return solution

    for sense in (False, True):
        _WALK_SENSE[0] = sense
        solution = solve_all()
        if solution is not None:
            for key, val in solution.items():
                _BC_NEIGHBOR_ROTS[key] = val
            return
    raise AssertionError(
        "pentagon-table calibration: no walk sense makes all rings "
        "geometrically consistent"
    )


def _neighbors_exact(cell: int) -> set[int]:
    """Neighbor set via exact lattice geometry: step one unit in each
    direction on the cell's true (overage-adjusted) face, resolve the
    stepped lattice point exactly across face edges, and forward-map
    its center. Fold-safe — used for cells in PENTAGON base cells,
    where the table walk's planar direction frame wraps the deleted
    wedge. Exactness rests on the verified 100 % forward(center)
    round-trip property."""
    res = _cells.get_resolution(cell)
    base = _cells.get_base_cell(cell)
    digits = [_cells.get_digit(cell, r) for r in range(1, res + 1)]
    face, ijk, _ = _inverse_face_ijk(base, digits)
    pent = _cells.is_pentagon(cell)
    out = set()
    for d in range(1, 7):
        if pent and d == K_AXES_DIGIT:
            continue
        u = UNIT_VECS[d]
        p = ijk_normalize(ijk[0] + u[0], ijk[1] + u[1], ijk[2] + u[2])
        if res % 2 == 1:  # odd res: resolve on the Class II substrate
            q = down_ap7r(*p)
            er = res + 1
        else:
            q = p
            er = res
        v = _exact_point_3d(face, q, er)
        lat = math.degrees(math.asin(max(-1.0, min(1.0, v[2]))))
        lng = math.degrees(math.atan2(v[1], v[0]))
        nb = latlng_to_cell(lat, lng, res)
        if nb != cell:
            out.add(nb)
    return out


def cell_neighbors(cell: int) -> list[int]:
    """All edge-adjacent cells (6, or 5 for a pentagon) — the
    ``gridDisk(cell, 1)`` ring. Hexagon base cells use the fast
    digit-walk; pentagon base cells use the exact-geometry path.

    For the pentagon cell itself the planar step beyond the vertex is
    fold-ambiguous and can collapse two directions onto one cell, so
    the ring is completed by symmetric membership: every cell around
    the found neighbors that itself sees the pentagon as a neighbor
    belongs to the ring."""
    if _cells.is_pentagon(cell):
        found = _neighbors_exact(cell)
        cand = set(found)
        for x in found:
            cand.update(cell_neighbors(x))  # hexagons: no recursion loop
        cand.discard(cell)
        ring = {n for n in cand if cell in cell_neighbors(n)}
        return sorted(ring)
    if _cells.get_base_cell(cell) in PENTAGONS:
        return sorted(_neighbors_exact(cell))
    out = set()
    for d in range(1, 7):
        nb, _ = h3_neighbor_rotations(cell, d, 0)
        if nb:
            out.add(nb)
    return sorted(out)


def grid_disk_distances(cell: int, k: int) -> dict[int, int]:
    """Cell → grid distance for the disk of radius ``k`` (BFS over the
    exact neighbor sets; layer index = grid distance)."""
    dist = {cell: 0}
    frontier = [cell]
    for d in range(1, k + 1):
        nxt = []
        for c in frontier:
            for nb in cell_neighbors(c):
                if nb not in dist:
                    dist[nb] = d
                    nxt.append(nb)
        frontier = nxt
    return dist


def grid_disk(cell: int, k: int) -> list[int]:
    """All cells within grid distance ``k`` of ``cell`` (inclusive)."""
    return sorted(grid_disk_distances(cell, k))


_calibrate_pentagon_tables()


# -------------------------------------------------------- cell metrics


@lru_cache(maxsize=None)
def mean_edge_length_rads(res: int) -> float:
    """Mean center-to-center spacing / sqrt(3) at ``res``, sampled from
    an equatorial cell — a tables-free stand-in for the published
    average edge lengths (used only for sizing heuristics)."""
    c = latlng_to_cell(0.33, 0.74, res)
    lat1, lng1 = cell_to_latlng(c)
    total, n = 0.0, 0
    for d in range(1, 7):
        nb, _ = h3_neighbor_rotations(c, d, 0)
        if not nb:
            continue
        lat2, lng2 = cell_to_latlng(nb)
        v1 = _geo_to_3d(math.radians(lat1), math.radians(lng1))
        v2 = _geo_to_3d(math.radians(lat2), math.radians(lng2))
        sqd = sum((a - b) ** 2 for a, b in zip(v1, v2))
        total += math.acos(max(-1.0, min(1.0, 1.0 - sqd / 2.0)))
        n += 1
    return total / n / math.sqrt(3.0)


# ------------------------------------------------------------ polyfill


def _poly_anchor(rings, res: int) -> tuple[int, int]:
    """(center cell at ``res``, covering grid-disk radius) for the
    polygon's bounding circle — the search region both polyfill forms
    start from."""
    ext = rings[0]
    # search-region anchor: normalized 3D centroid of the exterior
    # vertices — well defined across the antimeridian (a planar
    # lng-bbox midpoint would land on the wrong side of the planet)
    # and for pole-enclosing rings (centroid ≈ the pole). Degenerate
    # all-antipodal rings fall back to the first vertex.
    cx = cy = cz = 0.0
    for plng, plat in ext:
        vx, vy, vz = _geo_to_3d(math.radians(plat), math.radians(plng))
        cx += vx
        cy += vy
        cz += vz
    norm = math.sqrt(cx * cx + cy * cy + cz * cz)
    if norm > 1e-9:
        clat = math.degrees(math.asin(max(-1.0, min(1.0, cz / norm))))
        clng = math.degrees(math.atan2(cy, cx))
    else:
        clng, clat = ext[0][0], ext[0][1]
    center = latlng_to_cell(clat, clng, res)
    # radius in cells: max vertex distance / cell spacing, times a
    # conservative grid-distance factor. Angle/(mean_edge*sqrt(3)) is
    # only the AXIS-ALIGNED steps-per-radian: off-axis directions cost
    # x2/sqrt(3), icosahedral distortion shrinks edges up to ~25%
    # below the mean, and pentagon detours add more — measured factor
    # up to ~1.8 on a 25-degree triangle (round 11; the old +2 slack
    # silently dropped 3 interior cells there). 2.0 + 3 bounds all of
    # it; oversizing only adds candidates, containment still decides.
    spacing = mean_edge_length_rads(res) * math.sqrt(3.0)
    v1 = _geo_to_3d(math.radians(clat), math.radians(clng))
    reach = 0.0
    for plng, plat in ext:
        v2 = _geo_to_3d(math.radians(plat), math.radians(plng))
        sqd = sum((a - b) ** 2 for a, b in zip(v1, v2))
        reach = max(reach, math.acos(max(-1.0, min(1.0, 1.0 - sqd / 2.0))))
    kk = int(math.ceil(2.0 * reach / spacing)) + 3
    return center, kk


def polygon_to_cells(rings, res: int) -> list[int]:
    """Cells whose center lies inside the polygon (even-odd over
    (exterior, *holes) rings of (lng, lat)-degree pairs) —
    ``polygonToCells`` containment-mode parity."""
    from ..geo import point_in_polygon  # local import to avoid a cycle

    center, kk = _poly_anchor(rings, res)
    out = []
    for c in grid_disk(center, kk):
        lat, lng = cell_to_latlng(c)
        if point_in_polygon(lng, lat, rings):
            out.append(c)
    return sorted(out)


#: descendant-center drift bound for the hierarchical classifier, in
#: units of the level's center-to-center spacing: child centers sit
#: within ~0.76 spacings of the parent center, the geometric series
#: over all depths converges to ~1.2, and icosahedral distortion
#: stretches local spacings up to ~40% over the equatorial mean —
#: 3.0 bounds all of it (oversizing only widens the recursion band,
#: never changes the output; equality is pytest-pinned against the
#: flat form on adversarial fixtures incl. pentagon neighborhoods)
_HIER_MARGIN_SPACINGS = 3.0


def polygon_to_cells_hierarchical(
    rings, res: int, max_level_candidates: int = 20_000
) -> list[int]:
    """EXACTLY :func:`polygon_to_cells`, restructured for large
    areas: instead of point-in-polygon testing every candidate of a
    covering disk at the target resolution (O(area) scalar tests —
    ~0.4 ms/cell makes a continent at res 6 a ten-minute driver
    stall), classify cells level by level:

    - a cell whose center is provably farther from the polygon
      BOUNDARY than the maximum descendant-center drift is wholly
      decided by ONE center test — inside parents expand to children
      by pure index arithmetic, outside parents are dropped;
    - only the boundary band (≈ perimeter-sized, not area-sized)
      recurses to the next finer level, and reaches the target
      resolution with a vectorized containment test per remaining
      cell.

    Distance-to-boundary lower bounds come from one densified sample
    set of all rings (numpy dot products against unit vectors, minus
    the sampling step as slack — an UNDERestimate only ever widens
    the recursion band). Work is O(perimeter·levels + area·arith),
    vs the flat form's O(area·pip): the Africa-box fixture at res 6
    (~1M cells) classifies ~97% of the area arithmetically.

    The coarsest level is chosen so its covering disk stays under
    ``max_level_candidates``; when the target resolution itself fits,
    the classifier starts there and runs one vectorized containment
    test over the same covering disk the flat form scans."""
    interior, leaves = polygon_to_cells_cover(rings, res, max_level_candidates)
    out = list(leaves)
    for cell, level in interior:
        out.extend(_cells.cell_to_children(cell, res) if level < res else [cell])
    return sorted(out)


def children_one_level_np(cells, level: int):
    """One-level child expansion as pure int64 array arithmetic — the
    numpy twin of :func:`cells.cell_to_children` for a single level
    (pentagon-chain parents skip the K-axis digit; parity pytest-
    pinned cell-for-cell). Exists so the hierarchical polyfill's
    recursion band never materializes as a Python int list: a 1.7M-
    cell res-9 band costs ~13 MB here vs ~450 MB of list/temporary
    churn through the per-parent recursive form."""
    import numpy as np

    next_res = level + 1
    shift = np.int64(3 * (15 - next_res))
    shifted = (cells & np.int64(~_cells._RES_MASK)) | np.int64(next_res << 52)
    cleared = shifted & ~(np.int64(0x7) << shift)
    kids = cleared[:, None] | (np.arange(7, dtype=np.int64) << shift)[None, :]
    pent = np.isin((cells >> np.int64(45)) & np.int64(0x7F), _PENTAGON_ARRAY)
    if level > 0:
        # on the pentagon chain only while digits 1..level are all 0
        lo = 3 * (15 - level)
        region = ((np.int64(1) << np.int64(45 - lo)) - 1) << np.int64(lo)
        pent &= (cells & region) == 0
    if pent.any():
        keep = np.ones(kids.shape, dtype=bool)
        keep[pent, _cells._K_AXES_DIGIT] = False
        return kids[keep]
    return kids.reshape(-1)


_PENTAGON_ARRAY = sorted(PENTAGONS)


def polygon_to_cells_cover(
    rings, res: int, max_level_candidates: int = 20_000
) -> tuple[list[tuple[int, int]], list[int]]:
    """The hierarchical classifier WITHOUT the expansion — the
    distributed-polyfill building block: ``(interior, leaves)`` where
    ``interior`` is ``[(cell, level)]`` parents whose ENTIRE
    res-descendant set is provably inside the polygon (expansion is
    pure index arithmetic — do it in Spark for planet-scale AOIs),
    and ``leaves`` are exact target-resolution cells already decided
    by a containment test. ``expand(interior) ∪ leaves`` equals
    :func:`polygon_to_cells` exactly; driver cost is classification
    only (perimeter-sized), never the area.

    List-returning wrapper over :func:`polygon_to_cells_cover_np` —
    planet-scale callers (``geo.geometry_to_cells_df``) use the numpy
    form directly so the multi-million-cell leaf band never boxes
    into Python objects."""
    ic, il, lv = polygon_to_cells_cover_np(rings, res, max_level_candidates)
    return (
        [(int(c), int(l)) for c, l in zip(ic, il)],
        [int(c) for c in lv],
    )


def polygon_to_cells_cover_np(
    rings, res: int, max_level_candidates: int = 20_000
):
    """:func:`polygon_to_cells_cover` returning numpy int64 arrays
    ``(interior_cells, interior_levels, leaves)`` — identical
    classification, no per-cell Python objects: the final-level
    containment test runs vectorized (``geo.points_in_polygon_np``,
    bitwise-equal to the scalar rule) and the leaf band accumulates
    as array chunks.  At a res-10 continent cover (~2.3M leaves) the
    scalar per-center loop and boxed-int lists dominated both wall
    and driver RSS."""
    import numpy as np

    from ..geo import _wrap_lng, densify_ring, points_in_polygon_np

    # coarsest start level whose covering disk is affordable
    start = res
    while start > 0:
        _, kk = _poly_anchor(rings, start)
        if 3.3 * kk * kk <= max_level_candidates:
            break
        start -= 1
    center, kk = _poly_anchor(rings, start)

    # ---- exact chord-segment distance machinery (level-independent,
    # built ONCE per cover). The boundary is the plate-carrée polyline
    # point_in_polygon tests against; densify it at a FIXED fine step
    # and take the resulting vertices as CHORD endpoints: the distance
    # from a cell center to the chord polyline is EXACT (per-segment:
    # great-circle-foot distance when the foot falls inside the arc,
    # else nearest-endpoint distance), so the only slack left is the
    # deviation of the true path from its chords.  For a plate-carrée
    # sub-segment with per-axis radian spans (Δφ, Δλ), each 3D
    # coordinate of the path is a sum of sinusoids in the interp
    # parameter with total frequency s = |Δφ|+|Δλ|, so |r''| ≤ √3·s²
    # and the chord deviation is ≤ √3·s²/8 < 0.25·s² (normalization
    # of the near-unit chord adds only O(dev²)).  At the 0.25° step
    # that is ≤ 2e-5 rad — a few percent of even a res-11 margin —
    # versus the ONE-SPACING slack of the former sampled max-dot pass,
    # which forced a per-level sample set (cells × samples GEMM,
    # quadratic in perimeter) and a coarse pre-pass whose 9-spacing
    # slack exceeded the recursion band's own width, so it pruned
    # nothing: every band cell paid the fine GEMM.  Exact distances
    # cost (vertices + 3·segments) dot products per cell — fixed for
    # ALL levels — and prune the band tighter than the sampled form
    # ever could.
    _STEP_DEG = 0.25
    verts: list = []
    seg_a: list = []
    seg_b: list = []
    dev = 0.0
    for ring in rings:
        if len(ring) < 3:
            continue
        pts = densify_ring(ring, _STEP_DEG)
        m = len(pts)
        base = len(verts)
        verts.extend(pts)
        seg_a.extend(range(base, base + m))
        seg_b.extend([base + (i + 1) % m for i in range(m)])
        for i in range(m):
            x1, y1 = pts[i]
            x2, y2 = pts[(i + 1) % m]
            s = math.radians(abs(_wrap_lng(x2 - x1)) + abs(y2 - y1))
            dev = max(dev, 0.25 * s * s)
    vlat = np.radians(np.array([p[1] for p in verts]))
    vlng = np.radians(np.array([p[0] for p in verts]))
    V = np.stack(
        [np.cos(vlat) * np.cos(vlng), np.cos(vlat) * np.sin(vlng),
         np.sin(vlat)],
        axis=1,
    )  # (K, 3) unit vertex vectors
    A = V[np.array(seg_a, dtype=np.int64)]
    B = V[np.array(seg_b, dtype=np.int64)]
    cr = np.cross(A, B)
    nrm = np.linalg.norm(cr, axis=1)
    ok = nrm > 1e-14  # drop zero-length chords (repeated vertices)
    n_hat = cr[ok] / nrm[ok, None]
    U = np.cross(n_hat, A[ok])  # P·U ≥ 0 ∧ P·W ≥ 0 ⟺ foot inside arc
    W = np.cross(B[ok], n_hat)

    def min_arc_dist(ctr):
        # exact distance to the chord polyline, blocked so no
        # temporary exceeds a few MB: per row-block, a running max
        # over vertex dots and a running min over in-arc plane sines
        N = ctr.shape[0]
        out = np.empty(N)
        for rb in range(0, N, 4096):
            P = ctr[rb : rb + 4096]
            cmax = np.full(P.shape[0], -1.0)
            for vb in range(0, V.shape[0], 2048):
                np.maximum(
                    cmax, (P @ V[vb : vb + 2048].T).max(axis=1), out=cmax
                )
            smin = np.full(P.shape[0], np.inf)
            for eb in range(0, n_hat.shape[0], 512):
                pn = np.abs(P @ n_hat[eb : eb + 512].T)
                inarc = (P @ U[eb : eb + 512].T >= 0.0) & (
                    P @ W[eb : eb + 512].T >= 0.0
                )
                pn[~inarc] = np.inf
                np.minimum(smin, pn.min(axis=1), out=smin)
            out[rb : rb + 4096] = np.minimum(
                np.arcsin(np.clip(smin, 0.0, 1.0)),
                np.arccos(np.clip(cmax, -1.0, 1.0)),
            )
        return out

    CHUNK = 262_144  # bounds every per-level numpy temporary
    interior_cells_parts: list = []
    interior_levels_parts: list = []
    leaf_parts: list = []
    level_cells = np.array(grid_disk(center, kk), dtype=np.int64)
    for level in range(start, res + 1):
        if level_cells.size == 0:
            break
        if level == res:
            # the target level needs no distance pass at all — every
            # surviving band cell gets the exact containment test, in
            # bounded chunks (the full-band latlng temporaries were
            # the driver-memory peak of a res-9 continent cover)
            for lo in range(0, level_cells.size, CHUNK):
                blk = level_cells[lo : lo + CHUNK]
                lats, lngs = cell_to_latlng_np(blk)
                leaf_parts.append(blk[points_in_polygon_np(lngs, lats, rings)])
            break
        spacing = mean_edge_length_rads(level) * math.sqrt(3.0)
        margin = _HIER_MARGIN_SPACINGS * spacing
        near_parts: list = []
        for lo in range(0, level_cells.size, CHUNK):
            blk = level_cells[lo : lo + CHUNK]
            lats, lngs = cell_to_latlng_np(blk)
            clat = np.radians(lats)
            clng = np.radians(lngs)
            ctr = np.stack(
                [
                    np.cos(clat) * np.cos(clng),
                    np.cos(clat) * np.sin(clng),
                    np.sin(clat),
                ],
                axis=1,
            )
            # d − dev lower-bounds the true boundary distance (the
            # chord-deviation proof above); an underestimate only
            # widens the band, never flips a far cell
            far = min_arc_dist(ctr) - dev > margin
            # far cells: one center test decides the whole subtree
            fi = np.nonzero(far)[0]
            if fi.size:
                ins = points_in_polygon_np(lngs[fi], lats[fi], rings)
                inside_cells = blk[fi[ins]]
                if inside_cells.size:
                    interior_cells_parts.append(inside_cells)
                    interior_levels_parts.append(
                        np.full(inside_cells.size, level, dtype=np.int64)
                    )
            # boundary band: recurse one level finer
            near = blk[~far]
            if near.size:
                near_parts.append(children_one_level_np(near, level))
        level_cells = (
            np.concatenate(near_parts)
            if near_parts
            else np.empty(0, dtype=np.int64)
        )
    cat = lambda parts: (  # noqa: E731
        np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    )
    return (
        cat(interior_cells_parts),
        cat(interior_levels_parts),
        cat(leaf_parts),
    )


# ------------------------------------------------ vectorized forward


def _np_tables():
    """Flat lookup arrays for the vectorized forward transform."""
    import numpy as np

    owner = np.full(NUM_ICOSA_FACES * 27, -1, dtype=np.int64)
    rot = np.zeros(NUM_ICOSA_FACES * 27, dtype=np.int64)
    for (face, (i, j, k)), bc in _FACE_SLOT_OWNER.items():
        idx = face * 27 + i * 9 + j * 3 + k
        owner[idx] = bc
        rot[idx] = _SLOT_ROTATIONS[(face, (i, j, k))]
    pent = np.zeros(NUM_BASE_CELLS, dtype=bool)
    for p in PENTAGONS:
        pent[p] = True
    # ccw digit rotation applied r times, as a [r, digit] table
    rot_ccw = np.zeros((6, 8), dtype=np.int64)
    for d in range(7):
        x = d
        for r in range(6):
            rot_ccw[r, d] = x
            x = _rotate_digit_ccw(x)
    # pentagon rotation is a UNIFORM cumulative ccw rotation: each
    # _rotate_pent60_ccw step rotates every digit once, plus once more
    # when the leading digit lands on K — and the escape count depends
    # only on the leading digit, so total rotation = TOT[lead, r].
    tot_pent = np.zeros((8, 6), dtype=np.int64)
    for lead in range(7):
        for r in range(6):
            t = 0
            cur = lead
            for _ in range(r):
                cur = _rotate_digit_ccw(cur)
                t += 1
                if cur == K_AXES_DIGIT:
                    cur = _rotate_digit_ccw(cur)
                    t += 1
            tot_pent[lead, r] = t
    # pentagon cw-offset lookup: [bc * 20 + face] → escape direction
    pent_cw = np.zeros(NUM_BASE_CELLS * NUM_ICOSA_FACES, dtype=bool)
    for bc, faces in _PENT_CW_OFFSET.items():
        for f in faces:
            pent_cw[bc * NUM_ICOSA_FACES + f] = True
    fc = np.array(_FACE_CENTER_3D)  # (20, 3)
    fgeo = np.array(FACE_CENTER_GEO)  # (20, 2)
    faz = np.array(FACE_AZ_RADS_CII)
    return owner, rot, pent, rot_ccw, tot_pent, pent_cw, fc, fgeo, faz


_NP_TABLES = None


def latlng_to_cell_np(lats_deg, lngs_deg, res: int):
    """Vectorized ``latLngToCell`` over numpy arrays of degrees —
    identical output to the scalar path (property-tested), pentagon
    base cells included: the pentagon digit rotation is a uniform
    cumulative ccw rotation whose escape count depends only on the
    leading digit, so it reduces to two table lookups."""
    import numpy as np

    global _NP_TABLES
    if _NP_TABLES is None:
        _NP_TABLES = _np_tables()
    owner_t, rot_t, pent_t, rot_ccw, tot_pent, pent_cw, fc, fgeo, faz = _NP_TABLES
    lat = np.radians(np.asarray(lats_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lngs_deg, dtype=np.float64))
    n = lat.shape[0]
    coslat = np.cos(lat)
    v = np.stack(
        [coslat * np.cos(lng), coslat * np.sin(lng), np.sin(lat)], axis=1
    )
    sqd = ((v[:, None, :] - fc[None, :, :]) ** 2).sum(axis=2)  # (n, 20)
    face = sqd.argmin(axis=1)
    fsqd = np.take_along_axis(sqd, face[:, None], axis=1)[:, 0]
    r = np.arccos(np.clip(1.0 - fsqd / 2.0, -1.0, 1.0))
    flat = fgeo[face, 0]
    flng = fgeo[face, 1]
    az = np.arctan2(
        np.cos(lat) * np.sin(lng - flng),
        np.cos(flat) * np.sin(lat)
        - np.sin(flat) * np.cos(lat) * np.cos(lng - flng),
    )
    theta = (faz[face] - (az % (2.0 * np.pi))) % (2.0 * np.pi)
    if res % 2 == 1:
        theta = (theta - M_AP7_ROT_RADS) % (2.0 * np.pi)
    rr = np.tan(r) / RES0_U_GNOMONIC * (M_SQRT7 ** res)
    small = r < _EPSILON
    rr = np.where(small, 0.0, rr)
    x = rr * np.cos(theta)
    y = rr * np.sin(theta)
    # hex2d -> ijk (the spec rounding case analysis, vectorized)
    a1 = np.abs(x)
    a2 = np.abs(y)
    x2 = a2 / M_SIN60
    x1 = a1 + x2 / 2.0
    m1 = x1.astype(np.int64)
    m2 = x2.astype(np.int64)
    r1 = x1 - m1
    r2 = x2 - m2
    i = np.zeros(n, dtype=np.int64)
    j = np.zeros(n, dtype=np.int64)
    c_a = r1 < 0.5
    c_b = r1 < 1.0 / 3.0
    c_c = r1 < 2.0 / 3.0
    b = c_a & c_b
    i[b] = m1[b]
    j[b] = np.where(r2[b] < (1.0 + r1[b]) / 2.0, m2[b], m2[b] + 1)
    b = c_a & ~c_b
    j[b] = np.where(r2[b] < (1.0 - r1[b]), m2[b], m2[b] + 1)
    i[b] = np.where(
        ((1.0 - r1[b]) <= r2[b]) & (r2[b] < 2.0 * r1[b]), m1[b] + 1, m1[b]
    )
    b = ~c_a & c_c
    j[b] = np.where(r2[b] < (1.0 - r1[b]), m2[b], m2[b] + 1)
    i[b] = np.where(
        (2.0 * r1[b] - 1.0 < r2[b]) & (r2[b] < 1.0 - r1[b]), m1[b], m1[b] + 1
    )
    b = ~c_a & ~c_c
    i[b] = m1[b] + 1
    j[b] = np.where(r2[b] < r1[b] / 2.0, m2[b], m2[b] + 1)
    neg_x = x < 0.0
    even_j = (j % 2) == 0
    axis_i = np.where(even_j, j // 2, (j + 1) // 2)
    diff = i - axis_i
    i = np.where(
        neg_x, np.where(even_j, i - 2 * diff, i - (2 * diff + 1)), i
    )
    neg_y = y < 0.0
    i = np.where(neg_y, i - (2 * j + 1) // 2, i)
    j = np.where(neg_y, -j, j)
    k = np.zeros(n, dtype=np.int64)
    m = np.minimum(np.minimum(i, j), k)
    i, j, k = i - m, j - m, k - m
    # peel digits res..1
    digits = np.zeros((n, res), dtype=np.int64)
    for rr_ in range(res, 0, -1):
        li, lj, lk = i, j, k
        ii = i - k
        jj = j - k
        if rr_ % 2 == 1:  # Class III
            i = np.round((3 * ii - jj) / 7.0).astype(np.int64)
            j = np.round((ii + 2 * jj) / 7.0).astype(np.int64)
            k = np.zeros(n, dtype=np.int64)
            ci = 3 * i + j
            cj = 3 * j + k
            ck = i + 3 * k
        else:
            i = np.round((2 * ii + jj) / 7.0).astype(np.int64)
            j = np.round((3 * jj - ii) / 7.0).astype(np.int64)
            k = np.zeros(n, dtype=np.int64)
            ci = 3 * i + k
            cj = i + 3 * j
            ck = j + 3 * k
        mm = np.minimum(np.minimum(i, j), k)
        i, j, k = i - mm, j - mm, k - mm
        cm = np.minimum(np.minimum(ci, cj), ck)
        ci, cj, ck = ci - cm, cj - cm, ck - cm
        di = li - ci
        dj = lj - cj
        dk = lk - ck
        dm = np.minimum(np.minimum(di, dj), dk)
        di, dj, dk = di - dm, dj - dm, dk - dm
        digits[:, rr_ - 1] = di * 4 + dj * 2 + dk  # unit vec -> digit id
    idx = face * 27 + i * 9 + j * 3 + k
    valid = (i <= 2) & (j <= 2) & (k <= 2)
    idx = np.where(valid, idx, 0)
    bc = owner_t[idx]
    rot = rot_t[idx]
    is_pent = pent_t[bc]
    scalar_rows = ~valid
    if res:
        # leading nonzero digit per row (0 when all digits are 0)
        nz = digits != 0
        first = nz.argmax(axis=1)
        lead = np.where(nz.any(axis=1), digits[np.arange(n), first], 0)
        # pentagon k-escape: rotate the whole sequence once cw or ccw
        # depending on the projection face's fold side
        esc = is_pent & (lead == K_AXES_DIGIT)
        pre = np.where(
            esc, np.where(pent_cw[bc * NUM_ICOSA_FACES + face], 5, 1), 0
        )
        lead = rot_ccw[pre, lead]
        # total rotation: pentagon rows use the escape-aware cumulative
        # count, hexagon rows plain r
        total = np.where(is_pent, tot_pent[lead, rot], rot) + pre
        out_digits = rot_ccw[(total % 6)[:, None], digits]
    else:
        out_digits = digits
    cells = (
        np.int64(_cells.MODE_CELL) << 59
        | np.int64(res) << 52
        | bc << 45
        | np.int64((1 << (3 * (MAX_RES - res))) - 1)
    )
    for rr_ in range(1, res + 1):
        cells = cells | (out_digits[:, rr_ - 1] << (3 * (MAX_RES - rr_)))
    if scalar_rows.any():
        lats_s = np.degrees(lat[scalar_rows])
        lngs_s = np.degrees(lng[scalar_rows])
        cells[scalar_rows] = [
            latlng_to_cell(la, lo, res) for la, lo in zip(lats_s, lngs_s)
        ]
    return cells


# ------------------------------------------------ vectorized inverse


def _np_inv_tables():
    import numpy as np

    home_face = np.array([f for f, _ in BASE_CELL_DATA], dtype=np.int64)
    home_i = np.array([ijk[0] for _, ijk in BASE_CELL_DATA], dtype=np.int64)
    home_j = np.array([ijk[1] for _, ijk in BASE_CELL_DATA], dtype=np.int64)
    home_k = np.array([ijk[2] for _, ijk in BASE_CELL_DATA], dtype=np.int64)
    pent = np.zeros(NUM_BASE_CELLS, dtype=bool)
    for p in PENTAGONS:
        pent[p] = True
    nface = np.zeros((NUM_ICOSA_FACES, 4), dtype=np.int64)
    tri = np.zeros((NUM_ICOSA_FACES, 4, 3), dtype=np.int64)
    ccw = np.zeros((NUM_ICOSA_FACES, 4), dtype=np.int64)
    for f in range(NUM_ICOSA_FACES):
        for q in range(4):
            g, t, r = _FACE_NEIGHBORS[f][q]
            nface[f, q] = g
            tri[f, q] = t
            ccw[f, q] = r
    unit_i = np.array([u[0] for u in UNIT_VECS], dtype=np.int64)
    unit_j = np.array([u[1] for u in UNIT_VECS], dtype=np.int64)
    unit_k = np.array([u[2] for u in UNIT_VECS], dtype=np.int64)
    fgeo = np.array(FACE_CENTER_GEO)
    faz = np.array(FACE_AZ_RADS_CII)
    return (home_face, home_i, home_j, home_k, pent, nface, tri, ccw,
            unit_i, unit_j, unit_k, fgeo, faz)


_NP_INV_TABLES = None


def cell_to_latlng_np(cells):
    """Vectorized ``cellToLatLng`` over an int64 numpy array of cell
    indexes (mixed resolutions allowed) — identical output to the
    scalar path (property-tested), pentagon base cells included (the
    leading-IK pre-rotation is a uniform digit map and the
    deleted-subsequence overage fold is a masked origin-shifted
    rotation); only numerically-degenerate azimuth rows fall back to
    the scalar implementation.

    The home-frame digit walk, the Class-II substrate drop, and the
    overage face-hops are all integer numpy ops; only the final
    spherical placement is floating point."""
    import numpy as np

    global _NP_INV_TABLES
    if _NP_INV_TABLES is None:
        _NP_INV_TABLES = _np_inv_tables()
    (home_face, home_i, home_j, home_k, pent_t, nface_t, tri_t, ccw_t,
     unit_i, unit_j, unit_k, fgeo, faz) = _NP_INV_TABLES
    cells = np.asarray(cells, dtype=np.int64)
    n = cells.shape[0]
    lats = np.empty(n, dtype=np.float64)
    lngs = np.empty(n, dtype=np.float64)
    res_all = (cells >> 52) & 0xF
    base_all = (cells >> 45) & 0x7F
    # ccw digit-rotation table for the pentagon leading-IK pre-rotation
    cw1 = np.array([0, 3, 6, 2, 5, 1, 4], dtype=np.int64)  # cw == ccw^5
    for r in np.unique(res_all):
        sel = res_all == r
        if not sel.any():
            continue
        idx = np.nonzero(sel)[0]
        sub = cells[idx]
        base = base_all[idx]
        is_pent = pent_t[base]
        face = home_face[base].copy()
        i = home_i[base].copy()
        j = home_j[base].copy()
        k = home_k[base].copy()
        res = int(r)
        # leading nonzero digit (for the pentagon pre-rotation and the
        # deleted-subsequence overage handling)
        lead = np.zeros(len(idx), dtype=np.int64)
        for rr in range(1, res + 1):
            d = (sub >> (3 * (MAX_RES - rr))) & 0x7
            lead = np.where(lead == 0, d, lead)
        # pentagon with leading IK: rotate the digit sequence once cw
        pre_cw = is_pent & (lead == IK_AXES_DIGIT)
        lead = np.where(pre_cw, cw1[lead], lead)
        pent_l4 = is_pent & (lead == I_AXES_DIGIT)
        for rr in range(1, res + 1):
            if rr % 2 == 1:  # Class III
                i, j, k = 3 * i + j, 3 * j + k, i + 3 * k
            else:
                i, j, k = 3 * i + k, i + 3 * j, j + 3 * k
            d = (sub >> (3 * (MAX_RES - rr))) & 0x7
            d = np.where(pre_cw, cw1[d], d)
            i = i + unit_i[d]
            j = j + unit_j[d]
            k = k + unit_k[d]
            m = np.minimum(np.minimum(i, j), k)
            i, j, k = i - m, j - m, k - m
        oi, oj, ok = i.copy(), j.copy(), k.copy()
        oface = face.copy()
        adj = res
        if res % 2 == 1:  # drop into the Class II substrate
            i, j, k = 3 * i + k, i + 3 * j, j + 3 * k
            m = np.minimum(np.minimum(i, j), k)
            i, j, k = i - m, j - m, k - m
            adj = res + 1
        max_dim = 2 * 7 ** (adj // 2)
        scale = 7 ** (adj // 2)
        had_over = np.zeros(len(idx), dtype=bool)
        for hop in range(4):
            over = (i + j + k) > max_dim
            if not over.any():
                break
            quad = np.where(
                k > 0, np.where(j > 0, 3, 2), 1
            )  # JK / KI / IJ
            if hop == 0:
                # pentagon deleted-subsequence fold: a leading-4 cell
                # overflowing into the KI quadrant first rotates cw
                # around the face corner (origin-translated) — first
                # adjustment only, matching the scalar reference
                p4 = over & pent_l4 & (quad == 2)
                if p4.any():
                    ti = i - max_dim
                    ri2 = ti + j
                    rj2 = j + k
                    rk2 = ti + k
                    m2 = np.minimum(np.minimum(ri2, rj2), rk2)
                    ri2, rj2, rk2 = ri2 - m2 + max_dim, rj2 - m2, rk2 - m2
                    m2 = np.minimum(np.minimum(ri2, rj2), rk2)
                    ri2, rj2, rk2 = ri2 - m2, rj2 - m2, rk2 - m2
                    i = np.where(p4, ri2, i)
                    j = np.where(p4, rj2, j)
                    k = np.where(p4, rk2, k)
            had_over |= over
            nf = nface_t[face, quad]
            rot = ccw_t[face, quad]
            ti = tri_t[face, quad, 0] * scale
            tj = tri_t[face, quad, 1] * scale
            tk = tri_t[face, quad, 2] * scale
            ri, rj, rk = i.copy(), j.copy(), k.copy()
            for step in range(5):
                do = rot > step
                ni = np.where(do, ri + rk, ri)
                nj = np.where(do, ri + rj, rj)
                nk = np.where(do, rj + rk, rk)
                m = np.minimum(np.minimum(ni, nj), nk)
                ri, rj, rk = ni - m, nj - m, nk - m
            ri = ri + ti
            rj = rj + tj
            rk = rk + tk
            m = np.minimum(np.minimum(ri, rj), rk)
            ri, rj, rk = ri - m, rj - m, rk - m
            i = np.where(over, ri, i)
            j = np.where(over, rj, j)
            k = np.where(over, rk, k)
            face = np.where(over, nf, face)
        if res % 2 == 1:
            # overage rows: climb back from the substrate (up_ap7r);
            # non-overage rows: restore the original odd-res coords
            ii = i - k
            jj = j - k
            ui = np.round((2 * ii + jj) / 7.0).astype(np.int64)
            uj = np.round((3 * jj - ii) / 7.0).astype(np.int64)
            uk = np.zeros_like(ui)
            m = np.minimum(np.minimum(ui, uj), uk)
            ui, uj, uk = ui - m, uj - m, uk - m
            i = np.where(had_over, ui, oi)
            j = np.where(had_over, uj, oj)
            k = np.where(had_over, uk, ok)
            face = np.where(had_over, face, oface)
        # hex2d → geo (vectorized _hex2d_to_geo)
        ii = i - k
        jj = j - k
        x = ii - 0.5 * jj
        y = jj * M_SIN60
        rr_ = np.hypot(x, y)
        theta = np.arctan2(y, x)
        rr_ = rr_ / (M_SQRT7 ** res)
        rr_ = np.arctan(rr_ * RES0_U_GNOMONIC)
        if res % 2 == 1:
            theta = (theta + M_AP7_ROT_RADS) % (2.0 * np.pi)
        az = (faz[face] - theta % (2.0 * np.pi)) % (2.0 * np.pi)
        plat = fgeo[face, 0]
        plng = fgeo[face, 1]
        sinlat = np.sin(plat) * np.cos(rr_) + np.cos(plat) * np.sin(
            rr_
        ) * np.cos(az)
        lat = np.arcsin(np.clip(sinlat, -1.0, 1.0))
        coslat = np.cos(lat)
        sinlng = np.sin(az) * np.sin(rr_) / np.where(coslat == 0, 1.0, coslat)
        coslng = (np.cos(rr_) - np.sin(plat) * sinlat) / np.where(
            coslat == 0, 1.0, np.cos(plat) * coslat
        )
        lng = plng + np.arctan2(
            np.clip(sinlng, -1.0, 1.0), np.clip(coslng, -1.0, 1.0)
        )
        lng = (lng + np.pi) % (2.0 * np.pi) - np.pi
        # degenerate rows: cell center at a face center (rr_≈0), due-
        # north/south azimuths, or poles — scalar fallback for parity
        # with the branchy reference
        degen = (
            (rr_ < _EPSILON)
            | (np.minimum(az % np.pi, np.pi - (az % np.pi)) < 1e-12)
            | (np.abs(np.abs(lat) - np.pi / 2.0) < 1e-12)
            | (coslat == 0)
        )
        lats[idx] = np.degrees(lat)
        lngs[idx] = np.degrees(lng)
        if degen.any():
            for pos in idx[degen]:
                la, lo = cell_to_latlng(int(cells[pos]))
                lats[pos] = la
                lngs[pos] = lo
    return lats, lngs

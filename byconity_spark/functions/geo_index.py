"""Geo-index function families: H3 (index math), S2 (full cell-id math),
and the geohash box/decode tail.

H3 (reference src/Functions/h3*.cpp, vendored contrib/h3 v4 API):
  We implement every name whose semantics depend ONLY on the published H3
  index bit layout (docs.h3geo.org, "H3 Index Representations"): 4-bit
  mode at bits 59-62, 3 reserved bits at 56-58, 4-bit resolution at 52-55,
  7-bit base cell at 45-51, then fifteen 3-bit unit digits (digit r at
  bits 45-3r .. 47-3r, unused digits = 7).  The 12 pentagon base cells
  {4,14,24,38,49,58,63,72,83,97,107,117} are published spec data.  These
  are all exact — verified against the well-known published indexes
  (res-0 base cell 0 = '8001fffffffffff', the res-8 parent of
  '8928308280fffff' = '8828308281fffff').

  NOT implemented (documented skip, see COVERAGE.md): the names that
  require the icosahedron orientation tables of the concrete H3 library
  build (geoToH3 / h3ToGeo / boundaries / kRing / hexRing / h3Line /
  h3Distance / neighbor+destination edge ops / h3GetFaces / exact cell
  areas & edge lengths).  Those tables cannot be derived from first
  principles; a guessed table would silently return wrong cell ids, so we
  refuse rather than fabricate.

  h3HexAreaKm2/M2 use the closed-form v3 average 4*pi*R^2/(120*7^r)
  (R = 6371.007180918475 km, the H3 earth radius) — the vendored v4
  library instead reports true hexagon-only averages which differ by <3%
  at low resolutions; DOCUMENTED VALUE DEVIATION.

S2 (reference src/Functions/s2*.cpp, geoToS2.cpp): full faithful
  implementation from the public s2geometry cell-id spec — cube-face
  selection, the S2_QUADRATIC_PROJECTION st<->uv transform, and the
  canonical Hilbert curve tables (kPosToIJ / kPosToOrientation from
  s2coords, which are spec constants, not library-build data).  All ids
  are leaf-level UInt64 values surfaced as their signed-64 bit pattern
  (Spark has no unsigned type; same convention as the hash family).

Geohash: geohashDecode / geohashesInBox complete the GeoHash.cpp surface
  (geohashEncode already lives in registry.py); the box cover replicates
  geohashesInBoxPrepare's snap-to-grid enumeration exactly.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _lit(x):
    return x if isinstance(x, Column) else F.lit(x)


# ---------------------------------------------------------------------------
# H3 — index bit layout (Column expressions, JVM-side, no UDF)
# ---------------------------------------------------------------------------

_H3_PENT_BCS = (4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)
_H3_EARTH_R_KM = 6371.007180918475  # h3 lib EARTH_RADIUS_KM


def _h3_res(h: Column) -> Column:
    return F.shiftright(h, 52).bitwiseAND(F.lit(15))


def _h3_mode(h: Column) -> Column:
    return F.shiftright(h, 59).bitwiseAND(F.lit(15))


def _h3_bc(h: Column) -> Column:
    return F.shiftright(h, 45).bitwiseAND(F.lit(127))


def _h3_digit(h: Column, r) -> Column:
    # unit digit r (1-based) lives at bits 45-3r..47-3r; r may be a Column
    sh = (F.lit(45) - _lit(r).cast("int") * 3).cast("int")
    return F.call_function("shiftright", h, sh).bitwiseAND(F.lit(7))


def _h3_lead_digit(h: Column) -> Column:
    # first nonzero unit digit within the resolved digits (NULL if all 0)
    res = _h3_res(h)
    digs = F.transform(
        F.sequence(F.lit(1), F.lit(15)), lambda r: _h3_digit(h, r)
    )
    return F.try_element_at(
        F.filter(F.slice(digs, F.lit(1), res), lambda d: d != 0), F.lit(1)
    )


def _h3_is_pent_bc(bc: Column) -> Column:
    return bc.isin(*_H3_PENT_BCS)


def _h3_is_valid(h: Column) -> Column:
    h = _lit(h).cast("long")
    res = _h3_res(h)
    digits_ok = F.forall(
        F.sequence(F.lit(1), F.lit(15)),
        lambda r: F.when(r <= res, _h3_digit(h, r) <= 6).otherwise(
            _h3_digit(h, r) == 7
        ),
    )
    lead = _h3_lead_digit(h)
    pent_ok = ~(_h3_is_pent_bc(_h3_bc(h)) & (F.coalesce(lead, F.lit(0)) == 1))
    return (
        (h > 0)  # bit 63 clear and nonzero
        & (_h3_mode(h) == 1)
        & (F.shiftright(h, 56).bitwiseAND(F.lit(7)) == 0)  # reserved bits
        & (_h3_bc(h) <= 121)
        & digits_ok
        & pent_ok
    )


def _h3_is_pentagon(h: Column) -> Column:
    h = _lit(h).cast("long")
    return _h3_is_pent_bc(_h3_bc(h)) & _h3_lead_digit(h).isNull()


def _h3_to_string(h) -> Column:
    # h3 lib h3ToString: %x — lowercase hex, no leading zeros
    return F.lower(F.hex(_lit(h).cast("long")))


def _string_to_h3(s) -> Column:
    # stringToH3 returns 0 for unparseable input (stringToH3.cpp uses
    # strtoull).  conv(s, 16, -10) renders the UInt64 bit pattern as a
    # signed decimal string, which round-trips through the BIGINT cast.
    s = _lit(s)
    return F.coalesce(
        F.when(
            s.rlike("^[0-9a-fA-F]{1,16}$"),
            F.conv(s, 16, -10).try_cast("long"),
        ),
        F.lit(0).cast("long"),
    )


def _h3_set_res(h: Column, res) -> Column:
    cleared = h.bitwiseAND(F.lit(~(15 << 52)))
    return cleared.bitwiseOR(
        F.call_function("shiftleft", _lit(res).cast("long"), F.lit(52))
    )


def _low_ones(nbits: Column) -> Column:
    # (1 << nbits) - 1 with a data-dependent shift
    return (
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), nbits.cast("int")
        )
        - 1
    )


def _h3_to_parent(h, parent_res) -> Column:
    h = _lit(h).cast("long")
    pr = _lit(parent_res).cast("int")
    # set digits parent_res+1..15 to 7 (all-ones) and rewrite the res field
    return _h3_set_res(h.bitwiseOR(_low_ones(F.lit(45) - pr * 3)), pr)


def _h3_to_center_child(h, child_res) -> Column:
    h = _lit(h).cast("long")
    cr = _lit(child_res).cast("int")
    res = _h3_res(h)
    # clear digits res+1..15 (zeros = center chain), then re-set the
    # digits BELOW child_res back to 7
    # NB ``~`` on a Column is logical NOT — bitwise_not for the mask
    wiped = h.bitwiseAND(
        F.bitwise_not(_low_ones(F.lit(45) - res.cast("int") * 3))
    )
    return _h3_set_res(wiped.bitwiseOR(_low_ones(F.lit(45) - cr * 3)), cr)


def _h3_to_children(h, child_res) -> Column:
    """cellToChildren: enumerate base-7 digit combinations below the parent
    in the lib's depth-first order, skipping subtrees whose first nonzero
    digit is K (1) under a pentagon parent (the deleted axis)."""
    h = _lit(h).cast("long")
    cr = _lit(child_res).cast("int")
    res = _h3_res(h).cast("int")
    dr = (cr - res).cast("int")
    center = _h3_to_center_child(h, cr)
    # NB every sequence() below is guarded by dr >= 1 per row — Spark's
    # sequence(1, 0) would otherwise count DOWN
    is_pent = _h3_is_pentagon(h)
    cnt = F.pow(F.lit(7.0), dr.cast("double")).cast("long")

    def _child(i: Column) -> Column:
        # digit for level res+k is base-7 digit k of i (k = 1..dr, MSB first)
        def _dig(k: Column) -> Column:
            return (
                i
                / F.pow(F.lit(7.0), (dr - k).cast("double")).cast("long")
            ).cast("long") % 7

        built = F.aggregate(
            F.sequence(F.lit(1), dr),
            center,
            lambda acc, k: acc.bitwiseOR(
                F.call_function(
                    "shiftleft",
                    _dig(k),
                    (F.lit(45) - (res + k) * 3).cast("int"),
                )
            ),
        )
        lead = F.try_element_at(
            F.filter(
                F.transform(F.sequence(F.lit(1), dr), _dig),
                lambda d: d != 0,
            ),
            F.lit(1),
        )
        skip = is_pent & (F.coalesce(lead, F.lit(0)) == 1)
        return F.when(~skip, built)

    enumerated = F.filter(
        F.transform(F.sequence(F.lit(0).cast("long"), cnt - 1), _child),
        lambda c: c.isNotNull(),
    )
    return F.when(dr >= 1, enumerated).otherwise(F.array(h))


def _h3_num_hexagons(res) -> Column:
    # getNumCells: 2 + 120 * 7^res (pentagons have one child fewer)
    r = _lit(res).cast("double")
    return (F.lit(2) + F.lit(120) * F.pow(F.lit(7.0), r)).cast("long")


def _h3_index(bc: int, res: int, digits: tuple[int, ...] = ()) -> int:
    h = (1 << 59) | (res << 52) | (bc << 45)
    for r in range(1, 16):
        d = digits[r - 1] if r <= len(digits) else (0 if r <= res else 7)
        h |= d << (45 - 3 * r)
    return h


def _h3_res0_indexes() -> Column:
    return F.array(*[F.lit(_h3_index(bc, 0)) for bc in range(122)])


def _h3_pentagon_indexes(res) -> Column:
    r = int(res) if not isinstance(res, Column) else None
    if r is None:
        raise ValueError("h3GetPentagonIndexes needs a literal resolution")
    return F.array(*[F.lit(_h3_index(bc, r)) for bc in _H3_PENT_BCS])


def _h3_hex_area_km2(res) -> Column:
    # closed-form v3 average: sphere area / (120 * 7^r).  DOCUMENTED
    # DEVIATION: the vendored v4 lib reports true hexagon-only averages.
    r = _lit(res).cast("double")
    sphere = 4.0 * math.pi * _H3_EARTH_R_KM * _H3_EARTH_R_KM
    return F.lit(sphere / 120.0) / F.pow(F.lit(7.0), r)


def _h3_edge_origin(e) -> Column:
    # directed-edge index -> origin cell: mode 2->1, clear the 3-bit
    # direction field (bits 56-58)
    e = _lit(e).cast("long")
    cleared = e.bitwiseAND(F.lit(~(((15 << 3) | 7) << 56)))
    return cleared.bitwiseOR(F.lit(1 << 59))


def _h3_edge_is_valid(e) -> Column:
    e = _lit(e).cast("long")
    d = F.shiftright(e, 56).bitwiseAND(F.lit(7))
    origin = _h3_edge_origin(e)
    return (
        (_h3_mode(e) == 2)
        & d.between(1, 6)
        & _h3_is_valid(origin)
        & ~(_h3_is_pentagon(origin) & (d == 1))  # K axis deleted
    )


def _h3_edges_from_hexagon(h) -> Column:
    # originToDirectedEdges: mode 2 + direction 1..6 over the cell bits;
    # pentagons skip the deleted K (1) direction
    h = _lit(h).cast("long")
    base = h.bitwiseAND(F.lit(~(15 << 59))).bitwiseOR(F.lit(2 << 59))
    is_pent = _h3_is_pentagon(h)
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.lit(6)),
            lambda d: F.when(
                ~(is_pent & (d == 1)),
                base.bitwiseOR(
                    F.call_function("shiftleft", d.cast("long"), F.lit(56))
                ),
            ),
        ),
        lambda c: c.isNotNull(),
    )


def _h3_point_dist_rads(lat1, lon1, lat2, lon2) -> Column:
    # h3PointDist.cpp: degrees in, H3 greatCircleDistance (haversine)
    la1, lo1 = F.radians(_lit(lat1)), F.radians(_lit(lon1))
    la2, lo2 = F.radians(_lit(lat2)), F.radians(_lit(lon2))
    a = (
        F.pow(F.sin((la2 - la1) / 2), F.lit(2.0))
        + F.cos(la1) * F.cos(la2) * F.pow(F.sin((lo2 - lo1) / 2), F.lit(2.0))
    )
    return 2 * F.atan2(F.sqrt(a), F.sqrt(1 - a))


# ---------------------------------------------------------------------------
# S2 — numpy core (shared by the pandas UDFs below)
# ---------------------------------------------------------------------------

_S2_MAX = 1 << 30  # leaf cells per face edge
# canonical Hilbert tables (s2geometry s2coords: kPosToIJ / kPosToOrientation)
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
_IJ_TO_POS = np.zeros((4, 4), dtype=np.int64)
for _o in range(4):
    for _p in range(4):
        _IJ_TO_POS[_o, _POS_TO_IJ[_o, _p]] = _p
_POS_TO_ORIENT = np.array([1, 0, 0, 3], dtype=np.int64)  # swap,0,0,swap|invert


def _s2_xyz_from_deg(lon: np.ndarray, lat: np.ndarray):
    phi, theta = np.radians(lat), np.radians(lon)
    c = np.cos(phi)
    return np.cos(theta) * c, np.sin(theta) * c, np.sin(phi)


def _s2_face_uv_from_xyz(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where((ax >= ay) & (ax >= az), 0, np.where(ay >= az, 1, 2))
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.choose(face, [y / x, -x / y, -x / z, z / x, z / y, -y / z])
        v = np.choose(face, [z / x, z / y, -y / z, y / x, -x / y, -x / z])
    return face.astype(np.int64), u, v


def _s2_xyz_from_face_uv(face, u, v):
    x = np.choose(face, [np.ones_like(u), -u, -u, -np.ones_like(u), v, v])
    y = np.choose(face, [u, np.ones_like(u), -v, -v, -np.ones_like(u), u])
    z = np.choose(face, [v, v, np.ones_like(u), -u, -u, -np.ones_like(u)])
    return x, y, z


def _s2_st_from_uv(u):
    # S2_QUADRATIC_PROJECTION UVtoST
    return np.where(
        u >= 0,
        0.5 * np.sqrt(1.0 + 3.0 * np.maximum(u, 0.0)),
        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * np.minimum(u, 0.0)),
    )


def _s2_uv_from_st(s):
    return np.where(
        s >= 0.5,
        (4.0 * s * s - 1.0) / 3.0,
        (1.0 - 4.0 * (1.0 - s) * (1.0 - s)) / 3.0,
    )


def _s2_ij_from_st(s):
    return np.clip(
        np.floor(s * _S2_MAX).astype(np.int64), 0, _S2_MAX - 1
    )


def _s2_leaf_from_face_ij(face, i, j):
    pos = np.zeros_like(i)
    orient = face & 1  # FromFaceIJ: bits start as face & kSwapMask
    for level in range(30):
        sh = 29 - level
        ij = (((i >> sh) & 1) << 1) | ((j >> sh) & 1)
        p = _IJ_TO_POS[orient, ij]
        pos = (pos << 2) | p
        orient = orient ^ _POS_TO_ORIENT[p]
    return (
        (face.astype(np.uint64) << np.uint64(61))
        | (pos.astype(np.uint64) << np.uint64(1))
        | np.uint64(1)
    )


def _s2_lsb(ids_u64):
    neg = (~ids_u64 + np.uint64(1)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return ids_u64 & neg


def _s2_level(ids_u64):
    lsb = _s2_lsb(ids_u64)
    tz = np.log2(np.maximum(lsb.astype(np.float64), 1.0)).astype(np.int64)
    return 30 - (tz >> 1)


def _s2_is_valid(ids_u64):
    face = (ids_u64 >> np.uint64(61)).astype(np.int64)
    lsb = _s2_lsb(ids_u64)
    return (face <= 5) & (
        (lsb & np.uint64(0x1555555555555555)) != np.uint64(0)
    )


def _s2_face_ij_from_id(ids_u64):
    """ToFaceIJOrientation: decode all 30 position pairs (trailing lsb
    pattern included — GetCenterSiTi's delta corrects to the center)."""
    face = (ids_u64 >> np.uint64(61)).astype(np.int64)
    pos = ((ids_u64 >> np.uint64(1)) & np.uint64((1 << 60) - 1)).astype(
        np.int64
    )
    i = np.zeros_like(face)
    j = np.zeros_like(face)
    orient = face & 1
    for level in range(30):
        p = (pos >> (2 * (29 - level))) & 3
        ij = _POS_TO_IJ[orient, p]
        i = (i << 1) | (ij >> 1)
        j = (j << 1) | (ij & 1)
        orient = orient ^ _POS_TO_ORIENT[p]
    return face, i, j


def _s2_center_st(ids_u64):
    # GetCenterSiTi: si = 2i + delta in [0, 2*kMax]; st = si / (2*kMax)
    face, i, j = _s2_face_ij_from_id(ids_u64)
    is_leaf = (ids_u64 & np.uint64(1)) != 0
    low2 = (ids_u64 >> np.uint64(2)).astype(np.int64)
    delta = np.where(is_leaf, 1, np.where(((i ^ low2) & 1) != 0, 2, 0))
    si = 2 * i + delta
    ti = 2 * j + delta
    return face, si / (2.0 * _S2_MAX), ti / (2.0 * _S2_MAX)


def _s2_deg_from_id(ids_u64):
    face, s, t = _s2_center_st(ids_u64)
    u, v = _s2_uv_from_st(s), _s2_uv_from_st(t)
    x, y, z = _s2_xyz_from_face_uv(face, u, v)
    n = np.sqrt(x * x + y * y + z * z)
    lat = np.degrees(np.arcsin(np.clip(z / n, -1.0, 1.0)))
    lon = np.degrees(np.arctan2(y, x))
    return lon, lat


def _s2_leaf_from_deg(lon: np.ndarray, lat: np.ndarray):
    x, y, z = _s2_xyz_from_deg(lon, lat)
    face, u, v = _s2_face_uv_from_xyz(x, y, z)
    i = _s2_ij_from_st(_s2_st_from_uv(u))
    j = _s2_ij_from_st(_s2_st_from_uv(v))
    return _s2_leaf_from_face_ij(face, i, j)


def _s2_parent_at(leaf_u64, level):
    lsb = np.uint64(1) << (np.uint64(2) * (np.uint64(30) - level.astype(np.uint64)))
    neg = (~lsb + np.uint64(1)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    return (leaf_u64 & neg) | lsb


def _s2_from_face_ij_wrap(face, i, j):
    """FromFaceIJWrap: project one-cell-out-of-range ij through the LINEAR
    st<->uv projection onto the neighboring face (any projection works for
    a single-cell overshoot — this is the canonical choice)."""
    i = np.clip(i, -1, _S2_MAX)
    j = np.clip(j, -1, _S2_MAX)
    scale = 1.0 / _S2_MAX
    limit = 1.0 + np.finfo(np.float64).eps
    u = np.clip(scale * (2.0 * (i - _S2_MAX // 2) + 1.0), -limit, limit)
    v = np.clip(scale * (2.0 * (j - _S2_MAX // 2) + 1.0), -limit, limit)
    x, y, z = _s2_xyz_from_face_uv(face, u, v)
    nface, nu, nv = _s2_face_uv_from_xyz(x, y, z)
    ni = np.clip(
        np.round(_S2_MAX * (0.5 * (nu + 1.0)) - 0.5).astype(np.int64),
        0,
        _S2_MAX - 1,
    )
    nj = np.clip(
        np.round(_S2_MAX * (0.5 * (nv + 1.0)) - 0.5).astype(np.int64),
        0,
        _S2_MAX - 1,
    )
    return _s2_leaf_from_face_ij(nface, ni, nj)


def _s2_edge_neighbors(ids_u64):
    """GetEdgeNeighbors: the 4 edge-adjacent cells at the same level,
    wrapping across cube faces."""
    level = _s2_level(ids_u64)
    size = np.int64(1) << (30 - level)
    face, i, j = _s2_face_ij_from_id(ids_u64)
    out = []
    for di, dj in ((0, -1), (1, 0), (0, 1), (-1, 0)):
        ni, nj = i + di * size, j + dj * size
        same = (ni >= 0) & (ni < _S2_MAX) & (nj >= 0) & (nj < _S2_MAX)
        leaf_same = _s2_leaf_from_face_ij(
            face, np.clip(ni, 0, _S2_MAX - 1), np.clip(nj, 0, _S2_MAX - 1)
        )
        leaf_wrap = _s2_from_face_ij_wrap(face, ni, nj)
        leaf = np.where(same, leaf_same, leaf_wrap)
        out.append(_s2_parent_at(leaf, level))
    return out


def _s2_angle_between_ids(a_u64, b_u64):
    lon1, lat1 = _s2_deg_from_id(a_u64)
    lon2, lat2 = _s2_deg_from_id(b_u64)
    la1, lo1 = np.radians(lat1), np.radians(lon1)
    la2, lo2 = np.radians(lat2), np.radians(lon2)
    h = (
        np.sin((la2 - la1) / 2) ** 2
        + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2
    )
    return 2.0 * np.arctan2(np.sqrt(h), np.sqrt(1.0 - h))


def _u64(series: pd.Series) -> np.ndarray:
    return series.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)


def _i64(arr_u64: np.ndarray) -> pd.Series:
    return pd.Series(arr_u64.view(np.int64))


# ---------------------------------------------------------------------------
# S2 — Column-level entry points
# ---------------------------------------------------------------------------

# Arrow-batched S2 kernels, shared by the Column API below and the SQL
# surface (sql_kernels)

@F.pandas_udf(T.LongType())
def geoToS2(lo: pd.Series, la: pd.Series) -> pd.Series:
    return _i64(
        _s2_leaf_from_deg(
            lo.to_numpy(dtype=np.float64), la.to_numpy(dtype=np.float64)
        )
    )


@F.pandas_udf(T.ArrayType(T.LongType()))
def s2GetNeighbors(c: pd.Series) -> pd.Series:
    ns = _s2_edge_neighbors(_u64(c))
    stacked = np.stack([n.view(np.int64) for n in ns], axis=1)
    return pd.Series(list(stacked))


@F.pandas_udf(T.BooleanType())
def s2CellsIntersect(sa: pd.Series, sb: pd.Series) -> pd.Series:
    ua, ub = _u64(sa), _u64(sb)
    la, lb = _s2_lsb(ua) - np.uint64(1), _s2_lsb(ub) - np.uint64(1)
    hit = (ua - la <= ub + lb) & (ub - lb <= ua + la)
    # NULL in -> NULL out (the na_value=0 fill would otherwise claim
    # every cell intersects the "zero cell")
    out = pd.Series(hit, dtype="object")
    out[sa.isna().to_numpy() | sb.isna().to_numpy()] = None
    return out


@F.pandas_udf(T.BooleanType())
def s2CapContains(c: pd.Series, d: pd.Series, p: pd.Series) -> pd.Series:
    ang = np.degrees(_s2_angle_between_ids(_u64(c), _u64(p)))
    deg = d.to_numpy(dtype=np.float64)
    return pd.Series((deg >= 0) & (ang <= deg))


def _geo_to_s2(lon, lat) -> Column:
    return geoToS2(_lit(lon).cast("double"), _lit(lat).cast("double"))


def _s2_to_geo(cid) -> Column:
    @F.pandas_udf("lon double, lat double")
    def k(c: pd.Series) -> pd.DataFrame:
        lon, lat = _s2_deg_from_id(_u64(c))
        return pd.DataFrame({"lon": lon, "lat": lat})

    return k(_lit(cid).cast("long"))


def _s2_get_neighbors(cid) -> Column:
    return s2GetNeighbors(_lit(cid).cast("long"))


def _s2_cells_intersect(a, b) -> Column:
    return s2CellsIntersect(_lit(a).cast("long"), _lit(b).cast("long"))


def _s2_cap_contains(center, degrees, point) -> Column:
    return s2CapContains(
        _lit(center).cast("long"),
        _lit(degrees).cast("double"),
        _lit(point).cast("long"),
    )


def _s2_cap_union(c1, r1, c2, r2) -> Column:
    @F.pandas_udf("center long, radius double")
    def k(
        a: pd.Series, ra: pd.Series, b: pd.Series, rb: pd.Series
    ) -> pd.DataFrame:
        ua, ub = _u64(a), _u64(b)
        r1d = np.radians(ra.to_numpy(dtype=np.float64))
        r2d = np.radians(rb.to_numpy(dtype=np.float64))
        d = _s2_angle_between_ids(ua, ub)
        # containment cases keep the bigger cap (S2Cap::Union)
        a_holds_b = r1d >= d + r2d
        b_holds_a = r2d >= d + r1d
        new_r = 0.5 * (d + r1d + r2d)
        off = np.where(d > 0, 0.5 * (d + r2d - r1d), 0.0)
        # slerp from center1 toward center2 by `off`
        lon1, lat1 = _s2_deg_from_id(ua)
        lon2, lat2 = _s2_deg_from_id(ub)
        x1, y1, z1 = _s2_xyz_from_deg(lon1, lat1)
        x2, y2, z2 = _s2_xyz_from_deg(lon2, lat2)
        sd = np.where(d > 0, np.sin(d), 1.0)
        w1 = np.sin(np.maximum(d - off, 0.0)) / sd
        w2 = np.sin(np.maximum(off, 0.0)) / sd
        cx, cy, cz = (
            w1 * x1 + w2 * x2,
            w1 * y1 + w2 * y2,
            w1 * z1 + w2 * z2,
        )
        n = np.maximum(np.sqrt(cx * cx + cy * cy + cz * cz), 1e-300)
        clat = np.degrees(np.arcsin(np.clip(cz / n, -1, 1)))
        clon = np.degrees(np.arctan2(cy, cx))
        center = _s2_leaf_from_deg(clon, clat)
        center = np.where(a_holds_b, ua, np.where(b_holds_a, ub, center))
        radius = np.where(
            a_holds_b, r1d, np.where(b_holds_a, r2d, new_r)
        )
        return pd.DataFrame(
            {
                "center": center.view(np.int64),
                "radius": np.degrees(radius),
            }
        )

    return k(
        _lit(c1).cast("long"),
        _lit(r1).cast("double"),
        _lit(c2).cast("long"),
        _lit(r2).cast("double"),
    )


# --- S1Interval (longitude) algebra, vectorized (s2geometry S1Interval) ---

_TWO_PI = 2.0 * math.pi


def _s1_pos_dist(a, b):
    # arc length from a forward (CCW) to b, in [0, 2*pi)
    return np.mod(b - a, _TWO_PI)


def _s1_contains(lo, hi, p):
    inv = lo > hi
    return np.where(inv, (p >= lo) | (p <= hi), (p >= lo) & (p <= hi))


def _s1_add_point(lo, hi, p):
    inside = _s1_contains(lo, hi, p)
    dlo = _s1_pos_dist(p, lo)
    dhi = _s1_pos_dist(hi, p)
    nlo = np.where(dlo < dhi, p, lo)
    nhi = np.where(dlo < dhi, hi, p)
    return np.where(inside, lo, nlo), np.where(inside, hi, nhi)


def _s1_union(lo1, hi1, lo2, hi2):
    c_lo2 = _s1_contains(lo1, hi1, lo2)
    c_hi2 = _s1_contains(lo1, hi1, hi2)
    c_lo1 = _s1_contains(lo2, hi2, lo1)
    len1 = _s1_pos_dist(lo1, hi1)
    len2 = _s1_pos_dist(lo2, hi2)
    y_subset = c_lo2 & c_hi2 & (len2 <= len1)
    both_ends = c_lo2 & c_hi2 & ~y_subset  # union wraps the full circle
    dlo = _s1_pos_dist(hi2, lo1)
    dhi = _s1_pos_dist(hi1, lo2)
    # default: disjoint — bridge the smaller gap
    nlo = np.where(dlo < dhi, lo2, lo1)
    nhi = np.where(dlo < dhi, hi1, hi2)
    nlo = np.where(c_lo1 & ~c_lo2 & ~c_hi2, lo2, nlo)
    nhi = np.where(c_lo1 & ~c_lo2 & ~c_hi2, hi2, nhi)
    nlo = np.where(c_hi2 & ~c_lo2, lo2, nlo)
    nhi = np.where(c_hi2 & ~c_lo2, hi1, nhi)
    nlo = np.where(c_lo2 & ~c_hi2, lo1, nlo)
    nhi = np.where(c_lo2 & ~c_hi2, hi2, nhi)
    nlo = np.where(y_subset, lo1, np.where(both_ends, -math.pi, nlo))
    nhi = np.where(y_subset, hi1, np.where(both_ends, math.pi, nhi))
    return nlo, nhi


def _s1_intersection(lo1, hi1, lo2, hi2):
    c_lo2 = _s1_contains(lo1, hi1, lo2)
    c_hi2 = _s1_contains(lo1, hi1, hi2)
    c_lo1 = _s1_contains(lo2, hi2, lo1)
    len1 = _s1_pos_dist(lo1, hi1)
    len2 = _s1_pos_dist(lo2, hi2)
    take_y = c_lo2 & c_hi2 & (len2 < len1)
    # default: disjoint -> empty sentinel [pi, -pi]
    nlo = np.full_like(lo1, math.pi)
    nhi = np.full_like(hi1, -math.pi)
    nlo = np.where(c_lo1 & ~c_lo2 & ~c_hi2, lo1, nlo)
    nhi = np.where(c_lo1 & ~c_lo2 & ~c_hi2, hi1, nhi)
    nlo = np.where(c_hi2 & ~c_lo2, lo1, nlo)
    nhi = np.where(c_hi2 & ~c_lo2, hi2, nhi)
    nlo = np.where(c_lo2 & ~c_hi2, lo2, nlo)
    nhi = np.where(c_lo2 & ~c_hi2, hi1, nhi)
    nlo = np.where(c_lo2 & c_hi2, np.where(take_y, lo2, lo1), nlo)
    nhi = np.where(c_lo2 & c_hi2, np.where(take_y, hi2, hi1), nhi)
    return nlo, nhi


def _rect_from_ids(lo_u64, hi_u64):
    lon_lo, lat_lo = _s2_deg_from_id(lo_u64)
    lon_hi, lat_hi = _s2_deg_from_id(hi_u64)
    return (
        np.radians(lat_lo),
        np.radians(lat_hi),
        np.radians(lon_lo),
        np.radians(lon_hi),
    )


def _rect_to_ids(lat_lo, lat_hi, lng_lo, lng_hi):
    lo = _s2_leaf_from_deg(np.degrees(lng_lo), np.degrees(lat_lo))
    hi = _s2_leaf_from_deg(np.degrees(lng_hi), np.degrees(lat_hi))
    return lo.view(np.int64), hi.view(np.int64)


def _s2_rect_add(lo, hi, point) -> Column:
    @F.pandas_udf("lo long, hi long")
    def k(a: pd.Series, b: pd.Series, p: pd.Series) -> pd.DataFrame:
        lat_lo, lat_hi, lng_lo, lng_hi = _rect_from_ids(_u64(a), _u64(b))
        plon, plat = _s2_deg_from_id(_u64(p))
        plat_r, plon_r = np.radians(plat), np.radians(plon)
        lat_lo = np.minimum(lat_lo, plat_r)
        lat_hi = np.maximum(lat_hi, plat_r)
        lng_lo, lng_hi = _s1_add_point(lng_lo, lng_hi, plon_r)
        nlo, nhi = _rect_to_ids(lat_lo, lat_hi, lng_lo, lng_hi)
        return pd.DataFrame({"lo": nlo, "hi": nhi})

    return k(_lit(lo).cast("long"), _lit(hi).cast("long"), _lit(point).cast("long"))


def _s2_rect_contains(lo, hi, point) -> Column:
    @F.pandas_udf("boolean")
    def k(a: pd.Series, b: pd.Series, p: pd.Series) -> pd.Series:
        lat_lo, lat_hi, lng_lo, lng_hi = _rect_from_ids(_u64(a), _u64(b))
        plon, plat = _s2_deg_from_id(_u64(p))
        plat_r, plon_r = np.radians(plat), np.radians(plon)
        ok_lat = (plat_r >= lat_lo) & (plat_r <= lat_hi)
        ok_lng = _s1_contains(lng_lo, lng_hi, plon_r)
        return pd.Series(ok_lat & ok_lng)

    return k(_lit(lo).cast("long"), _lit(hi).cast("long"), _lit(point).cast("long"))


def _s2_rect_union(lo1, hi1, lo2, hi2) -> Column:
    @F.pandas_udf("lo long, hi long")
    def k(a: pd.Series, b: pd.Series, c: pd.Series,
          d: pd.Series) -> pd.DataFrame:
        la1, lh1, g1, G1 = _rect_from_ids(_u64(a), _u64(b))
        la2, lh2, g2, G2 = _rect_from_ids(_u64(c), _u64(d))
        lat_lo = np.minimum(la1, la2)
        lat_hi = np.maximum(lh1, lh2)
        lng_lo, lng_hi = _s1_union(g1, G1, g2, G2)
        nlo, nhi = _rect_to_ids(lat_lo, lat_hi, lng_lo, lng_hi)
        return pd.DataFrame({"lo": nlo, "hi": nhi})

    return k(
        _lit(lo1).cast("long"), _lit(hi1).cast("long"),
        _lit(lo2).cast("long"), _lit(hi2).cast("long"),
    )


def _s2_rect_intersection(lo1, hi1, lo2, hi2) -> Column:
    @F.pandas_udf("lo long, hi long")
    def k(a: pd.Series, b: pd.Series, c: pd.Series,
          d: pd.Series) -> pd.DataFrame:
        la1, lh1, g1, G1 = _rect_from_ids(_u64(a), _u64(b))
        la2, lh2, g2, G2 = _rect_from_ids(_u64(c), _u64(d))
        lat_lo = np.maximum(la1, la2)
        lat_hi = np.minimum(lh1, lh2)
        lng_lo, lng_hi = _s1_intersection(g1, G1, g2, G2)
        # empty intersection collapses to the empty sentinel point set
        empty = (lat_lo > lat_hi) | (
            (lng_lo == math.pi) & (lng_hi == -math.pi)
        )
        lat_lo = np.where(empty, 0.0, lat_lo)
        lat_hi = np.where(empty, 0.0, lat_hi)
        lng_lo = np.where(empty, 0.0, lng_lo)
        lng_hi = np.where(empty, 0.0, lng_hi)
        nlo, nhi = _rect_to_ids(lat_lo, lat_hi, lng_lo, lng_hi)
        return pd.DataFrame({"lo": nlo, "hi": nhi})

    return k(
        _lit(lo1).cast("long"), _lit(hi1).cast("long"),
        _lit(lo2).cast("long"), _lit(hi2).cast("long"),
    )


# ---------------------------------------------------------------------------
# Geohash tail — decode + box cover (GeoHash.cpp)
# ---------------------------------------------------------------------------

_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_decode_core(strs):
    lons, lats = [], []
    for s in strs:
        if s is None:
            lons.append(None)
            lats.append(None)
            continue
        lon_lo, lon_hi, lat_lo, lat_hi = -180.0, 180.0, -90.0, 90.0
        is_lon = True
        for ch in str(s):
            idx = _GEOHASH32.find(ch)
            if idx < 0:
                break
            for bit in (16, 8, 4, 2, 1):
                if is_lon:
                    mid = (lon_lo + lon_hi) / 2
                    if idx & bit:
                        lon_lo = mid
                    else:
                        lon_hi = mid
                else:
                    mid = (lat_lo + lat_hi) / 2
                    if idx & bit:
                        lat_lo = mid
                    else:
                        lat_hi = mid
                is_lon = not is_lon
        lons.append((lon_lo + lon_hi) / 2)
        lats.append((lat_lo + lat_hi) / 2)
    return lons, lats


def _geohash_decode(s) -> Column:
    @F.pandas_udf("lon double, lat double")
    def k(c: pd.Series) -> pd.DataFrame:
        lons, lats = _geohash_decode_core(c.tolist())
        return pd.DataFrame({"lon": lons, "lat": lats})

    return k(_lit(s))


def _geohashes_in_box(lon_min, lat_min, lon_max, lat_max, precision=12) -> Column:
    """geohashesInBoxPrepare: snap min down / max up to the precision grid
    and encode each cell corner; degenerate boxes yield the single cell of
    the min corner; invalid (max<min / NaN) yields an empty array."""
    from byconity_spark.functions.registry import _geohash_core

    p = int(precision) if not isinstance(precision, Column) else 12

    @F.pandas_udf("array<string>")
    def k(
        lo_min: pd.Series, la_min: pd.Series,
        lo_max: pd.Series, la_max: pd.Series,
    ) -> pd.Series:
        lon_bits = (p * 5 + 1) // 2
        lat_bits = (p * 5) // 2
        lon_step = 360.0 / (1 << lon_bits)
        lat_step = 180.0 / (1 << lat_bits)
        out = []
        for a, b, c, d in zip(lo_min, la_min, lo_max, la_max):
            if (
                any(x is None or (isinstance(x, float) and math.isnan(x))
                    for x in (a, b, c, d))
                or c < a or d < b
            ):
                out.append([])
                continue
            a = min(max(a, -180.0), 180.0)
            c = min(max(c, -180.0), 180.0)
            b = min(max(b, -90.0), 90.0)
            d = min(max(d, -90.0), 90.0)
            lon0 = math.floor(a / lon_step) * lon_step
            lat0 = math.floor(b / lat_step) * lat_step
            lon1 = math.ceil(c / lon_step) * lon_step
            lat1 = math.ceil(d / lat_step) * lat_step
            n_lon = max(int(round((lon1 - lon0) / lon_step)), 0)
            n_lat = max(int(round((lat1 - lat0) / lat_step)), 0)
            if n_lon == 0 or n_lat == 0:
                out.append(list(_geohash_core(
                    pd.Series([lon0]), pd.Series([lat0]), p)))
                continue
            lons, lats = [], []
            for ii in range(n_lon):
                for jj in range(n_lat):
                    lons.append(lon0 + lon_step * ii)
                    lats.append(lat0 + lat_step * jj)
            out.append(list(_geohash_core(pd.Series(lons), pd.Series(lats), p)))
        return pd.Series(out)

    return k(
        _lit(lon_min).cast("double"), _lit(lat_min).cast("double"),
        _lit(lon_max).cast("double"), _lit(lat_max).cast("double"),
    )


# ---------------------------------------------------------------------------
# install
# ---------------------------------------------------------------------------

def install(SCALAR: dict) -> None:
    add = SCALAR.setdefault
    # H3 — exact index math
    add("h3IsValid", lambda h: _h3_is_valid(_lit(h)).cast("boolean"))
    add("h3GetResolution", lambda h: _h3_res(_lit(h).cast("long")).cast("int"))
    add("h3GetBaseCell", lambda h: _h3_bc(_lit(h).cast("long")).cast("int"))
    add("h3ToString", _h3_to_string)
    add("stringToH3", _string_to_h3)
    add("h3IsPentagon", lambda h: _h3_is_pentagon(_lit(h)).cast("boolean"))
    add("h3IsResClassIII", lambda h: (
        _h3_res(_lit(h).cast("long")) % 2 == 1
    ).cast("boolean"))
    add("h3ToParent", _h3_to_parent)
    add("h3ToChildren", _h3_to_children)
    add("h3ToCenterChild", _h3_to_center_child)
    add("h3NumHexagons", _h3_num_hexagons)
    add("h3GetRes0Indexes", _h3_res0_indexes)
    add("h3GetPentagonIndexes", _h3_pentagon_indexes)
    add("h3HexAreaKm2", _h3_hex_area_km2)
    add("h3HexAreaM2", lambda r: _h3_hex_area_km2(r) * F.lit(1e6))
    add("h3GetOriginIndexFromUnidirectionalEdge", _h3_edge_origin)
    add("h3UnidirectionalEdgeIsValid",
        lambda e: _h3_edge_is_valid(e).cast("boolean"))
    add("h3GetUnidirectionalEdgesFromHexagon", _h3_edges_from_hexagon)
    add("h3PointDistRads", _h3_point_dist_rads)
    add("h3PointDistKm", lambda a, b, c, d:
        _h3_point_dist_rads(a, b, c, d) * F.lit(_H3_EARTH_R_KM))
    add("h3PointDistM", lambda a, b, c, d:
        _h3_point_dist_rads(a, b, c, d) * F.lit(_H3_EARTH_R_KM * 1000.0))
    # S2 — full cell-id math
    add("geoToS2", _geo_to_s2)
    add("s2ToGeo", _s2_to_geo)
    add("s2GetNeighbors", _s2_get_neighbors)
    add("s2CellsIntersect", _s2_cells_intersect)
    add("s2CapContains", _s2_cap_contains)
    add("s2CapUnion", _s2_cap_union)
    add("s2RectAdd", _s2_rect_add)
    add("s2RectContains", _s2_rect_contains)
    add("s2RectUnion", _s2_rect_union)
    add("s2RectIntersection", _s2_rect_intersection)
    # Geohash tail
    add("geohashDecode", _geohash_decode)
    add("geohashesInBox", _geohashes_in_box)


def sql_kernels() -> dict:
    """SQL-registrable pandas UDFs for the kernel-backed geo names, so
    the CH SQL frontend can call them (spark.udf.register keeps them
    Arrow-batched — same execution shape as the Column API)."""
    @F.pandas_udf("col1 double, col2 double")
    def s2ToGeo(c: pd.Series) -> pd.DataFrame:
        lon, lat = _s2_deg_from_id(_u64(c))
        return pd.DataFrame({"col1": lon, "col2": lat})

    @F.pandas_udf("col1 double, col2 double")
    def geohashDecode(c: pd.Series) -> pd.DataFrame:
        # fields named col1/col2 so CH tuple access `.1`/`.2` (rewritten
        # to .colN) resolves on the SQL surface
        lons, lats = _geohash_decode_core(c.tolist())
        return pd.DataFrame({"col1": lons, "col2": lats})

    @F.pandas_udf("string")
    def geohashEncode(lo: pd.Series, la: pd.Series, prec: pd.Series) -> pd.Series:
        from byconity_spark.functions.registry import _geohash_core
        # per-ROW precision: group by distinct precision value so a
        # column-valued precision encodes every row correctly (constant
        # precisions take exactly one group — same cost as before)
        pr = prec.fillna(12).astype("int64").replace(0, 12).clip(1, 12)
        out = pd.Series([""] * len(lo), index=lo.index, dtype=object)
        for p, idx in pr.groupby(pr).groups.items():
            out.loc[idx] = _geohash_core(
                lo.loc[idx].tolist(), la.loc[idx].tolist(), int(p)
            )
        return out

    return {
        "geohashEncode": geohashEncode,
        "geoToS2": geoToS2,
        "s2ToGeo": s2ToGeo,
        "s2CellsIntersect": s2CellsIntersect,
        "s2GetNeighbors": s2GetNeighbors,
        "s2CapContains": s2CapContains,
        "geohashDecode": geohashDecode,
    }

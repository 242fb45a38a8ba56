"""Geometry helpers without native deps (SURVEY §2.2 P3/P4).

Clean-room equivalents of `minmodkg/misc/geo.py` (merge_wkt / merge_wkts /
reproject_wkt), which route through shapely + pyproj.  Neither library is
in this sandbox, so:

- WKT handling is **textual**: geometries are validated by keyword +
  balanced parentheses and merged by wrapping in ``GEOMETRYCOLLECTION``
  (the reference's loads→dumps roundtrip additionally normalizes number
  formatting — a lexical, not semantic, divergence, documented here);
- reprojection transforms every coordinate pair in the WKT body with the
  spherical-mercator math (EPSG:3857 ⇄ EPSG:4326) — the same transform
  pyproj applies for 3857; other CRS pairs raise.

All functions are plain Python for use inside Arrow kernels — never
per-row UDFs.
"""

from __future__ import annotations

import math
import re
from typing import Iterable, Optional

_WGS84_R = 6378137.0

_WKT_TYPES = (
    "POINT",
    "LINESTRING",
    "POLYGON",
    "MULTIPOINT",
    "MULTILINESTRING",
    "MULTIPOLYGON",
    "GEOMETRYCOLLECTION",
)

_COORD_PAIR_RE = re.compile(
    r"(-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)\s+(-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)"
)


def is_valid_wkt(wkt: Optional[str]) -> bool:
    """Cheap structural validation: known type keyword, balanced parens,
    at least one coordinate pair (EMPTY allowed)."""
    if not isinstance(wkt, str):
        return False
    s = wkt.strip()
    up = s.upper()
    if not any(up.startswith(t) for t in _WKT_TYPES):
        return False
    if up.endswith("EMPTY"):
        return True
    depth = 0
    for c in s:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0 and _COORD_PAIR_RE.search(s) is not None


def merge_wkt(wkts: Iterable[Optional[str]]) -> Optional[str]:
    """ref geo.py:12-30: skip unparseable entries; one geometry → itself;
    several → a GEOMETRYCOLLECTION; none → None."""
    geoms = [w.strip() for w in wkts if is_valid_wkt(w)]
    if not geoms:
        return None
    if len(geoms) == 1:
        return geoms[0]
    return "GEOMETRYCOLLECTION (" + ", ".join(geoms) + ")"


def _merc_inverse_xy(x: float, y: float) -> tuple[float, float]:
    lon = math.degrees(x / _WGS84_R)
    lat = math.degrees(math.atan(math.sinh(y / _WGS84_R)))
    return lon, lat


def _merc_forward_xy(lon: float, lat: float) -> tuple[float, float]:
    x = _WGS84_R * math.radians(lon)
    y = _WGS84_R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
    return x, y


# -- ellipsoidal projections (public formulas: Snyder 1987, USGS "Map
# Projections — A Working Manual", eqs. 3-21, 8-9..8-25, 15-1..15-11;
# same math pyproj applies for these CRSes in ref misc/geo.py:84-96) -------

# (semi-major axis a, flattening f)
_WGS84 = (6378137.0, 1 / 298.257223563)
_GRS80 = (6378137.0, 1 / 298.257222101)  # NAD83 ellipsoid
_CLARKE1866 = (6378206.4, 1.0 - 6356583.8 / 6378206.4)  # Snyder goldens

_FT_INTL = 0.3048  # international foot, exact


def _merid_arc(a: float, e2: float, phi: float) -> float:
    """Meridian arc length from the equator (Snyder eq. 3-21)."""
    e4, e6 = e2 * e2, e2 * e2 * e2
    return a * (
        (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
        - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * math.sin(2 * phi)
        + (15 * e4 / 256 + 45 * e6 / 1024) * math.sin(4 * phi)
        - (35 * e6 / 3072) * math.sin(6 * phi)
    )


def _tm_forward(
    lon: float, lat: float, lon0: float, k0: float, fe: float, fn: float,
    ell: tuple[float, float],
) -> tuple[float, float]:
    """Ellipsoidal Transverse Mercator forward (Snyder eqs. 8-9..8-15)."""
    a, f = ell
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    phi = math.radians(lat)
    lam = math.radians(lon - lon0)
    sphi, cphi = math.sin(phi), math.cos(phi)
    N = a / math.sqrt(1 - e2 * sphi * sphi)
    T = math.tan(phi) ** 2
    C = ep2 * cphi * cphi
    A = lam * cphi
    M = _merid_arc(a, e2, phi)
    x = k0 * N * (
        A
        + (1 - T + C) * A**3 / 6
        + (5 - 18 * T + T * T + 72 * C - 58 * ep2) * A**5 / 120
    )
    y = k0 * (
        M
        + N * math.tan(phi) * (
            A * A / 2
            + (5 - T + 9 * C + 4 * C * C) * A**4 / 24
            + (61 - 58 * T + T * T + 600 * C - 330 * ep2) * A**6 / 720
        )
    )
    return fe + x, fn + y


def _tm_inverse(
    x: float, y: float, lon0: float, k0: float, fe: float, fn: float,
    ell: tuple[float, float],
) -> tuple[float, float]:
    """Ellipsoidal Transverse Mercator inverse (Snyder eqs. 8-18..8-25)."""
    a, f = ell
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    M = (y - fn) / k0
    mu = M / (a * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2**3 / 256))
    e1 = (1 - math.sqrt(1 - e2)) / (1 + math.sqrt(1 - e2))
    phi1 = (
        mu
        + (3 * e1 / 2 - 27 * e1**3 / 32) * math.sin(2 * mu)
        + (21 * e1**2 / 16 - 55 * e1**4 / 32) * math.sin(4 * mu)
        + (151 * e1**3 / 96) * math.sin(6 * mu)
        + (1097 * e1**4 / 512) * math.sin(8 * mu)
    )
    s1, c1 = math.sin(phi1), math.cos(phi1)
    C1 = ep2 * c1 * c1
    T1 = math.tan(phi1) ** 2
    N1 = a / math.sqrt(1 - e2 * s1 * s1)
    R1 = a * (1 - e2) / (1 - e2 * s1 * s1) ** 1.5
    D = (x - fe) / (N1 * k0)
    phi = phi1 - (N1 * math.tan(phi1) / R1) * (
        D * D / 2
        - (5 + 3 * T1 + 10 * C1 - 4 * C1 * C1 - 9 * ep2) * D**4 / 24
        + (61 + 90 * T1 + 298 * C1 + 45 * T1 * T1 - 252 * ep2 - 3 * C1 * C1)
        * D**6
        / 720
    )
    lam = (
        D
        - (1 + 2 * T1 + C1) * D**3 / 6
        + (5 - 2 * C1 + 28 * T1 - 3 * C1 * C1 + 8 * ep2 + 24 * T1 * T1)
        * D**5
        / 120
    ) / c1
    return lon0 + math.degrees(lam), math.degrees(phi)


def _lcc2sp(
    ell: tuple[float, float], lat1: float, lat2: float, lat0: float,
    lon0: float, fe: float, fn: float,
):
    """Lambert Conformal Conic 2SP forward/inverse closures (Snyder
    eqs. 15-1..15-11 / EPSG guidance note 7-2 method 9802)."""
    a, f = ell
    e2 = f * (2 - f)
    e = math.sqrt(e2)

    def m(phi):
        return math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) ** 2)

    def t(phi):
        sp = math.sin(phi)
        return math.tan(math.pi / 4 - phi / 2) / (
            (1 - e * sp) / (1 + e * sp)
        ) ** (e / 2)

    p1, p2, p0 = map(math.radians, (lat1, lat2, lat0))
    n = (math.log(m(p1)) - math.log(m(p2))) / (math.log(t(p1)) - math.log(t(p2)))
    F_ = m(p1) / (n * t(p1) ** n)
    rho0 = a * F_ * t(p0) ** n

    def forward(lon, lat):
        rho = a * F_ * t(math.radians(lat)) ** n
        th = n * math.radians(lon - lon0)
        return fe + rho * math.sin(th), fn + rho0 - rho * math.cos(th)

    def inverse(x, y):
        dx, dy = x - fe, rho0 - (y - fn)
        rho = math.copysign(math.hypot(dx, dy), n)
        tp = (rho / (a * F_)) ** (1 / n)
        th = math.atan2(dx, dy)
        lam = th / n + math.radians(lon0)
        phi = math.pi / 2 - 2 * math.atan(tp)
        for _ in range(15):  # converges in ~4 iterations to 1e-12
            sp = math.sin(phi)
            phi_next = math.pi / 2 - 2 * math.atan(
                tp * ((1 - e * sp) / (1 + e * sp)) ** (e / 2)
            )
            if abs(phi_next - phi) < 1e-13:
                phi = phi_next
                break
            phi = phi_next
        return math.degrees(lam), math.degrees(phi)

    return forward, inverse


def _scaled(fwd, inv, unit: float):
    """Wrap a metre-based projection in a linear unit (e.g. intl feet)."""
    return (
        lambda lon, lat: tuple(v / unit for v in fwd(lon, lat)),
        lambda x, y: inv(x * unit, y * unit),
    )


def _crs_transforms(crs: str):
    """(from_wgs84(lon,lat)->(x,y), to_wgs84(x,y)->(lon,lat)) for a
    supported EPSG code, else None.

    Datum policy (documented approximations, matching the precision a
    mineral-site location needs):
    - NAD83/GRS80-based CRSes (EPSG:269xx UTM, EPSG:2994) treat
      NAD83 ≈ WGS84 (datum offset ≤ ~2 m);
    - EPSG:4267 (NAD27 geographic) ≈ WGS84 (datum shift ≤ ~100 m in
      CONUS) — the reference's pyproj applies the same ballpark when no
      grid-shift files are installed.
    """
    if not crs.startswith("EPSG:"):
        return None
    try:
        code = int(crs[5:])
    except ValueError:
        return None
    if code in (4326, 4267):  # geographic; NAD27 ≈ WGS84 (see docstring)
        return (lambda lon, lat: (lon, lat)), (lambda x, y: (x, y))
    if code == 3857:
        return _merc_forward_xy, _merc_inverse_xy
    if 32601 <= code <= 32660:  # WGS84 / UTM zone N
        zone, ell, fn = code - 32600, _WGS84, 0.0
    elif 32701 <= code <= 32760:  # WGS84 / UTM zone S
        zone, ell, fn = code - 32700, _WGS84, 10_000_000.0
    elif 26901 <= code <= 26923:  # NAD83 / UTM zone N
        zone, ell, fn = code - 26900, _GRS80, 0.0
    elif code in (2993, 2994):
        # NAD83(HARN) / Oregon GIC Lambert (m / intl ft) — EPSG 9802:
        # sp 43°N & 45°30'N, origin 41°45'N 120°30'W, FE 400 000 m
        # (= 1 312 335.958 intl ft), FN 0
        fwd, inv = _lcc2sp(_GRS80, 43.0, 45.5, 41.75, -120.5, 400_000.0, 0.0)
        if code == 2994:
            fwd, inv = _scaled(fwd, inv, _FT_INTL)
        return fwd, inv
    else:
        return None
    lon0 = zone * 6 - 183
    return (
        lambda lon, lat: _tm_forward(lon, lat, lon0, 0.9996, 500_000.0, fn, ell),
        lambda x, y: _tm_inverse(x, y, lon0, 0.9996, 500_000.0, fn, ell),
    )


def is_supported_crs(crs: Optional[str]) -> bool:
    return crs is not None and _crs_transforms(crs) is not None


def supported_crs_names() -> list[str]:
    """Static enumeration: the vocab check's supported-CRS set."""
    names = {"EPSG:4326", "EPSG:4267", "EPSG:3857", "EPSG:2993", "EPSG:2994"}
    names |= {f"EPSG:{32600 + z}" for z in range(1, 61)}
    names |= {f"EPSG:{32700 + z}" for z in range(1, 61)}
    names |= {f"EPSG:{26900 + z}" for z in range(1, 24)}
    return sorted(names)


def point_to_wgs84(x: float, y: float, crs: str) -> tuple[float, float]:
    """(x, y) in ``crs`` → (lon, lat).  Raises for unsupported CRS."""
    tr = _crs_transforms(crs)
    if tr is None:
        raise NotImplementedError(f"unsupported CRS {crs}")
    return tr[1](x, y)


def reproject_wkt(wkt: str, from_crs: str, to_crs: str) -> str:
    """ref geo.py:67-79: transform every coordinate pair.  Supported CRSes
    (any pair, routed through WGS84): EPSG:4326, EPSG:4267 (≈WGS84),
    EPSG:3857, WGS84 UTM (326xx/327xx), NAD83 UTM (269xx), Oregon GIC
    Lambert (2993/2994) — the reference's own crs.csv vocabulary;
    identical CRS is a no-op.

    NOTE axis order: the reference's pyproj Transformer.from_crs(3857,
    4326) yields (lat, lon) for EPSG:4326 in authority order; WKT
    convention (and the reference's stored POINTs) is (x y) = (lon lat),
    which is what this produces.
    """
    assert from_crs.startswith("EPSG:"), from_crs
    assert to_crs.startswith("EPSG:"), to_crs
    if from_crs == to_crs:
        return wkt
    src = _crs_transforms(from_crs)
    dst = _crs_transforms(to_crs)
    if src is None or dst is None:
        bad = from_crs if src is None else to_crs
        raise NotImplementedError(f"unsupported CRS {bad}")
    to_wgs, from_wgs = src[1], dst[0]

    def fn(x: float, y: float) -> tuple[float, float]:
        return from_wgs(*to_wgs(x, y))

    def sub(m: re.Match) -> str:
        a, b = fn(float(m.group(1)), float(m.group(2)))
        return f"{a!r} {b!r}"

    return _COORD_PAIR_RE.sub(sub, wkt)


def merge_wkts(
    entries: list[tuple[int, Optional[str], str]],
    min_rank: Optional[int] = None,
) -> tuple[str, str]:
    """Semantics of ref geo.py:33-65 over (rank, crs, wkt) entries:

    - only entries at the top rank participate (or ``min_rank``+ if given);
    - a missing CRS defaults to EPSG:4326;
    - when several CRSes appear, everything converges on EPSG:4326 if
      present, else on an arbitrary member, via ``reproject_wkt``;
    - distinct surviving WKTs merge into one geometry (collection when >1).

    Returns ``(crs, wkt)`` — empty strings when nothing survives.
    """
    cutoff = min_rank if min_rank is not None else max(r for r, _, _ in entries)
    survivors = {}
    for rank, crs, wkt in entries:
        if rank >= cutoff:
            survivors.setdefault(crs or "EPSG:4326", []).append(wkt)

    if not survivors:
        return "", ""
    if len(survivors) == 1:
        target = next(iter(survivors))
        wkts = survivors[target]
    else:
        target = "EPSG:4326" if "EPSG:4326" in survivors else next(iter(survivors))
        wkts = []
        for crs, group in survivors.items():
            wkts.extend(reproject_wkt(w, crs, target) for w in group)

    distinct = sorted(set(wkts))
    if len(distinct) == 1:
        return target, distinct[0]
    merged = merge_wkt(distinct)
    return target, merged if merged is not None else ""

"""Geometry math: measures, predicates, buffers, CRS transforms.

Replicates the metric formulas the reference applies (see SURVEY.md §2.6):

* area   — EPSG:3857 planar area × cos²(centroid lat) (`/root/reference/erde/op/area.py:44`)
* length — EPSG:3857 planar length × cos(centroid lat) (`/root/reference/erde/op/length.py:44`)
* buffer — radius / cos(centroid lat) in EPSG:3857 (`/root/reference/erde/op/buffer.py:44`)
* coslat — cos(lat of 3857-centroid converted back to 4326) (`/root/reference/erde/utils.py:53-67`)

The 4326↔3857 transform is the closed-form spherical Mercator (public
formula; what pyproj computes for EPSG:3857), so no pyproj dependency.

Predicates (intersects / within / contains) implement simple-features
semantics for the geometry combinations the reference's tests exercise
(point/line/polygon and their Multi* variants). Not a general-purpose GEOS
replacement: exotic cases (self-intersecting rings, shared-boundary-only
"within") follow documented approximations.
"""

from __future__ import annotations

import math
import os

from erde_spark.geo.geom import Geometry

_R = 6378137.0  # WGS84 / spherical-Mercator radius


# ---------------------------------------------------------------- transforms

def mercator_fwd(lon: float, lat: float) -> tuple[float, float]:
    """EPSG:4326 -> EPSG:3857."""
    x = _R * math.radians(lon)
    y = _R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
    return x, y


def mercator_inv(x: float, y: float) -> tuple[float, float]:
    """EPSG:3857 -> EPSG:4326."""
    lon = math.degrees(x / _R)
    lat = math.degrees(2 * math.atan(math.exp(y / _R)) - math.pi / 2)
    return lon, lat


def _map_coords(geom: Geometry, fn) -> Geometry:
    gtype, data = geom
    if gtype == 'Point':
        return (gtype, fn(*data))
    if gtype in ('LineString', 'MultiPoint'):
        return (gtype, [fn(*c) for c in data])
    if gtype in ('Polygon', 'MultiLineString'):
        return (gtype, [[fn(*c) for c in part] for part in data])
    if gtype == 'MultiPolygon':
        return (gtype, [[[fn(*c) for c in ring] for ring in poly] for poly in data])
    if gtype == 'GeometryCollection':
        return (gtype, [_map_coords(g, fn) for g in data])
    raise ValueError(gtype)


# -- transverse Mercator (generalized Krüger) ----------------------------
# Krüger flattening series to n^3 (public formulas; see the exposition in
# Karney 2011 "Transverse Mercator with an accuracy of a few nanometers"
# and the standard UTM parameterization), generalized over ellipsoid and
# the full EPSG 9807 parameter set (lat0/lon0/k0/false E-N). Truncation
# error is O(n^4 * a) ~ 0.05 mm — far below the 1 cm contract.

#: (semi-major axis a, flattening f) — the ellipsoids the CRS registry uses
ELLIPSOIDS = {
    'WGS84': (6378137.0, 1.0 / 298.257223563),
    'GRS80': (6378137.0, 1.0 / 298.257222101),
    'airy': (6377563.396, 1.0 / 299.3249646),       # Airy 1830 (OSGB36)
    'intl': (6378388.0, 1.0 / 297.0),               # International 1924
    'clrk66': (6378206.4, 1.0 / 294.978698214),     # Clarke 1866 (NAD27)
    'bessel': (6377397.155, 1.0 / 299.1528128),     # Bessel 1841
    'evrst30': (6377298.556, 1.0 / 300.8017),       # Everest 1830 (1967)
    'krass': (6378245.0, 1.0 / 298.3),              # Krassowsky 1940
    'GRS67': (6378160.0, 1.0 / 298.247167427),      # GRS 1967 modified
    'airy-mod': (6377340.189, 1.0 / 299.3249646),   # Airy Modified (TM75)
    # Clarke 1880 (IGN): a, b = 6378249.2, 6356515 -> f = (a-b)/a
    'clrk80ign': (6378249.2, 21734.2 / 6378249.2),
    'WGS72': (6378135.0, 1.0 / 298.26),             # WGS 72
    'IAG75': (6378140.0, 1.0 / 298.257),            # IAG 1975 (Xian 80)
}

_WGS84_A, _WGS84_F = ELLIPSOIDS['WGS84']


def _memo(fn):
    """Per-function constants cache: every projection family derives a
    small tuple of ellipsoid/zone constants from its (hashable)
    parameters once and reuses it across millions of coordinate calls."""
    cache: dict = {}

    def wrap(*args):
        c = cache.get(args)
        if c is None:
            c = cache[args] = fn(*args)
        return c
    return wrap


def _ecc(f: float) -> float:
    """First eccentricity e from flattening f."""
    return math.sqrt(f * (2.0 - f))


def _epsg_m(phi: float, e: float) -> float:
    """EPSG's m = cos(phi) / sqrt(1 - e^2 sin^2 phi) — shared by the
    conic families (GN7-2 uses the same symbol in 9802 and 9822)."""
    s = math.sin(phi)
    return math.cos(phi) / math.sqrt(1 - e * e * s * s)


def _conf_t(phi: float, e: float) -> float:
    """EPSG's t = tan(pi/4 - phi/2) / ((1 - e sin phi)/(1 + e sin phi))
    ^(e/2) — the conformal-latitude kernel shared by LCC (9802) and
    Hotine oblique Mercator (9815)."""
    es = e * math.sin(phi)
    return (math.tan(math.pi / 4 - phi / 2)
            / ((1 - es) / (1 + es)) ** (e / 2))


@_memo
def _tm_consts(a: float, f: float):
    """Cached Krüger series constants for one ellipsoid: (rectifying
    radius A, alpha, beta, delta, 2*sqrt(n)/(1+n))."""
    n = f / (2.0 - f)
    A = a / (1 + n) * (1 + n ** 2 / 4 + n ** 4 / 64)
    alpha = (n / 2 - 2 * n ** 2 / 3 + 5 * n ** 3 / 16,
             13 * n ** 2 / 48 - 3 * n ** 3 / 5,
             61 * n ** 3 / 240)
    beta = (n / 2 - 2 * n ** 2 / 3 + 37 * n ** 3 / 96,
            n ** 2 / 48 + n ** 3 / 15,
            17 * n ** 3 / 480)
    delta = (2 * n - 2 * n ** 2 / 3 - 2 * n ** 3,
             7 * n ** 2 / 3 - 8 * n ** 3 / 5,
             56 * n ** 3 / 15)
    return (A, alpha, beta, delta, 2.0 * math.sqrt(n) / (1.0 + n))


def _tm_xi_eta(phi: float, dlam: float, consts):
    """Conformal (xi', eta') then full (xi, eta) Gauss-Krüger coords."""
    A, alpha, _, _, sq2n = consts
    s = math.sin(phi)
    if abs(s) >= 1.0:
        # pole: conformal latitude is exactly +-pi/2 and every series
        # term sin(2j*xi) vanishes — needed for lat0=+-90 natural
        # origins (Gauss-Krueger fajas measure northings from the pole)
        return math.copysign(math.pi / 2, phi), 0.0
    t = math.sinh(math.atanh(s) - sq2n * math.atanh(sq2n * s))
    xi = math.atan2(t, math.cos(dlam))
    eta = math.asinh(math.sin(dlam) / math.hypot(t, math.cos(dlam)))
    x, y = eta, xi
    for j, c in enumerate(alpha, start=1):
        x += c * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
        y += c * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
    return y, x  # (xi_full, eta_full)


def tm_fwd(lon: float, lat: float, a: float, f: float, lat0: float,
           lon0: float, k0: float, fe: float, fn: float):
    """(lon, lat) degrees -> projected E/N for a transverse Mercator with
    natural origin (``lat0``, ``lon0``) radians, scale ``k0`` and false
    easting/northing (EPSG method 9807)."""
    consts = _tm_consts(a, f)
    A = consts[0]
    xi, eta = _tm_xi_eta(math.radians(lat), math.radians(lon) - lon0, consts)
    # meridian arc from the equator to lat0, in the same rectifying scale
    xi0 = _tm_xi_eta(lat0, 0.0, consts)[0] if lat0 else 0.0
    return fe + k0 * A * eta, fn + k0 * A * (xi - xi0)


def tm_inv(e: float, n: float, a: float, f: float, lat0: float,
           lon0: float, k0: float, fe: float, fn: float):
    """Projected E/N -> (lon, lat) degrees (EPSG method 9807 inverse)."""
    consts = _tm_consts(a, f)
    A, _, beta, delta, _ = consts
    xi0 = _tm_xi_eta(lat0, 0.0, consts)[0] if lat0 else 0.0
    xi = (n - fn) / (k0 * A) + xi0
    eta = (e - fe) / (k0 * A)
    xi_p, eta_p = xi, eta
    for j, b in enumerate(beta, start=1):
        xi_p -= b * math.sin(2 * j * xi) * math.cosh(2 * j * eta)
        eta_p -= b * math.cos(2 * j * xi) * math.sinh(2 * j * eta)
    chi = math.asin(math.sin(xi_p) / math.cosh(eta_p))
    phi = chi
    for j, d in enumerate(delta, start=1):
        phi += d * math.sin(2 * j * chi)
    lam = lon0 + math.atan2(math.sinh(eta_p), math.cos(xi_p))
    return math.degrees(lam), math.degrees(phi)


def utm_fwd(lon: float, lat: float, lon0: float, n0: float):
    """(lon, lat) degrees -> WGS84 UTM easting/northing for central
    meridian ``lon0`` (radians) and false northing ``n0``."""
    return tm_fwd(lon, lat, _WGS84_A, _WGS84_F, 0.0, lon0, 0.9996,
                  500000.0, n0)


def utm_inv(e: float, n: float, lon0: float, n0: float):
    """WGS84 UTM easting/northing -> (lon, lat) degrees."""
    return tm_inv(e, n, _WGS84_A, _WGS84_F, 0.0, lon0, 0.9996,
                  500000.0, n0)


# -- Lambert Conformal Conic (2SP, EPSG method 9802) ---------------------
# Closed-form ellipsoidal formulas from the public EPSG Guidance Note 7-2
# / Snyder "Map Projections: A Working Manual" (USGS PP 1395, 1987).

@_memo
def _lcc_consts(a: float, f: float, lat0: float, phi1: float, phi2: float):
    e = _ecc(f)
    m1, m2 = _epsg_m(phi1, e), _epsg_m(phi2, e)
    t0, t1, t2 = (_conf_t(p, e) for p in (lat0, phi1, phi2))
    n = ((math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
         if phi1 != phi2 else math.sin(phi1))
    big_f = m1 / (n * t1 ** n)
    r0 = a * big_f * t0 ** n
    return (e, n, big_f, r0)


def lcc_fwd(lon: float, lat: float, a: float, f: float, lat0: float,
            lon0: float, phi1: float, phi2: float, fe: float, fn: float):
    """(lon, lat) degrees -> Lambert Conformal Conic (2SP) E/N; ``lat0``/
    ``lon0`` = false-origin latitude/longitude, ``phi1``/``phi2`` =
    standard parallels (all radians)."""
    e, n, big_f, r0 = _lcc_consts(a, f, lat0, phi1, phi2)
    phi = math.radians(lat)
    r = a * big_f * _conf_t(phi, e) ** n
    theta = n * (math.radians(lon) - lon0)
    return fe + r * math.sin(theta), fn + r0 - r * math.cos(theta)


@_memo
def _lcc1_consts(a: float, f: float, lat0: float, k0: float):
    """(e, n, F, r0) for LCC-1SP (EPSG 9801): the cone touches at lat0
    with scale k0 — n = sin(lat0), F from the conformal radius there."""
    e = _ecc(f)
    n = math.sin(lat0)
    t0 = _conf_t(lat0, e)
    big_f = _epsg_m(lat0, e) / (n * t0 ** n)
    r0 = a * big_f * t0 ** n * k0
    return (e, n, big_f, r0)


def lcc1_fwd(lon: float, lat: float, a: float, f: float, lat0: float,
             lon0: float, k0: float, fe: float, fn: float):
    """(lon, lat) degrees -> Lambert Conformal Conic (1SP, EPSG 9801)
    E/N: natural-origin latitude ``lat0`` (radians), central meridian
    ``lon0`` (radians), scale ``k0`` at the origin. The classic French
    NTF zones, Maghreb Lamberts, and Jamaica grids use this method;
    pinned against the published EPSG Guidance Note 7-2 worked example
    in tests/test_convert.py."""
    e, n, big_f, r0 = _lcc1_consts(a, f, lat0, k0)
    phi = math.radians(lat)
    r = a * big_f * _conf_t(phi, e) ** n * k0
    theta = n * (math.radians(lon) - lon0)
    return fe + r * math.sin(theta), fn + r0 - r * math.cos(theta)


def lcc1_inv(east: float, north: float, a: float, f: float, lat0: float,
             lon0: float, k0: float, fe: float, fn: float):
    """Lambert Conformal Conic (1SP) E/N -> (lon, lat) degrees."""
    e, n, big_f, r0 = _lcc1_consts(a, f, lat0, k0)
    dx, dy = east - fe, r0 - (north - fn)
    r = math.hypot(dx, dy)
    if n < 0:
        r, dx, dy = -r, -dx, -dy
    theta = math.atan2(dx, dy)
    t = (r / (a * big_f * k0)) ** (1.0 / n)
    phi = math.pi / 2 - 2 * math.atan(t)
    for _ in range(8):
        es = e * math.sin(phi)
        phi = math.pi / 2 - 2 * math.atan(t * ((1 - es) / (1 + es)) ** (e / 2))
    return math.degrees(lon0 + theta / n), math.degrees(phi)


def lcc_inv(east: float, north: float, a: float, f: float, lat0: float,
            lon0: float, phi1: float, phi2: float, fe: float, fn: float):
    """Lambert Conformal Conic (2SP) E/N -> (lon, lat) degrees."""
    e, n, big_f, r0 = _lcc_consts(a, f, lat0, phi1, phi2)
    dx, dy = east - fe, r0 - (north - fn)
    r = math.hypot(dx, dy)
    if n < 0:  # south-facing cone: r and both atan2 operands negate
        r, dx, dy = -r, -dx, -dy
    theta = math.atan2(dx, dy)
    t = (r / (a * big_f)) ** (1.0 / n)
    phi = math.pi / 2 - 2 * math.atan(t)
    for _ in range(8):  # converges to <1e-12 rad in ~4 iterations
        es = e * math.sin(phi)
        phi = math.pi / 2 - 2 * math.atan(t * ((1 - es) / (1 + es)) ** (e / 2))
    return math.degrees(lon0 + theta / n), math.degrees(phi)


# -- datum shift (7-parameter Helmert, EPSG 9606 position vector) --------

# -- Oblique Stereographic (EPSG method 9809: RD New 28992 etc.) ---------

@_memo
def _sterea_consts(a, f, lat0, k0):
    """(e, R, n, c, chi0) per EPSG Guidance Note 7-2 §3.2.5.2."""
    e = _ecc(f)
    e2 = e * e
    s0 = math.sin(lat0)
    rho0 = a * (1 - e2) / (1 - e2 * s0 * s0) ** 1.5
    nu0 = a / math.sqrt(1 - e2 * s0 * s0)
    R = math.sqrt(rho0 * nu0)
    n = math.sqrt(1 + e2 * math.cos(lat0) ** 4 / (1 - e2))
    S1 = (1 + s0) / (1 - s0)
    S2 = (1 - e * s0) / (1 + e * s0)
    w1 = (S1 * S2 ** e) ** n
    sin_chi0 = (w1 - 1) / (w1 + 1)
    c = ((n + s0) * (1 - sin_chi0)) / ((n - s0) * (1 + sin_chi0))
    w2 = c * w1
    chi0 = math.asin((w2 - 1) / (w2 + 1))
    return (e, R, n, c, chi0)


def sterea_fwd(lon: float, lat: float, a: float, f: float, lat0: float,
               lon0: float, k0: float, fe: float, fn: float):
    """(lon, lat) degrees -> E/N, Oblique Stereographic on the conformal
    sphere (EPSG 9809 — the RD New / Amersfoort method)."""
    e, R, n, c, chi0 = _sterea_consts(a, f, lat0, k0)
    phi, lam = math.radians(lat), math.radians(lon)
    Lam = n * (lam - lon0) + lon0
    s = math.sin(phi)
    w = c * (((1 + s) / (1 - s)) * ((1 - e * s) / (1 + e * s)) ** e) ** n
    chi = math.asin((w - 1) / (w + 1))
    dl = Lam - lon0
    B = (1 + math.sin(chi) * math.sin(chi0)
         + math.cos(chi) * math.cos(chi0) * math.cos(dl))
    east = fe + 2 * R * k0 * math.cos(chi) * math.sin(dl) / B
    north = fn + 2 * R * k0 * (math.sin(chi) * math.cos(chi0)
                               - math.cos(chi) * math.sin(chi0)
                               * math.cos(dl)) / B
    return east, north


def sterea_inv(east: float, north: float, a: float, f: float, lat0: float,
               lon0: float, k0: float, fe: float, fn: float):
    """E/N -> (lon, lat) degrees for EPSG 9809 (iterative latitude)."""
    e, R, n, c, chi0 = _sterea_consts(a, f, lat0, k0)
    e2 = e * e
    de, dn = east - fe, north - fn
    g = 2 * R * k0 * math.tan(math.pi / 4 - chi0 / 2)
    h = 4 * R * k0 * math.tan(chi0) + g
    i = math.atan2(de, h + dn)
    j = math.atan2(de, g - dn) - i
    chi = chi0 + 2 * math.atan((dn - de * math.tan(j / 2)) / (2 * R * k0))
    Lam = j + 2 * i + lon0
    lam = (Lam - lon0) / n + lon0
    # conformal -> geodetic latitude via the isometric latitude
    psi = 0.5 * math.log((1 + math.sin(chi))
                         / (c * (1 - math.sin(chi)))) / n
    phi = 2 * math.atan(math.exp(psi)) - math.pi / 2
    for _ in range(6):
        s = math.sin(phi)
        psi_i = math.log(math.tan(phi / 2 + math.pi / 4)
                         * ((1 - e * s) / (1 + e * s)) ** (e / 2))
        phi -= (psi_i - psi) * math.cos(phi) * (1 - e2 * s * s) / (1 - e2)
    return math.degrees(lam), math.degrees(phi)


# -- Hotine Oblique Mercator variant B (EPSG 9815: Swiss LV95, RSO) ------

@_memo
def _omerc_consts(a, f, latc, lonc, alphac, kc):
    """(e, B, A, H, gamma0, lam0, uc) per EPSG GN7-2 §3.2.6."""
    e = _ecc(f)
    e2 = e * e
    sc, cc = math.sin(latc), math.cos(latc)
    B = math.sqrt(1 + e2 * cc ** 4 / (1 - e2))
    A = a * B * kc * math.sqrt(1 - e2) / (1 - e2 * sc * sc)
    t0 = _conf_t(latc, e)
    D = B * math.sqrt(1 - e2) / (cc * math.sqrt(1 - e2 * sc * sc))
    DD = max(D * D, 1.0)
    F = D + math.copysign(math.sqrt(DD - 1), latc)
    H = F * t0 ** B
    G = (F - 1 / F) / 2
    gamma0 = math.asin(math.sin(alphac) / D)
    lam0 = lonc - math.asin(G * math.tan(gamma0)) / B
    if abs(abs(alphac) - math.pi / 2) < 1e-12:
        uc = A * (lonc - lam0)
    else:
        uc = math.copysign(
            (A / B) * math.atan2(math.sqrt(DD - 1), math.cos(alphac)),
            latc)
    return (e, B, A, H, gamma0, lam0, uc)


def omerc_fwd(lon: float, lat: float, a: float, f: float, latc: float,
              lonc: float, alphac: float, gammac: float, kc: float,
              ec: float, nc: float):
    """(lon, lat) degrees -> E/N, Hotine Oblique Mercator variant B
    (EPSG 9815) — Swiss LV95 (azimuth 90) and Borneo RSO shapes."""
    e, B, A, H, gamma0, lam0, uc = _omerc_consts(a, f, latc, lonc,
                                                 alphac, kc)
    phi, lam = math.radians(lat), math.radians(lon)
    Q = H / _conf_t(phi, e) ** B
    S = (Q - 1 / Q) / 2
    T = (Q + 1 / Q) / 2
    dl = B * (lam - lam0)
    V = math.sin(dl)
    U = (-V * math.cos(gamma0) + S * math.sin(gamma0)) / T
    v = A * math.log((1 - U) / (1 + U)) / (2 * B)
    u = (A * math.atan2(S * math.cos(gamma0) + V * math.sin(gamma0),
                        math.cos(dl)) / B) - math.copysign(abs(uc), latc)
    east = v * math.cos(gammac) + u * math.sin(gammac) + ec
    north = u * math.cos(gammac) - v * math.sin(gammac) + nc
    return east, north


def omerc_inv(east: float, north: float, a: float, f: float, latc: float,
              lonc: float, alphac: float, gammac: float, kc: float,
              ec: float, nc: float):
    """E/N -> (lon, lat) degrees for EPSG 9815 variant B."""
    e, B, A, H, gamma0, lam0, uc = _omerc_consts(a, f, latc, lonc,
                                                 alphac, kc)
    e2 = e * e
    vp = (east - ec) * math.cos(gammac) - (north - nc) * math.sin(gammac)
    up = ((north - nc) * math.cos(gammac) + (east - ec) * math.sin(gammac)
          + math.copysign(abs(uc), latc))
    Qp = math.exp(-B * vp / A)
    Sp = (Qp - 1 / Qp) / 2
    Tp = (Qp + 1 / Qp) / 2
    Vp = math.sin(B * up / A)
    Up = (Vp * math.cos(gamma0) + Sp * math.sin(gamma0)) / Tp
    tp = (H / math.sqrt((1 + Up) / (1 - Up))) ** (1 / B)
    chi = math.pi / 2 - 2 * math.atan(tp)
    phi = (chi
           + math.sin(2 * chi) * (e2 / 2 + 5 * e2 ** 2 / 24 + e2 ** 3 / 12
                                  + 13 * e2 ** 4 / 360)
           + math.sin(4 * chi) * (7 * e2 ** 2 / 48 + 29 * e2 ** 3 / 240
                                  + 811 * e2 ** 4 / 11520)
           + math.sin(6 * chi) * (7 * e2 ** 3 / 120 + 81 * e2 ** 4 / 1120)
           + math.sin(8 * chi) * (4279 * e2 ** 4 / 161280))
    lam = lam0 - math.atan2(Sp * math.cos(gamma0) - Vp * math.sin(gamma0),
                            math.cos(B * up / A)) / B
    return math.degrees(lam), math.degrees(phi)


# -- Krovak (EPSG 9819, East-North axis flip of 5514) --------------------

@_memo
def _krovak_consts(a, f, latc, lat1, kp):
    """(e, A_, B_, gamma0, t0, n, r0) per EPSG GN7-2 §3.2.8."""
    e = _ecc(f)
    e2 = e * e
    sc = math.sin(latc)
    A_ = a * math.sqrt(1 - e2) / (1 - e2 * sc * sc)
    B_ = math.sqrt(1 + e2 * math.cos(latc) ** 4 / (1 - e2))
    gamma0 = math.asin(sc / B_)
    t0 = (math.tan(math.pi / 4 + gamma0 / 2)
          * ((1 + e * sc) / (1 - e * sc)) ** (e * B_ / 2)
          / math.tan(math.pi / 4 + latc / 2) ** B_)
    n = math.sin(lat1)
    r0 = kp * A_ / math.tan(lat1)
    return (e, A_, B_, gamma0, t0, n, r0)


def krovak_fwd(lon: float, lat: float, a: float, f: float, latc: float,
               lon0: float, alphac: float, lat1: float, kp: float,
               fe: float, fn: float):
    """(lon, lat) degrees -> EAST/NORTH (EPSG 5514 axis convention:
    E = -westing, N = -southing) for the Krovak oblique conformal conic
    (EPSG method 9819; S-JTSK, Czech/Slovak national grid)."""
    e, A_, B_, gamma0, t0, n, r0 = _krovak_consts(a, f, latc, lat1, kp)
    phi, lam = math.radians(lat), math.radians(lon)
    s = math.sin(phi)
    U = 2 * (math.atan(t0 * math.tan(phi / 2 + math.pi / 4) ** B_
                       / ((1 + e * s) / (1 - e * s)) ** (e * B_ / 2))
             - math.pi / 4)
    V = B_ * (lon0 - lam)
    T_ = math.asin(math.cos(alphac) * math.sin(U)
                   + math.sin(alphac) * math.cos(U) * math.cos(V))
    D_ = math.asin(math.cos(U) * math.sin(V) / math.cos(T_))
    theta = n * D_
    r = (r0 * math.tan(math.pi / 4 + lat1 / 2) ** n
         / math.tan(T_ / 2 + math.pi / 4) ** n)
    southing = r * math.cos(theta) + fn
    westing = r * math.sin(theta) + fe
    return -westing, -southing


def krovak_inv(east: float, north: float, a: float, f: float, latc: float,
               lon0: float, alphac: float, lat1: float, kp: float,
               fe: float, fn: float):
    """EAST/NORTH (5514 axis convention) -> (lon, lat) degrees."""
    e, A_, B_, gamma0, t0, n, r0 = _krovak_consts(a, f, latc, lat1, kp)
    southing, westing = -north - fn, -east - fe
    r = math.hypot(southing, westing)
    theta = math.atan2(westing, southing)
    D_ = theta / math.sin(lat1)
    T_ = 2 * (math.atan((r0 / r) ** (1 / n)
                        * math.tan(math.pi / 4 + lat1 / 2)) - math.pi / 4)
    U = math.asin(math.cos(alphac) * math.sin(T_)
                  - math.sin(alphac) * math.cos(T_) * math.cos(D_))
    V = math.asin(math.cos(T_) * math.sin(D_) / math.cos(U))
    lam = lon0 - V / B_
    phi = U
    for _ in range(6):
        s = math.sin(phi)
        phi = 2 * (math.atan(t0 ** (-1 / B_)
                             * math.tan(U / 2 + math.pi / 4) ** (1 / B_)
                             * ((1 + e * s) / (1 - e * s)) ** (e / 2))
                   - math.pi / 4)
    return math.degrees(lam), math.degrees(phi)


# -- equal-area family helpers (EPSG methods 9822 / 9820) ----------------

def _authalic_q(phi: float, e: float) -> float:
    """EPSG's q: the authalic-latitude integrand, q = (1-e^2)[sin phi /
    (1 - e^2 sin^2 phi) - (1/2e) ln((1 - e sin phi)/(1 + e sin phi))]."""
    s = math.sin(phi)
    if e == 0.0:
        return 2.0 * s  # sphere: the e->0 limit of the bracket is 2 sin phi
    return (1 - e * e) * (s / (1 - e * e * s * s)
                          - (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))


def _authalic_to_geodetic(beta: float, e: float) -> float:
    """Series inverse of the authalic latitude (EPSG GN7-2, both 9820
    and 9822 use it)."""
    e2 = e * e
    e4 = e2 * e2
    e6 = e4 * e2
    return (beta
            + (e2 / 3 + 31 * e4 / 180 + 517 * e6 / 5040) * math.sin(2 * beta)
            + (23 * e4 / 360 + 251 * e6 / 3780) * math.sin(4 * beta)
            + (761 * e6 / 45360) * math.sin(6 * beta))


# -- Albers Equal Area (EPSG method 9822: CONUS 5070 etc.) ---------------

@_memo
def _aea_consts(a, f, lat0, lat1, lat2):
    """(e, n, C, rho0) per EPSG GN7-2 §3.2.9 — previously derived
    inline (identically) in both the forward and the inverse."""
    e = _ecc(f)
    m1, m2 = _epsg_m(lat1, e), _epsg_m(lat2, e)
    q0, q1, q2 = (_authalic_q(p, e) for p in (lat0, lat1, lat2))
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = a * math.sqrt(C - n * q0) / n
    return (e, n, C, rho0)


def aea_fwd(lon: float, lat: float, a: float, f: float, lat0: float,
            lon0: float, lat1: float, lat2: float, fe: float, fn: float):
    """(lon, lat) degrees -> E/N for Albers Equal Area (EPSG 9822)."""
    e, n, C, rho0 = _aea_consts(a, f, lat0, lat1, lat2)
    phi = math.radians(lat)
    lam = math.radians(lon)
    rho = a * math.sqrt(C - n * _authalic_q(phi, e)) / n
    theta = n * (lam - lon0)
    return fe + rho * math.sin(theta), fn + rho0 - rho * math.cos(theta)


def aea_inv(east: float, north: float, a: float, f: float, lat0: float,
            lon0: float, lat1: float, lat2: float, fe: float, fn: float):
    """E/N -> (lon, lat) degrees for EPSG 9822."""
    e, n, C, rho0 = _aea_consts(a, f, lat0, lat1, lat2)
    x = east - fe
    y = rho0 - (north - fn)
    rho = math.hypot(x, y)
    if n < 0:
        rho, x, y = -rho, -x, -y
    theta = math.atan2(x, y)
    q = (C - rho * rho * n * n / (a * a)) / n
    qp = _authalic_q(math.pi / 2, e)
    beta = math.asin(max(-1.0, min(1.0, q / qp)))
    phi = _authalic_to_geodetic(beta, e)
    return math.degrees(lon0 + theta / n), math.degrees(phi)


# -- Lambert Azimuthal Equal Area (EPSG method 9820: LAEA 3035) ----------

@_memo
def _laea_consts(a: float, f: float, lat0: float):
    e = _ecc(f)
    qp = _authalic_q(math.pi / 2, e)
    q0 = _authalic_q(lat0, e)
    beta0 = math.asin(max(-1.0, min(1.0, q0 / qp)))
    rq = a * math.sqrt(qp / 2)
    d = a * _epsg_m(lat0, e) / (rq * math.cos(beta0))
    return e, qp, beta0, rq, d


def laea_fwd(lon: float, lat: float, a: float, f: float, lat0: float,
             lon0: float, fe: float, fn: float):
    """(lon, lat) degrees -> E/N for Lambert Azimuthal Equal Area
    (EPSG 9820; oblique aspect for 3035, polar aspect for the North
    Pole LAEA grids 3571-3576 — Snyder PP 1395 eq. 24-23/24-25)."""
    if abs(lat0) >= math.pi / 2 - 1e-12:
        e = _ecc(f)
        qp = _authalic_q(math.pi / 2, e)
        q = _authalic_q(math.radians(lat), e)
        dl = math.radians(lon) - lon0
        north_pole = lat0 > 0
        rho = a * math.sqrt(max(0.0, qp - q if north_pole else qp + q))
        if north_pole:
            return fe + rho * math.sin(dl), fn - rho * math.cos(dl)
        return fe + rho * math.sin(dl), fn + rho * math.cos(dl)
    e, qp, beta0, rq, d = _laea_consts(a, f, lat0)
    phi = math.radians(lat)
    lam = math.radians(lon)
    q = _authalic_q(phi, e)
    beta = math.asin(max(-1.0, min(1.0, q / qp)))
    dl = lam - lon0
    b = rq * math.sqrt(2 / (1 + math.sin(beta0) * math.sin(beta)
                            + math.cos(beta0) * math.cos(beta) * math.cos(dl)))
    east = fe + b * d * math.cos(beta) * math.sin(dl)
    north = fn + (b / d) * (math.cos(beta0) * math.sin(beta)
                            - math.sin(beta0) * math.cos(beta) * math.cos(dl))
    return east, north


def laea_inv(east: float, north: float, a: float, f: float, lat0: float,
             lon0: float, fe: float, fn: float):
    """E/N -> (lon, lat) degrees for EPSG 9820 (polar aspect included)."""
    if abs(lat0) >= math.pi / 2 - 1e-12:
        e = _ecc(f)
        qp = _authalic_q(math.pi / 2, e)
        x, y = east - fe, north - fn
        rho = math.hypot(x, y)
        north_pole = lat0 > 0
        q = qp - (rho / a) ** 2 if north_pole else (rho / a) ** 2 - qp
        beta = math.asin(max(-1.0, min(1.0, q / qp)))
        lam = lon0 + (math.atan2(x, -y) if north_pole else math.atan2(x, y))
        lam = (lam + math.pi) % (2 * math.pi) - math.pi
        return math.degrees(lam), math.degrees(_authalic_to_geodetic(beta, e))
    e, qp, beta0, rq, d = _laea_consts(a, f, lat0)
    x = east - fe
    y = north - fn
    rho = math.hypot(x / d, d * y)
    if rho == 0:
        return math.degrees(lon0), math.degrees(_authalic_to_geodetic(beta0, e))
    c = 2 * math.asin(max(-1.0, min(1.0, rho / (2 * rq))))
    beta = math.asin(max(-1.0, min(1.0,
        math.cos(c) * math.sin(beta0)
        + (d * y * math.sin(c) * math.cos(beta0)) / rho)))
    lam = lon0 + math.atan2(
        x * math.sin(c),
        d * rho * math.cos(beta0) * math.cos(c)
        - d * d * y * math.sin(beta0) * math.sin(c))
    return math.degrees(lam), math.degrees(_authalic_to_geodetic(beta, e))


# -- polar stereographic (EPSG 9810 variant A / 9829 variant B) ----------
# GN 7-2 formulas; the pole is the SIGN of lat0/latF. Used by UPS
# (32661/32761), the NSIDC sea-ice grids (3413/3976) and the
# Antarctic/Arctic Polar Stereographic family (3031/3032/3995).

@_memo
def _pst_consts(a: float, f: float):
    e = _ecc(f)
    return e, math.sqrt((1 + e) ** (1 + e) * (1 - e) ** (1 - e))


def _pst_t(phi: float, e: float, north: bool) -> float:
    es = e * math.sin(phi)
    if north:
        return (math.tan(math.pi / 4 - phi / 2)
                * ((1 + es) / (1 - es)) ** (e / 2))
    return (math.tan(math.pi / 4 + phi / 2)
            * ((1 - es) / (1 + es)) ** (e / 2))


def pstereo_fwd(lon: float, lat: float, a: float, f: float, lat0: float,
                lon0: float, k0: float, fe: float, fn: float):
    """(lon, lat) degrees -> E/N, Polar Stereographic variant A
    (EPSG 9810): natural origin at the pole given by sign(lat0),
    scale factor k0 at the pole."""
    e, c = _pst_consts(a, f)
    north = lat0 > 0
    phi, lam = math.radians(lat), math.radians(lon)
    t = _pst_t(phi, e, north)
    rho = 2 * a * k0 * t / c
    dl = lam - lon0
    east = fe + rho * math.sin(dl)
    north_c = fn - rho * math.cos(dl) if north else fn + rho * math.cos(dl)
    return east, north_c


def pstereo_inv(east: float, north_c: float, a: float, f: float,
                lat0: float, lon0: float, k0: float, fe: float, fn: float):
    e, c = _pst_consts(a, f)
    north = lat0 > 0
    de, dn = east - fe, north_c - fn
    rho = math.hypot(de, dn)
    tp = rho * c / (2 * a * k0)
    if north:
        phi = math.pi / 2 - 2 * math.atan(tp)
        for _ in range(8):
            es = e * math.sin(phi)
            phi = math.pi / 2 - 2 * math.atan(
                tp * ((1 - es) / (1 + es)) ** (e / 2))
        lam = lon0 + (math.atan2(de, -dn) if rho > 0 else 0.0)
    else:
        phi = 2 * math.atan(tp) - math.pi / 2
        for _ in range(8):
            es = e * math.sin(phi)
            phi = 2 * math.atan(
                tp * ((1 + es) / (1 - es)) ** (e / 2)) - math.pi / 2
        lam = lon0 + (math.atan2(de, dn) if rho > 0 else 0.0)
    return math.degrees(lam), math.degrees(phi)


def pstereo_sp_fwd(lon: float, lat: float, a: float, f: float,
                   latf: float, lon0: float, fe: float, fn: float):
    """Polar Stereographic variant B (EPSG 9829): defined by a standard
    parallel latf instead of a pole scale factor — reduced to variant A
    with the equivalent k0 = mF * c / (2 tF)."""
    e, c = _pst_consts(a, f)
    north = latf > 0
    tf = _pst_t(latf, e, north)
    mf = _epsg_m(latf, e)
    k0 = mf * c / (2 * tf)
    return pstereo_fwd(lon, lat, a, f,
                       math.pi / 2 if north else -math.pi / 2,
                       lon0, k0, fe, fn)


def pstereo_sp_inv(east: float, north_c: float, a: float, f: float,
                   latf: float, lon0: float, fe: float, fn: float):
    e, c = _pst_consts(a, f)
    north = latf > 0
    tf = _pst_t(latf, e, north)
    mf = _epsg_m(latf, e)
    k0 = mf * c / (2 * tf)
    return pstereo_inv(east, north_c, a, f,
                       math.pi / 2 if north else -math.pi / 2,
                       lon0, k0, fe, fn)


def merc_fwd(lon: float, lat: float, a: float, f: float,
             lon0: float, k0: float, fe: float, fn: float):
    """Mercator variant A (EPSG method 9804): scale factor at the
    equator. E = FE + a k0 (lam - lon0); N = FN - a k0 ln t with the
    shared conformal kernel t (GN 7-2 §1.3.3; worked example
    Makassar / NEIEZ pinned in tests)."""
    e = _ecc(f)
    lam = math.radians(lon)
    dlam = (lam - lon0 + math.pi) % (2 * math.pi) - math.pi
    return (fe + a * k0 * dlam,
            fn - a * k0 * math.log(_conf_t(math.radians(lat), e)))


def merc_inv(east: float, north: float, a: float, f: float,
             lon0: float, k0: float, fe: float, fn: float):
    e = _ecc(f)
    t = math.exp((fn - north) / (a * k0))
    phi = math.pi / 2 - 2 * math.atan(t)
    for _ in range(8):
        es = e * math.sin(phi)
        phi = math.pi / 2 - 2 * math.atan(
            t * ((1 - es) / (1 + es)) ** (e / 2))
    lam = lon0 + (east - fe) / (a * k0)
    return math.degrees(lam), math.degrees(phi)


def _merc_sp_k0(lat1: float, a: float, f: float) -> float:
    """Variant B's equivalent equatorial scale: k0 = cos(lat1) /
    sqrt(1 - e^2 sin^2 lat1) (GN 7-2 §1.3.3 variant B)."""
    return _epsg_m(lat1, _ecc(f))


def merc_sp_fwd(lon: float, lat: float, a: float, f: float,
                lat1: float, lon0: float, fe: float, fn: float):
    """Mercator variant B (EPSG method 9805): defined by a standard
    parallel lat1 instead of an explicit k0 — reduced to variant A
    (worked example Pulkovo 1942 / Caspian Sea Mercator pinned)."""
    return merc_fwd(lon, lat, a, f, lon0,
                    _merc_sp_k0(lat1, a, f), fe, fn)


def merc_sp_inv(east: float, north: float, a: float, f: float,
                lat1: float, lon0: float, fe: float, fn: float):
    return merc_inv(east, north, a, f, lon0,
                    _merc_sp_k0(lat1, a, f), fe, fn)


def eqc_fwd(lon: float, lat: float, a: float, f: float,
            lat1: float, lon0: float, fe: float, fn: float):
    """Equidistant Cylindrical (EPSG method 1028, ellipsoidal):
    E = FE + nu1 cos(lat1) (lam - lon0), N = FN + M(phi) with M the
    meridian arc — evaluated exactly as A * xi(phi) through the shared
    Krüger rectifying-latitude machinery (at dlam=0 the TM xi IS the
    rectifying latitude), so the arc agrees with the TM kernel to
    float precision and is pinned by the published WGS84 quarter
    meridian (10001965.729 m) in tests."""
    e = _ecc(f)
    s1 = math.sin(lat1)
    nu1 = a / math.sqrt(1 - e * e * s1 * s1)
    consts = _tm_consts(a, f)
    lam = math.radians(lon)
    dlam = (lam - lon0 + math.pi) % (2 * math.pi) - math.pi
    xi = _tm_xi_eta(math.radians(lat), 0.0, consts)[0]
    return fe + nu1 * math.cos(lat1) * dlam, fn + consts[0] * xi


def eqc_inv(east: float, north: float, a: float, f: float,
            lat1: float, lon0: float, fe: float, fn: float):
    e = _ecc(f)
    s1 = math.sin(lat1)
    nu1 = a / math.sqrt(1 - e * e * s1 * s1)
    consts = _tm_consts(a, f)
    A, _, beta, delta, _ = consts
    xi = (north - fn) / A
    # rectifying -> conformal (beta series at eta=0) -> geodetic (delta
    # series): the same two-step footpoint the TM inverse uses
    chi = xi
    for j, b in enumerate(beta, start=1):
        chi -= b * math.sin(2 * j * xi)
    phi = chi
    for j, d in enumerate(delta, start=1):
        phi += d * math.sin(2 * j * chi)
    lam = lon0 + (east - fe) / (nu1 * math.cos(lat1))
    return math.degrees(lam), math.degrees(phi)


def longlat_fwd(lon: float, lat: float, a: float, f: float):
    """Geographic 'projection' (identity): a longlat spec is a
    GEOGRAPHIC CRS endpoint — coordinates are lon/lat degrees on the
    spec's datum, and only the Helmert legs in _spec_fns apply. This is
    what lets convert() accept e.g. EPSG:4267 (NAD27 geographic) on
    either side, matching the reference's any-CRS contract."""
    return lon, lat


def longlat_inv(x: float, y: float, a: float, f: float):
    return x, y


def _geodetic_to_geocentric(lon: float, lat: float, a: float, f: float):
    e2 = 2 * f - f * f
    phi, lam = math.radians(lat), math.radians(lon)
    s = math.sin(phi)
    nu = a / math.sqrt(1 - e2 * s * s)
    return (nu * math.cos(phi) * math.cos(lam),
            nu * math.cos(phi) * math.sin(lam),
            nu * (1 - e2) * s)


def _geocentric_to_geodetic(x: float, y: float, z: float, a: float, f: float):
    e2 = 2 * f - f * f
    p = math.hypot(x, y)
    phi = math.atan2(z, p * (1 - e2))
    for _ in range(8):
        s = math.sin(phi)
        nu = a / math.sqrt(1 - e2 * s * s)
        phi = math.atan2(z + e2 * nu * s, p)
    return math.degrees(math.atan2(y, x)), math.degrees(phi)


def _helmert(x: float, y: float, z: float, p: tuple, inverse: bool):
    """7-parameter position-vector transformation (EPSG 9606):
    p = (tx, ty, tz [m], rx, ry, rz [arc-sec], s [ppm])."""
    tx, ty, tz, rx, ry, rz, s = p
    rx, ry, rz = (math.radians(v / 3600.0) for v in (rx, ry, rz))
    m = 1 + s * 1e-6
    if not inverse:
        return (tx + m * (x - rz * y + ry * z),
                ty + m * (rz * x + y - rx * z),
                tz + m * (-ry * x + rx * y + z))
    # exact-enough reverse for small angles/scale: apply the inverse
    # rotation/scale to the translated vector
    x, y, z = x - tx, y - ty, z - tz
    return ((x + rz * y - ry * z) / m,
            (y - rz * x + rx * z) / m,
            (z + ry * x - rx * y) / m)


def _datum_to_wgs84(lon: float, lat: float, ellps: tuple, towgs84: tuple | None):
    if not towgs84:
        return lon, lat
    xyz = _geodetic_to_geocentric(lon, lat, *ellps)
    return _geocentric_to_geodetic(*_helmert(*xyz, towgs84, False),
                                   _WGS84_A, _WGS84_F)


def _wgs84_to_datum(lon: float, lat: float, ellps: tuple, towgs84: tuple | None):
    if not towgs84:
        return lon, lat
    xyz = _geodetic_to_geocentric(lon, lat, _WGS84_A, _WGS84_F)
    return _geocentric_to_geodetic(*_helmert(*xyz, towgs84, True), *ellps)


# -- CRS registry --------------------------------------------------------

def _d(deg, mins=0.0, secs=0.0):
    return math.radians(deg + mins / 60.0 + secs / 3600.0)


#: Named projected CRS beyond the closed-form Mercator/UTM families.
#: Parameters are the published EPSG definitions; ``towgs84`` is the
#: standard 7-parameter Helmert where the datum is not WGS84-compatible
#: (NAD83/ETRS89/RGF93 are treated as zero-shift — the metre-level
#: plate-drift refinement needs grid files this container cannot ship).
_CRS_TABLE = {
    # British National Grid: TM on Airy 1830, OSGB36 datum
    27700: {'proj': 'tm', 'ellps': 'airy',
            'params': (_d(49), _d(-2), 0.9996012717, 400000.0, -100000.0),
            'towgs84': (446.448, -125.157, 542.060,
                        0.1502, 0.2470, 0.8421, -20.4894)},
    # RGF93 / Lambert-93 (France): LCC-2SP on GRS80, zero shift
    2154: {'proj': 'lcc', 'ellps': 'GRS80',
           'params': (_d(46.5), _d(3), _d(44), _d(49), 700000.0, 6600000.0),
           'towgs84': None},
    # NAD83 / Maryland (metres): State Plane LCC-2SP on GRS80
    26985: {'proj': 'lcc', 'ellps': 'GRS80',
            'params': (_d(37, 40), _d(-77), _d(38, 18), _d(39, 27),
                       400000.0, 0.0),
            'towgs84': None},
    # ETRS89 / UTM zone 32N (most of Germany): plain TM on GRS80
    25832: {'proj': 'tm', 'ellps': 'GRS80',
            'params': (0.0, _d(9), 0.9996, 500000.0, 0.0),
            'towgs84': None},
    # NAD83 / Texas South Central (metres): wide-zone LCC-2SP
    32140: {'proj': 'lcc', 'ellps': 'GRS80',
            'params': (_d(27, 50), _d(-99), _d(28, 23), _d(30, 17),
                       600000.0, 4000000.0),
            'towgs84': None},
    # ETRS89 / Poland CS92 (single national TM zone, k0=0.9993)
    2180: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (0.0, _d(19), 0.9993, 500000.0, -5300000.0),
           'towgs84': None},
    # SVY21 / Singapore TM (k0=1, metre-precision false origin)
    3414: {'proj': 'tm', 'ellps': 'WGS84',
           'params': (_d(1, 22), _d(103, 50), 1.0, 28001.642, 38744.572),
           'towgs84': None},
    # Belge 1972 / Belgian Lambert 72: LCC-2SP with pole false origin
    # on International 1924; towgs84 is EPSG tfm 15929
    31370: {'proj': 'lcc', 'ellps': 'intl',
            'params': (_d(90), _d(4, 21, 24.983), _d(51, 10, 0.00204),
                       _d(49, 50, 0.00204), 150000.013, 5400088.438),
            'towgs84': (-106.8686, 52.2978, -103.7239,
                        0.3366, -0.457, 1.8422, -1.2747)},
    # ETRS89 / TM35FIN (Finland): single national TM zone
    3067: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (0.0, _d(27), 0.9996, 500000.0, 0.0),
           'towgs84': None},
    # NZGD2000 / New Zealand Transverse Mercator
    2193: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (0.0, _d(173), 0.9996, 1600000.0, 10000000.0),
           'towgs84': None},
    # ETRS89 / LCC Europe (the pan-European conformal grid)
    3034: {'proj': 'lcc', 'ellps': 'GRS80',
           'params': (_d(52), _d(10), _d(35), _d(65),
                      4000000.0, 2800000.0),
           'towgs84': None},
    # NAD83 / Canada Atlas Lambert (+ the NAD83(CSRS) twin)
    3978: {'proj': 'lcc', 'ellps': 'GRS80',
           'params': (_d(49), _d(-95), _d(49), _d(77), 0.0, 0.0),
           'towgs84': None},
    3979: {'proj': 'lcc', 'ellps': 'GRS80',
           'params': (_d(49), _d(-95), _d(49), _d(77), 0.0, 0.0),
           'towgs84': None},
    # SWEREF99 TM (Sweden national)
    3006: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (0.0, _d(15), 0.9996, 500000.0, 0.0),
           'towgs84': None},
    # LKS94 / Lithuania TM
    3346: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (0.0, _d(24), 0.9998, 500000.0, 0.0),
           'towgs84': None},
    # LKS92 / Latvia TM (negative false northing)
    3059: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (0.0, _d(24), 0.9996, 500000.0, -6000000.0),
           'towgs84': None},
    # Estonian Coordinate System of 1997 (L-EST97): LCC-2SP
    3301: {'proj': 'lcc', 'ellps': 'GRS80',
           'params': (_d(57, 31, 3.19415), _d(24), _d(59, 20), _d(58),
                      500000.0, 6375000.0),
           'towgs84': None},
    # Slovenia 1996 / Slovene National Grid (D96/TM)
    3794: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (0.0, _d(15), 0.9999, 500000.0, -5000000.0),
           'towgs84': None},
    # ETRS89 / Portugal TM06
    3763: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (_d(39, 40, 5.73), _d(-8, -7, -59.19), 1.0, 0.0, 0.0),
           'towgs84': None},
    # Israel 1993 / Israeli TM Grid (EPSG tfm 1073 translation)
    2039: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (_d(31, 44, 3.817), _d(35, 12, 16.261), 1.0000067,
                      219529.584, 626907.39),
           'towgs84': (-48.0, 55.0, 52.0, 0.0, 0.0, 0.0, 0.0)},
    # JGD2000 / JGD2011 Japan Plane Rectangular CS zone IX (Kanto)
    2451: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (_d(36), _d(139, 50), 0.9999, 0.0, 0.0),
           'towgs84': None},
    6677: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (_d(36), _d(139, 50), 0.9999, 0.0, 0.0),
           'towgs84': None},
    # Amersfoort / RD New (Netherlands): Oblique Stereographic on
    # Bessel 1841 (EPSG 9809); towgs84 is EPSG tfm 15934
    28992: {'proj': 'sterea', 'ellps': 'bessel',
            'params': (_d(52, 9, 22.178), _d(5, 23, 15.5), 0.9999079,
                       155000.0, 463000.0),
            'towgs84': (565.2369, 50.0087, 465.658,
                        -0.406857, 0.350733, -1.87035, 4.0812)},
    # CH1903+ / LV95 (Switzerland): Hotine Oblique Mercator variant B
    # (EPSG 9815) with azimuth 90 on Bessel; towgs84 is the CH1903+
    # geocentric translation (EPSG tfm 1676)
    2056: {'proj': 'omerc', 'ellps': 'bessel',
           'params': (_d(46, 57, 8.66), _d(7, 26, 22.5),
                      math.pi / 2, math.pi / 2, 1.0,
                      2600000.0, 1200000.0),
           'towgs84': (674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0)},
    # S-JTSK / Krovak East North (Czech/Slovak): oblique conformal
    # conic (EPSG 9819, 5514 axis convention); towgs84 EPSG tfm 1622
    5514: {'proj': 'krovak', 'ellps': 'bessel',
           'params': (_d(49, 30), _d(24, 50), _d(30, 17, 17.3031),
                      _d(78, 30), 0.9999, 0.0, 0.0),
           'towgs84': (589.0, 76.0, 480.0, 0.0, 0.0, 0.0, 0.0)},
    # NAD83 / Conus Albers (EPSG 9822): the US-wide equal-area grid
    5070: {'proj': 'aea', 'ellps': 'GRS80',
           'params': (_d(23), _d(-96), _d(29, 30), _d(45, 30), 0.0, 0.0),
           'towgs84': None},
    # ETRS89-extended / LAEA Europe (EPSG 9820): the EU statistical grid
    3035: {'proj': 'laea', 'ellps': 'GRS80',
           'params': (_d(52), _d(10), 4321000.0, 3210000.0),
           'towgs84': None},
    # CH1903 / LV03 (Swiss legacy): same omerc projection center as
    # LV95 with the classic 600k/200k false origin; CH1903 tfm 1766
    21781: {'proj': 'omerc', 'ellps': 'bessel',
            'params': (_d(46, 57, 8.66), _d(7, 26, 22.5),
                       math.pi / 2, math.pi / 2, 1.0, 600000.0, 200000.0),
            'towgs84': (674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0)},
    # HD72 / EOV (Hungary): Hotine Oblique Mercator variant B,
    # azimuth 90 on GRS67; towgs84 is EPSG tfm 1448
    23700: {'proj': 'omerc', 'ellps': 'GRS67',
            'params': (_d(47, 8, 39.8174), _d(19, 2, 54.8584),
                       math.pi / 2, math.pi / 2, 0.99993,
                       650000.0, 200000.0),
            'towgs84': (52.17, -71.82, -14.9, 0.0, 0.0, 0.0, 0.0)},
    # GDA94 / Australian Albers: the continental equal-area grid
    3577: {'proj': 'aea', 'ellps': 'GRS80',
           'params': (0.0, _d(132), _d(-18), _d(-36), 0.0, 0.0),
           'towgs84': None},
    # GDA94 / Geoscience Australia Lambert
    3112: {'proj': 'lcc', 'ellps': 'GRS80',
           'params': (0.0, _d(134), _d(-18), _d(-36), 0.0, 0.0),
           'towgs84': None},
    # IRENET95 / Irish Transverse Mercator
    2157: {'proj': 'tm', 'ellps': 'GRS80',
           'params': (_d(53.5), _d(-8), 0.99982, 600000.0, 750000.0),
           'towgs84': None},
    # TM75 / Irish Grid: TM on Airy Modified; towgs84 EPSG tfm 1954
    29903: {'proj': 'tm', 'ellps': 'airy-mod',
            'params': (_d(53.5), _d(-8), 1.000035, 200000.0, 250000.0),
            'towgs84': (482.5, -130.6, 564.6, -1.042, -0.214, -0.631, 8.15)},
}


def _load_common_epsg() -> None:
    """Bulk-register the high-traffic ZONED grids — the parameter sets
    are formulaic (published EPSG zone arithmetic), so the data is
    generated, not typed. Datums: GRS80-family (ETRS89/NAD83/GDA/
    SIRGAS) ride the documented zero-shift WGS84 approximation; legacy
    datums carry their standard published Helmert shifts (NAD27 tfm
    1173-style mean, ED50 tfm 1133, Pulkovo 1942 tfm 1267). Zone
    arithmetic is pinned against the closed-form WGS84 UTM kernel in
    tests/test_convert.py."""

    def utm(lon0_deg, ellps, fn=0.0, k=0.9996, fe=500000.0,
            towgs84=None, lat0=0.0):
        return {'proj': 'tm', 'ellps': ellps,
                'params': (lat0, _d(lon0_deg), k, fe, fn),
                'towgs84': towgs84}

    nad27 = (-8.0, 160.0, 176.0, 0.0, 0.0, 0.0, 0.0)
    ed50 = (-87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0)
    pulkovo = (23.92, -141.27, -80.9, 0.0, 0.35, 0.82, -0.12)
    for z in range(28, 39):       # ETRS89 / UTM 28N-38N
        _CRS_TABLE[25800 + z] = utm(z * 6 - 183, 'GRS80')
    for z in range(1, 24):        # NAD83 / UTM 1N-23N
        _CRS_TABLE[26900 + z] = utm(z * 6 - 183, 'GRS80')
    for z in range(3, 23):        # NAD27 / UTM 3N-22N
        _CRS_TABLE[26700 + z] = utm(z * 6 - 183, 'clrk66',
                                    towgs84=nad27)
    for z in range(28, 39):       # ED50 / UTM 28N-38N
        _CRS_TABLE[23000 + z] = utm(z * 6 - 183, 'intl', towgs84=ed50)
    for z in range(48, 59):       # GDA94 / MGA zone 48-58 (south)
        _CRS_TABLE[28300 + z] = utm(z * 6 - 183, 'GRS80', fn=10000000.0)
    for z in range(46, 60):       # GDA2020 / MGA zone 46-59 (south)
        _CRS_TABLE[7800 + z] = utm(z * 6 - 183, 'GRS80', fn=10000000.0)
    for z in range(11, 23):       # SIRGAS 2000 / UTM 11N-22N
        _CRS_TABLE[31954 + z] = utm(z * 6 - 183, 'GRS80')
    for z in range(17, 26):       # SIRGAS 2000 / UTM 17S-25S
        _CRS_TABLE[31960 + z] = utm(z * 6 - 183, 'GRS80', fn=10000000.0)
    for z in range(4, 33):        # Pulkovo 1942 / 6-deg Gauss-Krueger
        _CRS_TABLE[28400 + z] = utm(z * 6 - 3, 'krass', k=1.0,
                                    fe=z * 1e6 + 500000.0,
                                    towgs84=pulkovo)
    for z in range(1, 8):         # POSGAR 2007 / Argentina faja 1-7
        _CRS_TABLE[5342 + z] = utm(-75 + 3 * z, 'GRS80', k=1.0,
                                   fe=z * 1e6 + 500000.0, lat0=_d(-90))
    for z in range(1, 20):        # NAD83(2011) / UTM 1N-19N (6330-48;
        # 6349+ are OTHER CRSs — 6349 compound NAVD88, 6350 Conus Albers)
        _CRS_TABLE[6329 + z] = utm(z * 6 - 183, 'GRS80')
    for z in (59, 60):            # NAD83(2011) / UTM 59N-60N (Alaska)
        _CRS_TABLE[6269 + z] = utm(z * 6 - 183, 'GRS80')
    # NAD83(2011) / Conus Albers — the code the old loop silently
    # mis-registered as a UTM zone; same AEA parameters as 5070
    _CRS_TABLE[6350] = {'proj': 'aea', 'ellps': 'GRS80',
                        'params': (_d(23), _d(-96), _d(29, 30),
                                   _d(45, 30), 0.0, 0.0),
                        'towgs84': None}
    dhdn = (598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7)
    for z in range(2, 6):         # DHDN / 3-deg Gauss-Krueger zone 2-5
        _CRS_TABLE[31464 + z] = utm(z * 3, 'bessel', k=1.0,
                                    fe=z * 1e6 + 500000.0, towgs84=dhdn)
    for z in range(13, 24):       # CGCS2000 / Gauss-Krueger zone 13-23
        _CRS_TABLE[4478 + z] = utm(z * 6 - 3, 'GRS80', k=1.0,
                                   fe=z * 1e6 + 500000.0)
    for z in range(13, 24):       # ... CM variants (no zone prefix)
        _CRS_TABLE[4489 + z] = utm(z * 6 - 3, 'GRS80', k=1.0)
    for p in range(42, 51):       # RGF93 / CC42-CC50 (conic conformal
        # zone ladder: one-degree bands, documented zone arithmetic)
        _CRS_TABLE[3900 + p] = {
            'proj': 'lcc', 'ellps': 'GRS80',
            'params': (_d(p), _d(3), _d(p) - _d(0, 45), _d(p) + _d(0, 45),
                       1700000.0, (p - 41) * 1e6 + 200000.0),
            'towgs84': None}
    # NTF (Paris) / Lambert zones I-IV + the 'etendu' carto variants:
    # LCC-1SP on Clarke 1880 (IGN); the Paris prime meridian
    # (2deg20'14.025" east of Greenwich) is folded into lon0, the
    # classic published per-zone k0/false origins; NTF->WGS84 is the
    # standard (-168, -60, +320) translation
    ntf = (-168.0, -60.0, 320.0, 0.0, 0.0, 0.0, 0.0)
    paris = _d(2, 20, 14.025)
    zones = [  # (lat0 deg, k0, fe, fn_zone, fn_etendu)
        (49.5, 0.999877340, 600000.0, 200000.0, 1200000.0),
        (46.8, 0.999877420, 600000.0, 200000.0, 2200000.0),
        (44.1, 0.999877499, 600000.0, 200000.0, 3200000.0),
        (42.165, 0.99994471, 234.358, 185861.369, 4185861.369),
    ]
    for i, (lat0, k0, fe, fn_z, fn_e) in enumerate(zones):
        for code, fn in ((27561 + i, fn_z), (27571 + i, fn_e)):
            _CRS_TABLE[code] = {
                'proj': 'lcc1', 'ellps': 'clrk80ign',
                'params': (_d(lat0), paris, k0, fe, fn),
                'towgs84': ntf}
    # Merchich / Nord + Sud Maroc (LCC-1SP, grads-defined origins)
    for code, lat0_gr, k0 in ((26191, 37.0, 0.999625769),
                              (26192, 33.0, 0.999615596)):
        _CRS_TABLE[code] = {
            'proj': 'lcc1', 'ellps': 'clrk80ign',
            'params': (_d(lat0_gr * 0.9), _d(-5.4), k0, 500000.0, 300000.0),
            'towgs84': (31.0, 146.0, 47.0, 0.0, 0.0, 0.0, 0.0)}

    # ---- round-7 catalogue widening: the remaining PUBLIC zone-
    # arithmetic blocks for methods already implemented. Where a legacy
    # datum has no single published Helmert (official transformations
    # are regional or grid-based: Beijing 1954, Xian 1980), the entry is
    # projection-exact with towgs84=None — same treatment as the
    # NAD83/ETRS89 plate-drift approximation documented above.
    w72 = (0.0, 0.0, 4.5, 0.0, 0.0, 0.554, 0.22)  # DMA TR 8350.2
    for z in range(1, 61):        # WGS 72 / UTM zones 1-60 N + S
        _CRS_TABLE[32200 + z] = utm(z * 6 - 183, 'WGS72', towgs84=w72)
        _CRS_TABLE[32300 + z] = utm(z * 6 - 183, 'WGS72', towgs84=w72,
                                    fn=10000000.0)
    for z in (1, 2):              # NAD27 / UTM 1N-2N (Aleutians)
        _CRS_TABLE[26700 + z] = utm(z * 6 - 183, 'clrk66', towgs84=nad27)
    for z in range(25, 46):       # CGCS2000 / 3-deg GK zone 25-45
        _CRS_TABLE[4488 + z] = utm(z * 3, 'GRS80', k=1.0,
                                   fe=z * 1e6 + 500000.0)
    for i in range(21):           # ... CM 75E-135E variants (no prefix)
        _CRS_TABLE[4534 + i] = utm(75 + 3 * i, 'GRS80', k=1.0)
    for z in range(13, 24):       # Xian 1980 / 6-deg GK zone 13-23
        _CRS_TABLE[2314 + z] = utm(z * 6 - 3, 'IAG75', k=1.0,
                                   fe=z * 1e6 + 500000.0)
    for i in range(11):           # ... CM 75E-135E variants
        _CRS_TABLE[2338 + i] = utm(75 + 6 * i, 'IAG75', k=1.0)
    for z in range(25, 46):       # Xian 1980 / 3-deg GK zone 25-45
        _CRS_TABLE[2324 + z] = utm(z * 3, 'IAG75', k=1.0,
                                   fe=z * 1e6 + 500000.0)
    for i in range(21):           # ... CM 75E-135E variants
        _CRS_TABLE[2370 + i] = utm(75 + 3 * i, 'IAG75', k=1.0)
    for z in range(13, 24):       # Beijing 1954 / 6-deg GK zone 13-23
        _CRS_TABLE[21400 + z] = utm(z * 6 - 3, 'krass', k=1.0,
                                    fe=z * 1e6 + 500000.0)
    for z in range(13, 24):       # ... CM variants (no zone prefix)
        _CRS_TABLE[21460 + z] = utm(z * 6 - 3, 'krass', k=1.0)
    sad69 = (-57.0, 1.0, -41.0, 0.0, 0.0, 0.0, 0.0)
    for z in range(18, 23):       # SAD69 / UTM 18N-22N
        _CRS_TABLE[29150 + z] = utm(z * 6 - 183, 'GRS67', towgs84=sad69)
    for z in range(17, 26):       # SAD69 / UTM 17S-25S
        _CRS_TABLE[29170 + z] = utm(z * 6 - 183, 'GRS67', towgs84=sad69,
                                    fn=10000000.0)
    corrego = (-206.0, 172.0, -6.0, 0.0, 0.0, 0.0, 0.0)
    for z in range(21, 26):       # Corrego Alegre / UTM 21S-25S
        _CRS_TABLE[22500 + z] = utm(z * 6 - 183, 'intl', towgs84=corrego,
                                    fn=10000000.0)
    psad56 = (-288.0, 175.0, -376.0, 0.0, 0.0, 0.0, 0.0)
    for z in range(17, 22):       # PSAD56 / UTM 17N-21N
        _CRS_TABLE[24800 + z] = utm(z * 6 - 183, 'intl', towgs84=psad56)
    for z in range(17, 23):       # PSAD56 / UTM 17S-22S
        _CRS_TABLE[24860 + z] = utm(z * 6 - 183, 'intl', towgs84=psad56,
                                    fn=10000000.0)
    # ITM — Irish Transverse Mercator (ETRS89, zero-shift)
    _CRS_TABLE[2157] = {'proj': 'tm', 'ellps': 'GRS80',
                        'params': (_d(53.5), _d(-8), 0.99982,
                                   600000.0, 750000.0),
                        'towgs84': None}
    # TM65 / TM75 Irish Grid (Airy Modified; published OSi/OSNI Helmert)
    tm75 = (482.5, -130.6, 564.6, -1.042, -0.214, -0.631, 8.15)
    for code in (29902, 29903):
        _CRS_TABLE[code] = {'proj': 'tm', 'ellps': 'airy-mod',
                            'params': (_d(53.5), _d(-8), 1.000035,
                                       200000.0, 250000.0),
                            'towgs84': tm75}
    # ETRS89 / TM Baltic93
    _CRS_TABLE[25884] = {'proj': 'tm', 'ellps': 'GRS80',
                         'params': (0.0, _d(24), 0.9996, 500000.0, 0.0),
                         'towgs84': None}
    # CH1903+ / LV95: the LV03 oblique Mercator with the 2.6M/1.2M
    # false origin and the CH1903+ Bern translation
    lv03 = _CRS_TABLE.get(21781)
    if lv03 is not None:
        p = list(lv03['params'])
        p[-2], p[-1] = 2600000.0, 1200000.0
        _CRS_TABLE[2056] = {'proj': lv03['proj'], 'ellps': lv03['ellps'],
                            'params': tuple(p),
                            'towgs84': (674.374, 15.056, 405.346,
                                        0.0, 0.0, 0.0, 0.0)}
    # Polar stereographic family (methods 9810/9829): UPS, the NSIDC
    # sea-ice grids, Arctic/Antarctic Polar Stereographic
    for code in (32661, 5041):    # WGS84 / UPS North (9810)
        _CRS_TABLE[code] = {'proj': 'pstereo', 'ellps': 'WGS84',
                            'params': (_d(90), 0.0, 0.994,
                                       2000000.0, 2000000.0),
                            'towgs84': None}
    for code in (32761, 5042):    # WGS84 / UPS South
        _CRS_TABLE[code] = {'proj': 'pstereo', 'ellps': 'WGS84',
                            'params': (_d(-90), 0.0, 0.994,
                                       2000000.0, 2000000.0),
                            'towgs84': None}
    for code, latf, lon0, fe in (
            (3413, 70.0, -45.0, 0.0),    # NSIDC Sea Ice Polar N (9829)
            (3976, -70.0, 0.0, 0.0),     # NSIDC Sea Ice Polar S
            (3031, -71.0, 0.0, 0.0),     # Antarctic Polar Stereographic
            (3032, -71.0, 70.0, 6e6),    # Australian Antarctic
            (3995, 71.0, 0.0, 0.0)):     # Arctic Polar Stereographic
        _CRS_TABLE[code] = {'proj': 'pstereo_sp', 'ellps': 'WGS84',
                            'params': (_d(latf), _d(lon0), fe, fe),
                            'towgs84': None}
    # Geographic CRS ENDPOINTS on shifted datums ('longlat' method:
    # identity projection + the Helmert legs) — the reference accepts
    # geographic CRS on either side of convert
    for code, ellps, shift in (
            (4267, 'clrk66', nad27),     # NAD27
            (4230, 'intl', ed50),        # ED50
            (4618, 'GRS67', sad69),      # SAD69
            (4284, 'krass', pulkovo),    # Pulkovo 1942
            (4322, 'WGS72', w72),        # WGS 72
            (4277, 'airy', (446.448, -125.157, 542.060,
                            0.1502, 0.2470, 0.8421, -20.4894))):  # OSGB36
        _CRS_TABLE[code] = {'proj': 'longlat', 'ellps': ellps,
                            'params': (), 'towgs84': shift}


_load_common_epsg()


def _load_registry_csv() -> None:
    """Load the generated catalogue tail (`epsg_registry.csv`, emitted
    by tools/gen_epsg_registry.py — public zone-arithmetic families and
    published national grids as checked-in DATA, the round-7 ask).
    Built-in entries win: the hand-validated core above is
    authoritative, CSV rows are additive; the overlap is cross-checked
    by tests/test_property.py. Row format: code,proj,ellps,params,
    towgs84,source — params ';'-joined floats with angles in radians
    (the spec contract), ellps a name or inline 'a:f'."""
    path = os.path.join(os.path.dirname(__file__), 'epsg_registry.csv')
    if not os.path.exists(path):
        return
    with open(path, encoding='utf-8') as fh:
        for line in fh:
            line = line.strip()
            if (not line or line.startswith('#')
                    or line.startswith('code,')):
                continue
            code_s, proj, ellps, params, towgs84, _src = line.split(',', 5)
            code = int(code_s)
            if code in _CRS_TABLE:
                continue
            _CRS_TABLE[code] = {
                'proj': proj,
                'ellps': (tuple(float(v) for v in ellps.split(':'))
                          if ':' in ellps else ellps),
                'params': (tuple(float(v) for v in params.split(';'))
                           if params else ()),
                'towgs84': (tuple(float(v) for v in towgs84.split(';'))
                            if towgs84 else None),
            }


_load_registry_csv()

#: projection method name -> (forward, inverse); every fn takes
#: (x0, x1, a, f, *params)
_PROJ_METHODS = {
    'tm': (tm_fwd, tm_inv),
    'lcc': (lcc_fwd, lcc_inv),
    'lcc1': (lcc1_fwd, lcc1_inv),
    'sterea': (sterea_fwd, sterea_inv),
    'omerc': (omerc_fwd, omerc_inv),
    'krovak': (krovak_fwd, krovak_inv),
    'aea': (aea_fwd, aea_inv),
    'laea': (laea_fwd, laea_inv),
    'pstereo': (pstereo_fwd, pstereo_inv),
    'pstereo_sp': (pstereo_sp_fwd, pstereo_sp_inv),
    'merc': (merc_fwd, merc_inv),
    'merc_sp': (merc_sp_fwd, merc_sp_inv),
    'eqc': (eqc_fwd, eqc_inv),
    'longlat': (longlat_fwd, longlat_inv),
}


def register_crs(epsg: int, spec: dict) -> None:
    """Register a projected CRS so ``epsg`` works everywhere an int CRS
    does (``convert``, ``st_transform``, geometry measures). ``spec``::

        {'proj': 'tm'|'lcc'|'sterea'|'omerc'|'krovak',
         'ellps': 'GRS80' | (a, f),
         'params': (...),          # method parameters, angles in radians
         'towgs84': (tx,ty,tz,rx,ry,rz,s) | None}

    mirroring the reference's accept-any-CRS contract
    (`/root/reference/erde/op/convert.py:4-16`) for every projection
    family this engine ships closed-form math for."""
    _spec_fns(spec)  # validate eagerly: raises on bad proj/ellps/params
    _CRS_TABLE[int(epsg)] = dict(spec)

#: geographic (lon/lat degree) CRS that are WGS84-compatible at the
#: metre level without grid files: ETRS89, NAD83, RGF93, GDA94/2020,
#: JGD2000/2011, NAD83(2011), CGCS2000, SIRGAS2000. Treated as
#: zero-shift aliases of 4326 — the same approximation the projected
#: registry entries on those datums already make. (Geographic CRS on
#: datums that DO need a shift — NAD27, ED50, SAD69, Pulkovo, WGS72,
#: OSGB36 — are registry entries with the 'longlat' method instead.)
_GEOGRAPHIC_WGS84_COMPAT = {4258, 4269, 4171, 4283, 7844, 4612, 6668,
                            6318, 4490, 4674}


def _spec_fns(spec: dict):
    """(to_lonlat, from_lonlat) for a projection spec dict (registry
    entry or user-supplied parameter dict)."""
    try:
        fwd_proj, inv_proj = _PROJ_METHODS[spec['proj']]
    except KeyError:
        raise NotImplementedError(
            f"projection method {spec.get('proj')!r}: supported methods "
            f'are {sorted(_PROJ_METHODS)}') from None
    ellps = spec['ellps']
    if isinstance(ellps, str):
        ellps = ELLIPSOIDS[ellps]
    a, f = ellps
    params, towgs84 = tuple(spec['params']), spec.get('towgs84')
    import inspect
    n_expected = len(inspect.signature(fwd_proj).parameters) - 4
    if len(params) != n_expected:
        raise ValueError(
            f"projection {spec['proj']!r} takes {n_expected} parameters, "
            f'got {len(params)}')

    def to_lonlat(x, y):
        lon, lat = inv_proj(x, y, a, f, *params)
        return _datum_to_wgs84(lon, lat, (a, f), towgs84)

    def from_lonlat(lon, lat):
        lon, lat = _wgs84_to_datum(lon, lat, (a, f), towgs84)
        return fwd_proj(lon, lat, a, f, *params)

    return to_lonlat, from_lonlat


def _table_fns(epsg: int):
    """(to_lonlat, from_lonlat) for a registry CRS, else None."""
    spec = _CRS_TABLE.get(epsg)
    if spec is None:
        return None
    return _spec_fns(spec)


def _utm_zone_params(epsg: int):
    """(central meridian radians, false northing) for EPSG:326xx/327xx
    (WGS84 UTM north/south), else None."""
    if 32601 <= epsg <= 32660:
        zone, n0 = epsg - 32600, 0.0
    elif 32701 <= epsg <= 32760:
        zone, n0 = epsg - 32700, 10000000.0
    else:
        return None
    return math.radians(zone * 6 - 183), n0


_CRS_ERR = (
    '{crs} not supported: this engine ships closed-form transforms for '
    'EPSG:4326, EPSG:3857 (spherical Mercator), EPSG:326xx/327xx (WGS84 '
    'UTM, Krüger series) and a %d-code registry '
    '(sorted(erde_spark.geo.ops._CRS_TABLE) lists them); the container '
    'has no pyproj for arbitrary CRS. If the code uses one of the '
    'IMPLEMENTED projection methods, no code change is needed — '
    'register it once with register_crs(epsg, spec) or pass the spec '
    "dict itself as the CRS: {{'proj': <method>, 'ellps': name-or-"
    "(a, f), 'params': <per-method tuple below, angles in RADIANS>, "
    "'towgs84': (tx,ty,tz,rx,ry,rz,ds) or None}}. Methods and their "
    'params (EPSG Guidance Note 7-2 parameter order): '
    'tm (9807): (lat0, lon0, k0, FE, FN); '
    'lcc (9802, 2SP): (lat0, lon0, sp1, sp2, FE, FN); '
    'lcc1 (9801, 1SP): (lat0, lon0, k0, FE, FN); '
    'sterea (9809): (lat0, lon0, k0, FE, FN); '
    'omerc (9815): (latc, lonc, azimuth, gamma, k0, FE, FN); '
    'krovak (9819): (latc, lon0, azimuth, sp, k0, FE, FN); '
    'aea (9822): (lat0, lon0, sp1, sp2, FE, FN); '
    'laea (9820, oblique/polar/spherical): (lat0, lon0, FE, FN); '
    'pstereo (9810, variant A): (lat0, lon0, k0, FE, FN); '
    'pstereo_sp (9829, variant B): (latF, lon0, FE, FN); '
    'merc (9804, variant A): (lon0, k0, FE, FN); '
    'merc_sp (9805, variant B): (lat1, lon0, FE, FN); '
    'eqc (1028, equidistant cylindrical): (lat1, lon0, FE, FN); '
    'longlat (geographic endpoint): (). '
    'Only a projection METHOD outside this list needs new code.'
    % len(_CRS_TABLE))


def _to_lonlat_fn(crs):
    """Coordinate fn CRS -> EPSG:4326, or None when crs IS 4326.
    ``crs`` is an EPSG int or a projection parameter dict (see
    :func:`register_crs` for the dict shape)."""
    if isinstance(crs, dict):
        return _spec_fns(crs)[0]
    if crs == 4326 or crs in _GEOGRAPHIC_WGS84_COMPAT:
        return None
    if crs == 3857:
        return mercator_inv
    p = _utm_zone_params(crs)
    if p is not None:
        return lambda x, y: utm_inv(x, y, *p)
    fns = _table_fns(crs)
    if fns is not None:
        return fns[0]
    raise NotImplementedError(_CRS_ERR.format(crs=f'CRS {crs}'))


def _from_lonlat_fn(crs):
    """Coordinate fn EPSG:4326 -> CRS, or None when crs IS 4326.
    Accepts an EPSG int or a projection parameter dict."""
    if isinstance(crs, dict):
        return _spec_fns(crs)[1]
    if crs == 4326 or crs in _GEOGRAPHIC_WGS84_COMPAT:
        return None
    if crs == 3857:
        return mercator_fwd
    p = _utm_zone_params(crs)
    if p is not None:
        return lambda lon, lat: utm_fwd(lon, lat, *p)
    fns = _table_fns(crs)
    if fns is not None:
        return fns[1]
    raise NotImplementedError(_CRS_ERR.format(crs=f'CRS {crs}'))


def resolve_transform(from_crs, to_crs):
    """Geometry -> geometry reprojection callable, RESOLVED NOW.

    Resolve on the Spark driver and let the UDF closure capture the
    result: a CRS registered via :func:`register_crs` (or passed as a
    parameter dict) lives in driver-side state that executors re-import
    fresh, so worker-side lookup by int would miss it. Returns None for
    the identity transform."""
    if from_crs == to_crs:
        return None
    inv = _to_lonlat_fn(from_crs)
    fwd = _from_lonlat_fn(to_crs)
    if inv and fwd:
        fn = lambda x, y: fwd(*inv(x, y))  # noqa: E731
    else:
        fn = inv or fwd
    if fn is None:  # both sides WGS84-compatible geographic: identity
        return None
    return lambda geom: _map_coords(geom, fn)


def transform_geom(geom: Geometry, from_crs, to_crs) -> Geometry:
    """Reproject between any two supported CRS (ints or parameter
    dicts), composing through lon/lat (reference `erde/op/convert.py:
    4-16` transforms arbitrary pyproj CRS; this engine covers the
    closed-form families and raises for the rest)."""
    tf = resolve_transform(from_crs, to_crs)
    return geom if tf is None else tf(geom)


# ---------------------------------------------------------------- measures

def _ring_signed_area(ring) -> float:
    # translate to the first vertex before the shoelace: cross terms of
    # raw Mercator-scale coordinates (~1e6-1e7) cancel catastrophically,
    # costing ~6 digits; relative coordinates keep full precision
    if not ring:
        return 0.0
    x0, y0 = ring[0]
    s = 0.0
    n = len(ring)
    for i in range(n - 1):
        x1, y1 = ring[i][0] - x0, ring[i][1] - y0
        x2, y2 = ring[i + 1][0] - x0, ring[i + 1][1] - y0
        s += x1 * y2 - x2 * y1
    return s / 2.0


def _poly_area(rings) -> float:
    if not rings:
        return 0.0
    a = abs(_ring_signed_area(rings[0]))
    for hole in rings[1:]:
        a -= abs(_ring_signed_area(hole))
    return a


def geom_area(geom: Geometry) -> float:
    gtype, data = geom
    if gtype == 'Polygon':
        return _poly_area(data)
    if gtype == 'MultiPolygon':
        return sum(_poly_area(p) for p in data)
    if gtype == 'GeometryCollection':
        return sum(geom_area(g) for g in data)
    return 0.0


def _line_length(coords) -> float:
    s = 0.0
    for i in range(len(coords) - 1):
        dx = coords[i + 1][0] - coords[i][0]
        dy = coords[i + 1][1] - coords[i][1]
        s += math.hypot(dx, dy)
    return s


def geom_length(geom: Geometry) -> float:
    gtype, data = geom
    if gtype == 'LineString':
        return _line_length(data)
    if gtype == 'MultiLineString':
        return sum(_line_length(l) for l in data)
    if gtype == 'Polygon':
        return sum(_line_length(r) for r in data)
    if gtype == 'MultiPolygon':
        return sum(sum(_line_length(r) for r in p) for p in data)
    if gtype == 'GeometryCollection':
        return sum(geom_length(g) for g in data)
    return 0.0


def geom_centroid(geom: Geometry) -> tuple[float, float]:
    """Centroid following GEOS semantics: highest-dimension parts win."""
    gtype, data = geom
    if gtype == 'Point':
        return data
    if gtype == 'MultiPoint':
        xs = [c[0] for c in data]
        ys = [c[1] for c in data]
        return (sum(xs) / len(xs), sum(ys) / len(ys))
    if gtype in ('LineString', 'MultiLineString'):
        lines = [data] if gtype == 'LineString' else data
        sx = sy = sl = 0.0
        for coords in lines:
            for i in range(len(coords) - 1):
                x1, y1 = coords[i]
                x2, y2 = coords[i + 1]
                seg = math.hypot(x2 - x1, y2 - y1)
                sx += (x1 + x2) / 2 * seg
                sy += (y1 + y2) / 2 * seg
                sl += seg
        if sl == 0:
            return geom_centroid(('MultiPoint', [c for l in lines for c in l]))
        return (sx / sl, sy / sl)
    if gtype in ('Polygon', 'MultiPolygon'):
        polys = [data] if gtype == 'Polygon' else data
        sx = sy = sa = 0.0
        for rings in polys:
            for k, ring in enumerate(rings):
                sign = 1.0 if k == 0 else -1.0
                a = _ring_signed_area(ring)
                # ring centroid weighted by signed area; computed relative
                # to the first vertex (same cancellation fix as area)
                x0, y0 = ring[0]
                cx = cy = 0.0
                for i in range(len(ring) - 1):
                    x1, y1 = ring[i][0] - x0, ring[i][1] - y0
                    x2, y2 = ring[i + 1][0] - x0, ring[i + 1][1] - y0
                    cross = x1 * y2 - x2 * y1
                    cx += (x1 + x2) * cross
                    cy += (y1 + y2) * cross
                if a != 0:
                    cx = cx / (6 * a) + x0
                    cy = cy / (6 * a) + y0
                    sx += cx * abs(a) * sign
                    sy += cy * abs(a) * sign
                    sa += abs(a) * sign
        if sa == 0:
            return geom_centroid(('MultiPoint', [c for p in polys for r in p for c in r]))
        return (sx / sa, sy / sa)
    if gtype == 'GeometryCollection':
        # use highest-dimension members
        polys = [g for g in data if g[0] in ('Polygon', 'MultiPolygon')]
        if polys:
            return geom_centroid(('GeometryCollection', polys)) if len(polys) > 1 else geom_centroid(polys[0])
        lines = [g for g in data if g[0] in ('LineString', 'MultiLineString')]
        if lines:
            mls = [l for g in lines for l in (g[1] if g[0] == 'MultiLineString' else [g[1]])]
            return geom_centroid(('MultiLineString', mls))
        pts = [g[1] for g in data if g[0] == 'Point']
        return geom_centroid(('MultiPoint', pts))
    raise ValueError(gtype)


def _iter_coords(geom: Geometry):
    gtype, data = geom
    if gtype == 'Point':
        yield data
    elif gtype in ('LineString', 'MultiPoint'):
        yield from data
    elif gtype in ('Polygon', 'MultiLineString'):
        for part in data:
            yield from part
    elif gtype == 'MultiPolygon':
        for poly in data:
            for ring in poly:
                yield from ring
    elif gtype == 'GeometryCollection':
        for g in data:
            yield from _iter_coords(g)


def geom_bounds(geom: Geometry) -> tuple[float, float, float, float]:
    if geom[0] == 'Point':  # every row of a point side: skip the coordinate walk
        x, y = geom[1]
        return (x, y, x, y)
    xs, ys = zip(*_iter_coords(geom))
    return (min(xs), min(ys), max(xs), max(ys))


def geom_type_of(geom: Geometry) -> str:
    return geom[0]


# ---------------------------------------------------------------- predicates

def _orient(ax, ay, bx, by, cx, cy) -> float:
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_segment(px, py, ax, ay, bx, by) -> bool:
    if _orient(ax, ay, bx, by, px, py) != 0:
        return False
    return min(ax, bx) <= px <= max(ax, bx) and min(ay, by) <= py <= max(ay, by)


def _seg_intersect(p1, p2, q1, q2) -> bool:
    d1 = _orient(q1[0], q1[1], q2[0], q2[1], p1[0], p1[1])
    d2 = _orient(q1[0], q1[1], q2[0], q2[1], p2[0], p2[1])
    d3 = _orient(p1[0], p1[1], p2[0], p2[1], q1[0], q1[1])
    d4 = _orient(p1[0], p1[1], p2[0], p2[1], q2[0], q2[1])
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True
    if d1 == 0 and _on_segment(p1[0], p1[1], q1[0], q1[1], q2[0], q2[1]):
        return True
    if d2 == 0 and _on_segment(p2[0], p2[1], q1[0], q1[1], q2[0], q2[1]):
        return True
    if d3 == 0 and _on_segment(q1[0], q1[1], p1[0], p1[1], p2[0], p2[1]):
        return True
    if d4 == 0 and _on_segment(q2[0], q2[1], p1[0], p1[1], p2[0], p2[1]):
        return True
    return False


def _seg_proper_cross(p1, p2, q1, q2) -> bool:
    d1 = _orient(q1[0], q1[1], q2[0], q2[1], p1[0], p1[1])
    d2 = _orient(q1[0], q1[1], q2[0], q2[1], p2[0], p2[1])
    d3 = _orient(p1[0], p1[1], p2[0], p2[1], q1[0], q1[1])
    d4 = _orient(p1[0], p1[1], p2[0], p2[1], q2[0], q2[1])
    return ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and 0 not in (d1, d2, d3, d4)


def _point_in_ring(px, py, ring) -> bool:
    """Strict interior test by ray casting (boundary NOT included)."""
    inside = False
    n = len(ring)
    for i in range(n - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if (y1 > py) != (y2 > py):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            if px < xint:
                inside = not inside
    return inside


def _point_in_polygon(px, py, rings) -> int:
    """2 = interior, 1 = boundary, 0 = exterior."""
    for ring in rings:
        for i in range(len(ring) - 1):
            if _on_segment(px, py, ring[i][0], ring[i][1], ring[i + 1][0], ring[i + 1][1]):
                return 1
    if not _point_in_ring(px, py, rings[0]):
        return 0
    for hole in rings[1:]:
        if _point_in_ring(px, py, hole):
            return 0
    return 2


def _as_parts(geom: Geometry):
    """Split Multi*/collections into simple-geometry parts."""
    gtype, data = geom
    if gtype == 'MultiPoint':
        return [('Point', c) for c in data]
    if gtype == 'MultiLineString':
        return [('LineString', l) for l in data]
    if gtype == 'MultiPolygon':
        return [('Polygon', p) for p in data]
    if gtype == 'GeometryCollection':
        return [p for g in data for p in _as_parts(g)]
    return [geom]


def _segments(geom: Geometry):
    gtype, data = geom
    if gtype == 'LineString':
        for i in range(len(data) - 1):
            yield data[i], data[i + 1]
    elif gtype == 'Polygon':
        for ring in data:
            for i in range(len(ring) - 1):
                yield ring[i], ring[i + 1]


def _simple_intersects(a: Geometry, b: Geometry) -> bool:
    ta, tb = a[0], b[0]
    if ta == 'Point' and tb == 'Point':
        return a[1] == b[1]
    if ta == 'Point':
        return _simple_intersects(b, a)
    if tb == 'Point':
        px, py = b[1]
        if ta == 'LineString':
            return any(_on_segment(px, py, s[0][0], s[0][1], s[1][0], s[1][1])
                       for s in _segments(a))
        return _point_in_polygon(px, py, a[1]) > 0
    if ta == 'LineString' and tb == 'LineString':
        return any(_seg_intersect(p1, p2, q1, q2)
                   for p1, p2 in _segments(a) for q1, q2 in _segments(b))
    if 'Polygon' in (ta, tb) and 'LineString' in (ta, tb):
        poly, line = (a, b) if ta == 'Polygon' else (b, a)
        if any(_point_in_polygon(x, y, poly[1]) > 0 for x, y in line[1]):
            return True
        return any(_seg_intersect(p1, p2, q1, q2)
                   for p1, p2 in _segments(poly) for q1, q2 in _segments(line))
    # polygon-polygon
    if any(_point_in_polygon(x, y, b[1]) > 0 for x, y in a[1][0]):
        return True
    if any(_point_in_polygon(x, y, a[1]) > 0 for x, y in b[1][0]):
        return True
    return any(_seg_intersect(p1, p2, q1, q2)
               for p1, p2 in _segments(a) for q1, q2 in _segments(b))


def intersects(a: Geometry, b: Geometry) -> bool:
    # cheap bbox reject first
    ax1, ay1, ax2, ay2 = geom_bounds(a)
    bx1, by1, bx2, by2 = geom_bounds(b)
    if ax2 < bx1 or bx2 < ax1 or ay2 < by1 or by2 < ay1:
        return False
    return any(_simple_intersects(pa, pb)
               for pa in _as_parts(a) for pb in _as_parts(b))


def _simple_within(a: Geometry, b: Geometry) -> bool:
    """a strictly-or-boundary inside b with interior contact (approximation
    of GEOS 'within' adequate for the reference's test geometries)."""
    ta, tb = a[0], b[0]
    if tb == 'Point':
        return ta == 'Point' and a[1] == b[1]
    if tb == 'LineString':
        if ta == 'Point':
            return any(_on_segment(a[1][0], a[1][1], s[0][0], s[0][1], s[1][0], s[1][1])
                       for s in _segments(b))
        if ta == 'LineString':
            return all(
                any(_on_segment(x, y, s[0][0], s[0][1], s[1][0], s[1][1]) for s in _segments(b))
                for x, y in a[1])
        return False
    # b is a Polygon
    if ta == 'Point':
        return _point_in_polygon(a[1][0], a[1][1], b[1]) == 2
    if ta == 'LineString':
        codes = [_point_in_polygon(x, y, b[1]) for x, y in a[1]]
        if any(c == 0 for c in codes):
            return False
        if any(_seg_proper_cross(p1, p2, q1, q2)
               for p1, p2 in _segments(a) for q1, q2 in _segments(b)):
            return False
        # need interior contact: check a midpoint
        mx = (a[1][0][0] + a[1][1][0]) / 2
        my = (a[1][0][1] + a[1][1][1]) / 2
        return _point_in_polygon(mx, my, b[1]) == 2 or any(c == 2 for c in codes)
    # polygon within polygon
    codes = [_point_in_polygon(x, y, b[1]) for x, y in a[1][0]]
    if any(c == 0 for c in codes):
        return False
    if any(_seg_proper_cross(p1, p2, q1, q2)
           for p1, p2 in _segments(a) for q1, q2 in _segments(b)):
        return False
    # a hole of b poking strictly inside a breaks containment
    for hole in b[1][1:]:
        if any(_point_in_polygon(x, y, a[1]) == 2 for x, y in hole):
            return False
    cx, cy = geom_centroid(a)
    return _point_in_polygon(cx, cy, b[1]) == 2 or any(c == 2 for c in codes)


def within(a: Geometry, b: Geometry) -> bool:
    parts_b = _as_parts(b)
    return all(any(_simple_within(pa, pb) for pb in parts_b) for pa in _as_parts(a))


def contains(a: Geometry, b: Geometry) -> bool:
    return within(b, a)


PREDICATES = {'intersects': intersects, 'within': within, 'contains': contains}


# ---------------------------------------------------------------- buffer

def _pt_seg_dist(px: float, py: float, x1: float, y1: float,
                 x2: float, y2: float) -> float:
    dx, dy = x2 - x1, y2 - y1
    l2 = dx * dx + dy * dy
    if l2 == 0.0:
        return math.hypot(px - x1, py - y1)
    t = ((px - x1) * dx + (py - y1) * dy) / l2
    t = 0.0 if t < 0.0 else 1.0 if t > 1.0 else t
    return math.hypot(px - (x1 + t * dx), py - (y1 + t * dy))


def _vertices(geom: Geometry):
    gtype, data = geom
    if gtype == 'Point':
        yield data
    elif gtype == 'LineString':
        yield from data
    else:  # Polygon
        for ring in data:
            yield from ring


def geom_distance(a: Geometry, b: Geometry) -> float:
    """Planar minimum distance between two geometries (CRS units).

    0 when they intersect (incl. containment). Otherwise, for two
    non-crossing geometries the closest approach is always attained at a
    vertex of one against a segment (or vertex) of the other, so the min
    over both vertex-vs-other directions is exact.
    """
    if intersects(a, b):
        return 0.0
    best = math.inf
    for pa in _as_parts(a):
        for pb in _as_parts(b):
            sb = list(_segments(pb))
            for vx, vy in _vertices(pa):
                if sb:
                    for (x1, y1), (x2, y2) in sb:
                        d = _pt_seg_dist(vx, vy, x1, y1, x2, y2)
                        if d < best:
                            best = d
                else:
                    for wx, wy in _vertices(pb):
                        d = math.hypot(vx - wx, vy - wy)
                        if d < best:
                            best = d
            sa = list(_segments(pa))
            if sa:
                for wx, wy in _vertices(pb):
                    for (x1, y1), (x2, y2) in sa:
                        d = _pt_seg_dist(wx, wy, x1, y1, x2, y2)
                        if d < best:
                            best = d
    return best


def point_buffer(x: float, y: float, radius: float, resolution: int = 16) -> Geometry:
    """Circle approximation: ``4*resolution``-gon, CCW shell (shapely's
    default resolution=16 segments per quadrant, which the reference passes
    through, `/root/reference/erde/op/buffer.py:27`)."""
    n = 4 * max(1, int(resolution))
    ring = []
    for i in range(n):
        theta = 2 * math.pi * i / n
        ring.append((x + radius * math.cos(theta), y + radius * math.sin(theta)))
    ring.append(ring[0])
    return ('Polygon', [ring])


def buffer_geom(geom: Geometry, radius: float, resolution: int = 16) -> Geometry:
    """Buffer of any geometry type (reference `erde/op/buffer.py:41` calls
    shapely ``buffer``; semantics matched per type).

    Points buffer to exact ``resolution``-per-quarter-circle polygons.
    Lines and polygons (no GEOS in this container) go through the signed
    distance field + interpolated marching squares kernel
    (`erde_spark.geo.field`), accurate to ~``radius/resolution``; negative
    radii erode polygons and empty out points/lines, as in shapely.
    """
    gtype, data = geom
    if radius == 0:
        raise NotImplementedError('zero-distance buffer not supported')
    if radius < 0 and gtype in ('Point', 'MultiPoint', 'LineString', 'MultiLineString'):
        return ('MultiPolygon', [])
    if radius > 0:
        if gtype == 'Point':
            return point_buffer(data[0], data[1], radius, resolution)
        if gtype == 'MultiPoint':
            return ('MultiPolygon',
                    [point_buffer(x, y, radius, resolution)[1] for x, y in data])
    from erde_spark.geo.field import buffer_field
    return buffer_field([geom], radius, resolution)


# ---------------------------------------------------------------- coslat

def coslat_factor(geom: Geometry, crs: int = 4326) -> float:
    """cos(latitude) correction factor (reference `erde/utils.py:53-67`:
    centroid computed in 3857, converted back to 4326)."""
    if crs == 4326:
        g3857 = transform_geom(geom, 4326, 3857)
    elif crs == 3857:
        g3857 = geom
    else:
        raise NotImplementedError(f'coslat for CRS {crs}')
    cx, cy = geom_centroid(g3857)
    lon, lat = mercator_inv(cx, cy)
    return math.cos(math.radians(lat))

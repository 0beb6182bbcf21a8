"""Coordinate reprojection as native Spark column expressions
(SURVEY §2.7 F13/F14).

The reference reprojects with pyproj Transformers hoisted out of row
loops (ago/ago.py:351-358, opendata/opendata.py:277-298) and a
multi-step 2272→4269→4326→3857 pipeline with a centimeter affine
nudge (db2/db2.py:731-819). pyproj is not in this container — and
does not need to be: the two projections in play are closed-form
(public Snyder/EPSG formulas), so we evaluate them as plain
pyspark.sql math expressions. No Python in the hot path, no
per-partition transformer objects, and the math vectorizes across a
1000-executor cluster like any other expression.

Expression size: Spark builds an expression TREE, not a DAG. A
subexpression referenced twice is copied twice into the plan and into
the generated Java, so an unrolled iteration whose step reads its
input k times grows as k^iterations. The ellipsoidal latitude step
written as ``pow((1−e·sinφ)/(1+e·sinφ), e/2)`` reads φ twice, so six
unrolled steps would copy the first φ 2^6 = 64 times; inside the
per-SRID CASE of ``publish_opendata`` that overflows the JVM's 64 KB
method limit, and whole-stage codegen falls back to interpreted
evaluation after seconds of failed compiling on the driver. Every
unrolled step therefore reads φ exactly once, via the exact identity
((1−z)/(1+z))^(e/2) = exp(−e·atanh(z)), and the tree grows linearly
with the iteration count.

Supported CRS:
- EPSG:4326  (NAD83/WGS84 lon-lat degrees; the reference treats the
  NAD83→WGS84 datum step — EPSG:1515/1950 — as a cm-level shift it
  then absorbs into the affine nudge; we document the same
  approximation, SURVEY §7.3a)
- EPSG:2272  (NAD83 / Pennsylvania South, US survey feet; Lambert
  Conformal Conic 2SP on GRS80)
- EPSG:3857  (Web Mercator, spherical on the WGS84 semi-major axis)

Accuracy: forward∘inverse round-trips close to < 1e-6 ft; the
ellipsoidal inverse latitude iteration is unrolled 6 times (converges
quadratically; 6 is overkill at double precision).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# GRS80 ellipsoid (NAD83)
_A = 6378137.0
_F = 1.0 / 298.257222101
_E2 = 2 * _F - _F * _F
_E = math.sqrt(_E2)

#: US survey foot (the reference's 2272 unit), exactly 1200/3937 m
FT_US = 1200.0 / 3937.0

# EPSG:2272 — Lambert Conformal Conic 2SP parameters
_LAT1 = math.radians(40.0 + 58.0 / 60.0)      # 40°58'N
_LAT2 = math.radians(39.0 + 56.0 / 60.0)      # 39°56'N
_LAT0 = math.radians(39.0 + 20.0 / 60.0)      # 39°20'N
_LON0 = math.radians(-77.75)                  # 77°45'W
_FE_M = 600000.0                              # false easting, metres
_FN_M = 0.0


def _m(phi: float) -> float:
    return math.cos(phi) / math.sqrt(1 - _E2 * math.sin(phi) ** 2)


def _t(phi: float) -> float:
    return math.tan(math.pi / 4 - phi / 2) / (
        (1 - _E * math.sin(phi)) / (1 + _E * math.sin(phi))
    ) ** (_E / 2)


# projection constants (plain Python floats, folded into the plan)
_N = (math.log(_m(_LAT1)) - math.log(_m(_LAT2))) / (
    math.log(_t(_LAT1)) - math.log(_t(_LAT2))
)
_BIGF = _m(_LAT1) / (_N * _t(_LAT1) ** _N)
_RHO0 = _A * _BIGF * _t(_LAT0) ** _N


def _t_col(lat_rad: Column) -> Column:
    esin = F.lit(_E) * F.sin(lat_rad)
    return F.tan(F.lit(math.pi / 4) - lat_rad / 2) / F.pow(
        (1 - esin) / (1 + esin), _E / 2
    )


def lonlat_to_pa_south_ft(lon: Column, lat: Column) -> tuple[Column, Column]:
    """EPSG:4326 → EPSG:2272 (LCC 2SP forward, output US survey feet)."""
    lam, phi = F.radians(lon), F.radians(lat)
    rho = F.lit(_A * _BIGF) * F.pow(_t_col(phi), _N)
    theta = F.lit(_N) * (lam - F.lit(_LON0))
    e_m = F.lit(_FE_M) + rho * F.sin(theta)
    n_m = F.lit(_FN_M + _RHO0) - rho * F.cos(theta)
    return e_m / FT_US, n_m / FT_US


def pa_south_ft_to_lonlat(easting_ft: Column, northing_ft: Column) -> tuple[Column, Column]:
    """EPSG:2272 → EPSG:4326 (LCC 2SP inverse; 6 unrolled iterations
    for the ellipsoidal latitude)."""
    x = easting_ft * FT_US - F.lit(_FE_M)
    y = F.lit(_RHO0) - (northing_ft * FT_US - F.lit(_FN_M))
    sign = 1.0 if _N >= 0 else -1.0
    rho = F.lit(sign) * F.sqrt(x * x + y * y)
    t_ = F.pow(rho / F.lit(_A * _BIGF), 1.0 / _N)
    theta = F.atan2(F.lit(sign) * x, F.lit(sign) * y)
    lam = theta / _N + F.lit(_LON0)
    # φ = π/2 − 2·atan(t·((1−e·sinφ)/(1+e·sinφ))^(e/2)), fixed-point,
    # with ((1−z)/(1+z))^(e/2) = exp(−e·atanh(z)) so each step reads
    # φ once (see the module docstring)
    phi = F.lit(math.pi / 2) - 2 * F.atan(t_)
    for _ in range(6):
        w = F.exp(F.lit(-_E) * F.atanh(F.lit(_E) * F.sin(phi)))
        phi = F.lit(math.pi / 2) - 2 * F.atan(t_ * w)
    return F.degrees(lam), F.degrees(phi)


def lonlat_to_webmercator(lon: Column, lat: Column) -> tuple[Column, Column]:
    """EPSG:4326 → EPSG:3857 (spherical Web Mercator by definition)."""
    x = F.lit(_A) * F.radians(lon)
    y = F.lit(_A) * F.log(F.tan(F.lit(math.pi / 4) + F.radians(lat) / 2))
    return x, y


def webmercator_to_lonlat(x: Column, y: Column) -> tuple[Column, Column]:
    lon = F.degrees(x / _A)
    lat = F.degrees(2 * F.atan(F.exp(y / _A)) - F.lit(math.pi / 2))
    return lon, lat


def pa_south_to_webmercator(
    easting_ft: Column,
    northing_ft: Column,
    nudge_x_m: float = -0.20,
    nudge_y_m: float = 1.18,
) -> tuple[Column, Column]:
    """F14: the db2 multi-step datum pipeline 2272→4269→4326→3857
    with the ArcGIS-parity affine nudge (defaults from
    db2/db2_commands.py:29-30). The NAD83→WGS84 datum ops
    (EPSG:1515/1950) are cm-scale and folded into the nudge —
    documented approximation, same stance the reference's constant
    nudge takes."""
    lon, lat = pa_south_ft_to_lonlat(easting_ft, northing_ft)
    x, y = lonlat_to_webmercator(lon, lat)
    return x + F.lit(nudge_x_m), y + F.lit(nudge_y_m)


def pa_south_fixed_steps(
    sb,
    e_ft: str,
    n_ft: str,
    nudge_x_m: float = -0.20,
    nudge_y_m: float = 1.18,
    iters: int = 4,
) -> dict[str, str]:
    """F14 datum pipeline (2272 → 4326 → 3857 + affine nudge) emitted
    as cross-engine-deterministic steps on a ``fixtrig.StepBuilder``.

    The closed-form LCC inverse + Web Mercator forward contain exactly
    four transcendental families (pow, atan, sin, ln); everything else
    is IEEE ``+ - * / sqrt`` which is correctly rounded and therefore
    bit-identical between Spark's JVM and DuckDB's libm.  The
    transcendentals are evaluated in Q40 integer fixed point
    (operators/fixtrig.py), so the WHOLE pipeline replays hash-exact
    on both engines — this is what promoted the last rows-only query
    to a full DuckDB oracle.  Mercator-y uses the identity
    ln(tan(π/4+φ/2)) = atanh(sin φ) = ½·ln((1+sinφ)/(1−sinφ)) to
    reuse sin/ln instead of needing a separate tan.

    Accuracy vs the double-precision path (lonlat_to_webmercator /
    pa_south_ft_to_lonlat): ≤ 1e-8° lon/lat, ≤ 1e-2 m mercator —
    pinned in tests/test_fixtrig.py.  Plan-cost choices (each level
    is a projection Spark pays fixed analysis+codegen for): 4 φ
    iterations (converged to the poly floor, measured 1.3e-9° at 4),
    2-halving atan (every atan argument here is |u| ≤ 1), the
    iteration's ``v^(e/2)`` as exp(−e·atanh_small(e·sinφ)) — the
    identity (e/2)·ln((1−z)/(1+z)) = −e·atanh(z) replaces the 6-level
    general-ln with a 3-level deg-9 poly (|e·sinφ| ≤ 0.06 on any
    valid LCC latitude).

    Returns the output column names {lon, lat, merc_x, merc_y,
    merc_x_nudged, merc_y_nudged}.
    """
    from ..operators.fixtrig import dlit

    x = sb.emit(f"(({e_ft}) * {dlit(FT_US)} - {dlit(_FE_M)})")
    y = sb.emit(f"({dlit(_RHO0)} - (({n_ft}) * {dlit(FT_US)} - {dlit(_FN_M)}))")
    # N > 0 for EPSG:2272 and y > 0 on the PA-South domain, so
    # rho = +sqrt, theta = atan(x/y) without the atan2 quadrant logic.
    # rho stays inline (single consumer); t = (rho/(a·F))^(1/N) with
    # |ln·(1/N)| ≤ 1 on any LCC-valid input → unit-exponent pow; every
    # atan argument in this pipeline is |u| < 0.5 (x/y is a small
    # bearing; t·w ≈ tan(π/4−φ/2) < 0.5 for φ > 36.9°, and stays ≤ 1
    # down to φ = 0 where the one-halving tail is still < 1.5e-9) →
    # one halving
    rho = f"SQRT(({x}) * ({x}) + ({y}) * ({y}))"
    t_ = sb.pow(f"(({rho}) / {dlit(_A * _BIGF)})", 1.0 / _N, unit=True)
    theta = sb.atan(f"(({x}) / ({y}))", halvings=1)
    lam = sb.emit(f"(({theta}) / {dlit(_N)} + {dlit(_LON0)})")
    lon = sb.emit(f"(({lam}) * {dlit(180.0 / math.pi)})")
    # φ fixpoint: φ = π/2 − 2·atan(t·((1−e·sinφ)/(1+e·sinφ))^(e/2));
    # linear contraction ~e² ≈ 0.0067 per iteration, so 4 unrolled
    # iterations converge to the poly floor (measured 1.3e-9°; 5
    # changes nothing).
    phi = sb.emit(
        f"({dlit(math.pi / 2)} - {dlit(2.0)} * ({sb.atan(t_, halvings=1)}))"
    )
    for _ in range(iters):
        s = sb.sin(phi)
        at_es = sb.atanh_small(f"({dlit(_E)} * ({s}))")
        w = sb.exp_unit(f"({dlit(-_E)} * ({at_es}))")
        at = sb.atan(f"(({t_}) * ({w}))", halvings=1)
        phi = sb.emit(f"({dlit(math.pi / 2)} - {dlit(2.0)} * ({at}))")
    lat = sb.emit(f"(({phi}) * {dlit(180.0 / math.pi)})")
    mx = sb.emit(f"(({lam}) * {dlit(_A)})")
    sfin = sb.sin(phi)
    lnarg = f"((({dlit(1.0)} + ({sfin})) / ({dlit(1.0)} - ({sfin}))))"
    my = sb.emit(f"({dlit(_A * 0.5)} * ({sb.ln(lnarg)}))")
    mxn = sb.emit(f"(({mx}) + {dlit(nudge_x_m)})")
    myn = sb.emit(f"(({my}) + {dlit(nudge_y_m)})")
    return {
        "lon": lon,
        "lat": lat,
        "merc_x": mx,
        "merc_y": my,
        "merc_x_nudged": mxn,
        "merc_y_nudged": myn,
    }


def haversine_steps(
    sb,
    lat1: str,
    lon1: str,
    lat2: str,
    lon2: str,
    radius_m: float = 6371008.8,
) -> str:
    """Great-circle distance (haversine) in metres as cross-engine
    deterministic steps on a ``fixtrig.StepBuilder`` — the geodesic
    twin of the datum pipeline: hav = sin²(Δφ/2) + cosφ₁·cosφ₂·
    sin²(Δλ/2), d = 2R·atan(√h / √(1−h)). Transcendental seams via
    Q40 fixed point (sin with |x| ≤ π/2 arguments by construction:
    half-angles of coordinates; cos φ = 1 − 2·sin²(φ/2) keeps every
    sin argument in (−π/4, π/4) for any latitude); everything else is
    IEEE-exact glue (±×÷, sqrt). atan uses the any-domain 3-halving
    form. Valid for non-antipodal pairs (1−h > 0). Mean Earth radius
    default. Returns the distance column name."""
    from ..operators.fixtrig import dlit

    d2r = dlit(math.pi / 180.0)
    p1h = sb.emit(f"(({lat1}) * {d2r} * {dlit(0.5)})")
    p2h = sb.emit(f"(({lat2}) * {d2r} * {dlit(0.5)})")
    dph = sb.emit(f"((({lat2}) - ({lat1})) * {d2r} * {dlit(0.5)})")
    dlh = sb.emit(f"((({lon2}) - ({lon1})) * {d2r} * {dlit(0.5)})")
    s1 = sb.sin(dph)
    s2 = sb.sin(dlh)
    sp1 = sb.sin(p1h)
    sp2 = sb.sin(p2h)
    c1 = sb.emit(f"({dlit(1.0)} - {dlit(2.0)} * ({sp1}) * ({sp1}))")
    c2 = sb.emit(f"({dlit(1.0)} - {dlit(2.0)} * ({sp2}) * ({sp2}))")
    h = sb.emit(
        f"(({s1}) * ({s1}) + ({c1}) * ({c2}) * ({s2}) * ({s2}))"
    )
    at = sb.atan(f"(SQRT({h}) / SQRT({dlit(1.0)} - ({h})))")
    return sb.emit(f"({dlit(2.0 * radius_m)} * ({at}))")


def reproject_point_wkt(
    wkt: Column, from_srid: int, to_srid: int, **kw
) -> Column:
    """Reproject a ``POINT (x y)`` (E)WKT string between the supported
    CRS; returns EWKT tagged with the target SRID."""
    from .geometry import point_to_lon_lat

    x, y = point_to_lon_lat(wkt)  # generic numeric pair extraction
    pair = {
        (4326, 3857): lonlat_to_webmercator,
        (3857, 4326): webmercator_to_lonlat,
        (4326, 2272): lonlat_to_pa_south_ft,
        (2272, 4326): pa_south_ft_to_lonlat,
        (2272, 3857): pa_south_to_webmercator,
    }.get((from_srid, to_srid))
    if pair is None:
        raise ValueError(f"unsupported reprojection {from_srid}->{to_srid}")
    nx, ny = pair(x, y, **kw) if kw else pair(x, y)
    return F.format_string(
        f"SRID={to_srid};POINT (%s %s)", nx.cast("string"), ny.cast("string")
    )

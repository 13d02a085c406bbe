"""Dual expression builders: PySpark Columns + DuckDB-SQL twins.

Every spatial scalar the engine uses in the hot path is a pure Column
expression (whole-stage codegen, no Python) built here; next to each builder
lives a DuckDB-dialect SQL generator producing the *value-identical*
expression for the driver's oracle checks. Integer arithmetic is exact in
both engines; float pipelines use the same IEEE-754 double operation order
so results are bit-identical except for libm transcendentals (distances are
rounded at query output to absorb <=1-ulp libm differences).

Reference parity: law-of-cosines/R=6371 (GeoSearch.scala:169-177), unit
constants (GeoSearch.scala:178-179), bbox offsets (GeoSearch.scala:134-163).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .geodesy import EARTH_RADIUS_KM, KM_TO_MI, MI_TO_KM


def _d(x: float) -> str:
    """DuckDB DOUBLE literal. Bare decimals parse as DECIMAL, so an
    exponent-free repr gets an ``e0`` suffix; tiny/huge values whose repr
    already carries an exponent (``3e-05``) are valid double literals as-is
    (suffixing those would produce invalid SQL like ``3e-05e0``). The ONE
    float->DuckDB-literal formatter — every oracle must use it.

    Non-finite inputs raise here: repr(inf)/repr(nan) have no exponent, so
    the suffix rule would emit ``infe0``/``nane0`` — a DuckDB parse error
    far from the bad constant's source. No engine expression legitimately
    embeds a non-finite literal."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite value has no SQL double literal: {x!r}")
    r = repr(v)
    return r if ("e" in r or "E" in r) else f"{r}e0"


# public alias for oracle builders outside this module
sql_double = _d

# --------------------------------------------------------------------------
# deterministic point derivation from integer keys (FIXTURES.md §5):
# lat = (key*a % 18000)/100 - 90 ; lon = (key*b % 36000)/100 - 180
# --------------------------------------------------------------------------

POINT_MULTS = {"customer": (37, 91), "supplier": (53, 71), "events": (37, 91)}


def lat_from_key(key: Column, mult: int) -> Column:
    return ((key * mult) % 18000) / 100.0 - 90.0


def lon_from_key(key: Column, mult: int) -> Column:
    return ((key * mult) % 36000) / 100.0 - 180.0


def sql_lat_from_key(key: str, mult: int) -> str:
    return f"((({key} * {mult}) % 18000) / 100.0e0 - 90.0e0)"


def sql_lon_from_key(key: str, mult: int) -> str:
    return f"((({key} * {mult}) % 36000) / 100.0e0 - 180.0e0)"


# --------------------------------------------------------------------------
# grid indices at `half_bits` per axis (bisection index == floor scale)
# --------------------------------------------------------------------------

def grid_ix(lon: Column, half_bits: int) -> Column:
    n = 1 << half_bits
    ix = F.floor((lon + 180.0) / 360.0 * float(n))
    return F.least(F.greatest(ix, F.lit(0)), F.lit(n - 1)).cast("long")


def grid_iy(lat: Column, half_bits: int) -> Column:
    n = 1 << half_bits
    iy = F.floor((lat + 90.0) / 180.0 * float(n))
    return F.least(F.greatest(iy, F.lit(0)), F.lit(n - 1)).cast("long")


def sql_grid_ix(lon: str, half_bits: int) -> str:
    n = 1 << half_bits
    return (
        f"CAST(least(greatest(floor(({lon} + 180.0e0) / 360.0e0 * {_d(n)}), 0), "
        f"{n - 1}) AS BIGINT)"
    )


def sql_grid_iy(lat: str, half_bits: int) -> str:
    n = 1 << half_bits
    return (
        f"CAST(least(greatest(floor(({lat} + 90.0e0) / 180.0e0 * {_d(n)}), 0), "
        f"{n - 1}) AS BIGINT)"
    )


def grid_key(ix: Column, iy: Column, half_bits: int) -> Column:
    """Non-interleaved composite key ix*2^hb + iy — join key (exact int)."""
    return (ix * (1 << half_bits) + iy).cast("long")


def sql_grid_key(ix: str, iy: str, half_bits: int) -> str:
    return f"({ix} * {1 << half_bits} + {iy})"


def grid_center_lon(ix: Column, half_bits: int) -> Column:
    """Center longitude of grid column ix (inverse of grid_ix; op order
    mirrored verbatim by the SQL twin for IEEE parity)."""
    n = 1 << half_bits
    return (ix.cast("double") + 0.5) * (360.0 / n) - 180.0


def grid_center_lat(iy: Column, half_bits: int) -> Column:
    n = 1 << half_bits
    return (iy.cast("double") + 0.5) * (180.0 / n) - 90.0


def sql_grid_center_lon(ix: str, half_bits: int) -> str:
    n = 1 << half_bits
    return f"((CAST({ix} AS DOUBLE) + 0.5e0) * {_d(360.0 / n)} - 180.0e0)"


def sql_grid_center_lat(iy: str, half_bits: int) -> str:
    n = 1 << half_bits
    return f"((CAST({iy} AS DOUBLE) + 0.5e0) * {_d(180.0 / n)} - 90.0e0)"


# --------------------------------------------------------------------------
# interleaved cell id (binary-geohash, lon bit first) as pure arithmetic —
# bit i of ix lands at 2i+1, bit i of iy at 2i. Codegen'd 2*half_bits terms.
# --------------------------------------------------------------------------

def interleave(ix: Column, iy: Column, half_bits: int) -> Column:
    acc = F.lit(0).cast("long")
    for i in range(half_bits):
        acc = acc + F.shiftleft(F.shiftrightunsigned(ix, i) % 2, 2 * i + 1)
        acc = acc + F.shiftleft(F.shiftrightunsigned(iy, i) % 2, 2 * i)
    return acc.cast("long")


def sql_interleave(ix: str, iy: str, half_bits: int) -> str:
    terms = []
    for i in range(half_bits):
        terms.append(f"((({ix} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({iy} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


def cell_encode(lat: Column, lon: Column, bits: int) -> Column:
    """Interleaved cell id at `bits` — Column twin of cells.encode()."""
    hb = bits // 2
    return interleave(grid_ix(lon, hb), grid_iy(lat, hb), hb)


# --------------------------------------------------------------------------
# great-circle distance (law of cosines, km) — codegen'd, clamped acos
# --------------------------------------------------------------------------

def dist_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    c = F.sin(F.radians(lat1)) * F.sin(F.radians(lat2)) + F.cos(
        F.radians(lat1)
    ) * F.cos(F.radians(lat2)) * F.cos(F.radians(lon1) - F.radians(lon2))
    return F.acos(F.least(F.greatest(c, F.lit(-1.0)), F.lit(1.0))) * EARTH_RADIUS_KM


def sql_dist_km(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    c = (
        f"(sin(radians({lat1})) * sin(radians({lat2})) + cos(radians({lat1})) "
        f"* cos(radians({lat2})) * cos(radians({lon1}) - radians({lon2})))"
    )
    return f"(acos(least(greatest({c}, -1.0e0), 1.0e0)) * {_d(EARTH_RADIUS_KM)})"


def radius_as_km(radius: Column, unit: Column) -> Column:
    """First-letter unit rule (reference DataStore.scala:30-34)."""
    u = F.lower(F.substring(F.trim(unit), 1, 1))
    return F.when(u == "k", radius).when(u == "m", radius * MI_TO_KM)


def km_as_unit(val_km: Column, unit: Column) -> Column:
    u = F.lower(F.substring(F.trim(unit), 1, 1))
    return F.when(u == "k", val_km).when(u == "m", val_km * KM_TO_MI)


# --------------------------------------------------------------------------
# bounding-box offsets (reference GeoSearch.scala:134-163, no clamping —
# join layer wraps longitude at the grid-index level instead)
# --------------------------------------------------------------------------

_DEG_PER_KM = 180.0 / 3.141592653589793 / EARTH_RADIUS_KM  # lat degrees per km


def lat_plus_km(lat: Column, km) -> Column:
    import math

    return lat + (km / EARTH_RADIUS_KM) * (180.0 / math.pi)


def lon_plus_km(lat: Column, lon: Column, km) -> Column:
    import math

    return lon + km * (1.0 / ((math.pi / 180.0) * EARTH_RADIUS_KM)) / F.cos(
        lat * (math.pi / 180.0)
    )


def sql_lat_plus_km(lat: str, km: str) -> str:
    return f"({lat} + ({km} / {_d(EARTH_RADIUS_KM)}) * (180.0e0 / pi()))"


def sql_lon_plus_km(lat: str, lon: str, km: str) -> str:
    return (
        f"({lon} + {km} * (1.0e0 / ((pi() / 180.0e0) * {_d(EARTH_RADIUS_KM)})) "
        f"/ cos({lat} * (pi() / 180.0e0)))"
    )


# --------------------------------------------------------------------------
# slippy-map raster tiles (z/x/y), Web-Mercator; lat clamped to valid range
# --------------------------------------------------------------------------

MERCATOR_LAT_LIMIT = 85.05112878


def tile_x(lon: Column, zoom: int) -> Column:
    n = 1 << zoom
    tx = F.floor((lon + 180.0) / 360.0 * float(n))
    return F.least(F.greatest(tx, F.lit(0)), F.lit(n - 1)).cast("long")


def tile_y(lat: Column, zoom: int) -> Column:
    import math

    n = 1 << zoom
    clamped = F.least(
        F.greatest(lat, F.lit(-MERCATOR_LAT_LIMIT)), F.lit(MERCATOR_LAT_LIMIT)
    )
    rad = clamped * (math.pi / 180.0)
    ty = F.floor(
        (1.0 - F.log(F.tan(rad) + 1.0 / F.cos(rad)) / math.pi) / 2.0 * float(n)
    )
    return F.least(F.greatest(ty, F.lit(0)), F.lit(n - 1)).cast("long")


def tile_lon_west(tx: Column, zoom: int) -> Column:
    """Inverse slippy mapping: the western longitude edge of tile column
    tx (raster->vector direction: tile id back to geography)."""
    n = 1 << zoom
    return tx.cast("double") / float(n) * 360.0 - 180.0


def tile_lat_north(ty: Column, zoom: int) -> Column:
    """Inverse Web-Mercator: the northern latitude edge of tile row ty.
    lat = degrees(atan(sinh(pi * (1 - 2*ty/n)))), with sinh spelled as
    (exp(a) - exp(-a)) / 2 so the DuckDB twin (no sinh builtin there)
    performs the IDENTICAL IEEE op sequence."""
    import math

    n = 1 << zoom
    a = (1.0 - 2.0 * ty.cast("double") / float(n)) * math.pi
    sinh = (F.exp(a) - F.exp(-a)) / 2.0
    return F.degrees(F.atan(sinh))


def sql_tile_lon_west(tx: str, zoom: int) -> str:
    n = 1 << zoom
    return f"(CAST({tx} AS DOUBLE) / {_d(n)} * 360.0e0 - 180.0e0)"


def sql_tile_lat_north(ty: str, zoom: int) -> str:
    n = 1 << zoom
    a = f"((1.0e0 - 2.0e0 * CAST({ty} AS DOUBLE) / {_d(n)}) * pi())"
    return f"degrees(atan((exp({a}) - exp(-{a})) / 2.0e0))"


def sql_tile_x(lon: str, zoom: int) -> str:
    n = 1 << zoom
    return (
        f"CAST(least(greatest(floor(({lon} + 180.0e0) / 360.0e0 * {_d(n)}), 0), "
        f"{n - 1}) AS BIGINT)"
    )


def sql_tile_y(lat: str, zoom: int) -> str:
    n = 1 << zoom
    clamped = f"least(greatest({lat}, {_d(-MERCATOR_LAT_LIMIT)}), {_d(MERCATOR_LAT_LIMIT)})"
    rad = f"({clamped} * (pi() / 180.0e0))"
    ty = f"floor((1.0e0 - ln(tan({rad}) + 1.0e0 / cos({rad})) / pi()) / 2.0e0 * {_d(n)})"
    return f"CAST(least(greatest({ty}, 0), {n - 1}) AS BIGINT)"

"""Native Spark Column builders — the whole-stage-codegen hot path.

Each builder has a mirrored ``*_sql`` generator emitting the equivalent
DuckDB SQL (same float64 op order), used by ``__spark_entry__.oracle_sql``
so the driver's DuckDB comparison exercises identical arithmetic.

Semantics parity:
- geohash: strict-``>`` bisection == scaled-integer cell index
  ``ceil(t * 2^bits) - 1`` (proved against the reference bisection in
  tests/test_kernels_geohash.py::test_morton_matches_bisection_random);
  reference GeoHashUtils.kt:97-140.
- tiles: Tile.kt:212-228 (x wraps mod n, y truncates toward zero).
- haversine: GeoGeometry.kt:565-580 exact op order.
"""

from __future__ import annotations

import json
import math
from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.geohash import BASE32

PI = math.pi
DEG2RAD = math.pi / 180.0  # GeoGeometry.kt:66 DEGREES_TO_RADIANS
EARTH_RADIUS_METERS = 6371000.0
TILE_MIN_LAT = -85.05112878
TILE_MAX_LAT = 85.05112878

_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)

_SPREAD_CHUNK_BITS = 8
_SPREAD_MAX_BITS = 30  # the widest caller: 12-char geohash longitude


def _spread_int(v: int) -> int:
    for shift, mask in _SPREAD_MASKS:
        v = (v | (v << shift)) & mask
    return v


def _spread_table() -> Column:
    """256-entry ``array<bigint>``: table[v] = v's 8 bits spread to even
    bit positions.

    It replaces the shift/mask cascade, whose expression tree doubled at
    every step and blew janino's 64KB method limit on 12-char cells.
    ``array(...)`` of literals is non-null all the way down
    (``containsNull=false``), so under ANSI (the Spark 4 default) an
    index into it is non-nullable and adds no nullability to
    ``geohash_interleaved`` or ``quadkey_long``.  That matters for
    joins on a cell key:
    Catalyst infers ``isnotnull(key)`` for a nullable join key and
    pushes that filter below the Projects by copying the key's whole
    expression (coordinate parse included), so each row would compute
    the key twice.  At 256 entries the folded literal is ~1.4 KB of
    plan text and of each task binary.  One SQL-parsed expression is
    one plan node and one py4j call; it is rebuilt per call rather than
    cached because a Column is bound to the JVM that made it."""
    vals = ",".join(f"{_spread_int(v)}L" for v in range(1 << _SPREAD_CHUNK_BITS))
    return F.expr(f"array({vals})")


# --------------------------------------------------------------------------
# geohash encode (native)
# --------------------------------------------------------------------------

def _cell_index(value: Column, lo: float, span: float, bits: int) -> Column:
    """ceil(t * 2^bits) - 1 clamped to [0, 2^bits-1]; equals the strict->
    bisection cell of GeoHashUtils.kt:102-139."""
    t = (value - F.lit(lo)) / F.lit(span)
    idx = F.ceil(t * F.lit(float(1 << bits))) - F.lit(1)
    return F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), idx)).cast("long")


def _spread(c: Column, bits: int = 30) -> Column:
    """Spread the ``bits`` low bits of the bigint ``c`` to even bit
    positions: one lookup in :func:`_spread_table` per 8-bit chunk, ORed
    together (no subtree duplication, tiny codegen).  The top chunk is
    not masked, so a value wider than its chunk indexes past the table
    and fails under ANSI instead of being truncated.  Widths above 30
    bits are rejected: no caller needs them.  Built from ``F.*`` calls
    where a Column operator would do the same, since each Column
    operator costs several py4j round trips at plan-build time."""
    if bits > _SPREAD_MAX_BITS:
        raise ValueError(
            f"_spread supports at most {_SPREAD_MAX_BITS} bits, got {bits}"
        )
    table = _spread_table()
    top = 64 - _SPREAD_CHUNK_BITS
    out = None
    for shift in range(0, max(bits, 1), _SPREAD_CHUNK_BITS):
        if shift + _SPREAD_CHUNK_BITS < bits:  # bits shift..shift+7 only
            chunk = F.shiftrightunsigned(F.shiftleft(c, top - shift), top)
        else:
            chunk = F.shiftright(c, shift) if shift else c
        part = table[chunk]
        if shift:
            part = F.shiftleft(part, 2 * shift)
        out = part if out is None else out.bitwiseOR(part)
    return out


def cell_bits(length: int) -> tuple[int, int]:
    """(lat_bits, lon_bits) of a ``length``-char geohash."""
    nbits = 5 * length
    return nbits // 2, (nbits + 1) // 2


def cell_indices(lat: Column, lon: Column, length: int) -> tuple[Column, Column]:
    """Native (ilat, ilon) bisection cell indices of a ``length``-char
    geohash — the integer grid the neighbor/k-ring math works in."""
    lat_bits, lon_bits = cell_bits(length)
    return (
        _cell_index(lat, -90.0, 180.0, lat_bits),
        _cell_index(lon, -180.0, 360.0, lon_bits),
    )


def interleave_indices(ilat: Column, ilon: Column, length: int) -> Column:
    """Morton-interleave arbitrary (ilat, ilon) index Columns into the
    ``length``-char cell long — lets k-ring expansion address neighbor
    cells by pure index arithmetic (wrap/clamp) with zero UDFs."""
    lat_bits, lon_bits = cell_bits(length)
    if lon_bits > lat_bits:
        low = _spread(
            ilon.bitwiseAND(F.lit((1 << lat_bits) - 1)), lat_bits
        ).bitwiseOR(F.shiftleft(_spread(ilat, lat_bits), 1))
        return low.bitwiseOR(
            F.shiftleft(F.shiftright(ilon, lat_bits), 2 * lat_bits)
        )
    return F.shiftleft(_spread(ilon, lon_bits), 1).bitwiseOR(
        _spread(ilat, lat_bits)
    )


def geohash_interleaved(lat: Column, lon: Column, length: int) -> Column:
    """The geohash's 5*length bits packed into a LongType (sortable range
    key — prefix relationships become integer ranges)."""
    ilat, ilon = cell_indices(lat, lon, length)
    return interleave_indices(ilat, ilon, length)


_STD_BASE32_UPPER = "0123456789ABCDEFGHIJKLMNOPQRSTUV"


def cell_prefix(cell_id: Column, length: int, full_length: int = 12) -> Column:
    """Ancestor cell id at ``length`` chars from a ``full_length``-char
    interleaved long — the long-key equivalent of a string prefix."""
    return F.shiftright(cell_id, 5 * (full_length - length))


def geohash_render(cell_id: Column, length: int = 12) -> Column:
    """Interleaved long -> base32 geohash string (conv + translate; no
    per-character expression duplication, and no F.lower — lower() is
    pathologically slow in whole-stage codegen on this Spark build)."""
    return F.translate(
        F.lpad(F.conv(cell_id.cast("string"), 10, 32), length, "0"),
        _STD_BASE32_UPPER,
        BASE32,
    )


def geohash(lat: Column, lon: Column, length: int = 12) -> Column:
    """Base32 geohash string as a pure Column expression (no UDF).

    Hot paths should prefer :func:`geohash_interleaved` (the long form —
    sortable, prefix-comparable via shiftright, ~10x cheaper than
    rendering the string)."""
    return geohash_render(geohash_interleaved(lat, lon, length), length)


def string_cell_to_long(cell: str) -> int:
    """Driver-side: base32 geohash string -> interleaved long key."""
    v = 0
    for ch in cell:
        v = (v << 5) | BASE32.index(ch)
    return v


def cell_index_sql(expr: str, lo: float, span: float, bits: int) -> str:
    """DuckDB SQL twin of :func:`_cell_index` (exact same arithmetic)."""
    t = f"(({expr}) - {lo!r}) / {span!r}"
    idx = f"CAST(ceil(({t}) * {float(1 << bits)!r}) AS BIGINT) - 1"
    return f"greatest(0, least({(1 << bits) - 1}, {idx}))"


def geohash_long_from_indices_sql(ilat: str, ilon: str, length: int) -> str:
    """Morton-interleave arbitrary (ilat, ilon) index expressions —
    lets oracles address neighbor cells by index arithmetic."""
    nbits = 5 * length
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2

    def spread(expr: str) -> str:
        for shift, mask in _SPREAD_MASKS:
            expr = f"((({expr}) | (({expr}) << {shift})) & {mask})"
        return expr

    if lon_bits > lat_bits:
        v = (
            f"({spread(f'(({ilon}) & {(1 << lat_bits) - 1})')}"
            f" | ({spread(ilat)} << 1)"
            f" | ((({ilon}) >> {lat_bits}) << {2 * lat_bits}))"
        )
    else:
        v = f"(({spread(ilon)} << 1) | {spread(ilat)})"
    return v


def geohash_long_sql(lat: str, lon: str, length: int = 12) -> str:
    """DuckDB SQL equivalent of :func:`geohash_interleaved`."""
    nbits = 5 * length
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    ilon = cell_index_sql(lon, -180.0, 360.0, lon_bits)
    ilat = cell_index_sql(lat, -90.0, 180.0, lat_bits)
    return geohash_long_from_indices_sql(ilat, ilon, length)


def geohash_render_sql(v: str, length: int) -> str:
    """DuckDB SQL twin of :func:`geohash_render` (long -> base32 str)."""
    return (
        f"translate(lpad(to_base({v}, 32), {length}, '0'), "
        f"'{_STD_BASE32_UPPER}', '{BASE32}')"
    )


def geohash_sql(lat: str, lon: str, length: int = 12) -> str:
    """DuckDB SQL equivalent of :func:`geohash` (same op order)."""
    return geohash_render_sql(geohash_long_sql(lat, lon, length), length)


# --------------------------------------------------------------------------
# tile math (native)
# --------------------------------------------------------------------------

def tile_xy(lat: Column, lon: Column, zoom: int) -> tuple[Column, Column]:
    """WebMercator tile (x, y) at zoom. Tile.kt:212-228: lat clamped to
    ±85.05112878, x wraps mod n, y truncates toward zero."""
    n = 1 << zoom
    clamped = F.greatest(F.lit(TILE_MIN_LAT), F.least(F.lit(TILE_MAX_LAT), lat))
    x = ((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))) % F.lit(float(n))
    rad = clamped * F.lit(PI) / F.lit(180.0)
    y = (
        (F.lit(1.0) - F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad)) / F.lit(PI))
        / F.lit(2.0)
        * F.lit(float(n))
    )
    return x.cast("int"), y.cast("int")


def tile_xy_sql(lat: str, lon: str, zoom: int) -> tuple[str, str]:
    n = float(1 << zoom)
    clamped = f"greatest({TILE_MIN_LAT!r}, least({TILE_MAX_LAT!r}, ({lat})))"
    x = f"CAST(trunc(((({lon}) + 180.0) / 360.0 * {n!r}) % {n!r}) AS INT)"
    rad = f"(({clamped}) * {PI!r} / 180.0)"
    y = (
        f"CAST(trunc((1.0 - ln(tan({rad}) + 1.0 / cos({rad})) / {PI!r})"
        f" / 2.0 * {n!r}) AS INT)"
    )
    return x, y


def tile_neighbors(x: Column, y: Column, zoom: int) -> dict[str, tuple[Column, Column]]:
    """Native 8-neighborhood (Tile.kt:104-123): east/west wrap mod
    2^zoom, north/south clamp to [0, 2^zoom-1]; diagonals compose.
    Returns direction -> (x, y) Columns for tile k-ring expansion (the
    quadkey analogue of geohash kNN ring growth)."""
    n = 1 << zoom
    east_x = (x + F.lit(1)) % F.lit(n)
    west_x = (x - F.lit(1) + F.lit(n)) % F.lit(n)
    north_y = F.greatest(y - F.lit(1), F.lit(0))
    south_y = F.least(y + F.lit(1), F.lit(n - 1))
    return {
        "east": (east_x, y),
        "west": (west_x, y),
        "north": (x, north_y),
        "south": (x, south_y),
        "north_west": (west_x, north_y),
        "south_west": (west_x, south_y),
        "south_east": (east_x, south_y),
        "north_east": (east_x, north_y),
    }


def tile_neighbors_sql(x: str, y: str, zoom: int) -> dict[str, tuple[str, str]]:
    """DuckDB twin of :func:`tile_neighbors` (pure int math)."""
    n = 1 << zoom
    east_x = f"((({x}) + 1) % {n})"
    west_x = f"((({x}) - 1 + {n}) % {n})"
    north_y = f"greatest(({y}) - 1, 0)"
    south_y = f"least(({y}) + 1, {n - 1})"
    return {
        "east": (east_x, y),
        "west": (west_x, y),
        "north": (x, north_y),
        "south": (x, south_y),
        "north_west": (west_x, north_y),
        "south_west": (west_x, south_y),
        "south_east": (east_x, south_y),
        "north_east": (east_x, north_y),
    }


def quadkey_long(x: Column, y: Column, zoom: int) -> Column:
    """Packed-long quadkey via bit interleave. Tile.kt:68-74."""
    xl = x.cast("long")
    yl = y.cast("long")
    return F.shiftleft(_spread(yl, zoom), 1).bitwiseOR(_spread(xl, zoom))


def quadkey_long_sql(x: str, y: str, zoom: int) -> str:
    def spread(expr: str) -> str:
        for shift, mask in _SPREAD_MASKS:
            expr = f"((({expr}) | (({expr}) << {shift})) & {mask})"
        return expr

    return f"(({spread(f'CAST({y} AS BIGINT)')} << 1) | {spread(f'CAST({x} AS BIGINT)')})"


def quadkey(x: Column, y: Column, zoom: int) -> Column:
    """Base-4 quadkey string of length ``zoom`` (the digits of the packed
    long rendered in base 4 — single reference to the bit-math tree).
    Tile.kt:51-61."""
    if zoom == 0:
        return F.lit("")
    v = quadkey_long(x, y, zoom)
    return F.lpad(F.conv(v.cast("string"), 10, 4), zoom, "0")


def quadkey_sql(x: str, y: str, zoom: int) -> str:
    if zoom == 0:
        return "''"
    v = quadkey_long_sql(x, y, zoom)
    return f"lpad(to_base({v}, 4), {zoom}, '0')"


# --------------------------------------------------------------------------
# distances / bearings / bboxes (native)
# --------------------------------------------------------------------------

def _rad(deg: Column) -> Column:
    # GeoGeometry.toRadians: degrees * DEGREES_TO_RADIANS (constant)
    return deg * F.lit(DEG2RAD)


def haversine(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Exact op order of GeoGeometry.kt:565-580."""
    dlat = _rad(lat2 - lat1)
    dlon = _rad(lon2 - lon1)
    a = F.sin(dlat / 2) * F.sin(dlat / 2) + F.cos(_rad(lat1)) * F.cos(
        _rad(lat2)
    ) * F.sin(dlon / 2) * F.sin(dlon / 2)
    c = F.lit(2.0) * F.asin(F.sqrt(a))
    return F.lit(EARTH_RADIUS_METERS) * c


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    def rad(e: str) -> str:
        return f"(({e}) * {DEG2RAD!r})"

    dlat = rad(f"({lat2}) - ({lat1})")
    dlon = rad(f"({lon2}) - ({lon1})")
    a = (
        f"(sin(({dlat}) / 2) * sin(({dlat}) / 2)"
        f" + cos({rad(lat1)}) * cos({rad(lat2)})"
        f" * sin(({dlon}) / 2) * sin(({dlon}) / 2))"
    )
    return f"({EARTH_RADIUS_METERS!r} * (2.0 * asin(sqrt({a}))))"


def equirectangular(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """GeoGeometry.kt:599-608."""
    x = _rad(lon2 - lon1) * F.cos(_rad((lat1 + lat2) / 2))
    y = _rad(lat2 - lat1)
    return F.sqrt(x * x + y * y) * F.lit(EARTH_RADIUS_METERS)


def heading(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Initial compass bearing. GeoGeometry.kt:1121-1139."""
    la1 = _rad(lat1)
    la2 = _rad(lat2)
    dlon = _rad(lon2 - lon1)
    y = F.sin(dlon) * F.cos(la2)
    x = F.cos(la1) * F.sin(la2) - F.sin(la1) * F.cos(la2) * F.cos(dlon)
    return (F.atan2(y, x) * F.lit(1.0 / DEG2RAD) + F.lit(360.0)) % F.lit(360.0)


def heading_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    def rad(e: str) -> str:
        return f"(({e}) * {DEG2RAD!r})"

    la1, la2 = rad(lat1), rad(lat2)
    dlon = rad(f"({lon2}) - ({lon1})")
    y = f"(sin({dlon}) * cos({la2}))"
    x = f"(cos({la1}) * sin({la2}) - sin({la1}) * cos({la2}) * cos({dlon}))"
    return f"(((atan2({y}, {x}) * {1.0 / DEG2RAD!r}) + 360.0) % 360.0)"


def distance_to_segment(
    plat: Column,
    plon: Column,
    alat: Column,
    alon: Column,
    blat: Column,
    blon: Column,
) -> Column:
    """Geodesic distance (m) from point (plat, plon) to the segment
    (alat, alon)-(blat, blon), fully native (codegen, no UDF) and
    PAIRWISE: both the point and the segment may vary per row, unlike
    the scalar-segment numpy kernel (kernels/geometry.py:221).

    Mirrors the reference's branch structure and op order exactly
    (GeoGeometry.kt:642-680, where x is latitude and y is longitude):
    constant-lon segment -> foot at (plat, alon); constant-lat segment
    -> foot at (alat, plon); otherwise the perpendicular foot of the
    lat/lon-plane line through the segment.  If the foot falls inside
    the segment's bbox the distance is haversine(point, foot), else the
    nearer endpoint distance.  The slope branch divides by (blat - alat)
    and by s only when the guards hold, so no NaN/Inf escapes."""
    s = (blon - alon) / (blat - alat)
    c = alon - s * alat
    ps = F.lit(-1.0) / s
    pc = plon - ps * plat
    xx_s = (c - pc) / (ps - s)
    yy_s = s * xx_s + c
    xx = (
        F.when(alon == blon, plat)
        .when(alat == blat, alat)
        .otherwise(xx_s)
    )
    yy = (
        F.when(alon == blon, alon)
        .when(alat == blat, plon)
        .otherwise(yy_s)
    )
    on = (
        (F.least(alat, blat) <= xx)
        & (xx <= F.greatest(alat, blat))
        & (yy >= F.least(alon, blon))
        & (yy <= F.greatest(alon, blon))
    )
    d_foot = haversine(plat, plon, xx, yy)
    d_ends = F.least(
        haversine(plat, plon, alat, alon), haversine(plat, plon, blat, blon)
    )
    return F.when(on, d_foot).otherwise(d_ends)


def distance_to_segment_sql(
    plat: str, plon: str, alat: str, alon: str, blat: str, blon: str
) -> str:
    """DuckDB twin of :func:`distance_to_segment` — identical branch
    structure and arithmetic order so doubles agree to libm ulp."""
    s = f"((({blon}) - ({alon})) / (({blat}) - ({alat})))"
    c = f"(({alon}) - {s} * ({alat}))"
    ps = f"(-1.0 / {s})"
    pc = f"(({plon}) - {ps} * ({plat}))"
    xx_s = f"(({c} - {pc}) / ({ps} - {s}))"
    yy_s = f"({s} * {xx_s} + {c})"
    xx = (
        f"(CASE WHEN ({alon}) = ({blon}) THEN ({plat}) "
        f"WHEN ({alat}) = ({blat}) THEN ({alat}) ELSE {xx_s} END)"
    )
    yy = (
        f"(CASE WHEN ({alon}) = ({blon}) THEN ({alon}) "
        f"WHEN ({alat}) = ({blat}) THEN ({plon}) ELSE {yy_s} END)"
    )
    on = (
        f"(least({alat}, {blat}) <= {xx} AND {xx} <= greatest({alat}, {blat})"
        f" AND {yy} >= least({alon}, {blon})"
        f" AND {yy} <= greatest({alon}, {blon}))"
    )
    d_foot = haversine_sql(plat, plon, xx, yy)
    d_ends = (
        f"least({haversine_sql(plat, plon, alat, alon)}, "
        f"{haversine_sql(plat, plon, blat, blon)})"
    )
    return f"(CASE WHEN {on} THEN {d_foot} ELSE {d_ends} END)"


def bbox_contains(
    lat: Column, lon: Column, west: float, south: float, east: float, north: float
) -> Column:
    """Inclusive, antimeridian-aware bbox membership.
    geojson/geojson.kt:143-158: when west > east the box wraps the
    dateline and lon matches either side."""
    lat_ok = (lat >= F.lit(south)) & (lat <= F.lit(north))
    if west > east:
        lon_ok = (lon >= F.lit(west)) | (lon <= F.lit(east))
    else:
        lon_ok = (lon >= F.lit(west)) & (lon <= F.lit(east))
    return lat_ok & lon_ok


def bbox_contains_sql(
    lat: str, lon: str, west: float, south: float, east: float, north: float
) -> str:
    lat_ok = f"(({lat}) >= {south!r} AND ({lat}) <= {north!r})"
    if west > east:
        lon_ok = f"(({lon}) >= {west!r} OR ({lon}) <= {east!r})"
    else:
        lon_ok = f"(({lon}) >= {west!r} AND ({lon}) <= {east!r})"
    return f"({lat_ok} AND {lon_ok})"


def is_valid_coordinate(lat: Column, lon: Column, strict: bool = False) -> Column:
    """Non-throwing validate (quarantine predicate). GeoGeometry.kt:1208-1220."""
    tol = 0.0 if strict else 0.0002
    return (
        (lat >= F.lit(-90.0 - tol))
        & (lat <= F.lit(90.0 + tol))
        & (lon >= F.lit(-180.0 - tol))
        & (lon <= F.lit(180.0 + tol))
    )


def unordered_pairs(m: Column) -> Column:
    """m(m-1)/2 as an exact BIGINT: integer ``div`` (``/`` yields a
    DOUBLE, which loses the exact count once m(m-1) passes 2^53)."""
    return F.call_function("div", m * (m - F.lit(1)), F.lit(2))


# --------------------------------------------------------------------------
# PIP as a native expression (the twin of the kernel ray cast)
# --------------------------------------------------------------------------

def _between_sql(a: str, b: str, v: str) -> str:
    """GeoGeometry.kt:423-428 isBetween (inclusive both ends)."""
    return f"(({v}) BETWEEN least({a}, {b}) AND greatest({a}, {b}))"


def lines_cross_expr_sql(
    x1: str, y1: str, x2: str, y2: str,
    u1: str, v1: str, u2: str, v2: str,
) -> str:
    """DuckDB twin of GeoGeometry.kt:345-420 linesCross, all eight
    coordinates as SQL expressions (vertical / colinear / general
    branches verbatim, gradient equality and the 1e-7 colinear offset
    included)."""
    g1 = f"((({y2}) - ({y1})) / (({x2}) - ({x1})))"
    g2 = f"((({v2}) - ({v1})) / (({u2}) - ({u1})))"
    a1 = f"(({y1}) - {g1} * ({x1}))"
    a2 = f"(({v1}) - {g2} * ({u1}))"
    yi_l1v = f"({a2} + {g2} * ({x1}))"  # line1 vertical: x = x1
    yi_l2v = f"({a1} + {g1} * ({u1}))"  # line2 vertical: x = u1
    xi = f"(-({a1} - {a2}) / ({g1} - {g2}))"
    yi = f"({a1} + {g1} * {xi})"
    both_vertical = (
        f"(({x1}) = ({u1})"
        f" AND least({y1}, {y2}) <= greatest({v1}, {v2})"
        f" AND least({v1}, {v2}) <= greatest({y1}, {y2}))"
    )
    colinear = (
        f"(abs({a1} - {a2}) < 0.0000001 AND"
        f" ({_between_sql(x1, x2, u1)} OR {_between_sql(x1, x2, u2)}))"
    )
    general = (
        f"((({x1}) - {xi}) * ({xi} - ({x2})) >= 0"
        f" AND (({u1}) - {xi}) * ({xi} - ({u2})) >= 0"
        f" AND (({y1}) - {yi}) * ({yi} - ({y2})) >= 0"
        f" AND (({v1}) - {yi}) * ({yi} - ({v2})) >= 0)"
    )
    return (
        f"(CASE"
        f" WHEN ({x1}) = ({x2}) AND ({u1}) = ({u2}) THEN {both_vertical}"
        f" WHEN ({x1}) = ({x2}) THEN"
        f" ({_between_sql(y1, y2, yi_l1v)} AND {_between_sql(v1, v2, yi_l1v)})"
        f" WHEN ({u1}) = ({u2}) THEN"
        f" ({_between_sql(y1, y2, yi_l2v)} AND {_between_sql(v1, v2, yi_l2v)})"
        f" WHEN ({g1} - {g2}) = 0.0 THEN {colinear}"
        f" ELSE {general} END)"
    )


def _norm_lon_sql(ref: str, x: str) -> str:
    """geojson-intersect.kt:146-157 normalizedLongitude (single
    adjustment suffices for inputs within one wrap of ±180)."""
    d = f"(({x}) - ({ref}))"
    return (
        f"(CASE WHEN {d} > 180 THEN ({x}) - 360"
        f" WHEN {d} < -180 THEN ({x}) + 360 ELSE ({x}) END)"
    )


def lines_cross_am_sql(
    x1: str, y1: str, x2: str, y2: str,
    u1: str, v1: str, u2: str, v2: str,
) -> str:
    """linesCrossAntimeridianAware (geojson-intersect.kt:163-171): all
    longitudes normalized to the first point's frame, then planar
    linesCross."""
    return lines_cross_expr_sql(
        x1, y1,
        _norm_lon_sql(x1, x2), y2,
        _norm_lon_sql(x1, u1), v1,
        _norm_lon_sql(x1, u2), v2,
    )


def pip_expr_sql(lat: str, lon: str, ring: list[tuple[str, str]]) -> str:
    """Like :func:`pip_sql` but the ring vertices are SQL expressions
    (e.g. a per-row query box) — every constant-time simplification of
    pip_sql becomes a runtime condition; same GeoGeometry.kt:237-295
    semantics.  ``ring`` is an OPEN list of (lon_expr, lat_expr); edges
    close modularly like the reference's ``(i + 1) % size``."""
    m = len(ring)
    norms = [_wrap_diff_sql(x, lon) for x, _ in ring]
    lats = [y for _, y in ring]
    lons = [x for x, _ in ring]
    bbox = (
        f"(({lat}) >= least({', '.join(lats)})"
        f" AND ({lat}) <= greatest({', '.join(lats)})"
        f" AND least({', '.join(norms)}) <= 0.0"
        f" AND greatest({', '.join(norms)}) >= 0.0)"
    )
    vertex = " OR ".join(
        f"(abs(({y}) - ({lat})) < 1e-9 AND abs(({x}) - ({lon})) < 1e-9)"
        for x, y in ring
    )
    edge_terms = []
    cross_terms = []
    for i in range(m):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % m]
        nx1, nx2 = norms[i], norms[(i + 1) % m]
        not_degenerate = f"(({x1}) <> ({x2}) OR ({y1}) <> ({y2}))"
        edge_terms.append(
            f"({not_degenerate}"
            f" AND least({nx1}, {nx2}) <= 0.0 AND 0.0 <= greatest({nx1}, {nx2})"
            f" AND ({lat}) >= least({y1}, {y2}) AND ({lat}) <= greatest({y1}, {y2}))"
        )
        xint = (
            f"({nx1} + (({lat}) - ({y1})) * ({nx2} - {nx1})"
            f" / (({y2}) - ({y1})))"
        )
        cross_terms.append(
            f"(CASE WHEN abs(({y1}) - ({y2})) >= 1e-9"
            f" AND ({lat}) > least({y1}, {y2}) AND ({lat}) <= greatest({y1}, {y2})"
            f" AND {xint} > 0 THEN 1 ELSE 0 END)"
        )
    return (
        f"({bbox} AND (({vertex}) OR ({' OR '.join(edge_terms)})"
        f" OR (({' + '.join(cross_terms)}) % 2 = 1)))"
    )


def _wrap_diff_sql(x: str, lon: str) -> str:
    """wrapLongitude(x - lon) (GeoGeometry.kt:242-246)."""
    d = f"(({x}) - ({lon}))"
    return (
        f"(CASE WHEN {d} > 180 THEN {d} - 360 "
        f"WHEN {d} < -180 THEN {d} + 360 ELSE {d} END)"
    )


def pip_sql(lat: str, lon: str, ring) -> str:
    """DuckDB SQL ray-cast for one ring — full parity with
    GeoGeometry.kt:237-295: bbox early-out on the normalized ring,
    eps=1e-9 vertex accept, segment-bbox edge accept (onSegment,
    GeoGeometry.kt:682-690), then eastward-ray crossing parity with the
    reference rule ``lat > lower AND lat <= upper`` and ``xInt > 0``.

    ``ring`` is a sequence of (lon, lat) constants; everything unrolls
    into one boolean expression over the point columns.
    """
    pts = [(float(p[0]), float(p[1])) for p in ring]
    if pts[0] == pts[-1]:
        pts = pts[:-1]
    m = len(pts)

    def norm(x: float) -> str:
        d = f"({x!r} - ({lon}))"
        return (
            f"(CASE WHEN {d} > 180 THEN {d} - 360 "
            f"WHEN {d} < -180 THEN {d} + 360 ELSE {d} END)"
        )

    norms = [norm(p[0]) for p in pts]
    lats = [p[1] for p in pts]
    # bbox early-out: lat within ring lats, 0 within normalized lons
    bbox = (
        f"(({lat}) >= {min(lats)!r} AND ({lat}) <= {max(lats)!r}"
        f" AND least({', '.join(norms)}) <= 0.0"
        f" AND greatest({', '.join(norms)}) >= 0.0)"
    )
    # direct vertex match on RAW coordinates (GeoGeometry.kt:263)
    vertex = " OR ".join(
        f"(abs({p[1]!r} - ({lat})) < 1e-9 AND abs({p[0]!r} - ({lon})) < 1e-9)"
        for p in pts
    )
    edge_terms = []
    cross_terms = []
    for i in range(m):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % m]
        nx1, nx2 = norms[i], norms[(i + 1) % m]
        if not (x1 != x2 or y1 != y2):
            continue  # degenerate edge (e.g. duplicated closing vertex)
        # edge accept: (0, lat) inside the normalized segment's bbox
        edge_terms.append(
            f"(least({nx1}, {nx2}) <= 0.0 AND 0.0 <= greatest({nx1}, {nx2})"
            f" AND ({lat}) >= {min(y1, y2)!r} AND ({lat}) <= {max(y1, y2)!r})"
        )
        if abs(y1 - y2) < 1e-9:
            continue  # horizontal segments never cross the ray
        lower, upper = (y1, y2) if y1 < y2 else (y2, y1)
        xint = f"({nx1} + (({lat}) - {y1!r}) * ({nx2} - {nx1}) / {y2 - y1!r})"
        cross_terms.append(
            f"(CASE WHEN ({lat}) > {lower!r} AND ({lat}) <= {upper!r}"
            f" AND {xint} > 0 THEN 1 ELSE 0 END)"
        )
    crossings = " + ".join(cross_terms) if cross_terms else "0"
    edge = " OR ".join(edge_terms) if edge_terms else "FALSE"
    return (
        f"({bbox} AND (({vertex}) OR ({edge})"
        f" OR (({crossings}) % 2 = 1)))"
    )


def pip_col(lat: Column, lon: Column, rings) -> Column:
    """Native Column twin of :func:`pip_sql` for one polygon with holes
    (``rings[0]`` outer, ``rings[1:]`` holes); see :func:`pip_index`."""
    return pip_index(lat, lon, [rings])(F.lit(1))


def pip_index(lat: Column, lon: Column, polygons) -> Callable[[Column], Column]:
    """``contains(i)``: the point lies inside ``polygons[i - 1]`` (1-based
    int Column; each polygon a list of rings, outer first) and inside
    none of its holes (geojson.kt:187-192).  Each ring is tested with
    :func:`pip_sql`'s terms — bbox early-out, 1e-9 vertex accept,
    segment-bbox edge accept, eastward crossing parity
    (GeoGeometry.kt:237-295).

    The polygons ride as literal ``array<struct>`` tables (rings,
    vertices, edges, crossing edges) that ``F.forall`` / ``F.exists`` /
    ``F.aggregate`` slice and walk, so neither the generated code nor
    the py4j calls that build it grow with the vertex or polygon count
    (an unrolled pip_sql Column overflows Janino's 64 KB method limit on
    a 16-edge set, and the stage then silently runs interpreted).  As
    in pip_sql, degenerate and horizontal edges are dropped and lo / hi
    / ``dy`` precomputed here in float64."""
    verts: list[tuple] = []  # (x, y)
    edges: list[tuple] = []  # (x1, x2, lo, hi) of non-degenerate edges
    cross: list[tuple] = []  # (x1, x2, lo, hi, y1, dy), |dy| >= 1e-9
    ring_rows: list[tuple] = []
    poly_rows: list[tuple] = []
    for rings in polygons:
        poly_rows.append((len(ring_rows) + 1, len(rings)))
        for k, ring in enumerate(rings):
            pts = [(float(p[0]), float(p[1])) for p in ring]
            if pts[0] == pts[-1]:
                pts = pts[:-1]
            m = len(pts)
            ring_edges = [
                (x1, x2, min(y1, y2), max(y1, y2), y1, y2 - y1)
                for (x1, y1), (x2, y2) in (
                    (pts[i], pts[(i + 1) % m]) for i in range(m)
                )
                if x1 != x2 or y1 != y2
            ]
            ring_cross = [e for e in ring_edges if abs(e[5]) >= 1e-9]
            lats = [y for _, y in pts]
            ring_rows.append((
                min(lats), max(lats), k > 0,
                len(verts) + 1, m,
                len(edges) + 1, len(ring_edges),
                len(cross) + 1, len(ring_cross),
            ))
            verts += pts
            edges += [e[:4] for e in ring_edges]
            cross += ring_cross
    d, i = "double", "int"
    V = _lit_table(verts, x=d, y=d)
    E = _lit_table(edges, x1=d, x2=d, lo=d, hi=d)
    X = _lit_table(cross, x1=d, x2=d, lo=d, hi=d, y1=d, dy=d)
    R = _lit_table(
        ring_rows, lo=d, hi=d, hole="boolean",
        v0=i, vn=i, e0=i, en=i, c0=i, cn=i,
    )
    P = _lit_table(poly_rows, r0=i, rn=i)

    def norm(x: Column) -> Column:  # wrapLongitude(x - lon)
        dx = x - lon
        return (
            F.when(dx > 180.0, dx - 360.0)
            .when(dx < -180.0, dx + 360.0)
            .otherwise(dx)
        )

    def crossing(acc: Column, e: Column) -> Column:
        n1, n2 = norm(e["x1"]), norm(e["x2"])
        xint = n1 + (lat - e["y1"]) * (n2 - n1) / e["dy"]
        hit = (lat > e["lo"]) & (lat <= e["hi"]) & (xint > 0.0)
        return acc + F.when(hit, 1).otherwise(0)

    def ring_contains(r: Column) -> Column:
        vs = F.slice(V, r["v0"], r["vn"])
        bbox = (
            (lat >= r["lo"])
            & (lat <= r["hi"])
            & F.exists(vs, lambda v: norm(v["x"]) <= 0.0)
            & F.exists(vs, lambda v: norm(v["x"]) >= 0.0)
        )
        vertex = F.exists(
            vs,
            lambda v: (F.abs(v["y"] - lat) < 1e-9) & (F.abs(v["x"] - lon) < 1e-9),
        )
        on_edge = F.exists(
            F.slice(E, r["e0"], r["en"]),
            lambda e: (F.least(norm(e["x1"]), norm(e["x2"])) <= 0.0)
            & (F.greatest(norm(e["x1"]), norm(e["x2"])) >= 0.0)
            & (lat >= e["lo"])
            & (lat <= e["hi"]),
        )
        hits = F.aggregate(F.slice(X, r["c0"], r["cn"]), F.lit(0), crossing)
        return bbox & (vertex | on_edge | (hits % 2 == 1))

    def contains(idx: Column) -> Column:
        p = F.element_at(P, idx)
        return F.forall(
            F.slice(R, p["r0"], p["rn"]),
            lambda r: ring_contains(r) != r["hole"],
        )

    return contains


def _lit_table(rows: list[tuple], **types: str) -> Column:
    """Literal ``array<struct>`` of ``rows`` with fields ``types`` (name
    -> SQL type): one JSON string that ``from_json`` parses and constant
    folding turns into a literal — one py4j call for any row count.
    JSON carries a float as its ``repr``, which parses back to the
    identical double (a numeric SQL literal would parse as DECIMAL)."""
    fields = ", ".join(f"{k}: {t}" for k, t in types.items())
    text = json.dumps([dict(zip(types, r)) for r in rows])
    return F.from_json(F.lit(text), f"array<struct<{fields}>>")


# --------------------------------------------------------------------------
# Rhumb-line (loxodrome) navigation family
# --------------------------------------------------------------------------

_PI_4 = math.pi / 4.0


def _lon_wrap_deg(dl: Column) -> Column:
    """Wrap a longitude difference (degrees) into (-180, 180]."""
    return (
        F.when(dl > 180.0, dl - 360.0)
        .when(dl <= -180.0, dl + 360.0)
        .otherwise(dl)
    )


def rhumb_distance(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Loxodrome (constant-bearing) distance in meters (Bowditch,
    American Practical Navigator ch. 12; the inverse Mercator
    projection form).  The course a ship steering one compass heading
    actually sails — always >= the great-circle distance; the
    reference's distance family (GeoGeometry.kt:565-608) stops at
    great-circle metrics, this completes the navigation pair.

    Same determinism class as :func:`haversine`: JVM vs C libm
    transcendentals agree to ~1 ulp, so contract queries round to 3
    decimals on both sides."""
    phi1 = _rad(lat1)
    phi2 = _rad(lat2)
    dphi = phi2 - phi1
    dlam = _rad(_lon_wrap_deg(lon2 - lon1))
    dpsi = F.log(
        F.tan(F.lit(_PI_4) + phi2 / 2) / F.tan(F.lit(_PI_4) + phi1 / 2)
    )
    q = F.when(F.abs(dpsi) > 1e-12, dphi / dpsi).otherwise(F.cos(phi1))
    return (
        F.sqrt(dphi * dphi + q * q * dlam * dlam)
        * F.lit(EARTH_RADIUS_METERS)
    )


def rhumb_distance_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    def rad(e: str) -> str:
        return f"(({e}) * {DEG2RAD!r})"

    dl = f"(({lon2}) - ({lon1}))"
    wrap = (
        f"(CASE WHEN {dl} > 180.0 THEN {dl} - 360.0 "
        f"WHEN {dl} <= -180.0 THEN {dl} + 360.0 ELSE {dl} END)"
    )
    phi1, phi2 = rad(lat1), rad(lat2)
    dphi = f"({phi2} - {phi1})"
    dlam = f"({wrap} * {DEG2RAD!r})"
    dpsi = (
        f"ln(tan({_PI_4!r} + {phi2} / 2) / "
        f"tan({_PI_4!r} + {phi1} / 2))"
    )
    q = (
        f"(CASE WHEN abs({dpsi}) > 1e-12 THEN {dphi} / {dpsi} "
        f"ELSE cos({phi1}) END)"
    )
    return (
        f"(sqrt({dphi} * {dphi} + {q} * {q} * {dlam} * {dlam}) "
        f"* {EARTH_RADIUS_METERS!r})"
    )


def rhumb_bearing(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Constant compass course (degrees in [0, 360)) of the loxodrome
    from point 1 to point 2 — the single heading to steer, vs
    :func:`heading`'s INITIAL great-circle bearing."""
    phi1 = _rad(lat1)
    phi2 = _rad(lat2)
    dlam = _rad(_lon_wrap_deg(lon2 - lon1))
    dpsi = F.log(
        F.tan(F.lit(_PI_4) + phi2 / 2) / F.tan(F.lit(_PI_4) + phi1 / 2)
    )
    deg = F.atan2(dlam, dpsi) * F.lit(1.0 / DEG2RAD)
    return (deg + 360.0) % 360.0


def rhumb_bearing_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    def rad(e: str) -> str:
        return f"(({e}) * {DEG2RAD!r})"

    dl = f"(({lon2}) - ({lon1}))"
    wrap = (
        f"(CASE WHEN {dl} > 180.0 THEN {dl} - 360.0 "
        f"WHEN {dl} <= -180.0 THEN {dl} + 360.0 ELSE {dl} END)"
    )
    phi1, phi2 = rad(lat1), rad(lat2)
    dlam = f"({wrap} * {DEG2RAD!r})"
    dpsi = (
        f"ln(tan({_PI_4!r} + {phi2} / 2) / "
        f"tan({_PI_4!r} + {phi1} / 2))"
    )
    return (
        f"(((atan2({dlam}, {dpsi}) * {1.0 / DEG2RAD!r}) + 360.0) "
        "% 360.0)"
    )


def rhumb_destination(
    lat: Column, lon: Column, bearing_deg: Column, dist_m: Column
) -> tuple[Column, Column]:
    """Destination of a loxodrome leg: steer ``bearing_deg`` for
    ``dist_m`` meters from (lat, lon).  Returns (lat2, lon2) Columns;
    latitudes clamp at the poles (a rhumb line that would overshoot a
    pole stops there), longitudes wrap into (-180, 180]."""
    phi1 = _rad(lat)
    theta = _rad(bearing_deg)
    delta = dist_m / F.lit(EARTH_RADIUS_METERS)
    dphi = delta * F.cos(theta)
    phi2 = phi1 + dphi
    half_pi = math.pi / 2.0
    phi2 = F.when(phi2 > half_pi, F.lit(half_pi)).when(
        phi2 < -half_pi, F.lit(-half_pi)
    ).otherwise(phi2)
    dpsi = F.log(
        F.tan(F.lit(_PI_4) + phi2 / 2) / F.tan(F.lit(_PI_4) + phi1 / 2)
    )
    q = F.when(F.abs(dpsi) > 1e-12, (phi2 - phi1) / dpsi).otherwise(
        F.cos(phi1)
    )
    dlam = delta * F.sin(theta) / q
    lat2 = phi2 * F.lit(1.0 / DEG2RAD)
    lon2 = _lon_wrap_deg(
        ((lon + dlam * F.lit(1.0 / DEG2RAD)) + 540.0) % 360.0 - 180.0
    )
    return lat2, lon2


def rhumb_destination_sql(
    lat: str, lon: str, bearing_deg: str, dist_m: str
) -> tuple[str, str]:
    def rad(e: str) -> str:
        return f"(({e}) * {DEG2RAD!r})"

    phi1 = rad(lat)
    theta = rad(bearing_deg)
    delta = f"(({dist_m}) / {EARTH_RADIUS_METERS!r})"
    half_pi = math.pi / 2.0
    phi2_raw = f"({phi1} + {delta} * cos({theta}))"
    phi2 = (
        f"(CASE WHEN {phi2_raw} > {half_pi!r} THEN {half_pi!r} "
        f"WHEN {phi2_raw} < {-half_pi!r} THEN {-half_pi!r} "
        f"ELSE {phi2_raw} END)"
    )
    dpsi = (
        f"ln(tan({_PI_4!r} + {phi2} / 2) / "
        f"tan({_PI_4!r} + {phi1} / 2))"
    )
    q = (
        f"(CASE WHEN abs({dpsi}) > 1e-12 THEN "
        f"({phi2} - {phi1}) / {dpsi} ELSE cos({phi1}) END)"
    )
    dlam = f"({delta} * sin({theta}) / {q})"
    lat2 = f"({phi2} * {1.0 / DEG2RAD!r})"
    lon_raw = (
        f"((((({lon}) + {dlam} * {1.0 / DEG2RAD!r}) + 540.0) "
        "% 360.0) - 180.0)"
    )
    lon2 = (
        f"(CASE WHEN {lon_raw} > 180.0 THEN {lon_raw} - 360.0 "
        f"WHEN {lon_raw} <= -180.0 THEN {lon_raw} + 360.0 "
        f"ELSE {lon_raw} END)"
    )
    return lat2, lon2

"""Vectorized pandas/Arrow UDFs wrapping the numpy kernels.

These are the ONLY Python that runs on the executor hot path, and every
one is Arrow-batched (no per-row Python, per BASELINE.json input_hint).
Native Column expressions (functions/columns.py) are preferred wherever
the semantics allow; these UDFs cover what Spark built-ins can't express:
the ray-cast PIP re-check against per-row polygon rings (the broadcast
PIP re-check is the native ``columns.pip_index``), geohash
decode/neighbors, Vincenty, and regex-based coordinate extraction with
lookaround.
"""

from __future__ import annotations

from functools import lru_cache as _lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import coords as kcoords
from ..kernels import geohash as kgh
from ..kernels import geometry as kgeo
from ..kernels import vincenty as kvin


@F.pandas_udf(T.StringType())
def gh_encode(lat: pd.Series, lon: pd.Series, length: pd.Series) -> pd.Series:
    """Bisection geohash encode (reference-exact). Prefer the native
    functions.columns.geohash on hot paths; this exists for parity tests
    and variable lengths."""
    la = lat.to_numpy(dtype=np.float64)
    lo = lon.to_numpy(dtype=np.float64)
    ln = length.to_numpy()
    out = np.empty(len(la), dtype=object)
    for l_val in np.unique(ln):
        m = ln == l_val
        out[m] = kgh.encode(la[m], lo[m], int(l_val))
    return pd.Series(out)


_BBOX_SCHEMA = T.StructType(
    [
        T.StructField("west", T.DoubleType()),
        T.StructField("south", T.DoubleType()),
        T.StructField("east", T.DoubleType()),
        T.StructField("north", T.DoubleType()),
    ]
)


@F.pandas_udf(_BBOX_SCHEMA)
def gh_decode_bbox(cell: pd.Series) -> pd.DataFrame:
    """GeoHashUtils.kt:158-191."""
    w, s, e, n = kgh.decode_bbox(cell.to_numpy(dtype="U12"))
    return pd.DataFrame({"west": w, "south": s, "east": e, "north": n})


_POINT_SCHEMA = T.StructType(
    [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
)


@F.pandas_udf(_POINT_SCHEMA)
def gh_decode(cell: pd.Series) -> pd.DataFrame:
    """Geohash center. GeoHashUtils.kt:206-213."""
    lon, lat = kgh.decode(cell.to_numpy(dtype="U12"))
    return pd.DataFrame({"lon": lon, "lat": lat})


@F.pandas_udf(T.ArrayType(T.StringType()))
def gh_neighbors(cell: pd.Series) -> pd.Series:
    """[north, east, south, west] same-length neighbors.
    GeoHashUtils.kt:220-280."""
    arr = cell.to_numpy(dtype="U12")
    n = kgh.north(arr)
    e = kgh.east(arr)
    s = kgh.south(arr)
    w = kgh.west(arr)
    return pd.Series([[a, b, c, d] for a, b, c, d in zip(n, e, s, w)])


_VINCENTY_SCHEMA = T.StructType(
    [
        T.StructField("distance_m", T.DoubleType()),
        T.StructField("initial_bearing", T.DoubleType()),
        T.StructField("final_bearing", T.DoubleType()),
    ]
)


@F.pandas_udf(_VINCENTY_SCHEMA)
def vincenty_full(
    lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series
) -> pd.DataFrame:
    """vicenty.kt:72-140."""
    d, ib, fb = kvin.vincenty(
        lat1.to_numpy(dtype=np.float64),
        lon1.to_numpy(dtype=np.float64),
        lat2.to_numpy(dtype=np.float64),
        lon2.to_numpy(dtype=np.float64),
    )
    return pd.DataFrame(
        {"distance_m": d, "initial_bearing": ib, "final_bearing": fb}
    )


def vincenty_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    return vincenty_full(lat1, lon1, lat2, lon2)["distance_m"]


_COORD_LIST_SCHEMA = T.ArrayType(
    T.StructType(
        [T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())]
    )
)


@F.pandas_udf(_COORD_LIST_SCHEMA)
def extract_coords(text: pd.Series) -> pd.Series:
    """All valid "lat, lon" occurrences in free text, reference regex with
    lookaround guards (GeoGeometry.kt:1517-1541).  Returns
    array<struct<lat,lon>> for a follow-up explode."""
    out = []
    for t in text:
        if t is None:
            out.append([])
            continue
        out.append(
            [
                {"lat": la, "lon": lo}
                for lo, la in kcoords.find_all_coordinates(t)
            ]
        )
    return pd.Series(out)


# --------------------------------------------------------------------------
# UTM / UPS / MGRS (kernels.utm, kernels.mgrs)
# --------------------------------------------------------------------------

_UTM_SCHEMA = T.StructType(
    [
        T.StructField("longitude_zone", T.IntegerType()),
        T.StructField("latitude_zone_letter", T.StringType()),
        T.StructField("easting", T.DoubleType()),
        T.StructField("northing", T.DoubleType()),
    ]
)


@F.pandas_udf(_UTM_SCHEMA)
def utm_from_wgs84(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
    """WGS84 -> UTM or UPS by latitude (utm.kt:302-308; power series
    utm.kt:314-393, UPS utm.kt:498-528)."""
    from ..kernels import utm as ku

    z, l, e, n = ku.to_utm_or_ups(
        lat.to_numpy(dtype=np.float64), lon.to_numpy(dtype=np.float64)
    )
    return pd.DataFrame(
        {
            "longitude_zone": z.astype("int32"),
            "latitude_zone_letter": [chr(c) for c in l],
            "easting": e,
            "northing": n,
        }
    )


_LONLAT_SCHEMA = T.StructType(
    [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
)


@F.pandas_udf(_LONLAT_SCHEMA)
def utm_to_wgs84(
    zone: pd.Series, letter: pd.Series, easting: pd.Series, northing: pd.Series
) -> pd.DataFrame:
    """UTM/UPS -> WGS84 (utm.kt:310-312, 396-485, 530-585)."""
    from ..kernels import utm as ku

    letters = np.array([ord(s[0]) for s in letter], dtype=np.uint8)
    lon, lat = ku.from_utm_or_ups(
        zone.to_numpy(dtype=np.int64),
        letters,
        easting.to_numpy(dtype=np.float64),
        northing.to_numpy(dtype=np.float64),
    )
    return pd.DataFrame({"lon": lon, "lat": lat})


_MGRS_SCHEMA = T.StructType(
    [
        T.StructField("first_letter", T.StringType()),
        T.StructField("second_letter", T.StringType()),
        T.StructField("easting", T.IntegerType()),
        T.StructField("northing", T.IntegerType()),
        T.StructField("usng", T.StringType()),
    ]
)


@F.pandas_udf(_MGRS_SCHEMA)
def mgrs_from_utm(
    zone: pd.Series, letter: pd.Series, easting: pd.Series, northing: pd.Series
) -> pd.DataFrame:
    """UTM -> MGRS grid + 1m USNG string (mgrs.kt:107-161, 65-69)."""
    from ..kernels import mgrs as kmg

    z = zone.to_numpy(dtype=np.int64)
    letters = np.array([ord(s[0]) for s in letter], dtype=np.uint8)
    e = easting.to_numpy(dtype=np.float64)
    n = northing.to_numpy(dtype=np.float64)
    f, s, me, mn = kmg.to_mgrs(z, letters, e, n)
    usng = kmg.format_mgrs(z, letters, f, s, me, mn, digits=5, spaces=True)
    return pd.DataFrame(
        {
            "first_letter": [chr(c) for c in f],
            "second_letter": [chr(c) for c in s],
            "easting": me.astype("int32"),
            "northing": mn.astype("int32"),
            "usng": usng,
        }
    )


@F.pandas_udf(T.StructType([
    T.StructField("easting", T.DoubleType()),
    T.StructField("northing", T.DoubleType()),
]))
def mgrs_to_utm_en(
    zone: pd.Series,
    letter: pd.Series,
    first: pd.Series,
    second: pd.Series,
    easting: pd.Series,
    northing: pd.Series,
) -> pd.DataFrame:
    """MGRS grid -> full UTM easting/northing (mgrs.kt:202-225)."""
    from ..kernels import mgrs as kmg

    e, n = kmg.mgrs_to_utm(
        zone.to_numpy(dtype=np.int64),
        np.array([ord(s[0]) for s in letter], dtype=np.uint8),
        np.array([ord(s[0]) for s in first], dtype=np.uint8),
        np.array([ord(s[0]) for s in second], dtype=np.uint8),
        easting.to_numpy(dtype=np.int64),
        northing.to_numpy(dtype=np.int64),
    )
    return pd.DataFrame({"easting": e, "northing": n})


def make_segment_intersects_udf(ring: np.ndarray):
    """pandas UDF (lat1,lon1,lat2,lon2) -> bool: segment intersects the
    closure-captured ring (geojson-intersect.kt:55-131 semantics via
    kernels.geometry.segment_intersects_ring)."""
    ring = np.asarray(ring, dtype=np.float64)

    @F.pandas_udf(T.BooleanType())
    def seg_intersects(
        lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series
    ) -> pd.Series:
        return pd.Series(
            kgeo.segment_intersects_ring(
                lat1.to_numpy(np.float64),
                lon1.to_numpy(np.float64),
                lat2.to_numpy(np.float64),
                lon2.to_numpy(np.float64),
                ring,
            )
        )

    return seg_intersects


@F.pandas_udf(T.StringType())
def geojson_io_url_udf(js: pd.Series) -> pd.Series:
    """geojson.io URL (json-helpers.kt:6-33): RFC 3986 byte-loop
    percent-encode of 'data:application/json,' + the GeoJSON string.
    NULL rows stay NULL (quarantine posture)."""
    from ..kernels.intersect import geojson_io_url

    return js.map(geojson_io_url, na_action="ignore")


def make_line_poly_intersects_udf(rings):
    """Vectorized (lat1, lon1, lat2, lon2) -> bool: segment intersects
    the closure-captured polygon under the FULL dispatch semantics
    (kernels.geometry.line_intersects_polygon — AM-aware crossings +
    hole-aware start containment).  The uniform-type hot path of
    make_intersects_udf."""
    rr = [np.asarray(r, dtype=np.float64) for r in rings]

    @F.pandas_udf(T.BooleanType())
    def line_poly(
        lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series
    ) -> pd.Series:
        return pd.Series(
            kgeo.line_intersects_polygon(
                lat1.to_numpy(np.float64),
                lon1.to_numpy(np.float64),
                lat2.to_numpy(np.float64),
                lon2.to_numpy(np.float64),
                rr,
            )
        )

    return line_poly


def make_pip_rings_udf():
    """pandas UDF ``(polygon_id, rings: array<array<array<double>>>,
    lat, lon) -> bool`` — hole-aware exact containment where the
    polygon rings ride IN THE ROW (the distributed-polygon-relation
    path, no closure dict).  Rows are grouped by polygon_id inside the
    Arrow batch so each polygon's rings convert to numpy once per
    batch; only the border fraction of rows ever reaches this UDF."""

    @F.pandas_udf(T.BooleanType())
    def pip_rings(
        polygon_id: pd.Series, rings: pd.Series, lat: pd.Series, lon: pd.Series
    ) -> pd.Series:
        out = np.zeros(len(lat), dtype=bool)
        la = lat.to_numpy(dtype=np.float64)
        lo = lon.to_numpy(dtype=np.float64)
        vals = rings.to_numpy()
        for _pid, idx in polygon_id.groupby(polygon_id).groups.items():
            ii = np.asarray(idx)
            rr = [
                np.stack([np.asarray(p, dtype=np.float64) for p in r])
                for r in vals[ii[0]]
            ]
            out[ii] = kgeo.polygon_with_holes_contains(
                la[ii], lo[ii], rr[0], rr[1:]
            )
        return pd.Series(out)

    return pip_rings


def make_intersects_udf(fixed: dict | None = None):
    """Geometry-pair intersects as a pandas UDF over GeoJSON strings.

    - ``make_intersects_udf()`` -> (geojson_a, geojson_b) -> bool
    - ``make_intersects_udf(geom)`` -> (geojson_a,) -> bool against the
      closure-captured geometry (the broadcast shape: one query geometry
      vs a distributed column).

    Full type-dispatch matrix of geojson-intersect.kt:5-171 via
    kernels.intersect; rows with unparseable JSON -> False (engine
    quarantine posture).  This is the generality path — the hot
    segment-vs-ring / PIP paths have dedicated vectorized kernels."""
    import json

    from ..kernels import intersect as kx

    if fixed is not None:

        @F.pandas_udf(T.BooleanType())
        def intersects_fixed(ga: pd.Series) -> pd.Series:
            out = np.zeros(len(ga), dtype=bool)
            for i, a in enumerate(ga):
                try:
                    out[i] = kx.intersects(json.loads(a), fixed)
                except (ValueError, KeyError, TypeError):
                    out[i] = False
            return pd.Series(out)

        return intersects_fixed

    @F.pandas_udf(T.BooleanType())
    def intersects_pair(ga: pd.Series, gb: pd.Series) -> pd.Series:
        out = np.zeros(len(ga), dtype=bool)
        for i, (a, b) in enumerate(zip(ga, gb)):
            try:
                out[i] = kx.intersects(json.loads(a), json.loads(b))
            except (ValueError, KeyError, TypeError):
                out[i] = False
        return pd.Series(out)

    return intersects_pair


def make_polygon_pairs_intersects_udf():
    """Polygon-vs-Polygon intersects over (rings_a, rings_b) columns
    (array<array<array<double>>>) — the overlay-join HOT-PATH form.

    Same predicate as make_intersects_udf but without the GeoJSON
    string round-trip and without the per-pair Python dispatch: the
    whole Arrow batch goes through the padded-tensor kernel
    (kernels/overlay.py), which falls back to the reference dispatch
    per row only for holes/multi-ring/antimeridian shapes.  Parity is
    pinned row-for-row by tests/test_overlay_batch.py."""
    from ..kernels.overlay import polygon_pairs_intersect_batch

    @F.pandas_udf(T.BooleanType())
    def pairs_intersect(ra: pd.Series, rb: pd.Series) -> pd.Series:
        return pd.Series(
            polygon_pairs_intersect_batch(ra.to_list(), rb.to_list())
        )

    return pairs_intersect


def make_polygon_vs_fixed_intersects_udf(fixed_rings):
    """Polygon-column vs ONE broadcast Polygon — the hot form of
    ``make_intersects_udf(geom)`` for the polygon x polygon case: the
    whole Arrow batch runs through the padded-tensor kernel against the
    closure-captured rings instead of a per-row json.loads + dispatch.
    ``fixed_rings``: GeoJSON Polygon coordinates (list of rings)."""
    from ..kernels.overlay import polygon_pairs_intersect_batch, ring_array

    fixed = [ring_array(r) for r in fixed_rings]  # normalize ONCE

    @F.pandas_udf(T.BooleanType())
    def fixed_pair(ra: pd.Series) -> pd.Series:
        rl = ra.to_list()
        return pd.Series(
            polygon_pairs_intersect_batch(rl, [fixed] * len(rl))
        )

    return fixed_pair


def make_ring_area_udf():
    """Grouped-hull ring area (GeoGeometry.kt:1236-1260) as a pandas UDF
    over (lons: array, lats: array) rows."""

    @F.pandas_udf(T.DoubleType())
    def ring_area(lons: pd.Series, lats: pd.Series) -> pd.Series:
        out = np.empty(len(lons))
        for i, (lo, la) in enumerate(zip(lons, lats)):
            ring = np.stack([np.asarray(lo), np.asarray(la)], axis=1)
            out[i] = (
                kgeo.area_ring(ring) if ring.shape[0] > 3 else 0.0
            )
        return pd.Series(out)

    return ring_area


@_lru_cache(maxsize=None)
def s2_cell_udf(level: int = 30):
    """Arrow-batched S2 encode (kernels/s2.py) — the HOT-PATH form.

    Measured at 5M rows / local[32]: 8.4M rows/s vs 0.017M rows/s for the
    native ``F.aggregate`` Hilbert fold (functions/s2cell.py s2_cell_id)
    — higher-order functions are interpreted per element, the same
    anti-pattern the one-pass SimHash rewrite removed (BASELINE.md r2
    item 3), so operators default to this UDF and keep the native fold
    for tiny relations and oracle-parity tests.

    NULL/NaN coordinates yield NULL ids (quarantine posture — never a
    fabricated cell; Arrow turns NULL into NaN on the way in, and a
    NaN->int cast is platform-defined garbage)."""
    from ..kernels import s2 as ks2

    @F.pandas_udf(T.LongType())
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(dtype=np.float64)
        lo = lon.to_numpy(dtype=np.float64)
        ok = np.isfinite(la) & np.isfinite(lo)
        out = pd.array(np.zeros(len(la), dtype=np.int64), dtype="Int64")
        if ok.any():
            out[ok] = ks2.cell_id(la[ok], lo[ok], level)
        out[~ok] = pd.NA
        return pd.Series(out)

    return _enc


def hex_cell_udf(res: int):
    """Arrow-batched hexgrid encode (kernels/hexgrid.py) — the HOT-PATH
    form for join keys.

    The native Column (functions/hexcell.py hex_cell) is the fastest
    encode in the suite inside a pure projection (0.18 s / 5M rows,
    where whole-stage codegen eliminates the shared subtrees), but
    UNDER A JOIN the optimizer collapses it into the join-side Project
    with every subtree duplicated (~30 SIN calls per row in the plan
    dump) and no cross-operator CSE — measured 8.5 s vs 0.8 s for the
    identical join on a materialized key at 125M output rows.  This
    kernel UDF materializes the key as a real column, so the join
    stage keys on an attribute; operators default to it on the big
    side (the s2_cell_udf precedent) and keep the native Column for
    pure projections (hex_encode, heatmaps) and oracle parity.

    NULL/NaN coordinates yield NULL ids (same quarantine posture as
    s2_cell_udf)."""
    from ..kernels import hexgrid as khex

    @F.pandas_udf(T.LongType())
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(dtype=np.float64)
        lo = lon.to_numpy(dtype=np.float64)
        ok = np.isfinite(la) & np.isfinite(lo)
        out = pd.array(np.zeros(len(la), dtype=np.int64), dtype="Int64")
        if ok.any():
            out[ok] = khex.encode_cell(la[ok], lo[ok], res)
        out[~ok] = pd.NA
        return pd.Series(out)

    return _enc

"""Contract queries: extraction, geohash/tile/quadkey cell indexing, the S2 cell family, and UTM/UPS/MGRS projections.

Split from the flat contract module by family (VERDICT r4 item 3);
query semantics, oracles, and registry order are unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

# --------------------------------------------------------------------------
# §2.3 extraction
# --------------------------------------------------------------------------

def q_extract_coords(spark, sf_dir):
    docs = src.documents_with_spans(spark, sf_dir)
    return extract_coordinates(docs, keep_spans=False).select("doc_id", "lat", "lon")


O_EXTRACT = (
    "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
    f"{src.LAT_SQL} AS lat, {src.LON_SQL} AS lon "
    "FROM documents WHERE doc_id % 10 < 6"
)


# --------------------------------------------------------------------------
# §2.4 cell indexing
# --------------------------------------------------------------------------

def q_geohash_encode(spark, sf_dir):
    df = _docs_coords(spark, sf_dir)
    return df.select(
        "doc_id",
        C.geohash(F.col("lat"), F.col("lon"), 12).alias("cell12"),
        C.geohash(F.col("lat"), F.col("lon"), 5).alias("cell5"),
        C.geohash_interleaved(F.col("lat"), F.col("lon"), 12).alias("cell_id"),
    )


O_GEOHASH = (
    "SELECT doc_id, "
    f"{C.geohash_sql('lat', 'lon', 12)} AS cell12, "
    f"{C.geohash_sql('lat', 'lon', 5)} AS cell5, "
    f"{C.geohash_long_sql('lat', 'lon', 12)} AS cell_id "
    f"FROM {_COORD_SUBQ}"
)


def q_tile_assign(spark, sf_dir):
    df = _docs_coords(spark, sf_dir)
    return assign_tiles(df, zooms=[8, 12, 16, 22]).select(
        "doc_id", "zoom", "tile_x", "tile_y"
    )


def _tile_oracle() -> str:
    x22, y22 = C.tile_xy_sql("lat", "lon", 22)
    sub = f"(SELECT doc_id, {x22} AS x22, {y22} AS y22 FROM {_COORD_SUBQ})"
    selects = [
        f"SELECT doc_id, {z} AS zoom, "
        f"CAST(x22 >> {22 - z} AS INT) AS tile_x, "
        f"CAST(y22 >> {22 - z} AS INT) AS tile_y FROM {sub}"
        for z in (8, 12, 16, 22)
    ]
    return " UNION ALL ".join(selects)


def q_quadkey(spark, sf_dir):
    df = _docs_coords(spark, sf_dir)
    x, y = C.tile_xy(F.col("lat"), F.col("lon"), 12)
    df = df.select("doc_id", x.alias("tx"), y.alias("ty"))
    return df.select(
        "doc_id",
        F.col("tx").alias("tile_x"),
        F.col("ty").alias("tile_y"),
        C.quadkey(F.col("tx"), F.col("ty"), 12).alias("qk"),
        C.quadkey_long(F.col("tx"), F.col("ty"), 12).alias("qk_long"),
    )


def _quadkey_oracle() -> str:
    x, y = C.tile_xy_sql("lat", "lon", 12)
    sub = f"(SELECT doc_id, {x} AS tx, {y} AS ty FROM {_COORD_SUBQ})"
    return (
        "SELECT doc_id, tx AS tile_x, ty AS tile_y, "
        f"{C.quadkey_sql('tx', 'ty', 12)} AS qk, "
        f"{C.quadkey_long_sql('tx', 'ty', 12)} AS qk_long FROM {sub}"
    )


def q_tile_bbox(spark, sf_dir):
    """Tile NW corner + bbox via inverse Mercator (Tile.kt:76-102,
    187-207), all native Columns; r9-rounded (atan/sinh are libm;
    DuckDB lacks sinh so the oracle uses (exp(t)-exp(-t))/2)."""
    from ..operators.tiling import with_tile, with_tile_bbox

    df = _docs_coords(spark, sf_dir)
    t = with_tile(df, 12)
    out = with_tile_bbox(t, 12)
    return out.select(
        "doc_id",
        "tile_x",
        "tile_y",
        F.round("west", 9).alias("west_r9"),
        F.round("south", 9).alias("south_r9"),
        F.round("east", 9).alias("east_r9"),
        F.round("north", 9).alias("north_r9"),
    )


def _tile_bbox_oracle() -> str:
    import math

    n = 1 << 12
    x, y = C.tile_xy_sql("lat", "lon", 12)
    sub = f"(SELECT doc_id, {x} AS tx, {y} AS ty FROM {_COORD_SUBQ})"

    def top_left(xe: str, ye: str, fix: bool) -> tuple[str, str]:
        lon = f"(CAST({xe} AS DOUBLE) / {float(n)!r} * 360.0 - 180.0)"
        t = f"({math.pi!r} * (1.0 - 2.0 * CAST({ye} AS DOUBLE) / {float(n)!r}))"
        sinh = f"((exp({t}) - exp(-{t})) / 2.0)"
        lat = (
            f"greatest({C.TILE_MIN_LAT!r}, least({C.TILE_MAX_LAT!r}, "
            f"atan({sinh}) * 180.0 / {math.pi!r}))"
        )
        if fix:
            lon = f"(CASE WHEN {lon} <= -180.0 THEN 180.0 ELSE {lon} END)"
            lat = (
                f"(CASE WHEN {lat} >= 85.051128 THEN {C.TILE_MIN_LAT!r} "
                f"ELSE {lat} END)"
            )
        return lon, lat

    tl_lon, tl_lat = top_left("tx", "ty", False)
    br_lon, br_lat = top_left(f"((tx + 1) % {n})", f"((ty + 1) % {n})", True)
    return (
        f"SELECT doc_id, tx AS tile_x, ty AS tile_y, "
        f"round({tl_lon}, 9) AS west_r9, round({br_lat}, 9) AS south_r9, "
        f"round({br_lon}, 9) AS east_r9, round({tl_lat}, 9) AS north_r9 "
        f"FROM {sub}"
    )


def q_tile_neighbors(spark, sf_dir):
    """8-neighborhood per doc tile at zoom 6 (Tile.kt:104-123: E/W wrap
    mod 2^z, N/S clamp; diagonals compose) — the tile k-ring expansion
    primitive, all native int Columns.  Low zoom so fixture coords near
    x=0/x=n-1 actually exercise the wrap in the oracle comparison."""
    df = _docs_coords(spark, sf_dir)
    x, y = C.tile_xy(F.col("lat"), F.col("lon"), 6)
    df = df.select("doc_id", x.alias("tile_x"), y.alias("tile_y"))
    nb = C.tile_neighbors(F.col("tile_x"), F.col("tile_y"), 6)
    return df.select(
        "doc_id",
        "tile_x",
        "tile_y",
        *[
            c.cast("int").alias(f"{d}_{ax}")
            for d, (cx, cy) in nb.items()
            for ax, c in (("x", cx), ("y", cy))
        ],
    )


def _tile_neighbors_oracle() -> str:
    x, y = C.tile_xy_sql("lat", "lon", 6)
    sub = f"(SELECT doc_id, {x} AS tile_x, {y} AS tile_y FROM {_COORD_SUBQ})"
    nb = C.tile_neighbors_sql("tile_x", "tile_y", 6)
    cols = ", ".join(
        f"CAST({c} AS INT) AS {d}_{ax}"
        for d, (cx, cy) in nb.items()
        for ax, c in (("x", cx), ("y", cy))
    )
    return f"SELECT doc_id, tile_x, tile_y, {cols} FROM {sub}"


def q_cover_cells(spark, sf_dir):
    """The covering family exposed as a relation: per fixture polygon,
    the (cell, is_border) set from geoHashesForPolygon
    (GeoHashUtils.kt:442-607) — the broadcast build side of the PIP
    join.  Driver-side iterative algorithm -> rows-only check (the
    covering invariants are pytest-pinned in test_covering.py)."""
    from ..operators.pip_join import build_cell_relation
    from ..fixtures import polygons_np

    rows, cell_len = build_cell_relation(polygons_np(None), max_length=6)
    df = spark.createDataFrame(
        rows, "polygon_id string, cell_key long, is_border boolean"
    )
    return df.select(
        "polygon_id",
        C.geohash_render(F.col("cell_key"), cell_len).alias("cell"),
        "is_border",
    ).orderBy("polygon_id", "cell")


def q_prefix_scan(spark, sf_dir):
    df = _with_cell(_docs_coords(spark, sf_dir))
    return prefix_filter_long(df, "u33").select(
        "doc_id", C.geohash_render(F.col("cell_id"), 12).alias("cell12")
    )


O_PREFIX = (
    f"SELECT doc_id, cell12 FROM (SELECT doc_id, "
    f"{C.geohash_sql('lat', 'lon', 12)} AS cell12 FROM {_COORD_SUBQ}) "
    "WHERE substr(cell12, 1, 3) = 'u33'"
)


# --------------------------------------------------------------------------
# §2.4bis S2 cell index (north-rule "H3/S2 index"; kernels/s2.py +
# functions/s2cell.py — native Column encode, no UDF)
# --------------------------------------------------------------------------

_S2_LSB12 = 1 << (2 * (30 - 12))
# level-8 ancestor covering the Berlin hot cluster (sources.tables puts
# 20% of docs at lat 52.45-52.57, lon 13.35-13.43)
_S2_BERLIN8 = int(s2k.cell_id(52.5, 13.39, 8)[0])
_S2_SCAN_LO = int(s2k.sortable(s2k.range_min(_S2_BERLIN8))[0])
_S2_SCAN_HI = int(s2k.sortable(s2k.range_max(_S2_BERLIN8))[0])


def q_s2_encode(spark, sf_dir):
    """Leaf via the Arrow-batched encode UDF (the hot path — 8.4M
    rows/s; the native F.aggregate fold is 430x slower, see
    udfs.s2_cell_udf), then ancestor/token/sortable as native bit
    algebra on the leaf column."""
    from ..functions.udfs import s2_cell_udf

    df = _docs_coords(spark, sf_dir).withColumn(
        "s2_30", s2_cell_udf(30)(F.col("lat"), F.col("lon"))
    )
    parent12 = S2.s2_parent(F.col("s2_30"), 12)
    return df.select(
        "doc_id",
        "s2_30",
        parent12.alias("s2_12"),
        S2.s2_token(parent12).alias("token12"),
        S2.s2_sortable(F.col("s2_30")).alias("sort30"),
    )


def _s2_encode_oracle() -> str:
    inner = S2.s2_encode_oracle(_COORD_SUBQ, 30, id_alias="s2_30")
    return (
        "SELECT doc_id, s2_30, s2_12, "
        "rtrim(lpad(lower(hex(s2_12)), 16, '0'), '0') AS token12, "
        "xor(s2_30, (-9223372036854775807 - 1)) AS sort30 FROM "
        f"(SELECT doc_id, s2_30, (s2_30 & {-_S2_LSB12}) | {_S2_LSB12} AS s2_12 "
        f"FROM ({inner}))"
    )


def q_s2_range_scan(spark, sf_dir):
    """All docs inside one ancestor cell = ONE integer range predicate on
    the leaf id (sign-bit-flipped so BETWEEN is unsigned order).  On a
    leaf-sorted/partitioned table this is the S2 analogue of the geohash
    prefix scan: pure min/max row-group + partition pruning."""
    from ..functions.udfs import s2_cell_udf

    df = _docs_coords(spark, sf_dir)
    df = df.withColumn("s2_30", s2_cell_udf(30)(F.col("lat"), F.col("lon")))
    return df.where(
        S2.s2_sortable(F.col("s2_30")).between(_S2_SCAN_LO, _S2_SCAN_HI)
    ).select("doc_id", "s2_30")


def _s2_range_oracle() -> str:
    inner = S2.s2_encode_oracle(_COORD_SUBQ, 30, id_alias="s2_30")
    return (
        f"SELECT doc_id, s2_30 FROM ({inner}) "
        "WHERE xor(s2_30, (-9223372036854775807 - 1)) "
        f"BETWEEN {_S2_SCAN_LO} AND {_S2_SCAN_HI}"
    )


def q_s2_radius_join(spark, sf_dir):
    """Same result set as ``radius_join`` (the oracle is the bare
    distance predicate), pruned through the S2 cap covering instead of
    the geohash circle cover — so a hash mismatch here would mean the
    covering dropped a true match."""
    from ..operators.s2_join import s2_radius_join

    df = _docs_coords(spark, sf_dir)
    out = s2_radius_join(df, BERLIN[0], BERLIN[1], 4000.0)
    return out.select("doc_id", F.round(F.col("dist_m"), 3).alias("dist_r3"))


_S2_HEAT_LEVELS = (4, 8, 12)


def q_s2_heatmap(spark, sf_dir):
    """Multi-level S2 cell counts (the pyramid rollup of tile_heatmap on
    the S2 index): leaf once via the Arrow UDF, ancestors by native bit
    algebra, one explode + one hash aggregation (map-side partial)."""
    from ..functions.udfs import s2_cell_udf

    df = _docs_coords(spark, sf_dir).withColumn(
        "s2_30", s2_cell_udf(30)(F.col("lat"), F.col("lon"))
    )
    levels = F.array(
        *[
            F.struct(
                F.lit(lv).alias("level"),
                S2.s2_parent(F.col("s2_30"), lv).alias("cell"),
            )
            for lv in _S2_HEAT_LEVELS
        ]
    )
    return (
        df.select(F.explode(levels).alias("lc"))
        .groupBy(F.col("lc.level").alias("level"), F.col("lc.cell").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _s2_heatmap_oracle() -> str:
    inner = S2.s2_encode_oracle(_COORD_SUBQ, 30, id_alias="s2_30")
    parts = []
    for lv in _S2_HEAT_LEVELS:
        lsb = 1 << (2 * (30 - lv))
        parts.append(
            f"SELECT {lv} AS level, (s2_30 & {-lsb}) | {lsb} AS cell "
            f"FROM ({inner})"
        )
    return (
        "SELECT level, cell, COUNT(*) AS n_docs FROM ("
        + " UNION ALL ".join(parts)
        + ") GROUP BY level, cell"
    )


def q_s2_pip_join(spark, sf_dir):
    """PIP join through the S2 index (polygon_covering + border
    re-check); shares the pip oracle — identical answer to the
    geohash-path pip_join on the same fixture polygons."""
    from ..operators.s2_join import s2_pip_join

    df = _docs_coords(spark, sf_dir)
    return s2_pip_join(df).select("doc_id", "polygon_id")


def q_s2_radius_join_bulk(spark, sf_dir):
    """Bulk radius join via distributed per-query S2 cap coverings; the
    covering is a conservative cap superset, so the oracle is the bare
    per-query distance predicate — no ring/extent mirroring needed."""
    from ..operators.s2_join import s2_radius_join_bulk

    pts = _docs_coords(spark, sf_dir)
    qs = (
        _docs_coords(spark, sf_dir)
        .where(F.col("doc_id").cast("long") % 40 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("lat").alias("qlat"),
            F.col("lon").alias("qlon"),
            (
                F.lit(2000.0)
                + (F.col("doc_id").cast("long") % 5) * F.lit(1000.0)
            ).alias("radius_m"),
        )
    )
    out = s2_radius_join_bulk(pts, qs)  # level auto-derived from radii
    return out.select(
        "query_id", "doc_id", F.round(F.col("dist_m"), 3).alias("dist_r3")
    )


def _s2_radius_bulk_oracle() -> str:
    hav = C.haversine_sql("p.lat", "p.lon", "q.qlat", "q.qlon")
    return (
        f"WITH pts AS (SELECT doc_id, lat, lon FROM {_COORD_SUBQ}), "
        "qs AS (SELECT doc_id AS query_id, lat AS qlat, lon AS qlon, "
        "2000.0 + (CAST(doc_id AS BIGINT) % 5) * 1000.0 AS radius_m "
        "FROM pts WHERE CAST(doc_id AS BIGINT) % 40 = 0) "
        f"SELECT q.query_id, p.doc_id, round({hav}, 3) AS dist_r3 "
        f"FROM qs q JOIN pts p ON {hav} <= q.radius_m"
    )


def q_s2_pip_join_big(spark, sf_dir):
    """PIP join vs a polygon RELATION through the S2 index (distributed
    mapInPandas covering, border rows ray-cast against their own rings
    — the 10^5+-polygon path).  Same answer as s2_pip_join/pip_join on
    the fixtures, so it shares the pip oracle."""
    from ..operators.pip_join import polygons_as_df
    from ..operators.s2_join import s2_pip_join_distributed

    df = _docs_coords(spark, sf_dir)
    polys = polygons_as_df(spark)
    return s2_pip_join_distributed(df, polys, level=13).select(
        "doc_id", "polygon_id"
    )


def q_s2_pip_semi(spark, sf_dir):
    """One-pass broadcast semi join on the S2 index (same grouped-cell
    shape as the geohash pip_semi; shares its oracle)."""
    from ..operators.s2_join import s2_pip_join

    df = _docs_coords(spark, sf_dir)
    return s2_pip_join(df, how="left_semi").select("doc_id", "lat", "lon")


def q_s2_pip_anti(spark, sf_dir):
    from ..operators.s2_join import s2_pip_join

    df = _docs_coords(spark, sf_dir)
    return s2_pip_join(df, how="left_anti").select("doc_id", "lat", "lon")


def q_s2_knn(spark, sf_dir):
    """Expanding-cap S2 kNN; the oracle is the same exact top-k by
    haversine as the geohash-ring knn (O_KNN), so a hash mismatch means
    the cap expansion stopped before the true kth neighbor."""
    from ..operators.s2_join import s2_knn

    df = _docs_coords(spark, sf_dir)
    out = s2_knn(df, [("berlin", BERLIN[0], BERLIN[1])], k=10)
    return out.select(
        "query_id", "rank", "doc_id", F.round(F.col("dist_m"), 3).alias("dist_r3")
    )


def q_gh_decode(spark, sf_dir):
    """Geohash decode: cell12 -> bbox + center (GeoHashUtils.kt:158-213;
    bisection kernel == closed-form dyadic grid bit-for-bit, so the SQL
    oracle uses the closed form at full float64 precision)."""
    from ..functions.udfs import gh_decode, gh_decode_bbox

    df = _docs_coords(spark, sf_dir)
    df = df.withColumn("cell12", C.geohash(F.col("lat"), F.col("lon"), 12))
    bbox = gh_decode_bbox(F.col("cell12"))
    ctr = gh_decode(F.col("cell12"))
    return df.select(
        "doc_id",
        "cell12",
        bbox["west"].alias("west"),
        bbox["south"].alias("south"),
        bbox["east"].alias("east"),
        bbox["north"].alias("north"),
        ctr["lon"].alias("center_lon"),
        ctr["lat"].alias("center_lat"),
    )


def _gh_decode_oracle() -> str:
    ilat = C.cell_index_sql("lat", -90.0, 180.0, 30)
    ilon = C.cell_index_sql("lon", -180.0, 360.0, 30)
    sub = (
        f"(SELECT doc_id, lat, lon, {ilat} AS ia, {ilon} AS io FROM {_COORD_SUBQ})"
    )
    span_lat = repr(180.0 / (1 << 30))
    span_lon = repr(360.0 / (1 << 30))
    cell = C.geohash_render_sql(
        C.geohash_long_from_indices_sql("ia", "io", 12), 12
    )
    return (
        f"SELECT doc_id, {cell} AS cell12, "
        f"io * {span_lon} - 180.0 AS west, "
        f"ia * {span_lat} - 90.0 AS south, "
        f"(io + 1) * {span_lon} - 180.0 AS east, "
        f"(ia + 1) * {span_lat} - 90.0 AS north, "
        f"((io * {span_lon} - 180.0) + ((io + 1) * {span_lon} - 180.0)) / 2 "
        "AS center_lon, "
        f"((ia * {span_lat} - 90.0) + ((ia + 1) * {span_lat} - 90.0)) / 2 "
        f"AS center_lat FROM {sub}"
    )


def q_gh_neighbors(spark, sf_dir):
    """N/E/S/W same-length neighbor hashes (GeoHashUtils.kt:220-280) of
    the length-5 cell.  Oracle addresses neighbors by cell-index ±1
    (equivalent to the reference's displace-center-and-re-encode for all
    non-pole cells).  The oracle's index±1 addressing is undefined in the
    top/bottom latitude row, so BOTH sides filter to |lat| <= 85 — the
    invariant is enforced, not assumed (no-op on the sandbox fixture,
    whose coords stay within ±85)."""
    from ..functions.udfs import gh_neighbors

    df = _docs_coords(spark, sf_dir).where(F.abs(F.col("lat")) <= 85.0)
    df = df.withColumn("cell5", C.geohash(F.col("lat"), F.col("lon"), 5))
    nb = gh_neighbors(F.col("cell5"))
    return df.select(
        "doc_id",
        "cell5",
        F.element_at(nb, 1).alias("n"),
        F.element_at(nb, 2).alias("e"),
        F.element_at(nb, 3).alias("s"),
        F.element_at(nb, 4).alias("w"),
    )


def _gh_neighbors_oracle() -> str:
    lat_bits, lon_bits = 12, 13
    ilat = C.cell_index_sql("lat", -90.0, 180.0, lat_bits)
    ilon = C.cell_index_sql("lon", -180.0, 360.0, lon_bits)
    sub = (
        f"(SELECT doc_id, {ilat} AS ia, {ilon} AS io FROM {_COORD_SUBQ} "
        "WHERE abs(lat) <= 85.0)"
    )

    def cell(ia: str, io: str) -> str:
        return C.geohash_render_sql(
            C.geohash_long_from_indices_sql(ia, io, 5), 5
        )

    return (
        f"SELECT doc_id, {cell('ia', 'io')} AS cell5, "
        f"{cell('ia + 1', 'io')} AS n, "
        f"{cell('ia', f'(io + 1) % {1 << lon_bits}')} AS e, "
        f"{cell('ia - 1', 'io')} AS s, "
        f"{cell('ia', f'(io - 1 + {1 << lon_bits}) % {1 << lon_bits}')} AS w "
        f"FROM {sub}"
    )


# --------------------------------------------------------------------------
# §2.3 / §2.7 UTM / UPS / MGRS projections
# --------------------------------------------------------------------------

def q_utm_roundtrip(spark, sf_dir):
    """WGS84 -> UTM -> WGS84 over the UTM validity band lat in [-80, 84]
    (both sides filter; UPS rows stay pytest-covered).  Oracle unrolls
    the forward/inverse power series and the ulp-guarded footpoint
    iteration in SQL (kernels.utm.utm_roundtrip_oracle_sql); err_m
    compared at r4 where numpy-vs-libm trig drift (~1e-9 m) is
    negligible."""
    from ..operators.projection import utm_roundtrip

    df = _docs_coords(spark, sf_dir).where(
        (F.col("lat") >= -80.0) & (F.col("lat") <= 84.0)
    )
    out = utm_roundtrip(df)
    return out.select(
        "doc_id",
        "longitude_zone",
        "latitude_zone_letter",
        F.round(F.col("easting"), 2).alias("easting_r2"),
        F.round(F.col("northing"), 2).alias("northing_r2"),
        F.round(F.col("err_m"), 4).alias("err_m_r4"),
    )


def _utm_roundtrip_oracle() -> str:
    from ..kernels.utm import utm_roundtrip_oracle_sql

    src = (
        f"(SELECT doc_id, lat, lon FROM {_COORD_SUBQ} "
        "WHERE lat >= -80.0 AND lat <= 84.0)"
    )
    inner = utm_roundtrip_oracle_sql(src)
    err = C.haversine_sql("lat", "lon", "lat2", "lon2")
    return (
        "SELECT doc_id, longitude_zone, latitude_zone_letter, "
        "round(easting, 2) AS easting_r2, round(northing, 2) AS northing_r2, "
        f"round({err}, 4) AS err_m_r4 FROM ({inner})"
    )


def q_mgrs(spark, sf_dir):
    """UTM -> MGRS grid letters + USNG string + back-conversion error
    (mgrs.kt:107-225).  Oracle = the UTM SQL twin plus the grid-letter
    table lookups, 100km modular arithmetic, and the banded-northing
    while-loop unrolled (mgrs.kt:218-220 adds 2,000,000 at most a few
    times)."""
    from ..operators.projection import mgrs_roundtrip

    # MGRS supports the UTM band only (mgrs.kt:12, FIXME at :203)
    df = _docs_coords(spark, sf_dir).where(F.col("lat").between(-80.0, 84.0))
    out = mgrs_roundtrip(df)
    return out.select(
        "doc_id",
        "longitude_zone",
        "latitude_zone_letter",
        "grid_col",
        "grid_row",
        "usng",
        "err_easting",
        "err_northing",
    )


def _mgrs_oracle() -> str:
    from ..kernels import mgrs as kmgrs
    from ..kernels.utm import utm_roundtrip_oracle_sql

    src = (
        f"(SELECT doc_id, lat, lon FROM {_COORD_SUBQ} "
        "WHERE lat >= -80.0 AND lat <= 84.0)"
    )
    utm = utm_roundtrip_oracle_sql(src)
    q = (
        "SELECT doc_id, longitude_zone, latitude_zone_letter, easting, "
        f"northing FROM ({utm})"
    )
    # forward: toMgrs (mgrs.kt:107-161)
    q = (
        "SELECT *, "
        "((1 + CAST(floor(northing) AS BIGINT) // 100000) % 20) AS _row, "
        "((CAST(floor(easting) AS BIGINT) // 100000) % 8) AS _col, "
        "(CASE WHEN longitude_zone % 6 = 0 THEN 6 ELSE longitude_zone % 6 END) AS _set, "
        "CAST(floor(easting % 100000) AS BIGINT) AS grid_easting, "
        "CAST(floor(northing % 100000) AS BIGINT) AS grid_northing "
        "FROM (" + q + ")"
    )
    q = (
        "SELECT *, "
        "(CASE WHEN _col = 0 THEN 7 ELSE _col - 1 END) AS _acol, "
        "(CASE WHEN _row = 0 THEN 19 ELSE _row - 1 END) AS _arow "
        "FROM (" + q + ")"
    )
    col_cases = " ".join(
        f"WHEN _set = {s} THEN substr('{kmgrs._COL_LETTERS[s]}', "
        "CAST(_acol AS INT) + 1, 1)"
        for s in range(1, 7)
    )
    row_cases = " ".join(
        f"WHEN _set = {s} THEN "
        f"substr('{kmgrs._ROW_EVEN if s % 2 == 0 else kmgrs._ROW_ODD}', "
        "CAST(_arow AS INT) + 1, 1)"
        for s in range(1, 7)
    )
    q = (
        f"SELECT *, (CASE {col_cases} END) AS grid_col, "
        f"(CASE {row_cases} END) AS grid_row FROM (" + q + ")"
    )
    # inverse: MgrsCoordinate.toUtm (mgrs.kt:202-225)
    col_idx_cases = " ".join(
        f"WHEN grid_col IN ({', '.join(repr(c) for c in letters)}) THEN {i}"
        for i, letters in enumerate(kmgrs._EASTING_ARRAY)
        if letters
    )
    row_idx_cases = " ".join(
        f"WHEN _set = {s} THEN "
        f"(strpos('{kmgrs._ROW_EVEN if s % 2 == 0 else kmgrs._ROW_ODD}', "
        "grid_row) - 1)"
        for s in range(1, 7)
    )
    min_n_cases = " ".join(
        f"WHEN latitude_zone_letter = '{ch}' THEN CAST({mn!r} AS DOUBLE)"
        for ch, (mn, _off) in kmgrs._BAND.items()
    )
    off_n_cases = " ".join(
        f"WHEN latitude_zone_letter = '{ch}' THEN CAST({off!r} AS DOUBLE)"
        for ch, (_mn, off) in kmgrs._BAND.items()
    )
    q = (
        f"SELECT *, (CASE {col_idx_cases} ELSE 0 END) AS _colidx, "
        f"(CASE {row_idx_cases} END) AS _rowidx, "
        f"(CASE {min_n_cases} END) AS _minn, "
        f"(CASE {off_n_cases} END) AS _offn FROM (" + q + ")"
    )
    q = (
        "SELECT *, "
        "(CAST(_colidx * 100000 + grid_easting AS DOUBLE)) AS easting_back, "
        "(CAST(_rowidx * 100000 AS DOUBLE) + _offn) AS _nb FROM (" + q + ")"
    )
    for _ in range(6):  # bounded while utm_n < min_n: += 2_000_000
        q = (
            "SELECT * EXCLUDE (_nb), "
            "(CASE WHEN _nb < _minn THEN _nb + 2000000 ELSE _nb END) AS _nb "
            "FROM (" + q + ")"
        )
    q = (
        "SELECT *, (_nb + grid_northing) AS northing_back FROM (" + q + ")"
    )
    usng = (
        "(CAST(longitude_zone AS VARCHAR) || latitude_zone_letter || ' ' || "
        "grid_col || grid_row || ' ' || "
        "lpad(CAST(grid_easting AS VARCHAR), 5, '0') || ' ' || "
        "lpad(CAST(grid_northing AS VARCHAR), 5, '0'))"
    )
    return (
        "SELECT doc_id, longitude_zone, latitude_zone_letter, grid_col, "
        f"grid_row, {usng} AS usng, "
        "abs(floor(easting) - easting_back) AS err_easting, "
        "abs(floor(northing) - northing_back) AS err_northing "
        "FROM (" + q + ")"
    )


def q_utm_parse(spark, sf_dir):
    """findUTMCoordinates over free text (utm.kt:120-142) — UTM strings
    synthesized from doc_id by integer arithmetic so the oracle can
    reproduce them without regex."""
    from ..operators.projection import find_utm_in_text

    docs = src.load_table(spark, sf_dir, "documents").select("doc_id")
    txt = F.concat(
        F.lit("at "),
        (F.col("doc_id") % 60 + 1).cast("string"),
        F.lit(" "),
        F.substring(
            F.lit("CDEFGHJKLMNPQRSTUVWX"),
            (F.col("doc_id") % 20 + 1).cast("int"),
            1,
        ),
        F.lit(" "),
        (100000 + (F.col("doc_id") * 37) % 400000).cast("string"),
        F.lit(" "),
        ((F.col("doc_id") * 53) % 9000000).cast("string"),
        F.lit(" ok"),
    )
    df = docs.withColumn("text", txt)
    return find_utm_in_text(df, "text", keep=["doc_id"]).select(
        "doc_id", "longitude_zone", "latitude_zone_letter", "easting", "northing"
    )


O_UTM_PARSE = (
    "SELECT doc_id, CAST(doc_id % 60 + 1 AS INT) AS longitude_zone, "
    "substr('CDEFGHJKLMNPQRSTUVWX', CAST(doc_id % 20 + 1 AS INT), 1) "
    "AS latitude_zone_letter, "
    "CAST(100000 + (doc_id * 37) % 400000 AS DOUBLE) AS easting, "
    "CAST((doc_id * 53) % 9000000 AS DOUBLE) AS northing FROM documents"
)

"""Contract queries: the hexgrid cell index family (encode, k-ring, radius/kNN/PIP joins, heatmap, adversarial seams).

Split from the flat contract module by family (VERDICT r4 item 3);
query semantics, oracles, and registry order are unchanged.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

# --------------------------------------------------------------------------
# §2.4ter hexgrid cell index (the north star's "H3 k-ring" noun;
# kernels/hexgrid.py, operators/hex_join.py)
# --------------------------------------------------------------------------

_HEX_KRING_RES = 8
_HEX_HEAT_RES = [5, 8]


def q_hex_encode(spark, sf_dir):
    """Hexgrid encode at two resolutions + the aperture-4 parent of the
    finer one — all native Columns (functions/hexcell.py), zero
    Python; the oracle recomputes the identical fixed-order float64
    chain in DuckDB so the cell ASSIGNMENT (not a rounded value) is
    hash-checked cross-engine."""
    df = _docs_coords(spark, sf_dir).select(
        "doc_id",
        HX.hex_cell(F.col("lat"), F.col("lon"), 12).alias("hex12"),
        HX.hex_cell(F.col("lat"), F.col("lon"), 7).alias("hex7"),
    )
    # the parent reads hex12 from its own Project: inlined, its ~20
    # references to the cell would copy the whole encode tree each time
    # (a ~600 KB plan)
    return df.withColumn("hex11p", HX.hex_parent(F.col("hex12"), 12))


def _hex_encode_oracle() -> str:
    stages_a, last_a, _ = HX.hex_axial_stages_from("base", 12, "a")
    stages_b, last_b, _ = HX.hex_axial_stages_from(last_a, 7, "b")
    stages_p, last_p, _ = HX.hex_parent_oracle_stages(
        f"(SELECT *, qwa AS cq, rxa AS cr FROM {last_b})", 12, "p"
    )
    return (
        f"WITH base AS (SELECT * FROM {_COORD_SUBQ}), "
        + ", ".join(stages_a + stages_b + stages_p)
        + " SELECT doc_id, "
        + HX.hex_pack_sql(12, "qwa", "rxa")
        + " AS hex12, "
        + HX.hex_pack_sql(7, "qwb", "rxb")
        + " AS hex7, "
        + HX.hex_pack_sql(11, "qwp", "rxp")
        + " AS hex11p "
        + f"FROM {last_p}"
    )


def q_hex_kring(spark, sf_dir):
    """gridDisk(cell, 2) for every 97th document's cell: one literal
    19-offset explode + native wrap/pack/hex-distance bit math —
    pentagon-free so the disk is exactly 19 rows per cell (H3 k-ring
    semantics, the candidate generator under hex_radius_join_bulk)."""
    df = _docs_coords(spark, sf_dir).where(
        F.col("doc_id").cast("long") % 97 == 0
    )
    cell = HX.hex_cell(F.col("lat"), F.col("lon"), _HEX_KRING_RES)
    df = df.select("doc_id", cell.alias("hex_id"))
    offs = F.array(
        *[
            F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
            for dq, dr in hgk.grid_disk_offsets(2)
        ]
    )
    df = df.select("doc_id", "hex_id", F.explode(offs).alias("o"))
    nl = F.lit(hgk.ncols(_HEX_KRING_RES)).cast("long")
    cq = ((HX.hex_q(F.col("hex_id")) + F.col("o.dq")) % nl + nl) % nl
    cr = HX.hex_r(F.col("hex_id")) + F.col("o.dr")
    hd = F.shiftright(
        F.abs(F.col("o.dq"))
        + F.abs(F.col("o.dr"))
        + F.abs(F.col("o.dq") + F.col("o.dr")),
        1,
    )
    return df.select(
        "doc_id",
        "hex_id",
        HX.hex_pack(_HEX_KRING_RES, cq, cr).alias("neighbor_id"),
        hd.cast("int").alias("hexdist"),
    )


def _hex_kring_oracle() -> str:
    n = hgk.ncols(_HEX_KRING_RES)
    stages, last, tag = HX.hex_axial_stages_from("base", _HEX_KRING_RES, "0")
    nq = f"(((qw{tag} + o.dq) % {n}) + {n}) % {n}"
    nr = f"(rx{tag} + o.dr)"
    return (
        f"WITH base AS (SELECT * FROM {_COORD_SUBQ} "
        "WHERE CAST(doc_id AS BIGINT) % 97 = 0), "
        + ", ".join(stages)
        + ", offs AS (SELECT dq.v AS dq, dr.v AS dr "
        "FROM generate_series(-2, 2) dq(v), generate_series(-2, 2) dr(v) "
        "WHERE (abs(dq.v) + abs(dr.v) + abs(dq.v + dr.v)) // 2 <= 2) "
        f"SELECT doc_id, {HX.hex_pack_sql(_HEX_KRING_RES, f'qw{tag}', f'rx{tag}')} AS hex_id, "
        f"{HX.hex_pack_sql(_HEX_KRING_RES, nq, nr)} AS neighbor_id, "
        "CAST((abs(o.dq) + abs(o.dr) + abs(o.dq + o.dr)) // 2 AS INT) "
        f"AS hexdist FROM {last}, offs o"
    )


def q_hex_radius_join(spark, sf_dir):
    """All docs within 4 km of Berlin through the hexgrid index: the
    driver-side gridDisk becomes an IN-list on the native cell id
    (scan-level pushdown, no join), exact haversine re-rank.  Shares
    the geohash/S2 radius oracle — identical answers across all three
    cell systems on the same predicate."""
    from ..operators.hex_join import hex_radius_join

    df = _docs_coords(spark, sf_dir)
    out = hex_radius_join(df, BERLIN[0], BERLIN[1], 4000.0)
    return out.select("doc_id", F.round(F.col("dist_m"), 3).alias("dist_r3"))


def q_hex_radius_join_bulk(spark, sf_dir):
    """Bulk hex radius join: every 40th doc is a circle of
    doc-dependent radius (2-6 km) — the same circle fixture as the
    geohash radius_join_bulk so the two index families are directly
    comparable.  Auto-res (worst query latitude), per-query ring count
    from the provable covering bound, nested-sequence gridDisk
    explode, cell equi-join, exact haversine.  NOTHING is dropped
    (auto-res guarantees k <= max_k), so the oracle is the pure
    distance predicate — stronger than mirroring ring membership."""
    from ..operators.hex_join import hex_radius_join_bulk

    pts = _docs_coords(spark, sf_dir)
    qs = pts.where(F.col("doc_id").cast("long") % 40 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
        (
            F.lit(2000.0) + (F.col("doc_id").cast("long") % 5) * F.lit(1000.0)
        ).alias("radius_m"),
    )
    out = hex_radius_join_bulk(pts, qs)
    return out.select(
        "query_id", "doc_id", F.round(F.col("dist_m"), 3).alias("dist_r3")
    )


def _hex_radius_bulk_oracle() -> str:
    hav = C.haversine_sql("p.lat", "p.lon", "q.qlat", "q.qlon")
    return (
        f"WITH pts AS (SELECT doc_id, lat, lon FROM {_COORD_SUBQ}), "
        "qs AS (SELECT doc_id AS query_id, lat AS qlat, lon AS qlon, "
        "2000.0 + (CAST(doc_id AS BIGINT) % 5) * 1000.0 AS radius_m "
        "FROM pts WHERE CAST(doc_id AS BIGINT) % 40 = 0) "
        "SELECT query_id, doc_id, round(d, 3) AS dist_r3 FROM ("
        f"SELECT q.query_id, p.doc_id, {hav} AS d, q.radius_m FROM qs q "
        "JOIN pts p ON p.lat BETWEEN q.qlat - q.radius_m / 111000.0 "
        "AND q.qlat + q.radius_m / 111000.0) WHERE d <= radius_m"
    )


def q_hex_knn(spark, sf_dir):
    """North-star kNN: hex k-ring candidate generation + exact
    haversine re-rank (operators/hex_join.py:hex_knn), certified by
    the provable ring stop bound.  Shares the exact-kNN oracle with
    the geohash knn — identical top-10."""
    from ..operators.hex_join import hex_knn

    df = _docs_coords(spark, sf_dir)
    out = hex_knn(df, [("berlin", BERLIN[0], BERLIN[1])], k=10, res=7)
    return out.select(
        "query_id", "rank", "doc_id", F.round(F.col("dist_m"), 3).alias("dist_r3")
    )


def q_hex_knn_bulk(spark, sf_dir):
    """Distributed bulk kNN through the hex index: every 50th doc is a
    query, fixed gridDisk(2) candidates at res 7, cell equi-join,
    window top-5 per query (operators.hex_join.hex_knn_bulk — the
    millions-of-queries path, no driver loop).  Oracle mirrors the
    identical disk membership (generate_series offsets + hex distance
    + the same packed-cell arithmetic)."""
    from ..operators.hex_join import hex_knn_bulk

    pts = _docs_coords(spark, sf_dir)
    qs = pts.where(F.col("doc_id").cast("long") % 50 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    out = hex_knn_bulk(pts, qs, k=5, res=7, ring=2)
    return out.select(
        "query_id",
        "rank",
        "doc_id",
        F.round(F.col("dist_m"), 3).alias("dist_r3"),
    )


def _hex_knn_bulk_oracle() -> str:
    res, ring = 7, 2
    n = hgk.ncols(res)
    prefix, last, tag = HX.hex_axial_with_stages(_COORD_SUBQ, res)
    hav = C.haversine_sql("p.lat", "p.lon", "c.qlat", "c.qlon")
    wrap_q = f"((((pq + dq) % {n}) + {n}) % {n})"
    return (
        prefix
        + f", pts AS (SELECT doc_id, lat, lon, "
        f"{HX.hex_pack_sql(res, f'qw{tag}', f'rx{tag}')} AS cell, "
        f"qw{tag} AS pq, rx{tag} AS pr FROM {last}), "
        "qs AS (SELECT doc_id AS query_id, lat AS qlat, lon AS qlon, "
        "pq, pr FROM pts WHERE CAST(doc_id AS BIGINT) % 50 = 0), "
        f"offs AS (SELECT dq.v AS dq, dr.v AS dr FROM "
        f"generate_series(-{ring}, {ring}) dq(v), "
        f"generate_series(-{ring}, {ring}) dr(v) "
        f"WHERE (abs(dq.v) + abs(dr.v) + abs(dq.v + dr.v)) // 2 <= {ring}), "
        "cand AS (SELECT query_id, qlat, qlon, "
        f"{HX.hex_pack_sql(res, wrap_q, '(pr + dr)')} AS cell FROM qs, offs), "
        f"j AS (SELECT c.query_id, c.qlat, c.qlon, p.doc_id, {hav} AS d "
        "FROM cand c JOIN pts p ON p.cell = c.cell) "
        "SELECT query_id, rank, doc_id, round(d, 3) AS dist_r3 FROM ("
        "SELECT query_id, doc_id, d, CAST(ROW_NUMBER() OVER ("
        "PARTITION BY query_id ORDER BY d ASC, doc_id ASC) AS INT) AS rank "
        "FROM j) WHERE rank <= 5"
    )


def q_hex_adversarial(spark, sf_dir):
    """Hex encode + aperture parent over ADVERSARIAL coordinates the
    test data never reaches: every doc's longitude shifts 180 deg (the
    overlay_adversarial trick) so points populate the antimeridian
    seam where q wraps, and latitude stretches toward the poles
    (|lat| up to 89.999) where the top lattice rows clamp — the wrap
    and pole branches are hash-checked cross-engine instead of only
    pytest-pinned."""
    df = _docs_coords(spark, sf_dir)
    lon_s = F.when(F.col("lon") <= 0, F.col("lon") + 180).otherwise(
        F.col("lon") - 180
    )
    lat_p = F.greatest(
        F.lit(-89.999), F.least(F.lit(89.999), F.col("lat") * F.lit(1.0588))
    )
    df = df.select("doc_id", lat_p.alias("alat"), lon_s.alias("alon")).select(
        "doc_id",
        HX.hex_cell(F.col("alat"), F.col("alon"), 9).alias("hex9"),
        HX.hex_cell(F.col("alat"), F.col("alon"), 4).alias("hex4"),
    )
    # the parent reads hex9 from its own Project (see q_hex_encode)
    return df.withColumn("hex8p", HX.hex_parent(F.col("hex9"), 9))


def _hex_adversarial_oracle() -> str:
    lat_p = (
        f"greatest(-89.999, least(89.999, ({src.LAT_SQL} * 1.0588)))"
    )
    lon_s = (
        f"CASE WHEN {src.LON_SQL} <= 0 THEN {src.LON_SQL} + 180 "
        f"ELSE {src.LON_SQL} - 180 END"
    )
    base = (
        f"(SELECT doc_id, {lat_p} AS lat, {lon_s} AS lon FROM documents)"
    )
    stages_a, last_a, _ = HX.hex_axial_stages_from("base", 9, "a")
    stages_b, last_b, _ = HX.hex_axial_stages_from(last_a, 4, "b")
    stages_p, last_p, _ = HX.hex_parent_oracle_stages(
        f"(SELECT *, qwa AS cq, rxa AS cr FROM {last_b})", 9, "p"
    )
    return (
        f"WITH base AS (SELECT * FROM {base}), "
        + ", ".join(stages_a + stages_b + stages_p)
        + " SELECT doc_id, "
        + HX.hex_pack_sql(9, "qwa", "rxa")
        + " AS hex9, "
        + HX.hex_pack_sql(4, "qwb", "rxb")
        + " AS hex4, "
        + HX.hex_pack_sql(8, "qwp", "rxp")
        + " AS hex8p "
        + f"FROM {last_p}"
    )


def q_hex_pip_join(spark, sf_dir):
    """PIP join through the hexgrid index (hex polygon covering with
    interior/border classification + exact border re-check); shares
    the pip oracle — identical answer to the geohash- and S2-path PIP
    joins on the same fixture polygons, making all THREE cell families
    interchangeable on the flagship operator."""
    from ..operators.hex_join import hex_pip_join

    df = _docs_coords(spark, sf_dir)
    return hex_pip_join(df).select("doc_id", "polygon_id")


def q_hex_pip_semi(spark, sf_dir):
    """One-pass semi PIP through the hex index (grouped broadcast cell
    relation, no duplicate risk); shares the semi oracle with the
    geohash and S2 paths."""
    from ..operators.hex_join import hex_pip_join

    df = _docs_coords(spark, sf_dir)
    return hex_pip_join(df, how="left_semi").select("doc_id", "lat", "lon")


def q_hex_pip_anti(spark, sf_dir):
    """Anti twin of q_hex_pip_semi (set-ops family on the hex index)."""
    from ..operators.hex_join import hex_pip_join

    df = _docs_coords(spark, sf_dir)
    return hex_pip_join(df, how="left_anti").select("doc_id", "lat", "lon")


def q_hex_heatmap(spark, sf_dir):
    """Multi-resolution hex density pyramid: independent native encode
    + partial-agg groupBy per res (exact, unlike approximate
    parent-chain rollup), cell centers decoded natively for
    rendering."""
    from ..operators.hex_join import hex_heatmap

    df = _docs_coords(spark, sf_dir)
    return hex_heatmap(df, _HEX_HEAT_RES)


def _hex_heatmap_oracle() -> str:
    parts = []
    for res in _HEX_HEAT_RES:
        inner = HX.hex_encode_oracle(_COORD_SUBQ, res)
        lat, lon = HX.hex_center_sql("hex_id", res)
        parts.append(
            f"SELECT {res} AS res, hex_id, COUNT(*) AS n, "
            f"round({lat}, 6) AS center_lat, round({lon}, 6) AS center_lon "
            f"FROM ({inner}) GROUP BY hex_id"
        )
    return " UNION ALL ".join(parts)

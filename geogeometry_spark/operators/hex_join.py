"""Hexgrid k-ring join operators: radius join, bulk radius join, kNN,
multi-resolution heatmap.

BASELINE.json north_star names "kNN queries resolved via H3 k-ring
candidate generation plus exact haversine re-rank" — these operators
deliver exactly that composition on the hexgrid index
(kernels/hexgrid.py), the engine's hex twin of the geohash
(operators/knn.py) and S2 (operators/s2_join.py) join families:

1. candidate generation = gridDisk(query cell, k) with k sized by the
   PROVABLE covering bound (hexgrid.k_for_radius: two circumradius
   hops + minimal center separation 1.5*s per hex step), never a
   heuristic — a missed candidate is an oracle mismatch, so recall is
   contract-tested, not hoped for;
2. candidates equi-join points on the native-Column cell id
   (functions/hexcell.py — sin + fixed-order arithmetic, zero Python);
3. exact native haversine re-rank / filter.

Scale notes (the 100 TB story, same as the geohash/S2 twins): the big
points side is never shuffled — bulk joins explode the SMALL query
side into (query, cell) candidates (3k(k+1)+1 rows per query, k
per-query from its own latitude + radius) and equi-join; the explode
is two nested ``sequence()`` explodes (the axial disk loop), all
JVM-side.  Near-polar queries are not silently under-covered: with an
explicit ``res`` they are excluded (count-observable, the geohash
radius_join_bulk policy, knn.py:268), with auto-res the resolution is
chosen so the WORST query latitude still fits ``max_k`` rings.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hexcell as HX
from ..kernels import hexgrid as hg
from .cell_join import (
    broadcast_pip,
    candidate_join,
    default_cover,
    knn_rounds,
    top_k,
    within_radius,
)

#: ring count per query the auto-res bands of hex_radius_join_bulk aim at
_BAND_TARGET_K = 6
#: per-polygon candidate-grid cap bounding hex_pip_join's auto res
_COVER_MAX_CELLS = 2048


def _hex_key(
    lat_col: str, lon_col: str, res: int, cell_col: str | None
) -> F.Column:
    """Probe-side hex cell key: an EXPLICIT precomputed column (caller
    names it — no auto-detection, a stale or foreign column would
    silently mis-join) or the Arrow kernel UDF.

    The UDF, not the native Column, on purpose: under a join the
    optimizer inlines the native encode into the join-side Project
    with every subtree duplicated (~30 SIN per row) and no
    cross-operator CSE — measured 8.5 s vs 1.9 s at 125M join output
    rows on the bench fixture.  The UDF materializes the key as an
    attribute so the join stage stays lean (the s2_cell_udf
    precedent; see functions/udfs.py hex_cell_udf)."""
    if cell_col is not None:
        return F.col(cell_col)
    from ..functions.udfs import hex_cell_udf

    return hex_cell_udf(res)(F.col(lat_col), F.col(lon_col))


def _require_res_with_cell_col(res, cell_col) -> None:
    """Ids embed their resolution in the top bits, so a precomputed
    column at a different res than the probe side joins to NOTHING —
    silently empty results (the s2_30 stale-column advice, one class
    worse).  Auto-res + cell_col is therefore rejected outright."""
    if cell_col is not None and res is None:
        raise ValueError(
            "cell_col requires an explicit res matching the stored "
            "column (auto-res could silently pick a different one and "
            "the join would return no rows)"
        )


def hex_radius_join(
    points: DataFrame,
    center_lat: float,
    center_lon: float,
    radius_m: float,
    res: int | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_col: str | None = None,
) -> DataFrame:
    """All points within ``radius_m`` of ONE driver-side center.

    The gridDisk cell ids are computed on the driver (kernel) and
    pushed as an IN-list on the native cell id — a scan-level filter
    (no join, no shuffle of the points side), then the exact haversine
    keeps true matches.  ``res=None`` auto-picks the finest resolution
    with <= 8 rings (hexgrid.res_for_radius)."""
    _require_res_with_cell_col(res, cell_col)
    if res is None:
        res = hg.res_for_radius(center_lat, radius_m)
    k = hg.k_for_radius(center_lat, radius_m, res)
    center_cell = hg.encode_cell_scalar(center_lat, center_lon, res)
    disk = hg.grid_disk(center_cell, k)
    cell = _hex_key(lat_col, lon_col, res, cell_col)
    return within_radius(
        points.where(cell.isin(disk)),
        center_lat, center_lon, radius_m, lat_col, lon_col,
    )


def _rho_col(qlat: F.Column, radius: F.Column) -> F.Column:
    """Projected covering radius for a ground circle — the ONE shared
    form of hexgrid.k_for_radius's bound (band selection and ring
    sizing both call this; a tweak to the pole clamp or scale must
    move both together or the covering guarantee desynchronizes)."""
    phi_max = F.least(
        F.lit(89.999999), F.abs(qlat) + radius / F.lit(hg.M_PER_DEG)
    )
    scale = F.lit(hg.M_PER_DEG) * F.cos(phi_max * F.lit(hg.RAD))
    return radius / scale


def _k_col(qlat: F.Column, radius: F.Column, res: int) -> F.Column:
    """Native-Column twin of hexgrid.k_for_radius (same formula; any
    k >= the kernel's k keeps the covering guarantee)."""
    s = hg.size(res)
    rho = _rho_col(qlat, radius)
    k = F.ceil((rho + F.lit(2.0 * s)) / F.lit(1.5 * s)).cast("int")
    return F.greatest(F.lit(1), k)


def hex_radius_join_bulk(
    points: DataFrame,
    queries: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_col: str | None = None,
    query_id_col: str = "query_id",
    qlat_col: str = "qlat",
    qlon_col: str = "qlon",
    radius_col: str = "radius_m",
    res: int | None = None,
    max_k: int = 12,
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """Radius join for a DATAFRAME of circles — the hexgrid twin of
    knn.radius_join_bulk.  Each query explodes its own gridDisk (k
    per-row from the query's latitude + radius, :func:`_disk_cells`),
    candidates equi-join points on the cell id, exact haversine
    filters.

    ``res=None`` groups queries into PER-RESOLUTION BANDS: each query
    natively computes the finest res whose ring count lands near
    ``_BAND_TARGET_K`` (s >= rho / (1.5*target_k - 2), one log2), the
    bounded distinct-res set (<= 21 values, 2-3 in practice) comes
    back to the driver, and one equi-join runs per band, unioned.  A
    single global res sized by the WORST query latitude was measured
    3x slower on the skewed bench fixture: near-polar outliers forced
    ~5.6 km cells onto 2 km equatorial queries (~40x area
    over-coverage feeding the join); banding keeps every query's
    covered area within ~2-3x of its true disk while the query-side
    explode stays 3k(k+1)+1-bounded.  No earthly query is dropped
    (k <= target_k holds by construction per band; only
    polar-degenerate circles whose required res-0 rho exceeds ~208
    projected units — |lat| -> 90 with cos -> 0 — fall out, the same
    count-observable exclusion as below).  With an
    explicit ``res``, queries needing k > max_k are excluded
    (count-observable, the documented geohash-bulk policy) rather
    than under-served.

    ``broadcast_queries=None`` AUTO-decides with a bounded probe
    (limit(N+1).count(), the ann_join policy, similarity.py:632): the
    exploded candidate relation is per-query-bounded by 3k(k+1)+1 so
    query count is the only unknown."""
    _require_res_with_cell_col(res, cell_col)
    if broadcast_queries is None:
        cap = 100_000
        broadcast_queries = queries.limit(cap + 1).count() <= cap
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(qlat_col).alias("qlat"),
        F.col(qlon_col).alias("qlon"),
        F.col(radius_col).alias("_radius"),
    )

    def band(q: DataFrame, r: int) -> DataFrame:
        q = q.select(
            "*",
            _k_col(F.col("qlat"), F.col("_radius"), r).alias("_k"),
            HX.hex_cell(F.col("qlat"), F.col("qlon"), r).alias("_qcell"),
        ).where(F.col("_k") <= F.lit(max_k))
        cells = _disk_cells(q, F.col("_k"), r).drop("_k", "_qcell")
        if broadcast_queries:
            cells = F.broadcast(cells)
        key = _hex_key(lat_col, lon_col, r, cell_col)
        return (
            candidate_join(points, key, cells, lat_col, lon_col)
            .where(F.col("dist_m") <= F.col("_radius"))
            .drop("qlat", "qlon", "_radius")
        )

    if res is not None:
        return band(q, res)
    rho = _rho_col(F.col("qlat"), F.col("_radius"))
    s_needed = rho / F.lit(1.5 * _BAND_TARGET_K - 2.0)
    rcol = F.greatest(
        F.lit(0),
        F.least(
            F.lit(hg.MAX_RES),
            F.floor(F.log2(F.lit(hg.size(0)) / s_needed) - F.lit(1e-9)).cast(
                "int"
            ),
        ),
    )
    tagged = q.withColumn("_hexres", rcol)
    bands = sorted(
        r["_hexres"] for r in tagged.select("_hexres").distinct().collect()
    ) or [hg.MAX_RES]  # empty query relation: typed empty out
    return reduce(
        DataFrame.unionByName,
        (
            band(tagged.where(F.col("_hexres") == b).drop("_hexres"), int(b))
            for b in bands
        ),
    )


def _disk_cells(q: DataFrame, k: F.Column, res: int) -> DataFrame:
    """Each query row of ``q`` (query_id, qlat, qlon, _qcell, ...) ->
    one row per cell of its gridDisk(``k``): two nested ``sequence``
    explodes over the axial loop, all JVM-side, deduped per query.
    Shared by :func:`hex_radius_join_bulk` and :func:`hex_knn_bulk`."""
    x = q.select("*", F.explode(F.sequence(-k, k)).alias("_dq"))
    x = x.select(
        "*",
        F.explode(
            F.sequence(
                F.greatest(-k, (-F.col("_dq")) - k),
                F.least(k, (-F.col("_dq")) + k),
            )
        ).alias("_dr"),
    )
    nl = F.lit(hg.ncols(res)).cast("long")
    cq = ((HX.hex_q(F.col("_qcell")) + F.col("_dq")) % nl + nl) % nl
    cr = HX.hex_r(F.col("_qcell")) + F.col("_dr")
    # the dedup is load-bearing when 2k+1 > ncols(res) (coarse res +
    # huge radius): distinct (dq, dr) offsets wrap onto the same cell
    # and would otherwise duplicate every matching (query, point) pair
    return x.select(
        *q.columns, HX.hex_pack(res, cq, cr).alias("cell_key")
    ).dropDuplicates(["query_id", "cell_key"])


def hex_knn(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_col: str | None = None,
    res: int = 7,
    max_ring: int = 128,
) -> DataFrame:
    """k nearest points per query via hex k-ring expansion + exact
    haversine re-rank — the north star's "H3 k-ring" kNN through
    :func:`cell_join.knn_rounds`: a query is certified done when its kth
    candidate distance <= hexgrid.covered_ground_radius_m (provable stop
    bound), otherwise it retries with a doubled ring.  Ring counts
    double up to ``max_ring`` (disk(128) is ~49.5k broadcast rows per
    still-pending query — fine interactively); for SPARSE data where
    the kth neighbor is far, prefer a coarser ``res`` over a huge ring
    so candidates stay bounded."""
    key = _hex_key(lat_col, lon_col, res, cell_col)

    def disk(ring: int):
        def cover(qlat, qlon):
            center = hg.encode_cell_scalar(qlat, qlon, res)
            return (
                hg.grid_disk(center, ring),
                hg.covered_ground_radius_m(qlat, ring, res),
            )

        return key, cover

    def rings():  # 2, 4, 8, ... landing ON max_ring, not past it
        ring = 2
        while ring < max_ring:
            yield ring
            ring *= 2
        if max_ring >= 2:
            yield max_ring

    rounds = (disk(r) for r in rings())
    return knn_rounds(points, queries, k, rounds, lat_col, lon_col)


def hex_heatmap(
    points: DataFrame,
    resolutions: list[int],
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-cell point counts at each resolution, with center
    coordinates for rendering.  Each resolution is an INDEPENDENT
    native encode + partial-agg groupBy (cheaper and exact vs an
    approximate parent-chain rollup: hex parents only approximately
    contain children, so re-encoding per res is the correct pyramid
    — the s2_heatmap precedent applies only to true prefix
    hierarchies)."""
    outs = []
    for res in resolutions:
        cell = HX.hex_cell(F.col(lat_col), F.col(lon_col), res)
        agg = (
            points.select(cell.alias("hex_id"))
            .groupBy("hex_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        clat, clon = HX.hex_center_latlon(F.col("hex_id"), res)
        outs.append(
            agg.select(
                F.lit(res).alias("res"),
                "hex_id",
                "n",
                F.round(clat, 6).alias("center_lat"),
                F.round(clon, 6).alias("center_lon"),
            )
        )
    return reduce(DataFrame.unionByName, outs)


def write_hex_sorted(
    df: DataFrame,
    path: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int = 12,
    partition_res: int = 3,
) -> None:
    """Persist hexgrid-clustered parquet: the hex twin of
    ``write_s2_sorted`` (s2_join.py) / ``write_cell_sorted``
    (prefix_scan.py).

    Layout: directory partition = the row's cell at ``partition_res``
    (a DIRECT coarse encode of the same point — no parent-chain
    needed, so a reader derives the exact partition set for any query
    disk from the same covering bound it uses for cells); rows sorted
    by the fine cell id within files.  Ids at one resolution order by
    (r, q) — latitude-row-major — so a query disk's rows cluster into
    few row groups and parquet min/max skipping prunes the rest."""
    fine = HX.hex_cell(F.col(lat_col), F.col(lon_col), res)
    part = HX.hex_cell(F.col(lat_col), F.col(lon_col), partition_res)
    (
        df.withColumn("hex_id", fine)
        .withColumn("hex_part", part)
        .repartition(F.col("hex_part"))
        .sortWithinPartitions("hex_id")
        .write.mode("overwrite")
        .partitionBy("hex_part")
        .parquet(path)
    )


def hex_radius_join_stored(
    points: DataFrame,
    center_lat: float,
    center_lon: float,
    radius_m: float,
    res: int = 12,
    partition_res: int = 3,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_col: str = "hex_id",
    part_col: str = "hex_part",
) -> DataFrame:
    """:func:`hex_radius_join` over a :func:`write_hex_sorted` table:
    the gridDisk at ``partition_res`` becomes a PartitionFilters
    IN-list (directories never opened), the fine disk an ordinary
    pushed IN-filter over the sorted cell column (row-group skipping),
    then the exact haversine.  Columns are EXPLICIT parameters — no
    auto-detection of stale cell columns (the s2_30 advice)."""
    part_center = hg.encode_cell_scalar(center_lat, center_lon, partition_res)
    pk = hg.k_for_radius(center_lat, radius_m, partition_res)
    return hex_radius_join(
        points.where(F.col(part_col).isin(hg.grid_disk(part_center, pk))),
        center_lat, center_lon, radius_m, res=res,
        lat_col=lat_col, lon_col=lon_col, cell_col=cell_col,
    )


def hex_pip_join(
    points: DataFrame,
    polygons: dict[str, list] | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_col: str | None = None,
    res: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """Point-in-polygon broadcast join through the hexgrid index — the
    hex twin of pip_join (geohash) / s2_pip_join, same plan shape
    (:func:`cell_join.broadcast_pip`):

    1. driver: hex covering per polygon (hexgrid.hex_cover_with_borders
       — bbox-conservative interior/border classification, holes
       demote), memoized for the default fixture set;
    2. broadcast (polygon_id, cell, is_border) at ONE global res —
       hex children only approximately tile their parent, so there is
       no per-polygon-length normalization like the geohash expand;
       cover_res_for_rings picks the finest res every polygon's
       candidate grid affords (small polygons in mixed-scale sets
       classify as border and fall through to the exact check —
       correctness never depends on res);
    3. points keyed by the Arrow kernel cell (hot-path posture of
       :func:`_hex_key`), ONE broadcast hash equi-join;
    4. interior-cell rows match outright; border-cell rows run the
       exact hole-aware ray-cast Column — the same exactness contract
       as the other two families, so all three share the PIP oracle.

    how='inner' returns input columns + polygon_id;
    'left_semi'/'left_anti' return matched/unmatched input rows in one
    pass.
    """
    from ..fixtures import polygons_np

    _require_res_with_cell_col(res, cell_col)
    polys = polygons_np(polygons)

    def cover():
        r = res
        if r is None:
            r = hg.cover_res_for_rings(
                list(polys.values()), max_cells=_COVER_MAX_CELLS
            )
        rows = []
        for pid, rings in polys.items():
            interior, border = hg.hex_cover_with_borders(rings, r)
            rows.extend((pid, c, False) for c in interior)
            rows.extend((pid, c, True) for c in border)
        return rows, r

    rows, cover_res = default_cover(polygons, ("hex", res), cover)
    key = _hex_key(lat_col, lon_col, cover_res, cell_col)
    return broadcast_pip(points, key, rows, polys, how, lat_col, lon_col)


def hex_knn_bulk(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_col: str | None = None,
    query_id_col: str = "query_id",
    qlat_col: str = "qlat",
    qlon_col: str = "qlon",
    res: int = 7,
    ring: int = 2,
) -> DataFrame:
    """kNN for a DATAFRAME of queries through the hex index — the
    millions-of-queries twin of :func:`hex_knn` (which drives an
    interactive loop), mirroring knn.knn_bulk's shape: each query
    explodes its fixed gridDisk(ring) (:func:`_disk_cells`), candidates
    equi-join points on the cell id, native haversine, window top-k PER
    QUERY (partitionBy(query_id), never a global sort).

    Fixed rings make the margin approximate: the ``guaranteed`` column
    is true when the kth candidate is provably exact (closer than the
    native lower bound rho*M_PER_DEG*cos(phi_max), the pre-pole form
    of hexgrid.covered_ground_radius_m — conservative, degenerating to
    false near the poles); callers re-run false rows through
    :func:`hex_knn`, which certifies with the pole-safe bound."""
    s = hg.size(res)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(qlat_col).alias("qlat"),
        F.col(qlon_col).alias("qlon"),
        HX.hex_cell(F.col(qlat_col), F.col(qlon_col), res).alias("_qcell"),
    )
    rho = 1.5 * ring * s - 2.0 * s
    sin_max = F.least(
        F.lit(1.0),
        F.abs(F.sin(F.col("qlat") * F.lit(hg.RAD))) + F.lit(rho / hg.Y_SCALE),
    )
    bound = (
        F.lit(rho * hg.M_PER_DEG)
        * F.sqrt(F.lit(1.0) - sin_max * sin_max)
    )
    cells = _disk_cells(q, F.lit(ring), res).drop("_qcell")
    key = _hex_key(lat_col, lon_col, res, cell_col)
    return (
        top_k(
            candidate_join(points, key, cells, lat_col, lon_col),
            k,
            points.columns[0],
        )
        .withColumn("guaranteed", F.col("dist_m") <= bound)
        .drop("qlat", "qlon")
    )

"""kNN via cell-ring candidate generation + exact haversine re-rank.

BASELINE.json north_star: "kNN queries resolved via k-ring candidate
generation plus exact haversine re-rank".  The reference supplies the
ring primitive (neighbor hashes, GeoHashUtils.kt:220-280) and the
re-rank idiom (concave-hull.kt:45-61 full sort); the distributed
composition is ours:

1. pick a precision p so one cell plausibly holds ~k points (caller
   tunes; default 5).
2. driver: grow a Chebyshev ring of cells around each query point
   (k-ring expansion using the neighbor kernels) until the ring's
   guaranteed-covered disk radius exceeds the kth candidate distance —
   here implemented as: start with ring radius r, join, and expand if
   under-filled or the correctness bound fails.
3. broadcast the (query_id, cell) candidate relation; equi-join points
   on their precision-p cell prefix — broadcast hash join, no shuffle
   of the big side.
4. exact haversine (native Column) + window top-k per query_id.

The ring bound: every point outside the ring lies at least
(r_ring - 1) * min_cell_dim_m from the query cell's center, so once the
kth candidate is closer than that, no outside point can displace it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import columns as C
from ..kernels import geohash as kgh
from ..kernels import geometry as kgeo
from .cell_join import candidate_join, knn_rounds, local_frame, top_k


def _ring_cells(center_cell: str, radius: int) -> set[str]:
    """Chebyshev ring of cells within ``radius`` steps of center (k-ring),
    built from the reference neighbor kernels (E/W wrap included)."""
    cells = {center_cell}
    frontier = {center_cell}
    for _ in range(radius):
        nxt = set()
        for c in frontier:
            a = np.array([c])
            nxt.update(
                (
                    str(kgh.north(a)[0]),
                    str(kgh.south(a)[0]),
                    str(kgh.east(a)[0]),
                    str(kgh.west(a)[0]),
                )
            )
        # diagonal fill: neighbors of neighbors
        for c in list(nxt):
            a = np.array([c])
            nxt.add(str(kgh.east(a)[0]))
            nxt.add(str(kgh.west(a)[0]))
        frontier = nxt - cells
        cells |= nxt
    return cells


def _cell_min_dim_m(cell: str) -> float:
    w, s, e, n = kgh.decode_bbox_scalar(cell)
    height = kgeo.haversine_scalar(s, w, n, w)
    width = min(
        kgeo.haversine_scalar(s, w, s, e), kgeo.haversine_scalar(n, w, n, e)
    )
    return min(width, height)


def _min_cell_dim_col(worst_lat: F.Column, precision: int) -> F.Column:
    """Native twin of :func:`_cell_min_dim_m` for precision-p cells at
    latitude ``worst_lat``: cell height is constant in degrees, width
    shrinks with cos(lat)."""
    lat_bits, lon_bits = C.cell_bits(precision)
    deg_m = kgeo.DEGREE_LATITUDE_METERS
    width_m = F.lit(360.0 / (1 << lon_bits) * deg_m) * F.cos(
        F.radians(worst_lat)
    )
    return F.least(F.lit(180.0 / (1 << lat_bits) * deg_m), width_m)


def knn(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_id_col: str = "cell_id",
    precision: int = 5,
    max_ring: int = 8,
) -> DataFrame:
    """k nearest ``points`` to each query (query_id, lat, lon) through
    :func:`cell_join.knn_rounds`: ring radius r = 1, 2, ..,
    ``max_ring`` of precision-``precision`` cells around each query's
    cell, certified once the kth candidate is closer than (r - 1)
    minimum cell dimensions; queries left at the ring cap take the
    exact :func:`knn_window` fallback.

    Each ring round re-scans ``points`` from source (this is the
    bounded INTERACTIVE path — collects only k x pending rows; use
    ``knn_bulk`` for relation-scale query sets).  When more than one
    round is expected (sparse data / tight r0), pass a ``.cache()``-d
    points DataFrame so later rounds read from memory instead of
    re-scanning the table (VERDICT r3 note)."""
    key = C.cell_prefix(F.col(cell_id_col), precision)

    def ring(radius: int):
        def cover(qlat, qlon):
            center = str(kgh.encode(qlat, qlon, precision)[0])
            cells = sorted(_ring_cells(center, radius))
            guarantee = (radius - 1) * _cell_min_dim_m(center)
            return [C.string_cell_to_long(c) for c in cells], guarantee

        return key, cover

    rounds = (ring(r) for r in range(1, max_ring + 1))
    return knn_rounds(points, queries, k, rounds, lat_col, lon_col)


def _ring_cells_col(
    q: DataFrame, lo: F.Column, hi: F.Column, precision: int
) -> DataFrame:
    """Each query row of ``q`` (query_id, qlat, qlon, ...) -> one row per
    precision-p cell of its Chebyshev ring at offsets ``lo..hi``, via
    pure index arithmetic (lon wraps mod 2^lon_bits, lat clamps — built
    with interleave_indices, zero UDFs), deduped per query.  The bulk
    twin of :func:`_ring_cells`, shared by :func:`knn_bulk` and
    :func:`radius_join_bulk`."""
    lat_bits, lon_bits = C.cell_bits(precision)
    n_lon = 1 << lon_bits
    max_ia = (1 << lat_bits) - 1
    qia, qio = C.cell_indices(F.col("qlat"), F.col("qlon"), precision)
    # explode the (di, dj) offsets FIRST, then interleave once per row:
    # building a (2*ring+1)^2 array of interleave expressions instead
    # would inline that many copies of the whole interleave expression
    # into the plan
    x = q.select("*", qia.alias("_qia"), qio.alias("_qio"))
    x = x.select("*", F.explode(F.sequence(lo, hi)).alias("_di"))
    x = x.select("*", F.explode(F.sequence(lo, hi)).alias("_dj"))
    ia = F.greatest(
        F.lit(0), F.least(F.lit(max_ia), F.col("_qia") + F.col("_di"))
    )
    io = (F.col("_qio") + F.col("_dj") + F.lit(n_lon)) % F.lit(n_lon)
    return x.select(
        *q.columns, C.interleave_indices(ia, io, precision).alias("cell_key")
    ).dropDuplicates(["query_id", "cell_key"])


def knn_bulk(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_id_col: str = "cell_id",
    query_id_col: str = "query_id",
    qlat_col: str = "qlat",
    qlon_col: str = "qlon",
    precision: int = 5,
    ring: int = 1,
) -> DataFrame:
    """kNN for a DATAFRAME of queries — the millions-of-queries scale
    path (the driver-loop :func:`knn` collects k rows per query, which
    is right up to ~10^5 queries; beyond that the answer set itself must
    stay distributed).

    Shape: each query explodes its Chebyshev ``ring`` of precision-p
    cells (:func:`_ring_cells_col`) -> shuffle equi-join against the
    points' cell prefix (bucketing the points table by the prefix
    removes its shuffle entirely) -> native haversine -> window top-k
    PER QUERY (:func:`cell_join.top_k`).

    Fixed-radius rings make the answer approximate at the margin: the
    ``guaranteed`` column is true when the kth candidate is provably
    exact (closer than the (ring-1)-cell covered disk, same bound as
    :func:`knn`); callers re-run the false rows with a bigger ring.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(qlat_col).alias("qlat"),
        F.col(qlon_col).alias("qlon"),
    )
    # guaranteed-covered disk radius: every point outside the ring is at
    # least (ring-1) * min cell dimension away (same bound as knn()),
    # sized at the WORST latitude the ring itself reaches (|qlat| +
    # ring rows poleward) — using cos(qlat) would overstate the
    # guarantee near the poles.
    height_deg = 180.0 / (1 << C.cell_bits(precision)[0])
    ring_worst_lat = F.least(
        F.lit(90.0), F.abs(F.col("qlat")) + F.lit(float(ring) * height_deg)
    )
    bound = F.lit(float(ring - 1)) * _min_cell_dim_col(
        ring_worst_lat, precision
    )
    cells = _ring_cells_col(q, F.lit(-ring), F.lit(ring), precision)
    key = C.cell_prefix(F.col(cell_id_col), precision)
    return (
        top_k(
            candidate_join(points, key, cells, lat_col, lon_col),
            k,
            points.columns[0],
        )
        .withColumn("guaranteed", F.col("dist_m") <= bound)
        .drop("qlat", "qlon")
    )


def radius_join_bulk(
    points: DataFrame,
    queries: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_id_col: str = "cell_id",
    query_id_col: str = "query_id",
    qlat_col: str = "qlat",
    qlon_col: str = "qlon",
    radius_col: str = "radius_m",
    precision: int = 5,
    max_ring: int = 3,
) -> DataFrame:
    """Radius join for a DATAFRAME of circles (query_id, qlat, qlon,
    radius_m) — the bulk twin of :func:`..pip_join.radius_join` (which
    serves ONE driver-side center): each query explodes only the cells
    its own radius can reach (per-row Chebyshev extent = ceil(radius /
    min cell dimension at its latitude), capped at ``max_ring``), then
    the same shuffle equi-join on the cell key + exact native haversine
    filter.  Queries whose extent exceeds the cap get NO rows and a
    caller should re-run them at a coarser precision — better explicit
    than a silent (2*cap+1)^2 explosion.

    Plan: zero UDFs; per-query output is the answer set itself so
    everything stays distributed."""
    deg_m = kgeo.DEGREE_LATITUDE_METERS
    # cell width shrinks poleward — size the extent at the WORST
    # latitude the radius can reach, so the ring covers the disk even
    # when the query sits equatorward of its matches.  The clamp is at
    # 90 (cos -> ~0, extent -> huge), so near-polar queries fall out of
    # the explicit extent<=max_ring exclusion below instead of being
    # served an under-sized ring with silently missing matches.
    worst_lat = F.least(
        F.lit(90.0), F.abs(F.col(qlat_col)) + F.col(radius_col) / F.lit(deg_m)
    )
    min_dim = _min_cell_dim_col(worst_lat, precision)
    extent = F.ceil(F.col(radius_col) / min_dim).cast("int")
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(qlat_col).alias("qlat"),
        F.col(qlon_col).alias("qlon"),
        F.col(radius_col).alias("_radius"),
        extent.alias("_ext"),
    ).where(F.col("_ext") <= max_ring)  # never a truncated ring
    cells = _ring_cells_col(
        q, -F.col("_ext"), F.col("_ext"), precision
    ).drop("_ext")
    key = C.cell_prefix(F.col(cell_id_col), precision)
    return (
        candidate_join(points, key, cells, lat_col, lon_col)
        .where(F.col("dist_m") <= F.col("_radius"))
        .drop("qlat", "qlon", "_radius")
    )


def knn_window(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Exact kNN by window top-k (no pruning) — the oracle-shaped
    formulation and the correctness baseline for :func:`knn`."""
    spark = points.sparkSession
    qdf = local_frame(spark, queries, "query_id string, qlat double, qlon double")
    dist = C.haversine(F.col(lat_col), F.col(lon_col), F.col("qlat"), F.col("qlon"))
    cand = points.crossJoin(F.broadcast(qdf)).withColumn("dist_m", dist)
    return top_k(cand, k, points.columns[0]).drop("qlat", "qlon")

"""Point-pattern density analytics over the tile lattice: Gaussian
kernel density estimation (KDE) and Ripley's K / L functions.

The reference's aggregation surface stops at per-cell COUNTS (the
tile/geohash/S2/hex heatmap family, GeoHashUtils.kt + Tile.kt math);
these two operators add the standard next steps of spatial point-
pattern analysis:

- :func:`kde_grid` — a truncated-Gaussian smoothed density surface
  (Silverman 1986 ch. 4): each occupied cell's count spreads to its
  neighborhood with precomputed kernel weights, the classic "heatmap
  blur" raster product.
- :func:`ripley_k` — Ripley's K(r) second-moment statistic (Ripley
  1977): for a ladder of radii, the expected number of further points
  within r of a typical point, scaled by intensity; the L(r) - r
  transform makes clustering (>0) vs dispersion (<0) readable.

Scale design: operators/lattice.py (occupied cells, the neighbor
spread, coincident-point representatives and their candidate pairs).
What is particular to these statistics:

- KDE: kernel weights are computed driver-side in Python, quantized to
  BIGINT parts-per-1e9, and enter both engines as identical integer
  literals — every shuffled value is an exact BIGINT, so partial-agg
  order cannot move the result and the DuckDB twin matches
  bit-for-bit.  (Integer headroom: sum(count * w_q) overflows int64
  only past ~9e9 points per stencil footprint; at that density rescale
  ``weight_scale``.)
- Ripley's K: reps bucket into cells at the finest zoom whose ground
  size is >= max(radii) in the study band, so the 3x3 neighborhood
  bounds candidate pairs — never all-pairs, in EITHER engine (the
  DuckDB twin runs the identical grid join, so the oracle stays
  tractable at sweep scale).  Pair counts per radius are exact BIGINTs
  from ONE distance evaluation (conditional sums over the mm-quantized
  geodesic distance); K/L floats are computed from those integers in a
  pinned IEEE op order mirrored literally by the twin.

No edge correction is applied (the naive / "uncorrected" estimator):
at engine scale the study area is data-defined and border effects are
the analyst's modelling choice; callers can pass a shrunken ``area_m2``
for guard-ring correction.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import columns as C
from . import lattice as L
from .cluster import dbscan_zoom_for_eps

__all__ = [
    "kde_grid",
    "kde_grid_oracle_sql",
    "ripley_k",
    "ripley_k_oracle_sql",
    "clark_evans",
    "clark_evans_oracle_sql",
    "variogram",
    "variogram_oracle_sql",
    "focal_stats",
    "focal_stats_oracle_sql",
    "colocation_quotient",
    "colocation_quotient_oracle_sql",
    "pair_correlation",
    "pair_correlation_oracle_sql",
    "stkde_cube",
    "stkde_cube_oracle_sql",
]


def _kde_stencil(
    radius_cells: int, sigma_cells: float, weight_scale: int
) -> list[tuple[int, int, int]]:
    """Truncated-Gaussian stencil as (dx, dy, w_q) integer triples.

    w_q = round(exp(-(dx^2+dy^2) / (2 sigma^2)) * weight_scale),
    computed ONCE driver-side (math.exp never runs per-row in either
    engine); offsets beyond the circular radius or with zero quantized
    weight are dropped."""
    out = []
    r2 = radius_cells * radius_cells
    for dx in range(-radius_cells, radius_cells + 1):
        for dy in range(-radius_cells, radius_cells + 1):
            d2 = dx * dx + dy * dy
            if d2 > r2:
                continue
            w_q = round(
                math.exp(-d2 / (2.0 * sigma_cells * sigma_cells))
                * weight_scale
            )
            if w_q > 0:
                out.append((dx, dy, w_q))
    return out


def _pair_zoom(r_m: float, max_abs_lat: float) -> int:
    """The finest zoom whose cells span ``r_m`` metres in the study band,
    so every pair within ``r_m`` meets in a 3x3 neighborhood; below
    zoom 2 that neighborhood is the whole planet."""
    zoom = dbscan_zoom_for_eps(r_m, max_abs_lat)
    if zoom < 2:
        raise ValueError(
            f"{r_m} m needs zoom {zoom} (< 2): planetary-scale distances "
            "degenerate to all-pairs; use a smaller radius or lag."
        )
    return zoom


def kde_grid(
    points: DataFrame,
    zoom: int = 8,
    radius_cells: int = 3,
    sigma_cells: float = 1.5,
    weight_scale: int = 1_000_000_000,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Truncated-Gaussian kernel density surface of point counts over
    WebMercator tiles at ``zoom``.

    Returns one row per lattice address receiving any mass:
    (tx, ty, src_cells, density_q, kde_r3) — the address, how many
    occupied cells contribute, the exact integer density
    sum(count * w_q), and the human-readable density rounded to 3
    decimals (density_q / weight_scale).  x wraps modulo 2^zoom
    (antimeridian adjacency); y addresses off the pole edges are
    dropped (no such tile exists)."""
    stencil = _kde_stencil(radius_cells, sigma_cells, weight_scale)
    cells = L.occupied_cells(points, zoom, lat_col, lon_col)
    out = (
        L.spread(
            cells,
            zoom,
            [{"dx": dx, "dy": dy, "w": w} for dx, dy, w in stencil],
            (F.col("cnt") * F.col("_o.w")).alias("mass"),
        )
        .groupBy(F.col("nx").alias("tx"), F.col("ny").alias("ty"))
        .agg(
            F.count(F.lit(1)).alias("src_cells"),
            F.sum("mass").alias("density_q"),
        )
    )
    kde = F.col("density_q").cast("double") / F.lit(float(weight_scale))
    return out.select(
        "tx", "ty", "src_cells", "density_q",
        F.round(kde, 3).alias("kde_r3"),
    )


def kde_grid_oracle_sql(
    subq: str,
    zoom: int = 8,
    radius_cells: int = 3,
    sigma_cells: float = 1.5,
    weight_scale: int = 1_000_000_000,
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB twin: the SAME integer stencil literals (shared
    :func:`_kde_stencil`), same occupied-cell collapse, same wrap /
    pole-edge rules, same exact BIGINT mass sum."""
    n_tiles = 1 << zoom
    stencil = _kde_stencil(radius_cells, sigma_cells, weight_scale)
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(f"({dx}, {dy}, {w})" for dx, dy, w in stencil)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        f"stencil(dx, dy, w) AS (VALUES {offs}), "
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, cnt * w AS mass "
        "FROM cells CROSS JOIN stencil) "
        "SELECT nx AS tx, ny AS ty, count(*) AS src_cells, "
        "sum(mass) AS density_q, "
        f"round(CAST(sum(mass) AS DOUBLE) / {float(weight_scale)!r}, 3) "
        "AS kde_r3 "
        f"FROM spread WHERE ny >= 0 AND ny < {n_tiles} GROUP BY 1, 2"
    )


def ripley_k(
    points: DataFrame,
    radii_m: list[float],
    area_m2: float,
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> DataFrame:
    """Ripley's K(r) and L(r) - r for each radius in ``radii_m`` over
    the point set, with study area ``area_m2`` supplied by the caller
    (the estimator needs A as a modelling input; pass the bbox or
    guard-ring area of your study region).

    Returns one row per radius: (r_m, pairs, n_points, k_r3, l_r3)
    where ``pairs`` is the exact count of unordered point pairs at
    geodesic distance <= r (mm-quantized), ``n_points`` the total
    point count, K = A * 2 * pairs / (n * (n-1)) and
    L - r = sqrt(K / pi) - r, both rounded to 3 decimals.

    Coincident points (identical 1-microdegree position) collapse to
    one representative with a multiplicity m: cross-rep pairs count
    m_a * m_b, within-rep pairs m*(m-1)/2 at distance zero — so hot
    boilerplate positions cost ONE node, not a clique."""
    if not radii_m:
        raise ValueError("radii_m must be non-empty")
    radii = sorted(float(r) for r in radii_m)
    r_max = radii[-1]
    zoom = _pair_zoom(r_max, max_abs_lat)
    r_mm = [round(r * 1000.0) for r in radii]
    reps = L.coincident_reps(points, zoom, id_col, lat_col, lon_col)

    # scalar aggregates (2 numbers): total points, within-rep pairs
    srow = reps.agg(
        F.sum("m"),
        # per-row BIGINT before the sum: the shuffle carries only
        # exact BIGINTs
        F.sum(C.unordered_pairs(F.col("m"))),
    ).first()
    n_pts = int(srow[0] or 0)
    self_pairs = int(srow[1] or 0)

    # forward-neighbor halving: the pair SET is identical to the naive
    # 3x3 spread, at 5/9 of the shuffle
    cand = L.rep_pairs(reps, reps, zoom, L.HALF_PROBE, r_mm[-1]).select(
        (F.col("m_a") * F.col("m_b")).alias("_w"), F.col("dist_mm").alias("_d")
    )
    crow = cand.agg(
        *[
            F.sum(F.when(F.col("_d") <= F.lit(mm), F.col("_w"))).alias(
                f"_s{i}"
            )
            for i, mm in enumerate(r_mm)
        ]
    ).first()

    spark = points.sparkSession
    rows = []
    for i, (r, mm) in enumerate(zip(radii, r_mm)):
        pairs = int(crow[i] or 0) + self_pairs
        # pinned float op order, mirrored literally by the oracle twin
        if n_pts > 1:
            k_hat = (float(area_m2) * (2.0 * pairs)) / (
                float(n_pts) * float(n_pts - 1)
            )
            l_val = math.sqrt(k_hat / 3.141592653589793) - r
        else:
            k_hat = None
            l_val = None
        rows.append((mm, pairs, n_pts, k_hat, l_val))
    out = spark.createDataFrame(
        rows,
        "r_mm long, pairs long, n_points long, _k double, _l double",
    )
    return out.select(
        "r_mm", "pairs", "n_points",
        F.round(F.col("_k"), 3).alias("k_r3"),
        F.round(F.col("_l"), 3).alias("l_r3"),
    )


def ripley_k_oracle_sql(
    subq: str,
    radii_m: list[float],
    area_m2: float,
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> str:
    """DuckDB twin: the SAME rep collapse, the SAME 9-address grid
    candidate join (never all-pairs — the twin stays tractable at
    sweep scale), the same mm cutoffs and pinned K/L float order."""
    radii = sorted(float(r) for r in radii_m)
    zoom = dbscan_zoom_for_eps(radii[-1], max_abs_lat)
    n_tiles = 1 << zoom
    r_mm = [round(r * 1000.0) for r in radii]
    rlat, rlon = "CAST(ula AS DOUBLE) / 1e6", "CAST(ulo AS DOUBLE) / 1e6"
    tx, ty = C.tile_xy_sql(rlat, rlon, zoom)
    hav = C.haversine_sql("a.rlat", "a.rlon", "b.rlat", "b.rlon")
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    sums = ", ".join(
        f"sum(CASE WHEN d <= {mm} THEN w END) AS s{i}"
        for i, mm in enumerate(r_mm)
    )
    ladder = ", ".join(
        f"({mm}, {i})" for i, mm in enumerate(r_mm)
    )
    sels = " ".join(
        f"WHEN idx = {i} THEN s{i}" for i in range(len(r_mm))
    )
    area = f"{float(area_m2)!r}"
    return (
        f"WITH keyed AS (SELECT {id_col} AS pid, "
        f"CAST(round(({lat}) * 1e6) AS BIGINT) AS ula, "
        f"CAST(round(({lon}) * 1e6) AS BIGINT) AS ulo FROM {subq} "
        f"WHERE {lat} IS NOT NULL AND {lon} IS NOT NULL), "
        f"reps AS (SELECT ula, ulo, min(pid) AS pos, count(*) AS m, "
        f"{rlat} AS rlat, {rlon} AS rlon, {tx} AS tx, {ty} AS ty "
        "FROM keyed GROUP BY ula, ulo), "
        "scalars AS (SELECT sum(m) AS n_pts, "
        "sum(CAST(m * (m - 1) / 2 AS BIGINT)) AS self_pairs FROM reps), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "cand AS (SELECT a.m * b.m AS w, "
        f"CAST(round(({hav}) * 1000.0) AS BIGINT) AS d FROM "
        "(SELECT r.*, "
        f"((r.tx + o.dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "r.ty + o.dy AS ny FROM reps r CROSS JOIN offsets o) a "
        "JOIN reps b ON a.nx = b.tx AND a.ny = b.ty "
        "AND a.pos < b.pos), "
        f"counts AS (SELECT {sums} FROM cand WHERE d <= {r_mm[-1]}), "
        f"ladder(r_mm, idx) AS (VALUES {ladder}) "
        "SELECT r_mm, "
        f"coalesce(CASE {sels} END, 0) + self_pairs AS pairs, "
        "n_pts AS n_points, "
        "round(CASE WHEN n_pts > 1 THEN "
        f"({area} * (2.0 * (coalesce(CASE {sels} END, 0) + self_pairs)))"
        " / (CAST(n_pts AS DOUBLE) * CAST(n_pts - 1 AS DOUBLE)) END, 3) "
        "AS k_r3, "
        "round(CASE WHEN n_pts > 1 THEN sqrt("
        f"(({area} * (2.0 * (coalesce(CASE {sels} END, 0) + self_pairs)))"
        " / (CAST(n_pts AS DOUBLE) * CAST(n_pts - 1 AS DOUBLE)))"
        " / 3.141592653589793) - CAST(r_mm AS DOUBLE) / 1000.0 END, 3) "
        "AS l_r3 "
        "FROM ladder CROSS JOIN counts CROSS JOIN scalars"
    )


def clark_evans(
    points: DataFrame,
    r_max_m: float,
    area_m2: float,
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> DataFrame:
    """Clark-Evans nearest-neighbor index R (Clark & Evans 1954) with
    the Donnelly-free naive SE — the first-moment companion to
    :func:`ripley_k`: R = observed mean NN distance / expected mean
    under CSR (0.5 / sqrt(density)), with a z-test from
    SE = 0.26136 / sqrt(n * density).  R < 1 clustered, R > 1
    dispersed.

    TRUNCATED estimator: nearest neighbors are searched within
    ``r_max_m`` only (the grid-candidate bound that keeps the join
    linear at engine scale; points whose true NN lies further are
    counted as ``n_censored`` and excluded from the mean — the
    standard fixed-search-radius NN variant; pick r_max comfortably
    above the expected NN spacing).  Density uses the INCLUDED count
    over ``area_m2`` so both sides of the ratio describe the same
    population.

    Scale design (the ripley_k doctrine): coincident fixes (identical
    1-microdegree position) collapse to one multiplicity-weighted rep
    — every point sharing its position with another has NN distance
    exactly 0 and never enters the candidate join; only singleton reps
    probe the 3x3 neighborhood at the finest r_max-safe zoom against
    ALL reps.  The NN distance per singleton is an exact BIGINT
    min(mm-quantized geodesic), the sums that reach the driver are
    exact BIGINTs, and the handful of final scalars combine in a
    pinned IEEE order the DuckDB twin mirrors literally.

    Returns one row: (n_points, n_included, n_censored, mean_nn_r3,
    r_index_r6, z_r6); statistic NULL when undefined (no included
    points or zero area)."""
    zoom = _pair_zoom(float(r_max_m), max_abs_lat)
    r_mm = round(float(r_max_m) * 1000.0)
    reps = L.coincident_reps(points, zoom, id_col, lat_col, lon_col)

    srow = reps.agg(
        F.sum("m"),
        F.sum(F.when(F.col("m") >= 2, F.col("m"))),
        F.sum(F.when(F.col("m") == 1, F.lit(1))),
    ).first()
    n_total = int(srow[0] or 0)
    n_coinc = int(srow[1] or 0)  # points with a coincident partner: NN = 0

    # full 9-address probe from SINGLETON reps only (coincident piles
    # already know their NN is 0); build side is every rep
    nn = (
        L.rep_pairs(reps.where(F.col("m") == 1), reps, zoom, L.FULL_PROBE, r_mm)
        .groupBy("pos_a")
        .agg(F.min("dist_mm").alias("_nn"))
    )
    nrow = nn.agg(F.count(F.lit(1)), F.sum("_nn")).first()
    n_single_in = int(nrow[0] or 0)
    sum_nn_mm = int(nrow[1] or 0)

    n_incl = n_coinc + n_single_in
    n_cens = n_total - n_incl

    # pinned scalar op order — the oracle twin mirrors it literally
    mean_nn = r_index = z = None
    if n_incl > 0 and area_m2 > 0:
        mean_nn = (sum_nn_mm / 1000.0) / n_incl
        rho = n_incl / float(area_m2)
        d_exp = 0.5 / math.sqrt(rho)
        r_index = mean_nn / d_exp
        se = 0.26136 / math.sqrt(n_incl * rho)
        z = (mean_nn - d_exp) / se
    spark = points.sparkSession
    return spark.range(1).select(
        F.lit(n_total).alias("n_points"),
        F.lit(n_incl).alias("n_included"),
        F.lit(n_cens).alias("n_censored"),
        F.round(F.lit(mean_nn).cast("double"), 3).alias("mean_nn_r3"),
        F.round(F.lit(r_index).cast("double"), 6).alias("r_index_r6"),
        F.round(F.lit(z).cast("double"), 6).alias("z_r6"),
    )


def clark_evans_oracle_sql(
    subq: str,
    r_max_m: float,
    area_m2: float,
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> str:
    """DuckDB twin of :func:`clark_evans`: identical rep collapse,
    identical 9-address grid NN search with the same mm truncation,
    the same pinned final scalar order."""
    zoom = dbscan_zoom_for_eps(float(r_max_m), max_abs_lat)
    n_tiles = 1 << zoom
    r_mm = round(float(r_max_m) * 1000.0)
    rlat, rlon = "CAST(ula AS DOUBLE) / 1e6", "CAST(ulo AS DOUBLE) / 1e6"
    tx, ty = C.tile_xy_sql(rlat, rlon, zoom)
    hav = C.haversine_sql("a.rlat", "a.rlon", "b.rlat", "b.rlon")
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    area = f"{float(area_m2)!r}"
    return (
        f"WITH keyed AS (SELECT {id_col} AS pid, "
        f"CAST(round(({lat}) * 1e6) AS BIGINT) AS ula, "
        f"CAST(round(({lon}) * 1e6) AS BIGINT) AS ulo FROM {subq} "
        f"WHERE {lat} IS NOT NULL AND {lon} IS NOT NULL), "
        f"reps AS (SELECT ula, ulo, min(pid) AS pos, count(*) AS m, "
        f"{rlat} AS rlat, {rlon} AS rlon, {tx} AS tx, {ty} AS ty "
        "FROM keyed GROUP BY ula, ulo), "
        "scalars AS (SELECT coalesce(sum(m), 0) AS n_total, "
        "coalesce(sum(CASE WHEN m >= 2 THEN m END), 0) AS n_coinc "
        "FROM reps), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "nn AS (SELECT a.pos, min("
        f"CAST(round(({hav}) * 1000.0) AS BIGINT)) AS d FROM "
        "(SELECT r.*, "
        f"((r.tx + o.dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "r.ty + o.dy AS ny FROM reps r CROSS JOIN offsets o "
        "WHERE r.m = 1) a "
        "JOIN reps b ON a.nx = b.tx AND a.ny = b.ty "
        "AND a.pos <> b.pos "
        f"WHERE CAST(round(({hav}) * 1000.0) AS BIGINT) <= {r_mm} "
        "GROUP BY a.pos), "
        "nstats AS (SELECT count(*) AS n_single_in, "
        "coalesce(sum(d), 0) AS sum_nn FROM nn), "
        "comb AS (SELECT n_total, n_coinc + n_single_in AS n_incl, "
        "n_total - (n_coinc + n_single_in) AS n_cens, sum_nn "
        "FROM scalars CROSS JOIN nstats), "
        "res AS (SELECT n_total, n_incl, n_cens, "
        f"CASE WHEN n_incl > 0 AND {area} > 0 THEN "
        "(CAST(sum_nn AS DOUBLE) / 1000.0) / n_incl END AS mean_nn, "
        f"CASE WHEN n_incl > 0 AND {area} > 0 THEN "
        f"0.5 / sqrt(CAST(n_incl AS DOUBLE) / {area}) END AS d_exp, "
        f"CASE WHEN n_incl > 0 AND {area} > 0 THEN "
        f"0.26136 / sqrt(n_incl * (CAST(n_incl AS DOUBLE) / {area})) "
        "END AS se FROM comb) "
        "SELECT n_total AS n_points, n_incl AS n_included, "
        "n_cens AS n_censored, round(mean_nn, 3) AS mean_nn_r3, "
        "round(mean_nn / d_exp, 6) AS r_index_r6, "
        "round((mean_nn - d_exp) / se, 6) AS z_r6 FROM res"
    )


def variogram(
    points: DataFrame,
    value_col: str,
    lag_edges_m: list[float],
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> DataFrame:
    """Empirical semivariogram gamma(h) (Matheron 1963) of an
    INTEGER-valued measurement over a lag-bin ladder — the
    geostatistical step past :func:`ripley_k`: for each distance bin
    (lo, hi], gamma = sum (v_i - v_j)^2 over unordered point pairs in
    the bin / (2 * N(h)).  Rising gamma that sills = spatial
    dependence with a range; flat gamma = no spatial structure.

    ``value_col`` must be integral (cast upstream; continuous
    measurements should be pre-quantized to the precision you need —
    standard variography practice, and what keeps every shuffled
    aggregate an exact BIGINT so partial-agg order cannot move the
    result).

    Scale design: reps collapse by (1-microdegree position, value)
    with a multiplicity — a parked pile contributes m*(m-1)/2
    zero-distance zero-difference pairs to the first bin via exact
    integer arithmetic, never a clique join.  Cross-rep candidate
    pairs ride the ripley_k forward-halved 5-offset grid join at the
    finest max-lag-safe zoom (each unordered cell pair probed from one
    side only; 5/9 of the naive spread).  Per-bin N and sum of squared
    differences are conditional BIGINT sums over ONE mm-quantized
    geodesic evaluation; the single gamma division is pinned and
    mirrored by the twin.

    Returns one row per bin: (bin, lo_mm, hi_mm, n_pairs, gamma_r6);
    bin 0 covers [0, edges[0]] and includes coincident pairs."""
    if not lag_edges_m:
        raise ValueError("lag_edges_m must be non-empty")
    edges = sorted(float(e) for e in lag_edges_m)
    h_max = edges[-1]
    zoom = _pair_zoom(h_max, max_abs_lat)
    e_mm = [round(e * 1000.0) for e in edges]
    reps = L.coincident_reps(
        points, zoom, id_col, lat_col, lon_col,
        v=F.col(value_col).cast("long"),
    )

    # within-rep pairs: distance 0, difference 0 — they raise N(h) of
    # bin 0 but never the numerator
    srow = reps.agg(F.sum(C.unordered_pairs(F.col("m")))).first()
    self_pairs = int(srow[0] or 0)

    w = F.col("m_a") * F.col("m_b")
    diff = F.col("v_a") - F.col("v_b")
    cand = L.rep_pairs(reps, reps, zoom, L.HALF_PROBE, e_mm[-1]).select(
        w.alias("_w"), (w * diff * diff).alias("_sq"), F.col("dist_mm").alias("_d")
    )
    lows = [-1] + e_mm[:-1]
    aggs = []
    for i, (lo, hi) in enumerate(zip(lows, e_mm)):
        in_bin = (F.col("_d") > F.lit(lo)) & (F.col("_d") <= F.lit(hi))
        aggs.append(F.sum(F.when(in_bin, F.col("_w"))).alias(f"_n{i}"))
        aggs.append(F.sum(F.when(in_bin, F.col("_sq"))).alias(f"_s{i}"))
    crow = cand.agg(*aggs).first()

    spark = points.sparkSession
    rows = []
    for i, (lo, hi) in enumerate(zip(lows, e_mm)):
        n_pairs = int(crow[2 * i] or 0) + (self_pairs if i == 0 else 0)
        sq = int(crow[2 * i + 1] or 0)
        gamma = None
        if n_pairs > 0:
            # pinned: one division, mirrored literally by the twin
            gamma = float(sq) / (2.0 * n_pairs)
        rows.append((i, lo + 1 if lo < 0 else lo, hi, n_pairs, gamma))
    out = spark.createDataFrame(
        rows,
        "bin int, lo_mm long, hi_mm long, n_pairs long, _g double",
    )
    return out.select(
        "bin", "lo_mm", "hi_mm", "n_pairs",
        F.round(F.col("_g"), 6).alias("gamma_r6"),
    )


def variogram_oracle_sql(
    subq: str,
    value_sql: str,
    lag_edges_m: list[float],
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> str:
    """DuckDB twin of :func:`variogram`: the same (position, value)
    rep collapse, the same forward-halved grid candidate join, the
    same conditional BIGINT bin sums and single pinned division."""
    edges = sorted(float(e) for e in lag_edges_m)
    zoom = dbscan_zoom_for_eps(edges[-1], max_abs_lat)
    n_tiles = 1 << zoom
    e_mm = [round(e * 1000.0) for e in edges]
    lows = [-1] + e_mm[:-1]
    rlat, rlon = "CAST(ula AS DOUBLE) / 1e6", "CAST(ulo AS DOUBLE) / 1e6"
    tx, ty = C.tile_xy_sql(rlat, rlon, zoom)
    hav = C.haversine_sql("a.rlat", "a.rlon", "b.rlat", "b.rlon")
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    sums = ", ".join(
        f"coalesce(sum(CASE WHEN d > {lo} AND d <= {hi} THEN w END), 0)"
        f" AS n{i}, "
        f"coalesce(sum(CASE WHEN d > {lo} AND d <= {hi} THEN sq END), 0)"
        f" AS s{i}"
        for i, (lo, hi) in enumerate(zip(lows, e_mm))
    )
    ladder = ", ".join(
        f"({i}, {lo + 1 if lo < 0 else lo}, {hi})"
        for i, (lo, hi) in enumerate(zip(lows, e_mm))
    )
    nsel = " ".join(f"WHEN bin = {i} THEN n{i}" for i in range(len(e_mm)))
    ssel = " ".join(f"WHEN bin = {i} THEN s{i}" for i in range(len(e_mm)))
    return (
        f"WITH keyed AS (SELECT {id_col} AS pid, "
        f"CAST(({value_sql}) AS BIGINT) AS v, "
        f"CAST(round(({lat}) * 1e6) AS BIGINT) AS ula, "
        f"CAST(round(({lon}) * 1e6) AS BIGINT) AS ulo FROM {subq} "
        f"WHERE {lat} IS NOT NULL AND {lon} IS NOT NULL "
        f"AND ({value_sql}) IS NOT NULL), "
        "reps AS (SELECT ula, ulo, v, min(pid) AS pos, count(*) AS m, "
        f"{rlat} AS rlat, {rlon} AS rlon, {tx} AS tx, {ty} AS ty "
        "FROM keyed GROUP BY ula, ulo, v), "
        "scalars AS (SELECT coalesce(sum("
        "CAST(m * (m - 1) / 2 AS BIGINT)), 0) AS self_pairs FROM reps), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "cand AS (SELECT a.m * b.m AS w, "
        "a.m * b.m * (a.v - b.v) * (a.v - b.v) AS sq, "
        f"CAST(round(({hav}) * 1000.0) AS BIGINT) AS d FROM "
        "(SELECT r.*, "
        f"((r.tx + o.dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "r.ty + o.dy AS ny FROM reps r CROSS JOIN offsets o) a "
        "JOIN reps b ON a.nx = b.tx AND a.ny = b.ty "
        "AND a.pos < b.pos), "
        f"counts AS (SELECT {sums} FROM cand WHERE d <= {e_mm[-1]}), "
        f"ladder(bin, lo_mm, hi_mm) AS (VALUES {ladder}), "
        "binned AS (SELECT bin, lo_mm, hi_mm, "
        f"(CASE {nsel} END) + (CASE WHEN bin = 0 THEN self_pairs "
        "ELSE 0 END) AS n_pairs, "
        f"CASE {ssel} END AS sq "
        "FROM ladder CROSS JOIN counts CROSS JOIN scalars) "
        "SELECT bin, lo_mm, hi_mm, n_pairs, "
        "CASE WHEN n_pairs > 0 THEN "
        "round(CAST(sq AS DOUBLE) / (2.0 * n_pairs), 6) END AS gamma_r6 "
        "FROM binned"
    )


def focal_stats(
    points: DataFrame,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Focal (neighborhood) statistics of point counts over the tile
    lattice — the raster "focal ops" family (Tomlin 1990 map algebra)
    completing :func:`kde_grid`: where KDE is a weighted focal SUM,
    this emits the order statistics a stencil cannot express: per
    3x3-neighborhood count of occupied neighbor cells, sum, min, max,
    range, and mean over occupied neighbors.

    One re-aggregation of the 9-address spread of the occupied cells
    (operators/lattice.py) computes every statistic — min/max/sum of
    exact BIGINTs are order-free, and the mean is the single pinned
    division sum / n_nbrs, rounded to 6.

    Returns one row per lattice address with >= 1 occupied neighbor:
    (tx, ty, n_nbrs, focal_sum, focal_min, focal_max, focal_range,
    focal_mean_r6).  The center cell itself counts as a neighbor when
    occupied (the standard inclusive 3x3 window)."""
    cells = L.occupied_cells(points, zoom, lat_col, lon_col)
    out = (
        L.spread(cells, zoom, L.QUEEN, "cnt")
        .groupBy(F.col("nx").alias("tx"), F.col("ny").alias("ty"))
        .agg(
            F.count(F.lit(1)).alias("n_nbrs"),
            F.sum("cnt").alias("focal_sum"),
            F.min("cnt").alias("focal_min"),
            F.max("cnt").alias("focal_max"),
        )
    )
    return out.select(
        "tx", "ty", "n_nbrs", "focal_sum", "focal_min", "focal_max",
        (F.col("focal_max") - F.col("focal_min")).alias("focal_range"),
        F.round(
            F.col("focal_sum") / F.col("n_nbrs"), 6
        ).alias("focal_mean_r6"),
    )


def focal_stats_oracle_sql(
    subq: str, zoom: int = 8, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin of :func:`focal_stats`: same occupied-cell
    collapse, 9-address spread, wrap / pole-edge rules, exact BIGINT
    order statistics and the one pinned mean division."""
    n_tiles = 1 << zoom
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, cnt FROM cells CROSS JOIN offsets) "
        "SELECT nx AS tx, ny AS ty, count(*) AS n_nbrs, "
        "sum(cnt) AS focal_sum, min(cnt) AS focal_min, "
        "max(cnt) AS focal_max, max(cnt) - min(cnt) AS focal_range, "
        "round(CAST(sum(cnt) AS DOUBLE) / count(*), 6) AS focal_mean_r6 "
        f"FROM spread WHERE ny >= 0 AND ny < {n_tiles} GROUP BY 1, 2"
    )


def colocation_quotient(
    points: DataFrame,
    x_flag,
    r_max_m: float,
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> DataFrame:
    """Nearest-neighbor colocation quotient CLQ (Leslie & Kronenfeld
    2011, "Colocation quotient: a new measure of spatial association
    between categorical subsets of points") between group A
    (``x_flag`` true) and group B (the rest):
    CLQ_{A->B} = (C_{A->B} / N_A) / (N_B / (N - 1)) — how much more
    (>1) or less (<1) often an A point's nearest neighbor is a B
    point than random mixing predicts; all four ordered pairs are
    reported.

    TRUNCATED like :func:`clark_evans` (NN searched within
    ``r_max_m``; points whose NN lies further are censored out of
    every count, numerator and denominator alike).

    Determinism at REP granularity: points collapse to (1-microdegree
    position, group) reps with multiplicity; a rep with m >= 2 sees
    its own coincident siblings as distance-0 same-group candidates,
    coincident reps of the other group are distance-0 candidates too,
    and ALL ties resolve by the total order (d_mm, rep id) — both
    engines evaluate the identical min, so the NN category is exact.
    Counts weight by multiplicity (every member of a pile has the
    pile's NN).  The four CLQs are pinned float chains over exact
    BIGINTs.

    Returns one row: (n_incl, na, nb, n_censored, clq_aa_r6,
    clq_ab_r6, clq_ba_r6, clq_bb_r6); a quotient is NULL when its
    denominators vanish (empty group or n_incl < 2)."""
    zoom = _pair_zoom(float(r_max_m), max_abs_lat)
    r_mm = round(float(r_max_m) * 1000.0)
    flag = F.when(x_flag, F.lit(1)).otherwise(F.lit(0))
    reps = L.coincident_reps(points, zoom, id_col, lat_col, lon_col, f=flag)

    cand = L.rep_pairs(reps, reps, zoom, L.FULL_PROBE, r_mm).select(
        F.col("pos_a").alias("_pa"),
        F.col("m_a").alias("_ma"),
        F.col("f_a").alias("_fa"),
        F.col("dist_mm").alias("_d"),
        F.col("pos_b").alias("_cpos"),
        F.col("f_b").alias("_cf"),
    )
    # self candidates: a pile of m >= 2 contains a distance-0
    # same-group sibling for each member
    selfc = reps.where(F.col("m") >= 2).select(
        F.col("pos").alias("_pa"),
        F.col("m").alias("_ma"),
        F.col("f").alias("_fa"),
        F.lit(0).cast("long").alias("_d"),
        F.col("pos").alias("_cpos"),
        F.col("f").alias("_cf"),
    )
    nn = (
        cand.unionByName(selfc)
        .groupBy("_pa", "_ma", "_fa")
        .agg(
            F.min(F.struct("_d", "_cpos", "_cf")).alias("_nn")
        )
        .select("_pa", "_ma", "_fa", F.col("_nn._cf").alias("_nncat"))
    )
    crow = nn.agg(
        F.sum("_ma"),
        F.sum(F.when(F.col("_fa") == 1, F.col("_ma"))),
        F.sum(F.when((F.col("_fa") == 1) & (F.col("_nncat") == 1),
                     F.col("_ma"))),
        F.sum(F.when((F.col("_fa") == 1) & (F.col("_nncat") == 0),
                     F.col("_ma"))),
        F.sum(F.when((F.col("_fa") == 0) & (F.col("_nncat") == 1),
                     F.col("_ma"))),
        F.sum(F.when((F.col("_fa") == 0) & (F.col("_nncat") == 0),
                     F.col("_ma"))),
    ).first()
    n_incl = int(crow[0] or 0)
    na = int(crow[1] or 0)
    c_aa, c_ab, c_ba, c_bb = (int(crow[i] or 0) for i in (2, 3, 4, 5))
    nb = n_incl - na
    trow = reps.agg(F.sum("m")).first()
    n_total = int(trow[0] or 0)
    n_cens = n_total - n_incl

    def _clq(c, n_src, n_tgt_adj):
        # pinned: (c / n_src) / (n_tgt_adj / (n_incl - 1))
        if n_src > 0 and n_tgt_adj > 0 and n_incl > 1:
            return (c / n_src) / (n_tgt_adj / (n_incl - 1.0))
        return None

    clq_aa = _clq(c_aa, na, na - 1)
    clq_ab = _clq(c_ab, na, nb)
    clq_ba = _clq(c_ba, nb, na)
    clq_bb = _clq(c_bb, nb, nb - 1)
    spark = points.sparkSession
    rnd = lambda v: F.round(F.lit(v).cast("double"), 6)  # noqa: E731
    return spark.range(1).select(
        F.lit(n_incl).alias("n_incl"),
        F.lit(na).alias("na"),
        F.lit(nb).alias("nb"),
        F.lit(n_cens).alias("n_censored"),
        rnd(clq_aa).alias("clq_aa_r6"),
        rnd(clq_ab).alias("clq_ab_r6"),
        rnd(clq_ba).alias("clq_ba_r6"),
        rnd(clq_bb).alias("clq_bb_r6"),
    )


def colocation_quotient_oracle_sql(
    subq: str,
    x_flag_sql: str,
    r_max_m: float,
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> str:
    """DuckDB twin of :func:`colocation_quotient`: identical rep
    collapse, candidate union (grid ring + distance-0 self siblings),
    the identical (d, rep id, group) struct min, and the same four
    pinned quotient chains."""
    zoom = dbscan_zoom_for_eps(float(r_max_m), max_abs_lat)
    n_tiles = 1 << zoom
    r_mm = round(float(r_max_m) * 1000.0)
    rlat, rlon = "CAST(ula AS DOUBLE) / 1e6", "CAST(ulo AS DOUBLE) / 1e6"
    tx, ty = C.tile_xy_sql(rlat, rlon, zoom)
    hav = C.haversine_sql("a.rlat", "a.rlon", "b.rlat", "b.rlon")
    offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    return (
        f"WITH keyed AS (SELECT {id_col} AS pid, "
        f"CASE WHEN {x_flag_sql} THEN 1 ELSE 0 END AS f, "
        f"CAST(round(({lat}) * 1e6) AS BIGINT) AS ula, "
        f"CAST(round(({lon}) * 1e6) AS BIGINT) AS ulo FROM {subq} "
        f"WHERE {lat} IS NOT NULL AND {lon} IS NOT NULL), "
        "reps AS MATERIALIZED (SELECT ula, ulo, f, min(pid) AS pos, "
        f"count(*) AS m, {rlat} AS rlat, {rlon} AS rlon, "
        f"{tx} AS tx, {ty} AS ty FROM keyed GROUP BY ula, ulo, f), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "cand AS (SELECT a.pos AS pa, a.m AS ma, a.f AS fa, "
        f"CAST(round(({hav}) * 1000.0) AS BIGINT) AS d, "
        "b.pos AS cpos, b.f AS cf FROM "
        "(SELECT r.*, "
        f"((r.tx + o.dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "r.ty + o.dy AS ny FROM reps r CROSS JOIN offsets o) a "
        "JOIN reps b ON a.nx = b.tx AND a.ny = b.ty "
        "AND a.pos <> b.pos "
        f"WHERE CAST(round(({hav}) * 1000.0) AS BIGINT) <= {r_mm} "
        "UNION ALL "
        "SELECT pos AS pa, m AS ma, f AS fa, CAST(0 AS BIGINT) AS d, "
        "pos AS cpos, f AS cf FROM reps WHERE m >= 2), "
        "nn AS MATERIALIZED (SELECT pa, ma, fa, "
        "min({'d': d, 'p': cpos, 'c': cf}).c AS nncat "
        "FROM cand GROUP BY pa, ma, fa), "
        "agg AS (SELECT coalesce(sum(ma), 0) AS n_incl, "
        "coalesce(sum(CASE WHEN fa = 1 THEN ma END), 0) AS na, "
        "coalesce(sum(CASE WHEN fa = 1 AND nncat = 1 THEN ma END), 0) "
        "AS c_aa, "
        "coalesce(sum(CASE WHEN fa = 1 AND nncat = 0 THEN ma END), 0) "
        "AS c_ab, "
        "coalesce(sum(CASE WHEN fa = 0 AND nncat = 1 THEN ma END), 0) "
        "AS c_ba, "
        "coalesce(sum(CASE WHEN fa = 0 AND nncat = 0 THEN ma END), 0) "
        "AS c_bb FROM nn), "
        "tot AS (SELECT coalesce(sum(m), 0) AS n_total FROM reps) "
        "SELECT n_incl, na, n_incl - na AS nb, "
        "n_total - n_incl AS n_censored, "
        "CASE WHEN na > 0 AND na - 1 > 0 AND n_incl > 1 THEN "
        "round((c_aa / CAST(na AS DOUBLE)) / "
        "((na - 1) / (n_incl - 1.0)), 6) END AS clq_aa_r6, "
        "CASE WHEN na > 0 AND n_incl - na > 0 AND n_incl > 1 THEN "
        "round((c_ab / CAST(na AS DOUBLE)) / "
        "((n_incl - na) / (n_incl - 1.0)), 6) END AS clq_ab_r6, "
        "CASE WHEN n_incl - na > 0 AND na > 0 AND n_incl > 1 THEN "
        "round((c_ba / CAST(n_incl - na AS DOUBLE)) / "
        "(na / (n_incl - 1.0)), 6) END AS clq_ba_r6, "
        "CASE WHEN n_incl - na > 0 AND n_incl - na - 1 > 0 "
        "AND n_incl > 1 THEN "
        "round((c_bb / CAST(n_incl - na AS DOUBLE)) / "
        "((n_incl - na - 1) / (n_incl - 1.0)), 6) END AS clq_bb_r6 "
        "FROM agg CROSS JOIN tot"
    )


def pair_correlation(
    points: DataFrame,
    radii_m: list[float],
    area_m2: float,
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> DataFrame:
    """Binned pair correlation function g(r) (Stoyan & Stoyan 1994;
    the derivative reading of Ripley's K): for each ring
    (r_{i-1}, r_i], g = (K(r_i) - K(r_{i-1})) / (pi (r_i^2 -
    r_{i-1}^2)) — the NON-cumulative view that makes the
    characteristic interaction distance readable where K integrates
    over it (g > 1 attraction at that distance, < 1 inhibition).

    Rides :func:`ripley_k` wholesale: the exact BIGINT cumulative
    pair counts collect (one bounded ladder-size row set — the gini
    driver-relation pattern) and difference into ring counts
    driver-side; the g floats combine in a pinned order the DuckDB
    twin (a lag window over the ripley twin's ladder) mirrors.

    Returns one row per ring: (bin, lo_mm, hi_mm, ring_pairs, g_r6);
    bin 0 covers (0, radii[0]] and includes coincident pairs."""
    rip = ripley_k(
        points, radii_m, area_m2, id_col, lat_col, lon_col, max_abs_lat
    ).orderBy("r_mm").collect()
    spark = points.sparkSession
    rows = []
    prev_pairs = 0
    prev_mm = 0
    pi = 3.141592653589793
    for i, r in enumerate(rip):
        ring = int(r["pairs"]) - prev_pairs
        n = int(r["n_points"])
        g = None
        if n > 1 and area_m2 > 0:
            # pinned: the K-difference form, mirrored by the twin
            k_diff = (float(area_m2) * (2.0 * ring)) / (
                float(n) * float(n - 1)
            )
            lo = prev_mm / 1000.0
            hi = int(r["r_mm"]) / 1000.0
            ring_area = pi * (hi * hi - lo * lo)
            g = k_diff / ring_area
        rows.append((i, prev_mm, int(r["r_mm"]), ring, g))
        prev_pairs = int(r["pairs"])
        prev_mm = int(r["r_mm"])
    out = spark.createDataFrame(
        rows, "bin int, lo_mm long, hi_mm long, ring_pairs long, _g double"
    )
    return out.select(
        "bin", "lo_mm", "hi_mm", "ring_pairs",
        F.round(F.col("_g"), 6).alias("g_r6"),
    )


def pair_correlation_oracle_sql(
    subq: str,
    radii_m: list[float],
    area_m2: float,
    id_col: str = "event_id",
    lat: str = "lat",
    lon: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> str:
    """DuckDB twin of :func:`pair_correlation`: the ripley twin as a
    CTE, ring differences via a lag window over the ladder, the same
    pinned K-difference / ring-area chain."""
    inner = ripley_k_oracle_sql(
        subq, radii_m, area_m2, id_col, lat, lon, max_abs_lat
    )
    area = f"{float(area_m2)!r}"
    return (
        f"WITH rip AS MATERIALIZED ({inner}), "
        "rings AS (SELECT "
        "CAST(row_number() OVER (ORDER BY r_mm) - 1 AS INT) AS bin, "
        "coalesce(lag(r_mm) OVER (ORDER BY r_mm), 0) AS lo_mm, "
        "r_mm AS hi_mm, "
        "pairs - coalesce(lag(pairs) OVER (ORDER BY r_mm), 0) "
        "AS ring_pairs, n_points AS n FROM rip) "
        "SELECT bin, lo_mm, hi_mm, ring_pairs, "
        f"CASE WHEN n > 1 AND {area} > 0 THEN round("
        f"(({area} * (2.0 * ring_pairs)) / "
        "(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / "
        "(3.141592653589793 * "
        "((CAST(hi_mm AS DOUBLE) / 1000.0) * "
        "(CAST(hi_mm AS DOUBLE) / 1000.0) - "
        "(CAST(lo_mm AS DOUBLE) / 1000.0) * "
        "(CAST(lo_mm AS DOUBLE) / 1000.0))), 6) END AS g_r6 "
        "FROM rings"
    )


def _stkde_stencil(
    radius_cells: int,
    sigma_cells: float,
    radius_buckets: int,
    sigma_buckets: float,
    weight_scale: int,
) -> list[tuple[int, int, int, int]]:
    """Separable truncated space-time Gaussian stencil as
    (dx, dy, dt, w_q) integer quadruples — the :func:`_kde_stencil`
    weights times a temporal Gaussian, quantized ONCE driver-side."""
    out = []
    r2 = radius_cells * radius_cells
    for dx in range(-radius_cells, radius_cells + 1):
        for dy in range(-radius_cells, radius_cells + 1):
            d2 = dx * dx + dy * dy
            if d2 > r2:
                continue
            ws = math.exp(-d2 / (2.0 * sigma_cells * sigma_cells))
            for dt in range(-radius_buckets, radius_buckets + 1):
                wt = math.exp(
                    -(dt * dt) / (2.0 * sigma_buckets * sigma_buckets)
                )
                w_q = round(ws * wt * weight_scale)
                if w_q > 0:
                    out.append((dx, dy, dt, w_q))
    return out


def stkde_cube(
    points: DataFrame,
    zoom: int = 8,
    bucket_s: int = 3600,
    radius_cells: int = 3,
    sigma_cells: float = 1.5,
    radius_buckets: int = 2,
    sigma_buckets: float = 1.0,
    weight_scale: int = 1_000_000_000,
    lat_col: str = "lat",
    lon_col: str = "lon",
    ts_col: str = "ts_sec",
) -> DataFrame:
    """Space-time kernel density over the (tile, time-bucket) cube
    (Nakaya & Yano 2010, the crime/epidemiology STKDE; Brunsdon et
    al. 2007) — the temporal extension of :func:`kde_grid` and the
    smoothed companion to the emerging-hotspots space-time cube: each
    occupied (cell, bucket) bin's count spreads through a separable
    truncated space x time Gaussian.

    Same exactness and scale shape as KDE (operators/lattice.py): the
    occupied cube bins spread by the bounded integer stencil (quantized
    to ppb driver-side — identical literals in both engines) and
    re-aggregate; every shuffled value is an exact BIGINT.  Time
    buckets are unbounded integers (no wrap).

    Returns one row per cube address receiving mass: (tx, ty, tb,
    src_bins, density_q, kde_r3)."""
    stencil = _stkde_stencil(
        radius_cells, sigma_cells, radius_buckets, sigma_buckets,
        weight_scale,
    )
    x, y = C.tile_xy(F.col(lat_col), F.col(lon_col), zoom)
    tb = F.floor(F.col(ts_col) / F.lit(int(bucket_s))).cast("long")
    bins = points.groupBy(
        x.alias("tx"), y.alias("ty"), tb.alias("tb")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    out = (
        L.spread(
            bins,
            zoom,
            [
                {"dx": dx, "dy": dy, "dt": dt, "w": w}
                for dx, dy, dt, w in stencil
            ],
            (F.col("tb") + F.col("_o.dt")).alias("nb"),
            (F.col("cnt") * F.col("_o.w")).alias("mass"),
        )
        .groupBy(
            F.col("nx").alias("tx"),
            F.col("ny").alias("ty"),
            F.col("nb").alias("tb"),
        )
        .agg(
            F.count(F.lit(1)).alias("src_bins"),
            F.sum("mass").alias("density_q"),
        )
    )
    kde = F.col("density_q").cast("double") / F.lit(float(weight_scale))
    return out.select(
        "tx", "ty", "tb", "src_bins", "density_q",
        F.round(kde, 3).alias("kde_r3"),
    )


def stkde_cube_oracle_sql(
    subq: str,
    zoom: int = 8,
    bucket_s: int = 3600,
    radius_cells: int = 3,
    sigma_cells: float = 1.5,
    radius_buckets: int = 2,
    sigma_buckets: float = 1.0,
    weight_scale: int = 1_000_000_000,
    lat: str = "lat",
    lon: str = "lon",
    ts: str = "ts_sec",
) -> str:
    """DuckDB twin of :func:`stkde_cube`: the SAME integer stencil
    literals (shared :func:`_stkde_stencil`), same bin collapse,
    wrap / pole-edge rules, exact BIGINT mass sums."""
    n_tiles = 1 << zoom
    stencil = _stkde_stencil(
        radius_cells, sigma_cells, radius_buckets, sigma_buckets,
        weight_scale,
    )
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(
        f"({dx}, {dy}, {dt}, {w})" for dx, dy, dt, w in stencil
    )
    return (
        f"WITH bins AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"CAST(floor(CAST(({ts}) AS DOUBLE) / {int(bucket_s)}) "
        "AS BIGINT) AS tb, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2, 3), "
        f"stencil(dx, dy, dt, w) AS (VALUES {offs}), "
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, tb + dt AS nb, cnt * w AS mass "
        "FROM bins CROSS JOIN stencil) "
        "SELECT nx AS tx, ny AS ty, nb AS tb, count(*) AS src_bins, "
        "sum(mass) AS density_q, "
        f"round(CAST(sum(mass) AS DOUBLE) / {float(weight_scale)!r}, 3) "
        "AS kde_r3 "
        f"FROM spread WHERE ny >= 0 AND ny < {n_tiles} "
        "GROUP BY 1, 2, 3"
    )

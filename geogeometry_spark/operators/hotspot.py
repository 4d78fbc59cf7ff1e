"""Getis-Ord Gi* hot-spot statistics over WebMercator tile bins, and
the global and local lattice statistics on the same bins.

The reference stops at heat-map COUNTS per cell (the tile/geohash/S2/
hex heatmap pyramid family); this adds the standard next analytics
step — a z-score per cell telling whether its count is significantly
hot or cold relative to the study area (Getis & Ord 1992, "The Analysis
of Spatial Association by Use of Distance Statistics"), with binary
8-neighborhood-plus-self weights on the tile lattice.

Scale design and the occupied-cell study-area convention live in
operators/lattice.py: occupied cells, the neighbor spread and the
neighbor sums every statistic here reads.  A global statistic reads all
of its integer moments in ONE driver aggregate over the neighbor sums
(join_counts in two: its marks need n and Σx first); a broadcast-join
form would plan a BroadcastNestedLoopJoin for a 1-row relation for no
benefit.

Float determinism: counts and neighbor sums are BIGINTs; mean/std/z use
only IEEE-correctly-rounded ops (+ - * / sqrt) in a pinned order, so
the DuckDB oracle twin reproduces z bit-for-bit before rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import columns as C
from . import lattice as L

__all__ = [
    "getis_ord_gi",
    "getis_ord_gi_oracle_sql",
    "morans_i",
    "morans_i_oracle_sql",
    "mann_kendall_trend",
    "mann_kendall_trend_oracle_sql",
    "emerging_hotspots",
    "emerging_hotspots_oracle_sql",
    "quadrat_dispersion",
    "quadrat_dispersion_oracle_sql",
    "local_morans_i",
    "local_morans_i_oracle_sql",
    "gearys_c",
    "gearys_c_oracle_sql",
    "join_counts",
    "join_counts_oracle_sql",
    "bivariate_morans_i",
    "bivariate_morans_i_oracle_sql",
    "location_quotient",
    "location_quotient_oracle_sql",
    "spatial_gini",
    "spatial_gini_oracle_sql",
    "general_g",
    "general_g_oracle_sql",
    "spatial_entropy",
    "spatial_entropy_oracle_sql",
    "head_tail_breaks",
    "head_tail_breaks_oracle_sql",
    "segregation_indices",
    "segregation_indices_oracle_sql",
    "median_center",
    "median_center_oracle_sql",
]


def _moments(row) -> list[int]:
    """The exact integers of one driver aggregate (NULL sums read 0)."""
    return [int(v or 0) for v in row]


def _gi_scalars(rel: DataFrame, c: str) -> tuple[int, float, float]:
    """Plan-time Gi* scalars of column ``c`` over the rows of ``rel``:
    n, mean and population std from 3 exact integer sums, combined in
    the pinned float op order the oracle twins mirror literally."""
    x = F.col(c)
    n, s1, s2 = _moments(
        rel.agg(F.count(F.lit(1)), F.sum(x), F.sum(x * x)).first()
    )
    xbar = s1 / n if n else 0.0
    var = s2 / n - xbar * xbar if n else 0.0
    # math.sqrt, not **0.5: pow(x, 0.5) is not IEEE-pinned to sqrt(x),
    # and the oracle twin uses SQL sqrt()
    return n, xbar, math.sqrt(var) if var > 0 else 0.0


def _gi_z(n: int, xbar: float, sdev: float, w_n, g_sum):
    """Gi* z of a neighborhood with ``w_n`` occupied cells summing to
    ``g_sum``, in the pinned op order the twins mirror; NULL when
    undefined.  The radicand clamps at 0: where two offsets land on one
    address (zoom <= 1) ``w_n`` can exceed n, and its negative radicand
    must give NULL, not a NaN z (Spark) or an error (DuckDB)."""
    w = w_n.cast("double")
    g = g_sum.cast("double")
    n_d = F.lit(float(n))
    num = g - F.lit(xbar) * w
    den = F.lit(sdev) * F.sqrt(
        F.greatest(
            (n_d * w - w * w) / F.lit(float(n - 1) if n > 1 else 1.0),
            F.lit(0.0),
        )
    )
    return F.when(F.lit(n > 1) & F.lit(sdev > 0) & (den > 0), num / den)


def getis_ord_gi(
    points: DataFrame,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-tile Gi* z-score of point counts at ``zoom``.

    Returns (tx, ty, cnt, w_n, g_sum, gi_r3): the cell, its count, the
    number of occupied cells in its 3x3 neighborhood (self included),
    their summed counts, and the Gi* z-score rounded to 3 decimals —
    NULL when it is undefined (fewer than 2 occupied cells, zero count
    variance, or the neighborhood covering the whole study area).
    Neighbor x-addresses wrap modulo 2^zoom (antimeridian adjacency)."""
    # the expensive points scan runs ONCE: the stats job below and the
    # neighbor sums both read the checkpointed cell relation (tiny:
    # occupied cells only) instead of re-aggregating the point relation
    cells = L.occupied_cells(points, zoom, lat_col, lon_col).localCheckpoint()
    n, xbar, sdev = _gi_scalars(cells, "cnt")
    # the neighborhood includes the cell itself, so only a cell with a
    # NULL tile (a NULL coordinate) has deg 0: it gets no row
    joined = L.neighbor_sums(cells, zoom, L.QUEEN, ["cnt"]).where(
        F.col("deg") > 0
    )
    z = _gi_z(n, xbar, sdev, F.col("deg"), F.col("nsum_cnt"))
    return joined.select(
        "tx",
        "ty",
        "cnt",
        F.col("deg").alias("w_n"),
        F.col("nsum_cnt").alias("g_sum"),
        F.round(z, 3).alias("gi_r3"),
    )


def morans_i(
    points: DataFrame,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Global Moran's I spatial autocorrelation of point counts binned
    to WebMercator tiles at ``zoom`` (Moran 1950; z-score under the
    normality assumption, Cliff & Ord 1981 ch. 2) — the study-area-wide
    companion to the per-cell :func:`getis_ord_gi`: one row telling
    whether occupied-cell counts are globally clustered (I > E[I]),
    dispersed (I < E[I]), or random.

    Weights are binary queen adjacency on the tile lattice (8
    neighbors, self excluded, x wrapping mod 2^zoom), restricted to
    OCCUPIED cells (operators/lattice.py).  Every aggregate the
    statistic needs (n, Σx, Σx², S0 = #adjacent ordered pairs,
    Σ xᵢxⱼ over pairs, Σ xᵢ over pairs, Σ degᵢ²) is an exact BIGINT
    sum over the neighbor sums, read in one driver aggregate; the
    handful of scalars combine driver-side in a pinned IEEE op order
    that the DuckDB twin mirrors literally.  Numerator cross-sum is
    expanded as Σxᵢxⱼ − x̄Σxᵢ − x̄Σxⱼ + S0·x̄² to keep the aggregation
    integral.

    Returns one row: (n_cells, s0, moran_i_r6, e_i_r6, z_r6) — NULL
    statistic when undefined (n < 2, zero variance, or no adjacent
    occupied pair).  E[I] = −1/(n−1); Var under normality:
    (n²S1 − nS2 + 3S0²) / ((n²−1)S0²) − E², with S1 = 2·S0 and
    S2 = 4·Σdegᵢ² for symmetric binary weights."""
    cells = L.occupied_cells(points, zoom, lat_col, lon_col)
    c, d = F.col("cnt"), F.col("deg")
    n, sx, sxx, s0, sp, st, sd2 = _moments(
        L.neighbor_sums(cells, zoom, L.RING, ["cnt"])
        .agg(
            F.count(F.lit(1)),
            F.sum(c),
            F.sum(c * c),
            F.sum(d),
            F.sum(c * F.col("nsum_cnt")),
            F.sum(d * c),
            F.sum(d * d),
        )
        .first()
    )

    spark = points.sparkSession
    # pinned scalar op order — the oracle twin mirrors it literally
    moran = e_i = z = None
    if n > 1 and s0 > 0:
        xbar = sx / n
        m2 = sxx - n * xbar * xbar
        if m2 > 0:
            cross = sp - xbar * st - xbar * st + s0 * xbar * xbar
            moran = (n / s0) * (cross / m2)
            e_i = -1.0 / (n - 1)
            s1 = 2.0 * s0
            s2 = 4.0 * sd2
            var = (n * n * s1 - n * s2 + 3.0 * (s0 * s0)) / (
                (n * n - 1.0) * (s0 * s0)
            ) - e_i * e_i
            if var > 0:
                z = (moran - e_i) / math.sqrt(var)
    # round through F.round (BigDecimal HALF_UP), not Python round
    # (HALF_EVEN) — the F.round-vs-DuckDB-round pairing is the one the
    # other rounded oracles already prove hash-identical
    rnd = lambda v: F.round(F.lit(v).cast("double"), 6)  # noqa: E731
    return spark.range(1).select(
        F.lit(n).alias("n_cells"),
        F.lit(s0).alias("s0"),
        rnd(moran).alias("moran_i_r6"),
        rnd(e_i).alias("e_i_r6"),
        rnd(z).alias("z_r6"),
    )


def morans_i_oracle_sql(
    subq: str, zoom: int = 8, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin: identical occupied-cell lattice, 8-address spread,
    integer aggregates, and literally the same scalar op order (DuckDB
    casts HUGEINT sums to DOUBLE explicitly; round() at the very end
    like the Spark side)."""
    n_tiles = 1 << zoom
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in L.RING)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        "cstats AS (SELECT count(*) AS n, "
        "CAST(sum(cnt) AS DOUBLE) AS sx, "
        "CAST(sum(cnt * cnt) AS DOUBLE) AS sxx FROM cells), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, cnt AS cnt_j FROM cells CROSS JOIN offsets), "
        "pairs AS (SELECT c.tx, c.ty, c.cnt AS cnt_i, s.cnt_j "
        "FROM cells c JOIN spread s ON c.tx = s.nx AND c.ty = s.ny), "
        "pstats AS (SELECT count(*) AS s0, "
        "CAST(sum(cnt_i * cnt_j) AS DOUBLE) AS sp, "
        "CAST(sum(cnt_i) AS DOUBLE) AS st FROM pairs), "
        "dstats AS (SELECT CAST(coalesce(sum(deg * deg), 0) AS DOUBLE) "
        "AS sd2 FROM (SELECT count(*) AS deg FROM pairs "
        "GROUP BY tx, ty)), "
        "scal AS (SELECT n, s0, sx / n AS xbar, "
        "sxx - n * (sx / n) * (sx / n) AS m2, sp, st, sd2 "
        "FROM cstats CROSS JOIN pstats CROSS JOIN dstats), "
        "res AS (SELECT n, s0, "
        "CASE WHEN n > 1 AND s0 > 0 AND m2 > 0 THEN "
        "(CAST(n AS DOUBLE) / s0) * "
        "((sp - xbar * st - xbar * st + s0 * xbar * xbar) / m2) "
        "END AS moran, "
        "CASE WHEN n > 1 AND s0 > 0 AND m2 > 0 THEN "
        "-1.0 / (n - 1) END AS e_i, "
        "CASE WHEN n > 1 AND s0 > 0 AND m2 > 0 THEN "
        "(CAST(n AS DOUBLE) * n * (2.0 * s0) - n * (4.0 * sd2) "
        "+ 3.0 * (CAST(s0 AS DOUBLE) * s0)) / "
        "((CAST(n AS DOUBLE) * n - 1.0) * (CAST(s0 AS DOUBLE) * s0)) "
        "- (-1.0 / (n - 1)) * (-1.0 / (n - 1)) END AS var FROM scal) "
        "SELECT n AS n_cells, s0, round(moran, 6) AS moran_i_r6, "
        "round(e_i, 6) AS e_i_r6, "
        "CASE WHEN var > 0 THEN round((moran - e_i) / sqrt(var), 6) "
        "END AS z_r6 FROM res"
    )


def getis_ord_gi_oracle_sql(
    subq: str, zoom: int = 8, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin: same occupied-cell lattice, same 9-address spread,
    same pinned scalar op order (stats computed in a CTE — DuckDB's
    + - * / sqrt are IEEE-correctly-rounded like Python's, so the
    pre-round z doubles are identical), same radicand clamp at 0."""
    n_tiles = 1 << zoom
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in L.QUEEN)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        "stats AS (SELECT count(*) AS n, "
        "CAST(sum(cnt) AS DOUBLE) / count(*) AS xbar, "
        "sqrt(CAST(sum(cnt * cnt) AS DOUBLE) / count(*) - "
        "(CAST(sum(cnt) AS DOUBLE) / count(*)) * "
        "(CAST(sum(cnt) AS DOUBLE) / count(*))) AS sdev FROM cells), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, count(*) AS w_n, sum(cnt) AS g_sum "
        "FROM cells CROSS JOIN offsets GROUP BY 1, 2) "
        "SELECT tx, ty, cnt, w_n, g_sum, "
        "round(CASE WHEN n > 1 AND sdev > 0 AND "
        "(sdev * sqrt(greatest((CAST(n AS DOUBLE) * CAST(w_n AS DOUBLE) - "
        "CAST(w_n AS DOUBLE) * CAST(w_n AS DOUBLE)) / "
        "CAST(n - 1 AS DOUBLE), 0.0))) > 0 THEN "
        "(CAST(g_sum AS DOUBLE) - xbar * CAST(w_n AS DOUBLE)) / "
        "(sdev * sqrt(greatest((CAST(n AS DOUBLE) * CAST(w_n AS DOUBLE) - "
        "CAST(w_n AS DOUBLE) * CAST(w_n AS DOUBLE)) / "
        "CAST(n - 1 AS DOUBLE), 0.0))) END, 3) AS gi_r3 "
        "FROM cells JOIN spread ON tx = nx AND ty = ny CROSS JOIN stats"
    )


def _dense_cube(
    points: DataFrame,
    t0: int,
    bucket_s: int,
    T: int,
    zoom: int,
    ts_col: str,
    lat_col: str,
    lon_col: str,
) -> DataFrame:
    """(tx, ty, b, c): every occupied cell's point count in each of the
    ``T`` buckets of ``bucket_s`` seconds from ``t0`` (missing buckets
    count 0).  Fixes outside the window drop before the shuffle; the
    series densifies by a sequence explode, not a join."""
    x, y = C.tile_xy(F.col(lat_col), F.col(lon_col), zoom)
    b = F.expr(f"({ts_col} - {int(t0)}) div {int(bucket_s)}").cast("int")
    return (
        points.where(
            (F.col(ts_col) >= F.lit(int(t0)))
            & (F.col(ts_col) < F.lit(int(t0) + T * int(bucket_s)))
        )
        .select(x.alias("tx"), y.alias("ty"), b.alias("_b"))
        .groupBy("tx", "ty", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("tx", "ty")
        .agg(
            F.map_from_arrays(
                F.collect_list("_b"), F.collect_list("_c")
            ).alias("_m")
        )
        .select(
            "tx",
            "ty",
            F.explode(F.sequence(F.lit(0), F.lit(T - 1))).alias("b"),
            F.col("_m"),
        )
        .select(
            "tx",
            "ty",
            "b",
            F.coalesce(
                F.col("_m")[F.col("b")], F.lit(0).cast("long")
            ).alias("c"),
        )
    )


def _mk_parts(series: DataFrame, v: str) -> tuple[DataFrame, DataFrame]:
    """Per-cell Mann-Kendall ingredients of a (tx, ty, b, ``v``) series:
    (tx, ty, s_stat) with S = Σ_{b<b'} sign(v' - v), exact over the
    bucket pairs, and (tx, ty, _tie) with Σ t(t-1)(2t+5) over the
    groups of equal ``v``."""
    l, r = series.alias("l"), series.alias("r")
    s = (
        l.join(
            r,
            (F.col("l.tx") == F.col("r.tx"))
            & (F.col("l.ty") == F.col("r.ty"))
            & (F.col("l.b") < F.col("r.b")),
        )
        .select(
            F.col("l.tx").alias("tx"),
            F.col("l.ty").alias("ty"),
            F.signum(
                (F.col(f"r.{v}") - F.col(f"l.{v}")).cast("double")
            ).cast("long").alias("_sgn"),
        )
        .groupBy("tx", "ty")
        .agg(F.sum("_sgn").alias("s_stat"))
    )
    t = F.col("_t")
    ties = (
        series.groupBy("tx", "ty", v)
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy("tx", "ty")
        .agg(F.sum(t * (t - 1) * (2 * t + 5)).alias("_tie"))
    )
    return s, ties


def _mk_z(s_stat, var18):
    """Mann-Kendall z with the continuity correction (0 when S or the
    variance is 0): one IEEE div/sqrt on exact integers."""
    sd = s_stat.cast("double")
    vr = F.sqrt(var18.cast("double") / F.lit(18.0))
    return (
        F.when((s_stat == 0) | (var18 == 0), F.lit(0.0))
        .when(s_stat > 0, (sd - F.lit(1.0)) / vr)
        .otherwise((sd + F.lit(1.0)) / vr)
    )


def _trend(z):
    """The 5% two-sided normal label of a Mann-Kendall z."""
    return (
        F.when(z > F.lit(1.96), F.lit("increasing"))
        .when(z < F.lit(-1.96), F.lit("decreasing"))
        .otherwise(F.lit("none"))
    )


def mann_kendall_trend(
    points: DataFrame,
    t0: int,
    bucket_s: int,
    n_buckets: int,
    zoom: int = 8,
    ts_col: str = "ts_sec",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-cell Mann-Kendall monotonic-trend test over a dense time
    series of tile counts — the trend component of emerging-hot-spot
    analysis (Mann 1945; Kendall 1975; the space-time-cube step layered
    on the Gi* family above): is each cell's activity rising, falling,
    or flat across ``n_buckets`` intervals of ``bucket_s`` seconds
    starting at epoch ``t0``?

    Per occupied cell the series is DENSE (missing buckets count 0 —
    the published method requires the complete series; density is per
    OCCUPIED cell only, the Gi* study-area convention, so the blowup
    is a bounded ``n_buckets``x explode of the CELL relation, never the
    point relation and never the empty lattice).  Statistic:

    - ``s_stat`` = Σ_{i<j} sign(c_j - c_i) — exact integer over the
      T(T-1)/2 ordered bucket pairs (T = ``n_buckets``, so the pair
      join is a bounded T²-per-cell equi-join on the cell key);
    - tie-corrected variance numerator (exact integer):
      ``var18 = T(T-1)(2T+5) - Σ_v t_v(t_v-1)(2t_v+5)`` over the
      per-cell multiplicities ``t_v`` of each distinct count value;
    - ``z`` = (S∓1)/sqrt(var18/18) with the standard continuity
      correction (0 when S=0 or var18=0) — IEEE-correctly-rounded
      div/sqrt on exact integers, bit-identical in the twin;
    - ``trend`` ∈ increasing/decreasing/none at the 5% two-sided
      normal threshold (|z| > 1.96; exact float compare, same label
      both engines).

    Plan: ONE map-side count aggregate over in-window points, a
    sequence-explode densification (no join), and two cell-keyed
    self-aggregations (pairs + ties) that reuse the same hash
    partitioning.  Fixes outside [t0, t0 + T·bucket_s) are filtered
    before the shuffle.
    """
    T = int(n_buckets)
    dense = _dense_cube(
        points, t0, bucket_s, T, zoom, ts_col, lat_col, lon_col
    )
    s, ties = _mk_parts(dense, "c")
    base = T * (T - 1) * (2 * T + 5)
    var18 = (F.lit(base) - F.col("_tie")).alias("var18")
    joined = s.join(ties, ["tx", "ty"]).select("tx", "ty", "s_stat", var18)
    z = _mk_z(F.col("s_stat"), F.col("var18"))
    return joined.select(
        "tx", "ty", "s_stat", "var18", z.alias("z"), _trend(z).alias("trend")
    )


def mann_kendall_trend_oracle_sql(
    subq: str,
    t0: int,
    bucket_s: int,
    n_buckets: int,
    zoom: int = 8,
    ts_col: str = "ts_sec",
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB twin of :func:`mann_kendall_trend`: same dense series,
    same exact integer S / tie arithmetic, same IEEE finals."""
    T = int(n_buckets)
    txs, tys = C.tile_xy_sql(lat, lon, zoom)
    base = T * (T - 1) * (2 * T + 5)
    binned = (
        f"SELECT {txs} AS tx, {tys} AS ty, "
        f"CAST(({ts_col} - {int(t0)}) // {int(bucket_s)} AS INT) AS b, "
        f"COUNT(*) AS c FROM {subq} "
        f"WHERE {ts_col} >= {int(t0)} "
        f"AND {ts_col} < {int(t0) + T * int(bucket_s)} "
        "GROUP BY 1, 2, 3"
    )
    dense = (
        "SELECT cells.tx, cells.ty, g.b, COALESCE(bn.c, 0) AS c "
        f"FROM (SELECT DISTINCT tx, ty FROM ({binned})) cells "
        f"CROSS JOIN (SELECT UNNEST(range({T})) AS b) g "
        f"LEFT JOIN ({binned}) bn "
        "ON bn.tx = cells.tx AND bn.ty = cells.ty AND bn.b = g.b"
    )
    s = (
        "SELECT l.tx, l.ty, SUM(CAST(sign(CAST(r.c - l.c AS DOUBLE)) "
        "AS BIGINT)) AS s_stat "
        f"FROM ({dense}) l JOIN ({dense}) r "
        "ON l.tx = r.tx AND l.ty = r.ty AND l.b < r.b GROUP BY 1, 2"
    )
    ties = (
        f"SELECT tx, ty, {base} - SUM(t * (t - 1) * (2 * t + 5)) AS var18 "
        "FROM (SELECT tx, ty, c, COUNT(*) AS t "
        f"FROM ({dense}) GROUP BY 1, 2, 3) GROUP BY 1, 2"
    )
    z = (
        "CASE WHEN s_stat = 0 OR var18 = 0 THEN 0.0 "
        "WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / "
        "sqrt(CAST(var18 AS DOUBLE) / 18.0) "
        "ELSE (CAST(s_stat AS DOUBLE) + 1.0) / "
        "sqrt(CAST(var18 AS DOUBLE) / 18.0) END"
    )
    return (
        f"SELECT tx, ty, s_stat, var18, {z} AS z, "
        f"CASE WHEN ({z}) > 1.96 THEN 'increasing' "
        f"WHEN ({z}) < -1.96 THEN 'decreasing' "
        "ELSE 'none' END AS trend "
        f"FROM ({s}) JOIN ({ties}) USING (tx, ty)"
    )


def emerging_hotspots(
    points: DataFrame,
    t0: int,
    bucket_s: int,
    n_buckets: int,
    zoom: int = 8,
    ts_col: str = "ts_sec",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Emerging-hot-spot analysis — the published space-time-cube
    composition (Getis & Ord 1992 Gi* per bin; Mann-Kendall trend over
    each cell's Gi* z series; the Esri "emerging hot spot" method):
    per zoom-``zoom`` cell, is its HOT-SPOT INTENSITY rising, falling,
    or flat across ``n_buckets`` time buckets?

    Pipeline (all the shapes already proven by the two parents):

    1. in-window points bin to (cell, bucket) counts — map-side
       combinable, filter before the shuffle;
    2. the cube densifies in time per OCCUPIED cell (sequence explode,
       missing buckets count 0 — the mann_kendall convention, bounded
       Tx blowup of the cell relation);
    3. Gi* per bin against the CUBE's global mean/std (driver-collected
       scalar triple, the getis_ord_gi house pattern) with binary
       3x3x3 space-time weights: 27-address spread of the BIN relation,
       antimeridian x-wrap, temporal edges clamp;
    4. Mann-Kendall S + tie-corrected variance over each cell's z
       SERIES (bins whose z is defined) — floats compare exactly, and
       equal z's are bit-identical in both engines so tie groups agree;
    5. classification: trend (5% MK normal test) x the last bucket's
       state (hot/cold at |z| > 1.96) → ``pattern`` like
       ``increasing_hot`` (intensifying), ``none_hot`` (persistent),
       ``decreasing_hot`` (diminishing).

    Exactness: counts/spreads are BIGINTs; z is the pinned Gi* float
    expression; the MK layer adds only sign comparisons (exact),
    integer tie arithmetic, and one IEEE div/sqrt — bit-identical to
    the twin before the final r-roundings.

    Returns (tx, ty, n_z, s_stat, var18, mk_z, last_gi_r3, pattern).
    """
    T = int(n_buckets)
    # one checkpoint: the stats job, the spread, and the z join all read
    # the (cells x T) cube instead of re-binning the points
    bins = _dense_cube(
        points, t0, bucket_s, T, zoom, ts_col, lat_col, lon_col
    ).localCheckpoint()
    n, xbar, sdev = _gi_scalars(bins, "c")

    spread = (
        L.spread(
            bins,
            zoom,
            [
                {"dx": dx, "dy": dy, "db": db}
                for dx, dy in L.QUEEN
                for db in (-1, 0, 1)
            ],
            (F.col("b") + F.col("_o.db")).alias("nb"),
            F.col("c").alias("_src"),
        )
        .where((F.col("nb") >= 0) & (F.col("nb") < T))
        .groupBy("nx", "ny", "nb")
        .agg(F.count(F.lit(1)).alias("w_n"), F.sum("_src").alias("g_sum"))
    )
    zc = _gi_z(n, xbar, sdev, F.col("w_n"), F.col("g_sum"))
    zbins = (
        bins.join(
            spread,
            (F.col("tx") == F.col("nx"))
            & (F.col("ty") == F.col("ny"))
            & (F.col("b") == F.col("nb")),
        )
        .select("tx", "ty", "b", zc.alias("z"))
        .where(F.col("z").isNotNull())
        # four consumers (pair join both sides, n_z, ties, last): pin
        # the z cube once instead of re-running the spread join per
        # consumer
        .localCheckpoint()
    )
    s, ties = _mk_parts(zbins, "z")
    nz = zbins.groupBy("tx", "ty").agg(F.count(F.lit(1)).alias("n_z"))
    last = zbins.where(F.col("b") == T - 1).select(
        "tx", "ty", F.round("z", 3).alias("last_gi_r3")
    )
    m = (
        nz.join(s, ["tx", "ty"], "left")
        .join(ties, ["tx", "ty"])
        .join(last, ["tx", "ty"], "left")
        .select(
            "tx",
            "ty",
            "n_z",
            F.coalesce(F.col("s_stat"), F.lit(0)).alias("s_stat"),
            (
                F.col("n_z")
                * (F.col("n_z") - 1)
                * (2 * F.col("n_z") + 5)
                - F.col("_tie")
            ).alias("var18"),
            "last_gi_r3",
        )
    )
    mkz = _mk_z(F.col("s_stat"), F.col("var18"))
    state = (
        F.when(F.col("last_gi_r3") > F.lit(1.96), F.lit("hot"))
        .when(F.col("last_gi_r3") < F.lit(-1.96), F.lit("cold"))
        .otherwise(F.lit("neutral"))
    )
    return m.select(
        "tx",
        "ty",
        "n_z",
        "s_stat",
        "var18",
        mkz.alias("mk_z"),
        "last_gi_r3",
        F.concat(_trend(mkz), F.lit("_"), state).alias("pattern"),
    )


def emerging_hotspots_oracle_sql(
    subq: str,
    t0: int,
    bucket_s: int,
    n_buckets: int,
    zoom: int = 8,
    ts_col: str = "ts_sec",
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB twin of :func:`emerging_hotspots`: same cube, same Gi*
    scalar/op order (stats in a CTE), same MK layer over z."""
    T = int(n_buckets)
    n_tiles = 1 << zoom
    txs, tys = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(
        f"({dx}, {dy}, {db})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        for db in (-1, 0, 1)
    )
    parts = [
        f"binned AS (SELECT {txs} AS tx, {tys} AS ty, "
        f"CAST(({ts_col} - {int(t0)}) // {int(bucket_s)} AS INT) AS b, "
        f"COUNT(*) AS c FROM {subq} "
        f"WHERE {ts_col} >= {int(t0)} "
        f"AND {ts_col} < {int(t0) + T * int(bucket_s)} GROUP BY 1, 2, 3)",
        "bins AS MATERIALIZED (SELECT cells.tx, cells.ty, g.b, "
        "COALESCE(bn.c, 0) AS c "
        "FROM (SELECT DISTINCT tx, ty FROM binned) cells "
        f"CROSS JOIN (SELECT UNNEST(range({T})) AS b) g "
        "LEFT JOIN binned bn ON bn.tx = cells.tx AND bn.ty = cells.ty "
        "AND bn.b = g.b)",
        "stats AS (SELECT count(*) AS n, "
        "CAST(sum(c) AS DOUBLE) / count(*) AS xbar, "
        "sqrt(CAST(sum(c * c) AS DOUBLE) / count(*) - "
        "(CAST(sum(c) AS DOUBLE) / count(*)) * "
        "(CAST(sum(c) AS DOUBLE) / count(*))) AS sdev FROM bins)",
        f"offsets(dx, dy, db) AS (VALUES {offs})",
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, b + db AS nb, count(*) AS w_n, sum(c) AS g_sum "
        "FROM bins CROSS JOIN offsets "
        f"WHERE b + db >= 0 AND b + db < {T} GROUP BY 1, 2, 3)",
        "zbins AS MATERIALIZED (SELECT tx, ty, b, z FROM ("
        "SELECT tx, ty, b, CASE WHEN n > 1 AND sdev > 0 AND "
        "(sdev * sqrt(greatest((CAST(n AS DOUBLE) * CAST(w_n AS DOUBLE) - "
        "CAST(w_n AS DOUBLE) * CAST(w_n AS DOUBLE)) / "
        "CAST(n - 1 AS DOUBLE), 0.0))) > 0 THEN "
        "(CAST(g_sum AS DOUBLE) - xbar * CAST(w_n AS DOUBLE)) / "
        "(sdev * sqrt(greatest((CAST(n AS DOUBLE) * CAST(w_n AS DOUBLE) - "
        "CAST(w_n AS DOUBLE) * CAST(w_n AS DOUBLE)) / "
        "CAST(n - 1 AS DOUBLE), 0.0))) END AS z "
        "FROM bins JOIN spread ON tx = nx AND ty = ny AND b = nb "
        "CROSS JOIN stats) WHERE z IS NOT NULL)",
        "s AS (SELECT l.tx, l.ty, "
        "SUM(CAST(sign(r.z - l.z) AS BIGINT)) AS s_stat "
        "FROM zbins l JOIN zbins r ON l.tx = r.tx AND l.ty = r.ty "
        "AND l.b < r.b GROUP BY 1, 2)",
        "nz AS (SELECT tx, ty, COUNT(*) AS n_z FROM zbins GROUP BY 1, 2)",
        "ties AS (SELECT tx, ty, "
        "SUM(t * (t - 1) * (2 * t + 5)) AS tie FROM "
        "(SELECT tx, ty, z, COUNT(*) AS t FROM zbins GROUP BY 1, 2, 3) "
        "GROUP BY 1, 2)",
        f"last AS (SELECT tx, ty, round(z, 3) AS last_gi_r3 FROM zbins "
        f"WHERE b = {T - 1})",
        "m AS (SELECT nz.tx, nz.ty, n_z, COALESCE(s_stat, 0) AS s_stat, "
        "n_z * (n_z - 1) * (2 * n_z + 5) - tie AS var18, last_gi_r3 "
        "FROM nz LEFT JOIN s ON nz.tx = s.tx AND nz.ty = s.ty "
        "JOIN ties ON nz.tx = ties.tx AND nz.ty = ties.ty "
        "LEFT JOIN last ON nz.tx = last.tx AND nz.ty = last.ty)",
    ]
    mkz = (
        "CASE WHEN s_stat = 0 OR var18 = 0 THEN 0.0 "
        "WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / "
        "sqrt(CAST(var18 AS DOUBLE) / 18.0) "
        "ELSE (CAST(s_stat AS DOUBLE) + 1.0) / "
        "sqrt(CAST(var18 AS DOUBLE) / 18.0) END"
    )
    trend = (
        f"CASE WHEN ({mkz}) > 1.96 THEN 'increasing' "
        f"WHEN ({mkz}) < -1.96 THEN 'decreasing' ELSE 'none' END"
    )
    state = (
        "CASE WHEN last_gi_r3 > 1.96 THEN 'hot' "
        "WHEN last_gi_r3 < -1.96 THEN 'cold' ELSE 'neutral' END"
    )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT tx, ty, n_z, s_stat, var18, {mkz} AS mk_z, "
        f"last_gi_r3, ({trend}) || '_' || ({state}) AS pattern FROM m"
    )


def quadrat_dispersion(
    points: DataFrame,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Quadrat variance-mean-ratio test for complete spatial
    randomness (index of dispersion; Fisher 1925, David & Moore 1954;
    the grid-based companion to :func:`ripley` in operators/density)
    over occupied zoom-``zoom`` tiles: VMR = s²/x̄ (1 under CSR, > 1
    clustered, < 1 dispersed), the chi-square statistic
    (n-1)·VMR with n-1 df, and the standard normal approximation
    z = sqrt(2·chi²) - sqrt(2·(n-1) - 1).

    Three exact BIGINT scalars (n, Σx, Σx²) over the occupied cells
    collect to the driver, and the statistic combines in a pinned IEEE
    op order the twin mirrors literally.  Returns one row:
    (n_cells, sum_cnt, vmr_r6, chi2_r6, z_r6) — NULLs when undefined
    (n < 2 or zero mean)."""
    cells = L.occupied_cells(points, zoom, lat_col, lon_col)
    row = cells.agg(
        F.count(F.lit(1)),
        F.sum("cnt"),
        F.sum(F.col("cnt") * F.col("cnt")),
    ).first()
    n, sx, sxx = int(row[0]), int(row[1] or 0), int(row[2] or 0)
    vmr = chi2 = z = None
    if n > 1 and sx > 0:
        xbar = sx / n
        s2 = (sxx - n * xbar * xbar) / (n - 1)
        vmr = s2 / xbar
        chi2 = (n - 1) * vmr
        z = math.sqrt(2.0 * chi2) - math.sqrt(2.0 * (n - 1) - 1.0)
    spark = points.sparkSession
    rnd = lambda v: F.round(F.lit(v).cast("double"), 6)  # noqa: E731
    return spark.range(1).select(
        F.lit(n).alias("n_cells"),
        F.lit(sx).alias("sum_cnt"),
        rnd(vmr).alias("vmr_r6"),
        rnd(chi2).alias("chi2_r6"),
        rnd(z).alias("z_r6"),
    )


def quadrat_dispersion_oracle_sql(
    subq: str, zoom: int = 8, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin of :func:`quadrat_dispersion`: same occupied-cell
    counts, same three exact scalars, literally the same op order."""
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        "cstats AS (SELECT count(*) AS n, sum(cnt) AS sx, "
        "sum(cnt * cnt) AS sxx FROM cells), "
        "scal AS (SELECT n, sx, "
        "CASE WHEN n > 1 AND sx > 0 THEN "
        "((CAST(sxx AS DOUBLE) - n * (CAST(sx AS DOUBLE) / n) * "
        "(CAST(sx AS DOUBLE) / n)) / (n - 1)) / "
        "(CAST(sx AS DOUBLE) / n) END AS vmr FROM cstats) "
        "SELECT n AS n_cells, sx AS sum_cnt, "
        "round(vmr, 6) AS vmr_r6, "
        "round((n - 1) * vmr, 6) AS chi2_r6, "
        "round(sqrt(2.0 * ((n - 1) * vmr)) - "
        "sqrt(2.0 * (n - 1) - 1.0), 6) AS z_r6 FROM scal"
    )


def local_morans_i(
    points: DataFrame,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Local Moran's I (LISA — Anselin 1995, "Local Indicators of
    Spatial Association") of point counts binned to WebMercator tiles
    at ``zoom``: the per-cell decomposition of :func:`morans_i`, with
    a cluster-quadrant label per cell (HH/LL high-high and low-low
    cores, HL/LH spatial outliers).  The reference stops at heat-map
    counts; Gi* (``getis_ord_gi``) answers "is this cell hot?", LISA
    answers "is this cell part of a cluster or an outlier against its
    neighborhood?".

    Binary queen weights on the 8-neighborhood over OCCUPIED cells
    (operators/lattice.py).  A 5-scalar exact-BIGINT moment aggregate
    goes to the driver (n, Σx, Σx², Σx³, Σx⁴ — Σ(x-x̄)² and Σ(x-x̄)⁴
    expand binomially so no float enters a shuffle); every per-row
    statistic is then native Column math over two BIGINTs (deg, nsum)
    and driver literals, in a pinned IEEE op order the DuckDB twin
    mirrors literally.

    Per cell i with deviate zᵢ = xᵢ - x̄, m₂ = Σz²/n:
    Iᵢ = (zᵢ/m₂)·Σⱼwᵢⱼzⱼ; E[Iᵢ] = -wᵢ/(n-1) and Var[Iᵢ] under
    randomization (Anselin 1995 eq. 7-8 with binary weights, so
    wᵢ₍₂₎ = wᵢ and 2wᵢ₍ₖₕ₎ = wᵢ² - wᵢ):
    wᵢ(n-b₂)/(n-1) + (wᵢ²-wᵢ)(2b₂-n)/((n-1)(n-2)) - (wᵢ/(n-1))²
    with kurtosis b₂ = m₄/m₂².

    Returns (tx, ty, cnt, deg, lag_r6, ii_r6, z_r6, quad): the cell,
    its count, occupied-neighbor count, spatial lag Σⱼwᵢⱼzⱼ, local I,
    the permutation-free z-score (NULL when undefined: n < 3, zero
    variance, deg = 0, or Var ≤ 0), and the quadrant label from the
    signs of (zᵢ, lag) — sign compares on bit-identical doubles are
    exact, so the label is deterministic cross-engine."""
    cells = L.occupied_cells(points, zoom, lat_col, lon_col).localCheckpoint()
    c = F.col("cnt")
    n, sx, sxx, sx3, sx4 = _moments(
        cells.agg(
            F.count(F.lit(1)),
            F.sum(c),
            F.sum(c * c),
            F.sum(c * c * c),
            F.sum(c * c * c * c),
        ).first()
    )

    # pinned driver-side scalar combine — mirrored literally by the twin
    xbar = sx / n if n else 0.0
    ssd = sxx - n * xbar * xbar  # Σ(x-x̄)²  (float, exact-int inputs)
    m2 = ssd / n if n else 0.0
    z4 = (
        sx4
        - 4.0 * xbar * sx3
        + 6.0 * (xbar * xbar) * sxx
        - 4.0 * (xbar * xbar * xbar) * sx
        + n * (xbar * xbar * xbar * xbar)
    )
    m4 = z4 / n if n else 0.0
    b2 = m4 / (m2 * m2) if m2 > 0 else 0.0
    defined = n > 2 and m2 > 0

    joined = L.neighbor_sums(cells, zoom, L.RING, ["cnt"])

    d = F.col("deg").cast("double")
    zi = F.col("cnt").cast("double") - F.lit(xbar)
    lag = F.col("nsum_cnt").cast("double") - d * F.lit(xbar)
    # + 0.0 normalizes IEEE -0.0 (zi<0 × lag=0.0 when deg=0) to +0.0
    # so the cross-engine value hash agrees on the sign of zero
    ii = (zi / F.lit(m2)) * lag + F.lit(0.0) if m2 > 0 else F.lit(None)
    n_d, b2_d = F.lit(float(n)), F.lit(b2)
    e_i = -d / F.lit(float(n - 1) if n > 1 else 1.0)
    var = (
        d * (n_d - b2_d) / F.lit(float(n - 1) if n > 1 else 1.0)
        + (d * d - d)
        * (F.lit(2.0) * b2_d - n_d)
        / F.lit(float((n - 1) * (n - 2)) if n > 2 else 1.0)
        - e_i * e_i
    )
    z = F.when(
        F.lit(defined) & (F.col("deg") > 0) & (var > 0),
        (ii - e_i) / F.sqrt(var) + F.lit(0.0),
    )
    quad = F.when(~F.lit(defined), F.lit(None).cast("string")).otherwise(
        F.when((zi >= 0) & (lag >= 0), F.lit("HH"))
        .when((zi < 0) & (lag < 0), F.lit("LL"))
        .when(zi >= 0, F.lit("HL"))
        .otherwise(F.lit("LH"))
    )
    ii_out = F.when(F.lit(defined), ii) if m2 > 0 else F.lit(None).cast(
        "double"
    )
    lag_out = F.when(F.lit(defined), lag)
    return joined.select(
        "tx",
        "ty",
        "cnt",
        "deg",
        F.round(lag_out, 6).alias("lag_r6"),
        F.round(ii_out, 6).alias("ii_r6"),
        F.round(z, 6).alias("z_r6"),
        quad.alias("quad"),
    )


def local_morans_i_oracle_sql(
    subq: str, zoom: int = 8, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin of :func:`local_morans_i`: identical occupied-cell
    lattice, exact-integer moment sums, 8-address spread, and
    literally the same per-row op order (including the ``+ 0.0``
    negative-zero normalization)."""
    n_tiles = 1 << zoom
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in L.RING)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        "mstats AS (SELECT count(*) AS n, "
        "CAST(sum(cnt) AS DOUBLE) AS sx, "
        "CAST(sum(cnt * cnt) AS DOUBLE) AS sxx, "
        "CAST(sum(cnt * cnt * cnt) AS DOUBLE) AS sx3, "
        "CAST(sum(cnt * cnt * cnt * cnt) AS DOUBLE) AS sx4 FROM cells), "
        "scal0 AS (SELECT n, sx / n AS xbar, sx, sxx, sx3, sx4 "
        "FROM mstats), "
        "scal1 AS (SELECT n, xbar, "
        "(sxx - n * xbar * xbar) / n AS m2, "
        "(sx4 - 4.0 * xbar * sx3 + 6.0 * (xbar * xbar) * sxx "
        "- 4.0 * (xbar * xbar * xbar) * sx "
        "+ n * (xbar * xbar * xbar * xbar)) / n AS m4 FROM scal0), "
        "scal AS (SELECT n, xbar, m2, "
        "CASE WHEN m2 > 0 THEN m4 / (m2 * m2) ELSE 0.0 END AS b2, "
        "(n > 2 AND m2 > 0) AS defined FROM scal1), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, count(*) AS deg, sum(cnt) AS nsum "
        "FROM cells CROSS JOIN offsets GROUP BY 1, 2), "
        "j AS (SELECT c.tx, c.ty, c.cnt, "
        "coalesce(s.deg, 0) AS deg, coalesce(s.nsum, 0) AS nsum "
        "FROM cells c LEFT JOIN spread s "
        "ON c.tx = s.nx AND c.ty = s.ny), "
        "r AS (SELECT tx, ty, cnt, deg, n, xbar, m2, b2, defined, "
        "CAST(deg AS DOUBLE) AS d, "
        "CAST(cnt AS DOUBLE) - xbar AS zi, "
        "CAST(nsum AS DOUBLE) - CAST(deg AS DOUBLE) * xbar AS lag "
        "FROM j CROSS JOIN scal), "
        "r2 AS (SELECT *, "
        "CASE WHEN m2 > 0 THEN (zi / m2) * lag + 0.0 END AS ii, "
        "-d / (CASE WHEN n > 1 THEN CAST(n - 1 AS DOUBLE) "
        "ELSE 1.0 END) AS e_i, "
        "d * (n - b2) / (CASE WHEN n > 1 THEN CAST(n - 1 AS DOUBLE) "
        "ELSE 1.0 END) + (d * d - d) * (2.0 * b2 - n) / "
        "(CASE WHEN n > 2 THEN CAST((n - 1) * (n - 2) AS DOUBLE) "
        "ELSE 1.0 END) - (-d / (CASE WHEN n > 1 THEN "
        "CAST(n - 1 AS DOUBLE) ELSE 1.0 END)) * "
        "(-d / (CASE WHEN n > 1 THEN CAST(n - 1 AS DOUBLE) "
        "ELSE 1.0 END)) AS var FROM r) "
        "SELECT tx, ty, cnt, deg, "
        "CASE WHEN defined THEN round(lag, 6) END AS lag_r6, "
        "CASE WHEN defined THEN round(ii, 6) END AS ii_r6, "
        "CASE WHEN defined AND deg > 0 AND var > 0 THEN "
        "round((ii - e_i) / sqrt(var) + 0.0, 6) END AS z_r6, "
        "CASE WHEN NOT defined THEN NULL "
        "WHEN zi >= 0 AND lag >= 0 THEN 'HH' "
        "WHEN zi < 0 AND lag < 0 THEN 'LL' "
        "WHEN zi >= 0 THEN 'HL' ELSE 'LH' END AS quad FROM r2"
    )


def gearys_c(
    points: DataFrame,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Global Geary's C spatial autocorrelation (Geary 1954; z-score
    under the normality assumption, Cliff & Ord 1981 ch. 2) of point
    counts binned to WebMercator tiles at ``zoom`` — the
    squared-difference companion to :func:`morans_i`: C ≈ 1 under
    CSR, C < 1 clustered (neighbors alike), C > 1 dispersed.  Moran's
    I weights cross-products around the global mean (hot/cold CORES
    dominate); Geary's C weights pairwise contrasts, so it is the more
    sensitive of the two to local edges/boundaries — the standard
    reason analysts report both.

    Identical lattice conventions and scale shape as :func:`morans_i`
    (binary queen adjacency over OCCUPIED cells, x wrap mod 2^zoom):
    every distributed aggregate — n, Σx, Σx², S0 = #ordered adjacent
    pairs, Σdegᵢ² and the three terms of Σ(xᵢ-xⱼ)² over ordered pairs
    (Σdeg·x² − 2Σx·nsum + Σnsum(x²), which assumes no symmetry) — is an
    exact BIGINT from one driver aggregate, floats only in the
    driver-side combine whose op order the DuckDB twin mirrors
    literally.

    C = ((n-1)·Σwᵢⱼ(xᵢ-xⱼ)²) / (2·S0·Σ(xᵢ-x̄)²); E[C] = 1; under
    normality Var[C] = ((2S1 + S2)(n-1) - 4S0²) / (2(n+1)S0²) with
    S1 = 2S0 and S2 = 4Σdeg² for symmetric binary weights.

    Returns one row: (n_cells, s0, gearys_c_r6, z_r6) with
    z = (C - 1)/√Var (negative ⇒ clustered) — NULLs when undefined
    (n < 2, zero variance, or no adjacent occupied pair)."""
    cells = L.occupied_cells(points, zoom, lat_col, lon_col).withColumn(
        "cnt2", F.col("cnt") * F.col("cnt")
    )
    c, c2, d = F.col("cnt"), F.col("cnt2"), F.col("deg")
    n, sx, sxx, s0, sdxx, sxn, sn2, sd2 = _moments(
        L.neighbor_sums(cells, zoom, L.RING, ["cnt", "cnt2"])
        .agg(
            F.count(F.lit(1)),
            F.sum(c),
            F.sum(c2),
            F.sum(d),
            F.sum(d * c2),
            F.sum(c * F.col("nsum_cnt")),
            F.sum("nsum_cnt2"),
            F.sum(d * d),
        )
        .first()
    )
    sq = sdxx - 2 * sxn + sn2  # Σ(xᵢ-xⱼ)² over ordered pairs, exact

    spark = points.sparkSession
    # pinned scalar op order — the oracle twin mirrors it literally
    c_stat = z = None
    if n > 1 and s0 > 0:
        xbar = sx / n
        ssd = sxx - n * xbar * xbar
        # float(sq)/float(s0) FIRST (DuckDB's CAST-then-multiply):
        # (n-1)*sq as an exact Python int would round once at the end,
        # while the twin rounds sq to double before multiplying —
        # divergent ulps once (n-1)*sq crosses 2^53
        sqf, s0f = float(sq), float(s0)
        if ssd > 0:
            c_stat = ((n - 1) * sqf) / (2.0 * s0 * ssd)
            s1 = 2.0 * s0
            s2 = 4.0 * sd2
            var = ((2.0 * s1 + s2) * (n - 1) - 4.0 * (s0f * s0)) / (
                2.0 * (n + 1) * (s0f * s0)
            )
            if var > 0:
                z = (c_stat - 1.0) / math.sqrt(var)
    rnd = lambda v: F.round(F.lit(v).cast("double"), 6)  # noqa: E731
    return spark.range(1).select(
        F.lit(n).alias("n_cells"),
        F.lit(s0).alias("s0"),
        rnd(c_stat).alias("gearys_c_r6"),
        rnd(z).alias("z_r6"),
    )


def gearys_c_oracle_sql(
    subq: str, zoom: int = 8, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin of :func:`gearys_c`: same lattice, same exact
    integer aggregates, literally the same scalar op order."""
    n_tiles = 1 << zoom
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in L.RING)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        "cstats AS (SELECT count(*) AS n, "
        "CAST(sum(cnt) AS DOUBLE) AS sx, "
        "CAST(sum(cnt * cnt) AS DOUBLE) AS sxx FROM cells), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, cnt AS cnt_j FROM cells CROSS JOIN offsets), "
        "pairs AS (SELECT c.tx, c.ty, c.cnt AS cnt_i, s.cnt_j "
        "FROM cells c JOIN spread s ON c.tx = s.nx AND c.ty = s.ny), "
        "pstats AS (SELECT count(*) AS s0, "
        "CAST(sum((cnt_i - cnt_j) * (cnt_i - cnt_j)) AS DOUBLE) AS sq "
        "FROM pairs), "
        "dstats AS (SELECT CAST(coalesce(sum(deg * deg), 0) AS DOUBLE) "
        "AS sd2 FROM (SELECT count(*) AS deg FROM pairs "
        "GROUP BY tx, ty)), "
        "scal AS (SELECT n, s0, sx / n AS xbar, "
        "sxx - n * (sx / n) * (sx / n) AS ssd, sq, sd2 "
        "FROM cstats CROSS JOIN pstats CROSS JOIN dstats), "
        "res AS (SELECT n, s0, "
        "CASE WHEN n > 1 AND s0 > 0 AND ssd > 0 THEN "
        "((n - 1) * sq) / (2.0 * s0 * ssd) END AS c_stat, "
        "CASE WHEN n > 1 AND s0 > 0 AND ssd > 0 THEN "
        "((2.0 * (2.0 * s0) + (4.0 * sd2)) * (n - 1) "
        "- 4.0 * (CAST(s0 AS DOUBLE) * s0)) / "
        "(2.0 * (n + 1) * (CAST(s0 AS DOUBLE) * s0)) END AS var "
        "FROM scal) "
        "SELECT n AS n_cells, s0, round(c_stat, 6) AS gearys_c_r6, "
        "CASE WHEN var > 0 THEN "
        "round((c_stat - 1.0) / sqrt(var), 6) END AS z_r6 FROM res"
    )


def join_counts(
    points: DataFrame,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Black-white join-count statistics (Moran 1948; Cliff & Ord 1981
    ch. 1; free-sampling moments as in Sokal & Oden 1978) over point
    counts binned to WebMercator tiles at ``zoom`` — the
    binary-marked member of the global-autocorrelation trio (Moran's
    I / Geary's C / join counts): cells are BLACK when their count is
    strictly above the study-area mean, and the statistic asks whether
    like-marked cells adjoin more (BB/WW inflated, BW deflated ⇒
    clustered) or less (BW inflated ⇒ checkerboard) than chance.

    The black mark is the exact integer predicate ``cnt·n > Σx`` —
    no float ever decides a mark, so the marked lattice is
    bit-reproducible cross-engine.  Same occupied-cell queen-adjacency
    conventions as :func:`morans_i`; every distributed aggregate (n,
    Σx, nb, ordered BB/WW/BW pair counts, Σdeg²) is an exact BIGINT,
    read in two driver aggregates (the marks need n and Σx first).
    Unordered joins A = S0/2, D = ½Σd(d−1) = (Σd²−S0)/2 are exact
    integer divisions of even integers.

    Free-sampling moments with p = nb/n, q = 1-p:
    E[BB] = A·p², Var[BB] = A·p² + 2D·p³ − (A+2D)·p⁴;
    E[BW] = 2A·p·q, Var[BW] = 2(A+D)·p·q − 4(A+2D)·p²·q².

    Returns one row: (n_cells, n_black, joins, bb, ww, bw, z_bb_r6,
    z_bw_r6) — z-scores NULL when degenerate (n < 2, no joins, all
    cells one color, or Var ≤ 0)."""
    cells = L.occupied_cells(points, zoom, lat_col, lon_col)
    n, sx = _moments(cells.agg(F.count(F.lit(1)), F.sum("cnt")).first())
    # exact integer mark: cnt > mean  <=>  cnt * n > Σx
    marked = cells.select(
        "tx",
        "ty",
        (F.col("cnt") * F.lit(n) > F.lit(sx)).cast("int").alias("blk"),
    )
    b, d, nbk = F.col("blk"), F.col("deg"), F.col("nsum_blk")
    nb, s0, bb2, ww2, bw2, sd2 = _moments(
        L.neighbor_sums(marked, zoom, L.RING, ["blk"])
        .agg(
            F.sum(b),
            F.sum(d),
            F.sum(b * nbk),
            F.sum((1 - b) * (d - nbk)),
            F.sum(b * (d - nbk) + (1 - b) * nbk),
            F.sum(d * d),
        )
        .first()
    )
    # symmetric adjacency: every unordered join appears twice
    a, bb, ww, bw = s0 // 2, bb2 // 2, ww2 // 2, bw2 // 2
    d = (sd2 - s0) // 2

    # pinned scalar op order — the oracle twin mirrors it literally
    z_bb = z_bw = None
    if n > 1 and a > 0 and 0 < nb < n:
        p = nb / n
        q = 1.0 - p
        af, df = float(a), float(d)
        e_bb = af * (p * p)
        v_bb = af * (p * p) + 2.0 * df * (p * p * p) - (
            af + 2.0 * df
        ) * (p * p * p * p)
        if v_bb > 0:
            z_bb = (bb - e_bb) / math.sqrt(v_bb)
        e_bw = 2.0 * af * (p * q)
        v_bw = 2.0 * (af + df) * (p * q) - 4.0 * (af + 2.0 * df) * (
            (p * p) * (q * q)
        )
        if v_bw > 0:
            z_bw = (bw - e_bw) / math.sqrt(v_bw)
    spark = points.sparkSession
    rnd = lambda v: F.round(F.lit(v).cast("double"), 6)  # noqa: E731
    return spark.range(1).select(
        F.lit(n).alias("n_cells"),
        F.lit(nb).alias("n_black"),
        F.lit(a).alias("joins"),
        F.lit(bb).alias("bb"),
        F.lit(ww).alias("ww"),
        F.lit(bw).alias("bw"),
        rnd(z_bb).alias("z_bb_r6"),
        rnd(z_bw).alias("z_bw_r6"),
    )


def join_counts_oracle_sql(
    subq: str, zoom: int = 8, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin of :func:`join_counts`: same exact-integer marks,
    pair counts, and literally the same pinned scalar op order."""
    n_tiles = 1 << zoom
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in L.RING)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        "cstats AS (SELECT count(*) AS n, sum(cnt) AS sx FROM cells), "
        "marked AS (SELECT tx, ty, "
        "CASE WHEN cnt * n > sx THEN 1 ELSE 0 END AS blk "
        "FROM cells CROSS JOIN cstats), "
        "mstats AS (SELECT sum(blk) AS nb FROM marked), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, blk AS blk_j FROM marked CROSS JOIN offsets), "
        "pairs AS (SELECT m.tx, m.ty, m.blk AS blk_i, s.blk_j "
        "FROM marked m JOIN spread s ON m.tx = s.nx AND m.ty = s.ny), "
        "pstats AS (SELECT count(*) AS s0, "
        "coalesce(sum(blk_i * blk_j), 0) AS bb2, "
        "coalesce(sum((1 - blk_i) * (1 - blk_j)), 0) AS ww2, "
        "coalesce(sum(blk_i * (1 - blk_j) + (1 - blk_i) * blk_j), 0) "
        "AS bw2 FROM pairs), "
        "dstats AS (SELECT coalesce(sum(deg * deg), 0) AS sd2 "
        "FROM (SELECT count(*) AS deg FROM pairs GROUP BY tx, ty)), "
        "ints AS (SELECT n, nb, s0 // 2 AS a, bb2 // 2 AS bb, "
        "ww2 // 2 AS ww, bw2 // 2 AS bw, (sd2 - s0) // 2 AS d "
        "FROM cstats CROSS JOIN mstats CROSS JOIN pstats "
        "CROSS JOIN dstats), "
        "scal AS (SELECT *, CAST(nb AS DOUBLE) / n AS p, "
        "1.0 - (CAST(nb AS DOUBLE) / n) AS q, "
        "CAST(a AS DOUBLE) AS af, CAST(d AS DOUBLE) AS df, "
        "(n > 1 AND a > 0 AND nb > 0 AND nb < n) AS ok FROM ints), "
        "res AS (SELECT *, "
        "CASE WHEN ok THEN af * (p * p) END AS e_bb, "
        "CASE WHEN ok THEN af * (p * p) + 2.0 * df * (p * p * p) "
        "- (af + 2.0 * df) * (p * p * p * p) END AS v_bb, "
        "CASE WHEN ok THEN 2.0 * af * (p * q) END AS e_bw, "
        "CASE WHEN ok THEN 2.0 * (af + df) * (p * q) "
        "- 4.0 * (af + 2.0 * df) * ((p * p) * (q * q)) END AS v_bw "
        "FROM scal) "
        "SELECT n AS n_cells, nb AS n_black, a AS joins, bb, ww, bw, "
        "CASE WHEN v_bb > 0 THEN round((bb - e_bb) / sqrt(v_bb), 6) "
        "END AS z_bb_r6, "
        "CASE WHEN v_bw > 0 THEN round((bw - e_bw) / sqrt(v_bw), 6) "
        "END AS z_bw_r6 FROM res"
    )


def bivariate_morans_i(
    points: DataFrame,
    x_flag,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Bivariate (cross) Moran's I (Wartenberg 1985, "Multivariate
    Spatial Correlation"; the GeoDa bivariate-Moran convention) between
    two per-cell count variables: x = points where ``x_flag`` (a
    boolean Column) holds, y = the rest.  Answers "are high-x cells
    surrounded by high-y cells?" — e.g. do parked-vehicle
    concentrations neighbor moving-traffic concentrations.

    I_xy = (n/S0) · Σᵢⱼ wᵢⱼ(xᵢ-x̄)(yⱼ-ȳ) / sqrt(Σ(x-x̄)²·Σ(y-ȳ)²)
    over the same occupied-cell queen lattice as :func:`morans_i`;
    the cross-sum expands to Σxᵢyⱼ − ȳΣxᵢ − x̄Σyⱼ + S0·x̄ȳ so every
    distributed aggregate stays an exact BIGINT.  Inference for the
    bivariate statistic is conventionally permutation-based (no
    closed-form normality z), so the result row carries the statistic
    and its exact integer ingredients: (n_cells, s0, bi_moran_r6) —
    NULL when undefined (n < 2, no adjacent pair, zero variance in
    either variable)."""
    flag = F.when(x_flag, F.lit(1)).otherwise(F.lit(0))
    cells = L.occupied_cells(
        points, zoom, lat_col, lon_col,
        F.sum(flag).alias("cx"),
        F.sum(1 - flag).alias("cy"),
    )
    cx, cy, d, ncy = F.col("cx"), F.col("cy"), F.col("deg"), F.col("nsum_cy")
    n, sx, sxx, sy, syy, s0, sxy, spx, spy = _moments(
        L.neighbor_sums(cells, zoom, L.RING, ["cy"])
        .agg(
            F.count(F.lit(1)),
            F.sum(cx),
            F.sum(cx * cx),
            F.sum(cy),
            F.sum(cy * cy),
            F.sum(d),
            F.sum(cx * ncy),
            F.sum(d * cx),
            F.sum(ncy),
        )
        .first()
    )

    # pinned scalar op order — the oracle twin mirrors it literally
    bi = None
    if n > 1 and s0 > 0:
        xbar = sx / n
        ybar = sy / n
        mx2 = sxx - n * xbar * xbar
        my2 = syy - n * ybar * ybar
        if mx2 > 0 and my2 > 0:
            cross = sxy - ybar * spx - xbar * spy + s0 * (xbar * ybar)
            bi = (n / (s0 * 1.0)) * (cross / math.sqrt(mx2 * my2))
    spark = points.sparkSession
    rnd = lambda v: F.round(F.lit(v).cast("double"), 6)  # noqa: E731
    return spark.range(1).select(
        F.lit(n).alias("n_cells"),
        F.lit(s0).alias("s0"),
        rnd(bi).alias("bi_moran_r6"),
    )


def bivariate_morans_i_oracle_sql(
    subq: str,
    x_flag_sql: str,
    zoom: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB twin of :func:`bivariate_morans_i`."""
    n_tiles = 1 << zoom
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in L.RING)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"sum(CASE WHEN {x_flag_sql} THEN 1 ELSE 0 END) AS cx, "
        f"sum(CASE WHEN {x_flag_sql} THEN 0 ELSE 1 END) AS cy "
        f"FROM {subq} GROUP BY 1, 2), "
        "cstats AS (SELECT count(*) AS n, "
        "CAST(sum(cx) AS DOUBLE) AS sx, "
        "CAST(sum(cx * cx) AS DOUBLE) AS sxx, "
        "CAST(sum(cy) AS DOUBLE) AS sy, "
        "CAST(sum(cy * cy) AS DOUBLE) AS syy FROM cells), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, cy AS cy_j FROM cells CROSS JOIN offsets), "
        "pairs AS (SELECT c.cx AS cx_i, s.cy_j "
        "FROM cells c JOIN spread s ON c.tx = s.nx AND c.ty = s.ny), "
        "pstats AS (SELECT count(*) AS s0, "
        "CAST(coalesce(sum(cx_i * cy_j), 0) AS DOUBLE) AS sxy, "
        "CAST(coalesce(sum(cx_i), 0) AS DOUBLE) AS spx, "
        "CAST(coalesce(sum(cy_j), 0) AS DOUBLE) AS spy FROM pairs), "
        "scal AS (SELECT n, s0, sx / n AS xbar, sy / n AS ybar, "
        "sxx - n * (sx / n) * (sx / n) AS mx2, "
        "syy - n * (sy / n) * (sy / n) AS my2, sxy, spx, spy "
        "FROM cstats CROSS JOIN pstats) "
        "SELECT n AS n_cells, s0, "
        "CASE WHEN n > 1 AND s0 > 0 AND mx2 > 0 AND my2 > 0 THEN "
        "round((CAST(n AS DOUBLE) / (s0 * 1.0)) * "
        "((sxy - ybar * spx - xbar * spy + s0 * (xbar * ybar)) / "
        "sqrt(mx2 * my2)), 6) END AS bi_moran_r6 FROM scal"
    )


def location_quotient(
    points: DataFrame,
    x_flag,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-cell location quotient (Haig 1926; the regional-science
    concentration measure; Isserman 1977 for its inference caveats):
    LQ_i = (xᵢ/tᵢ) / (X/T) — how over- or under-represented the
    ``x_flag`` class is in cell i relative to its global share.
    LQ > 1: the class concentrates there (e.g. parked vehicles in a
    depot cell); LQ < 1: under-represented.

    One map-side-combinable aggregate (conditional sums — no second
    relation, no join); two driver scalars; the per-row statistic is
    (xᵢ/tᵢ)·(T/X) in pinned IEEE order — the ratio-of-ratios form, NOT
    (xᵢ·T)/(X·tᵢ), whose integer products overflow BIGINT at corpus
    scale.  Returns (tx, ty, cnt, x_cnt, lq_r6) per occupied cell —
    lq NULL when the class is globally empty."""
    flag = F.when(x_flag, F.lit(1)).otherwise(F.lit(0))
    cells = L.occupied_cells(
        points, zoom, lat_col, lon_col,
        F.count(F.lit(1)).alias("cnt"),
        F.sum(flag).alias("x_cnt"),
    )
    tot = cells.agg(F.sum("cnt"), F.sum("x_cnt")).first()
    t_all, x_all = int(tot[0] or 0), int(tot[1] or 0)
    ratio = (
        float(t_all) / x_all if x_all > 0 else None
    )  # T/X, one pinned division
    lq = (
        (F.col("x_cnt").cast("double") / F.col("cnt").cast("double"))
        * F.lit(ratio)
        if ratio is not None
        else F.lit(None).cast("double")
    )
    return cells.select(
        "tx", "ty", "cnt", "x_cnt", F.round(lq, 6).alias("lq_r6")
    )


def location_quotient_oracle_sql(
    subq: str,
    x_flag_sql: str,
    zoom: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB twin of :func:`location_quotient`."""
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        "count(*) AS cnt, "
        f"sum(CASE WHEN {x_flag_sql} THEN 1 ELSE 0 END) AS x_cnt "
        f"FROM {subq} GROUP BY 1, 2), "
        "tot AS (SELECT sum(cnt) AS t_all, sum(x_cnt) AS x_all "
        "FROM cells) "
        "SELECT tx, ty, cnt, x_cnt, "
        "CASE WHEN x_all > 0 THEN "
        "round((CAST(x_cnt AS DOUBLE) / CAST(cnt AS DOUBLE)) * "
        "(CAST(t_all AS DOUBLE) / x_all), 6) END AS lq_r6 "
        "FROM cells CROSS JOIN tot"
    )


def _count_histogram(cells: DataFrame) -> list[tuple[int, int]]:
    """(count, number of cells with that count) per distinct ``cnt`` of
    ``cells``, ascending — bounded by the number of DISTINCT counts
    (<= O(sqrt(Σ cnt))), so it collects to the driver."""
    return sorted(
        (int(r["cnt"]), int(r["m"]))
        for r in cells.groupBy("cnt").agg(F.count(F.lit(1)).alias("m")).collect()
    )


def spatial_gini(
    points: DataFrame,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Gini coefficient of point counts over occupied cells (Gini
    1912; the standard spatial-inequality summary over a density
    surface, cf. Tsai 2005 for urban-form concentration): 0 = every
    occupied cell holds the same count, →1 = all mass in one cell of
    many.

    Exactness: the statistic is a pure function of the grouped count
    histogram.  Cells collapse map-side; the (count-value,
    multiplicity) relation — bounded by the number of DISTINCT cell
    counts, ≤ O(√Σ) — collects to the driver (the IVF-centroid
    bounded-driver-relation pattern), where the pairwise-difference
    numerator Σᵢ<ⱼ mᵢmⱼ(cⱼ−cᵢ) folds in ONE exact-integer O(k) pass
    over the sorted histogram (mⱼ·(cⱼ·cumM − cumS) with running exact
    sums); because it is pure integer arithmetic, any exact evaluation
    order gives the identical numerator, so the twin's window-cumsum
    form needs no op-order pinning — only the single final IEEE
    division mirrors.  G = 2·num / (n·S) with NULLs when undefined
    (n < 2 or zero mass).

    Returns one row: (n_cells, sum_cnt, gini_r6)."""
    hist = _count_histogram(L.occupied_cells(points, zoom, lat_col, lon_col))
    n = sum(m for _, m in hist)
    s = sum(c * m for c, m in hist)
    num = cum_m = cum_s = 0
    for c, m in hist:
        num += m * (c * cum_m - cum_s)
        cum_m += m
        cum_s += m * c
    gini = None
    if n > 1 and s > 0:
        gini = (2.0 * num) / (float(n) * s)
    spark = points.sparkSession
    return spark.range(1).select(
        F.lit(n).alias("n_cells"),
        F.lit(s).alias("sum_cnt"),
        F.round(F.lit(gini).cast("double"), 6).alias("gini_r6"),
    )


def spatial_gini_oracle_sql(
    subq: str, zoom: int = 8, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin of :func:`spatial_gini`: the same exact-integer
    numerator via a window cumsum over the sorted histogram (integer
    arithmetic is order-insensitive), the same single pinned final
    division."""
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        "hist AS (SELECT cnt AS c, count(*) AS m FROM cells "
        "GROUP BY cnt), "
        "w AS (SELECT c, m, "
        "coalesce(sum(m) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING), 0) AS cum_m, "
        "coalesce(sum(m * c) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING), 0) AS cum_s FROM hist), "
        "agg AS (SELECT sum(m) AS n, sum(m * c) AS s, "
        "sum(m * (c * cum_m - cum_s)) AS num FROM w) "
        "SELECT n AS n_cells, s AS sum_cnt, "
        "CASE WHEN n > 1 AND s > 0 THEN "
        "round((2.0 * num) / (CAST(n AS DOUBLE) * s), 6) END "
        "AS gini_r6 FROM agg"
    )


def general_g(
    points: DataFrame,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Getis-Ord General G — global high/low clustering (Getis & Ord
    1992 eq. 8-12; the ArcGIS "High/Low Clustering" tool; z under
    randomization): G = Σᵢ≠ⱼwᵢⱼxᵢxⱼ / Σᵢ≠ⱼxᵢxⱼ over the occupied-cell
    queen lattice.  Completes the Getis-Ord family: Gi* locates hot
    cells, General G says whether HIGH values cluster study-area-wide
    (z > 0) or LOW values do (z < 0) — a sign Moran's I cannot give
    (I is symmetric in highs and lows).

    Same lattice machinery and exactness doctrine as
    :func:`morans_i`: every distributed aggregate (n, Σx..Σx⁴,
    S0 = ordered adjacent pairs, Σ adjacent xᵢxⱼ, Σdeg²) is an exact
    BIGINT from one driver aggregate; the driver combine converts each
    ingredient to double FIRST (the twin's CAST order) and evaluates
    the B-coefficient variance formula in one pinned order.  The
    transcription of E[G²]'s five B terms was validated against a
    200k-permutation Monte-Carlo on a 5x5 lattice (ratio 1.000006 —
    see tests/test_spatial_stats.py::TestGeneralG).

    Returns one row: (n_cells, s0, g_r9, e_g_r9, z_r6) — NULL when
    undefined (n < 4 for the randomization moments, no adjacent pair,
    or zero denominator/variance)."""
    cells = L.occupied_cells(points, zoom, lat_col, lon_col)
    c, d = F.col("cnt"), F.col("deg")
    n, m1, m2, m3, m4, s0, sp, sd2 = _moments(
        L.neighbor_sums(cells, zoom, L.RING, ["cnt"])
        .agg(
            F.count(F.lit(1)),
            F.sum(c),
            F.sum(c * c),
            F.sum(c * c * c),
            F.sum(c * c * c * c),
            F.sum(d),
            F.sum(c * F.col("nsum_cnt")),
            F.sum(d * d),
        )
        .first()
    )

    # double-FIRST conversions (the twin's CAST order), then one
    # pinned combine — m1^4 etc. would overflow/re-round otherwise
    g = e_g = z = None
    if n > 3 and s0 > 0:
        nf = float(n)
        w0 = float(s0)
        s1 = 2.0 * w0
        s2 = 4.0 * float(sd2)
        m1f, m2f, m3f, m4f = float(m1), float(m2), float(m3), float(m4)
        den = m1f * m1f - m2f
        if den > 0:
            g = float(sp) / den
            e_g = w0 / (nf * (nf - 1.0))
            b0 = (nf * nf - 3.0 * nf + 3.0) * s1 - nf * s2 + 3.0 * (
                w0 * w0
            )
            b1 = -((nf * nf - nf) * s1 - 2.0 * nf * s2 + 6.0 * (w0 * w0))
            b2 = -(2.0 * nf * s1 - (nf + 3.0) * s2 + 6.0 * (w0 * w0))
            b3 = 4.0 * (nf - 1.0) * s1 - 2.0 * (nf + 1.0) * s2 + 8.0 * (
                w0 * w0
            )
            b4 = s1 - s2 + w0 * w0
            eg2 = (
                b0 * (m2f * m2f)
                + b1 * m4f
                + b2 * ((m1f * m1f) * m2f)
                + b3 * (m1f * m3f)
                + b4 * (((m1f * m1f) * m1f) * m1f)
            ) / (
                (den * den)
                * (nf * (nf - 1.0) * (nf - 2.0) * (nf - 3.0))
            )
            var = eg2 - e_g * e_g
            if var > 0:
                z = (g - e_g) / math.sqrt(var)
    spark = points.sparkSession
    return spark.range(1).select(
        F.lit(n).alias("n_cells"),
        F.lit(s0).alias("s0"),
        F.round(F.lit(g).cast("double"), 9).alias("g_r9"),
        F.round(F.lit(e_g).cast("double"), 9).alias("e_g_r9"),
        F.round(F.lit(z).cast("double"), 6).alias("z_r6"),
    )


def general_g_oracle_sql(
    subq: str, zoom: int = 8, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin of :func:`general_g`: identical exact aggregates,
    identical double-first CASTs and pinned combine."""
    n_tiles = 1 << zoom
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in L.RING)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        "cstats AS (SELECT CAST(count(*) AS DOUBLE) AS nf, "
        "count(*) AS n_int, "
        "CAST(sum(cnt) AS DOUBLE) AS m1, "
        "CAST(sum(cnt * cnt) AS DOUBLE) AS m2, "
        "CAST(sum(cnt * cnt * cnt) AS DOUBLE) AS m3, "
        "CAST(sum(cnt * cnt * cnt * cnt) AS DOUBLE) AS m4 FROM cells), "
        f"offsets(dx, dy) AS (VALUES {offs}), "
        "spread AS (SELECT "
        f"((tx + dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "ty + dy AS ny, cnt AS cnt_j FROM cells CROSS JOIN offsets), "
        "pairs AS (SELECT c.tx, c.ty, c.cnt AS cnt_i, s.cnt_j "
        "FROM cells c JOIN spread s ON c.tx = s.nx AND c.ty = s.ny), "
        "pstats AS (SELECT count(*) AS s0_int, "
        "CAST(count(*) AS DOUBLE) AS w0, "
        "CAST(coalesce(sum(cnt_i * cnt_j), 0) AS DOUBLE) AS sp "
        "FROM pairs), "
        "dstats AS (SELECT CAST(coalesce(sum(deg * deg), 0) AS DOUBLE) "
        "AS sd2 FROM (SELECT count(*) AS deg FROM pairs "
        "GROUP BY tx, ty)), "
        "scal AS (SELECT n_int, nf, s0_int, w0, 2.0 * w0 AS s1, "
        "4.0 * sd2 AS s2, m1, m2, m3, m4, sp, "
        "m1 * m1 - m2 AS den "
        "FROM cstats CROSS JOIN pstats CROSS JOIN dstats), "
        "r AS (SELECT *, "
        "CASE WHEN n_int > 3 AND s0_int > 0 AND den > 0 THEN "
        "sp / den END AS g, "
        "CASE WHEN n_int > 3 AND s0_int > 0 AND den > 0 THEN "
        "w0 / (nf * (nf - 1.0)) END AS e_g, "
        "CASE WHEN n_int > 3 AND s0_int > 0 AND den > 0 THEN "
        "(((nf * nf - 3.0 * nf + 3.0) * s1 - nf * s2 + 3.0 * (w0 * w0)) "
        "* (m2 * m2) "
        "+ (-((nf * nf - nf) * s1 - 2.0 * nf * s2 + 6.0 * (w0 * w0))) "
        "* m4 "
        "+ (-(2.0 * nf * s1 - (nf + 3.0) * s2 + 6.0 * (w0 * w0))) "
        "* ((m1 * m1) * m2) "
        "+ (4.0 * (nf - 1.0) * s1 - 2.0 * (nf + 1.0) * s2 "
        "+ 8.0 * (w0 * w0)) * (m1 * m3) "
        "+ (s1 - s2 + w0 * w0) * (((m1 * m1) * m1) * m1)) / "
        "((den * den) * (nf * (nf - 1.0) * (nf - 2.0) * (nf - 3.0))) "
        "- (w0 / (nf * (nf - 1.0))) * (w0 / (nf * (nf - 1.0))) "
        "END AS var FROM scal) "
        "SELECT n_int AS n_cells, s0_int AS s0, "
        "round(g, 9) AS g_r9, round(e_g, 9) AS e_g_r9, "
        "CASE WHEN var > 0 THEN round((g - e_g) / sqrt(var), 6) END "
        "AS z_r6 FROM r"
    )


def spatial_entropy(
    points: DataFrame,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Shannon spatial entropy, evenness, and the Theil concentration
    index of point counts over occupied cells (Batty 1974 spatial
    entropy; Theil 1967) — the information-theoretic companions to
    :func:`spatial_gini` on the same surface: H near ln(n) = mass
    spread evenly over occupied cells, H near 0 = mass piled in one
    cell; Theil = ln(n) - H is the dual concentration reading.

    Exactness: like gini, the statistic is a pure function of the
    grouped count histogram (distinct count values, <= O(sqrt(S))
    rows), which collects to the driver.  With p_i = c_i / S,
    H = -sum p_i ln p_i = ln(S) - T / S where T = sum_hist m*(c*ln c).
    Each histogram term is quantized to an exact BIGINT in parts-per-
    1e9 with an explicit floor(x * 1e9 + 0.5) (identical in DuckDB, so
    no round-mode mismatch and no float ever sums in either engine —
    integer addition is order-free); Python's math.log and DuckDB's
    ln() resolve to the same system libm in-container, so the
    quantized terms are bit-identical.  The three final scalars
    combine in a pinned IEEE order the twin mirrors literally.

    Returns one row: (n_cells, sum_cnt, entropy_r6, evenness_r6,
    theil_r6); evenness NULL when n < 2 (ln n = 0), all NULL when no
    mass."""
    hist = _count_histogram(L.occupied_cells(points, zoom, lat_col, lon_col))
    n = sum(m for _, m in hist)
    s = sum(c * m for c, m in hist)
    t_q = 0
    for c, m in hist:
        # exact-integer accumulation of m * (c * ln c) in ppb units;
        # floor(x + 0.5) == DuckDB round() for the nonnegative terms
        t_q += int(math.floor(m * (c * math.log(c)) * 1e9 + 0.5))
    entropy = evenness = theil = None
    if n >= 1 and s > 0:
        entropy = math.log(s) - (t_q / 1e9) / s
        theil = math.log(n) - entropy
        if n >= 2:
            evenness = entropy / math.log(n)
    spark = points.sparkSession
    rnd = lambda v: F.round(F.lit(v).cast("double"), 6)  # noqa: E731
    return spark.range(1).select(
        F.lit(n).alias("n_cells"),
        F.lit(s).alias("sum_cnt"),
        rnd(entropy).alias("entropy_r6"),
        rnd(evenness).alias("evenness_r6"),
        rnd(theil).alias("theil_r6"),
    )


def spatial_entropy_oracle_sql(
    subq: str, zoom: int = 8, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin of :func:`spatial_entropy`: same histogram, same
    floor-quantized BIGINT term sum (order-free), same pinned scalar
    order and final rounding."""
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2), "
        "hist AS (SELECT cnt AS c, count(*) AS m FROM cells "
        "GROUP BY cnt), "
        "agg AS (SELECT coalesce(sum(m), 0) AS n, "
        "coalesce(sum(m * c), 0) AS s, "
        "coalesce(sum(CAST(floor(m * (c * ln(c)) * 1e9 + 0.5) "
        "AS BIGINT)), 0) AS t_q FROM hist), "
        "res AS (SELECT n, s, "
        "CASE WHEN n >= 1 AND s > 0 THEN "
        "ln(s) - (CAST(t_q AS DOUBLE) / 1e9) / s END AS h FROM agg) "
        "SELECT n AS n_cells, s AS sum_cnt, "
        "round(h, 6) AS entropy_r6, "
        "CASE WHEN n >= 2 THEN round(h / ln(n), 6) END AS evenness_r6, "
        "CASE WHEN n >= 1 AND s > 0 THEN round(ln(n) - h, 6) END "
        "AS theil_r6 FROM res"
    )


def head_tail_breaks(
    points: DataFrame,
    zoom: int = 8,
    max_depth: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Head/tail-breaks classification of cell counts (Jiang 2013,
    "Head/tail breaks: a new classification scheme for data with a
    heavy-tailed distribution") — the principled heatmap-binning rule
    for power-law-ish density surfaces the equal-interval/quantile
    breaks botch: split at the mean, recurse on the head while it
    stays a minority (< 40%), class = how many successive heads a
    cell belongs to.

    Exactness: the thresholds are MEANS of nested subsets — rationals
    (S_l, N_l) computed from the grouped count histogram (the gini
    bounded-driver-relation), and every comparison "cnt > mean_l"
    evaluates as the exact integer cross-product cnt * N_l > S_l, so
    no division ever happens and both engines agree bit-for-bit.
    Head sets are nested (a subset's mean exceeds its superset's), so
    the class is a simple sum of threshold exceedances.  The driver
    loop runs at most ``max_depth`` levels (heavy-tailed data rarely
    sustains more than ~6 — Jiang's ht-index); the DuckDB twin
    unrolls the same fixed depth with the same integer split/stop
    rules.

    Returns one row per occupied cell: (tx, ty, cnt, ht_class) with
    ht_class in [0, depth]; higher = deeper into the head (hotter)."""
    cells = L.occupied_cells(points, zoom, lat_col, lon_col).localCheckpoint()
    hist = _count_histogram(cells)
    thresholds: list[tuple[int, int]] = []  # (S_l, N_l) per split level
    sub = hist
    for _ in range(int(max_depth)):
        n_l = sum(m for _, m in sub)
        s_l = sum(c * m for c, m in sub)
        if n_l == 0:
            break
        head = [(c, m) for c, m in sub if c * n_l > s_l]
        head_n = sum(m for _, m in head)
        if head_n == 0:
            break
        thresholds.append((s_l, n_l))
        # Jiang's minority rule: recurse only while the head stays
        # under 40% of the current subset
        if head_n * 10 >= n_l * 4:
            break
        sub = head
    cls = F.lit(0)
    for s_l, n_l in thresholds:
        cls = cls + F.when(
            F.col("cnt") * F.lit(n_l) > F.lit(s_l), F.lit(1)
        ).otherwise(F.lit(0))
    return cells.select(
        "tx", "ty", "cnt", cls.cast("int").alias("ht_class")
    )


def head_tail_breaks_oracle_sql(
    subq: str,
    zoom: int = 8,
    max_depth: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB twin of :func:`head_tail_breaks`: the same fixed-depth
    unroll as chained scalar CTEs — level l's (S, N) aggregates over
    cells surviving every previous integer cross-product threshold,
    an ``act`` flag carrying the same head-exists / minority stop
    rule, and the class as the sum of active exceedances."""
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    parts = [
        f"cells AS MATERIALIZED (SELECT {tx} AS tx, {ty} AS ty, "
        f"count(*) AS cnt FROM {subq} GROUP BY 1, 2)",
        # level 0 is always active over all cells
        "l0 AS MATERIALIZED (SELECT coalesce(sum(cnt), 0) AS s, count(*) AS n, "
        "TRUE AS act FROM cells)",
        "h0 AS MATERIALIZED (SELECT coalesce(sum(CASE WHEN cnt * (SELECT n FROM l0) "
        "> (SELECT s FROM l0) THEN 1 ELSE 0 END), 0) AS head_n "
        "FROM cells)",
    ]
    for i in range(1, int(max_depth)):
        prev_filters = " AND ".join(
            f"cnt * (SELECT n FROM l{j}) > (SELECT s FROM l{j})"
            for j in range(i)
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT coalesce(sum(cnt), 0) AS s, "
            "count(*) AS n, "
            f"(SELECT act FROM l{i - 1}) AND "
            f"(SELECT head_n FROM h{i - 1}) > 0 AND "
            f"(SELECT head_n FROM h{i - 1}) * 10 < "
            f"(SELECT n FROM l{i - 1}) * 4 AS act "
            f"FROM cells WHERE {prev_filters})"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT coalesce(sum(CASE WHEN "
            f"cnt * (SELECT n FROM l{i}) > (SELECT s FROM l{i}) "
            "THEN 1 ELSE 0 END), 0) AS head_n FROM cells "
            f"WHERE {prev_filters})"
        )
    cls = " + ".join(
        f"CASE WHEN (SELECT act FROM l{i}) AND "
        f"(SELECT head_n FROM h{i}) > 0 AND "
        f"cnt * (SELECT n FROM l{i}) > (SELECT s FROM l{i}) "
        "THEN 1 ELSE 0 END"
        for i in range(int(max_depth))
    )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT tx, ty, cnt, CAST({cls} AS INT) AS ht_class "
        "FROM cells"
    )


def segregation_indices(
    points: DataFrame,
    x_flag,
    zoom: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Two-group spatial segregation indices over the occupied cell
    lattice (Duncan & Duncan 1955; Massey & Denton 1988's "evenness"
    and "exposure" dimensions): group A = points where ``x_flag``
    holds, group B = the rest.

    - dissimilarity D = 1/2 * sum_i |a_i/A - b_i/B| — the share of
      either group that would need to relocate for an even spread.
      Computed as the EXACT integer sum |a_i*B - b_i*A| over cells,
      then ONE pinned division by (2*A*B); the numerator is bounded
      by 2AB, so it fits BIGINT whenever A*B does (validated).
    - interaction P_AB = sum_i (a_i/A)*(b_i/t_i) — the probability a
      random A member shares its cell with a B member; isolation
      P_AA likewise with A itself.  The per-cell share a_i/t_i
      quantizes to ppm by exact integer division (a_i*1e6) // t_i
      (identical in DuckDB), making the index a defined quantized
      estimator whose sums are order-free BIGINTs; each final value
      is the pinned (q / 1e6) / A chain.

    Returns one row: (n_cells, a_total, b_total, dissim_r6,
    interaction_r6, isolation_r6); indices NULL when either group is
    empty."""
    flag = F.when(x_flag, F.lit(1)).otherwise(F.lit(0))
    cells = L.occupied_cells(
        points, zoom, lat_col, lon_col,
        F.sum(flag).alias("ca"),
        F.sum(1 - flag).alias("cb"),
    )
    tot = cells.agg(
        F.count(F.lit(1)), F.sum("ca"), F.sum("cb")
    ).first()
    n, a_tot, b_tot = int(tot[0]), int(tot[1] or 0), int(tot[2] or 0)
    if a_tot > 0 and b_tot > 0 and 2 * a_tot * b_tot >= 2**63:
        raise ValueError(
            "segregation_indices overflow: 2 * A * B must stay below "
            f"2^63 (A={a_tot}, B={b_tot}); bin at a coarser zoom or "
            "shard the input"
        )
    srow = cells.agg(
        F.sum(
            F.abs(F.col("ca") * F.lit(b_tot) - F.col("cb") * F.lit(a_tot))
        ),
        F.sum(
            F.expr("(ca * 1000000) div (ca + cb)") * F.col("cb")
        ),
        F.sum(
            F.expr("(ca * 1000000) div (ca + cb)") * F.col("ca")
        ),
    ).first()
    dnum = int(srow[0] or 0)
    inter_q = int(srow[1] or 0)
    isol_q = int(srow[2] or 0)
    dissim = interaction = isolation = None
    if a_tot > 0 and b_tot > 0:
        # pinned scalar op order, mirrored literally by the twin
        dissim = dnum / (2.0 * a_tot * b_tot)
        interaction = (inter_q / 1e6) / a_tot
        isolation = (isol_q / 1e6) / a_tot
    spark = points.sparkSession
    rnd = lambda v: F.round(F.lit(v).cast("double"), 6)  # noqa: E731
    return spark.range(1).select(
        F.lit(n).alias("n_cells"),
        F.lit(a_tot).alias("a_total"),
        F.lit(b_tot).alias("b_total"),
        rnd(dissim).alias("dissim_r6"),
        rnd(interaction).alias("interaction_r6"),
        rnd(isolation).alias("isolation_r6"),
    )


def segregation_indices_oracle_sql(
    subq: str,
    x_flag_sql: str,
    zoom: int = 8,
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB twin of :func:`segregation_indices`: same cell
    collapse, same exact integer dissimilarity numerator and ppm
    share divisions, same pinned final chains."""
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    return (
        f"WITH cells AS (SELECT {tx} AS tx, {ty} AS ty, "
        f"sum(CASE WHEN {x_flag_sql} THEN 1 ELSE 0 END) AS ca, "
        f"sum(CASE WHEN {x_flag_sql} THEN 0 ELSE 1 END) AS cb "
        f"FROM {subq} GROUP BY 1, 2), "
        "tot AS (SELECT count(*) AS n, coalesce(sum(ca), 0) AS a_tot, "
        "coalesce(sum(cb), 0) AS b_tot FROM cells), "
        "agg AS (SELECT "
        "coalesce(sum(abs(ca * (SELECT b_tot FROM tot) "
        "- cb * (SELECT a_tot FROM tot))), 0) AS dnum, "
        "coalesce(sum(((ca * 1000000) // (ca + cb)) * cb), 0) "
        "AS inter_q, "
        "coalesce(sum(((ca * 1000000) // (ca + cb)) * ca), 0) "
        "AS isol_q FROM cells) "
        "SELECT n AS n_cells, a_tot AS a_total, b_tot AS b_total, "
        "CASE WHEN a_tot > 0 AND b_tot > 0 THEN "
        "round(dnum / (2.0 * a_tot * b_tot), 6) END AS dissim_r6, "
        "CASE WHEN a_tot > 0 AND b_tot > 0 THEN "
        "round((inter_q / 1e6) / a_tot, 6) END AS interaction_r6, "
        "CASE WHEN a_tot > 0 AND b_tot > 0 THEN "
        "round((isol_q / 1e6) / a_tot, 6) END AS isolation_r6 "
        "FROM tot CROSS JOIN agg"
    )


def median_center(
    points: DataFrame,
    iters: int = 10,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Median center (center of minimum travel distance) by the
    Weiszfeld algorithm (Weiszfeld 1937; the ArcGIS "Median Center"
    centrography tool) — the robust companion to the mean-center /
    deviational-ellipse pair: the point minimizing the SUM of
    distances to all fixes, far less outlier-sensitive than the mean.

    Runs a FIXED ``iters`` Weiszfeld rounds (determinism contract: a
    pure function of the input) on integer MICRODEGREE planar
    coordinates — the planar simplification is standard for
    city-to-country extents where the tool is used.  Exactness per
    round: distances to the current center are BIGINT-exact
    floor(sqrt(dx^2 + dy^2) + 0.5) (the sqrt of an exact BIGINT cast
    to double is correctly rounded in both engines), weights are the
    exact integer divisions 1e9 // d (zero-distance fixes are skipped
    — the standard Weiszfeld guard), and the weighted coordinate sums
    accumulate as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact
    and order-free far past int64.  The next center is the pair of
    exact floor divisions sum(w*x) // sum(w); the DuckDB twin unrolls
    the identical rounds as chained scalar CTEs.

    Returns one row: (n, iters, cx_micro, cy_micro, med_lat_r6,
    med_lon_r6); NULL center when the input is empty.  Note the
    planar form is undefined across the antimeridian seam — shift
    longitudes upstream for Pacific-spanning inputs."""
    ux = F.round(F.col(lon_col) * F.lit(1e6)).cast("long")
    uy = F.round(F.col(lat_col) * F.lit(1e6)).cast("long")
    keyed = points.where(
        F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull()
    ).select(ux.alias("_x"), uy.alias("_y")).localCheckpoint()
    row = keyed.agg(
        F.count(F.lit(1)), F.sum("_x"), F.sum("_y")
    ).first()
    n = int(row[0])
    spark = points.sparkSession
    if n == 0:
        return spark.range(1).select(
            F.lit(0).alias("n"),
            F.lit(int(iters)).alias("iters"),
            F.lit(None).cast("long").alias("cx_micro"),
            F.lit(None).cast("long").alias("cy_micro"),
            F.lit(None).cast("double").alias("med_lat_r6"),
            F.lit(None).cast("double").alias("med_lon_r6"),
        )
    cx = int(row[1]) // n  # floor-mean init, exact in both engines
    cy = int(row[2]) // n
    dec = "decimal(38,0)"
    for _ in range(int(iters)):
        dx = F.col("_x") - F.lit(cx)
        dy = F.col("_y") - F.lit(cy)
        d = F.floor(
            F.sqrt((dx * dx + dy * dy).cast("double")) + F.lit(0.5)
        ).cast("long")
        it = keyed.where(d > 0).select(
            d.alias("_d"), F.col("_x"), F.col("_y")
        ).select(
            F.expr("1000000000 div _d").alias("_w"), "_x", "_y"
        )
        srow = it.agg(
            F.sum(F.col("_w").cast(dec)),
            F.sum((F.col("_w") * F.col("_x")).cast(dec)),
            F.sum((F.col("_w") * F.col("_y")).cast(dec)),
        ).first()
        sw = int(srow[0] or 0)
        if sw == 0:
            break  # every fix sits on the center already
        cx = int(srow[1]) // sw
        cy = int(srow[2]) // sw
    return spark.range(1).select(
        F.lit(n).alias("n"),
        F.lit(int(iters)).alias("iters"),
        F.lit(cx).alias("cx_micro"),
        F.lit(cy).alias("cy_micro"),
        F.round(F.lit(cy) / F.lit(1e6), 6).alias("med_lat_r6"),
        F.round(F.lit(cx) / F.lit(1e6), 6).alias("med_lon_r6"),
    )


def median_center_oracle_sql(
    subq: str, iters: int = 10, lat: str = "lat", lon: str = "lon"
) -> str:
    """DuckDB twin of :func:`median_center`: identical fixed-round
    Weiszfeld unroll as chained scalar CTEs — same floor-mean init,
    same floor(sqrt + 0.5) distances, same 1e9 // d weights with the
    zero-distance guard, HUGEINT sums and floor divisions."""
    parts = [
        f"keyed AS MATERIALIZED (SELECT "
        f"CAST(round(({lon}) * 1e6) AS BIGINT) AS x, "
        f"CAST(round(({lat}) * 1e6) AS BIGINT) AS y FROM {subq} "
        f"WHERE {lat} IS NOT NULL AND {lon} IS NOT NULL)",
        "c0 AS MATERIALIZED (SELECT count(*) AS n, "
        "CASE WHEN count(*) > 0 THEN sum(x) // count(*) END AS cx, "
        "CASE WHEN count(*) > 0 THEN sum(y) // count(*) END AS cy "
        "FROM keyed)",
    ]
    for i in range(int(iters)):
        d = (
            "CAST(floor(sqrt(CAST((x - (SELECT cx FROM c{p})) * "
            "(x - (SELECT cx FROM c{p})) + "
            "(y - (SELECT cy FROM c{p})) * "
            "(y - (SELECT cy FROM c{p})) AS DOUBLE)) + 0.5) AS BIGINT)"
        ).format(p=i)
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT 1000000000 // {d} AS w, x, y "
            f"FROM keyed WHERE {d} > 0)"
        )
        parts.append(
            f"c{i + 1} AS MATERIALIZED (SELECT (SELECT n FROM c{i}) AS n, "
            f"CASE WHEN coalesce(sum(w), 0) > 0 THEN "
            f"CAST(sum(w * x) // sum(w) AS BIGINT) "
            f"ELSE (SELECT cx FROM c{i}) END AS cx, "
            f"CASE WHEN coalesce(sum(w), 0) > 0 THEN "
            f"CAST(sum(w * y) // sum(w) AS BIGINT) "
            f"ELSE (SELECT cy FROM c{i}) END AS cy FROM w{i})"
        )
    k = int(iters)
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT n, {k} AS iters, cx AS cx_micro, cy AS cy_micro, "
        "round(cy / 1e6, 6) AS med_lat_r6, "
        "round(cx / 1e6, 6) AS med_lon_r6 "
        f"FROM c{k}"
    )

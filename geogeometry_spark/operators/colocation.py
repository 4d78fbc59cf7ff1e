"""Spatiotemporal co-location join: which entity PAIRS were within
``eps_m`` meters of each other within ``tau_s`` seconds — the
contact/proximity analysis a fleet or mobility corpus runs at scale
(meet detection, exposure tracing, convoy mining's first stage).

This is a different join family from the spatial-only ones
(pip/radius/knn/overlay): the predicate is a conjunction of a geodesic
ball and a time interval, so the bucketing must be spatiotemporal.

Scale design — the standard grid method lifted to (time, cell):

1. every fix gets a composite bucket (time bucket of ``tau_s``
   seconds, WebMercator tile at a zoom whose ground size >= ``eps_m``
   up to ``max_abs_lat`` — reusing the DBSCAN zoom rule);
2. the probe side explodes over 14 of the 27 adjacent (time, cell)
   addresses (identity + the 13 lexicographically positive directions
   — forward-offset halving, see _OFFS) — a bounded 14x blowup of fix
   rows, never all-pairs; a qualifying fix pair matches exactly ONE
   offset (its componentwise address difference, probed from one
   side), so no dedup pass is needed;
3. one equi-join on (tbkt, tx, ty) + the exact |dt| <= tau and
   haversine <= eps filters;
4. contact events aggregate per unordered user pair (user_a < user_b)
   into count + first/last contact time.

Shuffle volume is candidate-bounded: 14x fixes on the probe side
against fixes on the build side, co-partitioned by the composite
bucket.  Hot cells (a stadium) fan out by their own density — the
same skew story as every cell join here, AQE-splittable because the
join is a plain hash equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import math

from ..functions import columns as C
from .cluster import _EARTH_CIRCUMFERENCE_M, dbscan_zoom_for_eps

__all__ = [
    "colocation_join",
    "colocation_join_oracle_sql",
    "convoy_groups",
    "convoy_groups_oracle_sql",
    "knox_test",
    "knox_test_oracle_sql",
]

# forward-offset halving (the grid_dbscan trick in 3 dimensions): the
# identity offset (deduped by user order) plus the 13 lexicographically
# positive directions — one of {v, -v} for each of the 26 non-zero
# address deltas — so each unordered (time, cell) address pair is
# probed from exactly one side: 14/27 of the naive spread.  Pair order
# is normalized AFTER the match (least/greatest), so the contact rollup
# is unchanged.
_OFFS = [(0, 0, 0)] + [
    (dt, dx, dy)
    for dt in (-1, 0, 1)
    for dx in (-1, 0, 1)
    for dy in (-1, 0, 1)
    if (dt, dx, dy) > (0, 0, 0)
]


def colocation_join(
    points: DataFrame,
    eps_m: float = 5000.0,
    tau_s: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts_sec",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
    zoom: int | None = None,
) -> DataFrame:
    """Contact summary per unordered entity pair: (user_a, user_b,
    n_contacts, first_s, last_s) where a contact is a fix pair with
    geodesic distance <= ``eps_m`` AND |t_a - t_b| <= ``tau_s``.
    Self-pairs are excluded; each contact event counts once
    (user_a < user_b)."""
    if zoom is None:
        zoom = dbscan_zoom_for_eps(eps_m, max_abs_lat)
    else:
        cell_m = (
            _EARTH_CIRCUMFERENCE_M
            * math.cos(math.radians(max_abs_lat))
            / float(1 << zoom)
        )
        if cell_m < eps_m:
            raise ValueError(
                f"zoom {zoom} has {cell_m:.1f} m cells at lat "
                f"{max_abs_lat}, smaller than eps {eps_m} m: eps-pairs "
                "could skip past the adjacent-cell probe. Use a coarser "
                "zoom."
            )
    if zoom < 2:
        # n_tiles <= 2 makes +1 and -1 x-offsets congruent mod n, so a
        # pair would match TWO forward offsets and double-count; an eps
        # that big (>= ~10,000 km) has no gridded formulation at all.
        raise ValueError(
            f"eps {eps_m} m needs zoom {zoom} (< 2): planetary-scale "
            "contact radii degenerate to all-pairs; reduce eps."
        )
    n_tiles = 1 << zoom

    x, y = C.tile_xy(F.col(lat_col), F.col(lon_col), zoom)
    keyed = points.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_t"),
        F.col(lat_col).alias("_la"),
        F.col(lon_col).alias("_lo"),
        F.floor(F.col(ts_col) / F.lit(tau_s)).alias("_tb"),
        x.alias("_tx"),
        y.alias("_ty"),
    )
    offs = F.array(
        *[
            F.struct(
                F.lit(dt).alias("dt"),
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(dt == 0 and dx == 0 and dy == 0).alias("same"),
            )
            for dt, dx, dy in _OFFS
        ]
    )
    probe = keyed.withColumn("_o", F.explode(offs)).select(
        F.col("_u").alias("_ua"),
        F.col("_t").alias("_ta"),
        F.col("_la").alias("_laa"),
        F.col("_lo").alias("_loa"),
        F.col("_o.same").alias("_same"),
        (F.col("_tb") + F.col("_o.dt")).alias("_tb"),
        F.pmod(F.col("_tx") + F.col("_o.dx"), F.lit(n_tiles)).alias("_nx"),
        (F.col("_ty") + F.col("_o.dy")).alias("_ny"),
    )
    build = keyed.select(
        F.col("_u").alias("_ub"),
        F.col("_t").alias("_tb2"),
        F.col("_la").alias("_lab"),
        F.col("_lo").alias("_lob"),
        "_tb",
        F.col("_tx").alias("_nx"),
        F.col("_ty").alias("_ny"),
    )
    dist = C.haversine(
        F.col("_laa"), F.col("_loa"), F.col("_lab"), F.col("_lob")
    )
    dt_ok = F.abs(F.col("_ta") - F.col("_tb2")) <= F.lit(tau_s)
    pair_ok = F.when(F.col("_same"), F.col("_ua") < F.col("_ub")).otherwise(
        F.col("_ua") != F.col("_ub")
    )
    contacts = (
        probe.join(build, ["_tb", "_nx", "_ny"])
        .where(pair_ok & dt_ok & (dist <= F.lit(float(eps_m))))
        .select(
            F.least(F.col("_ua"), F.col("_ub")).alias("user_a"),
            F.greatest(F.col("_ua"), F.col("_ub")).alias("user_b"),
            F.least(F.col("_ta"), F.col("_tb2")).alias("_cs"),
        )
    )
    return contacts.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_contacts"),
        F.min("_cs").alias("first_s"),
        F.max("_cs").alias("last_s"),
    )


def colocation_join_oracle_sql(
    subq: str,
    eps_m: float = 5000.0,
    tau_s: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts_sec",
    lat: str = "lat",
    lon: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
    zoom: int | None = None,
) -> str:
    """DuckDB twin.  The oracle skips the SPATIAL bucketing (locality
    machinery, not semantics) but keeps a time-bucket equi-join — a
    bare inequality self-join is a full nested loop that cannot finish
    at sf0.1; bucketing by ``tau_s`` with the 3 adjacent offsets is
    exact (|dt| <= tau implies bucket difference in {-1,0,1}; a pair
    matches exactly one offset = its bucket difference).  The
    unordered-pair convention and least() contact timestamp mirror the
    operator exactly."""
    hav = C.haversine_sql(
        f"a.{lat}", f"a.{lon}", f"b.{lat}", f"b.{lon}"
    )
    return (
        "WITH _coloc_fx AS (SELECT *, "
        f"CAST(floor(({ts_col}) / {tau_s}) AS BIGINT) AS tb FROM {subq}) "
        f"SELECT a.{user_col} AS user_a, b.{user_col} AS user_b, "
        f"count(*) AS n_contacts, "
        f"min(least(a.{ts_col}, b.{ts_col})) AS first_s, "
        f"max(least(a.{ts_col}, b.{ts_col})) AS last_s "
        "FROM (SELECT f.*, f.tb + o.dt AS tbp FROM _coloc_fx f "
        "CROSS JOIN (VALUES (-1), (0), (1)) o(dt)) a "
        "JOIN _coloc_fx b ON a.tbp = b.tb "
        f"AND a.{user_col} < b.{user_col} "
        f"AND abs(a.{ts_col} - b.{ts_col}) <= {tau_s} "
        f"AND ({hav}) <= {float(eps_m)!r} "
        "GROUP BY 1, 2"
    )


def convoy_groups(
    points: DataFrame,
    eps_m: float = 5000.0,
    tau_s: int = 3600,
    min_contacts: int = 3,
    **kwargs,
) -> DataFrame:
    """Convoy/flock mining, first stage: entities that repeatedly
    travel together form groups.  Composition of the engine's own
    operators — the same end-to-end doctrine as pipeline_near_dup:

    1. :func:`colocation_join` -> contact summary per pair;
    2. keep pairs with >= ``min_contacts`` contact events (one or two
       co-occurrences is coincidence; repetition is the convoy signal);
    3. distributed connected components closes the chain (a-b and b-c
       traveling together puts a, b, c in ONE convoy);
    4. every user appearing in >= 1 qualifying pair gets its convoy id
       (MIN user id in the component) — solo users are not emitted
       (they are the complement, and emitting all users would need a
       full user relation this operator does not take).

    Returns (user_id, convoy_id)."""
    from .dedup import connected_components

    contacts = colocation_join(points, eps_m, tau_s, **kwargs)
    edges = contacts.where(
        F.col("n_contacts") >= F.lit(min_contacts)
    ).select(F.col("user_a").alias("id_a"), F.col("user_b").alias("id_b"))
    comp = connected_components(edges)
    return comp.select(
        F.col("node").alias("user_id"), F.col("component").alias("convoy_id")
    )


def convoy_groups_oracle_sql(
    subq: str,
    eps_m: float = 5000.0,
    tau_s: int = 3600,
    min_contacts: int = 3,
    **kwargs,
) -> str:
    """Recursive-CTE twin: transitive closure over the min-contact
    pair graph, min-reachable-node labels (the fixed point the
    large-star/small-star rounds converge to)."""
    pairs = colocation_join_oracle_sql(subq, eps_m, tau_s, **kwargs)
    return (
        f"WITH RECURSIVE cpairs AS MATERIALIZED (SELECT user_a, user_b FROM ({pairs}) "
        f"WHERE n_contacts >= {min_contacts}), "
        "cedges AS MATERIALIZED (SELECT user_a AS u, user_b AS v FROM cpairs "
        "UNION SELECT user_b, user_a FROM cpairs), "
        "creach(u, v) AS (SELECT u, v FROM cedges "
        "UNION SELECT r.u, e.v FROM creach r JOIN cedges e ON r.v = e.u) "
        "SELECT u AS user_id, least(u, min(v)) AS convoy_id "
        "FROM creach GROUP BY u"
    )


def knox_test(
    points: DataFrame,
    delta_m: float = 1000.0,
    tau_s: int = 21600,
    id_col: str = "event_id",
    ts_col: str = "ts_sec",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> DataFrame:
    """Knox space-time interaction test (Knox 1964, "The detection of
    space-time interactions"; Poisson z per David & Barton 1966) —
    the classic epidemiology / incident-analysis question: are events
    close in SPACE also close in TIME more often than chance
    (contagion, outbreaks, aftershock-like clustering)?

    X = #unordered pairs within ``delta_m`` meters AND ``tau_s``
    seconds; under independence E[X] = Ns·Nt / N with Ns = space-close
    pairs, Nt = time-close pairs, N = n(n−1)/2, and the Poisson
    approximation gives z = (X − E)/√E.

    All four counts are exact BIGINTs from three bounded plans:

    - X rides the colocation composite (τ-bucket, δ-tile) forward
      join — a pair is counted from exactly one side;
    - Ns rides the spatial 9-address forward join at the DBSCAN zoom
      rule — candidate-bounded by cell density, never all-pairs;
    - Nt needs no pair join at all: pairs collapse onto the DISTINCT-
      TIMESTAMP histogram (bounded by the time span in seconds, NOT by
      corpus rows), and one range-window (1..τ FOLLOWING) over that
      tiny ordered relation sums forward co-counts — the global window
      runs over the histogram only (allowlist: the nearest_facility
      doctrine), and integer sums need no order pinning.

    Scale design (the ripley_k doctrine): coincident events — identical
    1-microdegree position AND identical timestamp, the shape repeated
    sensor pings take — collapse to ONE representative with a
    multiplicity m before any pair join, so a hot clique of m duplicates
    costs one candidate row instead of m² in Ns and X.  Cross-rep pairs
    weight m_a·m_b; within-rep pairs contribute m(m−1)/2 at Δd = 0,
    Δt = 0 (inside every δ/τ), all exact BIGINTs.  Distances evaluate on
    the microdegree rep position (≤ ~0.11 m grain, the published
    collapse tolerance); the twin quantizes identically.

    Returns one row: (n_pts, x_st, ns, nt, e_x_r6, z_r6) — z NULL
    when degenerate (n < 2 or E = 0)."""
    from pyspark.sql import Window

    from .cluster import dbscan_zoom_for_eps

    zoom = dbscan_zoom_for_eps(delta_m, max_abs_lat)
    n_tiles = 1 << zoom

    ula = F.round(F.col(lat_col) * F.lit(1e6)).cast("long")
    ulo = F.round(F.col(lon_col) * F.lit(1e6)).cast("long")
    pts = points.where(
        F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        F.col(ts_col).alias("_ts"),
        ula.alias("_ula"),
        ulo.alias("_ulo"),
    )
    # hot-clique collapse: one rep per (µlat, µlon, ts) with count
    reps = pts.groupBy("_ula", "_ulo", "_ts").agg(
        F.min("_id").alias("_pos"), F.count(F.lit(1)).alias("_m")
    )
    rlat = F.col("_ula").cast("double") / F.lit(1e6)
    rlon = F.col("_ulo").cast("double") / F.lit(1e6)
    reps = reps.select(
        "_pos", "_m", "_ts",
        rlat.alias("_lat"), rlon.alias("_lon"),
    ).localCheckpoint()
    srow = reps.agg(
        F.sum("_m"),
        F.sum(C.unordered_pairs(F.col("_m"))),
    ).first()
    n = int(srow[0] or 0)
    self_pairs = int(srow[1] or 0)

    # ---- Nt: distinct-timestamp histogram + forward range window
    hist = reps.groupBy("_ts").agg(F.sum("_m").alias("_c"))
    wt = (
        Window.orderBy("_ts").rangeBetween(1, int(tau_s))
    )
    nt_row = hist.select(
        F.col("_c"),
        F.coalesce(F.sum("_c").over(wt), F.lit(0)).alias("_fwd"),
    ).agg(
        F.sum(F.col("_c") * F.col("_fwd")),
        F.sum(F.col("_c") * (F.col("_c") - 1)),
    ).first()
    nt = int(nt_row[0] or 0) + int(nt_row[1] or 0) // 2

    # ---- Ns: spatial forward 5-address join (grid_dbscan halving)
    # over REPS, pair weight m_a*m_b
    tx, ty = C.tile_xy(F.col("_lat"), F.col("_lon"), zoom)
    keyed = reps.withColumns({"_tx": tx, "_ty": ty})
    s_offs = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(dx == 0 and dy == 0).alias("same"),
            )
            for dx, dy in ((0, 0), (1, 0), (1, 1), (0, 1), (-1, 1))
        ]
    )
    probe_s = keyed.withColumn("_o", F.explode(s_offs)).select(
        F.col("_pos").alias("_pa"),
        F.col("_m").alias("_ma"),
        F.col("_lat").alias("_lata"),
        F.col("_lon").alias("_lona"),
        F.col("_o.same").alias("_same"),
        F.pmod(F.col("_tx") + F.col("_o.dx"), F.lit(n_tiles)).alias("_nx"),
        (F.col("_ty") + F.col("_o.dy")).alias("_ny"),
    )
    build_s = keyed.select(
        F.col("_pos").alias("_pb"),
        F.col("_m").alias("_mb"),
        F.col("_lat").alias("_latb"),
        F.col("_lon").alias("_lonb"),
        F.col("_tx").alias("_nx"),
        F.col("_ty").alias("_ny"),
    )
    dist = C.haversine(
        F.col("_lata"), F.col("_lona"), F.col("_latb"), F.col("_lonb")
    )
    pair_ok = F.when(F.col("_same"), F.col("_pa") < F.col("_pb")).otherwise(
        F.col("_pa") != F.col("_pb")
    )
    w = (F.col("_ma") * F.col("_mb")).alias("_w")
    ns_sum = (
        probe_s.join(build_s, ["_nx", "_ny"])
        .where(pair_ok & (dist <= F.lit(float(delta_m))))
        .agg(F.sum(w))
        .first()[0]
    )
    ns = int(ns_sum or 0) + self_pairs

    # ---- X: composite (τ-bucket, tile) forward join, both filters
    tb = F.expr(f"_ts div {int(tau_s)}")
    keyed_st = keyed.withColumn("_tb", tb)
    st_offs = F.array(
        *[
            F.struct(
                F.lit(dt).alias("dt"),
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit((dt, dx, dy) == (0, 0, 0)).alias("same"),
            )
            for dt, dx, dy in [(0, 0, 0)]
            + [
                (a, b, c)
                for a in (-1, 0, 1)
                for b in (-1, 0, 1)
                for c in (-1, 0, 1)
                if (a, b, c) > (0, 0, 0)
            ]
        ]
    )
    probe_x = keyed_st.withColumn("_o", F.explode(st_offs)).select(
        F.col("_pos").alias("_pa"),
        F.col("_m").alias("_ma"),
        F.col("_ts").alias("_tsa"),
        F.col("_lat").alias("_lata"),
        F.col("_lon").alias("_lona"),
        F.col("_o.same").alias("_same"),
        (F.col("_tb") + F.col("_o.dt")).alias("_nb"),
        F.pmod(F.col("_tx") + F.col("_o.dx"), F.lit(n_tiles)).alias("_nx"),
        (F.col("_ty") + F.col("_o.dy")).alias("_ny"),
    )
    build_x = keyed_st.select(
        F.col("_pos").alias("_pb"),
        F.col("_m").alias("_mb"),
        F.col("_ts").alias("_tsb"),
        F.col("_lat").alias("_latb"),
        F.col("_lon").alias("_lonb"),
        F.col("_tb").alias("_nb"),
        F.col("_tx").alias("_nx"),
        F.col("_ty").alias("_ny"),
    )
    x_sum = (
        probe_x.join(build_x, ["_nb", "_nx", "_ny"])
        .where(
            pair_ok
            & (F.abs(F.col("_tsa") - F.col("_tsb")) <= F.lit(int(tau_s)))
            & (dist <= F.lit(float(delta_m)))
        )
        .agg(F.sum(w))
        .first()[0]
    )
    x_st = int(x_sum or 0) + self_pairs

    # pinned scalar combine — double-FIRST like general_g
    e_x = z = None
    if n > 1:
        n_pairs = n * (n - 1) // 2
        e_x = (float(ns) * nt) / n_pairs
        if e_x > 0:
            z = (x_st - e_x) / math.sqrt(e_x)
    spark = points.sparkSession
    return spark.range(1).select(
        F.lit(n).alias("n_pts"),
        F.lit(x_st).alias("x_st"),
        F.lit(ns).alias("ns"),
        F.lit(nt).alias("nt"),
        F.round(F.lit(e_x).cast("double"), 6).alias("e_x_r6"),
        F.round(F.lit(z).cast("double"), 6).alias("z_r6"),
    )


def knox_test_oracle_sql(
    subq: str,
    delta_m: float = 1000.0,
    tau_s: int = 21600,
    id_col: str = "event_id",
    ts_col: str = "ts_sec",
    lat: str = "lat",
    lon: str = "lon",
    max_abs_lat: float = C.TILE_MAX_LAT,
) -> str:
    """DuckDB twin of :func:`knox_test`: 27/9-address closures over
    the same exact predicates (integer counts need no order pinning),
    range-window time histogram, identical pinned final combine.
    Coordinates quantize to the microdegree rep position first — the
    Spark side collapses coincident (µlat, µlon, ts) events to
    multiplicity-weighted reps and measures distances at the rep
    position, so the twin must measure at the same grain (the counts
    themselves stay per-event: a weighted rep-pair sum and a raw
    quantized pair closure count identical integers)."""
    from .cluster import dbscan_zoom_for_eps

    zoom = dbscan_zoom_for_eps(delta_m, max_abs_lat)
    n_tiles = 1 << zoom
    qlat = "CAST(ula AS DOUBLE) / 1e6"
    qlon = "CAST(ulo AS DOUBLE) / 1e6"
    tx, ty = C.tile_xy_sql(qlat, qlon, zoom)
    hav = C.haversine_sql("a.lat", "a.lon", "b.lat", "b.lon")
    s_offs = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    return (
        f"WITH qraw AS (SELECT {id_col} AS id, {ts_col} AS ts, "
        f"CAST(round(({lat}) * 1e6) AS BIGINT) AS ula, "
        f"CAST(round(({lon}) * 1e6) AS BIGINT) AS ulo FROM {subq} "
        f"WHERE {lat} IS NOT NULL AND {lon} IS NOT NULL), "
        f"pts AS (SELECT id, ts, {qlat} AS lat, {qlon} AS lon, "
        f"{tx} AS tx, {ty} AS ty, ts // {int(tau_s)} AS tb FROM qraw), "
        "nstats AS (SELECT count(*) AS n FROM pts), "
        "hist AS (SELECT ts, count(*) AS c FROM pts GROUP BY ts), "
        "ntw AS (SELECT c, coalesce(sum(c) OVER (ORDER BY ts "
        f"RANGE BETWEEN 1 FOLLOWING AND {int(tau_s)} FOLLOWING), 0) "
        "AS fwd FROM hist), "
        "ntstats AS (SELECT coalesce(sum(c * fwd), 0) "
        "+ coalesce(sum(c * (c - 1)), 0) // 2 AS nt FROM ntw), "
        f"soffsets(dx, dy) AS (VALUES {s_offs}), "
        "nsstats AS (SELECT count(*) // 2 AS ns FROM "
        "(SELECT p.*, "
        f"((p.tx + o.dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "p.ty + o.dy AS ny FROM pts p CROSS JOIN soffsets o) a "
        "JOIN pts b ON a.nx = b.tx AND a.ny = b.ty AND a.id <> b.id "
        f"AND ({hav}) <= {float(delta_m)!r}), "
        "stoffsets(dt, dx, dy) AS (VALUES "
        + ", ".join(
            f"({dt}, {dx}, {dy})"
            for dt in (-1, 0, 1)
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        )
        + "), "
        "xstats AS (SELECT count(*) // 2 AS x_st FROM "
        "(SELECT p.*, p.tb + o.dt AS nb, "
        f"((p.tx + o.dx) % {n_tiles} + {n_tiles}) % {n_tiles} AS nx, "
        "p.ty + o.dy AS ny FROM pts p CROSS JOIN stoffsets o) a "
        "JOIN pts b ON a.nb = b.tb AND a.nx = b.tx AND a.ny = b.ty "
        "AND a.id <> b.id "
        f"AND abs(a.ts - b.ts) <= {int(tau_s)} "
        f"AND ({hav}) <= {float(delta_m)!r}), "
        "scal AS (SELECT n, x_st, ns, nt, "
        "CASE WHEN n > 1 THEN "
        "(CAST(ns AS DOUBLE) * nt) / (n * (n - 1) // 2) END AS e_x "
        "FROM nstats CROSS JOIN ntstats CROSS JOIN nsstats "
        "CROSS JOIN xstats) "
        "SELECT n AS n_pts, x_st, ns, nt, round(e_x, 6) AS e_x_r6, "
        "CASE WHEN e_x > 0 THEN "
        "round((x_st - e_x) / sqrt(e_x), 6) END AS z_r6 FROM scal"
    )

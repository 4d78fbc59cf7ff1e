"""Road-network routing: distributed single/multi-source shortest
path (SSSP) over a weighted edge relation, plus the isochrone band
rollup that rides it.

The reference stops at geodesic primitives (GeoGeometry.kt:565-608
haversine, :642-724 point->segment distance) — routing over a network
built FROM those primitives is the natural relation-scale composition:
edges carry geodesic lengths, and "how far is every reachable node
from a source set" is the trajectory family's graph query (isochrones,
catchment areas, network kNN).

Algorithm — frontier Bellman-Ford (the label-correcting family;
Meyer & Sanders 2003 delta-stepping is its bucketed refinement), the
same iterative-relaxation shape as ``connected_components``:

- ``dist`` holds the best-known cost per node; the FRONTIER is the
  subset improved in the previous round.  Each round relaxes only
  ``frontier JOIN edges ON node = src`` — the shuffle is bounded by
  frontier-adjacency, not |V| x |E| — takes the per-destination
  ``min`` (map-side combinable partial aggregation), and merges into
  ``dist`` with one full-outer equi-join on the node key.
- Every round ``localCheckpoint``s the merged state and explicitly
  unpersists the previous round (the connected_components block-
  manager hygiene: lazily-GC'd round blocks race the ContextCleaner
  at scale).  Convergence detection rides the checkpoint job for free
  via ``Observation`` — a round that improves zero nodes is the fixed
  point; no separate count job per round.
- Edge weights are mm-quantized BIGINTs (the hmm_match doctrine):
  every shuffled value and every ``min`` is an exact integer, so
  partial-aggregation order cannot move the result and the DuckDB
  twin matches bit-for-bit.  Rationals in, exact integers through.

Scale story (100 TB / continental road graph): edges are re-keyed by
``src`` ONCE up front and checkpointed, so each round's relaxation
join reuses that layout and shuffles only the frontier side; round
count is the hop diameter of the shortest-path tree (O(sqrt(V)) for
planar road networks), and per-round cost is O(frontier-degree), the
delta-stepping envelope.  Nothing all-pairs, nothing per-row Python,
no driver-side graph state — the driver holds one (count,) scalar per
round.

The DuckDB twin (:func:`sssp_oracle_sql`) is full (non-frontier)
Bellman-Ford unrolled to a fixed round count K as chained MATERIALIZED
CTEs — DuckDB 1.0's recursive CTEs cannot aggregate over the recursive
relation, and carrying per-path rows without the per-round min blows
up exponentially on cyclic graphs.  Unrolled K is exact whenever
K >= the shortest-path-tree hop diameter; callers pass a bound
justified by the fixture (contract.py derives it from min edge
weight vs max path cost).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions import columns as C

__all__ = [
    "sssp",
    "harmonic_closeness",
    "harmonic_closeness_oracle_sql",
    "betweenness",
    "betweenness_oracle_sql",
    "huff_catchment",
    "huff_catchment_oracle_sql",
    "nearest_facility",
    "sssp_oracle_sql",
    "nearest_facility_oracle_sql",
    "isochrone_oracle_sql",
]


#: bits reserved for the facility rank in the packed BIGINT state.
#: 2^20 facilities per sweep; the remaining 43 bits hold dist_mm up
#: to ~8.8e6 km — two orders of magnitude past any terrestrial path
#: even with congestion-inflated weights.
_SEED_BITS = 20


def _loop_partitions(spark, override: int | None = None) -> int:
    """Shuffle-partition count for iterative frontier loops.  The
    per-round relations are state-sized (|nodes| rows of 2-3 BIGINTs),
    so session-sized shuffles (32+ partitions locally, thousands on a
    cluster) pay far more per-stage task dispatch than the data needs:
    measured on the 72-round closeness loop (1.05M product edges),
    8 partitions ran 59 s -> 22.6 s vs 32 (P=4: 28 s, P=16: 34 s).
    Default session/4 with a floor of 8 keeps the loop proportional to
    the surrounding configuration — a cluster sized at thousands of
    shuffle partitions still gets hundreds for genuinely big frontiers
    — while callers with known graph sizes can override."""
    if override is not None:
        return max(1, int(override))
    try:
        sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:  # non-numeric conf, e.g. "auto" on managed platforms
        sess = spark.sparkContext.defaultParallelism
    return max(8, sess // 4)


def _relax_loop(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str,
    dst_col: str,
    w_col: str,
    max_rounds: int,
    with_label: bool,
    loop_partitions: int | None = None,
) -> DataFrame:
    """Shared frontier label-correcting loop.  State per node is ONE
    BIGINT: bare dist_mm for SSSP, or ``dist_mm << 20 | seed_rank``
    for catchment — ranks assigned in ascending facility-id order, so
    the packed numeric order IS the lexicographic (dist_mm, seed)
    order and exact-cost ties still break to the smaller facility id.
    A label flip at equal cost counts as an improvement and re-enters
    the frontier — the well-founded (dist, seed) order still bounds
    rounds by the optimal-path hop diameter.

    Why packed instead of a (dist_mm, seed) struct: Spark has no hash
    partial aggregation for struct min — the per-destination ``min``
    falls back to SortAggregate, i.e. a map-side SORT (with spill) of
    every relaxed edge each round.  Measured on a 62M-edge
    full-frontier round: the struct form was shuffle/sort-bound with
    IDENTICAL wall at local[8] and local[32]; the packed-BIGINT form
    hash-aggregates map-side, shuffling at most |distinct dst| partial
    rows per task.  Relaxation stays a single long addition
    (``packed + (w << 20)`` — the low rank bits are untouched), so
    every value is still exact and the DuckDB struct-min twin still
    matches bit-for-bit after decode."""
    e = edges.select(
        F.col(src_col).alias("_src"),
        F.col(dst_col).alias("_dst"),
        F.col(w_col).cast("long").alias("_w"),
    )
    if with_label:
        # facilities are config-scale; rank them densely so the label
        # fits _SEED_BITS regardless of the id domain (node ids may be
        # arbitrary 32-bit).  The window runs on the SEED relation
        # only — never the node or edge relation.
        from pyspark.sql import Window

        seeds = seeds.select(
            "node",
            (F.row_number().over(Window.orderBy("seed")) - 1)
            .cast("long")
            .alias("_rank"),
            "seed",
        )
        rank_map = seeds.select("_rank", "seed").localCheckpoint()
        n_seeds = rank_map.count()
        if n_seeds >= (1 << _SEED_BITS):
            raise ValueError(
                f"nearest_facility supports < {1 << _SEED_BITS} "
                f"facilities per sweep (got {n_seeds}); shard the "
                "facility set and take the per-node min across sweeps"
            )
        e = e.select("_src", "_dst", F.shiftleft("_w", _SEED_BITS).alias("_w"))
        seeds = seeds.select("node", F.col("_rank").cast("long").alias("_st"))
    else:
        seeds = seeds.select("node", F.lit(0).cast("long").alias("_st"))
    # one up-front shuffle keys the (static) edge relation by _src at
    # the LOOP partition count; checkpointing pins the layout so every
    # round's relaxation join reuses it exchange-free (localCheckpoint
    # preserves hash partitioning) and only the frontier side moves
    spark = edges.sparkSession
    n_parts = _loop_partitions(spark, loop_partitions)
    # (A map-side coalesce before this re-key was tried and REMOVED:
    # Catalyst's CollapseRepartition folds Coalesce into a following
    # RepartitionByExpression, so the plan was unchanged — verified
    # with explain("formatted"); the apparent A/B win was cache noise.)
    e = e.repartition(n_parts, "_src").localCheckpoint()

    dist = (
        # seeds start on the frontier
        seeds.withColumn("_imp", F.lit(True)).localCheckpoint()
    )

    def _one_round(cur: DataFrame) -> DataFrame:
        frontier = cur.where("_imp")
        relaxed = (
            frontier.join(e, frontier["node"] == e["_src"])
            .select(
                F.col("_dst").alias("node"),
                (F.col("_st") + F.col("_w")).alias("_cand"),
            )
            .groupBy("node")
            # plain BIGINT min: hash-aggregated map-side, so the
            # shuffle carries <= |distinct dst| partials per task, not
            # one row per relaxed edge (see docstring)
            .agg(F.min("_cand").alias("_cand"))
        )
        imp = F.col("_st").isNull() | (F.col("_cand") < F.col("_st"))
        return (
            cur.select("node", "_st")
            .join(relaxed, "node", "full_outer")
            .select(
                "node",
                F.when(imp, F.col("_cand"))
                .otherwise(F.col("_st"))
                .alias("_st"),
                imp.alias("_imp"),
            )
        )

    # Per-round cost engineering (VERDICT r4 item 4).  Two measured
    # findings on the 72-round closeness loop drive this shape:
    # (1) chaining multiple rounds per job is a TRAP here — each round
    # references its predecessor twice (frontier + merge), and without
    # AQE stage materialization the duplicated subtrees recompute
    # exponentially (chunk=4 measured 142 s vs 22.6 s per-round);
    # ReusedExchange does not rescue the full-outer/filter subtrees.
    # (2) the actual per-round constant is AQE query-stage replanning
    # plus session-sized task dispatch on state-sized shuffles —
    # scoped AQE-off + loop-sized partitions (iterative_loop_conf)
    # cut the measured loop 48 s -> 22.6 s with bit-identical results.
    from ..plans.session import iterative_loop_conf

    converged = False
    with iterative_loop_conf(spark, aqe=False, shuffle_partitions=n_parts):
        for _ in range(max_rounds):
            obs = Observation()
            merged = (
                _one_round(dist)
                .observe(
                    obs, F.sum(F.col("_imp").cast("int")).alias("n_imp")
                )
                .localCheckpoint()  # eager: runs the round's job
            )
            old = dist
            dist = merged
            old.unpersist()
            if not obs.get["n_imp"]:
                converged = True
                break
    if not converged:
        import warnings

        warnings.warn(
            f"sssp: no fixed point within max_rounds={max_rounds}; "
            "distances may exceed true shortest paths on "
            "long-diameter graphs. Increase max_rounds.",
            RuntimeWarning,
            stacklevel=2,
        )
    if with_label:
        return (
            dist.select(
                "node",
                F.shiftright("_st", _SEED_BITS).alias("dist_mm"),
                F.col("_st")
                .bitwiseAND(F.lit((1 << _SEED_BITS) - 1))
                .alias("_rank"),
            )
            # decode rank -> facility id through the config-scale map
            .join(F.broadcast(rank_map), "_rank")
            .select("node", "dist_mm", "seed")
        )
    return dist.select("node", F.col("_st").alias("dist_mm"))


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w_mm",
    node_col: str = "node",
    max_rounds: int = 200,
) -> DataFrame:
    """Multi-source shortest path over a directed weighted graph.

    ``edges``: one row per directed edge (``src_col``, ``dst_col``,
    ``w_col``) with non-negative BIGINT weights (mm-quantize geodesic
    lengths upstream — see module docstring).  Undirected networks
    pass both directions.  ``sources``: one ``node_col`` row per seed
    (cost 0).  Returns (node, dist_mm) for every node reachable from
    the seed set, including the seeds themselves at 0.

    Label-correcting relaxation converges to the exact shortest-path
    fixed point for non-negative weights regardless of relaxation
    order, so the frontier restriction changes WORK, never results.
    """
    seeds = (
        sources.select(F.col(node_col).alias("node")).distinct()
    )
    return _relax_loop(
        edges, seeds, src_col, dst_col, w_col, max_rounds, with_label=False
    )


def nearest_facility(
    edges: DataFrame,
    facilities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w_mm",
    node_col: str = "node",
    max_rounds: int = 200,
) -> DataFrame:
    """Catchment assignment: every reachable node labeled with its
    NETWORK-nearest facility (seed node id) and the travel cost to it
    — the graph analogue of the kNN family's "nearest site" join,
    computed as ONE multi-source sweep instead of |facilities| runs.

    Ties on exact mm cost break to the smaller facility id via the
    packed (dist_mm << 20 | seed_rank) BIGINT state (ranks assigned
    in ascending facility-id order — see :func:`_relax_loop`), so
    assignment is deterministic.  Supports < 2^20 facilities per
    sweep.  Returns (node, dist_mm, seed)."""
    seeds = (
        facilities.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("seed", F.col("node"))
    )
    return _relax_loop(
        edges, seeds, src_col, dst_col, w_col, max_rounds, with_label=True
    )


def sssp_oracle_sql(
    edges_subq: str,
    sources_subq: str,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w_mm",
    node_col: str = "node",
) -> str:
    """DuckDB twin of :func:`sssp`: full Bellman-Ford unrolled to
    ``rounds`` chained MATERIALIZED CTEs (d{i+1} = per-node min over
    d{i} union d{i}-relaxed-one-hop).  Exact when ``rounds`` >= the
    shortest-path-tree hop diameter of the fixture (see module
    docstring for why the recursion can't express the per-round min).
    """
    parts = [
        f"e AS MATERIALIZED (SELECT {src_col} AS src, {dst_col} AS dst, "
        f"CAST({w_col} AS BIGINT) AS w FROM {edges_subq})",
        f"d0 AS MATERIALIZED (SELECT DISTINCT {node_col} AS node, "
        f"CAST(0 AS BIGINT) AS dist_mm FROM {sources_subq})",
    ]
    for i in range(rounds):
        parts.append(
            f"d{i + 1} AS MATERIALIZED (SELECT node, MIN(dist_mm) AS dist_mm "
            f"FROM (SELECT node, dist_mm FROM d{i} "
            "UNION ALL "
            f"SELECT e.dst AS node, d{i}.dist_mm + e.w AS dist_mm "
            f"FROM d{i} JOIN e ON d{i}.node = e.src) GROUP BY node)"
        )
    return (
        "WITH " + ", ".join(parts) + f" SELECT node, dist_mm FROM d{rounds}"
    )


def nearest_facility_oracle_sql(
    edges_subq: str,
    facilities_subq: str,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w_mm",
    node_col: str = "node",
) -> str:
    """DuckDB twin of :func:`nearest_facility`: the unrolled
    Bellman-Ford of :func:`sssp_oracle_sql` with the per-node min taken
    over the lexicographic struct {'d': dist, 's': seed} — the same
    (dist_mm, seed) tie-break order the Spark loop uses, so catchment
    labels match exactly."""
    parts = [
        f"e AS MATERIALIZED (SELECT {src_col} AS src, {dst_col} AS dst, "
        f"CAST({w_col} AS BIGINT) AS w FROM {edges_subq})",
        f"d0 AS MATERIALIZED (SELECT DISTINCT {node_col} AS node, "
        "{'d': CAST(0 AS BIGINT), 's': " + node_col + "} AS st "
        f"FROM {facilities_subq})",
    ]
    for i in range(rounds):
        parts.append(
            f"d{i + 1} AS MATERIALIZED (SELECT node, MIN(st) AS st "
            f"FROM (SELECT node, st FROM d{i} "
            "UNION ALL "
            "SELECT e.dst AS node, "
            f"{{'d': d{i}.st.d + e.w, 's': d{i}.st.s}} AS st "
            f"FROM d{i} JOIN e ON d{i}.node = e.src) GROUP BY node)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT node, st.d AS dist_mm, st.s AS seed FROM d{rounds}"
    )


def isochrone_oracle_sql(
    sssp_sql: str,
    band_mm: int,
    max_bands: int,
) -> str:
    """DuckDB twin of the isochrone band rollup composed over
    :func:`sssp` output in contract.py: nodes bucket into travel-cost
    bands of ``band_mm``, keeping the first ``max_bands`` bands; per
    band the reach count plus exact integer min/max costs.  All-BIGINT
    aggregation — no float path."""
    return (
        f"WITH s AS ({sssp_sql}) "
        f"SELECT CAST(dist_mm // {int(band_mm)} AS INT) AS band, "
        "COUNT(*) AS n_nodes, MIN(dist_mm) AS min_mm, "
        "MAX(dist_mm) AS max_mm FROM s "
        f"WHERE dist_mm // {int(band_mm)} < {int(max_bands)} "
        "GROUP BY 1"
    )


def huff_catchment(
    points: DataFrame,
    facilities: list[tuple[int, float, float, float]],
    zoom: int = 12,
    lat_col: str = "lat",
    lon_col: str = "lon",
    exponent: int = 2,
) -> DataFrame:
    """Huff gravity catchment model (Huff 1963, "A Probabilistic
    Analysis of Shopping Center Trade Areas"; Huff 2003 calibration
    convention λ = 2): for every occupied demand cell i, the
    probability a resident patronizes facility j is
    P(i→j) = wⱼ·dᵢⱼ^(-λ) / Σₖ wₖ·dᵢₖ^(-λ) — the probabilistic
    successor to the hard nearest-facility assignment
    (:func:`nearest_facility`): catchments overlap, and attractive
    facilities pull demand across boundaries.

    ``facilities`` is a plan-time Python list of (id, lat, lon,
    attractiveness) — the same driver-literal convention as the
    engine's other small broadcast dims (knn query lists, IVF
    centroids); the per-facility score columns unroll into the plan in
    ASCENDING ID ORDER so the float sum and the strict-> argmax fold
    have one pinned evaluation order for the twin to mirror.  There is
    no join and no extra shuffle: one map-side-combinable cell
    collapse, then per-row native Column math.

    Determinism: demand cells are zoom-``zoom`` tiles represented by
    their exact integer-µdeg fix centroid (the :mod:`trajectory`
    stay-point convention — two BIGINT sums, one pinned division);
    distances METER-quantize to BIGINT (``round(haversine)``, floored
    at 1 m — the mm-quantization trick of traj_trips, scaled so d² of
    antipodal demand cannot overflow), so the gravity weights are pure
    functions of exact integers.

    Returns (tx, ty, cnt, best_fac, p_best_r6, p_sum_chk): cell,
    demand count, the argmax facility (first-listed wins exact ties),
    its capture probability, and the Σⱼ P(i→j) = 1 sanity column
    (rounded; deviates only by IEEE summation slack)."""
    if not facilities:
        raise ValueError("huff_catchment needs at least one facility")
    facs = sorted(facilities)
    x, y = C.tile_xy(F.col(lat_col), F.col(lon_col), zoom)
    ulat = F.round(F.col(lat_col) * F.lit(1000000.0)).cast("long")
    ulon = F.round(F.col(lon_col) * F.lit(1000000.0)).cast("long")
    cells = points.groupBy(x.alias("tx"), y.alias("ty")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(ulat).alias("sulat"),
        F.sum(ulon).alias("sulon"),
    )
    rep_lat = (
        F.col("sulat").cast("double") / F.col("cnt").cast("double")
    ) / F.lit(1000000.0)
    rep_lon = (
        F.col("sulon").cast("double") / F.col("cnt").cast("double")
    ) / F.lit(1000000.0)

    scores = []
    for fid, flat, flon, w in facs:
        d_m = F.greatest(
            F.round(
                C.haversine(
                    rep_lat, rep_lon, F.lit(float(flat)), F.lit(float(flon))
                )
            ).cast("long"),
            F.lit(1),
        )
        denom = d_m * d_m if exponent == 2 else d_m
        scores.append((fid, F.lit(float(w)) / denom.cast("double")))
    total = scores[0][1]
    for _, s in scores[1:]:
        total = total + s
    # linear-size argmax: a recursive strict-> fold would embed the
    # running max TWICE per facility (2^k expression nodes — 16
    # facilities already blow the analyzer); greatest() + first-equal
    # CASE is linear and keeps the same first-listed-wins tie rule
    if len(scores) == 1:
        best, sb = F.lit(int(scores[0][0])), scores[0][1]
    else:
        sb = F.greatest(*[s for _, s in scores])
        best = F
        chain = None
        for fid, s in scores:
            cond = s == sb
            chain = (
                F.when(cond, F.lit(int(fid)))
                if chain is None
                else chain.when(cond, F.lit(int(fid)))
            )
        best = chain
    return cells.select(
        "tx",
        "ty",
        "cnt",
        best.alias("best_fac"),
        F.round(sb / total, 6).alias("p_best_r6"),
        F.round(total / total, 6).alias("p_sum_chk"),
    )


def huff_catchment_oracle_sql(
    subq: str,
    facilities: list[tuple[int, float, float, float]],
    zoom: int = 12,
    lat: str = "lat",
    lon: str = "lon",
    exponent: int = 2,
) -> str:
    """DuckDB twin of :func:`huff_catchment`: the same ascending-id
    unroll of score expressions, the same left-assoc float sum, and
    the same strict-> CASE argmax fold."""
    facs = sorted(facilities)
    tx, ty = C.tile_xy_sql(lat, lon, zoom)
    cells = (
        f"SELECT {tx} AS tx, {ty} AS ty, count(*) AS cnt, "
        f"sum(CAST(round(({lat}) * 1000000.0) AS BIGINT)) AS sulat, "
        f"sum(CAST(round(({lon}) * 1000000.0) AS BIGINT)) AS sulon "
        f"FROM {subq} GROUP BY 1, 2"
    )
    rep_lat = "((CAST(sulat AS DOUBLE) / CAST(cnt AS DOUBLE)) / 1000000.0)"
    rep_lon = "((CAST(sulon AS DOUBLE) / CAST(cnt AS DOUBLE)) / 1000000.0)"
    score_cols = []
    for k, (fid, flat, flon, w) in enumerate(facs):
        hav = C.haversine_sql(rep_lat, rep_lon, repr(float(flat)),
                              repr(float(flon)))
        d_m = f"greatest(CAST(round({hav}) AS BIGINT), 1)"
        denom = f"({d_m} * {d_m})" if exponent == 2 else d_m
        score_cols.append(
            f"{float(w)!r} / CAST({denom} AS DOUBLE) AS s{k}"
        )
    total = "s0"
    for k in range(1, len(facs)):
        total = f"({total} + s{k})"
    if len(facs) == 1:
        sb, best = "s0", str(int(facs[0][0]))
    else:
        sb = "greatest(" + ", ".join(f"s{k}" for k in range(len(facs))) + ")"
        best = (
            "CASE "
            + " ".join(
                f"WHEN s{k} = {sb} THEN {int(facs[k][0])}"
                for k in range(len(facs))
            )
            + " END"
        )
    return (
        f"WITH cells AS ({cells}), "
        f"sc AS (SELECT tx, ty, cnt, {', '.join(score_cols)} FROM cells) "
        f"SELECT tx, ty, cnt, ({best}) AS best_fac, "
        f"round(({sb}) / ({total}), 6) AS p_best_r6, "
        f"round(({total}) / ({total}), 6) AS p_sum_chk FROM sc"
    )


def harmonic_closeness(
    edges: DataFrame,
    landmarks: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w_mm",
    node_col: str = "node",
    max_rounds: int = 200,
) -> DataFrame:
    """Landmark-based harmonic closeness centrality (Marchiori &
    Latora 2000; Boldi & Vigna 2014 for why harmonic > classic
    closeness on disconnected graphs): for every node v,
    C_H(v) = sum over landmark sources s of 1 / d(s, v) — the
    standard scalable estimator (Eppstein & Wang 2004) that
    substitutes a fixed landmark set for the all-pairs sweep exact
    closeness would need.  Unreachable landmarks contribute 0 (the
    harmonic estimator's built-in disconnection handling).

    Scale design — the PRODUCT-GRAPH trick: per-landmark distances
    are the one thing a multi-source sweep cannot give (it min-folds
    sources away), so each landmark gets its own composite node space
    ``node * L + rank`` and ONE :func:`sssp` run relaxes all L
    replicas together — the battle-tested packed-BIGINT frontier loop,
    unchanged, over an edge relation replicated L times (the honest
    cost of L independent source sweeps, paid in one job with one
    frontier).  Landmark counts are config-scale (4-32); node ids
    must be non-negative and < 2^62 / L.

    Exactness: distances are exact mm BIGINTs from sssp; each
    reciprocal quantizes as ``10**12 // dist_mm`` (exact integer
    division, = 1/d in meters scaled by 1e9), so the centrality sum
    is order-free BIGINT addition and the one final double is a
    single IEEE division by the scale literal.

    Returns (node, n_reached, closeness_q, closeness): how many
    landmarks reach the node at finite positive distance, the exact
    scaled harmonic sum, and closeness_q / 1e9 (units 1/m)."""
    lm = landmarks.select(F.col(node_col).alias("_lm")).distinct()
    from pyspark.sql import Window

    lm = lm.select(
        "_lm",
        (F.row_number().over(Window.orderBy("_lm")) - 1)
        .cast("long")
        .alias("_rank"),
    ).localCheckpoint()
    n_lm = lm.count()
    if n_lm == 0:
        raise ValueError("harmonic_closeness needs >= 1 landmark")
    spark = edges.sparkSession
    reps = F.broadcast(
        spark.range(n_lm).select(F.col("id").alias("_rep"))
    )
    # Cast node ids to long BEFORE the composite-id multiply: with
    # IntegerType inputs Spark would wrap silently near 2^31 / L while
    # the DuckDB twin errors — the documented '< 2^62 / L' bound only
    # holds in 64-bit arithmetic.
    prod_edges = edges.crossJoin(reps).select(
        (F.col(src_col).cast("long") * n_lm + F.col("_rep")).alias("src"),
        (F.col(dst_col).cast("long") * n_lm + F.col("_rep")).alias("dst"),
        F.col(w_col).alias("w_mm"),
    )
    seeds = lm.select(
        (F.col("_lm").cast("long") * n_lm + F.col("_rank")).alias("node")
    )
    dist = sssp(
        prod_edges,
        seeds,
        src_col="src",
        dst_col="dst",
        w_col="w_mm",
        node_col="node",
        max_rounds=max_rounds,
    )
    term = F.expr("1000000000000 div dist_mm")
    return (
        dist.where(F.col("dist_mm") > 0)
        .select(
            F.expr(f"node div {n_lm}").alias("node"),
            term.alias("_t"),
        )
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum("_t").alias("closeness_q"),
        )
        .select(
            "node",
            "n_reached",
            "closeness_q",
            (F.col("closeness_q") / F.lit(1e9)).alias("closeness"),
        )
    )


def harmonic_closeness_oracle_sql(
    edges_subq: str,
    landmark_ids: list[int],
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w_mm",
) -> str:
    """DuckDB twin of :func:`harmonic_closeness`: the same product
    graph (edges replicated L times into composite node spaces), the
    same unrolled Bellman-Ford (:func:`sssp_oracle_sql`), the same
    exact reciprocal quantization and grouped BIGINT sum."""
    ids = sorted(set(int(x) for x in landmark_ids))
    n_lm = len(ids)
    if n_lm == 0:
        raise ValueError("harmonic_closeness needs >= 1 landmark")
    prod_edges = (
        f"(SELECT {src_col} * {n_lm} + i AS src, "
        f"{dst_col} * {n_lm} + i AS dst, {w_col} AS w_mm "
        f"FROM {edges_subq} CROSS JOIN range({n_lm}) t(i))"
    )
    seeds = ", ".join(
        f"({nid * n_lm + rank})" for rank, nid in enumerate(ids)
    )
    inner = sssp_oracle_sql(
        prod_edges,
        f"(SELECT * FROM (VALUES {seeds}) s(node))",
        rounds,
        src_col="src",
        dst_col="dst",
        w_col="w_mm",
        node_col="node",
    )
    return (
        f"SELECT node // {n_lm} AS node, "
        "CAST(count(*) AS BIGINT) AS n_reached, "
        "SUM(1000000000000 // dist_mm) AS closeness_q, "
        "SUM(1000000000000 // dist_mm) / 1e9 AS closeness "
        f"FROM ({inner}) WHERE dist_mm > 0 GROUP BY node // {n_lm}"
    )


def betweenness(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 40,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w_mm",
    node_col: str = "node",
    max_sssp_rounds: int = 200,
    scale: int = 10**9,
    ratio_scale: int = 10**6,
) -> DataFrame:
    """K-source betweenness centrality (Brandes 2001, "A faster
    algorithm for betweenness centrality"; source-sampled estimation
    per Brandes & Pich 2007) — the completion of the centrality suite
    (degree via graph stats, closeness, PageRank/HITS): how much of
    the shortest-path traffic between the source set and everywhere
    flows THROUGH each node.

    Three exact phases, all deterministic fixed points:

    1. Distances: ONE product-graph :func:`sssp` sweep (the
       :func:`harmonic_closeness` trick — node * K + rank per source)
       gives per-source exact mm distances.
    2. Path counts sigma: the shortest-path DAG (edges with
       dist(u) + w == dist(v); acyclic because weights must be > 0 —
       validated) is materialized once, and sigma iterates the fixed
       ``rounds``: sigma(v) = [v is source] or sum of predecessors'
       sigma — pure BIGINT sums, exact once rounds >= the SP-DAG hop
       depth (sigma overflows int64 only past ~9e18 equal-cost paths;
       keep weights heterogeneous or sample fewer hops).
    3. Dependency delta (Brandes' backward accumulation): the ratio
       sigma(u)/sigma(v) <= 1 per DAG edge quantizes ONCE to
       ppm by exact integer division; delta then iterates the same
       fixed rounds in units of 1/scale:
       delta(u) = sum over DAG successors v of
       (r_uv * (scale + delta(v))) // ratio_scale — evaluated through
       the exact identity floor(r*q/s) = r*(q div s) + (r*(q mod s))
       div s so no product exceeds 2^63 for any graph whose total
       delta fits BIGINT — every operation
       integer multiply / floor-divide / sum, so the DuckDB twin
       (:func:`betweenness_oracle_sql`, everything unrolled to
       MATERIALIZED CTEs) matches bit-for-bit.  The quantization
       makes this a DEFINED fixed-point estimator: its value is a
       pure function of the input, cross-engine exact, within ~1e-6
       relative of the real-valued Brandes dependency.

    Returns (node, bc_q, bc) over nodes reachable from >= 1 source,
    excluding each source's own replica from its accumulation (the
    Brandes endpoint rule); bc = bc_q / scale.  Directed convention:
    for symmetric (two-way) edge relations each undirected path
    contributes in both directions — halve downstream if you want
    the undirected count."""
    lm = sources.select(F.col(node_col).alias("_lm")).distinct()
    from pyspark.sql import Window

    lm = lm.select(
        "_lm",
        (F.row_number().over(Window.orderBy("_lm")) - 1)
        .cast("long")
        .alias("_rank"),
    ).localCheckpoint()
    n_lm = lm.count()
    if n_lm == 0:
        raise ValueError("betweenness needs >= 1 source")
    spark = edges.sparkSession
    bad = edges.where(F.col(w_col) <= 0).limit(1).count()
    if bad:
        raise ValueError(
            "betweenness needs strictly positive weights (zero-weight "
            "edges make the shortest-path DAG cyclic)"
        )
    reps = F.broadcast(
        spark.range(n_lm).select(F.col("id").alias("_rep"))
    )
    # long cast before the composite-id multiply (same wrap hazard as
    # harmonic_closeness: IntegerType ids would overflow at 2^31 / L).
    prod_e = edges.crossJoin(reps).select(
        (F.col(src_col).cast("long") * n_lm + F.col("_rep")).alias("_u"),
        (F.col(dst_col).cast("long") * n_lm + F.col("_rep")).alias("_v"),
        F.col(w_col).cast("long").alias("_w"),
    )
    seeds = lm.select(
        (F.col("_lm").cast("long") * n_lm + F.col("_rank")).alias("node")
    ).localCheckpoint()
    dist = sssp(
        prod_e, seeds, src_col="_u", dst_col="_v", w_col="_w",
        node_col="node", max_rounds=max_sssp_rounds,
    ).localCheckpoint()

    du = dist.select(F.col("node").alias("_u"), F.col("dist_mm").alias("_du"))
    dv = dist.select(F.col("node").alias("_v"), F.col("dist_mm").alias("_dv"))
    dag = (
        prod_e.join(du, "_u")
        .join(dv, "_v")
        .where(F.col("_du") + F.col("_w") == F.col("_dv"))
        .select("_u", "_v")
        .repartition(_loop_partitions(spark), "_u")
        .localCheckpoint()
    )
    nodes = dist.select("node").join(
        seeds.withColumn("_seed", F.lit(True)), "node", "left"
    ).select(
        "node", F.coalesce(F.col("_seed"), F.lit(False)).alias("_seed")
    ).repartition(_loop_partitions(spark), "node").localCheckpoint()

    from ..plans.session import iterative_loop_conf

    def _sigma_round(cur):
        preds = (
            cur.join(dag, cur["node"] == dag["_u"])
            .select(F.col("_v").alias("node"), F.col("_s").alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_c"))
        )
        return nodes.join(preds, "node", "left").select(
            "node",
            F.when(F.col("_seed"), F.lit(1))
            .otherwise(F.coalesce(F.col("_c"), F.lit(0)))
            .cast("long")
            .alias("_s"),
        )

    # fixed-round propagation, one round + localCheckpoint per
    # iteration.  Per-round materialization measured FASTEST (56.9 s vs
    # 63.5/63.9/70.7 s chaining 3/6/12 rounds per checkpoint on the
    # 16k-lattice bench entry): the chained plans re-read the
    # checkpoint linearly but lose cross-round block locality, while
    # the per-round job under the scoped AQE-off/loop-partition conf
    # (iterative_loop_conf) already has a minimal 2-stage shape.
    sigma = nodes.select(
        "node",
        F.when(F.col("_seed"), F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("_s"),
    ).localCheckpoint()
    with iterative_loop_conf(
        spark, aqe=False, shuffle_partitions=_loop_partitions(spark)
    ):
        for _ in range(int(rounds)):
            new_sigma = _sigma_round(sigma).localCheckpoint()
            sigma.unpersist()
            sigma = new_sigma

    su = sigma.select(F.col("node").alias("_u"), F.col("_s").alias("_su"))
    sv = sigma.select(F.col("node").alias("_v"), F.col("_s").alias("_sv"))
    ratios = (
        dag.join(su, "_u")
        .join(sv, "_v")
        .where(F.col("_sv") > 0)
        .select(
            "_u", "_v",
            F.expr(f"(_su * {int(ratio_scale)}) div _sv").alias("_r"),
        )
        .repartition(_loop_partitions(spark), "_v")
        .localCheckpoint()
    )
    def _delta_round(cur):
        succ = (
            cur.join(ratios, cur["node"] == ratios["_v"])
            .select(
                F.col("_u").alias("node"),
                # exact identity floor(r*q/s) = r*(q div s) +
                # (r*(q mod s)) div s — keeps every product under
                # 2^63 for any graph where total delta fits BIGINT
                F.expr(
                    f"_r * (({int(scale)} + _d) div {int(ratio_scale)})"
                    f" + (_r * (({int(scale)} + _d) %"
                    f" {int(ratio_scale)})) div {int(ratio_scale)}"
                ).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_c"))
        )
        return nodes.join(succ, "node", "left").select(
            "node",
            F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("_d"),
        )

    delta = nodes.select(
        "node", F.lit(0).cast("long").alias("_d")
    ).localCheckpoint()
    with iterative_loop_conf(
        spark, aqe=False, shuffle_partitions=_loop_partitions(spark)
    ):
        for _ in range(int(rounds)):
            new_delta = _delta_round(delta).localCheckpoint()
            delta.unpersist()
            delta = new_delta

    out = (
        nodes.where(~F.col("_seed"))
        .join(delta, "node")
        .select(
            F.expr(f"node div {n_lm}").alias("node"),
            F.col("_d").alias("_dq"),
        )
        .groupBy("node")
        .agg(F.sum("_dq").alias("bc_q"))
    )
    return out.select(
        "node", "bc_q",
        (F.col("bc_q") / F.lit(float(scale))).alias("bc"),
    )


def betweenness_oracle_sql(
    edges_subq: str,
    source_ids: list[int],
    sssp_rounds: int,
    rounds: int = 40,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w_mm",
    scale: int = 10**9,
    ratio_scale: int = 10**6,
) -> str:
    """DuckDB twin of :func:`betweenness`: the product-graph
    Bellman-Ford unroll (:func:`sssp_oracle_sql`), the SP-DAG, then
    the same fixed ``rounds`` of integer sigma propagation and
    quantized delta accumulation as MATERIALIZED CTE chains —
    bit-identical."""
    ids = sorted(set(int(x) for x in source_ids))
    k = len(ids)
    if k == 0:
        raise ValueError("betweenness needs >= 1 source")
    prod_edges = (
        f"(SELECT {src_col} * {k} + i AS src, "
        f"{dst_col} * {k} + i AS dst, {w_col} AS w_mm "
        f"FROM {edges_subq} CROSS JOIN range({k}) t(i))"
    )
    seed_vals = ", ".join(
        f"({nid * k + rank})" for rank, nid in enumerate(ids)
    )
    inner = sssp_oracle_sql(
        prod_edges,
        f"(SELECT * FROM (VALUES {seed_vals}) s(node))",
        sssp_rounds,
        src_col="src",
        dst_col="dst",
        w_col="w_mm",
        node_col="node",
    )
    # inner is "WITH e AS ..., d0 ..., dN ... SELECT ..." — reuse its
    # CTE chain by swapping the trailing SELECT for our continuation
    prefix = inner[: inner.rfind(" SELECT ")]
    dist = f"d{int(sssp_rounds)}"
    parts = [
        f"dag AS MATERIALIZED (SELECT e.src AS u, e.dst AS v FROM e "
        f"JOIN {dist} du ON du.node = e.src "
        f"JOIN {dist} dv ON dv.node = e.dst "
        "WHERE du.dist_mm + e.w = dv.dist_mm)",
        f"sd AS MATERIALIZED (SELECT * FROM (VALUES {seed_vals}) "
        "s(node))",
        f"nd AS MATERIALIZED (SELECT d.node, "
        "(sd.node IS NOT NULL) AS seed "
        f"FROM {dist} d LEFT JOIN sd ON sd.node = d.node)",
        "s0 AS MATERIALIZED (SELECT node, CASE WHEN seed THEN "
        "CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS s FROM nd)",
    ]
    for t in range(int(rounds)):
        parts.append(
            f"s{t + 1} AS MATERIALIZED (SELECT nd.node, "
            "CASE WHEN nd.seed THEN CAST(1 AS BIGINT) "
            "ELSE coalesce(p.c, 0) END AS s "
            "FROM nd LEFT JOIN "
            f"(SELECT dag.v AS node, SUM(s.s) AS c FROM s{t} s "
            "JOIN dag ON s.node = dag.u GROUP BY dag.v) p "
            "USING (node))"
        )
    sk = f"s{int(rounds)}"
    parts.append(
        "ratios AS MATERIALIZED (SELECT dag.u, dag.v, "
        f"(su.s * {int(ratio_scale)}) // sv.s AS r FROM dag "
        f"JOIN {sk} su ON su.node = dag.u "
        f"JOIN {sk} sv ON sv.node = dag.v WHERE sv.s > 0)"
    )
    parts.append(
        "q0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS d "
        "FROM nd)"
    )
    for t in range(int(rounds)):
        parts.append(
            f"q{t + 1} AS MATERIALIZED (SELECT nd.node, "
            "coalesce(p.c, 0) AS d FROM nd LEFT JOIN "
            f"(SELECT r.u AS node, SUM(r.r * (({int(scale)} + q.d) "
            f"// {int(ratio_scale)}) + (r.r * (({int(scale)} + q.d) "
            f"% {int(ratio_scale)})) // {int(ratio_scale)}) AS c "
            f"FROM ratios r JOIN q{t} q ON q.node = r.v "
            "GROUP BY r.u) p USING (node))"
        )
    qk = f"q{int(rounds)}"
    return (
        prefix + ", " + ", ".join(parts)
        + f" SELECT nd.node // {k} AS node, SUM(q.d) AS bc_q, "
        f"SUM(q.d) / {float(scale)!r} AS bc "
        f"FROM nd JOIN {qk} q ON q.node = nd.node "
        f"WHERE NOT nd.seed GROUP BY nd.node // {k}"
    )

"""Cell-join shapes shared by the geohash, S2 and hexgrid index families.

Once an index scheme has produced its cell relation — a polygon cover
as (polygon_id, cell_key, is_border) rows, or each query's candidate
cells — the rest of a spatial join does not depend on the scheme
(the interior/border approximation of Raster Intervals, SIGMOD 2023):
equi-join the points' probe key against the cells, accept interior
cells outright, and re-check border cells or candidates exactly.

Each family (operators/pip_join.py + knn.py for geohash, s2_join.py,
hex_join.py) keeps only what is its own — covering, probe-key Column,
candidate cells and kNN certification bound — and calls one function
here per join shape:

- :func:`broadcast_pip`: inner / left_semi / left_anti PIP against a
  cover built in-process, one broadcast hash join, zero points-side
  shuffle;
- :func:`distributed_pip`: PIP against a distributed cover of a
  polygon relation (the 10^5+-polygon path);
- :func:`knn_rounds`: the interactive expanding-candidates kNN loop;
- :func:`candidate_join` / :func:`top_k`: query candidate cells meet
  the points, window top-k per query (the round loop and every bulk
  kNN / radius join);
- :func:`radius_join_cells` / :func:`within_radius`: the single-center
  radius join tail;
- :func:`default_cover`: one memo for the default fixture set's covers;
- :func:`local_frame`: every driver-built relation above goes to the JVM
  as Arrow batches, so a join starts a Python worker only through a
  Python UDF (a probe key, or distributed_pip's ray cast).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import columns as C

_DEFAULT_COVERS: dict[tuple, object] = {}


def default_cover(polygons, key: tuple, build: Callable[[], object]):
    """``build()`` — memoized per ``key`` when ``polygons`` is None (the
    default fixture set, whose in-process cover costs 0.2-0.6 s and is
    identical across queries); caller-supplied sets cover every call."""
    if polygons is not None:
        return build()
    if key not in _DEFAULT_COVERS:
        _DEFAULT_COVERS[key] = build()
    return _DEFAULT_COVERS[key]


def broadcast_pip(
    points: DataFrame,
    key: Column,
    rows: list[tuple[str, int, bool]],
    polys: dict[str, list],
    how: str = "inner",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Join ``points`` (probe cell ``key``) to the cover ``rows`` =
    [(polygon_id, cell_key, is_border)] of ``polys``.

    how='inner' returns input columns + polygon_id: interior-cell rows
    match by the covering guarantee, border-cell rows pass the exact
    hole-aware ray-cast of their polygon (:func:`C.pip_index`, a native
    Column, dispatched by the polygon's index carried in the relation).
    'left_semi' / 'left_anti' return the matched / unmatched input rows
    in one pass: the (small, in-process) relation is pre-grouped by cell
    key so every point meets AT MOST ONE broadcast row — the join cannot
    duplicate, so no distinct() and no second scan or shuffle of the big
    side.  matched = some polygon holds the whole cell (interior_any) OR
    some polygon in the cell's border list contains the exact point."""
    spark = points.sparkSession
    index = {pid: i for i, pid in enumerate(polys, start=1)}
    if how == "inner":
        cells = local_frame(
            spark,
            [(pid, k, b, index[pid]) for pid, k, b in rows],
            "polygon_id string, cell_key long, is_border boolean, pip_idx int",
        )
        keep = _pip_recheck(spark, polys, how, lat_col, lon_col)
        return (
            points.join(F.broadcast(cells), key == F.col("cell_key"), "inner")
            .where(keep)
            .drop("cell_key", "is_border", "pip_idx")
        )
    if how not in ("left_semi", "left_anti"):
        raise ValueError(f"unsupported how={how!r}")
    by_key: dict[int, tuple[bool, set[int]]] = {}
    for pid, cell_key, is_border in rows:
        interior_any, border = by_key.setdefault(cell_key, (False, set()))
        if is_border:
            border.add(index[pid])
        else:
            interior_any = True
        by_key[cell_key] = (interior_any, border)
    grouped = [
        # polygons with an interior cell here match outright; border
        # polygons only matter when no interior polygon already matched
        (k, interior, sorted(border) if not interior else [])
        for k, (interior, border) in by_key.items()
    ]
    cells_g = local_frame(
        spark,
        grouped,
        "cell_key long, interior_any boolean, border_idx array<int>",
    )
    matched = _pip_recheck(spark, polys, how, lat_col, lon_col)
    joined = points.join(F.broadcast(cells_g), key == F.col("cell_key"), "left")
    keep = matched if how == "left_semi" else ~matched
    return joined.where(keep).select(*points.columns)


_PIP_RECHECKS: dict[tuple, tuple[object, Column]] = {}


def _pip_recheck(
    spark, polys: dict[str, list], how: str, lat_col: str, lon_col: str
) -> Column:
    """The border recheck of :func:`broadcast_pip`, built once per
    (polygon set, inner or semi/anti, columns) and reused: building it
    takes about a thousand py4j calls (0.1-0.4 s).  A memo entry made
    under another Spark gateway (a restarted JVM) is rebuilt, never
    reused.

    inner: ``NOT is_border OR contains(pip_idx)``; semi/anti:
    ``coalesce(interior_any OR exists(border_idx, contains), false)``.
    Either way the exact test runs only on border rows."""
    gateway = spark.sparkContext._gateway
    key = (
        how == "inner",
        lat_col,
        lon_col,
        tuple(
            (pid, tuple(np.asarray(r, dtype=np.float64).tobytes() for r in rings))
            for pid, rings in polys.items()
        ),
    )
    hit = _PIP_RECHECKS.get(key)
    if hit is not None and hit[0] is gateway:
        return hit[1]
    contains = C.pip_index(F.col(lat_col), F.col(lon_col), list(polys.values()))
    if how == "inner":
        col = ~F.col("is_border") | contains(F.col("pip_idx"))
    else:
        col = F.coalesce(
            F.col("interior_any") | F.exists("border_idx", contains), F.lit(False)
        )
    if len(_PIP_RECHECKS) >= 16:
        _PIP_RECHECKS.pop(next(iter(_PIP_RECHECKS)))
    _PIP_RECHECKS[key] = (gateway, col)
    return col


def local_frame(spark, rows: list[tuple], schema: str) -> DataFrame:
    """``rows`` (tuples in the field order of the DDL ``schema``) as a
    DataFrame built from pandas through Arrow
    (``spark.sql.execution.arrow.pyspark.enabled``, set by
    :func:`plans.session.get_spark`): the JVM decodes the record
    batches, so using the frame starts no Python worker —
    ``spark.createDataFrame(list)`` pickles through a Python map."""
    struct = StructType.fromDDL(schema)
    if not rows:  # an empty pandas frame would take the pickling path
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in struct]
        )
    pdf = pd.DataFrame.from_records(rows, columns=struct.fieldNames())
    return spark.createDataFrame(pdf, struct)


def distributed_pip(
    points: DataFrame,
    key: Column,
    cells: DataFrame,
    polygons: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """PIP join against a distributed cover ``cells`` (polygon_id,
    cell_key, is_border) of the polygon RELATION ``polygons``
    (polygon_id, rings): equi-join points on their probe ``key`` (both
    sides hash-partition on the cell key; AQE skew-join splits hot
    cells); interior-cell rows pass by the covering guarantee; border
    rows join their polygon's rings and run the exact hole-aware
    ray-cast in one Arrow batch per partition (rings deserialized once
    per distinct polygon per batch).  Output = input columns +
    polygon_id."""
    from ..functions.udfs import make_pip_rings_udf

    matched = points.join(cells, key == F.col("cell_key"), "inner").drop(
        "cell_key"
    )
    interior = matched.where(~F.col("is_border")).drop("is_border")
    pip = make_pip_rings_udf()
    border = (
        matched.where(F.col("is_border"))
        .drop("is_border")
        .join(polygons, "polygon_id")
        .where(
            pip(
                F.col("polygon_id"),
                F.col("rings"),
                F.col(lat_col),
                F.col(lon_col),
            )
        )
        .drop("rings")
    )
    return interior.unionByName(border)


def knn_rounds(
    points: DataFrame,
    queries: list[tuple[str, float, float]],
    k: int,
    rounds: Iterable[tuple[Column, Callable]],
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_col: str | None = None,
) -> DataFrame:
    """k nearest ``points`` to each query (query_id, lat, lon) through
    widening candidate cells, one round per element of ``rounds``: a
    (probe-key Column, cover) pair where ``cover(qlat, qlon)`` returns
    (candidate cell keys, certified radius in m — no point outside
    those cells lies closer to the query).

    ALL pending queries run in one pass per round: their (query_id,
    cell) candidate relation is broadcast, one equi-join + one window
    top-k executes distributedly, and a query is done once its kth
    candidate lies within its certified radius (no uncovered point can
    displace it); the rest retry in the next round.  Jobs scale with
    rounds, not with the number of queries.  Queries still pending when
    the rounds run out fall back to the exact :func:`knn.knn_window`.

    ``id_col`` (default: the first column) tie-breaks equal distances
    at the kth boundary and must be unique and orderable, or the
    boundary selection is nondeterministic relative to knn_window.
    Each round re-scans ``points`` (the bounded INTERACTIVE path —
    collects only k x pending rows); pass a ``.cache()``-d points
    DataFrame when several rounds are expected.

    Output: (query_id, rank, dist_m, *points.columns)."""
    spark = points.sparkSession
    answers: dict[str, list] = {}
    pending = list(queries)
    for key, cover in rounds:
        if not pending:
            break
        rel = []
        certified = {}
        for qid, qlat, qlon in pending:
            cells, certified[qid] = cover(qlat, qlon)
            rel.extend((qid, qlat, qlon, int(c)) for c in cells)
        cells_df = local_frame(
            spark, rel, "query_id string, qlat double, qlon double, cell_key long"
        )
        cand = candidate_join(
            points, key, F.broadcast(cells_df), lat_col, lon_col
        )
        topk = top_k(cand, k, id_col or points.columns[0]).collect()
        by_query: dict[str, list] = {}
        for row in sorted(topk, key=lambda r: r["rank"]):
            by_query.setdefault(row["query_id"], []).append(row)
        still = []
        for q in pending:
            rows = by_query.get(q[0], [])
            if len(rows) >= k and rows[k - 1]["dist_m"] <= certified[q[0]]:
                answers[q[0]] = rows
            else:
                still.append(q)
        pending = still

    if pending:  # rounds exhausted: exact window fallback for the leftovers
        from .knn import knn_window

        fb = knn_window(
            points, pending, k, lat_col=lat_col, lon_col=lon_col
        ).collect()
        for row in sorted(fb, key=lambda r: (r["query_id"], r["rank"])):
            answers.setdefault(row["query_id"], []).append(row)

    results = []
    for qid, _, _ in queries:
        for rank, row in enumerate(answers.get(qid, []), start=1):
            results.append(
                (qid, rank, row["dist_m"], *[row[c] for c in points.columns])
            )
    schema_cols = ", ".join(
        ["query_id string", "rank int", "dist_m double"]
        + [
            f"`{c}` {points.schema[c].dataType.simpleString()}"
            for c in points.columns
        ]
    )
    return local_frame(spark, results, schema_cols)


def candidate_join(
    points: DataFrame,
    key: Column,
    cells: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Points meet their queries' candidate ``cells`` (query_id, qlat,
    qlon, ..., cell_key): equi-join on the probe ``key`` (a Python-UDF
    key stays inside the join, so it is evaluated once per point), then
    the native haversine ``dist_m`` to the query.  Shared by the kNN
    round loop and every bulk kNN / radius join."""
    dist = C.haversine(
        F.col(lat_col), F.col(lon_col), F.col("qlat"), F.col("qlon")
    )
    return (
        points.join(cells, key == F.col("cell_key"), "inner")
        .drop("cell_key")
        .withColumn("dist_m", dist)
    )


def top_k(candidates: DataFrame, k: int, id_col: str) -> DataFrame:
    """Window top-k PER QUERY (partitionBy(query_id), never a global
    sort) by ``dist_m``, ties broken by ``id_col``; adds ``rank``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_m").asc(), F.col(id_col).asc()
    )
    return candidates.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def within_radius(
    candidates: DataFrame,
    center_lat: float,
    center_lon: float,
    radius_m: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Exact tail of every single-center radius join: native haversine
    ``dist_m`` to the center on the cell-pruned ``candidates``, keep
    ``dist_m <= radius_m`` (no Python)."""
    dist = C.haversine(
        F.col(lat_col), F.col(lon_col), F.lit(center_lat), F.lit(center_lon)
    )
    return candidates.withColumn("dist_m", dist).where(
        F.col("dist_m") <= F.lit(radius_m)
    )


def radius_join_cells(
    points: DataFrame,
    key: Column,
    cells: Iterable[int],
    center_lat: float,
    center_lon: float,
    radius_m: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Points within ``radius_m`` of one center: broadcast the covering
    ``cells`` of the circle, equi-join on the probe ``key``, then the
    exact :func:`within_radius` tail.  Output = input columns +
    dist_m."""
    spark = points.sparkSession
    cells_df = local_frame(spark, [(int(c),) for c in cells], "cell_key long")
    candidates = points.join(
        F.broadcast(cells_df), key == F.col("cell_key"), "inner"
    ).drop("cell_key")
    return within_radius(
        candidates, center_lat, center_lon, radius_m, lat_col, lon_col
    )

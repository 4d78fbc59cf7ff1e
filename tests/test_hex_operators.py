"""Hexgrid join operators vs brute force: radius join (single + bulk),
k-ring kNN, heatmap — recall is the covering guarantee under test, so
every operator is compared against exhaustive haversine."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geogeometry_spark.kernels import geometry as kgeo
from geogeometry_spark.operators import hex_join as HJ

BERLIN = (52.530888, 13.394904)


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(5)
    n = 30000
    lat = np.round(rng.uniform(-85, 85, n), 3)
    lon = np.round(rng.uniform(-175, 175, n), 3)
    # hot cluster near Berlin (the testdata's hot-cell shape)
    lat[:6000] = np.round(52.450 + rng.uniform(0, 0.12, 6000), 3)
    lon[:6000] = np.round(13.350 + rng.uniform(0, 0.08, 6000), 3)
    pdf = pd.DataFrame(
        {"doc_id": [str(i) for i in range(n)], "lat": lat, "lon": lon}
    )
    df = spark.createDataFrame(pdf).cache()
    df.count()
    yield df, lat, lon
    df.unpersist()


def _brute_within(lat, lon, qlat, qlon, radius):
    d = np.array(
        [kgeo.haversine_scalar(qlat, qlon, a, b) for a, b in zip(lat, lon)]
    )
    return set(str(i) for i in np.where(d <= radius)[0])


def test_hex_radius_join_matches_brute_force(points):
    df, lat, lon = points
    out = HJ.hex_radius_join(df, BERLIN[0], BERLIN[1], 4000.0)
    got = set(r["doc_id"] for r in out.select("doc_id").collect())
    assert got == _brute_within(lat, lon, BERLIN[0], BERLIN[1], 4000.0)
    assert len(got) > 0


def test_hex_radius_join_explicit_res(points):
    df, lat, lon = points
    out = HJ.hex_radius_join(df, BERLIN[0], BERLIN[1], 4000.0, res=9)
    got = set(r["doc_id"] for r in out.select("doc_id").collect())
    assert got == _brute_within(lat, lon, BERLIN[0], BERLIN[1], 4000.0)


def test_hex_radius_join_bulk_matches_brute_force(points):
    df, lat, lon = points
    rng = np.random.default_rng(9)
    qs = [
        (
            f"q{i}",
            float(rng.uniform(-84, 84)),
            float(rng.uniform(-175, 175)),
            float(rng.uniform(1000, 150000)),
        )
        for i in range(25)
    ]
    qs.append(("qpolar", 84.9, 10.0, 50000.0))
    qdf = df.sparkSession.createDataFrame(
        qs, "query_id string, qlat double, qlon double, radius_m double"
    )
    res = HJ.hex_radius_join_bulk(df, qdf).select("query_id", "doc_id")
    got = {}
    for row in res.collect():
        got.setdefault(row["query_id"], set()).add(row["doc_id"])
    for qid, qlat, qlon, radius in qs:
        assert got.get(qid, set()) == _brute_within(lat, lon, qlat, qlon, radius), qid


def test_hex_radius_join_bulk_explicit_res_drops_polar(points, spark):
    # with an explicit fine res, a polar query needing k > max_k is
    # EXCLUDED (count-observable) rather than silently under-served
    df, lat, lon = points
    qdf = spark.createDataFrame(
        [("qp", 84.9, 10.0, 200000.0), ("qb", BERLIN[0], BERLIN[1], 4000.0)],
        "query_id string, qlat double, qlon double, radius_m double",
    )
    out = HJ.hex_radius_join_bulk(df, qdf, res=9, max_k=8)
    qids = set(r["query_id"] for r in out.select("query_id").collect())
    assert "qp" not in qids
    assert "qb" in qids


def test_hex_knn_matches_brute_force(points):
    df, lat, lon = points
    out = HJ.hex_knn(
        df, [("berlin", *BERLIN), ("remote", -60.0, -120.0)], k=10
    ).toPandas()
    ids = np.array([str(i) for i in range(len(lat))])
    for qid, (qla, qlo) in [("berlin", BERLIN), ("remote", (-60.0, -120.0))]:
        d = np.array(
            [kgeo.haversine_scalar(qla, qlo, a, b) for a, b in zip(lat, lon)]
        )
        want = list(ids[np.lexsort((ids, d))][:10])
        got = list(out[out.query_id == qid].sort_values("rank")["doc_id"])
        assert got == want, qid


def test_hex_heatmap_counts(points):
    df, lat, lon = points
    hm = HJ.hex_heatmap(df, [3, 6]).toPandas()
    n = len(lat)
    assert hm[hm.res == 3]["n"].sum() == n
    assert hm[hm.res == 6]["n"].sum() == n
    # finer res has at least as many occupied cells
    assert len(hm[hm.res == 6]) >= len(hm[hm.res == 3])


def test_bulk_join_plan_is_broadcast_no_points_shuffle(points, spark):
    # the exploded query side must broadcast (auto-probe); the points
    # side must reach the join without an Exchange
    df, _, _ = points
    qdf = spark.createDataFrame(
        [("q0", BERLIN[0], BERLIN[1], 4000.0)],
        "query_id string, qlat double, qlon double, radius_m double",
    )
    out = HJ.hex_radius_join_bulk(df, qdf)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_write_hex_sorted_prunes_partitions(points, spark, tmp_path):
    from geogeometry_spark.operators.hex_join import (
        hex_radius_join_stored,
        write_hex_sorted,
    )

    df, lat, lon = points
    path = str(tmp_path / "hex_sorted")
    write_hex_sorted(df, path, res=9, partition_res=2)
    stored = spark.read.parquet(path)
    out = hex_radius_join_stored(
        stored, BERLIN[0], BERLIN[1], 4000.0, res=9, partition_res=2
    )
    got = set(r["doc_id"] for r in out.select("doc_id").collect())
    assert got == _brute_within(lat, lon, BERLIN[0], BERLIN[1], 4000.0)
    # directory pruning: the partition IN-list must reach the scan as
    # PartitionFilters (planned, not post-filtered)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # directory INSET on hex_part AND pushed row-filter on hex_id both
    # reach the scan (the plan string truncates long IN-lists, so match
    # the prefixes)
    assert "PartitionFilters: [hex_part" in plan
    assert "In(hex_id" in plan


def test_hex_pip_join_matches_geohash_family(points, spark):
    from geogeometry_spark.functions.columns import geohash_interleaved
    from geogeometry_spark.operators.hex_join import hex_pip_join
    from geogeometry_spark.operators.pip_join import pip_join

    df, _, _ = points
    hexed = hex_pip_join(df).select("doc_id", "polygon_id").collect()
    gh = (
        pip_join(
            df.withColumn(
                "cell_id",
                geohash_interleaved(F.col("lat"), F.col("lon"), 12),
            )
        )
        .select("doc_id", "polygon_id")
        .collect()
    )
    assert set(map(tuple, hexed)) == set(map(tuple, gh))


def test_hex_knn_bulk_guaranteed_rows_match_brute_force(points, spark):
    # rows flagged guaranteed must be the exact top-k; the fixed-ring
    # margin may under-fill sparse queries (callers re-run via hex_knn)
    df, lat, lon = points
    qs = spark.createDataFrame(
        [("qb", BERLIN[0], BERLIN[1]), ("q0", 0.0, 0.0)],
        "query_id string, qlat double, qlon double",
    )
    out = HJ.hex_knn_bulk(df, qs, k=5, res=7, ring=2).toPandas()
    ids = np.array([str(i) for i in range(len(lat))])
    for qid, qla, qlo in [("qb", *BERLIN), ("q0", 0.0, 0.0)]:
        rows = out[out.query_id == qid].sort_values("rank")
        if len(rows) == 5 and rows["guaranteed"].all():
            d = np.array(
                [kgeo.haversine_scalar(qla, qlo, a, b) for a, b in zip(lat, lon)]
            )
            want = list(ids[np.lexsort((ids, d))][:5])
            assert list(rows["doc_id"]) == want, qid
    # the dense Berlin query must be fully guaranteed at ring 2 / res 7
    qb = out[out.query_id == "qb"]
    assert len(qb) == 5 and qb["guaranteed"].all()


def test_cell_col_requires_explicit_res(points):
    df, _, _ = points
    with pytest.raises(ValueError, match="explicit res"):
        HJ.hex_radius_join(
            df, BERLIN[0], BERLIN[1], 4000.0, cell_col="some_col"
        )
    qdf = df.sparkSession.createDataFrame(
        [("q", BERLIN[0], BERLIN[1], 4000.0)],
        "query_id string, qlat double, qlon double, radius_m double",
    )
    with pytest.raises(ValueError, match="explicit res"):
        HJ.hex_radius_join_bulk(df, qdf, cell_col="some_col")


def test_bulk_join_no_duplicates_at_wrapping_res(points, spark):
    # res 0 has only 16 q-columns: a big-radius query's disk wraps and
    # distinct (dq, dr) offsets collide on the same cell — output pairs
    # must still be unique (the candidate dedup is load-bearing)
    df, lat, lon = points
    qdf = spark.createDataFrame(
        [("q", 81.0, 10.0, 750000.0)],
        "query_id string, qlat double, qlon double, radius_m double",
    )
    out = HJ.hex_radius_join_bulk(df, qdf, res=0, max_k=12).select(
        "query_id", "doc_id"
    )
    rows = [tuple(r) for r in out.collect()]
    assert len(rows) == len(set(rows))
    assert set(r[1] for r in rows) == _brute_within(
        lat, lon, 81.0, 10.0, 750000.0
    )


def test_pip_joins_reject_cell_col_without_res(points):
    from geogeometry_spark.operators.hex_join import hex_pip_join

    df, _, _ = points
    with pytest.raises(ValueError, match="explicit res"):
        hex_pip_join(df, cell_col="some_col")
    with pytest.raises(ValueError, match="explicit res"):
        hex_pip_join(df, cell_col="some_col", how="left_semi")

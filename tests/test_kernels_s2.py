"""S2 cell index: kernel invariants + native Column parity + scan pruning.

The reference library has no S2 (its indexes are geohash + slippy
tiles); the S2 family implements the north-rule's "H3/S2 index" from
the published algorithm (see kernels/s2.py docstring).  With no
reference vectors to pin, correctness rests on (a) the algebraic
invariants of the scheme (roundtrips, hierarchy, Hilbert continuity),
(b) the well-known face-cell tokens, and (c) three-way agreement
between the numpy kernel, the native Spark Column fold, and the DuckDB
CTE twin (the driver gate re-checks the latter at sf0.01).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geogeometry_spark.functions import s2cell as S2
from geogeometry_spark.kernels import s2 as K

RNG = np.random.default_rng(4242)
LAT = RNG.uniform(-89.99, 89.99, 5000)
LON = RNG.uniform(-180.0, 180.0, 5000)


# --------------------------------------------------------------------------
# kernel invariants
# --------------------------------------------------------------------------

def test_face_cardinal_points():
    cases = [
        ((0.0, 0.0), 0),
        ((0.0, 90.0), 1),
        ((90.0, 0.0), 2),
        ((0.0, 179.999), 3),
        ((0.0, -179.999), 3),
        ((0.0, -90.0), 4),
        ((-90.0, 0.0), 5),
    ]
    for (lat, lon), face in cases:
        x, y, z = K.xyz_from_latlng(lat, lon)
        assert K.face_from_xyz(x, y, z)[0] == face, (lat, lon)


def test_face_level0_tokens_are_canonical():
    # the six face cells have the well-known tokens 1,3,5,7,9,b
    pts = [(0, 0), (0, 90), (90, 0), (0, 180), (0, -90), (-90, 0)]
    toks = [K.token(K.cell_id(la, lo, 0))[0] for la, lo in pts]
    assert toks == ["1", "3", "5", "7", "9", "b"]


def test_leaf_center_roundtrip():
    leaf = K.cell_id(LAT, LON, 30)
    clat, clng = K.center_latlng(leaf)
    assert np.array_equal(K.cell_id(clat, clng, 30), leaf)


@pytest.mark.parametrize("level", [0, 1, 4, 9, 15, 22, 29])
def test_level_truncation_center_and_containment(level):
    leaf = K.cell_id(LAT, LON, 30)
    cell = K.cell_id(LAT, LON, level)
    assert np.all(K.level(cell) == level)
    # parent-of-leaf == direct encode at that level
    assert np.array_equal(K.parent(leaf, level), cell)
    # every leaf sits inside its ancestor's leaf range
    assert np.all(K.contains(cell, leaf))
    # the cell center re-encodes to the same cell
    clat, clng = K.center_latlng(cell)
    assert np.array_equal(K.cell_id(clat, clng, level), cell)


def test_children_partition_parent_range_in_curve_order():
    cell = K.cell_id(LAT[:300], LON[:300], 11)
    ch = K.children(cell)
    assert ch.shape == (300, 4)
    assert np.all(K.level(ch.ravel()) == 12)
    assert np.array_equal(K.range_min(ch[:, 0]), K.range_min(cell))
    assert np.array_equal(K.range_max(ch[:, 3]), K.range_max(cell))
    # contiguous, non-overlapping: leaf ids are odd (lsb=1), so the next
    # child's first leaf is exactly 2 above the previous child's last
    for k in range(3):
        assert np.array_equal(
            K.sortable(K.range_max(ch[:, k])) + 2,
            K.sortable(K.range_min(ch[:, k + 1])),
        )


def test_hilbert_locality_neighbor_leaves_are_adjacent_ids():
    """Consecutive i along a row inside one 4x4 block stays within the
    block's id range (the lookup processes 4 levels at once)."""
    face = np.zeros(64, dtype=np.int64)
    i = np.arange(64, dtype=np.int64)
    j = np.zeros(64, dtype=np.int64)
    ids = K.cell_id_from_face_ij(face, i, j, 30)
    assert len(np.unique(ids)) == 64  # injective


def test_token_roundtrip_and_shape():
    leaf = K.cell_id(LAT[:500], LON[:500], 30)
    toks = K.token(leaf)
    assert np.array_equal(K.token_to_id(toks), leaf)
    lvl4 = K.parent(leaf, 4)
    toks4 = K.token(lvl4)
    # a level-l token has ceil((3 + 2l + 1) / 4) significant nibbles
    assert max(len(t) for t in toks4) <= 3
    assert np.array_equal(K.token_to_id(toks4), lvl4)


def test_sortable_matches_unsigned_order():
    leaf = K.cell_id(LAT, LON, 30)
    uns = leaf.view(np.uint64)
    order_u = np.argsort(uns, kind="stable")
    order_s = np.argsort(K.sortable(leaf), kind="stable")
    assert np.array_equal(order_u, order_s)


def test_faces_4_5_wrap_negative_but_range_still_nests():
    m = K.cell_id(LAT, LON, 30) < 0  # faces 4-5
    assert m.any()
    leaf = K.cell_id(LAT[m], LON[m], 30)
    anc = K.parent(leaf, 3)
    assert np.all(K.contains(anc, leaf))


def test_poles():
    for la, lo in ((90.0, 0.0), (-90.0, 0.0), (89.9999, 45.0), (-89.9999, -120.0)):
        c = K.cell_id(la, lo, 30)
        clat, clng = K.center_latlng(c)
        assert K.cell_id(clat, clng, 30)[0] == c[0]


def test_quadratic_st_is_exact_inverse():
    u = RNG.uniform(-1, 1, 10000)
    s = K.st_from_uv(u)
    assert np.allclose(K.uv_from_st(s), u, atol=1e-15)
    assert np.all((s >= 0) & (s <= 1))


# --------------------------------------------------------------------------
# native Column parity
# --------------------------------------------------------------------------

def test_native_column_matches_kernel(spark):
    import pandas as pd

    pdf = pd.DataFrame({"lat": LAT[:2000], "lon": LON[:2000]})
    df = spark.createDataFrame(pdf)
    for level in (30, 12, 4):
        got = np.array(
            [
                r[0]
                for r in df.select(
                    S2.s2_cell_id(F.col("lat"), F.col("lon"), level)
                ).collect()
            ]
        )
        assert np.array_equal(got, K.cell_id(LAT[:2000], LON[:2000], level)), level


def test_native_parent_token_sortable_match_kernel(spark):
    import pandas as pd

    pdf = pd.DataFrame({"lat": LAT[:1000], "lon": LON[:1000]})
    df = spark.createDataFrame(pdf).withColumn(
        "leaf", S2.s2_cell_id(F.col("lat"), F.col("lon"), 30)
    )
    rows = df.select(
        S2.s2_parent(F.col("leaf"), 10).alias("p10"),
        S2.s2_token(F.col("leaf")).alias("tok"),
        S2.s2_sortable(F.col("leaf")).alias("srt"),
        S2.s2_range_min(S2.s2_parent(F.col("leaf"), 10), 10).alias("rmin"),
        S2.s2_range_max(S2.s2_parent(F.col("leaf"), 10), 10).alias("rmax"),
    ).collect()
    leaf = K.cell_id(LAT[:1000], LON[:1000], 30)
    p10 = K.parent(leaf, 10)
    assert np.array_equal(np.array([r.p10 for r in rows]), p10)
    assert list(K.token(leaf)) == [r.tok for r in rows]
    assert np.array_equal(np.array([r.srt for r in rows]), K.sortable(leaf))
    assert np.array_equal(np.array([r.rmin for r in rows]), K.range_min(p10))
    assert np.array_equal(np.array([r.rmax for r in rows]), K.range_max(p10))


def test_native_encode_is_single_stage_no_shuffle(spark):
    """The whole encode must be a project over the scan — no exchange,
    no python worker (BatchEvalPython/ArrowEvalPython) in the plan."""
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"lat": LAT[:10], "lon": LON[:10]}))
    plan = df.select(
        S2.s2_cell_id(F.col("lat"), F.col("lon"), 16).alias("c")
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_s2_range_scan_prunes_sorted_parquet(spark, tmp_path):
    """Leaf-sorted parquet + the sortable BETWEEN predicate: the scan
    must push the range down (PushedFilters on the sort column), the
    S2 analogue of the geohash-prefix range scan."""
    import pandas as pd

    pdf = pd.DataFrame({"lat": LAT, "lon": LON})
    df = (
        spark.createDataFrame(pdf)
        .withColumn("s2_30", S2.s2_cell_id(F.col("lat"), F.col("lon"), 30))
        .withColumn("s2_sort", S2.s2_sortable(F.col("s2_30")))
    )
    path = str(tmp_path / "s2sorted.parquet")
    df.repartitionByRange(8, "s2_sort").sortWithinPartitions(
        "s2_sort"
    ).write.parquet(path)

    target = K.cell_id(LAT[0], LON[0], 6)
    lo = int(K.sortable(K.range_min(target))[0])
    hi = int(K.sortable(K.range_max(target))[0])
    scan = spark.read.parquet(path).where(F.col("s2_sort").between(lo, hi))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "s2_sort" in plan.split("PushedFilters")[1][:200]
    got = {r.s2_30 for r in scan.collect()}
    exp = {
        int(c)
        for c in K.cell_id(LAT, LON, 30)[
            np.asarray(K.contains(target, K.cell_id(LAT, LON, 30)))
        ]
    }
    assert got == exp


# --------------------------------------------------------------------------
# cap covering + radius join through the S2 index
# --------------------------------------------------------------------------

BERLIN = (52.530888, 13.394904)


def _hav_m(lat1, lon1, lat2, lon2):
    R = 6371000.0
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (
        np.sin((p2 - p1) / 2) ** 2
        + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    )
    return 2 * R * np.arcsin(np.sqrt(a))


@pytest.mark.parametrize("radius_m", [500.0, 4000.0, 50_000.0, 2_000_000.0])
def test_cap_covering_is_conservative(radius_m):
    lat0, lon0 = BERLIN
    level = K.suitable_level(radius_m)
    ids, interior = K.cap_covering(lat0, lon0, radius_m, level)
    assert 1 <= len(ids) <= 2000
    assert np.all(K.level(ids) == level)
    # every point inside the cap lands in a covering cell
    span = np.degrees(radius_m / 6371000.0) * 2.0
    la = RNG.uniform(max(lat0 - span, -90), min(lat0 + span, 90), 5000)
    lo = (lon0 + RNG.uniform(-span, span, 5000) + 180.0) % 360.0 - 180.0
    inside = _hav_m(lat0, lon0, la, lo) <= radius_m
    if inside.any():
        cells = K.cell_id(la[inside], lo[inside], level)
        assert np.all(np.isin(cells, ids))
    # interior cells: centers at least (radius - circumradius-ish) within
    if interior.any():
        cl, cg = K.center_latlng(ids[interior])
        assert np.all(_hav_m(lat0, lon0, cl, cg) <= radius_m)


def test_cap_covering_polar_cap_spans_faces():
    ids, interior = K.cap_covering(89.9, 0.0, 300_000.0)
    # a polar cap touches the 4 side faces around face 2's corner area
    faces = set(int(f) for f in np.asarray(K.face_ij_from_cell_id(ids)[0]))
    assert 2 in faces and len(ids) >= 4


def test_s2_radius_join_matches_brute_force(spark):
    import pandas as pd

    from geogeometry_spark.operators.s2_join import s2_radius_join

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(4000),
            "lat": np.concatenate(
                [RNG.uniform(52.3, 52.8, 2000), RNG.uniform(-89, 89, 2000)]
            ),
            "lon": np.concatenate(
                [RNG.uniform(13.1, 13.7, 2000), RNG.uniform(-180, 180, 2000)]
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    out = s2_radius_join(df, BERLIN[0], BERLIN[1], 4000.0)
    got = {r.doc_id for r in out.select("doc_id").collect()}
    exp = set(
        pdf.doc_id[
            _hav_m(BERLIN[0], BERLIN[1], pdf.lat.to_numpy(), pdf.lon.to_numpy())
            <= 4000.0
        ]
    )
    assert got == exp and len(exp) > 0


def test_s2_radius_join_plan_is_broadcast_no_points_shuffle(spark, tmp_path):
    import pandas as pd

    from geogeometry_spark.operators.s2_join import s2_radius_join

    path = str(tmp_path / "pts.parquet")
    spark.createDataFrame(
        pd.DataFrame({"lat": LAT[:100], "lon": LON[:100]})
    ).write.parquet(path)
    df = spark.read.parquet(path)
    plan = (
        s2_radius_join(df, BERLIN[0], BERLIN[1], 4000.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # the encode is the sanctioned Arrow-batched hot path, never per-row
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    # the only Exchange is the broadcast of the covering relation
    import re

    exchanges = re.findall(r"Exchange \w+", plan)
    assert all("Broadcast" in e or "SinglePartition" in e for e in exchanges), plan


def test_s2_knn_matches_brute_force_multi_query(spark):
    import pandas as pd

    from geogeometry_spark.operators.s2_join import s2_knn

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(3000),
            "lat": np.concatenate(
                [RNG.uniform(52.3, 52.8, 1500), RNG.uniform(-89, 89, 1500)]
            ),
            "lon": np.concatenate(
                [RNG.uniform(13.1, 13.7, 1500), RNG.uniform(-180, 180, 1500)]
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    queries = [
        ("berlin", BERLIN[0], BERLIN[1]),     # dense: first rounds suffice
        ("pacific", -30.0, -140.0),            # sparse: forces cap doubling
    ]
    out = s2_knn(df, queries, k=7, r0_m=500.0, max_rounds=12).collect()
    la, lo = pdf.lat.to_numpy(), pdf.lon.to_numpy()
    for qid, qlat, qlon in queries:
        d = _hav_m(qlat, qlon, la, lo)
        order = np.lexsort((pdf.doc_id.to_numpy(), d))[:7]
        exp = [(int(pdf.doc_id[i]), round(float(d[i]), 6)) for i in order]
        got = sorted(
            [
                (r.doc_id, round(r.dist_m, 6))
                for r in out
                if r.query_id == qid
            ],
            key=lambda t: t[1],
        )
        assert got == exp, qid


def test_null_and_nan_coords_yield_null_ids_not_fabricated_cells(spark):
    import pandas as pd

    from geogeometry_spark.functions.udfs import s2_cell_udf

    pdf = pd.DataFrame(
        {
            "lat": [52.5, None, float("nan"), 10.0],
            "lon": [13.4, 10.0, 20.0, None],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = df.select(
        s2_cell_udf(30)(F.col("lat"), F.col("lon")).alias("u"),
        S2.s2_cell_id(F.col("lat"), F.col("lon"), 30).alias("n"),
    ).collect()
    assert rows[0].u is not None and rows[0].u == rows[0].n
    for r in rows[1:]:
        assert r.u is None and r.n is None


# --------------------------------------------------------------------------
# polygon covering + PIP join through the S2 index
# --------------------------------------------------------------------------

def _fixture_rings(pid):
    from geogeometry_spark.fixtures import polygons_np

    return polygons_np(None)[pid]


@pytest.mark.parametrize(
    "pid", ["berlin_big_ring", "berlin_small_ring", "berlin_concave"]
)
def test_polygon_covering_conservative_vs_reference_contains(pid):
    from geogeometry_spark.kernels import geometry as kgeo

    rings = _fixture_rings(pid)
    outer = rings[0]
    ids, border, lvl = K.polygon_covering(rings)
    assert 1 <= len(ids) <= 1000
    rng = np.random.default_rng(11)
    la = rng.uniform(outer[:, 1].min() - 0.01, outer[:, 1].max() + 0.01, 40000)
    lo = rng.uniform(outer[:, 0].min() - 0.01, outer[:, 0].max() + 0.01, 40000)
    inside = kgeo.polygon_contains(la, lo, outer)
    for h in rings[1:]:
        inside &= ~kgeo.polygon_contains(la, lo, h)
    # conservativeness vs the REFERENCE's (onSegment-fattened) contains
    assert np.isin(K.cell_id(la[inside], lo[inside], lvl), ids).all()
    # interior cells need no re-check: every point in them is contained
    if (~border).any():
        m = np.isin(K.cell_id(la, lo, lvl), ids[~border])
        assert inside[m].all()


def test_polygon_covering_hole_semantics():
    from geogeometry_spark.kernels import geometry as kgeo

    t = np.linspace(0, 2 * np.pi, 33)
    outer = np.stack([13.40 + 0.02 * np.cos(t), 52.52 + 0.012 * np.sin(t)], axis=1)
    hole = np.stack(
        [13.40 + 0.007 * np.cos(t[::-1]), 52.52 + 0.004 * np.sin(t[::-1])], axis=1
    )
    ids, border, lvl = K.polygon_covering([outer, hole])
    rng = np.random.default_rng(12)
    la = rng.uniform(52.50, 52.54, 60000)
    lo = rng.uniform(13.37, 13.43, 60000)
    inside = kgeo.polygon_contains(la, lo, outer) & ~kgeo.polygon_contains(
        la, lo, hole
    )
    assert np.isin(K.cell_id(la[inside], lo[inside], lvl), ids).all()
    if (~border).any():
        m = np.isin(K.cell_id(la, lo, lvl), ids[~border])
        assert inside[m].all()
    # the hole's interior core must NOT be fully covered (cells wholly
    # inside the hole are pruned)
    hole_core = K.cell_id(52.52, 13.40, lvl)
    assert hole_core[0] not in set(int(i) for i in ids) or border[
        np.where(ids == hole_core[0])[0][0]
    ]


def test_polygon_covering_rejects_polar_and_antimeridian():
    polar = np.array([[0.0, 89.8], [1.0, 89.8], [0.5, 89.9], [0.0, 89.8]])
    with pytest.raises(ValueError):
        K.polygon_covering([polar])
    crossing = np.array(
        [[179.0, 0.0], [-179.0, 0.0], [-179.0, 1.0], [179.0, 1.0], [179.0, 0.0]]
    )
    with pytest.raises(ValueError):
        K.polygon_covering([crossing])


def test_s2_pip_join_matches_geohash_pip_join(spark):
    import pandas as pd

    from geogeometry_spark.functions import columns as C
    from geogeometry_spark.operators.pip_join import pip_join
    from geogeometry_spark.operators.s2_join import s2_pip_join

    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(3000),
            "lat": np.concatenate(
                [RNG.uniform(52.50, 52.56, 2000), RNG.uniform(-89, 89, 1000)]
            ),
            "lon": np.concatenate(
                [RNG.uniform(13.37, 13.42, 2000), RNG.uniform(-180, 180, 1000)]
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        (r.doc_id, r.polygon_id)
        for r in s2_pip_join(df).select("doc_id", "polygon_id").collect()
    }
    gh = df.withColumn(
        "cell_id", C.geohash_interleaved(F.col("lat"), F.col("lon"), 12)
    )
    exp = {
        (r.doc_id, r.polygon_id)
        for r in pip_join(gh).select("doc_id", "polygon_id").collect()
    }
    assert got == exp and len(exp) > 0


def test_multipolygon_covering_union_semantics():
    from geogeometry_spark.kernels import geometry as kgeo

    a = _fixture_rings("berlin_big_ring")
    b = _fixture_rings("berlin_concave")
    level = 14
    ids, border, _ = K.multipolygon_covering([a, b], level)
    ia, ba, _ = K.polygon_covering(a, level=level)
    ib, bb, _ = K.polygon_covering(b, level=level)
    assert set(map(int, ids)) == set(map(int, ia)) | set(map(int, ib))
    # a cell interior to either member is interior in the union
    interior_union = set(map(int, ia[~ba])) | set(map(int, ib[~bb]))
    assert set(map(int, ids[~border])) == interior_union


def test_write_s2_sorted_prunes_directories_and_row_groups(spark, tmp_path):
    import pandas as pd

    from geogeometry_spark.operators.s2_join import write_s2_sorted

    pdf = pd.DataFrame({"doc_id": np.arange(5000), "lat": LAT, "lon": LON})
    path = str(tmp_path / "s2_layout.parquet")
    write_s2_sorted(spark.createDataFrame(pdf), path)

    target = K.cell_id(LAT[0], LON[0], 6)
    part = int(K.sortable(K.parent(target, 4))[0])
    lo = int(K.sortable(K.range_min(target))[0])
    hi = int(K.sortable(K.range_max(target))[0])
    scan = (
        spark.read.parquet(path)
        .where(F.col("s2_part") == part)
        .where(F.col("s2_sort").between(lo, hi))
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "s2_part" in plan.split("PartitionFilters")[1][:300]
    got = {r.doc_id for r in scan.collect()}
    exp = {
        int(d)
        for d in pdf.doc_id[np.asarray(K.contains(target, K.cell_id(LAT, LON, 30)))]
    }
    assert got == exp and len(exp) > 0


def test_polygon_covering_high_latitude():
    """Regression: the old corner-latitude reject pruned the polar face
    (corners at ±35.26°, interior to the pole) for any polygon above
    ~70.6°, silently returning an empty covering."""
    from geogeometry_spark.kernels import geometry as kgeo

    for latc in (72.0, 80.0, 88.0):
        t = np.linspace(0, 2 * np.pi, 33)
        span = 0.03 / np.cos(np.radians(latc))
        outer = np.stack(
            [30.0 + span * np.cos(t), latc + 0.02 * np.sin(t)], axis=1
        )
        ids, border, lvl = K.polygon_covering([outer])
        assert len(ids) > 0, latc
        rng = np.random.default_rng(7)
        la = rng.uniform(latc - 0.03, latc + 0.03, 10000)
        lo = rng.uniform(30.0 - span - 0.01, 30.0 + span + 0.01, 10000)
        inside = kgeo.polygon_contains(la, lo, outer)
        assert np.isin(K.cell_id(la[inside], lo[inside], lvl), ids).all(), latc


def test_s2_pip_join_mixed_polygon_sizes(spark):
    """Regression: a set mixing a tiny and a huge polygon must clamp
    the common level instead of blowing the covering's cell cap."""
    import pandas as pd

    from geogeometry_spark.kernels import geometry as kgeo
    from geogeometry_spark.operators.s2_join import s2_pip_join

    t = np.linspace(0, 2 * np.pi, 33)
    tiny = [
        np.stack(
            [13.40 + 0.001 * np.cos(t), 52.52 + 0.0006 * np.sin(t)], axis=1
        ).tolist()
    ]
    huge = [
        np.stack([13.0 + 3.0 * np.cos(t), 52.0 + 2.0 * np.sin(t)], axis=1).tolist()
    ]
    polys = {"tiny": tiny, "huge": huge}
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(1500),
            "lat": RNG.uniform(49.5, 54.5, 1500),
            "lon": RNG.uniform(9.5, 16.5, 1500),
        }
    )
    out = s2_pip_join(spark.createDataFrame(pdf), polys)
    got = {(r.doc_id, r.polygon_id) for r in out.select("doc_id", "polygon_id").collect()}
    la, lo = pdf.lat.to_numpy(), pdf.lon.to_numpy()
    exp = set()
    for pid, rings in polys.items():
        inside = kgeo.polygon_contains(la, lo, np.asarray(rings[0]))
        exp |= {(int(d), pid) for d in pdf.doc_id[inside]}
    assert got == exp and len(exp) > 0


def test_native_encode_infinity_yields_null(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"lat": [float("inf"), 10.0], "lon": [10.0, float("-inf")]})
    )
    rows = df.select(
        S2.s2_cell_id(F.col("lat"), F.col("lon"), 30).alias("n")
    ).collect()
    assert all(r.n is None for r in rows)


def test_s2_radius_join_bulk_matches_brute_force(spark):
    import pandas as pd

    from geogeometry_spark.operators.s2_join import s2_radius_join_bulk

    pts = pd.DataFrame(
        {
            "doc_id": np.arange(3000),
            "lat": np.concatenate(
                [RNG.uniform(52.3, 52.8, 1500), RNG.uniform(-89, 89, 1500)]
            ),
            "lon": np.concatenate(
                [RNG.uniform(13.1, 13.7, 1500), RNG.uniform(-180, 180, 1500)]
            ),
        }
    )
    qs = pd.DataFrame(
        {
            "query_id": ["a", "b", "c"],
            "qlat": [52.5, 52.55, -33.86],
            "qlon": [13.4, 13.45, 151.21],
            "radius_m": [3000.0, 1500.0, 250_000.0],
        }
    )
    out = s2_radius_join_bulk(
        spark.createDataFrame(pts), spark.createDataFrame(qs), level=12,
        max_cells_per_query=65536,  # the 250 km query covers ~15k level-12 cells
    )
    got = {(r.query_id, r.doc_id) for r in out.select("query_id", "doc_id").collect()}
    exp = set()
    for _, q in qs.iterrows():
        d = _hav_m(q.qlat, q.qlon, pts.lat.to_numpy(), pts.lon.to_numpy())
        exp |= {(q.query_id, int(i)) for i in pts.doc_id[d <= q.radius_m]}
    assert got == exp and len(exp) > 0


def test_level_of_sentinel_id_zero_is_minus_one_no_warnings():
    """ADVICE r2: id 0 has no set bit — level() must return -1 cleanly
    (previously np.log2(0) emitted RuntimeWarnings and returned garbage)."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = K.level(np.array([0, int(K.cell_id(52.5, 13.4, 12)[0])]))
    assert out[0] == -1 and out[1] == 12


def test_cap_covering_max_cells_fails_fast():
    """ADVICE r2: an oversized radius relative to the level must raise,
    not silently enumerate O((r/edge)^2) cells."""
    with pytest.raises(ValueError, match="max_cells"):
        K.cap_covering(52.5, 13.4, 250_000.0, level=12, max_cells=4096)
    # the same cap at its suitable level stays well under the cap
    ids, _ = K.cap_covering(52.5, 13.4, 250_000.0)
    assert len(ids) <= 4096


def test_face_ij_orientation_matches_curve_accumulation():
    """ADVICE r2: orientation must carry the canonical non-leaf
    correction.  Independent check: by definition the orientation of a
    cell is (face & SWAP) XOR the accumulated POS_TO_ORIENTATION of its
    2-bit child positions from the root."""
    rng = np.random.default_rng(11)
    lats = rng.uniform(-85, 85, 64)
    lons = rng.uniform(-180, 180, 64)
    for lvl in (0, 1, 2, 7, 15, 29, 30):
        ids = K.parent(K.cell_id(lats, lons, 30), lvl) if lvl < 30 else K.cell_id(lats, lons, 30)
        _, _, _, orient = K.face_ij_from_cell_id(ids)
        for cid, o in zip(np.asarray(ids), np.asarray(orient)):
            u = int(cid) & 0xFFFFFFFFFFFFFFFF
            expect = (u >> 61) & K._SWAP_MASK
            for k in range(1, lvl + 1):
                pos = (u >> (2 * (30 - k) + 1)) & 3
                expect ^= K.POS_TO_ORIENTATION[pos]
            assert int(o) == expect, (hex(u), lvl)


def test_stored_leaf_column_probe_path_native_and_identical(spark):
    """VERDICT r2 item 4: when points carry the stored s2_30 leaf column
    (write_s2_sorted layout), probe keys must come from native bit-math
    s2_parent — zero Python eval in the radius-join plan — and produce
    the identical result set as the lat/lon encode path."""
    import pandas as pd

    from geogeometry_spark.functions.udfs import s2_cell_udf
    from geogeometry_spark.operators.s2_join import s2_radius_join

    pdf = pd.DataFrame({"doc_id": np.arange(4000), "lat": LAT[:4000], "lon": LON[:4000]})
    raw = spark.createDataFrame(pdf)
    stored = raw.withColumn(
        "s2_30", s2_cell_udf(30)(F.col("lat"), F.col("lon"))
    ).localCheckpoint()  # materialize: the stored-layout table

    a = s2_radius_join(raw, 52.5, 13.4, 300_000.0)
    b = s2_radius_join(stored, 52.5, 13.4, 300_000.0)
    got_a = {(r.doc_id, round(r.dist_m, 6)) for r in a.collect()}
    got_b = {(r.doc_id, round(r.dist_m, 6)) for r in b.select(a.columns).collect()}
    assert got_a == got_b

    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_polygon_covering_batch_parity_and_errors():
    """The batched frontier sweep must produce the identical covering
    set per polygon as the single-polygon path, and raise the same
    polar/antimeridian/max_cells errors."""
    rng = np.random.default_rng(42)
    polys = []
    for i in range(150):
        if i % 4 == 0:
            k = int(rng.integers(3, 12))
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(0.005, 0.08, k)
            cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
            ring = np.stack(
                [cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1
            )
            ring = np.vstack([ring, ring[:1]])
        else:
            cx, cy = rng.uniform(-170, 170), rng.uniform(-85, 85)
            hw, hh = rng.uniform(0.002, 0.06, 2)
            ring = np.array(
                [[cx - hw, cy - hh], [cx + hw, cy - hh], [cx + hw, cy + hh],
                 [cx - hw, cy + hh], [cx - hw, cy - hh]]
            )
        polys.append(ring)
    pidx, ids, border = K.polygon_covering_batch(polys, level=13)
    for i, ring in enumerate(polys):
        si, sb, _ = K.polygon_covering([ring], level=13, max_cells=65536)
        m = pidx == i
        assert dict(zip(ids[m].tolist(), border[m].tolist())) == dict(
            zip(si.tolist(), sb.tolist())
        ), f"covering mismatch for polygon {i}"

    with pytest.raises(ValueError, match="polar"):
        K.polygon_covering_batch(
            [np.array([[0, 89.9], [1, 89.9], [1, 89.95], [0, 89.9]])], 10
        )
    with pytest.raises(ValueError, match="antimeridian"):
        K.polygon_covering_batch(
            [np.array([[-170, 0], [170, 0], [170, 1], [-170, 0]])], 10
        )
    with pytest.raises(ValueError, match="max_cells"):
        K.polygon_covering_batch(
            [np.array([[0, 0], [5, 0], [5, 5], [0, 5], [0, 0]])],
            13,
            max_cells=10,
        )
    p, i_, b_ = K.polygon_covering_batch([], 10)
    assert p.size == i_.size == b_.size == 0

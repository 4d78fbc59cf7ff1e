"""Unit tests for operators/hotspot.py (Getis-Ord Gi*) and
operators/cluster.py (grid-bucketed DBSCAN) on hand-built fixtures:
neighbor accounting, hot/cold signs, cell-boundary and antimeridian
adjacency, coincident-point collapse, and the DuckDB twins."""

import math

import pytest

from geogeometry_spark.operators.cluster import (
    dbscan_zoom_for_eps,
    grid_dbscan,
    grid_dbscan_oracle_sql,
)
from geogeometry_spark.operators.hotspot import (
    getis_ord_gi,
    getis_ord_gi_oracle_sql,
)

SCHEMA = "event_id long, user_id long, lat double, lon double"


@pytest.fixture()
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


# --------------------------------------------------------------------------
# Gi*
# --------------------------------------------------------------------------

def test_gi_neighbor_accounting_and_signs(spark):
    # zoom 8: Berlin cell, its east neighbor, and a far cell.
    rows = (
        [(i, 1, 52.52, 13.40) for i in range(5)]          # hot cell: 5
        + [(10, 1, 52.52, 14.80)]                          # east neighbor: 1
        + [(11, 1, -33.90, 151.20)]                        # Sydney: 1
    )
    out = getis_ord_gi(
        spark.createDataFrame(rows, SCHEMA), zoom=8
    ).collect()
    by_cnt = {r.cnt: r for r in out}
    assert len(out) == 3
    hot = by_cnt[5]
    assert (hot.w_n, hot.g_sum) == (2, 6)       # self + east neighbor
    far = [r for r in out if r.cnt == 1 and r.w_n == 1][0]
    assert far.g_sum == 1
    assert hot.gi_r3 > 0 and far.gi_r3 < 0      # hot vs cold sign
    # n=3, xbar=7/3, sdev=sqrt(9-49/9): z = +/- 0.707 by hand
    assert hot.gi_r3 == pytest.approx(0.707, abs=1e-3)
    assert far.gi_r3 == pytest.approx(-0.707, abs=1e-3)


def test_gi_antimeridian_neighbors_wrap(spark):
    # same latitude, straddling lon 180: tiles x=0 and x=2^z-1 must see
    # each other through the pmod wrap.
    rows = [(1, 1, 10.0, 179.9), (2, 1, 10.0, -179.9), (3, 1, 10.0, 0.0)]
    out = getis_ord_gi(spark.createDataFrame(rows, SCHEMA), zoom=8)
    ws = {(r.tx, r.ty): r.w_n for r in out.collect()}
    n = 1 << 8
    seam = [w for (tx, _), w in ws.items() if tx in (0, n - 1)]
    assert seam == [2, 2]                       # each sees the other


def test_gi_degenerate_inputs(spark):
    # single occupied cell -> z undefined (NULL), no crash
    rows = [(1, 1, 52.52, 13.40), (2, 1, 52.52, 13.41)]
    out = getis_ord_gi(spark.createDataFrame(rows, SCHEMA), zoom=8).collect()
    assert len(out) == 1 and out[0].gi_r3 is None
    # two cells with EQUAL counts -> zero variance -> NULL everywhere
    rows = [(1, 1, 52.52, 13.40), (2, 1, -33.90, 151.20)]
    out = getis_ord_gi(spark.createDataFrame(rows, SCHEMA), zoom=8).collect()
    assert [r.gi_r3 for r in out] == [None, None]


def test_gi_matches_duckdb_twin(spark, duck, lattice_edge_cases):
    import pandas as pd

    rows = [
        (i, ((i * 37) % 140) - 70 + 0.5, ((i * 53) % 340) - 170 + 0.5)
        for i in range(300)
    ]
    for rows, zoom in [(rows, 4), *lattice_edge_cases]:
        pdf = pd.DataFrame(
            [r[:3] for r in rows], columns=["event_id", "lat", "lon"]
        )
        duck.register("pts", pdf)
        got = sorted(
            tuple(r) for r in getis_ord_gi(
                spark.createDataFrame(pdf), zoom=zoom
            ).collect()
        )
        want = sorted(
            tuple(r) for r in duck.sql(
                getis_ord_gi_oracle_sql("pts", zoom=zoom)
            ).fetchall()
        )
        assert got == want, zoom


# --------------------------------------------------------------------------
# Moran's I
# --------------------------------------------------------------------------

def test_morans_i_against_dense_matrix(spark):
    # clustered layout: two adjacent hot cells + two adjacent cold
    # cells far away -> positive autocorrelation.  Independent check:
    # dense W matrix + the textbook formula in numpy.
    import numpy as np

    from geogeometry_spark.operators.hotspot import morans_i

    rows = (
        [(i, 1, 52.52, 13.40) for i in range(8)]       # Berlin: 8
        + [(i, 1, 52.52, 14.80) for i in range(8, 14)]  # east nbr: 6
        + [(20, 1, -33.90, 151.20)]                     # Sydney: 1
        + [(21, 1, -33.90, 152.60)]                     # its east nbr: 1
    )
    out = morans_i(spark.createDataFrame(rows, SCHEMA), zoom=8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_cells, r.s0) == (4, 4)  # two adjacent pairs, ordered

    x = np.array([8.0, 6.0, 1.0, 1.0])
    w = np.zeros((4, 4))
    w[0, 1] = w[1, 0] = w[2, 3] = w[3, 2] = 1.0
    n, s0 = 4, w.sum()
    xc = x - x.mean()
    i_ref = (n / s0) * (xc @ w @ xc) / (xc @ xc)
    assert r.moran_i_r6 == pytest.approx(i_ref, abs=1e-6)
    assert r.e_i_r6 == pytest.approx(-1.0 / 3.0, abs=1e-6)
    # normality variance, Cliff & Ord: S1 = 2*S0, S2 = 4*sum(deg^2)
    s1, s2 = 2.0 * s0, 4.0 * float((w.sum(1) ** 2).sum())
    e = -1.0 / (n - 1)
    var = (n * n * s1 - n * s2 + 3 * s0 * s0) / ((n * n - 1) * s0 * s0) - e * e
    assert r.z_r6 == pytest.approx((i_ref - e) / math.sqrt(var), abs=1e-6)
    assert r.moran_i_r6 > 0  # clustered -> positive


def test_morans_i_degenerate_inputs(spark):
    from geogeometry_spark.operators.hotspot import morans_i

    # one occupied cell: statistic undefined, no adjacent pair
    one = morans_i(
        spark.createDataFrame([(1, 1, 10.0, 10.0)], SCHEMA), zoom=8
    ).collect()[0]
    assert (one.n_cells, one.s0) == (1, 0)
    assert one.moran_i_r6 is None and one.z_r6 is None
    # two occupied NON-adjacent cells: s0 = 0 -> undefined
    two = morans_i(
        spark.createDataFrame(
            [(1, 1, 10.0, 10.0), (2, 1, -40.0, 100.0)], SCHEMA
        ),
        zoom=8,
    ).collect()[0]
    assert (two.n_cells, two.s0) == (2, 0)
    assert two.moran_i_r6 is None
    # uniform counts on adjacent cells: zero variance -> undefined
    flat = morans_i(
        spark.createDataFrame(
            [(1, 1, 52.52, 13.40), (2, 1, 52.52, 14.80)], SCHEMA
        ),
        zoom=8,
    ).collect()[0]
    assert flat.s0 == 2 and flat.moran_i_r6 is None


def test_morans_i_matches_duckdb_twin(spark, duck, lattice_edge_cases):
    import pandas as pd

    from geogeometry_spark.operators.hotspot import (
        morans_i,
        morans_i_oracle_sql,
    )

    rows = [
        (i, ((i * 37) % 140) - 70 + 0.5, ((i * 53) % 340) - 170 + 0.5)
        for i in range(300)
    ]
    for rows, zoom in [(rows, 4), *lattice_edge_cases]:
        pdf = pd.DataFrame(
            [r[:3] for r in rows], columns=["event_id", "lat", "lon"]
        )
        duck.register("pts", pdf)
        got = [
            tuple(r)
            for r in morans_i(spark.createDataFrame(pdf), zoom=zoom).collect()
        ]
        want = [
            tuple(r)
            for r in duck.sql(morans_i_oracle_sql("pts", zoom=zoom)).fetchall()
        ]
        assert got == want, zoom


# Spark jobs per call, the result's collect included, on the seeded input
# of test_global_stats_job_budget: each statistic reads all of its
# integers in one driver aggregate over the neighbor sums (join_counts in
# two, since its marks need n and Σx first).  Before that fusion the same
# calls ran 12 / 12 / 12 / 8 / 15 jobs.
GLOBAL_STATS_JOBS = {
    "morans_i": 6,
    "gearys_c": 6,
    "general_g": 6,
    "bivariate_morans_i": 7,
    "join_counts": 9,
}


def test_global_stats_job_budget(spark):
    from pyspark.sql import functions as F

    from geogeometry_spark.operators import hotspot
    from geogeometry_spark.sources.tables import synthetic_fixes

    pts = synthetic_fixes(spark, 100, 30)
    args = {"bivariate_morans_i": (F.col("user_id") % 3 == 0,)}
    sc = spark.sparkContext
    used = {}
    for name in GLOBAL_STATS_JOBS:
        group = f"job-budget-{name}"
        sc.setJobGroup(group, name)
        try:
            getattr(hotspot, name)(pts, *args.get(name, ()), zoom=8).collect()
        finally:
            sc.setJobGroup("", "")
        used[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    over = {k: v for k, v in used.items() if v > GLOBAL_STATS_JOBS[k]}
    assert not over, (used, GLOBAL_STATS_JOBS)


# --------------------------------------------------------------------------
# grid DBSCAN
# --------------------------------------------------------------------------

def test_dbscan_zoom_selection():
    # eps 50 m at full Mercator range -> z16 (611 m equator cells,
    # ~53 m at lat 85.05); eps 5 km -> z9
    assert dbscan_zoom_for_eps(50.0, 85.05112878) == 16
    assert dbscan_zoom_for_eps(5000.0, 45.0) == 12
    assert dbscan_zoom_for_eps(1e9, 0.0) == 0


def test_dbscan_zoom_validation():
    # validation happens before any DataFrame work, so None is fine
    with pytest.raises(ValueError, match="coarser zoom"):
        grid_dbscan(None, eps_m=5000.0, zoom=16)


def test_dbscan_chain_and_singleton(spark):
    # chain A-B-C with ~40 m legs (A-C ~80 m > eps? no: eps-linkage is
    # transitive, so all three join one cluster), plus a far singleton
    # and a coincident duplicate of A that must collapse to A's rep.
    step = 40.0 / 111_194.9
    rows = [
        (1, 1, 52.0, 13.0),
        (2, 1, 52.0 + step, 13.0),
        (3, 1, 52.0 + 2 * step, 13.0),
        (4, 1, 52.0, 13.0),          # coincident with 1
        (9, 1, 55.0, 20.0),          # singleton
    ]
    out = grid_dbscan(
        spark.createDataFrame(rows, SCHEMA), eps_m=50.0
    ).collect()
    lab = {r.event_id: r.cluster_id for r in out}
    assert lab[1] == lab[2] == lab[3] == lab[4] == 1
    assert lab[9] == 9


def test_dbscan_pair_across_cell_boundary_and_seam(spark):
    # pair straddling the antimeridian, ~67 m apart at lat 0: the
    # x-wrap pmod must let tiles 0 and 2^z-1 exchange candidates.
    rows = [
        (1, 1, 0.0, 179.9997),
        (2, 1, 0.0, -179.9997),
        (3, 1, 0.0, 90.0),
    ]
    out = grid_dbscan(
        spark.createDataFrame(rows, SCHEMA), eps_m=70.0
    ).collect()
    lab = {r.event_id: r.cluster_id for r in out}
    assert lab[1] == lab[2] == 1 and lab[3] == 3


def test_dbscan_matches_duckdb_twin(spark, duck):
    import pandas as pd

    # lumpy synthetic: 60 points in 6 lumps of ~30 m spread + noise
    rows = []
    for i in range(90):
        lump = i % 6
        base_lat = 50.0 + lump * 0.01
        base_lon = 13.0 + ((lump * 7) % 5) * 0.01
        if i < 60:
            rows.append(
                (i, lump, base_lat + ((i * 31) % 5) * 1e-4,
                 base_lon + ((i * 17) % 5) * 1e-4)
            )
        else:
            rows.append(
                (i, lump, base_lat + ((i * 13) % 97) * 1e-3,
                 base_lon + ((i * 41) % 89) * 1e-3)
            )
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "lat", "lon"])
    duck.register("pts", pdf)
    got = sorted(
        (r.event_id, r.cluster_id)
        for r in grid_dbscan(
            spark.createDataFrame(pdf), eps_m=60.0
        ).select("event_id", "cluster_id").collect()
    )
    want = sorted(
        tuple(r)
        for r in duck.sql(
            grid_dbscan_oracle_sql(
                "pts", eps_m=60.0, select_cols="k.event_id"
            )
        ).fetchall()
    )
    assert got == want


# --------------------------------------------------------------------------
# co-location join
# --------------------------------------------------------------------------

TSCHEMA = "event_id long, user_id long, ts_sec long, lat double, lon double"


def test_colocation_pairs_and_windows(spark):
    from geogeometry_spark.operators.colocation import colocation_join

    rows = [
        # users 1 and 2: THREE qualifying fix pairs — (1@0, 2@40),
        # (1@3500, 2@40) [dt 3460, crosses nothing], and
        # (1@3500, 2@3700) [dt 200, straddles the tau bucket boundary
        # 3600]; (1@0, 2@3700) has dt 3700 > tau and must NOT count.
        (1, 1, 0, 52.0, 13.0),
        (2, 2, 40, 52.0004, 13.0),        # ~44 m apart
        (3, 1, 3500, 52.0, 13.0),
        (4, 2, 3700, 52.0004, 13.0),
        # user 3: close in space to user 1 but 5 h later -> NO contact
        (5, 3, 18000, 52.0, 13.0),
        # user 4: same time as user 1 but 50 km away -> NO contact
        (6, 4, 10, 52.45, 13.0),
    ]
    out = colocation_join(
        spark.createDataFrame(rows, TSCHEMA),
        eps_m=100.0, tau_s=3600, max_abs_lat=53.0,
    ).collect()
    got = {(r.user_a, r.user_b): (r.n_contacts, r.first_s, r.last_s)
           for r in out}
    assert got == {(1, 2): (3, 0, 3500)}


def test_colocation_counts_each_event_once(spark):
    from geogeometry_spark.operators.colocation import colocation_join

    # three users at one spot, same second: 3 unordered pairs, each 1
    rows = [(i, i, 100, 52.0, 13.0) for i in (1, 2, 3)]
    out = colocation_join(
        spark.createDataFrame(rows, TSCHEMA),
        eps_m=100.0, tau_s=600, max_abs_lat=53.0,
    ).collect()
    assert sorted((r.user_a, r.user_b, r.n_contacts) for r in out) == [
        (1, 2, 1), (1, 3, 1), (2, 3, 1)
    ]


def test_colocation_matches_duckdb_twin(spark, duck):
    import pandas as pd

    from geogeometry_spark.operators.colocation import (
        colocation_join,
        colocation_join_oracle_sql,
    )

    rows = [
        (i, i % 7, (i * 311) % 20000,
         52.0 + ((i * 31) % 40) * 1e-3, 13.0 + ((i * 17) % 40) * 1e-3)
        for i in range(200)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts_sec", "lat", "lon"]
    )
    duck.register("fx", pdf)
    got = sorted(
        tuple(r) for r in colocation_join(
            spark.createDataFrame(pdf),
            eps_m=800.0, tau_s=900, max_abs_lat=53.0,
        ).collect()
    )
    want = sorted(
        tuple(r) for r in duck.sql(
            colocation_join_oracle_sql("fx", eps_m=800.0, tau_s=900)
        ).fetchall()
    )
    assert got and got == want


def test_convoy_groups_chain_closure(spark):
    from geogeometry_spark.operators.colocation import convoy_groups

    # users 1-2 and 2-3 each share >= 3 contacts (chain -> one convoy);
    # users 1-4 touch only twice (below min_contacts); user 9 is solo.
    rows = []
    eid = 0
    for t in (0, 100, 200):            # 1-2: 3 contacts
        rows += [(eid, 1, t, 52.0, 13.0), (eid + 1, 2, t + 5, 52.0002, 13.0)]
        eid += 2
    for t in (5000, 5100, 5200):       # 2-3: 3 contacts
        rows += [(eid, 2, t, 52.1, 13.1), (eid + 1, 3, t + 5, 52.1002, 13.1)]
        eid += 2
    # 1-4: only 2 contact events — meetings separated by >> tau so the
    # cross fix pairs (9000 vs 20005 etc.) cannot qualify
    for t in (9000, 20000):
        rows += [(eid, 1, t, 52.2, 13.2), (eid + 1, 4, t + 5, 52.2002, 13.2)]
        eid += 2
    rows.append((eid, 9, 0, 55.0, 20.0))
    out = convoy_groups(
        spark.createDataFrame(rows, TSCHEMA),
        eps_m=100.0, tau_s=600, min_contacts=3, max_abs_lat=56.0,
    ).collect()
    lab = {r.user_id: r.convoy_id for r in out}
    assert lab == {1: 1, 2: 1, 3: 1}   # chain closed; 4 and 9 absent


def test_colocation_zoom_validation():
    from geogeometry_spark.operators.colocation import colocation_join

    # forced too-fine zoom -> adjacency broken -> refuse
    with pytest.raises(ValueError, match="coarser"):
        colocation_join(None, eps_m=5000.0, zoom=14)
    # planetary eps -> zoom < 2 -> refuse (offsets congruent mod n)
    with pytest.raises(ValueError, match="planetary"):
        colocation_join(None, eps_m=2.0e7)


def test_dbscan_null_coords_dropped_explicitly(spark):
    rows = [(1, 1, 52.0, 13.0), (2, 1, None, 13.0), (3, 1, 52.0, None)]
    out = grid_dbscan(
        spark.createDataFrame(rows, SCHEMA), eps_m=50.0
    ).collect()
    assert [(r.event_id, r.cluster_id) for r in out] == [(1, 1)]


class TestMannKendall:
    def _pts(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, ts_sec long, lat double, lon double"
        )

    def test_strictly_rising_cell(self, spark):
        from geogeometry_spark.operators.hotspot import mann_kendall_trend

        # bucket b gets b+1 fixes: S = T(T-1)/2 (every pair ascending),
        # no ties -> var18 = T(T-1)(2T+5)
        T = 6
        rows = []
        eid = 0
        for b in range(T):
            for _ in range(b + 1):
                rows.append((eid, b * 100, 52.5, 13.4))
                eid += 1
        out = mann_kendall_trend(
            self._pts(spark, rows), t0=0, bucket_s=100, n_buckets=T,
            zoom=8,
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r["s_stat"] == T * (T - 1) // 2 == 15
        assert r["var18"] == T * (T - 1) * (2 * T + 5)
        import math

        exp_z = (15 - 1) / math.sqrt(r["var18"] / 18.0)
        assert r["z"] == exp_z
        assert r["trend"] == ("increasing" if exp_z > 1.96 else "none")

    def test_constant_cell_is_flat_with_full_ties(self, spark):
        from geogeometry_spark.operators.hotspot import mann_kendall_trend

        # every bucket has exactly 1 fix: all pairs tie -> S=0, and the
        # tie correction cancels var18 entirely (one group of size T)
        T = 5
        rows = [(b, b * 10, 52.5, 13.4) for b in range(T)]
        r = mann_kendall_trend(
            self._pts(spark, rows), t0=0, bucket_s=10, n_buckets=T,
            zoom=8,
        ).collect()[0]
        assert r["s_stat"] == 0 and r["var18"] == 0
        assert r["z"] == 0.0 and r["trend"] == "none"

    def test_missing_buckets_count_zero(self, spark):
        from geogeometry_spark.operators.hotspot import mann_kendall_trend

        # fixes only in the last bucket: series 0,0,0,1 -> S = 3
        rows = [(0, 35, 52.5, 13.4)]
        r = mann_kendall_trend(
            self._pts(spark, rows), t0=0, bucket_s=10, n_buckets=4,
            zoom=8,
        ).collect()[0]
        assert r["s_stat"] == 3

    def test_out_of_window_fixes_ignored(self, spark):
        from geogeometry_spark.operators.hotspot import mann_kendall_trend

        rows = [(0, -5, 52.5, 13.4), (1, 100, 52.5, 13.4),
                (2, 15, 52.5, 13.4)]
        out = mann_kendall_trend(
            self._pts(spark, rows), t0=0, bucket_s=10, n_buckets=3,
            zoom=8,
        ).collect()
        # only ts=15 is in [0, 30): series 0,1,0
        assert out[0]["s_stat"] == 0

    def test_twin_parity_mixed(self, spark):
        import duckdb

        from geogeometry_spark.operators.hotspot import (
            mann_kendall_trend,
            mann_kendall_trend_oracle_sql,
        )

        rows = [
            (i, (i * 37) % 120, 52.5 + (i % 3) * 5.0, 13.4 + (i % 2) * 7.0)
            for i in range(40)
        ]
        got = sorted(
            map(tuple, mann_kendall_trend(
                self._pts(spark, rows), t0=0, bucket_s=20, n_buckets=6,
                zoom=6,
            ).collect())
        )
        vals = ", ".join(f"({e}, {t}, {la!r}, {lo!r})" for e, t, la, lo in rows)
        sql = mann_kendall_trend_oracle_sql(
            f"(SELECT * FROM (VALUES {vals}) t(event_id, ts_sec, lat, lon))",
            t0=0, bucket_s=20, n_buckets=6, zoom=6,
        )
        exp = sorted(map(tuple, duckdb.sql(sql).fetchall()))
        assert got == exp


class TestEmergingHotspots:
    def _pts(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, ts_sec long, lat double, lon double"
        )

    def test_intensifying_cell_is_increasing_hot(self, spark):
        from geogeometry_spark.operators.hotspot import emerging_hotspots

        # one cell ramps 1,2,4,8,16,32 fixes per bucket while four
        # far-away background cells stay at 1: the ramping cell's Gi*
        # z series rises monotonically -> increasing trend, hot last
        T = 6
        rows, eid = [], 0
        for bkt in range(T):
            for _ in range(1 << bkt):
                rows.append((eid, bkt * 100, 52.5, 13.4)); eid += 1
            for k in range(4):
                rows.append((eid, bkt * 100, -40.0 + k * 12.0, -100.0))
                eid += 1
        out = emerging_hotspots(
            self._pts(spark, rows), t0=0, bucket_s=100, n_buckets=T,
            zoom=4,
        ).collect()
        by_cell = {(r["tx"], r["ty"]): r for r in out}
        hot = [r for r in out if r["pattern"].endswith("_hot")]
        assert len(hot) == 1
        assert hot[0]["pattern"] == "increasing_hot"
        assert hot[0]["s_stat"] > 0

    def test_uniform_cube_is_flat(self, spark):
        from geogeometry_spark.operators.hotspot import emerging_hotspots

        # every cell, every bucket: 1 fix -> zero variance, z undefined
        # everywhere -> empty output (no z bins survive)
        rows = []
        eid = 0
        for bkt in range(4):
            for k in range(3):
                rows.append((eid, bkt * 10, 10.0 + k * 20.0, 10.0))
                eid += 1
        out = emerging_hotspots(
            self._pts(spark, rows), t0=0, bucket_s=10, n_buckets=4,
            zoom=4,
        ).collect()
        assert out == []

    def test_twin_parity(self, spark):
        import duckdb

        from geogeometry_spark.operators.hotspot import (
            emerging_hotspots,
            emerging_hotspots_oracle_sql,
        )

        rows = [
            (i, (i * 53) % 240,
             20.0 + ((i * 7) % 4) * 15.0, ((i * 11) % 5) * 20.0)
            for i in range(160)
        ]
        got = sorted(map(tuple, emerging_hotspots(
            self._pts(spark, rows), t0=0, bucket_s=40, n_buckets=6,
            zoom=5,
        ).collect()))
        vals = ", ".join(
            f"({e}, {t}, {la!r}, {lo!r})" for e, t, la, lo in rows
        )
        sql = emerging_hotspots_oracle_sql(
            f"(SELECT * FROM (VALUES {vals}) t(event_id, ts_sec, lat, lon))",
            t0=0, bucket_s=40, n_buckets=6, zoom=5,
        )
        exp = sorted(map(tuple, duckdb.sql(sql).fetchall()))
        assert got == exp and len(got) > 0


class TestQuadratDispersion:
    def _pts(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, lat double, lon double"
        )

    def test_clustered_pattern_vmr_above_one(self, spark):
        from geogeometry_spark.operators.hotspot import quadrat_dispersion

        # 30 fixes piled in one cell + 5 singleton cells far apart:
        # counts (30,1,1,1,1,1) -> strongly clustered
        rows = [(i, 52.5, 13.4) for i in range(30)] + [
            (100 + k, -40.0 + k * 10.0, -100.0) for k in range(5)
        ]
        r = quadrat_dispersion(self._pts(spark, rows), zoom=6).collect()[0]
        assert r["n_cells"] == 6 and r["sum_cnt"] == 35
        assert r["vmr_r6"] > 10 and r["z_r6"] > 1.96

    def test_uniform_counts_vmr_zero(self, spark):
        from geogeometry_spark.operators.hotspot import quadrat_dispersion

        # one fix per cell: zero variance -> VMR 0 (maximally even)
        rows = [(k, -40.0 + k * 10.0, -100.0) for k in range(6)]
        r = quadrat_dispersion(self._pts(spark, rows), zoom=6).collect()[0]
        assert r["vmr_r6"] == 0.0 and r["chi2_r6"] == 0.0
        assert r["z_r6"] < 0

    def test_degenerate_single_cell_null(self, spark):
        from geogeometry_spark.operators.hotspot import quadrat_dispersion

        rows = [(0, 52.5, 13.4), (1, 52.5, 13.4)]
        r = quadrat_dispersion(self._pts(spark, rows), zoom=6).collect()[0]
        assert r["n_cells"] == 1
        assert r["vmr_r6"] is None and r["z_r6"] is None

    def test_twin_parity(self, spark):
        import duckdb

        from geogeometry_spark.operators.hotspot import (
            quadrat_dispersion,
            quadrat_dispersion_oracle_sql,
        )

        rows = [
            (i, 20.0 + ((i * 7) % 5) * 11.0, ((i * 13) % 7) * 17.0 - 60.0)
            for i in range(97)
        ]
        got = tuple(
            quadrat_dispersion(self._pts(spark, rows), zoom=6).collect()[0]
        )
        vals = ", ".join(f"({e}, {la!r}, {lo!r})" for e, la, lo in rows)
        sql = quadrat_dispersion_oracle_sql(
            f"(SELECT * FROM (VALUES {vals}) t(event_id, lat, lon))",
            zoom=6,
        )
        exp = duckdb.sql(sql).fetchall()[0]
        assert got == exp


class TestLocalMoransI:
    def _pts(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, lat double, lon double"
        )

    def test_hotspot_core_is_hh(self, spark):
        from geogeometry_spark.operators.hotspot import local_morans_i

        # dense 3x3 block of heavy cells in a field of light
        # singletons: block centers come out HH.  Equatorial lats 0/5/
        # 10 land in adjacent z6 mercator rows (y 32/31/30); at higher
        # latitudes 5-deg spacing would skip rows.
        rows = []
        rid = 0
        for bx in range(3):
            for by in range(3):
                for _ in range(20):
                    rows.append((rid, 0.0 + by * 5.0, 10.0 + bx * 5.0))
                    rid += 1
        for k in range(8):
            rows.append((10_000 + k, -40.0, -150.0 + k * 7.0))
        df = local_morans_i(self._pts(spark, rows), zoom=6)
        out = {(r["tx"], r["ty"]): r for r in df.collect()}
        heavy = [r for r in out.values() if r["cnt"] == 20]
        assert len(heavy) == 9
        # the center cell of the block has 8 heavy neighbors -> HH
        center = [r for r in heavy if r["deg"] == 8]
        assert center and all(r["quad"] == "HH" for r in center)
        assert all(r["z_r6"] is not None and r["z_r6"] > 0 for r in center)
        # isolated singletons (below mean, no neighbors): lag is
        # exactly 0.0 which is not < 0, so the quadrant is LH (low
        # cell, zero-lag neighborhood) with undefined z
        lone = [r for r in out.values() if r["deg"] == 0]
        assert lone and all(r["quad"] == "LH" for r in lone)
        assert all(r["lag_r6"] == 0.0 and r["z_r6"] is None for r in lone)

    def test_outlier_is_hl(self, spark):
        from geogeometry_spark.operators.hotspot import local_morans_i

        # one heavy cell surrounded by singleton neighbors: HL outlier
        rows = [(i, 5.0, 10.0) for i in range(50)]
        rid = 100
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) != (0, 0):
                    rows.append((rid, 5.0 + dy * 5.0, 10.0 + dx * 5.0))
                    rid += 1
        # background mass so the global mean sits near 1
        for k in range(30):
            rows.append((1000 + k, -40.0, -170.0 + k * 5.0))
        df = local_morans_i(self._pts(spark, rows), zoom=6)
        hot = [r for r in df.collect() if r["cnt"] == 50]
        assert len(hot) == 1 and hot[0]["quad"] == "HL"
        assert hot[0]["ii_r6"] < 0  # high cell, low-lag neighborhood

    def test_degenerate_two_cells_null(self, spark):
        from geogeometry_spark.operators.hotspot import local_morans_i

        rows = [(0, 40.0, 10.0), (1, -40.0, -150.0)]
        df = local_morans_i(self._pts(spark, rows), zoom=6)
        for r in df.collect():
            assert r["ii_r6"] is None and r["z_r6"] is None
            assert r["quad"] is None

    def test_twin_parity(self, spark, lattice_edge_cases):
        import duckdb

        from geogeometry_spark.operators.hotspot import (
            local_morans_i,
            local_morans_i_oracle_sql,
        )

        rows = [
            (i, 25.0 + ((i * 7) % 6) * 9.0, ((i * 13) % 9) * 13.0 - 70.0)
            for i in range(211)
        ]
        for rows, zoom in [(rows, 6), *lattice_edge_cases]:
            rows = [r[:3] for r in rows]
            got = sorted(
                map(
                    tuple,
                    local_morans_i(self._pts(spark, rows), zoom=zoom).collect(),
                )
            )
            vals = ", ".join(f"({e}, {la!r}, {lo!r})" for e, la, lo in rows)
            sql = local_morans_i_oracle_sql(
                f"(SELECT * FROM (VALUES {vals}) t(event_id, lat, lon))",
                zoom=zoom,
            )
            exp = sorted(map(tuple, duckdb.sql(sql).fetchall()))
            assert got == exp and len(got) > 0, zoom


class TestGearysC:
    def _pts(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, lat double, lon double"
        )

    def _chain(self, counts):
        # 1-D chain of adjacent z6 cells along the equator row: z6
        # tiles are 5.625 deg wide, so lon = 10 + 5.625*k hits
        # consecutive tx with constant ty
        rows, rid = [], 0
        for k, c in enumerate(counts):
            for _ in range(c):
                rows.append((rid, 0.0, 10.0 + 5.625 * k))
                rid += 1
        return rows

    def test_clustered_chain_c_below_one(self, spark):
        from geogeometry_spark.operators.hotspot import gearys_c

        r = gearys_c(
            self._pts(spark, self._chain([9, 9, 9, 9, 1, 1, 1, 1])),
            zoom=6,
        ).collect()[0]
        assert r["n_cells"] == 8 and r["s0"] == 14
        assert r["gearys_c_r6"] < 1.0 and r["z_r6"] < 0

    def test_alternating_chain_c_above_one(self, spark):
        from geogeometry_spark.operators.hotspot import gearys_c

        r = gearys_c(
            self._pts(spark, self._chain([9, 1, 9, 1, 9, 1, 9, 1])),
            zoom=6,
        ).collect()[0]
        assert r["gearys_c_r6"] > 1.0 and r["z_r6"] > 0

    def test_degenerate_constant_counts_null(self, spark):
        from geogeometry_spark.operators.hotspot import gearys_c

        r = gearys_c(
            self._pts(spark, self._chain([3, 3, 3])), zoom=6
        ).collect()[0]
        assert r["gearys_c_r6"] is None and r["z_r6"] is None

    def test_twin_parity(self, spark, lattice_edge_cases):
        import duckdb

        from geogeometry_spark.operators.hotspot import (
            gearys_c,
            gearys_c_oracle_sql,
        )

        rows = [
            (i, 25.0 + ((i * 7) % 6) * 9.0, ((i * 13) % 9) * 13.0 - 70.0)
            for i in range(173)
        ]
        for rows, zoom in [(rows, 6), *lattice_edge_cases]:
            rows = [r[:3] for r in rows]
            got = tuple(
                gearys_c(self._pts(spark, rows), zoom=zoom).collect()[0]
            )
            vals = ", ".join(f"({e}, {la!r}, {lo!r})" for e, la, lo in rows)
            exp = duckdb.sql(
                gearys_c_oracle_sql(
                    f"(SELECT * FROM (VALUES {vals}) t(event_id, lat, lon))",
                    zoom=zoom,
                )
            ).fetchall()[0]
            assert got == exp, zoom


class TestJoinCounts:
    _chain = TestGearysC._chain
    _pts = TestGearysC._pts

    def test_segregated_chain(self, spark):
        from geogeometry_spark.operators.hotspot import join_counts

        # 4 heavy then 4 light adjacent cells: joins A=7, exactly one
        # mixed join, BB=WW=3 -> BW significantly LOW (clustered)
        r = join_counts(
            self._pts(spark, self._chain([9, 9, 9, 9, 1, 1, 1, 1])),
            zoom=6,
        ).collect()[0]
        assert (r["n_cells"], r["n_black"], r["joins"]) == (8, 4, 7)
        assert (r["bb"], r["ww"], r["bw"]) == (3, 3, 1)
        # free-sampling hand check: p=1/2, A=7, E[BW]=2*7*(1/4)=3.5
        assert r["z_bw_r6"] < 0 and r["z_bb_r6"] > 0

    def test_checkerboard_chain(self, spark):
        from geogeometry_spark.operators.hotspot import join_counts

        # alternating marks: every join is mixed -> BW inflated
        r = join_counts(
            self._pts(spark, self._chain([9, 1, 9, 1, 9, 1, 9, 1])),
            zoom=6,
        ).collect()[0]
        assert (r["bb"], r["ww"], r["bw"]) == (0, 0, 7)
        assert r["z_bw_r6"] > 0

    def test_one_color_null(self, spark):
        from geogeometry_spark.operators.hotspot import join_counts

        # constant counts: no cell is strictly above the mean
        r = join_counts(
            self._pts(spark, self._chain([3, 3, 3])), zoom=6
        ).collect()[0]
        assert r["n_black"] == 0
        assert r["z_bb_r6"] is None and r["z_bw_r6"] is None

    def test_twin_parity(self, spark, lattice_edge_cases):
        import duckdb

        from geogeometry_spark.operators.hotspot import (
            join_counts,
            join_counts_oracle_sql,
        )

        rows = [
            (i, 25.0 + ((i * 7) % 6) * 9.0, ((i * 13) % 9) * 13.0 - 70.0)
            for i in range(131)
        ]
        for rows, zoom in [(rows, 6), *lattice_edge_cases]:
            rows = [r[:3] for r in rows]
            got = tuple(
                join_counts(self._pts(spark, rows), zoom=zoom).collect()[0]
            )
            vals = ", ".join(f"({e}, {la!r}, {lo!r})" for e, la, lo in rows)
            exp = duckdb.sql(
                join_counts_oracle_sql(
                    f"(SELECT * FROM (VALUES {vals}) t(event_id, lat, lon))",
                    zoom=zoom,
                )
            ).fetchall()[0]
            assert got == exp, zoom


class TestBivariateMoran:
    def _pts(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, lat double, lon double, is_x int"
        )

    def _chain(self, xcounts, ycounts):
        rows, rid = [], 0
        for k, (cx, cy) in enumerate(zip(xcounts, ycounts)):
            for _ in range(cx):
                rows.append((rid, 0.0, 10.0 + 5.625 * k, 1))
                rid += 1
            for _ in range(cy):
                rows.append((rid, 0.0, 10.0 + 5.625 * k, 0))
                rid += 1
        return rows

    def test_antitracking_classes_negative(self, spark):
        from geogeometry_spark.operators.hotspot import bivariate_morans_i
        from pyspark.sql import functions as F

        # x-heavy cells alternate with y-heavy cells: high-x cells
        # neighbor low-y... wait, alternating means high-x cells sit
        # NEXT TO high-y cells -> positive cross correlation
        rows = self._chain([9, 1, 9, 1, 9, 1], [1, 9, 1, 9, 1, 9])
        r = bivariate_morans_i(
            self._pts(spark, rows), F.col("is_x") == 1, zoom=6
        ).collect()[0]
        assert r["bi_moran_r6"] > 0

    def test_cotracking_classes(self, spark):
        from geogeometry_spark.operators.hotspot import bivariate_morans_i
        from pyspark.sql import functions as F

        # both classes pile into the same half of the chain: a high-x
        # cell's NEIGHBORS are mostly the low-y far half -> the cross
        # statistic goes negative relative to alternating
        rows = self._chain([9, 9, 9, 1, 1, 1], [1, 1, 1, 9, 9, 9])
        r = bivariate_morans_i(
            self._pts(spark, rows), F.col("is_x") == 1, zoom=6
        ).collect()[0]
        assert r["bi_moran_r6"] < 0

    def test_twin_parity(self, spark, lattice_edge_cases):
        import duckdb
        from pyspark.sql import functions as F

        from geogeometry_spark.operators.hotspot import (
            bivariate_morans_i,
            bivariate_morans_i_oracle_sql,
        )

        rows = [
            (i, 25.0 + ((i * 7) % 6) * 9.0, ((i * 13) % 9) * 13.0 - 70.0,
             (i * 11) % 3 == 0)
            for i in range(211)
        ]
        for rows, zoom in [(rows, 6), *lattice_edge_cases]:
            df = spark.createDataFrame(
                rows, "event_id long, lat double, lon double, is_x boolean"
            )
            got = tuple(
                bivariate_morans_i(df, F.col("is_x"), zoom=zoom).collect()[0]
            )
            vals = ", ".join(
                f"({e}, {la!r}, {lo!r}, {x})" for e, la, lo, x in rows
            )
            sql = bivariate_morans_i_oracle_sql(
                "(SELECT event_id, CAST(lat AS DOUBLE) AS lat, "
                "CAST(lon AS DOUBLE) AS lon, is_x FROM "
                f"(VALUES {vals}) t(event_id, lat, lon, is_x))",
                "is_x",
                zoom=zoom,
            )
            exp = duckdb.sql(sql).fetchall()[0]
            assert got == exp, zoom


class TestLocationQuotient:
    def test_values_by_hand(self, spark):
        from geogeometry_spark.operators.hotspot import location_quotient
        from pyspark.sql import functions as F

        # cell A: 3 of 4 are x (share .75); cell B: 1 of 4 (share .25)
        # global share .5 -> LQ 1.5 and 0.5
        rows = (
            [(i, 0.0, 10.0, 1) for i in range(3)]
            + [(3, 0.0, 10.0, 0)]
            + [(4, 0.0, -150.0, 1)]
            + [(5 + i, 0.0, -150.0, 0) for i in range(3)]
        )
        df = spark.createDataFrame(
            rows, "event_id long, lat double, lon double, is_x int"
        )
        out = {
            (r["tx"], r["ty"]): r
            for r in location_quotient(
                df, F.col("is_x") == 1, zoom=6
            ).collect()
        }
        lqs = sorted(r["lq_r6"] for r in out.values())
        assert lqs == [0.5, 1.5]

    def test_empty_class_null(self, spark):
        from geogeometry_spark.operators.hotspot import location_quotient
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(0, 0.0, 10.0, 0), (1, 0.0, -150.0, 0)],
            "event_id long, lat double, lon double, is_x int",
        )
        out = location_quotient(df, F.col("is_x") == 1, zoom=6).collect()
        assert all(r["lq_r6"] is None for r in out)

    def test_twin_parity(self, spark):
        import duckdb
        from pyspark.sql import functions as F

        from geogeometry_spark.operators.hotspot import (
            location_quotient,
            location_quotient_oracle_sql,
        )

        rows = [
            (i, 25.0 + ((i * 7) % 6) * 9.0, ((i * 13) % 9) * 13.0 - 70.0,
             (i * 11) % 3 == 0)
            for i in range(151)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, lat double, lon double, is_x boolean"
        )
        got = sorted(
            map(
                tuple,
                location_quotient(df, F.col("is_x"), zoom=6).collect(),
            )
        )
        vals = ", ".join(
            f"({e}, {la!r}, {lo!r}, {x})" for e, la, lo, x in rows
        )
        sql = location_quotient_oracle_sql(
            "(SELECT event_id, CAST(lat AS DOUBLE) AS lat, "
            "CAST(lon AS DOUBLE) AS lon, is_x FROM "
            f"(VALUES {vals}) t(event_id, lat, lon, is_x))",
            "is_x",
            zoom=6,
        )
        exp = sorted(map(tuple, duckdb.sql(sql).fetchall()))
        assert got == exp


class TestStDbscan:
    SCHEMA = "event_id long, user_id long, ts_sec long, lat double, lon double"

    def test_time_gate_splits_space_cluster(self, spark):
        from geogeometry_spark.operators.cluster import st_dbscan

        # same place visited twice, 10 days apart: grid_dbscan would
        # merge; ST-DBSCAN must split into two clusters
        rows = [
            (1, 1, 1000, 52.5, 13.4),
            (2, 1, 2000, 52.5001, 13.4001),
            (3, 1, 1000 + 864000, 52.5, 13.4),
            (4, 1, 2000 + 864000, 52.5001, 13.4001),
        ]
        out = st_dbscan(
            spark.createDataFrame(rows, self.SCHEMA),
            eps_m=200.0,
            eps_t=3600,
        ).collect()
        lab = {r["event_id"]: r["cluster_id"] for r in out}
        assert lab[1] == lab[2] == 1
        assert lab[3] == lab[4] == 3
        assert lab[1] != lab[3]

    def test_chain_through_time_buckets(self, spark):
        from geogeometry_spark.operators.cluster import st_dbscan

        # fixes 30 min apart chain across bucket boundaries (eps_t 1 h
        # -> adjacent-bucket candidates must be probed)
        rows = [
            (i, 1, 1000 + i * 1800, 52.5, 13.4 + i * 0.0001)
            for i in range(6)
        ]
        out = st_dbscan(
            spark.createDataFrame(rows, self.SCHEMA),
            eps_m=200.0,
            eps_t=3600,
        ).collect()
        assert {r["cluster_id"] for r in out} == {0}

    def test_space_gate_still_applies(self, spark):
        from geogeometry_spark.operators.cluster import st_dbscan

        # simultaneous but far apart: separate clusters
        rows = [(1, 1, 1000, 52.5, 13.4), (2, 2, 1000, 52.5, 14.4)]
        out = st_dbscan(
            spark.createDataFrame(rows, self.SCHEMA),
            eps_m=200.0,
            eps_t=3600,
        ).collect()
        assert len({r["cluster_id"] for r in out}) == 2

    def test_twin_parity(self, spark):
        import duckdb

        from geogeometry_spark.operators.cluster import (
            st_dbscan,
            st_dbscan_oracle_sql,
        )

        rows = [
            (i, i % 5, 1000 + (i * 977) % 50000,
             52.0 + ((i * 31) % 40) * 0.002,
             13.0 + ((i * 17) % 40) * 0.003)
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, self.SCHEMA)
        got = sorted(
            (r["event_id"], r["cluster_id"])
            for r in st_dbscan(df, eps_m=400.0, eps_t=7200).collect()
        )
        vals = ", ".join(
            f"({e}, {u}, {t}, {la!r}, {lo!r})" for e, u, t, la, lo in rows
        )
        sql = st_dbscan_oracle_sql(
            "(SELECT event_id, user_id, ts_sec, "
            "CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon "
            f"FROM (VALUES {vals}) t(event_id, user_id, ts_sec, lat, lon))",
            eps_m=400.0,
            eps_t=7200,
            select_cols="k.event_id, k.user_id",
        )
        exp = sorted(
            (e, c) for e, u, c in duckdb.sql(sql).fetchall()
        )
        assert got == exp and len(got) == 200
        assert len({c for _, c in got}) > 1


class TestSpatialGini:
    def _pts(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, lat double, lon double"
        )

    def _chain(self, counts):
        rows, rid = [], 0
        for k, c in enumerate(counts):
            for _ in range(c):
                rows.append((rid, 0.0, 10.0 + 5.625 * k))
                rid += 1
        return rows

    def test_uniform_zero(self, spark):
        from geogeometry_spark.operators.hotspot import spatial_gini

        r = spatial_gini(
            self._pts(spark, self._chain([4, 4, 4, 4])), zoom=6
        ).collect()[0]
        assert r["gini_r6"] == 0.0

    def test_hand_value(self, spark):
        from geogeometry_spark.operators.hotspot import spatial_gini

        # counts (1, 3): num = 2*sum m_i m_j diff = 2*2 = 4;
        # G = 4/(2*4) = 0.5
        r = spatial_gini(
            self._pts(spark, self._chain([1, 3])), zoom=6
        ).collect()[0]
        assert (r["n_cells"], r["sum_cnt"]) == (2, 4)
        assert r["gini_r6"] == 0.5

    def test_concentrated_near_one(self, spark):
        from geogeometry_spark.operators.hotspot import spatial_gini

        r = spatial_gini(
            self._pts(spark, self._chain([97, 1, 1, 1])), zoom=6
        ).collect()[0]
        assert r["gini_r6"] > 0.7

    def test_twin_parity(self, spark):
        import duckdb

        from geogeometry_spark.operators.hotspot import (
            spatial_gini,
            spatial_gini_oracle_sql,
        )

        rows = [
            (i, 25.0 + ((i * 7) % 6) * 9.0, ((i * 13) % 9) * 13.0 - 70.0)
            for i in range(223)
        ]
        got = tuple(spatial_gini(self._pts(spark, rows), zoom=6).collect()[0])
        vals = ", ".join(f"({e}, {la!r}, {lo!r})" for e, la, lo in rows)
        exp = duckdb.sql(
            spatial_gini_oracle_sql(
                "(SELECT event_id, CAST(lat AS DOUBLE) AS lat, "
                "CAST(lon AS DOUBLE) AS lon FROM "
                f"(VALUES {vals}) t(event_id, lat, lon))",
                zoom=6,
            )
        ).fetchall()[0]
        assert got == exp


class TestGeneralG:
    _pts = TestSpatialGini._pts
    _chain = TestSpatialGini._chain

    def test_high_clustering_positive_z(self, spark):
        from geogeometry_spark.operators.hotspot import general_g

        # the two heavy cells adjoin: Σw x_i x_j is dominated by the
        # 81-product pair -> G above E[G], z > 0 (high values cluster)
        r = general_g(
            self._pts(spark, self._chain([9, 9, 1, 1, 1, 1, 1, 1])),
            zoom=6,
        ).collect()[0]
        assert r["z_r6"] > 0 and r["g_r9"] > r["e_g_r9"]

    def test_high_values_separated_negative_z(self, spark):
        from geogeometry_spark.operators.hotspot import general_g

        # heavy cells at the two ends of the chain, never adjacent:
        # adjacent products are all small -> G below E[G], z < 0
        r = general_g(
            self._pts(spark, self._chain([9, 1, 1, 1, 1, 1, 1, 9])),
            zoom=6,
        ).collect()[0]
        assert r["z_r6"] < 0 and r["g_r9"] < r["e_g_r9"]

    def test_variance_formula_vs_monte_carlo(self, spark):
        # the transcription check that gates the operator: analytic
        # Var(G) under randomization vs permutation variance on a 5x5
        # queen lattice (deterministic rng seed)
        import numpy as np

        rng = np.random.default_rng(7)
        vals = np.array(
            [1, 1, 2, 1, 1, 3, 9, 4, 1, 2, 1, 5, 2, 1, 1, 2, 1, 1, 7,
             1, 1, 1, 2, 1, 6],
            dtype=float,
        )
        n = 25
        coords = [(i // 5, i % 5) for i in range(n)]
        w = np.zeros((n, n))
        for a in range(n):
            for b in range(n):
                if a != b and abs(coords[a][0] - coords[b][0]) <= 1 and \
                        abs(coords[a][1] - coords[b][1]) <= 1:
                    w[a, b] = 1.0

        def g_of(x):
            num = (w * np.outer(x, x)).sum()
            den = np.outer(x, x).sum() - (x * x).sum()
            return num / den

        w0 = w.sum()
        s1 = 0.5 * ((w + w.T) ** 2).sum()
        s2 = ((w.sum(1) + w.sum(0)) ** 2).sum()
        m1, m2 = vals.sum(), (vals ** 2).sum()
        m3, m4 = (vals ** 3).sum(), (vals ** 4).sum()
        b0 = (n * n - 3 * n + 3) * s1 - n * s2 + 3 * w0 * w0
        b1 = -((n * n - n) * s1 - 2 * n * s2 + 6 * w0 * w0)
        b2 = -(2 * n * s1 - (n + 3) * s2 + 6 * w0 * w0)
        b3 = 4 * (n - 1) * s1 - 2 * (n + 1) * s2 + 8 * w0 * w0
        b4 = s1 - s2 + w0 * w0
        e_g = w0 / (n * (n - 1))
        eg2 = (
            b0 * m2 * m2 + b1 * m4 + b2 * m1 * m1 * m2 + b3 * m1 * m3
            + b4 * m1 ** 4
        ) / (((m1 * m1 - m2) ** 2) * n * (n - 1) * (n - 2) * (n - 3))
        var_analytic = eg2 - e_g * e_g
        gs = np.array([g_of(rng.permutation(vals)) for _ in range(20000)])
        assert abs(gs.mean() - e_g) < 3e-4
        assert 0.97 < var_analytic / gs.var() < 1.03

    def test_twin_parity(self, spark, lattice_edge_cases):
        import duckdb

        from geogeometry_spark.operators.hotspot import (
            general_g,
            general_g_oracle_sql,
        )

        rows = [
            (i, 25.0 + ((i * 7) % 6) * 9.0, ((i * 13) % 9) * 13.0 - 70.0)
            for i in range(199)
        ]
        for rows, zoom in [(rows, 6), *lattice_edge_cases]:
            rows = [r[:3] for r in rows]
            got = tuple(
                general_g(self._pts(spark, rows), zoom=zoom).collect()[0]
            )
            vals = ", ".join(f"({e}, {la!r}, {lo!r})" for e, la, lo in rows)
            exp = duckdb.sql(
                general_g_oracle_sql(
                    "(SELECT event_id, CAST(lat AS DOUBLE) AS lat, "
                    "CAST(lon AS DOUBLE) AS lon FROM "
                    f"(VALUES {vals}) t(event_id, lat, lon))",
                    zoom=zoom,
                )
            ).fetchall()[0]
            assert got == exp, zoom


class TestKnox:
    SCHEMA = "event_id long, user_id long, ts_sec long, lat double, lon double"

    def test_exact_counts_by_hand(self, spark):
        from geogeometry_spark.operators.colocation import knox_test

        # 4 events: A,B close in space AND time; C same place much
        # later; D far away but at A's time.
        rows = [
            (1, 1, 1000, 52.5, 13.4),
            (2, 1, 1500, 52.5001, 13.4001),   # ~13 m, 500 s from A
            (3, 1, 10_000_000, 52.5, 13.4),   # same place, far time
            (4, 1, 1000, -33.9, 151.2),       # far place, same time
        ]
        r = knox_test(
            spark.createDataFrame(rows, self.SCHEMA),
            delta_m=200.0,
            tau_s=3600,
        ).collect()[0]
        # space-close pairs: {A,B},{A,C},{B,C}; time-close: {A,B},
        # {A,D},{B,D}; both: {A,B}
        assert (r["n_pts"], r["ns"], r["nt"], r["x_st"]) == (4, 3, 3, 1)
        # E = 3*3/6 = 1.5
        assert r["e_x_r6"] == 1.5

    def test_self_pair_count_exact_past_2_53(self, spark):
        """A (µlat, µlon, ts) rep holding m points contributes m(m-1)/2
        self-pairs.  At m = 3e9, m(m-1) passes 2^53: DOUBLE division
        lands 256 short of the exact BIGINT the DuckDB twin sums."""
        from pyspark.sql import functions as F

        from geogeometry_spark.functions.columns import unordered_pairs

        one = spark.range(1).select(F.lit(3_000_000_000).alias("_m"))
        got = one.select(unordered_pairs(F.col("_m"))).first()[0]
        assert got == 4_499_999_998_500_000_000

    def test_interaction_positive_z(self, spark):
        from geogeometry_spark.operators.colocation import knox_test

        # 3 space-time clusters at distinct places AND distinct times:
        # every space-close pair is also time-close -> X = Ns >> E
        rows = []
        rid = 0
        for k in range(3):
            for j in range(6):
                rows.append(
                    (rid, 1, 1000 + k * 500_000 + j * 60,
                     10.0 + k * 20.0, 10.0 + k * 20.0 + j * 0.0001)
                )
                rid += 1
        r = knox_test(
            spark.createDataFrame(rows, self.SCHEMA),
            delta_m=500.0,
            tau_s=3600,
        ).collect()[0]
        assert r["x_st"] == r["ns"] == 45  # 3 * C(6,2)
        assert r["z_r6"] > 2

    def test_twin_parity(self, spark):
        import duckdb

        from geogeometry_spark.operators.colocation import (
            knox_test,
            knox_test_oracle_sql,
        )

        rows = [
            (i, i % 5, 1000 + (i * 977) % 40000,
             52.0 + ((i * 31) % 30) * 0.004,
             13.0 + ((i * 17) % 30) * 0.006)
            for i in range(180)
        ]
        df = spark.createDataFrame(rows, self.SCHEMA)
        got = tuple(
            knox_test(df, delta_m=700.0, tau_s=7200).collect()[0]
        )
        vals = ", ".join(
            f"({e}, {u}, {t}, {la!r}, {lo!r})" for e, u, t, la, lo in rows
        )
        sql = knox_test_oracle_sql(
            "(SELECT event_id, user_id, ts_sec, "
            "CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon "
            f"FROM (VALUES {vals}) t(event_id, user_id, ts_sec, lat, lon))",
            delta_m=700.0,
            tau_s=7200,
        )
        exp = tuple(duckdb.sql(sql).fetchall()[0])
        assert got == exp and got[1] > 0

    def test_hot_clique_collapse_exact_and_bounded(self, spark):
        """VERDICT r4 item 2: m coincident events must cost ONE rep,
        not an m-clique, and all counts stay exact."""
        from pyspark.sql import functions as F

        from geogeometry_spark.operators.colocation import knox_test

        # 3 hot cliques of 400 identical (place, ts) pings each,
        # mutually far in space AND time
        m, rows, rid = 400, [], 0
        for k in range(3):
            for _ in range(m):
                rows.append(
                    (rid, k, 1000 + k * 10_000_000,
                     10.0 + k * 30.0, 20.0 + k * 30.0)
                )
                rid += 1
        df = spark.createDataFrame(rows, self.SCHEMA)
        r = knox_test(df, delta_m=500.0, tau_s=3600).collect()[0]
        clique = m * (m - 1) // 2
        assert (r["n_pts"], r["ns"], r["nt"], r["x_st"]) == (
            3 * m, 3 * clique, 3 * clique, 3 * clique
        )
        # boundedness: the collapse key (ulat, ulon, ts) leaves 3 reps,
        # so the pair joins see 3 candidate rows, not 3 * C(400,2)
        n_reps = (
            df.groupBy(
                F.round(F.col("lat") * 1e6).cast("long"),
                F.round(F.col("lon") * 1e6).cast("long"),
                F.col("ts_sec"),
            ).count().count()
        )
        assert n_reps == 3

    def test_twin_parity_with_duplicates(self, spark):
        import duckdb

        from geogeometry_spark.operators.colocation import (
            knox_test,
            knox_test_oracle_sql,
        )

        # mixed corpus: near-coincident spread + hot duplicate stacks
        rows = [
            (i, i % 5, 1000 + (i * 977) % 40000,
             52.0 + ((i * 31) % 20) * 0.004,
             13.0 + ((i * 17) % 20) * 0.006)
            for i in range(120)
        ]
        rows += [
            (1000 + i, 9, 5000, 52.02, 13.03) for i in range(50)
        ]
        df = spark.createDataFrame(rows, self.SCHEMA)
        got = tuple(
            knox_test(df, delta_m=700.0, tau_s=7200).collect()[0]
        )
        vals = ", ".join(
            f"({e}, {u}, {t}, {la!r}, {lo!r})" for e, u, t, la, lo in rows
        )
        sql = knox_test_oracle_sql(
            "(SELECT event_id, user_id, ts_sec, "
            "CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon "
            f"FROM (VALUES {vals}) t(event_id, user_id, ts_sec, lat, lon))",
            delta_m=700.0,
            tau_s=7200,
        )
        exp = tuple(duckdb.sql(sql).fetchall()[0])
        assert got == exp and got[1] > 0


# --------------------------------------------------------------------------
# spatial entropy / evenness / Theil
# --------------------------------------------------------------------------

def test_spatial_entropy_closed_form(spark):
    import math

    from geogeometry_spark.operators.hotspot import spatial_entropy

    # 4 cells with counts 1, 1, 2, 4 (well separated at z8)
    rows = []
    eid = 0
    for k, (lat, cnt) in enumerate([(10.0, 1), (20.0, 1), (30.0, 2), (40.0, 4)]):
        for _ in range(cnt):
            rows.append((eid, 1, lat, float(10 * k)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, lat double, lon double"
    )
    out = spatial_entropy(df, zoom=8).collect()[0]
    s = 8.0
    probs = [1 / s, 1 / s, 2 / s, 4 / s]
    h = -sum(p * math.log(p) for p in probs)
    assert out.n_cells == 4
    assert out.sum_cnt == 8
    assert out.entropy_r6 == pytest.approx(h, abs=2e-6)
    assert out.evenness_r6 == pytest.approx(h / math.log(4), abs=2e-6)
    assert out.theil_r6 == pytest.approx(math.log(4) - h, abs=2e-6)


def test_spatial_entropy_uniform_and_degenerate(spark):
    from geogeometry_spark.operators.hotspot import spatial_entropy

    # all mass in one cell: H = 0, theil = 0 (n = 1), evenness NULL
    one = spark.createDataFrame(
        [(i, 1, 50.0, 50.0) for i in range(5)],
        "event_id long, user_id long, lat double, lon double",
    )
    r = spatial_entropy(one, zoom=8).collect()[0]
    assert r.n_cells == 1 and r.entropy_r6 == 0.0
    assert r.evenness_r6 is None and r.theil_r6 == 0.0


def test_spatial_entropy_matches_duckdb_twin(spark, duck):
    import pandas as pd

    from geogeometry_spark.operators.hotspot import (
        spatial_entropy,
        spatial_entropy_oracle_sql,
    )

    rows = [
        (
            i,
            i % 7,
            -60.0 + ((i * 17) % 120) * 0.9,
            -170.0 + ((i * 41) % 340),
        )
        for i in range(500)
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "lat", "lon"])
    duck.register("pts_ent", pdf)
    got = [
        tuple(r)
        for r in spatial_entropy(spark.createDataFrame(pdf), zoom=6).collect()
    ]
    want = duck.sql(
        spatial_entropy_oracle_sql(
            "(SELECT lat, lon FROM pts_ent)", zoom=6
        )
    ).fetchall()
    assert got == [tuple(w) for w in want]


# --------------------------------------------------------------------------
# head/tail breaks
# --------------------------------------------------------------------------

def _ht_cells(spark, counts):
    """One well-separated z8 cell per count value (lon spacing 3 deg)."""
    rows = []
    eid = 0
    for k, cnt in enumerate(counts):
        for _ in range(cnt):
            rows.append((eid, 1, 10.0, -170.0 + k * 3.0))
            eid += 1
    return spark.createDataFrame(
        rows, "event_id long, user_id long, lat double, lon double"
    )


def test_head_tail_breaks_power_law(spark):
    from geogeometry_spark.operators.hotspot import head_tail_breaks

    # heavy-tailed counts: 8x1, 2x10, 1x100
    counts = [1] * 8 + [10, 10, 100]
    out = head_tail_breaks(_ht_cells(spark, counts), zoom=8).collect()
    by_cnt = {}
    for r in out:
        by_cnt.setdefault(r.cnt, set()).add(r.ht_class)
    # mean1 = 128/11 ~ 11.6 -> head {100}: 1/11 < 40% -> recurse
    # level2 over {100}: head empty -> stop. classes: 1s+10s=0, 100=1
    assert by_cnt[1] == {0}
    assert by_cnt[10] == {0}
    assert by_cnt[100] == {1}


def test_head_tail_breaks_minority_rule_stops(spark):
    from geogeometry_spark.operators.hotspot import head_tail_breaks

    # balanced counts: head is 50% >= 40% -> threshold 1 applies but
    # no deeper recursion
    counts = [1, 1, 3, 3]
    out = head_tail_breaks(_ht_cells(spark, counts), zoom=8).collect()
    got = {(r.cnt, r.ht_class) for r in out}
    assert got == {(1, 0), (3, 1)}


def test_head_tail_breaks_uniform_all_zero(spark):
    from geogeometry_spark.operators.hotspot import head_tail_breaks

    out = head_tail_breaks(_ht_cells(spark, [4, 4, 4]), zoom=8).collect()
    assert {r.ht_class for r in out} == {0}


def test_head_tail_breaks_matches_duckdb_twin(spark, duck):
    import pandas as pd

    from geogeometry_spark.operators.hotspot import (
        head_tail_breaks,
        head_tail_breaks_oracle_sql,
    )

    rows = [
        (
            i,
            i % 7,
            -60.0 + ((i * i * 17) % 120) * 0.9,
            -170.0 + ((i * 41) % 340),
        )
        for i in range(700)
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "lat", "lon"])
    duck.register("pts_ht", pdf)
    got = sorted(
        tuple(r)
        for r in head_tail_breaks(
            spark.createDataFrame(pdf), zoom=5
        ).collect()
    )
    want = sorted(
        tuple(w)
        for w in duck.sql(
            head_tail_breaks_oracle_sql(
                "(SELECT lat, lon FROM pts_ht)", zoom=5
            )
        ).fetchall()
    )
    assert got == want


# --------------------------------------------------------------------------
# segregation indices
# --------------------------------------------------------------------------

def _seg_df(spark, cells):
    """cells: list of (a_count, b_count) in well-separated z8 cells;
    flag column v=1 marks group A."""
    rows = []
    eid = 0
    for k, (a, b) in enumerate(cells):
        for _ in range(a):
            rows.append((eid, 1, 10.0, -170.0 + k * 3.0, 1))
            eid += 1
        for _ in range(b):
            rows.append((eid, 1, 10.0, -170.0 + k * 3.0, 0))
            eid += 1
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, lat double, lon double, v int",
    )


def test_segregation_complete_and_even(spark):
    import pyspark.sql.functions as F

    from geogeometry_spark.operators.hotspot import segregation_indices

    # complete segregation: D = 1, interaction 0, isolation 1
    out = segregation_indices(
        _seg_df(spark, [(10, 0), (0, 10)]), F.col("v") == 1, zoom=8
    ).collect()[0]
    assert out.dissim_r6 == 1.0
    assert out.interaction_r6 == 0.0
    assert out.isolation_r6 == 1.0
    # perfectly even: D = 0; shares 50/50 -> interaction = 0.5
    out = segregation_indices(
        _seg_df(spark, [(5, 5), (5, 5)]), F.col("v") == 1, zoom=8
    ).collect()[0]
    assert out.dissim_r6 == 0.0
    assert out.interaction_r6 == 0.5
    assert out.isolation_r6 == 0.5


def test_segregation_one_empty_group_null(spark):
    import pyspark.sql.functions as F

    from geogeometry_spark.operators.hotspot import segregation_indices

    out = segregation_indices(
        _seg_df(spark, [(5, 0), (3, 0)]), F.col("v") == 1, zoom=8
    ).collect()[0]
    assert out.dissim_r6 is None and out.interaction_r6 is None


def test_segregation_matches_duckdb_twin(spark, duck):
    import pandas as pd
    import pyspark.sql.functions as F

    from geogeometry_spark.operators.hotspot import (
        segregation_indices,
        segregation_indices_oracle_sql,
    )

    rows = [
        (
            i,
            i % 7,
            -60.0 + ((i * 17) % 120) * 0.9,
            -170.0 + ((i * 41) % 340),
            1 if (i * 13) % 5 < 2 else 0,
        )
        for i in range(600)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "lat", "lon", "v"]
    )
    duck.register("pts_seg", pdf)
    got = [
        tuple(r)
        for r in segregation_indices(
            spark.createDataFrame(pdf), F.col("v") == 1, zoom=6
        ).collect()
    ]
    want = [
        tuple(w)
        for w in duck.sql(
            segregation_indices_oracle_sql(
                "(SELECT lat, lon, v FROM pts_seg)", "v = 1", zoom=6
            )
        ).fetchall()
    ]
    assert got == want


# --------------------------------------------------------------------------
# median center
# --------------------------------------------------------------------------

def test_median_center_outlier_robust(spark):
    from geogeometry_spark.operators.hotspot import median_center

    # 30 fixes in a tight cluster at (50, 8), 1 far outlier: the
    # median center stays at the cluster (the mean would move ~3%)
    rows = [
        (i, 1, 50.0 + (i % 5) * 1e-5, 8.0 + (i % 7) * 1e-5)
        for i in range(30)
    ]
    rows.append((99, 1, 60.0, 30.0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, lat double, lon double"
    )
    out = median_center(df, iters=15).collect()[0]
    assert out.n == 31
    assert abs(out.med_lat_r6 - 50.0) < 0.001
    assert abs(out.med_lon_r6 - 8.0) < 0.001


def test_median_center_empty(spark):
    from geogeometry_spark.operators.hotspot import median_center

    df = spark.createDataFrame(
        [], "event_id long, user_id long, lat double, lon double"
    )
    out = median_center(df).collect()[0]
    assert out.n == 0 and out.cx_micro is None


def test_median_center_matches_duckdb_twin(spark, duck):
    import pandas as pd

    from geogeometry_spark.operators.hotspot import (
        median_center,
        median_center_oracle_sql,
    )

    rows = [
        (
            i,
            i % 7,
            48.0 + ((i * 17) % 400) / 100.0,
            5.0 + ((i * 41) % 900) / 100.0,
        )
        for i in range(500)
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "lat", "lon"])
    duck.register("pts_med", pdf)
    got = [
        tuple(r)
        for r in median_center(spark.createDataFrame(pdf), iters=8).collect()
    ]
    want = [
        tuple(w)
        for w in duck.sql(
            median_center_oracle_sql(
                "(SELECT lat, lon FROM pts_med)", iters=8
            )
        ).fetchall()
    ]
    assert got == want

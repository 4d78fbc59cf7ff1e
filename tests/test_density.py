"""Unit tests for operators/density.py: KDE grid smoothing (stencil
weights, wrap/pole rules, exact integer mass) and Ripley's K / L
(pair counts per radius, multiplicity collapse, pinned K/L floats,
DuckDB twins for both)."""

import math

import pytest
from pyspark.sql import functions as F

from geogeometry_spark.functions import columns as C
from geogeometry_spark.kernels.geometry import haversine as hav_py
from geogeometry_spark.operators.density import (
    _kde_stencil,
    kde_grid,
    kde_grid_oracle_sql,
    ripley_k,
    ripley_k_oracle_sql,
)

PT_SCHEMA = "event_id long, user_id long, lat double, lon double"


@pytest.fixture()
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def test_kde_stencil_shape_and_weights():
    st = _kde_stencil(3, 1.5, 10**9)
    # circular truncation: 29 addresses inside radius 3
    assert len(st) == 29
    w = {(dx, dy): wq for dx, dy, wq in st}
    assert w[(0, 0)] == 10**9
    assert w[(1, 0)] == round(math.exp(-1 / 4.5) * 10**9)
    assert w[(2, 2)] == round(math.exp(-8 / 4.5) * 10**9)
    assert (3, 1) not in w  # d2 = 10 > 9
    # symmetry
    assert w[(1, 2)] == w[(-1, 2)] == w[(2, 1)] == w[(-2, -1)]


def test_kde_single_point_spreads_stencil(spark):
    # one point mid-lattice: output is exactly the 29 stencil
    # addresses, each carrying its own weight as integer mass
    out = kde_grid(
        spark.createDataFrame([(1, 1, 0.0, 0.0)], PT_SCHEMA), zoom=8
    ).collect()
    assert len(out) == 29
    st = {(dx, dy): wq for dx, dy, wq in _kde_stencil(3, 1.5, 10**9)}
    # recover the source cell from the max-weight address
    cx, cy = max(out, key=lambda r: r.density_q).tx, max(
        out, key=lambda r: r.density_q
    ).ty
    for r in out:
        assert r.src_cells == 1
        assert r.density_q == st[(r.tx - cx, r.ty - cy)]
        assert r.kde_r3 == round(r.density_q / 1e9, 3)


def test_kde_antimeridian_wrap_and_pole_edge(spark):
    # point in tile column 0 at the top lattice row: x-addresses wrap
    # to 255, negative y-addresses are dropped
    rows = [(1, 1, 85.0, -179.9)]
    out = kde_grid(spark.createDataFrame(rows, PT_SCHEMA), zoom=8)
    got = out.collect()
    xs = {r.tx for r in got}
    assert xs & {253, 254, 255}, xs  # wrapped column addresses
    assert all(r.ty >= 0 for r in got)
    assert len(got) < 29  # pole edge swallowed some stencil rows


def test_kde_mass_additivity(spark):
    # two points in the SAME cell double every address's mass vs one
    one = kde_grid(
        spark.createDataFrame([(1, 1, 10.0, 10.0)], PT_SCHEMA), zoom=8
    )
    two = kde_grid(
        spark.createDataFrame(
            [(1, 1, 10.0, 10.0), (2, 1, 10.0, 10.0)], PT_SCHEMA
        ),
        zoom=8,
    )
    a = {(r.tx, r.ty): r.density_q for r in one.collect()}
    b = {(r.tx, r.ty): r.density_q for r in two.collect()}
    assert b == {k: 2 * v for k, v in a.items()}


def test_kde_matches_duckdb_twin(spark, duck, lattice_edge_cases):
    import pandas as pd

    rows = []
    for i in range(500):
        rows.append(
            (
                i,
                ((i * 37) % 160) - 80 + 0.123,
                ((i * 91) % 360) - 180 + 0.456,
            )
        )
    for rows, zoom in [(rows, 6), *lattice_edge_cases]:
        pdf = pd.DataFrame(
            [r[:3] for r in rows], columns=["event_id", "lat", "lon"]
        )
        duck.register("pts_kde", pdf)
        got = sorted(
            tuple(r)
            for r in kde_grid(spark.createDataFrame(pdf), zoom=zoom).collect()
        )
        want = sorted(
            tuple(r)
            for r in duck.sql(
                kde_grid_oracle_sql(
                    "(SELECT lat, lon FROM pts_kde)", zoom=zoom
                )
            ).fetchall()
        )
        assert got and got == want, zoom
        assert zoom != 6 or len(got) > 100


# ---------------------------------------------------------------- Ripley K


def test_ripley_counts_and_formulas(spark):
    # three points on a meridian, ~111 m apart; radii pick up 2 then 3
    # pairs; K/L follow the pinned formulas exactly
    rows = [
        (1, 1, 52.0, 13.0),
        (2, 1, 52.001, 13.0),
        (3, 1, 52.002, 13.0),
    ]
    area = 1.0e6
    out = ripley_k(
        spark.createDataFrame(rows, PT_SCHEMA),
        radii_m=[150.0, 250.0],
        area_m2=area,
        max_abs_lat=53.0,
    ).collect()
    by_r = {r.r_mm: r for r in out}
    d1 = hav_py(52.0, 13.0, 52.001, 13.0)
    assert d1 < 150.0 < 2 * d1 < 250.0
    assert by_r[150000].pairs == 2  # the two adjacent pairs
    assert by_r[250000].pairs == 3  # + the spanning pair
    for r in out:
        assert r.n_points == 3
        k = (area * (2.0 * r.pairs)) / (3.0 * 2.0)
        assert r.k_r3 == round(k, 3)
        assert r.l_r3 == round(
            math.sqrt(k / 3.141592653589793) - r.r_mm / 1000.0, 3
        )


def test_ripley_multiplicity_collapse(spark):
    # 4 coincident points + 1 near neighbor: within-rep pairs = 6 at
    # d=0, cross pairs = 4 * 1
    rows = [(i, 1, 48.0, 11.0) for i in range(4)] + [
        (9, 1, 48.0005, 11.0)
    ]
    out = ripley_k(
        spark.createDataFrame(rows, PT_SCHEMA),
        radii_m=[10.0, 100.0],
        area_m2=1.0e6,
        max_abs_lat=49.0,
    ).collect()
    by_r = {r.r_mm: r for r in out}
    assert by_r[10000].pairs == 6  # only the coincident clique
    assert by_r[100000].pairs == 10  # + 4 cross pairs (~55.6 m)
    assert all(r.n_points == 5 for r in out)


def test_ripley_brute_force_parity(spark):
    # 60 scattered points: pair counts per radius must equal the O(n^2)
    # reference despite the grid-candidate join
    import itertools

    pts = [
        (
            i,
            1,
            52.0 + ((i * 13) % 40) * 0.0007,
            13.0 + ((i * 29) % 50) * 0.0011,
        )
        for i in range(60)
    ]
    radii = [50.0, 150.0, 400.0, 1200.0]
    out = ripley_k(
        spark.createDataFrame(pts, PT_SCHEMA),
        radii_m=radii,
        area_m2=2.0e7,
        max_abs_lat=53.0,
    ).collect()
    by_r = {r.r_mm: r.pairs for r in out}
    for r in radii:
        mm = round(r * 1000.0)
        want = sum(
            1
            for (_, _, la1, lo1), (_, _, la2, lo2) in itertools.combinations(
                pts, 2
            )
            if round(hav_py(la1, lo1, la2, lo2) * 1000.0) <= mm
        )
        assert by_r[mm] == want, (r, by_r[mm], want)


def test_ripley_matches_duckdb_twin(spark, duck):
    import pandas as pd

    rows = []
    for i in range(300):
        rows.append(
            (
                i,
                i % 11,
                52.0 + ((i * 17) % 90) * 0.0009,
                13.0 + ((i * 41) % 70) * 0.0013,
            )
        )
    # add coincident clumps so multiplicity paths fire in both engines
    rows += [(1000 + j, 5, 52.01, 13.01) for j in range(5)]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "lat", "lon"]
    )
    duck.register("pts_rip", pdf)
    radii = [100.0, 300.0, 900.0]
    got = sorted(
        tuple(r)
        for r in ripley_k(
            spark.createDataFrame(pdf),
            radii_m=radii,
            area_m2=5.0e7,
            max_abs_lat=53.0,
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in duck.sql(
            ripley_k_oracle_sql(
                "(SELECT event_id, lat, lon FROM pts_rip)",
                radii_m=radii,
                area_m2=5.0e7,
                max_abs_lat=53.0,
            )
        ).fetchall()
    )
    assert got == want


def test_ripley_rejects_empty_and_planetary(spark):
    df = spark.createDataFrame([(1, 1, 0.0, 0.0)], PT_SCHEMA)
    with pytest.raises(ValueError, match="non-empty"):
        ripley_k(df, radii_m=[], area_m2=1.0)
    with pytest.raises(ValueError, match="all-pairs"):
        ripley_k(df, radii_m=[9.0e6], area_m2=1.0)


# --------------------------------------------------------------------------
# Clark-Evans nearest-neighbor index
# --------------------------------------------------------------------------

def _ce_import():
    from geogeometry_spark.operators.density import (
        clark_evans,
        clark_evans_oracle_sql,
    )

    return clark_evans, clark_evans_oracle_sql


def test_clark_evans_brute_force_parity(spark):
    # 50 scattered singletons: mean NN distance must equal the O(n^2)
    # reference (every true NN is inside r_max, so nothing censors)
    clark_evans, _ = _ce_import()
    pts = [
        (
            i,
            1,
            52.0 + ((i * 13) % 40) * 0.0007,
            13.0 + ((i * 29) % 50) * 0.0011,
        )
        for i in range(50)
    ]
    out = clark_evans(
        spark.createDataFrame(pts, PT_SCHEMA),
        r_max_m=2000.0,
        area_m2=2.0e7,
        max_abs_lat=53.0,
    ).collect()[0]
    nn_mm = []
    for i, (_, _, la1, lo1) in enumerate(pts):
        best = min(
            round(hav_py(la1, lo1, la2, lo2) * 1000.0)
            for j, (_, _, la2, lo2) in enumerate(pts)
            if j != i
        )
        nn_mm.append(best)
    assert out.n_points == 50
    assert out.n_included == 50
    assert out.n_censored == 0
    mean_nn = (sum(nn_mm) / 1000.0) / 50
    assert out.mean_nn_r3 == round(mean_nn, 3)
    rho = 50 / 2.0e7
    d_exp = 0.5 / math.sqrt(rho)
    assert out.r_index_r6 == pytest.approx(mean_nn / d_exp, abs=2e-6)


def test_clark_evans_coincident_and_censored(spark):
    # two coincident points (NN = 0 each) plus one isolated point far
    # beyond r_max: the isolated one censors, the pile contributes 0
    clark_evans, _ = _ce_import()
    rows = [
        (1, 1, 52.0, 13.0),
        (2, 1, 52.0, 13.0),
        (3, 1, 55.0, 20.0),
    ]
    out = clark_evans(
        spark.createDataFrame(rows, PT_SCHEMA),
        r_max_m=500.0,
        area_m2=1.0e6,
        max_abs_lat=56.0,
    ).collect()[0]
    assert out.n_points == 3
    assert out.n_included == 2
    assert out.n_censored == 1
    assert out.mean_nn_r3 == 0.0
    assert out.r_index_r6 == 0.0  # clustered limit


def test_clark_evans_matches_duckdb_twin(spark, duck):
    import pandas as pd

    clark_evans, clark_evans_oracle_sql = _ce_import()
    rows = []
    for i in range(300):
        rows.append(
            (
                i,
                i % 11,
                52.0 + ((i * 17) % 90) * 0.0009,
                13.0 + ((i * 41) % 70) * 0.0013,
            )
        )
    rows += [(1000 + j, 5, 52.01, 13.01) for j in range(5)]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "lat", "lon"]
    )
    duck.register("pts_ce", pdf)
    got = [
        tuple(r)
        for r in clark_evans(
            spark.createDataFrame(pdf),
            r_max_m=400.0,
            area_m2=5.0e7,
            max_abs_lat=53.0,
        ).collect()
    ]
    want = duck.sql(
        clark_evans_oracle_sql(
            "(SELECT event_id, lat, lon FROM pts_ce)",
            r_max_m=400.0,
            area_m2=5.0e7,
            max_abs_lat=53.0,
        )
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_clark_evans_rejects_planetary(spark):
    clark_evans, _ = _ce_import()
    df = spark.createDataFrame([(1, 1, 0.0, 0.0)], PT_SCHEMA)
    with pytest.raises(ValueError, match="all-pairs"):
        clark_evans(df, r_max_m=1.0e7, area_m2=1.0)


# --------------------------------------------------------------------------
# Empirical semivariogram
# --------------------------------------------------------------------------

def _vg_import():
    from geogeometry_spark.operators.density import (
        variogram,
        variogram_oracle_sql,
    )

    return variogram, variogram_oracle_sql


VG_SCHEMA = "event_id long, user_id long, lat double, lon double, v long"


def test_variogram_brute_force_parity(spark):
    # 40 points with an integer reading: per-bin pair counts and
    # gamma must equal the O(n^2) reference
    import itertools

    variogram, _ = _vg_import()
    pts = [
        (
            i,
            1,
            52.0 + ((i * 13) % 40) * 0.0007,
            13.0 + ((i * 29) % 50) * 0.0011,
            (i * 7) % 5,
        )
        for i in range(40)
    ]
    edges = [100.0, 400.0, 1200.0, 4000.0]
    out = variogram(
        spark.createDataFrame(pts, VG_SCHEMA),
        value_col="v",
        lag_edges_m=edges,
        max_abs_lat=53.0,
    ).collect()
    e_mm = [round(e * 1000.0) for e in edges]
    lows = [-1] + e_mm[:-1]
    want_n = [0] * len(e_mm)
    want_s = [0] * len(e_mm)
    for (a, b) in itertools.combinations(pts, 2):
        d = round(hav_py(a[2], a[3], b[2], b[3]) * 1000.0)
        for i, (lo, hi) in enumerate(zip(lows, e_mm)):
            if lo < d <= hi:
                want_n[i] += 1
                want_s[i] += (a[4] - b[4]) ** 2
    by_bin = {r.bin: r for r in out}
    for i in range(len(e_mm)):
        r = by_bin[i]
        assert r.n_pairs == want_n[i], (i, r.n_pairs, want_n[i])
        if want_n[i]:
            assert r.gamma_r6 == round(want_s[i] / (2.0 * want_n[i]), 6)
        else:
            assert r.gamma_r6 is None


def test_variogram_coincident_pairs_count_in_bin0(spark):
    # a pile of 3 identical (position, value) rows adds 3 zero-
    # difference pairs to bin 0; a same-position DIFFERENT value adds
    # 3 more pairs with difference 4
    variogram, _ = _vg_import()
    rows = [
        (1, 1, 52.0, 13.0, 2),
        (2, 1, 52.0, 13.0, 2),
        (3, 1, 52.0, 13.0, 2),
        (4, 1, 52.0, 13.0, 4),
    ]
    out = variogram(
        spark.createDataFrame(rows, VG_SCHEMA),
        value_col="v",
        lag_edges_m=[100.0],
        max_abs_lat=53.0,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_pairs == 6
    # numerator: 3 cross pairs with diff^2 = 4 -> 12 / (2 * 6) = 1.0
    assert r.gamma_r6 == 1.0


def test_variogram_matches_duckdb_twin(spark, duck):
    import pandas as pd

    variogram, variogram_oracle_sql = _vg_import()
    rows = []
    for i in range(300):
        rows.append(
            (
                i,
                i % 11,
                52.0 + ((i * 17) % 90) * 0.0009,
                13.0 + ((i * 41) % 70) * 0.0013,
                (i * 3) % 6,
            )
        )
    rows += [(1000 + j, 5, 52.01, 13.01, j % 2) for j in range(5)]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "lat", "lon", "v"]
    )
    duck.register("pts_vg", pdf)
    edges = [100.0, 300.0, 900.0]
    got = sorted(
        tuple(r)
        for r in variogram(
            spark.createDataFrame(pdf),
            value_col="v",
            lag_edges_m=edges,
            max_abs_lat=53.0,
        ).collect()
    )
    want = sorted(
        tuple(w)
        for w in duck.sql(
            variogram_oracle_sql(
                "(SELECT event_id, lat, lon, v FROM pts_vg)",
                value_sql="v",
                lag_edges_m=edges,
                max_abs_lat=53.0,
            )
        ).fetchall()
    )
    assert got == want


# --------------------------------------------------------------------------
# focal statistics
# --------------------------------------------------------------------------

def test_focal_stats_single_cell_spreads_to_nine(spark):
    from geogeometry_spark.operators.density import focal_stats

    out = focal_stats(
        spark.createDataFrame([(1, 1, 0.0, 0.0)] * 5, PT_SCHEMA), zoom=8
    ).collect()
    assert len(out) == 9
    for r in out:
        assert r.n_nbrs == 1
        assert r.focal_sum == r.focal_min == r.focal_max == 5
        assert r.focal_range == 0
        assert r.focal_mean_r6 == 5.0


def test_focal_stats_two_adjacent_cells(spark):
    from geogeometry_spark.operators.density import focal_stats

    # two occupied cells one x-step apart at the equator (z8 cell =
    # 1.40625 deg): counts 2 and 3
    rows = [(1, 1, 0.0, 0.0), (2, 1, 0.0, 0.0),
            (3, 1, 0.0, 1.5), (4, 1, 0.0, 1.5), (5, 1, 0.0, 1.5)]
    out = {
        (r.tx, r.ty): r
        for r in focal_stats(
            spark.createDataFrame(rows, PT_SCHEMA), zoom=8
        ).collect()
    }
    both = [r for r in out.values() if r.n_nbrs == 2]
    assert both  # the shared band sees both cells
    for r in both:
        assert r.focal_sum == 5
        assert (r.focal_min, r.focal_max, r.focal_range) == (2, 3, 1)
        assert r.focal_mean_r6 == 2.5


def test_focal_stats_matches_duckdb_twin(spark, duck, lattice_edge_cases):
    import pandas as pd

    from geogeometry_spark.operators.density import (
        focal_stats,
        focal_stats_oracle_sql,
    )

    rows = [
        (
            i,
            -60.0 + ((i * 17) % 120) * 0.9,
            -170.0 + ((i * 41) % 340),
        )
        for i in range(400)
    ]
    for rows, zoom in [(rows, 6), *lattice_edge_cases]:
        pdf = pd.DataFrame(
            [r[:3] for r in rows], columns=["event_id", "lat", "lon"]
        )
        duck.register("pts_focal", pdf)
        got = sorted(
            tuple(r)
            for r in focal_stats(spark.createDataFrame(pdf), zoom=zoom).collect()
        )
        want = sorted(
            tuple(w)
            for w in duck.sql(
                focal_stats_oracle_sql(
                    "(SELECT lat, lon FROM pts_focal)", zoom=zoom
                )
            ).fetchall()
        )
        assert got == want, zoom


# --------------------------------------------------------------------------
# colocation quotient
# --------------------------------------------------------------------------

CLQ_SCHEMA = "event_id long, user_id long, lat double, lon double, v int"


def test_clq_segregated_vs_mixed(spark):
    import pyspark.sql.functions as F

    from geogeometry_spark.operators.density import colocation_quotient

    # two tight same-group clusters far apart: every NN is same-group
    rows = []
    for i in range(6):
        rows.append((i, 1, 52.0 + i * 1e-4, 13.0, 1))
        rows.append((10 + i, 1, 52.5 + i * 1e-4, 13.5, 0))
    out = colocation_quotient(
        spark.createDataFrame(rows, CLQ_SCHEMA),
        F.col("v") == 1,
        r_max_m=500.0,
        max_abs_lat=54.0,
    ).collect()[0]
    assert out.n_incl == 12 and out.na == 6
    assert out.clq_ab_r6 == 0.0 and out.clq_ba_r6 == 0.0
    # CLQ_AA = (1 / (5/11)) = 2.2
    assert out.clq_aa_r6 == 2.2
    # alternating groups along a line: every NN is the OTHER group
    rows = [
        (i, 1, 52.0 + i * 1e-4, 13.0, i % 2) for i in range(10)
    ]
    out = colocation_quotient(
        spark.createDataFrame(rows, CLQ_SCHEMA),
        F.col("v") == 1,
        r_max_m=500.0,
        max_abs_lat=54.0,
    ).collect()[0]
    assert out.clq_aa_r6 == 0.0 and out.clq_bb_r6 == 0.0
    assert out.clq_ab_r6 == pytest.approx(1.8, abs=1e-6)  # 1/(5/9)


def test_clq_coincident_pile_is_own_neighbor(spark):
    import pyspark.sql.functions as F

    from geogeometry_spark.operators.density import colocation_quotient

    # a pile of 3 A's and a single B at the same position: the A's NN
    # is a distance-0 A sibling (rep id of the A pile < B's only if
    # min ids order that way — here A ids are smaller); B's NN is the
    # A pile at distance 0
    rows = [
        (0, 1, 52.0, 13.0, 1),
        (1, 1, 52.0, 13.0, 1),
        (2, 1, 52.0, 13.0, 1),
        (9, 1, 52.0, 13.0, 0),
    ]
    out = colocation_quotient(
        spark.createDataFrame(rows, CLQ_SCHEMA),
        F.col("v") == 1,
        r_max_m=500.0,
        max_abs_lat=54.0,
    ).collect()[0]
    assert out.n_incl == 4 and out.na == 3 and out.nb == 1
    # all three A's -> A sibling; B -> A pile
    assert out.clq_aa_r6 == pytest.approx(1.5, abs=1e-6)  # 1/(2/3)
    assert out.clq_ba_r6 == pytest.approx(1.0, abs=1e-6)  # 1/(3/3)


def test_clq_matches_duckdb_twin(spark, duck):
    import pandas as pd
    import pyspark.sql.functions as F

    from geogeometry_spark.operators.density import (
        colocation_quotient,
        colocation_quotient_oracle_sql,
    )

    rows = []
    for i in range(400):
        rows.append(
            (
                i,
                i % 11,
                52.0 + ((i * 17) % 90) * 0.0009,
                13.0 + ((i * 41) % 70) * 0.0013,
                1 if (i * 13) % 3 == 0 else 0,
            )
        )
    rows += [(1000 + j, 5, 52.01, 13.01, j % 2) for j in range(6)]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "lat", "lon", "v"]
    )
    duck.register("pts_clq", pdf)
    got = [
        tuple(r)
        for r in colocation_quotient(
            spark.createDataFrame(pdf),
            F.col("v") == 1,
            r_max_m=400.0,
            max_abs_lat=53.0,
        ).collect()
    ]
    want = [
        tuple(w)
        for w in duck.sql(
            colocation_quotient_oracle_sql(
                "(SELECT event_id, lat, lon, v FROM pts_clq)",
                "v = 1",
                r_max_m=400.0,
                max_abs_lat=53.0,
            )
        ).fetchall()
    ]
    assert got == want


# --------------------------------------------------------------------------
# pair correlation function
# --------------------------------------------------------------------------

def test_pcf_rings_sum_to_ripley_and_twin(spark, duck):
    import pandas as pd

    from geogeometry_spark.operators.density import (
        pair_correlation,
        pair_correlation_oracle_sql,
        ripley_k,
    )

    rows = []
    for i in range(300):
        rows.append(
            (
                i,
                i % 11,
                52.0 + ((i * 17) % 90) * 0.0009,
                13.0 + ((i * 41) % 70) * 0.0013,
            )
        )
    rows += [(1000 + j, 5, 52.01, 13.01) for j in range(5)]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "lat", "lon"])
    duck.register("pts_pcf", pdf)
    radii = [100.0, 300.0, 900.0]
    df = spark.createDataFrame(pdf)
    got = sorted(
        tuple(r)
        for r in pair_correlation(
            df, radii_m=radii, area_m2=5.0e7, max_abs_lat=53.0
        ).collect()
    )
    # ring counts must re-cumulate to ripley's pair counts
    rip = {
        r["r_mm"]: r["pairs"]
        for r in ripley_k(
            df, radii_m=radii, area_m2=5.0e7, max_abs_lat=53.0
        ).collect()
    }
    cum = 0
    for bin_, lo, hi, ring, g in got:
        cum += ring
        assert cum == rip[hi]
    want = sorted(
        tuple(w)
        for w in duck.sql(
            pair_correlation_oracle_sql(
                "(SELECT event_id, lat, lon FROM pts_pcf)",
                radii_m=radii,
                area_m2=5.0e7,
                max_abs_lat=53.0,
            )
        ).fetchall()
    )
    assert got == want


def test_pcf_csr_is_flat_near_one(spark):
    from geogeometry_spark.operators.density import pair_correlation

    # near-uniform grid of points over a known area: g ~ 1 in rings
    # well inside the extent
    rows = []
    k = 0
    for a in range(40):
        for b in range(40):
            rows.append(
                (k, 1, 52.0 + a * 0.0018 + (k % 3) * 0.0004,
                 13.0 + b * 0.0029 + (k % 5) * 0.0005)
            )
            k += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, lat double, lon double"
    )
    # extent ~ 0.072 x 0.116 deg at 52N ~ 8000 m x 7900 m
    out = pair_correlation(
        df, radii_m=[200.0, 400.0, 800.0], area_m2=6.3e7,
        max_abs_lat=53.0,
    ).collect()
    g_mid = [r["g_r6"] for r in out if r["bin"] >= 1]
    for g in g_mid:
        assert 0.5 < g < 1.6, out


# --------------------------------------------------------------------------
# space-time KDE cube
# --------------------------------------------------------------------------

STK_SCHEMA = "event_id long, user_id long, ts_sec long, lat double, lon double"


def test_stkde_single_point_spreads_separable_stencil(spark):
    from geogeometry_spark.operators.density import (
        _stkde_stencil,
        stkde_cube,
    )

    out = stkde_cube(
        spark.createDataFrame([(1, 1, 7200, 0.0, 0.0)], STK_SCHEMA),
        zoom=8,
        bucket_s=3600,
    ).collect()
    st = {
        (dx, dy, dt): w
        for dx, dy, dt, w in _stkde_stencil(3, 1.5, 2, 1.0, 10**9)
    }
    assert len(out) == len(st)  # 29 spatial x 5 temporal
    center = max(out, key=lambda r: r.density_q)
    assert (center.tx, center.ty, center.tb) and center.density_q == 10**9
    for r in out:
        key = (r.tx - center.tx, r.ty - center.ty, r.tb - center.tb)
        assert r.density_q == st[key]
        assert r.src_bins == 1


def test_stkde_temporal_separation(spark):
    from geogeometry_spark.operators.density import stkde_cube

    # two bursts 10 buckets apart: no cross-contamination (radius 2)
    rows = [(i, 1, 0, 10.0, 10.0) for i in range(3)]
    rows += [(10 + i, 1, 36000, 10.0, 10.0) for i in range(5)]
    out = stkde_cube(
        spark.createDataFrame(rows, STK_SCHEMA), zoom=8, bucket_s=3600
    ).collect()
    # center bins carry exactly their own burst's mass
    by_tb = {r.tb: r for r in out if r.density_q % 10**9 == 0}
    assert by_tb[0].density_q == 3 * 10**9
    assert by_tb[10].density_q == 5 * 10**9


def test_stkde_matches_duckdb_twin(spark, duck):
    import pandas as pd

    from geogeometry_spark.operators.density import (
        stkde_cube,
        stkde_cube_oracle_sql,
    )

    rows = [
        (
            i,
            i % 7,
            3600 * ((i * 13) % 30),
            -60.0 + ((i * 17) % 120) * 0.9,
            -170.0 + ((i * 41) % 340),
        )
        for i in range(400)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "ts_sec", "lat", "lon"]
    )
    duck.register("pts_stk", pdf)
    got = sorted(
        tuple(r)
        for r in stkde_cube(
            spark.createDataFrame(pdf), zoom=6, bucket_s=7200
        ).collect()
    )
    want = sorted(
        tuple(w)
        for w in duck.sql(
            stkde_cube_oracle_sql(
                "(SELECT ts_sec, lat, lon FROM pts_stk)",
                zoom=6,
                bucket_s=7200,
            )
        ).fetchall()
    )
    assert got == want

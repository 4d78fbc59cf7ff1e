"""The broadcast PIP's native border recheck (functions.columns.pip_col /
pip_index) against the kernel ray cast, and the plans it runs in: no
Python worker and no silent codegen fallback, for the geohash, S2 and
hex broadcast joins."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geogeometry_spark import fixtures
from geogeometry_spark.functions import columns as C
from geogeometry_spark.kernels import geometry as kgeo
from geogeometry_spark.operators.hex_join import hex_pip_join
from geogeometry_spark.operators.pip_join import pip_join
from geogeometry_spark.operators.s2_join import s2_pip_join

PIP_JOINS = {"geohash": pip_join, "s2": s2_pip_join, "hex": hex_pip_join}
HOWS = ("inner", "left_semi", "left_anti")

# beyond the three Berlin fixtures: the ±1 square of the reference PIP
# truth table (GeoGeometryMigratedTests.kt:75-80), a square with a
# hole, and a polygon across the antimeridian
EXTRA_POLYGONS = {
    "unit_square": [[[1.0, 1.0], [1.0, -1.0], [-1.0, -1.0], [-1.0, 1.0]]],
    "square_hole": [
        [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]],
        [[0.25, 0.25], [0.75, 0.25], [0.75, 0.75], [0.25, 0.75], [0.25, 0.25]],
    ],
    "antimeridian": [
        [[179.5, -10.0], [-179.0, -10.5], [-179.5, -9.0], [179.0, -9.5],
         [179.5, -10.0]]
    ],
}


def _polygons() -> dict[str, list[np.ndarray]]:
    polys = fixtures.polygons_np()
    polys.update(fixtures.polygons_np(EXTRA_POLYGONS))
    return polys


def _probes(
    rings: list[np.ndarray], seed: int, antipodal: bool = True
) -> np.ndarray:
    """(lat, lon) rows: every vertex, vertex offsets inside (1e-10) and
    outside (1e-8) the 1e-9 vertex eps, every edge midpoint, random
    points around the bbox and, with ``antipodal``, the images (lon ±
    180) of vertices, midpoints and some random points."""
    out = []
    for ring in rings:
        for i in range(len(ring)):
            x, y = ring[i]
            x2, y2 = ring[(i + 1) % len(ring)]
            for d in (0.0, 1e-10, -1e-10, 1e-8, -1e-8):
                out += [(y + d, x), (y, x + d), (y + d, x - d)]
            mx, my = (x + x2) / 2, (y + y2) / 2
            out += [(my, mx), (my + 1e-10, mx), (my - 1e-8, mx)]
            if antipodal:
                for px, py in ((x, y), (mx, my)):
                    out.append((py, px - 180.0 if px > 0 else px + 180.0))
    outer = rings[0]
    lo, hi = outer.min(axis=0), outer.max(axis=0)
    pad = 0.2 * (hi - lo)
    pts = np.random.default_rng(seed).uniform(lo - pad, hi + pad, (400, 2))
    out += [(p[1], p[0]) for p in pts]
    if antipodal:
        out += [(p[1], p[0] - 180.0) for p in pts[:50]]
    return np.asarray(out, dtype=np.float64)


def _kernel(polys, lat, lon) -> dict[str, np.ndarray]:
    return {
        pid: kgeo.polygon_with_holes_contains(lat, lon, rings[0], rings[1:])
        for pid, rings in polys.items()
    }


def test_pip_col_matches_kernel(spark):
    """pip_col (one polygon) and pip_index (the whole set, dispatched by
    a per-row index) agree with the kernel ray cast on every probe,
    boundary and eps probes included, for every polygon."""
    polys = _polygons()
    probes = np.concatenate(
        [_probes(rings, seed) for seed, rings in enumerate(polys.values())]
    )
    lat, lon = probes[:, 0], probes[:, 1]
    expected = _kernel(polys, lat, lon)
    pids = list(polys)
    rows = [
        (i, float(la), float(lo), k)
        for i, (la, lo) in enumerate(probes)
        for k in range(1, len(pids) + 1)
    ]
    df = spark.createDataFrame(rows, "i long, lat double, lon double, k int")
    contains = C.pip_index(F.col("lat"), F.col("lon"), list(polys.values()))
    got_index = np.zeros((len(probes), len(pids)), dtype=bool)
    for r in df.select("i", "k", contains(F.col("k")).alias("hit")).collect():
        got_index[r["i"], r["k"] - 1] = r["hit"]
    single = df.where(F.col("k") == 1).select(
        "i",
        *[
            C.pip_col(F.col("lat"), F.col("lon"), rings).alias(pid)
            for pid, rings in polys.items()
        ],
    )
    got_single = {pid: np.zeros(len(probes), dtype=bool) for pid in pids}
    for r in single.collect():
        for pid in pids:
            got_single[pid][r["i"]] = r[pid]
    for k, pid in enumerate(pids):
        assert expected[pid].any() and not expected[pid].all(), pid
        assert (got_index[:, k] == expected[pid]).all(), pid
        assert (got_single[pid] == expected[pid]).all(), pid


@pytest.fixture(scope="module")
def berlin_points(spark):
    """Probes of the fixture polygons plus a scatter of far-away points,
    with the native 12-char geohash key pip_join probes on.  No
    antipodal probes: the reference predicate accepts some of them,
    but no cell cover proposes them (a known defect of the covers)."""
    polys = fixtures.polygons_np()
    probes = np.concatenate(
        [
            _probes(rings, seed, antipodal=False)
            for seed, rings in enumerate(polys.values())
        ]
        + [np.random.default_rng(9).uniform((-80, -179), (80, 179), (200, 2))]
    )
    rows = [(i, float(la), float(lo)) for i, (la, lo) in enumerate(probes)]
    df = spark.createDataFrame(rows, "doc_id long, lat double, lon double")
    return df.withColumn(
        "cell_id", C.geohash_interleaved(F.col("lat"), F.col("lon"), 12)
    ).cache()


@pytest.mark.parametrize("scheme", sorted(PIP_JOINS))
def test_broadcast_pip_compiles_without_codegen_fallback(
    spark, berlin_points, scheme
):
    """With spark.sql.codegen.fallback=false a whole-stage codegen
    compile error (e.g. a method past Janino's 64 KB limit) raises
    instead of silently de-optimizing the stage.  All three join shapes
    must compile, and match the kernel ray cast."""
    rows = berlin_points.select("doc_id", "lat", "lon").collect()
    ids = np.array([r["doc_id"] for r in rows])
    lat = np.array([r["lat"] for r in rows])
    lon = np.array([r["lon"] for r in rows])
    expected = {
        (int(ids[i]), pid)
        for pid, hit in _kernel(fixtures.polygons_np(), lat, lon).items()
        for i in np.nonzero(hit)[0]
    }
    join = PIP_JOINS[scheme]
    prev = spark.conf.get("spark.sql.codegen.fallback", None)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        inner = {
            (r["doc_id"], r["polygon_id"])
            for r in join(berlin_points).select("doc_id", "polygon_id").collect()
        }
        semi = {r["doc_id"] for r in join(berlin_points, how="left_semi").collect()}
        anti = {r["doc_id"] for r in join(berlin_points, how="left_anti").collect()}
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.codegen.fallback")
        else:
            spark.conf.set("spark.sql.codegen.fallback", prev)
    assert inner == expected
    assert semi == {d for d, _ in expected}
    assert anti == set(ids.tolist()) - semi


@pytest.mark.parametrize("scheme", sorted(PIP_JOINS))
def test_broadcast_pip_plans_run_no_python(spark, berlin_points, scheme):
    """No EvalPython node in any of the nine broadcast PIP plans, and
    still exactly one Exchange, the broadcast.  The probe keys are
    native Columns here (the S2 leaf id, the hex cell at the cover
    res), so the plan shows only what the join itself adds."""
    from geogeometry_spark.functions.hexcell import hex_cell
    from geogeometry_spark.functions.s2cell import s2_cell_id
    from geogeometry_spark.kernels import hexgrid as hg
    from geogeometry_spark.operators.hex_join import _COVER_MAX_CELLS

    lat, lon = F.col("lat"), F.col("lon")
    if scheme == "geohash":
        joins = {how: pip_join(berlin_points, how=how) for how in HOWS}
    elif scheme == "s2":
        pts = berlin_points.withColumn("s2_30", s2_cell_id(lat, lon, 30))
        joins = {how: s2_pip_join(pts, how=how) for how in HOWS}
    else:
        res = hg.cover_res_for_rings(
            list(fixtures.polygons_np().values()), max_cells=_COVER_MAX_CELLS
        )
        pts = berlin_points.withColumn("hex", hex_cell(lat, lon, res))
        joins = {
            how: hex_pip_join(pts, cell_col="hex", res=res, how=how)
            for how in HOWS
        }
    for how, df in joins.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, (how, plan)
        exchanges = [l for l in plan.splitlines() if "Exchange" in l]
        assert len(exchanges) == 1 and "BroadcastExchange" in exchanges[0], (
            how,
            plan,
        )

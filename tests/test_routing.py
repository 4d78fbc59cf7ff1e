"""Routing operator tests: SSSP fixed-point semantics on graphs small
enough to verify by hand, plus DuckDB-twin parity on the contract's
road-grid fixture."""

import pytest
from pyspark.sql import functions as F

from geogeometry_spark.operators.routing import (
    nearest_facility,
    nearest_facility_oracle_sql,
    sssp,
    sssp_oracle_sql,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src int, dst int, w_mm long")


def _seeds(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node int")


def _dists(df):
    return {r["node"]: r["dist_mm"] for r in df.collect()}


def test_sssp_chain_sums_exactly(spark):
    e = _edges(spark, [(0, 1, 5), (1, 2, 7), (2, 3, 11)])
    got = _dists(sssp(e, _seeds(spark, [0])))
    assert got == {0: 0, 1: 5, 2: 12, 3: 23}


def test_sssp_detour_beats_direct_edge(spark):
    # the 2-hop path (3 + 4 = 7) must displace the direct edge (10):
    # label-correcting relaxation keeps improving settled nodes
    e = _edges(spark, [(0, 2, 10), (0, 1, 3), (1, 2, 4)])
    got = _dists(sssp(e, _seeds(spark, [0])))
    assert got[2] == 7


def test_sssp_longer_hop_path_wins_late(spark):
    # a 4-hop cheap chain beats a 1-hop expensive edge; the frontier
    # must stay alive past the round where node 4 first gets a label
    e = _edges(
        spark,
        [(0, 4, 100)]
        + [(i, i + 1, 10) for i in range(4)],
    )
    got = _dists(sssp(e, _seeds(spark, [0])))
    assert got[4] == 40


def test_sssp_multi_source_takes_nearest_seed(spark):
    e = _edges(spark, [(0, 1, 10), (5, 1, 2), (1, 2, 3)])
    got = _dists(sssp(e, _seeds(spark, [0, 5])))
    assert got[1] == 2 and got[2] == 5 and got[0] == 0 and got[5] == 0


def test_sssp_unreachable_nodes_absent(spark):
    e = _edges(spark, [(0, 1, 5), (7, 8, 1)])  # 7,8 in a separate part
    got = _dists(sssp(e, _seeds(spark, [0])))
    assert set(got) == {0, 1}


def test_sssp_directed_asymmetry(spark):
    # reverse direction costs differ; dist must use the src->dst arc
    e = _edges(spark, [(0, 1, 5), (1, 0, 50)])
    got = _dists(sssp(e, _seeds(spark, [1])))
    assert got == {1: 0, 0: 50}


def test_sssp_warns_when_rounds_exhausted(spark):
    e = _edges(spark, [(0, 1, 1), (1, 2, 1), (2, 3, 1)])
    with pytest.warns(RuntimeWarning, match="sssp"):
        got = _dists(sssp(e, _seeds(spark, [0]), max_rounds=1))
    # one round relaxes only the seed's out-edges
    assert got[1] == 1 and 3 not in got


def test_sssp_oracle_twin_matches_on_road_grid(spark, duck):
    from geogeometry_spark.contract import (
        _SSSP_ROUNDS,
        _road_graph_edges,
        _road_graph_edges_sql,
    )

    got = _dists(
        sssp(
            _road_graph_edges(spark),
            spark.range(1).select(F.lit(0).cast("int").alias("node")),
        )
    )
    want = dict(
        duck.execute(
            sssp_oracle_sql(
                _road_graph_edges_sql(),
                "(SELECT CAST(0 AS INT) AS node)",
                rounds=_SSSP_ROUNDS,
            )
        ).fetchall()
    )
    assert got == want and len(got) == 400


def test_nearest_facility_assigns_by_network_cost(spark):
    # chain 0-1-2-3-4 (unit costs both ways); facilities at 0 and 4:
    # catchment splits at the middle, node 2 ties and takes seed 0
    rows = []
    for i in range(4):
        rows += [(i, i + 1, 10), (i + 1, i, 10)]
    got = {
        r["node"]: (r["dist_mm"], r["seed"])
        for r in nearest_facility(
            _edges(spark, rows), _seeds(spark, [0, 4])
        ).collect()
    }
    assert got == {
        0: (0, 0),
        1: (10, 0),
        2: (20, 0),  # exact tie 20 vs 20 -> smaller facility id
        3: (10, 4),
        4: (0, 4),
    }


def test_nearest_facility_label_rides_cheaper_detour(spark):
    # node 2 is 1 hop from facility 3 (cost 50) but 2 hops from
    # facility 0 (3 + 4 = 7): the label must follow cost, not hops
    e = _edges(spark, [(3, 2, 50), (0, 1, 3), (1, 2, 4)])
    got = {
        r["node"]: (r["dist_mm"], r["seed"])
        for r in nearest_facility(e, _seeds(spark, [0, 3])).collect()
    }
    assert got[2] == (7, 0)


def test_nearest_facility_oracle_twin_matches(spark, duck):
    from geogeometry_spark.contract import (
        _FACILITY_NODES,
        _SSSP_ROUNDS,
        _road_graph_edges,
        _road_graph_edges_sql,
    )

    got = {
        r["node"]: (r["dist_mm"], r["seed"])
        for r in nearest_facility(
            _road_graph_edges(spark),
            _seeds(spark, list(_FACILITY_NODES)),
        ).collect()
    }
    vals = ", ".join(f"({n})" for n in _FACILITY_NODES)
    want = {
        n: (d, s)
        for n, d, s in duck.execute(
            nearest_facility_oracle_sql(
                _road_graph_edges_sql(),
                f"(SELECT CAST(n AS INT) AS node FROM (VALUES {vals}) t(n))",
                rounds=_SSSP_ROUNDS,
            )
        ).fetchall()
    }
    assert got == want and len(got) == 400
    # every corner labels itself; all four catchments are non-empty
    for f in _FACILITY_NODES:
        assert got[f] == (0, f)
    assert {s for _, s in got.values()} == set(_FACILITY_NODES)


def test_sssp_oracle_unroll_depth_is_converged(duck):
    # the fixture bound arithmetic in contract.py promises d72 is the
    # fixed point: one extra unrolled round must change nothing
    from geogeometry_spark.contract import (
        _SSSP_ROUNDS,
        _road_graph_edges_sql,
    )

    def at(k):
        return dict(
            duck.execute(
                sssp_oracle_sql(
                    _road_graph_edges_sql(),
                    "(SELECT CAST(0 AS INT) AS node)",
                    rounds=k,
                )
            ).fetchall()
        )

    assert at(_SSSP_ROUNDS) == at(_SSSP_ROUNDS + 1)


# --------------------------------------------------------------------------
# harmonic closeness (landmark product graph)
# --------------------------------------------------------------------------

def test_harmonic_closeness_path_graph(spark):
    from geogeometry_spark.operators.routing import harmonic_closeness

    # path 0 -1000mm- 1 -1000mm- 2, landmarks {0, 2}
    rows = [
        (0, 1, 1000),
        (1, 0, 1000),
        (1, 2, 1000),
        (2, 1, 1000),
    ]
    e = spark.createDataFrame(rows, "src int, dst int, w_mm long")
    lm = spark.createDataFrame([(0,), (2,)], "node int")
    got = {
        r["node"]: r for r in harmonic_closeness(e, lm).collect()
    }
    # node 1: 1/1m from each side -> q = 2 * (1e12 // 1000)
    assert got[1]["n_reached"] == 2
    assert got[1]["closeness_q"] == 2 * (10**12 // 1000)
    assert got[1]["closeness"] == pytest.approx(2.0)
    # node 0: landmark 0 contributes nothing (d=0), landmark 2 at 2m
    assert got[0]["n_reached"] == 1
    assert got[0]["closeness_q"] == 10**12 // 2000


def test_harmonic_closeness_disconnected_contributes_zero(spark):
    from geogeometry_spark.operators.routing import harmonic_closeness

    # two components; landmark in one of them
    rows = [(0, 1, 500), (1, 0, 500), (5, 6, 500), (6, 5, 500)]
    e = spark.createDataFrame(rows, "src int, dst int, w_mm long")
    lm = spark.createDataFrame([(0,)], "node int")
    got = {r["node"]: r for r in harmonic_closeness(e, lm).collect()}
    assert 5 not in got and 6 not in got  # unreachable: no row
    assert got[1]["n_reached"] == 1


def test_harmonic_closeness_twin_parity(spark):
    import duckdb

    from geogeometry_spark.operators.routing import (
        harmonic_closeness,
        harmonic_closeness_oracle_sql,
    )

    rows = [
        (i % 9, (i * 5 + 2) % 9, 1000 + (i * 37) % 500)
        for i in range(20)
        if i % 9 != (i * 5 + 2) % 9
    ]
    e = spark.createDataFrame(rows, "src int, dst int, w_mm long")
    lm = spark.createDataFrame([(0,), (4,), (7,)], "node int")
    got = sorted(
        tuple(r)
        for r in harmonic_closeness(e, lm).collect()
    )
    vals = ", ".join(f"({s}, {d}, {w})" for s, d, w in rows)
    con = duckdb.connect()
    want = sorted(
        tuple(r)
        for r in con.sql(
            harmonic_closeness_oracle_sql(
                f"(SELECT * FROM (VALUES {vals}) t(src, dst, w_mm))",
                [0, 4, 7],
                rounds=12,
            )
        ).fetchall()
    )
    con.close()
    assert got == want


# --------------------------------------------------------------------------
# betweenness centrality
# --------------------------------------------------------------------------

def test_betweenness_path_graph_closed_form(spark):
    from geogeometry_spark.operators.routing import betweenness

    rows = []
    for a, b in [(0, 1), (1, 2), (2, 3)]:
        rows += [(a, b, 1000), (b, a, 1000)]
    e = spark.createDataFrame(rows, "src int, dst int, w_mm long")
    src = spark.createDataFrame([(0,)], "node int")
    out = {
        r["node"]: r["bc_q"]
        for r in betweenness(e, src, rounds=8).collect()
    }
    # from source 0: delta(1) = 2 (carries paths to 2 and 3),
    # delta(2) = 1, delta(3) = 0
    assert out == {1: 2 * 10**9, 2: 1 * 10**9, 3: 0}


def _brandes_quantized(edges, sources, scale=10**9, ratio_scale=10**6):
    """Pure-Python replica of the quantized Brandes fixed point."""
    import heapq
    from collections import defaultdict

    adj = defaultdict(list)
    nodes = set()
    for s, d, w in edges:
        adj[s].append((d, w))
        nodes |= {s, d}
    bc = defaultdict(int)
    for src in sources:
        dist = {n: None for n in nodes}
        dist[src] = 0
        pq = [(0, src)]
        while pq:
            du, u = heapq.heappop(pq)
            if dist[u] is not None and du > dist[u]:
                continue
            for v, w in adj[u]:
                nd = du + w
                if dist[v] is None or nd < dist[v]:
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        dag_succ = defaultdict(list)
        for u in nodes:
            if dist[u] is None:
                continue
            for v, w in adj[u]:
                if dist[v] is not None and dist[u] + w == dist[v]:
                    dag_succ[u].append(v)
        # sigma by increasing dist
        order = sorted(
            (n for n in nodes if dist[n] is not None),
            key=lambda n: dist[n],
        )
        sigma = {n: 0 for n in order}
        sigma[src] = 1
        for u in order:
            for v in dag_succ[u]:
                if v != src:
                    sigma[v] += sigma[u]
        delta = {n: 0 for n in order}
        for u in reversed(order):
            acc = 0
            for v in dag_succ[u]:
                r = (sigma[u] * ratio_scale) // sigma[v]
                acc += (r * (scale + delta[v])) // ratio_scale
            delta[u] = acc
        for n in order:
            if n != src:
                bc[n] += delta[n]
    return dict(bc)


def test_betweenness_matches_python_reference(spark):
    from geogeometry_spark.operators.routing import betweenness

    rows = [
        (i % 9, (i * 5 + 2) % 9, 700 + (i * 211) % 800)
        for i in range(24)
        if i % 9 != (i * 5 + 2) % 9
    ]
    e = spark.createDataFrame(rows, "src int, dst int, w_mm long")
    srcs = [0, 4]
    out = {
        r["node"]: r["bc_q"]
        for r in betweenness(
            e, spark.createDataFrame([(s,) for s in srcs], "node int"),
            rounds=12,
        ).collect()
    }
    want = _brandes_quantized(rows, srcs)
    # operator emits every reachable non-source-replica node (zeros
    # included); the reference only tracks touched nodes
    for n, v in want.items():
        assert out.get(n, 0) == v, (n, out.get(n), v)
    for n, v in out.items():
        assert want.get(n, 0) == v, (n, v, want.get(n))


def test_betweenness_twin_parity(spark):
    import duckdb

    from geogeometry_spark.operators.routing import (
        betweenness,
        betweenness_oracle_sql,
    )

    rows = [
        (i % 7, (i * 3 + 1) % 7, 500 + (i * 137) % 900)
        for i in range(18)
        if i % 7 != (i * 3 + 1) % 7
    ]
    e = spark.createDataFrame(rows, "src int, dst int, w_mm long")
    s = spark.createDataFrame([(0,), (3,)], "node int")
    got = sorted(tuple(r) for r in betweenness(e, s, rounds=10).collect())
    vals = ", ".join(f"({a}, {b}, {w})" for a, b, w in rows)
    con = duckdb.connect()
    want = sorted(
        tuple(r)
        for r in con.sql(
            betweenness_oracle_sql(
                f"(SELECT * FROM (VALUES {vals}) t(src, dst, w_mm))",
                [0, 3],
                sssp_rounds=12,
                rounds=10,
            )
        ).fetchall()
    )
    con.close()
    assert got == want


def test_betweenness_rejects_nonpositive_weights(spark):
    from geogeometry_spark.operators.routing import betweenness

    e = spark.createDataFrame(
        [(0, 1, 0)], "src int, dst int, w_mm long"
    )
    s = spark.createDataFrame([(0,)], "node int")
    with pytest.raises(ValueError, match="positive weights"):
        betweenness(e, s)


def test_harmonic_closeness_int_ids_past_wrap_point(spark):
    # ADVICE round 4: with IntegerType node ids the composite id
    # (src * n_lm + rep) used to multiply in 32-bit and wrap silently
    # near 2^31 / L.  Ids around 1.1e9 with two landmarks put the
    # composite at ~2.2e9 > 2^31 — the long cast must keep it exact.
    base = 1_100_000_000
    rows = [
        (base, base + 1, 1000),
        (base + 1, base, 1000),
        (base + 1, base + 2, 1000),
        (base + 2, base + 1, 1000),
    ]
    e = spark.createDataFrame(rows, "src int, dst int, w_mm long")
    lm = spark.createDataFrame([(base,), (base + 2,)], "node int")
    from geogeometry_spark.operators.routing import harmonic_closeness

    got = {r["node"]: r for r in harmonic_closeness(e, lm).collect()}
    assert set(got) == {base, base + 1, base + 2}
    assert got[base + 1]["n_reached"] == 2
    assert got[base + 1]["closeness_q"] == 2 * (10**12 // 1000)


def test_betweenness_int_ids_past_wrap_point(spark):
    from geogeometry_spark.operators.routing import betweenness

    base = 1_100_000_000
    rows = [
        (base, base + 1, 1000),
        (base + 1, base, 1000),
        (base + 1, base + 2, 1000),
        (base + 2, base + 1, 1000),
    ]
    e = spark.createDataFrame(rows, "src int, dst int, w_mm long")
    src = spark.createDataFrame([(base,), (base + 2,)], "node int")
    got = {r["node"]: r for r in betweenness(e, src).collect()}
    # middle node lies on both source-rooted shortest-path trees
    assert got[base + 1]["bc_q"] > 0


def test_loop_partitions_non_numeric_conf_falls_back_to_parallelism():
    """A session whose shuffle-partition conf is not an integer ("auto"
    on some managed platforms) sizes loops from defaultParallelism
    instead of raising."""
    from types import SimpleNamespace

    from geogeometry_spark.operators.routing import _loop_partitions

    def stub(conf_value, parallelism):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: conf_value),
            sparkContext=SimpleNamespace(defaultParallelism=parallelism),
        )

    assert _loop_partitions(stub("auto", 64)) == 16
    assert _loop_partitions(stub("auto", 4)) == 8
    assert _loop_partitions(stub("200", 4)) == 50

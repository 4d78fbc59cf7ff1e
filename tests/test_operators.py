"""Operator-level Spark tests: parity of distributed operators with the
numpy kernels, span-sequence invariant, skew salting, dedup recall,
pushdown plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geogeometry_spark import fixtures
from geogeometry_spark.functions import columns as C
from geogeometry_spark.kernels import geohash as kgh
from geogeometry_spark.kernels import geometry as kgeo
from geogeometry_spark.operators import dedup, similarity
from geogeometry_spark.operators.extract import extract_coordinates
from geogeometry_spark.operators.hex_join import hex_pip_join
from geogeometry_spark.operators.pip_join import pip_join
from geogeometry_spark.operators.s2_join import s2_pip_join
from geogeometry_spark.operators.tiling import assign_tiles
from geogeometry_spark.sources import tables as src

SF = "/root/testdata/sf0.001"

# the broadcast PIP join of each cell scheme (default fixture polygons)
PIP_JOINS = {"geohash": pip_join, "s2": s2_pip_join, "hex": hex_pip_join}


@pytest.fixture(scope="module")
def coords_df(spark):
    df = src.with_true_coords(src.load_table(spark, SF, "documents")).select(
        "doc_id", "lat", "lon"
    )
    return df.withColumn(
        "cell_id", C.geohash_interleaved(F.col("lat"), F.col("lon"), 12)
    ).cache()


def test_native_geohash_matches_kernel(spark, coords_df):
    """Native Column geohash == reference bisection kernel, row by row."""
    rows = coords_df.select(
        "lat", "lon", C.geohash(F.col("lat"), F.col("lon"), 12).alias("cell")
    ).collect()
    lat = np.array([r["lat"] for r in rows])
    lon = np.array([r["lon"] for r in rows])
    expected = kgh.encode(lat, lon, 12)
    got = np.array([r["cell"] for r in rows])
    assert (expected == got).all()


def test_native_tile_matches_kernel(spark, coords_df):
    from geogeometry_spark.kernels import tiles as ktiles

    for zoom in (8, 22):
        x, y = C.tile_xy(F.col("lat"), F.col("lon"), zoom)
        rows = coords_df.select("lat", "lon", x.alias("x"), y.alias("y")).collect()
        lat = np.array([r["lat"] for r in rows])
        lon = np.array([r["lon"] for r in rows])
        kx, ky = ktiles.coordinate_to_tile(lat, lon, zoom)
        assert (kx == np.array([r["x"] for r in rows])).all()
        assert (ky == np.array([r["y"] for r in rows])).all()


def test_pip_join_matches_brute_force(spark, coords_df):
    """Broadcast cover join + border recheck == plain kernel PIP."""
    got = {
        (r["doc_id"], r["polygon_id"])
        for r in pip_join(coords_df).select("doc_id", "polygon_id").collect()
    }
    rows = coords_df.collect()
    lat = np.array([r["lat"] for r in rows])
    lon = np.array([r["lon"] for r in rows])
    ids = [r["doc_id"] for r in rows]
    expected = set()
    for pid, rings in fixtures.polygons_np().items():
        inside = kgeo.polygon_with_holes_contains(lat, lon, rings[0], rings[1:])
        expected |= {(ids[i], pid) for i in np.nonzero(inside)[0]}
    assert got == expected


def test_semi_anti_join(spark, coords_df):
    n = coords_df.count()
    n_semi = pip_join(coords_df, how="left_semi").count()
    n_anti = pip_join(coords_df, how="left_anti").count()
    assert n_semi + n_anti == n
    assert n_semi > 0


@pytest.mark.parametrize("scheme", ["geohash", "s2", "hex"])
def test_pip_semi_anti_partition_points(spark, coords_df, scheme):
    """Semi and anti partition the points exactly (no duplication, no
    loss) and the semi set equals the inner join's distinct point set,
    for every cell scheme."""
    join = PIP_JOINS[scheme]
    semi = join(coords_df, how="left_semi")
    anti = join(coords_df, how="left_anti")
    assert semi.count() + anti.count() == coords_df.count()
    semi_ids = {r.doc_id for r in semi.select("doc_id").collect()}
    anti_ids = {r.doc_id for r in anti.select("doc_id").collect()}
    assert semi_ids | anti_ids == {r.doc_id for r in coords_df.collect()}
    assert semi_ids & anti_ids == set()
    inner = {r.doc_id for r in join(coords_df).select("doc_id").collect()}
    assert semi_ids == inner and len(inner) > 0


def test_span_sequence_invariant(spark):
    """Every flagship output row carries the input span sequence
    unchanged (kind, text, media_ref, order) — BASELINE.json line 15."""
    docs = src.documents_with_spans(spark, SF)
    original = {r["doc_id"]: r["spans"] for r in docs.collect()}
    out = extract_coordinates(docs, keep_spans=True)
    out = assign_tiles(out, zooms=[8])
    for r in out.collect():
        assert [tuple(s) for s in r["spans"]] == [
            tuple(s) for s in original[r["doc_id"]]
        ]


def test_extraction_ignores_decoys(spark):
    docs = src.documents_with_spans(spark, SF)
    pts = extract_coordinates(docs, keep_spans=False)
    # decoy docs (doc_id % 10 == 6) must never produce a coordinate
    bad = pts.where(F.col("doc_id").cast("long") % 10 == 6).count()
    assert bad == 0
    # every extracted coordinate equals the arithmetic ground truth
    truth = src.with_true_coords(src.load_table(spark, SF, "documents"))
    joined = pts.alias("p").join(
        truth.alias("t"), F.col("p.doc_id") == F.col("t.doc_id").cast("string")
    )
    mismatch = joined.where(
        (F.col("p.lat") != F.col("t.lat")) | (F.col("p.lon") != F.col("t.lon"))
    ).count()
    assert mismatch == 0


def test_salted_agg_matches_plain(spark, coords_df):
    from geogeometry_spark.operators.skew import salted_agg

    df = coords_df.withColumn("cell5", C.geohash(F.col("lat"), F.col("lon"), 5))
    got = {
        (r["cell5"], r["n"])
        for r in salted_agg(
            df, "cell5", {"n": (F.count(F.lit(1)), F.sum)}, target_rows_per_task=10
        ).collect()
    }
    expected = {
        (r["cell5"], r["n"])
        for r in df.groupBy("cell5").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == expected


def test_minhash_finds_planted_near_dups(spark):
    texts = []
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    for i in range(20):
        texts.append((i, base + f"unique tail {i}"))
    # plant a near-dup pair: same long body, tiny difference
    texts.append((100, base + "unique tail 3 almost"))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    cands = dedup.minhash_candidates(df, num_hashes=16, bands=8, shingle_n=3)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (3, 100) in pairs
    verified = dedup.ngram_jaccard(df, cands, shingle_n=3)
    row = [r for r in verified.collect() if (r["id_a"], r["id_b"]) == (3, 100)][0]
    assert row["jaccard"] > 0.8


def test_ann_lsh_recall(spark):
    emb = src.load_table(spark, SF, "embeddings")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    brute = [r["vec_id"] for r in similarity.brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.ann_topk(emb, q, k=10).collect()]
    # multi-probe LSH should recover most of the true top-10
    assert len(set(brute) & set(approx)) >= 5
    assert brute[0] == approx[0] == 0  # the query vector itself


def test_prefix_scan_pushdown_plan(spark, tmp_path, coords_df):
    """The long-range prefix predicate must reach the parquet scan
    (PushedFilters) — this is the partition/row-group pruning story."""
    from geogeometry_spark.operators.prefix_scan import prefix_filter_long

    path = str(tmp_path / "cells.parquet")
    coords_df.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    plan = prefix_filter_long(df, "u33")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(cell_id" in plan or "cell_id" in plan.split("PushedFilters")[1][:200]


def test_lineage_resume(spark, tmp_path, coords_df):
    from geogeometry_spark.sources.lineage import (
        committed_buckets,
        metrics,
        read_resumable,
        write_resumable,
    )

    path = str(tmp_path / "out")
    r1 = write_resumable(coords_df, path, "doc_id", n_buckets=4)
    assert sorted(r1["written"]) == [0, 1, 2, 3]
    assert read_resumable(spark, path).count() == coords_df.count()
    # rerun: everything skipped, nothing rewritten
    r2 = write_resumable(coords_df, path, "doc_id", n_buckets=4)
    assert r2["written"] == [] and sorted(r2["skipped"]) == [0, 1, 2, 3]
    # drop one lineage record -> only that bucket is rewritten
    import os

    os.remove(os.path.join(path, "_lineage", "bucket-2.json"))
    r3 = write_resumable(coords_df, path, "doc_id", n_buckets=4)
    assert r3["written"] == [2]
    assert committed_buckets(path) == {0, 1, 2, 3}
    assert len(metrics(path)) == 4
    assert read_resumable(spark, path).count() == coords_df.count()


def test_frame_sample_and_resize(spark):
    from pyspark.sql import functions as F

    from geogeometry_spark.operators.multimodal import (
        extract_media_features,
        media_spans,
        resize_features,
        sample_frames,
    )
    from geogeometry_spark.sources.tables import documents_with_spans

    docs = documents_with_spans(spark, "/root/testdata/sf0.001")
    media = media_spans(docs).limit(20)
    frames = sample_frames(media, every_n=4, total_frames=16)
    rows = frames.collect()
    assert len(rows) == 20 * 4
    assert {r["frame_idx"] for r in rows} == {0, 4, 8, 12}
    assert all(r["ts_ms"] == r["frame_idx"] * 40 for r in rows)
    assert all(len(r["frame"]) == 16 for r in rows)

    feats = extract_media_features(media)
    small = resize_features(feats, out_dim=4).collect()
    for r in small:
        assert len(r["feature_small"]) == 4
        # mean-pool of 2 consecutive floats each
        f = r["feature"]
        assert abs(r["feature_small"][0] - (f[0] + f[1]) / 2) < 1e-6


def test_media_decoder_dispatch_both_branches(spark):
    """VERDICT r2 item 5: the decode step is feature-flagged.  The stub
    branch must be deterministic and drive the full Arrow pipeline; the
    PIL branch must either really decode (when Pillow is installed) or
    fail fast with NotImplementedError — never a silent fake."""
    import pytest as _pytest

    from geogeometry_spark.operators import multimodal as mm
    from geogeometry_spark.sources.tables import documents_with_spans

    docs = documents_with_spans(spark, "/root/testdata/sf0.001")
    media = mm.media_spans(docs).limit(10)

    stub = mm.extract_media_features(media, decoder="stub").collect()
    auto = mm.extract_media_features(media, decoder="auto").collect()
    assert len(stub) == 10

    if not mm.HAS_PIL:
        # auto falls back to the stub — identical output
        assert sorted(map(str, stub)) == sorted(map(str, auto))
        with _pytest.raises(Exception, match="NotImplementedError|Pillow"):
            mm.extract_media_features(media, decoder="pil").collect()
        with _pytest.raises(NotImplementedError, match="Pillow"):
            mm.decode_image(b"\x89PNG", decoder="pil")
    else:
        # real codec present: decode a genuine PNG through the pipeline
        import io

        img = mm._PIL_Image.new("L", (32, 16), color=128)
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        arr = mm.decode_image(buf.getvalue(), decoder="pil")
        assert arr.shape == (8, 8) and abs(float(arr.mean()) - 128 / 255) < 1e-3


def test_feature_collection_sink(spark):
    import json

    from pyspark.sql import functions as F

    from geogeometry_spark.operators.geojson import (
        feature_collection,
        point_geojson,
    )

    df = spark.createDataFrame(
        [("a", 52.5, 13.4), ("b", 48.8, 2.3)], "id string, lat double, lon double"
    )
    df = df.withColumn("gj", point_geojson(F.col("lat"), F.col("lon")))
    out = feature_collection(df, "gj", props=["id"]).collect()[0]
    fc = json.loads(out["feature_collection"])
    assert fc["type"] == "FeatureCollection"
    assert len(fc["features"]) == 2
    feats = {f["properties"]["id"]: f for f in fc["features"]}
    assert feats["a"]["geometry"]["coordinates"] == [13.4, 52.5]


def test_ann_ivf_recall(spark):
    from pyspark.sql import functions as F

    from geogeometry_spark.operators.similarity import brute_force_topk, ivf_topk
    from geogeometry_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 3)
        .select("embedding")
        .collect()[0][0]
    ]
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in ivf_topk(emb, q, k=10, n_clusters=16, nprobe=6).collect()
    }
    # random 64-dim embeddings are a worst case for IVF; still expect
    # meaningful recall with 6/16 lists probed
    assert len(exact & approx) >= 5
    # the query vector itself must be found (it lives in a probed list)
    assert 3 in approx


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_plans_take_ordered_not_global_window(spark):
    """VERDICT r1 item 1: every similarity top-k must plan
    TakeOrderedAndProject (per-partition partial top-k), never a
    single-partition global-window sort over the scored corpus."""
    emb = src.load_table(spark, SF, "embeddings")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    for df in (
        similarity.brute_force_topk(emb, q, k=10),
        similarity.ann_topk(emb, q, k=10),
        similarity.ivf_topk(emb, q, k=10, n_clusters=4, nprobe=2),
    ):
        plan = _executed_plan(df)
        assert "TakeOrderedAndProject" in plan
        # the only Window allowed is the rank-numbering over the k-row
        # result of the limit, i.e. it must sit ABOVE TakeOrderedAndProject
        win = plan.find("Window")
        top = plan.find("TakeOrderedAndProject")
        assert win == -1 or win < top  # plan prints top-down


def test_ivf_training_sample_is_partition_order_independent(spark):
    """VERDICT r1 item 7: k-means training must not depend on partition
    enumeration order.  Build a 'production-sorted' table where the
    first partitions hold a single tight cluster; a limit()-based
    sample would train all centroids there and lose the second cluster."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.normal(loc=1.0, scale=0.05, size=(300, 8))  # cluster A
    b = rng.normal(loc=-1.0, scale=0.05, size=(300, 8))  # cluster B
    rows = [(i, [float(x) for x in a[i]]) for i in range(300)] + [
        (300 + i, [float(x) for x in b[i]]) for i in range(300)
    ]
    # coalesce(1) + ordered by id => cluster A occupies the file head
    emb = (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        .orderBy("vec_id")
        .coalesce(1)
    )
    qb = [float(x) for x in b[0]]
    out = similarity.ivf_topk(
        emb, qb, k=5, n_clusters=4, nprobe=1, train_sample=64
    ).collect()
    # with an unbiased sample at least one centroid lands in cluster B,
    # so probing 1 list still finds B members
    assert len(out) == 5
    assert all(r["cos_sim"] > 0.9 for r in out)


def test_ivf_clamps_clusters_to_sample_size(spark):
    emb = src.load_table(spark, SF, "embeddings").limit(8)
    q = [float(x) for x in emb.collect()[0]["embedding"]]
    out = similarity.ivf_topk(emb, q, k=3, n_clusters=64, nprobe=64).collect()
    assert len(out) == 3


@pytest.mark.parametrize("scheme", ["geohash", "s2", "hex"])
def test_pip_semi_anti_single_broadcast_exchange(spark, coords_df, scheme):
    """VERDICT r1 item 2: semi/anti must be one pass — exactly one
    Exchange (the broadcast of the grouped cell relation), never a
    distinct+rejoin that re-shuffles the points side."""
    for how in ("left_semi", "left_anti"):
        plan = _executed_plan(PIP_JOINS[scheme](coords_df, how=how))
        exchanges = [l for l in plan.splitlines() if "Exchange" in l]
        assert len(exchanges) == 1, plan
        assert "BroadcastExchange" in exchanges[0]


def test_minhash_hot_bucket_guard_bounds_duplicate_blowup(spark):
    """VERDICT r2 item 3: a cluster of m identical docs shares every
    band hash, so an unguarded bucket self-join emits m*(m-1)/2 pairs
    out of one reducer.  The width cap must drop the hot bucket (pair
    output bounded, not quadratic) while keeping ordinary near-dup
    candidates alive."""
    boiler = "subscribe to our newsletter terms of service apply " * 8
    rows = [(i, boiler) for i in range(1000)]  # 10^3 identical docs
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows += [(2000, base + "tail A"), (2001, base + "tail A almost")]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    guarded = dedup.minhash_candidates(
        df, num_hashes=16, bands=8, max_bucket_width=256
    )
    pairs = {(r["id_a"], r["id_b"]) for r in guarded.collect()}
    # the 10^3-wide boilerplate bucket (499500 pairs unguarded) is gone
    assert not any(a < 1000 and b < 1000 for a, b in pairs)
    # the genuine near-dup pair in a narrow bucket survives
    assert (2000, 2001) in pairs

    unguarded = dedup.minhash_candidates(
        df.where(F.col("doc_id") < 10), num_hashes=16, bands=8,
        max_bucket_width=None,
    )
    # sanity: cap=None really disables the guard (quadratic on 10 dups)
    assert unguarded.count() == 45


def test_simhash_one_pass_matches_fold(spark):
    """VERDICT r1 item 8: the one-pass explode+conditional-sum SimHash
    must produce the same 64-bit values as the r1 64-fold version."""
    docs = src.load_table(spark, SF, "documents").limit(100)
    new = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    old = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fold(docs).collect()}
    assert new == old


def test_hull_area_values_order_independent(spark):
    """ADVICE r1: hull_area's ring must be assembled in vertex order at
    any parallelism.  Recompute each cell's hull area driver-side with
    the numpy kernel and compare values."""
    from geogeometry_spark.contract import q_hull_area
    from geogeometry_spark.functions import columns as C
    from geogeometry_spark.kernels import geometry as kgeo
    from geogeometry_spark.operators.transform import grouped_convex_hull

    sf = "/root/testdata/sf0.001"
    got = {r["cell1"]: r["area_r3"] for r in q_hull_area(spark, sf).collect()}

    from geogeometry_spark.contract import _docs_coords

    df = _docs_coords(spark, sf).withColumn(
        "cell1", C.geohash(F.col("lat"), F.col("lon"), 1)
    )
    hull = grouped_convex_hull(df, "cell1").collect()
    by_cell = {}
    for r in hull:
        by_cell.setdefault(r["cell1"], []).append(
            (r["vertex_idx"], r["lon"], r["lat"])
        )
    import numpy as np

    for cell, verts in by_cell.items():
        verts.sort()
        ring = np.array([(lo, la) for _, lo, la in verts])
        expect = kgeo.area_ring(ring) if ring.shape[0] > 3 else 0.0
        # F.round is HALF_UP; allow the half-step of the r3 rounding
        # plus float noise at ~1e12 magnitude
        assert abs(got[cell] - expect) <= 2e-3, cell


def test_ivf_partitioned_storage_prunes(spark, tmp_path):
    """VERDICT r1 item 9: the scale path stores ivf_list as a partition
    column; a probe query must show PartitionFilters in the parquet scan
    (directories pruned at planning, not rows post-filtered)."""
    from geogeometry_spark.operators.similarity import (
        ivf_probe_partitioned,
        train_centroids,
        write_ivf_partitioned,
    )

    emb = src.load_table(spark, SF, "embeddings")
    cent = train_centroids(emb, n_clusters=8)
    path = str(tmp_path / "emb_ivf")
    write_ivf_partitioned(emb, path, cent)
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    out = ivf_probe_partitioned(spark, path, q, cent, k=5, nprobe=2)
    plan = _executed_plan(out)
    seg = plan.split("PartitionFilters")[1][:160]
    assert "ivf_list" in seg, plan
    assert "TakeOrderedAndProject" in plan
    rows = out.collect()
    assert len(rows) == 5 and rows[0]["vec_id"] == 0


def test_knn_bulk_guaranteed_matches_exact(spark, coords_df):
    """knn_bulk's guaranteed rows must equal the exact window kNN; the
    plan must window per query_id (no global sort) and join on the cell
    key."""
    from geogeometry_spark.operators.knn import knn_bulk, knn_window

    qs_rows = [
        ("q0", 52.516279, 13.377157),
        ("q1", 52.503663, 13.410717),
    ]
    qs = spark.createDataFrame(qs_rows, "query_id string, qlat double, qlon double")
    bulk = knn_bulk(coords_df, qs, k=5, precision=5, ring=3)
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["dist_m"], 6))
        for r in bulk.collect()
        if r["guaranteed"]
    }
    assert got, "expected at least some guaranteed rows at ring=3"
    exact = {
        (r["query_id"], r["rank"]): (r["doc_id"], round(r["dist_m"], 6))
        for r in knn_window(coords_df, qs_rows, k=5).collect()
    }
    for key, val in got.items():
        assert exact[key] == val, key
    plan = _executed_plan(bulk)
    assert "hashpartitioning(query_id" in plan, plan


@pytest.mark.parametrize("scheme", ["geohash", "s2"])
def test_pip_join_distributed_matches_broadcast(spark, coords_df, scheme):
    """The polygon-relation PIP join must agree exactly with the
    broadcast-dict PIP join of the same scheme on the fixture set."""
    from geogeometry_spark.operators.pip_join import (
        pip_join_distributed,
        polygons_as_df,
    )
    from geogeometry_spark.operators.s2_join import s2_pip_join_distributed

    distributed_join = {
        "geohash": lambda df, polys: pip_join_distributed(df, polys),
        "s2": lambda df, polys: s2_pip_join_distributed(df, polys, level=13),
    }[scheme]
    broadcast = {
        (r["doc_id"], r["polygon_id"])
        for r in PIP_JOINS[scheme](coords_df)
        .select("doc_id", "polygon_id")
        .collect()
    }
    polys = polygons_as_df(spark)
    distributed = {
        (r["doc_id"], r["polygon_id"])
        for r in distributed_join(coords_df, polys)
        .select("doc_id", "polygon_id")
        .collect()
    }
    assert distributed == broadcast and len(broadcast) > 0


@pytest.mark.parametrize("scheme", ["geohash", "s2", "hex"])
def test_knn_fallback_when_rounds_exhausted(spark, scheme):
    """k exceeds the points any single round can certify: the queries
    left when the rounds run out take the exact knn_window fallback."""
    import pandas as pd

    from geogeometry_spark.operators.hex_join import hex_knn
    from geogeometry_spark.operators.knn import knn
    from geogeometry_spark.operators.s2_join import s2_knn

    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2], "lat": [10.0, -40.0, 60.0], "lon": [10.0, 100.0, -60.0]}
    )
    df = spark.createDataFrame(pdf)
    q = [("q", 0.0, 0.0)]
    # one round each: a 1-cell geohash ring, a 1 km S2 cap, a 2-ring hex disk
    out = {
        "geohash": lambda: knn(
            df.withColumn(
                "cell_id", C.geohash_interleaved(F.col("lat"), F.col("lon"), 12)
            ),
            q, k=3, max_ring=1,
        ),
        "s2": lambda: s2_knn(df, q, k=3, r0_m=1000.0, max_rounds=1),
        "hex": lambda: hex_knn(df, q, k=3, max_ring=2),
    }[scheme]().collect()
    assert len(out) == 3
    assert [r.rank for r in sorted(out, key=lambda r: r.dist_m)] == [1, 2, 3]


def test_bucketed_points_join_has_no_points_side_exchange(spark, coords_df, tmp_path):
    """Bucketing the points by the cell key deletes their shuffle in
    cell-key equi-joins (the co-located-join layout for every spatial
    join at scale): the bucketed plan carries exactly one less Exchange
    than the identical join over plain parquet."""
    from geogeometry_spark.operators.prefix_scan import write_cell_bucketed
    from geogeometry_spark.functions.columns import cell_prefix

    # (warehouse dir is a static conf — the table lands in the session
    # default spark-warehouse and is dropped below)
    name = "pts_bucketed_test"
    write_cell_bucketed(coords_df, name, cell_length=5, n_buckets=8)
    plain_path = str(tmp_path / "pts_plain")
    coords_df.withColumn(
        "cell_key", cell_prefix(F.col("cell_id"), 5)
    ).write.mode("overwrite").parquet(plain_path)
    keys = spark.createDataFrame(
        [(k,) for k in range(1 << 20)], "cell_key long"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        bucketed_plan = _executed_plan(spark.table(name).join(keys, "cell_key"))
        plain_plan = _executed_plan(
            spark.read.parquet(plain_path).join(keys, "cell_key")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert "SelectedBucketsCount" in bucketed_plan
    nb = bucketed_plan.count("Exchange")
    np_ = plain_plan.count("Exchange")
    assert nb == np_ - 1, (bucketed_plan, plain_plan)


def test_embedding_near_dup_pairs_recall(spark):
    """LSH bucket self-join must recover planted near-duplicate pairs
    (tiny perturbations of the same base vector) that brute force finds."""
    rng = np.random.RandomState(11)
    rows = []
    for i in range(40):
        v = rng.randn(64)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + rng.randn(64) * 0.05]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.95).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(40)}
    # 8-plane buckets split a few twins across a boundary; most survive
    assert len(got & planted) >= 30
    # and nothing that isn't a true >=0.95 pair gets through (exact verify)
    a = emb.toPandas()
    import numpy as _np

    vecs = {r.vec_id: _np.asarray(r.embedding, dtype=float) for r in a.itertuples()}
    for ia, ib in got:
        va, vb = vecs[ia], vecs[ib]
        cos = va @ vb / (_np.linalg.norm(va) * _np.linalg.norm(vb))
        assert cos >= 0.95 - 1e-9


def test_radius_join_bulk_matches_brute_force(spark, coords_df):
    """Bulk radius join == brute-force haversine filter for every query
    whose ring extent fits the cap."""
    from geogeometry_spark.operators.knn import radius_join_bulk

    qs = spark.createDataFrame(
        [
            ("q0", 52.516279, 13.377157, 3000.0),
            ("q1", 52.503663, 13.410717, 1500.0),
            ("q2", 52.6, 13.2, 5000.0),
        ],
        "query_id string, qlat double, qlon double, radius_m double",
    )
    got = {
        (r["query_id"], r["doc_id"])
        for r in radius_join_bulk(coords_df, qs, precision=5, max_ring=3)
        .select("query_id", "doc_id")
        .collect()
    }
    rows = coords_df.collect()
    expected = set()
    for qid, qlat, qlon, rad in qs.collect():
        for r in rows:
            if kgeo.haversine_scalar(r["lat"], r["lon"], qlat, qlon) <= rad:
                expected.add((qid, r["doc_id"]))
    assert got == expected


def test_cosine_zero_norm_vectors_are_null_not_ranked(spark):
    """A zero-norm embedding has no defined cosine: the Arrow kernel
    must yield NULL (no numpy warnings, no ANSI DIVIDE_BY_ZERO) and
    top-k must never seat it, even when k exceeds the scorable rows."""
    emb = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    q = [1.0, 0.0, 0.0, 0.0]
    scored = {
        r.vec_id: r.c
        for r in emb.select(
            "vec_id",
            similarity.cosine_to_query(F.col("embedding"), q).alias("c"),
        ).collect()
    }
    assert scored[0] is None and scored[1] == 1.0 and scored[2] == 0.0
    top = similarity.brute_force_topk(emb, q, k=3).collect()
    assert [r.vec_id for r in top] == [1, 2]  # zero-norm row excluded
    pair = emb.alias("a").join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id")).select(
        similarity.pair_cosine(F.col("a.embedding"), F.col("b.embedding")).alias("c")
    ).collect()
    assert sum(1 for r in pair if r.c is None) == 2  # both pairs with vec 0


def test_ann_join_recall_vs_brute_force_per_query(spark):
    """Bulk ANN join: each query's top-k must substantially agree with
    the exact brute-force top-k for that query vector, and the query
    vector itself must rank first (cos = 1)."""
    emb = src.load_table(spark, SF, "embeddings")
    qs = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qvec_id"),
        F.col("embedding").alias("qembedding"),
    )
    out = similarity.ann_join(emb, qs, k=5, n_planes=8, probe_hamming=2)
    by_q: dict = {}
    for r in out.collect():
        by_q.setdefault(r.qvec_id, []).append((r.rank, r.vec_id, r.cos_sim))
    assert len(by_q) == qs.count()
    hits = total = 0
    for qid, rows in by_q.items():
        rows.sort()
        # the query vector itself is always reachable (hamming 0 probe)
        assert rows[0][1] == qid and abs(rows[0][2] - 1.0) < 1e-12
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == qid).collect()[0]["embedding"]
        ]
        brute = {
            r.vec_id for r in similarity.brute_force_topk(emb, qv, k=5).collect()
        }
        hits += len({v for _, v, _ in rows} & brute)
        total += 5
    # sandbox embeddings are uniform-random (near-flat cosine spectrum),
    # the hardest case for LSH — require aggregate recall >= 50%, same
    # standard as the single-query test_ann_lsh_recall
    assert hits / total >= 0.5, (hits, total)


def test_ann_join_broadcast_hint_plan_and_parity(spark):
    """broadcast_queries=True must turn the bucket equi-join into a
    BroadcastHashJoin (Catalyst's scan-derived size estimate misses it
    when the query relation filters a big table — a missed broadcast
    shuffles the vector-carrying corpus), and must not change results."""
    emb = src.load_table(spark, SF, "embeddings")
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qvec_id"),
        F.col("embedding").alias("qembedding"),
    )
    hinted = similarity.ann_join(
        emb, qs, k=5, n_planes=8, probe_hamming=1, broadcast_queries=True
    )
    plan = hinted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    plain = similarity.ann_join(emb, qs, k=5, n_planes=8, probe_hamming=1)
    key = lambda r: (r.qvec_id, r.rank, r.vec_id)
    assert sorted(map(key, hinted.collect())) == sorted(
        map(key, plain.collect())
    )


def test_geojson_file_roundtrip(spark, tmp_path):
    """NDJSON Feature sink -> source roundtrip (sources/geojson_file.py):
    partition-parallel text write, line-splittable read, property pulls,
    and NULL-geometry passthrough."""
    import json

    from geogeometry_spark.operators.geojson import point_geojson
    from geogeometry_spark.sources.geojson_file import (
        read_geojson_features,
        write_geojson_features,
    )

    df = spark.createDataFrame(
        [("a", 52.5, 13.4), ("b", 48.8, 2.3), ("c", None, None)],
        "id string, lat double, lon double",
    ).repartition(2)
    df = df.withColumn("gj", point_geojson(F.col("lat"), F.col("lon")))
    path = str(tmp_path / "features")
    write_geojson_features(df, "gj", props=["id"], path=path)

    back = read_geojson_features(spark, path, props=["id"])
    rows = {r["id"]: r for r in back.collect()}
    assert set(rows) == {"a", "b", "c"}
    assert rows["a"]["geom_type"] == "Point"
    feat_a = json.loads(rows["a"]["feature"])
    assert feat_a["type"] == "Feature"
    assert feat_a["geometry"]["coordinates"] == [13.4, 52.5]
    assert feat_a["properties"]["id"] == "a"
    # NULL lat/lon -> to_json omits nothing here; point_geojson builds
    # [null,null] coords, still valid JSON carried through unchanged
    assert rows["c"]["geom_type"] == "Point"
    # a line that is not a Feature quarantines to NULL geom_type
    extra = spark.createDataFrame([("garbage",)], "value string")
    extra.write.mode("append").text(path)
    back2 = read_geojson_features(spark, path, props=["id"])
    assert back2.where(F.col("geom_type").isNull()).count() == 1


def test_explode_feature_collection_variant(spark):
    """FeatureCollection string -> per-feature rows via the native
    Spark 4 VARIANT lateral (no Python workers); malformed inputs and
    missing/non-array `features` yield zero rows, not job failure;
    mixed geometry types pass through without a coordinate schema."""
    from geogeometry_spark.sources.geojson_file import (
        explode_feature_collection,
    )
    import json

    fc = json.dumps(
        {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "geometry": {"type": "Point", "coordinates": [13.4, 52.5]},
                    "properties": {"doc_id": 1},
                },
                {
                    "type": "Feature",
                    "geometry": {
                        "type": "Polygon",
                        "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 0]]],
                    },
                    "properties": {"doc_id": 2},
                },
            ],
        }
    )
    df = spark.createDataFrame(
        [("ok", fc), ("bad", "not json"), ("nofeat", '{"type":"Feature"}')],
        "tag string, fc string",
    )
    out = explode_feature_collection(df, "fc", keep=["tag"])
    rows = sorted(out.collect(), key=lambda r: r["pos"])
    assert [r["tag"] for r in rows] == ["ok", "ok"]
    assert [r["pos"] for r in rows] == [0, 1]
    f1 = json.loads(rows[1]["feature"])
    assert f1["geometry"]["type"] == "Polygon"
    assert f1["properties"]["doc_id"] == 2
    # no python workers in the plan (native variant path)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_token_stats_bpe_pattern(spark):
    """bpe_tokens counts GPT-2-style pre-tokenizer units: contraction
    suffixes split off, space-prefixed letter/digit/punct runs, CJK
    handled as letter runs — and stays lookahead-free so the DuckDB
    oracle replays it byte-for-byte (token_stats contract query)."""
    from geogeometry_spark.operators.text import with_token_stats

    df = spark.createDataFrame(
        [
            (1, "it's fine"),      # it | 's | ' fine'          -> 3
            (2, "abc 123!"),       # abc | ' 123' | !           -> 3
            (3, "你好 世界"),        # 你好 | ' 世界'              -> 2
            (4, ""),               # empty                      -> 0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in with_token_stats(df).select("doc_id", "bpe_tokens").collect()
    }
    assert got == {1: 3, 2: 3, 3: 2, 4: 0}


def _winnow_reference(txt: str, k: int, w: int):
    """Independent pure-python winnowing (md5 variant) for pinning."""
    import hashlib

    if len(txt) < k + w - 1:
        return set()
    grams = [
        (hashlib.md5(txt[i : i + k].encode()).hexdigest()[:8], i)
        for i in range(len(txt) - k + 1)
    ]
    sel = set()
    for s in range(len(grams) - w + 1):
        sel.add(min(grams[s : s + w], key=lambda g: (g[0], g[1])))
    return {(pos, h) for h, pos in sel}


def test_winnow_md5_matches_reference(spark):
    from geogeometry_spark.operators.text import winnow_fingerprint

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "short"),                      # < k+w-1 -> nothing
        (3, "aaaaaaaaaaaaaaaaaaaa"),       # degenerate: all grams equal
        (4, None),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprint(df, k=8, w=4, variant="md5_oracle").collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["h"]))
    for doc_id, txt in texts:
        if txt is None:
            assert doc_id not in got
        else:
            assert got.get(doc_id, set()) == _winnow_reference(txt, 8, 4), doc_id


def test_winnow_rolling_guarantee_and_parity(spark):
    """Production rolling-hash path: (a) the winnowing guarantee — two
    docs sharing a substring of length >= k+w-1 share a selected hash;
    (b) selection POSITIONS equal the md5 variant's on ascii text where
    hash families only differ in values, not window-min structure?  No —
    different hash families select different minima, so instead pin (b)
    density ~2/(w+1) and (c) per-doc determinism across runs."""
    from geogeometry_spark.operators.text import winnow_fingerprint

    shared = "zzz COMMON SHARED SEGMENT zzz"
    df = spark.createDataFrame(
        [
            (1, "left prefix " + shared + " tail one"),
            (2, "other start " + shared + " different"),
            (3, "no overlap here at all with anything"),
        ],
        "doc_id long, text string",
    )
    rows = winnow_fingerprint(df, k=8, w=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["h"])
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    # density: ~2/(w+1) of grams, loose bounds
    n_grams = len(df.collect()[0]["text"].encode()) - 8 + 1
    assert 1 <= len(by_doc[1]) <= n_grams
    # determinism
    rows2 = winnow_fingerprint(df, k=8, w=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # arrow path only (no row-at-a-time python)
    plan = (
        winnow_fingerprint(df, k=8, w=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan


def test_winnow_candidates_bucket_guard(spark):
    """A gram hash shared by more docs than max_bucket_width is dropped
    (boilerplate stop-gram) — pair output stays bounded; genuinely
    overlapping docs still pair through their other shared grams."""
    from geogeometry_spark.operators.text import winnow_candidates

    boiler = "COPYRIGHT NOTICE ALL RIGHTS RESERVED "
    rows = [(i, boiler + f"unique tail {i} " * 3) for i in range(10)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap=4: every gram inside the 10-doc boilerplate run is dropped
    pairs = winnow_candidates(
        df, k=8, w=4, max_bucket_width=4, min_shared=1
    ).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (100, 101) in ids
    assert not any(a < 100 and b < 100 for a, b in ids), (
        "boilerplate-only pairs must be suppressed by the width cap"
    )


def test_quantize_embeddings_roundtrip_and_recall(spark):
    """int8 scalar quantization: (a) per-element reconstruction error
    <= scale/2; (b) quantized brute-force top-10 recalls >= 8/10 of the
    exact float top-10 (64-dim, int8 error is tiny); (c) a zero vector
    quantizes to scale 0 / all-zero qvec and never enters top-k (NULL
    cosine quarantine)."""
    import numpy as np

    from geogeometry_spark.operators.similarity import (
        brute_force_topk,
        quantize_embeddings,
        quantized_topk,
    )
    from geogeometry_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    q = quantize_embeddings(emb)
    joined = q.join(emb, "vec_id").collect()
    for r in joined[:50]:
        v = np.asarray(r["embedding"], dtype=np.float64)
        deq = np.asarray(r["qvec"], dtype=np.float64) * r["scale"]
        assert np.all(np.abs(v - deq) <= r["scale"] / 2 + 1e-12), r["vec_id"]

    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 3)
        .select("embedding")
        .collect()[0][0]
    ]
    exact = {r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()}
    quant = {r["vec_id"] for r in quantized_topk(q, qvec, k=10).collect()}
    assert len(exact & quant) >= 8, (exact, quant)

    zero = spark.createDataFrame(
        [(999999, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    qz = quantize_embeddings(zero).collect()[0]
    assert qz["scale"] == 0.0 and all(x == 0 for x in qz["qvec"])
    topz = quantized_topk(
        quantize_embeddings(zero), qvec, k=5
    ).collect()
    assert topz == []


# ---------------------------------------------------------------------------
# connected components (dedup grouping)
# ---------------------------------------------------------------------------


def _uf_components(pairs):
    """Reference union-find: node -> min node id in its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    return {n: min(ns) for ns in comp.values() for n in ns}


def _cc_collect(spark, pairs):
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    out = dedup.connected_components(df)
    return {r["node"]: r["component"] for r in out.collect()}


def test_connected_components_chain_star_and_islands(spark):
    # chain a-b-c-d collapses to min; star all-to-hub; island pair
    pairs = (
        [("a", "b"), ("b", "c"), ("c", "d")]
        + [("hub", f"leaf{i:02d}") for i in range(20)]
        + [("x", "y")]
    )
    got = _cc_collect(spark, pairs)
    assert got == _uf_components(pairs)
    assert got["d"] == "a" and got["leaf19"] == "hub" and got["y"] == "x"


def test_connected_components_random_graphs_match_union_find(spark):
    import random

    rng = random.Random(42)
    for _ in range(3):
        pairs = [
            (f"v{rng.randrange(80):02d}", f"v{rng.randrange(80):02d}")
            for _ in range(70)
        ]
        pairs = [p for p in pairs if p[0] != p[1]]
        assert _cc_collect(spark, pairs) == _uf_components(pairs)


def test_connected_components_long_path_converges_in_log_rounds(spark):
    # a 64-node path is the worst case for naive label propagation
    # (O(n) rounds); large-star/small-star must close it within
    # max_rounds=10 ~ O(log n)
    pairs = [(f"p{i:03d}", f"p{i + 1:03d}") for i in range(63)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    out = dedup.connected_components(df, max_rounds=10)
    labels = {r["component"] for r in out.collect()}
    assert labels == {"p000"}


def test_dedup_groups_end_to_end_closes_pair_chains(spark):
    # docs where near-dup PAIRS form a chain: d0~d1, d1~d2 but d0!~d2.
    # Pair-level dedup keeps d0 and d2; group-level must merge all 3.
    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [
        ("d0", base + "alpha beta gamma delta"),
        ("d1", base + "alpha beta gamma zzz"),
        ("d2", base + "alpha beta yyy zzz"),
        ("solo", "completely different text with no overlap at all here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_candidates(
        docs, num_hashes=16, bands=8, shingle_n=3
    ).select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert got.get("d0") == "d0" and got.get("d1") == "d0"
    assert "solo" not in got  # singleton: no pair, labels itself downstream


# ---------------------------------------------------------------------------
# polygon x polygon overlay join
# ---------------------------------------------------------------------------


def test_s2_overlay_join_matches_bruteforce_kernel(spark):
    from geogeometry_spark.kernels import intersect as kx
    from geogeometry_spark.operators.pip_join import polygons_as_df
    from geogeometry_spark.operators.s2_join import s2_overlay_join

    def box(cx, cy, hw=0.05, hh=0.03):
        return [[
            [cx - hw, cy - hh], [cx + hw, cy - hh],
            [cx + hw, cy + hh], [cx - hw, cy + hh],
            [cx - hw, cy - hh],
        ]]

    boxes = {
        # crosses berlin_big_ring's boundary
        "edge_cross": box(13.3766, 52.51),
        # fully contains berlin_small_ring (polygon v0 in box shortcut)
        "contains_small": box(13.394, 52.5276, hw=0.02, hh=0.006),
        # tiny box strictly inside berlin_big_ring (box c0 in polygon)
        "inside_big": box(13.394, 52.515, hw=0.002, hh=0.002),
        # overlaps nothing
        "far_away": box(10.0, 50.0),
        # near-miss: just west of every fixture polygon
        "near_miss": box(13.30, 52.51, hw=0.01, hh=0.01),
    }
    polys = polygons_as_df(spark)
    boxes_df = polygons_as_df(spark, boxes)
    got = {
        (r["id_a"], r["id_b"])
        for r in s2_overlay_join(boxes_df, polys, level=13).collect()
    }

    from geogeometry_spark.fixtures import polygons_np

    fixture = polygons_np(None)
    want = set()
    for bid, brings in boxes.items():
        ga = {"type": "Polygon", "coordinates": brings}
        for pid, prings in fixture.items():
            gb = {
                "type": "Polygon",
                "coordinates": [[list(map(float, p)) for p in r] for r in prings],
            }
            if kx.intersects(ga, gb):
                want.add((bid, pid))
    assert got == want
    assert ("edge_cross", "berlin_big_ring") in got
    assert ("contains_small", "berlin_small_ring") in got
    assert ("inside_big", "berlin_big_ring") in got
    assert not any(a == "far_away" for a, _ in got)


def test_s2_overlay_join_interior_shortcut_pairs_are_exact(spark):
    # a box engulfing ALL fixtures at a fine level shares interior
    # cells with each polygon -> pairs resolve via the certain path;
    # they must still equal the exact kernel's answer
    from geogeometry_spark.kernels import intersect as kx
    from geogeometry_spark.operators.pip_join import polygons_as_df
    from geogeometry_spark.operators.s2_join import s2_overlay_join
    from geogeometry_spark.fixtures import polygons_np

    big = {
        "engulf": [[
            [13.35, 52.49], [13.43, 52.49], [13.43, 52.57],
            [13.35, 52.57], [13.35, 52.49],
        ]]
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in s2_overlay_join(
            polygons_as_df(spark, big), polygons_as_df(spark), level=15
        ).collect()
    }
    ga = {"type": "Polygon", "coordinates": big["engulf"]}
    want = {
        ("engulf", pid)
        for pid, rings in polygons_np(None).items()
        if kx.intersects(
            ga,
            {
                "type": "Polygon",
                "coordinates": [[list(map(float, p)) for p in r] for r in rings],
            },
        )
    }
    assert got == want == {("engulf", p) for p in polygons_np(None)}


def test_s2_overlay_join_auto_level_matches_explicit(spark):
    """level=None derives a level from the polygon sizes; the pair SET
    is level-independent, so auto must equal the explicit-level run."""
    from geogeometry_spark.operators.pip_join import polygons_as_df
    from geogeometry_spark.operators.s2_join import s2_overlay_join

    def box(cx, cy, hw=0.05, hh=0.03):
        return [[
            [cx - hw, cy - hh], [cx + hw, cy - hh],
            [cx + hw, cy + hh], [cx - hw, cy + hh],
            [cx - hw, cy - hh],
        ]]

    boxes = {
        "edge_cross": box(13.3766, 52.51),
        "contains_small": box(13.394, 52.5276, hw=0.02, hh=0.006),
        "far_away": box(10.0, 50.0),
    }
    a = polygons_as_df(spark, boxes)
    b = polygons_as_df(spark)
    got_auto = {
        (r["id_a"], r["id_b"])
        for r in s2_overlay_join(a, b).collect()
    }
    got_13 = {
        (r["id_a"], r["id_b"])
        for r in s2_overlay_join(a, b, level=13).collect()
    }
    assert got_auto == got_13
    assert got_auto  # non-empty


def test_spread_partitions_widens_narrow_relations(spark):
    from geogeometry_spark.operators.s2_join import spread_partitions

    target = min(spark.sparkContext.defaultParallelism, 64)
    narrow = spark.range(1000).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    spread = spread_partitions(narrow)
    assert spread.rdd.getNumPartitions() == target
    assert spread.count() == 1000

    wide = spark.range(1000).repartition(target)
    # already at cluster parallelism: passthrough, no extra exchange
    assert spread_partitions(wide) is wide


# --------------------------------------------------------------------------
# TF-IDF top-k similar pairs
# --------------------------------------------------------------------------

def test_tfidf_topk_identical_docs_rank_first(spark):
    from geogeometry_spark.operators.text import tfidf_topk_pairs

    rows = [
        (0, "alpha beta gamma rare"),
        (1, "alpha beta gamma rare"),      # identical to 0
        (2, "alpha beta delta rare"),      # close to 0/1
        (3, "zeta eta theta iota"),        # disjoint content
        (4, "alpha alpha beta beta"),      # no rare term
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_topk_pairs(df, k=10, df_max_frac=0.7).collect()
    assert out[0]["id_a"] == 0 and out[0]["id_b"] == 1
    # identical docs: cosine ~= 1 (ppm quantization error only)
    assert abs(out[0]["cos_r6"] - 1.0) < 1e-4
    got_pairs = {(r["id_a"], r["id_b"]) for r in out}
    # doc 3 shares no term with anyone: never a candidate
    assert all(3 not in p for p in got_pairs)


def test_tfidf_topk_rare_term_blocking(spark):
    from geogeometry_spark.operators.text import tfidf_topk_pairs

    # every doc shares "common"; only 0 and 1 share the rare term
    rows = [
        (0, "common rare"),
        (1, "common rare"),
        (2, "common other"),
        (3, "common other2"),
        (4, "common other3"),
        (5, "common other4"),
        (6, "common other5"),
        (7, "common other6"),
        (8, "common other7"),
        (9, "common other8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_topk_pairs(df, k=10, df_max_frac=0.25).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 1)}


def test_tfidf_topk_matches_duckdb_twin(spark):
    import duckdb
    import pandas as pd

    from geogeometry_spark.operators.text import (
        tfidf_topk_pairs,
        tfidf_topk_pairs_oracle_sql,
    )

    vocab = ["row", "scan", "agg", "join", "key", "hash", "rare1", "rare2"]
    rows = []
    for i in range(40):
        words = [vocab[(i * 7 + j * 3) % 6] for j in range(12)]
        if i % 13 == 0:
            words.append("rare1")
        if i % 17 == 0:
            words.append("rare2")
        rows.append((i, " ".join(words)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("docs_tfidf", pdf)
    got = [
        tuple(r)
        for r in tfidf_topk_pairs(
            spark.createDataFrame(pdf), k=15, df_max_frac=0.1
        ).collect()
    ]
    want = [
        tuple(r)
        for r in con.sql(
            tfidf_topk_pairs_oracle_sql(
                "(SELECT doc_id, text FROM docs_tfidf)",
                k=15,
                df_max_frac=0.1,
            )
        ).fetchall()
    ]
    con.close()
    assert got == want
    assert got

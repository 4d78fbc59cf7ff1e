"""Plan-shape tests: the flagship's fused stage evaluates each expensive
expression once per row, and the bit-spread lookup behind every
geohash and quadkey key is exact, small and non-nullable.

Catalyst pushes inferred ``isnotnull`` / ``size`` filters below a
Project by copying the aliased expression into the filter, so a
nullable key or an aliased array re-runs the whole expression (regex,
split, cell index) once per copied filter.  These tests read the
executed plan and the generated code, where such copies show up.
"""

import random

import pytest
from pyspark.sql import functions as F

from geogeometry_spark.functions import columns as C
from geogeometry_spark.operators.knn import radius_join_bulk
from geogeometry_spark.plans.flagship import flagship
from geogeometry_spark.sources import tables as src


def _nodes(plan):
    """Every node of a JVM SparkPlan, depth first."""
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _calls(text: str, head: str) -> list[str]:
    """Each ``head...)`` call in ``text``, parentheses balanced."""
    out, start = [], text.find(head)
    while start >= 0:
        depth, i = 0, start + len(head) - 1
        for i in range(i, len(text)):
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            if depth == 0:
                break
        out.append(text[start : i + 1])
        start = text.find(head, i)
    return out


def _filters(plan) -> list[str]:
    return [
        n.condition().toString() for n in _nodes(plan) if n.nodeName() == "Filter"
    ]


@pytest.fixture
def no_aqe(spark):
    """Static planning, so the executed plan is the plan that runs and
    its whole-stage codegen can be read before execution."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_flagship_evaluates_each_expression_once(spark, tmp_path, no_aqe):
    path = str(tmp_path / "spans")
    docs = spark.range(1, 201, numPartitions=2).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("Survey note "), F.col("id").cast("string")).alias("text"),
    )
    src.documents_with_spans(spark, "", docs=docs).write.parquet(path)
    df = flagship(spark, "", docs=spark.read.parquet(path))

    plan = df._jdf.queryExecution().executedPlan()
    text = plan.toString()
    assert text.count("regexp_extract_all(") == 1
    # lat and lon each get one cell index; every CEIL in the plan is one
    # of those two (the 8-bit chunks of _spread share them)
    assert len(set(_calls(text, "CEIL("))) == 2
    for cond in _filters(plan):
        assert "regexp_extract_all(" not in cond, cond[:300]
        assert "CEIL(" not in cond, cond[:300]
    assert len(text) < 64 * 1024, len(text)
    assert df.schema["cell_id"].nullable is False

    # and in the generated code: one regex Matcher, and the stage that
    # runs the regex computes each cell index once per row
    debug = spark._jvm.org.apache.spark.sql.execution.debug.package
    stages = debug.codegenStringSeq(plan)
    code = [stages.apply(i)._2() for i in range(stages.size())]
    assert sum(c.count("java.util.regex.Matcher") for c in code) == 1
    (extract_stage,) = [c for c in code if "java.util.regex.Matcher" in c]
    assert extract_stage.count("Math.ceil") == 2
    assert df.count() > 0


def test_radius_join_bulk_points_side_has_no_key_filter(spark, no_aqe):
    """A non-nullable cell key infers no isnotnull filter on the points
    side, so the join does not recompute the key below its Project."""
    pts = spark.range(0, 200, numPartitions=2).select(
        F.col("id").alias("doc_id"),
        (F.lit(52.4) + F.col("id") * 0.001).alias("lat"),
        (F.lit(13.3) + F.col("id") * 0.001).alias("lon"),
    )
    pts = pts.withColumn(
        "cell_id", C.geohash_interleaved(F.col("lat"), F.col("lon"), 12)
    )
    qs = spark.createDataFrame(
        [("q0", 52.45, 13.35, 2000.0)],
        "query_id string, qlat double, qlon double, radius_m double",
    )
    out = radius_join_bulk(pts, qs, precision=5, max_ring=3)
    plan = out._jdf.queryExecution().executedPlan()
    points_filters = [
        n.condition().toString()
        for n in _nodes(plan)
        if n.nodeName() == "Filter"
        and {m.nodeName() for m in _nodes(n) if m.children().size() == 0}
        == {"Range"}
    ]
    for cond in points_filters:
        assert "CEIL(" not in cond, cond[:300]
    assert out.count() > 0


def test_spread_matches_int_reference(spark):
    """_spread == _spread_int for 0, 2^w - 1, every power of two and
    1,000 seeded random values at every width from 1 to 30 bits."""
    rng = random.Random(20261019)
    widths = range(1, C._SPREAD_MAX_BITS + 1)
    values = {}
    for w in widths:
        vs = {0, (1 << w) - 1, *(1 << k for k in range(w))}
        vs.update(rng.randrange(1 << w) for _ in range(1000))
        values[w] = sorted(vs)

    def spread(w):
        # + id (= 0) keeps the input non-foldable: evaluated per row,
        # not by constant folding
        return lambda x: C._spread(x + F.col("id"), w)

    row = spark.range(1).select(
        *(
            F.transform(
                F.expr("array(" + ",".join(f"{v}L" for v in values[w]) + ")"),
                spread(w),
            ).alias(f"w{w}")
            for w in widths
        )
    ).first()
    for w in widths:
        assert row[f"w{w}"] == [C._spread_int(v) for v in values[w]], w


def test_spread_rejects_wider_than_supported():
    with pytest.raises(ValueError, match="at most 30 bits"):
        C._spread(F.lit(1), C._SPREAD_MAX_BITS + 1)


def test_cell_keys_are_not_nullable(spark):
    """The spread table is a non-null array, so an ANSI index into it,
    and with it both packed keys, is non-nullable."""
    df = spark.range(1).select(
        F.lit(52.5).alias("lat"), F.lit(13.4).alias("lon"),
        F.col("id").alias("x"), F.col("id").alias("y"),
    )
    out = df.select(
        C.geohash_interleaved(F.col("lat"), F.col("lon"), 12).alias("gh"),
        C.quadkey_long(F.col("x"), F.col("y"), 22).alias("qk"),
    )
    assert not out.schema["gh"].nullable
    assert not out.schema["qk"].nullable

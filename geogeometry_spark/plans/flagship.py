"""The flagship pipeline (SURVEY.md §7.1 step 2 / BASELINE.md):

scan interleaved span documents
  -> extract coordinates from text spans (JVM regex, lookaround)
  -> geohash cell encode (native Morton Column math)
  -> broadcast PIP join against the Berlin polygon set
     (interior cells accepted by covering guarantee; border cells run
      the exact ray-cast as a native Column)
  -> tile assignment at zooms {8, 12, 16, 22}
  -> per-row output preserving the span sequence untouched.

The whole pipeline is one Spark stage with no Python worker; the big
side is scanned once and never shuffled.  Each row evaluates every
expensive expression once: the coordinate regex once per text span,
the comma split and the two cell indices once per coordinate.  Two
things keep Catalyst from copying them into inferred filters: the
extraction explodes the regex call directly (no filter on an aliased
match array), and ``geohash_interleaved`` is non-nullable (no
``isnotnull(cell_id)`` for the join key).
tests/test_plan_shape.py pins this down.

Covering resolution: max_length=7 measured fastest end-to-end at sf0.1
x1000 (6.8s vs 9.4s at 6, 8.2s at 8 on local[32]) — finer cells shrink
the border fraction that pays the exact PIP re-check, until covering
time and broadcast size win at 8.  The cover is memoized per process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import columns as C
from ..operators.extract import extract_coordinates
from ..operators.pip_join import pip_join
from ..operators.tiling import assign_tiles
from ..sources.tables import documents_with_spans

FLAGSHIP_ZOOMS = [8, 12, 16, 22]


def flagship(
    spark: SparkSession,
    sf_dir: str,
    polygons: dict | None = None,
    zooms: list[int] | None = None,
    keep_spans: bool = True,
    max_length: int = 7,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Returns (doc_id, spans?, span_idx, lat, lon, cell_id, polygon_id,
    zoom, tile_x, tile_y) — one row per (extracted coordinate,
    containing polygon, zoom).  ``docs`` overrides the default spans
    table (bench amplification)."""
    if docs is None:
        docs = documents_with_spans(spark, sf_dir)
    pts = extract_coordinates(docs, keep_spans=keep_spans)
    pts = pts.withColumn(
        "cell_id", C.geohash_interleaved(F.col("lat"), F.col("lon"), 12)
    )
    inside = pip_join(pts, polygons=polygons, max_length=max_length)
    return assign_tiles(inside, zooms=zooms or FLAGSHIP_ZOOMS)

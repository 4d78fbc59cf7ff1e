"""Point-in-polygon broadcast join — the flagship operator.

Plan shape (SURVEY.md §2.8):

1. driver: cover each polygon's outer ring with geohash cells
   (kernels.covering, a faithful port of GeoHashUtils.kt:501-607),
   classifying cells as interior (containment guaranteed,
   GeoHashUtils.kt:485-492) or border.
2. normalize the cover to ONE cell length L (expanding parent-collapsed
   cells into children) and convert every cell to its interleaved-long
   key, so the distributed side needs exactly one cheap long projection
   — a single broadcast hash equi-join on longs, zero shuffle of the
   big side, no explode, no string ops.
3. points carry cell_id = 60-bit interleaved geohash (native Column
   math); the join key is shiftright(cell_id, 5*(12-L)).
4. broadcast-join; interior-cell rows match immediately; border-cell
   rows pass the exact hole-aware ray-cast (GeoGeometry.kt:237-295) as
   a native Column (functions.columns.pip_index) — its cost is paid
   ONLY on the border fraction, and no Python worker runs.

At 100 TB the big side is scanned once, filtered by the (broadcastable,
few-thousand-row) cell relation, and never shuffled.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import covering
from ..kernels import geometry as kgeo
from ..kernels.geohash import BASE32
from ..functions.columns import cell_prefix, string_cell_to_long
from ..fixtures import polygons_np
from .cell_join import (
    broadcast_pip,
    default_cover,
    distributed_pip,
    radius_join_cells,
)


def _expand(cell: str, target_len: int) -> list[str]:
    out = [cell]
    while len(out[0]) < target_len:
        out = [c + ch for c in out for ch in BASE32]
    return out


def build_cell_relation(
    polygons: dict[str, list],
    max_length: int = 6,
) -> tuple[list[tuple[str, int, bool]], int]:
    """Driver-side covering -> ([(polygon_id, cell_key_long, is_border)],
    cell_length).  Cells normalized to one length; children of interior
    cells are interior, so expansion preserves the covering guarantee.
    Stays well under 10^5 rows for realistic polygon sets."""
    polys = polygons_np(polygons)
    covers: dict[str, tuple[set, set]] = {}
    max_len = 0
    for pid, rings in polys.items():
        full, border = covering.cover_with_borders(rings, max_length=max_length)
        covers[pid] = (full, border)
        for c in full | border:
            max_len = max(max_len, len(c))
    rows: list[tuple[str, int, bool]] = []
    for pid, (full, border) in covers.items():
        for cell_set, is_border in ((full, False), (border, True)):
            for c in cell_set:
                rows.extend(
                    (pid, string_cell_to_long(e), is_border)
                    for e in _expand(c, max_len)
                )
    return rows, max_len


def pip_join(
    points: DataFrame,
    polygons: dict[str, list] | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_id_col: str = "cell_id",
    max_length: int = 6,
    how: str = "inner",
) -> DataFrame:
    """Join points to every polygon containing them.

    ``points`` must carry the 12-char interleaved-long geohash column
    ``cell_id_col`` (produce it natively with
    functions.columns.geohash_interleaved).  how='inner' returns input
    columns + polygon_id; 'left_semi'/'left_anti' return matched/
    unmatched input rows.
    """
    polys = polygons_np(polygons)
    rows, cell_len = default_cover(
        polygons,
        ("geohash", max_length),
        lambda: build_cell_relation(polys, max_length=max_length),
    )
    key = cell_prefix(F.col(cell_id_col), cell_len)
    return broadcast_pip(points, key, rows, polys, how, lat_col, lon_col)


POLYGONS_SCHEMA = (
    "polygon_id string, rings array<array<array<double>>>"
)


def polygons_as_df(spark, polygons: dict[str, list] | None = None):
    """Fixture/dict polygons -> the (polygon_id, rings) relation shape
    ``pip_join_distributed`` consumes (rings = [[[lon, lat], ...], ...],
    outer ring first)."""
    polys = polygons_np(polygons)
    rows = [
        (pid, [[[float(p[0]), float(p[1])] for p in np.asarray(r)] for r in rings])
        for pid, rings in polys.items()
    ]
    return spark.createDataFrame(rows, POLYGONS_SCHEMA)


def cover_polygons_df(
    polygons: DataFrame, cell_length: int = 6
) -> DataFrame:
    """DISTRIBUTED covering: one worker task covers each polygon
    (mapInPandas over the polygon relation — the covering kernel is
    driver-side in :func:`pip_join`, which caps the polygon count;
    here 10^5+ polygons cover in parallel).  Output is the same
    (polygon_id, cell_key, is_border) relation, normalized to ONE fixed
    ``cell_length`` so the probe side needs a single cheap prefix.

    Scale note: the geohash covering kernel is the reference-parity
    splitAndFilter (string cells, parent collapse — ~9 ms/polygon
    after the batched child-overlap, kernels/covering.py), kept exact
    against GeoHashUtilsTest vectors; for 10^5+-polygon relations
    prefer the S2 twin (s2_cover_polygons_df), whose batched frontier
    sweep covers at ~0.8 ms/polygon with the same join contract."""
    import pandas as pd

    from .s2_join import spread_partitions

    polygons = spread_partitions(polygons)

    def cover_iter(pdfs):
        for pdf in pdfs:
            out: list[tuple[str, int, bool]] = []
            for pid, rings in zip(pdf["polygon_id"], pdf["rings"]):
                # Arrow hands nested lists as object arrays of arrays —
                # stack each ring's points explicitly
                rings_np = [
                    np.stack([np.asarray(p, dtype=np.float64) for p in r])
                    for r in rings
                ]
                full, border = covering.cover_with_borders(
                    rings_np, max_length=cell_length
                )
                for cell_set, is_border in ((full, False), (border, True)):
                    for c in cell_set:
                        out.extend(
                            (pid, string_cell_to_long(e), is_border)
                            for e in _expand(c, cell_length)
                        )
            yield pd.DataFrame(out, columns=["polygon_id", "cell_key", "is_border"])

    return polygons.mapInPandas(
        cover_iter, "polygon_id string, cell_key long, is_border boolean"
    )


def pip_join_distributed(
    points: DataFrame,
    polygons: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_id_col: str = "cell_id",
    cell_length: int = 6,
) -> DataFrame:
    """PIP join against a polygon RELATION (DataFrame) — the large-
    polygon-set path.  :func:`pip_join` closure-captures a driver-side
    polygon dict and broadcasts its cell cover, which is right for
    10^2-10^4 polygons; beyond that the cover no longer broadcasts and
    the dict no longer pickles cheaply, so everything here stays
    distributed: each polygon covers in parallel
    (:func:`cover_polygons_df`), then :func:`cell_join.distributed_pip`
    joins on the cell prefix (bucket the points table by the prefix to
    delete its shuffle) and re-checks border rows against their own
    rings."""
    cells = cover_polygons_df(polygons, cell_length=cell_length)
    key = cell_prefix(F.col(cell_id_col), cell_length)
    return distributed_pip(points, key, cells, polygons, lat_col, lon_col)


def radius_join(
    points: DataFrame,
    center_lat: float,
    center_lon: float,
    radius_m: float,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_id_col: str = "cell_id",
    max_length: int = 6,
    segments: int = 60,
) -> DataFrame:
    """Points within radius of a center: circle cover (GeoHashUtils.kt:
    829-843) prunes via the broadcast cell relation, exact haversine
    re-checks every survivor natively (the circle polygon is an
    inscribed n-gon, so even interior cells get the — cheap, codegen —
    distance check; no Python at all)."""
    ring = kgeo.circle_to_polygon(segments, center_lat, center_lon, radius_m)
    rows, cell_len = build_cell_relation({"circle": [ring]}, max_length)
    keys = sorted({cell_key for _, cell_key, _ in rows})
    key = cell_prefix(F.col(cell_id_col), cell_len)
    return radius_join_cells(
        points, key, keys, center_lat, center_lon, radius_m, lat_col, lon_col
    )


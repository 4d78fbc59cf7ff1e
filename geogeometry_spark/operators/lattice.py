"""The tile-lattice pipeline shared by the spatial statistics in
operators/hotspot.py and operators/density.py.

Every lattice statistic has one scale shape: points collapse ONCE to
occupied WebMercator cells (a map-side combinable aggregate), the CELL
relation — never the point relation — explodes to a bounded list of
neighbor offsets, and one equi-join or re-aggregation on the neighbor
address answers the statistic.  The 3x3 neighborhood of a cell is
enumerated, not searched, so the join costs in proportion to its output
(the neighbor self-join computed once, as in "Instance and Output
Optimal Parallel Algorithms for Acyclic Joins", PODS 2019).

:func:`spread` is the one place that knows the lattice addressing: x
wraps modulo 2^zoom (antimeridian adjacency), and y rows off the pole
edges are dropped (no such tile exists, so no occupied cell could match
them).  Every global statistic's integer moments are single sums over
:func:`neighbor_sums`: S0 = Σdeg, Σ xᵢxⱼ over ordered pairs = Σ x·nsum_x,
Σ xᵢ over pairs = Σ deg·x.  Each (cell, offset) pair is one term, so
where two offsets land on one address (dx = ±1 at zoom 1) that neighbor
counts twice, exactly as in the pair join the DuckDB twins write out.
:func:`coincident_reps` and :func:`rep_pairs` are the point-pattern
variant: coincident fixes collapse to one representative with a
multiplicity, and representatives one lattice step apart meet as
candidate pairs.

Every value that reaches a shuffle or the driver is an exact BIGINT;
the statistics combine them driver-side in a pinned IEEE op order their
DuckDB twins mirror literally.

Study-area convention: n is the number of OCCUPIED cells and neighbor
sums only see occupied neighbors — empty lattice cells are not imputed
as zero observations.  This is the convention that stays meaningful at
100 TB (the full z-lattice at zoom 16 has 4.3e9 addresses, almost all
structurally empty ocean/void; imputing them would swamp the statistic)
— callers wanting a bounded dense lattice can pre-generate it and union
zero counts in.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import columns as C

# self-inclusive 3x3 neighborhood and the 8 queen neighbors
QUEEN = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
RING = [o for o in QUEEN if o != (0, 0)]

# candidate-pair probes for rep_pairs: ``same`` marks the offset whose
# pairs are taken once (pos_a < pos_b) instead of in both orders.  The
# forward half probes each unordered cell pair from exactly one side (5/9
# of the full spread — the grid_dbscan trick); the full probe sees every
# ordered pair, which a nearest-neighbor search needs.
HALF_PROBE = [
    {"dx": dx, "dy": dy, "same": (dx, dy) == (0, 0)}
    for dx, dy in ((0, 0), (1, 0), (1, 1), (0, 1), (-1, 1))
]
FULL_PROBE = [{"dx": dx, "dy": dy, "same": False} for dx, dy in QUEEN]


def occupied_cells(
    points: DataFrame, zoom: int, lat_col: str, lon_col: str, *aggs: Column
) -> DataFrame:
    """(tx, ty, *aggs) per occupied tile at ``zoom``; with no ``aggs``
    the aggregate is the point count ``cnt``."""
    x, y = C.tile_xy(F.col(lat_col), F.col(lon_col), zoom)
    return points.groupBy(x.alias("tx"), y.alias("ty")).agg(
        *(aggs or [F.count(F.lit(1)).alias("cnt")])
    )


def spread(
    rel: DataFrame,
    zoom: int,
    offsets: Sequence[tuple[int, int] | Mapping[str, object]],
    *carry: Column | str,
) -> DataFrame:
    """(nx, ny, *carry): each row of ``rel`` (with tile columns tx, ty)
    once per offset, addressed ``nx = (tx + dx) mod 2^zoom``,
    ``ny = ty + dy``, rows with ``ny`` outside the lattice dropped.

    An offset is a (dx, dy) pair or a mapping with dx, dy and further
    literal fields, which ``carry`` reads as ``_o.<field>`` (a kernel
    weight, a time offset)."""
    n_tiles = 1 << zoom
    fields = [
        o if isinstance(o, Mapping) else {"dx": o[0], "dy": o[1]}
        for o in offsets
    ]
    offs = F.array(
        *[F.struct(*[F.lit(v).alias(k) for k, v in f.items()]) for f in fields]
    )
    # A NULL tile (a NULL coordinate) addresses NULL, as plain
    # arithmetic would; CASE keeps Catalyst from inferring a not-NULL
    # filter on tx/ty and pushing it into the aggregate that built
    # ``rel``, so a join of ``rel`` with its own spread reuses that
    # aggregate's shuffle: one scan of the points instead of two.
    tx, ty = F.col("tx"), F.col("ty")
    nx = F.when(tx.isNotNull(), F.pmod(tx + F.col("_o.dx"), F.lit(n_tiles)))
    ny = F.when(ty.isNotNull(), ty + F.col("_o.dy"))
    return (
        rel.withColumn("_o", F.explode(offs))
        .select(
            nx.alias("nx"),
            ny.alias("ny"),
            *carry,
        )
        .where((F.col("ny") >= 0) & (F.col("ny") < F.lit(n_tiles)))
    )


def neighbor_sums(
    cells: DataFrame,
    zoom: int,
    offsets: Sequence[tuple[int, int]],
    cols: Sequence[str],
) -> DataFrame:
    """Every row of ``cells`` with ``deg`` (how many (cell, offset)
    pairs land on it) and ``nsum_<c>`` (their summed ``c``) for each
    name in ``cols``; 0 for a cell no offset reaches."""
    sums = (
        spread(cells, zoom, offsets, *cols)
        .groupBy("nx", "ny")
        .agg(
            F.count(F.lit(1)).alias("deg"),
            *[F.sum(c).alias(f"nsum_{c}") for c in cols],
        )
    )
    return cells.join(
        sums,
        (F.col("tx") == F.col("nx")) & (F.col("ty") == F.col("ny")),
        "left",
    ).select(
        *cells.columns,
        *[
            F.coalesce(F.col(c), F.lit(0)).alias(c)
            for c in ["deg", *[f"nsum_{c}" for c in cols]]
        ],
    )


def coincident_reps(
    points: DataFrame,
    zoom: int,
    id_col: str,
    lat_col: str,
    lon_col: str,
    **keys: Column,
) -> DataFrame:
    """One representative per (1-microdegree position, *keys) with
    columns (pos, m, *keys, rlat, rlon, tx, ty): the minimum ``id_col``,
    the multiplicity, the key values, the quantized position and its
    tile at ``zoom``.  Rows with a NULL coordinate or key are dropped.

    A pile of coincident fixes becomes ONE node, not a clique — its
    m(m-1)/2 internal pairs are exact integer arithmetic.  The result
    is checkpointed: every caller reads it for its scalars and for both
    sides of :func:`rep_pairs`."""
    keyed = points.select(
        F.col(id_col).alias("_id"),
        F.round(F.col(lat_col) * F.lit(1e6)).cast("long").alias("_ula"),
        F.round(F.col(lon_col) * F.lit(1e6)).cast("long").alias("_ulo"),
        *[c.alias(k) for k, c in keys.items()],
    ).where(
        reduce(
            lambda a, b: a & b,
            [F.col(c).isNotNull() for c in ("_ula", "_ulo", *keys)],
        )
    )
    rlat = F.col("_ula").cast("double") / F.lit(1e6)
    rlon = F.col("_ulo").cast("double") / F.lit(1e6)
    tx, ty = C.tile_xy(rlat, rlon, zoom)
    return (
        keyed.groupBy("_ula", "_ulo", *keys)
        .agg(F.min("_id").alias("pos"), F.count(F.lit(1)).alias("m"))
        .select(
            "pos", "m", *keys,
            rlat.alias("rlat"), rlon.alias("rlon"),
            tx.alias("tx"), ty.alias("ty"),
        )
        .localCheckpoint()
    )


def rep_pairs(
    probe: DataFrame,
    build: DataFrame,
    zoom: int,
    offsets: Sequence[Mapping[str, object]],
    max_mm: int,
) -> DataFrame:
    """Candidate pairs of :func:`coincident_reps` rows within
    ``max_mm`` millimetres: each ``probe`` rep spread over ``offsets``
    (:data:`HALF_PROBE` or :data:`FULL_PROBE`) and equi-joined with the
    ``build`` reps at that address.  Columns: every non-tile rep column
    suffixed ``_a`` (probe) and ``_b`` (build), plus ``dist_mm``, the
    geodesic distance rounded to whole millimetres."""

    def side(df, suffix):
        return [
            F.col(c).alias(c + suffix)
            for c in df.columns
            if c not in ("tx", "ty")
        ]

    a = spread(
        probe, zoom, offsets, F.col("_o.same").alias("_same"), *side(probe, "_a")
    )
    b = build.select(
        F.col("tx").alias("nx"), F.col("ty").alias("ny"), *side(build, "_b")
    )
    pair_ok = F.when(
        F.col("_same"), F.col("pos_a") < F.col("pos_b")
    ).otherwise(F.col("pos_a") != F.col("pos_b"))
    dist_mm = F.round(
        C.haversine(
            F.col("rlat_a"), F.col("rlon_a"), F.col("rlat_b"), F.col("rlon_b")
        )
        * F.lit(1000.0)
    ).cast("long")
    return (
        a.join(b, ["nx", "ny"])
        .where(pair_ok)
        .withColumn("dist_mm", dist_mm)
        .drop("nx", "ny", "_same")
        .where(F.col("dist_mm") <= F.lit(max_mm))
    )

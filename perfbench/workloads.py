"""The benchmark's workloads: seeded inputs, the timed steps, and the
DuckDB twins that check their outputs.

A workload writes its inputs to parquet (``generate``), reads them back
(``load``), and names the calls one iteration makes (``steps``): each
step is one call into a layer's public function, tagged with the
layer's module name.  ``oracles`` gives, per step, the projection of
the Spark output that is compared and the DuckDB SQL it must equal.
The program only ever sees the generated parquet inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geogeometry_spark.functions import columns as C
from geogeometry_spark.sources import tables as src

#: input sizes per workload; SMOKE is the harness self-check size
FULL = {
    "flagship": {"docs": 100_000},
    "operators": {
        "points": 5_000, "circles": 25,
        "fix_users": 30, "fixes_per_user": 100,
        "metro_users": 15, "metro_per_user": 20,
        "road_side": 4,
    },
}
SMOKE = {
    "flagship": {"docs": 2_000},
    "operators": {
        "points": 1_000, "circles": 10,
        "fix_users": 10, "fixes_per_user": 50,
        "metro_users": 5, "metro_per_user": 20,
        "road_side": 3,
    },
}

FLAGSHIP_MAX_LENGTH = 7
SSSP_ORACLE_ROUNDS = 64


@dataclass
class Step:
    """One call into a layer: ``run`` returns the call's result."""

    name: str
    layer: str
    run: Callable[[], DataFrame]


@dataclass
class Oracle:
    """``check`` projects the step's output onto the twin's columns."""

    check: Callable[[DataFrame], DataFrame]
    sql: str


def _write(df: DataFrame, path: str, parts: int) -> None:
    df.coalesce(parts).write.mode("overwrite").parquet(path)


def _parquet_rows(path: str) -> int:
    """Row count from the parquet footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _pip_union_sql(table: str, cols: str = "doc_id") -> str:
    """DuckDB twin of a PIP join against the single-ring fixture
    polygons: one row per (point, containing polygon)."""
    from geogeometry_spark.fixtures import POLYGONS

    return " UNION ALL ".join(
        f"SELECT {cols}, '{pid}' AS polygon_id FROM {table} "
        f"WHERE {C.pip_sql('lat', 'lon', rings[0])}"
        for pid, rings in POLYGONS.items()
    )


def _stride(n: int, k: int) -> int:
    """Row stride that picks ``k`` of ``n`` rows and is coprime with 10,
    so picked rows cycle through every ``doc_id % 10`` class."""
    s = max(n // k, 1)
    while s > 1 and (s % 2 == 0 or s % 5 == 0):
        s -= 1
    return s


class Workload:
    name = ""
    #: untimed iterations before measuring, the first one checked
    warmup_iterations = 1
    #: measured iterations per run, however short ``--seconds`` is
    min_iterations = 2

    def __init__(self, spark: SparkSession, workdir: str, seed: int,
                 sizes: dict, cores: int):
        self.spark, self.workdir, self.seed = spark, workdir, seed
        self.sizes, self.cores = sizes, cores
        self.paths: dict[str, str] = {}
        self.rows = 0

    def path(self, table: str) -> str:
        return os.path.join(self.workdir, "inputs", f"{table}.parquet")

    def generate(self) -> None:
        raise NotImplementedError

    def load(self, spark: SparkSession) -> None:
        """(Re)bind the inputs to ``spark`` and size file splits."""
        self.spark = spark
        self.size_splits()

    def size_splits(self) -> None:
        """Size file splits to the workload's inputs so every core gets
        about four scan tasks; with the default 128 MB split each small
        input would be a single task."""
        total = sum(
            os.path.getsize(os.path.join(p, f))
            for p in self.paths.values()
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )
        split = min(max(total // (self.cores * 4), 256 * 1024),
                    128 * 1024 * 1024)
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        self.spark.conf.set("spark.sql.files.openCostInBytes", str(split // 8))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self.paths[table])

    def steps(self) -> list[Step]:
        raise NotImplementedError

    def prefixes(self) -> list[tuple[str, Callable[[], DataFrame]]]:
        """Cumulative plan prefixes for layers fused into one stage,
        each one layer longer than the last: the traced run times each
        into a noop sink, and a layer's cost is the difference between
        consecutive prefixes."""
        return []

    def oracles(self) -> dict[str, Oracle]:
        raise NotImplementedError

    def duckdb_views(self) -> dict[str, str]:
        """DuckDB view name -> parquet directory of the same input."""
        return dict(self.paths)


# --------------------------------------------------------------------------
# flagship: scan -> extract -> encode -> PIP -> tiles
# --------------------------------------------------------------------------

class Flagship(Workload):
    name = "flagship"
    # the first iteration after one warm-up still runs ~2x slower while
    # the JIT compiles the extraction and join paths, and the next three
    # often 10-30% slower
    warmup_iterations = 5

    def generate(self) -> None:
        n = self.sizes["docs"]
        base = 1 + (self.seed % 1000) * 1_000_000
        docs = self.spark.range(base, base + n, numPartitions=self.cores).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("Field survey note "), F.col("id").cast("string"),
                F.lit(" logged by the mapping crew"),
            ).alias("text"),
        )
        self.paths = {"documents": self.path("documents"),
                      "spans": self.path("spans")}
        _write(docs, self.paths["documents"], self.cores)
        spans = src.documents_with_spans(
            self.spark, "", docs=self.spark.read.parquet(self.paths["documents"])
        )
        _write(spans, self.paths["spans"], self.cores)
        self.rows = n

    def load(self, spark):
        super().load(spark)
        self.docs = self.read("spans")

    def steps(self):
        from geogeometry_spark.plans.flagship import flagship

        return [Step("flagship", "flagship", lambda: flagship(
            self.spark, "", docs=self.docs, keep_spans=True,
            max_length=FLAGSHIP_MAX_LENGTH,
        ))]

    def prefixes(self):
        from geogeometry_spark.operators.extract import extract_coordinates
        from geogeometry_spark.operators.pip_join import pip_join
        from geogeometry_spark.operators.tiling import assign_tiles
        from geogeometry_spark.plans.flagship import FLAGSHIP_ZOOMS

        def scan():
            return self.docs

        def extract():
            return extract_coordinates(self.docs, keep_spans=True)

        def encode():
            return extract().withColumn(
                "cell_id", C.geohash_interleaved(F.col("lat"), F.col("lon"), 12)
            )

        def pip():
            return pip_join(encode(), max_length=FLAGSHIP_MAX_LENGTH)

        def tiling():
            return assign_tiles(pip(), zooms=FLAGSHIP_ZOOMS)

        return [("sources", scan), ("extract", extract), ("encode", encode),
                ("pip_join", pip), ("tiling", tiling)]

    def oracles(self):
        from geogeometry_spark.plans.flagship import FLAGSHIP_ZOOMS

        inside = _pip_union_sql("c", "doc_id, lat, lon")
        x22, y22 = C.tile_xy_sql("lat", "lon", 22)
        zooms = ", ".join(f"({z})" for z in FLAGSHIP_ZOOMS)
        sql = (
            f"WITH c AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
            f"{src.LAT_SQL} AS lat, {src.LON_SQL} AS lon FROM documents "
            f"WHERE {src.HAS_COORD_SQL}), p AS ({inside}), "
            f"t AS (SELECT *, {x22} AS x22, {y22} AS y22, "
            f"{C.geohash_long_sql('lat', 'lon', 12)} AS cell_id FROM p), "
            f"z(zoom) AS (VALUES {zooms}) "
            "SELECT doc_id, CAST(0 AS INT) AS span_idx, lat, lon, cell_id, "
            "polygon_id, CAST(zoom AS INT) AS zoom, "
            "CAST(x22 >> (22 - zoom) AS INT) AS tile_x, "
            "CAST(y22 >> (22 - zoom) AS INT) AS tile_y FROM t CROSS JOIN z"
        )
        return {"flagship": Oracle(lambda df: df.drop("spans"), sql)}

    def span_mismatches(self, out: DataFrame) -> int:
        """Output rows whose span sequence differs from their input
        document's (every row must carry it through untouched)."""
        ref = self.docs.select("doc_id", F.col("spans").alias("_in_spans"))
        joined = out.join(ref, "doc_id", "left")
        return joined.where(
            F.col("_in_spans").isNull() | (F.col("spans") != F.col("_in_spans"))
        ).count()

    def duckdb_views(self):
        return {"documents": self.paths["documents"]}


# --------------------------------------------------------------------------
# operators: one call per cell-join family, lattice statistics, loops
# --------------------------------------------------------------------------

LATTICE_STATS = ("morans_i",)


class Operators(Workload):
    name = "operators"
    # the JIT still compiles planner paths during the second execution
    # (~40% more CPU than later ones), so it is a warm-up too; one
    # measured iteration (4.5-10 s on 4 cores) is the most the run budget
    # allows, and run-to-run spread exceeds the spread within a run
    warmup_iterations = 2
    min_iterations = 1

    def _seeded_fixes(self, users: int, per_user: int, metro: bool) -> DataFrame:
        """``synthetic_fixes`` with seed-offset user and event ids and a
        seed-derived eastward shift (wrapped at the antimeridian)."""
        shift = (self.seed * 0.7310585) % 5.0
        fixes = src.synthetic_fixes(self.spark, users, per_user, metro=metro)
        return fixes.select(
            (F.col("event_id") + F.lit(self.seed * users * per_user))
            .alias("event_id"),
            (F.col("user_id") + F.lit(self.seed * users)).alias("user_id"),
            "ts_sec",
            "lat",
            (F.pmod(F.col("lon") + F.lit(shift + 180.0), F.lit(360.0))
             - F.lit(180.0)).alias("lon"),
        )

    def generate(self) -> None:
        s = self.sizes
        n, k = s["points"], s["circles"]
        base = 1 + (self.seed % 1000) * 1_000_000
        self.paths = {t: self.path(t)
                      for t in ("pts", "qs", "fixes", "metro", "roads")}
        ids = self.spark.range(base, base + n, numPartitions=self.cores)
        pts = src.with_true_coords(ids.select(F.col("id").alias("doc_id")))
        _write(pts.select("doc_id", "lat", "lon"), self.paths["pts"], self.cores)
        # circles: every stride-th point, stride coprime with 10
        stride = _stride(n, k)
        picked = self.spark.range(k, numPartitions=1).select(
            (F.col("id") * stride + base).alias("doc_id"))
        qs = src.with_true_coords(picked).select(
            F.col("doc_id").alias("query_id"),
            F.col("lat").alias("qlat"),
            F.col("lon").alias("qlon"),
            (F.lit(2000.0) + (F.col("doc_id") % 5) * F.lit(1000.0))
            .alias("radius_m"),
        )
        _write(qs, self.paths["qs"], 1)
        _write(self._seeded_fixes(s["fix_users"], s["fixes_per_user"], False),
               self.paths["fixes"], self.cores)
        _write(self._seeded_fixes(s["metro_users"], s["metro_per_user"], True),
               self.paths["metro"], self.cores)
        roads = src.synthetic_road_graph(
            self.spark, s["road_side"],
            base_lat=30.0 + (self.seed % 97) * 0.1,
            base_lon=10.0 + (self.seed % 89) * 0.1,
        )
        _write(roads, self.paths["roads"], self.cores)
        self.rows = sum(_parquet_rows(self.paths[t])
                        for t in ("pts", "fixes", "metro", "roads"))

    def load(self, spark):
        super().load(spark)
        for table in self.paths:
            setattr(self, table, self.read(table))

    def prefixes(self):
        return [("sources", lambda: self.pts)]

    def steps(self):
        from geogeometry_spark.operators import hotspot
        from geogeometry_spark.operators.cluster import st_dbscan
        from geogeometry_spark.operators.hex_join import hex_pip_join
        from geogeometry_spark.operators.knn import radius_join_bulk
        from geogeometry_spark.operators.routing import sssp
        from geogeometry_spark.operators.s2_join import s2_radius_join_bulk

        def geohash():
            pts = self.pts.withColumn(
                "cell_id", C.geohash_interleaved(F.col("lat"), F.col("lon"), 12)
            )
            return radius_join_bulk(pts, self.qs, precision=5, max_ring=3)

        return [
            Step("radius_join_bulk", "knn", geohash),
            Step("s2_radius_join_bulk", "s2_join",
                 lambda: s2_radius_join_bulk(self.pts, self.qs)),
            Step("hex_pip_join", "hex_join", lambda: hex_pip_join(self.pts)),
            *(
                Step(stat, "hotspot",
                     lambda f=getattr(hotspot, stat): f(self.fixes, zoom=8))
                for stat in LATTICE_STATS
            ),
            Step("st_dbscan", "cluster",
                 lambda: st_dbscan(self.metro, eps_m=50.0, eps_t=1800)),
            Step("sssp", "routing", lambda: sssp(
                self.roads,
                self.spark.range(1).select(F.lit(0).cast("int").alias("node")),
            )),
        ]


    def oracles(self):
        from geogeometry_spark.kernels.geometry import DEGREE_LATITUDE_METERS
        from geogeometry_spark.operators import hotspot
        from geogeometry_spark.operators.cluster import st_dbscan_oracle_sql
        from geogeometry_spark.operators.routing import sssp_oracle_sql

        def dist_r3(df):
            return df.select("query_id", "doc_id",
                             F.round(F.col("dist_m"), 3).alias("dist_r3"))

        hav = C.haversine_sql("p.lat", "p.lon", "q.qlat", "q.qlon")
        exact = (
            f"SELECT q.query_id, p.doc_id, round({hav}, 3) AS dist_r3 "
            f"FROM qs q JOIN pts p ON {hav} <= q.radius_m"
        )
        # geohash path: the same per-query ring extent as the operator;
        # queries whose extent exceeds max_ring=3 return no rows
        lat_bits, lon_bits = C.cell_bits(5)
        n_lon = 1 << lon_bits
        deg_m = DEGREE_LATITUDE_METERS
        height_m = (180.0 / (1 << lat_bits)) * deg_m
        worst_lat = f"least(90.0, abs(qlat) + radius_m / {deg_m!r})"
        width = f"({360.0 / n_lon * deg_m!r} * cos(radians({worst_lat})))"
        raw_ext = f"ceil(radius_m / least({height_m!r}, {width}))"
        ia = C.cell_index_sql("lat", -90.0, 180.0, lat_bits)
        io = C.cell_index_sql("lon", -180.0, 360.0, lon_bits)
        qia = C.cell_index_sql("qlat", -90.0, 180.0, lat_bits)
        qio = C.cell_index_sql("qlon", -180.0, 360.0, lon_bits)
        ringed = (
            f"WITH pc AS (SELECT doc_id, lat, lon, {ia} AS ia, {io} AS io "
            f"FROM pts), qc AS (SELECT *, {qia} AS qia, {qio} AS qio, "
            f"CAST({raw_ext} AS INT) AS ext FROM qs WHERE {raw_ext} <= 3) "
            f"SELECT q.query_id, p.doc_id, round({hav}, 3) AS dist_r3 "
            "FROM qc q JOIN pc p ON abs(p.ia - q.qia) <= q.ext "
            f"AND least((p.io - q.qio + {n_lon}) % {n_lon}, "
            f"(q.qio - p.io + {n_lon}) % {n_lon}) <= q.ext "
            f"WHERE {hav} <= q.radius_m"
        )
        out = {
            "radius_join_bulk": Oracle(dist_r3, ringed),
            "s2_radius_join_bulk": Oracle(dist_r3, exact),
            "hex_pip_join": Oracle(lambda df: df.select("doc_id", "polygon_id"),
                                   _pip_union_sql("pts")),
        }
        for stat in LATTICE_STATS:
            out[stat] = Oracle(lambda df: df, getattr(
                hotspot, f"{stat}_oracle_sql")("(SELECT * FROM fixes)", zoom=8))
        out["st_dbscan"] = Oracle(
            lambda df: df.select("event_id", "user_id", "cluster_id"),
            st_dbscan_oracle_sql("(SELECT * FROM metro)", eps_m=50.0,
                                 eps_t=1800,
                                 select_cols="k.event_id, k.user_id"),
        )
        out["sssp"] = Oracle(lambda df: df, sssp_oracle_sql(
            "(SELECT * FROM roads)", "(SELECT CAST(0 AS INT) AS node)",
            rounds=SSSP_ORACLE_ROUNDS))
        return out


WORKLOADS = {w.name: w for w in (Flagship, Operators)}

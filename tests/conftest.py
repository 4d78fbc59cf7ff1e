import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from geogeometry_spark.plans.session import get_spark

    s = get_spark(
        app_name="geogeometry-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR_ORACLE}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="session")
def lattice_edge_cases():
    """Point sets at the edges of the tile lattice, as (rows, zoom)
    pairs with rows of (event_id, lat, lon, is_x).  At zoom 1 the
    dx = -1 and dx = +1 neighbors of a cell share one address; at zoom
    4 occupied cells fill the top and bottom tile rows on both sides of
    the antimeridian, where the neighbor spread runs off the lattice."""
    quads = [0, 0, 0, 0, 0, 1, 2, 2, 2, 3, 3]
    wrap = [
        (i, (40.0, 40.0, -40.0, -40.0)[q], (-90.0, 90.0, -90.0, 90.0)[q],
         i % 3 == 0)
        for i, q in enumerate(quads)
    ]
    lats = (84.0, 81.0, 78.0, -78.0, -81.0, -84.0)  # rows 0-2 and 13-15
    lons = (-179.0, -150.0, 150.0, 179.0)
    poles = [
        (i, lats[(i * 7) % 11 % 6], lons[(i * 3) % 7 % 4], i % 3 == 0)
        for i in range(97)
    ]
    return [(wrap, 1), (poles, 4)]

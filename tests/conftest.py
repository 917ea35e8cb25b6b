from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("CAPITAL_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from capital.session import get_spark

    # The engine's local default heap (16g) exceeds the RAM of small
    # hosts, and G1 grows the committed heap toward it over a full
    # run (13.5 GB resident on a 16 GB host) until the kernel kills
    # the JVM. The sf0.001 suite needs far less; an explicit
    # SPARK_GRAFT_DRIVER_MEM still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    # Small local session for tests: fast startup, deterministic conf.
    spark = get_spark(
        app_name="capital-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()

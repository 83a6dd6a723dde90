from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

# A 16g driver heap let one session-long test JVM grow to ~15 GB RSS
# over the default tier (measured on a 16 GB host, where the kernel
# OOM-killed it mid-suite); the engine's default is now half the host,
# which is still more than the smoke data needs.  An explicit
# SPARK_GRAFT_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    from westtopologies_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()

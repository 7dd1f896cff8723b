from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from news_combinator_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
SF_LARGE = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    # cores: $SPARK_GRAFT_CPUS, else the machine's (session.default_cores)
    s = get_spark(app_name="nc-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    # the tables a registry oracle reads
    for name in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"'{SF_MED}/{name}.parquet'"
        )
    return con

from __future__ import annotations

import duckdb
import pytest

from datapipeline_omnichanneltobigquery_spark.session import get_spark
from datapipeline_omnichanneltobigquery_spark.sources.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # fresh warehouse per test session so crashed runs can't leave orphan
    # managed-table directories behind (LOCATION_ALREADY_EXISTS)
    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8, warehouse_dir=wh)
    yield spark


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the driver's view layout replicated."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()

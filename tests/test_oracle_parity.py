"""Oracle parity in the gate: every catalog query on Spark against its
DuckDB oracle over the same sf0.001 parquet tables, compared exactly as
``scripts/check_parity.py`` does.  Each CATALOG entry pairs one query
with one oracle, so this sweep also shows that no pair was lost."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "scripts"))

from check_parity import TABLES, compare  # noqa: E402

from geomatics_geotk_spark.queries import CATALOG  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(CATALOG))
def test_oracle_parity(spark, duck, name):
    query, oracle = CATALOG[name]
    spark_pdf = query(spark, SF).toPandas()
    oracle_pdf = duck.execute(oracle).fetchdf()
    assert compare(name, spark_pdf, oracle_pdf) == []

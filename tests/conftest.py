from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from oroboro_dw_dbt_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from oroboro_dw_dbt_spark.sources.testdata import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def catalog_schemas(spark):
    """Every catalog entry's output schema at ``SF_SMOKE``, or the error
    its builder raised. Building an entry runs its eager checkpoints and
    counts, so the tests that only read schemas share this one pass."""
    from oroboro_dw_dbt_spark.operators import QUERIES

    schemas = {}
    for name, spec in QUERIES.items():
        try:
            schemas[name] = spec.builder(spark, SF_SMOKE).schema
        except Exception as e:  # noqa: BLE001
            schemas[name] = f"{type(e).__name__}: {e}"
    return schemas

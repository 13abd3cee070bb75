"""Catalog-wide dtype parity: DuckDB-pandas class == Spark schema class.

The driver compares Spark and oracle results as *pandas frames* with a
dtype-faithful stringifier, so a column that is bigint on the Spark side
but float64 on the DuckDB ``fetchdf`` side hash-mismatches even when the
values are numerically identical ("1000000" vs "1000000.0"). Round 6's
one red row (`dd_lsh_recall_report`) was exactly this: DuckDB `sum()`
returns HUGEINT, HUGEINT `//` stays HUGEINT, and HUGEINT reaches pandas
as float64 (VERDICT r06 What's-wrong #1/#2/#3).

This test runs every oracle on DuckDB at sf0.001, takes the Spark
schema from the shared catalog pass (``catalog_schemas``), and asserts
no numeric/bool class split.
NULL-induced BIGINT→float64 is tolerated when the oracle column itself
carries NaNs — the Spark side widens identically at the driver.
"""

from __future__ import annotations

import pytest

from oroboro_dw_dbt_spark.operators import QUERIES

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.check_correctness import dtype_hazards  # noqa: E402

_ORACLED = sorted(n for n, s in QUERIES.items() if s.oracle is not None)


def test_catalog_dtype_parity(catalog_schemas, duck):
    hazards: dict[str, list] = {}
    errors: dict[str, str] = {}
    for name in _ORACLED:
        schema = catalog_schemas[name]
        if isinstance(schema, str):
            errors[name] = schema
            continue
        try:
            odf = duck.execute(QUERIES[name].oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"
            continue
        # Null-presence proxy: the two engines see the same data, so a
        # NaN-free oracle column implies a NULL-free Spark column.
        s_has_null = {c: bool(odf[c].isna().any()) for c in odf.columns}
        haz = dtype_hazards(schema.fields, s_has_null, odf)
        if haz:
            hazards[name] = haz
    assert not errors, f"entries failed to build/execute: {errors}"
    assert not hazards, (
        "driver dtype hazards (spark class vs DuckDB-pandas class — these "
        f"will hash-mismatch at the gate even with equal values): {hazards}"
    )


@pytest.mark.parametrize("name", ["dd_lsh_recall_report", "ml_bootstrap_ci"])
def test_r06_hugeint_regressions_cast(duck, name):
    """The two r06 uncast-HUGEINT columns now reach pandas as int64."""
    import pandas.api.types as pt

    odf = duck.execute(QUERIES[name].oracle).fetchdf()
    col = "recall_ppm" if name == "dd_lsh_recall_report" else "acc_ppm"
    assert pt.is_integer_dtype(odf[col]), odf.dtypes.to_dict()

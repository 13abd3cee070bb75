"""Catalog entries for the three reference models, end-to-end.

Each builder derives the 14 raw-source fixture tables from the testdata
parquet (models/fixtures.py — same SQL text the oracle uses as CTEs),
assembles the model DAG on the engine (models/reference_models.py), and
returns the requested model's DataFrame. The oracle is an independent
DuckDB-dialect statement of the same semantics (models/oracle.py), so a
hash match certifies the full pipeline: fixture derivation + 4-route
attribution + location entity resolution + the mart's wide projection.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oroboro_dw_dbt_spark.engine.dag import ModelGraph, SourceRegistry
from oroboro_dw_dbt_spark.models.fixtures import FIXTURE_SQL, register_fixture_views
from oroboro_dw_dbt_spark.models.oracle import (
    locations_clean_oracle,
    stacked_users_partners_oracle,
    user_base_oracle,
)
from oroboro_dw_dbt_spark.models.reference_models import build_reference_graph
from oroboro_dw_dbt_spark.operators.catalog import query


_FIXTURES: dict[str, tuple[str, dict[str, T.StructType]]] = {}


def _fixtures(spark: SparkSession, sf_dir: str) -> tuple[str, dict[str, T.StructType]]:
    """Materialize the 14 raw-source fixtures as parquet tables, once
    per sf_dir per process; return their directory and each table's
    schema. dbt sources are warehouse TABLES
    (ref: models/sources.yml:7-20), not derived views — registering the
    fixture SQL as lazy temp views made every ``source()`` reference
    re-derive the fixture inside the consumer's plan (the users fixture
    is referenced by 4 attribution routes → 4 recomputes). Scanning
    written parquet is both the faithful semantic and ~5× faster for the
    full mart DAG (measured 17.6 s → 3.4 s + one-time 4.2 s write at
    sf0.1).

    Each schema is taken from the analyzed plan of the frame being
    written (no job) and ``reference_graph`` registers it with the
    source, so loading a source starts no parquet schema-inference job
    (a build loads sources 15 times). Reading each table back to learn
    its schema would cost a job per table."""
    if sf_dir not in _FIXTURES:
        from concurrent.futures import ThreadPoolExecutor

        register_fixture_views(spark, sf_dir)
        out = tempfile.mkdtemp(prefix="ref_fixtures_")

        def write(name: str) -> T.StructType:
            df = spark.table(name)
            df.write.mode("overwrite").parquet(f"{out}/{name}")
            # the parquet reader returns every (flat) column nullable
            return T.StructType(
                [T.StructField(f.name, f.dataType, True, f.metadata) for f in df.schema]
            )

        # 14 independent tiny writes: submit concurrently (Spark job
        # submission is thread-safe) — serial submission pays 14×
        # job-scheduling latency for KB-scale work
        with ThreadPoolExecutor(max_workers=8) as pool:
            schemas = dict(zip(FIXTURE_SQL, pool.map(write, FIXTURE_SQL)))
        _FIXTURES[sf_dir] = (out, schemas)
    return _FIXTURES[sf_dir]


def _fixture_parquet_dir(spark: SparkSession, sf_dir: str) -> str:
    """Directory of the 14 fixture parquet tables (see ``_fixtures``);
    ``{dir}/{name}`` reads back with the schema ``reference_graph``
    registers for ``name``."""
    return _fixtures(spark, sf_dir)[0]


def reference_graph(
    spark: SparkSession, sf_dir: str, warehouse_dir: str | None = None
) -> ModelGraph:
    """Parquet-backed fixture sources + the 3-model DAG, ready to run.
    With a ``warehouse_dir`` the mart materializes as a Parquet TABLE
    (dbt's actual config, dbt_project.yml:15-17); without one,
    everything is a view (cheaper for plan-only tests)."""
    fixdir, schemas = _fixtures(spark, sf_dir)
    sources = SourceRegistry()
    for name, schema in schemas.items():
        sources.add_path(name, f"{fixdir}/{name}", schema=schema)
    return build_reference_graph(sources, warehouse_dir=warehouse_dir)


def _run_model(
    spark: SparkSession, sf_dir: str, model_name: str, materialize: bool = False
) -> DataFrame:
    wh = tempfile.mkdtemp(prefix="ref_warehouse_") if materialize else None
    graph = reference_graph(spark, sf_dir, warehouse_dir=wh)
    graph.run(spark, select=[model_name], run_tests=False)
    return graph.frame(model_name)


@query(
    "ref_stacked_users_partners",
    oracle=stacked_users_partners_oracle(),
    survey_ref="§2.3 J7-J10, §2.4 A2/A3, §2.7 U2/U3 (full model)",
)
def ref_stacked_users_partners(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_model(spark, sf_dir, "stacked_users_partners")


@query(
    "ref_locations_clean",
    oracle=locations_clean_oracle(),
    survey_ref="§2.2 P3-P7, §2.3 J4-J6/J11, §2.4 A1, §2.5 W1-W4, §2.10 G1/G2 (full model)",
)
def ref_locations_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_model(spark, sf_dir, "locations_clean")


@query(
    "ref_user_base",
    oracle=user_base_oracle(),
    survey_ref="§1.3 output model; §2.2 P1/P2, §2.3 J1-J3, §2.6 O1, §2.8-2.9 all (full mart)",
)
def ref_user_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize=True drives the driver's hash check through the table
    # SINK (write parquet → read back), certifying S4 — the reference's
    # real mart materialization — not just the logical plan
    return _run_model(spark, sf_dir, "user_base", materialize=True)


_O1_KEYS = ("user_id", "partner_id", "classroom_id", "site_id")


@query(
    "ref_user_base_ordered",
    oracle="SELECT user_id, partner_id, classroom_id, site_id, ROW_NUMBER() OVER ("
    "ORDER BY user_id ASC NULLS FIRST, partner_id ASC NULLS FIRST, "
    "classroom_id ASC NULLS FIRST, site_id ASC NULLS FIRST) AS global_rank "
    "FROM (" + user_base_oracle() + ")",
    survey_ref="§2.6 O1 — order-SENSITIVE certification of user_base.sql:83",
)
def ref_user_base_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver hash sorts rows before hashing, so O1's global ORDER BY
    (user_base.sql:83) is otherwise never certified *as an ordering*.
    This entry materializes the sort as data: row_number() over the same
    4-key comparator (a verified unique key of the mart), with null
    placement pinned to NULLS FIRST on both engines. Gate-only entry —
    a global single-partition window is fine at oracle scale; the mart
    itself never computes it."""
    df = _run_model(spark, sf_dir, "user_base")
    w = Window.orderBy(*[F.col(k).asc_nulls_first() for k in _O1_KEYS])
    return df.select(*_O1_KEYS).withColumn("global_rank", F.row_number().over(w))

"""The three closed-loop workloads and the ops they cycle over.

An op is one call into the package's public entry points that returns
the DataFrame to be sunk and checked:

- ``mart_dag``: a full ``ModelGraph.run`` of the reference graph
  (``operators.reference_suite.reference_graph``) into a fresh warehouse:
  two views, the ``user_base`` table write and its two data tests. The
  output is the mart read back from the warehouse.
- ``query_mix`` / ``corpus_dedup``: ``QUERIES[name].builder(spark, sf_dir)``.

Every op carries the DuckDB oracle SQL its output is checked against.
In a traced run the mart op is instrumented from outside through timing
proxies around the graph's ``table_format``, each ``DataTest.run`` and
each model function.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

QUERY_MIX = (
    "q1_pricing_summary", "q3_top_revenue_orders", "j7_computed_key_join",
    "j9_dim_chain_rollup", "w1_top1_per_group", "q13_order_count_distribution",
    "q21_sole_supplier_delays", "tj_asof_join", "skew_two_phase_agg", "pivot_wide",
    "st_sessionize", "st_stream_windowed", "st_drift_monitor",
)
CORPUS_DEDUP = (
    "t_text_profile", "dd_minhash_lsh_star", "dd_semdedup_ivf_greedy", "t_bpe_train",
    "t_dedup_paragraphs", "ss_matmul_topk", "mm_sample_frames",
)
MART_MODELS = ("stacked_users_partners", "locations_clean", "user_base")


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    sf: float  # scale factor of the generated tables, as in TESTDATA.md
    warmup_cycles: int
    min_cycles: int  # timed cycles a window holds at least, however short --seconds is
    tables: tuple[str, ...] = ()  # input tables the source set-up opens; () = all ten


WORKLOADS = {
    w.name: w
    for w in (
        Workload("mart_dag", ("mart_build",), sf=0.1, warmup_cycles=1, min_cycles=3),
        Workload("query_mix", QUERY_MIX, sf=0.1, warmup_cycles=1, min_cycles=1),
        Workload("corpus_dedup", CORPUS_DEDUP, sf=0.001, warmup_cycles=1, min_cycles=2,
                 tables=("documents", "embeddings")),
    )
}


def oracle_sql(op: str) -> str:
    if op == "mart_build":
        from oroboro_dw_dbt_spark.models.oracle import user_base_oracle

        return user_base_oracle()
    from oroboro_dw_dbt_spark.operators import QUERIES

    return QUERIES[op].oracle


def open_sources(spark, workload: Workload, sf_dir: str) -> float:
    """The workload's source set-up: open the input tables it reads
    (listing and footer reads); for mart_dag also materialize the 14 fixture tables,
    which the first ``reference_graph`` call per ``sf_dir`` does. Returns
    the seconds the fixtures took (0 without them)."""
    from oroboro_dw_dbt_spark.sources.testdata import TABLES, load_table

    for t in workload.tables or TABLES:
        load_table(spark, sf_dir, t).schema
    if workload.name != "mart_dag":
        return 0.0
    from oroboro_dw_dbt_spark.operators.reference_suite import reference_graph

    t0 = time.perf_counter()
    reference_graph(spark, sf_dir)
    return time.perf_counter() - t0


class _TimedFormat:
    """Timing proxy around a graph's table format."""

    def __init__(self, inner, rec) -> None:
        self._inner, self._rec = inner, rec

    def write(self, df, path, partition_by=()):
        self._rec.plan("user_base", df)
        with self._rec.span("engine.table_write"):
            self._inner.write(df, path, partition_by)

    def read(self, spark, path):
        with self._rec.span("engine.table_read"):
            return self._inner.read(spark, path)

    def __getattr__(self, name):
        return getattr(self._inner, name)


class _TimedTest:
    """Timing proxy around one ``DataTest``."""

    def __init__(self, inner, rec) -> None:
        self._inner, self._rec = inner, rec
        self.name = inner.name

    def run(self, df, sample: int = 5):
        with self._rec.span("engine.data_test", test=self.name):
            return self._inner.run(df, sample)


def _timed_model(fn: Callable, starts: dict, name: str) -> Callable:
    def wrapped(**kwargs):
        starts[name] = time.perf_counter()
        return fn(**kwargs)

    return wrapped


def mart_build(spark, sf_dir: str, warehouse: Path, rec):
    """One full build of the reference DAG into ``warehouse``. ``rec`` is
    the op recorder; when it traces, the graph is instrumented."""
    from oroboro_dw_dbt_spark.operators.reference_suite import reference_graph

    graph = reference_graph(spark, sf_dir, warehouse_dir=str(warehouse))
    starts: dict[str, float] = {}
    if rec.tracing:
        graph.table_format = _TimedFormat(graph.table_format, rec)
        for m in graph.models.values():
            m.tests = tuple(_TimedTest(t, rec) for t in m.tests)
            m.fn = _timed_model(m.fn, starts, m.name)
    with rec.span("engine.run"):
        results = graph.run(spark)
    for name, res in results.items():
        if not res.tests_passed:
            raise RuntimeError(f"data tests failed on {name}: {res.test_results}")
        if name in starts:
            rec.add(f"engine.model.{name}", starts[name], res.seconds)
    if rec.tracing:
        rec.note(mart_bytes=sum(f.stat().st_size for f in warehouse.rglob("*") if f.is_file()))
    return graph.frame("user_base")


def build(spark, op: str, sf_dir: str, warehouse: Path, rec):
    if op == "mart_build":
        return mart_build(spark, sf_dir, warehouse, rec)
    from oroboro_dw_dbt_spark.operators import QUERIES

    return QUERIES[op].builder(spark, sf_dir)

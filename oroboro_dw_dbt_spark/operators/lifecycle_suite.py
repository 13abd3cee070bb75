"""Engine-family catalog entries: the table format, the model DAG and
its maintenance operations, certified as data.

Each entry drives the engine (engine/, streaming/) through a lifecycle —
incremental runs, compaction, ACID commit with an injected crash, time
travel and vacuum, CDC apply, write-audit-publish, branches, clones,
restore, streaming restart-recovery — and returns what a READER observes
at each phase; the oracle recomputes every phase independently from the
raw source table. A hash match therefore proves the recovery/maintenance
machinery, not just a happy path. ``p_observe_metrics`` certifies the
``df.observe`` metric channel the same way.

Reference parity note: the reference (dbt→BigQuery) delegates restart
semantics to BigQuery jobs and has no streaming at all (SURVEY §2.12);
these are beyond-reference scale surfaces for the same pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.engine.materialize import materialize
from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.operators.extended_suite import _CENTS, _CENTS_SQL, _cents
from oroboro_dw_dbt_spark.sources.testdata import load_table


@query(
    "st_restart_recovery",
    # the oracle is the plain batch latest-row-per-user argmax over the
    # SOURCE events — the streamed, crashed, and restarted CDC upsert
    # must land on exactly this table for the hash to match
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    survey_ref="beyond-reference: Structured Streaming kill-and-restart "
    "recovery — checkpointed CDC upsert crashes mid-feed, resumes from "
    "the offset log, exactly-once result vs the batch argmax oracle "
    "(streaming/jobs.py stream_upsert_latest)",
)
def st_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the checkpointed CDC upsert, CRASH it before batch 1's merge,
    then restart from the same checkpoint directory and let it finish.

    The builder itself asserts the recovery contract (so a green driver
    record certifies recovery, not merely final values):

    - run 1 dies at the injected batch and processes nothing after it;
    - run 2's FIRST batch is the crashed one (offset-log replay — the
      feed is not reprocessed from batch 0);
    - the final table equals the batch argmax oracle (exactly-once:
      replaying the in-doubt batch is idempotent because the merge is
      newer-wins over identical rows).

    Scale: recovery cost is O(one micro-batch), independent of history
    length — the checkpoint pins offsets, not data. At 100 TB the same
    topology recovers in seconds after an executor/driver loss.
    """
    import tempfile

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from oroboro_dw_dbt_spark.streaming import stream_upsert_latest

    base = tempfile.mkdtemp(prefix="restart_recovery_")
    crash_at = 1
    run1: list[int] = []

    def chaos(_batch: DataFrame, batch_id: int) -> None:
        run1.append(batch_id)
        if batch_id == crash_at:
            raise RuntimeError("injected mid-stream crash")

    try:
        stream_upsert_latest(
            spark, sf_dir, files_per_trigger=2, base_dir=base, before_batch=chaos
        )
        raise AssertionError("chaos hook did not kill the stream")
    except StreamingQueryException:
        pass
    if max(run1) != crash_at:
        raise AssertionError(f"run 1 processed past the crash point: {run1}")

    run2: list[int] = []
    final = stream_upsert_latest(
        spark,
        sf_dir,
        files_per_trigger=2,
        base_dir=base,
        before_batch=lambda _b, bid: run2.append(bid),
    )
    if min(run2) != crash_at:
        raise AssertionError(
            f"restart did not resume at the failed batch: {run2} "
            "(expected offset-log replay, got feed reprocessing)"
        )
    return final


@query(
    "eng_time_travel",
    # every phase recomputed by the oracle from the source table:
    #   v1            — full table committed
    #   v2_mor_delete — equality-delete of even keys (merge-on-read)
    #   v3_compacted  — copy-on-write fold of the vectors
    #   tt_v2         — version 2 read AFTER v3 exists: historical reads
    #                   still apply that version's delete vectors
    #   after_vacuum  — vacuum(keep_last=1) never touches the current
    #                   snapshot: the same rows remain readable
    #   reclaimed     — exactly the two superseded artifacts (v1's data
    #                   dir + v2's delete-vector file) are deleted;
    #                   deterministic because the lifecycle is
    oracle="""
    WITH ev AS (SELECT event_id, value FROM events),
    full_t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE)
               AS value_sum
      FROM ev
    ),
    odd AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE)
               AS value_sum
      FROM ev WHERE event_id % 2 = 1
    )
    SELECT 'v1' AS phase, n, value_sum FROM full_t
    UNION ALL SELECT 'v2_mor_delete', n, value_sum FROM odd
    UNION ALL SELECT 'v3_compacted', n, value_sum FROM odd
    UNION ALL SELECT 'tt_v2', n, value_sum FROM odd
    UNION ALL SELECT 'after_vacuum', n, value_sum FROM odd
    UNION ALL SELECT 'reclaimed', CAST(2 AS BIGINT), CAST(NULL AS DOUBLE)
    """,
    survey_ref="engine storage: read-at-version time travel + vacuum "
    "reclaim through the full delete/compact lifecycle "
    "(engine/table_format.py read(version=)/vacuum) — completes the "
    "ACID family's driver record (eng_acid_commit, eng_delete_vectors)",
)
def eng_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive commit → merge-on-read delete → compaction → time travel →
    vacuum, aggregating what a reader sees at each phase.

    The two claims beyond `eng_delete_vectors`: (a) a HISTORICAL version
    read after later versions exist still applies ITS delete vectors
    (tt_v2 — version pinning covers the whole read path, vectors
    included); (b) vacuum reclaims exactly the unreferenced artifacts
    and nothing the current snapshot needs (after_vacuum re-reads the
    same rows; `reclaimed` counts the deleted dirs). At 100 TB vacuum
    is the storage-cost control loop: without it every rewritten file
    is retained forever; with it retention is an explicit keep_last
    policy, and the phase list proves it cannot eat live data.
    """
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

    table = Path(tempfile.mkdtemp(prefix="tt_wh_")) / "events_tt"
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    val = F.col("value").cast("decimal(12,4)")

    def agg(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(val), 2).cast("double").alias("value_sum"),
        ).select("phase", "n", "value_sum")

    fmt = ManifestParquetFormat()
    fmt.write(ev, table)  # v1
    phases = [agg(fmt.read(spark, table), "v1")]
    fmt.delete_keys(
        spark, table, ev.filter(F.col("event_id") % 2 == 0), "event_id"
    )  # v2
    phases.append(agg(fmt.read(spark, table), "v2_mor_delete"))
    fmt.compact_deletes(spark, table)  # v3
    phases.append(agg(fmt.read(spark, table), "v3_compacted"))
    phases.append(agg(fmt.read(spark, table, version=2), "tt_v2"))
    # materialize the pre-vacuum phases NOW: vacuum deletes the very
    # dirs those lazy plans point at (the checkpoint pins the rows)
    phases = [materialize(p) for p in phases]
    reclaimed = fmt.vacuum(table, keep_last=1)
    phases.append(agg(fmt.read(spark, table), "after_vacuum"))
    phases.append(
        spark.createDataFrame(
            [("reclaimed", len(reclaimed), None)],
            "phase string, n bigint, value_sum double",
        )
    )
    out = phases[0]
    for p in phases[1:]:
        out = out.unionByName(p)
    return out


@query(
    "eng_incremental_run",
    # two incremental runs: v1 loads all orders, v2 re-delivers 1999+
    # orders; merged table keeps v1 rows whose key was not re-delivered
    # and replaces the rest — the CASE below is exactly that contract
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
                THEN 'v2' ELSE 'v1' END AS batch
    FROM orders
    """,
    survey_ref="engine S4/incremental: two-run delete+insert merge by "
    "unique_key through the warehouse table path (dbt incremental "
    "lifecycle, driver-certified)",
)
def eng_incremental_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from oroboro_dw_dbt_spark.engine.dag import ModelGraph, SourceRegistry, model

    sources = SourceRegistry()
    sources.add_provider("orders", lambda s: load_table(s, sf_dir, "orders"))
    state = {"batch": "v1", "since": None}

    @model(name="latest_orders", materialized="incremental", unique_key=("o_orderkey",))
    def latest_orders(orders):
        df = orders
        if state["since"] is not None:
            df = df.filter(F.col("o_orderdate") >= F.lit(state["since"]).cast("timestamp"))
        return df.select(
            "o_orderkey", "o_totalprice", F.lit(state["batch"]).alias("batch")
        )

    graph = ModelGraph(
        sources, warehouse_dir=tempfile.mkdtemp(prefix="inc_wh_"), threads=1
    )
    graph.add(latest_orders)
    graph.run(spark, select=["latest_orders"], run_tests=False)
    state.update(batch="v2", since="1999-01-01 00:00:00")
    graph.run(spark, select=["latest_orders"], run_tests=False)
    return graph.frame("latest_orders")


@query(
    "eng_compact_run",
    # identity contract: compaction must not add, drop, or alter a row.
    # The oracle recomputes the same per-type aggregate straight from the
    # source table — any lost/duplicated row in the rewrite breaks the
    # hash. File-count mechanics are asserted in tests/test_engine.py
    # (DuckDB can't see the filesystem layout).
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(event_id AS HUGEINT)) AS DOUBLE) AS id_sum
    FROM events
    GROUP BY event_type
    """,
    survey_ref="engine maintenance: small-file compaction through the "
    "atomic swap (engine/maintenance.py), row identity driver-certified",
)
def eng_compact_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Land the events table as 16 deliberately-small files, compact to
    ≈2, and aggregate from the COMPACTED table — the driver's hash match
    against the raw source certifies the rewrite is row-identical."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import compact_table
    from oroboro_dw_dbt_spark.engine.maintenance import data_file_stats

    path = Path(tempfile.mkdtemp(prefix="compact_wh_")) / "events"
    load_table(spark, sf_dir, "events").repartition(16).write.parquet(str(path))
    _, total = data_file_stats(path)
    compacted = compact_table(spark, path, target_file_bytes=(total + 1) // 2)
    return compacted.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("event_id").cast("double").alias("id_sum"),
    )


@query(
    "eng_acid_commit",
    # ACID contract as data, all four phases recomputed independently by
    # the oracle from the source table:
    #   v1        — first commit (even event_ids)
    #   crash     — a write that dies BETWEEN data write and pointer
    #               commit must leave readers on v1 exactly
    #   v2        — the retried commit (odd event_ids) is fully visible
    #   timetravel— version 1 stays readable after v2 (snapshot isolation)
    oracle="""
    WITH ev AS (SELECT event_id, value FROM events),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(event_id AS HUGEINT)) AS DOUBLE) AS id_sum
      FROM ev WHERE event_id % 2 = 0
    ),
    agg_odd AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(event_id AS HUGEINT)) AS DOUBLE) AS id_sum
      FROM ev WHERE event_id % 2 = 1
    )
    SELECT 'v1' AS phase, n, id_sum FROM agg
    UNION ALL SELECT 'after_crash', n, id_sum FROM agg
    UNION ALL SELECT 'v2', n, id_sum FROM agg_odd
    UNION ALL SELECT 'timetravel_v1', n, id_sum FROM agg
    """,
    survey_ref="engine storage: ManifestParquetFormat ACID commit — "
    "atomic pointer swap, read-after-crash equivalence, time travel "
    "(engine/table_format.py; the Delta/Iceberg seam made concrete)",
)
def eng_acid_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the manifest format through commit → injected crash →
    retry → time travel, aggregating what a READER sees at each phase.
    The crash is injected between the snapshot's data write and the
    pointer swap (the widest vulnerable window); the driver's hash
    match against pure source SQL certifies the reader was never
    exposed to the half-written snapshot."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

    table = Path(tempfile.mkdtemp(prefix="acid_wh_")) / "events_acid"
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")

    fmt = ManifestParquetFormat()
    fmt.write(ev.filter(F.col("event_id") % 2 == 0), table)  # v1

    class Killed(RuntimeError):
        pass

    def die(path: Path, version: int) -> None:
        raise Killed(f"chaos: killed before committing v{version}")

    chaos = ManifestParquetFormat(before_commit=die)
    try:
        chaos.write(ev.filter(F.col("event_id") % 2 == 1), table)
    except Killed:
        pass  # data-XXXXX2 exists on disk but is unreferenced

    def agg(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("event_id").cast("double").alias("id_sum"),
        ).select("phase", "n", "id_sum")

    # reads pin a concrete immutable data dir, so laziness is safe:
    # each phase's DataFrame keeps pointing at its own snapshot
    phases = [agg(fmt.read(spark, table), "v1")]  # == first commit
    phases.append(agg(fmt.read(spark, table), "after_crash"))  # still v1
    fmt.write(ev.filter(F.col("event_id") % 2 == 1), table)  # retry commits v2
    phases.append(agg(fmt.read(spark, table), "v2"))
    phases.append(agg(fmt.read(spark, table, version=1), "timetravel_v1"))
    out = phases[0]
    for p in phases[1:]:
        out = out.unionByName(p)
    return out


def _zorder_entry_oracle() -> str:
    from oroboro_dw_dbt_spark.engine.layout import zorder_oracle_expr

    # bands are computed ONCE as BIGINTs in a CTE: DuckDB's `//` on a
    # DOUBLE (epoch() returns fractional seconds) is plain division,
    # not floor division — the interleave arithmetic needs integers
    z = zorder_oracle_expr("xb", "yb")
    return f"""
    WITH banded AS (
      SELECT event_type, value,
             user_id % 256 AS xb,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % 256 AS yb
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE)
             AS value_sum,
           min({z}) AS min_z, max({z}) AS max_z
    FROM banded
    WHERE xb >= 64 AND xb < 96 AND yb >= 32 AND yb < 64
    GROUP BY event_type
    """


@query(
    "eng_zorder_layout",
    # the same box query + Morton arithmetic restated over the RAW
    # source: parity certifies both the z-value math (min/max z per
    # group) and that the z-ordered rewrite lost/changed no rows
    oracle=_zorder_entry_oracle(),
    survey_ref="engine storage: Z-order (Morton) file layout — "
    "multi-dimensional data skipping beyond 1-D Hive partitioning "
    "(engine/layout.py; rectangle property footer-asserted in pytest)",
)
def eng_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order events by (user band, hour band), then answer a 2-D box
    query from the rewritten files.

    The write is one range-partition shuffle + local sort on the
    interleaved key; each output file then covers a small rectangle of
    the (user, hour) plane, so the box predicate prunes most files via
    parquet footer min/max — the two-filter-column case that defeats
    single-dimension Hive partitioning. Here the certified surface is
    value identity (rewrite lost nothing) and exact z arithmetic; the
    pruning claim itself is asserted on real file footers in
    tests/test_zorder_layout.py rather than trusted."""
    import tempfile

    from oroboro_dw_dbt_spark.engine.layout import zorder_value, zorder_write

    ev = load_table(spark, sf_dir, "events")
    xband = F.col("user_id") % 256
    yband = F.expr("unix_timestamp(ts) div 3600") % 256
    zdir = tempfile.mkdtemp(prefix="zorder_wh_") + "/events_z"
    zorder_write(ev, zdir, xband, yband, bits=8, n_files=16)

    back = spark.read.parquet(zdir)
    bx = F.col("user_id") % 256
    by = F.expr("unix_timestamp(ts) div 3600") % 256
    return (
        back.filter(bx.between(64, 95) & by.between(32, 63))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,4)")), 2)
            .cast("double")
            .alias("value_sum"),
            F.min(zorder_value(bx, by)).alias("min_z"),
            F.max(zorder_value(bx, by)).alias("max_z"),
        )
    )


@query(
    "eng_delete_vectors",
    # merge-on-read delete contract as data, each phase recomputed by
    # the oracle from the source table:
    #   v1          — full table committed
    #   mor_delete  — equality-delete of negative balances: readers see
    #                 the filtered table though no data file changed
    #                 (file-immutability asserted in pytest)
    #   timetravel  — version 1 still shows the deleted rows
    #   compacted   — copy-on-write fold of the vectors: same result,
    #                 now with zero delete files on the read path
    oracle="""
    WITH c AS (SELECT c_custkey, c_acctbal FROM customer),
    full_t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,4))), 2) AS DOUBLE)
               AS bal_sum
      FROM c
    ),
    kept AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,4))), 2) AS DOUBLE)
               AS bal_sum
      FROM c WHERE c_acctbal >= 0
    )
    SELECT 'v1' AS phase, n, bal_sum FROM full_t
    UNION ALL SELECT 'mor_delete', n, bal_sum FROM kept
    UNION ALL SELECT 'timetravel_v1', n, bal_sum FROM full_t
    UNION ALL SELECT 'compacted', n, bal_sum FROM kept
    """,
    survey_ref="engine storage: merge-on-read equality deletes "
    "(Iceberg-style delete vectors) — O(deleted keys) write "
    "amplification, anti-join read path, copy-on-write compaction "
    "(engine/table_format.py delete_keys/compact_deletes)",
)
def eng_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive merge-on-read deletes through commit → delete → time
    travel → compaction, aggregating what a reader sees at each phase.

    The scale story IS the phase list: the delete writes only the key
    set (a 1000-row delete on a 100 TB table stays a KB-scale commit),
    readers apply vectors as a broadcast anti-join on the immutable
    data files, history stays byte-identical for time travel, and
    compaction is the explicitly-scheduled copy-on-write fold — never
    an implicit one hiding in a delete call."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

    table = Path(tempfile.mkdtemp(prefix="mor_wh_")) / "customer_mor"
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")

    fmt = ManifestParquetFormat()
    fmt.write(cust, table)  # v1
    bal = F.col("c_acctbal").cast("decimal(12,4)")

    def agg(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(bal), 2).cast("double").alias("bal_sum"),
        ).select("phase", "n", "bal_sum")

    phases = [agg(fmt.read(spark, table), "v1")]
    fmt.delete_keys(
        spark, table, cust.filter(F.col("c_acctbal") < 0), "c_custkey"
    )
    phases.append(agg(fmt.read(spark, table), "mor_delete"))
    phases.append(agg(fmt.read(spark, table, version=1), "timetravel_v1"))
    fmt.compact_deletes(spark, table)
    phases.append(agg(fmt.read(spark, table), "compacted"))
    out = phases[0]
    for p in phases[1:]:
        out = out.unionByName(p)
    return out


@query(
    "eng_incremental_agg",
    # the oracle is the FULL RECOMPUTE the incremental path must equal
    # bit-for-bit: additive integer state (micro-quantized values) makes
    # delta-merge associative, so three ingest steps == one big scan
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                      / 1000000.0, 6) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY event_type
    """,
    survey_ref="engine lifecycle: incremental aggregate maintenance — "
    "per-batch delta merge through the ACID table format equals full "
    "recompute exactly (engine/maintenance.py merge_additive_state)",
)
def eng_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain an aggregate mart across three ingest batches without
    rescanning history, then prove it equals the full recompute.

    Each step pre-aggregates ONLY the new batch to the mart's grain and
    merges it with the stored per-key state (union + re-aggregate, one
    grain-key shuffle over state+delta rows); state persists through
    the manifest format, so every step is an atomic snapshot commit.
    Exactness hinges on the measures being additive over integers —
    value is micro-quantized, so three-step merge == one-scan oracle
    bit-for-bit (a float sum would drift with accumulation order).
    At 100 TB: the history is never re-read; each day costs the day."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat
    from oroboro_dw_dbt_spark.engine.maintenance import merge_additive_state

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.dayofmonth("ts").alias("day"),
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("micro"),
    )
    batches = [
        ev.filter(F.col("day") <= 10),
        ev.filter((F.col("day") > 10) & (F.col("day") <= 20)),
        ev.filter(F.col("day") > 20),
    ]
    fmt = ManifestParquetFormat()
    table = Path(tempfile.mkdtemp(prefix="incr_agg_wh_")) / "state"
    state = None
    for batch in batches:
        delta = batch.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("micro").cast("bigint").alias("micro_sum"),
        )
        state = merge_additive_state(
            state, delta, keys=["event_type"], sum_cols=["n", "micro_sum"]
        )
        fmt.write(state, table)  # atomic snapshot per ingest step
        state = fmt.read(spark, table)
    return state.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("micro_sum") / 1_000_000.0, 6)
        .cast("double")
        .alias("value_sum"),
    )


@query(
    "eng_manifest",
    # the reference DAG's documented shape, as data: dbt docs-generate
    # parity certified through the driver (3 nodes, their materialized
    # configs, and model-vs-source dependency counts; user_base carries
    # the two declared marts_schema.yml tests)
    oracle="""
    SELECT * FROM (VALUES
      ('locations_clean', 'view', 0, 3, 0),
      ('stacked_users_partners', 'view', 0, 10, 0),
      ('user_base', 'table', 2, 2, 2)
    ) AS t(model, materialized, n_model_deps, n_source_deps, n_tests)
    """,
    survey_ref="engine lifecycle: ModelGraph.manifest() lineage artifact "
    "(dbt docs generate), ref: dbt_project.yml:9-17, marts_schema.yml:1-16",
)
def eng_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.operators.reference_suite import reference_graph

    import tempfile

    m = reference_graph(
        spark, sf_dir, warehouse_dir=tempfile.mkdtemp(prefix="manifest_wh_")
    ).manifest()
    rows = [
        (
            n["name"],
            n["materialized"],
            len(n["depends_on"]["models"]),
            len(n["depends_on"]["sources"]),
            len(n["tests"]),
        )
        for n in m["nodes"].values()
    ]
    return spark.createDataFrame(
        rows,
        "model string, materialized string, n_model_deps int, "
        "n_source_deps int, n_tests int",
    )


@query(
    "eng_csv_seed",
    # dbt seed lifecycle: a CSV lands as a source with an EXPLICIT
    # schema (no inference pass — at 100 TB schema inference is a full
    # extra read), flows through a model, and must aggregate exactly as
    # the parquet original it was exported from
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderkey % 10 = 0
    GROUP BY o_orderpriority
    """,
    survey_ref="engine S1 csv source (dbt seed, ref: dbt seeds dir "
    "convention): explicit-schema csv -> SourceRegistry -> model",
)
def eng_csv_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import types as T

    from oroboro_dw_dbt_spark.engine.dag import ModelGraph, SourceRegistry, model

    seed_dir = tempfile.mkdtemp(prefix="csv_seed_")
    subset = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")
    subset.write.mode("overwrite").option("header", "true").csv(seed_dir)

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    sources = SourceRegistry()
    sources.add_path(
        "seed_orders", seed_dir, schema=schema, format="csv",
        options={"header": "true"},
    )

    @model(name="seed_rollup")
    def seed_rollup(seed_orders):
        return seed_orders.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total"),
        )

    graph = ModelGraph(sources).add(seed_rollup)
    graph.run(spark, select=["seed_rollup"], run_tests=False)
    return graph.frame("seed_rollup")


@query(
    "eng_json_source",
    # same contract as eng_csv_seed for the JSON-lines reader: explicit
    # schema (no inference pass), values surviving the text round-trip
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderkey % 9 = 0
    GROUP BY o_orderpriority
    """,
    survey_ref="engine S1 json source: explicit-schema JSON-lines -> "
    "SourceRegistry -> model (the log-ingest landing format)",
)
def eng_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import types as T

    from oroboro_dw_dbt_spark.engine.dag import ModelGraph, SourceRegistry, model

    land_dir = tempfile.mkdtemp(prefix="json_src_")
    subset = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 9 == 0
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")
    subset.write.mode("overwrite").json(land_dir)

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    sources = SourceRegistry()
    sources.add_path("landed_orders", land_dir, schema=schema, format="json")

    @model(name="json_rollup")
    def json_rollup(landed_orders):
        return landed_orders.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total"),
        )

    graph = ModelGraph(sources).add(json_rollup)
    graph.run(spark, select=["json_rollup"], run_tests=False)
    return graph.frame("json_rollup")


@query(
    "eng_orc_source",
    # completes the source-format matrix (parquet everywhere, csv seed,
    # json lines, orc here): ORC is columnar like parquet, so unlike
    # the text formats the round-trip is binary-exact by construction —
    # the entry certifies the reader wiring, schema application, and
    # pushdown-capable scan
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderkey % 8 = 0
    GROUP BY o_orderpriority
    """,
    survey_ref="engine S1 orc source: the columnar alternative format "
    "through SourceRegistry -> model",
)
def eng_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from oroboro_dw_dbt_spark.engine.dag import ModelGraph, SourceRegistry, model

    land_dir = tempfile.mkdtemp(prefix="orc_src_")
    load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).write.mode("overwrite").orc(land_dir)

    sources = SourceRegistry()
    sources.add_path("orc_orders", land_dir, format="orc")

    @model(name="orc_rollup")
    def orc_rollup(orc_orders):
        return orc_orders.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total"),
        )

    graph = ModelGraph(sources).add(orc_rollup)
    graph.run(spark, select=["orc_rollup"], run_tests=False)
    return graph.frame("orc_rollup")


# ---------------------------------------------------------------------------
# Bucketed co-located join (storage-level shuffle elimination)
# ---------------------------------------------------------------------------
@query(
    "eng_bucketed_join",
    # value-identity certification of the bucketed path: the join result
    # over bucketed catalog tables must equal the same join computed
    # straight from the source parquet (the oracle). The shuffle-free
    # plan property is asserted in tests/test_bucketing.py — DuckDB
    # cannot see Spark's physical plan, but it can prove the rows.
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey_ref="beyond-reference: bucketed co-located join — the "
    "pay-the-shuffle-once storage lever (write bucketBy+sortBy, join "
    "with zero Exchange; plan asserted in tests/test_bucketing.py)",
)
def eng_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders and customer bucketed by the join key into the
    session catalog, then join them co-located and aggregate. At 100 TB
    this is the storage decision that turns every repeated fact-dim
    join on the key into a zero-Exchange plan; bucket count is a
    capacity choice (one bucket ≈ one core's memory)."""
    from oroboro_dw_dbt_spark.sources.bucketing import colocated_join, write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        "b_orders_entry", ["o_custkey"], 8,
    )
    write_bucketed(
        cust.select("c_custkey", "c_mktsegment"), "b_customer_entry", ["c_custkey"], 8
    )
    joined = colocated_join(
        spark, "b_orders_entry", "b_customer_entry",
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_price"),
    )


@query(
    "eng_partitioned_prune",
    # the oracle recomputes the week's aggregate straight from the raw
    # table — a pruning bug that reads the wrong partitions (or a write
    # that misassigns rows to partition dirs) breaks the hash. That the
    # scan PHYSICALLY skips the other 23 partition dirs is asserted on
    # the plan in tests/test_partition_prune.py (DuckDB can't see the
    # directory layout).
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
           CAST(count(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE)
             AS value_sum
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
      AND CAST(ts AS DATE) <= DATE '2024-01-14'
    GROUP BY 1
    """,
    survey_ref="engine storage: Hive-partitioned table write + "
    "partition-pruned read — the first-order 100 TB IO lever",
)
def eng_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events Hive-partitioned by day, read one week back.

    THE first-order scale lever: a date-partitioned 100 TB fact makes
    any time-bounded query read only the matching partition dirs —
    the filter binds at FILE LISTING time (PartitionFilters), before a
    single byte of parquet is opened. Here 7 of 30 day-dirs survive
    listing; the same layout at 1000x data prunes identically because
    pruning cost scales with the PARTITION COUNT, not the data. The
    partition column is written as its string form (Hive dirs are
    strings) and the week filter is applied on the partition values."""
    import tempfile
    from pathlib import Path

    path = Path(tempfile.mkdtemp(prefix="part_wh_")) / "events_by_day"
    ev = load_table(spark, sf_dir, "events")
    ev.withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    ).write.partitionBy("event_date").parquet(str(path))
    week = spark.read.parquet(str(path)).filter(
        (F.col("event_date") >= "2024-01-08") & (F.col("event_date") <= "2024-01-14")
    )
    return week.groupBy(F.col("event_date").cast("string").alias("event_date")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(12,4)")), 2)
        .cast("double")
        .alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# Column profiling: the ANALYZE/docs statistics surface, as data.
# ---------------------------------------------------------------------------
@query(
    "eng_profile_stats",
    # one UNPIVOT-style pass per column family; stats values ride as
    # strings so one schema carries numeric and text columns alike
    oracle="""
    SELECT 'c_custkey' AS col, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) - count(c_custkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
           CAST(min(c_custkey) AS VARCHAR) AS min_val,
           CAST(max(c_custkey) AS VARCHAR) AS max_val
    FROM customer
    UNION ALL
    SELECT 'c_acctbal', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(c_acctbal) AS BIGINT),
           CAST(count(DISTINCT c_acctbal) AS BIGINT),
           CAST(round(min(CAST(c_acctbal AS DECIMAL(12,4))), 2) AS VARCHAR),
           CAST(round(max(CAST(c_acctbal AS DECIMAL(12,4))), 2) AS VARCHAR)
    FROM customer
    UNION ALL
    SELECT 'c_mktsegment', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(c_mktsegment) AS BIGINT),
           CAST(count(DISTINCT c_mktsegment) AS BIGINT),
           min(c_mktsegment), max(c_mktsegment)
    FROM customer
    """,
    survey_ref="engine lifecycle: column profiling statistics (the "
    "ANALYZE TABLE / dbt docs surface) — n/nulls/distinct/min/max per "
    "column in ONE scan via a multi-aggregate",
)
def eng_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the customer table: counts, null counts,
    distinct cardinalities, min/max — the statistics an optimizer's
    ANALYZE collects and a docs page displays.

    One scan computes EVERY column's aggregates in a single
    multi-aggregate (Catalyst plans the distinct counts via one
    expand), then the wide row unpivots to the (col, stat...) long
    form. At 100 TB this is the profiling pattern: never one scan per
    column, and distinct counts switch to HLL sketches
    (sk_approx_distinct / sk_hll_merge) when exactness isn't needed —
    the exact form here is itself the oracle check."""
    cust = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(12,4)")
    wide = cust.agg(
        F.count(F.lit(1)).alias("n"),
        # c_custkey
        (F.count(F.lit(1)) - F.count("c_custkey")).alias("k_null"),
        F.countDistinct("c_custkey").alias("k_dist"),
        F.min("c_custkey").cast("string").alias("k_min"),
        F.max("c_custkey").cast("string").alias("k_max"),
        # c_acctbal
        (F.count(F.lit(1)) - F.count("c_acctbal")).alias("b_null"),
        F.countDistinct("c_acctbal").alias("b_dist"),
        F.round(F.min(bal), 2).cast("string").alias("b_min"),
        F.round(F.max(bal), 2).cast("string").alias("b_max"),
        # c_mktsegment
        (F.count(F.lit(1)) - F.count("c_mktsegment")).alias("s_null"),
        F.countDistinct("c_mktsegment").alias("s_dist"),
        F.min("c_mktsegment").alias("s_min"),
        F.max("c_mktsegment").alias("s_max"),
    )
    long = wide.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("c_custkey").alias("col"),
                    F.col("n").cast("bigint").alias("n"),
                    F.col("k_null").cast("bigint").alias("n_null"),
                    F.col("k_dist").cast("bigint").alias("n_distinct"),
                    F.col("k_min").alias("min_val"),
                    F.col("k_max").alias("max_val"),
                ),
                F.struct(
                    F.lit("c_acctbal").alias("col"),
                    F.col("n").cast("bigint").alias("n"),
                    F.col("b_null").cast("bigint").alias("n_null"),
                    F.col("b_dist").cast("bigint").alias("n_distinct"),
                    F.col("b_min").alias("min_val"),
                    F.col("b_max").alias("max_val"),
                ),
                F.struct(
                    F.lit("c_mktsegment").alias("col"),
                    F.col("n").cast("bigint").alias("n"),
                    F.col("s_null").cast("bigint").alias("n_null"),
                    F.col("s_dist").cast("bigint").alias("n_distinct"),
                    F.col("s_min").alias("min_val"),
                    F.col("s_max").alias("max_val"),
                ),
            )
        ).alias("r")
    )
    return long.select("r.col", "r.n", "r.n_null", "r.n_distinct", "r.min_val", "r.max_val")


# ---------------------------------------------------------------------------
# Declarative data-quality constraints, surfaced as a violations report.
# ---------------------------------------------------------------------------
@query(
    "eng_constraint_report",
    # the dbt-test layer (engine/tests.py) queried as data: one row per
    # declared constraint with its violation count. Constraints chosen
    # so SOME fail by construction (accepted_values excluding two
    # segments; a deliberately-thinned FK reference) — a report whose
    # rows are all zero certifies nothing.
    oracle="""
    SELECT 'not_null(o_custkey)' AS constraint_name, 'orders' AS tbl,
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)', 'orders',
           CAST(COALESCE(sum(n) FILTER (WHERE n > 1), 0) AS BIGINT)
    FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'accepted_values(c_mktsegment)', 'customer',
           CAST(count(*) FILTER (WHERE c_mktsegment NOT IN
                ('BUILDING', 'AUTOMOBILE', 'MACHINERY')) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'relationship(o_custkey -> customer)', 'orders',
           CAST(count(*) AS BIGINT)
    FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                            WHERE c_custkey % 10 != 0)
    """,
    survey_ref="engine lifecycle: declarative data tests "
    "(not_null/unique/accepted_values/relationship, engine/tests.py — "
    "the dbt-test layer, marts_schema.yml:6-15) queried as a report",
)
def eng_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per declared constraint with its violation count — the
    data-quality dashboard the engine's test layer feeds.

    Each count comes from the SAME violations() DataFrames `run()`
    uses (anti-join for FKs, grouped HAVING for uniqueness, row-local
    predicates otherwise), so the report certifies the test layer's
    semantics, not a parallel reimplementation. Two constraints fail by
    construction — accepted_values lists only 3 of the 5 segments, and
    the FK reference is thinned to every custkey not divisible by 10 —
    because an all-zeros report would certify nothing. At 100 TB each
    constraint is one scan or one anti-join; dbt's pattern of running
    them per-model after materialization holds unchanged."""
    from oroboro_dw_dbt_spark.engine.tests import (
        accepted_values,
        not_null,
        relationship,
        unique_combination_of_columns,
    )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    thinned = cust.filter(F.col("c_custkey") % 10 != 0)

    def count_row(name: str, tbl: str, violations_df: DataFrame) -> DataFrame:
        return violations_df.agg(
            F.lit(name).alias("constraint_name"),
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).cast("bigint").alias("n_violations"),
        ).select("constraint_name", "tbl", "n_violations")

    uniq = unique_combination_of_columns("o_orderkey").violations(orders)
    rows = [
        count_row(
            "not_null(o_custkey)", "orders", not_null("o_custkey").violations(orders)
        ),
        # uniqueness reports VIOLATING ROWS (sum of oversized groups)
        uniq.agg(
            F.lit("unique(o_orderkey)").alias("constraint_name"),
            F.lit("orders").alias("tbl"),
            F.coalesce(F.sum("n_rows"), F.lit(0)).cast("bigint").alias("n_violations"),
        ).select("constraint_name", "tbl", "n_violations"),
        count_row(
            "accepted_values(c_mktsegment)",
            "customer",
            accepted_values(
                "c_mktsegment", ("BUILDING", "AUTOMOBILE", "MACHINERY")
            ).violations(cust),
        ),
        count_row(
            "relationship(o_custkey -> customer)",
            "orders",
            relationship("o_custkey", thinned, "c_custkey").violations(orders),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# CDC changelog apply (ops/cdc.py).
# ---------------------------------------------------------------------------
_CDC_OP_SQL = """CASE WHEN o_orderkey % 10 = 0 THEN 'D'
                  WHEN o_orderkey % 10 < 4 THEN 'I' ELSE 'U' END"""


@query(
    "eng_cdc_apply",
    # latest-wins fold certified against arg_max on the same unique seq;
    # the surviving snapshot must agree row-for-row
    oracle=f"""
    WITH ch AS (
      SELECT o_custkey AS key, o_orderkey AS seq, {_CDC_OP_SQL} AS op,
             CAST(round(CAST(o_totalprice AS DECIMAL(14,4)) * 100, 0)
                  AS BIGINT) AS cents
      FROM orders
    )
    SELECT key, CAST(arg_max(seq, seq) AS BIGINT) AS seq,
           arg_max(op, seq) AS op,
           CAST(arg_max(cents, seq) AS BIGINT) AS cents
    FROM ch GROUP BY key
    HAVING arg_max(op, seq) <> 'D'
    """,
    survey_ref="engine: CDC changelog apply (ops/cdc.py apply_changelog "
    "— latest-wins fold, delete-aware) — the consumption half of the "
    "ACID family's commit protocol",
)
def eng_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold an orders-derived changelog (op I/U/D, seq = orderkey) into
    its latest snapshot via ops.cdc.apply_changelog.

    Scale: ONE map-side-combinable aggregation — max_by(struct, seq) —
    instead of a row_number window that would sort every key's full
    history. See ops/cdc.py for the incremental-fold contract."""
    from oroboro_dw_dbt_spark.ops.cdc import apply_changelog

    orders = load_table(spark, sf_dir, "orders")
    changes = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 0, "D")
        .when(F.col("o_orderkey") % 10 < 4, "I")
        .otherwise("U")
        .alias("op"),
        F.round(F.col("o_totalprice").cast("decimal(14,4)") * 100, 0)
        .cast("bigint")
        .alias("cents"),
    )
    return apply_changelog(changes, ("key",), "seq", "op")


# ---------------------------------------------------------------------------
# Zone-map file skipping through the manifest table format.
# ---------------------------------------------------------------------------
@query(
    "eng_stats_skipping",
    # the pruned read is a file-granularity SUPERSET + residual filter,
    # so its rows must equal the logical full-scan filter — which is
    # exactly what the oracle computes from the source table
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(14,4))), 2)
                AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey BETWEEN 4000 AND 9000
    GROUP BY o_orderstatus
    """,
    survey_ref="engine storage: file-level min/max statistics + "
    "zone-map pruned scan (engine/table_format.py write(stats_cols=) / "
    "read_pruned) — manifest-driven file skipping, the Iceberg "
    "manifest-stats / Delta data-skipping shape",
)
def eng_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders range-clustered on o_orderkey with footer stats in
    the manifest, then answer a key-range query through the pruned
    read path.

    Scale: planning reads ONE manifest json (driver-side, O(files)
    integers), not every file footer; the scan opens only overlapping
    files. At 100 TB with date- or key-clustered landing, this is the
    difference between a full-corpus scan and touching ~range/total of
    the files — the same contract tests/test_table_format.py asserts
    structurally (pruned file list ⊂ all files, result invariant)."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

    table = Path(tempfile.mkdtemp(prefix="zone_wh_")) / "orders_zoned"
    orders = load_table(spark, sf_dir, "orders")
    fmt = ManifestParquetFormat()
    # range-cluster so each file owns a tight o_orderkey band — the
    # layout that makes zone maps effective (cf. eng_zorder_layout)
    fmt.write(
        orders.repartitionByRange(8, "o_orderkey"),
        table,
        stats_cols=("o_orderkey",),
    )
    pruned = fmt.read_pruned(spark, table, "o_orderkey", 4000, 9000)
    return pruned.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(14,4)")), 2)
        .cast("double")
        .alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff: CDC generation between two table versions.
# ---------------------------------------------------------------------------
@query(
    "eng_snapshot_diff",
    # the oracle recomputes both version states straight from the
    # source table and takes the same null-safe full-outer diff
    oracle=f"""
    WITH base AS (
      SELECT event_id AS key, {_CENTS_SQL} AS cents FROM events
    ),
    old_v AS (SELECT * FROM base WHERE key % 3 <> 0),
    new_v AS (
      SELECT key,
             CASE WHEN key % 7 = 0 THEN cents + 100 ELSE cents END AS cents
      FROM base WHERE key % 5 <> 0
    )
    SELECT COALESCE(o.key, n.key) AS key,
           CASE WHEN o.key IS NULL THEN 'I'
                WHEN n.key IS NULL THEN 'D'
                ELSE 'U' END AS op,
           o.cents AS old_cents, n.cents AS new_cents
    FROM old_v o FULL OUTER JOIN new_v n ON o.key = n.key
    WHERE o.key IS NULL OR n.key IS NULL OR o.cents <> n.cents
    """,
    survey_ref="engine: snapshot diff / CDC generation "
    "(engine/diff.py snapshot_diff — I/U/D changelog between two "
    "committed versions, the inverse of eng_cdc_apply's fold)",
)
def eng_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit two versions of an events-derived table, then emit the
    changelog that transforms v1 into v2.

    Scale: one full-outer join on the key between two snapshots of the
    SAME table — identical layout, so bucketed writes make it
    Exchange-free and otherwise it is one co-partitioned SMJ; change
    detection is a null-safe column comparison in the join projection
    (no hash round-trip, no second pass). See engine/diff.py."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat
    from oroboro_dw_dbt_spark.engine.diff import snapshot_diff

    table = Path(tempfile.mkdtemp(prefix="diff_wh_")) / "events_versions"
    base = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("key"), _cents().alias("cents")
    )
    fmt = ManifestParquetFormat()
    fmt.write(base.filter(F.col("key") % 3 != 0), table)  # v1
    fmt.write(  # v2: some keys gone, some new, value drift on %7
        base.filter(F.col("key") % 5 != 0).select(
            "key",
            F.when(F.col("key") % 7 == 0, F.col("cents") + 100)
            .otherwise(F.col("cents"))
            .alias("cents"),
        ),
        table,
    )
    return snapshot_diff(
        spark, fmt, table, 1, 2, key_cols=("key",), compare_cols=("cents",)
    )


# ---------------------------------------------------------------------------
# Write-Audit-Publish: tests gate the commit.
# ---------------------------------------------------------------------------
@query(
    "eng_wap_publish",
    # per-user aggregate states recomputed by the oracle straight from
    # events; the dirty attempt's violation count is the %13 user set
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    ),
    no_err AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(SUM({_CENTS_SQL}) AS BIGINT) AS cents
      FROM events WHERE event_type <> 'error' GROUP BY user_id
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS cents_total FROM per_user
    ),
    clean AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS cents_total FROM no_err
    )
    SELECT 'baseline' AS phase, n, cents_total FROM base
    UNION ALL
    SELECT 'dirty_rejected',
           -- not_null violations (one per nulled key) plus the single
           -- duplicate-grain group all the NULLed keys collapse into
           (SELECT CAST(count(*)
                        + CASE WHEN count(*) > 1 THEN 1 ELSE 0 END
                   AS BIGINT)
            FROM per_user WHERE user_id % 13 = 0),
           CAST(NULL AS BIGINT)
    UNION ALL SELECT 'post_reject', n, cents_total FROM base
    UNION ALL SELECT 'clean_published', n, cents_total FROM clean
    """,
    survey_ref="engine: write-audit-publish (engine/wap.py + "
    "ManifestParquetFormat stage/commit_staged) — data tests gate the "
    "atomic pointer swap; a failed audit leaves readers untouched and "
    "the stage as a vacuum-reclaimable orphan",
)
def eng_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish a per-user aggregate through WAP three times: clean
    baseline (publishes), NULL-key corruption (audit rejects — readers
    still see the baseline), clean update (publishes).

    The inversion that matters at 100 TB: dbt-style post-hoc tests mean
    bad data is LIVE while the test runs; WAP audits the staged files
    (no extra copy — same snapshot the commit would publish) and bad
    data never becomes visible. See engine/wap.py."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import (
        ManifestParquetFormat,
        not_null,
        unique_combination_of_columns,
    )
    from oroboro_dw_dbt_spark.engine.wap import publish_with_audit

    table = Path(tempfile.mkdtemp(prefix="wap_wh_")) / "user_rollup"
    ev = load_table(spark, sf_dir, "events")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(_cents()).cast("bigint").alias("cents"),
        )

    tests = [not_null("user_id"), unique_combination_of_columns("user_id")]
    fmt = ManifestParquetFormat()

    def state(phase: str) -> DataFrame:
        return fmt.read(spark, table).agg(
            F.lit(phase).alias("phase"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents_total"),
        ).select("phase", "n", "cents_total")

    ok, _ = publish_with_audit(spark, fmt, table, rollup(ev), tests)
    assert ok, "clean baseline must publish"
    phases = [state("baseline")]

    dirty = rollup(ev).withColumn(
        "user_id",
        F.when(F.col("user_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("user_id")
        ),
    )
    ok, results = publish_with_audit(spark, fmt, table, dirty, tests)
    assert not ok, "corrupted keys must be rejected"
    n_viol = sum(r.n_violations for r in results if not r.passed)
    phases.append(
        spark.createDataFrame(
            [("dirty_rejected", n_viol, None)],
            "phase string, n bigint, cents_total bigint",
        )
    )
    phases.append(state("post_reject"))

    ok, _ = publish_with_audit(
        spark, fmt, table, rollup(ev.filter(F.col("event_type") != "error")), tests
    )
    assert ok, "clean update must publish"
    phases.append(state("clean_published"))

    out = phases[0]
    for p in phases[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Branch lifecycle: isolated writes, fast-forward publish, vacuum safety.
# ---------------------------------------------------------------------------
@query(
    "eng_branch_publish",
    # each phase's expected state restated straight from events; the
    # reclaim count is structural (old main dir + dropped branch dir)
    oracle=f"""
    WITH ev AS (SELECT event_id, {_CENTS_SQL} AS cents FROM events),
    even_t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS cents_total
      FROM ev WHERE event_id % 2 = 0
    ),
    odd_t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS cents_total
      FROM ev WHERE event_id % 2 = 1
    )
    SELECT 'main_v1' AS phase, n, cents_total FROM even_t
    UNION ALL SELECT 'main_isolated', n, cents_total FROM even_t
    UNION ALL SELECT 'branch_head', n, cents_total FROM odd_t
    UNION ALL SELECT 'published', n, cents_total FROM odd_t
    UNION ALL SELECT 'after_vacuum', n, cents_total FROM odd_t
    UNION ALL SELECT 'reclaimed', CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
    """,
    survey_ref="engine: branch lifecycle (write_branch / read(branch=) "
    "/ publish_branch fast-forward / drop_branch + vacuum safety) — "
    "named Iceberg-style branch pointers generalizing WAP's single "
    "anonymous stage",
)
def eng_branch_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive a branch through its life: write on a branch (main
    readers untouched), read the branch head, fast-forward publish,
    drop a second branch, vacuum.

    The claims beyond eng_wap_publish: (a) branch writes are REAL
    snapshots invisible to main until an atomic fast-forward — many can
    be live at once with unique versions; (b) vacuum reclaims dropped-
    branch snapshots but never a live branch head (keep set includes
    branch pointers). At 100 TB branches are the audit/experiment lane:
    a shadow pipeline writes production-shaped snapshots for days, then
    publishes by pointer swap — zero data movement."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

    table = Path(tempfile.mkdtemp(prefix="br_wh_")) / "events_branched"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", _cents().alias("cents")
    )

    def agg(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents_total"),
        ).select("phase", "n", "cents_total")

    fmt = ManifestParquetFormat()
    fmt.write(ev.filter(F.col("event_id") % 2 == 0), table)  # main v1
    phases = [agg(fmt.read(spark, table), "main_v1")]
    fmt.write_branch(ev.filter(F.col("event_id") % 2 == 1), table, "exp")
    phases.append(agg(fmt.read(spark, table), "main_isolated"))  # still even
    phases.append(agg(fmt.read(spark, table, branch="exp"), "branch_head"))
    fmt.write_branch(ev.limit(10), table, "scratch")  # to be dropped
    fmt.publish_branch(table, "exp")
    phases.append(agg(fmt.read(spark, table), "published"))
    fmt.drop_branch(table, "scratch")
    # pin pre-vacuum phases: vacuum deletes the dirs their plans read
    phases = [materialize(p) for p in phases]
    reclaimed = fmt.vacuum(table, keep_last=1)
    phases.append(agg(fmt.read(spark, table), "after_vacuum"))
    phases.append(
        spark.createDataFrame(
            [("reclaimed", len(reclaimed), None)],
            "phase string, n bigint, cents_total bigint",
        )
    )
    out = phases[0]
    for p in phases[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Metadata-only aggregates: COUNT/MIN/MAX served from the manifest.
# ---------------------------------------------------------------------------
@query(
    "eng_metadata_count",
    # the oracle recomputes the same aggregates by SCANNING the source
    # table — a hash match proves the manifest's footer-derived numbers
    # equal ground truth exactly
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           min(ts) AS ts_min, max(ts) AS ts_max,
           CAST(min(user_id) AS BIGINT) AS user_min,
           CAST(max(user_id) AS BIGINT) AS user_max
    FROM events
    """,
    survey_ref="engine: metadata-only COUNT/MIN/MAX "
    "(ManifestParquetFormat.stats_summary — the manifest fast path, "
    "refused whenever delete vectors could falsify it)",
)
def eng_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*)/MIN/MAX answered from the manifest, zero data scan.

    The builder lands events as a manifest table (footer row counts +
    ts/user_id zone maps collected at write time), then the aggregate
    row is assembled from ``stats_summary`` — pure driver-side JSON,
    KBs at any table size. The oracle scans; we don't. The summary
    REFUSES under delete vectors / missing bounds rather than guess
    (pytest covers the refusals) — the honesty contract that makes a
    metadata fast path safe to wire into a planner."""
    import datetime as dt
    import tempfile
    from pathlib import Path

    from pyspark.sql import types as T

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

    table = Path(tempfile.mkdtemp(prefix="meta_wh_")) / "events_meta"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    fmt = ManifestParquetFormat()
    fmt.write(events.repartition(8), table, stats_cols=("ts", "user_id"))
    s = fmt.stats_summary(table, cols=("ts", "user_id"))
    row = (
        int(s["n_rows"]),
        dt.datetime.fromisoformat(s["ts"][0]),
        dt.datetime.fromisoformat(s["ts"][1]),
        int(s["user_id"][0]),
        int(s["user_id"][1]),
    )
    schema = T.StructType(
        [
            T.StructField("n_rows", T.LongType()),
            T.StructField("ts_min", T.TimestampType()),
            T.StructField("ts_max", T.TimestampType()),
            T.StructField("user_min", T.LongType()),
            T.StructField("user_max", T.LongType()),
        ]
    )
    return spark.createDataFrame([row], schema)


# ---------------------------------------------------------------------------
# Text-line source: the last cell of the source-format matrix.
# ---------------------------------------------------------------------------
@query(
    "eng_text_source",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    survey_ref="S1 sources: text-line format (spark.read.text) — "
    "completing the CSV/JSON/ORC/parquet source matrix with the "
    "delimited-line roundtrip",
)
def eng_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip documents through a text-line landing zone.

    Writes one pipe-delimited line per doc (spark.write.text), reads
    the directory back with the text source, and re-derives the typed
    columns — the log-file/JSONL-adjacent ingest shape every pipeline
    starts from. Split is bounded (split(_, '|', 3)) so text bodies
    containing the delimiter would not shift columns; the aggregate
    certifies the parse recovered every row and value exactly."""
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="text_src_") + "/docs"
    lines = docs.select(
        F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            "lang",
            F.col("n_chars").cast("string"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(out)
    parsed = (
        spark.read.text(out)
        .select(F.split("value", "\\|", 3).alias("p"))
        .select(
            F.col("p")[0].cast("bigint").alias("doc_id"),
            F.col("p")[1].alias("lang"),
            F.col("p")[2].cast("bigint").alias("n_chars"),
        )
    )
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )


# ---------------------------------------------------------------------------
# Version restore + shallow clone: the last two lifecycle verbs.
# ---------------------------------------------------------------------------
def _user_cents_state(sf_dir_expr: str, drop_mod: str) -> str:
    return f"""
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum({_CENTS}) AS BIGINT) AS cents
      FROM events {drop_mod} GROUP BY user_id
    """


@query(
    "eng_restore_version",
    # phases: v2 (the "bad" overwrite drops %3 users), the restore
    # (back to the full v1 state), and post-vacuum (restore must keep
    # the shared data dir alive because it IS current)
    oracle=f"""
    WITH v1 AS ({_user_cents_state("", "")}),
    v2 AS ({_user_cents_state("", "WHERE user_id % 3 <> 0")}),
    ph AS (
      SELECT 'bad_overwrite' AS phase, count(*) AS n_users,
             sum(cents) AS cents FROM v2
      UNION ALL
      SELECT 'restored', count(*), sum(cents) FROM v1
      UNION ALL
      SELECT 'post_vacuum', count(*), sum(cents) FROM v1
    )
    SELECT phase, CAST(n_users AS BIGINT) AS n_users,
           CAST(cents AS BIGINT) AS cents
    FROM ph
    """,
    survey_ref="engine: RESTORE to version as a new commit "
    "(ManifestParquetFormat.restore) — O(1) metadata rollback, "
    "vacuum-safe because the restored snapshot is current",
)
def eng_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undo a bad overwrite with a metadata-only RESTORE, then prove
    vacuum keeps the restored (shared) data dir alive.

    v1 = per-user totals; v2 = a 'bad' overwrite that lost every %3
    user; restore(v1) becomes v3 re-referencing v1's immutable files
    (nothing rewritten); vacuum(keep_last=1) reclaims v2's dir but the
    restored state survives — the rollback contract at any scale."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

    table = Path(tempfile.mkdtemp(prefix="restore_wh_")) / "t"
    fmt = ManifestParquetFormat()
    e = load_table(spark, sf_dir, "events")
    cents = (
        F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
        .cast("bigint")
    )
    state = e.select("user_id", cents.alias("c")).groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("cents"),
    )
    fmt.write(state, table)  # v1
    fmt.write(state.filter(F.col("user_id") % 3 != 0), table)  # v2: bad

    # each phase must be MATERIALIZED at its point in the lifecycle —
    # lazy phase frames would all evaluate after vacuum reclaimed v2
    def rollup(df: DataFrame, phase: str) -> tuple:
        r = df.agg(
            F.count(F.lit(1)).cast("bigint"),
            F.sum("cents").cast("bigint"),
        ).first()
        return (phase, r[0], r[1])

    phases = [rollup(fmt.read(spark, table), "bad_overwrite")]
    fmt.restore(table, 1)  # v3 == v1 content
    phases.append(rollup(fmt.read(spark, table), "restored"))
    fmt.vacuum(table, keep_last=1)
    phases.append(rollup(fmt.read(spark, table), "post_vacuum"))
    return spark.createDataFrame(
        phases, "phase string, n_users bigint, cents bigint"
    )


@query(
    "eng_shallow_clone",
    # phases: the clone equals the source snapshot; a later SOURCE
    # overwrite must not move the clone (it pins the version); deletes
    # on the CLONE must not touch the source
    oracle=f"""
    WITH v1 AS ({_user_cents_state("", "")}),
    ph AS (
      SELECT 'clone' AS phase, count(*) AS n_users, sum(cents) AS cents
      FROM v1
      UNION ALL
      SELECT 'clone_after_src_overwrite', count(*), sum(cents) FROM v1
      UNION ALL
      SELECT 'clone_after_own_delete', count(*), sum(cents)
      FROM v1 WHERE user_id % 5 <> 0
      UNION ALL
      SELECT 'src_final', count(*), sum(cents)
      FROM v1 WHERE user_id % 3 <> 0
    )
    SELECT phase, CAST(n_users AS BIGINT) AS n_users,
           CAST(cents AS BIGINT) AS cents
    FROM ph
    """,
    survey_ref="engine: shallow clone (CREATE TABLE CLONE shape) — "
    "zero-copy table fork with independent forward lifecycles "
    "(ManifestParquetFormat.clone)",
)
def eng_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy clone, then prove both lifecycles are independent.

    Clone pins source v1 in place (absolute data ref, no copy); the
    source then overwrites (clone unmoved) and the clone then deletes
    %5 users via its OWN merge-on-read vectors (source unmoved). At
    100 TB a clone is how a team forks the corpus for an experiment
    in O(1) — the alternative is a multi-day copy."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

    root = Path(tempfile.mkdtemp(prefix="clone_wh_"))
    src, dst = root / "src", root / "clone"
    fmt = ManifestParquetFormat()
    e = load_table(spark, sf_dir, "events")
    cents = (
        F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
        .cast("bigint")
    )
    state = e.select("user_id", cents.alias("c")).groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("cents"),
    )
    fmt.write(state, src)  # src v1
    fmt.clone(src, dst)

    def rollup(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("cents"),
        ).select(F.lit(phase).alias("phase"), "n_users", "cents")

    out = rollup(fmt.read(spark, dst), "clone")
    fmt.write(state.filter(F.col("user_id") % 3 != 0), src)  # src v2
    out = out.unionByName(
        rollup(fmt.read(spark, dst), "clone_after_src_overwrite")
    )
    doomed = state.filter(F.col("user_id") % 5 == 0).select("user_id")
    fmt.delete_keys(spark, dst, doomed, "user_id")
    out = out.unionByName(
        rollup(fmt.read(spark, dst), "clone_after_own_delete")
    )
    return out.unionByName(rollup(fmt.read(spark, src), "src_final"))


# ---------------------------------------------------------------------------
# Dynamic partition overwrite: replace only the partitions in the batch.
# ---------------------------------------------------------------------------
@query(
    "eng_dynamic_partition_overwrite",
    # late-arriving corrections for 3 days (cents doubled) land via
    # dynamic overwrite; the other 27 day-partitions must be byte-
    # untouched. The oracle states the expected blended table.
    oracle=f"""
    WITH base AS (
      SELECT CAST(ts AS DATE) AS day, user_id, {_CENTS} AS cents
      FROM events
    ),
    blended AS (
      SELECT day, user_id,
             CASE WHEN dayofmonth(day) IN (5, 6, 7)
                  THEN cents * 2 ELSE cents END AS cents
      FROM base
    )
    SELECT day, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM blended GROUP BY day
    """,
    survey_ref="S4 sinks: dynamic partition overwrite "
    "(partitionOverwriteMode=dynamic) — reprocess late days in place "
    "without rewriting or losing the other partitions",
)
def eng_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Overwrite ONLY the day-partitions present in the incoming batch.

    Static overwrite mode would TRUNCATE the table down to the 3
    corrected days — the classic reprocessing footgun; dynamic mode
    replaces exactly the partitions the batch carries. The entry lands
    30 day-partitions, rewrites days 5–7 with doubled cents, and
    certifies the blend. At 100 TB this is the daily-correction path:
    write amplification is O(corrected days), and readers never see a
    half-replaced partition (per-partition commit).

    The mode is a per-write option, not the session conf — the conf
    changes INSERT OVERWRITE semantics session-wide and must not leak
    into other entries' writes."""
    import tempfile

    e = load_table(spark, sf_dir, "events")
    cents = (
        F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
        .cast("bigint")
    )
    base = e.select(
        F.to_date("ts").alias("day"), "user_id", cents.alias("cents")
    )
    out = tempfile.mkdtemp(prefix="dyn_part_") + "/t"
    base.write.partitionBy("day").mode("overwrite").parquet(out)
    fix = base.filter(F.dayofmonth("day").isin(5, 6, 7)).withColumn(
        "cents", F.col("cents") * 2
    )
    (
        fix.write.partitionBy("day")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )


# ---------------------------------------------------------------------------
# Observation metrics: the in-flight data-quality counter hook.
# ---------------------------------------------------------------------------
@query(
    "p_observe_metrics",
    # the observed counters are collected DURING one pass of a real
    # query (no second scan); the oracle recomputes them as plain
    # aggregates — the hash match proves observe() counts every row
    # the query actually processed, exactly once
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_neg,
           CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_props,
           CAST(sum({_CENTS}) AS BIGINT) AS cents
    FROM events
    """,
    survey_ref="beyond-reference: df.observe() metric accumulators — "
    "free in-flight data-quality counters on a production write path "
    "(no second scan)",
)
def p_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collect quality counters VIA observe() while a query runs.

    The pattern every production pipeline wants: row counts, violation
    counts and checksums accumulated during the write pass itself —
    zero extra scans, exact under retries (observe metrics are
    task-retry-consistent for deterministic aggregates). The entry
    materializes the observed values as the result; a double-count or
    dropped-partition bug in the hook breaks the hash."""
    from pyspark.sql import Observation

    e = load_table(spark, sf_dir, "events")
    cents = (
        F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
        .cast("bigint")
    )
    obs = Observation("quality")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum((F.col("value") < 0).cast("int")).cast("bigint").alias("n_neg"),
        F.sum(F.col("props").isNull().cast("int"))
        .cast("bigint")
        .alias("n_null_props"),
        F.sum(cents).cast("bigint").alias("cents"),
    )
    # drive the pass (a production job would be writing here)
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_neg"], m["n_null_props"], m["cents"])],
        "n_rows bigint, n_neg bigint, n_null_props bigint, cents bigint",
    )


# ---------------------------------------------------------------------------
# File provenance: the hidden _metadata column surface.
# ---------------------------------------------------------------------------
@query(
    "eng_file_provenance",
    # one file per day-partition by construction, so per-FILE counts
    # (via the hidden _metadata column) must equal per-day counts — the
    # oracle recomputes the latter straight from events
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
    survey_ref="S1 sources: hidden _metadata file-provenance columns — "
    "per-file lineage (the audit trail for quarantining a bad ingest "
    "file at 100 TB)",
)
def eng_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group a scan by its source FILE via the _metadata column.

    Lands events one file per day-partition, reads back with
    `_metadata.file_path`, recovers the day from the Hive partition
    path, and counts per file. This is the quarantine primitive: when
    one ingest file is bad, provenance turns 'rewrite the table' into
    'drop one file'. Zero-cost column — populated from the scan's own
    split metadata, no join."""
    import tempfile

    e = load_table(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="prov_") + "/t"
    (
        e.select(F.to_date("ts").alias("day"), "event_id")
        .repartition("day")
        .write.partitionBy("day")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        F.col("_metadata.file_path").alias("fp")
    )
    return (
        back.groupBy("fp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.to_date(
                F.regexp_extract("fp", r"day=(\d{4}-\d{2}-\d{2})", 1)
            ).alias("day"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# DESCRIBE HISTORY: the manifest as an audit log.
# ---------------------------------------------------------------------------
@query(
    "eng_describe_history",
    # the lifecycle script is fixed (write → write → delete → restore),
    # so the oracle states the expected audit rows literally
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'write',   CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
      (CAST(2 AS BIGINT), 'write',   CAST(0 AS BIGINT), CAST(2 AS BIGINT)),
      (CAST(3 AS BIGINT), 'delete',  CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
      (CAST(4 AS BIGINT), 'restore', CAST(0 AS BIGINT), CAST(1 AS BIGINT))
    ) AS t(version, op, n_delete_files, data_version)
    """,
    survey_ref="engine: DESCRIBE HISTORY — the manifest queried as the "
    "audit log (op kind, delete-vector presence, data-dir reference "
    "per version; ManifestParquetFormat.history)",
)
def eng_describe_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a 4-step lifecycle, then query the table's own history.

    write v1 → overwrite v2 → merge-on-read delete v3 → restore-to-v1
    v4; history() infers each op from the manifest alone (no separate
    journal to drift), and the restore row shows v4 re-referencing
    v1's data dir — provenance of the rollback as data. KB-scale at
    any table size."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

    table = Path(tempfile.mkdtemp(prefix="hist_wh_")) / "t"
    fmt = ManifestParquetFormat()
    base = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    fmt.write(base, table)  # v1
    fmt.write(base.filter(F.col("user_id") % 2 == 0), table)  # v2
    fmt.delete_keys(
        spark, table, base.select("event_id").limit(5), "event_id"
    )  # v3
    fmt.restore(table, 1)  # v4
    rows = [
        (
            h["version"],
            h["op"],
            h["n_delete_files"],
            int(h["data_dir"].rsplit("-", 1)[1]),
        )
        for h in fmt.history(table)
    ]
    return spark.createDataFrame(
        rows,
        "version bigint, op string, n_delete_files bigint, "
        "data_version bigint",
    )

"""Structured Streaming jobs over the events table.

The reference is pure batch ELT (SURVEY §2.12: no streaming of any
kind), so this module is part of the beyond-reference scale surface:
the same event analytics a training-data pipeline runs over a live
ingest feed, expressed with the Structured Streaming primitives —
file source → watermark → event-time window aggregation → sink, plus
an applyInPandasWithState custom stateful operator (sessionization).

Correctness story: `run_stream_windowed_counts` executes the STREAMING
job to completion (Trigger.AvailableNow, complete-mode memory sink) and
its result is hash-compared against a plain batch GROUP BY oracle — the
exactly-once contract in one assertion. The stateful sessionizer is
compared against the batch window-function sessionization
(`sessionize_batch`) in tests; closed sessions must agree.

Scale notes: the windowed agg shuffles once on (window, event_type) with
partial aggregation map-side; watermark bounds state to
(max event-time − 1h). Sessionization state is per-user and bounded by
the 30-min gap timeout; at 100 TB the groupBy(user_id) hash-partitions
state across executors — RocksDB state store in production.
"""

from __future__ import annotations

import os
import tempfile
import time
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

SESSION_GAP_MIN = 30

_STREAM_DIRS: dict[str, str] = {}


def _events_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """The file streaming source needs a DIRECTORY of µs-timestamp
    parquet; the testdata ships one ns-timestamp FILE. Materialize a
    converted copy under /tmp once per sf_dir (in production the ingest
    layout is already a directory feed — this shim is test-env only)."""
    if sf_dir not in _STREAM_DIRS:
        from oroboro_dw_dbt_spark.sources.testdata import load_table

        out = tempfile.mkdtemp(prefix="events_stream_")
        # 8 files so maxFilesPerTrigger yields REAL multi-batch streams;
        # hash-partitioned on user_id (deterministic file contents, unlike
        # round-robin repartition(n))
        load_table(spark, sf_dir, "events").repartition(8, "user_id").write.mode(
            "overwrite"
        ).parquet(out)
        _STREAM_DIRS[sf_dir] = out
    return _STREAM_DIRS[sf_dir]


def _stream_state_partitions(src_dir: str) -> int:
    """Scale-adaptive state-partition width for a streaming query.

    A stateful stream pins its state-store partition count to
    ``spark.sql.shuffle.partitions`` at START and keeps it for the
    query's whole life — and Spark disables AQE for stateful workloads,
    so the batch-side safety net (coalesce tiny post-shuffle partitions
    at runtime) does not exist here. The session default (core count)
    is right for batch at any SF but is a pure fixed cost for a
    KB-scale state store: every micro-batch pays per-partition state
    store open/commit/close for partitions that hold a handful of rows.

    Derive the width from the INPUT size instead — one partition per
    ~32 MB of source bytes (the same bytes-per-partition discipline
    AQE applies to batch shuffles, guide §2.2), clamped to [1, 4096].
    At sf0.1 (events ≈ 2 MB) that is 1 partition; a 1 TB/trigger feed
    gets its full multi-thousand width."""
    target = 32 * 1024 * 1024
    total = 0
    try:
        for entry in os.scandir(src_dir):
            if entry.is_file():
                total += entry.stat().st_size
    except OSError:
        return 0  # unknown input: keep the session default
    return max(1, min(4096, -(-total // target)))


class _state_width:
    """Context manager: pin spark.sql.shuffle.partitions (the state
    width a stream start captures) for the duration, then restore. A
    width of 0 means "keep the session default"."""

    def __init__(self, spark: SparkSession, n: int):
        self._spark, self._n = spark, n

    def __enter__(self) -> None:
        self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
        if self._n > 0:
            self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))

    def __exit__(self, *exc) -> None:
        self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)


def windowed_event_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Hourly tumbling-window counts/sums per event_type. Works on both
    a static and a streaming DataFrame (same logical plan either way)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_windowed_counts(
    spark: SparkSession, sf_dir: str, name: str = "stream_windowed_counts"
) -> DataFrame:
    """Execute the windowed agg as a REAL stream over the events parquet
    (file source, AvailableNow trigger, complete-mode memory sink) and
    return the settled result as a batch DataFrame."""
    src_dir = _events_stream_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    with _state_width(spark, _stream_state_partitions(src_dir)):
        q = (
            windowed_event_counts(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # settle: memory sink table is complete once the query terminates
    while q.isActive:  # pragma: no cover
        time.sleep(0.1)
    return spark.table(name)


_DUP_STREAM_DIRS: dict[str, str] = {}


def _duplicated_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """A directory holding the events TWICE (two file copies) — the
    at-least-once ingest a streaming dedup exists to clean up."""
    if sf_dir not in _DUP_STREAM_DIRS:
        from oroboro_dw_dbt_spark.sources.testdata import load_table

        out = tempfile.mkdtemp(prefix="events_dup_")
        ev = load_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").parquet(out)
        ev.write.mode("append").parquet(out)
        _DUP_STREAM_DIRS[sf_dir] = out
    return _DUP_STREAM_DIRS[sf_dir]


def stream_dedup_events(
    spark: SparkSession, sf_dir: str, name: str = "stream_dedup"
) -> DataFrame:
    """Exactly-once repair over an at-least-once feed: stream the
    doubled events directory and emit each event_id once via
    dropDuplicatesWithinWatermark. State holds only keys younger than
    the watermark delay — bounded, unlike a plain dropDuplicates, which
    is what makes this the 100 TB-stream shape. The result must equal
    the ORIGINAL (pre-duplication) events table, which is the oracle."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _duplicated_stream_dir(spark, sf_dir)
    )
    # delay ≥ the data's full time span: both copies arrive in one
    # AvailableNow pass, so no true duplicate can outlive the state
    deduped = stream.withWatermark("ts", "366 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_stream_join(
    spark: SparkSession, sf_dir: str, name: str = "stream_join"
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same
    user's clicks from the preceding 30 minutes — both sides are
    streams, so Spark buffers each side's rows in watermarked state and
    emits matches as they meet. The time-bound condition is what lets
    the state be evicted (unbounded stream-stream joins can't GC);
    watermark + range condition = bounded state at any scale.

    Result is hash-matched against the equivalent batch interval join —
    streaming/batch parity again, now for binary stateful ops."""
    src_dir = _events_stream_dir(spark, sf_dir)
    ev1 = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    ev2 = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    purchases = (
        ev1.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev2.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("purchase_id", "click_id", purchases.user_id.alias("user_id"))
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def sessionize_batch(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Gap-based sessionization with window functions (the batch oracle
    shape): a new session starts when the per-user gap exceeds
    `gap_min`. Returns one row per session with bounds and counts."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = float(gap_min * 60)
    # timestamp → double epoch-seconds keeps microsecond precision in the
    # gap compare (unix_timestamp would truncate to whole seconds)
    with_flag = (
        events.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (F.col("ts").cast("double") - F.col("prev_ts").cast("double") > gap_s)
            ).cast("int"),
        )
        .withColumn(
            "session_seq",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        with_flag.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .withColumn("session_seq", F.col("session_seq").cast("bigint"))
    )


_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, sum_value double"
)
_STATE_SCHEMA = "last_us bigint, start_us bigint, n bigint, total_cents bigint"


def _session_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user stateful sessionizer: emits every CLOSED session (a gap
    > 30 min ends the previous session). The trailing open session stays
    in state — exactly the semantics a live stream needs; the driver
    oracle is the batch sessionization SQL restricted to non-final
    sessions, so every emitted value must match the batch agg EXACTLY.

    Time is integer epoch-MICROSECONDS throughout (pd.Timestamp.value is
    ns): float epoch-seconds roundtrips manufacture sub-µs noise that
    Arrow then refuses to narrow back to timestamp[us].

    Money is integer CENTS: `value` is exact-2-decimal, so
    round(value·100) is lossless and the running sum is exact — a float
    accumulator drifts ulps away from the batch DECIMAL(12,4) sum and
    breaks the hash match."""
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    (user_id,) = key
    if state.exists:
        last_us, start_us, n, total_cents = state.get
    else:
        last_us = start_us = None
        n, total_cents = 0, 0

    out = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts, value in zip(pdf["ts"], pdf["value"]):
            ts_us = ts.value // 1000
            if last_us is not None and ts_us - last_us > gap_us:
                out.append((user_id, start_us, last_us, n, total_cents / 100.0))
                start_us, n, total_cents = ts_us, 0, 0
            if start_us is None:
                start_us = ts_us
            last_us = ts_us
            n += 1
            total_cents += round(float(value) * 100)
    state.update((last_us, start_us, n, total_cents))
    if out:
        yield pd.DataFrame(
            {
                "user_id": pd.Series([o[0] for o in out], dtype="int64"),
                "session_start": [pd.Timestamp(o[1] * 1000, unit="ns") for o in out],
                "session_end": [pd.Timestamp(o[2] * 1000, unit="ns") for o in out],
                "n_events": pd.Series([o[3] for o in out], dtype="int64"),
                "sum_value": pd.Series([o[4] for o in out], dtype="float64"),
            }
        )


def stateful_sessions_stream(
    spark: SparkSession, sf_dir: str, name: str = "stateful_sessions"
) -> DataFrame:
    """Custom stateful operator on a real stream: per-user session state
    via applyInPandasWithState (Arrow-batched, partitioned by user_id —
    the `queries()` entry is rows-only-checked; the semantics are pinned
    against sessionize_batch in tests)."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _events_stream_dir(spark, sf_dir)
    )
    sessions = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_static_join(
    spark: SparkSession, sf_dir: str, dim: DataFrame, name: str = "stream_static"
) -> DataFrame:
    """Stream-static enrichment join: the events stream joined to a
    static dimension (customer segment) on user_id — the canonical
    "enrich the feed with the dim table" topology.

    Stateless on the stream side: each micro-batch joins against the
    static relation with NO streaming state (nothing to watermark or
    evict), so it scales with the batch, not the history. The static
    side is broadcast when small (AQE sizes it per micro-batch); a
    100 TB dim would instead be a pre-bucketed table co-partitioned
    with the stream's shuffle.

    Result hash-matches the plain batch join — streaming/batch parity
    for the third join topology (windowed agg, stream-stream, now
    stream-static)."""
    src_dir = _events_stream_dir(spark, sf_dir)
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    joined = ev.join(dim, ev.user_id == dim.c_custkey).select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_upsert_latest(
    spark: SparkSession,
    sf_dir: str,
    files_per_trigger: int = 4,
    base_dir: str | None = None,
    before_batch: Callable[[DataFrame, int], None] | None = None,
) -> DataFrame:
    """CDC-style streaming upsert: each micro-batch reduces to its
    latest row per user_id (ts, event_id tiebreak — a pinned total
    order, SURVEY §2.5 W4), then merges newer-wins into a parquet table
    through the engine's backup-first swap (engine/table_format.py).

    Newer-wins union+argmax rather than a blind source-wins MERGE
    (ops/history.merge_upsert): the file source gives no cross-file
    event-order guarantee, so the merge must be commutative over batch
    arrival order — that's what makes the result equal the batch
    argmax oracle REGARDLESS of how the stream was chopped into
    micro-batches.

    Scale: per-batch work is one shuffle of the batch (small) plus one
    of the current table keyset; at 100 TB the table side would be a
    Delta/Iceberg MERGE behind the same TableFormat seam, with the
    argmax pre-reduction unchanged (it is what keeps the MERGE source
    one-row-per-key).

    Restart/recovery: ``base_dir`` pins the checkpoint + output table
    location, so a second call with the same ``base_dir`` RESUMES from
    the checkpoint's offset log rather than reprocessing the feed — the
    production kill-and-restart path, proven in
    tests/test_streaming.py::test_stream_upsert_crash_recovery. A batch
    that died before its commit-log record is replayed on restart with
    the same batch_id/files; replaying an already-merged batch is a
    no-op because newer-wins over identical rows is idempotent — which
    is exactly why the merge is safe under Spark's at-least-once
    foreachBatch contract. ``before_batch`` is a chaos/observation hook
    (called driver-side before each merge) used by that test to inject
    a mid-stream crash and to record which batches a resumed run
    actually processed."""
    import tempfile
    from pathlib import Path

    from oroboro_dw_dbt_spark.engine.table_format import LocalParquetFormat

    src_dir = _events_stream_dir(spark, sf_dir)
    fmt = LocalParquetFormat()
    base = Path(base_dir) if base_dir is not None else Path(tempfile.mkdtemp(prefix="stream_upsert_"))
    base.mkdir(parents=True, exist_ok=True)
    final = base / "latest_events"

    def latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "event_id", "ts", "event_type", "value")
        )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if before_batch is not None:
            before_batch(batch, batch_id)
        merged = latest(batch)
        if final.exists():
            merged = latest(fmt.read(spark, final).unionByName(merged))
        staging = base / f"staging_{batch_id}"
        fmt.write(merged, staging)
        if final.exists():
            fmt.replace(staging, final)
        else:
            staging.rename(final)

    q = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return fmt.read(spark, final)


def stream_binned_value_counts(
    spark: SparkSession, sf_dir: str, name: str = "stream_drift_bins"
) -> DataFrame:
    """Maintain the per-hour value-histogram state as a REAL stream:
    file source → 1-hour tumbling window × 5 exact value bins → counts
    (AvailableNow, complete-mode memory sink). This is the streaming
    half of st_drift_monitor — at 100 TB/day the histogram state is
    |windows|·5 rows (bounded, watermark-evictable in append mode); the
    drift score is derived from the settled state, never the raw feed.

    The bin edges ride the exact-cents integer path (value →
    DECIMAL(12,4) cents → BIGINT div 10000, capped at 4) so binning can
    never straddle a float boundary differently than the batch oracle."""
    src_dir = _events_stream_dir(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    cents_div = F.expr(
        "CAST(round(CAST(value AS DECIMAL(12,4)) * 100, 0) AS BIGINT) div 10000"
    )
    binned = stream.select(
        F.window("ts", "1 hour").alias("w"),
        F.least(cents_div, F.lit(4)).alias("bin"),
    )
    with _state_width(spark, _stream_state_partitions(src_dir)):
        q = (
            binned.groupBy("w", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)

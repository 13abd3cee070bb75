"""Streaming + multimodal tests: streaming/batch parity for the
windowed agg, stateful sessionizer vs the batch window-function oracle,
and the Arrow plumbing contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.multimodal import (
    decode_media,
    extract_media_features,
    media_from_documents,
    sample_frames,
)
from oroboro_dw_dbt_spark.sources.testdata import load_table
from oroboro_dw_dbt_spark.streaming import (
    run_stream_windowed_counts,
    sessionize_batch,
    stateful_sessions_stream,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


class TestStreaming:
    def test_stream_equals_batch_windowed(self, spark):
        """Exactly-once contract: the AvailableNow streaming run of the
        windowed agg returns the same rows as the batch plan."""
        batch = {
            tuple(r)
            for r in windowed_event_counts(load_table(spark, SF, "events")).collect()
        }
        stream = {
            tuple(r)
            for r in run_stream_windowed_counts(spark, SF, name="t_stream_eq").collect()
        }
        assert stream == batch

    def test_stream_state_width_rule(self, spark, tmp_path):
        """Optimization r13: the stream's state-partition width is
        sized from input bytes (1 per ~32 MB, clamped [1, 4096]) — AQE
        cannot coalesce stateful shuffles, so the width must be derived,
        not inherited from the batch core-count default. The width must
        never change results (pinned by test_stream_equals_batch_windowed
        running through the same path) and must restore the session
        conf afterward."""
        from oroboro_dw_dbt_spark.streaming.jobs import (
            _stream_state_partitions,
            _state_width,
        )

        d = tmp_path / "feed"
        d.mkdir()
        (d / "a.parquet").write_bytes(b"\0" * (5 * 1024 * 1024))
        assert _stream_state_partitions(str(d)) == 1  # 5 MB -> 1
        (d / "b.parquet").write_bytes(b"\0" * (60 * 1024 * 1024))
        assert _stream_state_partitions(str(d)) == 3  # 65 MB -> ceil
        assert _stream_state_partitions("/nonexistent_dir") == 0  # default
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        with _state_width(spark, 3):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev
        with _state_width(spark, 0):  # 0 = keep the session default
            assert spark.conf.get("spark.sql.shuffle.partitions") == prev
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    def test_stateful_sessions_match_batch_closed_sessions(self, spark):
        """Every emitted (closed) session must exist identically in the
        batch sessionization; the only missing ones are each user's
        trailing OPEN session (still held in state)."""
        events = load_table(spark, SF, "events")
        batch = sessionize_batch(events).collect()
        stream = stateful_sessions_stream(spark, SF, name="t_state_sess").collect()

        batch_keyed = {
            (r["user_id"], r["session_start"], r["session_end"]): (
                r["n_events"],
                r["sum_value"],
            )
            for r in batch
        }
        assert stream, "closed sessions must be emitted"
        for r in stream:
            key = (r["user_id"], r["session_start"], r["session_end"])
            assert key in batch_keyed, f"spurious session {key}"
            n, total = batch_keyed[key]
            assert r["n_events"] == n
            # integer-cents accumulation makes the stream sum EXACT —
            # bitwise equal to the batch DECIMAL(12,4) sum
            assert r["sum_value"] == total

        # batch = closed + exactly one open trailing session per user
        n_users = events.select("user_id").distinct().count()
        assert len(batch) - len(stream) == n_users

    def test_append_mode_finalized_windows_exact_on_ordered_feed(
        self, spark, tmp_path
    ):
        """Append mode + watermark over an (event-time-)ordered feed:
        every emitted window is FINAL — exactly once, value identical to
        the batch aggregate. Ordering matters: on an out-of-order feed
        the watermark would close windows early and drop late rows
        (correct streaming semantics, but then emitted values are
        partial); in-order arrival is the contract under which append
        mode's exactly-once-per-window claim holds."""
        from pyspark.sql import functions as F

        from oroboro_dw_dbt_spark.sources.testdata import load_table
        from oroboro_dw_dbt_spark.streaming.jobs import (
            EVENTS_SCHEMA,
            windowed_event_counts,
        )

        feed = str(tmp_path / "ordered_feed")
        ev = load_table(spark, SF, "events")
        # range partitions = time slices => files arrive in event order
        ev.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(feed)

        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = (
            windowed_event_counts(stream)
            .writeStream.format("memory")
            .queryName("t_append_wm")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = {tuple(r) for r in spark.table("t_append_wm").collect()}
        batch = {tuple(r) for r in windowed_event_counts(ev).collect()}
        assert emitted, "watermark must finalize some windows"
        # finalized windows carry their FINAL value: strict exact subset
        assert emitted < batch
        # exactly-once per window key
        keys = [(s, e, t) for (s, e, t, _n, _v) in emitted]
        assert len(keys) == len(set(keys))
        # and the boundary is the watermark: nothing newer than
        # (global max ts - 1h delay) was finalized
        import datetime

        max_ts = ev.agg(F.max("ts")).first()[0]
        wm_bound = max_ts - datetime.timedelta(hours=1)
        assert all(win_end <= wm_bound for (_s, win_end, *_r) in emitted)

    def test_watermark_present_in_streaming_plan(self, spark):
        # the builder must attach a watermark to streaming input (bounds
        # window state at scale); verify it lands in the analyzed plan
        from oroboro_dw_dbt_spark.streaming.jobs import EVENTS_SCHEMA, _events_stream_dir

        src = spark.readStream.schema(EVENTS_SCHEMA).parquet(_events_stream_dir(spark, SF))
        plan = windowed_event_counts(src)._jdf.queryExecution().analyzed().toString()
        assert "EventTimeWatermark" in plan


class TestMultimodal:
    def test_media_schema_and_payload(self, spark):
        media = media_from_documents(load_table(spark, SF, "documents"))
        assert dict(media.dtypes)["payload"] == "binary"
        row = media.first()
        assert isinstance(row["payload"], (bytes, bytearray))
        assert row["meta"]["n_bytes"] == len(row["payload"])

    def test_features_match_text(self, spark):
        docs = load_table(spark, SF, "documents")
        feats = extract_media_features(media_from_documents(docs))
        joined = feats.join(docs, "doc_id").filter(
            (F.col("n_bytes") != F.length("text"))
            | (F.col("first_byte") != F.ascii(F.col("text")))
        )
        assert joined.count() == 0

    def test_frame_fanout_count(self, spark):
        docs = load_table(spark, SF, "documents")
        frames = sample_frames(media_from_documents(docs))
        expect = docs.select(
            F.ceil(F.length("text") / 100.0).cast("long").alias("k")
        ).agg(F.sum("k")).first()[0]
        assert frames.count() == expect

    def test_phash_banding_complete_vs_naive(self, spark):
        """Pigeonhole banding must recover EVERY Hamming<=1 phash pair
        the naive all-pairs compare finds (k < bands => lossless)."""
        from oroboro_dw_dbt_spark.multimodal import (
            perceptual_hash,
            phash_near_dup_pairs,
        )

        media = media_from_documents(load_table(spark, SF, "documents"))
        ph = {r.doc_id: r.phash for r in perceptual_hash(media).collect()}
        ids = sorted(ph)
        naive = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(ph[a] ^ ph[b]).count("1") <= 1
        }
        got = {
            (r.doc_a, r.doc_b) for r in phash_near_dup_pairs(media, k=1).collect()
        }
        assert got == naive
        assert naive, "fixture must contain near-dup payloads"

    def test_decode_flags_noncontainer_payloads(self, spark):
        """media_from_documents payloads are raw text bytes, not
        containers — decode_media must flag each row ok=false rather
        than raise (the old stub raised NotImplementedError; the decode
        path is now real, tests/test_multimodal.py)."""
        media = media_from_documents(load_table(spark, SF, "documents"))
        out = decode_media(media).select("ok").distinct().collect()
        assert [r.ok for r in out] == [False]


def test_stream_dedup_recovers_original(spark):
    from oroboro_dw_dbt_spark.sources.testdata import load_table
    from oroboro_dw_dbt_spark.streaming import stream_dedup_events

    sf = "/root/testdata/sf0.001"
    deduped = stream_dedup_events(spark, sf, name="dedup_test")
    orig = load_table(spark, sf, "events")
    assert deduped.count() == orig.count()
    assert deduped.select("event_id").distinct().count() == orig.count()


def test_stream_stream_join_matches_batch(spark):
    from pyspark.sql import functions as F

    from oroboro_dw_dbt_spark.sources.testdata import load_table
    from oroboro_dw_dbt_spark.streaming import stream_stream_join

    sf = "/root/testdata/sf0.001"
    got = stream_stream_join(spark, sf, name="ssj_test")
    ev = load_table(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        (p.user_id == c.c_uid)
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("purchase_id", "click_id")
    assert got.count() == batch.count()
    assert got.select("purchase_id", "click_id").exceptAll(batch).count() == 0


def test_stream_upsert_crash_recovery(spark, tmp_path):
    """Kill the CDC upsert mid-stream (injected crash before batch 2's
    merge) and resume from the SAME checkpoint: the restarted run must
    (a) pick up at the failed batch, not batch 0 — proof it recovered
    offsets from the checkpoint rather than reprocessing the feed — and
    (b) end with exactly the batch argmax result (exactly-once)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql.window import Window

    from oroboro_dw_dbt_spark.streaming import stream_upsert_latest

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path / "upsert_recovery")
    run1_batches: list[int] = []

    def chaos(batch, batch_id):
        run1_batches.append(batch_id)
        if batch_id == 2:
            raise RuntimeError("injected mid-stream crash")

    with pytest.raises(StreamingQueryException):
        stream_upsert_latest(
            spark, sf, files_per_trigger=1, base_dir=base, before_batch=chaos
        )
    assert 2 in run1_batches and max(run1_batches) == 2, run1_batches

    run2_batches: list[int] = []
    got = stream_upsert_latest(
        spark,
        sf,
        files_per_trigger=1,
        base_dir=base,
        before_batch=lambda _batch, bid: run2_batches.append(bid),
    )
    # resumed at the failed batch (offset-log replay), nothing earlier
    assert min(run2_batches) == 2, run2_batches
    assert len(run2_batches) >= 2  # replayed batch + the remaining feed

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    expected = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_stream_upsert_multi_batch_equals_batch_argmax(spark):
    """The CDC upsert must (a) actually take the merge path across >= 2
    micro-batches and (b) produce exactly the batch latest-per-user."""
    from pyspark.sql.window import Window

    from oroboro_dw_dbt_spark.streaming import stream_upsert_latest
    from oroboro_dw_dbt_spark.streaming.jobs import _events_stream_dir

    sf = "/root/testdata/sf0.001"
    n_files = len(
        [p for p in __import__("pathlib").Path(_events_stream_dir(spark, sf)).iterdir()
         if p.suffix == ".parquet"]
    )
    assert n_files >= 2, "fixture must yield multiple micro-batches"
    got = stream_upsert_latest(spark, sf, files_per_trigger=1)
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    expected = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_late_feed_drop_metrics(spark):
    """The planned feed's two hopeless-late rows must be dropped BY THE
    WATERMARK OPERATOR (not merely absent): the state operator's
    numRowsDroppedByWatermark says so explicitly, batch by batch."""
    import time
    import uuid

    from pyspark.sql import functions as F

    from oroboro_dw_dbt_spark.sources.pydatasource import (
        LATE_DROPPED_IDS,
        register_latefeed,
    )

    register_latefeed(spark)
    name = f"latemetrics_{uuid.uuid4().hex[:8]}"
    agg = (
        spark.readStream.format("latefeed")
        .load()
        .select("id", F.timestamp_seconds("ep").alias("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= 8:
                break
            time.sleep(0.2)
        else:
            raise TimeoutError("late feed did not flush")
    finally:
        q.stop()
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == len(LATE_DROPPED_IDS), dropped

"""Catalog entries for event analytics, Structured Streaming, JSON
extraction, and the multimodal binary plumbing.

`st_stream_windowed` is special: the Spark side runs a REAL streaming
query (file source → watermark → windowed agg → AvailableNow → memory
sink) while the oracle is a plain batch GROUP BY — a hash match is the
exactly-once/streaming-batch-parity assertion. The stateful sessionizer
has no SQL equivalent (state machine semantics) → rows-only check, with
its semantics pinned against `st_sessionize` in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oroboro_dw_dbt_spark.multimodal import (
    extract_media_features,
    media_from_documents,
    sample_frames,
)
from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.operators.extended_suite import _CENTS
from oroboro_dw_dbt_spark.sources.testdata import load_table
from oroboro_dw_dbt_spark.streaming import (
    run_stream_windowed_counts,
    sessionize_batch,
    stateful_sessions_stream,
    stream_dedup_events,
    stream_stream_join,
    windowed_event_counts,
)

_WINDOWED_ORACLE = """
SELECT
  date_trunc('hour', ts) AS win_start,
  date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
  event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(round(sum(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


@query(
    "st_windowed_counts",
    oracle=_WINDOWED_ORACLE,
    survey_ref="beyond-reference: event-time tumbling-window aggregation (batch plan)",
)
def st_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_event_counts(load_table(spark, sf_dir, "events"))


@query(
    "st_stream_windowed",
    oracle=_WINDOWED_ORACLE,
    survey_ref="beyond-reference: Structured Streaming windowed agg == batch oracle",
)
def st_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the one catalog entry that actually runs readStream → writeStream
    return run_stream_windowed_counts(spark, sf_dir)


@query(
    "st_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT *, sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_seq
    """,
    survey_ref="beyond-reference: gap-based sessionization (lag + running sum)",
)
def st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize_batch(load_table(spark, sf_dir, "events"))


@query(
    "st_stateful_sessions",
    # the state machine emits CLOSED sessions only (the trailing open
    # session per user stays in state), so the oracle is the batch
    # sessionization SQL restricted to non-final sessions per user —
    # a full hash check of the custom stateful operator
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT *, sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_seq,
             min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(round(sum(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
      FROM numbered
      GROUP BY user_id, session_seq
    )
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM sessions
    QUALIFY session_seq < max(session_seq) OVER (PARTITION BY user_id)
    """,
    survey_ref="beyond-reference: applyInPandasWithState custom stateful operator",
)
def st_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stateful_sessions_stream(spark, sf_dir)


@query(
    "st_stream_dedup",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
    survey_ref="beyond-reference: streaming exactly-once dedup "
    "(dropDuplicatesWithinWatermark over an at-least-once feed)",
)
def st_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the Spark side streams the events DOUBLED; matching the pristine
    # batch table proves every duplicate was dropped, none over-dropped
    return stream_dedup_events(spark, sf_dir)


@query(
    "st_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    survey_ref="beyond-reference: watermarked stream-stream interval "
    "join == batch interval join (bounded state via time range)",
)
def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stream_stream_join(spark, sf_dir)


@query(
    "ev_json_extract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
    survey_ref="beyond-reference: semi-structured JSON prop extraction",
)
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@query(
    "mm_media_features",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(ascii(text) AS INT) AS first_byte,
           CAST(ascii(substr(text, length(text), 1)) AS INT) AS last_byte
    FROM documents
    """,
    survey_ref="beyond-reference: multimodal binary feature extraction (mapInPandas)",
)
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ASCII corpus ⇒ byte features over the binary payload equal char
    # features over text — lets the Arrow kernel be oracle-checked
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return extract_media_features(media)


@query(
    "mm_sample_frames",
    oracle="""
    WITH exploded AS (
      SELECT doc_id, text,
             unnest(range(CAST(ceil(length(text) / 100.0) AS BIGINT))) AS i
      FROM documents
    )
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           md5(substr(text, CAST(i AS INT) * 100 + 1, 100)) AS frame_hash
    FROM exploded
    """,
    survey_ref="beyond-reference: frame sampling fan-out (mapInPandas, 1→k rows)",
)
def mm_sample_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return sample_frames(media)


@query(
    "st_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    survey_ref="beyond-reference: Structured Streaming stream-static "
    "enrichment join == batch join oracle (stateless, no watermark)",
)
def st_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.streaming import stream_static_join

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return stream_static_join(spark, sf_dir, dim)


@query(
    "st_stream_upsert",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    survey_ref="beyond-reference: streaming CDC upsert — foreachBatch "
    "newer-wins merge through the engine's atomic table swap; result "
    "independent of micro-batch chopping == batch argmax oracle",
)
def st_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.streaming import stream_upsert_latest

    return stream_upsert_latest(spark, sf_dir)


@query(
    "ts_gap_fill",
    # per-user hourly grid (sequence/generate_series between that user's
    # own first and last hour), zero-filled counts + forward-filled last
    # known value — the time-series resample/ffill staple
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             count(*) AS n, max(value) AS hour_max
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, min(hour) AS hmin, max(hour) AS hmax
      FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS hour
      FROM span
    )
    SELECT g.user_id, g.hour,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_events,
           last_value(h.hour_max IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_known_value
    FROM grid g LEFT JOIN hourly h USING (user_id, hour)
    """,
    survey_ref="beyond-reference: time-series gap-fill — per-entity hourly "
    "resample (explode of a per-row sequence, no global grid) with "
    "zero-fill and forward-fill",
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("hour_max"))
    span = hourly.groupBy("user_id").agg(
        F.min("hour").alias("hmin"), F.max("hour").alias("hmax")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("hmin", "hmax", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            F.last("hour_max", ignorenulls=True).over(w).alias("last_known_value"),
        )
    )


@query(
    "ev_funnel_steps",
    # strictly-ordered funnel view -> click -> purchase: each step's
    # timestamp is the first qualifying event AFTER the previous step
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t_view
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
      GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    survey_ref="beyond-reference: ordered funnel analysis — progressive "
    "min-after-previous-step; two small rejoins, shuffle on user_id "
    "reused",
)
def ev_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase")
    )


@query(
    "ev_cohort_retention",
    # cohort = ISO week of first activity; k = whole weeks since cohort;
    # integer week arithmetic on both engines (no date subtleties)
    oracle="""
    WITH firstw AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    )
    SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST((epoch(a.week) - epoch(f.cohort_week)) / 604800 AS INT) AS week_k,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM activity a JOIN firstw f USING (user_id)
    GROUP BY 1, 2
    """,
    survey_ref="beyond-reference: cohort retention — first-activity week "
    "cohorts, distinct-active per offset week",
)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", "ts")
    firstw = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = ev.select("user_id", wk.alias("week")).distinct()
    week_k = (
        (F.unix_timestamp("week") - F.unix_timestamp("cohort_week")) / 604800
    ).cast("int")
    return (
        activity.join(firstw, "user_id")
        .groupBy("cohort_week", week_k.alias("week_k"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
    )


@query(
    "st_session_window_builtin",
    # Spark's native session_window(gap): an event at EXACTLY start+gap
    # begins a new session (windows are [ts, ts+gap)), hence >= in the
    # oracle's new-session flag; session_end = last ts + gap
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800.0
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, sid
    """,
    survey_ref="beyond-reference: native session_window(gap) aggregation "
    "— the built-in twin of st_sessionize's manual island windows; "
    "streaming-ready (same expression under a watermark)",
)
def st_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "ev_json_typed",
    # is_valid is "document parsed AS THE DECLARED SCHEMA", not raw
    # json_valid(): Spark PERMISSIVE from_json returns a NON-null struct
    # with null fields even for '{not json' (round-4 advice — the old
    # p.isNotNull() definition could never be false for non-empty input,
    # and only greened because the fixture has no malformed props). The
    # Spark signal is the _corrupt_record column; the oracle restates the
    # same schema-conformance predicate: syntactically valid AND a JSON
    # object AND k absent/null/integral. Probed divergences this covers:
    # mis-typed k ('{"k":"abc"}', '{"k":1.5}'), arrays, 'null' docs,
    # single-quoted JSON (allowSingleQuotes=false pins Jackson to spec).
    oracle="""
    WITH j AS (
      SELECT event_id, props,
             CASE WHEN json_valid(props)
                  THEN json_type(CAST(props AS JSON)) = 'OBJECT'
                  ELSE false END AS is_obj,
             CASE WHEN json_valid(props)
                  THEN json_type(CAST(props AS JSON), '$.k') END AS kt,
             CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS ks
      FROM events WHERE event_id % 7 = 0
    )
    SELECT event_id,
           CASE WHEN is_obj AND kt IN ('BIGINT', 'UBIGINT')
                THEN TRY_CAST(ks AS INT) END AS k,
           COALESCE(is_obj AND (kt IS NULL OR kt = 'NULL'
                    OR (kt IN ('BIGINT', 'UBIGINT')
                        AND TRY_CAST(ks AS INT) IS NOT NULL)), false) AS is_valid
    FROM j
    """,
    survey_ref="beyond-reference: schema-enforced JSON parsing "
    "(from_json -> typed struct, corrupt-record malformed signal)",
)
def ev_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json projects props into a declared
    struct once (one parse per row, pushed next to the scan), with
    schema-violating rows flagged via the corrupt-record channel — the
    semi-structured ingestion contract at scale, where a single bad
    document must not kill a 100 TB job but must stay auditable."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    parsed = ev.withColumn("p", _json_typed_struct(F.col("props")))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p").isNotNull() & F.col("p._corrupt_record").isNull()).alias(
            "is_valid"
        ),
    )


def _json_typed_struct(props):
    """from_json with the schema-conformance contract ev_json_typed
    certifies: PERMISSIVE + explicit corrupt-record capture, Jackson's
    single-quote laxness disabled so "valid" matches the JSON spec."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    return F.from_json(
        props,
        schema,
        {
            "mode": "PERMISSIVE",
            "columnNameOfCorruptRecord": "_corrupt_record",
            "allowSingleQuotes": "false",
        },
    )


@query(
    "ev_value_histogram",
    # equal-width binning spelled as pure arithmetic (floor(v/width),
    # clamped) — identical on any engine, no reliance on a histogram
    # builtin whose bucket-edge conventions differ
    oracle="""
    SELECT event_type,
           CAST(least(floor(value / 50), 9) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    survey_ref="beyond-reference: equal-width histogram per series "
    "(single map-side-combined aggregation — the distribution-profile "
    "shape)",
)
def ev_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value distribution per event_type in 10 fixed-width bins (last
    bin open-ended). One shuffle on (type, bin) with partial
    aggregation; at 100 TB this is the cheap first look at any metric's
    shape — and the exact-arithmetic binning (floor + clamp) means any
    engine reproduces the same buckets."""
    ev = load_table(spark, sf_dir, "events")
    bin_ = F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("int")
    return ev.groupBy("event_type", bin_.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(12,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


def _phash_bit_sql(b: int, blocks: int = 16) -> str:
    """bit b of the byte-level perceptual hash, as exact integer SQL
    (list slice is 1-based inclusive ⇒ [s+1 : e] ≡ python [s:e])."""
    s = f"({b} * n) // {blocks}"
    e = f"(({b} + 1) * n) // {blocks}"
    return (
        f"(CASE WHEN list_sum(bytes[{s} + 1 : {e}]) * n"
        f" > total * ({e} - {s}) THEN {1 << b} ELSE 0 END)"
    )


@query(
    "mm_phash_near_dup",
    # restates the integer block-sum hash bit-for-bit over the UTF-8
    # text twin (payload bytes ARE the text bytes — ASCII fixture), then
    # the same 2-band pigeonhole join and Hamming<=1 verify
    oracle=f"""
    WITH base AS (
      SELECT doc_id, length(text) AS n,
             list_transform(string_split(text, ''), x -> ord(x)) AS bytes
      FROM documents
    ),
    tot AS (SELECT doc_id, n, bytes, list_sum(bytes) AS total FROM base),
    ph AS (
      SELECT doc_id, {" + ".join(_phash_bit_sql(b) for b in range(16))} AS phash
      FROM tot
    ),
    bands AS (
      SELECT doc_id, phash, b.band, (phash >> (b.band * 8)) & 255 AS band_val
      FROM ph, (VALUES (0), (1)) AS b(band)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(CAST(a.phash AS BIGINT), CAST(b.phash AS BIGINT))) AS INT)
             AS hamming
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
                AND a.doc_id < b.doc_id
    WHERE bit_count(xor(CAST(a.phash AS BIGINT), CAST(b.phash AS BIGINT))) <= 1
    """,
    survey_ref="beyond-reference: perceptual-hash near-dup over media "
    "payloads (Arrow kernel hash -> pigeonhole band join, Hamming<=1)",
)
def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dups: byte-level perceptual hash per payload (Arrow
    kernel, integer-exact bits) then the SimHash-style banded join —
    never all-pairs over binary columns. The decode-then-DCT pHash of a
    real deployment swaps into the same kernel seam."""
    from oroboro_dw_dbt_spark.multimodal import phash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return phash_near_dup_pairs(media_from_documents(docs), k=1)


@query(
    "mm_decode_meta",
    # a REAL decode roundtrip, executable in this sandbox: documents are
    # wrapped in spec-valid containers (BMP / PCM RIFF-WAVE / RIFF-AVI
    # with avih) whose geometry derives modularly from the text length,
    # then decode_media parses the BINARY HEADERS back with struct
    # semantics. The oracle recomputes every field straight from
    # length(text) — a hash match means the bytes written and the bytes
    # parsed agree on dimensions, channels, rate, units, and duration.
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           true AS ok,
           CASE doc_id % 3
                WHEN 0 THEN length(text) % 31 + 1
                WHEN 2 THEN length(text) % 63 + 2 END AS width,
           CASE doc_id % 3
                WHEN 0 THEN length(text) % 17 + 1
                WHEN 2 THEN length(text) % 37 + 2 END AS height,
           CASE doc_id % 3
                WHEN 0 THEN 3
                WHEN 1 THEN 1 + length(text) % 2 END AS channels,
           CASE doc_id % 3
                WHEN 1 THEN 8000 * (1 + length(text) % 3) END AS sample_rate,
           CAST(CASE doc_id % 3
                WHEN 0 THEN (length(text) % 31 + 1) * (length(text) % 17 + 1)
                WHEN 1 THEN length(text)
                ELSE length(text) % 300 + 1 END AS BIGINT) AS n_units,
           CASE doc_id % 3
                WHEN 1 THEN round(length(text) * 1000.0
                                  / (8000 * (1 + length(text) % 3)), 6)
                WHEN 2 THEN round((length(text) % 50000 + 20000)
                                  * (length(text) % 300 + 1) / 1000.0, 6)
                END AS duration_ms
    FROM documents
    """,
    survey_ref="beyond-reference: multimodal decode — real container "
    "parsing (BMP/WAV/AVI headers) through the Arrow kernel seam; the "
    "PIL/torchaudio/decord kernel swaps in with the same plan + schema",
)
def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.multimodal import decode_media, encode_media_containers

    docs = load_table(spark, sf_dir, "documents")
    decoded = decode_media(encode_media_containers(docs))
    return decoded.withColumn("duration_ms", F.round("duration_ms", 6))


@query(
    "ev_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || ' > ' || t1 || ' > ' || t2 AS path,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq WHERE t2 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path LIMIT 20
    """,
    survey_ref="beyond-reference: clickstream path mining (top event "
    "trigrams — lead-window sequences, no self-joins)",
)
def ev_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step behavior paths: per-user lead() windows build
    the trigram in one pass (the self-join-free way to mine sequences),
    then a map-side-combined count. One shuffle on user_id for the
    window, one on the trigram string — path cardinality is |types|^3,
    tiny at any corpus size."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    ).filter(F.col("t2").isNotNull())
    return (
        seq.select(
            "user_id",
            F.concat_ws(" > ", "event_type", "t1", "t2").alias("path"),
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.col("n").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Ordered funnel conversion: view -> click -> purchase
# ---------------------------------------------------------------------------
@query(
    "ev_funnel",
    # each stage requires a strictly LATER event than the previous
    # stage's completion time — the ordered-funnel semantic (a purchase
    # before the first view does not convert), computed in two bounded
    # aggregates, never a per-user sort of the whole event log
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 1 AS stage, 'view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT 2, 'click_after_view', CAST(count(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, 'purchase_after_click', CAST(count(*) AS BIGINT) FROM p
    ) t
    """,
    survey_ref="beyond-reference: ordered funnel analysis — stagewise "
    "conditional-min aggregation (product-analytics staple; each stage "
    "is a groupBy + semi-join, shuffle on user_id reused throughout)",
)
def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel: first view, first click AFTER that view,
    first purchase AFTER that click; one row per stage with surviving
    user counts. Each stage is a filtered groupBy(user_id) joined to
    the previous stage's completion times — every shuffle is on
    user_id, so at 100 TB the three stages co-partition and the event
    log streams once per stage with map-side pre-aggregation."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, n: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(n).alias("stage"),
            F.lit(name).alias("step"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        ).select("stage", "step", "n_users")

    return (
        stage(v, 1, "view")
        .unionByName(stage(c, 2, "click_after_view"))
        .unionByName(stage(p, 3, "purchase_after_click"))
    )


# ---------------------------------------------------------------------------
# RFM segmentation over the events stream.
# ---------------------------------------------------------------------------
@query(
    "ev_rfm_segments",
    # quartiles via ntile over a pinned total order (metric, user_id);
    # monetary is DECIMAL-summed then rounded once, so both engines
    # bucket identical values identically
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             date_diff('day', CAST(max(ts) AS DATE),
                       (SELECT CAST(max(ts) AS DATE) FROM events))
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(round(sum(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE)
               AS monetary
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(recency_days AS INT) AS recency_days,
           frequency, monetary,
           CAST(ntile(4) OVER (ORDER BY recency_days, user_id) AS INT) AS r_q,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS INT) AS f_q,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS INT) AS m_q
    FROM per_user
    """,
    survey_ref="beyond-reference: RFM user segmentation (recency/"
    "frequency/monetary quartiles) — the canonical marts-layer scoring "
    "shape over the events fact",
)
def ev_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM with quartile scores.

    Scale note: the three ntile windows are GLOBAL (single-partition
    sort of the per-user aggregate). That is the right call while
    |users| ≪ |events| — the window input is already reduced ~1000× by
    the groupBy — but at billions of users the certified substitute is
    the two-phase range-partitioned ranking of `w_rank_twophase`
    (operators/extended_suite.py), which computes identical quartiles
    with no single-task sort."""
    ev = load_table(spark, sf_dir, "events")
    gmax = ev.agg(F.max(F.col("ts").cast("date")).alias("gmax"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("umax"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.round(F.sum(F.col("value").cast("decimal(12,4)")), 2)
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            "user_id",
            F.datediff("gmax", "umax").cast("int").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(Window.orderBy("recency_days", "user_id"))
        .cast("int")
        .alias("r_q"),
        F.ntile(4)
        .over(Window.orderBy(F.col("frequency").desc(), "user_id"))
        .cast("int")
        .alias("f_q"),
        F.ntile(4)
        .over(Window.orderBy(F.col("monetary").desc(), "user_id"))
        .cast("int")
        .alias("m_q"),
    )


# ---------------------------------------------------------------------------
# Multimodal resize: block-average downsample of the binary payload.
# ---------------------------------------------------------------------------
@query(
    "mm_resize_blocks",
    # ASCII corpus ⇒ byte arithmetic over the payload equals char-code
    # arithmetic over text, so the oracle restates the exact floor
    # boundaries and integer means (all operands non-negative, so
    # DuckDB's floor-div // and numpy's // agree)
    oracle="""
    WITH b AS (SELECT doc_id, length(text) AS n, text FROM documents)
    SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
           array_to_string(list_transform(range(0, 16), k ->
             printf('%02x', CAST(
               list_sum(list_transform(
                 range((k * n) // 16 + 1, ((k + 1) * n) // 16 + 1),
                 i -> ascii(substr(text, CAST(i AS INT), 1))))
               // greatest(((k + 1) * n) // 16 - (k * n) // 16, 1)
             AS BIGINT))), '') AS resized_hex
    FROM b
    """,
    survey_ref="beyond-reference: multimodal resize (block-average "
    "downsample over binary payloads; vectorized numpy kernel through "
    "the decode_media mapInPandas seam — PIL's BOX resize drop-in)",
)
def mm_resize_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.multimodal import media_from_documents
    from oroboro_dw_dbt_spark.multimodal.media import resize_blocks

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return resize_blocks(media)


# ---------------------------------------------------------------------------
# Last-touch attribution over the events stream.
# ---------------------------------------------------------------------------
_TOUCH_CODE_SQL = """CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
             WHEN 'signup' THEN 3 WHEN 'view' THEN 4 END"""
_7D_US = 7 * 24 * 3600 * 1_000_000


@query(
    "ev_last_touch",
    # the last preceding touch rides a running max of ONE packed BIGINT
    # (epoch_us * 8 + touch code) over a ROWS frame ending 1 PRECEDING —
    # engine-portable argmax, no IGNORE NULLS, no self-join. All lag
    # arithmetic stays integer µs until a single final division.
    oracle=f"""
    WITH coded AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             {_TOUCH_CODE_SQL} AS code
      FROM events
    ),
    touched AS (
      SELECT *,
             max(CASE WHEN event_type <> 'purchase'
                      THEN us * 8 + code END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_packed
      FROM coded
    ),
    purchases AS (
      SELECT CASE
               WHEN last_packed IS NULL THEN '(none)'
               WHEN us - last_packed // 8 > {_7D_US} THEN '(stale)'
               ELSE CASE last_packed % 8 WHEN 1 THEN 'click'
                    WHEN 2 THEN 'error' WHEN 3 THEN 'signup'
                    ELSE 'view' END
             END AS touch,
             us - last_packed // 8 AS lag_us
      FROM touched WHERE event_type = 'purchase'
    )
    SELECT touch, CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(CAST(sum(lag_us) AS BIGINT) AS DOUBLE)
             / (count(lag_us) * 1000000.0) AS avg_lag_s
    FROM purchases GROUP BY touch
    """,
    survey_ref="beyond-reference: last-touch attribution (each purchase "
    "credited to the user's most recent prior touch within 7 days) — "
    "the marts-layer attribution shape over the events fact",
)
def ev_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credit each purchase to the last non-purchase event before it.

    Scale: one user_id shuffle feeds one sort; the running max carries
    8 bytes of state per row regardless of history length — the same
    packed-argmax trick as ts_interpolate, which a LAST_VALUE IGNORE
    NULLS (engine-specific) or a per-purchase range self-join
    (O(purchases × touches)) would both lose at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 3)
        .when(F.col("event_type") == "view", 4)
    )
    coded = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        code.alias("code"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = F.when(
        F.col("event_type") != "purchase", F.col("us") * 8 + F.col("code")
    )
    touched = coded.withColumn("last_packed", F.max(packed).over(w))
    lag_us = F.col("us") - F.expr("last_packed div 8")
    touch = (
        F.when(F.col("last_packed").isNull(), "(none)")
        .when(lag_us > _7D_US, "(stale)")
        .otherwise(
            F.when(F.col("last_packed") % 8 == 1, "click")
            .when(F.col("last_packed") % 8 == 2, "error")
            .when(F.col("last_packed") % 8 == 3, "signup")
            .otherwise("view")
        )
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .select(touch.alias("touch"), lag_us.alias("lag_us"))
        .groupBy("touch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            (
                F.sum("lag_us").cast("bigint").cast("double")
                / (F.count("lag_us") * 1000000.0)
            ).alias("avg_lag_s"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal: windowed audio energy + scene-cut detection.
# ---------------------------------------------------------------------------
@query(
    "mm_audio_energy",
    # ASCII corpus ⇒ byte arithmetic over the payload equals char-code
    # arithmetic over text (mm_resize_blocks precedent): the oracle
    # restates the exact window boundaries and Σ sample² integers
    oracle="""
    WITH b AS (
      SELECT doc_id, length(text) AS n, text FROM documents
      WHERE length(text) > 0
    ),
    exploded AS (
      SELECT doc_id, n, text,
             unnest(range(CAST(ceil(n / 64.0) AS BIGINT))) AS i
      FROM b
    )
    SELECT doc_id, CAST(i AS INT) AS win_idx,
           CAST(least((i + 1) * 64, n) - i * 64 AS INT) AS win_len,
           CAST(list_sum(list_transform(
                  range(i * 64 + 1, least((i + 1) * 64, n) + 1),
                  j -> ascii(substr(text, CAST(j AS INT), 1))
                       * ascii(substr(text, CAST(j AS INT), 1))))
                AS BIGINT) AS energy
    FROM exploded
    """,
    survey_ref="beyond-reference multimodal: windowed signal energy "
    "(multimodal/media.py audio_energy_windows — the VAD/silence-trim "
    "primitive; vectorized cumsum-of-squares kernel, exact BIGINT)",
)
def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.multimodal import media_from_documents
    from oroboro_dw_dbt_spark.multimodal.media import audio_energy_windows

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return audio_energy_windows(media)


@query(
    "mm_scene_cuts",
    # delta(i) = Σ|byte_j(i) − byte_j(i−1)| over FULL 100-byte frames;
    # the cut rule is an integer comparison restated verbatim
    oracle="""
    WITH b AS (
      SELECT doc_id, length(text) // 100 AS n_full, text FROM documents
    ),
    exploded AS (
      SELECT doc_id, text,
             unnest(range(1, n_full)) AS i
      FROM b WHERE n_full >= 2
    )
    SELECT doc_id, CAST(i AS INT) AS frame_idx,
           CAST(list_sum(list_transform(range(1, 101),
                  j -> abs(ascii(substr(text,
                             CAST(i * 100 + j AS INT), 1))
                         - ascii(substr(text,
                             CAST((i - 1) * 100 + j AS INT), 1)))))
                AS BIGINT) AS delta,
           list_sum(list_transform(range(1, 101),
                  j -> abs(ascii(substr(text,
                             CAST(i * 100 + j AS INT), 1))
                         - ascii(substr(text,
                             CAST((i - 1) * 100 + j AS INT), 1)))))
             > 4000 AS is_cut
    FROM exploded
    """,
    survey_ref="beyond-reference multimodal: scene-cut detection "
    "(multimodal/media.py scene_cuts — frame-delta shot boundaries, "
    "the keyframe-selection signal for video sampling pipelines)",
)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.multimodal import media_from_documents
    from oroboro_dw_dbt_spark.multimodal.media import scene_cuts

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return scene_cuts(media)


# Seconds offsets from 2024-01-01 keep every packed intermediate far
# inside BIGINT: the events table spans 30 days → off_s < 2^22.
_ORIGIN_S = 1704067200
_PACK = 4194304  # 2^22
_LOOKBACK_S = 3 * 86400


@query(
    "ev_sequence_match",
    # The oracle is the SAME two-layer window program in DuckDB SQL:
    # layer 1 finds the latest view within 3 days strictly before each
    # row; layer 2 propagates (click, its-view) packed as one BIGINT to
    # the purchases. Packing makes "the click AND the view it chains
    # from" a single max() — order-independent, tie-free.
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) - {_ORIGIN_S} AS off_s
      FROM events
    ),
    l1 AS (
      SELECT *,
             max(CASE WHEN event_type = 'view' THEN off_s END) OVER (
               PARTITION BY user_id ORDER BY off_s
               RANGE BETWEEN {_LOOKBACK_S} PRECEDING AND 1 PRECEDING
             ) AS last_view
      FROM e
    ),
    l2 AS (
      SELECT *,
             max(CASE WHEN event_type = 'click' AND last_view IS NOT NULL
                      THEN off_s * {_PACK} + last_view END) OVER (
               PARTITION BY user_id ORDER BY off_s
               RANGE BETWEEN {_LOOKBACK_S} PRECEDING AND 1 PRECEDING
             ) AS chain_pack
      FROM l1
    ),
    chains AS (
      SELECT user_id, event_id, off_s AS p_off,
             chain_pack // {_PACK} AS c_off,
             chain_pack % {_PACK} AS v_off
      FROM l2
      WHERE event_type = 'purchase' AND chain_pack IS NOT NULL
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY user_id ORDER BY p_off, event_id
             ) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_chains
      FROM chains
    )
    SELECT user_id, CAST(n_chains AS BIGINT) AS n_chains,
           make_timestamp((v_off + {_ORIGIN_S}) * 1000000) AS view_ts,
           make_timestamp((c_off + {_ORIGIN_S}) * 1000000) AS click_ts,
           make_timestamp((p_off + {_ORIGIN_S}) * 1000000) AS purchase_ts
    FROM ranked WHERE rn = 1
    """,
    survey_ref="beyond-reference: ordered event-sequence detection "
    "(MATCH_RECOGNIZE shape) — view→click→purchase chains via stacked "
    "RANGE windows, no self-joins",
)
def ev_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First view→click→purchase chain per user, steps ≤3 days apart.

    Two window passes over ONE (user_id, off_s) sort: pass 1 tags each
    row with the latest view in its 3-day lookback; pass 2 propagates
    qualifying clicks to purchases with the view PACKED into the same
    BIGINT (click·2²² + view), so one max() carries the whole chain —
    no per-step self-join, no arrays. Content is order-independent:
    RANGE frames are value-defined and max() is commutative.

    Scale: cost is the per-user sort both windows share (Catalyst
    reuses the exchange+sort). State is the 3-day frame, not the
    stream; at 100 TB this is the canonical sessionized-funnel plan —
    partition by user, never shuffle the fact twice."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        (F.unix_timestamp("ts") - _ORIGIN_S).alias("off_s"),
    )
    frame = (
        Window.partitionBy("user_id")
        .orderBy("off_s")
        .rangeBetween(-_LOOKBACK_S, -1)
    )
    l1 = e.withColumn(
        "last_view",
        F.max(
            F.when(F.col("event_type") == "view", F.col("off_s"))
        ).over(frame),
    )
    l2 = l1.withColumn(
        "chain_pack",
        F.max(
            F.when(
                (F.col("event_type") == "click")
                & F.col("last_view").isNotNull(),
                F.col("off_s") * _PACK + F.col("last_view"),
            )
        ).over(frame),
    )
    chains = l2.filter(
        (F.col("event_type") == "purchase")
        & F.col("chain_pack").isNotNull()
    ).select(
        "user_id",
        "event_id",
        F.col("off_s").alias("p_off"),
        (F.col("chain_pack") / _PACK).cast("bigint").alias("c_off"),
        (F.col("chain_pack") % _PACK).alias("v_off"),
    )
    by_user = Window.partitionBy("user_id")
    ranked = chains.withColumn(
        "rn",
        F.row_number().over(by_user.orderBy("p_off", "event_id")),
    ).withColumn("n_chains", F.count(F.lit(1)).over(by_user))

    def ts(off: str) -> F.Column:
        return F.timestamp_seconds(F.col(off) + _ORIGIN_S)

    return ranked.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("n_chains").cast("bigint").alias("n_chains"),
        ts("v_off").alias("view_ts"),
        ts("c_off").alias("click_ts"),
        ts("p_off").alias("purchase_ts"),
    )


# ---------------------------------------------------------------------------
# Watermarked LEFT-OUTER stream-stream join over a planned feed.
# ---------------------------------------------------------------------------
def _join_outer_oracle() -> str:
    from oroboro_dw_dbt_spark.sources.pydatasource import (
        JOIN_BOUND_S,
        JOIN_PLAN,
        JOIN_SENTINEL_L,
    )

    def vals(side: str) -> str:
        return ", ".join(
            f"({i}, {u}, {ep})"
            for batch in JOIN_PLAN
            for s, i, u, ep in batch
            if s == side
        )

    return f"""
    WITH l(l_id, user_id, l_ep) AS (VALUES {vals("L")}),
    r(r_id, r_user, r_ep) AS (VALUES {vals("R")})
    SELECT CAST(l_id AS BIGINT) AS l_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(l_ep AS BIGINT) AS l_ep,
           CAST(r_id AS BIGINT) AS r_id,
           CAST(r_ep AS BIGINT) AS r_ep
    FROM l LEFT JOIN r
      ON r_user = user_id AND r_ep BETWEEN l_ep AND l_ep + {JOIN_BOUND_S}
    WHERE l_id <> {JOIN_SENTINEL_L}
    """


@query(
    "st_stream_join_outer",
    # the oracle is the BATCH left join over the same planned rows,
    # excluding the left sentinel (whose state the stream must never
    # flush). A hash match certifies all four contracts at once:
    # matches emit, unmatched-left emits NULL after eviction,
    # unmatched-right emits nothing, unevicted state emits nothing.
    oracle=_join_outer_oracle(),
    survey_ref="streaming semantics: watermarked LEFT OUTER "
    "stream-stream join — NULL emission is an eviction-time decision, "
    "certified over a planned two-sided feed "
    "(sources/pydatasource.py JOIN_PLAN)",
)
def st_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer stream-stream join: the NULL rows are the contract.

    Inner stream-stream joins emit on match; the OUTER variant also
    has to decide a negative — "this left row will never match" — and
    that decision is only sound at watermark eviction time. The feed's
    per-side event times are monotone (nothing arrives late) and the
    closing sentinels push both sides' watermarks past every real
    row's bound, so the final sink content is decidable on paper under
    any watermark-effectiveness lag (the lesson LATE_PLAN encodes).

    Scale: state is watermark-bounded on both sides (the time-bound
    join condition is what permits GC); NULL emission adds no extra
    shuffle — it rides the eviction sweep. The poll-settle-recheck
    drain asserts no EXTRA rows trickle out after the expected set."""
    import time
    import uuid

    from oroboro_dw_dbt_spark.sources.pydatasource import (
        JOIN_BOUND_S,
        JOIN_PLAN,
        JOIN_SENTINEL_L,
        register_joinfeed,
    )

    register_joinfeed(spark)
    # expected final row count, derived from the plan itself
    lefts = [
        (i, u, ep) for b in JOIN_PLAN for s, i, u, ep in b if s == "L"
    ]
    rights = [
        (i, u, ep) for b in JOIN_PLAN for s, i, u, ep in b if s == "R"
    ]
    expected = sum(
        max(
            1,
            sum(
                1
                for _, ru, rep in rights
                if ru == u and ep <= rep <= ep + JOIN_BOUND_S
            ),
        )
        for i, u, ep in lefts
        if i != JOIN_SENTINEL_L
    )

    def side(tag: str, prefix: str):
        return (
            spark.readStream.format("joinfeed")
            .load()
            .filter(F.col("side") == tag)
            .select(
                F.col("id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.timestamp_seconds("ep").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", f"{JOIN_BOUND_S} seconds")
        )

    left, right = side("L", "l"), side("R", "r")
    joined = left.join(
        right,
        (F.col("r_user") == F.col("l_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (
            F.col("r_ts")
            <= F.col("l_ts") + F.expr(f"INTERVAL {JOIN_BOUND_S} SECONDS")
        ),
        "leftOuter",
    ).select(
        "l_id",
        F.col("l_user").alias("user_id"),
        F.unix_timestamp("l_ts").alias("l_ep"),
        "r_id",
        F.unix_timestamp("r_ts").alias("r_ep"),
    )
    name = f"joinfeed_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= expected:
                break
            time.sleep(0.2)
        else:
            raise TimeoutError("join feed did not flush within 120 s")
        # settle: a buggy extra emission (e.g. the sentinel flushing)
        # must FAIL the gate, not race past it
        time.sleep(2.0)
    finally:
        q.stop()
    return spark.table(name)


# ---------------------------------------------------------------------------
# transformWithStateInPandas: Spark 4's arbitrary-stateful API.
#
# NOT a catalog entry in this container: the TWS state protocol speaks
# protobuf between the JVM and the Python driver worker, and
# google.protobuf is absent here (no pip installs) — the query crashes
# at StateMessage_pb2 import, observed and pinned in
# tests/test_round6c.py::TestTransformWithState (importorskip). The
# builder below is complete and oracle-shaped; in an environment with
# protobuf it certifies by the same batch-aggregate comparison, and
# applyInPandasWithState (st_stateful_sessions) covers the
# arbitrary-stateful contract in the gate meanwhile.
# ---------------------------------------------------------------------------
def st_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals through a custom StatefulProcessor.

    The processor keeps (n, cents) in ValueState and emits the updated
    snapshot for every key that saw input in a micro-batch; with
    maxFilesPerTrigger=2 over 8 files the feed is a REAL 4-batch
    stream, so a state-loss bug (e.g. state not persisted between
    batches) yields terminal snapshots below the batch totals and
    fails the hash. Terminal selection is argmax by n — emission
    counts per user depend on batching, the terminal value doesn't.

    Scale: this is the API for operators watermarks can't express
    (per-key models, CDC folds with custom conflict rules); state
    lives in RocksDB per partition, sized by keys not events."""
    import pandas as pd

    from pyspark.sql import types as T
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from oroboro_dw_dbt_spark.streaming.jobs import _events_stream_dir

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = T.StructType(
                [
                    T.StructField("n", T.LongType()),
                    T.StructField("cents", T.LongType()),
                ]
            )
            self._agg = handle.getValueState("agg", schema)

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (
                tuple(self._agg.get()) if self._agg.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self._agg.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "cents": [cents]}
            )

        def close(self) -> None:
            pass

    import uuid

    src_dir = _events_stream_dir(spark, sf_dir)
    from oroboro_dw_dbt_spark.streaming.jobs import EVENTS_SCHEMA

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
            .select(
                "user_id",
                F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
                .cast("bigint")
                .alias("cents"),
            )
        )
        snapshots = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType="user_id bigint, n bigint, cents bigint",
            outputMode="Update",
            timeMode="None",
        )
        name = f"tws_{uuid.uuid4().hex[:8]}"
        q = (
            snapshots.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.expr("max_by(cents, n)").cast("bigint").alias("cents"),
        )
    )


# ---------------------------------------------------------------------------
# Sliding windows as a REAL stream (the overlapping-state shape).
# ---------------------------------------------------------------------------
@query(
    "st_sliding_stream",
    # identical oracle to the batch twin w_sliding_window — the stream
    # must settle to the batch answer with ×4 overlapping windows of
    # state per event
    oracle=f"""
    WITH e AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep, {_CENTS} AS cents
      FROM events
    ),
    x AS (
      SELECT (ep // 900) * 900 - j.j * 900 AS ws, cents
      FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j
    )
    SELECT make_timestamp(ws * 1000000) AS window_start,
           make_timestamp((ws + 3600) * 1000000) AS window_end,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM x GROUP BY ws
    """,
    survey_ref="beyond-reference: SLIDING windows under Structured "
    "Streaming — overlapping window state (4 live windows per event) "
    "settles to the batch twin exactly (w_sliding_window)",
)
def st_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window aggregation == the batch twin.

    Each arriving event updates FOUR window states (size/slide) — the
    state shape tumbling entries never exercise. Complete-mode memory
    sink for the settled comparison; production uses append +
    watermark where state stays bounded at (watermark span / slide)
    windows per key — the certified arithmetic is identical."""
    import uuid

    from oroboro_dw_dbt_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        _events_stream_dir,
    )

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(
        _events_stream_dir(spark, sf_dir)
    )
    cents = (
        F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
        .cast("bigint")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .select("ts", cents.alias("cents"))
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
            "cents",
        )
    )
    name = f"slide_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# Sweep-line concurrency: max overlapping intervals per key.
# ---------------------------------------------------------------------------
@query(
    "ev_overlap_concurrency",
    # classic sweep line: +1 at start, −1 after end, running sum in
    # (time, delta) order = live-interval count; its max is the
    # answer. Identical window program on both engines.
    oracle="""
    WITH iv AS (
      SELECT o_custkey % 25 AS key,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + INTERVAL (o_orderkey % 14 + 1) DAY AS e
      FROM orders
    ),
    pts AS (
      SELECT key, s AS d, 1 AS delta FROM iv
      UNION ALL
      SELECT key, e + INTERVAL 1 DAY, -1 FROM iv
    ),
    run AS (
      SELECT key, d,
             sum(delta) OVER (
               PARTITION BY key ORDER BY d, delta
               ROWS UNBOUNDED PRECEDING) AS live
      FROM pts
    )
    SELECT CAST(key AS BIGINT) AS key,
           CAST(max(live) AS BIGINT) AS max_concurrent
    FROM run GROUP BY key
    """,
    survey_ref="beyond-reference: sweep-line max concurrency — peak "
    "overlapping intervals per key (capacity/occupancy analytics; the "
    "aggregation sibling of j_interval_overlap's pairing)",
)
def ev_overlap_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous open orders per customer bucket.

    The sweep line turns interval overlap counting from quadratic
    pairing into O(n log n): two events per interval, one partitioned
    running sum, one max. Tie order is pinned (delta ASC puts the −1
    before the +1 at the same date, so back-to-back intervals — end+1
    == next start — do NOT count as concurrent). At 100 TB this is
    the occupancy-curve plan: one shuffle on key, windows reuse it."""
    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        (F.col("o_custkey") % 25).alias("key"),
        F.to_date("o_orderdate").alias("s"),
        F.date_add(
            F.to_date("o_orderdate"),
            (F.col("o_orderkey") % 14 + 1).cast("int"),
        ).alias("e"),
    )
    pts = iv.select(
        "key", F.col("s").alias("d"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(
            "key", F.date_add("e", 1).alias("d"), F.lit(-1).alias("delta")
        )
    )
    live = F.sum("delta").over(
        Window.partitionBy("key")
        .orderBy("d", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        pts.withColumn("live", live)
        .groupBy(F.col("key").cast("bigint").alias("key"))
        .agg(F.max("live").cast("bigint").alias("max_concurrent"))
    )


_PACK_EV = 1 << 24  # off_s (<2^22) * 2^24 + event_id*2 + tcode stays < 2^47


@query(
    "ev_attribution_credit",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) - {_ORIGIN_S} AS off_s
      FROM events
    ),
    fr AS (
      SELECT *,
             count(CASE WHEN event_type IN ('view', 'click') THEN 1 END) OVER w
               AS n_t,
             count(CASE WHEN event_type = 'view' THEN 1 END) OVER w AS n_v,
             min(CASE WHEN event_type IN ('view', 'click')
                 THEN off_s * {_PACK_EV} + event_id * 2
                      + CAST(event_type = 'click' AS BIGINT) END) OVER w
               AS first_pack,
             max(CASE WHEN event_type IN ('view', 'click')
                 THEN off_s * {_PACK_EV} + event_id * 2
                      + CAST(event_type = 'click' AS BIGINT) END) OVER w
               AS last_pack
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY off_s
                   RANGE BETWEEN {_LOOKBACK_S} PRECEDING AND 1 PRECEDING)
    ),
    conv AS (
      SELECT n_t, n_v, n_t - n_v AS n_c,
             CAST(first_pack % 2 = 0 AS BIGINT) AS f_v,
             CAST(last_pack % 2 = 0 AS BIGINT) AS l_v
      FROM fr WHERE event_type = 'purchase' AND n_t > 0
    ),
    credit AS (
      SELECT
        CASE WHEN n_t = 1 THEN 1000000 * f_v
             WHEN n_t = 2 THEN 500000 * f_v + 500000 * l_v
             ELSE CAST(round(400000 * f_v + 400000 * l_v
                  + 200000.0 * (n_v - f_v - l_v) / (n_t - 2), 0) AS BIGINT)
        END AS c_view,
        CASE WHEN n_t = 1 THEN 1000000 * (1 - f_v)
             WHEN n_t = 2 THEN 500000 * (1 - f_v) + 500000 * (1 - l_v)
             ELSE CAST(round(400000 * (1 - f_v) + 400000 * (1 - l_v)
                  + 200000.0 * (n_c - (1 - f_v) - (1 - l_v)) / (n_t - 2), 0)
                  AS BIGINT)
        END AS c_click
      FROM conv
    )
    SELECT 'view' AS touch_type,
           CAST(count(CASE WHEN c_view > 0 THEN 1 END) AS BIGINT) AS conversions,
           CAST(sum(c_view) AS BIGINT) AS credit_micro
    FROM credit
    UNION ALL
    SELECT 'click', CAST(count(CASE WHEN c_click > 0 THEN 1 END) AS BIGINT),
           CAST(sum(c_click) AS BIGINT)
    FROM credit
    """,
    survey_ref="beyond-reference: U-shaped (40/20/40) multi-touch "
    "attribution via RANGE-frame packed argmin/argmax — no "
    "touch×conversion join",
)
def ev_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based attribution credit per touch type.

    Each purchase reads its 3-day touch window through FOUR frame
    aggregates over ONE (user_id, off_s) sort — count, view-count, and
    packed argmin/argmax (off·2²⁴ + event_id·2 + is_click, unique per
    event, so ties at the same second stay deterministic). Per-purchase
    credits round to micro fixed-point BEFORE the global sum, keeping
    the cross-purchase aggregation an integer sum. Scale: identical to
    the sessionized-funnel plan — one shuffle on user_id, value-bounded
    frame state, no self-join."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        (F.unix_timestamp("ts") - _ORIGIN_S).alias("off_s"),
    )
    is_touch = F.col("event_type").isin("view", "click")
    pack = F.when(
        is_touch,
        F.col("off_s") * _PACK_EV
        + F.col("event_id") * 2
        + (F.col("event_type") == "click").cast("long"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("off_s")
        .rangeBetween(-_LOOKBACK_S, -1)
    )
    fr = e.select(
        "event_type",
        F.count(F.when(is_touch, F.lit(1))).over(w).alias("n_t"),
        F.count(F.when(F.col("event_type") == "view", F.lit(1)))
        .over(w)
        .alias("n_v"),
        F.min(pack).over(w).alias("first_pack"),
        F.max(pack).over(w).alias("last_pack"),
    )
    conv = fr.where((F.col("event_type") == "purchase") & (F.col("n_t") > 0)).select(
        "n_t",
        "n_v",
        (F.col("n_t") - F.col("n_v")).alias("n_c"),
        (F.col("first_pack") % 2 == 0).cast("long").alias("f_v"),
        (F.col("last_pack") % 2 == 0).cast("long").alias("l_v"),
    )

    def credit(nty, first, last):
        mid = nty - first - last
        return (
            F.when(F.col("n_t") == 1, 1000000 * first)
            .when(F.col("n_t") == 2, 500000 * first + 500000 * last)
            .otherwise(
                F.round(
                    400000 * first
                    + 400000 * last
                    + 200000.0 * mid / (F.col("n_t") - 2),
                    0,
                ).cast("long")
            )
        )

    one = F.lit(1)
    cr = conv.select(
        credit(F.col("n_v"), F.col("f_v"), F.col("l_v")).alias("c_view"),
        credit(
            F.col("n_c"), one - F.col("f_v"), one - F.col("l_v")
        ).alias("c_click"),
    )
    out = cr.agg(
        F.count(F.when(F.col("c_view") > 0, F.lit(1))).alias("conv_v"),
        F.sum("c_view").alias("cred_v"),
        F.count(F.when(F.col("c_click") > 0, F.lit(1))).alias("conv_c"),
        F.sum("c_click").alias("cred_c"),
    )
    return out.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("view").alias("touch_type"),
                    F.col("conv_v").alias("conversions"),
                    F.col("cred_v").alias("credit_micro"),
                ),
                F.struct(
                    F.lit("click").alias("touch_type"),
                    F.col("conv_c").alias("conversions"),
                    F.col("cred_c").alias("credit_micro"),
                ),
            )
        ).alias("r")
    ).select("r.touch_type", "r.conversions", "r.credit_micro")

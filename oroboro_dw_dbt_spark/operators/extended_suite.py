"""Catalog entries widening the relational surface beyond the
reference: temporal and interval joins (as-of, tolerance, bucketed
range, overlap), analytic windows (lead/lag/frames, value, distribution,
session and sliding windows), exact aggregates, time series
(interpolation, EWMA, period-over-period), set operations, rollup, and
pivot.

The reference uses none of these (SURVEY §2.12 absent-list), but a user
migrating real warehouse workloads expects them; each is expressed as a
single declarative plan and oracle-checked against DuckDB (which has
native ASOF JOIN — the as-of entry's oracle — and BETWEEN joins for the
range entry)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.ops import asof_join, bucketed_range_join
from oroboro_dw_dbt_spark.sources.testdata import load_table


@query(
    "tj_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS asof_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
    survey_ref="beyond-reference: as-of join (latest prior click per "
    "purchase) — union + running last(), one shuffle, no join node",
)
def tj_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    return asof_join(purchases, clicks, key="user_id")


@query(
    "tj_asof_forward",
    # DuckDB ASOF with >= is the forward direction: earliest future
    # click at-or-after each purchase
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS next_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts >= p.ts
    """,
    survey_ref="beyond-reference: forward as-of join (earliest "
    "at-or-after match — the reaction-time/next-event direction)",
)
def tj_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    return asof_join(
        purchases, clicks, key="user_id", direction="forward", prefix="next_"
    )


@query(
    "tj_asof_nearest",
    # the third as-of direction: temporally NEAREST match either way,
    # ties broken toward the earlier (backward) match. Composed from
    # the two one-sided as-ofs; distances compare in exact integer
    # microseconds (epoch doubles lose ulps at 2024-scale epochs)
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    b AS (SELECT p.event_id, p.user_id, p.ts, c.ts AS prev_ts
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND c.ts <= p.ts),
    f AS (SELECT p.event_id, c.ts AS next_ts
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND c.ts >= p.ts)
    SELECT b.event_id, b.user_id, b.ts,
           CASE
             WHEN prev_ts IS NULL THEN next_ts
             WHEN next_ts IS NULL THEN prev_ts
             WHEN epoch_us(b.ts) - epoch_us(prev_ts)
                  <= epoch_us(next_ts) - epoch_us(b.ts) THEN prev_ts
             ELSE next_ts
           END AS nearest_ts
    FROM b JOIN f USING (event_id)
    """,
    survey_ref="beyond-reference: nearest as-of join (closest match in "
    "either direction, tie toward backward) — composition of the two "
    "one-sided as-ofs, still no join node on the fact",
)
def tj_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest click to each purchase, either direction.

    Composed from the backward and forward as-ofs (each a union +
    running last/first over one user_id shuffle — ops/asof.py), then a
    per-event pick on exact microsecond distances. The compose join is
    on event_id between two frames that are already purchase-sized —
    at 100 TB both inherit the same user_id partitioning, and AQE
    plans the event_id join after both sides shrank to the probe
    table's cardinality. Tie-break toward the earlier match is pinned
    (SURVEY §2.5 W4's nondeterminism lesson applies to time distance
    ties too: |prev−ts| == |next−ts| happens in real clickstreams)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    back = asof_join(purchases, clicks, key="user_id").withColumnRenamed(
        "asof_ts", "prev_ts"
    )
    fwd = asof_join(
        purchases, clicks, key="user_id", direction="forward", prefix="next_"
    ).select("event_id", "next_ts")
    d_prev = F.unix_micros("ts") - F.unix_micros("prev_ts")
    d_next = F.unix_micros("next_ts") - F.unix_micros("ts")
    return back.join(fwd, "event_id").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("prev_ts").isNull(), F.col("next_ts"))
        .when(F.col("next_ts").isNull(), F.col("prev_ts"))
        .when(d_prev <= d_next, F.col("prev_ts"))
        .otherwise(F.col("next_ts"))
        .alias("nearest_ts"),
    )


@query(
    "tj_range_join",
    oracle="""
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT e.event_id) AS BIGINT) AS n_events
    FROM events e
    JOIN (SELECT ts AS lo, ts + INTERVAL 5 MINUTE AS hi
          FROM events WHERE event_type = 'error') r
      ON e.ts >= r.lo AND e.ts <= r.hi
    GROUP BY e.event_type
    """,
    survey_ref="beyond-reference: bucketed range join (points-in-"
    "intervals as equi-join on time bucket + residual, not nested loop)",
)
def tj_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    intervals = ev.filter(F.col("event_type") == "error").select(
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("hi"),
    )
    pairs = bucketed_range_join(
        ev.select("event_id", "event_type", "ts"), intervals, "ts", "lo", "hi"
    )
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("event_id").cast("bigint").alias("n_events"),
    )


@query(
    "tj_point_in_time",
    # the feature-store lookup: each fact row joins the dimension
    # VERSION that was valid at the fact's event time. The versioned
    # dimension is derived deterministically (3 era intervals per
    # customer, feature = acctbal scaled per era) so the oracle can
    # rebuild it; every order falls in exactly one era by construction.
    oracle="""
    WITH eras AS (
      SELECT * FROM (VALUES
        (1, TIMESTAMP '1995-01-01 00:00:00', TIMESTAMP '1997-01-01 00:00:00'),
        (2, TIMESTAMP '1997-01-01 00:00:00', TIMESTAMP '1999-01-01 00:00:00'),
        (3, TIMESTAMP '1999-01-01 00:00:00', TIMESTAMP '2002-01-01 00:00:00')
      ) AS t(version, valid_from, valid_to)
    ),
    dim AS (
      SELECT c_custkey, version, valid_from, valid_to,
             CAST(ROUND(CAST(c_acctbal AS DECIMAL(12,4)) * version, 2)
                  AS DOUBLE) AS feature
      FROM customer CROSS JOIN eras
    )
    SELECT o_orderkey, o_custkey, version, feature
    FROM orders
    JOIN dim ON c_custkey = o_custkey
            AND o_orderdate >= valid_from AND o_orderdate < valid_to
    """,
    survey_ref="beyond-reference: point-in-time (feature-store) join — "
    "fact rows join the dimension version valid at event time; the op "
    "that prevents training-serving skew in feature pipelines",
)
def tj_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order joined to the customer-feature VERSION valid at its
    order date — the point-in-time-correct lookup every feature
    pipeline needs (joining today's feature values onto historical
    facts leaks the future into training).

    Plan shape: equi-join on the entity key carries the interval
    containment as a residual — no range bucketing needed because
    versions-per-key is small (the SCD2 situation; an unkeyed interval
    join is tj_range_join's bucketed territory). At 100 TB the shuffle
    is the fact⋈dim key join; AQE broadcasts the dimension while its
    version count × entities fits. Exactly-one-match is structural
    here (eras partition the span); production guards it with the
    h_scd2_snapshot interval invariants this repo pytest-certifies."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    eras = spark.createDataFrame(
        [
            (1, "1995-01-01 00:00:00", "1997-01-01 00:00:00"),
            (2, "1997-01-01 00:00:00", "1999-01-01 00:00:00"),
            (3, "1999-01-01 00:00:00", "2002-01-01 00:00:00"),
        ],
        "version int, valid_from string, valid_to string",
    ).select(
        "version",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    dim = cust.crossJoin(F.broadcast(eras)).select(
        "c_custkey",
        "version",
        "valid_from",
        "valid_to",
        F.round(F.col("c_acctbal").cast("decimal(12,4)") * F.col("version"), 2)
        .cast("double")
        .alias("feature"),
    )
    return orders.join(
        dim,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderdate") >= F.col("valid_from"))
        & (F.col("o_orderdate") < F.col("valid_to")),
    ).select("o_orderkey", "o_custkey", "version", "feature")


@query(
    "w_lead_lag_frames",
    oracle="""
    SELECT event_id,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           CAST(round(sum(CAST(value AS DECIMAL(12,4)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
                AS DOUBLE) AS rsum3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    survey_ref="beyond-reference: lead/lag + explicit ROWS frame "
    "(absent from the reference, SURVEY §2.12)",
)
def w_lead_lag_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(
            F.sum(F.col("value").cast("decimal(12,4)")).over(w.rowsBetween(-2, 0)), 2
        )
        .cast("double")
        .alias("rsum3"),
    )


@query(
    "set_intersect_except",
    oracle="""
    SELECT user_id, 'both' AS op FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT user_id, 'click_only' AS op FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase')
    """,
    survey_ref="beyond-reference: INTERSECT / EXCEPT (absent-list §2.12)",
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    # intersect/subtract are the DISTINCT set ops, matching SQL
    # INTERSECT / EXCEPT (exceptAll would be the multiset variant)
    return clicks.intersect(buys).withColumn("op", F.lit("both")).unionByName(
        clicks.subtract(buys).withColumn("op", F.lit("click_only"))
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(GROUPING(event_type) * 2 + GROUPING(CAST(ts AS DATE)) AS BIGINT)
             AS grp_id,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
    """,
    survey_ref="beyond-reference: ROLLUP with grouping ids (absent-list §2.12)",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    return (
        ev.rollup("event_type", "day")
        .agg(
            F.grouping_id().cast("bigint").alias("grp_id"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select("event_type", "day", "grp_id", "n")
    )


_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


@query(
    "pivot_wide",
    oracle="""
    SELECT user_id,
           {cols}
    FROM events
    GROUP BY user_id
    """.format(
        cols=",\n           ".join(
            f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS n_{t}"
            for t in _EVENT_TYPES
        )
    ),
    survey_ref="beyond-reference: PIVOT to wide per-entity features "
    "(explicit value list — no extra distinct pass at scale)",
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return wide.select(
        "user_id", *[F.col(t).cast("bigint").alias(f"n_{t}") for t in _EVENT_TYPES]
    )


# ---------------------------------------------------------------------------
# Warehouse history: SCD2 snapshot + MERGE upsert (dbt lifecycle completion)
# ---------------------------------------------------------------------------
@query(
    "h_scd2_snapshot",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE rn = 1 OR event_type IS DISTINCT FROM prev
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           lead(ts) OVER w2 IS NULL AS is_current,
           CAST(row_number() OVER w2 AS INT) AS version
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    survey_ref="beyond-reference: dbt-snapshot-style SCD type-2 build "
    "from a change-event feed (collapse unchanged, close intervals; "
    "one shuffle, sort reused across both windows)",
)
def h_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.ops import scd2_from_events

    ev = load_table(spark, sf_dir, "events")
    return scd2_from_events(ev, key="user_id", attr="event_type")


@query(
    "h_merge_upsert",
    # fixture: target = all customers; source = every 5th customer with a
    # bumped balance (updates), every 7th≡3 shifted key (inserts), and
    # every 10th unchanged — derived IDENTICALLY on both engines
    oracle="""
    WITH tgt AS (
      SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    ),
    src AS (
      SELECT c_custkey,
             c_mktsegment,
             CAST(round(c_acctbal + 100.0, 2) AS DOUBLE) AS c_acctbal
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey + 1000000, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 7 = 3
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 10 = 1
    )
    SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                ELSE t.c_mktsegment END AS c_mktsegment,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal,
           CASE WHEN t.c_custkey IS NULL THEN 'insert'
                WHEN s.c_custkey IS NULL THEN 'keep'
                WHEN (t.c_mktsegment IS DISTINCT FROM s.c_mktsegment)
                  OR (t.c_acctbal IS DISTINCT FROM s.c_acctbal) THEN 'update'
                ELSE 'unchanged' END AS action
    FROM tgt t FULL OUTER JOIN src s USING (c_custkey)
    """,
    survey_ref="beyond-reference: MERGE upsert decision plan — one "
    "full-outer key-equi join, insert/update/unchanged/keep, null-safe "
    "compares; no broadcast assumption (holds when both sides are huge)",
)
def h_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.ops import merge_upsert

    cust = load_table(spark, sf_dir, "customer")
    tgt = cust.select("c_custkey", "c_mktsegment", "c_acctbal")
    key = F.col("c_custkey")
    src = (
        tgt.filter(key % 5 == 0).withColumn(
            "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2).cast("double")
        )
        .unionAll(
            tgt.filter(key % 7 == 3).withColumn("c_custkey", key + 1000000)
        )
        .unionAll(tgt.filter(key % 10 == 1))
    )
    return merge_upsert(tgt, src, keys=["c_custkey"])


@query(
    "agg_cube",
    # decimal-cast sum: integer cents are order-independent, so the hash
    # cannot flake on float partial-agg ordering
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
             AS grp_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    survey_ref="beyond-reference: CUBE over status x priority with "
    "grouping ids (completes ROLLUP/CUBE/GROUPING SETS family)",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("grp_id"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "grp_id", "n", "total_price")
    )


@query(
    "w_rank_suite",
    # every ranking fn over ONE window spec (o_totalprice, o_orderkey
    # pinned total order): single sort, no per-function re-shuffle
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4)     OVER w AS INT)    AS quartile,
           round(percent_rank() OVER w, 6)     AS pct_rank,
           round(cume_dist()    OVER w, 6)     AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    survey_ref="beyond-reference: ranking-function family (rank, "
    "dense_rank, ntile, percent_rank, cume_dist) on one shared window",
)
def w_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "w_rank_twophase",
    # the SAME oracle as w_rank_suite: a hash match proves the two-phase
    # rewrite (range partition -> local row_number -> offset add) is
    # exactly the window's semantics, closing the SCALE.md
    # "single-task sort per group" caveat with certified code
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(rank()       OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4)     OVER w AS INT)    AS quartile,
           round(percent_rank() OVER w, 6)     AS pct_rank,
           round(cume_dist()    OVER w, 6)     AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
    survey_ref="beyond-reference: two-phase exact ranking — the scale "
    "rewrite of w_rank_suite (no single-task sort per group; sorts "
    "bounded by range-partition size, offsets from a KB-scale count "
    "table)",
)
def w_rank_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.ops import ranking_family

    orders = load_table(spark, sf_dir, "orders")
    return ranking_family(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        part_cols=["o_orderpriority"],
        order_cols=["o_totalprice", "o_orderkey"],
    ).select("o_orderkey", "o_orderpriority", "rnk", "drnk", "quartile", "pct_rank", "cume")


@query(
    "a_exact_percentiles",
    # exact linear-interpolation percentiles: both engines sort the group
    # and interpolate between the same two doubles — deterministic, unlike
    # a float SUM (no addition-order dependence)
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6)  AS p50,
           round(quantile_cont(l_quantity, 0.9), 6)  AS p90,
           round(quantile_cont(l_quantity, 0.99), 6) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
    survey_ref="beyond-reference: exact percentiles (sort-based linear "
    "interpolation; the exact twin of sk_approx_quantiles)",
)
def a_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("double")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile(q, F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(q, F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile(q, F.lit(0.99)), 6).alias("p99"),
    )


@query(
    "a_regression_stats",
    # least-squares slope/intercept of value-vs-time per event_type with
    # EXACT arithmetic: x = epoch seconds (int), y = value micro-quantized
    # to int, all moment sums as DECIMAL(38,0) (hugeint in DuckDB) — no
    # float partial-sum ordering anywhere until the final division
    oracle="""
    WITH pts AS (
      SELECT event_type,
             -- floor(): Spark's unix_timestamp truncates sub-second
             -- fractions; a bare CAST here would round them instead
             CAST(floor(epoch(ts)) AS HUGEINT) AS x,
             CAST(floor(value * 1000000 + 0.5) AS HUGEINT) AS y
      FROM events
    ),
    m AS (
      SELECT event_type,
             count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0, 6) AS slope_micro,
           round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / n / 1000000.0, 6) AS intercept
    FROM m
    """,
    survey_ref="beyond-reference: per-group least-squares trend (exact "
    "decimal moment sums -> order-independent; one map-side-combinable "
    "aggregation)",
)
def a_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = F.unix_timestamp("ts").cast("decimal(38,0)")
    y = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("decimal(38,0)")
    m = ev.select("event_type", x.alias("x"), y.alias("y")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(slope * 1000000.0, 6).alias("slope_micro"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / 1000000.0,
            6,
        ).alias("intercept"),
    )


@query(
    "j_semi_anti",
    oracle="""
    SELECT c_custkey, 'has_orders' AS op FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, 'no_orders' AS op FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    survey_ref="beyond-reference: explicit LEFT SEMI / LEFT ANTI joins "
    "(EXISTS / NOT EXISTS) — no fan-out, no dedup pass",
)
def j_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    okeys = load_table(spark, sf_dir, "orders").select("o_custkey")
    cond = F.col("c_custkey") == F.col("o_custkey")
    return (
        cust.join(okeys, cond, "left_semi")
        .withColumn("op", F.lit("has_orders"))
        .unionByName(
            cust.join(okeys, cond, "left_anti").withColumn("op", F.lit("no_orders"))
        )
    )


@query(
    "m_safe_math",
    # BigQuery SAFE.* semantics via Spark try_* — NULL instead of error,
    # with ANSI mode left ON (SURVEY §7.2 decision)
    oracle="""
    SELECT o_orderkey,
           o_totalprice / nullif(CAST(o_orderkey % 4 AS DOUBLE), 0.0) AS safe_div,
           TRY_CAST(o_orderpriority AS INT) AS bad_int,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num
    FROM orders
    """,
    survey_ref="§2.9 M1 division semantics: try_divide / try_cast keep "
    "ANSI on while matching BigQuery SAFE.* null-on-error",
)
def m_safe_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_orderkey") % 4).cast("double")
        ).alias("safe_div"),
        F.try_to_number(F.col("o_orderpriority"), F.lit("9")).cast("int").alias("bad_int"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_num"),
    )


@query(
    "w_time_range_frames",
    # RANGE frame keyed on epoch-MICROSECONDS on both engines: a cast to
    # whole seconds would move the 1-hour boundary for sub-second event
    # times; peers (equal timestamps) are included by RANGE semantics
    # identically on both sides
    oracle="""
    SELECT event_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(round(sum(CAST(value AS DECIMAL(12,4))) OVER w, 2) AS DOUBLE)
             AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    survey_ref="beyond-reference: time-RANGE window frames (rolling "
    "1-hour per-user aggregates — the sliding-lookback shape ROWS "
    "frames can't express)",
)
def w_time_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 1-hour count/sum via a RANGE BETWEEN frame over
    epoch-micros. One shuffle on user_id (high-cardinality, even), then
    a single sort serves the frame scan — at 100 TB identical shape to
    the batch sessionization. DECIMAL accumulates the sum exactly; the
    rounded double is the cross-engine contract."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
        F.round(F.sum(F.col("value").cast("decimal(12,4)")).over(w), 2)
        .cast("double")
        .alias("sum_1h"),
    )


@query(
    "ev_anomaly_zscore",
    # every aggregate feeding the z-score is an exact DECIMAL sum, so
    # mean/variance derive from bit-identical doubles on both engines
    # and the final round(z, 6) cannot flake (the float-sum-order
    # lesson from the round-1 flagship failures)
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(round(sum(CAST(value AS DECIMAL(12,4))), 2) AS DECIMAL(14,2)) AS x
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sum_x,
             sum(x * x) AS sum_xx
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.hr, CAST(h.x AS DOUBLE) AS hourly_value,
           round((CAST(h.x AS DOUBLE) - CAST(s.sum_x AS DOUBLE) / s.n)
                 / sqrt((CAST(s.sum_xx AS DOUBLE)
                         - CAST(s.sum_x AS DOUBLE) * CAST(s.sum_x AS DOUBLE) / s.n)
                        / (s.n - 1)), 6) AS z
    FROM hourly h JOIN stats s USING (event_type)
    WHERE s.n > 1
      AND (CAST(s.sum_xx AS DOUBLE)
           - CAST(s.sum_x AS DOUBLE) * CAST(s.sum_x AS DOUBLE) / s.n) > 0
    """,
    survey_ref="beyond-reference: per-series z-score anomaly detection "
    "over hourly rollups (exact decimal moments -> deterministic z)",
)
def ev_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume anomalies per event_type: z-score of each hour's
    value against the series' own distribution. Two shuffles total
    (hourly rollup, then per-type moments joined back — the moments
    side is tiny and broadcasts). Moments accumulate in DECIMAL so the
    derived mean/σ are bit-identical across engines."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(12,4)")), 2)
        .cast("decimal(14,2)")
        .alias("x")
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sum_x"),
        F.sum(F.col("x") * F.col("x")).alias("sum_xx"),
    )
    xd = F.col("x").cast("double")
    sxd = F.col("sum_x").cast("double")
    sxxd = F.col("sum_xx").cast("double")
    var_num = sxxd - sxd * sxd / F.col("n")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter((F.col("n") > 1) & (var_num > 0))
        .select(
            "event_type",
            "hr",
            xd.alias("hourly_value"),
            F.round((xd - sxd / F.col("n")) / F.sqrt(var_num / (F.col("n") - 1)), 6).alias("z"),
        )
    )


@query(
    "p_unpivot_long",
    # the oracle restates UNPIVOT as its defining UNION ALL expansion —
    # engine-portable, and proves the wide->long reshape loses nothing
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
             CAST(round(sum(CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS value FROM wide
    """,
    survey_ref="beyond-reference: UNPIVOT / melt (wide->long reshape — "
    "the inverse of pivot_wide, §2.12 absent from the reference)",
)
def p_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide metric columns melted to (id, metric, value) rows with the
    DataFrame unpivot API. Row-local reshape: the fan-out multiplies
    rows AFTER the aggregate (3 × |groups|), so nothing new shuffles —
    the safe direction to run at any scale (pivot, the inverse, is the
    one that needs a value allowlist)."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        *[
            F.round(F.sum(F.col(c).cast("decimal(18,4)")), 2)
            .cast("double")
            .alias(a)
            for c, a in [
                ("l_quantity", "sum_qty"),
                ("l_extendedprice", "sum_price"),
                ("l_discount", "sum_disc"),
            ]
        ]
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "a_regression_pandas",
    # SAME oracle as a_regression_stats: the entry certifies the
    # grouped-map applyInPandas API produces bit-identical results to
    # the Column-expression plan. Python ints are arbitrary-precision —
    # the kernel's moment sums are exact like the DECIMAL(38,0)/HUGEINT
    # sums, and the final float divisions mirror the SQL's cast order
    # op-for-op; rounding happens JVM-side (HALF_UP, like the oracle).
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS HUGEINT) AS x,
             CAST(floor(value * 1000000 + 0.5) AS HUGEINT) AS y
      FROM events
    ),
    m AS (
      SELECT event_type,
             count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM pts GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0, 6) AS slope_micro,
           round((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 / n / 1000000.0, 6) AS intercept
    FROM m
    """,
    survey_ref="beyond-reference API surface: grouped-map applyInPandas "
    "(per-group kernel), result-identical to the Column-tree twin",
)
def a_regression_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least squares via applyInPandas: one pandas kernel per
    event_type computes the moment sums as Python ints (exact, like the
    twin's DECIMAL(38,0)) and the slope/intercept with float ops
    mirroring the SQL cast-for-cast. Grouped-map shuffles each group to
    one kernel call — right when per-group state must live in Python
    (models, scipy); the Column-tree twin (a_regression_stats) is the
    plan to prefer when expressions suffice."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = [int(t.value // 1_000_000_000) for t in pdf["ts"]]
        ys = [int((v * 1_000_000 + 0.5) // 1) for v in pdf["value"]]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
        intercept = (float(sy) - slope * float(sx)) / float(n) / 1_000_000.0
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": pd.Series([n], dtype="int64"),
                "slope_raw": [slope * 1_000_000.0],
                "intercept_raw": [intercept],
            }
        )

    fitted = ev.groupBy("event_type").applyInPandas(
        fit, "event_type string, n bigint, slope_raw double, intercept_raw double"
    )
    return fitted.select(
        "event_type",
        "n",
        F.round("slope_raw", 6).alias("slope_micro"),
        F.round("intercept_raw", 6).alias("intercept"),
    )


@query(
    "p_null_semantics",
    # Spark's <=> is DuckDB's IS NOT DISTINCT FROM; COUNT(col) skips
    # NULLs while COUNT(*) doesn't; sum over an all-NULL group is NULL,
    # not 0 — the three null traps every dialect port hits
    oracle="""
    SELECT nullif(o_orderkey % 5, 0) AS a_val,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(nullif(o_orderkey % 3, 0)) AS BIGINT) AS n_b_nonnull,
           CAST(sum(CASE WHEN nullif(o_orderkey % 5, 0)
                         IS NOT DISTINCT FROM nullif(o_orderkey % 3, 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ns_eq,
           CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                         ELSE o_orderkey END) AS DOUBLE) AS sum_with_nulls
    FROM orders
    GROUP BY 1
    """,
    survey_ref="beyond-reference dialect surface: null-safe equality "
    "(<=> / IS NOT DISTINCT FROM), COUNT(col) NULL-skipping, "
    "NULL-propagating aggregates",
)
def p_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = F.nullif(F.col("o_orderkey") % 5, F.lit(0))
    b = F.nullif(F.col("o_orderkey") % 3, F.lit(0))
    return (
        orders.select(
            a.alias("a_val"),
            b.alias("b"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
            .otherwise(F.col("o_orderkey"))
            .alias("k7"),
        )
        .groupBy("a_val")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count("b").cast("bigint").alias("n_b_nonnull"),
            F.sum(F.col("a_val").eqNullSafe(F.col("b")).cast("int"))
            .cast("bigint")
            .alias("n_ns_eq"),
            F.sum("k7").cast("double").alias("sum_with_nulls"),
        )
    )


@query(
    "f_map_ops",
    # the map is engine-internal (map key order is unspecified, so maps
    # never appear in output); the entry certifies the MapType
    # roundtrip by identity: build map -> explode back must reproduce
    # the plain aggregation exactly
    oracle="""
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE user_id % 11 = 0
    GROUP BY user_id, event_type
    """,
    survey_ref="beyond-reference API surface: MapType "
    "(map_from_entries / explode-to-entries roundtrip, certified by "
    "identity)",
)
def f_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type count map: collect (type, n) entries into a
    MAP column, then explode the map back to rows. Map columns are the
    right shape for sparse per-entity features at 100 TB (one row per
    entity, not per feature) — but they stay engine-internal here
    because map iteration order is unspecified, so the certified
    surface is the lossless roundtrip."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 11 == 0)
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    mapped = per_user.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    return mapped.select(
        "user_id", F.explode("type_counts").alias("event_type", "n")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    survey_ref="beyond-reference: explicit GROUPING SETS with grouping "
    "flags (the arbitrary-subtotal shape rollup/cube can't pick freely)",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary subtotal lattice via GROUPING SETS (one pass, Expand
    node — each input row fans to its 3 grouping sets before one
    aggregation; no union of separate scans). gid disambiguates real
    NULL group values from subtotal rows, exactly as in agg_rollup."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS sum_qty,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
                 AS gid
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "f_pandas_udf_scalar",
    # same-oracle twin of a Column expression: the vectorized scalar
    # pandas_udf (Arrow series -> series) must add no numeric drift
    oracle="""
    SELECT o_orderkey,
           round(1.0 / (1.0 + exp(-(o_totalprice / 100000.0 - 1.0))), 6)
             AS squashed
    FROM orders
    WHERE o_orderkey % 13 = 0
    """,
    survey_ref="beyond-reference API surface: scalar pandas_udf "
    "(Arrow-vectorized series kernel), completing the Python API "
    "matrix (mapInPandas / applyInPandas[WithState] / UDTF / scalar)",
)
def f_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar UDF: one Arrow batch in, one Series out — the
    ~10-100x-over-row-Python path when a scalar kernel must be Python.
    The sigmoid here mirrors the SQL op-for-op; rounding stays JVM-side
    so the oracle's HALF_UP convention applies."""
    from pyspark.sql.functions import pandas_udf

    # no param annotations: postponed-evaluation mode (PEP 563, active
    # module-wide here) stringifies them and pandas_udf can't resolve
    # that; the returnType plus bare signature is the supported spelling
    @pandas_udf("double")
    def squash(price):
        import numpy as np

        return 1.0 / (1.0 + np.exp(-(price / 100000.0 - 1.0)))

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    return orders.select(
        "o_orderkey", F.round(squash(F.col("o_totalprice")), 6).alias("squashed")
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------
@query(
    "j_null_safe_join",
    # NULL keys match each other under <=>, unlike '=' which drops them
    # — the semantic a dedup-by-nullable-business-key pipeline needs.
    # Fixture: orders bucketed by a key that is NULL for every third
    # order, self-joined null-safely at equal bucket counts.
    oracle="""
    WITH k AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 7 AS INT) END AS nk
      FROM orders WHERE o_orderkey <= 600
    )
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           a.nk AS nk
    FROM k a JOIN k b
      ON a.nk IS NOT DISTINCT FROM b.nk AND a.o_orderkey < b.o_orderkey
    """,
    survey_ref="beyond-reference: null-safe equi-join (<=> / "
    "IS NOT DISTINCT FROM) — NULL business keys group together instead "
    "of silently dropping from the join",
)
def j_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe self-join: eqNullSafe compiles to a hash-join key that
    treats NULL as a value (<=>), so NULL-keyed rows co-partition and
    match — still a shuffle-hash/broadcast equi-join in the plan, NOT a
    nested loop (a naive `a.nk = b.nk OR both null` predicate degrades
    to BroadcastNestedLoopJoin; asserted in tests/test_plans.py)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 600)
    k = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("int"))
        .otherwise((F.col("o_orderkey") % 7).cast("int"))
        .alias("nk"),
    )
    a, b = k.alias("a"), k.alias("b")
    return (
        a.join(
            b,
            F.col("a.nk").eqNullSafe(F.col("b.nk"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .select(
            F.col("a.o_orderkey").alias("key_a"),
            F.col("b.o_orderkey").alias("key_b"),
            F.col("a.nk").alias("nk"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation (LISTAGG / string_agg)
# ---------------------------------------------------------------------------
@query(
    "a_string_agg_ordered",
    # deterministic listagg: collect, SORT, then join — collect_list
    # order is partition-dependent, so the explicit array_sort is what
    # makes the concatenation reproducible (the W4 lesson applied to
    # aggregation)
    oracle="""
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_orderkey) AS keys_csv,
           CAST(count(*) AS BIGINT) AS n
    FROM orders
    WHERE o_orderkey <= 200
    GROUP BY o_orderpriority
    """,
    survey_ref="beyond-reference: ordered string aggregation "
    "(LISTAGG/string_agg with ORDER BY — deterministic via explicit "
    "sort before join)",
)
def a_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group CSV of keys in pinned numeric order. collect_list's
    order is whatever the partitions delivered — array_sort on the
    NUMERIC values before stringification pins it (sorting the strings
    would put 100 before 2). One shuffle with map-side partials."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("keys_csv"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# Window distribution functions: percent_rank / cume_dist / dense_rank /
# ntile in one partitioning.
# ---------------------------------------------------------------------------
@query(
    "w_dist_suite",
    # rank-family functions are deterministic under ties (value-based);
    # ntile depends on ROW order so its window pins a unique composite
    # ORDER BY. Both windows share the l_returnflag partitioning → ONE
    # exchange feeds both sorts.
    oracle="""
    WITH ranked AS (
      SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
             CAST(round(percent_rank() OVER vq, 6) AS DOUBLE) AS pct_rank,
             CAST(round(cume_dist() OVER vq, 6) AS DOUBLE) AS cume,
             CAST(dense_rank() OVER vq AS BIGINT) AS dense_rk,
             CAST(ntile(10) OVER vu AS INT) AS decile
      FROM lineitem
      WINDOW vq AS (PARTITION BY l_returnflag ORDER BY l_quantity),
             vu AS (PARTITION BY l_returnflag
                    ORDER BY l_quantity, l_orderkey, l_linenumber)
    )
    SELECT * FROM ranked WHERE l_orderkey % 97 = 0
    """,
    survey_ref="beyond-reference: window distribution-function surface "
    "(percent_rank, cume_dist, dense_rank, ntile) — completes the "
    "window family (W1–W4, w_rank_suite, w_ntile_distribution)",
)
def w_dist_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    vq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    vu = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_quantity",
            F.round(F.percent_rank().over(vq), 6).cast("double").alias("pct_rank"),
            F.round(F.cume_dist().over(vq), 6).cast("double").alias("cume"),
            F.dense_rank().over(vq).cast("bigint").alias("dense_rk"),
            F.ntile(10).over(vu).cast("int").alias("decile"),
        )
        .filter(F.col("l_orderkey") % 97 == 0)
    )


# ---------------------------------------------------------------------------
# Time-series linear interpolation over the hourly grid.
# ---------------------------------------------------------------------------
@query(
    "ts_interpolate",
    # prev/next non-null neighbors are found WITHOUT `IGNORE NULLS` (its
    # availability/semantics vary): hour and cents are packed into one
    # BIGINT (epoch_hour * 100000 + cents, cents < 100000) whose
    # running max/min over the frame is monotone in hour — an
    # engine-portable argmax. Interpolation is exact-integer-in-double:
    # one IEEE division, no rounding, identical bits on both engines.
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             CAST(round(max(CAST(value AS DECIMAL(12,4))) * 100, 0) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT user_id, min(hour) AS hmin, max(hour) AS hmax
      FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(hmin, hmax,
                                             INTERVAL 1 HOUR)) AS hour
      FROM spans
    ),
    joined AS (
      SELECT g.user_id, g.hour, h.cents,
             CAST(epoch(g.hour) AS BIGINT) // 3600 AS eh
      FROM grid g LEFT JOIN hourly h USING (user_id, hour)
    ),
    packed AS (
      SELECT *,
             max(CASE WHEN cents IS NOT NULL THEN eh * 100000 + cents END)
               OVER (PARTITION BY user_id ORDER BY hour
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS prev_p,
             min(CASE WHEN cents IS NOT NULL THEN eh * 100000 + cents END)
               OVER (PARTITION BY user_id ORDER BY hour
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_p
      FROM joined
    )
    SELECT user_id, hour, cents IS NOT NULL AS observed,
           CAST(CASE
             WHEN cents IS NOT NULL THEN cents / 100.0
             WHEN prev_p IS NULL OR next_p IS NULL THEN NULL
             ELSE (prev_p % 100000
                   + (next_p % 100000 - prev_p % 100000)
                     * (eh - prev_p // 100000)
                     / (next_p // 100000 - prev_p // 100000)) / 100.0
           END AS DOUBLE) AS value_interp
    FROM packed
    """,
    survey_ref="beyond-reference: time-series linear interpolation on "
    "the hourly grid (gap fill's twin: ts_gap_fill forward-fills, this "
    "interpolates between the surrounding observations)",
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of each user's missing hourly values.

    SEGMENT-EXPLODE formulation (round-6 rewrite, hash-identical to the
    certified packed-argmax spelling the oracle still uses): one lead()
    window over the OBSERVED hourly rows pairs each observation with
    its successor, and exploding the [h, next−1h] range emits that
    segment's grid rows with both endpoints already in hand. Compared
    to the grid⋈hourly + two running-window plan this drops the join
    and the second (30×-larger) sort: the noop-sink wall at sf0.1 fell
    6.6 s → ~2 s. Physical shape (plan-asserted): ONE user_id exchange,
    ONE sort — over observed rows only, never the exploded grid.
    Interpolation arithmetic is exact-integer-in-double (one IEEE
    division), bit-identical across engines; NULL beyond the first/last
    observation (no extrapolation — inside the span both endpoints
    exist by construction).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h0")
    ).agg(
        F.round(F.max(F.col("value").cast("decimal(12,4)")) * 100, 0)
        .cast("bigint")
        .alias("cents")
    )
    w = Window.partitionBy("user_id").orderBy("h0")
    seg = hourly.select(
        "user_id",
        "h0",
        "cents",
        F.lead("h0").over(w).alias("h1"),
        F.lead("cents").over(w).alias("c1"),
    )
    # each observation owns the grid range [h0, h1 − 1h] (the last one
    # owns just itself) — together: every hour in [first, last], once
    grid = seg.select(
        "user_id",
        "h0",
        "cents",
        "c1",
        (F.col("h0").cast("bigint") / 3600).cast("bigint").alias("eh0"),
        (F.col("h1").cast("bigint") / 3600).cast("bigint").alias("eh1"),
        F.explode(
            F.sequence(
                "h0",
                F.coalesce(F.expr("h1 - INTERVAL 1 HOUR"), F.col("h0")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour"),
    ).withColumn("eh", (F.col("hour").cast("bigint") / 3600).cast("bigint"))
    observed = F.col("hour") == F.col("h0")
    return grid.select(
        "user_id",
        "hour",
        observed.alias("observed"),
        F.when(observed, F.col("cents") / 100.0)
        .otherwise(
            (
                F.col("cents")
                + (F.col("c1") - F.col("cents"))
                * (F.col("eh") - F.col("eh0"))
                / (F.col("eh1") - F.col("eh0"))
            )
            / 100.0
        )
        .cast("double")
        .alias("value_interp"),
    )


_CENTS_SQL = "CAST(round(CAST(value AS DECIMAL(12,4)) * 100, 0) AS BIGINT)"


def _cents(col: str = "value") -> F.Column:
    return F.round(F.col(col).cast("decimal(12,4)") * 100, 0).cast("bigint")


# ---------------------------------------------------------------------------
# Exact per-group mode.
# ---------------------------------------------------------------------------
@query(
    "a_mode_exact",
    # mode = argmax of the (user, type) count with a pinned tiebreak
    # (count DESC, then event_type ASC) — value-deterministic
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rn
      FROM counts
    )
    SELECT user_id, event_type AS mode_event_type,
           CAST(n AS BIGINT) AS n_events
    FROM ranked WHERE rn = 1
    """,
    survey_ref="beyond-reference: exact per-group mode (most frequent "
    "categorical value, deterministic tiebreak) — the exact twin of "
    "sk_countmin_freq's approximate heavy hitters",
)
def a_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most frequent event_type.

    Scale: the first aggregation combines map-side, so the window's
    input is |users|×|types| rows, not |events| — the top-1 window then
    sorts ≤ |types| rows per user. Never windows the raw fact."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").cast("bigint").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Trailing EWMA with power-of-two weights: exact integers end to end.
# ---------------------------------------------------------------------------
_EWMA_K = 8  # trailing taps; weight of lag j is 2^(K-1-j)


def _ewma_terms_sql() -> tuple[str, str]:
    def tap(j: int) -> str:
        return "cents" if j == 0 else f"lag(cents, {j}) OVER vu"

    num = " + ".join(
        f"COALESCE({tap(j)}, 0) * {1 << (_EWMA_K - 1 - j)}"
        for j in range(_EWMA_K)
    )
    den = " + ".join(
        f"CASE WHEN {tap(j)} IS NOT NULL"
        f" THEN {1 << (_EWMA_K - 1 - j)} ELSE 0 END"
        for j in range(_EWMA_K)
    )
    return num, den


_EWMA_NUM_SQL, _EWMA_DEN_SQL = _ewma_terms_sql()


@query(
    "ts_ewma_trailing",
    # α=1/2 makes every weight a power of two: numerator and weight-sum
    # are exact BIGINTs, the value appears only after ONE IEEE division
    # — bit-identical across engines, no tolerance, no rounding
    oracle=f"""
    WITH pts AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, {_CENTS_SQL} AS cents
      FROM events
    )
    SELECT user_id, event_id, cents,
           ({_EWMA_NUM_SQL})
             / (({_EWMA_DEN_SQL}) * 100.0) AS ewma_value
    FROM pts
    WINDOW vu AS (PARTITION BY user_id ORDER BY us, event_id)
    """,
    survey_ref="beyond-reference: trailing EWMA (α=1/2, 8 taps) — "
    "exponential smoothing as a fixed-tap window, the streaming-safe "
    "formulation of the classic recursive filter",
)
def ts_ewma_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted trailing average of each user's values.

    The recursive EWMA (y_t = αx_t + (1-α)y_{t-1}) is inherently
    sequential; truncating at K taps (weight 2^-K ≈ 0.4% ignored) turns
    it into K lags over ONE sort — all eight lag() calls share the same
    window spec, so Spark computes them in a single Sort + Window pass.
    Scale: one user_id shuffle; per-row state is K values regardless of
    history; no driver iteration, no sequential dependency."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        _cents().alias("cents"),
    )
    vu = Window.partitionBy("user_id").orderBy("us", "event_id")
    num = None
    den = None
    for j in range(_EWMA_K):
        wgt = 1 << (_EWMA_K - 1 - j)
        lag = F.lag("cents", j).over(vu) if j else F.col("cents")
        term = F.coalesce(lag, F.lit(0)) * wgt
        avail = F.when(lag.isNotNull(), wgt).otherwise(0)
        num = term if num is None else num + term
        den = avail if den is None else den + avail
    return pts.select(
        "user_id",
        "event_id",
        "cents",
        (num / (den * 100.0)).alias("ewma_value"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average: each value weighted by how long it was current.
# ---------------------------------------------------------------------------
@query(
    "ts_time_weighted_avg",
    # durations are integer milliseconds (BIGINT floor-div — DuckDB //
    # on BIGINT and Spark's `div` agree; NEVER // on a double epoch),
    # value×duration sums stay integers; one final division
    oracle=f"""
    WITH pts AS (
      SELECT user_id, epoch_us(ts) AS us, event_id, {_CENTS_SQL} AS cents
      FROM events
    ),
    spans AS (
      SELECT user_id, cents,
             (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
              - us) // 1000 AS dur_ms
      FROM pts
    )
    SELECT user_id,
           CAST(count(dur_ms) AS BIGINT) AS n_spans,
           CAST(CAST(sum(cents * dur_ms) AS BIGINT) AS DOUBLE)
             / (CAST(CAST(sum(dur_ms) AS BIGINT) AS DOUBLE) * 100.0)
             AS twa_value
    FROM spans WHERE dur_ms IS NOT NULL
    GROUP BY user_id HAVING sum(dur_ms) > 0
    """,
    survey_ref="beyond-reference: time-weighted average (value × "
    "holding-duration / total duration) — the correct mean for "
    "irregularly-sampled series, where the arithmetic mean over-weights "
    "bursts",
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted mean of each user's value series.

    Scale: one user_id shuffle; lead() and the aggregation share the
    partitioning, and the agg combines map-side. Integer ms durations
    keep every sum exact until the single closing division."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        _cents().alias("cents"),
    )
    # window spelled in SQL only because integer `div` has no Column
    # operator; it is the one (user_id, ordering) sort of this plan
    spans = pts.select(
        "user_id",
        "cents",
        F.expr("(lead(us) over (partition by user_id order by us, event_id)"
               " - us) div 1000").alias("dur_ms"),
    ).filter(F.col("dur_ms").isNotNull())
    return (
        spans.groupBy("user_id")
        .agg(
            F.count("dur_ms").cast("bigint").alias("n_spans"),
            (
                F.sum(F.col("cents") * F.col("dur_ms"))
                .cast("bigint")
                .cast("double")
                / (F.sum("dur_ms").cast("bigint").cast("double") * 100.0)
            ).alias("twa_value"),
            F.sum("dur_ms").alias("__den"),
        )
        .filter(F.col("__den") > 0)
        .drop("__den")
    )


# ---------------------------------------------------------------------------
# Exact weighted percentiles.
# ---------------------------------------------------------------------------
@query(
    "a_weighted_percentile",
    # weighted quantile = first value whose cumulative weight crosses
    # q·total, with a pinned unique ordering and INTEGER threshold
    # comparisons (4·cw ≥ q·4·tw) — no float quantile arithmetic at all
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS grp, l_extendedprice AS v,
             CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
      FROM lineitem
    ),
    tot AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS tw FROM pts GROUP BY grp),
    cum AS (
      SELECT grp, v,
             CAST(SUM(w) OVER (PARTITION BY grp
                               ORDER BY v, l_orderkey, l_linenumber
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cw
      FROM pts
    )
    SELECT grp, CAST(tw AS BIGINT) AS total_weight,
           min(CASE WHEN 4 * cw >= tw THEN v END) AS p25_weighted,
           min(CASE WHEN 2 * cw >= tw THEN v END) AS p50_weighted,
           min(CASE WHEN 4 * cw >= 3 * tw THEN v END) AS p75_weighted
    FROM cum JOIN tot USING (grp)
    GROUP BY grp, tw
    """,
    survey_ref="beyond-reference: exact weighted percentiles (quantity-"
    "weighted price quartiles) — the weighted twin of "
    "a_exact_percentiles, selecting observed values via cumulative-"
    "weight crossings",
)
def a_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quartiles per return flag.

    Scale: one grp shuffle feeds the cumulative-weight sort; totals are
    a broadcast-sized aggregate joined back. Thresholds compare
    integers (4·cw vs q·4·tw), and the reported quantiles are observed
    data values — nothing interpolated, nothing float-accumulated. At
    billions of rows per group the certified substitute for the
    single-partition-per-group sort is w_rank_twophase's
    range-partitioned offsets (same crossing rule on partial sums)."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    tot = pts.groupBy("grp").agg(F.sum("w").cast("bigint").alias("tw"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("v", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pts.select(
        "grp", "v", F.sum("w").over(wcum).cast("bigint").alias("cw")
    )
    return (
        cum.join(F.broadcast(tot), "grp")
        .groupBy("grp", "tw")
        .agg(
            F.min(F.when(4 * F.col("cw") >= F.col("tw"), F.col("v"))).alias(
                "p25_weighted"
            ),
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v"))).alias(
                "p50_weighted"
            ),
            F.min(
                F.when(4 * F.col("cw") >= 3 * F.col("tw"), F.col("v"))
            ).alias("p75_weighted"),
        )
        .select(
            "grp",
            F.col("tw").cast("bigint").alias("total_weight"),
            "p25_weighted",
            "p50_weighted",
            "p75_weighted",
        )
    )


# ---------------------------------------------------------------------------
# Window value functions: first/last/nth + offset defaults.
# ---------------------------------------------------------------------------
@query(
    "w_value_suite",
    # one (user_id, us, event_id) ordering serves both specs — the
    # framed full-window trio and the default-frame offsets — so the
    # plan needs one Exchange and one Sort
    oracle=f"""
    WITH pts AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, {_CENTS_SQL} AS cents
      FROM events
    )
    SELECT user_id, event_id, cents,
           first_value(cents) OVER vu AS first_cents,
           last_value(cents) OVER vu AS last_cents,
           nth_value(cents, 3) OVER vu AS third_cents,
           lead(cents, 2, CAST(-1 AS BIGINT)) OVER vo AS lead2_cents,
           lag(cents, 3, CAST(-1 AS BIGINT)) OVER vo AS lag3_cents
    FROM pts
    WINDOW vu AS (PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING
                    AND UNBOUNDED FOLLOWING),
           vo AS (PARTITION BY user_id ORDER BY us, event_id)
    """,
    survey_ref="beyond-reference: window value-function surface "
    "(first_value / last_value / nth_value over an explicit full "
    "frame; lead/lag with non-NULL defaults) — completes the window "
    "family's value functions",
)
def w_value_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window value functions with pinned frames and unique ordering.

    last_value/nth_value are frame-sensitive: the explicit UNBOUNDED
    FOLLOWING frame is the portable spelling (the default frame stops
    at CURRENT ROW, making last_value a no-op — a classic silent bug
    this entry pins)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        _cents().alias("cents"),
    )
    vu = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    vo = Window.partitionBy("user_id").orderBy("us", "event_id")
    return pts.select(
        "user_id",
        "event_id",
        "cents",
        F.first("cents").over(vu).alias("first_cents"),
        F.last("cents").over(vu).alias("last_cents"),
        F.nth_value("cents", 3).over(vu).alias("third_cents"),
        F.lead("cents", 2, -1).over(vo).alias("lead2_cents"),
        F.lag("cents", 3, -1).over(vo).alias("lag3_cents"),
    )


# ---------------------------------------------------------------------------
# Gini impurity of each user's event-type mix: exact rational arithmetic.
# ---------------------------------------------------------------------------
@query(
    "a_gini_impurity",
    # gini = 1 - Σ(nᵢ/N)² = (N² - Σnᵢ²)/N² — numerator and denominator
    # are exact BIGINTs, one final division. (Shannon entropy is the
    # usual alternative; ln() can differ by 1 ulp across libms, Gini
    # cannot — see the house exact-arithmetic rule.)
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(CAST(SUM(n) AS BIGINT) * CAST(SUM(n) AS BIGINT)
                - CAST(SUM(n * n) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(n) AS BIGINT) * CAST(SUM(n) AS BIGINT)
                    AS DOUBLE) AS gini
    FROM counts GROUP BY user_id
    """,
    survey_ref="beyond-reference: per-group Gini impurity (behavioral "
    "diversity score) — the exact-rational alternative to entropy, "
    "two map-side-combinable aggregations",
)
def a_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How mixed is each user's event-type distribution (0 = single
    type, →1 = uniform over many).

    Scale: counts aggregate combines map-side; the second agg runs on
    |users|×|types| rows. No window, no sort, exact integers into one
    closing division."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    n_sum = F.sum("n").cast("bigint")
    sq_sum = F.sum(F.col("n") * F.col("n")).cast("bigint")
    return counts.groupBy("user_id").agg(
        n_sum.alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        (
            (n_sum * n_sum - sq_sum).cast("double")
            / (n_sum * n_sum).cast("double")
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Longest consecutive-day activity streak (gaps and islands).
# ---------------------------------------------------------------------------
@query(
    "w_streak_lengths",
    # the island id (day_num - row_number) is pure integer arithmetic;
    # top-1 per user pins the (length DESC, start ASC) tiebreak
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    numbered AS (
      SELECT user_id, d,
             date_diff('day', DATE '2024-01-01', d)
               - row_number() OVER (PARTITION BY user_id ORDER BY d)
               AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS streak_len,
             min(d) AS streak_start
      FROM numbered GROUP BY user_id, grp
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_len DESC, streak_start)
               AS rn,
             CAST(SUM(streak_len) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_active_days
      FROM streaks
    )
    SELECT user_id, streak_len AS longest_streak, streak_start,
           n_active_days
    FROM ranked WHERE rn = 1
    """,
    survey_ref="beyond-reference: gaps-and-islands longest streak "
    "(consecutive active days per user) — the calendar twin of "
    "st_sessionize's time-gap islands, pure integer island ids",
)
def w_streak_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's longest run of consecutive active days.

    Scale: every window runs on the DISTINCT-days frame (≤ days/user
    rows, never raw events); the distinct, both windows, and the
    grouping all share the user_id partitioning — one shuffle feeds
    the chain under AQE."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    wn = Window.partitionBy("user_id").orderBy("d")
    numbered = days.withColumn(
        "grp",
        F.datediff("d", F.lit("2024-01-01").cast("date"))
        - F.row_number().over(wn),
    )
    streaks = numbered.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_len"),
        F.min("d").alias("streak_start"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("streak_len").desc(), F.col("streak_start")
    )
    wtot = Window.partitionBy("user_id")
    return (
        streaks.withColumn("rn", F.row_number().over(wr))
        .withColumn(
            "n_active_days", F.sum("streak_len").over(wtot).cast("bigint")
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("streak_len").alias("longest_streak"),
            "streak_start",
            "n_active_days",
        )
    )


_BUCKET_DAYS = 7


@query(
    "j_interval_overlap",
    # oracle: the plain inequality join DuckDB evaluates with its
    # IEJoin — the semantics the bucketed plan must reproduce exactly
    oracle=f"""
    WITH l AS (
      SELECT o_orderkey AS l_id, o_custkey % 40 AS key,
             CAST(o_orderdate AS DATE) AS l_s,
             CAST(o_orderdate AS DATE)
               + INTERVAL (o_orderkey % 5 + 1) DAY AS l_e
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    r AS (
      SELECT o_orderkey AS r_id, o_custkey % 40 AS key,
             CAST(o_orderdate AS DATE) AS r_s,
             CAST(o_orderdate AS DATE)
               + INTERVAL (o_orderkey % 7 + 1) DAY AS r_e
      FROM orders WHERE o_orderkey % 3 = 1
    )
    SELECT l.key AS key, l_id, r_id,
           CAST(date_diff('day',
                greatest(l_s, r_s), least(l_e, r_e)) AS BIGINT)
             AS overlap_days
    FROM l JOIN r ON l.key = r.key AND l_s <= r_e AND r_s <= l_e
    """,
    survey_ref="beyond-reference: interval×interval overlap join via "
    "coarse-bucket explosion + emit-once guard — the distributed "
    "substitute for the nested-loop inequality join (extends "
    "tj_range_join from point-in-interval to interval-interval)",
)
def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping (left, right) interval pairs sharing a key.

    Each interval explodes into the 7-day buckets it touches (≤2 here:
    intervals are 1–7 days); the join is then a plain (key, bucket)
    equi-join + residual overlap predicate. A pair sharing several
    buckets would duplicate, so emit ONLY in the first bucket both
    occupy — bucket == max(l_start_bucket, r_start_bucket) — an O(1)
    guard instead of a distinct shuffle.

    Scale: candidate work is O(overlapping pairs + bucket collisions),
    never |L|·|R|; bucket width trades replication (interval_len/width
    copies) against collision fan-in, exactly like tj_range_join. Both
    sides shuffle once on (key, bucket) — AQE handles a hot bucket."""
    orders = load_table(spark, sf_dir, "orders")

    def side(mod: int, id_alias: str, s_alias: str, e_alias: str, span_mod: int) -> DataFrame:
        return orders.filter(F.col("o_orderkey") % 3 == mod).select(
            F.col("o_orderkey").alias(id_alias),
            (F.col("o_custkey") % 40).alias("key"),
            F.to_date("o_orderdate").alias(s_alias),
            F.date_add(
                F.to_date("o_orderdate"),
                (F.col("o_orderkey") % span_mod + 1).cast("int"),
            ).alias(e_alias),
        )

    left = side(0, "l_id", "l_s", "l_e", 5)
    right = side(1, "r_id", "r_s", "r_e", 7)

    def bucketed(df: DataFrame, s: str, e: str) -> DataFrame:
        b_lo = F.expr(f"datediff({s}, DATE'1970-01-01') div {_BUCKET_DAYS}")
        b_hi = F.expr(f"datediff({e}, DATE'1970-01-01') div {_BUCKET_DAYS}")
        return df.withColumn(
            "bucket", F.explode(F.sequence(b_lo, b_hi))
        ).withColumn("s_bucket", b_lo)

    lb = bucketed(left, "l_s", "l_e").withColumnRenamed("s_bucket", "l_sb")
    rb = bucketed(right, "r_s", "r_e").withColumnRenamed("s_bucket", "r_sb")
    joined = lb.join(rb, ["key", "bucket"]).filter(
        (F.col("l_s") <= F.col("r_e"))
        & (F.col("r_s") <= F.col("l_e"))
        & (F.col("bucket") == F.greatest("l_sb", "r_sb"))
    )
    return joined.select(
        F.col("key").cast("bigint").alias("key"),
        "l_id",
        "r_id",
        F.datediff(
            F.least("l_e", "r_e"), F.greatest("l_s", "r_s")
        ).cast("bigint").alias("overlap_days"),
    )


# ---------------------------------------------------------------------------
# Native session windows (batch F.session_window == gaps-and-islands).
# ---------------------------------------------------------------------------
_GAP_MIN = 30
_CENTS = _CENTS_SQL


@query(
    "w_session_window",
    # the oracle is the classic gaps-and-islands spelling: session id =
    # running count of >30-min gaps per user; Spark runs the NATIVE
    # session_window operator — the hash match certifies the two
    # formulations compute the identical sessionization
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, {_CENTS} AS cents,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                  > {_GAP_MIN} * 60 * 1000000 OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    s AS (
      SELECT *,
             sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING
             ) AS session_id
      FROM e
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL {_GAP_MIN} MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM s GROUP BY user_id, session_id
    """,
    survey_ref="beyond-reference: native batch session windows "
    "(F.session_window) certified against the gaps-and-islands SQL "
    "spelling — the two sessionization idioms proven equivalent",
)
def w_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap sessions via the NATIVE session_window.

    The engine's session operator merges overlapping [ts, ts+gap)
    intervals inside a single aggregation — one shuffle on user_id,
    no window-function pass at all (contrast sessionize_batch's
    lag+cumsum, and the streaming twin st_sessionize). Certifying it
    against the gaps-and-islands oracle pins the exact boundary
    semantics (session end = last event + gap; a gap of EXACTLY 30
    min merges — [start, start+gap) intervals touching counts as
    overlap on both engines' definitions)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
        .cast("bigint")
        .alias("cents"),
    )
    return (
        e.groupBy(
            "user_id", F.session_window("ts", f"{_GAP_MIN} minutes")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "cents",
        )
    )


# ---------------------------------------------------------------------------
# Boolean-aggregate function surface.
# ---------------------------------------------------------------------------
@query(
    "a_bool_agg_suite",
    oracle="""
    SELECT event_type,
           bool_and(value > 0) AS all_pos,
           bool_or(value > 990) AS any_high,
           CAST(count_if(value > 500) AS BIGINT) AS n_big,
           CAST(count_if(value IS NULL) AS BIGINT) AS n_null_val,
           bool_and(user_id IS NOT NULL) AS users_complete
    FROM events GROUP BY event_type
    """,
    survey_ref="beyond-reference: boolean aggregate surface "
    "(bool_and/bool_or/count_if) — the data-quality assertion "
    "primitives as plain aggregates",
)
def a_bool_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and / bool_or / count_if per group, NULL semantics pinned.

    These are the aggregate forms data-quality checks compile to
    (engine/tests.py's not_null is a count_if at heart). Row-local
    predicates, one combining groupBy — map-side partials carry one
    boolean/long per (group, aggregate)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.bool_and(F.col("value") > 0).alias("all_pos"),
        F.bool_or(F.col("value") > 990).alias("any_high"),
        F.count_if(F.col("value") > 500).cast("bigint").alias("n_big"),
        F.count_if(F.col("value").isNull())
        .cast("bigint")
        .alias("n_null_val"),
        F.bool_and(F.col("user_id").isNotNull()).alias("users_complete"),
    )


# ---------------------------------------------------------------------------
# Batch sliding windows (tumbling's overlapping sibling).
# ---------------------------------------------------------------------------
@query(
    "w_sliding_window",
    # every event lands in exactly size/slide = 4 overlapping windows;
    # the oracle enumerates them arithmetically (start = aligned base
    # minus j slides), Spark uses the native sliding window() operator
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
    survey_ref="beyond-reference: batch SLIDING windows "
    "(window(ts, '1 hour', '15 minutes')) — the overlapping-window "
    "aggregation, tumbling's sibling (st_windowed_counts)",
)
def w_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min over the event stream.

    The native window() generator replicates each row into its
    size/slide = 4 windows map-side, then ONE combining groupBy —
    identical cost shape to explode+agg, with the overlap factor as
    the explicit map-side multiplier (×4 rows into the partial agg,
    never ×4 shuffle width: partials combine per window first)."""
    e = load_table(spark, sf_dir, "events")
    cents = (
        F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
        .cast("bigint")
    )
    return (
        e.select("ts", cents.alias("cents"))
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


# ---------------------------------------------------------------------------
# As-of join with a match tolerance (the merge_asof tolerance knob).
# ---------------------------------------------------------------------------
_TOL_S = 6 * 3600


@query(
    "tj_asof_tolerance",
    # DuckDB ASOF finds the unbounded backward match; the tolerance is
    # then a NULL-out of matches older than the bound — the exact
    # pandas merge_asof(tolerance=...) contract
    oracle=f"""
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN epoch_us(p.ts) - epoch_us(c.ts)
                     <= CAST({_TOL_S} AS BIGINT) * 1000000
                THEN c.ts END AS asof_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
    survey_ref="beyond-reference: as-of join with tolerance — stale "
    "matches become NULL, never a silently-ancient enrichment "
    "(pandas merge_asof tolerance semantics; completes the as-of "
    "family: backward/forward/nearest/point-in-time/tolerance)",
)
def tj_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of where matches older than 6 h are discarded.

    The production failure this prevents: a feature-store lookup
    silently enriching from a week-stale snapshot. Same one-shuffle
    union plan as tj_asof_join; tolerance is a row-local NULL-out
    AFTER the running last() — exact integer-µs comparison (epoch
    doubles lose ulps at 2024 scale)."""
    from oroboro_dw_dbt_spark.ops.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click")
    j = asof_join(purchases, clicks, key="user_id")
    within = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_ts"))
        <= _TOL_S * 1_000_000
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.when(within, F.col("asof_ts")).alias("asof_ts"),
    )


_EPOCH = "1992-01-01"


@query(
    "ts_period_over_period",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '{_EPOCH}', CAST(o_orderdate AS DATE))
               AS day_idx,
             CAST(sum(CAST(round(CAST(o_totalprice AS DECIMAL(14,4)) * 100, 0)
                           AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM orders GROUP BY 1
    )
    SELECT c.day_idx, c.revenue_cents,
           CAST(round((c.revenue_cents - d1.revenue_cents) * 1000000.0
                 / d1.revenue_cents, 0) AS BIGINT) AS dod_micro,
           CAST(round((c.revenue_cents - d7.revenue_cents) * 1000000.0
                 / d7.revenue_cents, 0) AS BIGINT) AS wow_micro
    FROM daily c
    LEFT JOIN daily d1 ON d1.day_idx = c.day_idx - 1
    LEFT JOIN daily d7 ON d7.day_idx = c.day_idx - 7
    """,
    survey_ref="beyond-reference: day-over-day / week-over-week revenue "
    "deltas — gap-safe day-offset joins, exact integer cents",
)
def ts_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day revenue with DoD and WoW percent change (micro).

    Scale: the daily rollup is the only corpus-wide shuffle (fully
    partial-aggregating on integer cents); both period joins run on
    the |days|-row result — KB forever. A LAG window would be one
    sort cheaper but silently lags across gaps; the explicit offset
    join is the correct-by-construction spelling."""
    cents = (
        F.round(F.col("o_totalprice").cast("decimal(14,4)") * 100, 0)
        .cast("long")
    )
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit(_EPOCH))).alias(
                "day_idx"
            ),
            cents.alias("cents"),
        )
        .groupBy("day_idx")
        .agg(F.sum("cents").alias("revenue_cents"))
    )
    c, d1, d7 = daily.alias("c"), daily.alias("d1"), daily.alias("d7")

    def pct(cur, prev):
        return F.round(
            (cur - prev) * 1000000.0 / prev, 0
        ).cast("long")

    return (
        c.join(d1, F.col("d1.day_idx") == F.col("c.day_idx") - 1, "left")
        .join(d7, F.col("d7.day_idx") == F.col("c.day_idx") - 7, "left")
        .select(
            F.col("c.day_idx").alias("day_idx"),
            F.col("c.revenue_cents").alias("revenue_cents"),
            pct(F.col("c.revenue_cents"), F.col("d1.revenue_cents")).alias(
                "dod_micro"
            ),
            pct(F.col("c.revenue_cents"), F.col("d7.revenue_cents")).alias(
                "wow_micro"
            ),
        )
    )

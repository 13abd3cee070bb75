"""Catalog entries for the explicit scale patterns: salted joins,
two-phase distinct aggregation, and sketch aggregates.

The salting entries are result-identical to their plain SQL forms —
that equivalence IS the oracle check (the salt must never change the
answer). A sketch estimate has no cross-engine bit-match, so each
sketch entry emits its exact contract instead — the exact value beside
a must-be-true within-bound flag, or a merge that equals the
whole-input sketch — and the oracle checks that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.operators.extended_suite import _CENTS
from oroboro_dw_dbt_spark.ops import (
    approx_distinct_by,
    approx_quantiles_by,
    salted_join,
    two_phase_distinct_agg,
)
from oroboro_dw_dbt_spark.sources.testdata import load_table


@query(
    "skew_salted_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, c.c_name
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
    survey_ref="beyond-reference: plan-level salted join for hot keys "
    "(result-identical to the plain join — the oracle proves it)",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_name")
    )
    joined = salted_join(events, dim, on="user_id", how="inner", salt_buckets=8)
    return joined.select("event_id", "user_id", "event_type", "c_name")


@query(
    "skew_two_phase_agg",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
    survey_ref="beyond-reference: two-phase COUNT(DISTINCT) rewrite "
    "(pair-dedup spread over hash(x), then per-group count)",
)
def skew_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = two_phase_distinct_agg(
        events,
        group_key="event_type",
        distinct_col="user_id",
        aggs={
            "n_events": F.count(F.lit(1)).cast("bigint"),
            "sum_value": F.sum(F.col("value").cast("decimal(12,4)")),
        },
    )
    return out.select(
        "event_type",
        "n_distinct",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("sum_value", 2).cast("double").alias("sum_value"),
    )


@query(
    "sk_approx_distinct",
    # the HLL++ estimate has no cross-engine bit-match, so the entry
    # emits the EXACT distinct (hashable) plus a within_bound flag
    # computed in the same plan — the oracle asserts the flag is
    # deterministically true, making the sketch hash-checkable
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           true AS within_bound
    FROM events
    GROUP BY event_type
    """,
    survey_ref="beyond-reference: HyperLogLog++ approximate distinct per group",
)
def sk_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    rsd = 0.02
    approx = approx_distinct_by(events, "event_type", "user_id", rsd=rsd)
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct")
    )
    # bound: 5σ of the target rsd plus small-count slack (HLL++ switches
    # to an exact sparse mode below ~thousands, where error is 0)
    return (
        exact.join(approx, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= F.greatest(5 * rsd * F.col("exact_distinct"), F.lit(5.0))
            ).alias("within_bound"),
        )
    )


@query(
    "sk_hll_merge",
    # MERGEABILITY is the property that makes sketches work at 100 TB:
    # per-shard partial sketches unioned must estimate the same set as
    # the single-pass sketch, so distinct-count state can pre-aggregate
    # map-side, roll up across days/partitions, and never rescan. The
    # two paths are bit-equal in sparse mode but may differ by a hair
    # in dense mode (the union runs HLL_8 internally while a direct
    # sketch may stay HLL_4 — observed at sf0.1: 1500 vs 1501), so the
    # flag is a tight relative bound, not equality: a union that
    # CONCATENATED instead of deduplicating would inflate the estimate
    # ~8× here and trip it instantly. exact_distinct anchors the hash.
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           true AS merge_matches_direct, true AS within_bound
    FROM events
    GROUP BY event_type
    """,
    survey_ref="beyond-reference: DataSketches HLL partial-sketch union "
    "(hll_sketch_agg / hll_union_agg) — merge == single-pass, the "
    "pre-aggregation contract for distinct counts at scale",
)
def sk_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard → sketch → union vs direct sketch, per event type.

    Shards split on event_id (so every shard sees overlapping user
    sets — the union must actually deduplicate, not concatenate). An
    HLL register is a max over observed hashes and max is associative,
    so partial sketches lose nothing; the estimates agree to well
    under the sketch's own error (equal in sparse mode, ±1 count in
    dense — see the oracle note). That is why a 100 TB daily-distinct
    rollup can store per-day sketch state (KB per group) and answer
    any date-range distinct query by unioning sketches instead of
    rescanning the range."""
    events = load_table(spark, sf_dir, "events")
    rsd = 0.02  # lgConfigK=12 default → ~1.6% rsd
    shards = events.groupBy(
        "event_type", (F.col("event_id") % 8).alias("shard")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = shards.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    direct = events.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct"),
    )
    return merged.join(direct, "event_type").select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("merged_est") - F.col("direct_est"))
            <= F.greatest(rsd / 2 * F.col("direct_est"), F.lit(2.0))
        ).alias("merge_matches_direct"),
        (
            F.abs(F.col("direct_est") - F.col("exact_distinct"))
            <= F.greatest(5 * rsd * F.col("exact_distinct"), F.lit(5.0))
        ).alias("within_bound"),
    )


@query(
    "sk_countmin_merge",
    # count-min merge is EXACT (integer counter adds are associative),
    # unlike HLL's dense-mode drift — so here merge-equals-direct is
    # certified as strict equality, and estimates from merged state
    # match the direct sketch value-for-value; the oracle recomputes
    # the direct estimates from scratch
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    counters AS (
      SELECT r.i,
             CAST('0x' || substr(md5('cm|' || r.i || '|' || token), 1, 8) AS BIGINT)
               % 512 AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM toks CROSS JOIN (VALUES (0), (1), (2)) AS r(i)
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT token, CAST(count(*) AS BIGINT) AS true_n
      FROM toks GROUP BY token
      ORDER BY true_n DESC, token LIMIT 20
    ),
    est AS (
      SELECT t.token, min(c.n) AS cm_estimate
      FROM truth t
      CROSS JOIN (VALUES (0), (1), (2)) AS r(i)
      JOIN counters c
        ON c.i = r.i
       AND c.bucket = CAST('0x' || substr(md5('cm|' || r.i || '|' || t.token), 1, 8)
                           AS BIGINT) % 512
      GROUP BY t.token
    )
    SELECT t.token, CAST(e.cm_estimate AS BIGINT) AS cm_estimate,
           true AS merge_equals_direct
    FROM truth t JOIN est e ON t.token = e.token
    """,
    survey_ref="beyond-reference: count-min sketch MERGE — per-shard "
    "counter tables summed per (row, bucket) equal the single-pass "
    "sketch exactly (integer adds), certified value-for-value",
)
def sk_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard -> counters -> sum vs direct counters, estimates compared
    value-for-value for the exact top-20 tokens.

    Four shard counter tables (doc_id % 4 — every shard sees every hot
    token, so the merge must ADD, not pick) summed per (row, bucket)
    must equal the whole-corpus sketch bit-for-bit: the merge IS plain
    integer addition, which is why count-min state pre-aggregates
    map-side, rolls up across days, and serves range queries without
    rescans — with exact equality where HLL (sk_hll_merge) settles for
    a bound."""
    from oroboro_dw_dbt_spark.ops.sketches import countmin_counters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    )
    direct = countmin_counters(toks, "token")
    merged = None
    for shard in range(4):
        c = countmin_counters(toks.filter(F.col("doc_id") % 4 == shard), "token")
        merged = c if merged is None else merged.unionByName(c)
    merged = merged.groupBy("row", "bucket").agg(F.sum("n").alias("n"))
    # strict state equality: anti-joins empty in BOTH directions —
    # folded into the returned plan as a broadcast 1-row aggregate so
    # the build stays lazy (round-5 note: an eager limit(1).count()
    # here made this entry's "build" execute work at plan time)
    diff = direct.join(merged, ["row", "bucket", "n"], "left_anti").unionByName(
        merged.join(direct, ["row", "bucket", "n"], "left_anti")
    )
    states_equal_row = diff.agg(
        (F.count(F.lit(1)) == 0).alias("merge_equals_direct")
    )

    truth = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
        .orderBy(F.col("true_n").desc(), "token")
        .limit(20)
    )
    from oroboro_dw_dbt_spark.ops.sketches import _cm_bucket

    est = None
    for i in range(3):
        e = (
            truth.withColumn("row", F.lit(i))
            .withColumn("bucket", _cm_bucket("token", i, 512, "cm"))
            .join(merged, ["row", "bucket"])
            .select("token", F.col("n").alias("est"))
        )
        est = e if est is None else est.unionByName(e)
    return (
        est.groupBy("token")
        .agg(F.min("est").cast("bigint").alias("cm_estimate"))
        .crossJoin(F.broadcast(states_equal_row))
    )


@query(
    "sk_approx_quantiles",
    # GK guarantees RANK error ≤ n/accuracy; the entry checks the
    # empirical CDF at each returned quantile against that bound in the
    # same plan and emits flags the oracle asserts all-true
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_values,
           true AS within_50, true AS within_95, true AS within_99
    FROM events
    GROUP BY event_type
    """,
    survey_ref="beyond-reference: approximate percentiles per group",
)
def sk_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    accuracy = 10000
    quantiles = (0.5, 0.95, 0.99)
    approx = approx_quantiles_by(
        events, "event_type", "value", quantiles=quantiles, accuracy=accuracy
    )
    # join the (tiny, aggregated) quantile table back to the events and
    # measure where each returned value sits in the group's distribution:
    # count(value ≤ q)/n must reach q − ε and count(value < q)/n must not
    # exceed q + ε, with ε = 1/accuracy + 3/n (discretization slack).
    # The two-sided strict/non-strict pair keeps the check exact under
    # duplicate values.
    joined = events.select("event_type", "value").join(F.broadcast(approx), "event_type")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_values")]
    for q in quantiles:
        tag = int(q * 100)
        aggs.append(F.avg((F.col("value") <= F.col(f"q_{tag}")).cast("double")).alias(f"le_{tag}"))
        aggs.append(F.avg((F.col("value") < F.col(f"q_{tag}")).cast("double")).alias(f"lt_{tag}"))
    cdf = joined.groupBy("event_type").agg(*aggs)
    eps = 1.0 / accuracy
    out_cols = [F.col("event_type"), F.col("n_values")]
    for q in quantiles:
        tag = int(q * 100)
        slack = F.lit(eps) + 3.0 / F.col("n_values")
        out_cols.append(
            (
                (F.col(f"le_{tag}") >= F.lit(q) - slack)
                & (F.col(f"lt_{tag}") <= F.lit(q) + slack)
            ).alias(f"within_{tag}")
        )
    return cdf.select(*out_cols)


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning: scan reduction with a provably
# lossless result.
# ---------------------------------------------------------------------------
@query(
    "sk_bucket_prefilter_join",
    # the coarse-bucket pre-filter has NO false negatives and the real
    # join removes its false positives, so the result is EXACTLY the
    # plain join — which is the oracle. The filter is certified through
    # the property that makes it deployable, not its bit pattern.
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(14,4))
                          * (1 - CAST(l_discount AS DECIMAL(14,4)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
    survey_ref="beyond-reference scale pattern: coarse-bucket semi-join "
    "pruning (xxhash64-bucket membership set, the DataFrame-native "
    "bloom-filter stand-in) — runtime-filter scan reduction certified "
    "lossless against the plain join",
)
def sk_bucket_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-filter the fact scan with the selective dimension's coarse
    key-bucket set, then join exactly.

    Scale: the filter is the DISTINCT set of xxhash64(key) mod 65536
    buckets present in the dimension subset — ≤ 65536 rows regardless
    of dimension size, broadcast into the fact's scan stage as a semi-
    join, so rows that cannot join never reach the shuffle. No false
    negatives by construction; false positives (~|buckets|/65536 of
    non-matching rows) are removed by the real join, so the sketch can
    never change the answer, only the bytes shuffled. This is the
    explicit spelling of the runtime filters AQE injects (Spark's own
    bloom_filter_agg is not public SQL API), available to hand-built
    pipelines and certifiable."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    buckets = orders.select(
        F.pmod(F.xxhash64("o_orderkey"), F.lit(65536)).alias("kb")
    ).distinct()
    pruned = li.withColumn(
        "kb", F.pmod(F.xxhash64("l_orderkey"), F.lit(65536))
    ).join(F.broadcast(buckets), "kb", "left_semi")
    return (
        pruned.join(orders, pruned["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(14,4)")
                    * (1 - F.col("l_discount").cast("decimal(14,4)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable histogram quantiles: the percentile pre-aggregation contract.
# ---------------------------------------------------------------------------
_HBIN = 500  # 5.00-unit bins over cents


@query(
    "sk_hist_quantiles_merge",
    # single-pass histogram quantiles in SQL; the entry ALSO builds the
    # histogram as 4 per-shard partials merged by integer addition and
    # certifies merge == single-pass (flag the oracle asserts true) —
    # the same contract sk_countmin_merge/sk_hll_merge certify for
    # frequency/distinct state, now for percentiles
    oracle=f"""
    WITH b AS (
      SELECT ({_CENTS} // {_HBIN}) AS bin, count(*) AS c
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT bin, c,
             sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER () AS total
      FROM b
    ),
    q AS (
      SELECT p.p AS pct,
             min(bin) FILTER (WHERE cum * 100 >= p.p * total) AS qbin
      FROM cum CROSS JOIN (VALUES (50), (90), (99)) AS p(p)
      GROUP BY p.p
    )
    SELECT CAST(pct AS BIGINT) AS pct,
           CAST(qbin * {_HBIN} AS BIGINT) AS cents_lo,
           CAST(qbin * {_HBIN} + {_HBIN} AS BIGINT) AS cents_hi,
           true AS merge_consistent
    FROM q
    """,
    survey_ref="beyond-reference: mergeable histogram quantiles — "
    "per-shard integer histograms merged by addition equal the "
    "single-pass histogram EXACTLY, so percentile state rolls up "
    "across days/shards without rescans (completes the mergeable-"
    "state family: countmin=frequency, HLL=distinct, this=quantiles)",
)
def sk_hist_quantiles_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 bins from a merged fixed-width histogram.

    Quantile sketches (GK/KLL) are mergeable only approximately; a
    fixed-width integer histogram is EXACTLY mergeable (integer adds
    commute) at the cost of bin-resolution answers — the right trade
    for percentile dashboards over 100 TB/day: per-shard state is
    |bins| longs, day rollups are additions, and the answer is a
    certified bin bracket, not a point estimate pretending precision.
    The entry computes the histogram BOTH ways (4 hash shards merged
    vs single-pass) and certifies equality value-for-value."""
    e = load_table(spark, sf_dir, "events")
    cents = (
        F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
        .cast("bigint")
    )
    binned = e.select(
        cents.alias("cents"), (F.col("event_id") % 4).alias("shard")
    ).select(
        F.expr(f"cents div {_HBIN}").alias("bin"), "shard"
    )
    # per-shard partial histograms → merge by addition
    shard_hist = binned.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    merged = shard_hist.groupBy("bin").agg(F.sum("c").alias("c"))
    # single-pass histogram
    single = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_single")
    )
    both = merged.join(single, "bin", "full_outer")
    consistent = both.agg(
        F.min(
            (
                F.coalesce(F.col("c"), F.lit(-1))
                == F.coalesce(F.col("c_single"), F.lit(-2))
            ).cast("boolean")
        ).alias("ok")
    )
    from pyspark.sql.window import Window as W

    cum = merged.select(
        "bin",
        "c",
        F.sum("c")
        .over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("c").over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("total"),
    )
    pcts = spark.createDataFrame([(50,), (90,), (99,)], "p int")
    q = (
        cum.crossJoin(F.broadcast(pcts))
        .filter(F.col("cum") * 100 >= F.col("p") * F.col("total"))
        .groupBy("p")
        .agg(F.min("bin").alias("qbin"))
    )
    return q.crossJoin(F.broadcast(consistent)).select(
        F.col("p").cast("bigint").alias("pct"),
        (F.col("qbin") * _HBIN).cast("bigint").alias("cents_lo"),
        (F.col("qbin") * _HBIN + _HBIN).cast("bigint").alias("cents_hi"),
        F.col("ok").alias("merge_consistent"),
    )


# ---------------------------------------------------------------------------
# Bloom filter: the mergeable MEMBERSHIP sketch.
# ---------------------------------------------------------------------------
_BF_WORDS = 64  # 64 words × 63 bits = 4032-bit filter (≈ 0.5 KB)
_BF_BITS = _BF_WORDS * 63
_BF_K = 3


def _bf_pos_sql(key_expr: str, j: str) -> str:
    return (
        f"CAST('0x' || substr(md5('bf|' || {j} || '|' || {key_expr}), 1, 8)"
        f" AS BIGINT) % {_BF_BITS}"
    )


@query(
    "sk_bloom_membership",
    # the oracle recomputes the identical deterministic filter in SQL:
    # zero false negatives is the INVARIANT (must be exactly 0), the
    # false-positive count is the measured honesty number, and the
    # 4-shard bit_or merge must equal the single-pass filter word for
    # word (OR is associative — same contract as the countmin/HLL/
    # histogram merges, now for membership)
    oracle=f"""
    WITH present AS (
      SELECT CAST(c_custkey AS STRING) AS k FROM customer
      WHERE c_custkey % 10 = 3
    ),
    pos AS (
      SELECT k, {_bf_pos_sql('k', 'j.j')} AS pos
      FROM present CROSS JOIN (SELECT unnest(range(0, {_BF_K})) AS j) j
    ),
    words AS (
      SELECT pos // 63 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
      FROM pos GROUP BY 1
    ),
    probes AS (
      SELECT CAST(c_custkey AS STRING) AS k, true AS is_present
      FROM customer WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT CAST(c_custkey + 1000000000 AS STRING), false
      FROM customer WHERE c_custkey % 10 = 3
    ),
    ppos AS (
      SELECT k, is_present,
             {_bf_pos_sql('k', 'j.j')} AS pos
      FROM probes CROSS JOIN (SELECT unnest(range(0, {_BF_K})) AS j) j
    ),
    hits AS (
      SELECT p.k, p.is_present,
             bool_and(coalesce(
               (w.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 63 AS INT)))
                 <> 0, false)) AS member
      FROM ppos p LEFT JOIN words w ON p.pos // 63 = w.word
      GROUP BY p.k, p.is_present
    )
    SELECT
      CAST(sum(CASE WHEN is_present THEN 1 ELSE 0 END) AS BIGINT)
        AS n_present,
      CAST(sum(CASE WHEN is_present AND member THEN 1 ELSE 0 END)
           AS BIGINT) AS n_present_hit,
      CAST(sum(CASE WHEN is_present AND NOT member THEN 1 ELSE 0 END)
           AS BIGINT) AS n_false_neg,
      CAST(sum(CASE WHEN NOT is_present THEN 1 ELSE 0 END) AS BIGINT)
        AS n_absent,
      CAST(sum(CASE WHEN NOT is_present AND member THEN 1 ELSE 0 END)
           AS BIGINT) AS n_false_pos,
      true AS merge_consistent
    FROM hits
    """,
    survey_ref="beyond-reference: Bloom-filter membership sketch — "
    "md5-deterministic, zero-false-negative invariant as data, "
    "measured false positives, 4-shard bit_or merge == single pass "
    "(the mergeable-state family's membership member: countmin="
    "frequency, HLL=distinct, histogram=quantiles, bloom=membership)",
)
def sk_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 0.5 KB Bloom filter built, merged, and probed — all certified.

    The runtime-filter/semi-join-pushdown primitive: ship the 64-word
    filter to the fact scan and drop rows whose keys cannot be in the
    build side (never a row that IS — the zero-false-negative
    invariant this entry certifies as a must-be-0 column). Per-shard
    filters bit_or-merge into exactly the single-pass filter, so
    membership state pre-aggregates map-side like every other sketch
    in the family. Hashing is md5-only → identical across engines,
    retries, and partitionings."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 10 == 3
    )
    present = cust.select(F.col("c_custkey").cast("string").alias("k"))

    def positions(df: DataFrame, *extra: str) -> DataFrame:
        p = df.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(_BF_K - 1))).alias("j")
        )
        h = F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit("bf"), F.col("j"), F.col("k"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return p.select(*(["k", *extra]), (h % _BF_BITS).alias("pos"))

    def build(df: DataFrame) -> DataFrame:
        return (
            positions(df)
            .groupBy(F.expr("pos div 63").alias("word"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(CAST(1 AS BIGINT),"
                    " CAST(pos % 63 AS INT)))"
                ).alias("bits")
            )
        )

    single = build(present)
    sharded = (
        positions(present.withColumn("shard", F.crc32("k") % 4), "shard")
        .groupBy(F.expr("pos div 63").alias("word"), "shard")
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT),"
                " CAST(pos % 63 AS INT)))"
            ).alias("bits")
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    consistent = (
        single.withColumnRenamed("bits", "b1")
        .join(sharded.withColumnRenamed("bits", "b2"), "word", "full_outer")
        .agg(
            F.min(
                (
                    F.coalesce(F.col("b1"), F.lit(-1))
                    == F.coalesce(F.col("b2"), F.lit(-2))
                ).cast("boolean")
            ).alias("ok")
        )
    )
    probes = present.withColumn("is_present", F.lit(True)).unionByName(
        cust.select(
            (F.col("c_custkey") + 1000000000).cast("string").alias("k")
        ).withColumn("is_present", F.lit(False))
    )
    ppos = positions(probes, "is_present")
    hit = (
        ppos.join(
            F.broadcast(single),
            F.expr("pos div 63") == F.col("word"),
            "left",
        )
        .select(
            "k",
            "is_present",
            F.coalesce(
                (
                    F.expr(
                        "bits & shiftleft(CAST(1 AS BIGINT),"
                        " CAST(pos % 63 AS INT))"
                    )
                    != 0
                ),
                F.lit(False),
            ).alias("h"),
        )
        .groupBy("k", "is_present")
        .agg(F.bool_and("h").alias("member"))
    )
    summary = hit.agg(
        F.sum(F.col("is_present").cast("int")).cast("bigint").alias("n_present"),
        F.sum((F.col("is_present") & F.col("member")).cast("int"))
        .cast("bigint")
        .alias("n_present_hit"),
        F.sum((F.col("is_present") & ~F.col("member")).cast("int"))
        .cast("bigint")
        .alias("n_false_neg"),
        F.sum((~F.col("is_present")).cast("int")).cast("bigint").alias("n_absent"),
        F.sum((~F.col("is_present") & F.col("member")).cast("int"))
        .cast("bigint")
        .alias("n_false_pos"),
    )
    return summary.crossJoin(F.broadcast(consistent)).select(
        "n_present",
        "n_present_hit",
        "n_false_neg",
        "n_absent",
        "n_false_pos",
        F.col("ok").alias("merge_consistent"),
    )


# ---------------------------------------------------------------------------
# Bloom runtime filter applied to a real join, certified lossless.
# ---------------------------------------------------------------------------
@query(
    "sk_bloom_join_prune",
    # the oracle is the PLAIN join — the bloom prefilter must be
    # invisible in the result (zero false negatives ⇒ lossless); what
    # it changes is the fact rows reaching the shuffle
    oracle="""
    SELECT l.l_orderkey AS okey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM lineitem l
    JOIN (SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT'
            AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00') o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    survey_ref="beyond-reference: Bloom runtime filter on a real join "
    "— the 0.5 KB filter from the reduced build side drops fact rows "
    "BEFORE the shuffle, certified lossless vs the plain join "
    "(sk_bloom_membership put to work; the manual spelling of "
    "spark.sql.optimizer.runtime.bloomFilter)",
)
def sk_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join lineitem to a 1%-selective order set through a Bloom gate.

    The build side (urgent 1998+ orders) collapses to a 64-word filter;
    the probe side evaluates 3 md5 bits per row — pure Column math, no
    join, no shuffle — and only surviving rows (true matches + the
    measured ~small false-positive slice) reach the equi-join. The
    hash match against the plain join is the losslessness proof; at
    100 TB this is the manual spelling of the optimizer's runtime
    bloom filter, usable where the optimizer can't see the
    opportunity (e.g. across a checkpoint or a table-format read)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    keys = orders.select(
        F.col("o_orderkey").cast("string").alias("k")
    )

    def pos(col: F.Column, j: F.Column) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit("bf"), j, col)), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % _BF_BITS
        )

    kp = keys.select(
        "k", F.explode(F.sequence(F.lit(0), F.lit(_BF_K - 1))).alias("j")
    ).select(pos(F.col("k"), F.col("j")).alias("pos"))
    words = kp.groupBy(F.expr("pos div 63").alias("word")).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)))"
        ).alias("bits")
    )
    # the ≤64-row filter table broadcasts; each probe row checks its
    # 3 bit positions via broadcast lookups — an absent word means no
    # bits set there, so the inner join itself prunes those rows
    lk = F.col("l_orderkey").cast("string")
    pruned = li
    for j in range(_BF_K):
        pruned = pruned.withColumn(f"pos_{j}", pos(lk, F.lit(j)))
    for j in range(_BF_K):
        w = words.select(
            F.col("word").alias(f"w_{j}"), F.col("bits").alias(f"bits_{j}")
        )
        pruned = pruned.join(
            F.broadcast(w),
            F.expr(f"pos_{j} div 63") == F.col(f"w_{j}"),
            "inner",
        ).filter(
            F.expr(
                f"bits_{j} & shiftleft(CAST(1 AS BIGINT),"
                f" CAST(pos_{j} % 63 AS INT))"
            )
            != 0
        )
    joined = pruned.join(
        F.broadcast(orders.select("o_orderkey")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return joined.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("price_cents"),
    )


_TOPK_SHARDS = 4
_TOPK_K = 20
_TOPK_OUT = 10


@query(
    "sk_topk_mergeable",
    oracle=f"""
    WITH sharded AS (
      SELECT user_id,
             CAST('0x' || substr(md5('tk1|' || CAST(event_id AS VARCHAR)), 1, 2)
                  AS INTEGER) % {_TOPK_SHARDS} AS shard
      FROM events
    ),
    sc AS (
      SELECT shard, user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM sharded GROUP BY shard, user_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY shard
                                   ORDER BY cnt DESC, user_id) AS rk
      FROM sc
    ),
    kept AS (SELECT shard, user_id, cnt FROM ranked WHERE rk <= {_TOPK_K}),
    thr AS (SELECT shard, CAST(min(cnt) AS BIGINT) AS thr FROM kept GROUP BY shard),
    tot_thr AS (SELECT CAST(sum(thr) AS BIGINT) AS all_thr FROM thr),
    est AS (
      SELECT user_id, CAST(sum(cnt) AS BIGINT) AS est_lower,
             CAST(sum(cnt) + (SELECT all_thr FROM tot_thr)
                  - sum(t.thr) AS BIGINT) AS est_upper
      FROM kept k JOIN thr t ON t.shard = k.shard
      GROUP BY user_id
    ),
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM sharded GROUP BY user_id
    ),
    top10 AS (
      SELECT user_id, exact_cnt,
             row_number() OVER (ORDER BY exact_cnt DESC, user_id) AS rnk
      FROM exact
    )
    SELECT t.user_id, t.exact_cnt, CAST(t.rnk AS INT) AS rnk,
           e.est_lower, e.est_upper,
           CAST(e.user_id IS NOT NULL AS INT) AS in_candidates,
           CAST(e.user_id IS NULL
                OR (e.est_lower <= t.exact_cnt AND t.exact_cnt <= e.est_upper)
                AS INT) AS bound_ok
    FROM top10 t LEFT JOIN est e ON e.user_id = t.user_id
    WHERE t.rnk <= {_TOPK_OUT}
    """,
    survey_ref="beyond-reference: mergeable top-k summary (per-shard "
    "top-K + k-th-count threshold, merged with [lower, upper] bounds) — "
    "bound contract certified as a must-be-1 column",
)
def sk_topk_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged 4-shard top-k summary vs exact global top-10.

    The summary each shard keeps is K rows + one threshold — fixed
    size, mergeable by addition, the pre-aggregation contract for
    heavy-hitters at 100 TB (per-executor summaries merge on one
    reducer instead of shuffling every key). ``bound_ok`` certifies
    the estimate interval contains the exact count for every exact
    top-10 key present in the merged candidates; ``in_candidates``
    reports coverage (guaranteed only when K is large enough relative
    to the skew — uniform keys here make it a diagnostic, not an
    invariant)."""
    e = load_table(spark, sf_dir, "events")
    shard = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("tk1|"), F.col("event_id").cast("string"))), 1, 2),
            16,
            10,
        ).cast("int")
        % _TOPK_SHARDS
    )
    sharded = e.select("user_id", shard.alias("shard"))
    sc = sharded.groupBy("shard", "user_id").agg(F.count("*").alias("cnt"))
    rk = F.row_number().over(
        Window.partitionBy("shard").orderBy(F.desc("cnt"), "user_id")
    )
    kept = sc.withColumn("rk", rk).where(F.col("rk") <= _TOPK_K)
    thr = kept.groupBy("shard").agg(F.min("cnt").alias("thr"))
    all_thr = thr.agg(F.sum("thr").alias("all_thr"))
    est = (
        kept.join(F.broadcast(thr), "shard")
        .crossJoin(F.broadcast(all_thr))
        .groupBy("user_id")
        .agg(
            F.sum("cnt").alias("est_lower"),
            (F.sum("cnt") + F.first("all_thr") - F.sum("thr")).alias("est_upper"),
        )
    )
    exact = sharded.groupBy("user_id").agg(F.count("*").alias("exact_cnt"))
    top10 = exact.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("exact_cnt"), "user_id"))
    ).where(F.col("rnk") <= _TOPK_OUT)
    j = top10.join(est.withColumnRenamed("user_id", "e_uid"),
                   F.col("e_uid") == F.col("user_id"), "left")
    return j.select(
        "user_id",
        "exact_cnt",
        F.col("rnk").cast("int").alias("rnk"),
        "est_lower",
        "est_upper",
        F.col("e_uid").isNotNull().cast("int").alias("in_candidates"),
        (
            F.col("e_uid").isNull()
            | ((F.col("est_lower") <= F.col("exact_cnt")) & (F.col("exact_cnt") <= F.col("est_upper")))
        )
        .cast("int")
        .alias("bound_ok"),
    )

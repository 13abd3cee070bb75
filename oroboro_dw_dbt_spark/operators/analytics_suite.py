"""Round-5 analytic widening: subquery decorrelation (TPC-H Q17/Q22
shapes), window distribution functions, OHLC downsampling, iterative
PageRank, corpus paragraph-dedup, and product-quantization ANN.

Each entry is a distinct PLAN SHAPE the earlier suites don't cover:

- q17: correlated scalar subquery — the decorrelation rewrite (aggregate
  once per key, join back) that turns O(rows × subquery) into one
  aggregation + one join;
- q22: global scalar subquery (a 1-row broadcast) + NOT EXISTS
  anti-join in the same plan;
- w_ntile_distribution: rank-DISTRIBUTION functions (ntile /
  percent_rank / cume_dist) vs the ordinal ranks of w_rank_suite;
- ts_ohlc_bars: order-statistic aggregation (min_by/max_by ==
  arg_min/arg_max) — first/last/extreme-by-other-column without a
  window or self-join;
- gr_pagerank: a fixed-iteration iterative algorithm (converging joins
  driven from the DRIVER loop, each iteration a broadcast join);
- t_dedup_paragraphs: C4-style intra-corpus chunk dedup with document
  reassembly;
- ss_pq_adc_topk / ss_ivfpq_topk: product quantization with asymmetric
  distance computation, flat and composed with partition-pruned IVF
  probes — the memory-side rungs of the ANN ladder (SQ8 → PQ → IVF-PQ);
- f_array_suite / d_interval_suite: the array/higher-order and
  date/interval scalar-function matrices with pinned cross-engine
  semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oroboro_dw_dbt_spark.engine.materialize import materialize
from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.operators.relational import PRICE_DEC
from oroboro_dw_dbt_spark.ops.graph import (
    label_propagation,
    label_propagation_oracle_sql,
    pagerank,
    pagerank_oracle_sql,
)
from oroboro_dw_dbt_spark.sources.testdata import load_table


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: correlated scalar subquery, decorrelated.
# ---------------------------------------------------------------------------
@query(
    "q17_small_qty_revenue",
    # The classic correlated form is
    #   WHERE l_quantity < (SELECT 0.2*avg(l_quantity) FROM lineitem l2
    #                       WHERE l2.l_partkey = l.l_partkey)
    # — the oracle states the DECORRELATED equivalent (identical result,
    # and what any modern planner rewrites to), so both engines run the
    # same exact-arithmetic plan. Thresholds compare in DECIMAL so the
    # boundary decision is bit-identical.
    oracle="""
    WITH pa AS (
      SELECT l_partkey AS pk,
             0.2 * avg(CAST(l_quantity AS DECIMAL(12,4))) AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) / 7.0, 2)
                AS DOUBLE) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_small
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pk = l_partkey
    WHERE p_brand = 'Brand#1'
      AND CAST(l_quantity AS DECIMAL(12,4)) < qty_threshold
    """,
    survey_ref="beyond-reference: correlated scalar subquery "
    "(TPC-H Q17 shape) decorrelated into aggregate + join-back",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of below-average-quantity line items for one brand.

    Decorrelation is the whole point: the naive correlated subquery
    re-aggregates lineitem once per outer row; the rewrite aggregates
    per partkey ONCE (map-side partial agg on the fact's natural key)
    and joins the per-key threshold back. At 100 TB both the fact scan
    and the threshold build are single passes, and the brand filter
    prunes the join's probe side before the shuffle. The threshold
    table is |parts| rows — shuffle-joined here; at a fixed brand it
    could be broadcast after the part-side filter."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    qty = F.col("l_quantity").cast(PRICE_DEC)
    thresholds = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * F.avg(qty)).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresholds, F.col("pk") == F.col("l_partkey"))
        .filter(qty < F.col("qty_threshold"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast(PRICE_DEC)) / 7.0, 2)
            .cast("double")
            .alias("avg_yearly"),
            F.count(F.lit(1)).cast("bigint").alias("n_small"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: global scalar subquery + NOT EXISTS anti-join.
# ---------------------------------------------------------------------------
@query(
    "q22_idle_customer_balance",
    # Q22 restated over this schema's columns (no c_phone): rich
    # customers (acctbal above the positive-balance global average) with
    # no OPEN order, grouped by nation (every customer has some order in
    # this data, so the anti-join side is the 'O'-status subset — same
    # plan shape, non-degenerate result). Two decorrelation shapes in
    # one plan: the scalar average is a 1-row broadcast; the NOT EXISTS
    # is a left-anti join on o_custkey.
    oracle="""
    WITH avg_bal AS (
      SELECT avg(CAST(c_acctbal AS DECIMAL(12,4))) AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_custs,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,4))), 2) AS DOUBLE)
             AS total_bal
    FROM customer, avg_bal
    WHERE CAST(c_acctbal AS DECIMAL(12,4)) > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    GROUP BY c_nationkey
    """,
    survey_ref="beyond-reference: global scalar subquery + NOT EXISTS "
    "(TPC-H Q22 shape) as 1-row broadcast + left-anti join",
)
def q22_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Never-ordered rich customers per nation.

    The scalar subquery (global positive-balance average) is computed
    once and CROSS-joined as a broadcast 1-row frame — the standard
    decorrelation for uncorrelated scalars, free at any scale. The NOT
    EXISTS is a left-anti join against the DISTINCT order custkeys
    (dedup before the join shrinks the build side to unique keys). The
    anti-join shuffles on custkey; at 100 TB a bloom filter on the
    order-key side would pre-drop most probe rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast(PRICE_DEC)
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg(bal).alias("ab"))
    order_keys = (
        orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(bal > F.col("ab"))
        .join(order_keys, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_custs"),
            F.round(F.sum(bal), 2).cast("double").alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Window distribution functions: ntile / percent_rank / cume_dist.
# ---------------------------------------------------------------------------
@query(
    "w_ntile_distribution",
    # Both engines define these identically over a TOTAL order:
    # percent_rank = (rank-1)/(n-1), cume_dist = |peers ≤ x|/n, ntile
    # splits with larger buckets first. The (o_totalprice, o_orderkey)
    # order is a total order, so ranks are unambiguous; ratios are
    # exact dyadic-ish doubles rounded to 6.
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(10) OVER w AS INT) AS decile,
           CAST(round(percent_rank() OVER w, 6) AS DOUBLE) AS pct_rank,
           CAST(round(cume_dist() OVER w, 6) AS DOUBLE) AS cume
    FROM orders
    WHERE o_orderstatus = 'F'
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
    survey_ref="beyond-reference: window distribution functions "
    "(ntile / percent_rank / cume_dist) over a pinned total order",
)
def w_ntile_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile / percentile position of each order within its priority
    class. One shuffle on the partition key, one sort per partition —
    the same physical shape as any ranking window; the distribution
    functions are free riders on the sort. Partitions here are the ~5
    priority classes; at 100 TB the partition key must be chosen with
    enough cardinality (or the two-phase ranking rewrite in
    ops/ranking.py applies)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        F.ntile(10).over(w).cast("int").alias("decile"),
        F.round(F.percent_rank().over(w), 6).cast("double").alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).cast("double").alias("cume"),
    )


# ---------------------------------------------------------------------------
# OHLC downsampling: order-statistic aggregation via min_by / max_by.
# ---------------------------------------------------------------------------
@query(
    "ts_ohlc_bars",
    # open/close are the value AT the min/max timestamp; ties on ts are
    # broken by event_id via a zero-padded (epoch_us, event_id) string
    # key — lexicographic order == numeric order, and arg_min/min_by
    # accept it on both engines (DuckDB's arg_min has no struct
    # ordering overload).
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL 1 HOUR, ts) AS bar_ts,
           arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                          || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS open,
           CAST(max(value) AS DOUBLE) AS high,
           CAST(min(value) AS DOUBLE) AS low,
           arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                          || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS close,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM events
    GROUP BY 1, 2
    """,
    survey_ref="beyond-reference: OHLC downsampling — order-statistic "
    "aggregates (min_by/max_by) instead of window + self-join",
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event series in ONE aggregation.

    The naive spelling is a window (first/last over ts) or a self-join
    back to the min/max row — both shuffle the fact twice. min_by /
    max_by fold the 'value at the extreme of another column' into the
    partial-aggregate state, so the whole bar computation is a single
    map-side-combined groupBy: at 100 TB the shuffle carries one row
    per (series, hour), not per tick. The zero-padded (epoch_us,
    event_id) string key makes the extreme's tiebreak explicit and
    engine-independent (lexicographic == numeric for fixed width)."""
    ev = load_table(spark, sf_dir, "events")
    tiebreak = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bar_ts"),
    ).agg(
        F.min_by("value", tiebreak).alias("open"),
        F.max("value").cast("double").alias("high"),
        F.min("value").cast("double").alias("low"),
        F.max_by("value", tiebreak).alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
    )


# ---------------------------------------------------------------------------
# Iterative PageRank over the event-type transition graph.
# ---------------------------------------------------------------------------
_PR_EDGES_SQL = """
    SELECT prev AS src, event_type AS dst, CAST(count(*) AS BIGINT) AS w
    FROM (SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events)
    WHERE prev IS NOT NULL
    GROUP BY 1, 2
"""


@query(
    "gr_pagerank",
    # the oracle is the UNROLLED fixed-point iteration — identical
    # integer constants and floor-divisions as ops/graph.py, one CTE
    # per round, so both engines walk the exact same trajectory
    oracle=pagerank_oracle_sql(_PR_EDGES_SQL, iterations=5),
    survey_ref="beyond-reference: iterative algorithm (damped PageRank, "
    "5 fixed-point power iterations; driver-owned loop of edge⋈rank "
    "joins — the Pregel pattern on DataFrames)",
)
def gr_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank of event types in the user-session transition graph.

    Edge build: one window (lag over each user's ordered events) and
    one count aggregation — the fact is scanned once. The iteration
    then never touches the fact again: 5 rounds of edges⋈ranks with
    integer fixed-point arithmetic (see ops/graph.py for why integer:
    bit-identical across engines AND partitionings). Node count here is
    the handful of event types, but the implementation is generic over
    any (src, dst, w) frame — at 100 TB of edges the same loop holds
    with the edge list persisted and pre-partitioned by src."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("dst"),
            F.lag("event_type").over(w).alias("src"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    ranks = pagerank(edges, iterations=5)
    return ranks.select(
        "node",
        F.round(F.col("r").cast("double") / F.lit(10.0**12), 8)
        .cast("double")
        .alias("pr"),
    )



# One month's undirected nation trade graph — the shared edge relation
# of the graph family (triangles, BFS; label propagation adds a
# same-region restriction and weights on top of the same join chain).
# ONE definition on each side: the Spark builder below, this CTE for
# the oracles — so the entries certify the same graph by construction.
_TRADE_PAIRS_SQL = """\
pairs AS (
      SELECT DISTINCT least(s_nationkey, c_nationkey) AS a,
                      greatest(s_nationkey, c_nationkey) AS b
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN customer ON c_custkey = o_custkey
      WHERE s_nationkey <> c_nationkey
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-02-01 00:00:00'
    )"""


def _trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected (a < b) nation pairs that traded in 1996-01."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.least("s_nationkey", "c_nationkey").alias("a"),
            F.greatest("s_nationkey", "c_nationkey").alias("b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Triangle counting on the nation trade graph.
# ---------------------------------------------------------------------------
@query(
    "gr_triangle_count",
    oracle=f"""
    WITH {_TRADE_PAIRS_SQL},
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM pairs e1
      JOIN pairs e2 ON e2.a = e1.b
      JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY node
    """,
    survey_ref="beyond-reference: triangle counting (graph family #3 "
    "after connected components and PageRank) — oriented-edge 3-way "
    "self-join, never an open wedge enumeration on the full graph",
)
def gr_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation in one month's trade graph.

    The algorithm is the standard oriented-edge join: undirected edges
    are stored once as (a < b), so each triangle {x, y, z} is
    enumerated exactly once as the ordered triple x < y < z — two
    equi-joins (wedge build e1⋈e2 on the middle vertex, then closure
    check against e3), no post-hoc dedup, no double counting.

    Scale: the edge build is fact-sized but collapses to DISTINCT
    nation pairs before any graph work (the same pre-aggregation
    discipline as Q13/Q20). On a big sparse graph the wedge join is
    bounded by Σ deg²; production would orient by DEGREE rather than
    id (high-degree vertices become wedge endpoints, not centers),
    which is a one-line change to the orientation key — with 25
    nation nodes the id orientation is already exact and tiny. The
    per-node rollup is an explode of the triple — 3 rows per
    triangle — followed by one hash aggregation."""
    pairs = _trade_pairs(spark, sf_dir)
    e1 = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = pairs.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    e3 = pairs.select(F.col("a").alias("x3"), F.col("b").alias("z3"))
    tri = (
        e1.join(e2, F.col("y2") == F.col("y"))
        .join(e3, (F.col("x3") == F.col("x")) & (F.col("z3") == F.col("z")))
        .select("x", "y", "z")
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


# Shared winnowing pipeline CTEs (positional shingles -> per-window
# minima) — ONE definition interpolated into both winnowing oracles so
# the two entries certify the same fingerprint function by construction.
_WINNOW_BASE_CTES = """\
t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    d AS (SELECT doc_id, toks, len(toks) - 2 AS n_sh
          FROM t WHERE len(toks) >= 6),
    sh AS (SELECT doc_id, n_sh, CAST(i AS INT) AS pos,
                  substr(md5(array_to_string(toks[i + 1:i + 3], ' ')), 1, 8) AS h
           FROM d, unnest(range(0, n_sh)) AS r(i)),
    contrib AS (SELECT doc_id, pos, h, pos - off AS ws
                FROM sh, unnest([0, 1, 2, 3]) AS o(off)
                WHERE pos - off >= 0 AND pos - off <= n_sh - 4),
    mins AS (SELECT doc_id, ws, min(h) AS mh FROM contrib GROUP BY 1, 2)"""


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer et al. 2003 — MOSS).
# ---------------------------------------------------------------------------
@query(
    "t_winnowing_fingerprints",
    # positional 3-token shingles (NOT the deduped shingles() helper —
    # winnowing needs positions), md5-prefix hashes so both engines
    # order identically, rightmost-minimum tie rule as max(pos) over
    # the rows attaining the window minimum. Docs with <6 tokens are
    # excluded on both sides (guarantees every doc has >= 1 full
    # window of w=4 shingles — no short-doc edge semantics to pin).
    oracle=f"""
    WITH {_WINNOW_BASE_CTES},
    sel AS (SELECT c.doc_id, c.ws, m.mh, max(c.pos) AS sel_pos
            FROM contrib c
            JOIN mins m ON c.doc_id = m.doc_id AND c.ws = m.ws AND c.h = m.mh
            GROUP BY 1, 2, 3)
    SELECT DISTINCT doc_id, CAST(sel_pos AS INT) AS pos, mh AS fp FROM sel
    """,
    survey_ref="beyond-reference: winnowing fingerprints (Schleimer et "
    "al. 2003, the MOSS local document fingerprinting scheme) — "
    "guaranteed-density dedup/plagiarism signatures, pure Column plan",
)
def t_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (position, hash) fingerprints per document: in every
    window of w=4 consecutive shingle hashes, select the rightmost
    minimum; the distinct selections are the fingerprint set.

    Why this beats min-hashing for LOCAL similarity: winnowing
    guarantees any shared substring of length >= w+n-1 tokens yields a
    shared fingerprint (detection is position-dense, not just
    set-statistical), with expected density 2/(w+1). The plan is
    joins/aggregations only: positional shingles (one posexplode),
    each contributing to <= w window starts via a literal 4-element
    explode, a per-window min, and a rightmost-tie resolve — shuffle
    keys are (doc, window), so at 100 TB it partitions by document
    like every other text kernel. The property test asserts the
    paper's density guarantee (gap between consecutive selections
    <= w) on arbitrary corpora."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 6)
    sh = d.select(
        "doc_id",
        (F.size("toks") - 2).alias("n_sh"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 3),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, 3)),
            )
        ).alias("pos", "s"),
    ).select(
        "doc_id", "n_sh", "pos", F.substring(F.md5("s"), 1, 8).alias("h")
    )
    contrib = (
        sh.select(
            "doc_id",
            "n_sh",
            "pos",
            "h",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2), F.lit(3))).alias("off"),
        )
        .withColumn("ws", F.col("pos") - F.col("off"))
        .filter((F.col("ws") >= 0) & (F.col("ws") <= F.col("n_sh") - 4))
        .select("doc_id", "pos", "h", "ws")
    )
    mins = contrib.groupBy("doc_id", "ws").agg(F.min("h").alias("mh"))
    sel = (
        contrib.join(mins, ["doc_id", "ws"])
        .filter(F.col("h") == F.col("mh"))
        .groupBy("doc_id", "ws", "mh")
        .agg(F.max("pos").alias("sel_pos"))
    )
    return sel.select(
        "doc_id", F.col("sel_pos").cast("int").alias("pos"), F.col("mh").alias("fp")
    ).distinct()


# ---------------------------------------------------------------------------
# Markov transition-matrix estimation from session streams.
# ---------------------------------------------------------------------------
@query(
    "ev_markov_transitions",
    # row-normalized transition probabilities: integer counts divided
    # once at the end (scale-2-rounded decimal / count pattern is not
    # needed — both numerator and denominator are exact BIGINTs, and
    # the single double division is IEEE-identical cross-engine)
    oracle="""
    WITH e AS (
      SELECT prev AS src, event_type AS dst
      FROM (SELECT event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events)
      WHERE prev IS NOT NULL
    ),
    c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY src, dst),
    t AS (SELECT src, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY src)
    SELECT c.src, c.dst, c.n,
           round(CAST(c.n AS DOUBLE) / t.total, 6) AS p
    FROM c JOIN t USING (src)
    """,
    survey_ref="beyond-reference: Markov transition-matrix estimation "
    "(the model PageRank walks on) — per-user lag window + two "
    "aggregations sharing the src partitioning",
)
def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-normalized event-type transition probabilities.

    The estimation companion of gr_pagerank: the same lag-window edge
    build, then counts and row totals — the second aggregation reuses
    the first's src partitioning, so normalization adds no exchange.
    At 100 TB the per-user window is the dominant cost (one shuffle on
    user_id, state bounded per user) and the transition matrix itself
    is |types|² rows — the model ships as a broadcast. Counts stay
    exact integers; the one division happens after all aggregation."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("dst"),
            F.lag("event_type").over(w).alias("src"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    totals = edges.groupBy(F.col("src").alias("s2")).agg(
        F.sum("n").cast("bigint").alias("total")
    )
    return (
        edges.join(totals, F.col("src") == F.col("s2"))
        .select(
            "src",
            "dst",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("p"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-source BFS distances over the trade graph.
# ---------------------------------------------------------------------------
@query(
    "gr_bfs_distances",
    # oracle: depth-capped recursive traversal, then min per node — the
    # cap (8) exceeds any possible diameter of a 25-node graph reached
    # from the seeds, making bounded recursion exact BFS. Unreached
    # nodes surface with distance -1 on both sides.
    oracle=f"""
    WITH RECURSIVE {_TRADE_PAIRS_SQL},
    sym AS (SELECT a AS src, b AS dst FROM pairs
            UNION SELECT b, a FROM pairs),
    seeds AS (SELECT n_nationkey AS node FROM nation WHERE n_regionkey = 0),
    walk AS (
      SELECT node, 0 AS d FROM seeds
      UNION
      SELECT sym.dst AS node, walk.d + 1 AS d
      FROM walk JOIN sym ON sym.src = walk.node
      WHERE walk.d < 8
    ),
    reached AS (SELECT node, CAST(min(d) AS INT) AS dist
                FROM walk GROUP BY node)
    SELECT n.node, COALESCE(r.dist, -1) AS dist
    FROM (SELECT DISTINCT src AS node FROM sym) n
    LEFT JOIN reached r USING (node)
    """,
    survey_ref="beyond-reference: multi-source BFS (graph family #6) — "
    "iterative min-distance relaxation, one edge⋈frontier shuffle per "
    "hop, vs the oracle's depth-capped recursive CTE",
)
def gr_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop count from any region-0 nation, per nation, in one
    month's trade graph (-1 where unreachable).

    The iterative form is Bellman-Ford specialised to unit weights:
    dist' = min(dist, 1 + min over neighbours' dist), driver loop,
    one edges⋈state shuffle per hop, state always |V| rows. On a
    100 TB edge list the same discipline as PageRank applies
    (symmetrize + pre-partition edges once); hop count is bounded by
    the diameter, and for the small-world graphs BFS is run on in
    practice that is single digits. Integer distances ⇒ deterministic
    under any partitioning; the recursive-CTE oracle enumerates
    depth-capped walks and takes the same min."""
    nation = load_table(spark, sf_dir, "nation")
    pairs = _trade_pairs(spark, sf_dir)
    sym = materialize(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    seeds = nation.filter(F.col("n_regionkey") == 0).select(
        F.col("n_nationkey").alias("node")
    )
    state = materialize(
        sym.select("src")
        .distinct()
        .select(F.col("src").alias("node"))
        .join(seeds.withColumn("d0", F.lit(0)), "node", "left")
        .select("node", F.coalesce("d0", F.lit(None).cast("int")).alias("dist"))
    )
    for _ in range(8):
        nbr = (
            sym.join(state, sym["src"] == state["node"])
            .filter(F.col("dist").isNotNull())
            .groupBy(F.col("dst").alias("n2"))
            .agg((F.min("dist") + 1).alias("via"))
        )
        state = materialize(
            state.join(nbr, state["node"] == F.col("n2"), "left")
            .select("node", F.least("dist", "via").alias("dist"))
        )
    return state.select(
        "node", F.coalesce(F.col("dist").cast("int"), F.lit(-1)).alias("dist")
    )


# ---------------------------------------------------------------------------
# Winnowing composed into near-dup pairs (the MOSS match step).
# ---------------------------------------------------------------------------
_WINNOW_CTES = (
    _WINNOW_BASE_CTES
    + """,
    fp AS (SELECT DISTINCT c.doc_id AS doc_id, m.mh AS fp
           FROM contrib c
           JOIN mins m ON c.doc_id = m.doc_id AND c.ws = m.ws AND c.h = m.mh)"""
)


@query(
    "dd_winnow_overlap",
    # the MOSS match step: candidate pairs = docs sharing fingerprints,
    # ranked by how many — an equi-join on the fingerprint hash, so
    # candidates cost O(collisions), never all-pairs
    oracle=f"""
    WITH {_WINNOW_CTES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_fps
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
    survey_ref="beyond-reference: winnowing-based near-dup candidates "
    "(MOSS match step) — shared-fingerprint equi-join, O(collisions)",
)
def dd_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= 2 winnowed fingerprints.

    The dedup-family sibling of MinHash-LSH with a different contract:
    LSH approximates SET similarity; winnowing overlap counts SHARED
    LOCAL PASSAGES (any common run of >= w+n-1 tokens is guaranteed to
    surface). The join key is the fingerprint hash — candidates are
    bucket collisions, never an all-pairs product, and the per-hash
    bucket size is bounded by how many documents actually share that
    passage. Composes with dd_dup_groups (connected components) for
    cluster formation, like the LSH path."""
    fps = t_winnowing_fingerprints(spark, sf_dir).select("doc_id", "fp").distinct()
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )


# ---------------------------------------------------------------------------
# Trailing-window COUNT DISTINCT (the window-function gap, rewritten).
# ---------------------------------------------------------------------------
@query(
    "w_trailing_distinct",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM pairs)
    SELECT days.d AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users_7d
    FROM days JOIN pairs ON pairs.d BETWEEN days.d - 6 AND days.d
    GROUP BY days.d
    """,
    survey_ref="beyond-reference: COUNT(DISTINCT) over a trailing RANGE "
    "window — inexpressible as a Spark window function; rewritten as "
    "dedup → bounded explode → distinct aggregation",
)
def w_trailing_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day.

    `count(DISTINCT x) OVER (RANGE 6 PRECEDING)` is rejected by Spark
    (and most engines) because distinct state can't slide. The scalable
    rewrite: dedup to (day, user) pairs FIRST (the only fact-sized
    shuffle — at 100 TB this collapses billions of events to
    |days|×|actives| rows), then each pair fans out to the ≤7 target
    days it contributes to via an explode of a literal-bounded
    sequence, and a distinct aggregation per target day finishes. The
    fan-out factor equals the window length — cost is explicit and
    linear, vs the quadratic self-join a naive rewrite produces.
    Sketch alternative for approximate counts: per-day HLL state
    unioned over the window (sk_hll_merge's contract)."""
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = pairs.select("d").distinct()
    contributions = pairs.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
        "user_id",
    )
    return (
        contributions.join(
            F.broadcast(days), contributions["day"] == days["d"], "left_semi"
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("users_7d"))
    )


# ---------------------------------------------------------------------------
# Hierarchy closure by pointer doubling (the recursive-CTE rewrite).
# ---------------------------------------------------------------------------
@query(
    "gr_hierarchy_closure",
    # Spark has no WITH RECURSIVE; DuckDB does — so the oracle IS the
    # textbook recursive walk, and the entry certifies that the
    # pointer-doubling rewrite computes the identical closure
    oracle="""
    WITH RECURSIVE r AS (
      SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
      UNION ALL
      SELECT node, cur // 10, depth + 1 FROM r WHERE cur >= 10
    )
    SELECT node, CAST(cur AS BIGINT) AS root, CAST(depth AS INT) AS depth
    FROM r WHERE cur < 10
    """,
    survey_ref="beyond-reference: transitive ancestor closure (recursive "
    "CTE semantics) via pointer doubling — O(log depth) self-joins "
    "instead of O(depth) dependent scans",
)
def gr_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root ancestor + depth for every node of a parent hierarchy.

    The hierarchy is synthetic but structurally real (parent(v) =
    v div 10; nodes < 10 are roots — a 5-level tree over the customer
    keys). Spark lacks WITH RECURSIVE, and the naive loop joins once
    PER LEVEL; pointer doubling instead squares the reach each round —
    (v→a, d) ⨝ (a→a', d') ⇒ (v→a', d+d') — so depth-D closure costs
    ⌈log₂ D⌉ self-joins. Roots self-loop with d'=0, making the frame a
    fixpoint once every chain is absorbed. At 100 TB of edges each
    round is one equi-join shuffle on the ancestor key, and the row
    count never exceeds |V|: this is the scalable form of every
    org-chart / BOM / category-tree rollup. Depth arithmetic is exact
    integers; the recursive-CTE oracle walks the same chains one level
    at a time.

    Precondition (property-tested): the frame must contain every
    ancestor of every node, or the inner hop join drops chains.
    Automatically true for an edge-relation hierarchy (every non-root
    appears as a child row) and for the contiguous customer keys here;
    a sparse keyed subset must be closed under parent() first."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node")
    )
    state = cust.select(
        "node",
        F.when(F.col("node") >= 10, (F.col("node") / 10).cast("bigint"))
        .otherwise(F.col("node"))
        .alias("anc"),
        F.when(F.col("node") >= 10, F.lit(1)).otherwise(F.lit(0)).alias("d"),
    )
    # 3 doublings reach depth 8; the key space (≤ 10^6 at bench sf)
    # is ≤ 7 levels deep. Each round: state ⨝ state on anc = node.
    for _ in range(3):
        hop = state.select(
            F.col("node").alias("h_node"),
            F.col("anc").alias("h_anc"),
            F.col("d").alias("h_d"),
        )
        state = materialize(
            state.join(hop, state["anc"] == hop["h_node"])
            .select(
                "node",
                F.col("h_anc").alias("anc"),
                (F.col("d") + F.col("h_d")).alias("d"),
            )
        )
    return state.select(
        "node",
        F.col("anc").cast("bigint").alias("root"),
        F.col("d").cast("int").alias("depth"),
    )


# ---------------------------------------------------------------------------
# Label propagation over the intra-region trade graph.
# ---------------------------------------------------------------------------
_LP_EDGES_SQL = """
    SELECT s_nationkey AS src, c_nationkey AS dst,
           CAST(count(*) AS BIGINT) AS w
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE s_nationkey <> c_nationkey
      AND n1.n_regionkey = n2.n_regionkey
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-02-01 00:00:00'
    GROUP BY s_nationkey, c_nationkey
"""


@query(
    "gr_label_propagation",
    oracle=label_propagation_oracle_sql(_LP_EDGES_SQL, iterations=4),
    survey_ref="beyond-reference: deterministic synchronous label "
    "propagation (graph family #4) — integer vote sums, total-order "
    "tie-break, unrolled-CTE oracle twin",
)
def gr_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities in one month's intra-region trade graph.

    Edges connect nations that traded within their own region, so the
    ground-truth community structure is the five region cliques — LPA
    recovers it without ever being told regions exist. The edge build
    is fact-sized but collapses to ≤ nation² weighted pairs before any
    graph work; the 4 synchronous sweeps then run entirely on that
    tiny frame (see ops/graph.py for the determinism contract: integer
    vote weights + (wt DESC, label ASC) pick = a trajectory that is a
    pure function of the edge list, certified against the unrolled SQL
    twin)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    edges = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(
            (F.col("s_nationkey") != F.col("c_nationkey"))
            & (F.col("n1_region") == F.col("n2_region"))
        )
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    return label_propagation(edges, iterations=4)


# ---------------------------------------------------------------------------
# C4-style corpus chunk-dedup with document reassembly.
# ---------------------------------------------------------------------------
@query(
    "t_dedup_paragraphs",
    # same chunking arithmetic on both engines: 10-token windows via
    # 1-based inclusive list slicing; first-occurrence = row_number
    # over (chunk) ordered by (doc_id, chunk_idx); reassembly =
    # order-pinned string_agg
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    ix AS (
      SELECT doc_id, toks,
             unnest(generate_series(
               0, CAST(ceil(len(toks) / 10.0) AS BIGINT) - 1)) AS i
      FROM t
    ),
    ch AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' ') AS chunk
      FROM ix
    ),
    kept AS (
      SELECT doc_id, chunk_idx, chunk,
             row_number() OVER (PARTITION BY chunk
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM ch
    ),
    agg AS (
      SELECT doc_id,
             string_agg(chunk, ' ' ORDER BY chunk_idx) AS clean_text,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM kept WHERE rn = 1 GROUP BY doc_id
    ),
    tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
      FROM ch GROUP BY doc_id
    )
    SELECT tot.doc_id,
           COALESCE(agg.clean_text, '') AS clean_text,
           COALESCE(agg.n_kept, 0) AS n_kept,
           tot.n_chunks - COALESCE(agg.n_kept, 0) AS n_dropped
    FROM tot LEFT JOIN agg ON agg.doc_id = tot.doc_id
    """,
    survey_ref="beyond-reference: C4-style corpus-wide chunk dedup with "
    "document reassembly (keep-first by content, order-pinned rebuild)",
)
def t_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-deduplicated documents: every 10-token chunk that appears
    earlier anywhere in the corpus is stripped, and each document is
    reassembled from its surviving chunks (see text/pipeline.py
    dedup_chunks for the two-shuffle plan and 100 TB notes)."""
    from oroboro_dw_dbt_spark.text.pipeline import dedup_chunks

    docs = load_table(spark, sf_dir, "documents")
    return dedup_chunks(docs, chunk_tokens=10)


# ---------------------------------------------------------------------------
# Product quantization + asymmetric distance computation (PQ-ADC).
# ---------------------------------------------------------------------------
_PQ_L2 = (
    "CAST(list_sum(list_transform(range(1, 17), d -> "
    "(v.q[s2.j * 16 + d] - s.q[s2.j * 16 + d])"
    " * (v.q[s2.j * 16 + d] - s.q[s2.j * 16 + d]))) AS BIGINT)"
)

# shared CTE body: quantized vectors, seed codebook, per-subspace
# assignment distances, codes, and the query-side distance table
_PQ_CTES = f"""
    WITH qe AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, q
      FROM (SELECT vec_id, q FROM qe ORDER BY vec_id LIMIT 16)
    ),
    subs AS (SELECT unnest(range(0, 4)) AS j),
    ad AS (
      SELECT v.vec_id, s2.j, s.c, {_PQ_L2} AS dist
      FROM qe v CROSS JOIN seeds s CROSS JOIN subs s2
    ),
    codes AS (
      SELECT vec_id, j, arg_min(c, dist * 16 + c) AS code
      FROM ad GROUP BY vec_id, j
    ),
    dtable AS (
      SELECT v.vec_id AS query_id, s2.j, s.c, {_PQ_L2} AS d
      FROM qe v CROSS JOIN seeds s CROSS JOIN subs s2
      WHERE v.vec_id IN (0, 1, 2, 3, 4, 5, 6, 7)
    )"""

_PQ_TOPK = """
    SELECT query_id, vec_id, adc_dist, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
          FROM pairs) r
    WHERE rank <= 5
"""

_PQ_ORACLE = f"""{_PQ_CTES},
    pairs AS (
      SELECT t.query_id, a.vec_id, CAST(sum(t.d) AS BIGINT) AS adc_dist
      FROM codes a JOIN dtable t ON a.j = t.j AND a.code = t.c
      WHERE a.vec_id != t.query_id
      GROUP BY 1, 2
    )
    {_PQ_TOPK}
"""

# full-vector (64-dim) distances for the coarse quantizer
_PQ_FULL_L2 = (
    "CAST(list_sum(list_transform(range(1, 65), d -> "
    "(v.q[d] - s.q[d]) * (v.q[d] - s.q[d]))) AS BIGINT)"
)

_IVFPQ_ORACLE = f"""{_PQ_CTES},
    fl AS (
      SELECT v.vec_id, s.c, {_PQ_FULL_L2} AS dist
      FROM qe v CROSS JOIN seeds s
    ),
    cells AS (
      SELECT vec_id, arg_min(c, dist * 16 + c) AS cell
      FROM fl GROUP BY vec_id
    ),
    probes AS (
      SELECT query_id, cell
      FROM (SELECT vec_id AS query_id, c AS cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist * 16 + c) AS rn
            FROM fl WHERE vec_id IN (0, 1, 2, 3, 4, 5, 6, 7)) pr
      WHERE rn <= 4
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM cells a JOIN probes p ON a.cell = p.cell
      WHERE a.vec_id != p.query_id
    ),
    pairs AS (
      SELECT ca.query_id, ca.vec_id, CAST(sum(t.d) AS BIGINT) AS adc_dist
      FROM cand ca
      JOIN codes co ON co.vec_id = ca.vec_id
      JOIN dtable t ON t.query_id = ca.query_id
                   AND t.j = co.j AND t.c = co.code
      GROUP BY 1, 2
    )
    {_PQ_TOPK}
"""


@query(
    "ss_pq_adc_topk",
    # every distance is an exact integer (scale-1000 quantization,
    # round-half-away-from-zero on both engines), argmin ties break to
    # the lowest code id on both sides (array_position first-match ==
    # arg_min over the dist*16+c composite), so the hash is exact
    oracle=_PQ_ORACLE,
    survey_ref="beyond-reference: product quantization + asymmetric "
    "distance computation (Jegou et al. 2011 / FAISS IVF-PQ design) — "
    "the 16x-compressed candidate scan with a broadcast lookup table",
)
def ss_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-5 neighbors for the 8 query vectors: the
    candidate side is reduced to (vec_id, 4 codes), the per-query
    distance table is KB-sized and broadcast, and scoring is lookup +
    add — see similarity/pq.py for the full 100 TB argument."""
    from oroboro_dw_dbt_spark.operators.training_suite import QUERY_VEC_IDS
    from oroboro_dw_dbt_spark.similarity.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, QUERY_VEC_IDS, k_neighbors=5)


@query(
    "ss_ivfpq_topk",
    # the composed FAISS IndexIVFPQ plan, every stage integer-exact:
    # coarse cell = argmin full-vector quantized L2 (ties -> lower id),
    # probes = each query's 4 nearest cells by the same composite,
    # scoring = PQ-ADC within probed cells only
    oracle=_IVFPQ_ORACLE,
    survey_ref="beyond-reference: composed IVF-PQ ANN — partition-pruned "
    "probe (inverted file) + 16x-compressed ADC scoring; the production "
    "100 TB similarity-search plan",
)
def ss_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5: candidates restricted to each query's 4 nearest
    coarse cells, scored by PQ lookup-tables — at 100 TB the corpus is
    written partitioned by cell and a probe reads n_probe/k of the
    files at 1/16th the bytes (see similarity/pq.py ivf_pq_topk)."""
    from oroboro_dw_dbt_spark.operators.training_suite import QUERY_VEC_IDS
    from oroboro_dw_dbt_spark.similarity.pq import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(emb, QUERY_VEC_IDS, k_neighbors=5)


# ---------------------------------------------------------------------------
# Array / higher-order function matrix.
# ---------------------------------------------------------------------------
@query(
    "f_array_suite",
    # each array op is reduced to a scalar (or a canonically-sorted
    # string) so the driver's hasher sees only flat cells; list_sort
    # with explicit ASC pins the order on both engines
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
           array_to_string(list_sort(list_distinct(toks), 'ASC')[1:3], ',')
             AS first3_sorted,
           CAST(len(list_filter(toks, x -> len(x) > 4)) AS INT) AS n_long,
           CAST(len(list_intersect(list_distinct(toks),
                    ['spark', 'table', 'query', 'join'])) AS INT) AS n_kw,
           list_contains(toks, 'spark') AS has_spark,
           CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT)
             AS total_chars
    FROM t
    """,
    survey_ref="beyond-reference: array / higher-order function surface "
    "(distinct, sort, slice, filter-lambda, intersect, contains, "
    "transform+aggregate) — all row-local, zero shuffle",
)
def f_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array-function matrix over document token arrays: every op
    is a row-local Column expression inside whole-stage codegen — the
    collection-manipulation surface a warehouse user expects, at scan
    speed at any scale. Outputs are scalars/canonical strings so the
    gate hashes them directly."""
    from oroboro_dw_dbt_spark.text.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    dedup = F.array_distinct(toks)
    kw = F.array(F.lit("spark"), F.lit("table"), F.lit("query"), F.lit("join"))
    return docs.select(
        "doc_id",
        F.size(dedup).cast("int").alias("n_distinct"),
        F.array_join(F.slice(F.array_sort(dedup), 1, 3), ",").alias(
            "first3_sorted"
        ),
        F.size(F.filter(toks, lambda x: F.length(x) > 4))
        .cast("int")
        .alias("n_long"),
        F.size(F.array_intersect(dedup, kw)).cast("int").alias("n_kw"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.aggregate(
            F.transform(toks, F.length),
            F.lit(0).cast("bigint"),
            lambda s, x: s + x,
        ).alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Date / interval arithmetic matrix.
# ---------------------------------------------------------------------------
@query(
    "d_interval_suite",
    # only operations with ENGINE-IDENTICAL semantics: add-month
    # end-of-month clamping (2024-01-31 +1mo = 02-29 on both), last_day,
    # Monday-anchored week truncation, ISO week number, day diffs.
    # dayofweek is normalized to ISO (Mon=1..Sun=7) because the raw
    # builtins disagree (Spark 1=Sunday, DuckDB 0=Sunday).
    oracle="""
    SELECT event_id,
           CAST(CAST(ts AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month,
           last_day(CAST(ts AS DATE)) AS month_end,
           CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week_start,
           CAST(weekofyear(CAST(ts AS DATE)) AS INT) AS iso_week,
           CAST(isodow(CAST(ts AS DATE)) AS INT) AS iso_dow,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT)
             AS days_since_epoch_start,
           CAST(quarter(ts) AS INT) AS q
    FROM events
    WHERE event_id % 11 = 0
    """,
    survey_ref="beyond-reference: date/interval arithmetic surface "
    "(add_months clamping, last_day, week truncation, ISO week/dow, "
    "datediff, quarter)",
)
def d_interval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic with pinned cross-engine semantics — all
    row-local expressions; the ISO-normalized day-of-week documents the
    one place the builtins' conventions diverge."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    d = F.col("ts").cast("date")
    return ev.select(
        "event_id",
        F.add_months(d, 1).alias("next_month"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("week", d).cast("date").alias("week_start"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        # Spark dayofweek: 1=Sunday..7=Saturday -> ISO Mon=1..Sun=7
        ((F.dayofweek(d) + 5) % 7 + 1).cast("int").alias("iso_dow"),
        F.datediff(d, F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("days_since_epoch_start"),
        F.quarter(d).cast("int").alias("q"),
    )


# ---------------------------------------------------------------------------
# FULL OUTER reconciliation.
# ---------------------------------------------------------------------------
@query(
    "j_full_outer_reconcile",
    oracle="""
    WITH a AS (
      SELECT o_custkey AS k,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,4))), 2) AS DOUBLE)
               AS amt_a
      FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
    ),
    b AS (
      SELECT o_custkey AS k,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,4))), 2) AS DOUBLE)
               AS amt_b
      FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
    )
    SELECT COALESCE(a.k, b.k) AS custkey,
           a.amt_a, b.amt_b,
           CASE WHEN a.k IS NULL THEN 'right_only'
                WHEN b.k IS NULL THEN 'left_only'
                ELSE 'both' END AS presence
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
    survey_ref="beyond-reference: FULL OUTER join — the two-ledger "
    "reconciliation shape (presence classification + amount diff)",
)
def j_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile two per-customer ledgers (open vs finished order
    totals) with a FULL OUTER join — the audit shape that must keep
    rows existing on EITHER side. Both sides pre-aggregate to one row
    per key before the join (the shuffle carries keys, not orders);
    full-outer cannot broadcast, so the equi-join shuffles both reduced
    sides on the key — minimal by construction at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(14,4)")

    def ledger(status: str, out: str) -> DataFrame:
        return (
            orders.filter(F.col("o_orderstatus") == status)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(F.round(F.sum(price), 2).cast("double").alias(out))
        )

    a, b = ledger("O", "amt_a"), ledger("F", "amt_b")
    return (
        a.withColumnRenamed("k", "ka")
        .join(b.withColumnRenamed("k", "kb"), F.col("ka") == F.col("kb"), "full_outer")
        .select(
            F.coalesce("ka", "kb").alias("custkey"),
            "amt_a",
            "amt_b",
            F.when(F.col("ka").isNull(), "right_only")
            .when(F.col("kb").isNull(), "left_only")
            .otherwise("both")
            .alias("presence"),
        )
    )


# ---------------------------------------------------------------------------
# Schema evolution on read (mergeSchema).
# ---------------------------------------------------------------------------
@query(
    "eng_schema_merge",
    # the oracle restates evolution as a typed UNION with NULL-filled
    # missing columns — exactly what a mergeSchema read must produce
    oracle="""
    WITH v1 AS (
      SELECT event_id, value, CAST(NULL AS VARCHAR) AS event_type
      FROM events WHERE event_id % 2 = 0
    ),
    v2 AS (
      SELECT event_id, value, event_type
      FROM events WHERE event_id % 2 = 1
    ),
    unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT COALESCE(event_type, '<pre-evolution>') AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE)
             AS value_sum
    FROM unioned
    GROUP BY 1
    """,
    survey_ref="engine storage: schema evolution on read — mergeSchema "
    "across parquet batches written before/after a column was added",
)
def eng_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a table whose files predate a column addition.

    Batch 1 is written WITHOUT event_type (the pre-evolution schema),
    batch 2 with it; a mergeSchema read reconciles the footers and
    null-fills the missing column — the append-only schema-evolution
    contract every long-lived 100 TB table depends on. Footer
    reconciliation costs one metadata pass (per-file, parallel); data
    files are never rewritten."""
    import tempfile
    from pathlib import Path

    path = Path(tempfile.mkdtemp(prefix="evolve_wh_")) / "events_evolving"
    ev = load_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value").write.parquet(
        str(path), mode="overwrite"
    )
    ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "value", "event_type"
    ).write.parquet(str(path), mode="append")
    merged = spark.read.option("mergeSchema", "true").parquet(str(path))
    return merged.groupBy(
        F.coalesce("event_type", F.lit("<pre-evolution>")).alias("event_type")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(12,4)")), 2)
        .cast("double")
        .alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# PySpark 4 Python DataSource API.
# ---------------------------------------------------------------------------
@query(
    "eng_python_datasource",
    # the oracle replays the generator's pure integer arithmetic over a
    # range() scan — same Knuth multiplicative hash, same modulo
    oracle="""
    SELECT CAST(i % 7 AS VARCHAR) AS tag_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum((i * 2654435761) % 1000) AS BIGINT) AS bucket_sum,
           CAST(min(i) AS BIGINT) AS min_id,
           CAST(max(i) AS BIGINT) AS max_id
    FROM range(0, 5000) t(i)
    GROUP BY 1
    """,
    survey_ref="engine sources: custom Python DataSource (PySpark 4 "
    "pyspark.sql.datasource) — executor-side partitioned reads through "
    "a pure-Python source class",
)
def eng_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a pure-Python custom DataSource and aggregate it.

    The source plans 8 independent range partitions; each partition's
    generator runs on an executor and Arrow-batches rows back — the
    PySpark 4 pattern for grafting bespoke feeds (internal APIs, custom
    binary formats) into DataFrames with real parallelism. The hash
    match against a SQL range() replay certifies the partition planning
    loses/duplicates nothing (sf_dir is unused: the source IS the
    data)."""
    from oroboro_dw_dbt_spark.sources.pydatasource import register

    register(spark)
    df = (
        spark.read.format("detgen")
        .option("numRows", 5000)
        .option("numPartitions", 8)
        .load()
    )
    return df.groupBy(
        F.regexp_replace("tag", "row-", "").alias("tag_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bucket").cast("bigint").alias("bucket_sum"),
        F.min("id").cast("bigint").alias("min_id"),
        F.max("id").cast("bigint").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# VariantType: Spark 4 semi-structured values.
# ---------------------------------------------------------------------------
@query(
    "ev_variant_extract",
    # Variant is Spark's binary semi-structured encoding; extraction
    # semantics (path access, typed cast, null on absent) mirror SQL
    # JSON extraction, which is exactly what the oracle restates
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CAST(json_extract_string(props, '$.k') AS VARCHAR) AS k_str,
           json_extract_string(props, '$.tag') AS tag,
           CAST(json_valid(props) AS BOOLEAN) AS parsed
    FROM events
    WHERE event_id % 13 = 0
    """,
    survey_ref="beyond-reference: VariantType (Spark 4 semi-structured "
    "binary encoding) — parse once, typed path extraction",
)
def ev_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse JSON props into a VARIANT once and extract typed paths.

    Variant is the Spark 4 answer to semi-structured columns: one parse
    into a binary encoding at ingest, then every downstream path access
    reads the encoded form — at 100 TB this is the difference between
    N regex/JSON parses per row and one. try_parse_json yields NULL
    (not an error) on malformed input, and variant_get's typed access
    returns NULL on absent paths — the same total semantics the oracle
    states over json_extract."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    v = F.try_parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        # $.tag never occurs in the fixture: certifies the absent-path
        # -> NULL contract (not an error) on both engines
        F.try_variant_get(v, "$.tag", "string").alias("tag"),
        v.isNotNull().alias("parsed"),
    )


# ---------------------------------------------------------------------------
# Python streaming DataSource: offset-tracked micro-batches.
# ---------------------------------------------------------------------------
@query(
    "st_python_stream_source",
    # same replay as the batch twin — if any micro-batch were lost,
    # duplicated, or cut short by the drain loop, counts/sums break
    oracle="""
    SELECT CAST(i % 7 AS VARCHAR) AS tag_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum((i * 2654435761) % 1000) AS BIGINT) AS bucket_sum
    FROM range(0, 5000) t(i)
    GROUP BY 1
    """,
    survey_ref="streaming sources: Python streaming DataSource "
    "(SimpleDataSourceStreamReader) — offset-tracked micro-batches "
    "drained to a sink, exactly-once vs the batch replay",
)
def st_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain a bounded pure-Python stream source and aggregate the sink.

    The reader advances an explicit offset 1000 ids per micro-batch
    (5 real batches through the commit log); the drain loop polls until
    the source reports no progress, then stops. The hash match against
    the batch replay certifies exactly-once delivery across the
    offset/commit protocol — the same contract a Kafka-like production
    source owes. availableNow cannot bound a SimpleStream source (it
    snapshots one read() call), hence the explicit drain."""
    import time
    import uuid

    from oroboro_dw_dbt_spark.sources.pydatasource import (
        STREAM_ROWS,
        register_stream,
    )

    register_stream(spark)
    name = f"pysrc_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("detstream")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= STREAM_ROWS:
                break
            time.sleep(0.2)
        else:
            raise TimeoutError("stream did not drain within 120 s")
    finally:
        q.stop()
    sink = spark.table(name)
    return sink.groupBy(
        F.regexp_replace("tag", "row-", "").alias("tag_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("bucket").cast("bigint").alias("bucket_sum"),
    )


# ---------------------------------------------------------------------------
# Watermark late-data semantics, certified against a planned feed.
# ---------------------------------------------------------------------------
def _late_drop_oracle() -> str:
    from oroboro_dw_dbt_spark.sources.pydatasource import (
        LATE_DROPPED_IDS,
        LATE_PLAN,
        LATE_UNFLUSHED_IDS,
    )

    rows = ", ".join(
        f"({i}, {ep})" for batch in LATE_PLAN for i, ep in batch
    )
    excluded = ", ".join(
        str(i) for i in sorted(LATE_DROPPED_IDS | LATE_UNFLUSHED_IDS)
    )
    return f"""
    WITH raw(id, ep) AS (VALUES {rows}),
    kept AS (SELECT id, ep FROM raw WHERE id NOT IN ({excluded})),
    w AS (SELECT id, CAST((ep // 600) * 600 AS BIGINT) AS ws FROM kept)
    SELECT make_timestamp(ws * 1000000) AS window_start,
           make_timestamp((ws + 600) * 1000000) AS window_end,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(id) AS BIGINT) AS id_sum
    FROM w GROUP BY ws
    """


@query(
    "st_late_data_drop",
    # the oracle EXCLUDES exactly the rows the planned watermark
    # trajectory says Spark must drop (window end <= watermark at
    # arrival) and the sentinel whose window the final watermark never
    # passes — so a hash match certifies the drop rule, the
    # accept-late-within-delay rule, AND append-mode emission
    # completeness, all three directions at once
    oracle=_late_drop_oracle(),
    survey_ref="streaming semantics: watermark late-data contract over "
    "a planned micro-batch feed — too-late rows dropped, within-delay "
    "rows accepted, unflushed windows withheld (sources/pydatasource.py "
    "LATE_PLAN)",
)
def st_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed streaming aggregation over a feed with PLANNED late
    arrivals, append mode, 10-minute windows and watermark delay.

    Because the Python stream source replays fixed micro-batches, the
    watermark trajectory is decidable on paper: batch 2 carries two
    late-but-acceptable rows (their windows are still live) and two
    hopelessly late rows (their windows' state was already evicted —
    Spark must drop them, and the oracle drops them by id). A final
    sentinel batch advances the watermark so every certified window
    flushes to the append sink; the sentinel's own window must NOT
    appear. This is the negative-space twin of the other seven
    streaming entries: they certify what arrives, this certifies what
    is (and is not) allowed to."""
    import time
    import uuid

    from oroboro_dw_dbt_spark.sources.pydatasource import (
        LATE_DROPPED_IDS,
        LATE_PLAN,
        LATE_UNFLUSHED_IDS,
        register_latefeed,
    )

    register_latefeed(spark)
    excluded = LATE_DROPPED_IDS | LATE_UNFLUSHED_IDS
    expected_windows = len(
        {ep // 600 for b in LATE_PLAN for i, ep in b if i not in excluded}
    )
    name = f"latefeed_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.format("latefeed").load()
    agg = (
        stream.select("id", F.timestamp_seconds("ep").alias("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("id").cast("bigint").alias("id_sum"),
        )
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
            if spark.table(name).count() >= expected_windows:
                break
            time.sleep(0.2)
        else:
            raise TimeoutError("late-feed stream did not flush within 120 s")
    finally:
        q.stop()
    return spark.table(name).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n",
        "id_sum",
    )


# ---------------------------------------------------------------------------
# GROUPED_AGG pandas UDF: the last cell of the Python API matrix.
# ---------------------------------------------------------------------------
@query(
    "a_grouped_agg_pandas",
    # trimmed mean with EXACT integer arithmetic: values micro-quantized
    # to ints, the trim boundary is a (count-based) sort slice, the sum
    # is an integer sum — only the final division is float, rounded to 6
    oracle="""
    WITH q AS (
      SELECT event_type,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY CAST(floor(value * 1000000 + 0.5)
                                              AS BIGINT)) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(round(CAST(sum(y) AS DOUBLE) / count(*) / 1000000.0, 6)
                AS DOUBLE) AS trimmed_mean
    FROM q
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY event_type
    """,
    survey_ref="beyond-reference: GROUPED_AGG pandas_udf (Arrow-batched "
    "custom aggregate) — completes the Python API matrix: scalar / "
    "grouped-agg / grouped-map / mapInPandas / stateful / UDTF",
)
def a_grouped_agg_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per series via a GROUPED_AGG pandas UDF.

    The kernel receives each group's values as ONE Arrow-backed Series
    and returns a scalar — Spark's custom-aggregate extension point
    (usable in agg() and over windows). Robust statistics like trimmed
    means genuinely need the group's sorted values, which no built-in
    combination provides; determinism comes from integer quantization
    (exact sort, exact integer sum — no float accumulation order).
    Caveat at 100 TB: GROUPED_AGG is not partial-aggregating — each
    group's values collect to one task, so it suits bounded groups
    (series, entities), not power-law keys; the exact-SQL twin (the
    oracle's window spelling) is the escape hatch."""
    from oroboro_dw_dbt_spark.ml.robust_stats import (
        trimmed_count,
        trimmed_mean_micro,
    )

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        trimmed_count("value").alias("n_kept"),
        F.round(trimmed_mean_micro("value"), 6).alias("trimmed_mean"),
    )

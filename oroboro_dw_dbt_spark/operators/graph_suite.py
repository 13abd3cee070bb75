"""Graph-algorithm catalog entries: weighted shortest paths, neighbor
Jaccard, degree statistics, k-core peeling and bipartite projection.

The five older ``gr_*`` entries stay in analytics_suite.py because that
module fills the driver's certification window (see operators/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oroboro_dw_dbt_spark.engine.materialize import materialize
from oroboro_dw_dbt_spark.operators.analytics_suite import _TRADE_PAIRS_SQL, _trade_pairs
from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.sources.testdata import load_table


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths on the nation trade graph.
# ---------------------------------------------------------------------------
_SSSP_ROUNDS = 6  # ≥ the trade graph's diameter (25 dense nodes)

_SSSP_EDGES_SQL = f"""WITH {_TRADE_PAIRS_SQL}
      SELECT a AS src, b AS dst,
             CAST(1 + (a * 3 + b * 5) %% 9 AS BIGINT) AS w FROM pairs
      UNION ALL
      SELECT b, a, CAST(1 + (a * 3 + b * 5) %% 9 AS BIGINT) FROM pairs"""


def _sssp_oracle() -> str:
    from oroboro_dw_dbt_spark.ops.graph import sssp_oracle_sql

    return sssp_oracle_sql(
        _SSSP_EDGES_SQL.replace("%%", "%"), source=0, rounds=_SSSP_ROUNDS
    )


@query(
    "gr_sssp_weighted",
    # unrolled Bellman-Ford twin: one CTE per relaxation round, the
    # same NULL-as-infinity CASE min — both engines walk the identical
    # integer trajectory (ops/graph.py sssp_oracle_sql)
    oracle=_sssp_oracle(),
    survey_ref="beyond-reference: weighted single-source shortest paths "
    "(bounded Bellman-Ford; driver-owned relaxation loop — the third "
    "iterative-state shape after components and PageRank)",
)
def gr_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest weighted distance from nation 0 over the 1996-01 trade
    graph; edge weight is a key-derived positive integer so the
    certified surface is the ALGORITHM (relaxation, NULL-infinity min,
    fixed rounds), not a weight-collection pipeline the other graph
    entries already certify. Unreached nodes stay NULL.

    Scale: each round is one edges⋈dist shuffle + one groupBy(dst) min
    — a pagerank-iteration twin; bounded rounds mean no per-round
    driver convergence barrier (see ops/graph.py scale notes)."""
    from oroboro_dw_dbt_spark.ops.graph import sssp

    pairs = _trade_pairs(spark, sf_dir)
    w = (F.lit(1) + (F.col("a") * 3 + F.col("b") * 5) % 9).cast("bigint")
    fwd = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"), w.alias("w"))
    rev = pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), w.alias("w"))
    return sssp(fwd.unionByName(rev), source=0, rounds=_SSSP_ROUNDS)


# ---------------------------------------------------------------------------
# Neighbor-set Jaccard similarity (link prediction) on the trade graph.
# ---------------------------------------------------------------------------


@query(
    "gr_jaccard_neighbors",
    # candidates come from the wedge join (pairs sharing ≥1 neighbor);
    # jaccard = common / (deg_u + deg_v - common): exact integers, one
    # final division
    oracle=f"""
    WITH {_TRADE_PAIRS_SQL},
    edges AS (
      SELECT a AS u, b AS w FROM pairs
      UNION ALL SELECT b, a FROM pairs
    ),
    deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
    common AS (
      SELECT e1.u AS u, e2.u AS v, count(*) AS n_common
      FROM edges e1 JOIN edges e2 ON e1.w = e2.w AND e1.u < e2.u
      GROUP BY 1, 2
    )
    SELECT common.u, common.v, CAST(n_common AS BIGINT) AS n_common,
           CAST(du.d AS BIGINT) AS deg_u, CAST(dv.d AS BIGINT) AS deg_v,
           CAST(n_common AS DOUBLE)
             / CAST(du.d + dv.d - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN deg du ON du.u = common.u
    JOIN deg dv ON dv.u = common.v
    """,
    survey_ref="beyond-reference: neighbor-set Jaccard similarity "
    "(link prediction / node dedup over the shared trade graph — the "
    "seventh graph entry, a set-similarity shape on adjacency rather "
    "than shingles)",
)
def gr_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard of neighbor sets for node pairs sharing ≥1 neighbor.

    Scale: the wedge join is O(Σ deg(w)²) — at 100 TB heavy hubs get
    the same frequency cap as dd_containment's stop-shingles (drop or
    sample wedges through w with deg(w) > cap; hub-mediated similarity
    is noise for the same reason stop-shingles are). Here the graph is
    the 25-node nation trade graph: dense but tiny."""
    pairs = _trade_pairs(spark, sf_dir)
    edges = pairs.select(F.col("a").alias("u"), F.col("b").alias("w")).unionByName(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("w"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e1 = edges.select(F.col("u").alias("cu"), "w")
    e2 = edges.select(F.col("u").alias("cv"), "w")
    common = (
        e1.join(e2, "w")
        .filter(F.col("cu") < F.col("cv"))
        .groupBy("cu", "cv")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    du = deg.select(F.col("u").alias("cu"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("u").alias("cv"), F.col("d").alias("deg_v"))
    return (
        common.join(F.broadcast(du), "cu")
        .join(F.broadcast(dv), "cv")
        .select(
            F.col("cu").alias("u"),
            F.col("cv").alias("v"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("deg_u").cast("bigint").alias("deg_u"),
            F.col("deg_v").cast("bigint").alias("deg_v"),
            (
                F.col("n_common").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Degree statistics: the graph-shape profile.
# ---------------------------------------------------------------------------
@query(
    "gr_degree_stats",
    # same co-purchase edge construction as the graph suite's flavor:
    # user pairs sharing an event hour — here we just profile degrees
    oracle="""
    WITH edges AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM (SELECT user_id,
                   CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr
            FROM events WHERE event_type = 'purchase') a
      JOIN (SELECT user_id,
                   CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr
            FROM events WHERE event_type = 'purchase') b
        ON a.hr = b.hr AND a.user_id < b.user_id
    ),
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT src AS u FROM edges UNION ALL SELECT dst FROM edges
      ) GROUP BY u
    )
    SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY d
    """,
    survey_ref="beyond-reference: degree-distribution profile — the "
    "graph-shape diagnostic that sizes every iterative algorithm's "
    "skew (hub detection before pagerank/CC)",
)
def gr_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph.

    The pre-flight for every iterative graph job: the degree
    distribution IS the skew forecast (a 10⁶-degree hub means the
    edge⋈rank shuffle needs salting). Edges from an hour-bucket
    self-join (equi-join, candidates only), then two combining
    aggregates — node degrees, then the histogram."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.expr("unix_timestamp(ts) div 3600").alias("hr"),
        )
    )
    a = e.alias("a")
    b = e.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst")
        )
        .distinct()
    )
    nodes = edges.select(F.col("src").alias("u")).unionAll(
        edges.select(F.col("dst").alias("u"))
    )
    deg = nodes.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    return deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peeling): graph cleaning's workhorse.
# ---------------------------------------------------------------------------
_KCORE_K = 20
_KCORE_PEELS = 4


def _kcore_oracle() -> str:
    peel = []
    for i in range(1, _KCORE_PEELS + 1):
        # AS MATERIALIZED: e{i-1} is referenced twice per peel; plain
        # CTE inlining doubles the subtree each level (2^peels blowup —
        # the same DuckDB trap the SSSP oracle hit)
        peel.append(
            f"""n{i} AS MATERIALIZED (
      SELECT src AS u FROM e{i - 1} GROUP BY src
      HAVING count(*) >= {_KCORE_K}
    ),
    e{i} AS MATERIALIZED (
      SELECT src, dst FROM e{i - 1}
      WHERE src IN (SELECT u FROM n{i}) AND dst IN (SELECT u FROM n{i})
    )"""
        )
    peels = ",\n    ".join(peel)
    return f"""
    WITH base AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM (SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr
            FROM events WHERE event_type = 'purchase') a
      JOIN (SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr
            FROM events WHERE event_type = 'purchase') b
        ON a.hr = b.hr AND a.user_id <> b.user_id
    ),
    e0 AS MATERIALIZED (SELECT src, dst FROM base),
    {peels},
    core AS (
      SELECT src AS u, CAST(count(*) AS BIGINT) AS core_deg
      FROM e{_KCORE_PEELS} GROUP BY src
    )
    SELECT n.u AS user_id,
           CASE WHEN c.u IS NOT NULL THEN true ELSE false END AS in_core,
           CAST(coalesce(c.core_deg, 0) AS BIGINT) AS core_deg
    FROM (SELECT DISTINCT src AS u FROM e0) n
    LEFT JOIN core c ON n.u = c.u
    """


@query(
    "gr_kcore",
    # peel cap is EQUAL on both sides (4), so the hash match certifies
    # the peeling algorithm itself whether or not the cap reaches the
    # fixpoint — the gr_bfs_distances equal-cap discipline, applied to
    # the degree-peeling recursion
    oracle=_kcore_oracle(),
    survey_ref="beyond-reference: k-core decomposition (graph family "
    "#7) — iterative degree peeling with symmetric-edge restriction, "
    "vs the equal-cap unrolled-subquery oracle; the graph-cleaning "
    "step before community/embedding jobs",
)
def gr_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes surviving 4 peels at k=20 in the co-purchase graph.

    Each peel: one degree aggregate + one semi-join restricting edges
    to surviving endpoints — two shuffles per iteration, state is the
    shrinking edge list (checkpointed to truncate lineage). k-core is
    the standard graph-cleaning step (drop weakly-attached noise
    before community detection / graph embeddings); the equal-cap
    oracle makes the certification exact regardless of convergence,
    and the pytest additionally witnesses the fixpoint at the gate
    scale."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.expr("unix_timestamp(ts) div 3600").alias("hr")
        )
    )
    a, b = e.alias("a"), e.alias("b")
    edges = materialize(
        a.join(
            b,
            (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.user_id") != F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst")
        )
        .distinct()
    )
    all_nodes = edges.select(F.col("src").alias("u")).distinct()
    cur = edges
    for _ in range(_KCORE_PEELS):
        keep = (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select(F.col("src").alias("u"))
        )
        cur = materialize(
            cur.join(keep, cur.src == keep.u, "left_semi")
            .join(keep, cur.dst == keep.u, "left_semi")
        )
    core = cur.groupBy(F.col("src").alias("u")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_deg")
    )
    return (
        all_nodes.join(core.withColumnRenamed("u", "cu"),
                       F.col("u") == F.col("cu"), "left")
        .select(
            F.col("u").alias("user_id"),
            F.col("cu").isNotNull().alias("in_core"),
            F.coalesce("core_deg", F.lit(0)).cast("bigint").alias("core_deg"),
        )
    )


_BP_TOP_PARTS = 10
_BP_TOP_EDGES = 20


@query(
    "gr_bipartite_projection",
    oracle=f"""
    WITH cp AS (
      SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    capped AS (
      SELECT custkey, partkey FROM (
        SELECT *, row_number() OVER (
          PARTITION BY custkey ORDER BY n_lines DESC, partkey) AS rk
        FROM cp
      ) WHERE rk <= {_BP_TOP_PARTS}
    ),
    edges AS (
      SELECT a.partkey AS part_a, b.partkey AS part_b,
             CAST(count(*) AS BIGINT) AS weight
      FROM capped a JOIN capped b
        ON b.custkey = a.custkey AND b.partkey > a.partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, weight, rnk FROM (
      SELECT *, CAST(row_number() OVER (
        ORDER BY weight DESC, part_a, part_b) AS INT) AS rnk
      FROM edges
    ) WHERE rnk <= {_BP_TOP_EDGES}
    """,
    survey_ref="beyond-reference: bipartite co-purchase projection with "
    "a structural per-customer top-10 cap — pair fan-out ≤ C(10,2) "
    "under any skew",
)
def gr_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchased part pairs, whale-proof.

    The naive projection explodes quadratically on a heavy customer;
    capping each customer to their top-10 parts (window over the
    pre-aggregated customer×part table, NOT the raw lines) bounds
    every customer's contribution to 45 pairs. The self-join is a
    custkey equi-join over the capped table — at 100 TB this is
    |customers|×45 rows, shuffled once on custkey, then one combining
    groupBy on the pair key."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey")
        )
        .agg(F.count("*").alias("n_lines"))
    )
    rk = F.row_number().over(
        Window.partitionBy("custkey").orderBy(F.desc("n_lines"), "partkey")
    )
    capped = (
        cp.withColumn("rk", rk).where(F.col("rk") <= _BP_TOP_PARTS)
        .select("custkey", "partkey")
    )
    a, b = capped.alias("a"), capped.alias("b")
    edges = (
        a.join(
            b,
            (F.col("b.custkey") == F.col("a.custkey"))
            & (F.col("b.partkey") > F.col("a.partkey")),
        )
        .groupBy(
            F.col("a.partkey").alias("part_a"), F.col("b.partkey").alias("part_b")
        )
        .agg(F.count("*").alias("weight"))
    )
    w = Window.orderBy(F.desc("weight"), "part_a", "part_b")
    return (
        edges.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= _BP_TOP_EDGES)
        .select("part_a", "part_b", "weight", "rnk")
    )

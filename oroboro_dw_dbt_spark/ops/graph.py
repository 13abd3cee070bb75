"""Distributed connected components — the dedup-clustering step.

Near-dup detection (MinHash-LSH, SimHash, embedding-cosine) emits PAIRS;
a training-data pipeline needs GROUPS ("keep one doc per duplicate
cluster"), i.e. connected components of the pair graph. Spark has no
built-in, so this is iterative min-label propagation on DataFrames
(the simple variant of Kiveris et al. 2014 "Connected Components in
MapReduce and Beyond"):

    comp(v) ← min(comp(v), min over neighbors u of comp(u))

repeated to fixpoint. Each sweep is one shuffle (join + groupBy-min);
the iteration count is the graph diameter, which for near-dup clusters
is tiny (dup clusters are dense, diameters of 1-3). Lineage is
truncated per sweep with an eager checkpoint (``materialize``) — without
it the plan doubles every iteration and the job dies on plan explosion
long before data size matters.

The result is deterministic (min over an unordered set), so the DuckDB
oracle is a recursive-CTE transitive closure taking min(reachable ∪
self) — same answer by a different, driver-checkable route.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.engine.materialize import materialize


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    component = the minimum node id reachable from the node. Raises if
    not converged within ``max_iter`` sweeps (diameter bound)."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = materialize(
        sym.unionByName(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .dropDuplicates()
    )
    labels = materialize(
        sym.select(F.col("a").alias("node"))
        .dropDuplicates()
        .withColumn("comp", F.col("node"))
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["a"] == labels["node"])
            .select(F.col("b").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new = materialize(
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
            )
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components: not converged after {max_iter} sweeps")


# ---------------------------------------------------------------------------
# PageRank: the power-iteration template
# ---------------------------------------------------------------------------
# PageRank complements connected_components as the second iterative-
# algorithm shape: state is a (node, value) frame, each round is one
# join of state against the edge list plus an aggregation, the DRIVER
# owns the loop (the Pregel pattern on DataFrames; GraphFrames is this
# productized). Scale shape at 100 TB of edges:
# - the edge list is scanned once per iteration: materialize it once;
# - the rank state is |V| rows — joined BY KEY against edges, never
#   collected; per-edge contributions pre-combine map-side;
# - iteration count is fixed (power iteration converges geometrically)
#   so no driver-side convergence collect is needed.
# Determinism: ranks are FIXED-POINT integers (scale 1e12); every op is
# integer multiply / floor-division / sum, so results are bit-identical
# on any engine and any partitioning — no float summation-order noise.
# The 1e-12 quantization error per step is orders below PageRank's own
# convergence tolerance.

SCALE = 10**12  # fixed-point scale for rank values
DAMP_NUM, DAMP_DEN = 17, 20  # damping d = 0.85 as an exact ratio


def pagerank(
    edges: DataFrame, iterations: int = 5, checkpoint_every: int = 4
) -> DataFrame:
    """Damped PageRank over a weighted edge list (src, dst, w).

    Dangling mass (nodes with no out-edges) is redistributed uniformly
    each iteration, so total rank is conserved up to quantization.
    Returns (node, r) with r at fixed-point SCALE.

    Lineage grows ~3× per iteration (contribs and dangling both
    re-reference the rank state), so every ``checkpoint_every`` rounds
    the state is truncated with an eager checkpoint — the same
    plan-explosion guard as connected_components.
    """
    edges = edges.select("src", "dst", F.col("w").cast("bigint").alias("w"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # carry each src's total out-weight on the edge rows once, so the
    # per-iteration join is rank ⋈ edges only; materialized ONCE. No
    # pre-partitioning by src: under AQE a checkpointed frame reports
    # UnknownPartitioning, so a repartition here would only add one
    # edge-list shuffle per run — each iteration's join re-shuffles
    # the edge side either way.
    ew = materialize(edges.join(outw, "src"))
    nodes = materialize(
        ew.select(F.col("src").alias("node"))
        .union(ew.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # one scalar; |V| is needed in the constants
    base = (15 * SCALE) // (100 * n_nodes)  # (1-d)/N at fixed point

    ranks = nodes.withColumn("r", F.lit(SCALE // n_nodes).cast("bigint"))
    out_nodes = ew.select(F.col("src").alias("node")).distinct()
    # structural check, once: a graph where every node has out-edges
    # (transition graphs, link graphs after pruning) needs no dangling
    # machinery at all — skipping it removes an aggregate + cross join
    # from EVERY iteration. Dangling NODES are a property of the edge
    # list, not of the evolving ranks, so one check is exact.
    has_dangling = (
        nodes.join(out_nodes, "node", "left_anti").limit(1).count() > 0
    )
    # zero-seed rows: one (node, 0) per node unioned into every
    # iteration's contribution aggregate (optimization r12) — the same
    # self-row trick sssp uses. sum(contribs ∪ {0}) == coalesce(left-
    # joined sum, 0) exactly (integer sums, zero is the identity), so
    # the per-iteration nodes ⋈ contribs join — an extra exchange +
    # join of the |V|-row state every round — disappears from the loop.
    zero_rows = nodes.select("node", F.lit(0).cast("bigint").alias("c"))
    for i in range(iterations):
        contribs = (
            ew.join(ranks, ew.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * w) div ow").alias("c"),
            )
            .unionByName(zero_rows)
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        new_ranks = contribs
        if has_dangling:
            dangling = (
                ranks.join(out_nodes, "node", "left_anti")
                .agg(
                    F.coalesce(F.sum("r"), F.lit(0)).cast("bigint").alias("dang")
                )
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(dangling))
            redistributed = f"coalesce(contrib, 0) + dang div {n_nodes}"
        else:
            redistributed = "coalesce(contrib, 0)"
        ranks = new_ranks.select(
            "node",
            (
                F.lit(base)
                + F.expr(
                    f"({DAMP_NUM} * ({redistributed})) div {DAMP_DEN}"
                )
            ).cast("bigint").alias("r"),
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = materialize(ranks)
    return ranks


def pagerank_oracle_sql(
    edges_cte: str, iterations: int = 5, final_round: int = 8
) -> str:
    """The EXACT unrolled-SQL twin of :func:`pagerank` for the DuckDB
    oracle: same fixed-point constants, same integer floor-divisions,
    one CTE per iteration."""
    s = SCALE
    parts = [
        f"WITH edges AS ({edges_cte})",
        "outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src)",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"it0 AS (SELECT node, CAST({s} AS BIGINT) // n AS r FROM nodes, nn)",
    ]
    for k in range(1, iterations + 1):
        p = f"it{k - 1}"
        parts.append(
            f"""it{k} AS (
  SELECT n2.node,
         CAST((15 * {s}) // (100 * nn.n)
              + ({DAMP_NUM} * (COALESCE(c.contrib, 0) + dang.d // nn.n))
                // {DAMP_DEN} AS BIGINT) AS r
  FROM nodes n2
  LEFT JOIN (SELECT e.dst AS node,
                    CAST(sum((p.r * e.w) // o.ow) AS BIGINT) AS contrib
             FROM edges e
             JOIN {p} p ON p.node = e.src
             JOIN outw o ON o.src = e.src
             GROUP BY e.dst) c ON c.node = n2.node
  CROSS JOIN (SELECT COALESCE(sum(p.r), 0) AS d
              FROM {p} p LEFT JOIN outw o ON o.src = p.node
              WHERE o.src IS NULL) dang
  CROSS JOIN nn)"""
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, CAST(round(CAST(r AS DOUBLE) / {s}, {final_round})"
        f" AS DOUBLE) AS pr FROM it{iterations}"
    )

# ---------------------------------------------------------------------------
# Label propagation: community detection, made deterministic
# ---------------------------------------------------------------------------
# Classic LPA is notoriously run-to-run unstable (random update order,
# random tie-breaks). This is the SYNCHRONOUS variant with a total
# tie-break order — max neighbor vote-weight, then lexicographically /
# numerically smallest label — which makes the trajectory a pure
# function of the edge list: bit-identical across engines,
# partitionings, and retries, and therefore DuckDB-oracle-checkable
# (unrolled CTEs, one per sweep, same scheme as pagerank_oracle_sql).
# Vote weights stay integer counts so sums are exact. Fixed sweep
# count: synchronous LPA can 2-cycle on bipartite-ish structures, so
# "iterate to convergence" is ill-defined; fixed-k is well-defined and
# is how production label propagation is run anyway.


def label_propagation(
    edges: DataFrame, iterations: int = 4, checkpoint_every: int = 2
) -> DataFrame:
    """(node, label) after ``iterations`` synchronous sweeps over an
    undirected weighted edge list (src, dst, w); labels start as the
    node's own id.

    Each sweep: votes = edges⋈labels aggregated on (node, candidate
    label), then a row_number pick per node under the (weight DESC,
    label ASC) total order. At 100 TB of edges the same discipline as
    pagerank applies: symmetrize + materialize the edge list ONCE; the
    vote pick windows over per-node candidate labels (bounded by
    distinct neighbor labels, shrinking every sweep), and state is |V|
    rows, never collected."""
    from pyspark.sql.window import Window

    sym = materialize(
        edges.select("src", "dst", F.col("w").cast("bigint").alias("w"))
        .unionByName(
            edges.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.col("w").cast("bigint").alias("w"),
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    labels = materialize(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    pick = Window.partitionBy("vnode").orderBy(
        F.col("wt").desc(), F.col("label").asc()
    )
    for i in range(iterations):
        votes = (
            sym.join(labels, sym["dst"] == labels["node"])
            .select(F.col("src").alias("vnode"), "label", "w")
            .groupBy("vnode", "label")
            .agg(F.sum("w").alias("wt"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select(F.col("vnode").alias("node"), "label")
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            labels = materialize(labels)
    return labels


def label_propagation_oracle_sql(edges_cte: str, iterations: int = 4) -> str:
    """The exact unrolled-SQL twin of :func:`label_propagation` for the
    DuckDB oracle: same symmetrization, integer vote sums, and
    (wt DESC, label ASC) pick, one CTE pair per sweep."""
    parts = [
        f"WITH raw_edges AS ({edges_cte})",
        """sym AS (
  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
    SELECT src, dst, w FROM raw_edges
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM raw_edges
  ) GROUP BY src, dst)""",
        "it0 AS (SELECT DISTINCT src AS node, src AS label FROM sym)",
    ]
    for k in range(1, iterations + 1):
        p = f"it{k - 1}"
        parts.append(
            f"""v{k} AS (
  SELECT e.src AS vnode, l.label, CAST(sum(e.w) AS BIGINT) AS wt
  FROM sym e JOIN {p} l ON l.node = e.dst
  GROUP BY e.src, l.label),
it{k} AS (
  SELECT vnode AS node, label FROM (
    SELECT vnode, label,
           row_number() OVER (PARTITION BY vnode
                              ORDER BY wt DESC, label ASC) AS rn
    FROM v{k}) WHERE rn = 1)"""
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT node, label FROM it{iterations}"


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths: bounded Bellman-Ford
# ---------------------------------------------------------------------------
# The third iterative-state shape after components (min-label fixpoint)
# and PageRank (value diffusion): per-node BEST-SO-FAR state improved by
# one relaxation sweep per round. Distances are exact BIGINTs (integer
# edge weights), rounds are FIXED (the caller passes a diameter bound),
# and unreachable stays NULL — all three choices exist to make the
# trajectory a pure function of the edge list, so the DuckDB oracle can
# walk the identical unrolled rounds (sssp_oracle_sql).
#
# Scale shape at 100 TB of edges: each sweep is one edges⋈dist shuffle
# + one groupBy(dst) min — identical to a pagerank iteration, so the
# same prescriptions hold (edges materialized once, state checkpointed
# every few rounds; here rounds are few, so per-call materialization
# of the input suffices). Bounded rounds beat a
# convergence loop on a cluster: no per-round driver count() barrier.


def sssp(
    edges: DataFrame, source: int, rounds: int, checkpoint_every: int = 4
) -> DataFrame:
    """(node, dist) after ``rounds`` Bellman-Ford relaxations from
    ``source`` over directed weighted ``edges`` (src, dst, w ≥ 0,
    integer). dist is NULL for nodes not reached within ``rounds``
    hops; with rounds ≥ |V|−1 that means truly unreachable."""
    # materialized once, not pre-partitioned (see pagerank)
    ew = materialize(
        edges.select("src", "dst", F.col("w").cast("bigint").alias("w"))
    )
    nodes = materialize(
        ew.select(F.col("src").alias("node"))
        .union(ew.select(F.col("dst").alias("node")))
        .distinct()
    )
    dist = nodes.withColumn(
        "dist",
        F.when(F.col("node") == source, F.lit(0)).cast("bigint"),
    )
    for i in range(rounds):
        # One read of dist per round. The naive spelling (relax built
        # FROM dist, then dist.join(relax)) references the previous
        # round's frame TWICE, so the plan doubles per round — 2^k
        # growth between checkpoints (the r07 plan test caught 3/8/18
        # Exchanges for rounds 1/2/3). Instead: one LEFT join against
        # the edge list emits, per joined row, both the node's own
        # (node, dist) and the relaxed (dst, dist + w); the self row is
        # duplicated once per out-edge, which min() absorbs. NULL stays
        # infinity: an unreached node contributes d = NULL to its own
        # group (min of all-NULL is NULL) and NULL + w is NULL for its
        # neighbors — exactly the CASE arithmetic the oracle unrolls.
        j = dist.join(ew, dist.node == ew.src, "left")
        pairs = (
            j.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("node").alias("n"),
                            F.col("dist").alias("d"),
                        ),
                        F.struct(
                            F.col("dst").alias("n"),
                            (F.col("dist") + F.col("w")).alias("d"),
                        ),
                    )
                ).alias("p")
            )
            .select(F.col("p.n").alias("node"), F.col("p.d").alias("d"))
            .where(F.col("node").isNotNull())
        )
        dist = pairs.groupBy("node").agg(
            F.min("d").cast("bigint").alias("dist")
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < rounds:
            dist = materialize(dist)
    return dist


def sssp_oracle_sql(edges_cte: str, source: int, rounds: int) -> str:
    """Unrolled-SQL twin of :func:`sssp` for the DuckDB oracle: one CTE
    per relaxation round, identical NULL-as-infinity CASE arithmetic.

    Every CTE is MATERIALIZED: each round references its predecessor
    TWICE (state + relax subquery), so inlining doubles the expansion
    per round — 2^rounds copies of the edge-build join OOMed DuckDB at
    sf0.1 before the hint. Materialized, each round is a 25-row scan."""
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_cte})",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM edges UNION SELECT dst FROM edges))",
        f"d0 AS MATERIALIZED (SELECT node, CASE WHEN node = {source} "
        "THEN CAST(0 AS BIGINT) END AS dist FROM nodes)",
    ]
    for k in range(1, rounds + 1):
        p = f"d{k - 1}"
        parts.append(
            f"""d{k} AS MATERIALIZED (
  SELECT p.node,
         CAST(CASE WHEN r.nd IS NULL THEN p.dist
                   WHEN p.dist IS NULL OR r.nd < p.dist THEN r.nd
                   ELSE p.dist END AS BIGINT) AS dist
  FROM {p} p
  LEFT JOIN (SELECT e.dst AS node, min(p.dist + e.w) AS nd
             FROM {p} p JOIN edges e ON e.src = p.node
             WHERE p.dist IS NOT NULL
             GROUP BY e.dst) r ON r.node = p.node)"""
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT node, dist FROM d{rounds}"

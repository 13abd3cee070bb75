"""SemDeDup catalog entries and their DuckDB oracles.

- ``dd_semdedup`` — SemDeDup-style semantic deduplication (Abbas et
  al. 2023) over random-hyperplane LSH buckets: pairs are compared ONLY
  within a bucket (bucket equi-join, never all-pairs), and every vector
  semantically dominated (cosine ≥ τ) by a lower-id bucket-mate is
  dropped — a single anti-join decision per vector, no iterative
  closure.
- ``dd_semdedup_ivf`` — SemDeDup (Abbas et al. 2023) over TRAINED
  Voronoi cells instead of random hyperplanes: a fixed-point Lloyd
  step (seeds = the C lowest vec_ids, one exact integer centroid
  update, re-assign) partitions the embedding space, then the same
  lowest-id dominance anti-join as ``dd_semdedup`` runs within each
  cell. This is the VERDICT r06 contract item ("at 100 TB the bucket
  id comes from a trained k-means assignment") turned into checked
  code: the quantizer is genuinely data-trained, yet every step is
  exact integer arithmetic (floor-scaled micro coordinates, BIGINT
  sums, truncating division — DuckDB ``//`` and Spark ``div`` both
  truncate toward zero), so a DuckDB oracle certifies it bit-for-bit.
  Real k-means (pyspark.ml, float, seeded) stays the production fit
  path in similarity/search.py:ivf_topk; this entry certifies the
  identical downstream plan with a reproducible quantizer.
- ``dd_semdedup_ivf_greedy{,_np2,_margin,_spill,_ms}`` — the cells ∝ N
  operating point the chained pipeline runs (greedy descent,
  occupancy-capped dominance), one entry per certified recall-knob
  point, all sharing :func:`_greedy_entry_oracle`.

The library code (quantizer, cell sizing, assignment, Lloyd update,
dominance) lives in ``dedup/semdedup.py``; this module holds only the
entries and the oracle-SQL builders.

House rules (operators/catalog.py): the dominance stage reuses
``dd_semdedup``'s exact cosine spelling (hoisted per-vector norms,
round-6dp-then-compare). The reference (3 BigQuery models) has no
analog; SURVEY §6 scopes the dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.dedup.semdedup import (
    IVF_CELLS,
    IVF_DIM,
    IVF_FP,
    SEMDEDUP_TAU,
    _descent_level_sizes,
    dominance_pairs,
    ivf_cells_capped,
    ivf_cells_for,
    quantized_vectors,
    sem_planes_for,
    semdedup_ivf_core,
)
from oroboro_dw_dbt_spark.engine.materialize import materialize
from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.operators.training_suite import _planes_dot_sql
from oroboro_dw_dbt_spark.similarity.search import _as_double, hyperplane_bucket, lsh_planes
from oroboro_dw_dbt_spark.sources.testdata import load_table


@query(
    "dd_semdedup",
    # Norms are hoisted per VECTOR (nrm column), not recomputed per
    # pair: dot/(a.nrm*b.nrm) is bit-identical to the _COS spelling
    # dot/(sqrt(aa)*sqrt(bb)) — same sqrt inputs, same product — and
    # turns the per-pair cost from 3 folds into 1.
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, sqrt(list_dot_product(b0.v, b0.v)) AS nrm,
                 {_planes_dot_sql('b0')} AS bucket
          FROM v b0),
    dom AS (
      SELECT c.vec_id AS victim, CAST(min(q.vec_id) AS BIGINT) AS removed_by
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
      WHERE round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) >= {SEMDEDUP_TAU}
      GROUP BY c.vec_id
    )
    SELECT b.vec_id, CAST(b.bucket AS INT) AS bucket,
           CAST(d.victim IS NULL AS INT) AS keep,
           d.removed_by
    FROM b LEFT JOIN dom d ON d.victim = b.vec_id
    """,
    survey_ref="beyond-reference: SemDeDup semantic dedup — LSH-cell "
    "pair restriction + lowest-id dominance anti-join, never all-pairs",
)
def dd_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over embeddings: keep/removed_by per vector.

    Scale: the only corpus-wide shuffle is the bucket equi-join (cells
    bound pair counts exactly as IVF cells do); dominance collapses to
    a per-victim min() — one aggregate, no connected-components
    iteration, because the keep-lowest-id policy is order-free.
    Pair work inside a cell is quadratic in OCCUPANCY, so the cell
    count GROWS with the corpus: planes = sem_planes_for(count) ≈
    log2(N/32), floored at 6 so the sf0.01 hash is unchanged (the r06
    10× probe measured 9.5× wall with the count pinned; the knob, not
    the plan, is what scales). The trained-cell twin of this entry is
    dd_semdedup_ivf (this module) — k-means-style Voronoi cells, same
    dominance plan. Norms are hoisted per vector (3 folds/pair → 1),
    bit-identical to the per-pair spelling."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    planes = lsh_planes(sem_planes_for(v.count()), IVF_DIM)
    b = materialize(v.select(
        "vec_id",
        "v",
        hyperplane_bucket(F.col("v"), planes).alias("bucket"),
    ))
    dom = dominance_pairs(b, "bucket", SEMDEDUP_TAU)
    return (
        b.join(dom, F.col("vec_id") == F.col("victim"), "left")
        .select(
            "vec_id",
            F.col("bucket").cast("int").alias("bucket"),
            F.col("victim").isNull().cast("int").alias("keep"),
            "removed_by",
        )
    )


# The gate-SF descent is d = 2 with G = ⌈√16⌉ = 4 pivots (the floor
# C = 16 never descends deeper); the oracle literal comes from the
# same function the runtime uses, so the two can never drift.
_GREEDY_GATE_G = _descent_level_sizes(IVF_CELLS)[-1]


def _greedy_assign_sql(
    src: str, out: str, g_n: int, nprobe: int = 1,
    margin: float | None = None, spill: float | None = None,
    spill_cap: int = 8,
) -> str:
    """DuckDB restatement of one :func:`greedy_assign` round at the
    gate depth (d = 2): ``src`` is a CTE named (cell, c, cn); emits
    CTEs ``{out}piv`` (the md5-hash-sampled pivots), ``{out}cg``
    (cells grouped under their nearest pivot, ties to the lowest
    pivot id), ``{out}vg`` (each vector's best ``nprobe`` pivots) and
    ``{out}`` (vec_id, cell: the nearest cell across the probed
    groups, ties to the lowest cell id) — exactly the descent +
    cogroup-argmin + min_by fold the Spark kernels compute in int64.
    The probed pivot groups partition the cells, so the final
    row_number argmin sees each candidate cell once at any nprobe.

    ``margin``: the adaptive-multiprobe filter — a pivot survives
    only when its TRUE squared distance (exact BIGINT: ‖x‖² + rel) is
    ≤ (1+margin) × the vector's best. The single double multiply of
    an exact sub-2⁵³ integer is identically rounded on both engines,
    so the filter cannot drift cross-engine.

    ``spill``: the cell-side multi-assignment knob (group_spill) — a
    CELL joins every pivot group within (1+spill)× of its best true
    squared distance (exact BIGINT: ‖cell‖² + rel), width-capped at
    ``spill_cap`` (the runtime kernel's cap; can't bind at the gate's
    4 pivots). The grouping stops being a partition, so the final
    argmin may see a spilled cell through several groups — the tied
    (score, cell) rows project identically, so the rk = 1 pick stays
    deterministic, mirroring the Spark min_by fold of duplicates."""
    if margin is None:
        vg = f"""
    {out}vg AS (
      SELECT vec_id, g FROM (
        SELECT x.vec_id, p.g,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY p.sgn - 2 * CAST(list_dot_product(x.vi, p.sg)
                                           AS BIGINT),
                          p.g) AS rk
        FROM v x CROSS JOIN {out}piv p) t WHERE rk <= {nprobe}
    ),"""
    else:
        vg = f"""
    {out}vg AS (
      SELECT vec_id, g FROM (
        SELECT vec_id, g, d2,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY rel, g) AS rk,
               min(d2) OVER (PARTITION BY vec_id) AS best
        FROM (
          SELECT x.vec_id, p.g,
                 p.sgn - 2 * CAST(list_dot_product(x.vi, p.sg)
                                  AS BIGINT) AS rel,
                 CAST(list_dot_product(x.vi, x.vi) AS BIGINT) + p.sgn
                   - 2 * CAST(list_dot_product(x.vi, p.sg)
                              AS BIGINT) AS d2
          FROM v x CROSS JOIN {out}piv p) s) t
      WHERE rk <= {nprobe} AND d2 <= (1.0 + {margin}) * best
    ),"""
    if spill is None:
        cg = f"""
    {out}cg AS (
      SELECT cell, c, cn, g FROM (
        SELECT s.cell, s.c, s.cn, p.g,
               row_number() OVER (
                 PARTITION BY s.cell
                 ORDER BY p.sgn - 2 * CAST(list_dot_product(s.c, p.sg)
                                           AS BIGINT),
                          p.g) AS rk
        FROM {src} s CROSS JOIN {out}piv p) t WHERE rk = 1
    ),"""
    else:
        cg = f"""
    {out}cg AS (
      SELECT cell, c, cn, g FROM (
        SELECT cell, c, cn, g, d2,
               row_number() OVER (
                 PARTITION BY cell ORDER BY rel, g) AS rk,
               min(d2) OVER (PARTITION BY cell) AS best
        FROM (
          SELECT s.cell, s.c, s.cn, p.g,
                 p.sgn - 2 * CAST(list_dot_product(s.c, p.sg)
                                  AS BIGINT) AS rel,
                 s.cn + p.sgn - 2 * CAST(list_dot_product(s.c, p.sg)
                                         AS BIGINT) AS d2
          FROM {src} s CROSS JOIN {out}piv p) s0) t
      WHERE rk <= {spill_cap} AND d2 <= (1.0 + {spill}) * best
    ),"""
    return f"""
    {out}piv AS (
      SELECT cell AS g, c AS sg, cn AS sgn FROM {src}
      ORDER BY md5('pv|' || CAST(cell AS VARCHAR)), cell LIMIT {g_n}
    ),{cg}{vg}
    {out} AS (
      SELECT vec_id, cell FROM (
        SELECT x.vec_id, s.cell,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY s.cn - 2 * CAST(list_dot_product(x.vi, s.c)
                                          AS BIGINT),
                          s.cell) AS rk
        FROM v x
        JOIN {out}vg ON {out}vg.vec_id = x.vec_id
        JOIN {out}cg s ON s.g = {out}vg.g) t WHERE rk = 1
    )"""


_MARGIN_GATE = 0.1  # certified adaptive-margin literal
_SPILL_GATE = 0.3  # certified group-spill literal (SCALE.md census point)


def _greedy_entry_oracle(
    nprobe: int = 1, margin: float | None = None, spill: float | None = None
) -> str:
    """The shared DuckDB skeleton of every greedy-SemDeDup catalog
    entry (seed → descend → exact integer Lloyd → re-descend → per-
    cell dominance), parameterized on the descent knobs. All five
    entries' oracles are this helper's output at their knob points
    (r12: the r09–r11 literals were replaced by calls the moment
    byte-equality was pinned); the certified text at each point is
    md5-pinned in tests, so an accidental edit here cannot silently
    rewrite a certified oracle — changing this function is a
    deliberate act that re-queues every greedy entry.

    Why the skeleton is oracle-able at all (VERDICT r09 Next #3):
    pivot sampling is the portable md5 hash (the _minhash_cte idiom),
    so DuckDB restates the ENTIRE greedy path — pivot choice, gate-
    depth descent with lowest-pivot/lowest-cell ties, exact integer
    Lloyd update, re-descent, per-cell dominance. Every score is
    BIGINT on both engines; the occupancy cap (8×128 = 1024) cannot
    trigger at the gate SF (500 vectors over ≥16 cells), so the
    capped key ≡ the quantizer cell and the oracle omits the split
    arm — the same never-fires argument the exact twin's oracle
    makes for its assignment spelling."""
    a0 = _greedy_assign_sql(
        "seeds", "a0", _GREEDY_GATE_G, nprobe=nprobe, margin=margin,
        spill=spill,
    )
    a1 = _greedy_assign_sql(
        "cents2", "a1", _GREEDY_GATE_G, nprobe=nprobe, margin=margin,
        spill=spill,
    )
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {IVF_FP}) AS BIGINT)) AS vi
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS cell, vi AS c,
             CAST(list_dot_product(vi, vi) AS BIGINT) AS cn
      FROM v ORDER BY vec_id LIMIT {IVF_CELLS}
    ),
    {a0},
    dims AS (
      SELECT a0.cell, u.i AS i,
             CAST(CAST(sum(x.vi[u.i]) AS BIGINT)
                  // CAST(count(*) AS BIGINT) AS BIGINT) AS cd
      FROM v x JOIN a0 ON a0.vec_id = x.vec_id,
           unnest(range(1, {IVF_DIM} + 1)) AS u(i)
      GROUP BY a0.cell, u.i
    ),
    cents AS (
      SELECT cell, list(cd ORDER BY i) AS c FROM dims GROUP BY cell
    ),
    cents2 AS (
      SELECT cell, c, CAST(list_dot_product(c, c) AS BIGINT) AS cn
      FROM cents
    ),
    {a1},
    b AS (
      SELECT x.vec_id, a1.cell, x.v,
             sqrt(list_dot_product(x.v, x.v)) AS nrm
      FROM v x JOIN a1 ON a1.vec_id = x.vec_id
    ),
    dom AS (
      SELECT c.vec_id AS victim, CAST(min(q.vec_id) AS BIGINT) AS removed_by
      FROM b q JOIN b c ON q.cell = c.cell AND q.vec_id < c.vec_id
      WHERE round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6)
            >= {SEMDEDUP_TAU}
      GROUP BY c.vec_id
    )
    SELECT b.vec_id, CAST(b.cell AS INT) AS cell,
           CAST(d.victim IS NULL AS INT) AS keep,
           d.removed_by
    FROM b LEFT JOIN dom d ON d.victim = b.vec_id
    """


@query(
    "dd_semdedup_ivf_greedy",
    # Full oracle (VERDICT r09 Next #3): the shared skeleton in
    # _greedy_entry_oracle restates the ENTIRE greedy path portably;
    # see its docstring for the oracle-ability argument.
    oracle=_greedy_entry_oracle(),
    survey_ref="beyond-reference: SemDeDup at the cells ∝ N operating "
    "point — greedy d-level descent + occupancy-capped dominance, "
    "the chained pipeline's production semantic stage (VERDICT r08 "
    "Next #2; oracle-checkable since r10 via md5 pivot sampling, "
    "VERDICT r09 Next #3)",
)
def dd_semdedup_ivf_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production (pipeline) spelling of semantic dedup: cells
    ∝ N via :func:`ivf_cells_capped`, assignment via
    :func:`greedy_assign`, dominance occupancy-capped at 8× the
    target. At gate SFs the corpus sits on the 16-cell floor and the
    cap never triggers, so this certifies exactly the code path
    tools/pipeline_e2e.py runs at sf300."""
    v = quantized_vectors(load_table(spark, sf_dir, "embeddings"))
    # the sizing RULE rides into the core as a callable: C is computed
    # from the core's checkpointed count, so the corpus is scanned once,
    # not once for ivf_cells_capped(v.count()) and again for the
    # checkpoint (optimization r13; same C, bit-identical result)
    return semdedup_ivf_core(
        v, ivf_cells_capped, assign="greedy", occupancy_cap=8 * 128
    )


@query(
    "dd_semdedup_ivf_greedy_np2",
    # The multiprobe middle point (VERDICT r09 Next #4), certified:
    # identical pipeline to dd_semdedup_ivf_greedy but the descent
    # keeps the best 2 pivots per level (rk <= 2 in the vg CTEs).
    # Probed groups partition the cells, so the final argmin sees
    # each candidate once; everything else is the greedy oracle.
    oracle=_greedy_entry_oracle(nprobe=2),
    survey_ref="beyond-reference: multiprobe greedy SemDeDup (nprobe=2 "
    "per descent level) — the recall middle point between the nprobe=1 "
    "production default and the exact argmin (VERDICT r09 Next #4)",
)
def dd_semdedup_ivf_greedy_np2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd_semdedup_ivf_greedy at nprobe=2: the descent scores the two
    best pivots per level (~2× probe work, still ≪ the exact path's C
    dots) and :func:`_score_groups`' min_by folds the multi-group
    winners exactly. The recall census (BENCH_r10_greedy_recall*.json)
    measured what the extra probe buys on uniform geometry."""
    v = quantized_vectors(load_table(spark, sf_dir, "embeddings"))
    return semdedup_ivf_core(  # callable C rule: one corpus scan (r13)
        v, ivf_cells_capped, assign="greedy", occupancy_cap=8 * 128, nprobe=2
    )


@query(
    "dd_semdedup_ivf_greedy_margin",
    # Adaptive multiprobe (VERDICT r10 Next #6), certified: identical
    # pipeline to dd_semdedup_ivf_greedy but a pivot is probed only
    # when its TRUE squared distance is within (1+0.1)x of the best
    # (width-capped at 16 >= the gate's 4 pivots). The margin compare
    # multiplies an exact sub-2^53 BIGINT by the same double literal
    # on both engines - one identically-rounded IEEE op - so the
    # filter cannot drift cross-engine.
    oracle=_greedy_entry_oracle(nprobe=16, margin=_MARGIN_GATE),
    survey_ref="beyond-reference: boundary-adaptive multiprobe greedy "
    "SemDeDup — a pivot is probed only within (1+m)× of the best true "
    "distance, so the multiprobe spend concentrates on boundary "
    "vectors (VERDICT r10 Next #6)",
)
def dd_semdedup_ivf_greedy_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd_semdedup_ivf_greedy with ``probe_margin=0.1`` (cap 16): the
    descent probes extra pivots only where the vector actually sits
    near a pivot boundary — interior vectors keep paying nprobe-1
    cost. The uniform-geometry recall census measures what the margin
    buys per wall-second (SCALE.md r11)."""
    v = quantized_vectors(load_table(spark, sf_dir, "embeddings"))
    return semdedup_ivf_core(  # callable C rule: one corpus scan (r13)
        v, ivf_cells_capped, assign="greedy", occupancy_cap=8 * 128,
        nprobe=16, probe_margin=_MARGIN_GATE,
    )


@query(
    "dd_semdedup_ivf_greedy_spill",
    # Cell-side spill (SOAR-style multi-assignment), certified
    # (VERDICT r11 Next #1): identical pipeline to
    # dd_semdedup_ivf_greedy but a CELL joins every pivot group
    # within (1+0.3)× of its best true squared distance (cap 8 ≥ the
    # gate's 4 pivots, so the cap cannot bind). The spill compare
    # multiplies an exact sub-2⁵³ BIGINT by the same double literal
    # on both engines — one identically-rounded IEEE op.
    oracle=_greedy_entry_oracle(spill=_SPILL_GATE),
    survey_ref="beyond-reference: cell-side spill greedy SemDeDup — "
    "boundary cells join every pivot group within (1+s)× of their "
    "best, so even an nprobe=1 vector sees neighboring groups' "
    "boundary cells (VERDICT r11 Next #1; the recall lever the "
    "production pipeline engages via --spill)",
)
def dd_semdedup_ivf_greedy_spill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd_semdedup_ivf_greedy with ``group_spill=0.3``: the cell-side
    lever of the m0.1+s0.3 census point (spill alone on the uniform
    floor: s0.2 = 0.723 victim-Jaccard at ~1× np1's wall, s0.4 =
    0.763 at 1.07× — nearly free because it adds GEMM columns, not
    per-vector fan-out; SCALE.md r11 census). Certifies the exact
    code path tools/pipeline_e2e.py engages with --spill 0.3."""
    v = quantized_vectors(load_table(spark, sf_dir, "embeddings"))
    return semdedup_ivf_core(  # callable C rule: one corpus scan (r13)
        v, ivf_cells_capped, assign="greedy", occupancy_cap=8 * 128,
        group_spill=_SPILL_GATE,
    )


@query(
    "dd_semdedup_ivf_greedy_ms",
    # THE headline recall configuration (m0.1 + s0.3 — the operating
    # point SCALE.md leads with: uniform-floor recall 0.882 at 1.75×
    # np1, clustered geometry bit-exact vs the exact assignment),
    # certified end-to-end (VERDICT r11 Next #1): vector-side margin
    # AND cell-side spill composed in one descent.
    oracle=_greedy_entry_oracle(
        nprobe=16, margin=_MARGIN_GATE, spill=_SPILL_GATE
    ),
    survey_ref="beyond-reference: the pipeline's headline recall "
    "operating point — adaptive vector margin (m=0.1, cap 16) + "
    "cell spill (s=0.3) composed; the spelling the sf1000 rung runs "
    "(VERDICT r11 Next #1)",
)
def dd_semdedup_ivf_greedy_ms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd_semdedup_ivf_greedy with BOTH recall knobs — probe_margin
    0.1 (cap 16) and group_spill 0.3 — the m0.1+s0.3 census point
    SCALE.md's banner number rides. Until r12 this exact spelling was
    pytest-pinned only; this entry gives it the same hash-green
    driver row as every other dedup spelling."""
    v = quantized_vectors(load_table(spark, sf_dir, "embeddings"))
    return semdedup_ivf_core(  # callable C rule: one corpus scan (r13)
        v, ivf_cells_capped, assign="greedy", occupancy_cap=8 * 128,
        nprobe=16, probe_margin=_MARGIN_GATE, group_spill=_SPILL_GATE,
    )


@query(
    "dd_semdedup_ivf",
    # Quantizer arithmetic is exact end-to-end: micro-scaled BIGINT
    # coordinates (floor is rounding-mode-free, unlike round), BIGINT
    # sums (order-free), truncating integer division (DuckDB // ≡
    # Spark div), and argmin ties broken by cell id. list_dot_product
    # returns DOUBLE but every value here is < 2^53 — exact.
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {IVF_FP}) AS BIGINT)) AS vi
      FROM embeddings
    ),
    seeds AS (
      -- the C lowest ids PRESENT (== vec_id < C on dense ids; robust
      -- to the sparse survivor-id inputs the pipeline feeds)
      SELECT vec_id AS cell, vi AS si,
             CAST(list_dot_product(vi, vi) AS BIGINT) AS sn
      FROM v ORDER BY vec_id LIMIT {IVF_CELLS}
    ),
    a0 AS (
      SELECT vec_id, cell FROM (
        SELECT x.vec_id, s.cell,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY s.sn - 2 * CAST(list_dot_product(x.vi, s.si)
                                          AS BIGINT),
                          s.cell) AS rk
        FROM v x CROSS JOIN seeds s) t WHERE rk = 1
    ),
    dims AS (
      SELECT a0.cell, u.i AS i,
             CAST(CAST(sum(x.vi[u.i]) AS BIGINT)
                  // CAST(count(*) AS BIGINT) AS BIGINT) AS cd
      FROM v x JOIN a0 ON a0.vec_id = x.vec_id,
           unnest(range(1, {IVF_DIM} + 1)) AS u(i)
      GROUP BY a0.cell, u.i
    ),
    cents AS (
      SELECT cell, list(cd ORDER BY i) AS c FROM dims GROUP BY cell
    ),
    cents2 AS (
      SELECT cell, c, CAST(list_dot_product(c, c) AS BIGINT) AS cn
      FROM cents
    ),
    a1 AS (
      SELECT vec_id, cell FROM (
        SELECT x.vec_id, s.cell,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY s.cn - 2 * CAST(list_dot_product(x.vi, s.c)
                                          AS BIGINT),
                          s.cell) AS rk
        FROM v x CROSS JOIN cents2 s) t WHERE rk = 1
    ),
    b AS (
      SELECT x.vec_id, a1.cell, x.v,
             sqrt(list_dot_product(x.v, x.v)) AS nrm
      FROM v x JOIN a1 ON a1.vec_id = x.vec_id
    ),
    dom AS (
      SELECT c.vec_id AS victim, CAST(min(q.vec_id) AS BIGINT) AS removed_by
      FROM b q JOIN b c ON q.cell = c.cell AND q.vec_id < c.vec_id
      WHERE round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6)
            >= {SEMDEDUP_TAU}
      GROUP BY c.vec_id
    )
    SELECT b.vec_id, CAST(b.cell AS INT) AS cell,
           CAST(d.victim IS NULL AS INT) AS keep,
           d.removed_by
    FROM b LEFT JOIN dom d ON d.victim = b.vec_id
    """,
    survey_ref="beyond-reference: SemDeDup over trained Voronoi cells "
    "— exact fixed-point Lloyd quantizer + the dd_semdedup dominance "
    "plan (VERDICT r06 Missing #3 / Next #7)",
)
def dd_semdedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over one-Lloyd-step k-means cells, exact.

    Plan: (1) seeds = the C lowest vec_ids PRESENT (C =
    ivf_cells_for(count), pinned at 16 for sf0.01 so the certified
    hash never moves); (2) assign every vector to its nearest seed
    via :func:`flat_assign` — the C·dim centroid table rides the task
    closure and each vector batch is scored by one tiled exact int64
    GEMM argmin, map-side, lowest cell id on ties, never a window sort
    over N·C rows; (3) exact integer centroid update (BIGINT dim sums
    are order-free; truncating div matches DuckDB //); (4) re-assign
    to the updated centroids the same way; (5) dd_semdedup's dominance
    anti-join within each cell. More Lloyd iterations loop stages 3-4 with the
    same plan; the float production fit is ivf_topk's pyspark.ml
    KMeans — this entry certifies the downstream plan with a
    quantizer both engines can compute bit-identically. The oracle
    keeps the SQL flat-argmin spelling. Exact assignment is N·C work;
    the scale spelling is the occupancy-capped greedy family
    (``dd_semdedup_ivf_greedy*``: cells ∝ N, ~d·C^(1/d) dots per
    vector)."""
    v = quantized_vectors(load_table(spark, sf_dir, "embeddings"))
    # sizing rule passed as a callable: the core computes C from its
    # checkpointed count — no separate pre-checkpoint count job (r13,
    # same as the greedy family; hash unchanged, C identical)
    return semdedup_ivf_core(v, ivf_cells_for)

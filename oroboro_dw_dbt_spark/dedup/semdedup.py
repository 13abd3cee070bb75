"""SemDeDup (Abbas et al. 2023): the cells, the quantizer and the
dominance kernel behind every semantic-dedup entry and pipeline stage.

Two cell families feed one dominance stage:

- LSH cells (``dd_semdedup``): random-hyperplane buckets, plane count
  from :func:`sem_planes_for`.
- Trained Voronoi cells (``dd_semdedup_ivf*`` and the chained
  pipeline's semantic stage): :func:`semdedup_ivf_core` runs seed →
  assign → one exact integer Lloyd update → re-assign → per-cell
  dominance. Coordinates are micro fixed-point BIGINTs
  (:func:`quantized_vectors`), so every step is exact integer
  arithmetic and a DuckDB oracle certifies it bit-for-bit. Assignment
  is either exact (:func:`flat_assign`: one map-side GEMM against the
  driver-collected centroid table, C ∝ √N from :func:`ivf_cells_for`)
  or, at scale, the cells ∝ N greedy descent (:func:`greedy_assign`,
  sized by :func:`ivf_cells_capped`, cells occupancy-capped). Both
  score through one tiled exact argmin (:func:`_tiled_argmin`).

Dominance kernel (:func:`dominance_pairs`): within each cell, a vector
is removed iff some LOWER-id cell-mate is cosine-≥-τ similar, and
``removed_by`` is the lowest such id. Round 6 spelled that as a
bucket self-equi-join with a per-pair ``zip_with`` fold — the right *shape* (never all-pairs), but the per-pair array
fold costs ~µs where BLAS costs ~ns: the 10× probe measured the fold
at 10M pairs dominating the wall (SCALE.md r07). This kernel keeps
the identical shuffle (one hash partition by cell — exactly the
equi-join's) and scores each cell's pairs with ONE ``mat @ mat.T``
inside ``applyInPandas``, the same Arrow/GEMM idiom the certified
``ss_lsh_matmul`` family uses (similarity/search.py:272).

Semantics are pinned to the oracle: cosines round HALF_UP to 6dp
before the τ compare (functions/rounding.py — np.round is banker's
and is banned), ids sort ascending so "lowest dominator" is a first-
True argmax, and the τ decision is the only thing that leaves the
kernel — GEMM's pairwise summation differs from the oracle's
sequential fold only below 1e-15, which cannot move a 6dp rounding
except exactly at a midpoint boundary (not present in any certified
value set; the sf0.01 gate hashes would catch one).

Memory: one cell's cosine matrix is occ² doubles — the occupancy
bound IS the operator contract (planes ≈ log2(N/occ) for LSH, cells
∝ corpus for IVF), so the matrix stays MB-scale at any corpus size;
a degenerate corpus that defeats the bucketing (all vectors
identical) would concentrate one giant cell and must be exact-deduped
first (dd_exact) — stated, not silent.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.engine.materialize import materialize
from oroboro_dw_dbt_spark.similarity.search import _as_double

SEMDEDUP_TAU = 0.4  # dominance threshold of every SemDeDup entry
SEM_PLANES = 6  # LSH-cell floor; sf0.01 (500 vectors) stays exactly here
_SEM_OCC = 32  # target vectors per LSH cell
IVF_DIM = 64
IVF_CELLS = 16  # trained-cell floor; sf0.01 (500 vectors) stays exactly here
IVF_FP = 1_000_000  # micro fixed-point scale for the quantizer


def quantized_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, v array<double>, vi array<long>) from an embeddings
    frame: ``vi`` = floor(v·IVF_FP), the quantizer's exact micro
    fixed-point coordinates (floor is rounding-mode-free, so DuckDB's
    oracles restate it verbatim)."""
    return emb.select("vec_id", _as_double("embedding").alias("v")).withColumn(
        "vi",
        F.transform(F.col("v"), lambda x: F.floor(x * IVF_FP).cast("long")),
    )


def sem_planes_for(n: int) -> int:
    """Plane count ≈ log2(N / target_occupancy), floored at the sf0.01
    value so the certified hash never moves.

    Within-cell pair work is quadratic in occupancy, so a pinned cell
    count makes SemDeDup quadratic in the corpus (the r06 10× probe
    measured 9.5× wall, VERDICT r06 What's-wrong #4). Deriving planes
    from a cheap count() holds occupancy ~constant: pair work ∝ N,
    bucket assignment ∝ N·log N — the linear scale path. The oracle
    pins the sf0.01 plane count (6); mirror runs at other SFs would
    use more planes than the oracle and are out of contract."""
    return max(SEM_PLANES, math.ceil(math.log2(max(1.0, n / _SEM_OCC))))


def dominance_pairs(b: DataFrame, cell_col: str, tau: float) -> DataFrame:
    """(victim, removed_by) per dominated vector.

    ``b`` must carry ``vec_id`` (long), ``v`` (array<double>), and
    ``cell_col``. One shuffle: hash partition by cell (the equi-join's
    own exchange); each cell is scored by a single GEMM.
    """
    import numpy as np
    import pandas as pd

    from oroboro_dw_dbt_spark.functions.rounding import np_round_half_up

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "victim": pd.Series([], dtype="int64"),
                    "removed_by": pd.Series([], dtype="int64"),
                }
            )
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        # f64 compute regardless of STORAGE dtype: callers may ship v
        # as array<float> (half the checkpoint bytes — the sf1000 heap
        # ceiling, SCALE.md) and the upcast is deterministic, so the
        # certified double-input entries are bit-unchanged (no-op)
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        nrm[nrm == 0.0] = 1.0
        cos = np_round_half_up((mat @ mat.T) / np.outer(nrm, nrm))
        # tri[i, j] True ⇔ ids[i] < ids[j] (ids ascending) and cos ≥ τ:
        # column j's first True row is its lowest-id dominator.
        tri = np.triu(cos >= tau, 1)
        has = tri.any(axis=0)
        first = tri.argmax(axis=0)
        return pd.DataFrame(
            {
                "victim": pd.Series(ids[has], dtype="int64"),
                "removed_by": pd.Series(ids[first[has]], dtype="int64"),
            }
        )

    return (
        b.select(F.col(cell_col).alias("_cell"), "vec_id", "v")
        .groupBy("_cell")
        .applyInPandas(kernel, "victim long, removed_by long")
    )


def ivf_cells_for(n: int) -> int:
    """C ≈ sqrt(N/8), floored at the sf0.01 value (16).

    sqrt-scaling balances the two stage costs: nearest-centroid
    assignment is N·C dot products and within-cell pair work is
    ~N²/C, so C ∝ √N puts both at N^1.5 (the classic IVF operating
    point; FAISS's rule of thumb is C = O(√N)). Past that the scale
    spelling is cells ∝ N (:func:`ivf_cells_capped`) with the greedy
    descent, which keeps total work ~linear with this same
    downstream plan."""
    return max(IVF_CELLS, math.ceil(math.sqrt(n / 8)))


def _int_dot(a, b):
    """Exact BIGINT dot product via a sequential fold (order-pinned).
    Operands cast to long BEFORE multiplying so array<int> inputs (the
    compact storage the sf1000 probe ships to halve its checkpoint)
    never overflow 32-bit products; a no-op for array<long> inputs."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )


# Per-task candidate budget for the salted cogroup (ADVICE r08): a
# group key's whole candidate set must never ride one pandas frame —
# on no-pruning geometry that is ~N rows of dim-64 int64 on ONE task.
# ~200k rows × 64 × 8 B ≈ 100 MB per task, comfortably inside an
# executor; the salt count scales with the corpus to hold this.
_SALT_TARGET_ROWS = 200_000

# Score-matrix tile budget of :func:`_tiled_argmin`, in int64 elements
# (~4M = 32 MB per temporary).
_TILE_ELEMS = 1 << 22


def flat_assign(v: DataFrame, cent_df: DataFrame) -> DataFrame:
    """EXACT nearest-centroid assignment with a driver-collected
    centroid table: C·dim int64s (KBs at the certified C = 16, ~1.3 MB
    at C = 2,500) ride the task closure and every vector batch is
    scored by :func:`_tiled_argmin`, so the lowest cell id wins ties
    and no temporary outgrows one tile at any C. No shuffle, no
    cogroup — the whole assignment is map-side."""
    import numpy as np
    import pandas as pd

    rows = cent_df.select("cell", "c", "cn").orderBy("cell").collect()
    spark = v.sparkSession
    if not rows:  # empty corpus/centroids: empty assignment
        return spark.createDataFrame([], "vec_id long, cell long")
    cells = np.array([r["cell"] for r in rows], dtype=np.int64)
    cm = np.array([r["c"] for r in rows], dtype=np.int64)
    cn = np.array([r["cn"] for r in rows], dtype=np.int64)
    tile_elems = _TILE_ELEMS  # bound on the driver: the closure ships it

    def it_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack(pdf["vi"].to_numpy()).astype(np.int64, copy=False)
            _, cell = _tiled_argmin(vm, cm, cn, cells, tile_elems)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64), "cell": cell}
            )

    return v.select("vec_id", "vi").mapInPandas(it_kernel, "vec_id long, cell long")


def _exact_int_gemm(vm, cm):
    """``vm @ cm.T`` in exact int64, BLAS-accelerated when safe.

    numpy int64 matmul has NO BLAS kernel (scalar triple loop); float64
    dgemm computes the SAME integers exactly whenever every dot
    product's partial sums stay below 2^53 — true by a wide margin for
    micro-fixed-point coordinates (|vi| ≤ ~1e6, dim 64 → |dot| ≤
    ~6.4e13 ≈ 2^46). The bound is CHECKED per call, falling back to
    the exact int64 loop on data that could overflow the mantissa."""
    import numpy as np

    amax = (
        max(int(np.abs(vm).max(initial=0)), 1)
        * max(int(np.abs(cm).max(initial=0)), 1)
        * vm.shape[1]
    )
    if amax < 2**53:
        return np.rint(vm.astype(np.float64) @ cm.astype(np.float64).T).astype(
            np.int64
        )
    return vm @ cm.T  # pragma: no cover - beyond the quantizer's range


def _tiled_argmin(vm, cm, cn, cells, tile_elems=_TILE_ELEMS):
    """(score, cell) per row of ``vm``: the exact integer argmin of
    ``cn − 2·(vm · cm.T)`` over centroid columns sorted by cell id, so
    numpy's first-min IS the lowest-cell tie-break.

    Rows are scored in TILES of ~``tile_elems`` scores: a whole batch's
    score matrix can be GBs (the sf100 pathology: one skewed group
    scored 235k vectors × 6.8k centroids — a 13 GB int64 matrix, and
    the kernel's three temporaries tripled it; the task spent its wall
    in allocation and page faults, not FLOPs). ~4M-element tiles
    (32 MB) keep every temporary cache-resident; per-row argmin is
    independent, so tiling is exact."""
    import numpy as np

    tile = max(256, tile_elems // max(1, len(cm)))
    out_score = np.empty(len(vm), dtype=np.int64)
    out_cell = np.empty(len(vm), dtype=np.int64)
    for s in range(0, len(vm), tile):
        vt = vm[s : s + tile]
        scores = cn[None, :] - 2 * _exact_int_gemm(vt, cm)
        j = scores.argmin(axis=1)
        out_score[s : s + len(vt)] = scores[np.arange(len(vt)), j]
        out_cell[s : s + len(vt)] = cells[j]
    return out_score, out_cell


def _salt_count(v: DataFrame, n_rows: int | None) -> int:
    # Unknown n_rows → 1 salt (ADVICE r09: defaulting to
    # defaultParallelism made every direct library call pay the salted
    # plan — explode-replicated centroid side + wider cogroup — even on
    # tiny inputs; S=1 ≡ unsalted by the pinned equality). Callers at
    # scale pass n_rows (the core paths do, off a checkpointed count)
    # so the candidate-volume bound actually sizes the salt.
    if n_rows is None:
        return 1
    return max(1, min(512, -(-n_rows // _SALT_TARGET_ROWS)))


def _score_groups(cand: DataFrame, cent_side: DataFrame, salts: int) -> DataFrame:
    """Fold (vec_id, vi, g) candidates against the g-keyed centroid
    table into the exact per-vector (score, cell) argmin: a salted
    cogroup (each task holds ≤ ~``_SALT_TARGET_ROWS`` candidates, the
    KB-scale centroid side replicated per salt) scoring each group
    with :func:`_tiled_argmin`, then one map-side-combinable min_by.
    Lowest-cell ties are preserved at any salt count: the kernel's
    first-min over cell-ascending columns is the lowest id within a
    task, and the (score, cell) struct ordering keeps it across
    tasks."""
    import numpy as np
    import pandas as pd

    def kernel(pdf_v: pd.DataFrame, pdf_c: pd.DataFrame) -> pd.DataFrame:
        if len(pdf_v) == 0 or len(pdf_c) == 0:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="int64"),
                    "cell": pd.Series([], dtype="int64"),
                }
            )
        pdf_c = pdf_c.sort_values("cell")  # first-min argmin = lowest id
        vm = np.stack(pdf_v["vi"].to_numpy()).astype(np.int64, copy=False)
        cm = np.stack(pdf_c["c"].to_numpy()).astype(np.int64, copy=False)
        score, cell = _tiled_argmin(
            vm,
            cm,
            pdf_c["cn"].to_numpy(dtype=np.int64),
            pdf_c["cell"].to_numpy(dtype=np.int64),
        )
        return pd.DataFrame(
            {
                "vec_id": pdf_v["vec_id"].to_numpy(dtype=np.int64),
                "score": score,
                "cell": cell,
            }
        )

    if salts > 1:
        cand = cand.withColumn("s", F.pmod(F.hash("vec_id"), F.lit(salts)))
        cent_side = cent_side.withColumn(
            "s", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
        )
        per_group = (
            cand.groupby("g", "s")
            .cogroup(cent_side.groupby("g", "s"))
            .applyInPandas(kernel, "vec_id long, score long, cell long")
        )
    else:
        per_group = (
            cand.groupby("g")
            .cogroup(cent_side.groupby("g"))
            .applyInPandas(kernel, "vec_id long, score long, cell long")
        )
    return per_group.groupBy("vec_id").agg(
        F.min_by("cell", F.struct("score", "cell")).alias("cell")
    )


def ivf_cells_capped(n: int, occupancy: int = 128) -> int:
    """C = ⌈N/occupancy⌉ (floored at the sf0.01 value): cells ∝ N.

    The √-scaling of :func:`ivf_cells_for` balances exact assignment
    (N·C) against within-cell pair work (N²/C) at N^1.5 — the r08
    pipeline ladder measured that term at 72% of the sf100 wall and
    growing. Capping cell OCCUPANCY instead makes the dominance stage
    N·occ = linear; the price is that exact assignment at C ∝ N is
    N²/occ — unpayable — so this operating point pairs with
    :func:`greedy_assign` (per-vector work ~2√C, deterministic,
    approximate), which is what production IVF systems run. SemDeDup's
    cells are themselves a locality heuristic (Abbas et al. 2023 use
    plain k-means assignment with a fixed budget), so the greedy
    descent changes WHICH near-duplicates meet in a cell, not the
    operator's contract; the certified catalog entry keeps the exact
    path at its pinned C=16."""
    return max(IVF_CELLS, -(-n // occupancy))


# Per-level pivot fan-in budget for the greedy descent: depth d is the
# smallest d ≥ 2 with C^(1/d) ≤ this, so per-vector probe work stays
# ~d·_DESCENT_FANIN dots no matter how large C grows. 256 keeps the
# certified ladder at two levels (C ≤ 65 536 — sf300's C = 46 875 — so
# every cross-round comparison point is unchanged) and flips to d = 3
# exactly where the r09 sf1000 probe measured the N·√C coarse term
# degrading per-vector cost 2.3× (SCALE.md "The sf1000 edge").
_DESCENT_FANIN = 256

# Largest pivot set the descent will collect to the driver / ride in a
# task closure: |P_{d-1}| = C^((d-1)/d) rows (2 916 at sf1000's
# C = 156 250 with d = 3 — ~1.5 MB). Depth backs off to keep the
# deepest level under it; when even d = 2's √C exceeds it (C > ~6.9×10¹⁰
# cells, ≥ ~8.8×10¹² vectors at occupancy 128 — ~1000× past the 100 TB
# design point) :func:`greedy_assign` raises.
_DESCENT_MAX_PIVOT_ROWS = 262_144


def _descent_level_sizes(n_cells: int) -> list[int]:
    """Pivot-level sizes [n_1, …, n_{d-1}] = ⌈C^(i/d)⌉ for the d-level
    descent: d is the smallest depth ≥ 2 whose per-level fan-in C^(1/d)
    fits ``_DESCENT_FANIN``, backed off (deepest first) while the
    DEEPEST level C^((d-1)/d) would blow the closure budget: fan-in is
    a preference, the closure cap is a hard bound, and a d−1 tree
    trades a wider per-level scan for a closure that ships (C = 8×10⁷
    — a 100 TB corpus at occupancy 128 — lands on d = 3: fan-in ~431,
    deepest level ~187k rows ≈ 96 MB broadcast). At C = 16 (the
    certified floor) this is [4] — the original two-level G = ⌈√C⌉.
    When even d = 2's √C exceeds the cap, the last size does too and
    :func:`greedy_assign` raises."""
    d = 2
    while d < 6 and n_cells ** (1.0 / d) > _DESCENT_FANIN:
        d += 1
    while d > 2 and n_cells ** ((d - 1) / d) > _DESCENT_MAX_PIVOT_ROWS:
        d -= 1
    # −1e-9 absorbs float-pow fuzz (27^(1/3) = 3.0000000000000004)
    return [
        max(2, min(n_cells, math.ceil(n_cells ** (i / d) - 1e-9)))
        for i in range(1, d)
    ]


def _build_closure_levels(pivot_rows, sizes):
    """(levels, children) for the in-closure descent levels.
    levels[i] = (cells, coord-matrix, norms), cell-ASCENDING so that
    first-min argmin = lowest pivot id; children[i][j] = indices into
    level i+1 of the members routed under level-i pivot j (ascending,
    therefore cell-ascending). Level-(i+1) members are routed by the
    SAME hierarchical descent every other frame uses (descend through
    levels 0..i), not a flat global argmin over level i — for d ≤ 3
    (every certified ladder: one preceding level) the two rules are
    identical. Driver numpy at ≤ C^((2d-3)/d) dots, trivial at any
    sandbox C."""
    import numpy as np

    levels = []
    for n_i in sizes:
        rows_i = sorted(pivot_rows[: min(n_i, len(pivot_rows))],
                        key=lambda r: r["cell"])
        levels.append(
            (
                np.array([r["cell"] for r in rows_i], dtype=np.int64),
                np.stack([np.asarray(r["c"], dtype=np.int64) for r in rows_i]),
                np.array([r["cn"] for r in rows_i], dtype=np.int64),
            )
        )
    children = []
    for i in range(len(levels) - 1):
        pc = levels[i][0]
        cm = levels[i + 1][1]
        leaf = _closure_descend(levels[: i + 1], children[:i], cm, 1)[:, 0]
        pos = {int(c): idx for idx, c in enumerate(pc)}
        parent = np.array([pos.get(int(c), -1) for c in leaf], dtype=np.int64)
        children.append(
            [np.flatnonzero(parent == j) for j in range(len(pc))]
        )
    return levels, children


def _closure_descend(levels, children, mat, p, margin=None):
    """(batch, ≤p) leaf-pivot CELL ids per row, best-first; ties at
    every level break to the lowest pivot id (stable argsort over
    cell-ascending candidates).

    ``margin`` (adaptive multiprobe, VERDICT r10 Next #6): with a
    float m, a candidate survives a level only when its TRUE squared
    distance ≤ (1+m) × the level's best — so ``p`` becomes a width
    CAP and the spend concentrates on boundary rows (the only place
    fixed-nprobe recall losses live) while interior rows keep paying
    nprobe-1 cost. None = fixed top-p (the certified behavior)."""
    import numpy as np

    n_levels = len(levels)
    xn = None
    if margin is not None:
        xm = mat.astype(np.int64, copy=False)
        xn = (xm * xm).sum(axis=1)

    def _take(scores, p_, xn_rows):
        """top-≤p_ column indices per row, -1-padded under margin."""
        if p_ == 1 and margin is None:
            return scores.argmin(axis=1)[:, None]
        order = np.argsort(scores, axis=1, kind="stable")[:, :p_]
        if margin is not None:
            d2 = np.take_along_axis(scores, order, axis=1) + xn_rows[:, None]
            keep = d2 <= (1.0 + margin) * d2[:, :1]
            order = np.where(keep, order, -1)
        return order

    _, m0, n0 = levels[0]
    rel = n0[None, :] - 2 * _exact_int_gemm(mat, m0)
    cur = _take(rel, p, xn)
    for i in range(1, n_levels):
        _, mi, ni = levels[i]
        kids = children[i - 1]
        # group rows by their probed-parent tuple: each group
        # scores ONE merged candidate set with ONE sub-GEMM
        keys, inv = np.unique(cur, axis=0, return_inverse=True)
        # width = min(p, level size), NOT the previous level's width:
        # a ladder whose level 0 is narrower than p (15 pivots, p=16)
        # can still merge ≥ p candidates at level 1 — allocating at
        # cur.shape[1] made the take assignment crash there
        # (unreachable for every certified entry — the gate ladder is
        # single-level)
        nxt = np.full(
            (len(mat), min(p, len(levels[i][0]))), -1, dtype=np.int64
        )
        width = 0
        for kidx in range(len(keys)):
            rows = np.flatnonzero(inv == kidx)
            cand = np.concatenate(
                [kids[par] for par in keys[kidx] if par >= 0]
            )
            if len(cand) == 0:  # pragma: no cover - defensive
                continue
            cand = np.sort(cand)  # index-asc = cell-asc tie-break
            sub = ni[cand][None, :] - 2 * _exact_int_gemm(
                mat[rows], mi[cand]
            )
            take = min(p, len(cand))
            width = max(width, take)
            if take == 1 and margin is None:
                nxt[rows, 0] = cand[sub.argmin(axis=1)]
            else:
                order = _take(
                    sub, take, xn[rows] if margin is not None else None
                )
                nxt[rows, :order.shape[1]] = np.where(
                    order >= 0, cand[np.maximum(order, 0)], -1
                )
        cur = nxt[:, : max(width, 1)]
    leaf_cells = levels[-1][0]
    out = np.where(cur >= 0, leaf_cells[np.maximum(cur, 0)], -1)
    return out


def _pivot_hash_col():
    """Portable deterministic pivot-sampling key: md5 of the cell id —
    the same cross-engine idiom as the MinHash oracles (dedup.py), so
    a DuckDB oracle can restate pivot selection verbatim
    (``md5('pv|' || CAST(cell AS VARCHAR))``). Replaces the r09 Spark
    ``hash()`` ordering, which had no DuckDB equivalent and forced the
    greedy catalog entry to a rows-only check (VERDICT r09 Next #3)."""
    return F.md5(F.concat(F.lit("pv|"), F.col("cell").cast("string")))


def greedy_assign(
    v: DataFrame,
    cent_df: DataFrame,
    n_cells: int,
    n_rows: int | None = None,
    nprobe: int = 1,
    probe_margin: float | None = None,
    group_spill: float | None = None,
    spill_cap: int = 8,
) -> DataFrame:
    """Deterministic d-level GREEDY nearest-centroid descent:
    vector → nearest of n_1 = ⌈C^(1/d)⌉ level-1 pivots → nearest
    level-2 pivot within that pivot's group → … → nearest centroid
    within the leaf pivot's group. Per-vector work is ~d·C^(1/d) dot
    products — linear-in-N total at cells ∝ N for any C, where the
    r09 two-level spelling's N·√C coarse term went N^1.5 (measured at
    sf1000: 41 µs/vec vs 18 at sf100; VERDICT r09 Next #1). All
    scoring is int64 GEMM; ties break to the lowest pivot id at every
    level and the lowest cell id at the leaf, so re-runs are
    bit-stable. Depth d comes from :func:`_descent_level_sizes`
    (d = 2 for every certified SF — the floor C = 16 never descends).

    ``nprobe`` (VERDICT r09 Next #4): keep the best ``nprobe`` pivots
    at every level instead of 1 — per-vector work scales ~nprobe·d·
    C^(1/d), recall approaches the exact argmin, and the final
    :func:`_score_groups` min_by already folds the multi-group
    winners exactly. Centroid GROUPING always routes nprobe=1 (the
    grouping is a partition of the cells); only the vector probe fans
    out.

    ``probe_margin`` (adaptive multiprobe, VERDICT r10 Next #6): with
    a float m, ``nprobe`` becomes a width CAP and a pivot is probed
    only when its true squared distance is within (1+m)× of the
    level's best. Fixed nprobe=16 pays 16 cell-groups for EVERY
    vector; the recall it buys lives only on boundary vectors, so the
    margin spends the extra groups exactly there — the uniform-
    geometry census reaches the same recall at a fraction of the
    wall (SCALE.md r11 census). None = fixed top-nprobe (certified).

    ``group_spill`` (cell-side multi-assignment, SOAR-style): a CELL
    joins every pivot group within (1+m)× of its best — so even an
    nprobe=1 vector sees neighboring groups' boundary cells. The
    complementary recall lever to the vector-side knobs: no
    per-vector fan-out, no fold; cost = duplicated boundary cells in
    the group tables (group sizes grow by the spill factor). The
    grouping stops being a partition, which is fine: a vector may
    score a spilled cell through two groups and min_by folds the
    duplicate (score, cell) rows exactly. Centroid-GROUPING for the
    Lloyd update is unaffected — spill only widens what the final
    argmin sees. Spill membership is width-capped at ``spill_cap``
    (default 8) groups per cell per level (ADVICE r11: the cap used
    to be silent) — for ladders whose per-level fan-in exceeds the
    cap a wide spill margin silently saturates at spill_cap groups;
    raise it explicitly for large-C censuses that assume uncapped
    spill. The DuckDB oracle restates the same cap.

    This is the pipeline's cells ∝ N operating point (pairs with
    :func:`ivf_cells_capped`). It is NOT exact nearest-centroid — a
    vector whose true nearest cell lives under a different pivot
    lands in a neighboring cell instead; the same trade every
    IVF/nprobe system makes, and multiprobe buys the gap back at a
    measured price (SCALE.md greedy-recall census).

    BALANCED pivots, not k-center: greedy routing sends each vector
    to ONE pivot's whole subtree, so pivot-region sizes are the work
    profile. k-center picks extreme points — after a Lloyd step
    collapses uniform-data centroids toward the mean, 44% of all
    centroids landed under one k-center pivot at sf100 (measured),
    turning the N·√C fine stage back into ~N·C. A deterministic
    hash-ordered sample is a uniform draw from the centroid
    distribution itself: its nearest-pivot regions carry ~equal
    measure on ANY geometry. Exactness is not at stake — pivots only
    steer the descent. The hash order also gives the levels a
    PREFIX property — P_1 ⊂ P_2 ⊂ … are prefixes of one ordering —
    so one bounded collect serves every level.

    Stage shapes: ≤ C^((d-1)/d) pivot rows ride the task closure
    (KB/MB — capped loudly at ``_DESCENT_MAX_PIVOT_ROWS``); centroid
    grouping is one mapInPandas over the C-row centroid table; the
    fine stage is a salted cogroup + min_by (:func:`_score_groups`).
    No O(C) broadcast, no window sort."""
    import numpy as np
    import pandas as pd

    sizes = _descent_level_sizes(n_cells)
    if sizes[-1] > _DESCENT_MAX_PIVOT_ROWS:
        # C > cap² (~6.9×10¹⁰ cells): no closure-sized ladder exists,
        # and no stated corpus comes near it
        raise ValueError(
            f"greedy_assign: C = {n_cells} cells needs a {sizes[-1]}-row "
            f"pivot level, past the closure cap of "
            f"{_DESCENT_MAX_PIVOT_ROWS} rows"
        )
    pivot_rows = (
        cent_df.orderBy(_pivot_hash_col(), "cell")
        .limit(sizes[-1])
        .select("cell", "c", "cn")
        .collect()
    )
    spark = v.sparkSession
    if not pivot_rows:  # empty centroids: empty assignment
        return spark.createDataFrame([], "vec_id long, cell long")

    levels, children = _build_closure_levels(pivot_rows, sizes)

    def _descend(mat: "np.ndarray", p: int, m=None) -> "np.ndarray":
        return _closure_descend(levels, children, mat, p, m)

    def group_cents(batches):
        cap = spill_cap if group_spill is not None else 1
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.stack(pdf["c"].to_numpy()).astype(np.int64, copy=False)
            gs = _descend(cm, cap, group_spill)
            reps = (gs >= 0).sum(axis=1)
            idx = np.repeat(np.arange(len(pdf)), reps)
            yield pd.DataFrame(
                {
                    "g": gs[gs >= 0],
                    "cell": pdf["cell"].to_numpy(dtype=np.int64)[idx],
                    "c": pdf["c"].to_numpy()[idx],
                    "cn": pdf["cn"].to_numpy(dtype=np.int64)[idx],
                }
            )

    def probe_vecs(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.stack(pdf["vi"].to_numpy()).astype(np.int64, copy=False)
            gs = _descend(vm, nprobe, probe_margin)
            reps = (gs >= 0).sum(axis=1)
            idx = np.repeat(np.arange(len(pdf)), reps)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64)[idx],
                    "vi": pdf["vi"].to_numpy()[idx],
                    "g": gs[gs >= 0],
                }
            )

    cent_side = cent_df.select("cell", "c", "cn").mapInPandas(
        group_cents, "g long, cell long, c array<long>, cn long"
    )
    cand = v.select("vec_id", "vi").mapInPandas(
        probe_vecs, "vec_id long, vi array<long>, g long"
    )
    return _score_groups(cand, cent_side, _salt_count(v, n_rows))


# Sub-split id space: capped-cell ids are cell * 2^20 + sub, so cells
# up to 2^43 and splits up to 2^20 never collide in a long.
_SPLIT_BASE = 1 << 20


def _cap_cell_occupancy(b: DataFrame, cap: int) -> DataFrame:
    """Deterministically split any cell holding more than ``cap``
    vectors into ⌈occ/cap⌉ hash subcells (cell ids remapped to
    cell·2^20 + sub).

    Within-cell dominance work is occ² — unbounded when the quantizer
    concentrates (measured: greedy cells at sf10 average 128 but p99
    = 1143, max 1496; Σ occ² grows super-linearly with the corpus
    even at fixed average occupancy). The cap bounds the worst cell's
    GEMM at ~cap² and total dominance work at ~N·cap (hash subcells
    are even in expectation; the worst subcell exceeds cap only by
    the hash's O(√(cap·log k)) fluctuation) — the price is
    that near-dups split across subcells stop meeting, the same
    recall-for-boundedness trade every LSH band makes, and exactly
    the "budget-bounded cluster" production SemDeDup runs. Hash
    splitting is deterministic (re-runs bit-stable); cells at or
    under the cap keep their original ids and results."""
    occ = b.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    splits = occ.select(
        "cell",
        F.greatest(
            F.lit(1), F.ceil(F.col("_n") / F.lit(cap))
        ).cast("long").alias("_k"),
    )
    return (
        b.join(splits, "cell")  # C-row side: AQE broadcasts it
        .withColumn(
            "_dcell",
            F.when(F.col("_k") > 1,
                   F.col("cell") * _SPLIT_BASE
                   + F.pmod(F.hash("vec_id"), F.col("_k")))
            .otherwise(F.col("cell")),
        )
        .drop("_k")
    )


def _lloyd_centroids(v: DataFrame, a: DataFrame) -> DataFrame:
    """Exact integer Lloyd centroid update: (cell, c array<long>) with
    c[i] = sum(vi[i]) div count per cell.

    Spelling note (optimization r12): an alternative "dim per-element
    sum columns in one aggregate" spelling — first-principles fewer
    shuffled bytes (C·(dim+1) partials vs dim·N exploded rows) — was
    built and MEASURED SLOWER at both operating points: +0.4 s per ivf
    entry at sf0.1 (fixed plan/codegen price of 64 aggregate columns)
    and 2-3× the stage wall at sf30/600k vectors (31-40 s vs 12-17 s;
    identical victims), so it was reverted (guide §1.1: the "ideal"
    plan lost to the gotcha — wide multi-aggregate rows evaluate far
    worse than Spark's columnar explode+narrow-agg path)."""
    dims = (
        v.join(a, "vec_id")
        .select("cell", F.posexplode("vi").alias("i", "x"))
        .groupBy("cell", "i")
        .agg(F.expr("sum(x) div count(*)").alias("cd"))
    )
    return dims.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "cd"))),
            lambda s: s["cd"],
        ).alias("c")
    )


def semdedup_ivf_core(
    v: DataFrame,
    n_cells: int | Callable[[int], int],
    assign: str = "exact",
    occupancy_cap: int | None = None,
    nprobe: int = 1,
    probe_margin: float | None = None,
    group_spill: float | None = None,
    spill_cap: int = 8,
) -> DataFrame:
    """The reusable trained-cell SemDeDup pipeline: seed → assign →
    exact integer Lloyd update → re-assign → per-cell GEMM dominance.
    ``v`` must carry (vec_id, v array<double>, vi array<long>);
    returns (vec_id, cell, keep, removed_by). The catalog entry wraps
    this on the test embeddings; the end-to-end pipeline probe
    (tools/pipeline_e2e.py) chains it between near-dup removal and
    shard packing on the full corpus.

    ``n_cells`` may be an int or a callable ``n_rows -> int`` (e.g.
    :func:`ivf_cells_capped` itself): the callable is evaluated on the
    core's own checkpointed count, so cells ∝ N callers don't pay a
    separate pre-checkpoint corpus scan just to size C.

    ``assign``: "exact" (the certified path — :func:`flat_assign`,
    true nearest-centroid at N·C work) or "greedy" (the
    cells ∝ N operating point — :func:`greedy_assign`, d-level
    descent, ~d·C^(1/d) work per vector, deterministic but
    approximate; pair with :func:`ivf_cells_capped`).

    ``nprobe`` (greedy only): probe the best ``nprobe`` pivots per
    descent level — the recall middle point between nprobe=1 and the
    exact argmin (VERDICT r09 Next #4). The certified catalog entry
    pins nprobe=1. ``probe_margin`` makes nprobe a width cap and
    probes only pivots within (1+m)× of the best true distance —
    boundary-adaptive recall at near-np1 average cost (see
    :func:`greedy_assign`).

    ``occupancy_cap``: when set, cells holding more vectors are hash
    sub-split before dominance (:func:`_cap_cell_occupancy`), bounding
    total pair work at N·cap regardless of quantizer skew. None (the
    certified default) leaves cells whole."""
    if assign not in ("exact", "greedy"):
        raise ValueError(f"assign must be 'exact' or 'greedy', got {assign!r}")
    # ‖x‖² once per vector: the seeds' centroid norms, checkpointed
    # with the rest of the frame
    v = v.withColumn("xn", _int_dot(F.col("vi"), F.col("vi")))
    v = materialize(v)  # reused by 4 downstream stages
    n_rows = v.count()  # checkpointed: a metadata-cheap count
    if callable(n_cells):
        # cells ∝ N callers pass the sizing RULE, not a pre-computed
        # count: counting the un-checkpointed input first cost one full
        # extra corpus scan per run (optimization r13, guide §1.2 "don't
        # compute things you throw away") — the checkpointed count above
        # is the one N the whole pipeline needs.
        n_cells = n_cells(n_rows)

    # seeds = the C lowest vec_ids PRESENT (ADVICE r08: `vec_id <
    # n_cells` assumed dense 0..N-1 ids; the pipeline feeds SURVIVOR
    # ids, which are sparse — the old predicate silently under-seeded,
    # and with zero surviving low ids the whole stage no-opped).
    # Identical to `vec_id < n_cells` on dense ids, so the certified
    # sf0.01 hash is unchanged. Top-k by id, not a global sort; the
    # limit() routes ~C rows through one task, fine to C ~ 10⁶ — at
    # extreme C (100 TB, C ~ 10⁸) swap in a map-side hash filter
    # (where(pmod(hash(vec_id), N div C) == 0)): any C vectors are
    # valid seeds, only the certified entry pins WHICH.
    seeds = (
        v.orderBy("vec_id")
        .limit(n_cells)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("vi").alias("c"),
            F.col("xn").alias("cn"),
        )
    )
    if n_rows < n_cells:
        import warnings

        warnings.warn(
            f"semdedup_ivf_core: corpus has {n_rows} vectors < "
            f"{n_cells} requested cells; seeding {n_rows} cells",
            stacklevel=2,
        )

    def assign_fn(cent: DataFrame) -> DataFrame:
        if assign == "exact":
            return flat_assign(v, cent)
        return greedy_assign(
            v, cent, n_cells, n_rows=n_rows, nprobe=nprobe,
            probe_margin=probe_margin, group_spill=group_spill,
            spill_cap=spill_cap,
        )

    a0 = assign_fn(seeds)

    cents = _lloyd_centroids(v, a0)
    cents = cents.withColumn("cn", _int_dot(F.col("c"), F.col("c")))
    # the updated centroids are read more than once (the greedy
    # pivot collect + grouping); pin them so the Lloyd lineage isn't
    # re-run
    cents = materialize(cents)

    a1 = assign_fn(cents)

    b = v.join(a1, "vec_id").select("vec_id", "cell", "v")
    # dominance runs on the occupancy-capped key (_dcell); the
    # REPORTED cell stays the quantizer's (sub-split ids are an
    # internal bound, and they would overflow the int cell column)
    dom_col = "cell"
    if occupancy_cap is not None:
        b = _cap_cell_occupancy(b, occupancy_cap)
        dom_col = "_dcell"
    b = materialize(b)
    dom = dominance_pairs(b, dom_col, SEMDEDUP_TAU)
    return b.join(dom, F.col("vec_id") == F.col("victim"), "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.col("victim").isNull().cast("int").alias("keep"),
        "removed_by",
    )

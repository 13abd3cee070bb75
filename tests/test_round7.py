"""Trained-cell SemDeDup: the exact (flat) and greedy centroid
assignments, the Lloyd update and the core."""

from __future__ import annotations

from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.dedup.semdedup import (
    _int_dot,
    flat_assign,
    ivf_cells_for,
    quantized_vectors,
)
from oroboro_dw_dbt_spark.operators.semdedup_suite import dd_semdedup_ivf
from oroboro_dw_dbt_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _quantized(spark, sf_dir):
    return quantized_vectors(load_table(spark, sf_dir, "embeddings")).withColumn(
        "xn", _int_dot(F.col("vi"), F.col("vi"))
    )


def _flat_assign(v, cents):
    """The reference spelling: broadcast EVERY centroid, exact BIGINT
    (score, cell) argmin in Catalyst — the spelling flat_assign's
    GEMM kernel must match bit-for-bit. One copy, used by every parity
    test."""
    return {
        r["vec_id"]: r["cell"]
        for r in v.crossJoin(
            F.broadcast(
                cents.select(
                    "cell",
                    F.col("c").alias("si"),
                    F.col("cn").alias("sn"),
                )
            )
        )
        .select(
            "vec_id",
            "cell",
            (F.col("sn") - 2 * _int_dot(F.col("vi"), F.col("si"))).alias(
                "score"
            ),
        )
        .groupBy("vec_id")
        .agg(F.min_by("cell", F.struct("score", "cell")).alias("cell"))
        .collect()
    }


class TestHierAssignRandomized:
    def _check(self, spark, vi, ci):
        import numpy as np

        n, n_cells = len(vi), len(ci)
        v = spark.createDataFrame(
            [
                (int(i), [int(x) for x in vi[i]], int((vi[i] * vi[i]).sum()))
                for i in range(n)
            ],
            "vec_id long, vi array<long>, xn long",
        ).localCheckpoint(eager=True)
        cents = spark.createDataFrame(
            [
                (int(i), [int(x) for x in ci[i]], int((ci[i] * ci[i]).sum()))
                for i in range(n_cells)
            ],
            "cell long, c array<long>, cn long",
        ).localCheckpoint(eager=True)
        # ground truth in numpy: exact integer scores, lowest-id ties
        scores = (ci * ci).sum(axis=1)[None, :] - 2 * (vi @ ci.T)
        expect = {i: int(scores[i].argmin()) for i in range(n)}
        got = {r["vec_id"]: r["cell"] for r in flat_assign(v, cents).collect()}
        assert got == _flat_assign(v, cents) == expect

    def test_seeded_geometries(self, spark):
        """flat_assign's exactness across adversarial geometries:
        uniform, duplicated centroids (argmin ties everywhere), and a
        lattice corpus (many exact score ties at cell boundaries).
        Ground truth is the SQL reference and an independent numpy
        argmin with first-index tie-break."""
        import numpy as np

        for seed in (1, 2, 3):
            rng = np.random.default_rng(seed)
            dim, n_cells, n = 8, 24, 150
            # uniform
            vi = rng.integers(-(10**6), 10**6, (n, dim)).astype(np.int64)
            ci = rng.integers(-(10**6), 10**6, (n_cells, dim)).astype(
                np.int64
            )
            self._check(spark, vi, ci)
        # duplicated centroids: every cell appears twice → ties on
        # every assignment, must resolve to the LOWER cell id
        rng = np.random.default_rng(9)
        base = rng.integers(-(10**5), 10**5, (12, 8)).astype(np.int64)
        ci = np.vstack([base, base])
        vi = rng.integers(-(10**5), 10**5, (80, 8)).astype(np.int64)
        self._check(spark, vi, ci)
        # lattice: points exactly mid-way between centroid pairs →
        # exact integer score ties at boundaries
        ci = (np.arange(16)[:, None] * np.ones(8, dtype=np.int64) * 1000).astype(
            np.int64
        )
        vi = (
            np.arange(0, 16000, 500)[:, None]
            * np.ones(8, dtype=np.int64)
        ).astype(np.int64)
        self._check(spark, vi, ci)


class TestAssignDispatch:
    """The exact path's map-side plan and its row tiling, and the
    salted cogroup (ADVICE r08), must all be invisible in the
    results."""

    def _frames(self, spark, seed=11, n=200, n_cells=24, dim=8):
        import numpy as np

        rng = np.random.default_rng(seed)
        vi = rng.integers(-(10**6), 10**6, (n, dim)).astype(np.int64)
        ci = rng.integers(-(10**6), 10**6, (n_cells, dim)).astype(np.int64)
        v = spark.createDataFrame(
            [
                (int(i), [int(x) for x in vi[i]], int((vi[i] * vi[i]).sum()))
                for i in range(n)
            ],
            "vec_id long, vi array<long>, xn long",
        ).localCheckpoint(eager=True)
        cents = spark.createDataFrame(
            [
                (int(i), [int(x) for x in ci[i]], int((ci[i] * ci[i]).sum()))
                for i in range(n_cells)
            ],
            "cell long, c array<long>, cn long",
        ).localCheckpoint(eager=True)
        scores = (ci * ci).sum(axis=1)[None, :] - 2 * (vi @ ci.T)
        expect = {i: int(scores[i].argmin()) for i in range(n)}
        return v, cents, expect

    def test_assign_cells_dispatches_flat_without_shuffle(self, spark):
        """The exact assignment's plan contains no exchange at all (the
        whole assignment is map-side)."""
        v, cents, expect = self._frames(spark)
        out = flat_assign(v, cents)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert {r["vec_id"]: r["cell"] for r in out.collect()} == expect

    def test_flat_assign_tiles_rows_exactly(self, spark, monkeypatch):
        """At C = 300 (past the 256 cells where the exact path once
        switched to a hierarchical probe) with a tile budget that
        splits the one 1000-row batch into 4 row tiles, flat_assign
        still equals the numpy argmin, lowest cell id on the duplicated
        centroids' ties."""
        import numpy as np

        from oroboro_dw_dbt_spark.dedup import semdedup as sd

        rng = np.random.default_rng(17)
        base = rng.integers(-(10**6), 10**6, (150, 8)).astype(np.int64)
        ci = np.vstack([base, base])  # C = 300, every score tied twice
        vi = rng.integers(-(10**6), 10**6, (1000, 8)).astype(np.int64)
        v = spark.createDataFrame(
            [(i, [int(x) for x in vi[i]]) for i in range(len(vi))],
            "vec_id long, vi array<long>",
        ).coalesce(1)
        cents = spark.createDataFrame(
            [
                (i, [int(x) for x in ci[i]], int((ci[i] * ci[i]).sum()))
                for i in range(len(ci))
            ],
            "cell long, c array<long>, cn long",
        )
        monkeypatch.setattr(sd, "_TILE_ELEMS", 1)  # tile = 256-row floor
        out = flat_assign(v, cents)
        scores = (ci * ci).sum(axis=1)[None, :] - 2 * (vi @ ci.T)
        expect = {i: int(scores[i].argmin()) for i in range(len(vi))}
        assert v.rdd.getNumPartitions() == 1 and len(vi) > 3 * 256
        assert {r["vec_id"]: r["cell"] for r in out.collect()} == expect
        assert max(expect.values()) < 150  # ties broke to the low copy

    def test_salted_cogroup_equals_unsalted(self, spark):
        """greedy_assign, the salted cogroup's caller, with many salts
        (n_rows forces S > 1) must equal its unsalted (S = 1) run:
        subgroup minima of a min are the min, and (score, cell)
        ordering keeps the lowest-id ties."""
        from oroboro_dw_dbt_spark.dedup import semdedup as sd
        from oroboro_dw_dbt_spark.dedup.semdedup import greedy_assign

        v, cents, _ = self._frames(spark, seed=13)
        unsalted = {
            r["vec_id"]: r["cell"] for r in greedy_assign(v, cents, 24).collect()
        }
        orig = sd._SALT_TARGET_ROWS
        sd._SALT_TARGET_ROWS = 16  # 200 rows → S = 13
        try:
            salted = {
                r["vec_id"]: r["cell"]
                for r in greedy_assign(v, cents, 24, n_rows=200).collect()
            }
        finally:
            sd._SALT_TARGET_ROWS = orig
        assert salted == unsalted and len(salted) == 200


class TestGreedyAssign:
    """The cells ∝ N operating point's nprobe=1 descent: approximate
    by design, but deterministic, a total assignment, and EQUAL to the
    exact argmin whenever geometry is hierarchically clustered (the
    case the two-level quantizer exists for)."""

    def _clustered(self, spark, seed=7, g_true=8, fine_per=8, dim=16, n=600):
        import numpy as np

        rng = np.random.default_rng(seed)
        n_cells = g_true * fine_per
        supers = rng.uniform(-5.0, 5.0, (g_true, dim))
        fines = (
            supers[:, None, :] + rng.normal(0.0, 0.01, (g_true, fine_per, dim))
        ).reshape(n_cells, dim)
        pts = fines[rng.integers(0, n_cells, n)] + rng.normal(
            0.0, 0.005, (n, dim)
        )
        vi = np.floor(pts * 1_000_000).astype(np.int64)
        ci = np.floor(fines * 1_000_000).astype(np.int64)
        v = spark.createDataFrame(
            [
                (int(i), [int(x) for x in vi[i]], int((vi[i] * vi[i]).sum()))
                for i in range(n)
            ],
            "vec_id long, vi array<long>, xn long",
        ).localCheckpoint(eager=True)
        cents = spark.createDataFrame(
            [
                (int(i), [int(x) for x in ci[i]], int((ci[i] * ci[i]).sum()))
                for i in range(n_cells)
            ],
            "cell long, c array<long>, cn long",
        ).localCheckpoint(eager=True)
        return v, cents, n_cells, vi, ci

    def test_matches_exact_on_clustered_geometry(self, spark):
        """nprobe=1 is approximate by contract; on hierarchically
        clustered geometry it must still agree with the exact argmin
        on the overwhelming majority of vectors (the balanced
        hash-sample pivots can place two pivots in one super-cluster,
        so a small boundary fraction may land in a neighboring cell —
        the recall trade the docstring owns)."""
        from oroboro_dw_dbt_spark.dedup.semdedup import greedy_assign

        v, cents, n_cells, vi, ci = self._clustered(spark)

        scores = (ci * ci).sum(axis=1)[None, :] - 2 * (vi @ ci.T)
        expect = {i: int(scores[i].argmin()) for i in range(len(vi))}
        got = {
            r["vec_id"]: r["cell"]
            for r in greedy_assign(v, cents, n_cells, n_rows=600).collect()
        }
        assert set(got) == set(expect)
        agree = sum(got[i] == expect[i] for i in expect) / len(expect)
        assert agree >= 0.93, agree

    def test_total_and_deterministic_on_uniform(self, spark):
        """On concentration-prone uniform geometry the greedy descent
        may differ from exact, but it must still assign EVERY vector
        exactly once to a real cell, identically across re-runs."""
        import numpy as np

        from oroboro_dw_dbt_spark.dedup.semdedup import greedy_assign

        rng = np.random.default_rng(3)
        n, n_cells, dim = 300, 40, 8
        vi = rng.integers(-(10**6), 10**6, (n, dim)).astype(np.int64)
        ci = rng.integers(-(10**6), 10**6, (n_cells, dim)).astype(np.int64)
        v = spark.createDataFrame(
            [
                (int(i), [int(x) for x in vi[i]], int((vi[i] * vi[i]).sum()))
                for i in range(n)
            ],
            "vec_id long, vi array<long>, xn long",
        ).localCheckpoint(eager=True)
        cents = spark.createDataFrame(
            [
                (int(i), [int(x) for x in ci[i]], int((ci[i] * ci[i]).sum()))
                for i in range(n_cells)
            ],
            "cell long, c array<long>, cn long",
        ).localCheckpoint(eager=True)
        a = {r["vec_id"]: r["cell"] for r in greedy_assign(v, cents, n_cells).collect()}
        b = {r["vec_id"]: r["cell"] for r in greedy_assign(v, cents, n_cells).collect()}
        assert a == b
        assert set(a) == set(range(n))  # total: every vector, once
        assert set(a.values()) <= set(range(n_cells))

    def test_capped_cells_scale_linearly(self):
        from oroboro_dw_dbt_spark.dedup.semdedup import (
            IVF_CELLS,
            ivf_cells_capped,
        )

        assert ivf_cells_capped(500) == IVF_CELLS  # sf0.01 stays floored
        assert ivf_cells_capped(1_280_000, 128) == 10_000
        assert ivf_cells_capped(2_560_000, 128) == 20_000  # cells ∝ N

    def test_occupancy_cap_bounds_and_stays_deterministic(self, spark):
        """The capped dominance key must (a) never hold more than cap
        (b) leave under-cap cells untouched, (c) make
        victims a SUBSET of the uncapped run (splitting only removes
        comparisons), bit-stable across re-runs."""
        from pyspark.sql import functions as F

        from oroboro_dw_dbt_spark.dedup.semdedup import (
            _cap_cell_occupancy,
            semdedup_ivf_core,
        )

        v = _quantized(spark, SF).localCheckpoint(eager=True)
        n_cells = ivf_cells_for(v.count())
        uncapped = semdedup_ivf_core(v, n_cells, assign="greedy")
        capped = semdedup_ivf_core(
            v, n_cells, assign="greedy", occupancy_cap=8
        )
        vic_u = {r["vec_id"] for r in uncapped.where("keep = 0").collect()}
        vic_c = {r["vec_id"] for r in capped.where("keep = 0").collect()}
        assert vic_c <= vic_u
        capped2 = semdedup_ivf_core(
            v, n_cells, assign="greedy", occupancy_cap=8
        )
        assert {(r["vec_id"], r["keep"]) for r in capped.collect()} == {
            (r["vec_id"], r["keep"]) for r in capped2.collect()
        }
        # direct key-budget check on the splitter
        b = spark.createDataFrame(
            [(i, i % 3, [0.0]) for i in range(100)],
            "vec_id long, cell long, v array<double>",
        )
        out = _cap_cell_occupancy(b, 10)
        mx = out.groupBy("_dcell").count().agg(F.max("count")).collect()[0][0]
        assert mx <= 20  # ~cap: hash subcells are even in expectation
        # under-cap cells keep their original key
        small = spark.createDataFrame(
            [(i, 7, [0.0]) for i in range(5)],
            "vec_id long, cell long, v array<double>",
        )
        assert {
            r["_dcell"] for r in _cap_cell_occupancy(small, 10).collect()
        } == {7}

    def test_level_sizes_floor_and_backoff(self):
        """The depth rule: d = 2 across every certified SF (the floor
        C = 16 never descends), d = 3 exactly past the fan-in budget,
        and the closure cap backs depth off instead of shipping a GB
        closure (the 100 TB design point C = 8e7 lands on d = 3)."""
        from oroboro_dw_dbt_spark.dedup.semdedup import (
            _DESCENT_FANIN,
            _descent_level_sizes,
        )

        assert _descent_level_sizes(16) == [4]  # the certified gate
        assert _descent_level_sizes(46_875) == [217]  # sf300: still d=2
        two = _descent_level_sizes(_DESCENT_FANIN**2)
        assert len(two) == 1  # boundary inclusive: d=2
        three = _descent_level_sizes(_DESCENT_FANIN**2 + 1)
        assert len(three) == 2  # first C past the fan-in budget: d=3
        hundred_tb = _descent_level_sizes(80_000_000)
        assert len(hundred_tb) == 2  # d=4's 846k closure backed off
        assert hundred_tb[-1] <= 262_144

    def test_past_closure_cap_raises(self, spark, monkeypatch):
        """When even d = 2's √C exceeds the closure cap there is no
        ladder to ship: greedy_assign must fail loudly, naming C and
        the cap, instead of silently taking another path."""
        import pytest

        from oroboro_dw_dbt_spark.dedup import semdedup as sd

        monkeypatch.setattr(sd, "_DESCENT_MAX_PIVOT_ROWS", 40)
        v = spark.createDataFrame([], "vec_id long, vi array<long>, xn long")
        cents = spark.createDataFrame([], "cell long, c array<long>, cn long")
        with pytest.raises(ValueError, match=r"C = 3000 .* 40 rows"):
            sd.greedy_assign(v, cents, 3000)

    def test_d3_total_deterministic_and_accurate_on_clustered(
        self, spark, monkeypatch
    ):
        """VERDICT r09 Next #1 done-bar: the descent's exactness-style
        pins extended to d = 3. Forcing depth 3 on the clustered
        fixture (fan-in budget 4 → sizes [4, 16] at C = 64) must keep
        the assignment total, bit-stable across re-runs, and in high
        agreement with the exact argmin — the same contract the d = 2
        path carries."""
        from oroboro_dw_dbt_spark.dedup import semdedup as sd

        monkeypatch.setattr(sd, "_DESCENT_FANIN", 4)
        v, cents, n_cells, vi, ci = self._clustered(spark)
        assert len(sd._descent_level_sizes(n_cells)) == 2  # d = 3
        scores = (ci * ci).sum(axis=1)[None, :] - 2 * (vi @ ci.T)
        expect = {i: int(scores[i].argmin()) for i in range(len(vi))}
        a = {
            r["vec_id"]: r["cell"]
            for r in sd.greedy_assign(v, cents, n_cells, n_rows=600).collect()
        }
        b = {
            r["vec_id"]: r["cell"]
            for r in sd.greedy_assign(v, cents, n_cells, n_rows=600).collect()
        }
        assert a == b  # bit-stable
        assert set(a) == set(expect)  # total
        assert set(a.values()) <= set(int(c) for c in range(n_cells))
        agree = sum(a[i] == expect[i] for i in expect) / len(expect)
        assert agree >= 0.90, agree

    def test_multiprobe_scores_improve_pointwise(self, spark):
        """nprobe = 2 must be POINTWISE at least as good as nprobe = 1:
        every vector's assigned-centroid distance can only shrink when
        the descent keeps more pivots (a superset of leaf groups is
        scored). Uniform geometry — the case nprobe exists for."""
        import numpy as np

        from oroboro_dw_dbt_spark.dedup.semdedup import greedy_assign

        rng = np.random.default_rng(11)
        n, n_cells, dim = 400, 48, 8
        vi = rng.integers(-(10**6), 10**6, (n, dim)).astype(np.int64)
        ci = rng.integers(-(10**6), 10**6, (n_cells, dim)).astype(np.int64)
        v = spark.createDataFrame(
            [
                (int(i), [int(x) for x in vi[i]], int((vi[i] * vi[i]).sum()))
                for i in range(n)
            ],
            "vec_id long, vi array<long>, xn long",
        ).localCheckpoint(eager=True)
        cents = spark.createDataFrame(
            [
                (int(i), [int(x) for x in ci[i]], int((ci[i] * ci[i]).sum()))
                for i in range(n_cells)
            ],
            "cell long, c array<long>, cn long",
        ).localCheckpoint(eager=True)

        def dist(cell_map):
            cn = (ci * ci).sum(axis=1)
            return {
                i: int(cn[c] - 2 * (vi[i] @ ci[c]))
                for i, c in cell_map.items()
            }

        one = dist({
            r["vec_id"]: r["cell"]
            for r in greedy_assign(v, cents, n_cells, nprobe=1).collect()
        })
        two = dist({
            r["vec_id"]: r["cell"]
            for r in greedy_assign(v, cents, n_cells, nprobe=2).collect()
        })
        assert set(one) == set(two) == set(range(n))  # both total
        assert all(two[i] <= one[i] for i in one)

    def test_saturated_nprobe_equals_exact_argmin(self, spark):
        """With nprobe ≥ every level's width the descent scores every
        cell, so the 'approximate' path must collapse to the exact
        flat argmin — lowest-id ties included — even on uniform
        geometry where nprobe = 1 genuinely disagrees."""
        import numpy as np

        from oroboro_dw_dbt_spark.dedup.semdedup import greedy_assign

        rng = np.random.default_rng(23)
        n, n_cells, dim = 300, 40, 8
        vi = rng.integers(-(10**6), 10**6, (n, dim)).astype(np.int64)
        ci = rng.integers(-(10**6), 10**6, (n_cells, dim)).astype(np.int64)
        v = spark.createDataFrame(
            [
                (int(i), [int(x) for x in vi[i]], int((vi[i] * vi[i]).sum()))
                for i in range(n)
            ],
            "vec_id long, vi array<long>, xn long",
        ).localCheckpoint(eager=True)
        cents = spark.createDataFrame(
            [
                (int(i), [int(x) for x in ci[i]], int((ci[i] * ci[i]).sum()))
                for i in range(n_cells)
            ],
            "cell long, c array<long>, cn long",
        ).localCheckpoint(eager=True)
        scores = (ci * ci).sum(axis=1)[None, :] - 2 * (vi @ ci.T)
        expect = {i: int(scores[i].argmin()) for i in range(n)}
        got = {
            r["vec_id"]: r["cell"]
            for r in greedy_assign(v, cents, n_cells, nprobe=n_cells).collect()
        }
        assert got == expect
        one = {
            r["vec_id"]: r["cell"]
            for r in greedy_assign(v, cents, n_cells, nprobe=1).collect()
        }
        assert one != expect  # uniform geometry: nprobe=1 really trades

    def test_adaptive_margin_pointwise_and_saturates(self, spark):
        """probe_margin (VERDICT r10 Next #6): (a) any margin is
        POINTWISE at least as good as nprobe=1 (the probed groups are
        a superset containing the best-first group); (b) a saturating
        margin with cap ≥ every width collapses to the exact flat
        argmin, lowest-id ties included; (c) margin probing is
        deterministic across re-runs."""
        import numpy as np

        from oroboro_dw_dbt_spark.dedup.semdedup import greedy_assign

        rng = np.random.default_rng(31)
        n, n_cells, dim = 300, 48, 8
        vi = rng.integers(-(10**6), 10**6, (n, dim)).astype(np.int64)
        ci = rng.integers(-(10**6), 10**6, (n_cells, dim)).astype(np.int64)
        v = spark.createDataFrame(
            [
                (int(i), [int(x) for x in vi[i]], int((vi[i] * vi[i]).sum()))
                for i in range(n)
            ],
            "vec_id long, vi array<long>, xn long",
        ).localCheckpoint(eager=True)
        cents = spark.createDataFrame(
            [
                (int(i), [int(x) for x in ci[i]], int((ci[i] * ci[i]).sum()))
                for i in range(n_cells)
            ],
            "cell long, c array<long>, cn long",
        ).localCheckpoint(eager=True)
        cn = (ci * ci).sum(axis=1)

        def cells(**kw):
            return {
                r["vec_id"]: r["cell"]
                for r in greedy_assign(v, cents, n_cells, **kw).collect()
            }

        def dist(cell_map):
            return {i: int(cn[c] - 2 * (vi[i] @ ci[c])) for i, c in cell_map.items()}

        one = dist(cells(nprobe=1))
        m = cells(nprobe=16, probe_margin=0.1)
        dm = dist(m)
        assert set(dm) == set(one) == set(range(n))  # total
        assert all(dm[i] <= one[i] for i in one)  # pointwise ≥ np1
        assert m == cells(nprobe=16, probe_margin=0.1)  # deterministic
        scores = cn[None, :] - 2 * (vi @ ci.T)
        expect = {i: int(scores[i].argmin()) for i in range(n)}
        sat = cells(nprobe=n_cells, probe_margin=1e12)
        assert sat == expect  # saturating margin = exact argmin

    def test_group_spill_pointwise_and_saturates(self, spark):
        """group_spill (cell-side multi-assignment): (a) pointwise at
        least as good as np1 — spilled groups are supersets, so the
        argmin can only improve; (b) a saturating spill (every cell in
        every one of ≤8 pivot groups) collapses np1 to the exact flat
        argmin; (c) deterministic."""
        import numpy as np

        from oroboro_dw_dbt_spark.dedup.semdedup import greedy_assign

        rng = np.random.default_rng(41)
        n, n_cells, dim = 300, 48, 8  # G = ceil(sqrt(48)) = 7 <= 8
        vi = rng.integers(-(10**6), 10**6, (n, dim)).astype(np.int64)
        ci = rng.integers(-(10**6), 10**6, (n_cells, dim)).astype(np.int64)
        v = spark.createDataFrame(
            [
                (int(i), [int(x) for x in vi[i]], int((vi[i] * vi[i]).sum()))
                for i in range(n)
            ],
            "vec_id long, vi array<long>, xn long",
        ).localCheckpoint(eager=True)
        cents = spark.createDataFrame(
            [
                (int(i), [int(x) for x in ci[i]], int((ci[i] * ci[i]).sum()))
                for i in range(n_cells)
            ],
            "cell long, c array<long>, cn long",
        ).localCheckpoint(eager=True)
        cn = (ci * ci).sum(axis=1)

        def cells(**kw):
            return {
                r["vec_id"]: r["cell"]
                for r in greedy_assign(v, cents, n_cells, **kw).collect()
            }

        def dist(m):
            return {i: int(cn[c] - 2 * (vi[i] @ ci[c])) for i, c in m.items()}

        one = dist(cells())
        sp = cells(group_spill=0.1)
        dsp = dist(sp)
        assert set(dsp) == set(one) == set(range(n))
        assert all(dsp[i] <= one[i] for i in one)
        assert sp == cells(group_spill=0.1)  # deterministic
        scores = cn[None, :] - 2 * (vi @ ci.T)
        expect = {i: int(scores[i].argmin()) for i in range(n)}
        assert cells(group_spill=1e12) == expect  # saturating spill
        # spill_cap (ADVICE r11): the width cap is explicit now —
        # cap 1 forces best-group-only membership, i.e. plain np1,
        # even under a saturating margin
        assert cells(group_spill=1e12, spill_cap=1) == cells()

    def test_greedy_oracle_text_md5_pinned(self):
        """All five greedy entries' oracles are _greedy_entry_oracle
        outputs (the r09–r11 literals were replaced by calls after
        byte-equality was pinned pre-swap), so the DRIVER-CERTIFIED
        text at each knob point is pinned by md5 here: an accidental
        edit to the helper or _greedy_assign_sql cannot silently
        rewrite a certified oracle — a hash change must be deliberate
        and re-queues every greedy entry for recertification."""
        import hashlib

        from oroboro_dw_dbt_spark.operators.catalog import QUERIES

        pins = {
            "dd_semdedup_ivf_greedy": "867dd346f5b5ca4c6229918a007dc931",
            "dd_semdedup_ivf_greedy_np2": "6ae929d9582540f6b89e06e60ae00ee7",
            "dd_semdedup_ivf_greedy_margin": "3d66486aef8c5f927e1d97a0d18d6cbd",
            "dd_semdedup_ivf_greedy_spill": "35fcec9d83601f43df356a3063063307",
            "dd_semdedup_ivf_greedy_ms": "c9706ca4d3039ffe52eb05e5ad63e229",
        }
        for name, want in pins.items():
            got = hashlib.md5(QUERIES[name].oracle.encode()).hexdigest()
            assert got == want, f"{name} certified oracle text changed"

    def test_core_greedy_keep_semantics(self, spark):
        from oroboro_dw_dbt_spark.dedup.semdedup import (
            semdedup_ivf_core,
        )

        v = _quantized(spark, SF).localCheckpoint(eager=True)
        n_cells = ivf_cells_for(v.count())
        rows = semdedup_ivf_core(v, n_cells, assign="greedy").collect()
        assert len(rows) > 0
        for r in rows:
            if r["keep"]:
                assert r["removed_by"] is None
            else:
                assert r["removed_by"] < r["vec_id"]


class TestSemDedupIvf:
    def test_keep_semantics_at_smoke_sf(self, spark):
        rows = dd_semdedup_ivf(spark, SF).collect()
        assert len(rows) > 0
        for r in rows:
            if r["keep"]:
                assert r["removed_by"] is None
            else:
                assert r["removed_by"] is not None
                assert r["removed_by"] < r["vec_id"]

    def test_sparse_ids_seed_from_present_ids(self, spark):
        """ADVICE r08: shifting every vec_id by +10_000 (no id below
        n_cells survives) must still seed C cells from the lowest ids
        PRESENT and produce the SAME clustering as the dense corpus —
        the old `vec_id < n_cells` predicate seeded nothing and the
        stage silently no-opped."""
        from oroboro_dw_dbt_spark.dedup.semdedup import (
            semdedup_ivf_core,
        )

        v = _quantized(spark, SF).localCheckpoint(eager=True)
        n_cells = ivf_cells_for(v.count())
        dense = {
            r["vec_id"]: (r["cell"], r["keep"])
            for r in semdedup_ivf_core(v, n_cells).collect()
        }
        shifted = v.withColumn("vec_id", F.col("vec_id") + F.lit(10_000))
        sparse = {
            r["vec_id"] - 10_000: (r["cell"], r["keep"])
            for r in semdedup_ivf_core(shifted, n_cells).collect()
        }
        # same keep decisions; cell labels differ only by the id shift
        assert {k: kv[1] for k, kv in sparse.items()} == {
            k: kv[1] for k, kv in dense.items()
        }
        assert len(sparse) == len(dense) > 0

    def test_callable_n_cells_matches_int_spelling(self, spark):
        """Optimization r13: the greedy builders pass ivf_cells_capped
        as a CALLABLE so the core sizes C from its own checkpointed
        count (one corpus scan, not two). Equivalence pinned: callable
        and pre-counted int spellings must agree bit-for-bit."""
        from oroboro_dw_dbt_spark.dedup.semdedup import (
            ivf_cells_capped,
            semdedup_ivf_core,
        )

        v = _quantized(spark, SF).localCheckpoint(eager=True)
        n_int = ivf_cells_capped(v.count())
        by_int = {
            (r["vec_id"], r["cell"], r["keep"], r["removed_by"])
            for r in semdedup_ivf_core(
                v, n_int, assign="greedy", occupancy_cap=8 * 128
            ).collect()
        }
        by_rule = {
            (r["vec_id"], r["cell"], r["keep"], r["removed_by"])
            for r in semdedup_ivf_core(
                v, ivf_cells_capped, assign="greedy", occupancy_cap=8 * 128
            ).collect()
        }
        assert by_rule == by_int and len(by_rule) > 0


class TestLloydCentroidUpdate:
    def test_helper_matches_posexplode_contract(self, spark):
        """_lloyd_centroids' contract, pinned: bit-identical to the
        verbatim posexplode spelling (same BIGINT sums, truncating div,
        index order) — any future re-spelling must keep this green.
        (An r12 per-element-sums spelling passed this test but measured
        2-3× slower at sf30 and was reverted; the pin stays.)"""
        from oroboro_dw_dbt_spark.dedup.semdedup import (
            _lloyd_centroids,
        )

        v = _quantized(spark, SF).localCheckpoint(eager=True)
        n_cells = ivf_cells_for(v.count())
        seeds = v.orderBy("vec_id").limit(n_cells).select(
            F.col("vec_id").alias("cell"),
            F.col("vi").alias("c"),
            F.col("xn").alias("cn"),
        )
        a0 = flat_assign(v, seeds)
        got = {
            r["cell"]: list(r["c"])
            for r in _lloyd_centroids(v, a0).collect()
        }
        # the pre-r12 spelling, verbatim
        dims = (
            v.join(a0, "vec_id")
            .select("cell", F.posexplode("vi").alias("i", "x"))
            .groupBy("cell", "i")
            .agg(F.expr("sum(x) div count(*)").alias("cd"))
        )
        want = {
            r["cell"]: list(r["c"])
            for r in dims.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "cd"))),
                    lambda s: s["cd"],
                ).alias("c")
            )
            .collect()
        }
        assert got == want and len(got) > 0

    def test_empty_input_yields_empty_centroids(self, spark):
        from oroboro_dw_dbt_spark.dedup.semdedup import (
            _lloyd_centroids,
        )

        v = _quantized(spark, SF).filter(F.lit(False))
        a = spark.createDataFrame([], "vec_id long, cell long")
        assert _lloyd_centroids(v, a).collect() == []

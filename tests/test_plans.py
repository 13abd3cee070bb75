"""Plan-shape regression tests: the physical properties the 100 TB
design depends on, asserted so a refactor cannot silently lose them.
(tools/explain_audit.py sweeps every catalog plan per round; these are
the load-bearing cases inlined into the fast test loop.)"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from explain_audit import audit_broadcast_hints, plan_text  # noqa: E402

from oroboro_dw_dbt_spark.operators.catalog import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return plan_text(QUERIES[name].builder(spark, SF))


class TestPlanShapes:
    def test_q1_filter_and_columns_reach_the_scan(self, spark):
        plan = _plan(spark, "q1_pricing_summary")
        assert re.search(r"PushedFilters:.*l_shipdate", plan), plan
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        cols = m.group(1)
        assert "l_orderkey" not in cols  # pruned: unused by q1
        assert "l_quantity" in cols

    def test_j9_has_no_forced_broadcast_on_scaling_tables(self, spark):
        df = QUERIES["j9_dim_chain_rollup"].builder(spark, SF)
        assert audit_broadcast_hints(df) == []

    def test_text_profile_stays_jvm_side(self, spark):
        plan = _plan(spark, "t_text_profile")
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_q21_census_has_no_expand(self, spark):
        """Optimization r12: the per-order census is a two-level
        aggregation — the double count-distinct Expand (3 copies of
        every lineitem row feeding the shuffle) must stay gone."""
        plan = _plan(spark, "q21_sole_supplier_delays")
        assert "Expand" not in plan, plan

    def test_range_join_is_not_a_nested_loop(self, spark):
        plan = _plan(spark, "tj_range_join")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_scd2_single_exchange_and_sort(self, spark):
        df = QUERIES["h_scd2_snapshot"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert plan.count("Sort ") == 1, plan

    def test_reference_build_plans_clean(self, spark):
        """The 3 reference models' BUILD plans (not the post-materialize
        parquet read — the round-4 audit blind spot): no cartesian or
        nested-loop joins, no row-at-a-time Python, no broadcast hint
        over a scaling table, anywhere in the trees Catalyst actually
        optimizes when the DAG runs."""
        from explain_audit import audit_one

        from oroboro_dw_dbt_spark.operators.reference_suite import reference_graph

        graph = reference_graph(spark, SF)
        frames = graph.plan_frames(spark)
        assert set(frames) == {
            "stacked_users_partners", "locations_clean", "user_base"
        }
        for name, df in frames.items():
            plan = plan_text(df)
            allow_wide = name == "user_base"  # the mart projects 35 cols
            flags = audit_one("build:" + name if allow_wide else name, plan)
            flags += audit_broadcast_hints(df)
            assert flags == [], (name, flags)

    def test_user_base_build_join_strategies(self, spark):
        """Execute the mart build plan and check the AQE-final physical
        plan. Two properties, both load-bearing at 100 TB:

        - the dim joins (J1-J3/J9-J11 — attribution routes, invite
          chains, api keys) go BroadcastHashJoin — no shuffle of the
          probe side for dim-scale build sides;
        - the SortMergeJoins that remain are the partitioning-REUSE
          joins: their inputs are already hash-partitioned on the join
          key by an upstream window/aggregate (QUALIFY top-1 emits
          from_location_id partitioning; the A2/A3 dedup emits user_id
          partitioning), so SMJ there is exchange-free while a broadcast
          would ADD an exchange of a scaling intermediate. Their count
          is pinned so a refactor that loses the reuse (SMJ count grows)
          or forces broadcasts of intermediates (count hits zero via
          hints) both fail loudly.
        """
        import re

        from oroboro_dw_dbt_spark.operators.reference_suite import reference_graph

        df = reference_graph(spark, SF).plan_frames(spark)["user_base"]
        df.collect()  # AQE finalizes the plan only on execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:200]
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 20  # the 5-chain x2 + mart joins
        # every surviving SMJ must join on one of the two keys whose
        # partitioning the upstream operator already produced
        smj_keys = re.findall(r"SortMergeJoin \[(\w+)#", plan)
        assert smj_keys, "expected partition-reuse SMJs in the mart build"
        assert set(smj_keys) <= {"id", "location_id", "user_id"}, smj_keys
        assert plan.count("SortMergeJoin") <= 12, plan.count("SortMergeJoin")

    def test_null_safe_join_is_a_hash_join(self, spark):
        """eqNullSafe must compile to a hash-joinable key — the naive
        `a.nk = b.nk OR (both null)` spelling degrades to a
        BroadcastNestedLoopJoin, which is the cluster-killer this entry
        exists to avoid."""
        plan = _plan(spark, "j_null_safe_join")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_q18_aggregates_below_the_join(self, spark):
        # the HAVING pre-aggregate must appear beneath the orders join:
        # in the formatted plan the lineitem aggregate node is a child of
        # the first SortMergeJoin/BroadcastHashJoin, not above it
        df = QUERIES["q18_large_orders"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        first_join = min(
            [i for i in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin")) if i >= 0],
            default=-1,
        )
        agg = plan.find("HashAggregate")
        assert first_join >= 0 and agg >= 0
        # children print after parents: the only aggregate is a join child
        assert agg > first_join, plan


class TestTpchSuitePlanShapes:
    """The TPC-H completion suite's load-bearing physical properties."""

    def test_q4_exists_compiles_to_semi_join(self, spark):
        plan = _plan(spark, "q4_priority_followup")
        assert "LeftSemi" in plan, plan
        assert "CartesianProduct" not in plan

    def test_q16_not_in_compiles_to_anti_join(self, spark):
        plan = _plan(spark, "q16_supplier_variety")
        assert "LeftAnti" in plan, plan

    def test_q6_predicates_reach_the_scan(self, spark):
        plan = _plan(spark, "q6_forecast_revenue")
        assert re.search(r"PushedFilters:.*l_shipdate", plan), plan
        assert re.search(r"PushedFilters:.*l_discount", plan), plan
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert "l_orderkey" not in m.group(1)  # pruned: q6 needs 4 cols

    def test_q19_or_still_prunes_both_scans(self, spark):
        """The OR-of-ANDs must not kill pushdown: Catalyst extracts the
        implied brand IN-list onto part and the quantity envelope onto
        lineitem."""
        plan = _plan(spark, "q19_disjunctive_revenue")
        assert re.search(r"PushedFilters:.*l_quantity", plan), plan
        assert re.search(r"PushedFilters:.*p_brand", plan), plan

    def test_q13_aggregates_below_the_join(self, spark):
        """Orders collapse to (custkey, n) BEFORE joining customers —
        the join must carry per-key rows, not raw orders."""
        df = QUERIES["q13_order_count_distribution"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        first_join = min(
            i for i in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
            if i >= 0
        )
        # children print after parents: an aggregate below the join
        assert plan.find("HashAggregate", first_join) > first_join, plan

    def test_q21_census_is_two_aggregations_no_self_joins(self, spark):
        """The EXISTS/NOT-EXISTS decorrelation must not reintroduce
        correlated fact self-joins: exactly one aggregation over
        lineitem (the census) + no nested-loop artifacts."""
        plan = _plan(spark, "q21_sole_supplier_delays")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # lineitem is scanned once: one scan node referencing l_discount
        assert plan.count("/lineitem.parquet") <= 2, plan


class TestIterativeAndAnnPlanShapes:
    """Round-6: pin the graph-iteration and IVF-PQ physical properties
    argued in VERDICT/SCALE — lineage truncation, constant per-iteration
    shuffle set, KB-side-only broadcasts in the ANN plan."""

    @staticmethod
    def _pr_edges(spark):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        ev = spark.read.parquet(f"{SF}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            ev.select(
                F.col("event_type").alias("dst"),
                F.lag("event_type").over(w).alias("src"),
            )
            .filter(F.col("src").isNotNull())
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
        )

    def _n_exchanges(self, spark, iters: int, ck: int) -> int:
        from oroboro_dw_dbt_spark.ops.graph import pagerank

        df = pagerank(self._pr_edges(spark), iterations=iters, checkpoint_every=ck)
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    def test_pagerank_constant_shuffles_per_iteration(self, spark):
        """Each iteration must add the SAME bounded set of Exchanges
        (edge⋈rank join + contrib aggregate + rank rebuild) — growth
        that accelerates means the loop is re-referencing prior state
        and the plan will explode at real iteration counts."""
        e1 = self._n_exchanges(spark, 1, ck=100)
        e2 = self._n_exchanges(spark, 2, ck=100)
        e3 = self._n_exchanges(spark, 3, ck=100)
        assert e2 - e1 == e3 - e2, (e1, e2, e3)
        assert 1 <= e2 - e1 <= 5, (e1, e2, e3)

    def test_pagerank_checkpoint_truncates_lineage(self, spark):
        """With checkpoint_every=4 the 5-iteration plan must cover only
        the post-checkpoint tail — strictly fewer Exchanges than the
        untruncated 5-iteration lineage, and no more than a 1-iteration
        tail plus the checkpoint scan."""
        truncated = self._n_exchanges(spark, 5, ck=4)
        full = self._n_exchanges(spark, 5, ck=100)
        one_iter = self._n_exchanges(spark, 1, ck=100)
        assert truncated < full, (truncated, full)
        assert truncated <= one_iter + 1, (truncated, one_iter)

    def test_ivfpq_broadcasts_probe_and_lut_only(self, spark):
        """The IVF-PQ plan's two KB-scale sides (probe list, ADC
        distance table) must ride as broadcasts; the corpus-scale codes
        and cells must never be broadcast or cross-joined."""
        df = QUERIES["ss_ivfpq_topk"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert audit_broadcast_hints(df) == []

    def test_ivfpq_probe_restricts_candidates(self, spark):
        """The inverted-file property in numbers: with n_probe=4 of 16
        cells, candidates scored per query must be well under the
        corpus (a full scan would be n_queries × (corpus−1))."""
        from oroboro_dw_dbt_spark.similarity.pq import coarse_cells, fit_pq_codebook

        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        corpus = emb.count()
        codebook = fit_pq_codebook(emb, m=4, k=16, dim=64)
        cells = coarse_cells(emb, codebook, 64)
        # cells are imbalanced but no cell may hold the whole corpus:
        # the probe join prunes to the probed cells' share of the data
        top4 = (
            cells.groupBy("cell").count()
            .orderBy(F.col("count").desc()).limit(4).collect()
        )
        probed_share = sum(r["count"] for r in top4) / corpus
        assert probed_share < 1.0, probed_share

    def test_interpolate_segment_explode_shape(self, spark):
        """Segment-explode spelling: ONE lead() window over the
        OBSERVED hourly rows, then explode — no grid⋈hourly join, no
        sort of the exploded grid. One Sort, ≤ 2 Exchanges (hourly agg
        + the window's user_id partitioning), zero Join nodes; the
        sf0.1 noop wall fell 6.6 s → ~1.1 s when the join-and-two-
        running-windows plan was replaced (SCALE.md 30× probe)."""
        df = QUERIES["ts_interpolate"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Sort ") == 1, plan.count("Sort ")
        assert plan.count("Exchange") <= 2, plan.count("Exchange")
        assert "Join" not in plan, "grid join crept back in"
        assert "Generate" in plan  # the segment explode survived

    def test_ewma_one_sort_one_exchange(self, spark):
        """All 8 EWMA taps share one window spec: one user_id Exchange,
        one Sort. A refactor that gives taps different specs multiplies
        the sorts by K."""
        df = QUERIES["ts_ewma_trailing"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Sort ") == 1, plan
        assert plan.count("Exchange") == 1, plan

    def test_mode_window_runs_on_the_reduced_aggregate(self, spark):
        """a_mode_exact must aggregate (partial+final) BEFORE the top-1
        window: the window's input is |users|x|types|, never the raw
        fact, and the partial agg combines map-side."""
        df = QUERIES["a_mode_exact"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        agg_pos = plan.index("HashAggregate")
        win_pos = plan.index("Window")
        assert win_pos < agg_pos  # plan prints top-down: window ABOVE agg
        assert "partial_count" in plan  # map-side combine survived

    def test_cdc_apply_is_one_aggregation_no_window(self, spark):
        """apply_changelog folds with max_by — a single combinable
        aggregation. A window/row_number rewrite would sort every key's
        history; assert it never sneaks back in."""
        df = QUERIES["eng_cdc_apply"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        assert plan.count("Exchange") == 1, plan
        assert "partial_max_by" in plan or "partial_maxby" in plan.lower(), plan

    def test_bucket_prefilter_is_a_broadcast_semi_below_the_join(self, spark):
        """The coarse-bucket filter must apply as a broadcast LeftSemi
        in the fact's scan stage — BEFORE the equi-join shuffle — or
        the scan-reduction claim is void."""
        df = QUERIES["sk_bucket_prefilter_join"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        semi = plan.index("LeftSemi")
        assert "BroadcastHashJoin" in plan[max(0, semi - 200):semi + 50]
        # the exact join sits ABOVE the semi filter in the printed tree
        join_pos = plan.index("l_orderkey = o_orderkey") if "l_orderkey = o_orderkey" in plan else plan.index("Join")
        assert join_pos < semi  # top-down print: outer join first


class TestRound6cPlanShapes:
    def test_sequence_match_one_exchange(self, spark):
        """All four window ops (two RANGE frames, row_number, count)
        partition by user_id — ONE Exchange total. A refactor that
        repartitions between passes doubles the shuffle on the fact."""
        df = QUERIES["ev_sequence_match"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan.count("Exchange")
        assert "Join" not in plan, "a per-step self-join crept back in"

    def test_interval_overlap_is_an_equi_join(self, spark):
        """The bucket-explode formulation must compile to a HASH-
        partitionable equi-join — never a nested loop / cartesian
        (which is what the raw inequality predicate would force)."""
        df = QUERIES["j_interval_overlap"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
        assert "Generate" in plan  # the bucket explode survived

    def test_session_window_single_shuffle(self, spark):
        """Native session_window: interval merge inside ONE user_id
        aggregation — one Exchange, one Sort, zero window-function
        passes (contrast the lag+cumsum spelling, 1 window + 1 agg)."""
        df = QUERIES["w_session_window"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan.count("Exchange")
        assert plan.count("Sort ") == 1, plan.count("Sort ")

    def test_bootstrap_resamples_never_widen_the_shuffle(self, spark):
        """ml_bootstrap_ci: the ×32 explode happens map-side under a
        partial aggregate — the shuffle carries ≤32 rows per partition,
        asserted as: exactly one Exchange, and a partial HashAggregate
        BELOW it (map-side combine on b)."""
        df = QUERIES["ml_bootstrap_ci"].builder(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan.count("Exchange")
        body = plan.split("Exchange", 1)[1]
        assert "HashAggregate" in body, "no map-side partial aggregate"

    # --- round-7 additions (VERDICT r06 Next #6) -----------------------

    def test_bpe_step_plan_constant_under_checkpoint(self, spark):
        """text/bpe.py:train localCheckpoints the segmentation each
        merge step so the plan of step k is a checkpoint scan plus ONE
        apply_merge expression — NOT a 3^k nested fold. Asserted as:
        the final segmentation's physical plan after 6 merges is no
        larger than after 2 (both are scans of the last checkpoint)."""
        from oroboro_dw_dbt_spark.text import bpe

        words = bpe.word_counts(spark, SF)
        _, seg2 = bpe.train(words, n_merges=2)
        _, seg6 = bpe.train(words, n_merges=6)
        p2 = seg2._jdf.queryExecution().executedPlan().toString()
        p6 = seg6._jdf.queryExecution().executedPlan().toString()
        assert len(p6.splitlines()) == len(p2.splitlines()), (p2, p6)
        # and the segmentation really is pinned: no corpus scan remains
        assert "parquet" not in p6.lower(), p6

    def test_sssp_constant_exchanges_per_round(self, spark):
        """Bellman-Ford must add the SAME bounded Exchange set per
        relaxation round (edge⋈dist join + min aggregate + rebuild) —
        mirrors the pagerank discipline; accelerating growth means the
        loop re-references prior rounds."""
        from oroboro_dw_dbt_spark.ops.graph import sssp

        edges = TestIterativeAndAnnPlanShapes._pr_edges(spark).selectExpr(
            "src", "dst", "w"
        )

        def n_ex(rounds):
            df = sssp(edges, source=1, rounds=rounds, checkpoint_every=100)
            return (
                df._jdf.queryExecution().executedPlan().toString().count("Exchange")
            )

        e1, e2, e3 = n_ex(1), n_ex(2), n_ex(3)
        assert e2 - e1 == e3 - e2, (e1, e2, e3)
        assert 1 <= e2 - e1 <= 6, (e1, e2, e3)

    def test_semdedup_is_bucketed_never_all_pairs(self, spark):
        """Both semantic-dedup entries: the dominance stage must ride
        the cell grouping (one hash Exchange into the per-cell GEMM
        kernel) — no CartesianProduct / BroadcastNestedLoopJoin
        anywhere in either plan."""
        for name in ("dd_semdedup", "dd_semdedup_ivf"):
            df = QUERIES[name].builder(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan, (name, plan)
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
            assert "FlatMapGroupsInPandas" in plan, (name, plan)

    def test_semdedup_greedy_capped_plan_shape(self, spark):
        """The pipeline's cells ∝ N operating point (greedy descent +
        occupancy cap): same invariants — every join is hash/equi,
        never all-pairs — plus the capped dominance path."""
        from oroboro_dw_dbt_spark.dedup.semdedup import (
            quantized_vectors,
            semdedup_ivf_core,
        )
        from oroboro_dw_dbt_spark.sources.testdata import load_table

        v = quantized_vectors(load_table(spark, SF, "embeddings"))
        df = semdedup_ivf_core(v, 16, assign="greedy", occupancy_cap=64)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "FlatMapGroupsInPandas" in plan, plan

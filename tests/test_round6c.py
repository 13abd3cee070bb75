"""Tests for 35 catalog entries across the event, window, ML-eval,
engine, sketch, graph and training-data families: sequence matching,
majority-vote labels, bootstrap CIs, URL canonicalization, the
interval-overlap join and more — semantic invariants plus
naive-equivalence proofs for the bucketed join."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.operators.events_suite import ev_sequence_match
from oroboro_dw_dbt_spark.operators.extended_suite import j_interval_overlap
from oroboro_dw_dbt_spark.operators.ml_eval_suite import _B, lab_majority_vote, ml_bootstrap_ci
from oroboro_dw_dbt_spark.operators.training_suite import dd_url_canonical
from oroboro_dw_dbt_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


class TestSequenceMatch:
    def test_chain_is_ordered_and_bounded(self, spark):
        rows = ev_sequence_match(spark, SF01).collect()
        assert rows
        for r in rows:
            assert r["view_ts"] < r["click_ts"] < r["purchase_ts"]
            assert r["click_ts"] - r["view_ts"] <= dt.timedelta(days=3)
            assert r["purchase_ts"] - r["click_ts"] <= dt.timedelta(days=3)
            assert r["n_chains"] >= 1

    def test_first_chain_vs_naive_scan(self, spark):
        """Per user, the reported purchase_ts is the earliest purchase
        with a qualifying click (itself preceded by a qualifying view)
        — recomputed by a driver-side O(n²) scan at sf0.001."""
        ev = (
            load_table(spark, SF, "events")
            .select("user_id", "event_id", "event_type", "ts")
            .collect()
        )
        by_user: dict = {}
        for r in ev:
            by_user.setdefault(r["user_id"], []).append(r)
        look = 3 * 86400  # the RANGE frame works at second resolution

        def sec(r) -> int:
            return int(r["ts"].timestamp())

        expect = {}
        for u, rs in by_user.items():
            views = sorted(sec(r) for r in rs if r["event_type"] == "view")
            clicks = sorted(
                c
                for r in rs
                if r["event_type"] == "click"
                for c in [sec(r)]
                # click qualifies iff some view is 1..look seconds before
                if any(c - look <= v <= c - 1 for v in views)
            )
            firsts = [
                sec(r)
                for r in rs
                if r["event_type"] == "purchase"
                and any(
                    sec(r) - look <= c <= sec(r) - 1 for c in clicks
                )
            ]
            if firsts:
                expect[u] = dt.datetime.utcfromtimestamp(min(firsts))
        got = {
            r["user_id"]: r["purchase_ts"]
            for r in ev_sequence_match(spark, SF).collect()
        }
        assert got == expect

    def test_partition_independence(self, spark):
        a = sorted(map(tuple, ev_sequence_match(spark, SF).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        try:
            b = sorted(map(tuple, ev_sequence_match(spark, SF).collect()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        assert a == b


class TestMajorityVote:
    def test_counts_and_accuracy(self, spark):
        rows = lab_majority_vote(spark, SF01).collect()
        n = sum(r["n_docs"] for r in rows)
        docs = load_table(spark, SF01, "documents").count()
        assert n == docs
        # per-annotator flip 20% → majority error = 3·0.2²·0.8 + 0.2³
        # = 0.104; accuracy ≈ 0.896 with sampling slack
        correct = sum(r["n_correct"] for r in rows)
        assert 0.85 < correct / n < 0.95
        for r in rows:
            assert 0 <= r["n_unanimous"] <= r["n_docs"]
            assert 0 <= r["n_gold_pos"] <= r["n_docs"]


class TestBootstrapCI:
    def test_resample_shape_and_exactness(self, spark):
        rows = ml_bootstrap_ci(spark, SF01).collect()
        assert len(rows) == _B
        docs = load_table(spark, SF01, "documents").count()
        for r in rows:
            # Poisson(1) weights: resample mass ≈ corpus size
            assert 0.8 * docs < r["n_w"] < 1.2 * docs
            # acc_ppm is exact integer floor division of the sums
            assert r["acc_ppm"] == r["correct_w"] * 1_000_000 // r["n_w"]
            # pred flips truth 15% → accuracy ≈ 0.85
            assert 0.78 < r["acc_ppm"] / 1e6 < 0.92
        # the whole point: the resamples differ (a CI exists)
        assert len({r["acc_ppm"] for r in rows}) > 5

    def test_deterministic(self, spark):
        a = sorted(map(tuple, ml_bootstrap_ci(spark, SF).collect()))
        b = sorted(map(tuple, ml_bootstrap_ci(spark, SF).collect()))
        assert a == b


class TestUrlCanonical:
    def test_mass_conserved_and_canonical_clean(self, spark):
        rows = dd_url_canonical(spark, SF01).collect()
        docs = load_table(spark, SF01, "documents").count()
        assert sum(r["n_docs"] for r in rows) == docs
        for r in rows:
            u = r["canonical_url"]
            assert u.startswith("https://h")
            assert u == u.lower()
            assert ":443" not in u
            assert "utm_" not in u and "#" not in u
            assert not u.endswith("/")

    def test_groups_merge_all_four_variants(self, spark):
        # every full group of 4 consecutive doc_ids collapses to one
        # canonical URL regardless of messiness class
        rows = dd_url_canonical(spark, SF01).collect()
        full = [r for r in rows if r["n_docs"] == 4]
        assert len(full) >= len(rows) - 2  # at most edge groups partial


class TestIntervalOverlap:
    def test_equals_naive_inequality_join(self, spark):
        """The bucketed plan must be LOSSLESS and DUPLICATE-FREE vs
        the plain inequality join (which Spark can only run as a
        broadcast nested loop — fine at sf0.001)."""
        orders = load_table(spark, SF, "orders")

        def side(mod, idc, s, e, span):
            return orders.filter(F.col("o_orderkey") % 3 == mod).select(
                F.col("o_orderkey").alias(idc),
                (F.col("o_custkey") % 40).alias(f"{idc}_key"),
                F.to_date("o_orderdate").alias(s),
                F.date_add(
                    F.to_date("o_orderdate"),
                    (F.col("o_orderkey") % span + 1).cast("int"),
                ).alias(e),
            )

        left = side(0, "l_id", "l_s", "l_e", 5)
        right = side(1, "r_id", "r_s", "r_e", 7)
        naive = (
            left.join(
                right,
                (F.col("l_id_key") == F.col("r_id_key"))
                & (F.col("l_s") <= F.col("r_e"))
                & (F.col("r_s") <= F.col("l_e")),
            )
            .select("l_id", "r_id")
            .collect()
        )
        got = j_interval_overlap(spark, SF).select("l_id", "r_id").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, naive))

    def test_overlap_days_nonneg(self, spark):
        rows = j_interval_overlap(spark, SF01).collect()
        assert rows
        assert all(r["overlap_days"] >= 0 for r in rows)


class TestStatsSummary:
    def _table(self, spark, tmp_path, stats_cols=("user_id",)):
        from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

        fmt = ManifestParquetFormat()
        df = load_table(spark, SF, "events").select("event_id", "user_id")
        fmt.write(df.repartition(4), tmp_path / "t", stats_cols=stats_cols)
        return fmt, tmp_path / "t", df

    def test_matches_scan(self, spark, tmp_path):
        fmt, t, df = self._table(spark, tmp_path)
        s = fmt.stats_summary(t, cols=("user_id",))
        row = df.agg(
            F.count(F.lit(1)), F.min("user_id"), F.max("user_id")
        ).first()
        assert s["n_rows"] == row[0]
        assert s["user_id"] == [row[1], row[2]]

    def test_refuses_under_delete_vectors(self, spark, tmp_path):
        import pytest

        fmt, t, df = self._table(spark, tmp_path)
        fmt.delete_keys(spark, t, df.select("event_id").limit(3), "event_id")
        with pytest.raises(ValueError, match="delete vectors"):
            fmt.stats_summary(t)

    def test_refuses_missing_bounds(self, spark, tmp_path):
        import pytest

        fmt, t, _ = self._table(spark, tmp_path, stats_cols=())
        with pytest.raises(ValueError, match="bounds"):
            fmt.stats_summary(t, cols=("user_id",))
        # but the pure count is still provable
        assert fmt.stats_summary(t)["n_rows"] > 0


class TestStreamJoinOuter:
    def test_expected_content(self, spark):
        from oroboro_dw_dbt_spark.operators.events_suite import st_stream_join_outer
        from oroboro_dw_dbt_spark.sources.pydatasource import (
            JOIN_SENTINEL_L,
        )

        rows = sorted(
            map(tuple, st_stream_join_outer(spark, SF).collect())
        )
        assert len(rows) == 4
        matched = [r for r in rows if r[3] is not None]
        nulls = [r for r in rows if r[3] is None]
        assert len(matched) == 2 and len(nulls) == 2
        # the left sentinel's state must never flush
        assert all(r[0] != JOIN_SENTINEL_L for r in rows)
        # matches respect the time bound
        for _, _, l_ep, _, r_ep in matched:
            assert l_ep <= r_ep <= l_ep + 600


class TestSessionWindow:
    def test_session_bounds_and_mass(self, spark):
        from oroboro_dw_dbt_spark.operators.extended_suite import w_session_window

        rows = w_session_window(spark, SF).collect()
        ev = load_table(spark, SF, "events")
        assert sum(r["n_events"] for r in rows) == ev.count()
        for r in rows:
            # end = last event + gap, so every session spans >= gap
            assert (
                r["session_end"] - r["session_start"]
            ) >= dt.timedelta(minutes=30)
        # per user, sessions must not overlap
        by_user: dict = {}
        for r in rows:
            by_user.setdefault(r["user_id"], []).append(
                (r["session_start"], r["session_end"])
            )
        for spans in by_user.values():
            spans.sort()
            for (s1, e1), (s2, _) in zip(spans, spans[1:]):
                assert s2 >= e1


class TestTransformWithState:
    def test_running_totals_match_batch(self, spark):
        """Certifies the Spark 4 TWS API when the environment can run
        it; this container lacks google.protobuf (the TWS state
        protocol's wire format), so the entry stays out of the driver
        gate and this test documents the capability seam."""
        import pytest

        pytest.importorskip("google.protobuf.descriptor")
        from oroboro_dw_dbt_spark.operators.events_suite import st_transform_with_state

        got = {
            r["user_id"]: (r["n_events"], r["cents"])
            for r in st_transform_with_state(spark, SF).collect()
        }
        exp = {
            r["user_id"]: (r["n"], r["cents"])
            for r in load_table(spark, SF, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(
                        F.col("value").cast("decimal(12,4)") * 100, 0
                    ).cast("bigint")
                ).alias("cents"),
            )
            .collect()
        }
        assert got == exp


class TestTextSource:
    def test_roundtrip_exact(self, spark):
        from oroboro_dw_dbt_spark.operators.lifecycle_suite import eng_text_source

        rows = eng_text_source(spark, SF).collect()
        exp = {
            r["lang"]: (r[1], r[2])
            for r in load_table(spark, SF, "documents")
            .groupBy("lang")
            .agg(F.count(F.lit(1)), F.sum("n_chars"))
            .collect()
        }
        assert {r["lang"]: (r["n_docs"], r["chars"]) for r in rows} == exp


class TestCloneRestore:
    def _write(self, spark, path, mod=None):
        from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

        fmt = ManifestParquetFormat()
        df = load_table(spark, SF, "events").select("event_id", "user_id")
        if mod is not None:
            df = df.filter(F.col("user_id") % mod != 0)
        fmt.write(df, path)
        return fmt

    def test_clone_is_zero_copy_and_pinned(self, spark, tmp_path):
        fmt = self._write(spark, tmp_path / "src")
        n1 = fmt.read(spark, tmp_path / "src").count()
        fmt.clone(tmp_path / "src", tmp_path / "c")
        # zero-copy: no parquet lands under the clone's own dir
        assert not list((tmp_path / "c").rglob("*.parquet"))
        assert fmt.read(spark, tmp_path / "c").count() == n1
        # source moves on; clone stays pinned
        self._write(spark, tmp_path / "src", mod=2)
        assert fmt.read(spark, tmp_path / "c").count() == n1

    def test_clone_refuses_delete_vectors_and_overwrite(self, spark, tmp_path):
        import pytest

        fmt = self._write(spark, tmp_path / "src")
        df = fmt.read(spark, tmp_path / "src")
        fmt.delete_keys(
            spark, tmp_path / "src", df.select("event_id").limit(2), "event_id"
        )
        with pytest.raises(ValueError, match="delete vectors"):
            fmt.clone(tmp_path / "src", tmp_path / "c")
        fmt.clone(tmp_path / "src", tmp_path / "c2", version=1)  # pre-delete ok
        with pytest.raises(FileExistsError):
            fmt.clone(tmp_path / "src", tmp_path / "c2")

    def test_restore_then_vacuum_keeps_shared_dir(self, spark, tmp_path):
        fmt = self._write(spark, tmp_path / "t")
        n1 = fmt.read(spark, tmp_path / "t").count()
        self._write(spark, tmp_path / "t", mod=2)  # v2
        v3 = fmt.restore(tmp_path / "t", 1)
        assert v3 == 3
        assert fmt.read(spark, tmp_path / "t").count() == n1
        fmt.vacuum(tmp_path / "t", keep_last=1)
        # v1's dir is shared with (current) v3 — must survive the vacuum
        assert fmt.read(spark, tmp_path / "t").count() == n1

    def test_restore_carries_delete_vectors(self, spark, tmp_path):
        fmt = self._write(spark, tmp_path / "t")
        df = fmt.read(spark, tmp_path / "t")
        n1 = df.count()
        fmt.delete_keys(
            spark, tmp_path / "t", df.select("event_id").limit(3), "event_id"
        )  # v2: n1-3 rows
        self._write(spark, tmp_path / "t", mod=2)  # v3
        fmt.restore(tmp_path / "t", 2)
        assert fmt.read(spark, tmp_path / "t").count() == n1 - 3


class TestAbAndBoolAgg:
    def test_ab_counts_partition_users(self, spark):
        from oroboro_dw_dbt_spark.operators.ml_eval_suite import ml_ab_proportions

        r = ml_ab_proportions(spark, SF01).first()
        users = (
            load_table(spark, SF01, "events")
            .select("user_id")
            .distinct()
            .count()
        )
        assert r["n_a"] + r["n_b"] == users
        assert 0 < r["conv_a"] < r["n_a"]
        assert 0 < r["conv_b"] < r["n_b"]
        # z is finite and consistent with the rates' ordering
        import math

        assert math.isfinite(r["z"])
        assert (r["z"] > 0) == (r["rate_a"] > r["rate_b"])

    def test_bool_agg_consistency(self, spark):
        from oroboro_dw_dbt_spark.operators.extended_suite import a_bool_agg_suite

        for r in a_bool_agg_suite(spark, SF01).collect():
            # any_high ⇒ n_big > 0 (990 > 500); all_pos over positive data
            if r["any_high"]:
                assert r["n_big"] > 0
            assert r["n_null_val"] >= 0
            assert r["users_complete"] is True


class TestDynamicPartitionOverwrite:
    def test_only_target_partitions_replaced(self, spark, tmp_path):
        """Static mode would truncate to the written partitions; the
        entry's mode must leave the other days' FILES untouched."""
        import os

        from oroboro_dw_dbt_spark.operators.lifecycle_suite import eng_dynamic_partition_overwrite

        rows = eng_dynamic_partition_overwrite(spark, SF).collect()
        days = {r["day"].day for r in rows}
        assert len(rows) == 30 and days == set(range(1, 31))
        # the overwrite-mode conf must not leak out of the entry
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            != "dynamic"
        )


class TestLshRecall:
    def test_census_is_consistent(self, spark):
        from oroboro_dw_dbt_spark.operators.training_suite import dd_lsh_recall_report

        r = dd_lsh_recall_report(spark, SF01).first()
        assert r["n_tp"] + r["n_fn"] == r["n_truth"]
        assert r["n_tp"] + r["n_extra"] == r["n_lsh"]
        assert r["recall_ppm"] == r["n_tp"] * 1_000_000 // r["n_truth"]
        # 4 bands of 2 over Jaccard>=0.5: P(miss) = (1-s^2)^4 <= 0.32,
        # and the gate corpus's near-dups are engineered well above the
        # threshold — recall should be high here (regression canary, a
        # banding bug shows up as a collapse, not a wiggle)
        assert r["recall_ppm"] >= 800_000


class TestAnnRecallJsonSliding:
    def test_lsh_recall_bounds(self, spark):
        from oroboro_dw_dbt_spark.operators.training_suite import ss_lsh_recall_report

        rows = ss_lsh_recall_report(spark, SF01).collect()
        assert len(rows) == 8
        for r in rows:
            assert r["n_exact"] == 5
            assert 0 <= r["n_hit"] <= 5
            assert r["recall_ppm"] == r["n_hit"] * 1_000_000 // 5
        # measured at sf0.01: single-bucket 8/40 (20%), multiprobe
        # 14/40 (35%) — the census makes the recall/candidate-cut
        # trade a visible number and shows the probing knob working.
        # Floors are canaries, not quality bars: a broken bucket join
        # returns 0.
        assert sum(r["n_hit"] for r in rows) >= 1
        # Hamming-1 probing strictly widens the candidate set, so
        # multiprobe recall can never be BELOW single-bucket recall
        for r in rows:
            assert r["n_hit_multiprobe"] >= r["n_hit"]

    def test_json_absent_path_is_null(self, spark):
        from oroboro_dw_dbt_spark.operators.scalar import f_json_suite2

        rows = f_json_suite2(spark, SF).collect()
        assert rows and all(r["path_missing"] is None for r in rows)
        assert all(r["tup_id"] == str(r["doc_id"]) for r in rows)

    def test_sliding_mass_is_4x(self, spark):
        from oroboro_dw_dbt_spark.operators.extended_suite import w_sliding_window

        rows = w_sliding_window(spark, SF).collect()
        n_events = load_table(spark, SF, "events").count()
        assert sum(r["n"] for r in rows) == 4 * n_events
        for r in rows:
            assert (r["window_end"] - r["window_start"]).seconds == 3600


class TestObserveAndProvenance:
    def test_observe_counts_match_direct_agg(self, spark):
        from oroboro_dw_dbt_spark.operators.lifecycle_suite import p_observe_metrics

        r = p_observe_metrics(spark, SF).first()
        e = load_table(spark, SF, "events")
        assert r["n_rows"] == e.count()
        assert r["n_neg"] == e.filter(F.col("value") < 0).count()

    def test_provenance_one_file_per_day(self, spark):
        from oroboro_dw_dbt_spark.operators.lifecycle_suite import eng_file_provenance

        rows = eng_file_provenance(spark, SF).collect()
        days = [r["day"] for r in rows]
        assert len(days) == len(set(days)) == 30
        assert sum(r["n"] for r in rows) == load_table(
            spark, SF, "events"
        ).count()


class TestIncrementalIndexDegreeTvf:
    def test_incremental_index_equals_rebuild(self, spark):
        from oroboro_dw_dbt_spark.dedup.dedup import minhash_band_index
        from oroboro_dw_dbt_spark.operators.training_suite import dd_incremental_index

        got = sorted(
            map(tuple, dd_incremental_index(spark, SF).collect())
        )
        full = sorted(
            map(
                tuple,
                minhash_band_index(load_table(spark, SF, "documents"))
                .withColumn("band", F.col("band").cast("int"))
                .select("doc_id", "band", "band_key")
                .collect(),
            )
        )
        got3 = sorted((r[0], r[1], r[2]) for r in got)
        assert got3 == full

    def test_degree_mass(self, spark):
        from oroboro_dw_dbt_spark.operators.graph_suite import gr_degree_stats

        rows = gr_degree_stats(spark, SF).collect()
        assert rows and all(r["degree"] >= 1 for r in rows)

    def test_tvf_rows(self, spark):
        from oroboro_dw_dbt_spark.operators.scalar import sql_tvf_surface

        rows = sorted(map(tuple, sql_tvf_surface(spark, SF).collect()))
        assert len(rows) == 10
        for k, name, scaled in rows:
            assert scaled == k * (2 if name == "a" else 3)
            assert (k % 2 == 0) == (name == "a")


class TestSlidingStreamHistQuantiles:
    def test_stream_equals_batch_sliding(self, spark):
        from oroboro_dw_dbt_spark.operators.events_suite import st_sliding_stream
        from oroboro_dw_dbt_spark.operators.extended_suite import w_sliding_window

        a = sorted(map(tuple, st_sliding_stream(spark, SF).collect()))
        b = sorted(map(tuple, w_sliding_window(spark, SF).collect()))
        assert a == b

    def test_quantile_brackets_contain_exact(self, spark):
        from oroboro_dw_dbt_spark.operators.scale_suite import sk_hist_quantiles_merge

        rows = {
            r["pct"]: (r["cents_lo"], r["cents_hi"])
            for r in sk_hist_quantiles_merge(spark, SF01).collect()
        }
        assert set(rows) == {50, 90, 99}
        assert all(
            r["merge_consistent"]
            for r in sk_hist_quantiles_merge(spark, SF01).collect()
        )
        # the bin bracket must contain the true percentile
        e = load_table(spark, SF01, "events")
        cents = (
            F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
            .cast("bigint")
        )
        vals = sorted(r[0] for r in e.select(cents).collect())
        import math

        for pct, (lo, hi) in rows.items():
            exact = vals[math.ceil(pct / 100 * len(vals)) - 1]
            assert lo <= exact < hi


class TestMulticlassReport:
    def test_report_invariants(self, spark):
        from oroboro_dw_dbt_spark.operators.ml_eval_suite import ml_multiclass_report

        rows = ml_multiclass_report(spark, SF01).collect()
        docs = load_table(spark, SF01, "documents").count()
        assert sum(r["support"] for r in rows) == docs
        for r in rows:
            assert 0 <= r["tp"] <= min(r["support"], max(r["pred_n"], 0))
            if r["pred_n"] == 0:
                assert r["precision_ppm"] is None
            else:
                assert (
                    r["precision_ppm"]
                    == r["tp"] * 1_000_000 // r["pred_n"]
                )


class TestToleranceHistoryNegatives:
    def test_tolerance_nulls_stale_matches(self, spark):
        from oroboro_dw_dbt_spark.operators.extended_suite import _TOL_S, tj_asof_tolerance
        from oroboro_dw_dbt_spark.ops.temporal import asof_join

        ev = load_table(spark, SF, "events")
        raw = asof_join(
            ev.filter(F.col("event_type") == "purchase").select(
                "event_id", "user_id", "ts"
            ),
            ev.filter(F.col("event_type") == "click"),
            key="user_id",
        )
        raw_m = {r["event_id"]: r["asof_ts"] for r in raw.collect()}
        tol = {
            r["event_id"]: r["asof_ts"]
            for r in tj_asof_tolerance(spark, SF).collect()
        }
        got_ts = {
            r["event_id"]: r["ts"]
            for r in tj_asof_tolerance(spark, SF).collect()
        }
        assert set(tol) == set(raw_m)
        for eid, m in raw_m.items():
            if m is None:
                assert tol[eid] is None
            elif (got_ts[eid] - m).total_seconds() <= _TOL_S:
                assert tol[eid] == m
            else:
                assert tol[eid] is None

    def test_history_after_clone(self, spark, tmp_path):
        from oroboro_dw_dbt_spark.engine import ManifestParquetFormat

        fmt = ManifestParquetFormat()
        df = load_table(spark, SF, "events").select("event_id")
        fmt.write(df, tmp_path / "src")
        fmt.clone(tmp_path / "src", tmp_path / "c")
        ops = [h["op"] for h in fmt.history(tmp_path / "c")]
        assert ops == ["clone"]

    def test_hard_negatives_are_not_near_dups(self, spark):
        from oroboro_dw_dbt_spark.dedup.dedup import minhash_lsh_pairs
        from oroboro_dw_dbt_spark.operators.training_suite import sp_hard_negatives

        docs = load_table(spark, SF01, "documents")
        negs = {
            (r["anchor"], r["neg"])
            for r in sp_hard_negatives(spark, SF01).collect()
        }
        dups = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_pairs(docs).collect()
        }
        dups |= {(b, a) for a, b in dups}
        assert negs and not (negs & dups)


class TestBloomMembership:
    def test_invariants_and_theory(self, spark):
        import math

        from oroboro_dw_dbt_spark.operators.scale_suite import _BF_BITS, _BF_K, sk_bloom_membership

        r = sk_bloom_membership(spark, SF01).first()
        # THE invariant: a Bloom filter never misses a present key
        assert r["n_false_neg"] == 0
        assert r["n_present_hit"] == r["n_present"]
        assert r["merge_consistent"] is True
        # fp rate ≈ (1 - e^{-kn/m})^k — allow wide slack, catch breakage
        n = r["n_present"]
        expect = (1 - math.exp(-_BF_K * n / _BF_BITS)) ** _BF_K
        got = r["n_false_pos"] / r["n_absent"]
        assert abs(got - expect) < 0.1


class TestBloomJoinPrune:
    def test_prune_is_lossless_and_actually_prunes(self, spark):
        from oroboro_dw_dbt_spark.operators.scale_suite import sk_bloom_join_prune

        got = sorted(
            map(tuple, sk_bloom_join_prune(spark, SF01).collect())
        )
        orders = load_table(spark, SF01, "orders").filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (
                F.col("o_orderdate")
                >= F.lit("1998-01-01").cast("timestamp")
            )
        )
        li = load_table(spark, SF01, "lineitem")
        plain = sorted(
            map(
                tuple,
                li.join(
                    orders.select("o_orderkey"),
                    li.l_orderkey == F.col("o_orderkey"),
                )
                .groupBy(F.col("l_orderkey").alias("okey"))
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_lines"),
                    F.sum(
                        F.round(F.col("l_extendedprice") * 100, 0).cast(
                            "bigint"
                        )
                    )
                    .cast("bigint")
                    .alias("price_cents"),
                )
                .collect(),
            )
        )
        assert got == plain


class TestConcurrencyAndCutoffCurve:
    def test_max_concurrency_vs_naive(self, spark):
        """Sweep-line answer == brute-force day-by-day census at
        sf0.001."""
        from oroboro_dw_dbt_spark.operators.events_suite import ev_overlap_concurrency

        iv = (
            load_table(spark, SF, "orders")
            .select(
                (F.col("o_custkey") % 25).alias("key"),
                F.to_date("o_orderdate").alias("s"),
                F.date_add(
                    F.to_date("o_orderdate"),
                    (F.col("o_orderkey") % 14 + 1).cast("int"),
                ).alias("e"),
            )
            .collect()
        )
        by_key: dict = {}
        for r in iv:
            by_key.setdefault(r["key"], []).append((r["s"], r["e"]))
        expect = {}
        for k, spans in by_key.items():
            days: dict = {}
            for s, e in spans:
                d = s
                while d <= e:
                    days[d] = days.get(d, 0) + 1
                    d = d + dt.timedelta(days=1)
            expect[k] = max(days.values())
        got = {
            r["key"]: r["max_concurrent"]
            for r in ev_overlap_concurrency(spark, SF).collect()
        }
        assert got == expect

    def test_cutoff_curve_monotone_and_anchored(self, spark):
        from oroboro_dw_dbt_spark.operators.training_suite import t_frequency_cutoff_curve
        from oroboro_dw_dbt_spark.text.analysis import tokens

        rows = sorted(
            t_frequency_cutoff_curve(spark, SF01).collect(),
            key=lambda r: r["min_count"],
        )
        docs = load_table(spark, SF01, "documents")
        total_mass = docs.select(
            F.explode(tokens("text")).alias("t")
        ).count()
        total_vocab = (
            docs.select(F.explode(tokens("text")).alias("t"))
            .distinct()
            .count()
        )
        # min_count = smallest observed f ⇒ whole vocabulary survives
        assert rows[0]["vocab_size"] == total_vocab
        assert rows[0]["token_mass"] == total_mass
        # both curves decrease as the threshold rises
        for a, b in zip(rows, rows[1:]):
            assert a["vocab_size"] > b["vocab_size"]
            assert a["token_mass"] > b["token_mass"]


class TestKCore:
    def test_core_properties_and_fixpoint(self, spark):
        from oroboro_dw_dbt_spark.operators.graph_suite import _KCORE_K, gr_kcore

        rows = gr_kcore(spark, SF01).collect()
        survivors = {r["user_id"] for r in rows if r["in_core"]}
        assert 0 < len(survivors) < len(rows)  # the peel did something
        # fixpoint witness at the gate scale: within the surviving
        # subgraph, every member's core degree still meets k — i.e. a
        # 5th peel would remove nobody
        for r in rows:
            if r["in_core"]:
                assert r["core_deg"] >= _KCORE_K
            else:
                assert r["core_deg"] == 0

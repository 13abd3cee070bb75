"""Tests for distributed BPE training (fold-kernel equivalence vs a
plain-Python reference) and the feature-engineering + BM25 entries
(semantic invariants, exactness of the integer-statistics route)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.operators.feature_suite import (
    fe_hashed_cross,
    fe_onehot_topk,
    fe_quantile_bins,
    fe_scaler_suite,
    t_bm25_topk,
    ts_autocorr,
)
from oroboro_dw_dbt_spark.operators.training_suite import t_bpe_train
from oroboro_dw_dbt_spark.sources.testdata import load_table
from oroboro_dw_dbt_spark.text import bpe

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


class TestBpe:
    def test_merges_match_python_reference(self, spark):
        """The distributed merge loop (fold kernel + argmax collect)
        reproduces a plain-Python BPE (Sennrich greedy semantics)
        merge-for-merge, counts included."""
        words = bpe.word_counts(spark, SF)
        wf = {r["word"]: r["freq"] for r in words.collect()}
        expected = bpe.learn_merges_py(wf)
        got = bpe.learn_merges(words)
        assert got == expected

    def test_fold_kernel_greedy_overlap(self, spark):
        """Greedy left-to-right non-overlap: 'aaa b' under merge (a,a)
        segments to [aa, a, b] — the just-merged token must not match
        again (the classic overlap trap)."""
        df = spark.createDataFrame([("aaab",)], ["word"])
        out = df.select(
            bpe.apply_merge(bpe.base_symbols(F.col("word")), "a", "a").alias("s")
        ).collect()[0]["s"]
        assert out == "aa a b </w>"

    def test_train_entry_shape(self, spark):
        rows = t_bpe_train(spark, SF).collect()
        assert len(rows) == bpe.N_MERGES
        assert [r["step"] for r in rows] == list(range(1, bpe.N_MERGES + 1))
        for r in rows:
            assert r["merged"] == r["lhs"] + r["rhs"]
            assert r["pair_count"] > 0

    def test_pair_counts_nonincreasing_is_not_required_but_positive(self, spark):
        """BPE pair counts need not decrease monotonically (merges can
        create new frequent pairs), but every chosen pair must have
        been the argmax of a positive count."""
        rows = t_bpe_train(spark, SF).collect()
        assert all(r["pair_count"] >= 1 for r in rows)

    def test_batched_equals_sequential(self, spark):
        """VERDICT r08 Next #6: the batched selector must be invisible
        in the learned merges — batch=8 vs batch=1 vs the plain-Python
        sequential reference, on the test corpus AND on adversarial
        mini-corpora (shared symbols, chain merges, ties)."""
        corpora = [
            None,  # the real test corpus
            {"aaab": 5, "abab": 3, "cdcd": 3, "xyxy": 2},  # chains+ties
            {"abc": 7, "bcd": 7, "cde": 7},  # overlapping symbol sets
            {"aa": 10, "aaa": 10, "aaaa": 10},  # same-symbol cascades
        ]
        for wf in corpora:
            if wf is None:
                words = bpe.word_counts(spark, SF)
                wf = {r["word"]: r["freq"] for r in words.collect()}
            else:
                words = spark.createDataFrame(
                    list(wf.items()), "word string, freq long"
                )
            expected = bpe.learn_merges_py(wf)
            batched, _ = bpe.train(words, batch=8)
            assert batched == expected, wf

    def test_chain_admission_on_chaining_corpus(self, spark):
        """VERDICT r09 Next #7: a corpus whose top pairs CHAIN (share
        symbols, like e,r / r,</w> on English) must still batch —
        the trigram windows price the interaction exactly — with
        merges identical to sequential. The r09 disjoint-only
        selector degenerated to ~1 merge/pass here."""
        wf = {"herr": 9, "her": 8, "er": 7, "re": 3, "he": 2}
        words = spark.createDataFrame(
            list(wf.items()), "word string, freq long"
        )
        expected = bpe.learn_merges_py(wf, n_merges=6)
        bat, _ = bpe.train(words, n_merges=6, batch=8)
        bat_passes = bpe.LAST_TRAIN_PASSES
        assert bat == expected
        assert bat_passes < 6  # genuinely batched despite the chains

    def test_select_batch_matches_sequential_randomized(self):
        """Pure-driver property sweep: on hundreds of random small-
        alphabet corpora (maximal chain/tie/collision density), the
        batch selector driven by python-computed windows must
        reproduce plain sequential BPE merge-for-merge, counts
        included. No Spark involved — this pins the SIMULATION's
        soundness; the fold-application equivalence is pinned by the
        Spark-side corpora tests."""
        import random

        from oroboro_dw_dbt_spark.text.bpe import EOW, _select_batch

        def windows(segs, wf, k_window, k_tri):
            P: dict = {}
            T: dict = {}
            for w, syms in segs.items():
                f = wf[w]
                for i in range(len(syms) - 1):
                    k = (syms[i], syms[i + 1])
                    P[k] = P.get(k, 0) + f
                for i in range(len(syms) - 2):
                    k3 = (syms[i], syms[i + 1], syms[i + 2])
                    T[k3] = T.get(k3, 0) + f
            pr = sorted(P.items(), key=lambda kv: (-kv[1], kv[0]))[:k_window]
            tr = sorted(T.items(), key=lambda kv: (-kv[1], kv[0]))[:k_tri]
            pair_rows = [{"l": l, "r": r, "cnt": c} for (l, r), c in pr]
            pair_floor = pr[-1][1] if len(pr) >= k_window else 0
            tri_complete = len(tr) < k_tri
            tri_floor = 0 if tri_complete else tr[-1][1]
            return pair_rows, dict(tr), pair_floor, tri_floor, tri_complete

        def apply_rule(syms, lhs, rhs):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        def batched_py(wf, n_merges, batch):
            segs = {w: [*w, EOW] for w in wf}
            vocab = {s for syms in segs.values() for s in syms}
            k_window = max(2, 4 * batch)
            k_tri = max(2, 4 * k_window)
            merges: list = []
            while len(merges) < n_merges:
                pair_rows, tris, pf, tf, tc = windows(
                    segs, wf, k_window, k_tri
                )
                if not pair_rows:
                    break
                sel = _select_batch(
                    pair_rows, tris, vocab,
                    min(batch, n_merges - len(merges)), pf, tf, tc,
                )
                if not sel:
                    break
                merges.extend(sel)
                vocab.update(l + r for l, r, _ in sel)
                for l, r, _ in sel:  # sequential application, list order
                    segs = {w: apply_rule(s, l, r) for w, s in segs.items()}
            return merges

        rng = random.Random(42)
        for trial in range(300):
            n_words = rng.randint(1, 8)
            alpha = "abc"[: rng.randint(2, 3)]
            wf = {}
            for _ in range(n_words):
                w = "".join(
                    rng.choice(alpha) for _ in range(rng.randint(1, 6))
                )
                wf[w] = wf.get(w, 0) + rng.randint(1, 9)
            n_merges = rng.randint(1, 12)
            batch = rng.choice([2, 4, 8])
            want = bpe.learn_merges_py(wf, n_merges=n_merges)
            got = batched_py(wf, n_merges, batch)
            assert got == want, (trial, wf, n_merges, batch, got, want)

    def test_batching_reduces_counting_passes(self, spark):
        """The probe claim: driver round-trips ∝ n_merges/batch WHEN
        the corpus's top pairs are symbol-disjoint — the multi-domain
        regime (distinct scripts/sub-alphabets, the shape of a real
        multilingual vocab run). On a single-alphabet corpus every top
        pair shares a letter and provably-equal batching rightly
        degenerates to sequential (equality is the contract; the
        speedup is corpus-dependent, like AQE)."""
        import itertools

        # 8 disjoint 2-letter sub-alphabets -> top pairs never share
        # symbols across domains; strictly decreasing freqs kill ties
        alpha = [chr(ord("a") + i) for i in range(16)]
        corpus = {}
        for d, (x, y) in enumerate(zip(alpha[0::2], alpha[1::2])):
            corpus[x + y + x + y] = 100 - 10 * d
        words = spark.createDataFrame(
            list(corpus.items()), "word string, freq long"
        ).localCheckpoint(eager=True)
        wf = dict(corpus)
        expected = bpe.learn_merges_py(wf, n_merges=8)
        seq, _ = bpe.train(words, n_merges=8, batch=1)
        seq_passes = bpe.LAST_TRAIN_PASSES
        bat, _ = bpe.train(words, n_merges=8, batch=8)
        bat_passes = bpe.LAST_TRAIN_PASSES
        assert seq == expected and bat == expected
        assert seq_passes == 8
        assert bat_passes <= 3  # jobs ∝ vocab/batch


class TestScalers:
    def test_zscore_matches_python(self, spark):
        """z_micro recomputed driver-side from the raw column with
        ordinary float math agrees to ±1 micro (the fixed-point grid)."""
        docs = load_table(spark, SF01, "documents").select("doc_id", "lang", "n_chars")
        rows = docs.collect()
        by_lang: dict = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append(r["n_chars"])
        out = {r["doc_id"]: r for r in fe_scaler_suite(spark, SF01).collect()}
        assert len(out) == len(rows)
        for r in rows:
            xs = by_lang[r["lang"]]
            m = sum(xs) / len(xs)
            sd = math.sqrt(sum((x - m) ** 2 for x in xs) / (len(xs) - 1))
            want = (r["n_chars"] - m) / sd * 1e6
            assert abs(out[r["doc_id"]]["z_micro"] - want) <= 1

    def test_minmax_bounds(self, spark):
        vals = [r["mm_micro"] for r in fe_scaler_suite(spark, SF01).collect()]
        assert min(vals) == 0 and max(vals) == 1_000_000

    def test_bins_partition_the_corpus(self, spark):
        rows = fe_quantile_bins(spark, SF01).collect()
        assert sum(r["n_docs"] for r in rows) == 500
        assert {r["bin"] for r in rows} <= set(range(1, 11))
        # bins are ordered and non-overlapping in value space
        by_bin = sorted(rows, key=lambda r: r["bin"])
        for a, b in zip(by_bin, by_bin[1:]):
            assert a["max_chars"] <= b["min_chars"]

    def test_onehot_flags_sum_to_one(self, spark):
        for r in fe_onehot_topk(spark, SF01).collect():
            assert r["f_top1"] + r["f_top2"] + r["f_top3"] + r["f_other"] == 1

    def test_hashed_cross_buckets_cover_rows(self, spark):
        rows = fe_hashed_cross(spark, SF01).collect()
        assert sum(r["n_rows"] for r in rows) == 500
        assert all(0 <= r["bucket"] < 64 for r in rows)
        assert all(r["n_crosses"] >= 1 for r in rows)


class TestAutocorrBm25:
    def test_autocorr_bounded_and_lags_present(self, spark):
        rows = ts_autocorr(spark, SF01).collect()
        assert {r["lag_k"] for r in rows} == {1, 7}
        for r in rows:
            if r["r_micro"] is not None:
                assert -1_000_000 <= r["r_micro"] <= 1_000_000
            assert r["n_pairs"] > 0

    def test_bm25_matches_python(self, spark):
        """Driver-side BM25 recompute (float route) agrees with the
        fixed-point integer-sum route to ±3 nano per term."""
        docs = load_table(spark, SF01, "documents").select("doc_id", "text").collect()
        toks = {r["doc_id"]: [t for t in r["text"].split() if t] for r in docs}
        n = len(toks)
        avgdl = sum(len(v) for v in toks.values()) / n
        terms = ("join", "hash", "scan")
        df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
        scores = {}
        for d, v in toks.items():
            s = 0.0
            for t in terms:
                tf = v.count(t)
                if not tf:
                    continue
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += round(
                    idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * len(v) / avgdl)) * 1e9
                )
            if s:
                scores[d] = s
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        got = [
            (r["doc_id"], r["score_nano"])
            for r in t_bm25_topk(spark, SF01).orderBy("rnk").collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want]
        for (gd, gs), (wd, ws) in zip(got, want):
            assert abs(gs - ws) <= 9

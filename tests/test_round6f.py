"""Tests for SemDeDup semantic dedup (full
numpy recompute of the dominance semantics at sf0.001) and the
dataset card (field-by-field cross-check)."""

from __future__ import annotations

import math

import numpy as np

from oroboro_dw_dbt_spark.dedup.semdedup import IVF_DIM, SEM_PLANES, SEMDEDUP_TAU
from oroboro_dw_dbt_spark.operators.pipeline_suite import ch_dataset_card
from oroboro_dw_dbt_spark.operators.semdedup_suite import dd_semdedup
from oroboro_dw_dbt_spark.similarity.search import lsh_planes
from oroboro_dw_dbt_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


class TestSemDedup:
    def test_matches_numpy_reference(self, spark):
        """Full recompute: bucket = sign-bits of plane dots (identical
        left-assoc summation), removed iff a lower-id same-bucket vector
        has rounded cosine ≥ τ, removed_by = min such id."""
        emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding").collect()
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb}
        planes = lsh_planes(SEM_PLANES, IVF_DIM)

        def bucket(v):
            out = 0
            for p, plane in enumerate(planes):
                dot = 0.0
                for d, w in enumerate(plane):
                    if w != 0.0:
                        dot = dot + v[d] * w
                if dot > 0:
                    out += 2**p
            return out

        bk = {i: bucket(v) for i, v in vecs.items()}
        exp = {}
        for i in sorted(vecs):
            doms = [
                j
                for j in sorted(vecs)
                if j < i
                and bk[j] == bk[i]
                and round(
                    float(np.dot(vecs[j], vecs[i]))
                    / (math.sqrt(float(np.dot(vecs[j], vecs[j])))
                       * math.sqrt(float(np.dot(vecs[i], vecs[i])))),
                    6,
                )
                >= SEMDEDUP_TAU
            ]
            exp[i] = (bk[i], 0 if doms else 1, min(doms) if doms else None)
        got = {
            r["vec_id"]: (r["bucket"], r["keep"], r["removed_by"])
            for r in dd_semdedup(spark, SF).collect()
        }
        assert got == exp

    def test_gemm_fold_parity_and_boundary_margin(self):
        """Structural guard for the GEMM kernel's 'no midpoints'
        argument (ADVICE r07): at the certification SF, (a) GEMM
        pairwise summation and the oracle's sequential left-fold give
        IDENTICAL HALF_UP-6dp cosines for every pair, and (b) the
        closest any |cos|·1e6 lands to a .5 rounding boundary is
        orders of magnitude wider than the summation-order drift —
        so a future corpus that drifts toward a boundary fails here
        BEFORE it can flip a certified hash. No Spark involved: this
        is the kernel's numerics, not its plan."""
        import pyarrow.parquet as pq

        from oroboro_dw_dbt_spark.functions.rounding import np_round_half_up

        df = pq.read_table(f"{SF01}/embeddings.parquet").to_pandas()
        mat = np.stack(df["embedding"].to_numpy()).astype(np.float64)
        n = len(mat)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        nrm[nrm == 0.0] = 1.0
        cos = (mat @ mat.T) / np.outer(nrm, nrm)
        # the oracle's spelling: strict left-to-right sequential folds
        # (np.cumsum accumulates in order; last element IS the fold)
        dots_seq = np.empty((n, n))
        for i in range(n):
            dots_seq[i] = np.cumsum(mat[i] * mat, axis=1)[:, -1]
        nrm_seq = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        nrm_seq[nrm_seq == 0.0] = 1.0
        cos_seq = dots_seq / np.outer(nrm_seq, nrm_seq)
        assert np.array_equal(np_round_half_up(cos), np_round_half_up(cos_seq))
        iu = np.triu_indices(n, 1)
        margin = np.abs(np.abs(cos[iu]) * 1e6 % 1.0 - 0.5).min()
        drift = np.abs(cos - cos_seq).max() * 1e6  # in scaled units
        # measured at r08: margin 1.6e-6, drift 8.9e-10 — 1800×
        assert margin > max(100.0 * drift, 1e-8), (
            f"cosine within {margin} (scaled 1e6) of a .5 boundary while "
            f"summation-order drift is {drift}: HALF_UP decisions are no "
            "longer safely order-independent on this corpus"
        )

    def test_some_removals_at_sf001(self, spark):
        rows = dd_semdedup(spark, SF01).collect()
        kept = sum(r["keep"] for r in rows)
        assert 0 < kept <= len(rows)
        for r in rows:
            if r["keep"]:
                assert r["removed_by"] is None
            else:
                assert r["removed_by"] is not None and r["removed_by"] < r["vec_id"]


class TestDatasetCard:
    def test_fields_cross_check(self, spark):
        card = ch_dataset_card(spark, SF01).collect()[0]
        docs = load_table(spark, SF01, "documents").select(
            "text", "lang", "source", "n_chars"
        ).collect()
        assert card["n_docs"] == len(docs)
        assert card["total_chars"] == sum(r["n_chars"] for r in docs)
        assert card["n_langs"] == len({r["lang"] for r in docs})
        assert card["n_sources"] == len({r["source"] for r in docs})
        toks = [t for r in docs for t in r["text"].split() if t]
        assert card["total_tokens"] == len(toks)
        assert card["vocab_size"] == len(set(toks))
        texts = [r["text"] for r in docs]
        assert card["n_exact_dups"] == len(texts) - len(set(texts))
        assert card["p50_chars_micro"] <= card["p95_chars_micro"]

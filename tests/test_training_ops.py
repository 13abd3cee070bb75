"""Unit tests for the training-data pipeline operators (text analysis,
dedup families, similarity search) on hand-built micro-fixtures plus
recall checks on the real documents/embeddings tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_groups,
)
from oroboro_dw_dbt_spark.similarity import brute_force_topk, lsh_bucketed_topk
from oroboro_dw_dbt_spark.sources.testdata import load_table
from oroboro_dw_dbt_spark.text.analysis import (
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    simhash16,
    token_count,
)

SF = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


class TestTextPrimitives:
    def test_token_counts(self, spark):
        df = _docs(spark, ["one two three", "  padded   tokens  ", "word"])
        out = df.select(token_count("text").alias("n")).collect()
        assert [r["n"] for r in out] == [3, 2, 1]

    def test_bpe_ish_segments(self, spark):
        df = _docs(spark, ["hello, world! x2"])
        # hello , world ! x 2 → 6 segments
        assert df.select(bpe_ish_token_count("text").alias("n")).first()["n"] == 6

    def test_punct_ratio(self, spark):
        df = _docs(spark, ["ab.,", "abcd"])
        out = [r["p"] for r in df.select(punct_ratio("text").alias("p")).collect()]
        assert out == [0.5, 0.0]

    def test_lang_id_heuristic(self, spark):
        df = _docs(
            spark,
            [
                "the cat sat on the mat and it is fine",
                "der hund und die katze ist nicht da",
                "le chat est dans la maison pour que",
                "xyzzy qwerty plugh",
            ],
        )
        out = [r["lang"] for r in df.select(lang_id("text").alias("lang")).collect()]
        assert out == ["en", "de", "fr", "und"]

    def test_fingerprint_normalizes(self, spark):
        df = _docs(spark, ["Hello  World", "hello world", "hello  world "])
        fps = [r["fp"] for r in df.select(doc_fingerprint("text").alias("fp")).collect()]
        assert fps[0] == fps[1] == fps[2]

    def test_quality_score_range(self, spark):
        docs = load_table(spark, SF, "documents")
        bad = docs.select(quality_score("text").alias("q")).filter(
            (F.col("q") < 0) | (F.col("q") > 1)
        )
        assert bad.count() == 0

    def test_simhash_deterministic_and_16bit(self, spark):
        df = _docs(spark, ["spark filter join", "spark filter join", "other words here"])
        out = [r["s"] for r in df.select(simhash16("text").alias("s")).collect()]
        assert out[0] == out[1] != out[2]
        assert all(0 <= s < 2**16 for s in out)


class TestDedup:
    def test_exact_dedup_collapses_case_and_spacing(self, spark):
        df = _docs(spark, ["Alpha  Beta", "alpha beta", "gamma delta"])
        out = exact_dedup(df).orderBy("keep_doc_id").collect()
        assert len(out) == 2
        assert out[0]["keep_doc_id"] == 0 and out[0]["n_dups"] == 2

    def test_ngram_jaccard_finds_planted_pair(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
        far = "one two three four five six seven eight nine ten"
        df = _docs(spark, [base, near, far])
        pairs = ngram_jaccard_pairs(df, threshold=0.3).collect()
        assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(0, 1)]
        assert 0.3 < pairs[0]["jaccard"] < 1.0

    def test_minhash_lsh_recovers_ngram_pairs(self, spark):
        """LSH candidates ⊇ high-jaccard pairs on the real corpus: every
        pair with jaccard ≥ 0.5 must surface through the band join
        (4 bands × 2 rows → collision probability 1-(1-j²)⁴ ≈ .97 at j=.7,
        and the driver's planted dups sit well above that)."""
        docs = load_table(spark, SF, "documents")
        lsh = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
        }
        assert lsh, "planted near-dups must be found"
        assert all(j >= 0.5 for j in lsh.values())

    def test_lsh_victims_subset_of_pair_victims(self, spark):
        """victims(star) ⊆ victims(pairs) by construction (star edges ⊆
        all bucket pairs, identical verify), and the planted dups in the
        real corpus still fall."""
        docs = load_table(spark, SF, "documents")
        from oroboro_dw_dbt_spark.dedup import minhash_lsh_victims

        star = {r["doc_id"] for r in minhash_lsh_victims(docs).collect()}
        pairw = {
            r["doc_b"] for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
        }
        assert star, "planted near-dups must fall under the star spelling"
        assert star <= pairw

    def test_lsh_victims_equal_on_mutual_clusters(self, spark):
        """On mutually-similar clusters (the case dedup exists for) the
        star spelling removes EXACTLY what the pair spelling removes:
        every non-min member of each cluster."""
        from oroboro_dw_dbt_spark.dedup import minhash_lsh_victims

        c1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        c2 = "one two three four five six seven eight nine ten"
        rows = [c1, c1, c1, c2, c2, "lone wolf document totally unlike others"]
        df = _docs(spark, rows)
        star = {r["doc_id"] for r in minhash_lsh_victims(df).collect()}
        pairw = {
            r["doc_b"] for r in minhash_lsh_pairs(df, threshold=0.5).collect()
        }
        assert star == pairw == {1, 2, 4}

    def test_lsh_victims_hash_verify_equals_string_verify(self, spark):
        """The compact bigint verify (vh, 60-bit md5 prefixes carried
        from the signature pass) removes EXACTLY the docs the raw
        shingle-string verify (the r09 spelling) removes — 60-bit
        collisions are the only divergence channel. Pins the claim the
        dd_minhash_lsh_star oracle comment makes."""
        from oroboro_dw_dbt_spark.dedup import minhash_lsh_victims
        from oroboro_dw_dbt_spark.dedup.dedup import minhash_band_index
        from oroboro_dw_dbt_spark.text.analysis import shingles

        docs = load_table(spark, "/root/testdata/sf0.01", "documents")
        index = minhash_band_index(docs)
        rep = index.groupBy("band", "band_key").agg(F.min("doc_id").alias("rep"))
        edges = (
            index.join(rep, ["band", "band_key"])
            .where(F.col("doc_id") > F.col("rep"))
            .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
            .dropDuplicates()
        )
        sh = docs.select("doc_id", shingles("text", 3).alias("sh"))
        jac = (
            F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))).cast("double")
            / F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh")))
        )
        string_victims = {
            r["doc_id"]
            for r in (
                edges.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
                .join(sh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
                .filter(F.round(jac, 6) >= 0.5)
                .select(F.col("doc_b").alias("doc_id"))
                .distinct()
                .collect()
            )
        }
        hash_victims = {r["doc_id"] for r in minhash_lsh_victims(docs).collect()}
        assert hash_victims, "planted near-dups must fall"
        assert hash_victims == string_victims

    def test_ckpt_scan_width_rule(self, spark):
        """Optimization r13: downstream consumers scan the corpus
        checkpoints at a width sized from carried bytes (~8 MB/task),
        never wider than the checkpoint — at tiny SF that collapses
        the 2×cores md5 width to a handful of scan tasks (477 → ~94
        tasks at sf0.1); at sf30+ the rule returns ≥ the inherited
        width and is a no-op. Victims are width-independent: pinned
        here against an explicit approx_docs (which drives the rule)
        and by the spellings-identical test below."""
        from oroboro_dw_dbt_spark.dedup import minhash_lsh_victims
        from oroboro_dw_dbt_spark.engine.materialize import _ckpt_scan_width

        assert _ckpt_scan_width(5_000, 720, 64) == 1  # 3.6 MB -> 1
        assert _ckpt_scan_width(200_000, 720, 64) == 18  # 144 MB -> 18
        assert _ckpt_scan_width(5_000_000, 720, 64) == 64  # clamped
        assert _ckpt_scan_width(0, 720, 64) == 1  # floor
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        auto = {r["doc_id"] for r in minhash_lsh_victims(docs).collect()}
        wide = {
            r["doc_id"]
            for r in minhash_lsh_victims(
                docs, approx_docs=10_000_000  # forces inherited width
            ).collect()
        }
        assert auto == wide and auto

    def test_lsh_victims_verify_spellings_identical(self, spark):
        """carry (corpus vh checkpoint) and reshingle (bounded
        candidate re-scan) are two physical plans for ONE function —
        victims must be identical, at any checkpoint level."""
        from oroboro_dw_dbt_spark.dedup import minhash_lsh_victims

        docs = load_table(spark, "/root/testdata/sf0.01", "documents")
        carry = {r["doc_id"] for r in minhash_lsh_victims(docs).collect()}
        reshingle = {
            r["doc_id"]
            for r in minhash_lsh_victims(docs, verify="reshingle").collect()
        }
        disk = {
            r["doc_id"]
            for r in minhash_lsh_victims(
                docs, verify="reshingle", checkpoint_level="disk"
            ).collect()
        }
        # carry+disk: the exact path the sf1000 pipeline rung takes
        # (base = localCheckpoint(DISK_ONLY)) — ADVICE r10 flagged it
        # as the one spelling×level combination with no coverage
        carry_disk = {
            r["doc_id"]
            for r in minhash_lsh_victims(
                docs, verify="carry", checkpoint_level="disk"
            ).collect()
        }
        assert carry and carry == reshingle == disk == carry_disk
        with pytest.raises(ValueError):
            minhash_lsh_victims(docs, verify="nope")
        # ADVICE r10: a checkpoint_level typo ('DISK', 'disk_only')
        # used to silently map to default storage — now it raises
        with pytest.raises(ValueError):
            minhash_lsh_victims(docs, checkpoint_level="DISK")

    def test_lsh_auto_spelling_decision(self, spark):
        """The auto decision rule (VERDICT r10 Next #4), pinned at the
        two operating points it exists for: a corpus whose carry state
        fits 25% of executor storage → carry+memory (the sf30 rung); a
        50 M-doc corpus on this 24 g box → reshingle+disk (sf1000)."""
        from oroboro_dw_dbt_spark.dedup.dedup import (
            auto_lsh_spelling,
            minhash_lsh_victims,
        )

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        v, ckpt, rec = auto_lsh_spelling(docs, 50_000)  # ~sf1 size
        assert (v, ckpt) == ("carry", None)
        v, ckpt, rec = auto_lsh_spelling(docs, 50_000_000)  # sf1000
        assert (v, ckpt) == ("reshingle", "disk")
        assert rec["carry_state_bytes"] > rec["storage_budget_bytes"]
        # end-to-end: auto resolves and produces the same victims
        auto = {
            r["doc_id"]
            for r in minhash_lsh_victims(
                docs, verify="auto", checkpoint_level="auto"
            ).collect()
        }
        plain = {r["doc_id"] for r in minhash_lsh_victims(docs).collect()}
        assert auto == plain

    def test_parse_mem_spellings(self):
        """ADVICE r11 (medium): Spark accepts '4gb'/'512mb'/'1tb' and
        '1b' everywhere a memory conf goes — parse_mem must too, or
        verify='auto' crashes on a valid spark.executor.memory."""
        from oroboro_dw_dbt_spark.session import parse_mem

        assert parse_mem("4g") == 4 << 30
        assert parse_mem("4gb") == 4 << 30
        assert parse_mem("512mb") == 512 << 20
        assert parse_mem("1tb") == 1 << 40
        assert parse_mem("64kb") == 64 << 10
        assert parse_mem("1b") == 1
        assert parse_mem("1048576") == 1 << 20
        assert parse_mem(" 24G ") == 24 << 30
        assert parse_mem("1.5g") == int(1.5 * (1 << 30))

    def test_default_verify_is_auto_and_heap_gate(self, spark, monkeypatch):
        """VERDICT r11 Next #5: the library default must not preserve
        the sf1000 OOM path — minhash_lsh_victims() with no args
        resolves the spelling via the auto rule. Plus the broadcast
        heap gate (ADVICE r11), BEHAVIORALLY: with the normal heap the
        candidate reduction takes the F.broadcast hint; with the heap
        forced tiny the gate must skip the hint (shuffled semi-join
        fallback) and victims must be identical — the fallback is a
        pure filter, never an OOM."""
        import inspect

        import oroboro_dw_dbt_spark.dedup.dedup as dd

        sig = inspect.signature(dd.minhash_lsh_victims)
        assert sig.parameters["verify"].default == "auto"
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")

        calls = []
        real_broadcast = dd.F.broadcast
        monkeypatch.setattr(
            dd.F, "broadcast",
            lambda df: calls.append(1) or real_broadcast(df),
        )
        heap = dd._per_jvm_heap_bytes(docs)
        assert heap > 0
        dflt = {r["doc_id"] for r in dd.minhash_lsh_victims(docs).collect()}
        assert dflt and calls  # normal heap: the hint fires
        # force the gate shut: even 1 candidate row must not broadcast
        calls.clear()
        monkeypatch.setattr(dd, "_per_jvm_heap_bytes", lambda df: 1)
        gated = {r["doc_id"] for r in dd.minhash_lsh_victims(docs).collect()}
        assert not calls  # tiny heap: hint skipped, fallback ran
        assert gated == dflt  # the reduction is a pure filter
        carry = {
            r["doc_id"]
            for r in dd.minhash_lsh_victims(docs, verify="carry").collect()
        }
        assert dflt == carry  # auto resolves to carry at this SF

    def test_verify_out_matches_direct_hash(self, spark):
        """with_minhash_signature(verify_out=…) emits the distinct
        60-bit md5 prefixes of the '0|'-salted shingles — the same
        values a direct conv(substr(md5,1,15),16,10) computes."""
        from oroboro_dw_dbt_spark.text.analysis import (
            shingles,
            with_minhash_signature,
        )

        df = _docs(spark, ["alpha beta gamma delta epsilon zeta"])
        sh = df.select("doc_id", shingles("text", 3).alias("sh"))
        got = with_minhash_signature(sh, "sh", 8, out="sig", verify_out="vh")
        direct = sh.select(
            F.array_distinct(
                F.transform(
                    "sh",
                    lambda s: F.conv(
                        F.substring(F.md5(F.concat(F.lit("0|"), s)), 1, 15), 16, 10
                    ).cast("bigint"),
                )
            ).alias("d")
        ).collect()[0]["d"]
        vh = got.collect()[0]["vh"]
        assert vh == direct
        assert got.schema["vh"].dataType.simpleString() == "array<bigint>"
        assert all(isinstance(x, int) and 0 <= x < 2**60 for x in vh)

    def test_simhash_groups_only_multi(self, spark):
        df = _docs(spark, ["same token set", "token same set", "different things entirely"])
        groups = simhash_groups(df).collect()
        # docs 0 and 1 share the token SET → identical simhash
        assert len(groups) == 1 and groups[0]["n_docs"] == 2


class TestSimilarity:
    def test_bruteforce_topk_shape(self, spark):
        emb = load_table(spark, SF, "embeddings")
        out = brute_force_topk(emb, [0, 1], k=3)
        rows = out.collect()
        assert len(rows) == 6
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for q, rs in by_q.items():
            ranks = [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])]
            assert ranks == [1, 2, 3]
            cosines = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
            assert cosines == sorted(cosines, reverse=True)
            assert all(r["vec_id"] != q for r in rs)

    def test_lsh_results_subset_of_bucket_and_exact_cosine(self, spark):
        """Every LSH hit must carry the same cosine the brute-force path
        computes (the bucket only restricts candidates, never rescores)."""
        emb = load_table(spark, SF, "embeddings")
        brute = {
            (r["query_id"], r["vec_id"]): r["cosine"]
            for r in brute_force_topk(emb, [0, 1, 2], k=200).collect()
        }
        lsh = lsh_bucketed_topk(emb, [0, 1, 2], k=5).collect()
        for r in lsh:
            key = (r["query_id"], r["vec_id"])
            if key in brute:  # brute k=200 may truncate below LSH hits
                assert brute[key] == pytest.approx(r["cosine"], abs=1e-9)


class TestMatmulTopK:
    def test_matmul_equals_bruteforce_exactly(self, spark):
        """The BLAS batch path is an exact algorithm: its (rounded)
        output must be row-identical to the codegen expression path."""
        from oroboro_dw_dbt_spark.similarity import matmul_topk

        emb = load_table(spark, SF, "embeddings")
        qids = [0, 1, 2, 3, 4, 5, 6, 7]
        key = lambda r: (r.query_id, r.rank)  # noqa: E731
        exact = sorted(brute_force_topk(emb, qids, k=5).collect(), key=key)
        blas = sorted(matmul_topk(emb, qids, k=5).collect(), key=key)
        assert [tuple(r) for r in blas] == [tuple(r) for r in exact]

    def test_matmul_wide_vectors_and_batch_pruning(self, spark):
        """512-dim synthetic corpus across many partitions: batch-local
        top-k pruning must still merge to the global exact answer."""
        import math

        from oroboro_dw_dbt_spark.similarity import matmul_topk

        rows = [
            (i, [round(math.sin(i * 131 + d * 7 + 1), 6) for d in range(512)])
            for i in range(300)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).repartition(8)
        key = lambda r: (r.query_id, r.rank)  # noqa: E731
        exact = sorted(brute_force_topk(emb, [3, 11], k=4).collect(), key=key)
        blas = sorted(matmul_topk(emb, [3, 11], k=4).collect(), key=key)
        assert [(r.query_id, r.vec_id, r.rank) for r in blas] == [
            (r.query_id, r.vec_id, r.rank) for r in exact
        ]
        for b, e in zip(blas, exact):
            assert b.cosine == pytest.approx(e.cosine, abs=2e-6)

    def test_lsh_matmul_equals_lsh_expression_path(self, spark):
        """The composed plan (bucket restriction + per-bucket GEMM) must
        be row-identical to the expression-tree LSH top-k."""
        from oroboro_dw_dbt_spark.similarity import lsh_matmul_topk

        emb = load_table(spark, SF, "embeddings")
        qids = [0, 1, 2, 3, 4]
        key = lambda r: (r.query_id, r.rank)  # noqa: E731
        expr = sorted(lsh_bucketed_topk(emb, qids, k=5).collect(), key=key)
        gemm = sorted(lsh_matmul_topk(emb, qids, k=5).collect(), key=key)
        assert [tuple(r) for r in gemm] == [tuple(r) for r in expr]

    def test_matmul_query_cap(self, spark):
        from oroboro_dw_dbt_spark.similarity import matmul_topk

        emb = load_table(spark, SF, "embeddings")
        with pytest.raises(ValueError, match="max_queries"):
            matmul_topk(emb, list(range(100)), k=5, max_queries=8)


class TestPrefixFilterJoin:
    def test_lossless_vs_naive_all_pairs(self, spark):
        """Prefix filtering must find EXACTLY the pairs the naive
        all-pairs token-Jaccard join finds — the filter's defining
        guarantee (unlike LSH, zero false negatives)."""
        from oroboro_dw_dbt_spark.dedup import prefix_filter_pairs

        docs = load_table(spark, SF, "documents")
        t = 0.7
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in prefix_filter_pairs(docs, threshold=t).collect()
        }
        toks = docs.select(
            "doc_id", F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("ts")
        )
        a, b = toks.alias("a"), toks.alias("b")
        jac = F.size(F.array_intersect("a.ts", "b.ts")).cast("double") / F.size(
            F.array_union("a.ts", "b.ts")
        )
        naive = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.round(jac, 6).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= t)
            .collect()
        }
        assert got == naive
        assert naive, "fixture must contain similar pairs for the test to bite"


class TestRingNegatives:
    def test_deterministic_no_self_exact_k(self, spark):
        from oroboro_dw_dbt_spark.ops import ring_negatives

        docs = load_table(spark, SF, "documents")
        a = ring_negatives(docs, ["doc_id"], k=2, n_bands=16).collect()
        b = ring_negatives(docs, ["doc_id"], k=2, n_bands=16).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # retry-stable
        assert all(r.doc_id != r.neg_doc_id for r in a)
        per_doc = {}
        for r in a:
            per_doc.setdefault(r.doc_id, set()).add((r.neg_doc_id, r.slot))
        # per-doc draw count follows ring size exactly: a band of n rows
        # yields min(k, n-1) negatives (wrap hits self, which is
        # filtered) — recompute band sizes independently in Python
        import hashlib
        from collections import Counter

        ids = [r.doc_id for r in docs.select("doc_id").collect()]
        band_of = {
            i: int(hashlib.md5(f"v1|{i}".encode()).hexdigest()[:2], 16) % 16
            for i in ids
        }
        sizes = Counter(band_of.values())
        for i in ids:
            expect = min(2, sizes[band_of[i]] - 1)
            assert len(per_doc.get(i, ())) == expect, (i, expect)
        assert sum(map(len, per_doc.values())) > 0

    def test_k_guard(self, spark):
        from oroboro_dw_dbt_spark.ops import ring_negatives

        with pytest.raises(ValueError, match="k must be"):
            ring_negatives(load_table(spark, SF, "documents"), ["doc_id"], k=0)

    def test_small_band_does_not_wrap_past_self(self, spark):
        """Band of 2 rows with k=3: the ring would wrap and re-emit the
        single partner under slot 3 (round-4 advice). Slots are capped
        at n-1, so each row draws exactly one distinct negative."""
        from oroboro_dw_dbt_spark.ops import ring_negatives

        df = spark.createDataFrame([(1,), (2,)], "doc_id long")
        rows = ring_negatives(df, ["doc_id"], k=3, n_bands=1).collect()
        pairs = [(r.doc_id, r.neg_doc_id) for r in rows]
        assert sorted(pairs) == [(1, 2), (2, 1)]
        assert len(pairs) == len(set(pairs))  # no duplicate (doc, neg)
        assert all(r.slot == 1 for r in rows)


class TestBatchScore:
    def test_matches_column_expression_exactly(self, spark):
        """The Arrow kernel must agree with the same sigmoid written as
        a JVM Column expression — certifying the feature-matrix
        roundtrip (dtype + batching) adds no numeric drift."""
        from oroboro_dw_dbt_spark.ml import batch_score

        df = spark.range(10_000).select(
            "id",
            (F.col("id") % 37 / 10.0).alias("a"),
            (F.col("id") % 11 / 7.0).alias("b"),
        )
        got = {
            r.id: r.score
            for r in batch_score(
                df, ["id"], ["a", "b"], weights=[0.3, -1.1], bias=0.25
            ).collect()
        }
        want = {
            r.id: r.score
            for r in df.select(
                "id",
                F.round(
                    1.0 / (1.0 + F.exp(-(0.3 * F.col("a") - 1.1 * F.col("b") + 0.25))),
                    6,
                ).alias("score"),
            ).collect()
        }
        assert got == want

    def test_weight_arity_guard(self, spark):
        from oroboro_dw_dbt_spark.ml import batch_score

        df = spark.range(5).select("id", F.lit(1.0).alias("a"))
        with pytest.raises(ValueError, match="weights"):
            batch_score(df, ["id"], ["a"], weights=[1.0, 2.0], bias=0.0)


class TestIVF:
    def test_ivf_recall_and_score_exactness(self, spark):
        from oroboro_dw_dbt_spark.similarity import brute_force_topk, ivf_topk
        from oroboro_dw_dbt_spark.sources.testdata import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        qids = [0, 7, 42]
        exact = brute_force_topk(emb, qids, k=5)
        approx = ivf_topk(emb, qids, k=5, n_centroids=8, n_probe=3)
        e = {(r.query_id, r.vec_id): r.cosine for r in exact.collect()}
        a = {(r.query_id, r.vec_id): r.cosine for r in approx.collect()}
        # every IVF cosine must equal the exact cosine for that pair
        for pair, cos in a.items():
            if pair in e:
                assert abs(cos - e[pair]) < 1e-9
        # probing 3/8 cells must still recover most true neighbors
        recall = len(set(a) & set(e)) / len(e)
        assert recall >= 0.5, recall


class TestMultiProbe:
    def test_multiprobe_candidates_superset_of_single_bucket(self, spark):
        """Probing Hamming-1 buckets can only ADD candidates, so every
        single-bucket hit survives or is displaced by a better one —
        per-query recall vs brute force must not go down."""
        from oroboro_dw_dbt_spark.similarity import (
            brute_force_topk,
            lsh_bucketed_topk,
            lsh_multiprobe_topk,
        )

        emb = load_table(spark, SF, "embeddings")
        qids = [0, 1, 2, 3, 4]
        truth = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, qids, k=5).collect()}
        single = {(r.query_id, r.vec_id) for r in lsh_bucketed_topk(emb, qids, k=5).collect()}
        multi = {(r.query_id, r.vec_id) for r in lsh_multiprobe_topk(emb, qids, k=5).collect()}
        for q in qids:
            tq = {p for p in truth if p[0] == q}
            sq = len({p for p in single if p[0] == q} & tq)
            mq = len({p for p in multi if p[0] == q} & tq)
            assert mq >= sq, f"query {q}: multiprobe recall {mq} < single {sq}"


class TestSimhashHamming:
    def test_hamming_pairs_cover_groups_and_near_misses(self, spark):
        """Hamming≤1 pairs must include every within-group (Hamming-0)
        pair of dd_simhash, plus only pairs whose fingerprints really
        differ by at most one bit."""
        from itertools import combinations

        from oroboro_dw_dbt_spark.dedup import simhash_hamming_pairs
        from oroboro_dw_dbt_spark.text.analysis import simhash16

        docs = load_table(spark, SF, "documents")
        fp = {r.doc_id: r.h for r in docs.select("doc_id", simhash16("text").alias("h")).collect()}
        got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_hamming_pairs(docs, k=1).collect()}
        expected = {
            (a, b): bin(fp[a] ^ fp[b]).count("1")
            for a, b in combinations(sorted(fp), 2)
            if bin(fp[a] ^ fp[b]).count("1") <= 1
        }
        assert got == expected


class TestInt8Quantize:
    def test_codes_and_error_bound(self, spark):
        from oroboro_dw_dbt_spark.similarity import int8_quantize

        emb = spark.createDataFrame(
            [(0, [1.0, -2.0, 0.5]), (1, [0.0, 0.0, 0.0]), (2, [127.0])],
            "vec_id long, embedding array<float>",
        )
        out = {r["vec_id"]: r for r in int8_quantize(emb).collect()}
        # scale = 127/2 = 63.5; codes = [64, -127, 32] (floor(31.75+0.5)=32)
        assert out[0]["scale"] == 63.5
        # zero vector: scale 1.0, zero error
        assert out[1]["scale"] == 1.0 and out[1]["mae"] == 0.0
        assert out[2]["scale"] == 1.0 and out[2]["mae"] == 0.0

    def test_mae_bounded_by_half_scale(self, spark):
        from oroboro_dw_dbt_spark.similarity import int8_quantize
        from oroboro_dw_dbt_spark.sources.testdata import load_table

        emb = load_table(spark, SF, "embeddings")
        bad = (
            int8_quantize(emb)
            .filter(F.col("mae") > 0.5 / F.col("scale") + 1e-9)
            .count()
        )
        assert bad == 0


class TestLabelCentroids:
    def test_elementwise_mean(self, spark):
        from oroboro_dw_dbt_spark.similarity import label_centroids

        emb = spark.createDataFrame(
            [(0, [1.0, 2.0], 7), (1, [3.0, 4.0], 7), (2, [10.0, 20.0], 8)],
            "vec_id long, embedding array<float>, label int",
        )
        out = {r["label"]: r for r in label_centroids(emb).collect()}
        assert out[7]["n_vectors"] == 2 and out[7]["centroid"] == [2.0, 3.0]
        assert out[8]["n_vectors"] == 1 and out[8]["centroid"] == [10.0, 20.0]

    def test_order_independence(self, spark):
        from oroboro_dw_dbt_spark.similarity import label_centroids
        from oroboro_dw_dbt_spark.sources.testdata import load_table

        emb = load_table(spark, SF, "embeddings")
        a = {r["label"]: r["centroid"] for r in label_centroids(emb).collect()}
        b = {
            r["label"]: r["centroid"]
            for r in label_centroids(emb.repartition(13)).collect()
        }
        assert a == b  # exact equality — integer sums don't care about order


class TestBlockedFuzzyMatch:
    def test_blocking_and_distance(self, spark):
        from oroboro_dw_dbt_spark.dedup import blocked_fuzzy_match

        master = spark.createDataFrame(
            [(1, "Acme Corp 0001"), (2, "Bolt Ltd 0002")], "id long, name string"
        )
        dirty = spark.createDataFrame(
            [
                (10, "Acme Crop 0001"),   # transposition, dist 2, same block
                (11, "Acme Corp 0002"),   # blocks with master 2 but dist > 2
                (12, "Zzz 9999"),         # no block partner
            ],
            "id long, name string",
        )
        out = blocked_fuzzy_match(
            dirty, master, lambda c: F.substring(c, -4, 4), max_dist=2
        ).collect()
        pairs = {(r["dirty_id"], r["master_id"]): r["dist"] for r in out}
        assert pairs == {(10, 1): 2}


class TestDataSelectionSignals:
    """Round-10 additions: DSIR importance weights + char entropy."""

    def test_dsir_target_docs_score_higher(self, spark):
        """On a corpus whose target domain has a DISTINCT vocabulary,
        docs from the target (lexicographically-min) source must score
        a higher per-feature log importance weight than off-domain
        docs — the defining property of the likelihood-ratio score.
        (The driver's synthetic corpus draws every source from the
        same distribution, so the ratio is ~flat there; the oracle
        gate pins exactness, this pins the semantics.)"""
        import tempfile

        from oroboro_dw_dbt_spark.operators.training_suite import t_dsir_weights

        wiki = "alpha beta gamma delta epsilon zeta eta theta"
        web = "one two three four five six seven eight"
        rows = [
            (i, wiki if i < 4 else web, "en", "aa_wiki" if i < 4 else "zz_web", 40)
            for i in range(10)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/documents.parquet")
            out = {
                r["doc_id"]: r["log_weight"] / r["n_features"]
                for r in t_dsir_weights(spark, d).collect()
            }
        tgt_scores = {out[i] for i in range(4)}
        off_scores = {out[i] for i in range(4, 10)}
        assert min(tgt_scores) > max(off_scores)

    def test_dsir_deterministic(self, spark):
        from oroboro_dw_dbt_spark.operators.training_suite import t_dsir_weights

        sf = "/root/testdata/sf0.001"
        a = {r["doc_id"]: r["log_weight"] for r in t_dsir_weights(spark, sf).collect()}
        b = {r["doc_id"]: r["log_weight"] for r in t_dsir_weights(spark, sf).collect()}
        assert a == b and a

    def test_char_entropy_known_values(self, spark):
        """aaaa → 0 bits; abab → exactly 1 bit; abcd → exactly 2."""
        from oroboro_dw_dbt_spark.operators import training_suite as ts

        df = _docs(spark, ["aaaa", "abab", "abcd"])
        # reuse the builder's Column pipeline on a micro frame by
        # monkey-free inlining: route through the same entry at a tmp
        # parquet dir
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/documents.parquet")
            out = {
                r["doc_id"]: r["char_entropy_bits"]
                for r in ts.t_char_entropy(spark, d).collect()
            }
        assert out[0] == 0.0
        assert out[1] == 1.0
        assert out[2] == 2.0

    def test_char_entropy_drops_empty_docs(self, spark):
        """ADVICE r10 (medium): Spark's sequence(1, 0) is DESCENDING
        ([1, 0]), so an unguarded transform exploded an empty doc into
        two '' chars (n_chars_counted=2, entropy 0) while the DuckDB
        oracle's range(1, 1) dropped it — a latent hash-gate break the
        moment a corpus contains an empty doc. The guard must drop
        empty (and null) docs to match the oracle."""
        from oroboro_dw_dbt_spark.operators import training_suite as ts

        import tempfile

        df = spark.createDataFrame(
            [(0, "abab", "en", "s", 4), (1, "", "en", "s", 0),
             (2, None, "en", "s", 0)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/documents.parquet")
            out = {
                r["doc_id"]: r["char_entropy_bits"]
                for r in ts.t_char_entropy(spark, d).collect()
            }
        assert out == {0: 1.0}

    def test_quantized_log_inputs_clear_rounding_boundaries(self, spark):
        """ADVICE r10: floor(log(x)·1e6 + 0.5) has a cross-engine flip
        channel — a last-ulp libm difference between DuckDB and the
        JVM flips the bucket when log(x)·1e6 + 0.5 lands within an ulp
        of an integer. This pins, at the GATE corpora, that every
        quantizer input clears the nearest boundary by ≥ 8 ulps, so a
        ≤1-ulp libm divergence cannot flip a certified hash. Accepted
        failure mode (documented here, per the advice): a future
        corpus whose ratio lands inside that band would need the
        quantum bumped or the entry relaxed to a rows-only check —
        this test is the tripwire that says so BEFORE the driver gate
        reddens."""
        import numpy as np

        from oroboro_dw_dbt_spark.operators.training_suite import _DSIR_B

        def min_boundary_ulps(vals):
            v = np.asarray(sorted(set(vals)), dtype=np.float64)
            if len(v) == 0:
                return np.inf
            dist = np.abs(v - np.rint(v))
            ulp = np.spacing(np.abs(v) + 1.0)
            return float((dist / ulp).min())

        for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
            docs = load_table(spark, sf, "documents")
            # char entropy: log2 runs on distinct per-doc char counts
            # and per-doc totals — exact integers on both engines
            counts = (
                docs.select(
                    "doc_id",
                    F.explode(
                        F.expr(
                            "CASE WHEN length(text) > 0 THEN"
                            " transform(sequence(1, length(text)),"
                            " i -> substring(text, i, 1))"
                            " ELSE CAST(array() AS array<string>) END"
                        )
                    ).alias("c"),
                )
                .groupBy("doc_id", "c")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            cnts = {r["cnt"] for r in counts.select("cnt").distinct().collect()}
            ns = {
                r["n"]
                for r in counts.groupBy("doc_id")
                .agg(F.sum("cnt").alias("n"))
                .select("n")
                .distinct()
                .collect()
            }
            ent_inputs = [np.log2(float(x)) * 1e6 + 0.5 for x in cnts | ns]
            assert min_boundary_ulps(ent_inputs) >= 8.0

            # DSIR: ln runs on the exact-integer smoothed ratio
            from oroboro_dw_dbt_spark.operators.training_suite import (
                _dsir_bucket,
                tokens,
            )

            feats = docs.select(
                "doc_id", "source", F.explode(tokens("text")).alias("t")
            ).withColumn("b", _dsir_bucket(F.col("t")))
            tgt_src = docs.agg(F.min("source").alias("s"))
            raw = feats.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
            tgt = (
                feats.join(F.broadcast(tgt_src), F.col("source") == F.col("s"))
                .groupBy("b")
                .agg(F.count(F.lit(1)).alias("ct"))
            )
            n_r = raw.agg(F.sum("cr")).collect()[0][0]
            n_t = tgt.agg(F.sum("ct")).collect()[0][0] or 0
            pairs = {
                (r["cr"], r["ct"] or 0)
                for r in raw.join(tgt, "b", "left").collect()
            }
            lr_inputs = [
                np.log(
                    float((ct + 1) * (n_r + _DSIR_B))
                    / float((cr + 1) * (n_t + _DSIR_B))
                )
                * 1e6
                + 0.5
                for cr, ct in pairs
            ]
            assert min_boundary_ulps(lr_inputs) >= 8.0

    def test_char_entropy_bounded_on_corpus(self, spark):
        from oroboro_dw_dbt_spark.operators import training_suite as ts

        rows = ts.t_char_entropy(spark, "/root/testdata/sf0.001").collect()
        assert rows
        for r in rows:
            assert 0.0 <= r["char_entropy_bits"] <= 8.0
            assert r["distinct_chars"] <= r["n_chars_counted"]

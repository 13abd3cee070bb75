"""Catalog entries for the training-data pipeline operators:
text analysis, BPE tokenizer training, deduplication (exact / n-gram /
MinHash-LSH / SimHash / embedding-cosine / containment / URL-canonical,
with LSH recall censuses), similarity search (brute-force +
LSH-bucketed), and leakage-safe splits and hard-negative mining.

Every oracle is an independent DuckDB statement of the same math. The
cross-engine determinism rules:

- hashing is md5-only (hex strings are identical everywhere; engine
  hash() functions are not);
- float outputs are ROUND(x, 6) on both sides before compare/order;
- the LSH hyperplanes are Python-side literal constants (search.py)
  embedded into both the Spark plan and the SQL text;
- shingling/banding index arithmetic is mirrored 0-based (Spark) vs
  1-based (DuckDB) with the same element count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oroboro_dw_dbt_spark.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_band_index,
    minhash_lsh_pairs,
    minhash_lsh_victims,
    ngram_jaccard_pairs,
    simhash_groups,
)
from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.similarity import brute_force_topk, lsh_bucketed_topk, lsh_planes
from oroboro_dw_dbt_spark.sources.testdata import load_table
from oroboro_dw_dbt_spark.text import bpe
from oroboro_dw_dbt_spark.text.analysis import (
    BPE_ISH_PATTERN,
    LANG_STOPWORDS,
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    min_shingle_fingerprint,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
)

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (the text-analysis primitives' twins)
# ---------------------------------------------------------------------------
_TOKS = "string_split_regex(trim(text), '\\s+')"
_SHINGLES_3 = (
    f"CASE WHEN len({_TOKS}) >= 3 THEN list_distinct(list_transform("
    f"range(1, len({_TOKS}) - 1),"
    f" i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]))"
    f" ELSE [array_to_string({_TOKS}, ' ')] END"
)


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _hits_sql(lang: str) -> str:
    return f"len(list_filter({_TOKS}, x -> list_contains({_sql_list(LANG_STOPWORDS[lang])}, x)))"


QUERY_VEC_IDS = [0, 1, 2, 3, 4, 5, 6, 7]


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@query(
    "t_text_profile",
    oracle=f"""
    SELECT
      doc_id,
      CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
      CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
      round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
            * 1.0 / length(text), 6) AS punct_ratio,
      round({_hits_sql('en')} * 1.0 / len({_TOKS}), 6) AS stopword_ratio,
      round(0.3 * (CASE WHEN len({_TOKS}) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END)
          + 0.2 * (CASE WHEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                             * 1.0 / length(text) < 0.2 THEN 1.0 ELSE 0.0 END)
          + 0.2 * (CASE WHEN {_hits_sql('en')} > 0 THEN 1.0 ELSE 0.0 END)
          + 0.3 * (len(list_distinct({_TOKS})) * 1.0 / len({_TOKS})), 6) AS quality,
      CASE WHEN {_hits_sql('en')} + {_hits_sql('de')} + {_hits_sql('fr')} + {_hits_sql('es')} = 0
             THEN 'und'
           WHEN {_hits_sql('en')} >= {_hits_sql('de')} AND {_hits_sql('en')} >= {_hits_sql('fr')}
                AND {_hits_sql('en')} >= {_hits_sql('es')} THEN 'en'
           WHEN {_hits_sql('de')} >= {_hits_sql('fr')} AND {_hits_sql('de')} >= {_hits_sql('es')}
             THEN 'de'
           WHEN {_hits_sql('fr')} >= {_hits_sql('es')} THEN 'fr'
           ELSE 'es' END AS lang_pred,
      md5(array_to_string(list_transform({_TOKS}, x -> lower(x)), ' ')) AS fingerprint,
      list_aggregate(list_transform({_SHINGLES_3}, s -> md5(s)), 'min') AS shingle_fp
    FROM documents
    """,
    survey_ref="beyond-reference: text analysis (lang-ID, quality, tokens, fingerprints)",
)
def t_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One scan, zero shuffles, zero UDFs — every signal is a Column tree
    # evaluated inside whole-stage codegen.
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("bigint").alias("n_tokens"),
        bpe_ish_token_count("text").cast("bigint").alias("n_bpe_tokens"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(stopword_ratio("text"), 6).alias("stopword_ratio"),
        quality_score("text").alias("quality"),
        lang_id("text").alias("lang_pred"),
        doc_fingerprint("text").alias("fingerprint"),
        min_shingle_fingerprint("text").alias("shingle_fp"),
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@query(
    "dd_exact",
    oracle=f"""
    SELECT md5(array_to_string(list_transform({_TOKS}, x -> lower(x)), ' ')) AS fp,
           min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY 1
    """,
    survey_ref="beyond-reference: exact dedup (hash groupBy)",
)
def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "dd_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             lang || '|' || CAST(CAST(floor(n_chars / 100) AS INT) AS STRING) AS block,
             {_SHINGLES_3} AS sh
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM sh a
    JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE round(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0
                / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5
    """,
    survey_ref="beyond-reference: n-gram Jaccard near-dup (blocked pairwise)",
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def _minhash_cte() -> str:
    # chunked scheme (text.analysis.with_minhash_signature): hash h =
    # min over shingles of substr(md5('<h/4>|'+s), 1 + 8*(h%4), 8)
    return f"""
    sh AS (SELECT doc_id, {_SHINGLES_3} AS shingles FROM documents),
    salted AS (
      SELECT doc_id, md5('0|' || s) AS m0, md5('1|' || s) AS m1
      FROM sh, unnest(shingles) AS u(s)
    ),
    mh AS (
      SELECT doc_id, h,
             min(substr(CASE WHEN h < 4 THEN m0 ELSE m1 END,
                        1 + 8 * CAST(h % 4 AS INT), 8)) AS mv
      FROM salted, range(8) AS r(h)
      GROUP BY doc_id, h
    ),
    sig AS (SELECT doc_id, list(mv ORDER BY h) AS sig FROM mh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, CAST(b AS INT) AS band, sig[2*b+1] || sig[2*b+2] AS band_key
      FROM sig, range(4) AS rb(b)
    )"""


@query(
    "dd_minhash_bands",
    oracle=f"""
    WITH {_minhash_cte()}
    SELECT doc_id, band, band_key FROM bands
    """,
    survey_ref="beyond-reference: MinHash signatures + LSH banding index",
)
def dd_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_band_index(load_table(spark, sf_dir, "documents")).withColumn(
        "band", F.col("band").cast("int")
    )


@query(
    "dd_minhash_lsh",
    oracle=f"""
    WITH {_minhash_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) * 1.0
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM cand
    JOIN sh sa ON cand.doc_a = sa.doc_id
    JOIN sh sb ON cand.doc_b = sb.doc_id
    WHERE round(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) * 1.0
                / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) >= 0.5
    """,
    survey_ref="beyond-reference: MinHash+LSH near-dup (bucket join + verify)",
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "dd_minhash_lsh_star",
    # The star-edge dedup semantics restated in SQL: per (band,
    # band_key) bucket the min doc_id is the representative; every
    # other member contributes ONE edge (rep, member); a doc is a
    # victim iff it exact-Jaccard-verifies >= 0.5 against the rep of
    # at least one of its buckets. Sigma (b-1) edges, never Sigma b^2/2.
    # The verify runs over 60-bit md5-prefix shingle hashes (`vh`) —
    # the IDENTICAL conv(substr(md5('0|'+s),1,15)) the Spark side
    # carries from its signature pass (dedup.minhash_lsh_victims), so
    # both engines hash the same strings to the same bigints and the
    # Jaccard is bit-identical by construction (and equal to
    # string-Jaccard modulo 60-bit collisions — pytest-pinned).
    oracle=f"""
    WITH {_minhash_cte()},
    vh AS (
      SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> CAST(('0x' || substr(md5('0|' || s), 1, 15)) AS BIGINT))) AS vh
      FROM sh
    ),
    rep AS (
      SELECT band, band_key, min(doc_id) AS rep
      FROM bands GROUP BY band, band_key
    ),
    edges AS (
      SELECT DISTINCT r.rep AS doc_a, b.doc_id AS doc_b
      FROM bands b
      JOIN rep r ON b.band = r.band AND b.band_key = r.band_key
      WHERE b.doc_id > r.rep
    )
    SELECT DISTINCT e.doc_b AS doc_id
    FROM edges e
    JOIN vh sa ON e.doc_a = sa.doc_id
    JOIN vh sb ON e.doc_b = sb.doc_id
    WHERE round(len(list_filter(sa.vh, x -> list_contains(sb.vh, x))) * 1.0
                / len(list_distinct(list_concat(sa.vh, sb.vh))), 6) >= 0.5
    """,
    survey_ref="beyond-reference: MinHash+LSH dedup, star-edge spelling "
    "(the 100 TB production path: work linear in bucket size — "
    "VERDICT r08 Next #3)",
)
def dd_minhash_lsh_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Victim set of dedup.minhash_lsh_victims — the chained
    pipeline's production near-dup stage (tools/pipeline_e2e.py).
    victims(star) ⊆ victims(pairs) with equality on mutually-similar
    clusters is pytest-pinned; this entry pins the star semantics
    themselves against an independent SQL restatement."""
    return minhash_lsh_victims(load_table(spark, sf_dir, "documents"))


def _simhash_sql() -> str:
    md5s = f"list_transform(list_distinct({_TOKS}), t -> md5(t))"
    low = "('0','1','2','3','4','5','6','7')"
    bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform({md5s}, m -> CASE WHEN substr(m, {j + 1}, 1)"
        f" IN {low} THEN 1 ELSE -1 END)) > 0 THEN {2**j} ELSE 0 END)"
        for j in range(16)
    )
    return f"({bits})"


@query(
    "dd_simhash",
    oracle=f"""
    WITH s AS (SELECT doc_id, {_simhash_sql()} AS simhash FROM documents)
    SELECT CAST(simhash AS INT) AS simhash,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_doc_id
    FROM s
    GROUP BY 1
    HAVING count(*) > 1
    """,
    survey_ref="beyond-reference: SimHash near-dup buckets",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_groups(load_table(spark, sf_dir, "documents")).withColumn(
        "simhash", F.col("simhash").cast("int")
    )


@query(
    "dd_simhash_hamming",
    # Hamming≤1 pairs; the oracle states the SEMANTICS directly
    # (bit_count(xor) ≤ 1 over all pairs) while the Spark plan reaches
    # the same set via pigeonhole band-join — plan-shape divergence,
    # result identity
    oracle=f"""
    WITH s AS (SELECT doc_id, {_simhash_sql()} AS simhash FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM s a
    JOIN s b ON a.doc_id < b.doc_id
            AND bit_count(xor(a.simhash, b.simhash)) <= 1
    """,
    survey_ref="beyond-reference: SimHash Hamming<=k near-dup pairs "
    "(pigeonhole banding, equi-join candidates)",
)
def dd_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(load_table(spark, sf_dir, "documents"), k=1)


@query(
    "dd_embedding_cosine",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cosine
    FROM v a
    JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                6) >= 0.4
    """,
    survey_ref="beyond-reference: embedding-cosine near-dup (label-blocked)",
)
def dd_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
_COS = (
    "round(list_dot_product(q.v, c.v)"
    " / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6)"
)


@query(
    "ss_bruteforce_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS} AS cosine
      FROM v q JOIN v c ON q.vec_id != c.vec_id
      WHERE q.vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM pairs
    ) t WHERE rank <= 5
    """,
    survey_ref="beyond-reference: ANN brute-force cosine top-k baseline",
)
def ss_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, k=5
    ).withColumn("rank", F.col("rank").cast("int"))


@query(
    "ss_mips_topk",
    # check of the norm-augmentation reduction: the entry reconstructs
    # every inner product THROUGH the augmented cosine and certifies
    # ip == cos(q',x')·|q'|·M to 1e-9 relative as a data column (the
    # two are mathematically equal, so the tolerance cannot straddle a
    # data-dependent boundary the way ranking through the cosine
    # could); rankings then compare on the rounded fold ip with a
    # vec_id tiebreak on both sides.
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             round(list_dot_product(q.v, c.v), 6) AS ip
      FROM v q JOIN v c ON q.vec_id != c.vec_id
      WHERE q.vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
    )
    SELECT query_id, vec_id, ip, true AS aug_consistent,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY ip DESC, vec_id) AS rank
      FROM pairs
    ) t WHERE rank <= 5
    """,
    survey_ref="beyond-reference: maximum-inner-product search via the "
    "norm-augmentation reduction — MIPS rides the whole cosine-ANN "
    "ladder (LSH/IVF/PQ) unchanged once vectors are augmented",
)
def ss_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.similarity.search import mips_topk

    return mips_topk(load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, k=5)


@query(
    "ss_matmul_topk",
    # exact algorithm ⇒ exact oracle: the SAME SQL as ss_bruteforce_topk.
    # What this entry certifies is that the Arrow/BLAS batch path emits
    # bit-identical (rounded) results to the codegen expression path.
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS} AS cosine
      FROM v q JOIN v c ON q.vec_id != c.vec_id
      WHERE q.vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM pairs
    ) t WHERE rank <= 5
    """,
    survey_ref="beyond-reference: wide-vector BLAS matmul top-k "
    "(mapInPandas GEMM with batch-local top-k pruning)",
)
def ss_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.similarity import matmul_topk

    return matmul_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, k=5
    ).withColumn("rank", F.col("rank").cast("int"))


def _planes_dot_sql(alias: str, num_planes: int = 6, dim: int = 64) -> str:
    """bucket expr: bit p = sign(Σ_d v[d]·w_pd), same literal constants
    and left-assoc summation order as search.hyperplane_bucket."""
    planes = lsh_planes(num_planes, dim)
    terms = []
    for p, plane in enumerate(planes):
        dot = " + ".join(f"{alias}.v[{d + 1}] * ({w})" for d, w in enumerate(plane))
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {2**p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


@query(
    "ss_lsh_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_planes_dot_sql('v')} AS bucket FROM v),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS} AS cosine
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
      WHERE q.vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM pairs
    ) t WHERE rank <= 5
    """,
    survey_ref="beyond-reference: ANN via random-hyperplane LSH buckets",
)
def ss_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_bucketed_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, k=5
    ).withColumn("rank", F.col("rank").cast("int"))


@query(
    "ss_lsh_matmul_topk",
    # SAME oracle as ss_lsh_topk: the composed plan (bucket restriction
    # + per-bucket GEMM scoring) must be result-identical to the
    # expression-tree LSH path — SCALE.md's "compose matmul with the
    # LSH candidate restriction" made a certified fact
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_planes_dot_sql('v')} AS bucket FROM v),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS} AS cosine
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
      WHERE q.vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM pairs
    ) t WHERE rank <= 5
    """,
    survey_ref="beyond-reference: the composed 100 TB ANN plan — LSH "
    "bucket candidate restriction + per-bucket BLAS GEMM scoring",
)
def ss_lsh_matmul_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.similarity import lsh_matmul_topk

    return lsh_matmul_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, k=5
    ).withColumn("rank", F.col("rank").cast("int"))


@query(
    "ss_lsh_multiprobe_topk",
    # the oracle's join condition is Hamming(q,c) ≤ 1 over buckets —
    # mathematically what "own bucket OR any single-bit flip" probes
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, {_planes_dot_sql('v')} AS bucket FROM v),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS} AS cosine
      FROM b q JOIN b c
        ON bit_count(xor(q.bucket, c.bucket)) <= 1 AND q.vec_id != c.vec_id
      WHERE q.vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM pairs
    ) t WHERE rank <= 5
    """,
    survey_ref="beyond-reference: multi-probe LSH (Hamming-1 bucket "
    "probing — the standard ANN recall knob)",
)
def ss_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.similarity import lsh_multiprobe_topk

    return lsh_multiprobe_topk(
        load_table(spark, sf_dir, "embeddings"), QUERY_VEC_IDS, k=5
    ).withColumn("rank", F.col("rank").cast("int"))


@query(
    "ss_ivf_topk",
    # KMeans cells are engine-internal (no SQL re-statement exists), so
    # the entry certifies the IVF result INDIRECTLY but deterministically:
    # recall@5 against the in-plan brute-force baseline, per query, with
    # a flag the oracle asserts true. Probing 8/16 cells yields min
    # per-query recall 0.6 on this (near-random) corpus at every sf —
    # threshold 0.5 leaves one-neighbor margin.
    oracle=f"""
    SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_true, true AS recall_ok
    FROM embeddings
    WHERE vec_id IN ({", ".join(str(i) for i in QUERY_VEC_IDS)})
    """,
    survey_ref="beyond-reference: ANN via IVF (seeded KMeans coarse "
    "quantizer, n_probe nearest cells, exact cosine within), "
    "recall-certified against the exact baseline",
)
def ss_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    ivf = ivf_topk(emb, QUERY_VEC_IDS, k=5, n_probe=8).select("query_id", "vec_id")
    true = brute_force_topk(emb, QUERY_VEC_IDS, k=5).select("query_id", "vec_id")
    hits = (
        true.join(ivf, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        true.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_true") >= 0.5).alias("recall_ok"),
        )
    )


@query(
    "t_ngram_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             t[i] || ' ' || t[i + 1] AS gram
      FROM toks, unnest(range(1, len(t))) AS r(i)
    )
    SELECT gram,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM grams
    GROUP BY gram
    HAVING count(*) >= 10
    """,
    survey_ref="beyond-reference: corpus bigram frequency (explode "
    "fan-out -> map-side-combined agg; the n-gram-LM-stats shape)",
)
def t_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram stats: the token fan-out is the scale hazard (one
    row per bigram occurrence); partial aggregation collapses it
    map-side before the shuffle, so shuffle volume is O(distinct grams
    per partition), not O(occurrences)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .filter(F.col("n") >= 10)
    )


@query(
    "dd_prefix_filter_join",
    # the oracle replays the SAME prefix-filter pipeline (rare-first
    # global token order, prefix postings, exact Jaccard on candidates)
    # — and tests/test_training_ops.py separately proves the filter
    # LOSSLESS against the naive all-pairs join
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS ts0
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(ts0) AS token FROM toks),
    freq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
    ordered AS (
      SELECT doc_id, list(token ORDER BY df, token) AS ts
      FROM tok JOIN freq USING (token)
      GROUP BY doc_id
    ),
    pref AS (
      SELECT doc_id,
             unnest(ts[1 : len(ts) - CAST(ceil(len(ts) * 0.7) AS INT) + 1]) AS token
      FROM ordered
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.token = b.token AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(len(list_filter(oa.ts, x -> list_contains(ob.ts, x))) * 1.0
                 / len(list_distinct(list_concat(oa.ts, ob.ts))), 6) AS jaccard
    FROM cand
    JOIN ordered oa ON cand.doc_a = oa.doc_id
    JOIN ordered ob ON cand.doc_b = ob.doc_id
    WHERE round(len(list_filter(oa.ts, x -> list_contains(ob.ts, x))) * 1.0
                / len(list_distinct(list_concat(oa.ts, ob.ts))), 6) >= 0.7
    """,
    survey_ref="beyond-reference: prefix-filtering set-similarity join "
    "(AllPairs/PPJoin — exact Jaccard >= t with no all-pairs compare "
    "and no LSH false negatives)",
)
def dd_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.dedup import prefix_filter_pairs

    return prefix_filter_pairs(load_table(spark, sf_dir, "documents"), threshold=0.7)


@query(
    "t_topk_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({_TOKS}) AS token FROM documents
    ),
    counts AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS n
      FROM toks GROUP BY lang, token
    )
    SELECT lang, token, n, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY n DESC, token) AS rank
      FROM counts
    ) t WHERE rank <= 10
    """,
    survey_ref="beyond-reference: exact heavy hitters (top-k vocabulary "
    "per language) — the two-phase frequent-terms shape",
)
def t_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 tokens per language, two-phase: the explode fan-out
    (one row per token OCCURRENCE) collapses map-side into per-partition
    (lang, token) partials before the shuffle, so shuffle volume is
    O(distinct vocab per partition), not O(corpus tokens); the final
    top-k is a window over distinct (lang, token) counts — heavy tail
    already aggregated away. Ties pin on token text (SURVEY §2.5 W4
    lesson). At 100 TB the same plan holds: vocabulary grows ~log with
    corpus size, and a count-min/approx pre-filter can gate phase 2 if
    the distinct vocab itself stops fitting a shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "token")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
    )


@query(
    "t_score_batch",
    # the oracle restates the whole scoring function — feature exprs AND
    # the sigmoid — so a hash match certifies the Arrow feature-matrix
    # roundtrip and the batched numpy kernel end-to-end
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len({_TOKS}) / 100.0 AS x_len,
             (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
               * 1.0 / length(text) AS x_punct,
             n_chars / 1000.0 AS x_chars
      FROM documents
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(0.8 * x_len - 2.5 * x_punct
                                    + 0.4 * x_chars - 0.5))), 6) AS score
    FROM feats
    """,
    survey_ref="beyond-reference: Arrow-batched model inference "
    "(quality-classifier shape: JVM features -> numpy batch kernel)",
)
def t_score_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched 'classifier' scoring of the corpus: features stay JVM
    Column expressions; only the numeric matrix crosses to Python, one
    matmul per Arrow batch (ml/scoring.py). The stand-in linear-sigmoid
    makes the whole path oracle-checkable."""
    from oroboro_dw_dbt_spark.ml import batch_score

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        (F.size(tokens("text")) / F.lit(100.0)).alias("x_len"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:]", "")))
            .cast("double")
            / F.length("text")
        ).alias("x_punct"),
        (F.col("n_chars") / F.lit(1000.0)).alias("x_chars"),
    )
    return batch_score(
        feats,
        id_cols=["doc_id"],
        feature_cols=["x_len", "x_punct", "x_chars"],
        weights=[0.8, -2.5, 0.4],
        bias=-0.5,
    )


@query(
    "t_feature_hash",
    # the hashing trick: token -> fixed bucket space via md5 (the same
    # deterministic-hash discipline as the count-min entry), emitted
    # exploded as (doc_id, bucket, n) — nested struct arrays would hash
    # differently across engines' stringifications, rows don't
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5('fh|' || token), 1, 8) AS BIGINT) % 1024
                AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM toks GROUP BY 1, 2
    """,
    survey_ref="beyond-reference: feature hashing (the hashing trick — "
    "unbounded vocabulary to fixed 1024-dim sparse counts, no "
    "vocabulary table to build, ship, or keep consistent)",
)
def t_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse bag-of-words features in a FIXED bucket space: tokens
    hash to 1024 buckets, so featurization needs no vocabulary pass,
    no broadcast dictionary, and no retraining-time vocab drift — the
    property that makes the hashing trick the default at 100 TB. One
    map-side-combined aggregation; collisions are the accepted trade
    (norm-preserving in expectation)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("fh|"), F.col("token"))), 1, 8), 16, 10)
        .cast("long")
        % 1024
    ).cast("int")
    return toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@query(
    "sk_countmin_freq",
    # the md5-derived sketch is deterministic, so the ENTIRE count-min
    # construction (counter tables, min-over-rows estimate) restates in
    # SQL — a sketch whose accuracy claim the oracle can check value-
    # for-value, not just bound
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
    ),
    counters AS (
      SELECT r.i,
             CAST('0x' || substr(md5('cm|' || r.i || '|' || token), 1, 8) AS BIGINT)
               % 512 AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM toks CROSS JOIN (VALUES (0), (1), (2)) AS r(i)
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT token, CAST(count(*) AS BIGINT) AS true_n
      FROM toks GROUP BY token
      ORDER BY true_n DESC, token LIMIT 20
    ),
    est AS (
      SELECT t.token, min(c.n) AS cm_estimate
      FROM truth t
      CROSS JOIN (VALUES (0), (1), (2)) AS r(i)
      JOIN counters c
        ON c.i = r.i
       AND c.bucket = CAST('0x' || substr(md5('cm|' || r.i || '|' || t.token), 1, 8)
                           AS BIGINT) % 512
      GROUP BY t.token
    )
    SELECT t.token, t.true_n, e.cm_estimate,
           e.cm_estimate >= t.true_n AS never_undercounts
    FROM truth t JOIN est e ON t.token = e.token
    """,
    survey_ref="beyond-reference: count-min sketch frequency estimates "
    "(fixed d*w counter state, mergeable, never undercounts) — "
    "deterministic hashes make it fully oracle-checkable",
)
def sk_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates for the exact top-20 tokens, alongside truth
    and the overcount invariant. The sketch state is depth*width
    counters — KBs at any corpus size; estimates are the min over the
    depth rows."""
    from oroboro_dw_dbt_spark.ops.sketches import countmin_estimates

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("token")
    )
    truth = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
        .orderBy(F.col("true_n").desc(), "token")
        .limit(20)
    )
    est = countmin_estimates(toks, "token")
    return (
        truth.join(est, "token")
        .select(
            "token",
            "true_n",
            "cm_estimate",
            (F.col("cm_estimate") >= F.col("true_n")).alias("never_undercounts"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup clustering + deterministic sampling + corpus statistics
# ---------------------------------------------------------------------------
@query(
    "dd_dup_groups",
    # Spark runs iterative min-label propagation (ops/graph.py); the
    # oracle takes min(reachable ∪ self) over a recursive-CTE transitive
    # closure of the SAME verified LSH pairs — different algorithm, same
    # deterministic fixpoint
    oracle=f"""
    WITH RECURSIVE {_minhash_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN sh sa ON cand.doc_a = sa.doc_id
      JOIN sh sb ON cand.doc_b = sb.doc_id
      WHERE round(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) * 1.0
                  / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) >= 0.5
    ),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM verified
      UNION
      SELECT doc_b, doc_a FROM verified
    ),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS node, least(a, min(b)) AS comp
    FROM reach
    GROUP BY a
    """,
    survey_ref="beyond-reference: duplicate-cluster assembly — connected "
    "components (iterative label propagation) over near-dup pairs",
)
def dd_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.ops import connected_components

    pairs = minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))
    return connected_components(pairs, src="doc_a", dst="doc_b")


@query(
    "dd_keep_best",
    # the terminal dedup operator: the KEPT CORPUS. Per near-dup
    # cluster keep the longest document (n_chars, tie -> lowest id);
    # singletons (docs in no cluster) are all kept. Oracle reuses the
    # dd_dup_groups transitive closure and picks per-component best.
    oracle="""
    WITH RECURSIVE {},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN sh sa ON cand.doc_a = sa.doc_id
      JOIN sh sb ON cand.doc_b = sb.doc_id
      WHERE round(len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) * 1.0
                  / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) >= 0.5
    ),
    sym AS (
      SELECT doc_a AS a, doc_b AS b FROM verified
      UNION
      SELECT doc_b, doc_a FROM verified
    ),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
      SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a
    ),
    labeled AS (
      SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp, d.n_chars
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    best AS (
      SELECT comp, doc_id,
             row_number() OVER (PARTITION BY comp
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM labeled
    )
    SELECT doc_id, CAST(comp AS BIGINT) AS cluster FROM best WHERE rn = 1
    """.format(_minhash_cte()),
    survey_ref="beyond-reference: dedup KEEP policy — the kept corpus "
    "(best doc per near-dup cluster, singletons kept), composing "
    "LSH pairs -> connected components -> per-cluster argmax",
)
def dd_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus that survives dedup: one document per near-dup
    cluster (longest wins, id tiebreak), all singletons.

    This is the operator the whole dedup family terminates in — pairs
    and clusters are diagnostics; training reads the KEPT set. Compose:
    LSH candidate pairs (bucketed, O(collisions)) → connected
    components (iterative min-label) → left-join labels onto the
    corpus (unlabeled docs are their own singleton cluster) → one
    row_number per cluster under a pinned total order. At 100 TB every
    step is an equi-join or per-cluster window; nothing rescans pairs.
    The keep policy is an argument in production (quality score, date,
    source priority) — length is used here because it is oracle-exact."""
    from oroboro_dw_dbt_spark.ops import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("cluster"),
            "n_chars",
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("cluster").cast("bigint").alias("cluster"))
    )


@query(
    "sp_hash_split",
    # threshold 0x1999 = ⌊0.1·65536⌋; fixed-width hex compares as the
    # number, so both engines draw the same boundary
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5('v1|' || CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
                THEN 'test' ELSE 'train' END AS split
    FROM documents
    """,
    survey_ref="beyond-reference: deterministic md5-keyed train/test "
    "split (retry-stable, unlike rand())",
)
def sp_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.ops import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, ["doc_id"], test_frac=0.1).select("doc_id", "split")


@query(
    "sp_time_folds",
    # calendar-fixed weekly boundaries (no quantiles — zero cross-engine
    # interpolation risk); the no_leak flag recomputes the temporal
    # invariant IN the result so the gate certifies it as data
    oracle="""
    WITH b AS (
      SELECT * FROM (VALUES
        (1, TIMESTAMP '2024-01-08 00:00:00', TIMESTAMP '2024-01-15 00:00:00'),
        (2, TIMESTAMP '2024-01-15 00:00:00', TIMESTAMP '2024-01-22 00:00:00'),
        (3, TIMESTAMP '2024-01-22 00:00:00', TIMESTAMP '2024-01-29 00:00:00')
      ) AS t(fold, v_start, v_end)
    )
    SELECT fold,
           CAST(count(*) FILTER (WHERE ts < v_start) AS BIGINT) AS train_n,
           CAST(count(*) FILTER (WHERE ts >= v_start AND ts < v_end) AS BIGINT)
             AS valid_n,
           max(CASE WHEN ts < v_start THEN ts END)
             < min(CASE WHEN ts >= v_start AND ts < v_end THEN ts END)
             AS no_leak
    FROM events CROSS JOIN b
    GROUP BY fold
    """,
    survey_ref="beyond-reference: expanding-window time-series "
    "cross-validation folds — train strictly precedes validation, "
    "leakage invariant certified as data",
)
def sp_time_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-window CV fold assignment over event time.

    Each fold trains on ALL history before its validation week — the
    only split shape that never leaks the future into training for
    time-dependent data (random K-fold does). One pass: the tiny fold
    table broadcasts onto the fact, and each (fold, role) lands via
    conditional aggregation — the fact is scanned once for all folds,
    not once per fold. Boundaries are fixed calendar instants, so fold
    membership is reproducible across engines, retries, and reruns."""
    ev = load_table(spark, sf_dir, "events")
    bounds = spark.createDataFrame(
        [
            (1, "2024-01-08 00:00:00", "2024-01-15 00:00:00"),
            (2, "2024-01-15 00:00:00", "2024-01-22 00:00:00"),
            (3, "2024-01-22 00:00:00", "2024-01-29 00:00:00"),
        ],
        "fold int, v_start string, v_end string",
    ).select(
        "fold",
        F.col("v_start").cast("timestamp").alias("v_start"),
        F.col("v_end").cast("timestamp").alias("v_end"),
    )
    ts = F.col("ts")
    in_train = ts < F.col("v_start")
    in_valid = (ts >= F.col("v_start")) & (ts < F.col("v_end"))
    return (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("fold")
        .agg(
            F.count(F.when(in_train, 1)).cast("bigint").alias("train_n"),
            F.count(F.when(in_valid, 1)).cast("bigint").alias("valid_n"),
            (
                F.max(F.when(in_train, ts)) < F.min(F.when(in_valid, ts))
            ).alias("no_leak"),
        )
    )


@query(
    "sp_ring_negatives",
    # band = first hex byte of md5 mod 16 (both engines parse the hex
    # pair to the same integer); ring position arithmetic is pure
    # modular math over identical (band, rank) tables
    oracle="""
    WITH ranked AS (
      SELECT doc_id, md5('v1|' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    pos AS (
      SELECT doc_id, h,
             CAST('0x' || substr(h, 1, 2) AS INTEGER) % 16 AS band
      FROM ranked
    ),
    rr AS (
      SELECT doc_id, band,
             row_number() OVER (PARTITION BY band ORDER BY h, doc_id) AS rn,
             count(*) OVER (PARTITION BY band) AS n
      FROM pos
    )
    SELECT a.doc_id, b.doc_id AS neg_doc_id, CAST(s.slot AS INT) AS slot
    FROM rr a
    CROSS JOIN (VALUES (1), (2)) AS s(slot)
    JOIN rr b ON b.band = a.band AND b.rn = ((a.rn - 1 + s.slot) % a.n) + 1
    WHERE a.rn != b.rn AND s.slot <= a.n - 1
    """,
    survey_ref="beyond-reference: deterministic hash-ring negative "
    "sampling (contrastive pairs without rand() — retry-stable)",
)
def sp_ring_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.ops import ring_negatives

    docs = load_table(spark, sf_dir, "documents")
    out = ring_negatives(docs, ["doc_id"], k=2, n_bands=16)
    return out.select("doc_id", "neg_doc_id", F.col("slot").cast("int").alias("slot"))


@query(
    "sp_stratified_sample",
    oracle="""
    SELECT lang, doc_id
    FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY lang
      ORDER BY md5('v1|' || CAST(doc_id AS VARCHAR)), doc_id) <= 20
    """,
    survey_ref="beyond-reference: deterministic per-stratum sampling "
    "(md5 order within lang strata)",
)
def sp_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.ops import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", ["doc_id"], n_per_stratum=20).select(
        "lang", "doc_id"
    )


@query(
    "t_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf,
             round(tf.tf * ln(n.n_docs * 1.0 / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
      FROM scored
    ) t
    WHERE rank <= 3
    """,
    survey_ref="beyond-reference: per-document TF-IDF top terms "
    "(corpus statistics: fan-out, partial aggs, windowed top-k)",
)
def t_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.text.analysis import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


# ---------------------------------------------------------------------------
# Embedding compression: int8 scalar quantization (SQ8)
# ---------------------------------------------------------------------------
@query(
    "ss_int8_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                  THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                  ELSE 1.0 END AS scale
      FROM v
    ),
    c AS (
      SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(floor(x * scale + 0.5) AS INT)) AS codes
      FROM s
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           md5(array_to_string(codes, ',')) AS codes_md5,
           round(list_reduce(
                   list_transform(range(1, len(v) + 1),
                                  i -> abs(v[i] - codes[i] / scale)),
                   (a, b) -> a + b) / len(v), 6) AS mae
    FROM c
    """,
    survey_ref=(
        "beyond-reference: SQ8 embedding quantization — 4x memory for ANN "
        "indexes; codes hash-checked bit-for-bit, MAE bounded by 0.5/scale"
    ),
)
def ss_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.similarity import int8_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    return int8_quantize(emb)


# ---------------------------------------------------------------------------
# Per-label centroids (IVF training / drift monitoring building block)
# ---------------------------------------------------------------------------
@query(
    "ss_label_centroids",
    # Long format (label, n_vectors, pos, value): the driver's pandas
    # canonicalizer hashes scalar cells only — an array<double> column
    # crashed it in round 4 ("unhashable type: 'list'"). The API
    # (label_centroids) still returns the array; the entry explodes it.
    # DuckDB generate_subscripts is 1-based vs posexplode's 0-based → -1.
    oracle="""
    WITH e AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS xi
      FROM embeddings
    ),
    p AS (
      SELECT label, pos, sum(xi) AS sx, count(*) AS n
      FROM e GROUP BY label, pos
    ),
    nv AS (
      SELECT label, CAST(max(n) AS BIGINT) AS n_vectors FROM p GROUP BY label
    )
    SELECT p.label, nv.n_vectors, CAST(p.pos - 1 AS INT) AS pos,
           round(p.sx * 1.0 / (p.n * 1000000), 6) AS value
    FROM p JOIN nv ON p.label = nv.label
    """,
    survey_ref=(
        "beyond-reference: per-label embedding centroids — posexplode + "
        "integer partial aggregation (shuffle O(labels*dim), not O(rows); "
        "micro-quantized sums are order-independent, so no float-order "
        "hash flake)"
    ),
)
def ss_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb).select(
        "label",
        "n_vectors",
        F.posexplode("centroid").alias("pos", "value"),
    )


# ---------------------------------------------------------------------------
# Fuzzy entity resolution: dirty feed -> master, blocked Levenshtein
# ---------------------------------------------------------------------------
@query(
    "er_fuzzy_match",
    # fixture: a deterministically-corrupted copy of customer names (half
    # get '#'->'-', half lose their leading char) resolved back against
    # the master; blocking key = last-4-digit tail (stable under both
    # corruptions)
    oracle="""
    WITH dirty AS (
      SELECT c_custkey AS dirty_id,
             CASE WHEN c_custkey % 2 = 0 THEN replace(c_name, '#', '-')
                  ELSE substr(c_name, 2) END AS name
      FROM customer WHERE c_custkey % 3 = 0
    ),
    d AS (SELECT dirty_id, name, right(name, 4) AS bk FROM dirty),
    m AS (SELECT c_custkey AS master_id, c_name AS master_name,
                 right(c_name, 4) AS bk
          FROM customer)
    SELECT dirty_id, master_id, name, master_name,
           CAST(levenshtein(name, master_name) AS INT) AS dist
    FROM d JOIN m USING (bk)
    WHERE levenshtein(name, master_name) <= 2
    """,
    survey_ref=(
        "beyond-reference: fuzzy entity resolution — blocked Levenshtein "
        "(equi-join on digit-tail block key, O(collisions) not O(n^2); "
        "exact integer distances hash-match both engines)"
    ),
)
def er_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.dedup import blocked_fuzzy_match

    cust = load_table(spark, sf_dir, "customer")
    dirty = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("id"),
        F.when(
            F.col("c_custkey") % 2 == 0,
            F.replace(F.col("c_name"), F.lit("#"), F.lit("-")),
        )
        .otherwise(F.substring(F.col("c_name"), 2, 1000))
        .alias("name"),
    )
    master = cust.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    return blocked_fuzzy_match(
        dirty, master, lambda c: F.substring(c, -4, 4), max_dist=2
    ).withColumn("dist", F.col("dist").cast("int"))


# ---------------------------------------------------------------------------
# Vocabulary build: the tokenizer-training prep step
# ---------------------------------------------------------------------------
@query(
    "t_vocab_build",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS token FROM documents
    ),
    c AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n
      FROM toks GROUP BY token HAVING count(*) >= 5
    )
    SELECT token, n,
           CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS token_id
    FROM c
    """,
    survey_ref="beyond-reference: vocabulary construction — min-count "
    "filter + deterministic contiguous id assignment (the "
    "tokenizer-training prep step)",
)
def t_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with contiguous frequency-ranked ids: explode
    tokens (map-side partial counts collapse the heavy tail before the
    shuffle), min-count filter, then ids by row_number over the pinned
    (count DESC, token ASC) total order. The global window runs over the
    VOCABULARY, not the corpus — vocab grows ~log with corpus size, so
    the single-task id assignment stays bounded at 100 TB (and the
    two-phase ranking rewrite in ops/ranking.py is the escape hatch if
    a tokenizer ever needs billions of types)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .filter(F.col("n") >= 5)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return counts.withColumn("token_id", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# Per-language length outliers: exact-percentile corpus filtering
# ---------------------------------------------------------------------------
@query(
    "t_length_outliers",
    # exact interpolated percentiles per language (the quantile_cont /
    # F.percentile agreement is certified by a_exact_percentiles); the
    # outlier flag compares against the ROUNDED bounds on both engines
    # so the boundary decision is bit-identical
    oracle="""
    WITH p AS (
      SELECT lang,
             round(quantile_cont(n_chars, 0.05), 6) AS p05,
             round(quantile_cont(n_chars, 0.95), 6) AS p95
      FROM documents GROUP BY lang
    )
    SELECT d.lang, d.doc_id, d.n_chars, p.p05, p.p95,
           d.n_chars < p.p05 OR d.n_chars > p.p95 AS is_outlier
    FROM documents d JOIN p ON d.lang = p.lang
    """,
    survey_ref="beyond-reference: per-language length-outlier filter — "
    "exact percentile thresholds broadcast back over the corpus (the "
    "adaptive length-filter shape, vs fixed cutoffs)",
)
def t_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag documents outside their language's [p05, p95] length band.
    Plan: one tiny per-language percentile aggregate (exact
    interpolation — languages are few, each group's sort is bounded),
    broadcast-joined back over the corpus; the scan stays one pass and
    the corpus never shuffles. The 100 TB variant swaps the exact
    percentile for approx_percentile with the same join shape."""
    docs = load_table(spark, sf_dir, "documents")
    pcts = docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", 0.05), 6).alias("p05"),
        F.round(F.percentile("n_chars", 0.95), 6).alias("p95"),
    )
    return docs.join(F.broadcast(pcts), "lang").select(
        "lang",
        "doc_id",
        "n_chars",
        "p05",
        "p95",
        ((F.col("n_chars") < F.col("p05")) | (F.col("n_chars") > F.col("p95"))).alias(
            "is_outlier"
        ),
    )


# ---------------------------------------------------------------------------
# Temperature-based source mixing weights (multilingual sampling)
# ---------------------------------------------------------------------------
@query(
    "sp_temperature_weights",
    # p_i^alpha re-weighting (alpha=0.7): the standard temperature
    # sampling that up-weights small sources. Integer inputs, one libm
    # pow per source, outputs rounded to 6 — the same cross-engine float
    # discipline as the haversine entries
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT *, CAST(n_chars AS DOUBLE) / sum(n_chars) OVER () AS p_raw,
             pow(CAST(n_chars AS DOUBLE) / sum(n_chars) OVER (), 0.7) AS w_un
      FROM s
    )
    SELECT source, n_docs, n_chars,
           round(p_raw, 6) AS p_raw,
           round(w_un / sum(w_un) OVER (), 6) AS w_temp
    FROM t
    """,
    survey_ref="beyond-reference: temperature-based source mixing "
    "(p^0.7 re-weighting — multilingual/multi-source sampling prep)",
)
def sp_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights under temperature alpha=0.7:
    w_i = p_i^alpha / sum(p^alpha), where p_i is the source's char
    share. One KB-scale aggregate (sources are few); the global windows
    run over the source list, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    w_all = Window.partitionBy()
    p_raw = F.col("n_chars").cast("double") / F.sum("n_chars").over(w_all)
    t = s.withColumn("p_raw", p_raw).withColumn("w_un", F.pow(p_raw, F.lit(0.7)))
    return t.select(
        "source",
        "n_docs",
        "n_chars",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(F.col("w_un") / F.sum("w_un").over(w_all), 6).alias("w_temp"),
    )


# ---------------------------------------------------------------------------
# Corpus-statistics novelty score (the perplexity-filter shape, exact)
# ---------------------------------------------------------------------------
@query(
    "t_bigram_novelty",
    # the CCNet/perplexity-filter SHAPE with fully deterministic math:
    # a corpus bigram model scores each document by its mean smoothed
    # bigram probability (B(w1,w2)+1)/(U(w1)+V). No logarithms — probed
    # this session, Spark and DuckDB ln() disagree in the last ulp on
    # 9% of rational inputs — instead IEEE division (exactly rounded,
    # so bit-identical cross-engine) quantized to nano-units and summed
    # in integers (order-independent), divided once per doc.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
    ),
    bg0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> {{'w1': t[i], 'bigram': t[i] || ' ' || t[i+1]}})) AS x
      FROM toks WHERE len(t) >= 2
    ),
    bg AS (SELECT doc_id, x.w1 AS w1, x.bigram AS bigram FROM bg0),
    uni AS (
      SELECT t_u AS w1, CAST(count(*) AS BIGINT) AS u
      FROM toks, unnest(t) AS un(t_u) GROUP BY t_u
    ),
    v AS (SELECT count(DISTINCT t_u) AS v FROM toks, unnest(t) AS un(t_u)),
    bgc AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS b FROM bg GROUP BY bigram
    ),
    scored AS (
      SELECT bg.doc_id,
             CAST(floor((bgc.b + 1.0) / (uni.u + v.v) * 1000000000 + 0.5)
                  AS BIGINT) AS q
      FROM bg JOIN bgc ON bg.bigram = bgc.bigram
              JOIN uni ON bg.w1 = uni.w1
              CROSS JOIN v
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(q) / (count(*) * 1000000000.0), 6) AS mean_bigram_p
    FROM scored GROUP BY doc_id
    """,
    survey_ref="beyond-reference: corpus-LM document scoring — the "
    "perplexity-filter pipeline shape (corpus model + per-doc score) "
    "with order-independent integer-quantized aggregation",
)
def t_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document against a corpus bigram model: mean add-1
    smoothed bigram probability. Low score = unusual token sequences
    (novel or noisy), high = formulaic — the quality/novelty signal a
    perplexity filter provides, minus the neural LM.

    Plan at 100 TB: two vocabulary-bounded aggregates (bigram and
    unigram counts — vocab grows ~log with corpus), one scalar V
    broadcast, then the bigram stream joins its counts — shuffles on
    bigram/w1 keys with map-side combine, or plain broadcasts when the
    model fits (vocab² in the worst case, bounded in practice). The
    per-doc mean uses floor(p·1e9+0.5) BIGINT quantization so float
    summation order can never flip a hash (same discipline as
    ss_label_centroids)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t")).filter(F.size("t") >= 2)
    bg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.struct(
                    F.col("t")[i].alias("w1"),
                    F.concat_ws(" ", F.col("t")[i], F.col("t")[i + 1]).alias("bigram"),
                ),
            )
        ).alias("x"),
    ).select("doc_id", F.col("x.w1").alias("w1"), F.col("x.bigram").alias("bigram"))

    all_toks = docs.select(F.explode(tokens("text")).alias("w"))
    uni = all_toks.groupBy(F.col("w").alias("w1")).agg(
        F.count(F.lit(1)).cast("bigint").alias("u")
    )
    v = all_toks.agg(F.countDistinct("w").alias("v"))
    bgc = bg.groupBy("bigram").agg(F.count(F.lit(1)).cast("bigint").alias("b"))

    scored = (
        bg.join(bgc, "bigram")
        .join(uni, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.floor(
                (F.col("b") + F.lit(1.0))
                / (F.col("u") + F.col("v"))
                * F.lit(1_000_000_000)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("q"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum("q") / (F.count(F.lit(1)) * F.lit(1_000_000_000.0)), 6
        ).alias("mean_bigram_p"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (hashed-ngram likelihood ratio, Xie et al. 2023)
# ---------------------------------------------------------------------------
_DSIR_B = 1024  # hashed feature buckets — the model is 2×B counters


def _dsir_bucket(col):
    """Portable token→bucket hash: 60-bit md5 prefix mod B (the same
    cross-engine idiom as the MinHash/verify hashes)."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint"),
        F.lit(_DSIR_B),
    )


@query(
    "t_dsir_weights",
    # Data Selection via Importance Resampling (DSIR): per-doc
    # log importance weight Σ_f ln(p_target(f)/p_raw(f)) over hashed
    # unigram features, add-1 smoothed bag-of-buckets models. The
    # target slice is pinned to the lexicographically-min source (a
    # deterministic stand-in for "the high-quality domain"). ln runs
    # once per BUCKET (≤1024 distinct rational inputs built from exact
    # integer products) and is quantized to micro-units BEFORE the
    # per-doc integer sum, so cross-engine libm last-ulp noise cannot
    # reorder or flip a per-doc float fold (same discipline as
    # t_bigram_novelty's no-log rule, relaxed through quantization).
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {_DSIR_B} AS b
      FROM documents, unnest({_TOKS}) AS u(t)
    ),
    tgt_src AS (SELECT min(source) AS s FROM documents),
    raw AS (
      SELECT b, CAST(count(*) AS BIGINT) AS cr FROM feats GROUP BY b
    ),
    tgt AS (
      SELECT b, CAST(count(*) AS BIGINT) AS ct
      FROM feats, tgt_src WHERE source = s GROUP BY b
    ),
    tot AS (
      SELECT (SELECT sum(cr) FROM raw) AS n_r,
             (SELECT coalesce(sum(ct), 0) FROM tgt) AS n_t
    ),
    lr AS (
      SELECT raw.b,
             CAST(floor(ln(
               CAST((coalesce(tgt.ct, 0) + 1) * (tot.n_r + {_DSIR_B}) AS DOUBLE)
               / CAST((raw.cr + 1) * (tot.n_t + {_DSIR_B}) AS DOUBLE)
             ) * 1000000 + 0.5) AS BIGINT) AS lr
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
    )
    SELECT f.doc_id,
           CAST(count(*) AS BIGINT) AS n_features,
           round(sum(lr.lr) / 1000000.0, 6) AS log_weight
    FROM feats f JOIN lr ON f.b = lr.b
    GROUP BY f.doc_id
    """,
    survey_ref="beyond-reference: DSIR importance weights — hashed-"
    "ngram target/raw likelihood-ratio scoring (data selection for "
    "LM pretraining, Xie et al. 2023)",
)
def t_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR log importance weight against a target domain.

    Plan at 100 TB: the feature stream is a corpus-sized explode that
    collapses map-side into TWO ≤B-row count tables (B = 1024 — the
    entire "model" is KBs regardless of corpus size); the log-ratio
    dim broadcasts back over the stream and the only real shuffle is
    the per-doc sum on doc_id. Nothing scales with vocabulary: the
    hashing trick bounds state by construction, which is exactly why
    DSIR is the data-selection method that runs at pretraining scale.
    Resampling itself is then a weighted split (sp_weighted_mix /
    sp_stratified_sample compose downstream).

    The smoothed-ratio numerators multiply two bigints before the
    double cast so both engines round the SAME exact integer; at a
    true 100 TB token count (n_r ~ 1e13) that product would overflow —
    there, divide in double first (the quantization still pins the
    cross-engine hash; only the certified literal needs the exact-
    integer spelling)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("t")
    ).withColumn("b", _dsir_bucket(F.col("t")))
    tgt_src = docs.agg(F.min("source").alias("s"))
    raw = feats.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("cr"))
    tgt = (
        feats.join(F.broadcast(tgt_src), F.col("source") == F.col("s"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    tot = F.broadcast(
        raw.agg(F.sum("cr").alias("n_r")).crossJoin(
            tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("n_t"))
        )
    )
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(tot)
        .select(
            "b",
            F.floor(
                F.log(
                    (
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        * (F.col("n_r") + F.lit(_DSIR_B))
                    ).cast("double")
                    / ((F.col("cr") + 1) * (F.col("n_t") + F.lit(_DSIR_B))).cast(
                        "double"
                    )
                )
                * F.lit(1_000_000)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lr"),
        )
    )
    return (
        feats.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            F.round(F.sum("lr") / F.lit(1_000_000.0), 6).alias("log_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Character-entropy gibberish signal (Shannon entropy over characters)
# ---------------------------------------------------------------------------
@query(
    "t_char_entropy",
    # H = log2(n) − (1/n)·Σ_c cnt_c·log2(cnt_c): Shannon entropy over
    # the doc's characters from counts alone. log2 runs ONLY on
    # integers (the distinct count values — a few thousand repo-wide),
    # quantized to micro-units before the integer Σ, so the per-doc
    # fold is exact integer arithmetic and cross-engine libm noise
    # cannot flip a hash (the t_bigram_novelty discipline).
    oracle="""
    WITH chars AS (
      SELECT doc_id, u.c AS c
      FROM documents,
           unnest(list_transform(range(1, len(text) + 1),
                                 i -> substr(text, i, 1))) AS u(c)
    ),
    counts AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
      FROM chars GROUP BY doc_id, c
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS distinct_chars,
             sum(cnt * CAST(floor(log2(CAST(cnt AS DOUBLE)) * 1000000 + 0.5)
                            AS BIGINT)) AS s
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n AS n_chars_counted, distinct_chars,
           round((n * CAST(floor(log2(CAST(n AS DOUBLE)) * 1000000 + 0.5)
                           AS BIGINT) - s) / (n * 1000000.0), 6)
             AS char_entropy_bits
    FROM per_doc
    """,
    survey_ref="beyond-reference: character-entropy gibberish signal "
    "(Shannon entropy over characters, integer-quantized log2)",
)
def t_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy (bits/char) of the character
    distribution — near-zero for repeated-char spam, ~4.1 for English
    prose, high for random base64 blobs: the cheap gibberish axis the
    token-level quality rules miss.

    Plan at 100 TB: a per-doc char explode that collapses back to
    (doc, char) counts — the only shuffle is on doc_id (map-side
    combine does the heavy lifting; a doc's state is its ≤alphabet
    distinct chars). The entropy itself is a two-term integer fold
    over those counts. Row-local end-to-end: no model, no dim, no
    second scan."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "doc_id",
            # Guarded: Spark's sequence(1, 0) is DESCENDING ([1, 0]),
            # so an empty doc would explode into two '' chars while the
            # oracle's range(1, 1) is empty and drops the doc. The CASE
            # makes explode drop empty docs on both engines.
            F.explode(
                F.expr(
                    "CASE WHEN length(text) > 0 THEN"
                    " transform(sequence(1, length(text)), i -> substring(text, i, 1))"
                    " ELSE CAST(array() AS array<string>) END"
                )
            ).alias("c"),
        )
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    lq = lambda col: F.floor(F.log2(col.cast("double")) * F.lit(1_000_000) + F.lit(0.5)).cast("bigint")  # noqa: E731
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_chars"),
        F.sum(F.col("cnt") * lq(F.col("cnt"))).alias("s"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n").alias("n_chars_counted"),
        "distinct_chars",
        F.round(
            (F.col("n") * lq(F.col("n")) - F.col("s")) / (F.col("n") * F.lit(1_000_000.0)),
            6,
        ).alias("char_entropy_bits"),
    )


# ---------------------------------------------------------------------------
# Containment near-dup: asymmetric Jaccard over shared shingles.
# ---------------------------------------------------------------------------
_DF_CAP = 50  # stop-shingle cut: shingles in more docs than this are noise


@query(
    "dd_containment",
    # shared-shingle equi-join (never all-pairs); the df-cap keeps the
    # collision fanout bounded and is restated identically in SQL.
    # containment = |A∩B| / |A| — exact integers, one final division
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s
      FROM (SELECT doc_id, unnest({_SHINGLES_3}) AS s FROM documents)
    ),
    keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= {_DF_CAP}),
    kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc, count(*) AS n_common
      FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT src_doc, dst_doc, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_sh AS BIGINT) AS n_src,
           CAST(n_common AS DOUBLE) / CAST(n_sh AS DOUBLE) AS containment
    FROM inter JOIN sizes ON sizes.doc_id = inter.src_doc
    WHERE n_common * 10 >= n_sh * 8
    """,
    survey_ref="beyond-reference: containment near-dup (asymmetric "
    "Jaccard |A∩B|/|A| ≥ 0.8 — catches documents EMBEDDED in larger "
    "ones, which symmetric Jaccard misses; RefinedWeb-style sub-doc "
    "dedup)",
)
def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment pairs over shared 3-gram shingles.

    Scale: candidates come from a shingle equi-join — O(Σ df²) over
    KEPT shingles, and the df-cap bounds every shingle's fanout at
    df² ≤ 50²; frequent (stop) shingles, the classic quadratic
    blowup, are cut before the join on both numerator and denominator
    (standard PPJoin practice). No all-pairs anywhere; at 100 TB the
    cap becomes a corpus-df table maintained incrementally."""
    from oroboro_dw_dbt_spark.text.analysis import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(shingles("text")).alias("s")
    ).distinct()
    keep = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _DF_CAP
    )
    kept = sh.join(keep.select("s"), "s")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = kept.select(F.col("doc_id").alias("src_doc"), "s")
    b = kept.select(F.col("doc_id").alias("dst_doc"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("src_doc") != F.col("dst_doc"))
        .groupBy("src_doc", "dst_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes, inter["src_doc"] == sizes["doc_id"])
        .filter(F.col("n_common") * 10 >= F.col("n_sh") * 8)
        .select(
            "src_doc",
            "dst_doc",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_sh").cast("bigint").alias("n_src"),
            (
                F.col("n_common").cast("double")
                / F.col("n_sh").cast("double")
            ).alias("containment"),
        )
    )


@query(
    "dd_url_canonical",
    # Every messy variant is synthesized from (k = doc_id//4, host
    # class k%7), so the oracle can state the canonical form directly
    # and group — while Spark must RECOVER it by parsing. A hash match
    # certifies scheme/host lowercasing, default-port stripping,
    # trailing-slash normalization, utm_* removal and fragment drop.
    oracle="""
    WITH c AS (
      SELECT doc_id, doc_id // 4 AS k FROM documents
    )
    SELECT 'https://h' || (k % 7) || '.example.com/docs/' || k
             AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS rep_doc_id
    FROM c GROUP BY k
    """,
    survey_ref="beyond-reference: URL canonicalization dedup — the "
    "web-corpus exact-dedup key (case, default port, trailing slash, "
    "utm_* tracking params, fragments)",
)
def dd_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize four messiness classes of the same URL and dedup.

    doc_id % 4 picks the mess: clean / UPPERCASE host + trailing
    slash / utm_* params + #fragment / explicit :443 + uppercase
    scheme. Canonicalization is parse_url + Column string ops — all
    row-local, so the only shuffle is the final canonical-key groupBy
    (the same shape as dd_exact). At 100 TB this is step zero of web
    corpus dedup: ~30% of crawl duplicates are URL-trivial and never
    need to reach MinHash."""
    docs = load_table(spark, sf_dir, "documents")
    k = F.expr("doc_id div 4")
    host = F.concat(F.lit("h"), (k % 7).cast("string"), F.lit(".example.com"))
    path = F.concat(F.lit("/docs/"), k.cast("string"))
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(F.lit("https://"), host, path))
        .when(
            m == 1,
            F.concat(F.lit("https://"), F.upper(host), path, F.lit("/")),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("https://"),
                host,
                path,
                F.lit("?utm_source=feed&utm_campaign=x#frag"),
            ),
        )
        .otherwise(
            F.concat(F.lit("HTTPS://"), host, F.lit(":443"), path)
        )
    )
    raw = docs.select("doc_id", url.alias("url"))
    proto = F.lower(F.parse_url(F.col("url"), F.lit("PROTOCOL")))
    # parse_url HOST keeps the port when present — strip :443 then
    # lowercase; the empty-string port case never arises here.
    host_c = F.lower(
        F.regexp_replace(
            F.parse_url(F.col("url"), F.lit("HOST")), ":443$", ""
        )
    )
    path_c = F.regexp_replace(
        F.parse_url(F.col("url"), F.lit("PATH")), "/+$", ""
    )
    # drop utm_* params, then tidy separators left behind
    q = F.parse_url(F.col("url"), F.lit("QUERY"))
    q_c = F.regexp_replace(q, "(^|&)utm_[^&]*", "")
    q_c = F.regexp_replace(q_c, "^&", "")
    canon = F.concat(
        proto,
        F.lit("://"),
        host_c,
        path_c,
        F.when(
            q_c.isNotNull() & (q_c != ""), F.concat(F.lit("?"), q_c)
        ).otherwise(F.lit("")),
    )
    return (
        raw.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("rep_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# LSH recall report: the false-negative rate measured as data.
# ---------------------------------------------------------------------------


@query(
    "dd_lsh_recall_report",
    # truth = the blocked exact-Jaccard pairs (dd_ngram_jaccard's
    # definition); lsh = the banded-MinHash verified pairs
    # (dd_minhash_lsh's). Both spellings already certify individually;
    # this entry certifies their SET RELATIONSHIP — tp/fn/extra counts
    # and the recall — so the LSH probabilistic guarantee ("8 hashes,
    # 4 bands of 2") is a measured, regression-checked number instead
    # of a docstring claim.
    oracle=f"""
    WITH {_minhash_cte()},
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM (SELECT doc_id,
                   lang || '|' ||
                     CAST(CAST(floor(n_chars / 100) AS INT) AS STRING)
                     AS block,
                   {_SHINGLES_3} AS sh
            FROM documents) a
      JOIN (SELECT doc_id,
                   lang || '|' ||
                     CAST(CAST(floor(n_chars / 100) AS INT) AS STRING)
                     AS block,
                   {_SHINGLES_3} AS sh
            FROM documents) b
        ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE round(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0
                  / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5
    ),
    lsh AS (
      SELECT DISTINCT ca.doc_id AS doc_a, cb.doc_id AS doc_b
      FROM bands ca
      JOIN bands cb ON ca.band = cb.band AND ca.band_key = cb.band_key
                   AND ca.doc_id < cb.doc_id
      JOIN sh sa ON ca.doc_id = sa.doc_id
      JOIN sh sb ON cb.doc_id = sb.doc_id
      WHERE round(len(list_filter(sa.shingles,
                                  x -> list_contains(sb.shingles, x))) * 1.0
                  / len(list_distinct(
                        list_concat(sa.shingles, sb.shingles))), 6) >= 0.5
    ),
    j AS (
      SELECT coalesce(t.doc_a, l.doc_a) AS doc_a,
             CASE WHEN t.doc_a IS NOT NULL AND l.doc_a IS NOT NULL
                  THEN 'tp'
                  WHEN l.doc_a IS NULL THEN 'fn' ELSE 'extra' END AS cls
      FROM truth t
      FULL OUTER JOIN lsh l
        ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
    )
    SELECT
      CAST(sum(CASE WHEN cls IN ('tp', 'fn') THEN 1 ELSE 0 END) AS BIGINT)
        AS n_truth,
      CAST(sum(CASE WHEN cls IN ('tp', 'extra') THEN 1 ELSE 0 END)
           AS BIGINT) AS n_lsh,
      CAST(sum(CASE WHEN cls = 'tp' THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
      CAST(sum(CASE WHEN cls = 'fn' THEN 1 ELSE 0 END) AS BIGINT) AS n_fn,
      CAST(sum(CASE WHEN cls = 'extra' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_extra,
      CAST(CAST(sum(CASE WHEN cls = 'tp' THEN 1 ELSE 0 END) * 1000000
                AS BIGINT)
           // sum(CASE WHEN cls IN ('tp', 'fn') THEN 1 ELSE 0 END)
           AS BIGINT)
        AS recall_ppm
    FROM j
    """,
    survey_ref="beyond-reference: LSH recall meta-evaluation — the "
    "banded-MinHash false-negative rate vs blocked-exact truth, "
    "certified as data (the honesty artifact behind dd_minhash_lsh)",
)
def dd_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP/FN/extra census of LSH near-dup pairs vs exact truth.

    'extra' pairs are NOT false positives — they are exact-verified
    ≥0.5 pairs the blocked-truth baseline cannot see (LSH buckets
    cross the (lang, length-band) blocks). The number that matters is
    n_fn: every missed pair is a duplicate the corpus would keep.

    Scale: both inputs are the already-bucketed production plans; the
    census adds one pair-key full-outer join. Run it on a sampled
    corpus slice in production — recall is a statistic, not a
    per-document artifact."""
    from oroboro_dw_dbt_spark.dedup.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs).select("doc_a", "doc_b")
    lsh = minhash_lsh_pairs(docs).select(
        F.col("doc_a").alias("l_a"), F.col("doc_b").alias("l_b")
    )
    j = truth.join(
        lsh,
        (truth.doc_a == lsh.l_a) & (truth.doc_b == lsh.l_b),
        "full_outer",
    ).select(
        F.when(
            F.col("doc_a").isNotNull() & F.col("l_a").isNotNull(), "tp"
        )
        .when(F.col("l_a").isNull(), "fn")
        .otherwise("extra")
        .alias("cls")
    )
    return j.agg(
        F.sum(F.col("cls").isin("tp", "fn").cast("int"))
        .cast("bigint")
        .alias("n_truth"),
        F.sum(F.col("cls").isin("tp", "extra").cast("int"))
        .cast("bigint")
        .alias("n_lsh"),
        F.sum((F.col("cls") == "tp").cast("int"))
        .cast("bigint")
        .alias("n_tp"),
        F.sum((F.col("cls") == "fn").cast("int"))
        .cast("bigint")
        .alias("n_fn"),
        F.sum((F.col("cls") == "extra").cast("int"))
        .cast("bigint")
        .alias("n_extra"),
    ).select(
        "*",
        F.expr("n_tp * 1000000 div n_truth").alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# ANN recall census: LSH top-k vs the exact baseline, per query.
# ---------------------------------------------------------------------------

_QIDS = ", ".join(str(i) for i in QUERY_VEC_IDS)


@query(
    "ss_lsh_recall_report",
    # exact top-5 and LSH-bucketed top-5 from the two already-certified
    # spellings; per query the census counts the overlap — recall@5 of
    # the hyperplane index measured as data, per query (the honesty
    # artifact behind the ss_lsh_* family)
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    exact_p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS} AS cosine
      FROM v q JOIN v c ON q.vec_id != c.vec_id
      WHERE q.vec_id IN ({_QIDS})
    ),
    exact_top AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        FROM exact_p) t WHERE rank <= 5
    ),
    b AS (SELECT vec_id, v, {_planes_dot_sql('v')} AS bucket FROM v),
    lsh_p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS} AS cosine
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
      WHERE q.vec_id IN ({_QIDS})
    ),
    lsh_top AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        FROM lsh_p) t WHERE rank <= 5
    ),
    mp_p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {_COS} AS cosine
      FROM b q JOIN b c
        ON bit_count(xor(q.bucket, c.bucket)) <= 1 AND q.vec_id != c.vec_id
      WHERE q.vec_id IN ({_QIDS})
    ),
    mp_top AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        FROM mp_p) t WHERE rank <= 5
    )
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CAST(sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 AS BIGINT) // count(*) AS recall_ppm,
           CAST(sum(CASE WHEN m.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit_multiprobe,
           CAST(sum(CASE WHEN m.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 AS BIGINT) // count(*) AS recall_mp_ppm
    FROM exact_top e
    LEFT JOIN lsh_top l
      ON e.query_id = l.query_id AND e.vec_id = l.vec_id
    LEFT JOIN mp_top m
      ON e.query_id = m.query_id AND e.vec_id = m.vec_id
    GROUP BY e.query_id
    """,
    survey_ref="beyond-reference: ANN recall@5 census — hyperplane-LSH "
    "top-k vs the exact baseline, per query, certified as data",
)
def ss_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the LSH index, measured per query.

    Joins the two production plans' outputs on (query, neighbor); the
    per-query hit count IS the recall numerator. Single-bucket LSH
    trades recall for candidate reduction — this census is the knob's
    dial (ss_lsh_multiprobe_topk is the knob). Scale: both inputs are
    k-row-per-query top-k results; the census join is KBs."""
    from oroboro_dw_dbt_spark.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, QUERY_VEC_IDS, k=5).select(
        "query_id", "vec_id"
    )
    lsh = lsh_bucketed_topk(emb, QUERY_VEC_IDS, k=5).select(
        F.col("query_id").alias("l_q"), F.col("vec_id").alias("l_v")
    )
    from oroboro_dw_dbt_spark.similarity import lsh_multiprobe_topk

    mp = lsh_multiprobe_topk(emb, QUERY_VEC_IDS, k=5).select(
        F.col("query_id").alias("m_q"), F.col("vec_id").alias("m_v")
    )
    j = exact.join(
        lsh,
        (exact.query_id == lsh.l_q) & (exact.vec_id == lsh.l_v),
        "left",
    ).join(
        mp,
        (exact.query_id == mp.m_q) & (exact.vec_id == mp.m_v),
        "left",
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.col("l_v").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_hit"),
            F.sum(F.col("m_v").isNotNull().cast("int"))
            .cast("bigint")
            .alias("n_hit_multiprobe"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.expr("n_hit * 1000000 div n_exact").alias("recall_ppm"),
            "n_hit_multiprobe",
            F.expr("n_hit_multiprobe * 1000000 div n_exact").alias(
                "recall_mp_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Incrementally-maintained LSH index: signatures computed ONLY for the
# ingest delta, index state == full rebuild.
# ---------------------------------------------------------------------------


@query(
    "dd_incremental_index",
    # the oracle is the FULL-REBUILD band index over all documents;
    # the entry builds the same state in two incremental runs where
    # run 2 shingles/minhashes only the day-2 delta
    oracle=f"""
    WITH {_minhash_cte()}
    SELECT doc_id, band, band_key FROM bands
    """,
    survey_ref="beyond-reference: incrementally-maintained LSH band "
    "index — the production dedup-index lifecycle (signatures only "
    "for the delta, never a corpus rescan; composes dd_incremental's "
    "anti-join with the engine's incremental materialization)",
)
def dd_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the MinHash band index across two ingest days.

    Day 1 indexes ⅔ of the corpus; day 2's run anti-joins the source
    against the EXISTING index ({{this}} self-reference) so shingling
    and minhashing — the expensive part — touch only the new docs; the
    engine's delete+insert-by-key merge folds them in. The hash match
    against the full-rebuild oracle certifies the maintained state is
    EXACTLY the rebuild state. At 100 TB you never re-sign the corpus:
    daily index cost is O(delta), and near-dup candidacy for new docs
    is one band equi-join against this table."""
    import tempfile

    from oroboro_dw_dbt_spark.dedup.dedup import minhash_band_index
    from oroboro_dw_dbt_spark.engine.dag import (
        ModelGraph,
        SourceRegistry,
        model,
    )

    docs_all = load_table(spark, sf_dir, "documents")
    state = {"day": 1}
    sources = SourceRegistry()
    sources.add_provider(
        "documents",
        lambda s: docs_all
        if state["day"] == 2
        else docs_all.filter(F.col("doc_id") % 3 != 0),
    )

    @model(
        name="band_index",
        materialized="incremental",
        unique_key=("doc_id", "band"),
    )
    def band_index(documents, this):
        delta = documents
        if this is not None:
            seen = this.select("doc_id").distinct()
            delta = documents.join(seen, "doc_id", "left_anti")
        return minhash_band_index(delta).withColumn(
            "band", F.col("band").cast("int")
        )

    graph = ModelGraph(
        sources, warehouse_dir=tempfile.mkdtemp(prefix="lshidx_"), threads=1
    )
    graph.add(band_index)
    graph.run(spark, select=["band_index"], run_tests=False)
    state["day"] = 2
    graph.run(spark, select=["band_index"], run_tests=False)
    return graph.frame("band_index")


# ---------------------------------------------------------------------------
# Hard-negative mining: same LSH bucket, low similarity.
# ---------------------------------------------------------------------------
@query(
    "sp_hard_negatives",
    # candidates from the band index (the near-dup plan's buckets),
    # kept only when exact Jaccard is LOW — confusable-but-different
    # pairs, ranked per anchor by md5 for retry-stable selection
    oracle=f"""
    WITH {_minhash_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS anchor, b.doc_id AS neg
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id <> b.doc_id
    ),
    scored AS (
      SELECT anchor, neg
      FROM cand
      JOIN sh sa ON cand.anchor = sa.doc_id
      JOIN sh sb ON cand.neg = sb.doc_id
      WHERE len(list_filter(sa.shingles,
                            x -> list_contains(sb.shingles, x))) * 1.0
            / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
            < 0.2
    ),
    ranked AS (
      SELECT anchor, neg,
             row_number() OVER (
               PARTITION BY anchor
               ORDER BY md5(anchor || '|' || neg), neg) AS rk
      FROM scored
    )
    SELECT anchor, neg, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 2
    """,
    survey_ref="beyond-reference: hard-negative mining for contrastive "
    "training — same-LSH-bucket, low-Jaccard pairs (confusable but "
    "different), md5-ranked for retry-stable selection",
)
def sp_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≤2 hard negatives per document: bucket-collision, low overlap.

    Random negatives are trivially easy; the pairs a contrastive model
    learns from are the CONFUSABLE ones — and the LSH index already
    computes confusability (bucket collision) as a by-product of
    dedup. Exact-Jaccard < 0.2 guards against accidentally sampling a
    true near-dup as a negative (a label error that poisons training).
    Scale: candidates are O(bucket collisions); ranking is md5 order —
    deterministic under retries, no rand()."""
    from oroboro_dw_dbt_spark.dedup.dedup import minhash_band_index
    from oroboro_dw_dbt_spark.text.analysis import shingles

    docs = load_table(spark, sf_dir, "documents")
    bands = minhash_band_index(docs)
    a = bands.select(
        F.col("doc_id").alias("anchor"), "band", "band_key"
    )
    b = bands.select(F.col("doc_id").alias("neg"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("anchor") != F.col("neg"))
        .select("anchor", "neg")
        .distinct()
    )
    sh = docs.select("doc_id", shingles("text").alias("sh"))
    j = (
        cand.join(sh.withColumnRenamed("doc_id", "anchor"), "anchor")
        .withColumnRenamed("sh", "sh_a")
        .join(sh.withColumnRenamed("doc_id", "neg"), "neg")
        .withColumnRenamed("sh", "sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    scored = j.filter(inter * 1.0 / union < 0.2).select("anchor", "neg")
    rk = F.row_number().over(
        Window.partitionBy("anchor").orderBy(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("anchor").cast("string"),
                    F.col("neg").cast("string"),
                )
            ),
            "neg",
        )
    )
    return scored.withColumn("rk", rk).filter(F.col("rk") <= 2)


# ---------------------------------------------------------------------------
# Vocabulary frequency-cutoff curve: corpus Zipf diagnostics.
# ---------------------------------------------------------------------------


@query(
    "t_frequency_cutoff_curve",
    # token counts → histogram of counts → reverse-cumulative curve:
    # for each observed frequency f, how many types and how much token
    # mass survive a min-count ≥ f cutoff. One corpus pass; everything
    # after runs on the |distinct counts| table.
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS}) AS tok FROM documents
    ),
    tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1),
    hist AS (
      SELECT f, CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(f) AS BIGINT) AS mass
      FROM tf GROUP BY f
    )
    SELECT f AS min_count,
           CAST(sum(n_types) OVER (ORDER BY f DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size,
           CAST(sum(mass) OVER (ORDER BY f DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS token_mass
    FROM hist
    """,
    survey_ref="beyond-reference: vocabulary frequency-cutoff curve — "
    "vocab size and surviving token mass at EVERY min-count threshold "
    "from one pass (the Zipf diagnostic behind t_vocab_build's cutoff "
    "choice)",
)
def t_frequency_cutoff_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(min_count → vocab size, surviving token mass), all thresholds.

    t_vocab_build picks ONE min-count; this is the curve you look at
    to pick it — computed without picking: token counts collapse to a
    count-of-counts histogram (KBs: |distinct frequencies| rows), and
    a reverse-cumulative window answers every threshold at once. The
    corpus is read once; the window runs on the histogram."""
    from oroboro_dw_dbt_spark.text.analysis import tokens

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    hist = tf.groupBy("f").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("f").cast("bigint").alias("mass"),
    )
    w = Window.orderBy(F.col("f").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hist.select(
        F.col("f").alias("min_count"),
        F.sum("n_types").over(w).cast("bigint").alias("vocab_size"),
        F.sum("mass").over(w).cast("bigint").alias("token_mass"),
    )


_TOPK_TOKENS = 15


def _oracle_prefix(n_merges: int) -> str:
    """WITH-chain: word counts, base segmentation, then one
    (pairs p{k} → argmax b{k} → re-segment s{k}) block per merge."""
    parts = [
        """WITH w AS MATERIALIZED (
  SELECT w AS word, count(*) AS freq FROM (
    SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents) t
  WHERE w <> '' GROUP BY w
),
s0 AS MATERIALIZED (
  SELECT word, freq,
         array_to_string(string_split(word, '') || ['</w>'], ' ') AS s
  FROM w
)"""
    ]
    for k in range(1, n_merges + 1):
        prev = f"s{k - 1}"
        parts.append(
            f""",
p{k} AS MATERIALIZED (
  WITH t AS (SELECT freq, string_split(s, ' ') AS L FROM {prev})
  SELECT L[i] AS l, L[i + 1] AS r, sum(freq) AS cnt
  FROM t, unnest(range(1, len(L))) AS u(i)
  GROUP BY 1, 2
),
b{k} AS MATERIALIZED (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1),
s{k} AS MATERIALIZED (
  SELECT word, freq, list_reduce(string_split(s, ' '), (acc, x) -> CASE
    WHEN x = bb.r AND (acc = bb.l
                       OR right(acc, length(bb.l) + 1) = ' ' || bb.l)
    THEN acc || x ELSE acc || ' ' || x END) AS s
  FROM {prev} CROSS JOIN b{k} bb
)"""
        )
    return "".join(parts)


def _train_oracle(n_merges: int) -> str:
    steps = "\nUNION ALL ".join(
        f"SELECT {k} AS step, l AS lhs, r AS rhs, l || r AS merged,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return f"{_oracle_prefix(n_merges)}\nSELECT * FROM ({steps})"


def _encode_oracle(n_merges: int, topk: int) -> str:
    return f"""{_oracle_prefix(n_merges)},
tok AS (
  WITH t AS (SELECT freq, string_split(s, ' ') AS L FROM s{n_merges})
  SELECT L[i] AS token, CAST(sum(freq) AS BIGINT) AS corpus_count
  FROM t, unnest(range(1, len(L) + 1)) AS u(i)
  GROUP BY 1
)
SELECT token, corpus_count, rnk FROM (
  SELECT token, corpus_count,
         CAST(row_number() OVER (ORDER BY corpus_count DESC, token) AS INT) AS rnk
  FROM tok
) WHERE rnk <= {topk}"""


@query(
    "t_bpe_train",
    oracle=_train_oracle(bpe.N_MERGES),
    survey_ref="beyond-reference: distributed BPE vocabulary learning — "
    "one corpus groupBy(word) pass, then a merge loop over the KB-scale "
    "type table; unrolled MATERIALIZED-CTE oracle",
)
def t_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 10 BPE merges from documents; return the merge table.

    Scale: the corpus is touched exactly once (word-type groupBy);
    every subsequent job runs on the checkpointed type table
    (31 rows here; MB-scale for natural language at any corpus size).
    The per-step driver transfer is ONE row — the argmax pair — which
    is the learned artifact itself, not data movement. See
    text/bpe.py for the fold-based greedy re-segmentation kernel."""
    merges = bpe.learn_merges(bpe.word_counts(spark, sf_dir))
    rows = [
        (k + 1, lhs, rhs, lhs + rhs, cnt)
        for k, (lhs, rhs, cnt) in enumerate(merges)
    ]
    schema = T.StructType(
        [
            T.StructField("step", T.IntegerType()),
            T.StructField("lhs", T.StringType()),
            T.StructField("rhs", T.StringType()),
            T.StructField("merged", T.StringType()),
            T.StructField("pair_count", T.LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@query(
    "t_bpe_encode",
    oracle=_encode_oracle(bpe.N_MERGES, _TOPK_TOKENS),
    survey_ref="beyond-reference: BPE encode — learned merges applied "
    "back over the corpus, top-15 token census; certifies the encode "
    "side of the tokenizer end-to-end",
)
def t_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-tokenize the corpus with the learned merges; top-15 tokens.

    The encode pass reuses the training loop's final materialized
    segmentation table (word, freq, s) — one merge applied per step,
    never a re-derived nested fold (see text/bpe.py:train on why) —
    then an explode + weighted integer sum gives the token census.
    On a cluster the merge rules ship as literals inside the plan —
    the exact analogue of broadcasting a tokenizer's merge file."""
    _merges, seg = bpe.train(bpe.word_counts(spark, sf_dir))
    toks = (
        seg.select("freq", F.explode(F.split("s", " ")).alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("corpus_count"))
    )
    w = Window.orderBy(F.desc("corpus_count"), "token")
    return (
        toks.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOPK_TOKENS)
        .select("token", "corpus_count", "rnk")
    )


@query(
    "sp_dedup_aware_split",
    oracle="""
    WITH d AS (
      SELECT doc_id, md5(text) AS fp,
             CASE WHEN substr(md5('v1|' || md5(text)), 1, 4) < '1999'
                  THEN 'test' ELSE 'train' END AS split
      FROM documents
    ),
    per AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT fp) AS BIGINT) AS n_fps
      FROM d GROUP BY split
    ),
    leak AS (
      SELECT CAST(count(*) AS BIGINT) AS fps_spanning
      FROM (SELECT fp FROM d GROUP BY fp HAVING count(DISTINCT split) > 1)
    )
    SELECT per.split, per.n_docs, per.n_fps, leak.fps_spanning
    FROM per CROSS JOIN leak
    """,
    survey_ref="beyond-reference: leakage-safe train/test split — the "
    "split key is the CONTENT fingerprint, so exact duplicates can "
    "never straddle the boundary; certified by a must-be-0 census",
)
def sp_dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed train/test split with a leakage census.

    Splitting on md5 of the document id leaks: two copies of the same
    text can land on opposite sides and the eval set rehearses the
    training data. Keying the ~10% test bucket on the content
    fingerprint instead makes every exact copy fall together — no
    dedup pass required first, zero extra shuffle (the census here is
    the certificate, not part of the production plan). fps_spanning is
    structurally 0; the driver hash check pins it."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp")
    )
    d = d.withColumn(
        "split",
        F.when(
            F.substring(F.md5(F.concat(F.lit("v1|"), F.col("fp"))), 1, 4) < "1999",
            F.lit("test"),
        ).otherwise("train"),
    )
    per = d.groupBy("split").agg(
        F.count("*").alias("n_docs"), F.countDistinct("fp").alias("n_fps")
    )
    leak = (
        d.groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .agg(F.count("*").alias("fps_spanning"))
    )
    return per.crossJoin(F.broadcast(leak))

"""Round-6 tenth wave: semantic dedup and the dataset card.

- ``dd_semdedup`` — SemDeDup-style semantic deduplication (Abbas et
  al. 2023): cluster the embedding space, compare pairs ONLY within a
  cluster, drop every vector semantically dominated (cosine ≥ τ) by a
  lower-id cluster-mate. Clusters here are the catalog's deterministic
  random-hyperplane LSH buckets (similarity/search.py:lsh_planes — the
  paper's k-means cells swap in on a cluster with the identical plan
  shape: bucket equi-join, never all-pairs). The removal policy is
  dominance by ANY lower-id near-dup — a single anti-join decision per
  vector, no iterative closure — which is exactly the paper's
  keep-one-representative semantics made deterministic.
- ``ch_dataset_card`` — the 1-row dataset card every corpus release
  ships: doc/token/char totals, language and source cardinalities,
  exact-dup rate, and length percentiles, all from two passes (one
  over documents, one over the token explode) merged by broadcast.

House rules (operators/catalog.py): identical cosine expression and
summation order as the ss_* family (fold ≡ list_dot_product), rounding
before the threshold compare, explicit tie-breaks. The reference
(3 BigQuery models) has no analog; SURVEY §6 scopes these families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.dedup.semdedup import (
    SEMDEDUP_TAU,
    dominance_pairs,
    sem_planes_for,
)
from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.operators.training_suite import _planes_dot_sql
from oroboro_dw_dbt_spark.similarity.search import (
    _as_double,
    hyperplane_bucket,
    lsh_planes,
)
from oroboro_dw_dbt_spark.sources.testdata import load_table

_SEM_DIM = 64


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
    dd_semdedup_ivf (round7_suite) — k-means-style Voronoi cells, same
    dominance plan. Norms are hoisted per vector (3 folds/pair → 1),
    bit-identical to the per-pair spelling."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    planes = lsh_planes(sem_planes_for(v.count()), _SEM_DIM)
    b = v.select(
        "vec_id",
        "v",
        hyperplane_bucket(F.col("v"), planes).alias("bucket"),
    ).localCheckpoint(eager=True)
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


@query(
    "ch_dataset_card",
    oracle="""
    WITH base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(round(quantile_cont(n_chars, 0.5) * 1000000, 0) AS BIGINT)
               AS p50_chars_micro,
             CAST(round(quantile_cont(n_chars, 0.95) * 1000000, 0) AS BIGINT)
               AS p95_chars_micro
      FROM documents
    ),
    toks AS (
      SELECT CAST(count(*) AS BIGINT) AS total_tokens,
             CAST(count(DISTINCT t) AS BIGINT) AS vocab_size
      FROM (
        SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents
      ) WHERE t <> ''
    ),
    dups AS (
      SELECT CAST(sum(n - 1) AS BIGINT) AS n_exact_dups
      FROM (SELECT count(*) AS n FROM documents GROUP BY md5(text))
    )
    SELECT base.*, toks.total_tokens, toks.vocab_size, dups.n_exact_dups
    FROM base CROSS JOIN toks CROSS JOIN dups
    """,
    survey_ref="beyond-reference: the 1-row dataset card (doc/token/"
    "char totals, cardinalities, exact-dup count, length percentiles)",
)
def ch_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus release card: one row of dataset-level statistics.

    Three aggregates (document stats, token stats off the explode,
    exact-dup census off the fingerprint groupBy), each fully partial-
    aggregating, merged by 1-row broadcast cross joins. At 100 TB the
    exact distinct/percentile columns swap for their sketch twins
    (sk_approx_distinct / sk_approx_quantiles) with the same card
    schema."""
    d = load_table(spark, sf_dir, "documents")
    base = d.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.percentile("n_chars", F.lit(0.5)) * 1e6, 0)
        .cast("long")
        .alias("p50_chars_micro"),
        F.round(F.percentile("n_chars", F.lit(0.95)) * 1e6, 0)
        .cast("long")
        .alias("p95_chars_micro"),
    )
    toks = (
        d.select(F.explode(F.split(F.trim("text"), " +")).alias("t"))
        .where(F.col("t") != "")
        .agg(
            F.count("*").alias("total_tokens"),
            F.countDistinct("t").alias("vocab_size"),
        )
    )
    dups = (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.col("n") - 1).alias("n_exact_dups"))
    )
    return base.crossJoin(F.broadcast(toks)).crossJoin(F.broadcast(dups))


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

"""Model-evaluation metrics and label-pipeline operators.

A training-data pipeline doesn't stop at building the corpus — it has
to *measure* the models trained on it and the labels fed into it. This
suite adds the evaluation surface as first-class distributed operators:
exact AUC, thresholded confusion matrices, calibration bins,
Brier/log-loss, NDCG@k ranking quality, out-of-fold target encoding,
and inter-annotator agreement (pairwise Cohen's kappa).

Every metric is computed the way it must be computed at 100 TB:
aggregate first, then do the order-statistics work over the *aggregate*
(score histogram, per-user top-k), never a global sort of raw rows.
House rules (operators/catalog.py): exact integer arithmetic up to a
single final IEEE division, identical aliases both sides, pinned
tiebreaks. Scores/labels/votes are derived deterministically from row
keys by multiplicative hashing (pure BIGINT mod arithmetic — portable
to any engine, stable under retries; same rationale as ops/sampling.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.operators.extended_suite import _CENTS
from oroboro_dw_dbt_spark.operators.training_suite import _hits_sql
from oroboro_dw_dbt_spark.sources.testdata import load_table

# ---------------------------------------------------------------------------
# Deterministic synthetic (score, label) pairs over the embeddings table.
#
# y = label % 2 (binary task); the score is an INTEGER in [0, 999]
# ("sx", i.e. score×1000): h = Knuth-hash(vec_id) mod 600 gives noise,
# positives shift +400 — so positives live in [400, 999] and negatives
# in [0, 599], overlapping on [400, 599]. Keeping the score integral is
# what lets every metric below stay exact until one final division.
# The implied probability is p = (2·sx + 1) / 2000 ∈ (0, 1) strictly.
# ---------------------------------------------------------------------------
_SCORES_SQL = """
  SELECT vec_id,
         label % 2 AS y,
         ((vec_id * 2654435761 + 40503) % 100000) % 600
           + (label % 2) * 400 AS sx
  FROM embeddings
"""


def _binary_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    y = (F.col("label") % 2).cast("bigint")
    h = (F.col("vec_id") * F.lit(2654435761) + F.lit(40503)) % 100000
    return emb.select(
        "vec_id",
        y.alias("y"),
        ((h % 600) + y * 400).cast("bigint").alias("sx"),
    )


def _score_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sx, pos, neg) histogram — the scale-safe reduction every metric
    here runs on: one map-side-combining groupBy collapses N rows to at
    most 1000, and all order-statistics windows run over THAT."""
    return (
        _binary_scores(spark, sf_dir)
        .groupBy("sx")
        .agg(
            F.sum("y").alias("pos"),
            F.sum(F.lit(1) - F.col("y")).alias("neg"),
        )
    )


_HIST_SQL = f"""
  SELECT sx, CAST(sum(y) AS BIGINT) AS pos,
         CAST(sum(1 - y) AS BIGINT) AS neg
  FROM ({_SCORES_SQL}) GROUP BY sx
"""


@query(
    "ml_auc_rank",
    # Exact ROC-AUC by the rank-sum identity, computed over the score
    # HISTOGRAM: AUC·2PN = Σ_b pos_b · (2·neg_below_b + neg_b) — the
    # Mann-Whitney U with the tie correction built in (each tied block
    # contributes half). Integer until the one final division.
    oracle=f"""
    WITH hist AS ({_HIST_SQL}),
    cum AS (
      SELECT pos, neg,
             COALESCE(sum(neg) OVER (ORDER BY sx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM hist
    ),
    tot AS (
      SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg,
             CAST(sum(pos * (2 * neg_below + neg)) AS BIGINT) AS numer2
      FROM cum
    )
    SELECT n_pos, n_neg,
           CAST(numer2 AS DOUBLE) / (2 * n_pos * n_neg) AS auc
    FROM tot
    """,
    survey_ref="beyond-reference: exact ROC-AUC via the rank-sum "
    "identity over a score histogram — model-eval for the training "
    "pipeline without a global sort",
)
def ml_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC with tie handling, O(distinct scores) ordered work.

    Scale: the raw table collapses to ≤1000 histogram rows via one
    combining groupBy; the cumulative window and the final fold run
    over the histogram only, so the single-partition window touches KB
    regardless of input size. numer2 ≤ 2·P·N overflows BIGINT only
    past ~2e9 rows per class — cast the histogram counts to
    DECIMAL(38,0) at that scale, same plan."""
    hist = _score_hist(spark, sf_dir)
    w = Window.orderBy("sx").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )
    tot = cum.agg(
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.sum(
            F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))
        ).alias("numer2"),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        (
            F.col("numer2").cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


@query(
    "ml_confusion_threshold",
    # One histogram pass, then a 3-row broadcast of thresholds; every
    # rate is a single division of exact counts (F1 via the
    # 2tp/(2tp+fp+fn) form — one division, not three).
    oracle=f"""
    WITH hist AS ({_HIST_SQL}),
    conf AS (
      SELECT t.thr AS threshold_milli,
             CAST(sum(CASE WHEN sx >= t.thr THEN pos ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN sx >= t.thr THEN neg ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN sx < t.thr THEN pos ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN sx < t.thr THEN neg ELSE 0 END) AS BIGINT) AS tn
      FROM hist CROSS JOIN (VALUES (300), (500), (700)) AS t(thr)
      GROUP BY t.thr
    )
    SELECT threshold_milli, tp, fp, fn, tn,
           CAST(tp AS DOUBLE) / (tp + fp) AS precision_,
           CAST(tp AS DOUBLE) / (tp + fn) AS recall_,
           CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) AS f1
    FROM conf
    """,
    survey_ref="beyond-reference: confusion matrix + precision/recall/"
    "F1 at multiple thresholds from one score-histogram pass",
)
def ml_confusion_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts at thresholds {0.3, 0.5, 0.7} (milli-units).

    Scale: thresholds replicate the ≤1000-row histogram, never the
    fact table — the plan is one combining groupBy, a broadcast-range
    crossJoin of 3 rows, and a 3-group aggregate."""
    hist = _score_hist(spark, sf_dir)
    thr = spark.createDataFrame(
        [(300,), (500,), (700,)], "thr int"
    )
    above = F.col("sx") >= F.col("thr")
    conf = (
        hist.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(F.when(above, F.col("pos")).otherwise(0)).alias("tp"),
            F.sum(F.when(above, F.col("neg")).otherwise(0)).alias("fp"),
            F.sum(F.when(~above, F.col("pos")).otherwise(0)).alias("fn"),
            F.sum(F.when(~above, F.col("neg")).otherwise(0)).alias("tn"),
        )
    )
    return conf.select(
        F.col("thr").alias("threshold_milli"),
        "tp",
        "fp",
        "fn",
        "tn",
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias(
            "precision_"
        ),
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))).alias(
            "recall_"
        ),
        (
            (2 * F.col("tp")).cast("double")
            / (2 * F.col("tp") + F.col("fp") + F.col("fn"))
        ).alias("f1"),
    )


@query(
    "ml_calibration_bins",
    # Equal-width decile bins on the integer score; mean predicted
    # probability per bin is exact: p = (2·sx+1)/2000 so
    # mean_p = (2·Σsx + n) / (2000·n) — integer numerator, one
    # division. The |gap| subtracts two deterministic doubles.
    oracle=f"""
    WITH s AS ({_SCORES_SQL})
    SELECT sx // 100 AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(2 * sum(sx) + count(*) AS DOUBLE) / (2000 * count(*))
             AS mean_pred,
           CAST(sum(y) AS DOUBLE) / count(*) AS frac_pos,
           abs(CAST(2 * sum(sx) + count(*) AS DOUBLE) / (2000 * count(*))
               - CAST(sum(y) AS DOUBLE) / count(*)) AS abs_gap
    FROM s GROUP BY sx // 100
    """,
    survey_ref="beyond-reference: calibration-curve bins (reliability "
    "diagram input) with exact per-bin mean prediction",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten calibration bins: n, positives, mean p̂, empirical rate, gap.

    Scale: one combining groupBy to 10 rows; ECE is a trivial driver-
    side fold of this output (Σ n·gap / N)."""
    s = _binary_scores(spark, sf_dir)
    g = s.groupBy(F.expr("sx div 100").alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        F.sum("sx").alias("_ssx"),
    )
    mean_pred = (2 * F.col("_ssx") + F.col("n")).cast("double") / (
        2000 * F.col("n")
    )
    frac_pos = F.col("n_pos").cast("double") / F.col("n")
    return g.select(
        "bin",
        "n",
        "n_pos",
        mean_pred.alias("mean_pred"),
        frac_pos.alias("frac_pos"),
        F.abs(mean_pred - frac_pos).alias("abs_gap"),
    )


@query(
    "ml_brier_logloss",
    # Brier is EXACT integer arithmetic: (p−y)·2000 = 2·sx+1−2000·y, so
    # Σ(p−y)² = Σ(2sx+1−2000y)² / 2000² — BIGINT numerator (4e6 per
    # row: overflows past ~2e12 rows; decimal-cast there), one final
    # division. Log-loss needs ln(), which libm won't promise
    # bit-identical across engines AND float summation is
    # order-dependent — so each distinct-score term is scaled to 1e-9
    # resolution and summed as BIGINT: deterministic under any
    # partitioning, and the cross-engine match is certified by this
    # oracle (ln of the same 1000 rationals, same rounding).
    oracle=f"""
    WITH hist AS ({_HIST_SQL}),
    terms AS (
      SELECT pos, neg, sx,
             CAST(round((pos * -ln(CAST(2*sx + 1 AS DOUBLE) / 2000)
                         + neg * -ln(1 - CAST(2*sx + 1 AS DOUBLE) / 2000))
                        * 1e9, 0)
                  AS BIGINT) AS ll_scaled,
             pos * (2*sx + 1 - 2000) * (2*sx + 1 - 2000)
               + neg * (2*sx + 1) * (2*sx + 1) AS sq_num
      FROM hist
    )
    SELECT CAST(sum(pos + neg) AS BIGINT) AS n,
           CAST(sum(sq_num) AS DOUBLE) / (sum(pos + neg) * 4000000)
             AS brier,
           CAST(sum(ll_scaled) AS DOUBLE) / (sum(pos + neg) * 1e9)
             AS logloss
    FROM terms
    """,
    survey_ref="beyond-reference: Brier score (exact) and log-loss "
    "(fixed-point, partition-order-independent) — probabilistic "
    "model-eval aggregates",
)
def ml_brier_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score and log-loss over the (score, label) pairs.

    Scale: both ride the ≤1000-row score histogram. The log-loss
    fixed-point trick (per-distinct-score term → round(·1e9) → BIGINT
    sum) is what makes a transcendental aggregate hash-stable: double
    summation is non-associative, integer summation isn't."""
    hist = _score_hist(spark, sf_dir)
    p = (2 * F.col("sx") + 1) / F.lit(2000.0)
    ll_term = (
        F.col("pos") * -F.log(p) + F.col("neg") * -F.log(1 - p)
    )
    dev_pos = 2 * F.col("sx") + 1 - 2000
    dev_neg = 2 * F.col("sx") + 1
    terms = hist.select(
        (F.col("pos") + F.col("neg")).alias("cnt"),
        F.round(ll_term * 1e9, 0).cast("bigint").alias("ll_scaled"),
        (
            F.col("pos") * dev_pos * dev_pos
            + F.col("neg") * dev_neg * dev_neg
        ).alias("sq_num"),
    )
    return terms.agg(
        F.sum("cnt").alias("n"),
        (
            F.sum("sq_num").cast("double")
            / (F.sum("cnt") * F.lit(4000000))
        ).alias("brier"),
        (
            F.sum("ll_scaled").cast("double") / (F.sum("cnt") * F.lit(1e9))
        ).alias("logloss"),
    )


# ---------------------------------------------------------------------------
# NDCG@10 — ranking quality per user over the events stream. Graded
# relevance from event_type (purchase 3, signup 2, click 1, view/error
# 0 → gains 2^rel−1 ∈ {7,3,1,0}); the model's ranking is a
# deterministic hash of event_id. The discount weights 1/log2(pos+1)
# are pre-scaled ×1e9 INTEGER LITERALS (identical in both engines), so
# DCG and ideal-DCG are exact BIGINTs and NDCG is one division — no
# libm, no float summation, bit-stable.
# ---------------------------------------------------------------------------
_NDCG_W = (
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
)


def _w_case_sql(col: str) -> str:
    whens = " ".join(f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W))
    return f"(CASE {col} {whens} ELSE 0 END)"


@query(
    "ml_ndcg_at_k",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id,
             CAST(CASE event_type WHEN 'purchase' THEN 7 WHEN 'signup' THEN 3
                  WHEN 'click' THEN 1 ELSE 0 END AS BIGINT) AS gain,
             (event_id * 2654435761 + 97) % 100000 AS hs
      FROM events
    ),
    ranked AS (
      SELECT user_id, gain,
             row_number() OVER (PARTITION BY user_id
               ORDER BY hs DESC, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id
               ORDER BY gain DESC, event_id) AS irn
      FROM g
    ),
    per_user AS (
      SELECT user_id,
             CAST(sum(gain * {_w_case_sql("rn")}) AS BIGINT) AS dcg_scaled,
             CAST(sum(gain * {_w_case_sql("irn")}) AS BIGINT) AS idcg_scaled
      FROM ranked GROUP BY user_id
    )
    SELECT user_id, dcg_scaled, idcg_scaled,
           CASE WHEN idcg_scaled = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(dcg_scaled AS DOUBLE) / idcg_scaled
           END AS ndcg_at_10
    FROM per_user
    """,
    survey_ref="beyond-reference: NDCG@10 per ranking context — "
    "search/recommendation eval as a distributed aggregate",
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per user: model ranking vs ideal ranking, exact.

    Scale: one user_id shuffle; the two row_number windows share the
    exchange (same partition key) and WindowGroupLimit caps the sort
    output at k per user. Weights are integer literals → BIGINT DCG,
    one division per user, no transcendental in the plan."""
    ev = load_table(spark, sf_dir, "events")
    gain = (
        F.when(F.col("event_type") == "purchase", 7)
        .when(F.col("event_type") == "signup", 3)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
    )
    g = ev.select(
        "user_id",
        "event_id",
        gain.cast("bigint").alias("gain"),
        ((F.col("event_id") * F.lit(2654435761) + 97) % 100000).alias("hs"),
    )
    wm = Window.partitionBy("user_id").orderBy(
        F.col("hs").desc(), F.col("event_id")
    )
    wi = Window.partitionBy("user_id").orderBy(
        F.col("gain").desc(), F.col("event_id")
    )
    ranked = g.select(
        "user_id",
        "gain",
        F.row_number().over(wm).alias("rn"),
        F.row_number().over(wi).alias("irn"),
    )

    def w_of(col: str) -> F.Column:
        expr = F.lit(0)
        for i, w in enumerate(_NDCG_W):
            expr = F.when(F.col(col) == i + 1, F.lit(w)).otherwise(expr)
        return expr

    per_user = ranked.groupBy("user_id").agg(
        F.sum(F.col("gain") * w_of("rn")).alias("dcg_scaled"),
        F.sum(F.col("gain") * w_of("irn")).alias("idcg_scaled"),
    )
    return per_user.select(
        "user_id",
        "dcg_scaled",
        "idcg_scaled",
        F.when(F.col("idcg_scaled") == 0, F.lit(0.0))
        .otherwise(
            F.col("dcg_scaled").cast("double") / F.col("idcg_scaled")
        )
        .alias("ndcg_at_10"),
    )


@query(
    "fe_target_encode",
    # Out-of-fold target encoding with additive smoothing: for each
    # (category, fold), the encoding uses every OTHER fold's rows —
    # enc = (pos_oof + prior·m) / (n_oof + m) with prior=0.5, m=10, so
    # the numerator is the integer pos_oof + 5. Leak-free by
    # construction, exact until the one division.
    oracle="""
    WITH lab AS (
      SELECT lang,
             (doc_id * 2654435761) % 5 AS fold,
             CASE WHEN (doc_id * 7919 + 13) % 97 < 40 THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    per AS (
      SELECT lang, fold, CAST(count(*) AS BIGINT) AS n_fold,
             CAST(sum(y) AS BIGINT) AS pos_fold
      FROM lab GROUP BY lang, fold
    ),
    oof AS (
      SELECT lang, fold, n_fold, pos_fold,
             CAST(sum(n_fold) OVER (PARTITION BY lang) - n_fold AS BIGINT)
               AS n_oof,
             CAST(sum(pos_fold) OVER (PARTITION BY lang) - pos_fold AS BIGINT)
               AS pos_oof
      FROM per
    )
    SELECT lang, fold, n_fold, pos_fold, n_oof, pos_oof,
           CAST(pos_oof + 5 AS DOUBLE) / (n_oof + 10) AS enc
    FROM oof
    """,
    survey_ref="beyond-reference: out-of-fold smoothed target encoding "
    "— the leak-free categorical feature transform for training",
)
def fe_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed out-of-fold target encoding per (category, fold).

    Scale: one (lang, fold) groupBy collapses the corpus to
    |categories|·|folds| rows; the per-category totals come from a
    window over that aggregate (KB). Applying the encoding to the fact
    table is then a broadcast join on (lang, fold) — never computed
    here row-at-a-time."""
    docs = load_table(spark, sf_dir, "documents")
    lab = docs.select(
        "lang",
        ((F.col("doc_id") * F.lit(2654435761)) % 5).alias("fold"),
        F.when((F.col("doc_id") * 7919 + 13) % 97 < 40, 1)
        .otherwise(0)
        .alias("y"),
    )
    per = lab.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).alias("n_fold"), F.sum("y").alias("pos_fold")
    )
    w = Window.partitionBy("lang")
    oof = per.select(
        "lang",
        "fold",
        "n_fold",
        "pos_fold",
        (F.sum("n_fold").over(w) - F.col("n_fold")).alias("n_oof"),
        (F.sum("pos_fold").over(w) - F.col("pos_fold")).alias("pos_oof"),
    )
    return oof.select(
        "lang",
        "fold",
        "n_fold",
        "pos_fold",
        "n_oof",
        "pos_oof",
        (
            (F.col("pos_oof") + 5).cast("double") / (F.col("n_oof") + 10)
        ).alias("enc"),
    )


# ---------------------------------------------------------------------------
# Inter-annotator agreement. Three synthetic annotators: each observes
# a latent truth t(doc) and flips it ~20% of the time (all pure BIGINT
# mod arithmetic). Pairwise Cohen's kappa stays exact: with N docs,
# agreement a and per-annotator positive counts pa/pb,
#   kappa = (N·a − E) / (N² − E),  E = pa·pb + (N−pa)·(N−pb)
# — integer numerator and denominator, one division.
# ---------------------------------------------------------------------------
_VOTES_SQL = """
  SELECT doc_id,
         CASE WHEN ((doc_id * 2654435761) % 100 < 50)
                   <> ((doc_id * 31 + 7) % 100 < 20) THEN 1 ELSE 0 END AS v1,
         CASE WHEN ((doc_id * 2654435761) % 100 < 50)
                   <> ((doc_id * 53 + 11) % 100 < 20) THEN 1 ELSE 0 END AS v2,
         CASE WHEN ((doc_id * 2654435761) % 100 < 50)
                   <> ((doc_id * 97 + 3) % 100 < 20) THEN 1 ELSE 0 END AS v3
  FROM documents
"""


@query(
    "lab_agreement",
    oracle=f"""
    WITH v AS ({_VOTES_SQL}),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v1) AS BIGINT) AS p1,
             CAST(sum(v2) AS BIGINT) AS p2,
             CAST(sum(v3) AS BIGINT) AS p3,
             CAST(sum(CASE WHEN v1 = v2 THEN 1 ELSE 0 END) AS BIGINT) AS a12,
             CAST(sum(CASE WHEN v1 = v3 THEN 1 ELSE 0 END) AS BIGINT) AS a13,
             CAST(sum(CASE WHEN v2 = v3 THEN 1 ELSE 0 END) AS BIGINT) AS a23
      FROM v
    ),
    pairs AS (
      SELECT pr.pair, n,
             CASE pr.pair WHEN 'a1-a2' THEN a12 WHEN 'a1-a3' THEN a13
                  ELSE a23 END AS n_agree,
             CASE pr.pair WHEN 'a2-a3' THEN p2 ELSE p1 END AS pos_a,
             CASE pr.pair WHEN 'a1-a2' THEN p2 ELSE p3 END AS pos_b
      FROM agg CROSS JOIN (VALUES ('a1-a2'), ('a1-a3'), ('a2-a3'))
        AS pr(pair)
    )
    SELECT pair, n, n_agree, pos_a, pos_b,
           CAST(n * n_agree - (pos_a * pos_b + (n - pos_a) * (n - pos_b))
                AS DOUBLE)
             / (n * n - (pos_a * pos_b + (n - pos_a) * (n - pos_b)))
             AS kappa
    FROM pairs
    """,
    survey_ref="beyond-reference: pairwise Cohen's kappa over annotator "
    "votes — label-quality measurement for the data pipeline",
)
def lab_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise inter-annotator agreement (Cohen's kappa), exact.

    Scale: ONE full-table aggregate produces all sufficient statistics
    (N, per-annotator positives, pairwise agreements); the 3 output
    rows come from a broadcast crossJoin against that 1-row frame —
    annotator-pair fan-out never touches the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    t = (F.col("doc_id") * F.lit(2654435761)) % 100 < 50

    def vote(mult: int, off: int) -> F.Column:
        flip = (F.col("doc_id") * mult + off) % 100 < 20
        return F.when(t != flip, 1).otherwise(0)

    v = docs.select(
        vote(31, 7).alias("v1"),
        vote(53, 11).alias("v2"),
        vote(97, 3).alias("v3"),
    )
    agg = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v1").alias("p1"),
        F.sum("v2").alias("p2"),
        F.sum("v3").alias("p3"),
        F.sum((F.col("v1") == F.col("v2")).cast("int")).alias("a12"),
        F.sum((F.col("v1") == F.col("v3")).cast("int")).alias("a13"),
        F.sum((F.col("v2") == F.col("v3")).cast("int")).alias("a23"),
    )
    pairs = spark.createDataFrame(
        [("a1-a2",), ("a1-a3",), ("a2-a3",)], "pair string"
    )
    joined = agg.crossJoin(F.broadcast(pairs))
    n_agree = (
        F.when(F.col("pair") == "a1-a2", F.col("a12"))
        .when(F.col("pair") == "a1-a3", F.col("a13"))
        .otherwise(F.col("a23"))
    )
    pos_a = F.when(F.col("pair") == "a2-a3", F.col("p2")).otherwise(
        F.col("p1")
    )
    pos_b = F.when(F.col("pair") == "a1-a2", F.col("p2")).otherwise(
        F.col("p3")
    )
    e = pos_a * pos_b + (F.col("n") - pos_a) * (F.col("n") - pos_b)
    return joined.select(
        "pair",
        "n",
        n_agree.alias("n_agree"),
        pos_a.alias("pos_a"),
        pos_b.alias("pos_b"),
        (
            (F.col("n") * n_agree - e).cast("double")
            / (F.col("n") * F.col("n") - e)
        ).alias("kappa"),
    )


@query(
    "ml_pr_curve",
    # The full precision/recall/lift sweep: one row per distinct score,
    # thresholding at sx ≥ t. tp/fp are DESCENDING cumulative sums over
    # the histogram; precision, recall, and lift are single divisions
    # of exact BIGINTs (lift = tp·(P+N) / ((tp+fp)·P) — precision over
    # base rate without intermediate rates).
    oracle=f"""
    WITH hist AS ({_HIST_SQL}),
    cum AS (
      SELECT sx,
             sum(pos) OVER (ORDER BY sx DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(neg) OVER (ORDER BY sx DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             sum(pos) OVER () AS p,
             sum(neg) OVER () AS nn
      FROM hist
    )
    SELECT sx AS threshold_milli, CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(tp AS DOUBLE) / (tp + fp) AS precision_,
           CAST(tp AS DOUBLE) / p AS recall_,
           CAST(tp * (p + nn) AS DOUBLE) / ((tp + fp) * p) AS lift
    FROM cum
    """,
    survey_ref="beyond-reference: full PR-curve / cumulative-gains "
    "sweep (precision, recall, lift at every distinct threshold) from "
    "one histogram pass — the campaign-targeting eval table",
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/lift at every distinct score threshold.

    Scale: the threshold sweep is a descending cumulative window over
    the ≤1000-row score histogram — the raw corpus is touched once by
    the combining groupBy. AP/AUPRC is a driver-side fold of this
    output."""
    hist = _score_hist(spark, sf_dir)
    w_cum = Window.orderBy(F.col("sx").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "sx",
        F.sum("pos").over(w_cum).alias("tp"),
        F.sum("neg").over(w_cum).alias("fp"),
        F.sum("pos").over(w_all).alias("p"),
        F.sum("neg").over(w_all).alias("nn"),
    )
    return cum.select(
        F.col("sx").alias("threshold_milli"),
        "tp",
        "fp",
        (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))).alias(
            "precision_"
        ),
        (F.col("tp").cast("double") / F.col("p")).alias("recall_"),
        (
            (F.col("tp") * (F.col("p") + F.col("nn"))).cast("double")
            / ((F.col("tp") + F.col("fp")) * F.col("p"))
        ).alias("lift"),
    )


@query(
    "lab_pref_pairs",
    # Preference-pair construction (RLHF-style training data): within
    # each group, pair the top-k docs by score ("chosen") against the
    # bottom-k ("rejected"), keeping pairs whose margin clears a
    # threshold. BOTH sides are rank-capped BEFORE the pairing join —
    # k² pairs per group by construction, never |group|².
    oracle="""
    WITH scored AS (
      SELECT lang, doc_id,
             (doc_id * 2654435761 + 17) % 1000 AS s
      FROM documents
    ),
    ranked AS (
      SELECT lang, doc_id, s,
             row_number() OVER (PARTITION BY lang
               ORDER BY s DESC, doc_id) AS rk_top,
             row_number() OVER (PARTITION BY lang
               ORDER BY s ASC, doc_id) AS rk_bot
      FROM scored
    )
    SELECT c.lang, c.doc_id AS chosen_id, r.doc_id AS rejected_id,
           CAST(c.s - r.s AS BIGINT) AS margin
    FROM ranked c JOIN ranked r
      ON c.lang = r.lang AND c.rk_top <= 4 AND r.rk_bot <= 4
     AND c.doc_id <> r.doc_id AND c.s - r.s >= 100
    """,
    survey_ref="beyond-reference: preference-pair construction — "
    "rank-capped chosen/rejected pairing with a margin floor, the "
    "RLHF/DPO training-data shape",
)
def lab_pref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(chosen, rejected) preference pairs per group, margin ≥ 100.

    Scale: the two row_number windows share one lang shuffle and
    WindowGroupLimit caps their sort output at k; the pairing join
    runs on two k-row-per-group slivers (k=4), so output and work are
    O(groups·k²) no matter how large the groups get — the naive
    all-pairs-then-filter version is the quadratic trap."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        "doc_id",
        ((F.col("doc_id") * F.lit(2654435761) + 17) % 1000).alias("s"),
    )
    w_top = Window.partitionBy("lang").orderBy(F.col("s").desc(), "doc_id")
    w_bot = Window.partitionBy("lang").orderBy(F.col("s").asc(), "doc_id")
    ranked = scored.select(
        "lang",
        "doc_id",
        "s",
        F.row_number().over(w_top).alias("rk_top"),
        F.row_number().over(w_bot).alias("rk_bot"),
    )
    c = ranked.filter(F.col("rk_top") <= 4).alias("c")
    r = ranked.filter(F.col("rk_bot") <= 4).alias("r")
    return c.join(
        r,
        (F.col("c.lang") == F.col("r.lang"))
        & (F.col("c.doc_id") != F.col("r.doc_id"))
        & (F.col("c.s") - F.col("r.s") >= 100),
    ).select(
        F.col("c.lang").alias("lang"),
        F.col("c.doc_id").alias("chosen_id"),
        F.col("r.doc_id").alias("rejected_id"),
        (F.col("c.s") - F.col("r.s")).cast("bigint").alias("margin"),
    )


# Annotator votes: same latent truth + flip model as lab_agreement
# (ml_eval_suite._VOTES_SQL) so the two label-quality entries measure
# the same synthetic labeling process.
_TRUTH = "((doc_id * 2654435761) % 100 < 50)"
_VOTE = "({t} <> ((doc_id * {m} + {o}) % 100 < 20))"


@query(
    "lab_majority_vote",
    oracle=f"""
    WITH v AS (
      SELECT doc_id, lang,
             CASE WHEN {_TRUTH} THEN 1 ELSE 0 END AS t,
             CASE WHEN {_VOTE.format(t=_TRUTH, m=31, o=7)} THEN 1 ELSE 0 END AS v1,
             CASE WHEN {_VOTE.format(t=_TRUTH, m=53, o=11)} THEN 1 ELSE 0 END AS v2,
             CASE WHEN {_VOTE.format(t=_TRUTH, m=97, o=3)} THEN 1 ELSE 0 END AS v3
      FROM documents
    ),
    g AS (
      SELECT lang, t, v1 + v2 + v3 AS s,
             CASE WHEN v1 + v2 + v3 >= 2 THEN 1 ELSE 0 END AS gold
      FROM v
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(gold) AS BIGINT) AS n_gold_pos,
           CAST(sum(CASE WHEN s IN (0, 3) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unanimous,
           CAST(sum(CASE WHEN gold = t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
    FROM g GROUP BY lang
    """,
    survey_ref="beyond-reference: majority-vote gold-label "
    "construction with unanimity and latent-accuracy diagnostics — "
    "the labeling step lab_agreement's kappa measures",
)
def lab_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-annotator majority vote → per-language gold-label report.

    Row-local vote construction (pure BIGINT mod arithmetic, zero
    data movement) then ONE combining groupBy to |langs| rows. With
    an odd annotator count the majority always exists — no tie rule
    needed; n_unanimous vs n_docs is the consensus-rate diagnostic
    and n_correct/n_docs the (here-knowable) label error rate."""
    docs = load_table(spark, sf_dir, "documents")
    t = ((F.col("doc_id") * F.lit(2654435761)) % 100 < 50).cast("int")

    def vote(m: int, o: int) -> F.Column:
        flip = (F.col("doc_id") * m + o) % 100 < 20
        return (t.cast("boolean") != flip).cast("int")

    s = vote(31, 7) + vote(53, 11) + vote(97, 3)
    g = docs.select(
        "lang",
        t.alias("t"),
        s.alias("s"),
        (s >= 2).cast("int").alias("gold"),
    )
    return g.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("gold").cast("bigint").alias("n_gold_pos"),
        F.sum(F.col("s").isin(0, 3).cast("int"))
        .cast("bigint")
        .alias("n_unanimous"),
        F.sum((F.col("gold") == F.col("t")).cast("int"))
        .cast("bigint")
        .alias("n_correct"),
    )


# Poisson(1) inverse CDF at 1e-4 resolution: P(X<=k) cumulative,
# scaled to 0..10000. A uniform integer hash u∈[0,10000) maps to the
# resample weight via these thresholds — deterministic, no rand().
_POIS = (3679, 7358, 9197, 9810, 9963)
_B = 32


@query(
    "ml_bootstrap_ci",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN {_TRUTH} THEN 1 ELSE 0 END AS label,
             CASE WHEN {_TRUTH} <> ((doc_id * 193 + 29) % 100 < 15)
                  THEN 1 ELSE 0 END AS pred
      FROM documents
    ),
    x AS (
      SELECT d.*, b.b,
             (d.doc_id * 1103515245 + b.b * 12345 + 7) % 10000 AS u
      FROM d CROSS JOIN (SELECT unnest(range(0, {_B})) AS b) b
    ),
    w AS (
      SELECT b, pred, label,
             CASE WHEN u < {_POIS[0]} THEN 0
                  WHEN u < {_POIS[1]} THEN 1
                  WHEN u < {_POIS[2]} THEN 2
                  WHEN u < {_POIS[3]} THEN 3
                  WHEN u < {_POIS[4]} THEN 4
                  ELSE 5 END AS w
      FROM x
    )
    SELECT CAST(b AS BIGINT) AS b,
           CAST(sum(w) AS BIGINT) AS n_w,
           CAST(sum(CASE WHEN pred = label THEN w ELSE 0 END) AS BIGINT)
             AS correct_w,
           CAST(CAST(sum(CASE WHEN pred = label THEN w ELSE 0 END) * 1000000
                     AS BIGINT) // sum(w) AS BIGINT) AS acc_ppm
    FROM w GROUP BY b
    """,
    survey_ref="beyond-reference: Poisson-bootstrap confidence "
    "intervals for eval metrics — 32 deterministic resamples in one "
    "pass, integer-exact accuracy per resample",
)
def ml_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32 Poisson-bootstrap resamples of classifier accuracy, exact.

    The classic driver-side bootstrap (B passes over sampled copies)
    is unusable at corpus scale; the Poisson bootstrap replaces it
    with per-row integer weights — here a deterministic LCG-style
    hash of (doc_id, b) through the Poisson(1) inverse CDF, so the
    resamples are reproducible on any cluster and oracle-checkable.
    One explode(0..31) + one combining groupBy: the corpus is read
    once, shuffle carries 32 rows of state per partition. acc_ppm is
    integer floor division — no float in the certified values; the
    CI is read off the 32-row result (rank 2 / rank 30 ≈ 90% CI)."""
    docs = load_table(spark, sf_dir, "documents")
    truth = (F.col("doc_id") * F.lit(2654435761)) % 100 < 50
    noise = (F.col("doc_id") * 193 + 29) % 100 < 15
    d = docs.select(
        "doc_id",
        truth.cast("int").alias("label"),
        (truth != noise).cast("int").alias("pred"),
    )
    x = d.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b")
    ).withColumn(
        "u",
        (F.col("doc_id") * F.lit(1103515245) + F.col("b") * 12345 + 7)
        % 10000,
    )
    w = (
        F.when(F.col("u") < _POIS[0], 0)
        .when(F.col("u") < _POIS[1], 1)
        .when(F.col("u") < _POIS[2], 2)
        .when(F.col("u") < _POIS[3], 3)
        .when(F.col("u") < _POIS[4], 4)
        .otherwise(5)
    )
    correct_w = F.when(F.col("pred") == F.col("label"), F.col("w")).otherwise(0)
    return (
        x.withColumn("w", w)
        .groupBy(F.col("b").cast("bigint").alias("b"))
        .agg(
            F.sum("w").cast("bigint").alias("n_w"),
            F.sum(correct_w).cast("bigint").alias("correct_w"),
        )
        .select(
            "b",
            "n_w",
            "correct_w",
            F.expr("correct_w * 1000000 div n_w").alias("acc_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Regression metrics: the eval family's missing half.
# ---------------------------------------------------------------------------
@query(
    "ml_regression_metrics",
    # y = event cents, ŷ = y + deterministic ±1000-cent noise. Every
    # sufficient statistic is an exact integer (decimal(38,0) for the
    # n·Σy² products); RMSE's sqrt is IEEE-exact (correctly rounded on
    # every conforming libm), so even the derived doubles hash-match.
    oracle=f"""
    WITH d AS (
      SELECT {_CENTS} AS y,
             {_CENTS} + ((event_id * 37 + 11) % 2001 - 1000) AS yhat
      FROM events
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(y - yhat AS HUGEINT) * (y - yhat)) AS BIGINT)
               AS sse,
             CAST(sum(abs(y - yhat)) AS BIGINT) AS sae
      FROM d
    )
    SELECT n, sse, sae,
           sqrt(CAST(sse AS DOUBLE) / n) AS rmse,
           CAST(sae AS DOUBLE) / n AS mae,
           1.0 - CAST(n AS DOUBLE) * sse
                 / CAST(n * syy - sy * sy AS DOUBLE) AS r2
    FROM s
    """,
    survey_ref="beyond-reference: regression metrics (RMSE/MAE/R²) "
    "from one pass of exact integer sufficient statistics — "
    "completing ml_eval's classification-only metric set",
)
def ml_regression_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact RMSE / MAE / R² in a single aggregate pass.

    SSE, SAE, Σy, Σy² are integers (cents); R² uses the mean-free
    identity n·Σ(y−ȳ)² = n·Σy² − (Σy)², kept exact in decimal(38,0)
    (DuckDB HUGEINT) — at 10⁹ rows of 10⁵-cent values n·Σy² ≈ 10²⁴,
    past BIGINT but far inside 38 digits. One division (and one IEEE
    sqrt) at the very end. Scale: a combining aggregate — map-side
    partials, one 5-number row on the wire."""
    e = load_table(spark, sf_dir, "events")
    cents = (
        F.round(F.col("value").cast("decimal(12,4)") * 100, 0)
        .cast("bigint")
    )
    d = e.select(
        cents.alias("y"),
        (cents + ((F.col("event_id") * 37 + 11) % 2001 - 1000)).alias(
            "yhat"
        ),
    )
    err = F.col("y") - F.col("yhat")
    dec = "decimal(38,0)"
    s = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(err * err).cast("bigint").alias("sse"),
        F.sum(F.abs(err)).cast("bigint").alias("sae"),
    )
    return s.select(
        "n",
        "sse",
        "sae",
        F.sqrt(F.col("sse").cast("double") / F.col("n")).alias("rmse"),
        (F.col("sae").cast("double") / F.col("n")).alias("mae"),
        (
            F.lit(1.0)
            - F.col("n").cast("double")
            * F.col("sse")
            / (
                F.col("n").cast(dec) * F.col("syy")
                - F.col("sy") * F.col("sy")
            ).cast("double")
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# A/B experiment readout: two-proportion z from exact counts.
# ---------------------------------------------------------------------------
@query(
    "ml_ab_proportions",
    # variant = user hash; converted = user has a >150-value purchase
    # (mid-range rate at every sf — "any purchase" saturates to 1.0 and
    # zeroes the z denominator). All four
    # sufficient statistics are exact BIGINTs; rates and the pooled z
    # are spelled as the IDENTICAL expression tree on both engines, so
    # the final doubles match bit-for-bit (IEEE ops are deterministic
    # given identical operand order).
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN (user_id * 2654435761) % 100 < 50
                  THEN 'a' ELSE 'b' END AS variant,
             max(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT
        CAST(sum(CASE WHEN variant = 'a' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_a,
        CAST(sum(CASE WHEN variant = 'a' THEN converted ELSE 0 END)
             AS BIGINT) AS conv_a,
        CAST(sum(CASE WHEN variant = 'b' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_b,
        CAST(sum(CASE WHEN variant = 'b' THEN converted ELSE 0 END)
             AS BIGINT) AS conv_b
      FROM u
    )
    SELECT n_a, conv_a, n_b, conv_b,
           CAST(conv_a AS DOUBLE) / n_a AS rate_a,
           CAST(conv_b AS DOUBLE) / n_b AS rate_b,
           (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt(
                 (CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                 * (1.0 / n_a + 1.0 / n_b)
               ) AS z
    FROM s
    """,
    survey_ref="beyond-reference: A/B two-proportion z-test from "
    "exact counts — the experimentation readout (complements the "
    "drift family's chi-square)",
)
def ml_ab_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a deterministic 50/50 user split.

    One per-user aggregate (did the user ever convert) then one
    4-counter combining aggregate; rates and the pooled z derive from
    those BIGINTs in a single final expression. Scale: the experiment
    readout is O(users) map-side + 4 numbers on the wire — re-runnable
    per metric/segment without touching the fact twice."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 150)
                ).cast("int")
            ).alias("converted")
        )
        .select(
            F.when(
                (F.col("user_id") * F.lit(2654435761)) % 100 < 50, "a"
            )
            .otherwise("b")
            .alias("variant"),
            "converted",
        )
    )
    s = u.agg(
        F.sum((F.col("variant") == "a").cast("int"))
        .cast("bigint")
        .alias("n_a"),
        F.sum(
            F.when(F.col("variant") == "a", F.col("converted")).otherwise(0)
        )
        .cast("bigint")
        .alias("conv_a"),
        F.sum((F.col("variant") == "b").cast("int"))
        .cast("bigint")
        .alias("n_b"),
        F.sum(
            F.when(F.col("variant") == "b", F.col("converted")).otherwise(0)
        )
        .cast("bigint")
        .alias("conv_b"),
    )
    rate_a = F.col("conv_a").cast("double") / F.col("n_a")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (rate_a - rate_b) / F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return s.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        z.alias("z"),
    )


# ---------------------------------------------------------------------------
# Multiclass classification report: the lang-ID model evaluated.
# ---------------------------------------------------------------------------

_LANG_PRED_SQL = f"""CASE
      WHEN {_hits_sql('en')} + {_hits_sql('de')} + {_hits_sql('fr')}
           + {_hits_sql('es')} = 0 THEN 'und'
      WHEN {_hits_sql('en')} >= {_hits_sql('de')}
           AND {_hits_sql('en')} >= {_hits_sql('fr')}
           AND {_hits_sql('en')} >= {_hits_sql('es')} THEN 'en'
      WHEN {_hits_sql('de')} >= {_hits_sql('fr')}
           AND {_hits_sql('de')} >= {_hits_sql('es')} THEN 'de'
      WHEN {_hits_sql('fr')} >= {_hits_sql('es')} THEN 'fr'
      ELSE 'es' END"""


@query(
    "ml_multiclass_report",
    # a REAL model evaluated on REAL labels: the text family's lang-ID
    # heuristic (t_text_profile's lang_pred) scored against the corpus
    # lang column — per-class support/precision/recall from one
    # confusion pass, integer-exact with ppm fixed-point ratios
    oracle=f"""
    WITH p AS (
      SELECT lang AS truth, {_LANG_PRED_SQL} AS pred FROM documents
    ),
    cells AS (
      SELECT truth, pred, CAST(count(*) AS BIGINT) AS n
      FROM p GROUP BY 1, 2
    ),
    per_truth AS (
      SELECT truth AS lang,
             CAST(sum(n) AS BIGINT) AS support,
             CAST(sum(CASE WHEN pred = truth THEN n ELSE 0 END) AS BIGINT)
               AS tp
      FROM cells GROUP BY 1
    ),
    per_pred AS (
      SELECT pred AS lang, CAST(sum(n) AS BIGINT) AS pred_n
      FROM cells GROUP BY 1
    )
    SELECT t.lang, support, tp,
           CAST(coalesce(pred_n, 0) AS BIGINT) AS pred_n,
           CASE WHEN coalesce(pred_n, 0) = 0 THEN NULL
                ELSE tp * 1000000 // pred_n END AS precision_ppm,
           tp * 1000000 // support AS recall_ppm
    FROM per_truth t LEFT JOIN per_pred USING (lang)
    """,
    survey_ref="beyond-reference: multiclass classification report — "
    "per-class precision/recall of the text family's lang-ID model "
    "against corpus labels (composes text analysis with ml_eval; the "
    "binary confusion entry's k-class sibling)",
)
def ml_multiclass_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall of lang-ID, from ONE confusion pass.

    The full k×k confusion matrix collapses to |classes|² cells in a
    single combining groupBy; per-class tp/support/pred_n come from
    conditional sums over that KB-sized table, never a second corpus
    scan. precision is NULL (not 0) for never-predicted classes —
    the honest spelling. This is the eval loop every curation
    classifier (lang, quality, toxicity) runs after retraining."""
    from oroboro_dw_dbt_spark.text.analysis import lang_id

    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        F.col("lang").alias("truth"), lang_id("text").alias("pred")
    )
    cells = p.groupBy("truth", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per_truth = cells.groupBy(F.col("truth").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("support"),
        F.sum(F.when(F.col("pred") == F.col("truth"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("tp"),
    )
    per_pred = cells.groupBy(F.col("pred").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("pred_n")
    )
    m = per_truth.join(per_pred, "lang", "left").na.fill({"pred_n": 0})
    return m.select(
        "lang",
        "support",
        "tp",
        "pred_n",
        F.when(
            F.col("pred_n") == 0, F.lit(None).cast("bigint")
        )
        .otherwise(F.expr("tp * 1000000 div pred_n"))
        .alias("precision_ppm"),
        F.expr("tp * 1000000 div support").alias("recall_ppm"),
    )


@query(
    "ml_lift_gains",
    oracle="""
    WITH s AS (
      SELECT vec_id, label % 2 AS y,
             ((vec_id * 2654435761 + 40503) % 100000) % 600
               + (label % 2) * 400 AS sx
      FROM embeddings
    ),
    d AS (
      SELECT y, ntile(10) OVER (ORDER BY sx DESC, vec_id) AS decile FROM s
    ),
    agg AS (
      SELECT CAST(decile AS INT) AS decile,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM d GROUP BY decile
    ),
    cum AS (
      SELECT decile, n, pos,
             CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
             CAST(sum(pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
             CAST(sum(n) OVER () AS BIGINT) AS tot_n,
             CAST(sum(pos) OVER () AS BIGINT) AS tot_pos
      FROM agg
    )
    SELECT decile, n, pos, cum_pos,
           CAST(round(CAST(cum_pos AS DOUBLE) / tot_pos * 1e6, 0) AS BIGINT)
             AS gains_micro,
           CAST(round(CAST(cum_pos * tot_n AS DOUBLE) / (cum_n * tot_pos) * 1e6, 0)
             AS BIGINT) AS lift_micro
    FROM cum
    """,
    survey_ref="beyond-reference: decile lift & cumulative gains — the "
    "model-triage table; pinned ntile tie-break, BIGINT statistics",
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains over the synthetic binary scores.

    Scale: ntile is rank-based, so this entry is the exact-ranking
    shape; at 100 TB the two-phase range-partition ranking
    (w_rank_twophase) substitutes for the single-partition window with
    identical output — or the histogram route (ml_* family) replaces
    deciles with score-bucket bins at zero ordered work."""
    s = _binary_scores(spark, sf_dir)
    d = s.withColumn(
        "decile", F.ntile(10).over(Window.orderBy(F.desc("sx"), "vec_id"))
    )
    agg = d.groupBy(F.col("decile").cast("int").alias("decile")).agg(
        F.count("*").alias("n"), F.sum("y").alias("pos")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = agg.select(
        "decile",
        "n",
        "pos",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("pos").over(wc).alias("cum_pos"),
        F.sum("n").over(wt).alias("tot_n"),
        F.sum("pos").over(wt).alias("tot_pos"),
    )
    return cum.select(
        "decile",
        "n",
        "pos",
        "cum_pos",
        F.round(F.col("cum_pos").cast("double") / F.col("tot_pos") * 1e6, 0)
        .cast("long")
        .alias("gains_micro"),
        F.round(
            (F.col("cum_pos") * F.col("tot_n")).cast("double")
            / (F.col("cum_n") * F.col("tot_pos"))
            * 1e6,
            0,
        )
        .cast("long")
        .alias("lift_micro"),
    )


_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


@query(
    "ml_cooccurrence_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS L FROM documents
    ),
    uni AS (
      SELECT L[i] AS t, CAST(count(*) AS BIGINT) AS c
      FROM toks, unnest(range(1, len(L) + 1)) AS u(i)
      WHERE L[i] <> '' GROUP BY 1
    ),
    bi AS (
      SELECT L[i] AS a, L[i + 1] AS b, CAST(count(*) AS BIGINT) AS c_ab
      FROM toks, unnest(range(1, len(L))) AS u(i)
      WHERE L[i] <> '' AND L[i + 1] <> '' GROUP BY 1, 2
    ),
    tot AS (
      SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n_uni,
             (SELECT CAST(sum(c_ab) AS BIGINT) FROM bi) AS n_bi
    )
    SELECT a, b, c_ab, pmi_nano, rnk FROM (
      SELECT bi.a, bi.b, bi.c_ab,
             CAST(round(ln(CAST(bi.c_ab AS DOUBLE) * tot.n_uni * tot.n_uni
                   / (tot.n_bi * ua.c * ub.c)) * 1e9, 0) AS BIGINT) AS pmi_nano,
             CAST(row_number() OVER (ORDER BY
               round(ln(CAST(bi.c_ab AS DOUBLE) * tot.n_uni * tot.n_uni
                   / (tot.n_bi * ua.c * ub.c)) * 1e9, 0) DESC,
               bi.a, bi.b) AS INT) AS rnk
      FROM bi JOIN uni ua ON ua.t = bi.a JOIN uni ub ON ub.t = bi.b
      CROSS JOIN tot
      WHERE bi.c_ab >= {_PMI_MIN_COUNT}
    ) WHERE rnk <= {_PMI_TOPK}
    """,
    survey_ref="beyond-reference: PMI collocations over adjacent-token "
    "bigrams — exact BIGINT counts, one ln(), nano fixed-point, "
    "ranked on the rounded value",
)
def ml_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by PMI (min support 5).

    pmi = ln(c_ab · N_u² / (N_b · c_a · c_b)) — every operand an
    exact integer aggregate, so partitioning cannot move the value;
    ranking runs on the ROUNDED fixed-point (a last-ulp libm
    difference cannot reorder). Scale: unigram and bigram censuses
    are combining groupBys over the token stream; the PMI join hits
    only bigrams past min-support."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("L")
    )
    toks = d.select(F.explode("L").alias("t")).where(F.col("t") != "")
    uni = toks.groupBy("t").agg(F.count("*").alias("c"))
    bi = (
        d.select(
            F.explode(
                F.arrays_zip(
                    F.slice("L", 1, F.size("L") - 1).alias("a"),
                    F.slice("L", 2, F.size("L") - 1).alias("b"),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .where((F.col("a") != "") & (F.col("b") != ""))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c_ab"))
    )
    tot = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        F.broadcast(bi.agg(F.sum("c_ab").alias("n_bi")))
    )
    ua = uni.select(F.col("t").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("t").alias("b"), F.col("c").alias("cb"))
    pmi_nano = F.round(
        F.log(
            F.col("c_ab").cast("double")
            * F.col("n_uni")
            * F.col("n_uni")
            / (F.col("n_bi") * F.col("ca") * F.col("cb"))
        )
        * 1e9,
        0,
    ).cast("long")
    scored = (
        bi.where(F.col("c_ab") >= _PMI_MIN_COUNT)
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(tot))
        .select("a", "b", "c_ab", pmi_nano.alias("pmi_nano"))
    )
    w = Window.orderBy(F.desc("pmi_nano"), "a", "b")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= _PMI_TOPK)
        .select("a", "b", "c_ab", "pmi_nano", "rnk")
    )

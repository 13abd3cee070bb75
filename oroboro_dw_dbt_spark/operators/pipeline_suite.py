"""Catalog entries for the corpus-pipeline operators (text/pipeline.py):
benchmark decontamination, token-window chunking, PII redaction,
repetition signals, incremental corpus dedup.

Oracle conventions follow training_suite.py: md5-only hashing, ROUND
floats to 6, 0-based Spark arithmetic mirrored 1-based in DuckDB with
the same element counts, and a pinned total order behind every argmax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the mix weights are the single source of truth shared with the
# corpus-build DAG, so the sp_weighted_mix oracle and the
# pipe_corpus_build graph cannot drift
from oroboro_dw_dbt_spark.models.corpus_pipeline import MIX_DEFAULT as _MIX_DEFAULT
from oroboro_dw_dbt_spark.models.corpus_pipeline import MIX_WEIGHTS as _MIX_WEIGHTS
from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.operators.training_suite import _TOKS
from oroboro_dw_dbt_spark.sources.testdata import load_table
from oroboro_dw_dbt_spark.text.pipeline import (
    PII_PATTERNS,
    contamination_report,
    incremental_dedup,
    pii_redact,
    repetition_signals,
    token_chunks,
)


def _grams_sql(n: int) -> str:
    """ALL n-token grams, 1-based DuckDB twin of pipeline.gram_list."""
    joined = " || ' ' || ".join(f"{_TOKS}[i+{j}]" if j else f"{_TOKS}[i]" for j in range(n))
    return (
        f"CASE WHEN len({_TOKS}) >= {n} THEN "
        f"list_transform(range(1, len({_TOKS}) - {n - 2}), i -> {joined}) "
        f"ELSE [array_to_string({_TOKS}, ' ')] END"
    )


def _gram_hashes_sql(n: int) -> str:
    return f"list_distinct(list_transform({_grams_sql(n)}, g -> md5(g)))"


# ---------------------------------------------------------------------------
# Decontamination: benchmark n-gram overlap (GPT-3 appendix-C shape)
# ---------------------------------------------------------------------------
@query(
    "dc_ngram_overlap",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, unnest({_gram_hashes_sql(4)}) AS g FROM documents
    ),
    t AS (SELECT doc_id, g FROM g WHERE doc_id % 7 != 0),
    b AS (SELECT doc_id AS bench_id, g FROM g WHERE doc_id % 7 = 0)
    SELECT t.doc_id,
           count(*) AS n_collisions,
           count(DISTINCT b.bench_id) AS n_benchmark_docs
    FROM t JOIN b USING (g)
    GROUP BY t.doc_id
    """,
    survey_ref=(
        "beyond-reference: eval-set decontamination — exact n-gram collision "
        "join; benchmark gram hashes broadcast, corpus never shuffled"
    ),
)
def dc_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 7 != 0)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    return contamination_report(train, bench, n=4)


# ---------------------------------------------------------------------------
# Token-window chunking (context-window packing)
# ---------------------------------------------------------------------------
@query(
    "ch_token_chunks",
    oracle=f"""
    SELECT doc_id,
           unnest(list_transform(range(0, greatest(len({_TOKS}), 1), 24), s -> {{
             'chunk_idx': CAST(s // 24 AS INT),
             'start': CAST(s AS INT),
             'n_tokens': CAST(len({_TOKS}[s+1:s+32]) AS INT),
             'chunk_md5': md5(array_to_string({_TOKS}[s+1:s+32], ' '))
           }}), recursive := true)
    FROM documents
    """,
    survey_ref=(
        "beyond-reference: overlapping token-window chunking (size 32, stride "
        "24) — shuffle-free posexplode fan-out"
    ),
)
def ch_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_chunks(docs, chunk_size=32, stride=24)


# ---------------------------------------------------------------------------
# PII detection + redaction. The synthetic tables carry no real PII, so
# contact strings are derived deterministically from customer columns —
# IDENTICALLY on both engines — then detected and redacted by regex.
# ---------------------------------------------------------------------------
_EMAIL = PII_PATTERNS["EMAIL"]
_PHONE = PII_PATTERNS["PHONE"]


@query(
    "pii_redact_customers",
    oracle=f"""
    WITH contact AS (
      SELECT c_custkey,
             'Reach ' || c_name
             || CASE WHEN c_custkey % 2 = 0 THEN ' at '
                       || lpad(CAST(c_nationkey AS VARCHAR), 2, '0') || '-'
                       || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-'
                       || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN c_custkey % 3 = 0 THEN ' or '
                       || lower(replace(c_name, '#', '.')) || '@example.com'
                     ELSE '' END
             || ' segment ' || c_mktsegment || '.' AS text
      FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(text, '{_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE}')) AS INT) AS n_phones,
           regexp_replace(regexp_replace(text, '{_EMAIL}', '[EMAIL]', 'g'),
                          '{_PHONE}', '[PHONE]', 'g') AS redacted
    FROM contact
    """,
    survey_ref=(
        "beyond-reference: PII detection + redaction — regex Column trees, "
        "row-local, zero shuffle at any scale"
    ),
)
def pii_redact_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    phone = F.concat(
        F.lpad(F.col("c_nationkey").cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
    )
    email = F.concat(
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com"),
    )
    text = F.concat(
        F.lit("Reach "),
        F.col("c_name"),
        F.when(key % 2 == 0, F.concat(F.lit(" at "), phone)).otherwise(F.lit("")),
        F.when(key % 3 == 0, F.concat(F.lit(" or "), email)).otherwise(F.lit("")),
        F.lit(" segment "),
        F.col("c_mktsegment"),
        F.lit("."),
    )
    contact = cust.select("c_custkey", text.alias("text"))
    return contact.select(
        "c_custkey",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL), 0))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE), 0))
        .cast("int")
        .alias("n_phones"),
        pii_redact("text").alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher §A.1.1)
# ---------------------------------------------------------------------------
_GRAMS2 = _grams_sql(2)


@query(
    "t_repetition_signals",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, length(text) AS n_chars_txt, {_GRAMS2} AS grams,
             list_distinct({_GRAMS2}) AS dg
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_chars_txt, grams, dg,
             list_max(list_transform(dg,
               x -> len(list_filter(grams, y -> y = x)))) AS max_cnt
      FROM g
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           round(1.0 - len(dg) * 1.0 / len(grams), 6) AS dup_gram_frac,
           list_max(list_filter(dg,
             x -> len(list_filter(grams, y -> y = x)) = max_cnt)) AS top_gram,
           CAST(max_cnt AS BIGINT) AS top_gram_count,
           round(max_cnt * length(list_max(list_filter(dg,
             x -> len(list_filter(grams, y -> y = x)) = max_cnt)))
             / (n_chars_txt * 1.0), 6) AS top_gram_char_frac
    FROM m
    """,
    survey_ref=(
        "beyond-reference: within-doc repetition metrics (dup-2gram fraction, "
        "top-2gram char coverage) — row-local array aggregates"
    ),
)
def t_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs, n=2)


# ---------------------------------------------------------------------------
# Incremental corpus dedup (daily-ingest anti-join)
# ---------------------------------------------------------------------------
@query(
    "dd_incremental",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(array_to_string(list_transform({_TOKS}, x -> lower(x)), ' '))
               AS fingerprint
      FROM documents
    ),
    batch AS (
      SELECT doc_id, fingerprint FROM fp WHERE source = 'src0'
      QUALIFY row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
    )
    SELECT b.doc_id, b.fingerprint
    FROM batch b
    WHERE NOT EXISTS (
      SELECT 1 FROM fp c WHERE c.source != 'src0' AND c.fingerprint = b.fingerprint
    )
    """,
    survey_ref=(
        "beyond-reference: incremental corpus dedup — within-batch first-wins "
        "+ anti-join against corpus fingerprints"
    ),
)
def dd_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return incremental_dedup(batch, corpus)


# ---------------------------------------------------------------------------
# Corpus mixing: deterministic per-source sampling rates
# ---------------------------------------------------------------------------
def _mix_case_sql() -> str:
    bucket = "substr(md5('v1|' || CAST(doc_id AS VARCHAR)), 1, 4)"
    arms = []
    for g, w in sorted(_MIX_WEIGHTS.items()):
        rule = "TRUE" if w >= 1.0 else f"{bucket} < '{int(w * 65536):04x}'"
        arms.append(f"WHEN source = '{g}' THEN {rule}")
    default = f"{bucket} < '{int(_MIX_DEFAULT * 65536):04x}'"
    return "CASE " + " ".join(arms) + f" ELSE {default} END"


@query(
    "sp_weighted_mix",
    oracle=f"""
    SELECT doc_id, source FROM documents
    WHERE {_mix_case_sql()}
    """,
    survey_ref=(
        "beyond-reference: corpus mixing — deterministic per-source keep "
        "rates (md5-bucketed, retry-stable, zero shuffle)"
    ),
)
def sp_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.ops import weighted_mix

    docs = load_table(spark, sf_dir, "documents")
    return weighted_mix(
        docs, "source", _MIX_WEIGHTS, ["doc_id"], default_weight=_MIX_DEFAULT
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Composite quality filter (keep/drop + first-failing-rule reason)
# ---------------------------------------------------------------------------
_SW_ALL = (
    "len(list_filter({t}, x -> list_contains("
    "['the','a','of','and','to','in','is','it','that','for',"
    "'der','die','das','und','ist','ein','nicht','mit','sich','auf',"
    "'le','la','les','et','est','une','pas','pour','que','dans',"
    "'el','los','y','es','una','no','por','con'], x)))"
)


@query(
    "t_quality_filter",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id,
             len({_TOKS}) AS n_tok,
             len(list_distinct({_TOKS})) * 1.0 / len({_TOKS}) AS diversity,
             {_SW_ALL.format(t=_TOKS)} AS sw_hits
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           round(diversity, 6) AS diversity,
           CASE WHEN n_tok < 25 THEN 'too_short'
                WHEN n_tok > 5000 THEN 'too_long'
                WHEN diversity < 0.35 THEN 'low_diversity'
                WHEN sw_hits = 0 THEN 'no_stopwords' END IS NULL AS keep,
           CASE WHEN n_tok < 25 THEN 'too_short'
                WHEN n_tok > 5000 THEN 'too_long'
                WHEN diversity < 0.35 THEN 'low_diversity'
                WHEN sw_hits = 0 THEN 'no_stopwords' END AS reason
    FROM sig
    """,
    survey_ref=(
        "beyond-reference: composite quality filter — ordered rules, "
        "first-fail reason column (C4/FineWeb shape), row-local"
    ),
)
def t_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.text.pipeline import quality_filter

    docs = load_table(spark, sf_dir, "documents")
    return quality_filter(docs)


# ---------------------------------------------------------------------------
# Shard packing: token-budget assignment, sequential within source
# ---------------------------------------------------------------------------
@query(
    "ch_pack_shards",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, len({_TOKS}) AS n_tok FROM documents
    )
    SELECT source, doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           CAST(floor(coalesce(sum(n_tok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)
             AS INT) AS shard_id,
           CAST(coalesce(sum(n_tok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS tokens_before
    FROM t
    """,
    survey_ref=(
        "beyond-reference: token-budget shard packing — per-source running "
        "sum (parallel across sources; no global single-task window)"
    ),
)
def ch_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.text.pipeline import pack_shards

    docs = load_table(spark, sf_dir, "documents")
    return pack_shards(docs, budget=2000)


@query(
    "ch_pack_shards_banded",
    # the composite-grouping mode (SCALE.md "Window-family caveats"):
    # group on (source, doc_id DIV 500) so one source dominating the
    # corpus can no longer serialize its own running-sum window — the
    # sequential unit is capped at 500 docs regardless of skew. Shard
    # ids become per-(source, band); budget still overflows by at most
    # one document within every subgroup (pinned in
    # tests/test_pipeline_ops.py — DuckDB here certifies the values).
    oracle=f"""
    WITH t AS (
      SELECT source, CAST(doc_id // 500 AS INT) AS band, doc_id,
             len({_TOKS}) AS n_tok
      FROM documents
    )
    SELECT source, band, doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           CAST(floor(coalesce(sum(n_tok) OVER (
             PARTITION BY source, band ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0)
             AS INT) AS shard_id,
           CAST(coalesce(sum(n_tok) OVER (
             PARTITION BY source, band ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS tokens_before
    FROM t
    """,
    survey_ref=(
        "beyond-reference: shard packing under skew — composite "
        "(source, doc_id band) grouping bounds the sequential unit at "
        "band size; the knob that survives a one-source-dominated corpus"
    ),
)
def ch_pack_shards_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from oroboro_dw_dbt_spark.text.pipeline import pack_shards

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "band", F.expr("CAST(doc_id DIV 500 AS INT)")
    )
    return pack_shards(docs, budget=2000, group_col=["source", "band"])


# ---------------------------------------------------------------------------
# The corpus-build DAG end-to-end: quality -> dedup -> mix -> shards, run
# through the engine (views + partitioned table mart + data tests) — the
# training-data twin of the ref_* reference-model entries.
# ---------------------------------------------------------------------------
_FP = f"md5(array_to_string(list_transform({_TOKS}, x -> lower(x)), ' '))"


@query(
    "pipe_corpus_build",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id,
             len({_TOKS}) AS n_tok,
             len(list_distinct({_TOKS})) * 1.0 / len({_TOKS}) AS diversity,
             {{sw}} AS sw_hits,
             {_FP} AS fp
      FROM documents
    ),
    clean AS (
      SELECT d.doc_id, d.source, s.n_tok, s.fp
      FROM documents d JOIN sig s USING (doc_id)
      WHERE NOT (s.n_tok < 25 OR s.n_tok > 5000
                 OR s.diversity < 0.35 OR s.sw_hits = 0)
    ),
    dedup AS (
      SELECT doc_id, source, n_tok FROM clean
      QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    ),
    mixed AS (
      SELECT doc_id, source, n_tok FROM dedup WHERE {{mix}}
    )
    SELECT source, doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           CAST(floor(coalesce(sum(n_tok) OVER w, 0) / 2000.0) AS INT) AS shard_id,
           CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) AS tokens_before
    FROM mixed
    WINDOW w AS (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """.format(sw=_SW_ALL.format(t=_TOKS), mix=_mix_case_sql()),
    survey_ref=(
        "beyond-reference: corpus-build DAG through the engine — 3 views + "
        "partitioned table mart + data tests; the training-data twin of "
        "the ref_* model entries"
    ),
)
def pipe_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from oroboro_dw_dbt_spark.engine.dag import SourceRegistry
    from oroboro_dw_dbt_spark.models.corpus_pipeline import build_corpus_graph

    sources = SourceRegistry()
    sources.add_provider("documents", lambda s: load_table(s, sf_dir, "documents"))
    graph = build_corpus_graph(
        sources, warehouse_dir=tempfile.mkdtemp(prefix="corpus_wh_")
    )
    graph.run(spark, select=["corpus_shards"], run_tests=True)
    return graph.frame("corpus_shards").select(
        "source", "doc_id", "n_tokens", "shard_id", "tokens_before"
    )


@query(
    "udtf_char_chunks",
    # the oracle restates the chunk arithmetic with generate_series —
    # certifying the UDTF's 1->k lateral fan-out row-for-row
    oracle="""
    SELECT doc_id,
           CAST(i AS INT) AS chunk_id,
           CAST(i * 100 + 1 AS INT) AS start_pos,
           CAST(least(100, length(text) - i * 100) AS INT) AS chunk_chars
    FROM documents,
         unnest(range(0, CAST(ceil(length(text) / 100.0) AS BIGINT))) AS r(i)
    """,
    survey_ref="beyond-reference API surface: Python UDTF (table "
    "function) via lateralJoin, Arrow-optimized — SURVEY §2.11 notes "
    "the reference exposes no UDF/UDTF surface at all",
)
def udtf_char_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a lateral join: each document fans out to its
    100-char chunk spans. The declarative twin (ch_token_chunks) is the
    production path — this entry certifies the UDTF API itself, with
    ``useArrow=True`` so the plan carries an ArrowEvalPythonUDTF batch
    node, not row-at-a-time pickling (per UDTF: the session conf would
    leak into every later entry)."""
    from pyspark.sql.functions import col, lit, udtf

    @udtf(
        returnType="chunk_id int, start_pos int, chunk_chars int", useArrow=True
    )
    class CharChunks:
        def eval(self, text: str, size: int):
            if not text:
                return
            n = len(text)
            for i, s in enumerate(range(0, n, size)):
                yield (i, s + 1, min(size, n - s))

    docs = load_table(spark, sf_dir, "documents")
    return docs.lateralJoin(CharChunks(col("text").outer(), lit(100))).select(
        "doc_id", "chunk_id", "start_pos", "chunk_chars"
    )


@query(
    "udtf_polymorphic_tokens",
    # the oracle fixes n=3 (the same literal the entry passes) and
    # restates the token slots; the empty-text guard mirrors Python's
    # ''.split() returning [] where a regex split would return ['']
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN len(toks) >= 1 THEN toks[1] END AS g1,
           CASE WHEN len(toks) >= 2 THEN toks[2] END AS g2,
           CASE WHEN len(toks) >= 3 THEN toks[3] END AS g3,
           CAST(len(toks) AS INT) AS n_tokens
    FROM t
    """,
    survey_ref="beyond-reference API surface: POLYMORPHIC Python UDTF — "
    "analyze() computes the output schema from a literal argument at "
    "plan time (PySpark 4's dynamic-schema table function)",
)
def udtf_polymorphic_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A UDTF whose OUTPUT SCHEMA is computed, not declared: analyze()
    receives the literal n at plan time and emits n token columns plus
    a count — the PySpark 4 polymorphic table-function contract
    (static UDTFs are certified by udtf_char_chunks; this is the
    schema-from-arguments half of the API). Arrow-batched like its
    static sibling; the fan-out is 1→1, so the cost is one projection
    pass."""
    import re

    from pyspark.sql.functions import col, lit, udtf
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf(useArrow=True)
    class FirstTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            # runs in a sessionless analyze worker: build the schema
            # programmatically (fromDDL would need a live SparkSession)
            k = int(n.value)  # literal-foldable at plan time
            return AnalyzeResult(
                StructType(
                    [StructField(f"g{i + 1}", StringType()) for i in range(k)]
                    + [StructField("n_tokens", IntegerType())]
                )
            )

        def eval(self, text: str, n: int):
            t = (text or "").strip()
            toks = re.split(r"\s+", t) if t else []
            yield tuple(
                toks[i] if i < len(toks) else None for i in range(n)
            ) + (len(toks),)

    docs = load_table(spark, sf_dir, "documents")
    return docs.lateralJoin(FirstTokens(col("text").outer(), lit(3))).select(
        "doc_id", "g1", "g2", "g3", "n_tokens"
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

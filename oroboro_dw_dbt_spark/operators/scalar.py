"""Scalar-function operator suites (SURVEY §2.8 strings, §2.9 dates/
conditionals, §2.11 macro) over the testdata tables.

Dialect notes encoded here (each verified against DuckDB 1.0):

- DuckDB ``regexp_replace`` replaces the FIRST match unless given the
  ``'g'`` flag; Spark replaces all → oracle uses ``, 'g'``.
- DuckDB ``concat`` skips NULLs while Spark's propagates → oracle uses
  ``||`` (NULL-propagating) where that matters.
- DuckDB ``year()`` returns BIGINT, Spark INT → cast both to BIGINT.
- ``try_to_date`` (Spark) ≙ ``try_cast(... AS DATE)`` (DuckDB) — both
  NULL on malformed input, reproducing BigQuery ``SAFE.PARSE_DATE``
  (ref: models/marts/user_base.sql:52).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.functions import (
    bq_date_diff_year,
    coalesce_trim,
    format_date_mmdd,
    safe_parse_date,
)
from oroboro_dw_dbt_spark.operators.catalog import query
from oroboro_dw_dbt_spark.sources.testdata import load_table

# Fixed anchor so both engines agree regardless of wall clock; the
# reference uses current_date (user_base.sql:51) — injectable in our
# functions layer, pinned here for the correctness harness.
ANCHOR = "1998-06-15"


# ---------------------------------------------------------------------------
# F1-F9: the string-function surface (ref: user_base.sql:13-16, :52-54;
# locations_clean.sql:64-67; stacked_users_partners.sql:57).
# ---------------------------------------------------------------------------
@query(
    "f_string_suite",
    oracle="""
    SELECT
      p_partkey,
      lower(trim(p_name)) AS lname,
      regexp_replace(p_name, '\\s+', '', 'g') AS squished,
      CAST(p_name LIKE '%green%' AS INT) AS has_green,
      CAST(p_name LIKE '%red' AS INT) AS ends_red,
      CAST(p_type LIKE 'STANDARD ANODIZED COPPER' AS INT) AS exact_like,
      CAST(regexp_matches(p_name, '\\b(tan|red|blue)\\b') AS INT) AS rx_color,
      substring(p_name, 1, 8) AS prefix8,
      p_brand || '-' || p_type AS brand_type
    FROM part
    """,
    survey_ref="§2.8 F1-F9",
)
def f_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower(F.trim(F.col("p_name"))).alias("lname"),
        F.regexp_replace("p_name", r"\s+", "").alias("squished"),
        F.col("p_name").like("%green%").cast("int").alias("has_green"),
        F.col("p_name").like("%red").cast("int").alias("ends_red"),
        F.col("p_type").like("STANDARD ANODIZED COPPER").cast("int").alias("exact_like"),
        F.col("p_name").rlike(r"\b(tan|red|blue)\b").cast("int").alias("rx_color"),
        F.substring("p_name", 1, 8).alias("prefix8"),
        F.concat(F.col("p_brand"), F.lit("-"), F.col("p_type")).alias("brand_type"),
    )


# ---------------------------------------------------------------------------
# D1-D5: date surface with BigQuery semantics (ref: user_base.sql:48-54).
# The malformed-date branch exercises the SAFE.PARSE_DATE NULL path; the
# year-diff uses boundary-count semantics; the MMDD compare applies the
# pre-birthday −1 adjustment.
# ---------------------------------------------------------------------------
@query(
    "d_date_suite",
    oracle=f"""
    SELECT
      o_orderkey,
      CAST(o_orderdate AS DATE) AS odate,
      try_cast(
        CAST(year(o_orderdate) AS VARCHAR) || '-' ||
        lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') || '-' ||
        CASE WHEN o_orderkey % 5 = 0 THEN '40' ELSE '15' END
        AS DATE) AS parsed_mid_month,
      CAST(year(DATE '{ANCHOR}') - year(o_orderdate) AS BIGINT) AS years_since,
      strftime(CAST(o_orderdate AS DATE), '%m%d') AS mmdd,
      CAST(CASE WHEN strftime(DATE '{ANCHOR}', '%m%d')
                     < strftime(CAST(o_orderdate AS DATE), '%m%d')
                THEN year(DATE '{ANCHOR}') - year(o_orderdate) - 1
                ELSE year(DATE '{ANCHOR}') - year(o_orderdate)
           END AS BIGINT) AS adjusted_years
    FROM orders
    """,
    survey_ref="§2.9 D1-D5",
)
def d_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    odate = F.col("o_orderdate").cast("date")
    anchor = F.lit(ANCHOR).cast("date")
    raw_str = F.concat(
        F.year(odate).cast("string"),
        F.lit("-"),
        F.lpad(F.month(odate).cast("string"), 2, "0"),
        F.lit("-"),
        F.when(F.col("o_orderkey") % 5 == 0, "40").otherwise("15"),
    )
    years_since = bq_date_diff_year(anchor, odate).cast("bigint")
    pre = format_date_mmdd(anchor) < format_date_mmdd(odate)
    return orders.select(
        "o_orderkey",
        odate.alias("odate"),
        safe_parse_date(raw_str).alias("parsed_mid_month"),
        years_since.alias("years_since"),
        format_date_mmdd(odate).alias("mmdd"),
        F.when(pre, years_since - 1).otherwise(years_since).cast("bigint").alias("adjusted_years"),
    )


# ---------------------------------------------------------------------------
# C1-C3: CASE chains, additive flag sums, coalesce
# (ref: user_base.sql:9-34 user_type/race logic, :62-65 geo defaults;
# locations_clean.sql:139-146 completeness score).
# ---------------------------------------------------------------------------
@query(
    "c_case_suite",
    oracle="""
    SELECT
      c_custkey,
      CASE c_mktsegment
        WHEN 'BUILDING' THEN 'Construction'
        WHEN 'AUTOMOBILE' THEN 'Auto'
        WHEN 'MACHINERY' THEN 'Industrial'
        ELSE 'Other'
      END AS segment_full_name,
      CAST(
        (CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) +
        (CASE WHEN c_nationkey % 2 = 0 THEN 1 ELSE 0 END) +
        (CASE WHEN c_mktsegment LIKE '%E%' THEN 1 ELSE 0 END)
        AS BIGINT) AS flag_score,
      CASE WHEN
        (CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) +
        (CASE WHEN c_nationkey % 2 = 0 THEN 1 ELSE 0 END) +
        (CASE WHEN c_mktsegment LIKE '%E%' THEN 1 ELSE 0 END) > 1
        THEN 'multi' ELSE 'single' END AS flag_bucket,
      coalesce(trim(nullif(c_name, '')), 'Unknown') AS display_name,
      coalesce(nullif(c_mktsegment, 'FURNITURE'), 'Prefer Not To Say') AS segment_or_default
    FROM customer
    """,
    survey_ref="§2.9 C1-C3, §2.11 coalesce_trim macro",
)
def c_case_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    flag = (
        F.when(F.col("c_acctbal") > 0, 1).otherwise(0)
        + F.when(F.col("c_nationkey") % 2 == 0, 1).otherwise(0)
        + F.when(F.col("c_mktsegment").like("%E%"), 1).otherwise(0)
    )
    return cust.select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", "Construction")
        .when(F.col("c_mktsegment") == "AUTOMOBILE", "Auto")
        .when(F.col("c_mktsegment") == "MACHINERY", "Industrial")
        .otherwise("Other")
        .alias("segment_full_name"),
        flag.cast("bigint").alias("flag_score"),
        F.when(flag > 1, "multi").otherwise("single").alias("flag_bucket"),
        coalesce_trim(F.nullif(F.col("c_name"), F.lit("")), F.lit("Unknown")).alias("display_name"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("FURNITURE")), F.lit("Prefer Not To Say")).alias(
            "segment_or_default"
        ),
    )


# ---------------------------------------------------------------------------
# Cast-semantics compatibility matrix: the conversions engines disagree on.
# ---------------------------------------------------------------------------
@query(
    "m_cast_matrix",
    # each row pins SPARK's (ANSI mode + try_cast) semantics; where
    # DuckDB natively diverges the oracle RESTATES the Spark result and
    # the divergence is documented inline — these are exactly the
    # conversions that silently corrupt a migration:
    #   int_decimal_string: Spark try_cast('3.9'->int) = NULL;
    #     DuckDB TRY_CAST would ROUND to 4
    #   int_from_double:    Spark cast(double->int) TRUNCATES toward 0;
    #     DuckDB CAST rounds half away (2.7 -> 3)
    #   int_hex_string:     Spark NULL; DuckDB parses '0x1A' as 26
    oracle="""
    SELECT * FROM (VALUES
      ('int_ws',             CAST(TRY_CAST(' 42 ' AS INTEGER) AS VARCHAR)),
      ('int_garbage',        CAST(TRY_CAST('42abc' AS INTEGER) AS VARCHAR)),
      ('int_overflow',       CAST(TRY_CAST('9999999999' AS INTEGER) AS VARCHAR)),
      ('int_decimal_string', CAST(NULL AS VARCHAR)),
      ('int_from_double',    CAST(CAST(trunc(2.7) AS INTEGER) AS VARCHAR)),
      ('int_from_double_neg', CAST(CAST(trunc(-2.7) AS INTEGER) AS VARCHAR)),
      ('double_sci',         CAST(TRY_CAST('1e3' AS DOUBLE) AS VARCHAR)),
      ('double_nan',         'NaN'),
      ('double_inf',         'Infinity'),
      ('int_hex_string',     CAST(NULL AS VARCHAR)),
      ('bool_to_int',        CAST(CAST(true AS INTEGER) AS VARCHAR))
    ) AS t("case", val)
    """,
    survey_ref="beyond-reference semantics pins (the D2/D3 ANSI-trap "
    "family): cast compatibility matrix — decimal-string, double "
    "truncation, hex-string, overflow, NaN/Infinity spellings",
)
def m_cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 (ANSI) cast semantics as data, one row per trap.

    SURVEY §7 ranks silent dialect mismatches as hazard #1; dates are
    pinned by d_date_suite and SAFE.* by m_safe_math — this pins the
    numeric casts. The three rows where DuckDB natively disagrees
    (decimal strings round vs NULL, double→int rounds vs truncates,
    hex strings parse vs NULL) are restated on the oracle side and
    documented, so a migrating user hits the matrix, not production."""
    # results ride as STRINGS: NaN/Infinity doubles crash hash
    # canonicalizers (pandas/driver), and the NaN-vs-nan / Infinity-vs-
    # inf SPELLINGS are themselves a pinned divergence
    rows = spark.sql(
        """SELECT * FROM VALUES
      ('int_ws',             CAST(try_cast(' 42 ' AS INT) AS STRING)),
      ('int_garbage',        CAST(try_cast('42abc' AS INT) AS STRING)),
      ('int_overflow',       CAST(try_cast('9999999999' AS INT) AS STRING)),
      ('int_decimal_string', CAST(try_cast('3.9' AS INT) AS STRING)),
      ('int_from_double',    CAST(CAST(2.7d AS INT) AS STRING)),
      ('int_from_double_neg', CAST(CAST(-2.7d AS INT) AS STRING)),
      ('double_sci',         CAST(try_cast('1e3' AS DOUBLE) AS STRING)),
      ('double_nan',         CAST(try_cast('NaN' AS DOUBLE) AS STRING)),
      ('double_inf',         CAST(try_cast('Infinity' AS DOUBLE) AS STRING)),
      ('int_hex_string',     CAST(try_cast('0x1A' AS INT) AS STRING)),
      ('bool_to_int',        CAST(CAST(true AS INT) AS STRING))
      AS t(`case`, val)"""
    )
    return rows


# ---------------------------------------------------------------------------
# Raw SQL surface: the modern-dialect features, certified end-to-end.
# ---------------------------------------------------------------------------
@query(
    "sql_dialect_surface",
    # the SAME modern-SQL text shape on both engines: CTE reuse,
    # lateral column aliases (micro -> bucket), FILTER'd aggregates,
    # GROUP BY ALL, a named WINDOW clause with a pinned total order
    oracle="""
    WITH enriched AS (
      SELECT event_type, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS micro,
             micro % 1000 AS bucket
      FROM events
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE bucket < 500) AS BIGINT) AS n_low,
             CAST(sum(micro) AS BIGINT) AS micro_sum
      FROM enriched
      GROUP BY ALL
    ),
    ranked AS (
      SELECT event_type, event_id, micro,
             row_number() OVER w AS rn
      FROM enriched
      WINDOW w AS (PARTITION BY event_type ORDER BY micro DESC, event_id)
    )
    SELECT r.event_type, CAST(r.rn AS INT) AS rn, r.event_id, r.micro,
           s.n, s.n_low, s.micro_sum
    FROM ranked r JOIN stats s USING (event_type)
    WHERE r.rn <= 3
    """,
    survey_ref="API surface: raw spark.sql() dialect breadth — CTE "
    "reuse, lateral column aliases, FILTER'd aggregates, GROUP BY ALL, "
    "named WINDOW clause (a user's plain-SQL workload runs unchanged)",
)
def sql_dialect_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's raw-SQL door: one query through spark.sql using the
    modern dialect features a migrating analyst actually writes. Every
    other catalog entry certifies the DataFrame spelling; this one
    certifies that the SQL TEXT path (temp view → spark.sql) produces
    the same certified answers — CTEs are reused not re-expanded,
    lateral aliases resolve left-to-right, FILTER'd aggregates share
    one pass, GROUP BY ALL infers the keys, and the named window
    carries a pinned total order (micro DESC, event_id)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_sql")
    return spark.sql(
        """
    WITH enriched AS (
      SELECT event_type, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS micro,
             micro % 1000 AS bucket
      FROM events_sql
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE bucket < 500) AS BIGINT) AS n_low,
             CAST(sum(micro) AS BIGINT) AS micro_sum
      FROM enriched
      GROUP BY ALL
    ),
    ranked AS (
      SELECT event_type, event_id, micro,
             row_number() OVER w AS rn
      FROM enriched
      WINDOW w AS (PARTITION BY event_type ORDER BY micro DESC, event_id)
    )
    SELECT r.event_type, CAST(r.rn AS INT) AS rn, r.event_id, r.micro,
           s.n, s.n_low, s.micro_sum
    FROM ranked r JOIN stats s USING (event_type)
    WHERE r.rn <= 3
    """
    )


# ---------------------------------------------------------------------------
# Regex surface over documents.
# ---------------------------------------------------------------------------
@query(
    "f_regex_suite",
    # patterns are RE2-and-Java-common (character classes, literals,
    # unanchored find); DuckDB needs the explicit 'g' flag where Spark's
    # regexp_replace is always global
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '[a-z]*ck[a-z]*') AS first_ck_word,
           CAST(len(regexp_extract_all(text, 'spark')) AS INT) AS n_spark,
           regexp_replace(substr(text, 1, 60), '[aeiou]+', '_', 'g')
             AS devoweled_head,
           regexp_matches(text, 'query [a-z]+ join') AS has_query_x_join
    FROM documents
    """,
    survey_ref="beyond-reference: regex function surface (extract, "
    "count, global replace, boolean match) — row-local Column ops, "
    "zero shuffle, shared RE2/Java-safe pattern subset",
)
def f_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", "[a-z]*ck[a-z]*", 0).alias("first_ck_word"),
        F.regexp_count("text", F.lit("spark")).cast("int").alias("n_spark"),
        F.regexp_replace(F.substring("text", 1, 60), "[aeiou]+", "_").alias(
            "devoweled_head"
        ),
        F.col("text").rlike("query [a-z]+ join").alias("has_query_x_join"),
    )


# ---------------------------------------------------------------------------
# Decimal arithmetic surface: promotion, exact products, power-of-two
# division, mod, negation, comparison.
# ---------------------------------------------------------------------------
@query(
    "m_decimal_suite",
    # every operand is an exact decimal built from an integer; every
    # result is value-exact at ≤ 6 dp, so the closing CAST to a pinned
    # scale (then VARCHAR — m_cast_matrix precedent: engines' decimal
    # wire types differ, strings don't) is lossless on both engines.
    # Divisions are by powers of two only: DuckDB's decimal division
    # goes through DOUBLE, which is exact exactly there.
    oracle="""
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS qb
      FROM lineitem WHERE l_orderkey % 101 = 0
    )
    SELECT l_orderkey, l_linenumber,
      CAST(CAST(qb AS DECIMAL(12,2)) AS VARCHAR) AS d_exact,
      CAST(CAST(CAST(qb AS DECIMAL(12,3)) * CAST(0.125 AS DECIMAL(4,3))
                AS DECIMAL(18,6)) AS VARCHAR) AS d_eighth,
      CAST(CAST(CAST(qb AS DECIMAL(18,6)) / 4 AS DECIMAL(18,6))
           AS VARCHAR) AS d_quarter,
      CAST(CAST(CAST(qb AS DECIMAL(10,1)) + CAST(l_linenumber AS DECIMAL(8,3))
                AS DECIMAL(18,3)) AS VARCHAR) AS d_mixed_add,
      CAST(CAST(CAST(qb AS DECIMAL(12,2)) % CAST(7 AS DECIMAL(12,2))
                AS DECIMAL(18,2)) AS VARCHAR) AS d_mod7,
      CAST(CAST(-CAST(qb AS DECIMAL(12,2)) AS DECIMAL(18,2))
           AS VARCHAR) AS d_neg,
      CAST(qb AS DECIMAL(12,2)) > CAST(25.5 AS DECIMAL(4,1)) AS gt_25_5
    FROM base
    """,
    survey_ref="compat (m_safe_math / m_cast_matrix family): decimal "
    "arithmetic surface — scale promotion on +, exact ×, power-of-two "
    "÷, %, negation, cross-scale comparison",
)
def m_decimal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal semantics as data: Spark's ANSI DecimalType promotion
    rules produce the same VALUES as DuckDB's (different intermediate
    precisions — both exact), certified through a pinned-scale cast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 101 == 0
    )
    qb = F.col("l_quantity").cast("bigint")
    d = lambda p, s: f"decimal({p},{s})"  # noqa: E731
    return li.select(
        "l_orderkey",
        "l_linenumber",
        qb.cast(d(12, 2)).cast("string").alias("d_exact"),
        (qb.cast(d(12, 3)) * F.lit("0.125").cast(d(4, 3)))
        .cast(d(18, 6))
        .cast("string")
        .alias("d_eighth"),
        (qb.cast(d(18, 6)) / 4).cast(d(18, 6)).cast("string").alias("d_quarter"),
        (qb.cast(d(10, 1)) + F.col("l_linenumber").cast(d(8, 3)))
        .cast(d(18, 3))
        .cast("string")
        .alias("d_mixed_add"),
        (qb.cast(d(12, 2)) % F.lit(7).cast(d(12, 2)))
        .cast(d(18, 2))
        .cast("string")
        .alias("d_mod7"),
        (-qb.cast(d(12, 2))).cast(d(18, 2)).cast("string").alias("d_neg"),
        (qb.cast(d(12, 2)) > F.lit("25.5").cast(d(4, 1))).alias("gt_25_5"),
    )


# ---------------------------------------------------------------------------
# Bitwise function surface.
# ---------------------------------------------------------------------------
@query(
    "f_bitwise_suite",
    # all operands non-negative BIGINTs well inside 64 bits; shifts are
    # small constants, so two's-complement semantics agree everywhere
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS and_255,
           CAST(o_orderkey | 4096 AS BIGINT) AS or_4096,
           CAST(xor(o_orderkey, 1023) AS BIGINT) AS xor_1023,
           CAST(o_orderkey << 3 AS BIGINT) AS shl_3,
           CAST(o_orderkey >> 2 AS BIGINT) AS shr_2,
           CAST(bit_count(o_orderkey) AS INT) AS popcount,
           CAST(~o_orderkey AS BIGINT) AS inverted
    FROM orders WHERE o_orderkey % 11 = 0
    """,
    survey_ref="beyond-reference: bitwise function surface (&, |, xor, "
    "shifts, popcount, complement) — the hash/partitioning primitive "
    "set the sketch and sampling families build on",
)
def f_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 11 == 0)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("bigint").alias("and_255"),
        k.bitwiseOR(F.lit(4096)).cast("bigint").alias("or_4096"),
        k.bitwiseXOR(F.lit(1023)).cast("bigint").alias("xor_1023"),
        F.shiftleft(k, 3).cast("bigint").alias("shl_3"),
        F.shiftright(k, 2).cast("bigint").alias("shr_2"),
        F.bit_count(k).cast("int").alias("popcount"),
        F.bitwise_not(k).cast("bigint").alias("inverted"),
    )


# ---------------------------------------------------------------------------
# try_* arithmetic: overflow and division-by-zero as NULL, never error.
# ---------------------------------------------------------------------------
@query(
    "m_try_suite",
    # Spark's try_add/try_subtract/try_multiply/try_divide semantics
    # pinned as data (m_cast_matrix precedent): the oracle states the
    # expected outcomes literally
    oracle="""
    SELECT * FROM (VALUES
      ('big_add', CAST(NULL AS VARCHAR), '9223372036854775806',
                  '9223372036854775807', '9.223372036854776E18'),
      ('big_sub', '-9223372036854775805', CAST(NULL AS VARCHAR),
                  CAST(NULL AS VARCHAR), '-4.6116860184273879E18'),
      ('at_max', '9223372036854775807', '9223372036854775805',
                 '9223372036854775806', '9.223372036854776E18'),
      ('big_mul', '4611686018427387908', '4611686018427387900',
                  CAST(NULL AS VARCHAR), '1.15292150460684698E18'),
      ('div_zero', '10', '10', '0', CAST(NULL AS VARCHAR)),
      ('plain', '12', '-2', '35', '0.7142857142857143')
    ) AS t(label, try_add_r, try_sub_r, try_mul_r, try_div_r)
    """,
    survey_ref="compat (m_safe_math family): try_* arithmetic surface — "
    "BIGINT overflow and ÷0 degrade to NULL instead of the ANSI error, "
    "the ingest-hardening mode for untrusted numeric feeds",
)
def m_try_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode escape hatches as data: each row drives try_add /
    try_subtract / try_multiply / try_divide through an overflow,
    underflow, ÷0, or plain case. Row-local, zero shuffle; at 100 TB
    this is the difference between a poison row killing a stage and a
    NULL flowing into quarantine."""
    return spark.sql(
        """
        SELECT label,
               CAST(try_add(a, b) AS STRING) AS try_add_r,
               CAST(try_subtract(a, b) AS STRING) AS try_sub_r,
               CAST(try_multiply(a, b) AS STRING) AS try_mul_r,
               CAST(try_divide(a, b) AS STRING) AS try_div_r
        FROM VALUES
          ('big_add',  9223372036854775807L, 1L),
          ('big_sub',  -9223372036854775807L, 2L),
          ('at_max',   9223372036854775806L, 1L),
          ('big_mul',  4611686018427387904L, 4L),
          ('div_zero', 10L, 0L),
          ('plain',    5L, 7L)
        AS t(label, a, b)
        """
    )


# ---------------------------------------------------------------------------
# URL parsing surface.
# ---------------------------------------------------------------------------
@query(
    "f_url_suite",
    # the URL is synthesized from table columns, so every component is
    # known by construction — the oracle states the components directly
    # while Spark must recover them via parse_url
    oracle="""
    SELECT doc_id,
           'https' AS proto,
           source || '.example.com' AS host,
           '/docs/' || doc_id AS path,
           'lang=' || lang || '&n=' || n_chars AS query,
           lang AS lang_param
    FROM documents
    """,
    survey_ref="beyond-reference: URL parsing surface (parse_url "
    "PROTOCOL/HOST/PATH/QUERY + keyed query param) — the web-corpus "
    "normalization primitive (URL dedup keys, domain grouping)",
)
def f_url_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recover components of a synthesized URL via parse_url.

    Row-local Column tree, zero shuffle. At 100 TB this is the first
    step of web-corpus curation: registrable-domain grouping and
    URL-normalized dedup keys both start from exactly these parts."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&n="),
        F.col("n_chars"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


# ---------------------------------------------------------------------------
# String surface, second tier: pad / translate / repeat / reverse /
# split_part / overlay.
# ---------------------------------------------------------------------------
@query(
    "f_string_suite2",
    # overlay has no DuckDB twin — the oracle reconstructs it from
    # substr/concat, certifying Spark's builtin against first principles
    oracle="""
    SELECT doc_id,
           lpad(source, 12, '*') AS padded_l,
           rpad(lang, 6, '.') AS padded_r,
           translate(source, 'src', 'XYZ') AS translated,
           repeat(lang, 3) AS repeated,
           reverse(source) AS reversed_src,
           split_part(source || '|' || lang || '|' || CAST(doc_id AS VARCHAR),
                      '|', 2) AS second_field,
           substr(source, 1, 2) || 'ZZ'
             || substr(source, 5) AS overlaid
    FROM documents
    """,
    survey_ref="beyond-reference: string surface tier 2 (lpad/rpad, "
    "translate, repeat, reverse, split_part, overlay-vs-first-"
    "principles) — completes F1-F9's builtin matrix",
)
def f_string_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.lpad("source", 12, "*").alias("padded_l"),
        F.rpad("lang", 6, ".").alias("padded_r"),
        F.translate("source", "src", "XYZ").alias("translated"),
        F.repeat("lang", 3).alias("repeated"),
        F.reverse("source").alias("reversed_src"),
        F.split_part(
            F.concat_ws("|", "source", "lang", F.col("doc_id").cast("string")),
            F.lit("|"),
            F.lit(2),
        ).alias("second_field"),
        F.overlay("source", F.lit("ZZ"), 3, 2).alias("overlaid"),
    )


# ---------------------------------------------------------------------------
# Generator functions: stack / posexplode / inline.
# ---------------------------------------------------------------------------
@query(
    "p_generator_suite",
    # Spark's generators restated as UNION ALL + ordinal arithmetic:
    # stack(2, a,b,c,d) = two rows of column pairs; posexplode carries
    # the 0-based ordinal; inline flattens an array of structs
    oracle="""
    WITH src AS (
      SELECT doc_id, source, lang, n_chars FROM documents
      WHERE doc_id % 37 = 0
    ),
    stacked AS (
      SELECT doc_id, source AS k, CAST(lang AS VARCHAR) AS v FROM src
      UNION ALL
      SELECT doc_id, 'chars', CAST(n_chars AS VARCHAR) FROM src
    ),
    exploded AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             CAST(doc_id * 10 + i AS BIGINT) AS val
      FROM src, unnest(range(0, 3)) AS t(i)
    )
    SELECT s.doc_id, s.k, s.v, e.pos, e.val
    FROM stacked s
    JOIN exploded e ON e.doc_id = s.doc_id
    """,
    survey_ref="beyond-reference: generator-function surface (stack, "
    "posexplode with ordinals, lateral fan-out composition) — the "
    "builtin row-generator matrix beside the UDTF family",
)
def p_generator_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 37 == 0
    )
    stacked = docs.select(
        "doc_id",
        F.expr(
            "stack(2, source, CAST(lang AS STRING),"
            " 'chars', CAST(n_chars AS STRING)) AS (k, v)"
        ),
    )
    exploded = docs.select(
        "doc_id",
        F.posexplode(
            F.array(
                F.col("doc_id") * 10,
                F.col("doc_id") * 10 + 1,
                F.col("doc_id") * 10 + 2,
            )
        ).alias("pos", "val"),
    ).select(
        "doc_id", F.col("pos").cast("int"), F.col("val").cast("bigint")
    )
    return stacked.join(exploded, "doc_id").select(
        "doc_id", "k", "v", "pos", "val"
    )


# ---------------------------------------------------------------------------
# JSON function surface, tier 2.
# ---------------------------------------------------------------------------
@query(
    "f_json_suite2",
    # JSON synthesized from table columns → every extraction's ground
    # truth is known by construction (the f_url_suite pattern)
    oracle="""
    SELECT doc_id,
           lang AS path_lang,
           CAST(n_chars AS STRING) AS path_n,
           source AS path_tag1,
           CAST(doc_id AS STRING) AS tup_id,
           CASE WHEN n_chars > 500 THEN 'long' ELSE 'short' END AS tup_cls,
           NULL AS path_missing
    FROM documents
    """,
    survey_ref="beyond-reference: JSON path surface tier 2 "
    "(get_json_object nested/array paths, json_tuple multi-extract, "
    "absent-path NULL contract) — complements ev_json_extract/"
    "ev_variant_extract",
)
def f_json_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object / json_tuple over synthesized JSON documents.

    Paths exercised: nested object ($.meta.lang), numeric leaf kept as
    string ($.meta.n), array index ($.tags[1]), multi-field
    json_tuple, and an absent path (NULL, never an error). Row-local
    Column trees — the JSON log-extraction shape with zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    cls = F.when(F.col("n_chars") > 500, "long").otherwise("short")
    j = F.concat(
        F.lit('{"id": "'),
        F.col("doc_id").cast("string"),
        F.lit('", "cls": "'),
        cls,
        F.lit('", "meta": {"lang": "'),
        F.col("lang"),
        F.lit('", "n": '),
        F.col("n_chars").cast("string"),
        F.lit('}, "tags": ["fixed", "'),
        F.col("source"),
        F.lit('"]}'),
    )
    raw = docs.select("doc_id", j.alias("j"))
    tup = F.json_tuple(F.col("j"), "id", "cls")
    return raw.select(
        "doc_id",
        F.get_json_object("j", "$.meta.lang").alias("path_lang"),
        F.get_json_object("j", "$.meta.n").alias("path_n"),
        F.get_json_object("j", "$.tags[1]").alias("path_tag1"),
        tup,
        F.get_json_object("j", "$.absent.path").alias("path_missing"),
    ).toDF(
        "doc_id",
        "path_lang",
        "path_n",
        "path_tag1",
        "tup_id",
        "tup_cls",
        "path_missing",
    )


# ---------------------------------------------------------------------------
# Table-valued-function SQL surface: byte-identical text on both engines.
# ---------------------------------------------------------------------------
_TVF_SQL = """
    SELECT t.id AS k,
           v.name AS name,
           CAST(t.id * v.mult AS BIGINT) AS scaled
    FROM range(0, 10) AS t(id)
    JOIN (VALUES ('a', 2), ('b', 3)) AS v(name, mult)
      ON t.id % 2 = CASE v.name WHEN 'a' THEN 0 ELSE 1 END
"""


@query(
    "sql_tvf_surface",
    # the strongest dialect-parity statement: the oracle string IS the
    # Spark query string, byte for byte (range() TVF + VALUES inline
    # table + lateral-style aliasing)
    oracle=_TVF_SQL,
    survey_ref="beyond-reference: table-valued-function SQL surface "
    "(range() TVF, VALUES inline tables, table aliases with column "
    "lists) — identical SQL text on both engines, zero translation",
)
def sql_tvf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """range() + VALUES through spark.sql, byte-identical to the oracle.

    Generator TVFs are how tests, calendars and probe grids enter SQL
    pipelines without a source table; certifying the same text on both
    engines pins the surface exactly (the sql_recursive_cte /
    sql_lateral_topn pattern, third instalment)."""
    return spark.sql(_TVF_SQL)

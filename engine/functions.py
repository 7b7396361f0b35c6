"""Scalar function suites (SURVEY.md §2.H) — one query per family.

All expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd — the 100 TB hot path stays out of Python).
Portability caveats from SURVEY.md §7.5.7 are honored: no ``initcap``,
no raw ``dayofweek``, DuckDB's reversed ``date_diff`` argument order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import cents_col, cents_sql, exact_sum, exact_sum_sql, pround
from engine.registry import query
from engine.session import load


@query(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS seg_lower,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           TRIM(CONCAT('  ', c_name, '  ')) AS name_trimmed,
           LENGTH(c_name) AS name_len,
           CONCAT_WS('-', c_mktsegment, c_name) AS seg_name,
           LPAD(CAST(c_custkey AS VARCHAR), 12, '0') AS key_padded,
           REPLACE(c_name, 'Customer', 'Cust') AS name_replaced,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS name_digits
    FROM customer
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family (SURVEY.md §2.H fn_string)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias(
            "name_trimmed"
        ),
        F.length("c_name").alias("name_len"),
        F.concat_ws("-", "c_mktsegment", "c_name").alias("seg_name"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_padded"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias(
            "name_replaced"
        ),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
    )


@query(
    "fn_datetime",
    oracle="""
    SELECT o_orderkey,
           YEAR(o_orderdate) AS o_year,
           MONTH(o_orderdate) AS o_month,
           DAY(o_orderdate) AS o_day,
           DATE_TRUNC('month', o_orderdate) AS month_start,
           CAST(DATE_DIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT)
             AS days_since_95,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family (SURVEY.md §2.H fn_datetime).

    DuckDB's ``date_diff('day', start, end)`` argument order is the
    reverse of Spark's ``datediff(end, start)`` (SURVEY.md §7.5.7).
    """
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("int")
        .alias("days_since_95"),
        F.date_add(F.col("o_orderdate"), 30).cast("timestamp").alias("due_date"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(SQRT(l_extendedprice), 4) AS sqrt_price,
           ABS(l_quantity - 25.0) AS qty_dev,
           CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
           CAST(FLOOR(l_tax * 100) AS BIGINT) AS tax_pct_floor,
           CASE WHEN l_extendedprice > 0
                THEN ROUND(LN(l_extendedprice), 4) END AS ln_price,
           CASE WHEN l_extendedprice > 0
                THEN ROUND(LOG10(l_extendedprice), 4) END AS log10_price,
           POW(l_quantity, 2) AS qty_sq,
           l_orderkey % 7 AS key_mod,
           CAST(SIGN(l_quantity - 25.0) AS INT) AS qty_sign
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family (SURVEY.md §2.H fn_math).

    ``ln``/``log10`` are libm calls that may differ by 1 ulp across
    runtimes — rounded to 4 decimals (§7.5.2). ``sqrt``/``pow(x,2)``/
    ``abs`` are IEEE-exact. ``pmod`` == ``%`` for the all-positive keys.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        pround(F.sqrt("l_extendedprice"), 4).alias("sqrt_price"),
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
        pround(F.log(F.col("l_extendedprice")), 4).alias("ln_price"),
        pround(F.log10("l_extendedprice"), 4).alias("log10_price"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod"),
        F.signum(F.col("l_quantity") - 25.0).cast("int").alias("qty_sign"),
    )


@query(
    "fn_array",
    oracle="""
    SELECT lang, token, COUNT(*) AS cnt
    FROM (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
    GROUP BY lang, token
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split → explode → word count per language (SURVEY.md §2.H fn_array).

    Tokenization is whitespace split (FIXTURES.md: tokens carry no
    punctuation, so both engines split identically).
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "fn_array_doc_stats",
    oracle="""
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
           CAST(LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark') AS INT) AS has_spark,
           STRING_SPLIT(text, ' ')[1] AS first_token
    FROM documents
    """,
)
def fn_array_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array size / contains / element_at per document (extra coverage
    beyond SURVEY.md §2.H fn_array)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "spark").cast("int").alias("has_spark"),
        F.element_at(toks, 1).alias("first_token"),
    )


@query(
    "fn_json",
    oracle=f"""
    SELECT CAST(FLOOR(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) / 10.0) AS INT)
             AS k_bucket,
           COUNT(*) AS n_events,
           {exact_sum_sql(cents_sql("value"), 100)} AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + cast + bucketed aggregate (SURVEY.md §2.H fn_json;
    cast on both sides per §7.5.8)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    bucket = F.floor(k / 10.0).cast("int").alias("k_bucket")
    return ev.groupBy(bucket).agg(
        F.count("*").alias("n_events"),
        # exact cents sum (r10 quantization audit)
        exact_sum(cents_col(F.col("value")), 100).alias("sum_value"),
    )


@query(
    "fn_hash",
    oracle="""
    SELECT doc_id, MD5(text) AS text_md5 FROM documents
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 content hash — the exact-dedup building block
    (SURVEY.md §2.H fn_hash; identical semantics verified in DuckDB)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("text_md5")
    )

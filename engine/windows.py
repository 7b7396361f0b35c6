"""Window functions (SURVEY.md §2.E).

Every window orders by a unique key (or adds a key tiebreaker) —
nondeterministic peer order is the #1 oracle-mismatch risk
(SURVEY.md §7.5.4). Window state is per-partition on the executors;
at 100 TB each `partitionBy` key group must fit an executor's spill
budget, which holds for per-customer / per-user partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from engine.det import cents_col, cents_sql, pround
from engine.registry import query
from engine.session import load


@query(
    "win_ranking",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / ntile per segment
    (SURVEY.md §2.E win_ranking; unique order via c_custkey tiebreak)."""
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           value - LAG(value) OVER w AS delta_value,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag/lead deltas (SURVEY.md §2.E win_lag_lead).

    ``value - lag(value)`` is a single IEEE subtraction of identical
    inputs → bit-exact across engines, no rounding needed.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "win_running_sum",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           ROUND(CAST(SUM({cents_sql("o_totalprice")}) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 100, 2) AS running_rev
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer (SURVEY.md §2.E win_running_sum).

    The prefix folds exact integer cents (r10 quantization audit):
    running-sum implementations (sequential vs segment-tree) group
    additions differently across engines, and a double prefix sum over
    an unbounded frame accumulates drift with partition length — exact
    integers make every association identical. DECIMAL(38,0) for the
    same 100 TB hot-customer headroom as the grouped sums.
    """
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = (
        F.sum(cents_col(F.col("o_totalprice")).cast("decimal(38,0)"))
        .over(w)
        .cast("double")
    )
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        pround(running / 100, 2).alias("running_rev"),
    )


@query(
    "win_moving_avg",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(AVG({cents_sql("value")}) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0, 4) AS mov_avg
    FROM events
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average of event value per user
    (SURVEY.md §2.E win_moving_avg).

    Averages exact integer cents (r10 quantization audit): the frame is
    bounded (≤3 rows, so even a double fold could not drift with data
    volume), but a 2-dp mean lands exactly on a rounding boundary for
    boundary rationals (e.g. mean(.01,.02) = .015) where sequential vs
    segment-tree association could disagree — integer cents make every
    association identical; AVG of ≤3 BIGINTs is exact in both engines'
    double sum buffers.
    """
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, W.currentRow)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        pround(F.avg(cents_col(F.col("value"))).over(w) / 100.0, 4).alias(
            "mov_avg"
        ),
    )


@query(
    "win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the league-table idiom
    (SURVEY.md §2.E win_topk_per_group; [REF] README.md:2's analytics
    domain is exactly this ranking shape).

    At scale this beats global sort: one shuffle on the partition key,
    per-group heap-free rank, early filter.
    """
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "win_first_last",
    oracle="""
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_orderdate) OVER w AS first_date,
           LAST_VALUE(o_orderdate) OVER w AS last_date
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last order date per customer over the full frame
    (SURVEY.md §2.E win_first_last — explicit frame, else LAST_VALUE
    sees only the default frame ending at CURRENT ROW)."""
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderdate").over(w).alias("first_date"),
        F.last("o_orderdate").over(w).alias("last_date"),
    )

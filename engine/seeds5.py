"""Round-5 seed operators: distribution windows, RFM segmentation, a
bigram-LM quality signal, cosine range search, per-language stopword
profiles, the conditional-aggregate family, OHLC bars, and the bitwise
surface — registered PAST the round-4 correctness window (the 50-row
cap is spoken for; see engine/__init__), fully oracled and in the local
differential suite immediately, to rotate first next round (the same
seeding pattern tpch_ext/curation2 used in round 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import cents_col, cents_sql, exact_sum, exact_sum_sql, pround
from engine.registry import query
from engine.session import load
from engine.vec import cosine

NTILE_BUCKETS = 4
RFM_R_DAYS = (1, 3)  # recency <= d3 -> 3, <= d2 -> 2, else 1
RFM_F_COUNTS = (16, 10)
RFM_M_VALUES = (700.0, 400.0)
BIGRAM_TOPK_DOCS = 0  # (reserved)
ANN_RANGE_T = 0.2
ANN_RANGE_PROBES = 5
STOPWORD_TOPK = 5


@query(
    "win_ntile_cume",
    oracle=f"""
    SELECT event_id, event_type,
           ROUND(value, 2) AS value,
           CAST(NTILE({NTILE_BUCKETS}) OVER w AS INT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume_dist
    FROM events
    WHERE event_type IN ('purchase', 'refund')
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def win_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile/percent_rank/cume_dist per
    event_type over value (SURVEY.md §2.D family; the rank/lag/frame
    forms are covered, this adds the relative-position trio used for
    quantile bucketing without a sketch).

    One hash shuffle on the partition key; the (value, event_id)
    compound order is UNIQUE, so every relative-position value is a
    ratio of exact integers — deterministic across engines (§7.5: ties
    under a non-unique order would make ntile boundaries an engine
    choice).
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "refund")
    )
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return e.select(
        "event_id",
        "event_type",
        pround(F.col("value"), 2).alias("value"),
        F.ntile(NTILE_BUCKETS).over(w).cast("int").alias("quartile"),
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


@query(
    "events_rfm",
    oracle=f"""
    WITH anchor AS (
      SELECT CAST(MAX(ts) AS DATE) AS a FROM events
    ), per_user AS (
      SELECT user_id,
             DATE_DIFF('day', CAST(MAX(ts) AS DATE),
                       (SELECT a FROM anchor)) AS recency_days,
             COUNT(*) AS frequency,
             {exact_sum_sql(cents_sql("value"), 100)} AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT user_id, CAST(recency_days AS INT) AS recency_days,
           frequency, monetary,
           CAST(CASE WHEN recency_days <= {RFM_R_DAYS[0]} THEN 3
                     WHEN recency_days <= {RFM_R_DAYS[1]} THEN 2
                     ELSE 1 END AS INT) AS r_score,
           CAST(CASE WHEN frequency >= {RFM_F_COUNTS[0]} THEN 3
                     WHEN frequency >= {RFM_F_COUNTS[1]} THEN 2
                     ELSE 1 END AS INT) AS f_score,
           CAST(CASE WHEN monetary >= {RFM_M_VALUES[0]} THEN 3
                     WHEN monetary >= {RFM_M_VALUES[1]} THEN 2
                     ELSE 1 END AS INT) AS m_score
    FROM per_user
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation over
    the purchase stream — the classic analytics rollup a metrics
    pipeline derives per user.

    One user_id aggregate; the anchor date (corpus max ts) is a 1-row
    broadcast. Scores use FIXED thresholds, not per-run quantiles, so
    segment membership is stable as data grows (quantile-based scores
    are the registered window ops' job). The monetary threshold is
    compared on the 2-dp-ROUNDED sum on both engines — raw
    double-summation order must not decide a boundary (§7.5).
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    anchor = load(spark, sf_dir, "events").agg(
        F.max(F.col("ts").cast("date")).alias("a")
    )
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("last_d"),
            F.count("*").alias("frequency"),
            # exact cents sum (r10 quantization audit): the m_score
            # threshold compares this value, so membership must not
            # ride on accumulation order.
            exact_sum(cents_col(F.col("value")), 100).alias("monetary"),
        )
        .join(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("a"), F.col("last_d"))
            .cast("int")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r, f_, m = (
        F.col("recency_days"),
        F.col("frequency"),
        F.col("monetary"),
    )
    return per_user.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.when(r <= RFM_R_DAYS[0], 3)
        .when(r <= RFM_R_DAYS[1], 2)
        .otherwise(1)
        .cast("int")
        .alias("r_score"),
        F.when(f_ >= RFM_F_COUNTS[0], 3)
        .when(f_ >= RFM_F_COUNTS[1], 2)
        .otherwise(1)
        .cast("int")
        .alias("f_score"),
        F.when(m >= RFM_M_VALUES[0], 3)
        .when(m >= RFM_M_VALUES[1], 2)
        .otherwise(1)
        .cast("int")
        .alias("m_score"),
    )


@query(
    "llm_bigram_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t, UNNEST(GENERATE_SERIES(1, LEN(t) - 1)) AS i
            FROM toks WHERE LEN(t) >= 2)
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2
    ), uc AS (
      SELECT w1, COUNT(*) AS cu FROM bg GROUP BY 1
    ), v AS (
      SELECT COUNT(DISTINCT w2) AS vocab FROM bg
    ), scored AS (
      SELECT g.doc_id,
             -LN((bc.cb + 1.0) / (uc.cu + v.vocab)) AS s
      FROM bg g
      JOIN bc ON g.w1 = bc.w1 AND g.w2 = bc.w2
      JOIN uc ON g.w1 = uc.w1
      CROSS JOIN v
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
           ROUND(AVG(s), 4) AS avg_surprisal,
           ROUND(MAX(s), 4) AS max_surprisal
    FROM scored GROUP BY doc_id
    """,
)
def llm_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per document with add-1 smoothing — the
    second-order companion of llm_unigram_surprisal (a closer
    perplexity proxy: fluent text has predictable CONTINUATIONS, not
    just frequent words).

    Corpus bigram counts and left-context counts are both derived from
    ONE exploded bigram pass (guarded to docs with ≥ 2 tokens — the
    sequence(0,-1) reversal rule, engine/training_ops) and broadcast
    back; the per-doc score is then one doc_id shuffle. At 100 TB the
    bigram table can exceed broadcast budget — the plan degrades to a
    sort-merge join on (w1, w2) with no logic change.
    """
    d = load(spark, sf_dir, "documents").withColumn(
        "t", F.split("text", " ")
    )
    bg = (
        d.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    uc = bg.groupBy(F.col("w1").alias("u1")).agg(
        F.count("*").alias("cu")
    )
    v = bg.agg(F.count_distinct("w2").alias("vocab"))
    s = -F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("vocab")))
    scored = (
        bg.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(uc), F.col("w1") == F.col("u1"))
        .crossJoin(F.broadcast(v))
        .select("doc_id", s.alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_bigrams"),
        pround(F.avg("s"), 4).alias("avg_surprisal"),
        pround(F.max("s"), 4).alias("max_surprisal"),
    )


@query(
    "llm_ann_range",
    oracle=f"""
    WITH el AS (
      SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
             UNNEST(a.embedding) AS xa, UNNEST(b.embedding) AS xb
      FROM embeddings a, embeddings b
      WHERE a.vec_id < {ANN_RANGE_PROBES} AND a.vec_id <> b.vec_id
    ), dots AS (
      SELECT probe_id, vec_id,
             SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)) AS dot,
             SUM(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE)) AS na,
             SUM(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE)) AS nb
      FROM el GROUP BY 1, 2
    )
    SELECT probe_id, vec_id,
           ROUND(dot / (SQRT(na) * SQRT(nb)), 4) AS cosine
    FROM dots
    WHERE ROUND(dot / (SQRT(na) * SQRT(nb)), 4) >= {ANN_RANGE_T}
    """,
)
def llm_ann_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search: every vector within cosine ≥ {ANN_RANGE_T}
    of {ANN_RANGE_PROBES} broadcast probe vectors — the radius-query
    companion of llm_cosine_topk (retrieval wants top-k; dedup and
    clustering want "everything this close").

    Same witness mechanism as the top-k form: probes broadcast
    (constant-bounded), JVM higher-order dot product in f64 (products
    of f32 are exact in f64 and both engines sum in index order, so
    the 4-dp-rounded threshold compare is bit-stable). The scale paths
    are the registered bucketed variants (llm_ann_lsh / llm_ann_ivf) —
    a range scan at 100 TB prunes buckets, never cross-joins.
    """
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < ANN_RANGE_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("ea")
    )
    cands = emb.select("vec_id", F.col("embedding").alias("eb"))
    cos = cosine(F.col("ea"), F.col("eb"))
    return (
        F.broadcast(probes)
        .crossJoin(cands)
        .filter(F.col("probe_id") != F.col("vec_id"))
        .select("probe_id", "vec_id", pround(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= ANN_RANGE_T)
    )


@query(
    "llm_stopword_profile",
    oracle=f"""
    WITH tc AS (
      SELECT lang, token, COUNT(*) AS c FROM (
        SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
        FROM documents)
      GROUP BY 1, 2
    )
    SELECT lang, token, c AS n_occurrences, rnk
    FROM (
      SELECT lang, token, c,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY c DESC, token) AS INT) AS rnk
      FROM tc)
    WHERE rnk <= {STOPWORD_TOPK}
    """,
)
def llm_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stopword profile: the top-{STOPWORD_TOPK} most
    frequent tokens per language — the empirical stopword list quality
    heuristics (Gopher's common-word ratio, lang-ID profiles) should be
    fit from, rather than hard-coding English lists.

    One (lang, token) count shuffle (map-side combined), then a
    per-lang top-k window over the vocabulary-sized aggregate —
    exact integer ordering with a token tiebreak, deterministic on both
    engines. At 100 TB the window input is vocabulary × languages, not
    corpus-sized.
    """
    d = load(spark, sf_dir, "documents")
    tc = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("c"))
    )
    w = W.partitionBy("lang").orderBy(F.col("c").desc(), "token")
    return (
        tc.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= STOPWORD_TOPK)
        .select(
            "lang",
            "token",
            F.col("c").alias("n_occurrences"),
            "rnk",
        )
    )


@query(
    "agg_conditional_family",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n_lines,
           CAST(COUNT(*) FILTER (l_discount > 0.05) AS BIGINT)
             AS n_discounted,
           BOOL_AND(l_quantity > 0) AS all_positive_qty,
           BOOL_OR(l_tax > 0.07) AS any_high_tax,
           ROUND(MAX_BY(l_extendedprice,
                        (l_orderkey * 10 + l_linenumber) * 10000000000
                        + CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)), 2)
             AS latest_price,
           ROUND(MIN_BY(l_extendedprice,
                        (l_orderkey * 10 + l_linenumber) * 10000000000
                        + CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)), 2)
             AS earliest_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def agg_conditional_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conditional-aggregate family in one pass: count_if, bool_and/
    bool_or, and max_by/min_by — the aggregate surface beyond plain
    sum/avg (SURVEY.md §2.C family).

    max_by/min_by need a UNIQUE ordering key because ties are an
    engine's arbitrary choice (§7.5) — and the fixture's (orderkey,
    linenumber) is NOT unique (duplicate lines exist), so the cent
    value itself is packed into the low digits of a single bigint key
    ((orderkey×10+linenumber)×10¹⁰ + cents, exact 63-bit arithmetic at
    fixture key ranges; DuckDB 1.0's max_by takes no struct ordering).
    Every other aggregate here is an exact count/boolean. One
    map-side-combined shuffle over the 3-value status domain.
    """
    li = load(spark, sf_dir, "lineitem")
    uniq = (F.col("l_orderkey") * 10 + F.col("l_linenumber")) * F.lit(
        10_000_000_000
    ) + F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    return li.groupBy("l_linestatus").agg(
        F.count("*").alias("n_lines"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        pround(F.max_by("l_extendedprice", uniq), 2).alias("latest_price"),
        pround(F.min_by("l_extendedprice", uniq), 2).alias("earliest_price"),
    )


@query(
    "ts_ohlc_bars",
    oracle="""
    WITH e AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             ts, event_id, value
      FROM events WHERE event_type = 'purchase'
    ), w AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, day
                                ORDER BY ts, event_id) AS rna,
             ROW_NUMBER() OVER (PARTITION BY user_id, day
                                ORDER BY ts DESC, event_id DESC) AS rnd
      FROM e
    )
    SELECT user_id, day,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           ROUND(MAX(CASE WHEN rna = 1 THEN value END), 2) AS open,
           ROUND(MAX(value), 2) AS high,
           ROUND(MIN(value), 2) AS low,
           ROUND(MAX(CASE WHEN rnd = 1 THEN value END), 2) AS close
    FROM w GROUP BY user_id, day
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (open/high/low/close) daily bars per user over the purchase
    stream — the canonical time-series downsample a metrics store
    serves.

    Open/close are selected by ROW_NUMBER over the UNIQUE (ts,
    event_id) order — not min_by(ts) alone, because duplicate
    timestamps would make the pick an engine choice (§7.5). Both
    windows and the final aggregate hash-partition on (user_id, day),
    so the whole query is ONE exchange followed by two sorts and a
    partial-combined aggregate — the shape that holds at 100 TB of
    ticks.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    wa = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = W.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rna", F.row_number().over(wa))
        .withColumn("rnd", F.row_number().over(wd))
        .groupBy("user_id", "day")
        .agg(
            F.count("*").alias("n_trades"),
            pround(
                F.max(F.when(F.col("rna") == 1, F.col("value"))), 2
            ).alias("open"),
            pround(F.max("value"), 2).alias("high"),
            pround(F.min("value"), 2).alias("low"),
            pround(
                F.max(F.when(F.col("rnd") == 1, F.col("value"))), 2
            ).alias("close"),
        )
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT l_linestatus,
           CAST(BIT_AND(l_orderkey) AS BIGINT) AS key_bit_and,
           CAST(BIT_OR(l_orderkey) AS BIGINT) AS key_bit_or,
           CAST(BIT_XOR(l_orderkey) AS BIGINT) AS key_bit_xor,
           CAST(SUM(XOR(l_orderkey, l_partkey) % 1024) AS BIGINT)
             AS xor_bucket_sum
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression + aggregate surface: per-row XOR bucketing and
    the bit_and/bit_or/bit_xor aggregates (SURVEY.md §2.E family — used
    in practice for hash-partitioning checks and bitmap-style rollups).

    Pure integer arithmetic end to end — bit-identical on any engine,
    no rounding anywhere. One map-side-combined shuffle over the
    3-value status domain.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.bit_and("l_orderkey").alias("key_bit_and"),
        F.bit_or("l_orderkey").alias("key_bit_or"),
        F.bit_xor("l_orderkey").alias("key_bit_xor"),
        F.sum(
            F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")) % 1024
        ).cast("bigint").alias("xor_bucket_sum"),
    )


TEMP_ALPHA = 0.3  # sampling temperature (multilingual-style rebalancing)
SURVIVOR_THRESHOLD = 0.8  # reuses CLUSTER_THRESHOLD's near-dup graph


@query(
    "llm_temperature_mixture",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n_docs) AS n FROM counts
    ), raw AS (
      SELECT source, n_docs,
             CAST(n_docs AS DOUBLE) / tot.n AS p,
             POWER(CAST(n_docs AS DOUBLE) / tot.n, {TEMP_ALPHA}) AS pw
      FROM counts CROSS JOIN tot
    )
    SELECT source, n_docs,
           ROUND(p, 6) AS p,
           ROUND(pw / SUM(pw) OVER (), 6) AS w,
           ROUND((pw / SUM(pw) OVER ()) / p, 4) AS boost
    FROM raw
    """,
)
def llm_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling mixture over the source domains:
    w_i ∝ p_i^{TEMP_ALPHA} — the standard rebalancing that upsamples
    tail domains (or languages) when assembling a training mix, with
    the per-domain boost factor w_i / p_i a sampler would apply.

    One count aggregate over the bounded source domain, then two 1-row
    broadcast totals (doc count, Σpw) — no global window (a global
    window is the plan sweep's red flag; over this domain-sized frame
    it would be harmless, but the broadcast-total shape stays correct
    verbatim if the domain column ever became high-cardinality). POWER
    on the exact count ratio may differ from DuckDB's libm by an ulp;
    all emitted values are rounded well above that noise (§7.5).
    """
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("n"))
    p = F.col("n_docs").cast("double") / F.col("n")
    raw = (
        counts.join(F.broadcast(tot))
        .select(
            "source", "n_docs", p.alias("p"), F.pow(p, TEMP_ALPHA).alias("pw")
        )
        .localCheckpoint(eager=True)
    )
    pw_tot = raw.agg(F.sum("pw").alias("spw"))
    w_norm = F.col("pw") / F.col("spw")
    return raw.join(F.broadcast(pw_tot)).select(
        "source",
        "n_docs",
        pround(F.col("p"), 6).alias("p"),
        pround(w_norm, 6).alias("w"),
        pround(w_norm / F.col("p"), 4).alias("boost"),
    )


def _survivors_oracle() -> str:
    """Deferred oracle (resolved by registry.resolve_oracles after all
    modules import): the lsh_core import happens lazily because pulling
    it at module import time would transitively register llm_ops's
    queries AHEAD of this module's — and engine/__init__'s rotation
    depends on seeds5 registering first this round."""
    from engine.lsh_core import lsh_candidate_ctes

    return f"""
    WITH RECURSIVE {lsh_candidate_ctes()},
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sz sa ON doc_a = sa.doc_id
      JOIN sz sb ON doc_b = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common)
            >= {SURVIVOR_THRESHOLD}
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ), reach AS (
      SELECT doc_id AS u, doc_id AS r FROM documents
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ), clusters AS (
      SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
    )
    SELECT c.cluster_id AS doc_id,
           d.lang,
           CAST(d.n_chars AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM clusters c
    JOIN documents d ON d.doc_id = c.cluster_id
    GROUP BY 1, 2, 3
    """


@query("llm_dedup_survivors", oracle=_survivors_oracle)
def llm_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KEPT corpus: one canonical survivor per near-dup component
    (token Jaccard ≥ {SURVIVOR_THRESHOLD}, min-doc_id representative)
    with how many members it absorbed — the artifact a corpus release
    actually ships, where llm_dedup_clusters emits the full labeling
    and llm_dedup_pipeline audits the funnel counts. Exact duplicates
    are subsumed (identical texts have Jaccard 1.0 and land in the same
    component).

    Same distributed machinery as llm_dedup_clusters (MinHash-LSH
    banded candidate edges with exact bitset verify — mirrored
    CTE-for-CTE in the oracle — then connected components to a true
    fixpoint), then a cluster-sized aggregate joined back to the
    survivors' metadata — the join is on the canonical id, so its
    input is clusters, not the corpus. The labeling is
    llm_dedup_clusters' own (engine.pipeline_ops.dedup_labels: same
    threshold, same graph), computed afresh by each query.
    """
    from engine.pipeline_ops import dedup_labels

    d = load(spark, sf_dir, "documents")
    labels = dedup_labels(spark, sf_dir)
    clusters = labels.groupBy("label").agg(
        F.count("*").alias("n_members")
    )
    return (
        clusters.join(d, clusters["label"] == d["doc_id"])
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("n_members").cast("bigint").alias("n_members"),
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
        )
    )

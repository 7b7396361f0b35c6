"""Training-data curation operators (round 3): the quality / mixing /
packaging steps of an LLM pre-training pipeline that sit between raw
corpus and tokenized shards, plus two classic analytics shapes (cohort
retention, TPC-H Q9 profit) that widen the relational inventory.

The reference repo declares intent with no code (SURVEY.md §0); these
operators extend the SURVEY.md §2.J LLM-pipeline family with the
published curation heuristics used by C4 / Gopher / CCNet-class
pipelines: repetition filtering, rule-based quality gates, unigram-LM
surprisal scoring, corpus-CDF bucketing, domain mixture reweighting, and
deterministic shard manifests.

Scale notes (100 TB): every operator here is one or two hash shuffles on
high-cardinality keys (doc_id) plus broadcast-sized side state (vocab
counts, CDF boundaries, per-lang totals). Nothing collects rows to the
driver; nothing windows over an unbounded unpartitioned frame (the two
unpartitioned windows below run over ≤ |distinct n_chars| ≈ 500 and
≤ |lang| = 5 aggregated rows, bounded regardless of corpus size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from engine.det import cents_col, pround, revenue_e4_col
from engine.registry import query
from engine.session import load

# C4/Gopher-style gate thresholds, calibrated to the fixture corpus
# (10-99 tokens/doc, analytics vocabulary; FIXTURES.md 'documents').
REP_DUP_FRAC = 0.5  # > half the tokens are repeats → repetitive
REP_TOP_BIGRAM_FRAC = 0.2  # one bigram > 20% of all bigrams → template
GOPHER_MIN_TOKENS = 20
GOPHER_MAX_TOKENS = 90
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 8.0
GOPHER_MIN_COMMON_FRAC = 0.05  # stopword-coverage analog
# The 'stopword' list of the fixture vocabulary: its most frequent
# tokens (profiled at sf0.01), playing the role of Gopher's required
# English stopwords. Frozen so Spark and oracle agree byte-for-byte.
COMMON_TOKENS = ("join", "hash", "row", "batch", "scan", "filter")
N_SHARDS = 8
MIX_TARGET_SHARE = 0.2  # uniform target over the 5 fixture langs
BLOCK_TOKENS = 8  # sub-document dedup granularity (C4's 3-sentence span)
ROLL_MEDIAN_FRAME = 5  # rolling-median window: current + 4 preceding


@query(
    "llm_repetition_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks FROM documents
    ), base AS (
      SELECT doc_id, lang,
             CAST(LEN(toks) AS INT) AS n_tokens,
             CAST(LEN(LIST_DISTINCT(toks)) AS INT) AS n_distinct
      FROM t
    ), bg AS (
      SELECT doc_id,
             ARRAY_TO_STRING(
               LIST_SLICE(STRING_SPLIT(text, ' '), i, i + 1), ' ') AS b
      FROM (
        SELECT doc_id, text,
               UNNEST(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - 1))
                 AS i
        FROM documents)
    ), bgc AS (
      SELECT doc_id, MAX(c) AS top_bigram
      FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2)
      GROUP BY doc_id
    )
    SELECT base.doc_id, base.lang, base.n_tokens, base.n_distinct,
           ROUND(1.0 - CAST(base.n_distinct AS DOUBLE) / base.n_tokens, 4)
             AS dup_frac,
           ROUND(CAST(bgc.top_bigram AS DOUBLE) / (base.n_tokens - 1), 4)
             AS top_bigram_frac,
           CAST(CASE WHEN 1.0 - CAST(base.n_distinct AS DOUBLE)
                            / base.n_tokens > {REP_DUP_FRAC}
                       OR CAST(bgc.top_bigram AS DOUBLE)
                            / (base.n_tokens - 1) > {REP_TOP_BIGRAM_FRAC}
                     THEN 1 ELSE 0 END AS INT) AS flag_repetitive
    FROM base JOIN bgc ON base.doc_id = bgc.doc_id
    """,
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter (C4/Gopher rule family): per document, the
    duplicate-token fraction and the most-frequent-bigram share, plus a
    combined repetitive flag.

    Token/distinct counts stay JVM-side with zero shuffle
    (``size``/``array_distinct`` on the split array inside whole-stage
    codegen). The bigram mode needs a real distributed count: explode to
    (doc_id, bigram), two-level groupBy — both shuffles hash on doc_id
    first, so at 100 TB this is one repartition of the corpus plus a
    doc-local reduce; no global state.
    """
    d = load(spark, sf_dir, "documents")
    base = d.withColumn("toks", F.split("text", " ")).select(
        "doc_id",
        "lang",
        "toks",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )
    # sequence(0, -1) reverses (step defaults to -1 when start > stop),
    # so a 1-token doc would index toks[-1] and crash under ANSI; the
    # size guard drops it BEFORE the transform evaluates, matching the
    # oracle (DuckDB GENERATE_SERIES(0, -1) is empty -> doc drops at the
    # inner join) and keeping the n_tokens - 1 divisor >= 1.
    bigrams = base.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i + 1]))"
            )
        ).alias("b"),
    )
    top = (
        bigrams.groupBy("doc_id", "b")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bigram"))
    )
    dup_frac = 1.0 - F.col("n_distinct").cast("double") / F.col("n_tokens")
    top_frac = F.col("top_bigram").cast("double") / (F.col("n_tokens") - 1)
    return (
        base.join(top, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_distinct",
            pround(dup_frac, 4).alias("dup_frac"),
            pround(top_frac, 4).alias("top_bigram_frac"),
            (
                (dup_frac > REP_DUP_FRAC)
                | (top_frac > REP_TOP_BIGRAM_FRAC)
            )
            .cast("int")
            .alias("flag_repetitive"),
        )
    )


_COMMON_SQL = "[" + ", ".join(f"'{t}'" for t in COMMON_TOKENS) + "]"


@query(
    "llm_gopher_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens,
             CAST(LENGTH(text) AS BIGINT) AS n_chars_m,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                  x -> LIST_CONTAINS({_COMMON_SQL}, x)))
                  AS INT) AS n_common
      FROM documents
    ), m AS (
      SELECT doc_id, lang, n_tokens, n_common,
             CAST(n_chars_m - (n_tokens - 1) AS DOUBLE) / n_tokens
               AS mean_word_len,
             CAST(n_common AS DOUBLE) / n_tokens AS common_frac
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
           ROUND(mean_word_len, 4) AS mean_word_len,
           ROUND(common_frac, 4) AS common_frac,
           CAST(n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
                AS INT) AS ok_len,
           CAST(mean_word_len BETWEEN {GOPHER_MIN_WORD_LEN}
                                  AND {GOPHER_MAX_WORD_LEN}
                AS INT) AS ok_word_len,
           CAST(common_frac >= {GOPHER_MIN_COMMON_FRAC} AS INT) AS ok_common,
           CAST(n_tokens BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}
                AND mean_word_len BETWEEN {GOPHER_MIN_WORD_LEN}
                                      AND {GOPHER_MAX_WORD_LEN}
                AND common_frac >= {GOPHER_MIN_COMMON_FRAC}
                AS INT) AS pass_gopher
    FROM m
    """,
)
def llm_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate: token-count bounds, mean
    word length bounds, and common-token ('stopword') coverage, with
    per-rule flags and the conjunction.

    Map-only — every metric derives from the split array via JVM
    higher-order functions (``size``, ``filter``); mean word length
    uses chars = len(text) - (n_tokens - 1) (single-space tokenization,
    FIXTURES.md). No shuffle, embarrassingly parallel at any scale.
    """
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    common_arr = F.array(*[F.lit(t) for t in COMMON_TOKENS])
    n_tokens = F.size("toks")
    n_common = F.size(
        F.filter("toks", lambda x: F.array_contains(common_arr, x))
    )
    mean_word_len = (
        F.length("text") - (n_tokens - 1)
    ).cast("double") / n_tokens
    common_frac = n_common.cast("double") / n_tokens
    ok_len = n_tokens.between(GOPHER_MIN_TOKENS, GOPHER_MAX_TOKENS)
    ok_wl = mean_word_len.between(GOPHER_MIN_WORD_LEN, GOPHER_MAX_WORD_LEN)
    ok_common = common_frac >= GOPHER_MIN_COMMON_FRAC
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        pround(mean_word_len, 4).alias("mean_word_len"),
        pround(common_frac, 4).alias("common_frac"),
        ok_len.cast("int").alias("ok_len"),
        ok_wl.cast("int").alias("ok_word_len"),
        ok_common.cast("int").alias("ok_common"),
        (ok_len & ok_wl & ok_common).cast("int").alias("pass_gopher"),
    )


@query(
    "llm_unigram_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ), vocab AS (
      SELECT token, COUNT(*) AS c FROM tok GROUP BY token
    ), tot AS (
      SELECT SUM(c) AS n FROM vocab
    ), scored AS (
      SELECT t.doc_id, -LN(CAST(v.c AS DOUBLE) / tot.n) AS s
      FROM tok t JOIN vocab v ON t.token = v.token CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_tokens,
           ROUND(AVG(s), 4) AS avg_surprisal,
           ROUND(MAX(s), 4) AS max_surprisal
    FROM scored GROUP BY doc_id
    """,
)
def llm_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal per document — the CCNet-style
    perplexity-proxy quality signal: fit a corpus unigram model, score
    each document by mean / max token surprisal (-ln p).

    Two passes over the exploded tokens: (1) vocab counts — one shuffle
    on token, output is vocabulary-sized, broadcast back; (2) per-doc
    aggregate — one shuffle on doc_id. The corpus total is a 1-row
    cross join. At 100 TB the vocab side stays broadcastable for any
    real tokenizer vocabulary (≤ a few M rows); if it were not, the
    same plan degrades gracefully to a sort-merge join on token.
    """
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").alias("n"))
    s = -F.log(F.col("c").cast("double") / F.col("n"))
    scored = (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", s.alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_tokens"),
        pround(F.avg("s"), 4).alias("avg_surprisal"),
        pround(F.max("s"), 4).alias("max_surprisal"),
    )


@query(
    "llm_quality_buckets",
    oracle="""
    WITH hist AS (
      SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY n_chars
    ), cdf AS (
      SELECT n_chars,
             SUM(c) OVER (ORDER BY n_chars) AS cum,
             SUM(c) OVER () AS n
      FROM hist
    ), b AS (
      SELECT MIN(CASE WHEN cum * 3 >= n THEN n_chars END) AS b1,
             MIN(CASE WHEN cum * 3 >= 2 * n THEN n_chars END) AS b2
      FROM cdf
    )
    SELECT d.lang,
           CASE WHEN d.n_chars <= b.b1 THEN 'tail'
                WHEN d.n_chars <= b.b2 THEN 'middle'
                ELSE 'head' END AS bucket,
           COUNT(*) AS n_docs,
           ROUND(AVG(CAST(d.n_chars AS DOUBLE)), 2) AS avg_chars
    FROM documents d CROSS JOIN b
    GROUP BY 1, 2
    """,
)
def llm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing by corpus terciles of a
    quality proxy (n_chars), reported per language.

    The tercile boundaries come from an exact value-histogram CDF —
    groupBy(n_chars) then a running sum over the *aggregated histogram*
    (bounded by |distinct n_chars| ≈ hundreds, NOT corpus size, so the
    unpartitioned window is safe at any scale) — the engine-agnostic
    'smallest v with cum ≥ ⌈qN⌉' definition, immune to cross-engine
    percentile-interpolation drift. Boundaries broadcast back as a
    1-row cross join; bucketing is then map-side.
    """
    d = load(spark, sf_dir, "documents")
    hist = d.groupBy("n_chars").agg(F.count("*").alias("c"))
    cdf = hist.select(
        "n_chars",
        F.sum("c").over(W.orderBy("n_chars")).alias("cum"),
        F.sum("c").over(W.partitionBy()).alias("n"),
    )
    b = cdf.agg(
        F.min(
            F.when(F.col("cum") * 3 >= F.col("n"), F.col("n_chars"))
        ).alias("b1"),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("n_chars"))
        ).alias("b2"),
    )
    bucket = (
        F.when(F.col("n_chars") <= F.col("b1"), F.lit("tail"))
        .when(F.col("n_chars") <= F.col("b2"), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return (
        d.crossJoin(F.broadcast(b))
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            pround(F.avg(F.col("n_chars").cast("double")), 2).alias(
                "avg_chars"
            ),
        )
    )


@query(
    "llm_domain_mixture",
    oracle=f"""
    WITH per AS (
      SELECT lang,
             COUNT(*) AS n_docs,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 4)
             AS token_share,
           ROUND({MIX_TARGET_SHARE}
                 / (CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()), 4)
             AS sample_weight
    FROM per
    """,
)
def llm_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per language, the realized token
    share and the sampling weight that would hit a uniform target
    mixture (weight = target / actual) — the knob a pre-training
    pipeline turns to rebalance sources.

    One shuffle (groupBy lang, map-side-combined token sums via
    JVM-side ``size(split(...))``); the share window runs over the
    aggregated |lang| = 5 rows, bounded at any corpus size.
    """
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(
        W.partitionBy()
    )
    return per.select(
        "lang",
        "n_docs",
        "n_tokens",
        pround(share, 4).alias("token_share"),
        pround(F.lit(MIX_TARGET_SHARE) / share, 4).alias("sample_weight"),
    )


@query(
    "llm_shard_manifest",
    oracle=f"""
    SELECT ('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT
             % {N_SHARDS} AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id,
           CAST(SUM(('0x' || SUBSTRING(MD5(text), 1, 12))::BIGINT)
                AS BIGINT) AS content_checksum
    FROM documents
    GROUP BY 1
    """,
)
def llm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard manifest — the dataset-publishing step: docs
    are hash-assigned to {N_SHARDS} shards (first md5 byte of doc_id,
    content-stable like the train/eval split), and each shard reports
    row count, token count, key range, and an order-insensitive content
    checksum (sum of 48-bit md5 prefixes; 48 bits keeps ~2^20 docs/shard
    clear of BIGINT overflow, and a writer at 100 TB would fold per-file
    partial sums the same way).

    One shuffle on the shard key — exactly the repartition a real shard
    writer performs before ``write.partitionBy``.
    """
    d = load(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("bigint")
        % N_SHARDS
    )
    checksum = F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast(
        "bigint"
    )
    return (
        d.groupBy(shard.alias("shard"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum(checksum).alias("content_checksum"),
        )
    )


@query(
    "events_retention",
    oracle="""
    WITH w AS (
      SELECT user_id,
             CAST(FLOOR(FLOOR(epoch(ts) / 86400) / 7) AS BIGINT) AS week
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(w.week - c.cohort_week AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM w JOIN cohort c ON w.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted in each subsequent week they return — the cohort matrix
    behind every retention curve.

    Week ids are pure integer epoch arithmetic (floor(epoch/86400/7)),
    identical on both engines — no date_trunc semantics to disagree on.
    Both aggregates and the join hash on user_id, so the whole query
    reuses ONE partitioning; the final distinct-count shuffles on the
    (small) cohort × offset grid.
    """
    e = load(spark, sf_dir, "events")
    w = e.select(
        "user_id",
        F.floor(F.floor(F.col("ts").cast("double") / 86400) / 7)
        .cast("bigint")
        .alias("week"),
    )
    cohort = w.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        w.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week"))
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
           ROUND(CAST(SUM(
             CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(FLOOR(l.l_discount * 100 + 0.5) AS BIGINT))
             - CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT)
               * CAST(l.l_quantity AS BIGINT) * 10
           ) AS DOUBLE) / 10000, 2) AS sum_profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analog (product-type profit): per supplier nation and
    order year, revenue minus a supply-cost proxy (10% of retail price —
    the fixtures carry no partsupp table, FIXTURES.md) over parts whose
    name contains 'bolt'.

    The selective part filter is applied BEFORE the join and the
    filtered part/supplier/nation dims all broadcast; only the
    lineitem→orders join shuffles. Year extraction is UTC on both
    engines. This is the canonical many-dim star join: at 1000
    executors, one fact shuffle, zero dim shuffles.

    Determinism by QUANTIZATION: the per-row profit is computed in
    exact integer 1e-4 units (prices/discounts are cent/percent-grain
    in the fixtures, quantity integral) and summed as DECIMAL, so the
    group sum is independent of addend order. A double SUM here sat on
    a half-ulp rounding boundary — the row-order sweep caught
    NATION_19/1999 flipping 884066.73↔.74 with input row order, the
    flapping-result class a single-run test can never see.
    """
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))

    # exact 1e-4-unit integer profit; DECIMAL(38,0) sum headroom:
    # ~1e9 units/row × 1e12 rows at 100 TB ≈ 1e21, far under 1e38
    # (a BIGINT sum would overflow at that scale).
    profit_e4 = (
        revenue_e4_col()
        - cents_col(F.col("p_retailprice"))
        * F.col("l_quantity").cast("bigint")
        * 10
    ).cast("decimal(38,0)")
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            pround(
                F.sum(profit_e4).cast("double") / 10000, 2
            ).alias("sum_profit")
        )
    )


@query(
    "llm_block_dedup",
    oracle=f"""
    WITH blk AS (
      SELECT doc_id,
             ARRAY_TO_STRING(
               LIST_SLICE(STRING_SPLIT(text, ' '),
                          (i - 1) * {BLOCK_TOKENS} + 1,
                          i * {BLOCK_TOKENS}), ' ') AS block
      FROM (
        SELECT doc_id, text,
               UNNEST(GENERATE_SERIES(
                 1, LEN(STRING_SPLIT(text, ' ')) // {BLOCK_TOKENS})) AS i
        FROM documents)
    ), shared AS (
      SELECT block FROM blk GROUP BY block
      HAVING COUNT(DISTINCT doc_id) > 1
    ), audit AS (
      SELECT b.doc_id,
             COUNT(*) AS n_blocks,
             CAST(SUM(CASE WHEN s.block IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup_blocks
      FROM blk b LEFT JOIN shared s ON b.block = s.block
      GROUP BY b.doc_id
    )
    SELECT doc_id, n_blocks, n_dup_blocks,
           ROUND(1.0 - CAST(n_dup_blocks AS DOUBLE) / n_blocks, 4)
             AS retained_frac
    FROM audit
    """,
)
def llm_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (block-level) exact dedup audit — the C4 rule family
    ('remove any three-sentence span occurring more than once') at
    {BLOCK_TOKENS}-token-block granularity: per document, how many of
    its non-overlapping token blocks also appear in ANOTHER document,
    and the fraction that would survive block-level dedup.

    Blocks derive JVM-side (transform over sequence, zero Python); the
    shared-block set is one distinct-doc-count shuffle on the block
    hash, then a left join back — at 100 TB the join key is the block
    string (hashable to 16 bytes with identical semantics), and both
    shuffles are map-side-combinable. Documents shorter than one block
    are filtered out before the block transform (see inline note), so
    they contribute zero blocks and drop from the audit, matching the
    oracle's GENERATE_SERIES emptiness.
    """
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    # sequence(1, 0) reverses under Spark's default negative step, so a
    # doc shorter than one block would hit slice() with a reversed index
    # and crash under ANSI; filtering size >= BLOCK_TOKENS first drops
    # such docs before the transform evaluates — the same emptiness the
    # oracle's GENERATE_SERIES(1, 0) produces in DuckDB.
    blk = d.filter(F.size("toks") >= BLOCK_TOKENS).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) div {BLOCK_TOKENS}),"
                f" i -> array_join(slice(toks, (i - 1) * {BLOCK_TOKENS} + 1,"
                f" {BLOCK_TOKENS}), ' '))"
            )
        ).alias("block"),
    )
    shared = (
        blk.groupBy("block")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("block")
    )
    audit = (
        blk.join(shared.withColumn("is_dup", F.lit(1)), "block", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_blocks"),
        )
    )
    return audit.select(
        "doc_id",
        "n_blocks",
        "n_dup_blocks",
        pround(
            1.0 - F.col("n_dup_blocks").cast("double") / F.col("n_blocks"), 4
        ).alias("retained_frac"),
    )


@query(
    "win_rolling_median",
    oracle=f"""
    WITH w AS (
      SELECT user_id, event_id, ts, value,
             LIST_SORT(LIST(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {ROLL_MEDIAN_FRAME - 1} PRECEDING
                        AND CURRENT ROW)) AS vs
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, ts,
           CAST(LEN(vs) AS INT) AS n_in_frame,
           ROUND((vs[(LEN(vs) + 1) // 2]
                  + vs[LEN(vs) // 2 + 1]) / 2.0, 4) AS rolling_median
    FROM w
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median of purchase value per user over the last
    {ROLL_MEDIAN_FRAME} events — the robust-statistics window Spark has
    no native aggregate for.

    Portable construction (identical on both engines, so the hash is
    exact even for even-sized frames): collect the frame into an array,
    sort it, average the two middle elements. The frame is
    constant-bounded ({ROLL_MEDIAN_FRAME} rows), so the per-row state
    is O(1) and the window partitions by user_id — no global sort, one
    hash shuffle at any scale. For data-sized frames the scale answer
    is `agg_approx_quantile`'s sketch, already registered.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLL_MEDIAN_FRAME - 1), W.currentRow)
    )
    vs = F.sort_array(F.collect_list("value").over(w))
    n = F.size(vs)
    # n > 0 guard: collect_list DROPS NULLs, so a frame whose every
    # value is NULL (all-null-payload twin) is EMPTY and the middle
    # index degenerates to element_at(vs, 0) — an INVALID_INDEX_OF_ZERO
    # job abort on one poisoned user. CASE branches evaluate lazily, so
    # the empty frame yields a NULL median instead (DuckDB's
    # out-of-range list index is NULL already, so the engines agree).
    med = F.when(
        n > 0,
        (
            F.element_at(vs, ((n + 1) / 2).cast("int"))
            + F.element_at(vs, (n / 2).cast("int") + 1)
        )
        / 2.0,
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        n.alias("n_in_frame"),
        pround(med, 4).alias("rolling_median"),
    )


@query(
    "ts_gap_fill",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
             (MAX({'ts': ts, 'id': event_id, 'v': value})).v
               AS close_value,
             COUNT(*) AS n_events
      FROM events
      WHERE ts >= TIMESTAMP '1990-01-01 00:00:00'
        AND ts <  TIMESTAMP '2100-01-01 00:00:00'
      GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM d GROUP BY user_id
    ), spine AS (
      SELECT s.user_id, UNNEST(GENERATE_SERIES(s.d0, s.d1)) AS day
      FROM span s
    )
    SELECT sp.user_id, sp.day,
           CAST(CASE WHEN d.user_id IS NULL THEN 0 ELSE 1 END AS INT)
             AS is_observed,
           CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events,
           ROUND(LAST_VALUE(d.close_value IGNORE NULLS) OVER (
             PARTITION BY sp.user_id ORDER BY sp.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS filled_value
    FROM spine sp LEFT JOIN d
      ON sp.user_id = d.user_id AND sp.day = d.day
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per user, a dense daily spine between
    first and last activity, left-joined to the observed per-day close
    value (max_by ts) and forward-filled through the gaps — the
    resample + LOCF shape every feature pipeline needs before training
    on event streams.

    The spine derives from a per-user min/max aggregate and
    ``sequence()`` explode — spine size is span-bounded, never a
    cartesian with a global calendar. All three steps (day aggregate,
    spine join, fill window) hash/partition on user_id, so one shuffle
    partitioning serves the whole plan; the fill is
    ``last(ignorenulls)`` over a user-partitioned window.
    """
    # Epoch-domain guard: the spine spans [min(day), max(day)] per
    # user, so ONE poisoned sentinel timestamp (epoch 0, year 9999)
    # inflates it to ~3M days/user — a fan-out bomb at any scale. The
    # 1990..2100 ingest window bounds the spine under arbitrary input
    # (sentinel-timestamps exact sweep); rows outside it are clock
    # garbage by definition, quarantined on both engines.
    e = load(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("1990-01-01 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2100-01-01 00:00:00").cast("timestamp"))
    )
    d = (
        e.groupBy(
            "user_id",
            F.floor(F.col("ts").cast("double") / 86400)
            .cast("bigint")
            .alias("day"),
        )
        # Deterministic close under tied timestamps: struct max over
        # the unique (ts, event_id) prefix (see ts_ewma_smooth).
        .agg(
            F.max(F.struct("ts", "event_id", "value"))
            .getField("value")
            .alias("close_value"),
            F.count("*").alias("n_events"),
        )
    )
    spine = (
        d.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    joined = spine.join(d, ["user_id", "day"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.col("close_value").isNotNull().cast("int").alias("is_observed"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        pround(F.last("close_value", ignorenulls=True).over(w), 4).alias(
            "filled_value"
        ),
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    WITH e AS (
      SELECT vec_id, UNNEST(embedding) AS x FROM embeddings
    )
    SELECT vec_id,
           CAST(COUNT(*) AS INT) AS dim,
           ROUND(SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4)
             AS l2_norm,
           ROUND(MAX(ABS(CAST(x AS DOUBLE))), 4) AS max_abs
    FROM e GROUP BY vec_id
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``mapInArrow`` API surface (SURVEY.md §2.K family): per-batch
    zero-copy Arrow RecordBatch processing — one step lower-level than
    the pandas UDFs, no pandas conversion cost, the right entry point
    for Arrow-native libraries (polars, vector codecs, tokenizers).

    Computes per-embedding dim / L2 norm / max-|x| in numpy f64 from
    the Arrow FixedSizeList buffer. Map-only (no shuffle); batch size
    is governed by spark.sql.execution.arrow.maxRecordsPerBatch, so
    executor memory stays bounded at any corpus size.
    """
    import numpy as np
    import pyarrow as pa

    def batch_norms(it):
        for rb in it:
            tbl = pa.table(rb)
            ids = tbl.column("vec_id").to_numpy(zero_copy_only=False)
            flat = np.stack(tbl.column("embedding").to_pylist()).astype(
                np.float64
            )
            l2 = np.sqrt((flat * flat).sum(axis=1))
            mx = np.abs(flat).max(axis=1)
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": pa.array(ids, type=pa.int64()),
                    "dim": pa.array(
                        np.full(len(ids), flat.shape[1], dtype=np.int32)
                    ),
                    "l2_norm": pa.array(
                        np.floor(l2 * 10_000 + 0.5) / 10_000
                    ),
                    "max_abs": pa.array(
                        np.floor(mx * 10_000 + 0.5) / 10_000
                    ),
                }
            )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInArrow(
        batch_norms, schema="vec_id long, dim int, l2_norm double, max_abs double"
    )


@query(
    "agg_unpivot",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             SUM(l_quantity) AS sum_qty,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / 100 AS sum_price,
             CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) / COUNT(l_discount) / 100 AS avg_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, ROUND(sum_qty, 4) AS value
    FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, ROUND(sum_price, 4) AS value
    FROM wide
    UNION ALL
    SELECT l_returnflag, 'avg_disc' AS metric, ROUND(avg_disc, 4) AS value
    FROM wide
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt — the inverse of `agg_pivot`: a wide per-flag
    pricing aggregate reshaped to long (flag, metric, value) form via
    ``DataFrame.unpivot`` (Spark's native UNPIVOT, one generate node —
    not a self-union that would rescan the aggregate N times; the
    oracle spells the same reshape as UNION ALL over a CTE).

    The aggregate shuffles once on the 3-value flag key; the unpivot
    itself is map-side row expansion, 3× a 3-row frame.

    Determinism by QUANTIZATION: price/discount fold as exact integer
    cents (DECIMAL sum for 100 TB headroom), because a double SUM of
    600k ~1e5-grade prices carries ulp drift larger than the 4-decimal
    rounding grain — the sf0.1 row-order sweep caught sum_price
    flipping ….9498↔.9499 with input order. Quantity is integral, so
    its double sum is exact (< 2^53) as-is.
    """
    li = load(spark, sf_dir, "lineitem")
    cents_p = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    cents_d = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    wide = li.groupBy("l_returnflag").agg(
        pround(F.sum("l_quantity"), 4).alias("sum_qty"),
        pround(F.sum(cents_p).cast("double") / 100, 4).alias("sum_price"),
        pround(
            F.try_divide(
                F.sum(cents_d).cast("double"), F.count("l_discount")
            )
            / 100,
            4,
        ).alias("avg_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "avg_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )

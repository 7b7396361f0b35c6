"""MinHash-LSH banding core — a LEAF module (registers nothing), so
the word-token (engine.scale_ops) and char-shingle (engine.pipeline_ops)
near-dup queries can share the candidate-generation machinery without
dragging each other's query registrations forward (the driver's capped
correctness sweep walks registration order; see engine/__init__).

It also owns the banded bucket self-join every LSH family shares
(:func:`salted_bucket_selfjoin`: hot-bucket census, per-bucket 2-D
salting, first-collision-band dedup) — the MinHash path here and the
embedding hyperplane path (engine.scale_ops) — and the
first-collision guard (:func:`first_collision_guard`) that the
SimHash and cross-corpus decontamination joins reuse.
"""

from __future__ import annotations

import operator
import os
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from engine.llm_ops import (
    N_MINHASH,
    jaccard_at_least,
    minhash_hashes,
    packed_token_sets,
)

N_BANDS = 4  # MinHash-LSH: 4 bands × 4 rows over the 16-perm signature

# Hot-bucket gate (r14, VERDICT r13 item 3 / optimization guide §2.4):
# band buckets with more rows than this are 2-D-salted in the candidate
# self-join (see salted_bucket_selfjoin) so ONE pathological bucket (a
# 100 TB crawl with 10⁶ byte-identical docs) cannot produce a single
# quadratic task. Each hot bucket gets its own replication
# g = ⌈bn / HOT_BUCKET_ROWS⌉, joined onto the band rows as a frame —
# nothing about the hot buckets is collected to the driver. The
# fixture's largest bucket is ~1.1k rows (measured sf0.1), so the
# default never trips locally and the candidate join keeps the
# unsalted shape. Env-overridable for production tuning; tests
# monkeypatch the module attribute to force the gate.
HOT_BUCKET_ROWS = int(os.environ.get("SPARK_GRAFT_LSH_HOT_ROWS", "4096"))

_TOK_SQL = """
      SELECT DISTINCT doc_id, lang, token FROM (
        SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
        FROM documents)
"""


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup (scale path of llm_jaccard_neardup)
# ---------------------------------------------------------------------------


def _minhash_sig(tok: DataFrame) -> DataFrame:
    # Permutation hashes precomputed per distinct token (vocabulary ≪
    # occurrences), broadcast back onto occurrence rows — see
    # engine.llm_ops.minhash_hashes.
    joined = tok.join(F.broadcast(minhash_hashes(tok)), "token")
    return joined.groupBy("doc_id", "lang").agg(
        *[F.min(f"p{i:02d}").alias(f"h{i:02d}") for i in range(N_MINHASH)]
    )


def band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, lang, band, bv, abv) rows from a minhash signature frame.

    One explode over an array of (band, band-hash) structs — a 4-way
    union here would recompute the signature aggregate per branch; the
    explode computes it once, and identical subplans on the two sides
    of a bucket self-join reuse one shuffle (ReusedExchange). Shared by
    :func:`lsh_neardup_pairs` and the cross-corpus decontamination
    (engine.seeds6).

    ``bv`` is the UNHEX'd md5 — 16 raw bytes instead of a 32-char hex
    string. unhex is a bijection on canonical md5 output, so binary
    equality ≡ the oracle's hex-string equality (the mirrored candidate
    contract is untouched) while join keys and shuffle rows are half
    the width (optimization guide §2.3, narrower types). ``abv`` packs
    ALL band hashes per row so a consumer can detect collisions in
    earlier bands without a second pass (:func:`first_collision_guard`);
    consumers that don't need it project it away before any exchange."""
    per_band = N_MINHASH // N_BANDS
    band_hash = [
        F.unhex(
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        f"h{i:02d}"
                        for i in range(b * per_band, (b + 1) * per_band)
                    ],
                )
            )
        )
        for b in range(N_BANDS)
    ]
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_hash[b].alias("bv"))
            for b in range(N_BANDS)
        ]
    )
    return sig.select(
        "doc_id",
        "lang",
        F.array(*band_hash).alias("abv"),
        F.explode(band_structs).alias("s"),
    ).select("doc_id", "lang", "s.band", "s.bv", "abv")


def lsh_sig_bands_ctes(tok_sql: str = _TOK_SQL) -> str:
    """DuckDB CTE prefix mirroring the minhash-signature + band-hash
    construction over any (doc_id, lang, token) CTE — ends with
    ``bands`` (doc_id, lang, band, bv). Consumers append their own
    candidate join: the self-join form (:func:`lsh_candidate_ctes`) or
    the cross-corpus form (engine.seeds6's decontamination). The
    banding is deterministic (md5-derived minhash), so both engines
    agree on the exact candidate set — banding recall is part of the
    MIRRORED semantics, not a source of divergence."""
    mins = ",\n             ".join(
        f"MIN(('0x' || SUBSTRING(MD5(token || '#{i}'), 1, 15))::BIGINT)"
        f" AS h{i:02d}"
        for i in range(N_MINHASH)
    )
    per_band = N_MINHASH // N_BANDS
    band_selects = "\n      UNION ALL\n".join(
        "      SELECT doc_id, lang, {b} AS band, MD5(CONCAT_WS('|', {hs})) AS bv FROM sig".format(
            b=b,
            hs=", ".join(
                f"h{i:02d}" for i in range(b * per_band, (b + 1) * per_band)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""tok AS ({tok_sql}),
    sig AS (
      SELECT doc_id, lang,
             {mins}
      FROM tok GROUP BY doc_id, lang
    ), bands AS (
{band_selects}
    )"""


def lsh_candidate_ctes(tok_sql: str = _TOK_SQL) -> str:
    """DuckDB CTE chain mirroring :func:`lsh_neardup_pairs` candidate
    generation — :func:`lsh_sig_bands_ctes` plus the self-join, ending
    with ``sz`` (per-doc set sizes) and ``inter`` (per-candidate-pair
    intersection counts). Shared by the near-dup pair oracles
    (:func:`lsh_oracle`) and the dedup-clustering oracles
    (engine.pipeline_ops / engine.seeds5), which append their own
    threshold filter + recursive closure."""
    return f"""{lsh_sig_bands_ctes(tok_sql)}, cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.lang = b.lang
       AND a.doc_id < b.doc_id
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.doc_a
      JOIN tok tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
      GROUP BY 1, 2
    )"""


def lsh_oracle(tok_sql: str = _TOK_SQL, threshold: float = 0.8) -> str:
    """DuckDB mirror of :func:`lsh_neardup_pairs` over any (doc_id, lang,
    token) CTE — the token form and the char-shingle form share it."""
    return f"""
    WITH {lsh_candidate_ctes(tok_sql)}
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common), 4)
             AS jaccard
    FROM inter
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common)
          >= {threshold}
    """


def first_collision_guard(
    band: Column, left: list[Column], right: list[Column]
) -> Column:
    """FIRST-COLLISION-BAND dedup predicate (r14) for a banded join:
    true iff the pair collides in no band below ``band``. ``left[i]``
    and ``right[i]`` are the two sides' band-``i`` values.

    Without it a pair colliding in k bands is emitted k times and
    needs a `.distinct()` — at the fixture's near-dup density that
    shuffles ~4× the final candidate set just to drop band-duplicates.
    With every band's value on each side's row, the join keeps a pair
    only in its LOWEST colliding band, so each colliding pair is
    emitted exactly once (the standard LSH dedup-in-the-join trick).

    Statically unrolled CASE chain: band 0 has no earlier bands, band
    b requires bands 0..b-1 to all differ. A zip_with/slice/exists
    spelling of the same predicate measured SLOWER than the distinct it
    replaced, because its lambda allocations ran per raw bucket pair.
    """
    guard = F.lit(True)
    for eb in range(1, len(left)):
        all_differ = reduce(
            operator.and_, [left[i] != right[i] for i in range(eb)]
        )
        guard = F.when(band == eb, all_differ).otherwise(guard)
    return guard


def salted_bucket_selfjoin(
    bands: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    out: tuple[str, str],
    n_bands: int,
    hot_gate: bool = True,
) -> DataFrame:
    """Candidate pairs of a banded LSH: the bucket self-join over
    ``bands`` (one row per (item, band): ``id_col``, ``bucket_cols`` and
    ``abv``, the array of ALL ``n_bands`` band values of the item),
    emitted once each as (``out[0]`` < ``out[1]``) in their lowest
    colliding band (:func:`first_collision_guard`).

    HOT-BUCKET GATE (r14): a census counts each bucket's rows ``bn``;
    buckets above HOT_BUCKET_ROWS get their self-join 2-D-salted with
    replication g = ⌈bn / HOT_BUCKET_ROWS⌉: side a keys on
    (salt(id), r), side b on (r, salt(id)), r ∈ [0, g), so every
    in-bucket pair meets in EXACTLY one of the g² sub-buckets (at
    salt_a × salt_b) and each task handles ≤ ~(bn/g)² ≈
    HOT_BUCKET_ROWS² pairs instead of bn². Cold buckets keep g = 1.
    The candidate SET is identical — salting only partitions each
    bucket's pair space — so results are the same whether or not the
    gate trips. The per-bucket g is a census frame joined onto the band
    rows (no broadcast hint): no driver collect, and any broadcast AQE
    picks is bounded by Spark's own autoBroadcastJoinThreshold.

    The topology switch is a DRIVER-SIDE branch on the census
    ``.first()`` (the AQE pattern: plan from runtime statistics). A
    fully lazy always-salted formulation measured +56% on the whole
    LSH family even with ZERO hot buckets: the two join sides' subplans
    stopped being identical, which forfeited the ReusedExchange, and
    the always-on explode generator broke the codegen fusion of the
    probe side. With no hot bucket the join is exactly the unsalted
    self-join. ``hot_gate=False`` skips the census job for callers
    whose input is provably below the bound.
    """
    a, b = bands.alias("a"), bands.alias("b")
    conds = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols]
    if hot_gate:
        census = (
            bands.groupBy(*bucket_cols)
            .agg(F.count("*").alias("bn"))
            .filter(F.col("bn") > HOT_BUCKET_ROWS)
        )
        if census.agg(F.count("*")).first()[0]:
            hot = census.select(
                *bucket_cols,
                F.ceil(F.col("bn") / F.lit(HOT_BUCKET_ROWS))
                .cast("int")
                .alias("g"),
            )
            flagged = bands.join(hot, bucket_cols, "left").withColumn(
                "g", F.coalesce(F.col("g"), F.lit(1))
            )
            salt = F.pmod(F.hash(id_col), F.col("g"))
            rep = F.explode(F.sequence(F.lit(0), F.col("g") - 1))
            cols = [id_col, *bucket_cols, "abv"]
            a = flagged.select(
                *cols, salt.alias("s1"), rep.alias("s2")
            ).alias("a")
            b = flagged.select(
                *cols, rep.alias("s1"), salt.alias("s2")
            ).alias("b")
            conds += [
                F.col("a.s1") == F.col("b.s1"),
                F.col("a.s2") == F.col("b.s2"),
            ]
    guard = first_collision_guard(
        F.col("a.band"),
        [F.col("a.abv")[i] for i in range(n_bands)],
        [F.col("b.abv")[i] for i in range(n_bands)],
    )
    cond = reduce(
        operator.and_,
        [*conds, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"), guard],
    )
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias(out[0]), F.col(f"b.{id_col}").alias(out[1])
    )


def lsh_neardup_pairs(tok_arrays: DataFrame, threshold: float) -> DataFrame:
    """MinHash-LSH banded near-dup over a (doc_id, lang, toks
    array<string>) frame of per-doc DISTINCT token arrays: minhash (16
    perms) → 4 bands × 4 rows → band-hash bucket join → exact-Jaccard
    bitset verify of candidates only.

    Candidate generation is O(Σ bucket²) instead of all-pairs; the
    banding S-curve gives catch probability 1-(1-J^4)^4 at Jaccard J
    (≈ 0.89 at J=0.8; a production run raises perms/bands for recall —
    parameters are module constants). Shared by the word-token and
    char-shingle near-dup queries.

    Hot buckets (boilerplate: many byte-identical docs sharing one
    bucket) make the candidate set quadratic in the group size — for
    THIS pairs contract every such candidate is a true duplicate
    (Jaccard 1.0), so candidates == output and the PAIR COUNT is
    mandatory; what must not happen is all of them landing in ONE task.
    The hot-bucket gate of :func:`salted_bucket_selfjoin` 2-D-salts any
    bucket above HOT_BUCKET_ROWS so per-task pair counts stay bounded
    while the candidate set is bit-identical; tests/test_lsh_hotbucket.py
    pins the clique case end-to-end and forces the gate. A production
    run at 100 TB additionally collapses exact duplicates first (one
    hash-groupBy, the llm_dedup_pipeline stage ordering) so boilerplate
    enters banding as one representative, and the linear-output
    artifact to ship is the clustering/survivor form, not all pairs.

    The doc-grain ARRAYS are checkpointed, not exploded occurrence rows
    (r15, guide §2.3/§8: identical string payload with ~occurrence-count
    fewer row headers — measured at sf0.1: 110.3 MB → 15.1 MB on the
    shingle path, 12.5 MB → 2.2 MB on word tokens). Each consumer
    (minhash vocabulary, signature build, :func:`verify_candidates`)
    re-derives occurrence rows with a cheap in-plan explode.

    Driver round-trips: the eager checkpoints and the hot-bucket census
    ``.first()`` (the gate's runtime branch); the verify adds no
    separate action."""
    arrs = tok_arrays.localCheckpoint(eager=True)
    tok = arrs.select("doc_id", "lang", F.explode("toks").alias("token"))
    # The signature table is doc-grain (16 longs + the band hashes) and
    # is consumed three times (both self-join sides + the hot-bucket
    # census) — checkpoint it so the minhash aggregate runs once, which
    # is also the production shape (persist the signature table, then
    # band repeatedly). Lazy: the census action is the first consumer
    # and materializes it as part of its own job, saving a separate
    # barrier job.
    sig = _minhash_sig(tok).localCheckpoint(eager=False)
    cand = salted_bucket_selfjoin(
        band_rows(sig),
        ["band", "bv", "lang"],
        "doc_id",
        ("doc_a", "doc_b"),
        N_BANDS,
    )
    return verify_candidates(cand, arrs, "doc_a", "doc_b", threshold)


def verify_candidates(
    cand: DataFrame, arrs: DataFrame, a: str, b: str, threshold: float
) -> DataFrame:
    """(a, b, jaccard) of the candidate pairs ``cand`` (doc-id columns
    ``a`` and ``b``) whose exact token-set Jaccard is ≥ threshold, the
    token sets coming from ``arrs`` (doc_id, lang, toks array<string>).
    The exact verify of every banded near-dup path: the LSH self-join
    (:func:`lsh_neardup_pairs`) and the train × eval decontamination
    join (engine.seeds6).

    The candidates are checkpointed once, their count observed on that
    same job (empty → an empty result, no pack), and the bitset width
    comes back from packed_token_sets — no separate action. Only
    candidate docs are packed: the doc_id semi-join commutes with the
    explode, so it prunes at DOC grain BEFORE it and non-candidate
    occurrence rows are never generated (at 100 TB the candidate set is
    orders of magnitude smaller than the corpus). The packed sides are
    broadcast onto both candidate columns and verified by
    engine.llm_ops.jaccard_at_least — no shuffled joins."""
    obs = Observation()
    cand = cand.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    if obs.get["n"] == 0:
        return cand.sparkSession.createDataFrame(
            [], f"{a} long, {b} long, jaccard double"
        )
    cand_ids = cand.select(F.explode(F.array(a, b)).alias("doc_id")).distinct()
    cand_tok = arrs.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id", "lang", F.explode("toks").alias("token")
    )
    packed, n_words = packed_token_sets(cand_tok)
    packed = packed.localCheckpoint(eager=True)
    pa = packed.select(
        F.col("doc_id").alias(a),
        F.col("mask").alias("ma"),
        F.col("n_tok").alias("na"),
    )
    pb = packed.select(
        F.col("doc_id").alias(b),
        F.col("mask").alias("mb"),
        F.col("n_tok").alias("nb"),
    )
    pairs = cand.join(F.broadcast(pa), a).join(F.broadcast(pb), b)
    return jaccard_at_least(pairs, a, b, n_words, threshold)

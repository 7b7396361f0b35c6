"""MinHash-LSH banding core — a LEAF module (registers nothing), so
the word-token (engine.scale_ops) and char-shingle (engine.pipeline_ops)
near-dup queries can share the candidate-generation machinery without
dragging each other's query registrations forward (the driver's capped
correctness sweep walks registration order; see engine/__init__).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from engine.det import pround
from engine.llm_ops import (
    N_MINHASH,
    bitset_intersection,
    minhash_hashes,
    nondet_zero,
    packed_token_sets,
)

N_BANDS = 4  # MinHash-LSH: 4 bands × 4 rows over the 16-perm signature

# Hot-bucket gate (r14, VERDICT r13 item 3 / optimization guide §2.4):
# band buckets with more rows than this are 2-D-salted in the candidate
# self-join so ONE pathological bucket (a 100 TB crawl with 10⁶
# byte-identical docs) cannot produce a single quadratic task. The
# fixture's largest bucket is ~1.1k rows (measured sf0.1), so the
# default never trips locally and the candidate join degenerates to the
# unsalted shape (g = 1 everywhere). Env-overridable for production
# tuning; tests monkeypatch the module attribute to force the gate.
HOT_BUCKET_ROWS = int(os.environ.get("SPARK_GRAFT_LSH_HOT_ROWS", "4096"))

# Census transfer bound (r15, VERDICT r14 item 3): the per-bucket hot
# list shipped to the driver is ≤ corpus/HOT_BUCKET_ROWS entries — fine
# for real corpora, but a pathological corpus where EVERYTHING is hot
# would collect ~N/HOT_BUCKET_ROWS rows. The census therefore first
# aggregates (n_hot, max_bn) — one row — and only collects the
# per-bucket list when n_hot ≤ this cap; above it, every bucket is
# salted uniformly with g = ⌈max_bn/HOT_BUCKET_ROWS⌉ (no list needed at
# all), so driver transfer is provably O(cap) by construction. The
# uniform fallback keeps the same pair-space partition argument (every
# in-bucket pair meets in exactly one sub-bucket), so the candidate set
# is bit-identical in all three branches.
HOT_CENSUS_CAP = int(os.environ.get("SPARK_GRAFT_LSH_CENSUS_CAP", "100000"))

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
    earlier bands without a second pass (see :func:`lsh_neardup_pairs`'s
    first-collision-band dedup); consumers that don't need it project
    it away before any exchange."""
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


def lsh_neardup_pairs(
    tok: DataFrame | None,
    threshold: float,
    materialize_tok: bool = False,
    tok_arrays: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH banded near-dup over any (doc_id, lang, token) set:
    minhash (16 perms) → 4 bands × 4 rows → band-hash bucket join →
    exact-Jaccard bitset verify of candidates only.

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
    The automatic hot-bucket gate below (HOT_BUCKET_ROWS) 2-D-salts any
    bucket above the bound so per-task pair counts stay bounded while
    the candidate set is bit-identical; tests/test_lsh_hotbucket.py
    pins the clique case end-to-end and forces the gate. A production
    run at 100 TB additionally collapses exact duplicates first (one
    hash-groupBy, the llm_dedup_pipeline stage ordering) so boilerplate
    enters banding as one representative, and the linear-output
    artifact to ship is the clustering/survivor form, not all pairs.

    The verify stage packs bitsets for *candidate docs only* (semi-join
    before packed_token_sets): at 100 TB the candidate set is orders of
    magnitude smaller than the corpus, so packing everything — as round 1
    did — would dominate the whole pipeline. ``materialize_tok``
    checkpoints the token rows first; the frame is consumed THREE times
    (minhash vocabulary distinct, signature build, verify pack), so
    every caller should pass True unless tok is already materialized —
    measured ~40% off the word-token pipeline at sf0.1, more for the
    char-shingle expansion (on a cluster: checkpoint dir instead of
    localCheckpoint).

    ``tok_arrays`` (r15, guide §2.3/§8 — materialize and move the
    doc-grain proxy, not the expanded rows): a (doc_id, lang, toks
    array<string>) frame of per-doc DISTINCT token arrays — the form
    every registered caller already has pre-explode. When given, the
    ARRAYS are checkpointed instead of the exploded occurrence rows
    (identical string payload, ~occurrence-count fewer row headers and
    per-row doc_id/lang copies in the materialization — measured at
    sf0.1: 110.3 MB → 15.1 MB on the shingle path, 12.5 MB → 2.2 MB on
    word tokens), each
    consumer re-derives occurrence rows with a cheap in-plan explode of
    the checkpointed arrays, and — the scale win — the verify stage's
    candidate semi-join prunes at DOC grain BEFORE the explode, so
    non-candidate docs' occurrence rows are never even GENERATED for
    the pack (previously: the semi-join filtered an occurrence-sized
    checkpoint). Explode commutes with the doc_id semi-join and the
    exploded rows are exactly the ``tok`` the caller would have passed,
    so the candidate set and output are bit-identical (differential +
    forced-gate tests).

    Driver round-trips: the eager checkpoints, the hot-bucket census
    ``.first()`` (the gate's runtime branch) and, only when the gate
    trips at most HOT_CENSUS_CAP buckets, the hot-list collect. The
    candidate count (empty-result branch) is observed on the candidate
    checkpoint's own job and the bitset width comes back from
    packed_token_sets — neither is a separate action."""
    if tok is None and tok_arrays is None:
        raise ValueError("lsh_neardup_pairs needs tok or tok_arrays")
    arrs = None
    if tok_arrays is not None:
        arrs = tok_arrays.localCheckpoint(eager=True)
        tok = arrs.select(
            "doc_id", "lang", F.explode("toks").alias("token")
        )
    elif materialize_tok:
        tok = tok.localCheckpoint(eager=True)
    # The signature table is doc-grain (16 longs + the band hashes) and
    # is consumed three times below (both self-join sides + the
    # hot-bucket census) — checkpoint it so the minhash aggregate runs
    # once, which is also the production shape (persist the signature
    # table, then band repeatedly). Lazy: the census action below is
    # the first consumer and materializes it as part of its own job,
    # saving a separate barrier job.
    sig = _minhash_sig(tok).localCheckpoint(eager=False)
    bands = band_rows(sig)
    # HOT-BUCKET GATE (r14): per-bucket census → buckets above
    # HOT_BUCKET_ROWS get their self-join 2-D-salted with replication
    # g = ⌈bn / HOT_BUCKET_ROWS⌉: side a keys on (salt(doc), r), side b
    # on (r, salt(doc)), r ∈ [0, g), so every in-bucket pair meets in
    # EXACTLY one of the g² sub-buckets (at salt_a × salt_b) and each
    # task handles ≤ ~(bn/g)² ≈ HOT_BUCKET_ROWS² pairs instead of bn².
    # The candidate SET is identical — salting only partitions the pair
    # space — so driver hashes are unchanged whether or not the gate
    # trips (the fixture never trips it; tests/test_lsh_hotbucket.py
    # forces it and pins output identity + the per-task bound).
    #
    # The topology switch is a DRIVER-SIDE branch on the census result
    # (the AQE pattern: plan from runtime statistics). A first, fully
    # lazy formulation — broadcast-joining the hot list onto every band
    # row with a per-row explode(sequence(0, g-1)) — measured +56% on
    # the whole LSH family even with ZERO hot buckets: the two join
    # sides' subplans stopped being identical, which forfeited the
    # ReusedExchange, and the always-on explode generator broke the
    # codegen fusion of the probe side. Branching on the collected
    # census keeps the not-tripped plan BYTE-IDENTICAL to the unsalted
    # original (one census job over the checkpointed signature is the
    # only added cost). The collected list is partition-pruning-style
    # METADATA (≤ corpus/HOT_BUCKET_ROWS rows — bucket ids, not data).
    census = (
        bands.groupBy("band", "bv", "lang")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") > HOT_BUCKET_ROWS)
    )
    # BOUNDED driver transfer (r15, VERDICT r14 item 3): aggregate the
    # census to TWO scalars first; the per-bucket list is collected only
    # when its size is already proven ≤ HOT_CENSUS_CAP, and above the
    # cap every bucket salts uniformly (no list at all) — so no corpus,
    # however pathological, ships more than cap rows to the driver. The
    # zero-hot common case stays one census job, exactly as before.
    stats = census.agg(
        F.count("*").alias("n_hot"), F.max("bn").alias("max_bn")
    ).first()
    n_hot = stats["n_hot"] or 0
    flagged = None
    if 0 < n_hot <= HOT_CENSUS_CAP:
        hot_rows = census.select(
            "band",
            "bv",
            "lang",
            F.ceil(F.col("bn") / F.lit(HOT_BUCKET_ROWS))
            .cast("int")
            .alias("g"),
        ).collect()
        hot = tok.sparkSession.createDataFrame(
            hot_rows, "band int, bv binary, lang string, g int"
        )
        flagged = (
            bands.join(F.broadcast(hot), ["band", "bv", "lang"], "left")
            .withColumn("g", F.coalesce(F.col("g"), F.lit(1)))
            .withColumn("salt", F.pmod(F.hash("doc_id"), F.col("g")))
        )
    elif n_hot > HOT_CENSUS_CAP:
        g_uniform = int(-(-stats["max_bn"] // HOT_BUCKET_ROWS))
        flagged = bands.withColumn("g", F.lit(g_uniform)).withColumn(
            "salt", F.pmod(F.hash("doc_id"), F.col("g"))
        )
    if flagged is not None:
        rep = F.explode(F.sequence(F.lit(0), F.col("g") - 1))
        a = flagged.select(
            "doc_id",
            "lang",
            "band",
            "bv",
            "abv",
            F.col("salt").alias("s1"),
            rep.alias("s2"),
        ).alias("a")
        b_ = flagged.select(
            "doc_id",
            "lang",
            "band",
            "bv",
            "abv",
            rep.alias("s1"),
            F.col("salt").alias("s2"),
        ).alias("b")
        salt_cond = (F.col("a.s1") == F.col("b.s1")) & (
            F.col("a.s2") == F.col("b.s2")
        )
    else:
        a, b_ = bands.alias("a"), bands.alias("b")
        salt_cond = F.lit(True)
    # FIRST-COLLISION-BAND dedup (r14): a pair colliding in k bands used
    # to be emitted k times and collapsed by a `.distinct()` — at the
    # fixture's near-dup density that distinct shuffled ~4× the final
    # 1.6M-pair candidate set just to drop band-duplicates. Each side's
    # rows carry ALL their band hashes (``abv``, see band_rows), so the
    # join can keep a pair only in the FIRST band where it collides:
    # any pair colliding in some band is emitted exactly once (in its
    # lowest colliding band) and the distinct disappears — the standard
    # LSH dedup-in-the-join trick. slice(abv, 1, band) is empty at
    # band 0 (never the descending-sequence trap), so the guard is
    # vacuously true there. Candidate SET is unchanged — only the
    # number of times each member is produced.
    # Statically unrolled guard (no per-row array allocation — a
    # zip_with/slice/exists spelling of the same predicate measured
    # SLOWER than the distinct it replaced, because the lambda allocs
    # ran per raw bucket pair): band 0 has no earlier bands, band b
    # requires abv[0..b-1] to all differ. N_BANDS is a module constant,
    # so the CASE chain is a fixed, tiny scalar expression.
    from functools import reduce as _py_reduce

    no_earlier_collision = F.lit(True)
    for eb in range(1, N_BANDS):
        all_differ = _py_reduce(
            lambda acc, c: acc & c,
            [F.col("a.abv")[i] != F.col("b.abv")[i] for i in range(eb)],
        )
        no_earlier_collision = F.when(
            F.col("a.band") == eb, all_differ
        ).otherwise(no_earlier_collision)
    cand = a.join(
        b_,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col("a.lang") == F.col("b.lang"))
        & salt_cond
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & no_earlier_collision,
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    # Exact-Jaccard verify on candidates only, via the packed-bitset
    # representation (engine.llm_ops.packed_token_sets) — two broadcast
    # joins + integer popcounts, instead of re-exploding the token table
    # three times (ta/tb/sizes) through shuffled joins. Only candidate
    # docs are packed (left-semi prune of the token rows first).
    obs = Observation()
    cand = cand.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True
    )
    if obs.get["n"] == 0:
        return tok.sparkSession.createDataFrame(
            [], "doc_a long, doc_b long, jaccard double"
        )
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # With doc-grain arrays, prune to candidate docs BEFORE the explode
    # (semi-join on doc_id commutes with it): non-candidate occurrence
    # rows are never generated for the pack.
    cand_tok = (
        arrs.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", "lang", F.explode("toks").alias("token")
        )
        if arrs is not None
        else tok.join(cand_ids, "doc_id", "left_semi")
    )
    packed, n_words = packed_token_sets(cand_tok)
    packed = packed.localCheckpoint(eager=True)
    pa = packed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("mask").alias("ma"),
        F.col("n_tok").alias("na"),
    )
    pb = packed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("mask").alias("mb"),
        F.col("n_tok").alias("nb"),
    )
    # SIZE-RATIO PRUNE before the popcount (r14): J(A,B) ≤ min(|A|,|B|) /
    # max(|A|,|B|), so J ≥ t implies the set sizes agree within factor t —
    # a two-integer-compare filter that runs BEFORE the O(n_words)
    # bitset intersection. The exact_jaccard_pairs witness has always
    # carried this prune (inside its join condition); the banded path's
    # hot-bucket candidates are mostly size-mismatched S-curve false
    # positives, so the prune drops ~26% of the popcount work at sf0.1
    # (measured) with zero output change — the implication is exact, no
    # over-threshold pair can be size-pruned.
    inter = (
        cand.join(F.broadcast(pa), "doc_a")
        .join(F.broadcast(pb), "doc_b")
        .filter(
            # −1 slack (r15): covers double rounding at the na/nb = t
            # boundary — see llm_ops.exact_jaccard_pairs.
            (F.col("na") * threshold - 1 <= F.col("nb"))
            & (F.col("nb") * threshold - 1 <= F.col("na"))
        )
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            (bitset_intersection("ma", "mb", n_words) + nondet_zero())
            .alias("n_common"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return inter.filter(jac >= threshold).select(
        "doc_a", "doc_b", pround(jac, 4).alias("jaccard")
    )



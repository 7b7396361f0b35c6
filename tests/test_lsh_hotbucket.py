"""Hot-bucket adversarial check for the MinHash-LSH dedup family: a
corpus where ONE band bucket holds most of the corpus (60 byte-identical
boilerplate docs — every signature, hence every band hash, equal) plus a
few token-disjoint distinct docs.

This is the known worst case of LSH banding at 100 TB (boilerplate /
templated crawl pages): all identical docs collide into a single bucket,
so the candidate set is quadratic in the group size. For the *pairs*
contract that is not wasted work — every candidate IS a true near-dup
(Jaccard exactly 1.0), so candidates == output — and the linear-output
scale path is the clustering form, which must collapse the clique to one
component with one canonical survivor. This test pins both behaviors
end-to-end through the registered queries on a scratch corpus.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

import engine

N_DUP = 60  # one bucket holding 60 docs → C(60,2) = 1770 candidate pairs
DUP_TEXT = "spark join filter window shuffle broadcast partition agg"
DISTINCT_TEXTS = {  # pairwise token-disjoint → no cross near-dups
    100: "alpha bravo charlie delta echo",
    101: "foxtrot golf hotel india juliet",
    102: "kilo lima mike november oscar",
    103: "papa quebec romeo sierra tango",
    104: "uniform victor whiskey xray yankee",
}


@pytest.fixture(scope="module")
def hotbucket_sf_dir(spark):
    tmp = tempfile.mkdtemp(prefix="lsh_hotbucket_")
    rows = [
        (i, DUP_TEXT, "en", f"src{i % 3}", len(DUP_TEXT))
        for i in range(N_DUP)
    ] + [
        (i, t, "en", "srcx", len(t)) for i, t in DISTINCT_TEXTS.items()
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_identical_docs_pairs_are_exactly_the_clique(spark, hotbucket_sf_dir):
    pairs = engine.QUERIES["llm_lsh_neardup"](spark, hotbucket_sf_dir).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    want_keys = {
        (a, b) for a in range(N_DUP) for b in range(a + 1, N_DUP)
    }
    assert set(got) == want_keys  # no distinct-doc pair sneaks in
    assert all(j == 1.0 for j in got.values())


def test_identical_docs_collapse_to_one_component(spark, hotbucket_sf_dir):
    labels = engine.QUERIES["llm_dedup_clusters"](
        spark, hotbucket_sf_dir
    ).collect()
    by_doc = {r.doc_id: (r.cluster_id, r.is_canonical) for r in labels}
    assert len(by_doc) == N_DUP + len(DISTINCT_TEXTS)
    for i in range(N_DUP):
        assert by_doc[i] == (0, 1 if i == 0 else 0)
    for i in DISTINCT_TEXTS:
        assert by_doc[i] == (i, 1)  # token-disjoint docs stay singletons


def test_identical_docs_single_survivor_absorbs_all(spark, hotbucket_sf_dir):
    surv = engine.QUERIES["llm_dedup_survivors"](
        spark, hotbucket_sf_dir
    ).collect()
    by_doc = {r.doc_id: r.n_members for r in surv}
    assert by_doc[0] == N_DUP
    assert all(by_doc[i] == 1 for i in DISTINCT_TEXTS)
    assert set(by_doc) == {0, *DISTINCT_TEXTS}


def test_hot_bucket_gate_preserves_pairs_and_bounds_tasks(
    spark, hotbucket_sf_dir, monkeypatch
):
    """Force the r14 hot-bucket gate (HOT_BUCKET_ROWS far below the
    60-doc clique bucket) and pin BOTH properties: the salted join's
    pair output is bit-identical to the ungated run, and the pair space
    of the hot bucket is split across g² > 1 sub-buckets with a bounded
    per-sub-bucket share (no single task handles the whole clique)."""
    import engine.lsh_core as lc
    from engine.llm_ops import token_arrays, tokens
    from engine.session import load
    from pyspark.sql import functions as F

    docs = load(spark, hotbucket_sf_dir, "documents")

    monkeypatch.setattr(lc, "HOT_BUCKET_ROWS", 8)
    gated = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in lc.lsh_neardup_pairs(
            tok_arrays=token_arrays(docs), threshold=0.8
        ).collect()
    }
    want = {
        (a, b): 1.0 for a in range(N_DUP) for b in range(a + 1, N_DUP)
    }
    assert gated == want  # output identical with the gate TRIPPED

    # The divert itself: rebuild the salted sides exactly as
    # lsh_neardup_pairs does and check the per-sub-bucket pair counts.
    sig = lc._minhash_sig(tokens(docs, distinct=True))
    bands = lc.band_rows(sig)
    cnt = bands.groupBy("band", "bv", "lang").agg(
        F.count("*").alias("bn")
    )
    hot = cnt.filter(F.col("bn") > lc.HOT_BUCKET_ROWS).select(
        "band",
        "bv",
        "lang",
        F.ceil(F.col("bn") / F.lit(lc.HOT_BUCKET_ROWS))
        .cast("int")
        .alias("g"),
    )
    assert hot.count() > 0  # the clique bucket IS above the bound
    flagged = (
        bands.join(F.broadcast(hot), ["band", "bv", "lang"], "left")
        .withColumn("g", F.coalesce(F.col("g"), F.lit(1)))
        .withColumn("salt", F.pmod(F.hash("doc_id"), F.col("g")))
    )
    rep = F.explode(F.sequence(F.lit(0), F.col("g") - 1))
    a = flagged.select(
        "doc_id", "band", "bv", "lang",
        F.col("salt").alias("s1"), rep.alias("s2"),
    ).alias("a")
    b = flagged.select(
        "doc_id", "band", "bv", "lang",
        rep.alias("s1"), F.col("salt").alias("s2"),
    ).alias("b")
    per_key = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.s1") == F.col("b.s1"))
            & (F.col("a.s2") == F.col("b.s2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy("a.band", "a.bv", "a.lang", "a.s1", "a.s2")
        .agg(F.count("*").alias("n_pairs"))
        .agg(F.max("n_pairs").alias("mx"), F.sum("n_pairs").alias("tot"))
        .collect()[0]
    )
    clique = N_DUP * (N_DUP - 1) // 2
    assert per_key["tot"] == 4 * clique  # every band keeps every pair
    # g = ceil(60/8) = 8 → 64 sub-buckets; no one sub-bucket holds more
    # than a small share of the 1770-pair clique.
    assert per_key["mx"] < clique / 4


# ---------------------------------------------------------------------------
# Embedding banded path (r14: the same gate, applied to
# engine.scale_ops._embedding_neardup_banded)
# ---------------------------------------------------------------------------

# 8-dim Hadamard rows: mutually orthogonal (cosine exactly 0, integer
# arithmetic — no threshold-boundary ulp risk), so the only pairs at or
# above COSINE_NEARDUP_T are the identical-vector clique (cosine 1.0).
_HAD = [
    [1, 1, 1, 1, 1, 1, 1, 1],
    [1, -1, 1, -1, 1, -1, 1, -1],
    [1, 1, -1, -1, 1, 1, -1, -1],
    [1, -1, -1, 1, 1, -1, -1, 1],
    [1, 1, 1, 1, -1, -1, -1, -1],
    [1, -1, 1, -1, -1, 1, -1, 1],
]
N_VEC_DUP = 60  # 60 copies of _HAD[0] → every band bucket holds 60 rows


@pytest.fixture(scope="module")
def hot_emb(spark):
    rows = [(i, [float(x) for x in _HAD[0]]) for i in range(N_VEC_DUP)] + [
        (100 + k, [float(x) for x in _HAD[1 + k]]) for k in range(5)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)


def test_embedding_hot_bucket_gate_preserves_pairs_and_bounds_tasks(
    spark, hot_emb, monkeypatch
):
    """Force the embedding path's hot-bucket gate (the bound is the
    SHARED engine.lsh_core.HOT_BUCKET_ROWS, resolved at call time) and
    pin BOTH properties: output identical to the ungated run, and the
    clique bucket's pair space split across g² > 1 sub-buckets with a
    bounded per-sub-bucket share."""
    import engine.lsh_core as lc
    from engine.scale_ops import (
        NEARDUP_BANDS,
        _emb_dim,
        _embedding_neardup_banded,
    )
    from pyspark.sql import functions as F

    dim = _emb_dim(hot_emb)
    ungated = {
        (r.vec_a, r.vec_b): r.cosine
        for r in _embedding_neardup_banded(hot_emb, dim).collect()
    }
    want = {
        (a, b): 1.0
        for a in range(N_VEC_DUP)
        for b in range(a + 1, N_VEC_DUP)
    }
    assert ungated == want  # the clique, nothing else (orthogonal rest)

    monkeypatch.setattr(lc, "HOT_BUCKET_ROWS", 8)
    gated = {
        (r.vec_a, r.vec_b): r.cosine
        for r in _embedding_neardup_banded(hot_emb, dim).collect()
    }
    assert gated == ungated  # bit-identical with the gate TRIPPED

    # The divert itself: rebuild the salted sides exactly as the gated
    # branch does and check per-sub-bucket pair counts over the hot
    # (g > 1) buckets only.
    import numpy as np
    from engine.scale_ops import NEARDUP_BITS, _plane_weight

    planes = NEARDUP_BANDS * NEARDUP_BITS
    plane_mat = np.array(
        [[_plane_weight(k, d) for d in range(dim)] for k in range(planes)]
    )
    rows = hot_emb.collect()
    band_rows = []
    for r in rows:
        bits = np.asarray(r.embedding) @ plane_mat.T > 0
        for b in range(NEARDUP_BANDS):
            seg = bits[b * NEARDUP_BITS : (b + 1) * NEARDUP_BITS]
            bv = int(
                (seg.astype(np.int64) << np.arange(NEARDUP_BITS)).sum()
            )
            band_rows.append((r.vec_id, b, bv))
    bands = spark.createDataFrame(
        band_rows, "vec_id long, band int, bv long"
    )
    hot = (
        bands.groupBy("band", "bv")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") > lc.HOT_BUCKET_ROWS)
        .select(
            "band",
            "bv",
            F.ceil(F.col("bn") / F.lit(lc.HOT_BUCKET_ROWS))
            .cast("int")
            .alias("g"),
        )
    )
    assert hot.count() == NEARDUP_BANDS  # all 8 clique buckets are hot
    flagged = (
        bands.join(F.broadcast(hot), ["band", "bv"], "inner")
        .withColumn("salt", F.pmod(F.hash("vec_id"), F.col("g")))
    )
    rep = F.explode(F.sequence(F.lit(0), F.col("g") - 1))
    a = flagged.select(
        "vec_id", "band", "bv",
        F.col("salt").alias("s1"), rep.alias("s2"),
    ).alias("a")
    b = flagged.select(
        "vec_id", "band", "bv",
        rep.alias("s1"), F.col("salt").alias("s2"),
    ).alias("b")
    per_key = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.s1") == F.col("b.s1"))
            & (F.col("a.s2") == F.col("b.s2"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy("a.band", "a.bv", "a.s1", "a.s2")
        .agg(F.count("*").alias("n_pairs"))
        .agg(F.max("n_pairs").alias("mx"), F.sum("n_pairs").alias("tot"))
        .collect()[0]
    )
    clique = N_VEC_DUP * (N_VEC_DUP - 1) // 2
    assert per_key["tot"] == NEARDUP_BANDS * clique  # every band, every pair
    assert per_key["mx"] < clique / 4  # no task holds the whole clique


# ---------------------------------------------------------------------------
# Several hot buckets with DIFFERENT replication g (a 60-clique and a
# 20-clique: g = ⌈60/8⌉ = 8 and ⌈20/8⌉ = 3 under HOT_BUCKET_ROWS = 8),
# so each bucket's salt range differs and every pair must still meet
# in exactly one sub-bucket of its own bucket.
# ---------------------------------------------------------------------------

N_DUP_SMALL = 20
DUP_TEXT_SMALL = "kafka stream window watermark trigger sink source state"


def _hot_g(bucket_sizes) -> list[int]:
    """Sorted replication factors g of the buckets hot at bound 8."""
    return sorted(-(-n // 8) for n in bucket_sizes if n > 8)


@pytest.fixture(scope="module")
def two_hot_sf_dir(spark):
    tmp = tempfile.mkdtemp(prefix="lsh_two_hot_")
    rows = (
        [(i, DUP_TEXT, "en", "srca", len(DUP_TEXT)) for i in range(N_DUP)]
        + [
            (1000 + i, DUP_TEXT_SMALL, "en", "srcb", len(DUP_TEXT_SMALL))
            for i in range(N_DUP_SMALL)
        ]
        + [(i, t, "en", "srcx", len(t)) for i, t in DISTINCT_TEXTS.items()]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_two_hot_buckets_distinct_g_preserve_pairs(
    spark, two_hot_sf_dir, monkeypatch
):
    """Forced gate over two hot buckets of different sizes (g = 8 and
    g = 3): the pair output is bit-identical to the ungated run."""
    import engine.lsh_core as lc
    from engine.llm_ops import token_arrays
    from engine.session import load

    docs = load(spark, two_hot_sf_dir, "documents")

    def pairs():
        return {
            (r.doc_a, r.doc_b): r.jaccard
            for r in lc.lsh_neardup_pairs(
                tok_arrays=token_arrays(docs), threshold=0.8
            ).collect()
        }

    from collections import Counter

    from engine.llm_ops import tokens

    sizes = Counter(
        (r.band, r.bv, r.lang)
        for r in lc.band_rows(lc._minhash_sig(tokens(docs, distinct=True)))
        .select("band", "bv", "lang")
        .collect()
    )
    assert _hot_g(sizes.values()) == [3] * 4 + [8] * 4  # both cliques hot

    ungated = pairs()
    want = {
        (a, b): 1.0 for a in range(N_DUP) for b in range(a + 1, N_DUP)
    } | {
        (1000 + a, 1000 + b): 1.0
        for a in range(N_DUP_SMALL)
        for b in range(a + 1, N_DUP_SMALL)
    }
    assert ungated == want
    monkeypatch.setattr(lc, "HOT_BUCKET_ROWS", 8)
    assert pairs() == ungated


def test_embedding_two_hot_buckets_distinct_g_preserve_pairs(
    spark, monkeypatch
):
    """The same two-clique pin for the embedding banded path: 60 copies
    of one Hadamard row and 20 of another (orthogonal, so no cross
    pairs); the forced gate is bit-identical to the ungated run."""
    import engine.lsh_core as lc
    from engine.scale_ops import _emb_dim, _embedding_neardup_banded

    rows = (
        [(i, [float(x) for x in _HAD[0]]) for i in range(N_VEC_DUP)]
        + [
            (1000 + i, [float(x) for x in _HAD[1]])
            for i in range(N_DUP_SMALL)
        ]
        + [(100 + k, [float(x) for x in _HAD[2 + k]]) for k in range(4)]
    )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)
    dim = _emb_dim(emb)

    import numpy as np
    from collections import Counter
    from engine.scale_ops import NEARDUP_BANDS, NEARDUP_BITS, _plane_weight

    plane_mat = np.array(
        [
            [_plane_weight(k, d) for d in range(dim)]
            for k in range(NEARDUP_BANDS * NEARDUP_BITS)
        ]
    )
    sizes = Counter()
    for _, vec in rows:
        bits = np.asarray(vec) @ plane_mat.T > 0
        for b in range(NEARDUP_BANDS):
            seg = bits[b * NEARDUP_BITS : (b + 1) * NEARDUP_BITS]
            bv = int((seg.astype(np.int64) << np.arange(NEARDUP_BITS)).sum())
            sizes[b, bv] += 1
    assert _hot_g(sizes.values()) == [3] * NEARDUP_BANDS + [8] * NEARDUP_BANDS

    def pairs():
        return {
            (r.vec_a, r.vec_b): r.cosine
            for r in _embedding_neardup_banded(emb, dim).collect()
        }

    ungated = pairs()
    want = {
        (a, b): 1.0
        for a in range(N_VEC_DUP)
        for b in range(a + 1, N_VEC_DUP)
    } | {
        (1000 + a, 1000 + b): 1.0
        for a in range(N_DUP_SMALL)
        for b in range(a + 1, N_DUP_SMALL)
    }
    assert ungated == want
    monkeypatch.setattr(lc, "HOT_BUCKET_ROWS", 8)
    assert pairs() == ungated

"""Always-on Spark job-count budgets for the eager driver-side chains,
plus the edge cases of the observed scalars that replaced their
scalar-only actions.

Job counts, unlike wall seconds, do not swing with host load: the
same tree at the same scale launches the same jobs. So these budgets
assert on every run, next to (not instead of) the load-gated wall-clock
pins in tests/test_perf_pins.py. Jobs are counted the way perfbench
does: ``dagScheduler().nextJobId()`` before and after the query call
(build only — eager checkpoints, census ``.first()``s, collects; the
returned plan is not executed). Table schemas are read once before
counting, so a budget covers the query's own jobs, not the one-time
schema inference of the session catalog (engine.session.load).

Measured at sf0.001 (warm catalog, shuffle_partitions=8):

  * ``graph_pagerank_integer``: 59 build jobs while every step re-ran
    the edges lineage and broadcast-joined a scalar aggregate; 21 with
    the parent carried on each checkpointed rank row and the mass
    scalars observed on each step's checkpoint. Still 21 with the
    inflow join broadcast from its observed bound: at sf0.001 even the
    inflated estimate fits under the threshold, so Spark broadcast it
    unhinted. The saving (26 → 21 jobs per call) shows at sf0.1, where
    the estimate (2.4 GB after step 0) planned a sort-merge join.
    Budget 21.
  * ``llm_lsh_neardup``: 25 build jobs while the verify read the
    candidate count (``isEmpty``) and the bitset width (two
    ``.first()``s) back as separate actions; 21 after. Budget 21.
  * ``llm_dedup_clusters``: 57 build jobs while every connected-
    components round after the first planned a sort-merge join that
    shuffled all edges (the checkpointed labels carried an inflated
    size estimate), the edge verify ran once per direction and the
    candidate ids came from two scans; 44 with the frontier and
    path-halving joins broadcast from observed row counts
    (engine.session.broadcast_if_fits), one verify pass and one scan.
    Budget 44.
  * ``emb_banded_recall`` (8): pinned at its count from before the
    banded self-join was shared, so a census or collect job cannot
    creep into a not-tripped path.
  * ``lsh_neardup_pairs`` with the hot-bucket gate forced
    (HOT_BUCKET_ROWS = 8) on the tests/test_lsh_hotbucket.py corpus:
    30 build jobs while the tripped gate collected the hot-bucket list
    to the driver and broadcast it back; 23 with the per-bucket g
    joined on as a frame. Budget 23.
"""

from __future__ import annotations

import pytest

import engine
from engine.llm_ops import packed_token_sets, token_arrays
import engine.lsh_core as lc
from engine.lsh_core import lsh_neardup_pairs
from engine.session import broadcast_if_fits, load
from tests.conftest import SF_DIR
from tests.test_lsh_hotbucket import N_DUP, hotbucket_sf_dir  # noqa: F401

BUDGETS = {
    "emb_banded_recall": (8, ["embeddings"]),
    "graph_pagerank_integer": (21, ["part"]),
    "llm_dedup_clusters": (44, ["documents"]),
    "llm_lsh_neardup": (21, ["documents"]),
}
FORCED_GATE_BUDGET = 23
BC_KEY = "spark.sql.autoBroadcastJoinThreshold"


def _build_jobs(spark, build) -> int:
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    lo = dag.nextJobId()
    build()
    return dag.nextJobId() - lo


@pytest.mark.parametrize("qid", sorted(BUDGETS))
def test_build_job_budget(spark, qid):
    budget, tables = BUDGETS[qid]
    for t in tables:
        load(spark, SF_DIR, t)
    jobs = _build_jobs(spark, lambda: engine.QUERIES[qid](spark, SF_DIR))
    assert jobs <= budget, f"{qid}: {jobs} build jobs > budget {budget}"


def test_broadcast_if_fits_sizes_from_observed_rows(spark):
    """The hint follows n_rows × (8 + Σ defaultSize) against the session
    threshold, not the optimizer's estimate: a (long, long) row is 24
    bytes, so 10 rows fit under 240 and 11 do not; −1 never hints."""
    df = spark.createDataFrame([(1, 2)], "u long, v long")

    def hinted(n):
        plan = broadcast_if_fits(df, n)._jdf.queryExecution().analyzed()
        return "strategy=broadcast" in plan.toString()

    try:
        spark.conf.set(BC_KEY, "240")
        assert hinted(10) and not hinted(11)
        spark.conf.set(BC_KEY, "-1")
        assert not hinted(0)
    finally:
        spark.conf.unset(BC_KEY)


def test_outputs_identical_without_broadcast(spark):
    """The observed-count broadcasts pick a join strategy, never a
    result: with broadcasting off (threshold −1, the plan a graph too
    large to broadcast gets) both iterative queries return the same
    rows."""
    qids = ("graph_pagerank_integer", "llm_dedup_clusters")

    def run():
        return {
            q: sorted(engine.QUERIES[q](spark, SF_DIR).collect()) for q in qids
        }

    want = run()
    try:
        spark.conf.set(BC_KEY, "-1")
        got = run()
    finally:
        spark.conf.unset(BC_KEY)
    assert got == want


def test_forced_gate_lsh_build_job_budget(
    spark, hotbucket_sf_dir, monkeypatch  # noqa: F811
):
    """The tripped hot-bucket gate adds no driver collect: its build
    jobs are the census ``.first()``, the checkpoints and their stages."""
    docs = load(spark, hotbucket_sf_dir, "documents")
    monkeypatch.setattr(lc, "HOT_BUCKET_ROWS", 8)
    out = []
    jobs = _build_jobs(
        spark,
        lambda: out.append(
            lsh_neardup_pairs(tok_arrays=token_arrays(docs), threshold=0.8)
        ),
    )
    assert jobs <= FORCED_GATE_BUDGET, (
        f"forced gate: {jobs} build jobs > budget {FORCED_GATE_BUDGET}"
    )
    assert out[0].count() == N_DUP * (N_DUP - 1) // 2  # the gate tripped


def test_packed_token_sets_empty_corpus_width_one(spark):
    """An empty token frame has no max tokid (the observation reads
    None): the width falls back to 1 and the frame is empty."""
    tok = spark.createDataFrame([], "doc_id long, lang string, token string")
    packed, n_words = packed_token_sets(tok)
    assert n_words == 1
    assert packed.count() == 0


def test_packed_token_sets_width_matches_masks(spark):
    """The returned width is the length of every mask: 70 distinct
    tokens in one language need ⌈70/64⌉ = 2 longs."""
    tok = spark.createDataFrame(
        [(i % 3, "xx", f"t{i}") for i in range(70)],
        "doc_id long, lang string, token string",
    )
    packed, n_words = packed_token_sets(tok)
    assert n_words == 2
    assert {len(r.mask) for r in packed.collect()} == {2}


def test_lsh_neardup_pairs_no_candidates_is_typed_empty(spark):
    """Documents with disjoint vocabularies share no band bucket; the
    observed candidate count is 0 and the result is the typed empty
    pairs frame."""
    d = spark.createDataFrame(
        [
            (i, "en", " ".join(f"w{i}x{k}" for k in range(12)))
            for i in range(4)
        ],
        "doc_id long, lang string, text string",
    )
    pairs = lsh_neardup_pairs(tok_arrays=token_arrays(d), threshold=0.8)
    assert pairs.schema.simpleString() == (
        "struct<doc_a:bigint,doc_b:bigint,jaccard:double>"
    )
    assert pairs.collect() == []


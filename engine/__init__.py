"""PySpark-native analytics engine.

A from-scratch, Spark-first engine providing the query and data-processing
capabilities surveyed in SURVEY.md (the reference repo,
alehakad/FootballDataEngeneering @ /root/reference, contains no code —
README.md:1-2 + LICENSE only — so the capability contract is SURVEY.md §2's
operator inventory: relational batch analytics over a star schema, an events
stream, and LLM-data-pipeline operators, all designed for 100 TB scale).

Importing this package populates the query/oracle registry (see
``engine.registry``); ``__spark_entry__.py`` is a thin shim over it.
"""

import os as _os

# Disable numpy's MADV_HUGEPAGE BEFORE any operator module imports numpy
# (numpy reads this env var once, at import). engine/session.py sets the
# same default inside get_spark() — early enough for every forked Python
# worker, but by then the DRIVER's numpy is already imported via these
# module imports, so driver-side numpy blocks kept MADV_HUGEPAGE and
# stayed exposed to the THP direct-compaction stalls the flag exists to
# prevent (ADVICE r12; full forensics in engine/session.py).
_os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")

from engine import registry as registry  # noqa: F401,E402

# Importing the operator modules registers their queries/oracles.
#
# ORDER MATTERS for the driver's correctness sweep: it checks queries in
# registration order and caps the per-round report at 50 rows
# (CORRECTNESS_r01-r07 each hold exactly the first 50 registrations).
# Through round 6 the window was steered by module import order; since
# round 7 the exact window is pinned explicitly via ``registry.promote``
# at the bottom of this file (import order alone cannot place a single
# re-check query from a large already-green module into the window
# without dragging its siblings). Import order below is the historical
# rotation order; promote() makes it irrelevant to the driver window.
from engine import seeds14 as seeds14  # noqa: F401
from engine import seeds15 as seeds15  # noqa: F401
from engine import seeds16 as seeds16  # noqa: F401
from engine import seeds17 as seeds17  # noqa: F401
from engine import seeds18 as seeds18  # noqa: F401
from engine import seeds19 as seeds19  # noqa: F401
from engine import seeds20 as seeds20  # noqa: F401
from engine import seeds21 as seeds21  # noqa: F401
from engine import seeds23 as seeds23  # noqa: F401
from engine import seeds24 as seeds24  # noqa: F401
from engine import seeds25 as seeds25  # noqa: F401
from engine import seeds26 as seeds26  # noqa: F401
from engine import seeds27 as seeds27  # noqa: F401
from engine import seeds28 as seeds28  # noqa: F401

# Proven families (green in a prior round) register after the backlog;
# promote() below makes the exact order past position 50 irrelevant to
# the driver window, but keeping backlog-first import order means the
# file still reads in rotation order.
from engine import seeds8 as seeds8  # noqa: F401
from engine import seeds9 as seeds9  # noqa: F401
from engine import seeds10 as seeds10  # noqa: F401
from engine import seeds11 as seeds11  # noqa: F401
from engine import seeds12 as seeds12  # noqa: F401
from engine import seeds13 as seeds13  # noqa: F401
from engine import seeds22 as seeds22  # noqa: F401
from engine import seeds5 as seeds5  # noqa: F401
from engine import seeds6 as seeds6  # noqa: F401
from engine import seeds7 as seeds7  # noqa: F401
from engine import streaming_ext as streaming_ext  # noqa: F401
from engine import pipeline_ops as pipeline_ops  # noqa: F401
from engine import surface4 as surface4  # noqa: F401
from engine import tpch4 as tpch4  # noqa: F401
from engine import curation2 as curation2  # noqa: F401
from engine import tpch_ext as tpch_ext  # noqa: F401
from engine import windows_ext as windows_ext  # noqa: F401
from engine import training_ops as training_ops  # noqa: F401
from engine import llm_ops as llm_ops  # noqa: F401
from engine import ext_ops as ext_ops  # noqa: F401
from engine import streaming as streaming  # noqa: F401
from engine import udx as udx  # noqa: F401
from engine import analytics_ops as analytics_ops  # noqa: F401
from engine import text_source as text_source  # noqa: F401
from engine import scale_ops as scale_ops  # noqa: F401
from engine import multimodal as multimodal  # noqa: F401
from engine import composite as composite  # noqa: F401
from engine import relational as relational  # noqa: F401
from engine import functions as functions  # noqa: F401
from engine import windows as windows  # noqa: F401

# Deferred (callable) oracles compose other registered oracles; resolve
# them now that every module has imported.
registry.resolve_oracles()

# ---------------------------------------------------------------------------
# STEADY-STATE CORRECTNESS-WINDOW POLICY (VERDICT r7 items 1-2 and 7)
#
# The driver hash-checks the first 50 registered queries per round. After
# round 7 every one of the 289 operators holds at least one driver row, so
# from round 8 onward the window is derived MECHANICALLY each round:
#
#   1. CHANGED-CODE PRIORITY (hand-maintained, one list per round): every
#      operator whose implementation or oracle changed since its latest
#      driver row, plus any rows-only→full-oracle upgrade still awaiting
#      its first driver hash row. These are the only rows where driver
#      evidence can lag shipped code, so they always go first.
#   2. OLDEST-ROW RECYCLING (computed): the remaining slots fill with the
#      stalest ORACLED operators — sorted by (latest driver round that
#      checked them, registration order). Rows-only operators are never
#      recycled into fill slots: a re-check cannot upgrade them past the
#      driver's weaker rows-only tier, so the slot is better spent
#      refreshing a hash row. The sort reads the repo's own
#      CORRECTNESS_r*.json files, so each green round automatically
#      rotates the next-oldest tail into the following round's window —
#      future rounds only maintain list (1).
#
# tests/test_plans.py::test_round15_correctness_window pins the resulting
# window for this round, so any drift (a lost correctness file, a
# registration reorder) fails at test time, not silently at driver time.
# ---------------------------------------------------------------------------

# Round-15 changed-code priority list (second optimization round —
# results identical by construction, but the policy pins ANY
# implementation change to a fresh driver row). The r15 doc-grain
# ARRAY checkpoint in lsh_core.lsh_neardup_pairs (tok_arrays: arrays
# materialized instead of exploded occurrence rows, candidate semi-join
# at doc grain) flows into llm_lsh_neardup, llm_ngram_lsh, the CC
# riders (llm_dedup_clusters / llm_dedup_survivors via dedup_labels —
# which additionally gained the delta-frontier CC rounds), and
# llm_dedup_recall; llm_decontaminate_lsh applies the same pattern
# inline. The bounded two-stage hot-bucket census (stats first, a
# capped hot-list collect, uniform salting above the cap) changed
# lsh_neardup_pairs and _embedding_neardup_banded (llm_embedding_
# neardup + emb_banded_recall). The −1-slack size prune changed every
# exact Jaccard verify — since unified as llm_ops.jaccard_at_least —
# under exact_jaccard_pairs (llm_jaccard_neardup, llm_dedup_recall's
# exact side, llm_simhash_recall's exact side), llm_ngram_jaccard, the
# LSH verify and the decontamination verify. llm_ngram_novelty was
# rewritten from a whole-partition window min to map-combinable
# aggregates plus an explode-free doc-grain denominator. The remaining
# 38 slots recycle mechanically from the stale tail (post-r14 oracled
# staleness floor = r8; see tests/test_plans.py for the pinned fill).
_R15_CHANGED: list[str] = [
    "llm_ngram_novelty",
    "llm_ngram_lsh",
    "llm_lsh_neardup",
    "llm_dedup_clusters",
    "llm_dedup_survivors",
    "llm_dedup_recall",
    "llm_decontaminate_lsh",
    "llm_jaccard_neardup",
    "llm_ngram_jaccard",
    "llm_simhash_recall",
    "llm_embedding_neardup",
    "emb_banded_recall",
]

_WINDOW_SIZE = 50


def _latest_driver_rounds() -> dict[str, int]:
    """Map qid -> latest round whose CORRECTNESS_r*.json checked it.

    Reads the driver-written correctness reports at the repo root (the
    directory above this package). Missing/corrupt files are skipped —
    an absent history simply means every op ties at round 0 and the fill
    degenerates to registration order, which is safe."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue
        if not isinstance(rows, dict):
            # A report that parses but isn't {qid: row} (e.g. a list)
            # is as corrupt as unparseable JSON — skip it rather than
            # letting a TypeError below break `import engine`.
            continue
        for qid in rows:
            # json object keys are always str, so no key-type guard is
            # needed — the isinstance(rows, dict) check above is the
            # real hardening (ADVICE r9).
            latest[qid] = max(latest.get(qid, 0), rnd)
    return latest


def _stale_fill(priority: list[str], n: int) -> list[str]:
    """The n stalest ORACLED operators outside ``priority`` — policy
    step 2 above."""
    latest = _latest_driver_rounds()
    taken = set(priority)
    reg_order = {qid: i for i, qid in enumerate(registry.QUERIES)}
    candidates = [
        qid
        for qid in registry.QUERIES
        if qid not in taken and qid in registry.ORACLES
    ]
    candidates.sort(key=lambda qid: (latest.get(qid, 0), reg_order[qid]))
    return candidates[:n]


_R15_WINDOW = _R15_CHANGED + _stale_fill(
    _R15_CHANGED, _WINDOW_SIZE - len(_R15_CHANGED)
)
registry.promote(_R15_WINDOW)

QUERIES = registry.QUERIES
ORACLES = registry.ORACLES

#!/usr/bin/env python
"""Capture the plans of a set of queries into plans/<tag>/.

Usage: python scripts/explain_queries.py <tag> <suffix> [qid ...]
Writes plans/<tag>/<qid>_<suffix>.txt for each qid (default: the
queries named on stdin, one per line, if no qids given).

Each file holds, in order:

  * the initial physical plan (``queryExecution().executedPlan()``,
    taken before the action runs) of every frame the query function
    passes to ``localCheckpoint``, ``collect``, ``first``, ``count`` or
    ``isEmpty``, in call order — the eager driver-side work, whose
    plans the returned frame only shows as checkpoint scans;
  * ``.explain('formatted')`` of the returned frame.

The query function runs (its eager checkpoints and collects execute);
the returned frame is only planned. Plans are normalised so two runs,
or two revisions, diff cleanly: ``#N`` expression ids, ``plan_id=``,
``[N]`` RDD ids, ``ExistingRDD[...]`` column lists and UUIDs.
"""

from __future__ import annotations

import contextlib
import functools
import io
import os
import re
import sys

from pyspark.sql.classic.dataframe import DataFrame

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

import engine  # noqa: E402
from engine.session import get_spark  # noqa: E402

# Spark 4's classic DataFrame is pyspark.sql.classic.dataframe.DataFrame;
# patching the pyspark.sql.DataFrame facade records nothing.
_CAPTURED = ("localCheckpoint", "collect", "first", "count", "isEmpty")

_NORMALISE = [
    (re.compile(r"ExistingRDD\[[^\]]*\]"), "ExistingRDD[...]"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[\d+\]"), "[N]"),
    (
        re.compile(
            r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
        ),
        "UUID",
    ),
]


def normalise(plan: str) -> str:
    for pat, rep in _NORMALISE:
        plan = pat.sub(rep, plan)
    return plan


@contextlib.contextmanager
def record_actions(frames: list[tuple[str, str]]):
    """Append (method, initial physical plan) for each captured call.
    Nested calls (``first`` runs ``collect``) record the outer one only."""
    originals = {name: getattr(DataFrame, name) for name in _CAPTURED}
    depth = 0

    def wrap(name, fn):
        @functools.wraps(fn)
        def recorded(self, *args, **kwargs):
            nonlocal depth
            if not depth:
                plan = self._jdf.queryExecution().executedPlan().toString()
                frames.append((name, plan))
            depth += 1
            try:
                return fn(self, *args, **kwargs)
            finally:
                depth -= 1

        return recorded

    for name, fn in originals.items():
        setattr(DataFrame, name, wrap(name, fn))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(DataFrame, name, fn)


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    qids = sys.argv[3:]
    if not qids:
        qids = [ln.strip() for ln in sys.stdin if ln.strip()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(_ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="explain-capture")
    for qid in qids:
        frames: list[tuple[str, str]] = []
        with record_actions(frames):
            df = engine.QUERIES[qid](spark, sf_dir)
        buf = io.StringIO()
        for i, (name, plan) in enumerate(frames):
            buf.write(f"== frame {i}: {name} ==\n{plan}\n")
        buf.write("== returned frame ==\n")
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{qid}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(normalise(buf.getvalue()))
        print(f"wrote {path} ({len(frames)} captured frames)")


if __name__ == "__main__":
    main()

"""The benchmark's own tests. None of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import re
import sys
import types
from pathlib import Path

import pandas as pd
import pytest

import run
import spec
import stats
from digests import frame_digest
from spans import Tracer, outermost

BENCHMARK = json.loads(
    (Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text()
)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def stage(sid=0, run_s=2.0, cpu_s=1.5, start=0.0, end=1.0, **kw):
    fields = dict(
        stage_id=sid,
        tasks=4,
        run_s=run_s,
        cpu_s=cpu_s,
        gc_s=0.1,
        input_bytes=stats.MB,
        output_bytes=0,
        shuffle_read_bytes=2 * stats.MB,
        shuffle_write_bytes=3 * stats.MB,
        spill_bytes=0,
        start=start,
        end=end,
    )
    fields.update(kw)
    return stats.StageStats(**fields)


# -- names and BENCHMARK.json -------------------------------------------


def test_metric_names_are_well_formed():
    names = list(spec.END_TO_END) + list(spec.PER_LAYER) + list(spec.WORKLOADS)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name


def test_benchmark_json_matches_spec():
    assert set(BENCHMARK) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert BENCHMARK["run_seconds"] == spec.RUN_SECONDS
    assert {w["name"]: w["why"] for w in BENCHMARK["workloads"]} == {
        k: v["why"] for k, v in spec.WORKLOADS.items()
    }
    assert {
        m["name"]: (m["unit"], m["better"], m["bound"]) for m in BENCHMARK["end_to_end"]
    } == spec.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCHMARK["per_layer"]} == {
        k: v[:2] for k, v in spec.PER_LAYER.items()
    }
    assert spec.END_TO_END["setup_s"][2] == max(b for _, _, b in spec.END_TO_END.values())


def test_workloads_name_known_tables():
    for w in spec.WORKLOADS.values():
        assert w["queries"] and len(w["queries"]) == len(set(w["queries"]))
        assert set(w["tables"]) <= set(spec.TABLES)


def test_fixture_matches_its_checksums():
    import hashlib

    fixture = Path(run.FIXTURE)
    sums = (fixture.parent / "SHA256SUMS").read_text().split("\n")
    want = dict(reversed(line.split()) for line in sums if line)
    assert set(want) == {f"{t}.parquet" for t in spec.TABLES}
    for name, digest in want.items():
        assert hashlib.sha256((fixture / name).read_bytes()).hexdigest() == digest


def test_every_workload_query_has_a_reference_digest():
    from digests import load_reference

    ref = load_reference()
    for w in spec.WORKLOADS.values():
        for qid in w["queries"]:
            assert ref[qid]["rows"] >= 0 and len(ref[qid]["sha256"]) == 64, qid


# -- seed -> order --------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(spec.WORKLOADS))
def test_seed_order_is_a_deterministic_permutation(workload):
    fixed = spec.WORKLOADS[workload]["queries"]
    for seed in range(20):
        order = spec.query_order(workload, seed)
        assert order == spec.query_order(workload, seed)
        assert sorted(order) == sorted(fixed)
    assert len({tuple(spec.query_order(workload, s)) for s in range(20)}) > 1
    assert spec.WORKLOADS[workload]["queries"] == fixed  # not shuffled in place


# -- stage arithmetic -----------------------------------------------------


def test_sum_stages_and_executor_wait():
    m = stats.sum_stages([stage(0, run_s=2.0, cpu_s=1.5), stage(1, run_s=1.0, cpu_s=0.25)])
    assert m["stages"] == 2 and m["tasks"] == 8
    assert m["executor_run_s"] == 3.0
    assert m["executor_cpu_s"] == 1.75
    assert m["executor_wait_s"] == 1.25
    assert m["jvm_gc_s"] == pytest.approx(0.2)
    assert (m["input_mb"], m["shuffle_read_mb"], m["shuffle_write_mb"]) == (2, 4, 6)
    assert m["spill_mb"] == 0 and m["output_mb"] == 0


def test_executor_wait_never_negative():
    # CPU time is sampled per thread and can exceed run time by rounding
    assert stats.sum_stages([stage(run_s=1.0, cpu_s=1.001)])["executor_wait_s"] == 0.0


def test_covered_merges_overlaps_and_clips():
    assert stats.covered((0, 10), []) == 0
    assert stats.covered((0, 10), [(1, 3), (2, 5), (7, 8)]) == 5
    assert stats.covered((0, 10), [(-5, 2), (9, 20)]) == 3
    assert stats.covered((0, 10), [(11, 12), (-3, -1)]) == 0
    assert stats.covered((0, 10), [(0, 10), (2, 3)]) == 10


def test_driver_gap_is_window_minus_stage_cover():
    stages = [stage(0, start=1, end=4), stage(1, start=3, end=6)]
    assert stats.driver_gap((0, 10), stages) == 5


def test_geomean_and_quartile_spread():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.0, 1.0]) == pytest.approx(math.sqrt(1e-3))
    with pytest.raises(ValueError):
        stats.geomean([])
    # quantiles([1..5], n=4) = 1.5, 3, 4.5 -> (4.5 - 1.5) / 3
    assert stats.quartile_spread([1, 2, 3, 4, 5]) == pytest.approx(1.0)


# -- spans ----------------------------------------------------------------


def test_self_time_subtracts_covered_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    s = stats.self_times(spans)
    assert s == {0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0}


def test_tracer_nests_spans_and_counts_jobs():
    job = iter(range(100))
    t = Tracer(lambda: next(job))
    with t.span("run") as r:
        with t.span("x", count_jobs=True) as x:
            with t.span("x", count_jobs=True):
                pass
    assert t.spans[x]["parent"] == r
    assert t.spans[x]["attrs"]["job_lo"] == 0 and t.spans[x]["attrs"]["job_hi"] == 3
    assert [s["id"] for s in outermost(t.spans, "x")] == [x]
    assert all(s["end"] >= s["start"] for s in t.spans)


def test_install_wraps_every_binding(monkeypatch):
    def load(spark, sf, name):
        return name

    home = types.ModuleType("engine.zz_home")
    user = types.ModuleType("engine.zz_user")
    other = types.ModuleType("zz_outside")
    home.load = user.load = user.alias = other.load = load
    for m in (home, user, other):
        monkeypatch.setitem(sys.modules, m.__name__, m)
    t = Tracer()
    assert t.install([("engine.zz_home", "load", "session.load", False)]) == 3
    assert other.load is load
    assert user.alias("s", "dir", "orders") == "orders"
    assert t.spans[0]["name"] == "session.load"
    assert t.spans[0]["attrs"]["args"] == ["s", "dir", "orders"]


# -- the query loop -------------------------------------------------------


class FakeProbe:
    def __init__(self):
        self.n = 0

    def next_job_id(self):
        return self.n

    def jobs(self, lo, hi):
        return {
            j: {"start": 0.0, "end": 1.0, "stages": [stage(j, start=0.0, end=1.0)]}
            for j in range(lo, hi)
        }


class FakeFrame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def test_failing_query_is_counted_and_the_run_goes_on():
    probe = FakeProbe()
    good = pd.DataFrame({"a": [1, 2]})

    def ok(spark, sf):
        probe.n += 2  # two eager jobs while building
        return FakeFrame(good)

    def boom(spark, sf):
        probe.n += 1
        raise RuntimeError("boom")

    def wrong(spark, sf):
        return FakeFrame(pd.DataFrame({"a": [3]}))

    def force(df):
        probe.n += 1

    queries = {"ok": ok, "boom": boom, "wrong": wrong, "unknown": ok}
    reference = {q: frame_digest(good) for q in ("ok", "boom", "wrong")}
    recs = run.run_workload(
        None, "sf", ["boom", "ok", "wrong", "unknown"], probe, None, queries, force, reference
    )
    errors = {r["qid"]: r["error"] for r in recs}
    assert errors["ok"] is None
    assert errors["boom"].startswith("RuntimeError: boom")
    assert errors["wrong"].startswith("digest mismatch")
    assert errors["unknown"] == "no reference digest"
    by = {r["qid"]: r for r in recs}
    assert (len(by["boom"]["jobs"]), by["boom"]["build_jobs"]) == (1, 1)
    assert (len(by["ok"]["jobs"]), by["ok"]["build_jobs"]) == (3, 2)
    m = run.workload_metrics(recs, table_bytes=stats.MB)
    assert m["jobs"] == 1 + 3 + 1 + 3
    assert m["wall_s"] == pytest.approx(m["build_s"] + m["exec_s"])
    assert m["read_amplification"] == pytest.approx(m["input_mb"])


def test_traced_run_attributes_jobs_to_phases():
    probe = FakeProbe()
    tracer = Tracer(probe.next_job_id)

    def q(spark, sf):
        probe.n += 1
        return FakeFrame(pd.DataFrame({"a": [1]}))

    def force(df):
        probe.n += 1

    rec = run.run_query(None, "sf", "q", probe, tracer, {"q": q}, force)
    names = [s["name"] for s in tracer.spans]
    assert names[:3] == ["query:q", "build", "execute"]
    assert {"job:0", "job:1", "stage:0", "stage:1"} <= set(names)
    assert rec["build_jobs"] == 1 and len(rec["jobs"]) == 2


# -- digests --------------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2, None], "y": ["p", "q", "r"]})
    b = a.iloc[::-1][["y", "x"]].reset_index(drop=True)
    assert frame_digest(a) == frame_digest(b)
    assert frame_digest(a)["rows"] == 3
    assert frame_digest(a) != frame_digest(a.iloc[:2])


def test_digest_canonicalizes_engine_types():
    spark_like = pd.DataFrame(
        {"d": [pd.Timestamp("2024-01-01")], "v": [1.5], "n": [float("nan")], "i": [3]}
    )
    duck_like = pd.DataFrame(
        {
            "d": [pd.Timestamp("2024-01-01", tz="UTC")],
            "v": [1.5],
            "n": [None],
            "i": pd.array([3], dtype="int32"),
        }
    )
    assert frame_digest(spark_like) == frame_digest(duck_like)

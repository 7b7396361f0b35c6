"""Run one workload of the repository benchmark in a fresh process.

    python3 perfbench/run.py --workload olap_io --seed 1 --seconds 25 --trace 0

The process builds a session with ``engine.session.get_spark`` on
``local[nproc]``, warms it with a canary query, and then runs the
workload's fixed query list (``spec.WORKLOADS``) once, in the order the
seed gives. Each query is timed in two parts: building the DataFrame
(``engine.QUERIES[qid](spark, sf)``, including any eager jobs) and
executing it with ``bench.force``. After each query, outside the timed
region, the jobs whose ids were handed out during the call are read
from Spark's status store, and the output is checked against the
reference digest in ``digests.json``. A query that raises or mismatches
is counted as failed and the run goes on.

``--seconds`` is the measuring time the query lists are sized for; the
list always runs whole, because a partial list or a second pass (which
would reuse in-process engine state) measures different work.

Every metric is printed as ``name value unit``; the last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``
holding the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics. A traced run also wraps the functions in
``spec.TRACED_FUNCTIONS`` and writes its spans to
``.perfbench/trace-<workload>-<seed>.json``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

import spec  # noqa: E402
import stats  # noqa: E402
from digests import frame_digest, load_reference  # noqa: E402
from spans import Tracer, outermost  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
FIXTURE = HERE / "fixture" / "sf0.1"
CANARY_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(nproc: int) -> None:
    """Keep every file Spark, the JVM and the engine write inside the
    checkout, and let Python workers import the engine."""
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)  # left by an earlier run
        d.mkdir(parents=True)
    os.chdir(ROOT)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # Every JVM started from here (spark-submit's launcher and the
    # driver): temp files in the checkout, no /tmp/hsperfdata_* file.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))


class SparkProbe:
    """Job ids and stage metrics from the scheduler and the status store."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    def jobs(self, lo: int, hi: int) -> dict[int, dict]:
        """Jobs ``lo <= id < hi`` with their executed stages, once the
        listener bus has delivered their events to the status store."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        out = {}
        for jid in range(lo, hi):
            try:
                j = self._store.job(jid)
            except Py4JJavaError:
                out[jid] = {"start": None, "end": None, "stages": []}
                continue
            ids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
            out[jid] = {
                "start": _epoch(j.submissionTime()),
                "end": _epoch(j.completionTime()),
                "stages": [s for s in map(self._stage, ids) if s is not None],
            }
        return out

    def _stage(self, sid: int):
        from py4j.protocol import Py4JJavaError

        try:
            s = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            return None
        if s.status().toString() not in ("COMPLETE", "FAILED"):
            return None  # skipped: its shuffle output was reused
        return stats.StageStats(
            stage_id=sid,
            tasks=s.numTasks(),
            run_s=s.executorRunTime() / 1e3,
            cpu_s=s.executorCpuTime() / 1e9,
            gc_s=s.jvmGcTime() / 1e3,
            input_bytes=s.inputBytes(),
            output_bytes=s.outputBytes(),
            shuffle_read_bytes=s.shuffleReadBytes(),
            shuffle_write_bytes=s.shuffleWriteBytes(),
            spill_bytes=s.diskBytesSpilled(),
            start=_epoch(s.submissionTime()),
            end=_epoch(s.completionTime()),
        )


def _epoch(opt_date):
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else None


def canary_query(spark):
    """A small join, aggregate and window over the fixture's dimension
    tables; it touches no engine code. Its first run ends set-up, so the
    first workload query does not pay alone for starting the executor
    threads and compiling the planner and code generator; CANARY_REPS
    more runs, timed, are a host record."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def table(name):
        return spark.read.parquet(str(FIXTURE / f"{name}.parquet"))

    return (
        table("supplier")
        .join(table("nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(table("region"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n"), F.sum("s_acctbal").alias("bal"))
        .withColumn(
            "rank", F.rank().over(Window.partitionBy("r_name").orderBy(F.desc("bal")))
        )
    )


def run_query(spark, sf, qid, probe, tracer, queries, force) -> dict:
    """Build and execute one query; return its timings and jobs."""
    span = tracer.span if tracer else (lambda *a, **k: nullcontext())
    rec = {"qid": qid, "error": None, "df": None}
    j0 = probe.next_job_id()
    jb = None
    w0 = time.time()
    t0 = time.perf_counter()
    t1 = None
    with span(f"query:{qid}") as q_span:
        try:
            with span("build") as b_span:
                df = queries[qid](spark, sf)
            t1 = time.perf_counter()
            jb = probe.next_job_id()
            with span("execute") as e_span:
                force(df)
            rec["df"] = df
        except Exception as e:  # a failing query is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
    t2 = time.perf_counter()
    w2 = time.time()
    j1 = probe.next_job_id()
    if t1 is None:
        t1 = t2
    rec.update(
        build_s=t1 - t0,
        exec_s=t2 - t1,
        window=(w0, w2),
        jobs=probe.jobs(j0, j1),
        build_jobs=(jb if jb is not None else j1) - j0,
    )
    if tracer:
        phases = [b_span] + ([e_span] if jb is not None else [])
        add_job_spans(tracer, rec["jobs"], phases, q_span)
    return rec


def run_workload(spark, sf, order, probe, tracer, queries, force, reference):
    """Run and check the queries in ``order``; one record per query."""
    recs = []
    for qid in order:
        rec = run_query(spark, sf, qid, probe, tracer, queries, force)
        t = time.perf_counter()
        verify(rec, reference)
        rec["check_s"] = time.perf_counter() - t
        del rec["df"]
        recs.append(rec)
        print(
            f"perfbench: {qid} build {rec['build_s']:.3f}s exec "
            f"{rec['exec_s']:.3f}s jobs {len(rec['jobs'])} check "
            f"{rec['check_s']:.3f}s"
            + (f" FAILED {rec['error']}" if rec["error"] else ""),
            file=sys.stderr,
            flush=True,
        )
    return recs


def add_job_spans(tracer, jobs, phases, fallback) -> None:
    for jid, job in jobs.items():
        if job["start"] is None:
            continue
        parent = tracer.phase_at(phases, job["start"])
        j_span = tracer.add(
            f"job:{jid}",
            job["start"],
            job["end"],
            parent if parent is not None else fallback,
        )
        for s in job["stages"]:
            tracer.add(f"stage:{s.stage_id}", s.start, s.end, j_span)


def verify(rec, reference) -> None:
    """Compare the output with its reference digest (untimed)."""
    if rec["error"] is not None:
        return
    ref = reference.get(rec["qid"])
    try:
        got = frame_digest(rec["df"].toPandas())
    except Exception as e:
        rec["error"] = f"verify: {type(e).__name__}: {e}"[:500]
        return
    if ref is None:
        rec["error"] = "no reference digest"
    elif (got["rows"], got["sha256"]) != (ref["rows"], ref["sha256"]):
        rec["error"] = f"digest mismatch: got {got}, want {ref}"


def workload_metrics(recs, table_bytes) -> dict[str, float]:
    stages = [s for r in recs for j in r["jobs"].values() for s in j["stages"]]
    m = stats.sum_stages(stages)
    m["jobs"] = sum(len(r["jobs"]) for r in recs)
    m["build_jobs"] = sum(r["build_jobs"] for r in recs)
    m["build_s"] = sum(r["build_s"] for r in recs)
    m["exec_s"] = sum(r["exec_s"] for r in recs)
    m["wall_s"] = m["build_s"] + m["exec_s"]
    m["query_geomean_s"] = stats.geomean([r["build_s"] + r["exec_s"] for r in recs])
    m["driver_gap_s"] = sum(
        stats.driver_gap(
            r["window"],
            [s for j in r["jobs"].values() for s in j["stages"]],
        )
        for r in recs
    )
    m["read_amplification"] = m["input_mb"] * stats.MB / table_bytes
    return m


def traced_metrics(tracer, recs) -> dict[str, float]:
    stages_of = {
        jid: j["stages"] for r in recs for jid, j in r["jobs"].items()
    }
    m = {}
    for name, count_jobs in {n: c for _, _, n, c in spec.TRACED_FUNCTIONS}.items():
        calls = outermost(tracer.spans, name)
        m[f"{name}.calls"] = len(calls)
        m[f"{name}.s"] = sum(s["end"] - s["start"] for s in calls)
        if count_jobs:
            ids = [
                jid
                for s in calls
                for jid in range(s["attrs"]["job_lo"], s["attrs"]["job_hi"])
            ]
            m[f"{name}.jobs"] = len(ids)
            m[f"{name}.shuffle_write_mb"] = sum(
                st.shuffle_write_bytes for jid in ids for st in stages_of.get(jid, [])
            ) / stats.MB
    return m


def trace_summary(tracer, recs, wall_s, workload) -> dict:
    """Per-query phase accounting and the tracing overhead."""
    selfs = stats.self_times(tracer.spans)
    per_query = {}
    for r in recs:
        q = next(
            s for s in tracer.spans if s["name"] == f"query:{r['qid']}"
        )
        row = {}
        for ph in tracer.children(q["id"]):
            dur = ph["end"] - ph["start"]
            row[ph["name"]] = {
                "s": dur,
                "self_s": selfs[ph["id"]],
                "children_s": dur - selfs[ph["id"]],
            }
        row["build_s"] = r["build_s"]
        row["exec_s"] = r["exec_s"]
        per_query[r["qid"]] = row
    untraced = [
        h["wall_s"]
        for h in read_history()
        if h["workload"] == workload and not h["trace"]
    ]
    return {
        "workload": workload,
        "traced_wall_s": wall_s,
        "untraced_median_wall_s": statistics.median(untraced) if untraced else None,
        "overhead_s": wall_s - statistics.median(untraced) if untraced else None,
        "queries": per_query,
    }


def read_history() -> list[dict]:
    path = WORK / "results.jsonl"
    if not path.exists():
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def steal_s() -> float:
    """CPU seconds, summed over CPUs, that the hypervisor gave to other
    guests instead of this machine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [
        str(p)
        for p in (ROOT / "engine" / "__init__.py", ROOT / "bench.py")
        + tuple(FIXTURE / f"{t}.parquet" for t in spec.TABLES)
        if not p.is_file()
    ]
    if missing:
        print(f"perfbench: missing {missing}", file=sys.stderr)
        return 2

    load1_start = os.getloadavg()[0]
    nproc = len(os.sched_getaffinity(0))
    prepare_env(nproc)
    reference = load_reference()

    import bench
    import engine
    from engine.session import get_spark

    t_import = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t_spark = time.perf_counter()
    canary = canary_query(spark)
    bench.force(canary)
    t_setup = time.perf_counter()
    canary_s = []
    for _ in range(CANARY_REPS):
        t = time.perf_counter()
        bench.force(canary)
        canary_s.append(time.perf_counter() - t)

    probe = SparkProbe(spark)
    tracer = None
    if args.trace:
        tracer = Tracer(probe.next_job_id)
        tracer.install(spec.TRACED_FUNCTIONS)
    steal_start = steal_s()
    with tracer.span("run") if tracer else nullcontext():
        recs = run_workload(
            spark,
            str(FIXTURE),
            spec.query_order(args.workload, args.seed),
            probe,
            tracer,
            engine.QUERIES,
            bench.force,
            reference,
        )

    steal = steal_s() - steal_start
    table_bytes = sum(
        (FIXTURE / f"{t}.parquet").stat().st_size
        for t in spec.WORKLOADS[args.workload]["tables"]
    )
    m = workload_metrics(recs, table_bytes)
    m["setup_s"] = t_setup - T_START
    m["setup.get_spark_s"] = t_spark - t_import
    m["setup.warmup_s"] = t_setup - t_spark
    m["host.canary_s"] = statistics.median(canary_s)
    m["host.load1_start"] = load1_start
    m["host.nproc"] = nproc
    m["host.steal_s"] = steal
    from pyspark import SparkContext

    m["jvm_peak_rss_mb"] = peak_rss_mb(SparkContext._gateway.proc.pid)
    if tracer:
        m.update(traced_metrics(tracer, recs))
        m["trace.wall_s"] = m["wall_s"]
        path = WORK / f"trace-{args.workload}-{args.seed}.json"
        tracer.write(path, trace_summary(tracer, recs, m["wall_s"], args.workload))
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    stop_spark(spark)

    with open(WORK / "results.jsonl", "a") as f:
        f.write(
            json.dumps(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "trace": args.trace,
                    "wall_s": m["wall_s"],
                }
            )
            + "\n"
        )

    failed = [r for r in recs if r["error"]]
    m["failed_frac"] = len(failed) / len(recs)
    units = {k: v[0] for k, v in spec.END_TO_END.items()}
    units.update({k: v[0] for k, v in spec.PER_LAYER.items()})
    units["failed_frac"] = "ratio"
    for name in sorted(m):
        print(f"{name} {m[name]:.6g} {units[name]}")
    reported = spec.PER_LAYER if args.trace else spec.END_TO_END
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(recs),
                "failed": len(failed),
                "metrics": {
                    k: {"value": m[k], "unit": units[k]} for k in reported
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

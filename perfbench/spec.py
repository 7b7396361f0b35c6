"""What the benchmark runs and reports: workloads, metrics and what each
per-layer metric is expected to move.

``BENCHMARK.json`` at the repository root carries the subset of this
that the benchmark contract fixes (names, units, directions, bounds);
``test_perfbench.py`` checks that the two agree.

Every workload is one client in a closed loop: it runs its queries one
after another, each forced with a noop write, over the sf0.1 fixture
in ``perfbench/fixture/sf0.1`` on ``local[nproc]``. The seed only
permutes the order of the fixed query list.
"""

from __future__ import annotations

import random

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

WORKLOADS: dict[str, dict] = {
    "llm_dedup": {
        "why": (
            "LSH near-dup, connected components and graph chains: eager "
            "driver-side job chains dominate; olap_io never runs this code"
        ),
        "tables": ["documents", "part"],
        "queries": [
            "llm_dedup_clusters",
            "graph_pagerank_integer",
        ],
    },
    "olap_io": {
        "why": (
            "star-schema, window and SQL queries plus file sinks, sources, "
            "streaming and Python UDFs: per-query overhead and write paths, no LSH"
        ),
        "tables": ["customer", "events", "lineitem", "orders", "part"],
        "queries": [
            "agg_pricing_summary",
            "q3_shipping_priority",
            "q13_customer_distribution",
            "join_semi",
            "win_ranking",
            "sql_recursive_hierarchy",
            "sink_partitioned_parquet",
            "source_csv_roundtrip",
            "stream_tumbling",
            "udf_map_in_pandas",
        ],
    },
}

# Measuring time the query lists are sized for (`--seconds`).
RUN_SECONDS = 25

# name -> (unit, better, bound as a share of the parent's median)
END_TO_END: dict[str, tuple[str, str, float]] = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "query_geomean_s": ("s", "lower", 0.25),
    "executor_cpu_s": ("s", "lower", 0.25),
}

# name -> (unit, better, "layer -> end-to-end metric it should move
# (workload)"). The last group is filled only in a traced run.
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "setup.get_spark_s": ("s", "lower", "engine.session -> setup_s (all)"),
    "setup.warmup_s": ("s", "lower", "first canary run -> setup_s (all)"),
    "build_s": ("s", "lower", "operator modules -> wall_s (llm_dedup)"),
    "build_jobs": ("count", "lower", "operator modules -> wall_s (llm_dedup)"),
    "exec_s": ("s", "lower", "plan execution -> wall_s, query_geomean_s (olap_io)"),
    "driver_gap_s": (
        "s",
        "lower",
        "planning, py4j, Python -> query_geomean_s (olap_io), wall_s (llm_dedup)",
    ),
    "jobs": (
        "count",
        "lower",
        "scheduler -> driver_gap_s, query_geomean_s (olap_io), wall_s (llm_dedup)",
    ),
    "stages": (
        "count",
        "lower",
        "scheduler -> driver_gap_s, query_geomean_s (olap_io)",
    ),
    "tasks": ("count", "lower", "scheduler -> driver_gap_s, query_geomean_s (olap_io)"),
    "executor_run_s": ("s", "lower", "executors -> executor_cpu_s (all)"),
    "executor_wait_s": (
        "s",
        "lower",
        "Python workers, disk, fetch -> wall_s (olap_io)",
    ),
    "jvm_gc_s": ("s", "lower", "executors -> executor_cpu_s (all)"),
    "input_mb": (
        "MB",
        "lower",
        "scans, checkpoint re-reads -> executor_cpu_s (llm_dedup)",
    ),
    "read_amplification": (
        "ratio",
        "lower",
        "scans, checkpoint re-reads -> executor_cpu_s (llm_dedup)",
    ),
    "shuffle_read_mb": (
        "MB",
        "lower",
        "shuffle -> executor_cpu_s (llm_dedup, olap_io)",
    ),
    "shuffle_write_mb": (
        "MB",
        "lower",
        "shuffle -> executor_cpu_s (llm_dedup, olap_io)",
    ),
    "spill_mb": ("MB", "lower", "skew guard, expected 0 -> none"),
    "output_mb": ("MB", "lower", "file sinks -> wall_s (olap_io)"),
    "jvm_peak_rss_mb": ("MB", "lower", "driver JVM memory record -> none"),
    "host.canary_s": ("s", "lower", "host record, marks a contaminated run -> none"),
    "host.load1_start": (
        "load",
        "lower",
        "host record, marks a contaminated run -> none",
    ),
    "host.nproc": ("count", "higher", "host record -> none"),
    "host.steal_s": (
        "s",
        "lower",
        "CPU time the hypervisor gave other guests during the workload; marks "
        "a contaminated run -> none",
    ),
    "trace.wall_s": (
        "s",
        "lower",
        "wall_s under tracing; minus the untraced median = overhead",
    ),
    "session.load.calls": (
        "count",
        "lower",
        "engine.session.load -> query_geomean_s (olap_io)",
    ),
    "session.load.s": (
        "s",
        "lower",
        "engine.session.load -> query_geomean_s (olap_io)",
    ),
    "lsh_core.lsh_neardup_pairs.calls": (
        "count",
        "lower",
        "engine.lsh_core -> wall_s (llm_dedup); 0 elsewhere",
    ),
    "lsh_core.lsh_neardup_pairs.s": (
        "s",
        "lower",
        "engine.lsh_core -> wall_s (llm_dedup)",
    ),
    "lsh_core.lsh_neardup_pairs.jobs": (
        "count",
        "lower",
        "engine.lsh_core -> wall_s (llm_dedup)",
    ),
    "lsh_core.lsh_neardup_pairs.shuffle_write_mb": (
        "MB",
        "lower",
        "engine.lsh_core -> executor_cpu_s (llm_dedup)",
    ),
    "pipeline_ops.connected_components.calls": (
        "count",
        "lower",
        "engine.pipeline_ops -> wall_s (llm_dedup); 0 elsewhere",
    ),
    "pipeline_ops.connected_components.s": (
        "s",
        "lower",
        "engine.pipeline_ops -> wall_s (llm_dedup)",
    ),
    "pipeline_ops.connected_components.jobs": (
        "count",
        "lower",
        "engine.pipeline_ops -> wall_s (llm_dedup)",
    ),
    "pipeline_ops.connected_components.shuffle_write_mb": (
        "MB",
        "lower",
        "engine.pipeline_ops -> executor_cpu_s (llm_dedup)",
    ),
    "roundtrip.calls": ("count", "lower", "engine.roundtrip -> wall_s (olap_io)"),
    "roundtrip.s": ("s", "lower", "engine.roundtrip -> wall_s (olap_io)"),
}

# Public engine functions wrapped in a traced run, at every module that
# binds them: (defining module, function name, metric prefix, count jobs).
TRACED_FUNCTIONS = [
    ("engine.session", "load", "session.load", False),
    ("engine.lsh_core", "lsh_neardup_pairs", "lsh_core.lsh_neardup_pairs", True),
    (
        "engine.pipeline_ops",
        "connected_components",
        "pipeline_ops.connected_components",
        True,
    ),
    ("engine.roundtrip", "roundtrip_verified", "roundtrip", False),
    ("engine.roundtrip", "roundtrip_verified_big", "roundtrip", False),
]


def query_order(workload: str, seed: int) -> list[str]:
    """The workload's fixed query list, permuted by ``seed``."""
    order = list(WORKLOADS[workload]["queries"])
    random.Random(seed).shuffle(order)
    return order

"""Record the reference digests the benchmark checks outputs against.

    python3 perfbench/record_digests.py

For every query of every workload it runs the query on Spark and, when
the query has a DuckDB oracle, the oracle over the same fixture. The
oracle's digest is recorded wherever the oracle finishes within
``ORACLE_TIMEOUT_S`` seconds (``source: duckdb-oracle``); otherwise the
Spark output of the current commit is recorded
(``source: spark@<commit>``). A Spark output
that disagrees with a finished oracle is reported, and the oracle's
digest is kept, so the benchmark then counts that query as failed.
Writes ``perfbench/digests.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import run
import spec
from digests import REFERENCE, frame_digest

# The recursive-CTE dedup oracles run for over 15 minutes at sf0.1.
ORACLE_TIMEOUT_S = 120.0


def duck_connect():
    import duckdb

    con = duckdb.connect()
    try:
        # Spark's try_divide gives NULL on x/0.0; newer DuckDB defaults
        # to IEEE inf/nan unless this is off.
        con.execute("SET ieee_floating_point_ops=false")
    except duckdb.Error:
        pass
    for t in spec.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{run.FIXTURE / t}.parquet')"
        )
    return con


def oracle_digest(con, sql: str, timeout: float):
    """The oracle's digest, or None if it did not finish in time."""
    import duckdb

    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return frame_digest(con.execute(sql).fetchdf())
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def main() -> int:
    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True,
        text=True,
        cwd=run.ROOT,
    ).stdout.strip() or "unknown"
    run.prepare_env(len(os.sched_getaffinity(0)))
    import engine
    from engine.session import get_spark

    spark = get_spark(app_name="perfbench-record")
    con = duck_connect()
    out, mismatches = {}, []
    for workload, w in spec.WORKLOADS.items():
        for qid in w["queries"]:
            got = frame_digest(engine.QUERIES[qid](spark, str(run.FIXTURE)).toPandas())
            want = None
            if qid in engine.ORACLES:
                want = oracle_digest(con, engine.ORACLES[qid], ORACLE_TIMEOUT_S)
            if want is None:
                note = "oracle timed out" if qid in engine.ORACLES else "no oracle"
                out[qid] = {**got, "source": f"spark@{commit}", "note": note}
            else:
                out[qid] = {**want, "source": "duckdb-oracle"}
                if want != got:
                    mismatches.append(qid)
                    out[qid]["note"] = f"spark@{commit} disagreed: {got}"
            print(workload, qid, out[qid], file=sys.stderr, flush=True)
    run.stop_spark(spark)
    with open(REFERENCE, "w") as f:
        json.dump({"fixture": "sf0.1", "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    if mismatches:
        print(f"Spark disagrees with the oracle on {mismatches}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

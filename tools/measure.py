"""Per-query measurement: wall time split into construction and execution,
plus the Spark jobs, stages, tasks, rows, shuffle and spill of each query.

Usage:
    python tools/measure.py [-n REPS] [--sf SF_DIR] [--json PATH] [name ...]

With no names it measures ``bench.HEADLINE``. One tuned session at
``local[$SPARK_GRAFT_CPUS]`` runs ``bench.warm_session`` (the bench regime),
then each query REPS times, one at a time. Construction (the
``queries()[name](spark, sf)`` call: py4j Column building plus any eager
driver-side jobs) is timed apart from execution (the noop-format write
``bench.py`` times; ``count()`` would let Catalyst prune projected columns).

After the last query, job and stage metrics are read once from the UI REST
API (``perfbench/spans.py::fetch_spark_metrics``), and each job and stage is
assigned to the rep whose time window holds its submission time. Queries run
one at a time, so this needs no job labels and also catches the jobs of
stream threads, which inherit neither job group nor description. Jobs
submitted during construction are the ``eager_jobs``.

stdout is one markdown table: times (``*_s``) are the median over reps,
counts come from the first rep. ``--json PATH`` writes every rep. On a
shared-tenancy host identical runs vary by about ±30% across sessions, so
compare two variants back to back in ONE session with ``-n 5`` or more.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

#: table columns after the query name; ``*_s`` are times, the rest counts
COLUMNS = (
    "construct_s", "exec_s", "jobs", "eager_jobs", "stages", "tasks",
    "task_s", "max_task_s", "input_rows", "shuffle_rows",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill",
)
#: REST stage fields summed per rep
STAGE_SUMS = {
    "tasks": ("numTasks",),
    "input_rows": ("inputRecords",),
    "shuffle_rows": ("shuffleWriteRecords",),
    "shuffle_read_bytes": ("shuffleReadBytes",),
    "shuffle_write_bytes": ("shuffleWriteBytes",),
    "spill": ("memoryBytesSpilled", "diskBytesSpilled"),
}
SLOWEST = 6


def parse_args(argv: list[str], known: dict) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        prog="tools/measure.py",
        description="Time declared queries and attribute their Spark metrics.",
    )
    ap.add_argument("names", nargs="*", metavar="name",
                    help="declared queries (default: bench.HEADLINE)")
    ap.add_argument("-n", type=int, default=1, metavar="REPS",
                    help="runs per query (default 1)")
    ap.add_argument("--sf", metavar="SF_DIR",
                    help="corpus directory (default: bench.SF_DIR)")
    ap.add_argument("--json", metavar="PATH", help="write every rep here")
    args = ap.parse_args(argv)
    unknown = [n for n in args.names if n not in known]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    if args.n < 1:
        ap.error("-n must be at least 1")
    return args


def _ms(t: float) -> float:
    """``t`` floored to the millisecond the REST API reports times in."""
    return math.floor(t * 1000) / 1000


def rep_metrics(t0: float, t1: float, t2: float, jobs: list[dict],
                stages: list[dict]) -> dict:
    """Metrics of one rep that was constructed over [t0, t1] and executed
    over [t1, t2], from the jobs and stages submitted in that window."""
    lo, mid = _ms(t0), _ms(t1)
    job_ts = [j["t"] for j in jobs if j["t"] and lo <= j["t"] <= t2]
    st = [s for s in stages if lo <= s["t"] <= t2]
    m = {
        "construct_s": round(t1 - t0, 3),
        "exec_s": round(t2 - t1, 3),
        "jobs": len(job_ts),
        "eager_jobs": sum(t < mid for t in job_ts),
        "stages": len(st),
        "task_s": round(sum(s["executorRunTime"] for s in st) / 1000, 3),
        "max_task_s": max((s["max_task_ms"] for s in st), default=0.0) / 1000,
    }
    for key, fields in STAGE_SUMS.items():
        m[key] = sum(s.get(f, 0) for s in st for f in fields)
    m["slowest_stages"] = [
        {"stage": s["stageId"], "s": round(s["t_end"] - s["t"], 3),
         "tasks": s["numTasks"], "name": s.get("name", "")[:60]}
        for s in sorted(st, key=lambda s: s["t_end"] - s["t"], reverse=True)[:SLOWEST]
    ]
    return m


def summarize(reps: list[dict]) -> dict:
    """Median over reps for times, the first rep for everything else."""
    out = dict(reps[0])
    for key in out:
        if key.endswith("_s"):
            out[key] = round(statistics.median(r[key] for r in reps), 3)
    return out


def table(results: dict[str, dict]) -> str:
    lines = [
        "| query | " + " | ".join(COLUMNS) + " | slowest stages (id:s) |",
        "|---" * (len(COLUMNS) + 2) + "|",
    ]
    for name, r in results.items():
        slow = " ".join(f"{s['stage']}:{s['s']:.2f}" for s in r["slowest_stages"])
        cells = [f"{r[c]:.2f}" if c.endswith("_s") else str(r[c]) for c in COLUMNS]
        lines.append(f"| {name} | " + " | ".join(cells) + f" | {slow} |")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    import __spark_entry__ as entrymod
    import bench

    qs = entrymod.queries()
    args = parse_args(argv, qs)
    names = args.names or [n for n in bench.HEADLINE if n in qs]
    sf = args.sf or bench.SF_DIR

    from airflow_ml_pipeline_spark.session import get_spark
    from spans import fetch_spark_metrics

    spark = get_spark(
        "measure",
        master=f"local[{bench.CPUS}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    try:
        bench.warm_session(spark, sf, qs)
        windows: dict[str, list[tuple[float, float, float]]] = {}
        for name in names:
            for i in range(args.n):
                t0 = time.time()
                df = qs[name](spark, sf)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
                windows.setdefault(name, []).append((t0, t1, t2))
                print(f"# {name} rep {i}: construct {t1 - t0:.3f}s "
                      f"exec {t2 - t1:.3f}s", file=sys.stderr, flush=True)
        jobs, stages = fetch_spark_metrics(spark)
    finally:
        spark.stop()

    reps = {n: [rep_metrics(*w, jobs, stages) for w in ws] for n, ws in windows.items()}
    results = {n: summarize(r) for n, r in reps.items()}
    print(table(results))
    if args.json:
        detail = {n: {**results[n], "reps": reps[n]} for n in results}
        with open(args.json, "w") as f:
            json.dump({"sf_dir": sf, "n": args.n, "cpus": bench.CPUS,
                       "results": detail}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

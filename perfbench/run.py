"""Benchmark runner: one workload of declared queries, measured from outside.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout and reads and writes only inside it. Each
run is one process at ``local[nproc]``, one query at a time (a closed loop
with one client, as a pipeline job runs its steps):

1. set-up: imports the engine, points its persisted state roots at the run's
   own directory under ``.perfbench/``, starts a tuned session with
   ``session.get_spark`` and runs the warm-up. ``setup_s`` is the time from
   process start until the warm-up is done, the cost every pipeline process
   pays before its first step;
2. the measured window: passes over the workload's queries, in an order
   permuted by ``--seed``, until ``--seconds`` have elapsed (at least one
   pass). Every pass starts from cleared state roots, so stateful queries pay
   their real ingest cost. A query is timed as its construction
   (``queries()[name](spark, sf_dir)``) plus its execution at the noop sink.
   ``total_s`` is the median pass; the first pass is the first execution of
   every query in the process, as in a pipeline job;
3. the first pass's outputs are collected (untimed) and compared with the
   DuckDB oracles: row count, columns and the order-insensitive value hash
   of ``tools/oracle_check.py``.

The inputs are the committed sf0.01 test corpus, copied read-only under
``perfbench/data/``. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). A human-readable report
goes to stderr. The exit code is 1 when any query raised or failed its check.

With ``--trace 1`` the first pass is traced (spans: run > setup > session.*,
query > construct/exec > stream.batch, with Spark job and stage metrics; see
``spans.py``) and gives the per-layer numbers; the spans are written to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))

#: the committed sf0.01 test corpus (seed 42), copied read-only
SF = 0.01
DATA = os.path.join(HERE, "data", f"sf{SF}")

#: engine module attributes that name a persisted state root
STATE_ROOTS = {
    "airflow_ml_pipeline_spark.streaming.ingest": "INGEST_ROOT",
    "airflow_ml_pipeline_spark.streaming.sources": "STAGE_ROOT",
    "airflow_ml_pipeline_spark.operators.temporal": "_ROLLUP_STAGE",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def parse_args(argv: list[str], workloads: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        prog="perfbench/run.py",
        description="Measure one workload of declared queries.",
    )
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if args.seed < 0:
        ap.error("--seed must be a non-negative integer")
    return args


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat; (0, 0) where unavailable."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return 0, 0


def load_value_hash():
    """The order-insensitive value hash of ``tools/oracle_check.py``, loaded
    from that file so outputs are checked exactly as the repo's oracle check
    does (its import-time ``sys.path`` edit is undone)."""
    import importlib.util

    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.value_hash


def tree_size(path: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return total, files


class Run:
    def __init__(self, args: argparse.Namespace, spec: dict) -> None:
        self.args = args
        names = list(spec["workloads"][args.workload]["queries"])
        random.Random(args.seed).shuffle(names)
        self.names = names
        self.work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.data = DATA
        self.state = os.path.join(self.work, "state")
        self.attempted = 0
        self.failures: list[str] = []
        self.outputs: dict[str, tuple] = {}
        self.spark = None

    # ---- set-up --------------------------------------------------------
    def prepare(self) -> None:
        for sub in ("tmp", "local", "state"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_* entry
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        sys.path.insert(0, ROOT)

    def import_engine(self) -> None:
        """Import the engine and move its state roots into the run's
        directory."""
        import importlib

        import __spark_entry__ as entrymod
        from airflow_ml_pipeline_spark.plans import registry

        for mod, attr in STATE_ROOTS.items():
            setattr(importlib.import_module(mod), attr, os.path.join(self.state, attr.strip("_").lower()))
        self.qs = entrymod.queries()
        self.oracles = entrymod.oracle_sql()
        self.modules = {n: registry.QUERIES[n].__module__.rsplit(".", 1)[-1] for n in self.names}

    def clear_state(self) -> None:
        shutil.rmtree(self.state, ignore_errors=True)
        os.makedirs(self.state)

    def start_session(self) -> tuple[float, float]:
        from airflow_ml_pipeline_spark.session import get_spark

        t0 = time.time()
        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "perfbench",
            master=f"local[{NPROC}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        self.warm_up()
        return t1 - t0, time.time() - t1

    def warm_up(self) -> None:
        """One small scan-and-aggregate job: starts the JIT, the scheduler
        and the parquet reader before the first query runs."""
        from pyspark.sql import functions as F

        self.spark.read.parquet(os.path.join(self.data, "events.parquet")).groupBy(
            "event_type"
        ).agg(F.count(F.lit(1))).collect()

    def set_up(self) -> tuple[float, float, float]:
        """(setup_s from process start, session start, warm-up)."""
        self.prepare()
        self.import_engine()
        start_s, warm_s = self.start_session()
        return time.time() - T_START, start_s, warm_s

    def shutdown_jvm(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits at stdin EOF
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ---- queries ---------------------------------------------------------
    def run_query(self, name: str):
        """(df, t_start, t_constructed, t_done); df is None on failure."""
        self.attempted += 1
        t0 = time.time()
        try:
            df = self.qs[name](self.spark, self.data)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            return df, t0, t1, time.time()
        except Exception:
            log(f"# {name} raised:\n{traceback.format_exc()}")
            self.failures.append(name)
            return None, t0, t0, time.time()

    def record_output(self, name: str, df) -> None:
        """Keep what the check needs (row count, column names, value hash)
        from a query's output; runs outside the timed region."""
        try:
            rows = df.collect()
        except Exception:
            log(f"# {name} collect raised:\n{traceback.format_exc()}")
            self.failures.append(name)
            return
        cols = df.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        self.outputs[name] = (len(rows), sorted(cols), self.value_hash(rows, order))

    def verify(self) -> None:
        """Compare the recorded outputs with the DuckDB oracles."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {NPROC}")
        for f in sorted(os.listdir(self.data)):
            con.execute(
                f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM read_parquet('{self.data}/{f}')"
            )
        for name, (n, cols, h) in self.outputs.items():
            try:
                res = con.sql(self.oracles[name])
                dcols = res.columns
                drows = res.fetchall()
            except duckdb.Error:
                log(f"# CHECK FAILED {name}: oracle raised:\n{traceback.format_exc()}")
                self.failures.append(name)
                continue
            order = sorted(range(len(dcols)), key=lambda i: dcols[i])
            expect = (len(drows), sorted(dcols), self.value_hash(drows, order))
            if expect != (n, cols, h):
                log(f"# CHECK FAILED {name}: spark {n} rows, oracle {expect[0]} rows, "
                    "columns or value hash differ")
                self.failures.append(name)
        con.close()

    def run_pass(self, index: int, tracer=None, listener=None, parent=None) -> dict:
        """One pass over the workload from cleared state roots. The first
        pass's outputs are collected after it (untimed) for the check."""
        self.clear_state()
        if listener is not None:
            listener.active = True
        times, spans, dfs = {}, [], {}
        for name in self.names:
            df, t0, t1, t2 = self.run_query(name)
            if df is None:
                continue
            times[name] = (t1 - t0, t2 - t1)
            dfs[name] = df
            log(f"# pass {index} {name}: construct {t1 - t0:.3f}s exec {t2 - t1:.3f}s")
            if tracer is not None:
                q = tracer.span(f"query:{name}", t0, t2, parent, pass_index=index)
                tracer.span("construct", t0, t1, q)
                tracer.span("exec", t1, t2, q)
                spans.append(q)
        if listener is not None:
            from spans import drain_listener_bus

            drain_listener_bus(self.spark)
            listener.active = False
        store = tree_size(self.state)
        if index == 0:
            for name, df in dfs.items():
                self.record_output(name, df)
        total = sum(c + e for c, e in times.values())
        log(f"# pass {index}: {total:.3f}s")
        return {"times": times, "total": total, "spans": spans, "store": store}

    # ---- main ----------------------------------------------------------
    def execute(self) -> dict:
        """Set up, run the measured window, check, tear down."""
        args = self.args
        steal0 = steal_ticks()
        setup_s, start_s, warm_s = self.set_up()
        setup_end = time.time()
        log(f"# setup: {setup_s:.2f}s (session {start_s:.2f}s, warm-up {warm_s:.2f}s)")

        tracer = listener = run_span = None
        if args.trace:
            from spans import ProgressListener, Tracer

            tracer, listener = Tracer(), ProgressListener()
            run_span = tracer.span("run", T_START, T_START)
            setup_span = tracer.span("setup", T_START, setup_end, run_span)
            tracer.span("session.start", setup_end - warm_s - start_s, setup_end - warm_s, setup_span)
            tracer.span("session.warm", setup_end - warm_s, setup_end, setup_span)
            self.spark.streams.addListener(listener)

        self.value_hash = load_value_hash()
        passes = []
        t_window = time.time()
        while not passes or time.time() - t_window < args.seconds:
            traced = tracer is not None and not passes
            passes.append(self.run_pass(
                len(passes), tracer=tracer if traced else None,
                listener=listener if traced else None, parent=run_span,
            ))
        window_s = time.time() - t_window

        layers = None
        if args.trace:
            from spans import attach, fetch_spark_metrics, layer_metrics

            jobs, stages = fetch_spark_metrics(self.spark)
            targets = [s for s in tracer.spans if s.name in ("construct", "exec", "session.start", "session.warm")]
            attach(tracer, targets, jobs, stages, listener.events)
            layers = layer_metrics(tracer, passes[0]["spans"], self.modules, NPROC)
            layers["store.bytes_written"], layers["store.files"] = passes[0]["store"]
            layers["session.start_s"], layers["session.warm_s"] = start_s, warm_s
            layers["trace.total_s"] = passes[0]["total"]

        t_check = time.time()
        self.verify()
        java = self.spark.sparkContext._jvm.System.getProperty("java.version")
        import pyspark

        self.shutdown_jvm()
        steal1 = steal_ticks()
        children = resource.getrusage(resource.RUSAGE_CHILDREN)
        me = resource.getrusage(resource.RUSAGE_SELF)
        log(f"# after the window: checks and shutdown {time.time() - t_check:.2f}s")
        if tracer is not None:
            run_span.end = time.time()
            tracer.write(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"))

        env = {
            "nproc": NPROC, "sf": SF, "pyspark": pyspark.__version__, "java": java,
            "seed": args.seed, "order": self.names, "passes": len(passes),
            "window_s": round(window_s, 3), "checked": len(self.outputs),
        }
        diag = {
            "driver.peak_rss_mb": children.ru_maxrss / 1024.0,
            "driver.jvm_cpu_s": children.ru_utime + children.ru_stime,
            "driver.py_cpu_s": me.ru_utime + me.ru_stime,
            "host.steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        }
        return {"env": env, "passes": passes, "setup_s": setup_s, "layers": layers, "diag": diag}


def main(argv: list[str]) -> int:
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load_json(os.path.join(HERE, "workloads.json"))
    args = parse_args(argv, [w["name"] for w in bench["workloads"]])
    sys.path.insert(0, HERE)
    if not os.path.isdir(os.path.join(ROOT, "airflow_ml_pipeline_spark")):
        log("error: run from a checkout that holds the engine (airflow_ml_pipeline_spark/)")
        return 1
    run = Run(args, spec)
    try:
        result = run.execute()
    finally:
        try:
            run.shutdown_jvm()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)

    failed = len(run.failures)
    log(f"# env: {json.dumps(result['env'])}")
    log(f"# diagnostics: {json.dumps({k: round(v, 3) for k, v in result['diag'].items()})}")
    log(f"# failed_ratio: {failed / run.attempted:.4f} ({failed} of {run.attempted} attempted)")
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        values = {**result["layers"], **result["diag"]}
        notes = {k: "the traced first pass" for k in result["layers"]}
        notes.update({k: "one sample per run" for k in (*result["diag"], "session.start_s", "session.warm_s")})
    else:
        passes = [p["total"] for p in result["passes"]]
        values = {"setup_s": result["setup_s"], "total_s": statistics.median(passes)}
        notes = {"setup_s": "the run's cold set-up", "total_s": f"median of {len(passes)} pass(es)"}
    metrics = {}
    for name, unit in units.items():
        v = float(values.get(name, 0.0))
        metrics[name] = {"value": v, "unit": unit}
        log(f"# {name} = {v:.6g} {unit} ({notes.get(name, 'not in this workload')})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

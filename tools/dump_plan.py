"""Dump `.explain("formatted")` for named declared queries to files.

Usage: python tools/dump_plan.py OUTDIR name [name ...]

Writes OUTDIR/<name>.txt. No name, or an undeclared one, prints the usage
and exits 2 before Spark starts. Construction only — no job is executed (the
lazy localCheckpoints inside query constructors may run tiny pin jobs,
matching how every real caller constructs the plan).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


USAGE = "usage: python tools/dump_plan.py OUTDIR name [name ...]"


def main() -> int:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = sys.argv[2:]
    unknown = [n for n in names if n not in qs]
    if not names or unknown:
        print(USAGE, file=sys.stderr)
        if unknown:
            print(f"undeclared queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    outdir = sys.argv[1]
    os.makedirs(outdir, exist_ok=True)

    from airflow_ml_pipeline_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("dump_plan", master=f"local[{cpus}]")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in names:
        df = qs[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan)} chars, {n_ex} Exchange -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

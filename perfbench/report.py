"""Run the benchmark several times and report every metric with its spread.

    python3 perfbench/report.py [--runs 10] [--sets 1] [--seed-base 1]
                                [--workloads a,b] [--seconds S] [--trace-pairs]

Runs ``perfbench/run.py --trace 0`` once per seed, ``--runs`` seeds per
workload, and repeats that ``--sets`` times (each set after the previous one
has finished on every workload; set ``k`` uses seeds ``seed-base + k * runs``
onwards). For each set and end-to-end metric it prints the unit, sample
count, median, quartiles and spread: the distance between the first and
third quartile as a share of the median, next to the metric's bound from
``BENCHMARK.json``. With two or more sets it also prints how far each set's
median lies from the first set's, in both directions, against the bound.
``--trace-pairs`` then makes two traced runs with the same seed per workload,
says which per-layer counts repeat exactly between them, and prints the
tracing overhead: each traced pass minus the median untraced ``total_s``.
Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: per-layer counts that should repeat exactly across runs of one seed
COUNTS = (
    "spark.jobs", "spark.eager_jobs", "spark.stages", "spark.tasks",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "stream.batches", "stream.input_rows", "store.bytes_written", "store.files",
)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float, float]:
    """(result line, run wall time, host steal % over the run)."""
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.strip().splitlines()[-20:])
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}:\n{tail}")
    diag = next(json.loads(x.split(":", 1)[1]) for x in proc.stderr.splitlines()
                if x.startswith("# diagnostics:"))
    return json.loads(lines[-1]), wall, diag["host.steal_pct"]


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def run_set(workload: str, seeds: range, seconds: int, bounds: dict, label: str) -> dict[str, list[float]]:
    samples: dict[str, list[float]] = {}
    walls, steals, attempted, failed = [], [], 0, 0
    for seed in seeds:
        out, wall, steal = run_once(workload, seed, seconds, 0)
        walls.append(wall)
        steals.append(steal)
        attempted += out["attempted"]
        failed += out["failed"]
        for name, m in out["metrics"].items():
            samples.setdefault(name, []).append(m["value"])
        print(f"# {label} {workload} seed {seed}: " + " ".join(
            f"{k}={v['value']:.4f}" for k, v in out["metrics"].items()) + f" wall={wall:.1f}s steal={steal:.2f}%",
              flush=True)
    print(f"\n{label} {workload}: {len(walls)} runs, run wall median {statistics.median(walls):.1f}s "
          f"max {max(walls):.1f}s, host steal median {statistics.median(steals):.2f}%, "
          f"failed_ratio {failed / attempted:.4f} ({failed} of {attempted})")
    print(f"  {'metric':<14} {'unit':<5} {'n':>3} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}")
    for name, vals in samples.items():
        med, q1, q3, sp = spread(vals)
        print(f"  {name:<14} {bounds[name]['unit']:<5} {len(vals):>3} {med:>10.4f} "
              f"{q1:>10.4f} {q3:>10.4f} {sp:>7.3f} {bounds[name]['bound']:>6.2f}")
    print(flush=True)
    return samples


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace-pairs", action="store_true")
    args = ap.parse_args()
    if args.runs < 2 or args.sets < 1:
        ap.error("--runs must be at least 2 and --sets at least 1")
    known = {w["name"] for w in bench["workloads"]}
    workloads = args.workloads.split(",")
    if not set(workloads) <= known:
        ap.error(f"unknown workload(s) {sorted(set(workloads) - known)}; known: {sorted(known)}")

    bounds = {m["name"]: m for m in bench["end_to_end"]}
    sets: dict[str, list[dict[str, list[float]]]] = {wl: [] for wl in workloads}
    for k in range(args.sets):
        first = args.seed_base + k * args.runs
        for wl in workloads:
            sets[wl].append(run_set(wl, range(first, first + args.runs), args.seconds, bounds, f"set {k + 1}"))

    for wl in workloads:
        for k in range(1, args.sets):
            for name, vals in sets[wl][k].items():
                m0, m1 = statistics.median(sets[wl][0][name]), statistics.median(vals)
                b = bounds[name]["bound"]
                up, down = m1 / m0 - 1, m0 / m1 - 1
                verdict = "within" if max(up, down) <= b else "OUTSIDE"
                print(f"{wl} {name}: set {k + 1} median {m1:.4f} vs set 1 {m0:.4f}: "
                      f"{up:+.3f} (set 1 vs set {k + 1}: {down:+.3f}), {verdict} bound {b}")
        if args.trace_pairs:
            a, _, _ = run_once(wl, args.seed_base, args.seconds, 1)
            b, _, _ = run_once(wl, args.seed_base, args.seconds, 1)
            same = [k for k in COUNTS if a["metrics"][k]["value"] == b["metrics"][k]["value"]]
            differ = [f"{k} ({a['metrics'][k]['value']:g} vs {b['metrics'][k]['value']:g})"
                      for k in COUNTS if k not in same]
            untraced = statistics.median(v for s in sets[wl] for v in s["total_s"])
            print(f"{wl} traced pair, seed {args.seed_base}: repeat exactly: {', '.join(same) or 'none'}")
            print(f"{wl} traced pair, seed {args.seed_base}: differ: {', '.join(differ) or 'none'}")
            print(f"{wl} tracing overhead: traced total_s minus median untraced total_s "
                  f"({untraced:.3f}s): {a['metrics']['trace.total_s']['value'] - untraced:+.3f}s, "
                  f"{b['metrics']['trace.total_s']['value'] - untraced:+.3f}s")
        print(flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

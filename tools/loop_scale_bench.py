"""Iteration-loop scaling probe (VERDICT r15 ask #9): do the
driver-stepped loop families (CC, PageRank, BPE, EM, the recursive walk)
still run SLOWER on 32 cores than 8 at 10x the data, or was the sf0.1
inversion pure fixed-cost domination?

Builds a synthetic 10x corpus under /tmp by replicating the
``$SPARK_GRAFT_SF_DIR`` corpus (bench.py's default: sf0.1) with
REPLICA-SALTED tokens: every token of replica r is suffixed ``_r``, so
each replica reproduces the original corpus's near-dup graph EXACTLY
(same shingle overlaps within a replica, zero shingle overlap across
replicas) — edges scale linearly with data, component diameters are
unchanged, and the loop-depth-vs-parallelism question is isolated from
graph-shape drift. events get replica-offset user/event ids (the walk's
per-user linked lists replicate). doc_id/user_id offsets stay far below
the 10^12 arg-min encoding bound.

Usage:
    python tools/loop_scale_bench.py build          # write /tmp corpus
    python tools/loop_scale_bench.py run [cpus]     # time the loop queries

Run it twice (e.g. cpus=32 and cpus=8), paste the table into SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR as BASE  # noqa: E402  ($SPARK_GRAFT_SF_DIR)

#: the warm pass runs on the corpus's sf0.001 sibling
WARM_SF = os.path.join(os.path.dirname(os.path.normpath(BASE)), "sf0.001")
OUT = "/tmp/spark_graft_sf1_loops"
REPLICAS = 10
OFF = 10**7

LOOP_QUERIES = [
    "near_dup_clusters",        # CC loop
    "near_dup_pagerank",        # 6 power iterations
    "bpe_trained_merges",       # 8 sequential merge rounds
    "unigram_vocab_em",         # EM rounds
    "events_steps_to_purchase", # recursive walk
]


def build() -> None:
    from pyspark.sql import functions as F

    from airflow_ml_pipeline_spark.session import get_spark

    spark = get_spark("loop_scale_build", master="local[32]")
    rep = spark.range(REPLICAS).select(F.col("id").alias("r"))

    docs = spark.read.parquet(f"{BASE}/documents.parquet").crossJoin(rep)
    salted_text = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda t: F.concat(t, F.lit("_"), F.col("r").cast("string")),
        ),
        " ",
    )
    (
        docs.select(
            (F.col("doc_id") + F.col("r") * OFF).alias("doc_id"),
            "lang",
            "source",
            salted_text.alias("text"),
        )
        .withColumn("n_chars", F.length("text").cast("int"))
        .write.mode("overwrite")
        .parquet(f"{OUT}/documents.parquet")
    )
    ev = spark.read.parquet(f"{BASE}/events.parquet").crossJoin(rep)
    cols = [c for c in ev.columns if c not in ("r", "event_id", "user_id")]
    (
        ev.select(
            (F.col("event_id") + F.col("r") * OFF).alias("event_id"),
            (F.col("user_id") + F.col("r") * OFF).alias("user_id"),
            *cols,
        )
        .write.mode("overwrite")
        .parquet(f"{OUT}/events.parquet")
    )
    print(f"built {OUT}: documents x{REPLICAS}, events x{REPLICAS}")


def run(cpus: str) -> None:
    from airflow_ml_pipeline_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("loop_scale_run", master=f"local[{cpus}]")
    qs = entrymod.queries()
    # small warm pass (codegen classes) on the real sf0.001 corpus
    for name in LOOP_QUERIES:
        qs[name](spark, WARM_SF).write.format("noop").mode(
            "overwrite"
        ).save()
    results = []
    for name in LOOP_QUERIES:
        times = []
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, OUT).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        results.append((name, min(times), times))
        print(f"{name}@{cpus}cpu x10data: min {min(times):.2f}s {[round(t,2) for t in times]}")
    print("| query | cpus | min s |")
    for name, best, _ in results:
        print(f"| {name} | {cpus} | {best:.2f} |")


if __name__ == "__main__":
    cmd = sys.argv[1:2]
    if cmd == ["build"]:
        build()
    elif cmd == ["run"]:
        run(sys.argv[2] if len(sys.argv) > 2 else "32")
    else:
        print("usage: python tools/loop_scale_bench.py build | run [cpus]",
              file=sys.stderr)
        sys.exit(2)

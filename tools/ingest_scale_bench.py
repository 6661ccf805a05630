"""Per-batch ingest cost vs store size (round-5 verdict ask #8).

Both streaming ingesters (`streaming/ingest.py`) are oracle-green at
sf0.01, but the driver oracle replays a FIXED corpus — it never shows how
the per-batch foreachBatch cost moves as the seen-content store grows,
which is the number a production operator actually watches (a per-batch
cost that scales with store size means ingest slows down forever).

This harness times the real upsert bodies (`upsert_batch`,
`upsert_near_batch`) for a FIXED incoming batch (the sf0.1 corpus's
doc_id%4==3 slice, 1250 docs) against synthetic stores at 1x / 10x / 100x
of the sf0.1-corpus store, and appends the measured curve to SCALING.md
(run with --print to skip the file update).

Store synthesis models a store of accumulated NOVEL content: each replica
carries the real corpus's rows with a doc_id offset and a replica-salted
fingerprint, so per-fingerprint document frequency stays realistic (the
production stop-fp refresh keeps it bounded); replica 0 is the genuine
corpus store, so real containment matches still occur.

Usage: python tools/ingest_scale_bench.py [--print]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import BinaryType  # noqa: E402

from airflow_ml_pipeline_spark.session import get_spark  # noqa: E402
from airflow_ml_pipeline_spark.sources.catalog import load_table  # noqa: E402
from airflow_ml_pipeline_spark.streaming.ingest import (  # noqa: E402
    upsert_batch,
    upsert_near_batch,
)
from airflow_ml_pipeline_spark.operators.dedup import (  # noqa: E402
    stop_fps,
    winnow_md5_postings,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/spark-graft-ingest-scale"
REPLICAS = [1, 10, 100]


def build_store(spark, base, replicas: int, path: str) -> int:
    """batch_id=0 partition holding `replicas` copies of a (doc_id, fp)
    frame; replica 0 is the genuine corpus, later replicas carry offset
    doc_ids and salted fingerprints (accumulated-novel-content model —
    one builder for both ingesters). A salted fp keeps
    the base's encoding: hex md5 for the exact store, 16-byte binary for
    the near-dup postings."""
    rep = spark.range(replicas).select(F.col("id").alias("r"))
    salted = F.md5(F.concat_ws(":", F.hex("fp"), F.col("r")))
    if isinstance(base.schema["fp"].dataType, BinaryType):
        salted = F.unhex(salted)
    store = base.crossJoin(rep).select(
        (F.col("doc_id") + F.col("r") * 10_000_000).alias("doc_id"),
        F.when(F.col("r") == 0, F.col("fp")).otherwise(salted).alias("fp"),
    )
    store.write.mode("overwrite").parquet(os.path.join(path, "batch_id=0"))
    return spark.read.parquet(path).count()


def main() -> None:
    spark = get_spark()
    docs = load_table(spark, SF_DIR, "documents")
    batch = docs.filter(F.col("doc_id") % 4 == 3).localCheckpoint()
    n_batch = batch.count()

    stop_dir = os.path.join(WORK, "stop_fps")
    if os.path.isdir(stop_dir):
        shutil.rmtree(stop_dir)
    stop_fps(winnow_md5_postings(docs)).write.mode("overwrite").parquet(
        stop_dir
    )

    rows = []
    for replicas in REPLICAS:
        exact_store = os.path.join(WORK, f"exact-x{replicas}")
        near_store = os.path.join(WORK, f"near-x{replicas}")
        out_dir = os.path.join(WORK, f"out-x{replicas}")
        for d in (exact_store, near_store, out_dir):
            if os.path.isdir(d):
                shutil.rmtree(d)
        exact_base = docs.select("doc_id", F.md5(F.col("text")).alias("fp"))
        n_exact = build_store(spark, exact_base, replicas, exact_store)
        n_near = build_store(
            spark, winnow_md5_postings(docs), replicas, near_store
        )

        # warm once, then min-of-3 steady state (shared-tenancy host)
        te, tn = [], []
        for i in range(4):
            shutil.rmtree(os.path.join(exact_store, "batch_id=1"), True)
            t0 = time.time()
            upsert_batch(batch, 1, exact_store)
            te.append(time.time() - t0)
            shutil.rmtree(os.path.join(near_store, "batch_id=1"), True)
            shutil.rmtree(os.path.join(out_dir, "batch_id=1"), True)
            t0 = time.time()
            upsert_near_batch(batch, 1, near_store, out_dir, stop_dir)
            tn.append(time.time() - t0)
        rows.append(
            (replicas, n_exact, min(te[1:]), n_near, min(tn[1:]))
        )
        print(
            f"x{replicas}: exact store {n_exact} rows -> {min(te[1:]):.2f}s/batch; "
            f"near store {n_near} rows -> {min(tn[1:]):.2f}s/batch",
            flush=True,
        )

    lines = [
        "",
        "### Streaming ingest: per-batch cost vs store size "
        "(tools/ingest_scale_bench.py)",
        "",
        f"Fixed incoming batch of {n_batch} docs (sf0.1 corpus, doc_id%4==3)",
        "upserted against synthetic seen-content stores of accumulated novel",
        "content (replica-salted fingerprints keep per-fp document frequency",
        "realistic). min-of-3 steady-state wall per foreachBatch body:",
        "",
        "| store scale | exact store rows | exact s/batch | "
        "near store rows | near s/batch |",
        "|---|---|---|---|---|",
    ]
    for replicas, n_exact, t_exact, n_near, t_near in rows:
        lines.append(
            f"| x{replicas} | {n_exact} | {t_exact:.2f} | "
            f"{n_near} | {t_near:.2f} |"
        )
    block = "\n".join(lines) + "\n"
    if "--print" in sys.argv:
        print(block)
        return
    marker = "### Streaming ingest: per-batch cost vs store size"
    with open(os.path.join(ROOT, "SCALING.md")) as f:
        text = f.read()
    if marker in text:  # replace the stale block (ends at next heading/EOF)
        start = text.index(marker)
        nxt = text.find("\n## ", start)
        nxt2 = text.find("\n### ", start + len(marker))
        cut = min(x for x in (nxt, nxt2, len(text)) if x >= 0)
        text = text[:start].rstrip("\n") + "\n" + text[cut:]
    with open(os.path.join(ROOT, "SCALING.md"), "w") as f:
        f.write(text.rstrip("\n") + "\n" + block)
    print("SCALING.md updated")


if __name__ == "__main__":
    main()

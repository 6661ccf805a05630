"""Streaming dedup-ingest contract: store convergence to the batch-exact
fingerprint set, first-arrival winner semantics, and foreachBatch retry
idempotency (the exactly-once property the partition-per-batch layout
exists for)."""

from __future__ import annotations

import shutil
import time

from pyspark.sql import functions as F

from airflow_ml_pipeline_spark.operators import dedup
from airflow_ml_pipeline_spark.sources.catalog import load_table
from airflow_ml_pipeline_spark.streaming import ingest


def _fresh(spark, sf_dir):
    arrivals, store, checkpoint = ingest.state_dirs(
        "docs", sf_dir, "documents", "arrivals", "exact_store", "exact_checkpoint"
    )
    for d in (store, checkpoint):
        shutil.rmtree(d, ignore_errors=True)
    return arrivals, store, checkpoint


def test_store_converges_to_batch_exact_dedup(spark, sf_dir):
    _fresh(spark, sf_dir)
    store = ingest.run_dedup_ingest(spark, sf_dir)
    stored = spark.read.parquet(store)
    store_fps = {r.fp for r in stored.select("fp").collect()}
    batch_fps = {
        r.fp
        for r in load_table(spark, sf_dir, "documents")
        .select(F.md5("text").alias("fp"))
        .distinct()
        .collect()
    }
    assert store_fps == batch_fps
    # one winner per fingerprint — the store IS deduplicated
    assert stored.count() == len(store_fps)
    # survivors agree with the exact-dedup kernel's survivor count
    assert stored.count() == dedup.dedup_corpus(spark, sf_dir).count()


def test_rerun_is_noop(spark, sf_dir):
    store = ingest.run_dedup_ingest(spark, sf_dir)
    before = spark.read.parquet(store).count()
    store2 = ingest.run_dedup_ingest(spark, sf_dir)  # checkpoint: no new files
    assert store2 == store
    assert spark.read.parquet(store).count() == before


def test_upsert_batch_retry_is_idempotent(spark, tmp_path):
    """Replaying a committed batch must rewrite exactly its own partition:
    same rows after the retry, and no self-anti-join erasure."""
    store = str(tmp_path / "store")
    b0 = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], ["doc_id", "text"]
    )
    b1 = spark.createDataFrame(
        [(4, "beta"), (5, "gamma")], ["doc_id", "text"]
    )
    ingest.upsert_batch(b0, 0, store)
    ingest.upsert_batch(b1, 1, store)
    rows = {(r.fp, r.doc_id) for r in spark.read.parquet(store).collect()}
    # batch 0: min-doc winners; batch 1: beta already stored -> only gamma
    assert len(rows) == 3
    winners = {r.doc_id for r in spark.read.parquet(store).collect()}
    assert winners == {1, 3, 5}
    # retry both batches (crash-replay): store unchanged
    ingest.upsert_batch(b0, 0, store)
    ingest.upsert_batch(b1, 1, store)
    assert {(r.fp, r.doc_id) for r in spark.read.parquet(store).collect()} == rows


def test_first_arrival_wins_across_batches(spark, tmp_path):
    """Across batches the winner is first-arrival (ingestion semantics),
    even when a later batch carries a smaller doc_id."""
    store = str(tmp_path / "store")
    ingest.upsert_batch(
        spark.createDataFrame([(9, "dup")], ["doc_id", "text"]), 0, store
    )
    ingest.upsert_batch(
        spark.createDataFrame([(1, "dup")], ["doc_id", "text"]), 1, store
    )
    rows = spark.read.parquet(store).collect()
    assert len(rows) == 1 and rows[0].doc_id == 9


def test_near_dup_ingest_replay_and_batch_semantics(spark, sf_dir):
    """AvailableNow replay of the near-dup ingester is idempotent (second
    run converges to the same survivor set via the checkpoint), batch 0
    passes through untouched (nothing seen before it), and every dropped
    doc belongs to a later batch."""
    surv_dir = ingest.run_near_dedup_ingest(spark, sf_dir)
    surv1 = {r.doc_id for r in spark.read.parquet(surv_dir).collect()}
    surv2 = {
        r.doc_id
        for r in spark.read.parquet(
            ingest.run_near_dedup_ingest(spark, sf_dir)
        ).collect()
    }
    assert surv1 == surv2
    from airflow_ml_pipeline_spark.sources.catalog import load_table

    all_ids = {
        r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    }
    batch0 = {i for i in all_ids if i % ingest.DOC_N_BATCHES == 0}
    assert batch0 <= surv1
    assert all(i % ingest.DOC_N_BATCHES != 0 for i in all_ids - surv1)


_STATE_DIRS_SCRIPT = """
import os, sys
from airflow_ml_pipeline_spark.streaming import ingest
ingest.INGEST_ROOT = sys.argv[1]
(store,) = ingest.state_dirs("docs", sys.argv[2], "documents", "store")
os.makedirs(store, exist_ok=True)
print(store)
"""


def test_state_dirs_are_per_process_and_removed_at_exit(sf_dir, tmp_path):
    """Two processes asking for the same family get different state
    dirs, and neither dir outlives its process: no run can read a store
    another process built."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [
        subprocess.run(
            [sys.executable, "-c", _STATE_DIRS_SCRIPT, str(tmp_path), sf_dir],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.strip()
        for _ in range(2)
    ]
    assert paths[0] != paths[1]
    for p in paths:
        assert p.startswith(str(tmp_path) + "/"), p
        assert not os.path.exists(p), p
    assert os.listdir(tmp_path) == []


def test_process_root_sweeps_dead_and_aged_roots(tmp_path, monkeypatch):
    """The first use of a root sweeps siblings whose pid is dead or that
    are untouched for 12 h (old-layout family roots by age alone); a
    young root of a live foreign process survives."""
    import os
    import subprocess
    import sys
    import time

    dead = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    live = os.getppid()
    young_live, old_live = f"{live}-0a0a0a0a", f"{live}-0b0b0b0b"
    young_family, old_family = "docs-sf0.001-cafecafecafecafe", "near-sf0.001-deadbeefdeadbeef"
    for d in (f"{dead}-0c0c0c0c", young_live, old_live, young_family, old_family):
        (tmp_path / d).mkdir()
    old = time.time() - 13 * 3600
    for d in (old_live, old_family):
        os.utime(tmp_path / d, (old, old))

    monkeypatch.setattr(ingest, "INGEST_ROOT", str(tmp_path))
    ingest.process_root()
    assert sorted(os.listdir(tmp_path)) == sorted([young_live, young_family])


def test_ingest_root_alone_moves_every_state_path(sf_dir, tmp_path, monkeypatch):
    """Repointing ``ingest.INGEST_ROOT`` moves the ingest stores, the
    event stage, the rollup stage and the PQ store under the new root —
    nothing captured the /tmp default at import time."""
    import pytest

    from airflow_ml_pipeline_spark.operators import pq, temporal
    from airflow_ml_pipeline_spark.streaming import sources

    class _Built(Exception):
        pass

    rollup = []

    def _record(spark, sf, out, cutoff):
        rollup.append(out)
        raise _Built

    monkeypatch.setattr(ingest, "INGEST_ROOT", str(tmp_path))
    monkeypatch.setattr(temporal, "materialize_hourly_rollup", _record)
    with pytest.raises(_Built):
        temporal.events_hourly_continuous(None, sf_dir)
    root = ingest.process_root()
    assert root.startswith(str(tmp_path) + "/"), root
    for path in (
        *ingest.state_dirs("timing", sf_dir, "events", "arrivals", "store"),
        sources.stage_events_dir(sf_dir),
        *rollup,
        pq._pq_store_dir(sf_dir),
    ):
        assert path.startswith(root + "/"), path


def test_table_fingerprint_tracks_file_versions(sf_dir, tmp_path):
    """The one content fingerprint: stable across calls, changed by a
    file's mtime or size under the table, distinct per table, and
    rejecting unknown tables like ``load_table``."""
    import os

    import pytest

    from airflow_ml_pipeline_spark.sources.catalog import table_fingerprint

    (tmp_path / "documents.parquet").mkdir()
    part = tmp_path / "documents.parquet" / "part-0.parquet"
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), part)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
    d = str(tmp_path)

    fp = table_fingerprint(d, "documents")
    assert fp == table_fingerprint(d, "documents")
    assert fp != table_fingerprint(d, "events")
    st = part.stat()
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    touched = table_fingerprint(d, "documents")
    assert touched != fp
    with open(part, "ab") as f:
        f.write(b"\0")
    assert table_fingerprint(d, "documents") not in (fp, touched)
    ev = table_fingerprint(d, "events")
    os.utime(tmp_path / "events.parquet", (0, 0))
    assert table_fingerprint(d, "events") != ev
    with pytest.raises(ValueError, match="Unknown table"):
        table_fingerprint(d, "no_such_table")


def test_funnel_rerun_is_stable_and_consistent(spark, sf_dir):
    """Re-running the funnel ingest against an unchanged corpus is a
    checkpointed no-op (identical stats), arrivals partition the corpus,
    and per-batch counters obey the funnel ordering."""
    from airflow_ml_pipeline_spark.sources.catalog import load_table
    from airflow_ml_pipeline_spark.streaming.ingest import (
        DOC_N_BATCHES,
        stream_ingest_funnel,
    )

    r1 = sorted(map(tuple, stream_ingest_funnel(spark, sf_dir).collect()))
    r2 = sorted(map(tuple, stream_ingest_funnel(spark, sf_dir).collect()))
    assert r1 == r2
    assert len(r1) == DOC_N_BATCHES
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r[1] for r in r1) == n_docs
    for batch_id, n_arr, n_gate, n_uniq, n_new in r1:
        assert 0 <= n_gate <= n_arr
        assert 0 < n_uniq <= n_arr
        assert 0 <= n_new <= n_uniq


def test_delete_ingest_tombstones_and_reentry(spark, sf_dir):
    """Semantics of the delete lifecycle on the staged schedule: the
    live view excludes every fingerprint whose last event is a delete,
    includes every fingerprint with a later add (re-entry), tombstone
    rows exist in the store (the deletes actually landed), and the
    exercise is non-trivial (some deleted fingerprint stays dead)."""
    store = ingest.run_delete_ingest(spark, sf_dir)
    rows = spark.read.parquet(store).collect()
    dels = {r.fp for r in rows if r.op == "del"}
    assert dels, "no tombstones landed — the delete batches are empty"
    live = {
        r.fp: (r.doc_id, r.added_in_batch)
        for r in ingest.stream_store_deletes(spark, sf_dir).collect()
    }
    # recompute the closed form: last delete batch per fp, first add
    # batch after it
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    adds: dict[str, list[tuple[int, int]]] = {}
    lastdel: dict[str, int] = {}
    import hashlib

    for r in docs.collect():
        fp = hashlib.md5(r.text.encode()).hexdigest()
        ab = {0: 0, 1: 2, 2: 4, 3: 5}[r.doc_id % 4]
        adds.setdefault(fp, []).append((ab, r.doc_id))
        if r.doc_id % 4 == 0 and r.doc_id % 3 == 0:
            lastdel[fp] = max(lastdel.get(fp, -1), 1)
        if r.doc_id % 4 <= 1 and r.doc_id % 5 == 2:
            lastdel[fp] = max(lastdel.get(fp, -1), 3)
    want = {}
    dead = set()
    for fp, arr in adds.items():
        dmax = lastdel.get(fp, -1)
        after = [(b, d) for b, d in arr if b > dmax]
        if after:
            b = min(x[0] for x in after)
            want[fp] = (min(d for bb, d in after if bb == b), b)
        else:
            dead.add(fp)
    assert live == want
    assert dead, "every deleted fingerprint re-entered — schedule too weak"
    assert dead.isdisjoint(live)


def test_delete_ingest_rerun_is_noop(spark, sf_dir):
    """Replaying against the processed checkpoint changes nothing: the
    store's row multiset (incl. tombstones) is stable across reruns."""
    store = ingest.run_delete_ingest(spark, sf_dir)
    # tombstone rows carry NULL doc_id — sort on repr so None compares
    before = sorted(map(tuple, spark.read.parquet(store).collect()), key=repr)
    store2 = ingest.run_delete_ingest(spark, sf_dir)
    assert store2 == store
    after = sorted(map(tuple, spark.read.parquet(store).collect()), key=repr)
    assert before == after


def test_apply_delete_batch_retry_is_idempotent(spark, tmp_path):
    """A retried micro-batch rewrites exactly its own partition: adds
    anti-join LIVE prior fingerprints (so a re-arrival after deletion
    wins again) and a second apply of the same batch leaves the store
    identical."""
    store = str(tmp_path / "store")
    b0 = spark.createDataFrame(
        [(1, "aa", "add"), (2, "aa", "add"), (3, "bb", "add")],
        "doc_id long, text string, op string",
    )
    ingest.apply_delete_batch(b0, 0, store)
    b1 = spark.createDataFrame(
        [(1, "aa", "del")], "doc_id long, text string, op string"
    )
    ingest.apply_delete_batch(b1, 1, store)
    b2 = spark.createDataFrame(
        [(9, "aa", "add")], "doc_id long, text string, op string"
    )
    ingest.apply_delete_batch(b2, 2, store)
    first = sorted(map(tuple, spark.read.parquet(store).collect()), key=repr)
    ingest.apply_delete_batch(b2, 2, store)  # retry
    second = sorted(map(tuple, spark.read.parquet(store).collect()), key=repr)
    assert first == second
    live = {
        r.fp: r.doc_id
        for r in ingest._live_fps(spark.read.parquet(store)).collect()
    }
    import hashlib

    fa = hashlib.md5(b"aa").hexdigest()
    fb = hashlib.md5(b"bb").hexdigest()
    # 'aa' was deleted at batch 1 and re-entered at batch 2 with the NEW
    # arrival's id — not the batch-0 winner's
    assert live == {fa: 9, fb: 3}


def test_compacted_store_preserves_reads(spark, sf_dir):
    """Compaction must not change any read: the live view over the
    compacted store equals the live view over the full log, the
    compacted store has exactly one row per distinct fingerprint, and
    dead fingerprints keep their final tombstone."""
    store = ingest.run_delete_ingest(spark, sf_dir)
    compacted = ingest.compact_delete_store(spark, sf_dir)
    log = spark.read.parquet(store)
    comp = spark.read.parquet(compacted)
    assert comp.count() == log.select("fp").distinct().count()
    live_log = sorted(
        map(tuple, ingest._live_fps(log).collect()), key=repr
    )
    live_comp = sorted(
        map(tuple, ingest._live_fps(comp).collect()), key=repr
    )
    assert live_log == live_comp
    dead = comp.filter(F.col("op") == "del")
    assert dead.count() > 0
    assert dead.filter(F.col("doc_id").isNotNull()).count() == 0


def test_asof_view_relates_to_final_state(spark, sf_dir):
    """Time travel semantics: the as-of-batch-3 view equals the fold
    over the log restricted to batches <= 3; every fp deleted at batch
    <= 3 and not re-added by then is absent; and the final view differs
    from the as-of view exactly by later batches' effects (re-entries
    and new adds — nothing live as-of 3 with no later event changes)."""
    store = ingest.run_delete_ingest(spark, sf_dir)
    log = spark.read.parquet(store)
    asof = {
        r.fp: (r.doc_id, r.added_in_batch)
        for r in ingest.stream_store_asof(spark, sf_dir).collect()
    }
    manual = {
        r.fp: (r.doc_id, r.added_in_batch)
        for r in ingest._live_fps(
            log.filter(F.col("batch_id").cast("int") <= ingest.ASOF_BATCH)
        ).collect()
    }
    assert asof == manual
    final = {
        r.fp: (r.doc_id, r.added_in_batch)
        for r in ingest._live_fps(log).collect()
    }
    later = {
        r.fp
        for r in log.filter(
            F.col("batch_id").cast("int") > ingest.ASOF_BATCH
        ).collect()
    }
    # a key with no event after the cutoff keeps its as-of state
    for fp, st in asof.items():
        if fp not in later:
            assert final.get(fp) == st, fp
    for fp, st in final.items():
        if fp not in later:
            assert asof.get(fp) == st, fp
    # the views genuinely differ (batches 4/5 add new content)
    assert asof != final


def _numbered(spark, n_rows, batch):
    """(id, payload, batch) rows, ``batch`` an int column computed by the
    SQL expression ``batch`` over ``id``."""
    return spark.range(n_rows).select(
        "id",
        F.concat(F.lit("row-"), F.col("id").cast("string")).alias("payload"),
        F.expr(batch).cast("int").alias("batch"),
    )


def test_stage_batches_writes_one_file_per_batch(spark, tmp_path):
    """One staging pass: exactly one ``batch-i.parquet`` per batch, file i
    holds exactly batch i's rows (without the ``batch`` column), mtimes
    strictly ascend with i, and nothing of the pass is left behind."""
    import os

    arrivals = str(tmp_path / "arrivals")
    ingest._stage_batches(arrivals, 4, lambda: _numbered(spark, 50, "id % 4"))
    assert sorted(os.listdir(arrivals)) == [
        "_staged", *(f"batch-{i}.parquet" for i in range(4))
    ]
    mtimes = []
    for i in range(4):
        path = os.path.join(arrivals, f"batch-{i}.parquet")
        mtimes.append(os.stat(path).st_mtime)
        part = spark.read.parquet(path)
        assert part.columns == ["id", "payload"]
        assert sorted(r.id for r in part.collect()) == list(range(i, 50, 4))
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


def test_stage_batches_rejects_bad_batch_numbering(spark, tmp_path):
    """A builder whose batch column skips a value or runs past n-1 would
    shift every oracle's batch arithmetic: staging raises and leaves no
    marker, so a later call stages again."""
    import os

    import pytest

    for name, expr in (("skip", "CASE WHEN id % 4 = 2 THEN 3 ELSE id % 4 END"),
                       ("past", "id % 5")):
        arrivals = str(tmp_path / name)
        with pytest.raises(ValueError, match="not exactly 0..3"):
            ingest._stage_batches(arrivals, 4, lambda e=expr: _numbered(spark, 40, e))
        assert not os.path.exists(os.path.join(arrivals, "_staged"))


def test_stage_batches_with_marker_launches_no_job(spark, tmp_path):
    """Once the marker exists, staging neither calls the builder nor
    launches a Spark job."""
    arrivals = str(tmp_path / "arrivals")
    ingest._stage_batches(arrivals, 2, lambda: _numbered(spark, 10, "id % 2"))

    def build():
        raise AssertionError("builder ran with the marker present")

    sc = spark.sparkContext
    sc.setJobGroup("restage", "second staging call")
    try:
        assert ingest._stage_batches(arrivals, 2, build) == arrivals
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("restage") == []


def test_streams_share_one_arrivals_set_per_table(spark, sf_dir, monkeypatch):
    """The exact, quality, near-dup, funnel and PII streams replay one
    documents arrivals directory; the semantic-dedup and PQ-encode
    streams replay one embeddings arrivals directory."""
    import pytest

    from airflow_ml_pipeline_spark.operators.quality_model import (
        stream_doc_quality_scores,
    )

    class _Replayed(Exception):
        pass

    seen = []

    def _record(_spark, arrivals):
        seen.append(arrivals)
        raise _Replayed

    monkeypatch.setattr(ingest, "arrivals_stream", _record)
    doc_streams = (
        ingest.run_dedup_ingest, stream_doc_quality_scores,
        ingest.run_near_dedup_ingest, ingest.run_funnel_ingest,
        ingest.run_pii_scrub_ingest,
    )
    vec_streams = (ingest.run_sem_dedup_ingest, ingest.run_pq_encode_ingest)
    for run in doc_streams + vec_streams:
        with pytest.raises(_Replayed):
            run(spark, sf_dir)
    docs, vecs = seen[: len(doc_streams)], seen[len(doc_streams):]
    assert len(set(docs)) == 1 and len(set(vecs)) == 1
    assert docs[0] != vecs[0]


def _stage_three(spark, tmp_path):
    """A 3-batch ``_stage_batches`` set: file i holds ids with id % 3 == i."""
    arrivals = str(tmp_path / "arrivals")
    return ingest._stage_batches(
        arrivals, 3, lambda: _numbered(spark, 30, "id % 3")
    )


def _run(spark, arrivals, checkpoint, batches):
    """Replay ``arrivals``, recording each micro-batch's ids in ``batches``."""
    ingest.replay(
        ingest.arrivals_stream(spark, arrivals), checkpoint,
        lambda df, bid: batches.setdefault(bid, sorted(r.id for r in df.collect())),
    )


def test_replay_gives_batch_i_its_rows_and_checks_reruns(spark, tmp_path):
    """An in-turn replay gives micro-batch i exactly the rows staged with
    batch == i, read with the marker's schema; a second call over the
    same checkpoint runs no batch and passes the file-to-batch check."""
    arrivals = _stage_three(spark, tmp_path)
    assert ingest.arrivals_stream(spark, arrivals).columns == ["id", "payload"]
    checkpoint = str(tmp_path / "checkpoint")
    batches: dict = {}
    _run(spark, arrivals, checkpoint, batches)
    assert batches == {i: list(range(i, 30, 3)) for i in range(3)}
    again: dict = {}
    _run(spark, arrivals, checkpoint, again)
    assert again == {}


def test_replay_raises_when_a_file_lands_in_another_batch(spark, tmp_path):
    """Swapping the mtimes of batch-1 and batch-2 makes the file source
    read batch-2.parquet as micro-batch 1: replay raises."""
    import os

    import pytest

    arrivals = _stage_three(spark, tmp_path)
    one, two = (os.path.join(arrivals, f"batch-{i}.parquet") for i in (1, 2))
    t1, t2 = os.stat(one).st_mtime, os.stat(two).st_mtime
    os.utime(one, (t2, t2))
    os.utime(two, (t1, t1))
    swapped = r"batch-([12])\.parquet was not read by micro-batch \1"
    with pytest.raises(RuntimeError, match=swapped):
        _run(spark, arrivals, str(tmp_path / "checkpoint"), {})


def _job_id(sc, group):
    """The id of a one-task marker job run under ``group``."""
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for _ in range(100):  # the status store fills from the listener bus
        ids = sc.statusTracker().getJobIdsForGroup(group)
        if ids:
            return ids[0]
        time.sleep(0.05)
    raise AssertionError(f"marker job {group} never reported")


def test_converged_recall_launches_one_job(spark, sf_dir):
    """Re-calling a converged ingest query stages nothing, infers no
    arrivals schema, recounts nothing and checks the batch mapping from
    the checkpoint's files: only the query body's store read launches a
    job. Counted by job-id range between two marker jobs, because the
    stream thread's jobs carry the stream's own job group."""
    from airflow_ml_pipeline_spark.streaming.ingest import (
        stream_semantic_dedup_ingest,
    )

    stream_semantic_dedup_ingest(spark, sf_dir)
    sc = spark.sparkContext
    before = _job_id(sc, "recall-before")
    stream_semantic_dedup_ingest(spark, sf_dir)
    after = _job_id(sc, "recall-after")
    assert after - before - 1 <= 1

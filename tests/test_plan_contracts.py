"""Physical-plan contracts: the scale-critical plan properties the engine
is designed around, asserted so a refactor cannot silently regress them.
These are the claims PLANS.md documents as evidence — here they gate CI.

Each assertion names the property it protects; `explain("formatted")`
output is stable enough for substring checks on operator names.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from airflow_ml_pipeline_spark.operators import dedup
from airflow_ml_pipeline_spark.plans import registry
from airflow_ml_pipeline_spark.sources.catalog import load_table

import __spark_entry__  # noqa: F401  (populates the registry)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_fingerprint_stages_add_no_shuffle(spark, sf_dir):
    """MinHash signatures and SimHash fingerprints are per-row projections:
    over an unrepartitioned scan their plans must contain NO Exchange —
    the round-3 rewrites exist precisely to keep fingerprinting off the
    shuffle path at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    for frame in (dedup.minhash_signatures(docs), dedup.simhash64(docs)):
        plan = _plan(frame)
        assert "Exchange" not in plan, plan


def test_dimension_joins_broadcast(spark, sf_dir):
    """The revenue rollup joins facts against broadcastable dims: the plan
    must use broadcast hash joins, never a sort-merge (which would shuffle
    the fact table on the join key)."""
    plan = _plan(registry.QUERIES["revenue_by_segment"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_scan_filters_push_down(spark, sf_dir):
    """pricing_summary's shipdate predicate must reach the parquet scan
    (row-group pruning at scale), and the scan must not read columns the
    query never touches."""
    plan = _plan(registry.QUERIES["pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed, plan
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_comment" not in read_schema, plan


def test_global_topk_avoids_full_sort(spark, sf_dir):
    """knn's global top-k must execute as TakeOrderedAndProject (per
    partition top-k + merge), not a full Sort + Limit."""
    plan = _plan(registry.QUERIES["knn_cosine_bruteforce"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_pair_kernels_never_cartesian(spark, sf_dir):
    """The near-dup pair kernels must join on keys (shingle / bucket) —
    a CartesianProduct in any of them means the candidate restriction
    was lost and the query is quadratic in the corpus."""
    for name in (
        "near_dup_pairs_jaccard",
        "near_dup_pairs_minhash",
        "embedding_near_dup_pairs",
    ):
        plan = _plan(registry.QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


def test_covariance_gram_pass_shape(spark, sf_dir):
    """embedding_covariance_matrix's pair aggregate must partial-
    aggregate BELOW its exchange (map-side combine collapses each task's
    2080-key explode to bounded partials — the whole scale story), the
    64-row dim sums must broadcast into the pair frame, and nothing may
    plan a cartesian or sort-merge join."""
    plan = _plan(registry.QUERIES["embedding_covariance_matrix"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # partial/final pair: a HashAggregate must ALSO appear after the
    # first Exchange in the printed tree (the map-side partial below the
    # shuffle) — the final-aggregate-before-its-exchange ordering alone
    # holds for any shuffle aggregate (r15 review: the earlier
    # first_agg < first_ex assert was vacuous)
    first_ex = plan.find("Exchange")
    assert first_ex >= 0, plan
    assert plan.find("HashAggregate", first_ex) != -1, plan


def test_batch_ann_probe_broadcasts_the_plan_table(spark, sf_dir):
    """The batched ANN join must stream the coded store past a
    BROADCAST (query x probed-cell) plan table — a shuffle join here
    would move the whole store to serve a bounded query batch — and
    nothing may plan a cartesian."""
    plan = _plan(registry.QUERIES["ann_ivfpq_batch_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_broadcast_eval_decontamination(spark, sf_dir):
    """Both decontamination ops stream the corpus past a BROADCAST eval
    side; a shuffle join here would move the 100 TB side."""
    for name in ("benchmark_contamination", "embedding_decontamination"):
        plan = _plan(registry.QUERIES[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
            f"{name}:\n{plan}"
        )
        assert "SortMergeJoin" not in plan, f"{name}:\n{plan}"


def test_expand_runs_over_preaggregated_partials(spark, sf_dir):
    """CUBE/ROLLUP/GROUPING SETS must Expand the ~|flag x status| partial
    rows, never the fact table (round-4 rewrite: Expand over raw rows
    multiplies the 100 TB shuffle volume by the grouping-set count). The
    contract: Expand's subtree contains a HashAggregate — i.e. the finest
    grouping is aggregated BEFORE the Expand multiplies rows."""
    for name in ("cube_revenue", "rollup_revenue", "grouping_sets_revenue"):
        plan = _plan(registry.QUERIES[name](spark, sf_dir))
        assert "Expand" in plan, f"{name}:\n{plan}"
        # formatted explain lists operators leaf-first; the fact-scan
        # aggregation must appear BEFORE (below) the Expand node
        first_agg = plan.find("HashAggregate")
        expand_at = plan.find("Expand")
        assert 0 <= first_agg < expand_at, f"{name}:\n{plan}"


def test_exact_verify_joins_candidates_not_corpus(spark, sf_dir):
    """verified_near_dup_pairs must fetch shingle sets via a BROADCAST of
    the candidate-id frame (round-4 rewrite): a sort-merge join keyed on
    (doc, shingle) strings shuffles the whole exploded corpus to serve a
    candidate set orders of magnitude smaller."""
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(dedup.verified_near_dup_pairs(docs))
    assert "BroadcastHashJoin" in plan, plan


def test_serving_fast_path_available_for_champion_models(spark):
    """The REST fast path requires the single-instance prediction API on
    every model type the training registry can promote — if a Spark ML
    upgrade drops it, serving silently falls back to ~500 ms/request."""
    from pyspark.ml.classification import (
        GBTClassificationModel,
        LogisticRegressionModel,
        RandomForestClassificationModel,
    )

    for cls in (
        LogisticRegressionModel,
        RandomForestClassificationModel,
        GBTClassificationModel,
    ):
        assert hasattr(cls, "predict") and hasattr(cls, "predictProbability"), cls


def test_dup_span_coverage_no_pair_explosion(spark, sf_dir):
    """Span coverage must never form document pairs: the duplicated-gram
    detection is a groupBy + semi join on the gram hash (with map-side
    partial aggregation so boilerplate grams combine before the exchange),
    not a posting-list self-join."""
    from airflow_ml_pipeline_spark.operators.dedup import dup_span_coverage

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(dup_span_coverage(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_count" in plan, plan  # df agg combines map-side


def test_semantic_dedup_bucket_equijoin(spark, sf_dir):
    """SemDeDup's pairwise stage must be an equi-join on the cluster code
    (hash-partitionable at 100 TB) — if the bucket predicate ever stops
    being recognized as a join key, the plan degrades to an all-pairs
    nested loop."""
    from airflow_ml_pipeline_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(semantic_dedup(emb))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cdc_and_bigram_avoid_pair_explosion(spark, sf_dir):
    """CDC chunking and the bigram LM must stay equi-join/window shaped:
    no cartesian products or (non-broadcast-singleton) nested loops. The
    1-row corpus-total broadcast is the one legitimate nested-loop join
    in the bigram plan (same pattern as embedding_decontamination)."""
    plan = _plan(registry.QUERIES["cdc_chunk_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    plan = _plan(registry.QUERIES["doc_bigram_logprob"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # singleton-total broadcast may appear at most once (count plan NODES:
    # formatted explain mentions each node twice — tree + detail section)
    import re

    nodes = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(nodes) <= 1, plan


def test_manifest_aggregation_is_partial(spark, sf_dir):
    """The manifest's shard aggregation must combine map-side (partial
    aggregate present) — a collect_list agg cannot partial-combine, so the
    contract checks the count/sum side of the plan still shows partials
    upstream in the prepared-corpus lineage."""
    plan = _plan(registry.QUERIES["training_data_manifest"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "partial_" in plan, plan


def test_round5_pair_kernels_never_cartesian(spark, sf_dir):
    """Round-5 blocked self-joins (SimHash bands, FastSS deletion keys)
    must join on their blocking keys — a CartesianProduct means the
    candidate restriction was lost and the detector went quadratic."""
    for name in ("near_dup_pairs_simhash", "customer_fuzzy_matches"):
        plan = _plan(registry.QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"


def test_prefix_sum_windows_stay_bucketed(spark, sf_dir):
    """The two-phase prefix-sum queries may window WITHOUT a partition key
    only over the tiny bucket frame; the data-sized cumulative window must
    be partitioned by bucket. The plan therefore contains a
    partitionBy-bucket window, and the anomaly query's window partitions
    by event_type (never a global sort of events)."""
    plan = _plan(registry.QUERIES["customer_pareto_class"](spark, sf_dir))
    assert "bucket" in plan, plan
    plan = _plan(registry.QUERIES["events_anomaly_zscore"](spark, sf_dir))
    assert "event_type" in plan.split("Window")[1][:400], plan


#: physical operators that ship rows across the JVM/Python boundary
_PYTHON_EXECS = (
    "FlatMapGroupsInPandasWithState",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
)


def test_stream_anomaly_lineage_has_no_python_exec(
    spark, sf_dir, tmp_path, monkeypatch
):
    """stream_anomaly_zscore runs the batch twin's window kernel inside
    the micro-batch, with no Python worker: no plan it runs — the stream
    it starts, each frame a micro-batch writes, the frame it returns —
    holds a Python exec node. A fresh state root makes the stream really
    run instead of reading an earlier run's converged store."""
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from airflow_ml_pipeline_spark.streaming import ingest

    monkeypatch.setattr(ingest, "INGEST_ROOT", str(tmp_path))
    streams, writes = [], []

    def spy(seen, method):
        def wrapped(self, *args, **kwargs):
            seen.append(_plan(self._df))
            return method(self, *args, **kwargs)

        return wrapped

    monkeypatch.setattr(
        DataStreamWriter, "start", spy(streams, DataStreamWriter.start)
    )
    monkeypatch.setattr(
        DataFrameWriter, "parquet", spy(writes, DataFrameWriter.parquet)
    )
    result = registry.QUERIES["stream_anomaly_zscore"](spark, sf_dir)
    for plan in streams + writes + [_plan(result)]:
        assert not any(node in plan for node in _PYTHON_EXECS), plan
    assert streams and result.count() > 0


def test_bpe_encode_is_replace_chain_over_vocab(spark, sf_dir):
    """The encode stage must stay a literal string-replace chain (JVM
    codegen) over the distinct-word vocab — no higher-order aggregate
    lambdas (the two rejected formulations) and no Python UDF."""
    plan = _plan(registry.QUERIES["bpe_encoded_corpus"](spark, sf_dir))
    assert "replace" in plan, plan
    assert "aggregate(" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_hard_negatives_anchor_set_is_fixed_k(spark, sf_dir):
    """Round-6 scale fix: the contrastive-anchor set is a FIXED-K hash
    top-K (TakeOrderedAndProject in the plan, never a full Sort+Limit),
    so total compute is O(n*K) however large the corpus — the previous
    vec_id-modulus policy grew anchors with n and was O(n^2/25). The
    result side re-asserts the cap: at most ANCHOR_K anchors appear."""
    from airflow_ml_pipeline_spark.operators.similarity import ANCHOR_K

    df = registry.QUERIES["embedding_hard_negatives"](spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    anchors = {r.anchor_id for r in df.select("anchor_id").distinct().collect()}
    assert 0 < len(anchors) <= ANCHOR_K


def test_equi_depth_buckets_balance_dense_bands(spark):
    """The shared prefix kernel must spread a value distribution with a
    dense band across buckets by population (equi-depth), where a fixed
    value grid would pile the band into one bucket: 10k rows, 90% of
    them drawn from one narrow band, must land no more than ~3x the
    ideal n/buckets rows in the largest bucket, and bucket ids must be
    monotone non-decreasing in the value."""
    from airflow_ml_pipeline_spark.functions.prefix import equi_depth_bucket

    df = spark.range(10_000).selectExpr(
        # 90% in [1000, 1010) (dense band), 10% spread over [0, 100000)
        "CASE WHEN id % 10 < 9 THEN 1000 + (id % 100) / 10.0 "
        "ELSE (id * 7919) % 100000 END AS r"
    )
    n_buckets = 16
    b = df.withColumn("bucket", equi_depth_bucket(df, "r", n_buckets))
    counts = {r.bucket: r.c for r in b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    assert max(counts.values()) <= 3 * (10_000 // n_buckets), counts
    # monotone: bucket of sorted values never decreases
    rows = b.orderBy("r").select("bucket").collect()
    seq = [r.bucket for r in rows]
    assert seq == sorted(seq)


def test_global_row_number_matches_single_partition_window(spark):
    """The two-phase bucketed rank must be bit-identical to the global
    window it replaces, ascending and descending, on a tie-heavy skewed
    fixture (the exact shape that splits ties across buckets if cut
    monotonicity is ever broken)."""
    from pyspark.sql.window import Window

    from airflow_ml_pipeline_spark.functions.prefix import global_row_number

    df = spark.range(5_000).selectExpr(
        "id AS k",
        # heavy ties (id % 7) for 80% of rows, a dense band for the rest
        "CASE WHEN id % 5 < 4 THEN CAST(id % 7 AS DOUBLE) "
        "ELSE 100.0 + (id % 50) / 10.0 END AS v",
    )
    for descending in (False, True):
        order = F.desc("v") if descending else F.asc("v")
        expected = {
            (r.k, r.rk)
            for r in df.withColumn(
                "rk",
                F.row_number()
                .over(Window.orderBy(order, F.asc("k")))
                .cast("bigint"),
            ).collect()
        }
        got = {
            (r.k, r.rk)
            for r in global_row_number(
                df, "v", [F.asc("k")], 16, descending=descending
            ).collect()
        }
        assert got == expected, f"descending={descending}"


def test_global_row_number_tied_splits_hapax_class(spark):
    """The tie-heavy rank kernel must (a) reproduce the single-partition
    global window exactly on a Zipf-shaped fixture where ~70% of rows
    share value=1 (the hapax class plain equi-depth cannot split), and
    (b) actually split that dominant tie class across sub-buckets — the
    whole point of the two-level design."""
    from pyspark.sql.window import Window

    from airflow_ml_pipeline_spark.functions.prefix import (
        _str_prefix_surrogate,
        global_row_number_tied,
    )

    df = spark.range(4_000).selectExpr(
        "concat('tok_', md5(CAST(id AS STRING))) AS tok",
        # 70% hapax (freq=1), the rest a handful of heavier tie classes
        "CASE WHEN id % 10 < 7 THEN 1 ELSE CAST(2 + id % 5 AS BIGINT) "
        "END AS freq",
    )
    expected = {
        (r.tok, r.rk)
        for r in df.withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.desc("freq"), F.asc("tok")))
            .cast("bigint"),
        ).collect()
    }
    n_sub = 16
    ranked = global_row_number_tied(df, "freq", "tok", n_sub, descending=True)
    got = {(r.tok, r.rk) for r in ranked.collect()}
    assert got == expected

    # the hapax class must spread: no sub-bucket holds more than ~3x the
    # ideal share of the 2800 freq=1 rows
    hapax = df.filter(F.col("freq") == 1)
    sur = _str_prefix_surrogate(F.col("tok"))
    qs = [i / n_sub for i in range(1, n_sub)]
    cuts = hapax.agg(F.percentile_approx(sur, qs, 1000)).collect()[0][0]
    sub_counts = (
        hapax.withColumn("sur", sur)
        .withColumn(
            "sub",
            F.size(
                F.filter(
                    F.lit([float(c) for c in cuts]).cast("array<double>"),
                    lambda c: c < F.col("sur"),
                )
            ),
        )
        .groupBy("sub")
        .count()
        .collect()
    )
    assert len(sub_counts) >= n_sub // 2, sub_counts
    assert max(r["count"] for r in sub_counts) <= 3 * (2_800 // n_sub), (
        sub_counts
    )


def test_global_row_number_tied_keeps_null_value_rows(spark):
    """NULL-`value` rows must SURVIVE the tied kernel and rank exactly
    where the single global window puts them (NULLS FIRST ascending,
    NULLS LAST descending) — the struct-wrapped class key makes the
    cuts/offsets equi-joins null-safe; a bare-column join silently
    dropped the NULL class (ADVICE r6)."""
    from pyspark.sql.window import Window

    from airflow_ml_pipeline_spark.functions.prefix import (
        global_row_number_tied,
    )

    df = spark.range(300).selectExpr(
        "concat('tok_', md5(CAST(id AS STRING))) AS tok",
        # every third row has NULL freq; the rest heavy ties
        "CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(1 + id % 2 AS BIGINT) "
        "END AS freq",
    )
    for descending in (False, True):
        order = F.desc("freq") if descending else F.asc("freq")
        expected = {
            (r.tok, r.rk)
            for r in df.withColumn(
                "rk",
                F.row_number()
                .over(Window.orderBy(order, F.asc("tok")))
                .cast("bigint"),
            ).collect()
        }
        got = {
            (r.tok, r.rk)
            for r in global_row_number_tied(
                df, "freq", "tok", 4, descending=descending
            ).collect()
        }
        assert got == expected, f"descending={descending}"
        assert len(got) == 300  # nothing dropped


def test_str_prefix_surrogate_monotone_on_adversarial_strings(spark):
    """The tied-rank kernel's exactness argument rests on: s1 <= s2 (in
    Spark/DuckDB byte order) implies surrogate(s1) <= surrogate(s2), with
    equality only for shared 7-byte prefixes. Check the nasty cases:
    empty strings, embedded NULs, multi-byte UTF-8 (2- and 4-byte
    sequences), strings equal through byte 7 diverging at byte 8, and
    prefix-of-each-other pairs."""
    from airflow_ml_pipeline_spark.functions.prefix import (
        _str_prefix_surrogate,
    )

    toks = [
        "",
        "\x00",
        "\x00a",
        "a",
        "a\x00",
        "ab",
        "abcdefg",
        "abcdefg\x00",
        "abcdefgh",
        "abcdefgz",
        "abcdefh",
        "abé",        # 2-byte UTF-8 (C3 A9)
        "abéx",
        "z",
        "é",          # starts multi-byte
        "\U0001f600",      # 4-byte UTF-8 (F0 9F 98 80)
        "\U0001f600a",
        "￿",          # EF BF BF
    ]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = {
        r.tok: r.s
        for r in df.select(
            "tok", _str_prefix_surrogate(F.col("tok")).alias("s")
        ).collect()
    }
    # exact reference semantics: first-7-bytes big-endian through the
    # same 53-bit double rounding (float(int) rounds half-even, as does
    # Spark's decimal-string -> double cast)
    def model(t: str) -> float:
        return float(int.from_bytes(t.encode("utf-8")[:7].ljust(7, b"\x00"), "big"))

    for t in toks:
        assert got[t] == model(t), (t, got[t], model(t))
    # Spark's string order is UTF-8 byte order; the surrogate must be
    # monotone non-decreasing along it (collisions merge sub-buckets,
    # they never reorder — the kernel's exactness argument)
    ordered = sorted(toks, key=lambda t: t.encode("utf-8"))
    for a, b in zip(ordered, ordered[1:]):
        assert got[a] <= got[b], (a, b, got[a], got[b])


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.text(
            alphabet=st.sampled_from(
                # adversarial token alphabet: NUL, multi-byte UTF-8 (2/3/4
                # bytes), and a shared-prefix-prone ASCII core
                list("ab_0\x00é€") + ["\U0001f600"]
            ),
            min_size=0,
            max_size=10,
        ),
        st.integers(min_value=1, max_value=4),  # heavy ties by construction
        min_size=1,
        max_size=60,
    ),
    st.booleans(),
)
def test_global_row_number_tied_random_parity(freq_by_tok, descending):
    """Randomized parity: on arbitrary unique tokens (incl. NULs,
    multi-byte UTF-8, shared prefixes beyond the 7-byte surrogate) with
    tie-heavy frequencies, the two-level kernel must reproduce the
    single-partition window exactly, both directions."""
    from pyspark.sql.window import Window

    from airflow_ml_pipeline_spark.functions.prefix import (
        global_row_number_tied,
    )
    from airflow_ml_pipeline_spark.session import get_spark

    spark = get_spark("prop", master="local[4]")
    df = spark.createDataFrame(
        [(t, f) for t, f in freq_by_tok.items()], ["tok", "freq"]
    ).repartition(4)
    order = F.desc("freq") if descending else F.asc("freq")
    expected = {
        (r.tok, r.rk)
        for r in df.withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(order, F.asc("tok")))
            .cast("bigint"),
        ).collect()
    }
    got = {
        (r.tok, r.rk)
        for r in global_row_number_tied(
            df, "freq", "tok", 4, descending=descending
        ).collect()
    }
    assert got == expected


def test_class_row_number_matches_partitioned_window(spark):
    """The per-class two-phase rank must be bit-identical to
    ``row_number() OVER (PARTITION BY cls ORDER BY v [DESC], k)`` —
    including NULL-class rows (struct-wrapped key) and NULL values
    (bucket-0 placement) — on a skewed fixture where one class holds 80%
    of the rows (the shape a per-class serial window degenerates on)."""
    from pyspark.sql.window import Window

    from airflow_ml_pipeline_spark.functions.prefix import class_row_number

    df = spark.range(4_000).selectExpr(
        "id AS k",
        # one dominant class, a few small ones, and a NULL class
        "CASE WHEN id % 10 < 8 THEN 'en' "
        "WHEN id % 10 = 8 THEN concat('l', id % 3) "
        "ELSE NULL END AS cls",
        # ties plus a dense band, with some NULL values sprinkled in
        "CASE WHEN id % 97 = 0 THEN NULL "
        "WHEN id % 5 < 3 THEN CAST(id % 7 AS DOUBLE) "
        "ELSE 50.0 + (id % 40) / 10.0 END AS v",
    )
    for descending in (False, True):
        order = F.desc("v") if descending else F.asc("v")
        expected = {
            (r.k, r.rk)
            for r in df.withColumn(
                "rk",
                F.row_number()
                .over(Window.partitionBy("cls").orderBy(order, F.asc("k")))
                .cast("bigint"),
            ).collect()
        }
        got = {
            (r.k, r.rk)
            for r in class_row_number(
                df, "cls", "v", [F.asc("k")], 16, descending=descending
            ).collect()
        }
        assert got == expected, f"descending={descending}"


def test_source_kl_scans_corpus_once_and_broadcasts(spark, sf_dir):
    """source_unigram_kl's corpus-level counts REUSE the per-(source,
    bucket) frame (pinned lazily, so the checkpoint leaf subsumes the
    one parquet scan in the displayed plan): at most one documents scan
    may appear, and every join against the bounded count frames must
    broadcast — a sort-merge would shuffle the 256-row side's partner."""
    plan = _plan(registry.QUERIES["source_unigram_kl"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_class_prototypes_broadcast_centroids(spark, sf_dir):
    """embedding_class_prototypes joins the exploded vectors against the
    labels x dims centroid frame: that side must broadcast (shuffling the
    exploded n x d rows on (label, dim) is the scale failure), and the
    plan must be cartesian-free."""
    plan = _plan(registry.QUERIES["embedding_class_prototypes"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cross_source_matrix_no_cartesian_no_text_after_clusters(spark, sf_dir):
    """The source-pair matrix self-joins per-(cluster, source) COUNTS —
    never doc pairs and never text: the plan must be cartesian-free and
    no post-cluster stage may read the text column (the count products
    carry everything)."""
    plan = _plan(registry.QUERIES["near_dup_cross_source_matrix"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


# ---- round-9 additions ----

def test_vocab_em_usage_joins_broadcast_and_no_cartesian(spark, sf_dir):
    """unigram_vocab_em: the |pieces|-sized usage/total frames must
    broadcast into the final projection (shuffling the 16-row side's
    partner would be the scale failure) and the plan must be
    cartesian-free apart from the single-row total (Spark plans a 1-row
    broadcast nested loop for it, which is fine — but never a
    CartesianProduct)."""
    plan = _plan(registry.QUERIES["unigram_vocab_em"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_funnel_by_source_reuses_survivor_checkpoint(spark, sf_dir):
    """corpus_funnel_by_source shares the pipeline's staged lineage: the
    survivor stage rides the eager checkpoint (an RDD scan leaf), so the
    plan may scan the parquet corpus at most twice (raw + gated stages —
    the gated stage's filter is pushed to its own scan) and must contain
    no cartesian."""
    plan = _plan(registry.QUERIES["corpus_funnel_by_source"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") <= 2, plan


def test_jaccard_histogram_aggregates_pinned_pairs(spark, sf_dir):
    """near_dup_jaccard_histogram consumes the bucketed pair frame twice
    (pair counts + distinct docs); the frame is pinned, so the displayed
    plan's leaves are the checkpoint RDD — the posting-list pair
    explosion must not appear once per consumer."""
    plan = _plan(registry.QUERIES["near_dup_jaccard_histogram"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 0, plan  # both branches read the pinned RDD


def test_split_drift_single_pass_centroids(spark, sf_dir):
    """embedding_split_drift computes BOTH side centroids as conditional
    aggregates in one (label, dim) pass — no self-join of the centroid
    frame (a second exploded scan would double the dominant cost), and
    the per-label counts frame broadcasts."""
    plan = _plan(registry.QUERIES["embedding_split_drift"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Generate explode") + plan.count("Generate posexplode") <= 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_learnability_mix_broadcasts_total(spark, sf_dir):
    """source_learnability_mix: the 1-row total joins by broadcast, and
    the per-source aggregate must not introduce a cartesian."""
    plan = _plan(registry.QUERIES["source_learnability_mix"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


# ---- round-10 additions ----

def test_boilerplate_coverage_broadcasts_blacklist(spark, sf_dir):
    """doc_boilerplate_coverage: the df-thresholded blacklist (tiny by
    construction) must broadcast onto the per-position gram stream — a
    sort-merge join here would shuffle every gram position at 100 TB —
    and the plan must be cartesian-free apart from the 1-row threshold
    broadcast."""
    plan = _plan(registry.QUERIES["doc_boilerplate_coverage"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_boilerplate_ngrams_partial_aggregates(spark, sf_dir):
    """corpus_boilerplate_ngrams: the df count must run with map-side
    partial aggregation (HashAggregate before AND after the exchange),
    so a boilerplate gram combines inside each scan partition before
    shuffling — the heavy-hitter economics the docstring claims."""
    plan = _plan(registry.QUERIES["corpus_boilerplate_ngrams"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_epoch_allocation_broadcasts_quotas(spark, sf_dir):
    """source_epoch_allocation: the |sources|-row quota frame broadcasts
    into the per-source token aggregate; nothing data-sized may shuffle
    for the final join."""
    plan = _plan(registry.QUERIES["source_epoch_allocation"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_em_pruned_pins_shared_lineages(spark, sf_dir):
    """unigram_vocab_em_pruned: wfreq and the EM score frame are each
    multi-consumer and pinned, so the displayed plan must not re-derive
    the corpus word explode per consumer — at most one parquet scan
    survives in the final plan (the rest read checkpoint RDDs) and no
    cartesian beyond the broadcast map build."""
    plan = _plan(registry.QUERIES["unigram_vocab_em_pruned"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") <= 1, plan


# ---- round-11 additions ----

def test_source_boilerplate_scrub_broadcasts_blacklist(spark, sf_dir):
    """source_boilerplate_scrubbed: the (source, gram) blacklist —
    |sources| x |chrome grams|-bounded — must broadcast onto the
    per-position gram stream (a sort-merge join would shuffle every
    position at 100 TB), and the per-source doc-count threshold frame
    must broadcast into the blacklist build."""
    plan = _plan(registry.QUERIES["source_boilerplate_scrubbed"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_source_boilerplate_ngrams_partial_aggregates(spark, sf_dir):
    """source_boilerplate_ngrams: map-side combine on the (source, gram)
    key — partial HashAggregate before the exchange, final after — the
    same heavy-hitter economics as the corpus-global blacklist."""
    plan = _plan(registry.QUERIES["source_boilerplate_ngrams"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_ivf_assignment_is_projection_only(spark, sf_dir):
    """ann_ivf_topk (frozen-quantizer form, r11): cluster assignment is
    pure column arithmetic over the scan — the plan must contain no
    join for the assignment itself (the only joins are the broadcast of
    the 1-row query vector) and no shuffle exchange before the top-k
    (TakeOrderedAndProject handles the global order)."""
    plan = _plan(registry.QUERIES["ann_ivf_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


# ---- round-12 additions ----

def test_doremi_weights_broadcast_grid(spark, sf_dir):
    """source_mixture_reweighted: the MW iteration is |sources| x
    DOREMI_STEPS broadcast arithmetic — the per-step totals and the
    max/count scalars must ride broadcasts (no cartesian product), and
    the per-source excess aggregate must combine map-side (partial
    HashAggregate before the exchange) like every doc-keyed reduction."""
    plan = _plan(registry.QUERIES["source_mixture_reweighted"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_doremi_fill_broadcasts_quotas(spark, sf_dir):
    """corpus_doremi_mix_fill: the |sources|-row reweighted quota frame
    broadcasts onto the scored corpus — the fill may never shuffle the
    corpus for the quota join (the same contract as the proportional
    fill; only the per-source running-sum window exchanges rows)."""
    plan = _plan(registry.QUERIES["corpus_doremi_mix_fill"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_funnel_stage4_broadcasts_blacklist(spark, sf_dir):
    """corpus_curation_funnel (5-stage form): stage 4's per-source
    blacklist must broadcast onto the prepared survivors' position
    stream, exactly like the standalone per-source scrub — adding the
    stage may not introduce a cartesian product or a sort-merge join of
    the position stream against the blacklist."""
    plan = _plan(registry.QUERIES["corpus_curation_funnel"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_curriculum_schedule_distributed_ranks(spark, sf_dir):
    """corpus_curriculum_schedule: both ranks run as the two-phase
    bucketed kernels — offsets ride broadcasts (no cartesian product, no
    sort-merge join of the corpus against the tiny offset/cut frames),
    so no serial global window survives in the plan."""
    plan = _plan(registry.QUERIES["corpus_curriculum_schedule"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_curriculum_manifest_partial_aggregates(spark, sf_dir):
    """curriculum_shard_manifest: the position-tagged checksum must
    aggregate with map-side partials (partial HashAggregate before the
    (phase, shard) exchange, final after) — the O(1)-state design the
    docstring claims over an ordered-collect alternative — and no
    cartesian product may appear."""
    plan = _plan(registry.QUERIES["curriculum_shard_manifest"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "CollectList" not in plan and "collect_list" not in plan, plan


def test_budget_ablation_single_window_pass(spark, sf_dir):
    """corpus_mix_budget_ablation: ONE per-source running-sum window
    compared against the broadcast quota grid — the plan may contain
    exactly one Window operator and no cartesian product (each extra
    budget must ride the broadcast, never a second window pass)."""
    plan = _plan(registry.QUERIES["corpus_mix_budget_ablation"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("(Window") + plan.count(") Window") >= 1, plan
    # exactly one Window node id in the formatted plan
    import re
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


# ---- round-13 additions ----

def test_ivfpq_probe_is_projection_only(spark, sf_dir):
    """ann_ivfpq_topk: assignment, PQ encoding, and ADC scoring are all
    pure column arithmetic against frozen literals over ONE scan — no
    join of any kind (the LUTs are driver-side literals, not a
    broadcast frame), no shuffle before the top-k
    (TakeOrderedAndProject), no all-pairs anything."""
    plan = _plan(registry.QUERIES["ann_ivfpq_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[-1], plan
    assert "TakeOrderedAndProject" in plan, plan


def test_pq_error_single_scan_no_shuffle(spark, sf_dir):
    """pq_quantization_error: per-vector reconstruction arithmetic over
    one scan — the ONLY Exchange is the r15 vec_id spread of the
    single-split scan (REPARTITION_BY_NUM, so the codegen'd encode pass
    does not run on one task), no join (the 100 TB posture: encode and
    audit in the same ingest pass). Was "no Exchange" before r15; the
    spread commit (6e65e8d) changed the shape but the driver's
    fail-fast pytest never reached this contract — re-pinned r16."""
    import re as _re

    plan = _plan(registry.QUERIES["pq_quantization_error"](spark, sf_dir))
    assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivfpq_rerank_broadcasts_shortlist(spark, sf_dir):
    """ann_ivfpq_rerank_topk: the exact-rerank stage fetches the ADC
    shortlist via BROADCAST joins (50 rows against the vector store) —
    no sort-merge join, no cartesian, and a TakeOrderedAndProject
    top-k."""
    plan = _plan(registry.QUERIES["ann_ivfpq_rerank_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_filtered_ann_pushes_predicate_into_scan(spark, sf_dir):
    """ann_ivfpq_filtered_topk's label predicate must reach the parquet
    scan (PushedFilters — row-group pruning at scale, NOT a post-filter
    on an unfiltered shortlist), and the ADC path must stay join-free
    (the lookup tables are literals, so there is nothing to cartesian
    against)."""
    plan = _plan(registry.QUERIES["ann_ivfpq_filtered_topk"](spark, sf_dir))
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "EqualTo(label,3)" in pushed, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_adaptive_probe_scan_is_projection_only(spark, sf_dir):
    """ann_ivfpq_adaptive_topk: after the driver-side probe plan (two
    metadata jobs — the query vector fetch and the 16-row histogram),
    the scan itself must be the same projection-only ADC shape as the
    fixed probe: no join, no shuffle before the top-k, global top-k as
    TakeOrderedAndProject."""
    plan = _plan(registry.QUERIES["ann_ivfpq_adaptive_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cell_stats_aggregate_is_partial(spark, sf_dir):
    """pq_cell_stats: ONE corpus scan feeding map-side partial
    aggregation — the exchange carries 16-group partials (plus the
    distinct-code two-phase), never raw rows; no join anywhere."""
    plan = _plan(registry.QUERIES["pq_cell_stats"](spark, sf_dir))
    # count physical scan NODES (the formatted plan repeats the node
    # name once in the tree and once in the detail listing)
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "HashAggregate" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_winnowing_postings_never_cross_the_network(spark, sf_dir):
    """doc_winnowing_md5 (round-15 opt): the docs frame is hash-spread by
    doc_id BEFORE the per-position explode, so the per-doc window min
    rides that partitioning — the only Exchange in the plan is the
    doc-text repartition (REPARTITION_BY_NUM on doc_id); the exploded
    postings (~one 32-char hash PER CHARACTER of text) must never be
    re-shuffled (was: a posting-sized ENSURE_REQUIREMENTS exchange,
    ~25x the text bytes)."""
    import re as _re

    plan = _plan(registry.QUERIES["doc_winnowing_md5"](spark, sf_dir))
    assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan


def test_span_gram_postings_stay_doc_local(spark, sf_dir):
    """dup_span_coverage over doc_id-spread docs (round-15 opt): the
    gaps-and-islands window and the per-doc distinct reuse the
    pre-explode doc_id partitioning — no ENSURE_REQUIREMENTS exchange
    led by doc_id may appear unless its keys carry the gram hash ``h``
    (the gram-df aggregate still exchanges on the gram hash, carrying
    map-side partials)."""
    from airflow_ml_pipeline_spark.operators.dedup import dup_span_coverage
    from airflow_ml_pipeline_spark.sources.catalog import load_spread

    docs = load_spread(spark, sf_dir, "documents", by="doc_id")
    plan = _plan(dup_span_coverage(docs))
    import re as _re

    for m in _re.finditer(
        r"Arguments: hashpartitioning\((.*?), \d+\), ENSURE_REQUIREMENTS", plan
    ):
        # The capture is the full key list (nested parens included, e.g.
        # xxhash64(gram#12, 42)); split on top-level commas.
        keys, depth, cur = [], 0, ""
        for ch in m.group(1):
            if ch == "," and depth == 0:
                keys.append(cur.strip())
                cur = ""
            else:
                depth += ch == "("
                depth -= ch == ")"
                cur += ch
        keys.append(cur.strip())
        # Forbidden shape: an ENSURE_REQUIREMENTS exchange led by doc_id
        # with no gram-hash column — doc_id alone or a composite such as
        # (doc_id, p) is the posting-sized re-shuffle the r15 spread
        # removed. A key list that also carries the gram hash is the
        # legitimate gram aggregate.
        names = [k.split("#")[0] for k in keys]
        assert names[0] != "doc_id" or "h" in names, plan


# ---- round-16 additions: the build-round newcomers (VERDICT r15 ask #7) ----

def test_group_split_broadcasts_cluster_labels(spark, sf_dir):
    """corpus_group_split: the edge-bounded cluster-labels frame reaches
    the corpus id stream as a BROADCAST left join — never a sort-merge
    join (which would shuffle the corpus by doc_id for a labels frame
    bounded by near-dup pair volume), never a cartesian; the md5-bucket
    split is a pure projection on top."""
    plan = _plan(registry.QUERIES["corpus_group_split"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_batch_topk_partial_topk_before_exchange(spark, sf_dir):
    """ann_ivfpq_batch_topk: the probe table reaches the coded store as
    a BROADCAST join (ANCHOR_K x NPROBE rows, never shuffled store
    rows), and the per-query top-k runs as WindowGroupLimit BELOW the
    q_id exchange — each partition ships at most K rows per query, not
    every scored candidate (the batch-ANN analogue of
    TakeOrderedAndProject). The scan is vec_id-spread (r16: the encode
    and the anchor sort-limit otherwise run on ONE task)."""
    import re as _re

    plan = _plan(registry.QUERIES["ann_ivfpq_batch_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    # WindowGroupLimit appears twice: partial (map side) + final
    assert len(_re.findall(r"\(\d+\) WindowGroupLimit", plan)) == 2, plan

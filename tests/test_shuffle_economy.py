"""Shuffle-economy regression gate (VERDICT r8 ask #5): measured
rows-shuffled-per-row-read ceilings for the scale-critical families, so a
refactor that un-prunes a payload column (or reintroduces an Expand
under heavy aggregation buffers) fails CI instead of a 100 TB run.

Runs ``tools/measure.py`` as a SUBPROCESS: the tool starts and stops its
own session and attributes every job submitted while a query runs to
that query, so it needs a JVM where nothing else runs — not the shared
test session.

Ceilings are sf0.01 measurements with ~2x headroom (the ratio is a plan
property, far more stable than wall time — the audit counts rows, not
seconds). Families:

- REPORTS (bounded aggregates): shuffled/read <= 0.05 — these queries
  ship counters, never data.
- FINGERPRINT DEDUP: <= 2.5 — at most one bounded fingerprint/id row
  per input row plus cluster-lineage overhead; the TEXT never shuffles.
- EXEMPT (documented): ``near_dup_pairs_jaccard`` is the exact pair
  kernel (the oracle-checkable twin) whose posting self-join is
  pair-sized BY DESIGN — SCALING.md documents it as the measured reason
  the LSH path is the scale route. No ceiling, but it must stay the
  only unbounded member.
- SPILL: zero everywhere. The one historical offender
  (``corpus_sketch_stats``: two COUNT(DISTINCT) in one aggregate =
  Expand x3 carrying exact-percentile buffers, 310 MB spill at sf0.01)
  was fixed in round 9 by splitting the distinct pass from the sketch
  pass; this gate keeps it fixed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"

REPORT_QUERIES = [
    "pricing_summary",
    "revenue_by_segment",
    "lang_distribution",
    "lang_temperature_rates",
    "corpus_mixture_weights",
    "doc_dsir_weights",
    "doc_stats",
]
REPORT_CEILING = 0.05

DEDUP_QUERIES = [
    "dedup_exact",
    "dedup_exact_normalized",
    "dedup_corpus",
    "dedup_source_priority",
    "corpus_prepared",
    "multimodal_dedup_by_digest",
    "near_dup_clusters",
    "near_dup_canonical_by_source",
]
DEDUP_CEILING = 2.5

EXEMPT_PAIR_KERNELS = ["near_dup_pairs_jaccard"]

#: the r10 boilerplate family: dominated by the shared VOCABULARY-sized
#: gram-df aggregate (measured 26.8 / 14.1 / 14.1 shuffled/read at
#: sf0.01 — |distinct grams| x touching-partitions partials; Zipf keeps
#: it sub-linear in corpus size). Ceiling = worst measurement x ~1.5
#: headroom; a breach means the blacklist build started shuffling
#: positions (or payloads) instead of distinct-gram partials.
GRAM_KERNELS = [
    "corpus_boilerplate_ngrams",
    "doc_boilerplate_coverage",
    "doc_boilerplate_scrubbed",
    # r11 per-source variants: same vocabulary-sized exchange, keyed
    # (source, gram) — measured 27.6 / 11.5 at sf0.01, the global
    # trio's band (a posting carries exactly one source, so the key
    # widens but the volume doesn't)
    "source_boilerplate_ngrams",
    "source_boilerplate_scrubbed",
]
GRAM_CEILING = 40.0

SPILL_SENTINELS = ["corpus_sketch_stats"]


@pytest.fixture(scope="module")
def audit() -> dict[str, dict[str, int]]:
    names = (
        REPORT_QUERIES + DEDUP_QUERIES + EXEMPT_PAIR_KERNELS
        + GRAM_KERNELS + SPILL_SENTINELS
    )
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
        out = f.name
    try:
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "measure.py"),
             "--json", out, "--sf", SF_DIR, *names],
            cwd=REPO, check=True, capture_output=True, timeout=900,
        )
        with open(out) as f:
            return json.load(f)["results"]
    finally:
        os.unlink(out)


def _ratio(m: dict[str, int]) -> float:
    assert m["input_rows"] > 0, "audit attributed no input to the query"
    return m["shuffle_rows"] / m["input_rows"]


def test_report_family_ships_counters_not_data(audit):
    over = {
        n: round(_ratio(audit[n]), 4)
        for n in REPORT_QUERIES
        if _ratio(audit[n]) > REPORT_CEILING
    }
    assert not over, f"report queries shuffling more than {REPORT_CEILING}x input: {over}"


def test_dedup_family_ships_fingerprints_not_text(audit):
    over = {
        n: round(_ratio(audit[n]), 4)
        for n in DEDUP_QUERIES
        if _ratio(audit[n]) > DEDUP_CEILING
    }
    assert not over, f"dedup queries shuffling more than {DEDUP_CEILING}x input: {over}"


def test_no_query_spills(audit):
    spilled = {
        n: m["spill"] for n, m in audit.items() if m["spill"] > 0
    }
    assert not spilled, (
        f"queries spilling to memory/disk at sf0.01 (bytes): {spilled} — "
        "at 100 TB this is the difference between in-memory partials and "
        "a disk-bound stage; check for Expand under heavy aggregation "
        "buffers or an unpruned payload column"
    )


def test_exempt_kernel_is_audited_and_documented(audit):
    """The pair kernel must still RUN under the audit (so its ratio stays
    measured and reported), it just carries no ceiling."""
    for n in EXEMPT_PAIR_KERNELS:
        assert audit[n]["input_rows"] > 0
        assert audit[n]["shuffle_rows"] > 0


def test_gram_kernel_family_stays_vocabulary_sized(audit):
    """The boilerplate trio's shuffle is the blacklist build — distinct
    gram partials, vocabulary-sized. A ratio past the ceiling means the
    build regressed to shuffling positions or payloads."""
    over = {
        n: round(_ratio(audit[n]), 4)
        for n in GRAM_KERNELS
        if _ratio(audit[n]) > GRAM_CEILING
    }
    assert not over, f"gram kernels shuffling more than {GRAM_CEILING}x input: {over}"
    for n in GRAM_KERNELS:
        assert audit[n]["spill"] == 0


def test_measure_rejects_unknown_query_before_starting_spark():
    """An unknown name prints usage and exits 2 before any JVM starts: with
    JAVA_HOME pointing nowhere, a session start would fail with exit 1."""
    env = {**os.environ, "JAVA_HOME": os.path.join(REPO, "no-such-java")}
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "measure.py"),
         "pricing_summary", "no_such_query"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 2, res.stderr
    assert res.stderr.startswith("usage: tools/measure.py"), res.stderr
    assert "unknown queries: no_such_query" in res.stderr, res.stderr


@pytest.mark.parametrize(
    "argv,message",
    [
        (["oracle_check.py", SF_DIR, "no_such_query"],
         "undeclared queries: no_such_query"),
        (["oracle_check.py", "no_such_query"], "not a directory: no_such_query"),
        (["dump_plan.py"], ""),
        (["dump_plan.py", "out", "no_such_query"],
         "undeclared queries: no_such_query"),
    ],
    ids=["oracle-unknown-name", "oracle-no-sf-dir", "plan-no-args", "plan-unknown-name"],
)
def test_tools_reject_bad_arguments_before_starting_spark(tmp_path, argv, message):
    """oracle_check and dump_plan print their usage and exit 2 on a bad
    argument, with JAVA_HOME pointing nowhere (a session start would exit
    1), so a misspelled query name can never pass vacuously."""
    env = {**os.environ, "JAVA_HOME": os.path.join(REPO, "no-such-java")}
    script, *args = argv
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", script), *args],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 2, res.stderr
    assert res.stderr.startswith(f"usage: python tools/{script}"), res.stderr
    assert message in res.stderr, res.stderr
    assert not (tmp_path / "out").exists()

"""Outside-in tracing for the benchmark runner.

Spans are kept in memory and written once at the end of a run. Spark job and
stage metrics come from the session's UI REST API after the measured window
and are attached to the innermost span whose time window contains their
submission time, so jobs started by streaming query threads are attributed
too (job groups miss them). Streaming progress comes from a
``StreamingQueryListener`` the benchmark registers itself; each progress
event becomes a ``stream.batch`` span under the span that contains it.
"""

from __future__ import annotations

import datetime
import json
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener


class Span:
    __slots__ = ("name", "start", "end", "parent", "attrs")

    def __init__(self, name: str, start: float, parent: "Span | None" = None):
        self.name, self.start, self.end = name, start, start
        self.parent, self.attrs = parent, {}

    def as_dict(self, index: dict[int, int]) -> dict:
        return {
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "parent": None if self.parent is None else index[id(self.parent)],
            "attrs": self.attrs,
        }


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def span(self, name: str, start: float, end: float, parent: Span | None = None, **attrs) -> Span:
        s = Span(name, start, parent)
        s.end = end
        s.attrs.update(attrs)
        self.spans.append(s)
        return s

    def innermost(self, t: float, within: list[Span]) -> Span | None:
        """The shortest span in ``within`` whose window contains ``t``."""
        best = None
        for s in within:
            if s.start <= t <= s.end and (best is None or s.end - s.start < best.end - best.start):
                best = s
        return best

    def write(self, path: str) -> None:
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            json.dump([s.as_dict(index) for s in self.spans], f)


class ProgressListener(StreamingQueryListener):
    """Records every micro-batch progress report while ``active``."""

    def __init__(self) -> None:
        self.active = False
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (pyspark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        if self.active:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def drain_listener_bus(spark) -> None:
    """Wait until queued listener events (progress reports included) are
    delivered, so a pass's last batches land before the pass is closed."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(1.0)
    time.sleep(0.2)


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    # REST times look like 2024-01-01T00:00:00.123GMT; progress like ...123Z
    text = text.replace("GMT", "").replace("Z", "")
    dt = datetime.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def fetch_spark_metrics(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the UI REST API, with epoch-second times."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = [s for s in _get(f"{base}/stages") if s.get("submissionTime")]
    for j in jobs:
        j["t"] = _ts(j.get("submissionTime"))
    for s in stages:
        s["t"] = _ts(s.get("submissionTime"))
        s["t_end"] = _ts(s.get("completionTime")) or s["t"]
        try:
            summary = _get(
                f"{base}/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=1.0"
            )
            s["max_task_ms"] = summary["executorRunTime"][0]
        except Exception:
            s["max_task_ms"] = 0.0
    return jobs, stages


def attach(tracer: Tracer, targets: list[Span], jobs: list[dict], stages: list[dict], progress: list[dict]) -> None:
    """Hang Spark jobs/stages and stream batches on the spans containing them."""
    for j in jobs:
        s = tracer.innermost(j["t"], targets) if j["t"] else None
        if s is not None:
            s.attrs.setdefault("jobs", []).append(j["jobId"])
    for st in stages:
        s = tracer.innermost(st["t"], targets)
        if s is not None:
            s.attrs.setdefault("stages", []).append(
                {k: st.get(k) for k in STAGE_FIELDS}
            )
    for p in progress:
        t0 = _ts(p.get("timestamp"))
        if t0 is None:
            continue
        parent = tracer.innermost(t0, targets)
        if parent is None:
            continue
        dur = p.get("durationMs", {})
        tracer.span(
            "stream.batch", t0, t0 + dur.get("triggerExecution", 0) / 1000.0, parent,
            runId=p.get("runId"), batchId=p.get("batchId"), numInputRows=p.get("numInputRows", 0),
            durationMs=dur,
            stateOperators=[
                {k: op.get(k, 0) for k in ("numRowsTotal", "memoryUsedBytes", "numRowsDroppedByWatermark")}
                for op in p.get("stateOperators", [])
            ],
        )


STAGE_FIELDS = (
    "stageId", "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "inputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled", "max_task_ms", "t", "t_end",
)


def layer_metrics(tracer: Tracer, query_spans: list[Span], modules: dict[str, str], cores: int) -> dict[str, float]:
    """Per-layer totals over one traced pass (its ``query:*`` spans)."""
    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    batches: list[Span] = [s for s in tracer.spans if s.name == "stream.batch"]
    wall = 0.0
    for q in query_spans:
        mod = modules[q.name.split(":", 1)[1]]
        wall += q.end - q.start
        for child in (c for c in tracer.spans if c.parent is q):
            phase = child.name  # construct | exec
            add(f"{mod}.{phase}_s", child.end - child.start)
            n_jobs = len(child.attrs.get("jobs", []))
            add(f"{mod}.jobs", n_jobs)
            add("spark.jobs", n_jobs)
            if phase == "construct":
                add("spark.eager_jobs", n_jobs)
            for st in child.attrs.get("stages", []):
                task_s = st["executorRunTime"] / 1000.0
                add(f"{mod}.task_s", task_s)
                add("spark.stages", 1)
                add("spark.tasks", st["numTasks"])
                add("spark.task_s", task_s)
                add("spark.task_cpu_s", st["executorCpuTime"] / 1e9)
                add("spark.gc_s", st["jvmGcTime"] / 1000.0)
                add("spark.shuffle_read_bytes", st["shuffleReadBytes"])
                add("spark.shuffle_write_bytes", st["shuffleWriteBytes"])
                add("spark.spill_bytes", st["memoryBytesSpilled"] + st["diskBytesSpilled"])
                add("spark.input_bytes", st["inputBytes"])
                add("spark.failed_tasks", st["numFailedTasks"])
                m["spark.max_task_s"] = max(m.get("spark.max_task_s", 0.0), st["max_task_ms"] / 1000.0)
            for b in (b for b in batches if b.parent is child):
                dur = b.attrs["durationMs"]
                add("stream.batches", 1)
                add("stream.data_batches", 1 if b.attrs["numInputRows"] else 0)
                add("stream.input_rows", b.attrs["numInputRows"])
                for key, phase_name in STREAM_PHASES.items():
                    add(key, dur.get(phase_name, 0) / 1000.0)
                for op in b.attrs["stateOperators"]:
                    add("stream.rows_dropped_by_watermark", op["numRowsDroppedByWatermark"])
            last_by_run = {b.attrs["runId"]: b for b in batches if b.parent is child}
            for b in last_by_run.values():  # state left when each stream ends
                for op in b.attrs["stateOperators"]:
                    add("stream.state_rows", op["numRowsTotal"])
                    add("stream.state_bytes", op["memoryUsedBytes"])
    n_batches = m.get("stream.batches", 0.0)
    m["stream.data_batch_ratio"] = m.pop("stream.data_batches", 0.0) / n_batches if n_batches else 0.0
    m["spark.core_busy_ratio"] = m.get("spark.task_s", 0.0) / (cores * wall) if wall else 0.0
    return m


STREAM_PHASES = {
    "stream.trigger_s": "triggerExecution",
    "stream.add_batch_s": "addBatch",
    "stream.query_planning_s": "queryPlanning",
    "stream.wal_commit_s": "walCommit",
    "stream.commit_offsets_s": "commitOffsets",
    "stream.latest_offset_s": "latestOffset",
}


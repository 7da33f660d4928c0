"""Traced run: spans around each layer's public entry points, Spark
counters from the session's own event log, and the per-layer metrics
derived from both.

The wrappers are installed from here, only in a traced run; the package
itself is never edited. A span records (name, start, end, parent, batch)
and lives in memory until the run writes the artifact. A Spark job belongs
to the innermost span that was open on the submitting side when the job
started, so per-batch and per-query counters need no cooperation from the
engine.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# per_layer metrics, in BENCHMARK.json order: name -> (unit, better).
# sinks.upsert_mor_ms is computed too but not printed: neither listed
# workload reaches upsert_mor, so it would read 0 on every listed run.
LAYER_METRICS = {
    "session.start_ms": ("ms", "lower"),
    "session.ship_ms": ("ms", "lower"),
    "session.warmup_ms": ("ms", "lower"),
    "schema.self_ms_per_batch": ("ms", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.overhead_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.latest_offset_ms": ("ms", "lower"),
    "streaming.jobs_per_batch": ("count", "lower"),
    "streaming.tasks_per_batch": ("count", "lower"),
    "streaming.executor_cpu_ms_per_batch": ("ms", "lower"),
    "sinks.write_batch_ms": ("ms", "lower"),
    "sinks.dlq_write_ms": ("ms", "lower"),
    "sinks.commit_ms": ("ms", "lower"),
    "sinks.read_ms": ("ms", "lower"),
    "sinks.files_written": ("count", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "sinks.protocol_files": ("count", "lower"),
    "queries.plan_build_ms": ("ms", "lower"),
    "queries.planning_ms": ("ms", "lower"),
    "queries.execute_ms": ("ms", "lower"),
    "queries.jobs": ("count", "lower"),
    "queries.tasks": ("count", "lower"),
    "queries.executor_cpu_ms": ("ms", "lower"),
    "queries.shuffle_bytes": ("bytes", "lower"),
    "queries.inter_job_gap_ms": ("ms", "lower"),
}

SINK_SPANS = {
    "sinks.write_batch": "sinks.write_batch_ms",
    "sinks.dlq_write": "sinks.dlq_write_ms",
    "sinks.commit": "sinks.commit_ms",
    "sinks.upsert_mor": "sinks.upsert_mor_ms",
    "sinks.read": "sinks.read_ms",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, batch: int | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None, "batch": batch, **attrs}
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, batch_arg: int | None = None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``batch_arg`` is
        the positional index of a batch-id argument, when there is one."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            batch = args[batch_arg] if batch_arg is not None and len(args) > batch_arg else kwargs.get("batch_id")
            with self.span(name, batch=batch):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap the public entry points of every layer."""
        from kafka_connect_bigquery_storage_write_spark import session
        from kafka_connect_bigquery_storage_write_spark.schema import avro
        from kafka_connect_bigquery_storage_write_spark.sinks.dlq import DeadLetterQueue
        from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import ManifestSinkTable
        from kafka_connect_bigquery_storage_write_spark.streaming import pipeline

        self.wrap(session, "get_spark", "session.start")
        self.wrap(session, "ensure_shipped", "session.ship")
        # pipeline.py binds the convert functions at import; avro's decode is
        # imported inside process_batch, so the module attribute is the seam
        self.wrap(pipeline, "convert_and_validate", "schema.convert_and_validate")
        self.wrap(pipeline, "split_valid", "schema.split_valid")
        self.wrap(avro, "avro_decode_to_json", "schema.avro_decode")
        self.wrap(pipeline.IngestPipeline, "process_batch", "streaming.process_batch", batch_arg=2)
        self.wrap(ManifestSinkTable, "write_batch", "sinks.write_batch", batch_arg=2)
        self.wrap(ManifestSinkTable, "commit", "sinks.commit")
        self.wrap(ManifestSinkTable, "upsert_mor", "sinks.upsert_mor")
        self.wrap(ManifestSinkTable, "read", "sinks.read")
        self.wrap(DeadLetterQueue, "write", "sinks.dlq_write", batch_arg=2)

    def listen(self, spark) -> None:
        """Collect every StreamingQueryProgress of this session."""
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def wait_progress(self, n: int, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait for ``n`` of them."""
        deadline = time.time() + timeout
        while len(self.progress) < n and time.time() < deadline:
            time.sleep(0.05)


# -- Spark event log ----------------------------------------------------------
def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_jobs(path: str) -> list[dict]:
    """Jobs with start/end (epoch ms), task count, executor CPU and shuffle
    bytes, parsed from an uncompressed event log (the approach of
    tools/profile_query.py, extended with task metrics)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "start": ev["Submission Time"], "end": None, "tasks": 0, "cpu_ms": 0.0, "shuffle_bytes": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                metrics = ev.get("Task Metrics") or {}
                if job is None:
                    continue
                job["tasks"] += 1
                job["cpu_ms"] += metrics.get("Executor CPU Time", 0) / 1e6
                rd = metrics.get("Shuffle Read Metrics") or {}
                wr = metrics.get("Shuffle Write Metrics") or {}
                job["shuffle_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0) + wr.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j["start"])


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Set ``span["jobs"]`` to the jobs whose submission falls in the span
    and in none of its children (innermost wins)."""
    for s in spans:
        s["jobs"] = []
    by_start = sorted(spans, key=lambda s: s["start"])
    for job in jobs:
        t = job["start"] / 1000.0
        inner = None
        for s in by_start:
            if s["start"] > t:
                break
            if s["end"] >= t and (inner is None or s["start"] >= inner["start"]):
                inner = s
        if inner is not None:
            inner["jobs"].append(job)


# -- derived numbers ----------------------------------------------------------
def self_ms(span: dict, children: list[dict]) -> float:
    return (span["end"] - span["start"] - sum(c["end"] - c["start"] for c in children)) * 1000.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def within(spans: list[dict], outer: dict) -> list[dict]:
    """Spans that ran inside ``outer``'s interval, on any thread:
    foreachBatch calls arrive on a callback thread with no parent span."""
    return [s for s in spans if s is not outer and outer["start"] <= s["start"] and s["end"] <= outer["end"]]


def layer_metrics(tracer: Tracer, jobs: list[dict], scopes: list[dict], sink_counts: dict) -> tuple[dict, dict]:
    """Per-layer metrics of one traced run, plus a detail record for the
    artifact. ``scopes`` are the spans of the measured phases (the drain
    and the read-back, or the mix); set-up spans sit outside them."""
    spans = tracer.spans
    attribute_jobs(spans, jobs)
    inside = [s for scope in scopes for s in within(spans, scope)]
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    m = {k: 0.0 for k in LAYER_METRICS}

    setup = [c for s in spans if s["name"] == "setup" for c in within(spans, s)]
    in_setup = lambda name: sum((c["end"] - c["start"]) * 1000.0 for c in setup if c["name"] == name)  # noqa: E731
    m["session.start_ms"] = in_setup("session.start")
    m["session.ship_ms"] = in_setup("session.ship")
    m["session.warmup_ms"] = in_setup("setup.warmup")

    batches = [s for s in inside if s["name"] == "streaming.process_batch"]
    batch_detail = []
    for b in batches:
        kids = children.get(b["id"], [])
        kids_ms: dict[str, float] = {}
        for k in kids:
            kids_ms[k["name"]] = kids_ms.get(k["name"], 0.0) + (k["end"] - k["start"]) * 1000.0
        batch_detail.append(
            {"batch": b["batch"], "ms": (b["end"] - b["start"]) * 1000.0, "self_ms": self_ms(b, kids), "children_ms": kids_ms}
        )
    m["schema.self_ms_per_batch"] = _mean(d["self_ms"] for d in batch_detail)

    durs = [p.get("durationMs", {}) for p in tracer.progress]
    m["streaming.trigger_ms"] = _median(d.get("triggerExecution", 0) for d in durs)
    m["streaming.overhead_ms"] = _median(d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in durs)
    m["streaming.wal_commit_ms"] = _median(d.get("walCommit", 0) for d in durs)
    m["streaming.commit_offsets_ms"] = _median(d.get("commitOffsets", 0) for d in durs)
    m["streaming.latest_offset_ms"] = _median(d.get("latestOffset", 0) for d in durs)
    # counters per micro-batch: every job started while a trigger ran
    trig = []
    for p in tracer.progress:
        start = _iso_epoch(p["timestamp"])
        end = start + p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
        mine = [j for j in jobs if start <= j["start"] / 1000.0 <= end]
        trig.append((len(mine), sum(j["tasks"] for j in mine), sum(j["cpu_ms"] for j in mine)))
    m["streaming.jobs_per_batch"] = _mean(t[0] for t in trig)
    m["streaming.tasks_per_batch"] = _mean(t[1] for t in trig)
    m["streaming.executor_cpu_ms_per_batch"] = _mean(t[2] for t in trig)

    for span_name, metric in SINK_SPANS.items():
        m[metric] = _mean((s["end"] - s["start"]) * 1000.0 for s in inside if s["name"] == span_name)
    m.update(sink_counts)

    queries = [s for s in inside if s["name"] == "queries.query"]
    for q in queries:
        qjobs = sorted((j for s in [q, *within(spans, q)] for j in s["jobs"]), key=lambda j: j["start"])
        q["n_jobs"] = len(qjobs)
        q["gap_ms"] = sum(max(0, b["start"] - a["end"]) for a, b in zip(qjobs, qjobs[1:]) if a["end"])
        m["queries.jobs"] += len(qjobs)
        m["queries.tasks"] += sum(j["tasks"] for j in qjobs)
        m["queries.executor_cpu_ms"] += sum(j["cpu_ms"] for j in qjobs)
        m["queries.shuffle_bytes"] += sum(j["shuffle_bytes"] for j in qjobs)
        m["queries.inter_job_gap_ms"] += q["gap_ms"]
        m["queries.planning_ms"] += q.get("planning_ms", 0.0)
        for c in children.get(q["id"], []):
            key = {"queries.plan_build": "queries.plan_build_ms", "queries.execute": "queries.execute_ms"}.get(c["name"])
            if key:
                m[key] += (c["end"] - c["start"]) * 1000.0

    detail = {
        "batches": batch_detail,
        "queries": [
            {k: q.get(k) for k in ("query", "n_jobs", "gap_ms", "planning_ms")} | {"ms": (q["end"] - q["start"]) * 1000.0}
            for q in queries
        ],
        "progress": durs,
        "n_jobs_total": len(jobs),
        "n_jobs_unattributed": len(jobs) - sum(len(s["jobs"]) for s in spans),
    }
    return m, detail


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def span_table(spans: list[dict]) -> dict:
    """Total and self ms per span name, over the whole run."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out: dict = {}
    for s in spans:
        row = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += (s["end"] - s["start"]) * 1000.0
        row["self_ms"] += self_ms(s, children.get(s["id"], []))
    return out

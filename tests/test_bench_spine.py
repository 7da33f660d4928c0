"""The bench measurement spine without Spark: synthetic event-log lines go
through perfbench/tracing.py's parser and attribution into bench.py's
per-query counters, regression digest and stdout line."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _ev(kind: str, **fields) -> dict:
    return {"Event": f"SparkListener{kind}", **{k.replace("_", " "): v for k, v in fields.items()}}


def _job(jid: int, t_ms: int, tasks: list[tuple[int, int, int]]) -> list[dict]:
    """Event-log records of one job (one stage, id == job id) whose tasks
    carry (executor CPU ns, shuffle bytes read, shuffle bytes written)."""
    evs = [_ev("JobStart", Job_ID=jid, Submission_Time=t_ms, Stage_IDs=[jid], Properties={})]
    for cpu_ns, rd, wr in tasks:
        metrics = {
            "Executor CPU Time": cpu_ns,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": rd},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": wr},
        }
        evs.append(_ev("TaskEnd", Stage_ID=jid, Task_Metrics=metrics))
    evs.append(_ev("JobEnd", Job_ID=jid, Completion_Time=t_ms + 50))
    return evs


def _span(sid: int, query: str, start_s: float, end_s: float) -> dict:
    return {"id": sid, "name": "bench.query", "parent": None, "query": query, "start": start_s, "end": end_s}


def test_event_log_feeds_per_query_counters(bench, tmp_path):
    # warm-up job at t=0.5 s (outside any span); two passes over qa and qb
    events = _job(0, 500, [(7_000_000, 0, 0)])
    events += _job(1, 1_100, [(2_000_000, 0, 100), (2_000_000, 0, 100)])  # pass 1, qa
    events += _job(2, 2_100, [(1_000_000, 0, 0)])  # pass 1, qb
    events += _job(3, 3_100, [(3_000_000, 10, 0)])  # pass 2, qa: one job, one task
    events += _job(4, 4_100, [(1_000_000, 0, 0)])  # pass 2, qb: two jobs
    events += _job(5, 4_500, [(5_000_000, 20, 30), (1_000_000, 0, 0)])
    log = tmp_path / "local-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))

    jobs = bench.read_jobs(str(log))
    spans = [_span(0, "qa", 1.0, 2.0), _span(1, "qb", 2.0, 3.0), _span(2, "qa", 3.0, 4.0), _span(3, "qb", 4.0, 5.0)]
    cur = bench.per_query(spans, jobs, {"qb": 0.9, "qa": 1.5})

    assert list(cur) == ["qa", "qb"]
    # wall is the min passed in; counters come from the LAST pass only
    assert cur["qa"] == {"wall_s": 1.5, "jobs": 1, "tasks": 1, "cpu_ms": 3.0, "shuffle_bytes": 10}
    assert cur["qb"] == {"wall_s": 0.9, "jobs": 2, "tasks": 3, "cpu_ms": 7.0, "shuffle_bytes": 50}
    # the warm-up job belongs to no query span
    assert len(jobs) - sum(len(s["jobs"]) for s in spans) == 1


def test_top_regressions_bounded_and_empty_without_base(bench):
    entry = {"wall_s": 1.0, "tasks": 1, "shuffle_bytes": 0}
    cur = {f"q{i}_x": {**entry, "jobs": i, "cpu_ms": 100.0 * (i + 1)} for i in range(8)}
    assert bench.top_regressions({}, cur) == []

    prev = {f"q{i}_x": {**entry, "jobs": i + 1, "cpu_ms": 100.0} for i in range(8)}
    prev["q0_x"]["cpu_ms"] = 500.0  # shrank: not a regression
    top = bench.top_regressions(prev, cur)
    assert len(top) == 5
    assert [t["q"] for t in top] == ["q7", "q6", "q5", "q4", "q3"]
    assert top[0] == {"q": "q7", "cpu_x": 8.0, "jobs": [8, 7]}

    line = json.loads(bench.stdout_line(cur, [8.0, 8.0], {}, "/data/sf0.1"))
    assert line["top_regressions"] == []
    assert line["detail"] == "BENCH_PER_QUERY.json" and line["sf"] == 0.1


def test_stdout_line_fits_capture_at_registry_size(bench):
    names = [f"q{i:03d}_{'synthetic_query_name_padding':.<35}"[:40] for i in range(237)]
    assert all(len(n) == 40 for n in names)
    cur = {
        n: {"wall_s": 10.0 + i, "jobs": 99, "tasks": 999, "cpu_ms": 1e6 + i, "shuffle_bytes": 10**9}
        for i, n in enumerate(names)
    }
    prev = {n: {**e, "cpu_ms": 1.0, "jobs": 1} for n, e in cur.items()}
    line = bench.stdout_line(cur, [12345.678, 12345.678], prev, "/data/sf0.1")
    assert len(line) < 1600
    payload = json.loads(line)
    assert payload["n_queries"] == 237 and len(payload["top5"]) == 5 and len(payload["top_regressions"]) == 5
    assert payload["value"] == round(sum(e["wall_s"] for e in cur.values()), 3)

"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs every workload once with a handful of tiny input files (``--tiny``),
untraced and traced. It checks that each run is correct and prints exactly
the metrics BENCHMARK.json names, with their units, and that each traced
run leaves its spans and tracing overhead; then that the correctness check
fails when a sink row is dropped or a micro-batch's rows land twice, and
that a query result differing from its oracle is caught. Exits non-zero on
the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def bench(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1", "--seconds", "1"]
    out = subprocess.run([*cmd, "--trace", str(trace), "--tiny"], cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def check_line(line: dict, metrics: list[dict], what: str) -> None:
    expect(set(line) == {"correct", "attempted", "failed", "metrics"}, f"{what}: result keys")
    expect(line["correct"] and line["failed"] == 0 and line["attempted"] >= 1, f"{what}: correct, nothing failed")
    want = {m["name"]: m["unit"] for m in metrics}
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    expect(got == want, f"{what}: every metric printed with its unit")
    expect(all(isinstance(v["value"], float) for v in line["metrics"].values()), f"{what}: numeric values")


def check_artifact(workload: str) -> None:
    """The traced run's record: spans, overhead against the untraced run,
    every Spark job attributed to a span, and process_batch spans that
    match the wall time the runner measured around each micro-batch."""
    with open(os.path.join(run.WORK, "results", f"{workload}-s1-trace1.json")) as fh:
        record = json.load(fh)
    expect(record["spans"] and record["tracing_overhead"]["untraced_run"], f"{workload} traced: spans and tracing overhead")
    detail = record["layer_detail"]
    expect(detail["n_jobs_unattributed"] <= detail["n_jobs_total"] // 20, f"{workload} traced: jobs attributed to spans")
    if workload in run.INGEST:
        batches = sorted(detail["batches"], key=lambda b: b["batch"])
        expect(len(batches) == len(record["items"]) > 0, f"{workload} traced: one process_batch span per micro-batch")
        expect(all(b["self_ms"] >= 0 for b in batches), f"{workload} traced: child spans fit inside process_batch")
        # the runner's clock wraps the traced call; it adds two /proc walks
        matched = all(0 <= i["wall_ms"] - b["ms"] < 0.1 * i["wall_ms"] + 100 for b, i in zip(batches, record["items"]))
        expect(matched, f"{workload} traced: process_batch spans account for the measured batch times")


def tamper_ingest() -> None:
    """Re-check the last tiny pending_avro run's outputs after breaking them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = run.INGEST["pending_avro"]
    cache = os.path.join(run.WORK, "cache")
    data_dir = next(os.path.join(cache, d) for d in sorted(os.listdir(cache)) if d.startswith("pending_avro-s1-f4x200"))
    measured = os.path.join(run.WORK, "run", "measured")
    sink = pq.read_table(os.path.join(measured, "sink_rows.parquet"))
    batches = check.batch_files(os.path.join(measured, "ckpt"))
    args = (os.path.join(data_dir, "truth.parquet"), batches)
    rest = (os.path.join(measured, "dlq"), spec["upsert"], 4)
    expect(check.ingest(*args, sink, *rest) == [], "intact sink passes the check")
    expect(check.ingest(*args, sink.slice(1), *rest) != [], "a dropped row fails the check")
    truth = pq.read_table(args[0])
    pc = pa.compute
    first = truth.filter(pc.and_(pc.equal(truth.column("file"), 0), pc.equal(truth.column("corrupt"), 0)))
    dup = pa.concat_tables([sink, first.select(sink.column_names).cast(sink.schema)])
    expect(check.ingest(*args, dup, *rest) != [], "a batch written twice fails the check")
    twice = pa.concat_tables([batches, batches.slice(0, 1)])
    expect(check.ingest(args[0], twice, sink, *rest) != [], "a file drained twice fails the check")


def tamper_query() -> None:
    from kafka_connect_bigquery_storage_write_spark.queries import ORACLE, load_all

    load_all()
    name = run.MIX[0]
    fixture = gen.fixture_tables(os.path.join(run.WORK, "cache"), 1, 0.001)
    con = check.oracle_views(fixture["dir"], fixture["rows"])
    res = con.execute(ORACLE[name])
    cols, rows = [d[0] for d in res.description], res.fetchall()
    expect(check.query(con, ORACLE[name], rows, cols) is None, "an oracle-equal result passes")
    expect(check.query(con, ORACLE[name], rows[1:], cols) is not None, "a missing result row fails")
    bump = lambda v: v + "x" if isinstance(v, str) else v + 1 if isinstance(v, (int, float)) else v  # noqa: E731
    changed = [tuple(bump(v) for v in rows[0]), *rows[1:]]
    expect(check.query(con, ORACLE[name], changed, cols) is not None, "a changed result value fails")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    listed = [w["name"] for w in spec["workloads"]]
    expect(set(listed) <= set(run.WORKLOADS), "BENCHMARK.json workloads exist")
    for workload in run.WORKLOADS:
        check_line(bench(workload, 0), spec["end_to_end"], f"{workload} untraced")
        if workload == "pending_avro":
            tamper_ingest()
        check_line(bench(workload, 1), spec["per_layer"], f"{workload} traced")
        check_artifact(workload)
    tamper_query()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

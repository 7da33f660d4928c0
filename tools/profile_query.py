"""Per-query job-level profiler (guide §1.5): run one or more registered
queries with the Spark event log enabled, then summarize per query the
JOB COUNT, tasks, executor CPU, summed job run-time, and the inter-job
gaps (driver-side scheduling/planning time between jobs) — the
decomposition that showed the CDC family is job-count-bound at fixture
scale (OPTIMIZATION_r14.md Batch 2).

Usage:
    python tools/profile_query.py q122_pagerank_coactivity [q168_... ...]
    SIM_SF_DIR=/root/testdata/sf0.1 python tools/profile_query.py ...

Each query runs in the shared session through bench.py's ``run_query``
(one ``bench.query`` span, jobs tagged ``PROFILE::<name>``); the event log
is parsed and jobs attributed to spans by perfbench/tracing.py, the same
spine bench.py uses.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import counters, run_query  # noqa: E402
from perfbench.tracing import Tracer, attribute_jobs, event_log_conf, read_jobs  # noqa: E402

SF_DIR = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_query.py <query-name> [...]", file=sys.stderr)
        sys.exit(2)

    from kafka_connect_bigquery_storage_write_spark.queries import load_all
    from kafka_connect_bigquery_storage_write_spark.session import get_spark

    evdir = tempfile.mkdtemp(prefix="spark-events-")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    spark = get_spark(app_name="profile", cpus=cpus, shuffle_partitions=cpus, extra_conf=event_log_conf(evdir))
    load_all()
    sc = spark.sparkContext

    # warm the worker pool once so the first profiled query isn't billed it
    spark.range(1000).count()

    tracer = Tracer()
    for name in names:
        sc.setJobDescription(f"PROFILE::{name}")
        run_query(spark, tracer, name, SF_DIR)
        sc.setJobDescription(None)

    app_id = sc.applicationId
    spark.stop()
    jobs = read_jobs(os.path.join(evdir, app_id))
    shutil.rmtree(evdir, ignore_errors=True)
    attribute_jobs(tracer.spans, jobs)

    print(f"{'query':44s} {'jobs':>5s} {'tasks':>6s} {'cpu':>7s} {'job-time':>9s} {'gaps':>7s} {'wall':>7s}")
    for span in tracer.spans:
        mine = [j for j in span["jobs"] if j["end"]]
        c = counters(mine)
        jt = sum(j["end"] - j["start"] for j in mine) / 1000.0
        gaps = sum(max(0, b["start"] - a["end"]) for a, b in zip(mine, mine[1:])) / 1000.0
        wall = span["end"] - span["start"]
        print(
            f"{span['query']:44s} {c['jobs']:5d} {c['tasks']:6d} {c['cpu_ms'] / 1000.0:6.1f}s"
            f" {jt:8.1f}s {gaps:6.1f}s {wall:6.1f}s"
        )
        if os.environ.get("PROFILE_VERBOSE"):
            for j in mine:
                print(f"    job {j['id']:4d}  {(j['end'] - j['start']) / 1000.0:7.2f}s")


if __name__ == "__main__":
    main()

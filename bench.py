"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixtures) on local[$SPARK_GRAFT_CPUS] and prints ONE
bounded JSON line: {"metric", "value", "unit", "n_queries", "top5",
"top_regressions", "sf", ...}. Per-query detail is written to
BENCH_PER_QUERY.json, overwritten on every run: the min-of-2 wall time and
the Spark counters of the last timed pass (jobs, tasks, executor CPU,
shuffle bytes), read from the session's own event log through
perfbench/tracing.py. Wall clock is reported as measured; the counters are
the figures host steal cannot fake.

Each query materializes fully through the noop sink (no driver collect,
no column-pruning shortcut), timing the plan a cluster would execute.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from perfbench.tracing import Tracer, attribute_jobs, event_log_conf, read_jobs  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
PER_QUERY = os.path.join(REPO, "BENCH_PER_QUERY.json")


def run_query(spark, tracer: Tracer, name: str, sf_dir: str) -> float:
    """Run one registered query through the noop sink inside a
    ``bench.query`` span; return its wall seconds."""
    from kafka_connect_bigquery_storage_write_spark.queries import QUERIES

    with tracer.span("bench.query", query=name) as rec:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # queries are independent: drop any relation an operator persisted so
    # cache residency can't distort the next timings
    spark.catalog.clearCache()
    return rec["end"] - rec["start"]


def counters(jobs: list[dict]) -> dict:
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "cpu_ms": round(sum(j["cpu_ms"] for j in jobs), 1),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
    }


def per_query(spans: list[dict], jobs: list[dict], best: dict[str, float]) -> dict[str, dict]:
    """BENCH_PER_QUERY.json entries: each query's min wall time plus the
    counters of its last ``bench.query`` span (a job belongs to the span
    open when it was submitted)."""
    attribute_jobs(spans, jobs)
    last = {s["query"]: s for s in sorted(spans, key=lambda s: s["start"]) if s["name"] == "bench.query"}
    return {name: {"wall_s": best[name], **counters(last[name]["jobs"])} for name in sorted(best)}


def top_regressions(prev: dict[str, dict], cur: dict[str, dict], n: int = 5) -> list[dict]:
    """The ``n`` queries whose executor CPU grew most against ``prev`` (the
    committed BENCH_PER_QUERY.json), with their job counts before and after."""
    grown = []
    for name, c in cur.items():
        p = prev.get(name)
        if p is not None and c["cpu_ms"] > p["cpu_ms"]:
            grown.append((c["cpu_ms"] / max(p["cpu_ms"], 1.0), name, p["jobs"], c["jobs"]))
    grown.sort(reverse=True)
    return [{"q": name.split("_")[0], "cpu_x": round(x, 2), "jobs": [a, b]} for x, name, a, b in grown[:n]]


def stdout_line(cur: dict[str, dict], run_totals: list[float], prev: dict[str, dict], sf_dir: str) -> str:
    """The one JSON line printed to stdout. Per-query values do not ride on
    it: it carries totals and two bounded digests, so it survives a
    2000-char tail capture of stdout at any registry size (round-3 and
    round-7 artifacts were truncated mid-line and unparseable)."""
    sf = sf_dir.rstrip("/").split("sf")[-1]
    payload = {
        "metric": "query_suite_wall_clock",
        "value": round(sum(e["wall_s"] for e in cur.values()), 3),
        "unit": "sec",
        "n_queries": len(cur),
        "top5": {
            name.split("_")[0]: round(e["wall_s"], 2)
            for name, e in sorted(cur.items(), key=lambda kv: -kv[1]["wall_s"])[:5]
        },
        "top_regressions": top_regressions(prev, cur),
        "agg": f"min_of_{len(run_totals)}_runs",
        "run_totals": run_totals,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "detail": os.path.basename(PER_QUERY),
    }
    line = json.dumps(payload, separators=(",", ":"))
    # fail loudly rather than print a line whose head the capture would cut
    assert len(line) < 1600, f"bench stdout line {len(line)}B >= 1600B capture budget"
    return line


def _warm(spark) -> None:
    """Warm the JVM/codegen paths the suite uses (parquet scan, hash agg,
    broadcast join, window, JSON) so the first timed query doesn't pay
    one-time compilation costs."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).limit(50_000)
    ords = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).limit(10_000)
    (
        li.join(F.broadcast(ords), li.l_orderkey == ords.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"), F.countDistinct("o_custkey"))
        .collect()
    )
    spark.range(10_000).select(F.from_json(F.to_json(F.struct("id")), "id long")).count()

    # spawn the python-worker pool + Arrow serialization once, so the first
    # Pandas-UDF query isn't billed the per-executor worker startup; import
    # numpy/pandas INSIDE the workers (the operators' kernels use both, and
    # a worker's first import costs ~1s each)
    def _warm_kernel(batches):
        import numpy as np  # noqa: F401

        for pdf in batches:
            yield pdf.assign(id=pdf["id"] + np.int64(0))

    spark.range(CPUS * 10_000, numPartitions=CPUS).mapInPandas(_warm_kernel, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    # grouped-map path (applyInPandas) compiles/warms separately
    spark.range(CPUS * 1_000, numPartitions=CPUS).withColumn("g", F.pmod("id", F.lit(CPUS))).repartition(
        CPUS, "g"
    ).groupBy("g").applyInPandas(lambda pdf: pdf.head(1), "id long, g long").write.format("noop").mode(
        "overwrite"
    ).save()


def main() -> None:
    from kafka_connect_bigquery_storage_write_spark.queries import QUERIES, load_all
    from kafka_connect_bigquery_storage_write_spark.session import get_spark

    try:  # the comparison base for top_regressions, read before the overwrite
        with open(PER_QUERY) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = {}
    tracer = Tracer()
    log_dir = tempfile.mkdtemp(prefix="bench-events-")
    try:
        spark = get_spark(
            app_name="kafka_connect_bigquery_storage_write_spark-bench",
            cpus=CPUS,
            shuffle_partitions=CPUS,
            extra_conf=event_log_conf(log_dir),
        )
        load_all()
        _warm(spark)
        # Two timed passes, reporting the per-query MIN: the min of two
        # passes is the steady-state cost, and a single cold pass would
        # bill per-plan JIT/codegen warmup to arbitrary queries. The second
        # pass is skipped if the first already took 900 s (slow host),
        # keeping worst-case wall time bounded.
        def sweep() -> dict[str, float]:
            return {name: round(run_query(spark, tracer, name, SF_DIR), 3) for name in sorted(QUERIES)}

        bench_start = time.perf_counter()
        runs = [sweep()]
        if time.perf_counter() - bench_start < 900:
            runs.append(sweep())
        log = os.path.join(log_dir, spark.sparkContext.applicationId)
        spark.stop()  # flushes and closes the event log
        log_mb = os.path.getsize(log) / 1e6
        jobs = read_jobs(log)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    cur = per_query(tracer.spans, jobs, {name: min(r[name] for r in runs) for name in runs[0]})
    with open(PER_QUERY, "w") as f:
        json.dump(cur, f, indent=1)
    outside = len(jobs) - sum(len(s["jobs"]) for s in tracer.spans)
    print(f"bench: event log {log_mb:.1f} MB, {len(jobs)} jobs, {outside} outside any query span", file=sys.stderr)
    print(stdout_line(cur, [round(sum(r.values()), 3) for r in runs], prev, SF_DIR), flush=True)


if __name__ == "__main__":
    main()

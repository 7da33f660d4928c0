"""Scale-shape probe above sf0.1 (VERDICT r14 #8): turn the O(E)->O(V)
per-round argument for the iterative graph/CC family, and the
one-merge-per-run argument for the CDC consumer, into MEASURED shuffle
bytes on a synthetic ~10x graph.

The sf0.1 bench measures per-query fixed overhead (the c8/c32 inversion
proved it); what scales is the per-round SHUFFLE VOLUME, which this
probe reads from the event log's task metrics — byte counts are
deterministic, so the numbers are valid under any host weather.

Probes:
  graph N_EDGES   pagerank + min-label CC on a synthetic power-law-ish
                  graph (default 2M edges / 200k vertices, ~10x the
                  sf0.1 coactivity graph): per-job shuffle read+write
                  bytes for the iteration jobs, split into the one-time
                  edge partitioning vs the per-round cost.
  cdc N_COMMITS   a manifest sink with one seed + N upsert commits
                  (default 8) drained by the ChangeFeedConsumer: jobs
                  and merge passes with contiguous-commit batching
                  (one merge per run) — the per-commit r14 form pays
                  ~n_commits merge passes.

Usage: python tools/probe_scale_shape.py [graph|cdc|all] [scale]
Writes a summary to stdout; paste into SCALING.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tracing import Tracer, attribute_jobs, event_log_conf, read_jobs  # noqa: E402


def _spark(evdir: str):
    from kafka_connect_bigquery_storage_write_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    return get_spark(app_name="scale-shape-probe", cpus=cpus, shuffle_partitions=cpus, extra_conf=event_log_conf(evdir))


def _span_jobs(spark, evdir: str, tracer: Tracer) -> dict[str, list[dict]]:
    """Stop the session and return each span's finished jobs, by span name
    (event-log parsing and attribution are perfbench/tracing.py's)."""
    app_id = spark.sparkContext.applicationId
    spark.stop()
    jobs = read_jobs(os.path.join(evdir, app_id))
    shutil.rmtree(evdir, ignore_errors=True)
    attribute_jobs(tracer.spans, jobs)
    return {s["name"]: [j for j in s["jobs"] if j["end"]] for s in tracer.spans}


def probe_graph(n_edges: int) -> None:
    evdir = tempfile.mkdtemp(prefix="spark-events-shape-")
    spark = _spark(evdir)
    from pyspark.sql import functions as F

    from kafka_connect_bigquery_storage_write_spark.operators.dedup import connected_components
    from kafka_connect_bigquery_storage_write_spark.operators.graph import pagerank_integer

    n_vertices = max(1000, n_edges // 10)
    # deterministic skewed-degree graph: dst ~ hash mod sqrt-ish buckets
    edges = (
        spark.range(n_edges)
        .select(
            F.pmod(F.xxhash64(F.col("id")), F.lit(n_vertices)).alias("src"),
            F.pmod(F.xxhash64(F.col("id") + 7_777_777), F.lit(n_vertices // 2)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    sym = sym.localCheckpoint(eager=True)
    m = sym.count()

    tracer = Tracer()
    with tracer.span("PROBE::pagerank") as rec_pr:
        pr = pagerank_integer(sym, iterations=5, symmetric=True)
        pr.write.format("noop").mode("overwrite").save()

    with tracer.span("PROBE::cc_min_label") as rec_cc:
        cc = connected_components(
            sym.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b")), "id_a", "id_b"
        )
        cc.write.format("noop").mode("overwrite").save()

    by_span = _span_jobs(spark, evdir, tracer)
    for rec in (rec_pr, rec_cc):
        mine = by_span[rec["name"]]
        big = sorted(mine, key=lambda j: -j["shuffle_bytes"])[:6]
        print(f"\n{rec['name']}: edges(sym,distinct)={m:,}  vertices~{n_vertices:,}  "
              f"jobs={len(mine)} wall={rec['end'] - rec['start']:.1f}s")
        print(f"  total shuffle read+write={sum(j['shuffle_bytes'] for j in mine)/1e6:.1f} MB  "
              f"tasks={sum(j['tasks'] for j in mine)}  executor cpu={sum(j['cpu_ms'] for j in mine)/1e3:.1f}s")
        print("  heaviest jobs (shuffle read+write MB):")
        for j in big:
            print(f"    {j['shuffle_bytes']/1e6:8.2f}   dur={(j['end']-j['start'])/1000:.2f}s")


def probe_cdc(n_commits: int) -> None:
    evdir = tempfile.mkdtemp(prefix="spark-events-shape-")
    spark = _spark(evdir)
    from pyspark.sql import functions as F

    from kafka_connect_bigquery_storage_write_spark.sinks.cdf_consumer import ChangeFeedConsumer
    from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import ManifestSinkTable

    root = tempfile.mkdtemp(prefix="shape_cdc_")
    src_t = ManifestSinkTable(f"{root}/a", write_mode="committed")
    n_rows = 200_000
    base = spark.range(n_rows).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    src_t.write_batch(base, 0)
    for b in range(1, n_commits + 1):
        upd = (
            spark.range(b * 1000, b * 1000 + 500)
            .select(F.col("id").alias("k"), F.lit(float(b)).alias("v"))
            .localCheckpoint(eager=True)
        )
        src_t.log_changes(upd, b)
        assert src_t.merge_rows_pruned(spark, upd, keys=["k"], op_id=f"probe-b{b}") is not None

    tgt = ManifestSinkTable(f"{root}/b", write_mode="committed")
    c = ChangeFeedConsumer(src_t, tgt, keys=["k"], checkpoint_dir=f"{root}/ck")
    tracer = Tracer()
    with tracer.span("PROBE::cdc_drain") as rec:
        applied = c.run_available_now(spark)
    merge_markers = [
        f for f in os.listdir(os.path.join(f"{root}/b", "_commits")) if f.startswith("mrgop-")
    ]
    mine = _span_jobs(spark, evdir, tracer)["PROBE::cdc_drain"]
    print(f"\nPROBE::cdc_drain: commits={applied} (seed + {n_commits} upserts)  "
          f"jobs={len(mine)}  wall={rec['end'] - rec['start']:.1f}s")
    print(f"  merge passes on the mirror: {len(merge_markers)} ({sorted(merge_markers)})")
    print(f"  total shuffle read+write={sum(j['shuffle_bytes'] for j in mine)/1e6:.1f} MB")


def main() -> None:
    what = sys.argv[1] if len(sys.argv) > 1 else "all"
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    if what in ("graph", "all"):
        probe_graph(scale or 2_000_000)
    if what in ("cdc", "all"):
        probe_cdc(scale if what == "cdc" and scale else 8)


if __name__ == "__main__":
    main()

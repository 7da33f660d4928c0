"""Benchmark of the Kafka->table ingest engine and its query surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The workload's inputs are generated from
the seed (perfbench/gen.py) before any timing starts; everything the run
writes stays under ``.perfbench/`` in the checkout. Spark's own output goes
to ``.perfbench/logs/``; stdout carries one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (perfbench/tracing.py). A full record of each run,
with the raw samples, host conditions and (traced) spans, lands in
``.perfbench/results/``. perfbench/README.md describes the workloads and
what each metric is expected to move.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PKG = "kafka_connect_bigquery_storage_write_spark"
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

# Ingest workloads: closed-loop drains of a generated backlog, one file per
# micro-batch. The backlog holds ``seconds * files_per_s`` files, sized so a
# drain of the current code on a 4-core host takes about ``seconds``.
# Set-up first drains ``warm_files`` files of their own: in a fresh JVM the
# CPU seconds per micro-batch keep falling while Spark's generated code is
# compiled (on pending_avro from about 4 to 1.4 over the first 13 batches).
INGEST = {
    "append_json": {"fmt": "json", "mode": "committed", "upsert": False, "rows_per_file": 12_000, "files_per_s": 1.0, "warm_files": 2},
    "pending_avro": {
        "fmt": "avro",
        "mode": "pending",
        "cadence": 4,
        "upsert": False,
        "rows_per_file": 1_000,
        "files_per_s": 1.2,
        "warm_files": 10,
    },
    "upsert_mor": {"fmt": "json", "mode": "committed", "upsert": True, "rows_per_file": 3_000, "files_per_s": 0.5, "warm_files": 3},
}
MIN_FILES = 5

# Query mix: for each module under queries/, the oracled query with the
# lowest wall time in the committed driver-suite run (BENCH_RUN_LAST.json,
# sf0.1). Each runs once through the noop sink, in a JVM the set-up already
# warmed on the same queries, as the suite's second pass does. ROADMAP
# direction 5's streaming-runtime queries (q232-q236) are left out: at
# sf0.01 on a 4-core host each took 10-21 s cold and 6-15 s warm, as long
# as the whole rest of the mix.
MIX = (
    "q12_top_orders",  # relational
    "q125_csv_source",  # pipelines
    "q53_stream_dedup",  # streaming_batch
    "q80_document_chunking",  # text
    "q210_weighted_sssp",  # graph
    "q199_k_anonymity_audit",  # quality
    "q93_label_centroids",  # similarity
    "q48_salted_agg",  # skew
    "q195_ewma_user_scores",  # temporal
    "q30_dedup_exact",  # dedup
    "q47_multimodal_binary_metadata",  # multimodal
    "q60_pandas_udf_charge",  # udfs
)
# sf0.01: a benchmark comparison makes 22 runs per workload inside a fixed
# time budget, and the mix runs four times in each
MIX_SF = 0.01
# The JVM keeps compiling through the first passes over the mix: on a
# 4-core host the CPU seconds of three successive warm passes fell from
# about 15 to 12 to 11. Set-up runs two of them, so the measured pass
# sees a warm JVM.
MIX_WARM_PASSES = 2

WORKLOADS = (*INGEST, "query_mix")
READS = 5
# Both gated end-to-end metrics count process-tree CPU, which hypervisor
# steal on a shared host inflates far less than wall clock: of the cold
# set-up and of the measured work. The wall-clock view of the same work
# (set-up, throughput, latency median and tail), the per-item CPU median,
# the read-back and peak memory are kept in every run record under
# "ungated" (perfbench/README.md says why they are not gated).
E2E_UNITS = {"setup_s": "s", "cpu_s": "s"}


# -- host and process bookkeeping ---------------------------------------------
def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu() -> tuple[float, float]:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and every live descendant, and the part of it used by the
    descendants other than the JVM: the Python workers."""
    me = os.getpid()
    total = workers = 0.0
    for pid in [me, *descendants(me)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        fields = s.rsplit(")", 1)[1].split()
        used = sum(int(x) for x in fields[11:15]) / _TICK
        total += used
        if pid != me and s[s.index("(") + 1 : s.rindex(")")] != "java":
            workers += used
    return total, workers


class Clock:
    """Wall and process-tree CPU seconds spent between ``start`` and
    ``stop`` (or inside with-blocks; accumulated when entered more than
    once), and the CPU the Python workers used. Time the hypervisor stole
    is not charged to a process, so the CPU counters do not move with
    steal."""

    def __init__(self) -> None:
        self.wall = self.cpu = self.workers = 0.0

    def start(self) -> Clock:
        self._t, (self._cpu, self._workers) = time.perf_counter(), tree_cpu()
        return self

    def stop(self) -> None:
        cpu, workers = tree_cpu()
        self.wall += time.perf_counter() - self._t
        self.cpu += cpu - self._cpu
        self.workers += workers - self._workers

    def __enter__(self) -> Clock:
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


class PeakRss(threading.Thread):
    """Peak of the summed RSS of this process and all its descendants (the
    JVM and the Python workers)."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval, self.peak, self._stop_evt = interval, 0, threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak / 2**20


def summarize(setup: Clock, work: Clock, items: list[Clock], reads: list[Clock], done: int) -> dict:
    """End-to-end metrics (gated) and the ungated view of the same work
    (peak RSS is added when the run ends). ``items`` are the micro-batches
    or queries; ``done`` counts records drained or queries run."""
    items = items or [work]
    cpu_tail, pct = percentile_tail([i.cpu for i in items])
    wall_tail, _ = percentile_tail([i.wall for i in items])
    return {
        "e2e": {
            "setup_s": setup.cpu,
            "cpu_s": work.cpu,
        },
        "ungated": {
            "setup_wall_s": setup.wall,
            "worker_cpu_s": work.workers,
            "item_cpu_ms_p50": statistics.median(i.cpu for i in items) * 1000.0,
            "read_cpu_s": statistics.median(r.cpu for r in reads),
            "throughput_per_s": done / work.wall,
            "latency_ms_p50": statistics.median(i.wall for i in items) * 1000.0,
            "latency_ms_tail": wall_tail * 1000.0,
            "read_s": statistics.median(r.wall for r in reads),
        },
        "per_item": {"n": len(items), "tail_percentile": pct, "cpu_ms_tail": cpu_tail * 1000.0},
        "items": [{"wall_ms": i.wall * 1000.0, "cpu_ms": i.cpu * 1000.0, "worker_cpu_ms": i.workers * 1000.0} for i in items],
        "reads": [{"wall_s": r.wall, "cpu_s": r.cpu} for r in reads],
    }


def percentile_tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 21 samples that percentile would not exceed
    the median, so the maximum (percentile 100) is reported instead."""
    s = sorted(samples)
    if len(s) <= 20:
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


# -- run context ----------------------------------------------------------------
class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.tracer = None
        self.spark = None
        self.run_dir = os.path.join(WORK, "run")
        self.event_dir = os.path.join(WORK, "eventlog")
        self.tmp = os.path.join(WORK, "tmp")

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    def query(self, name: str, build, execute):
        """Build one query's DataFrame, then execute it, each in its span;
        a traced run also records the query's planning phases."""
        with self.span("queries.query", query=name) as qspan:
            with self.span("queries.plan_build"):
                df = build()
            if self.tracer:
                with self.span("queries.planning"):
                    qspan["planning_ms"] = _planning_ms(df)
            with self.span("queries.execute"):
                return execute(df)

    def dirs(self, name: str) -> dict[str, str]:
        base = os.path.join(self.run_dir, name)
        return {k: os.path.join(base, k) for k in ("sink", "dlq", "ckpt")}

    def session(self):
        from kafka_connect_bigquery_storage_write_spark import session

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={WORK}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer:
            from tracing import event_log_conf

            conf.update(event_log_conf(self.event_dir))
        self.spark = session.get_spark(app_name="perfbench", cpus=os.cpu_count(), extra_conf=conf)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        try:
            from pyspark import SparkContext
        except ImportError:
            return
        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - fall through to the kill below
                    proc.kill()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while descendants(os.getpid()) and time.time() < deadline + 10:
            time.sleep(0.1)


# -- ingest -----------------------------------------------------------------------
def value_schema():
    from pyspark.sql import types as T

    from gen import VALUE_FIELDS

    kinds = {"long": T.LongType(), "int": T.IntegerType(), "double": T.DoubleType(), "string": T.StringType()}
    return T.StructType([T.StructField(n, kinds[k], nullable) for n, k, nullable in VALUE_FIELDS])


def make_pipeline(spec: dict, dirs: dict[str, str]):
    from kafka_connect_bigquery_storage_write_spark.config import PipelineConfig
    from kafka_connect_bigquery_storage_write_spark.streaming.pipeline import IngestPipeline

    from gen import AVRO_SCHEMA, KEY_FIELDS

    cfg = PipelineConfig(
        sink_path=dirs["sink"],
        dlq_path=dirs["dlq"],
        checkpoint_path=dirs["ckpt"],
        write_mode=spec["mode"],
        value_format=spec["fmt"],
        commit_every_n_batches=spec.get("cadence"),
        upsert_keys=list(KEY_FIELDS) if spec["upsert"] else None,
        upsert_order_col="l_version" if spec["upsert"] else None,
        upsert_mode="mor" if spec["upsert"] else "cow",
    )
    if spec["fmt"] == "avro":
        return IngestPipeline.for_avro(cfg, json.dumps(AVRO_SCHEMA))
    return IngestPipeline(config=cfg, value_schema=value_schema())


def drain(spark, pipe, src_dir: str, fmt: str) -> None:
    """Drain every file in ``src_dir``, one file per micro-batch, then
    publish what a pending-mode pipeline still holds staged."""
    value = "binary" if fmt == "avro" else "string"
    stream = (
        spark.readStream.schema(f"topic string, partition int, offset long, key string, value {value}")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    query = pipe.start_stream(stream, trigger_once=True)
    query.awaitTermination()
    if pipe.config.write_mode == "pending":
        pipe.commit()


def sink_counts(dirs: dict[str, str]) -> dict[str, float]:
    files = written = protocol = 0
    for key in ("sink", "dlq"):
        for root, _, names in os.walk(dirs[key]):
            for n in names:
                written += os.path.getsize(os.path.join(root, n))
                if n.endswith(".parquet"):
                    files += 1
                if "_commits" in root.split(os.sep) or "_dv" in n or n.startswith("dv"):
                    protocol += 1
    return {"sinks.files_written": files, "sinks.bytes_written": written, "sinks.protocol_files": protocol}


def run_ingest(run: Run, spec: dict, data: dict, setup: Clock) -> dict:
    """``setup`` was started before the package was imported; it stops
    once a pipeline of its own has drained the warm-up files."""
    import check

    with run.span("setup"):
        spark = run.session()
        pipe = make_pipeline(spec, run.dirs("setup"))
        with run.span("setup.warmup"):
            drain(spark, pipe, os.path.join(data["dir"], "warm"), spec["fmt"])
    setup.stop()

    dirs = run.dirs("measured")
    pipe = make_pipeline(spec, dirs)
    batches: list[Clock] = []
    process_batch = pipe.process_batch

    def timed(df, batch_id):
        with Clock() as clock:
            out = process_batch(df, batch_id)
        batches.append(clock)
        return out

    pipe.process_batch = timed
    if run.tracer:
        run.tracer.listen(spark)
    error = None
    with run.span("measured") as measured, Clock() as work:
        try:
            drain(spark, pipe, os.path.join(data["dir"], "src"), spec["fmt"])
        except Exception:  # noqa: BLE001 - a failed drain is reported, not raised
            error = traceback.format_exc()
    # the visible table is read several times (reads are idempotent); the
    # median is the metric, the last read feeds the check
    reads = []
    with run.span("readback") as readback:
        for _ in range(READS):
            with Clock() as clock:
                sink_rows = run.query("sink_read", lambda: pipe.read_sink(spark), lambda df: df.toArrow())
            reads.append(clock)
    if run.args.tiny:  # kept for the self-test's tampering checks
        import pyarrow.parquet as pq

        pq.write_table(sink_rows, os.path.join(run.run_dir, "measured", "sink_rows.parquet"))
    problems = check.ingest(
        os.path.join(data["dir"], "truth.parquet"),
        check.batch_files(dirs["ckpt"]),
        sink_rows,
        dirs["dlq"],
        spec["upsert"],
        data["files"],
    )
    if error:
        problems.insert(0, error)
    if run.tracer:
        run.tracer.wait_progress(data["files"])
    return {
        **summarize(setup, work, batches, reads, data["records"]),
        "drain_s": work.wall,
        "attempted": data["files"] + 1,
        "failed": data["files"] - len(batches) + (1 if problems else 0),
        "problems": problems,
        "scopes": [measured, readback],
        "sink_counts": sink_counts(dirs),
    }


# -- query mix ------------------------------------------------------------------------
def _planning_ms(df) -> float:
    """Analysis + optimisation + physical planning of ``df``'s own
    QueryExecution, from Spark's phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def collect_mix(spark, names, fixture: dict, queries: dict, read: Clock) -> tuple[dict, list[str]]:
    """Run every query of the mix and collect its result (timed by
    ``read``). Returns the results and the failures."""
    results, problems = {}, []
    for name in names:
        try:
            with read:
                df = queries[name](spark, fixture["dir"])
                results[name] = ([tuple(r) for r in df.collect()], df.columns)
        except Exception:  # noqa: BLE001 - a failed query is counted, not raised
            problems.append(f"{name}: {traceback.format_exc()}")
        spark.catalog.clearCache()
    return results, problems


def check_mix(fixture: dict, results: dict, oracles: dict) -> list[str]:
    """Compare each collected result with its DuckDB oracle. Returns the
    mismatches."""
    import check

    problems = []
    con = check.oracle_views(fixture["dir"], fixture["rows"])
    for name, (rows, columns) in results.items():
        try:
            diff = check.query(con, oracles[name], rows, columns)
        except Exception:  # noqa: BLE001 - a failed check is counted, not raised
            diff = traceback.format_exc()
        if diff:
            problems.append(f"{name}: {diff}")
    con.close()
    return problems


def mix_pass(run: Run, spark, names, fixture: dict, queries: dict, problems: list[str]) -> list[Clock]:
    """Run every query of the mix once through the noop sink. Returns a
    clock per query that succeeded; failures go to ``problems``."""
    clocks = []
    for name in names:
        with Clock() as clock:
            try:
                run.query(
                    name,
                    lambda n=name: queries[n](spark, fixture["dir"]),
                    lambda df: df.write.format("noop").mode("overwrite").save(),
                )
                clocks.append(clock)
            except Exception:  # noqa: BLE001 - a failed query is counted, not raised
                problems.append(f"{name}: {traceback.format_exc()}")
        spark.catalog.clearCache()
    return clocks


def run_mix(run: Run, names: tuple[str, ...], fixture: dict, setup: Clock) -> dict:
    """``setup`` was started before the package was imported; it stops
    once the fresh JVM has warmed up on the mix itself: a pass that
    collects each result, then MIX_WARM_PASSES through the noop sink. The
    collected results are checked against the oracles outside any clock."""
    with run.span("setup"):
        spark = run.session()
        from kafka_connect_bigquery_storage_write_spark.queries import ORACLE, QUERIES, load_all

        load_all()
        with run.span("setup.warmup"):
            read = Clock()
            results, problems = collect_mix(spark, names, fixture, QUERIES, read)
            for _ in range(MIX_WARM_PASSES):
                mix_pass(run, spark, names, fixture, QUERIES, problems)
    setup.stop()
    problems += check_mix(fixture, results, ORACLE)

    if run.tracer:
        run.tracer.listen(spark)
    with run.span("measured") as measured, Clock() as work:
        clocks = mix_pass(run, spark, names, fixture, QUERIES, problems)
    failed_names = {p.split(":", 1)[0] for p in problems}
    return {
        **summarize(setup, work, clocks, [read], len(clocks)),
        "mix_s": work.wall,
        "attempted": len(names),
        "failed": len(failed_names),
        "problems": problems,
        "scopes": [measured],
        "sink_counts": {},
    }


# -- driver -----------------------------------------------------------------------------
def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test scale: a handful of tiny files and the smallest fixture tables
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def generate(args) -> dict:
    import gen

    cache = os.path.join(WORK, "cache")
    if args.workload == "query_mix":
        return gen.fixture_tables(cache, args.seed, 0.001 if args.tiny else MIX_SF)
    spec = INGEST[args.workload]
    rows = 200 if args.tiny else spec["rows_per_file"]
    n_files = 4 if args.tiny else max(MIN_FILES, round(args.seconds * spec["files_per_s"]))
    warm = 1 if args.tiny else spec["warm_files"]
    return gen.ingest_backlog(cache, args.workload, args.seed, n_files, warm, rows, spec["fmt"], spec["upsert"])


def prepare_work(log_name: str) -> tuple[int, int]:
    """Fresh scratch dirs inside the checkout; route every temp file there
    and Spark's console output into a log. Returns dups of the original
    stdout/stderr."""
    for d in ("run", "tmp", "eventlog", "spark-local"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    for d in ("logs", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None
    out, err = os.dup(1), os.dup(2)
    log = os.open(os.path.join(WORK, "logs", log_name), os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log, 1)
    os.dup2(log, 2)
    os.close(log)
    sys.stdout = os.fdopen(1, "w", buffering=1, closefd=False)
    sys.stderr = os.fdopen(2, "w", buffering=1, closefd=False)
    return out, err


def result_line(res: dict, trace: bool, layer: dict | None) -> dict:
    if trace:
        from tracing import LAYER_METRICS

        metrics = {k: {"value": float(layer[k]), "unit": u} for k, (u, _) in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in E2E_UNITS.items()}
    return {
        "correct": not res["problems"] and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    data = generate(args)
    tag = f"{args.workload}-s{args.seed}-trace{args.trace}"
    out_fd, err_fd = prepare_work(f"{tag}.log")
    run = Run(args)
    cpu0, load0 = _cpu_times(), _loadavg()
    rss = PeakRss()
    rss.start()
    setup = Clock().start()
    try:
        if args.trace:
            from tracing import Tracer

            run.tracer = Tracer()
            run.tracer.install()
        if args.workload == "query_mix":
            res = run_mix(run, MIX, data, setup)
        else:
            res = run_ingest(run, INGEST[args.workload], data, setup)
        app_id = run.spark.sparkContext.applicationId
    except Exception:  # noqa: BLE001
        os.write(err_fd, traceback.format_exc().encode())
        run.shutdown()
        return 1
    res["ungated"]["peak_rss_mb"] = rss.stop()
    run.shutdown()
    cpu1 = _cpu_times()
    delta = [b - a for a, b in zip(cpu0, cpu1)]
    host = {
        "nproc": os.cpu_count(),
        "loadavg_start": load0,
        "loadavg_end": _loadavg(),
        "steal_share": delta[7] / max(1, sum(delta[:8])) if len(delta) > 7 else None,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    layer = None
    record = {"args": vars(args), "inputs": data, "host": host, **{k: v for k, v in res.items() if k != "scopes"}}
    if args.trace:
        import tracing

        jobs = tracing.read_jobs(os.path.join(run.event_dir, app_id))
        layer, detail = tracing.layer_metrics(run.tracer, jobs, res["scopes"], res["sink_counts"])
        record.update(layer_metrics=layer, layer_detail=detail, spans=tracing.span_table(run.tracer.spans))
        record["tracing_overhead"] = tracing_overhead(args, {**res["e2e"], **res["ungated"]})
    line = result_line(res, bool(args.trace), layer)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    summary = {k: round(v["value"], 4) for k, v in line["metrics"].items()}
    os.write(err_fd, f"perfbench {tag}: correct={line['correct']} {summary} host={host}\n".encode())
    for p in res["problems"]:
        os.write(err_fd, f"perfbench problem: {p}\n".encode())
    os.write(out_fd, (json.dumps(line) + "\n").encode())
    return 0


def tracing_overhead(args, traced: dict) -> dict:
    """Traced minus untraced end-to-end numbers, against the untraced run
    of the same workload and seed (or, failing that, any seed)."""
    results = os.path.join(WORK, "results")
    base = os.path.join(results, f"{args.workload}-s{args.seed}-trace0.json")
    if not os.path.exists(base):
        others = sorted(
            (os.path.join(results, n) for n in os.listdir(results) if n.startswith(f"{args.workload}-") and n.endswith("-trace0.json")),
            key=os.path.getmtime,
        )
        base = others[-1] if others else None
    if base is None:
        return {"untraced_run": None}
    with open(base) as fh:
        record = json.load(fh)
    untraced = {**record["e2e"], **record.get("ungated", {})}
    return {
        "untraced_run": os.path.basename(base),
        **{k: {"traced": v, "untraced": untraced[k], "delta": v - untraced[k]} for k, v in traced.items() if k in untraced},
    }


if __name__ == "__main__":
    sys.exit(main())

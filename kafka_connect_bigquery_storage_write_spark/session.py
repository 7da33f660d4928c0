"""SparkSession construction with scale-aware defaults.

Local test runs use local[N]; the same config block is what we would ship
to a 1000-executor cluster — AQE on (runtime partition coalescing + skew
join handling), Arrow for the pandas-UDF path, UTC session time.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"

# Spark applicationIds that already received the package zip via addPyFile.
# Keyed by applicationId, NOT id(sc): CPython reuses object ids after GC, so
# a fresh context could alias a dead one's id and silently skip shipping.
_SHIPPED_APPS: set[str] = set()


def _build_package_zip() -> str:
    """Zip this package so Python workers can import it (rebuilt when stale).

    Returns a path whose archive root is ``kafka_connect_bigquery_storage_write_spark/`` — exactly the
    layout ``sparkContext.addPyFile`` prepends to every worker's sys.path.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    # per-user filename: a fixed name in the SHARED tempdir would collide
    # across users (os.replace -> EPERM on a foreign file, or a foreign
    # fresh-mtime zip shipping instead of this checkout's code)
    zip_path = os.path.join(tempfile.gettempdir(), f"{pkg_name}-pyfiles-{os.getuid()}.zip")

    sources: list[tuple[str, str]] = []
    newest_src = 0.0
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(root, fn)
            arc = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
            sources.append((full, arc))
            newest_src = max(newest_src, os.path.getmtime(full))

    if not (os.path.exists(zip_path) and os.path.getmtime(zip_path) >= newest_src):
        tmp = zip_path + f".tmp.{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full, arc in sources:
                zf.write(full, arc)
        os.replace(tmp, zip_path)  # atomic: concurrent builders race safely
    return zip_path


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the engine package to Python workers (idempotent per context).

    Any closure that references this package (``applyInPandas`` kernels in
    ``queries/udfs.py``, the Avro decode kernel in ``schema/avro.py``, …)
    unpickles on the Python WORKER and re-imports ``kafka_connect_bigquery_storage_write_spark`` there.
    Locally that import resolves through the driver's cwd; on a real cluster
    (or any driver started outside the repo) it does not.  ``addPyFile``
    distributes the zip and prepends it to every worker's sys.path, making
    the package self-shipping with no ``--py-files`` requirement.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_APPS:
        return
    zip_path = _build_package_zip()
    sc.addPyFile(zip_path)
    # addPyFile covers ordinary UDF workers (they read the includes list
    # and prepend SparkFiles paths), but Spark's DRIVER-side streaming
    # Python runner (transformWithStateInPandas init, foreachBatch) skips
    # that setup and builds its sys.path from the PYTHONPATH env of the
    # PythonFunction instead — which pyspark snapshots from
    # sc.environment at UDF-creation time. Adding the zip here makes the
    # package importable in that runner too (zips import natively). The
    # path is driver-local; on a multi-host cluster executors never need
    # it (includes cover them) and a missing sys.path entry is ignored.
    env_pp = sc.environment.get("PYTHONPATH", "")
    if zip_path not in env_pp.split(os.pathsep):
        sc.environment["PYTHONPATH"] = zip_path + (os.pathsep + env_pp if env_pp else "")
    _SHIPPED_APPS.add(app_id)


def get_spark(
    app_name: str = "kafka_connect_bigquery_storage_write_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is cluster-safe: AQE handles partition coalescing
    and skew joins at any scale, and shuffle partitions default to the
    parallelism of the runtime rather than Spark's legacy 200.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce toward the runtime's parallelism, not toward 1 MB
        # partitions: byte-based coalescing starves CPU-heavy stages
        # (Python grouped-map above all) whose inputs are small in bytes
        # but expensive per row. parallelismFirst is Spark's default; the
        # lower floor lets it hold for small-bytes shuffles too. At TB
        # scale partitions are far above either floor, so this only
        # changes small-input behavior.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fixture `events` parquet stores TIMESTAMP(NANOS); read as long and
        # convert to micros in the loader (Spark has no native ns timestamps)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
        # columns carry NO parquet footer min/max statistics, which blinds
        # both engine-side row-group skipping and the manifest sink's
        # zone-map pruning for every timestamp column (observed: ts stats
        # absent under INT96). Micros is also what Iceberg/Delta mandate.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # every bounded global window (allowlisted in test_plans/test_window_lint)
    # logs "No Partition Defined" on each run; the tests guard the property,
    # so the warning flood only buries real signal in the logs
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        WINDOW_EXEC_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    ensure_shipped(spark)
    return spark

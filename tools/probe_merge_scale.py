"""Probe: pruned MERGE write amplification (VERDICT r9 #1).

Builds a key-clustered sink table (N_FILES files, disjoint key ranges —
the post-compaction / ordered-ingest layout), then applies ONE small CDC
batch (updates confined to a single file's range + a few inserts)
through ``merge_rows_pruned`` — zone-map touched-file copy-on-write —
and reports wall time plus how many data files it rewrote and
pointer-copied. The claim under test: the rewrite cost is O(touched
files), so the rewritten-file count stays flat as the table grows.

Usage: python tools/probe_merge_scale.py [n_files] [rows_per_file]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import ManifestSinkTable  # noqa: E402


def build(spark, root, n_files, rows_per):
    sink = ManifestSinkTable(root, write_mode="committed")
    for b in range(n_files):
        df = spark.range(b * rows_per, (b + 1) * rows_per).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        sink.write_batch(df.coalesce(1), b)
    return sink


def cdc_batch(spark, rows_per, n_files):
    upd = spark.range(10, 10 + 500).select(
        F.col("id").alias("k"), F.lit("UPDATED").alias("payload")
    )
    ins = spark.range(n_files * rows_per, n_files * rows_per + 100).select(
        F.col("id").alias("k"), F.lit("INSERTED").alias("payload")
    )
    return upd.unionByName(ins)


def main():
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    rows_per = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="probe_merge_p_")
    sink = build(spark, f"{root}/t", n_files, rows_per)
    updates = cdc_batch(spark, rows_per, n_files).localCheckpoint(eager=True)
    t0 = time.time()
    res = sink.merge_rows_pruned(spark, updates, keys=["k"], target_files=2)
    assert res is not None
    dt = time.time() - t0
    n = sink.read(spark).count()
    print(
        f"merge_rows_pruned: {dt:6.2f}s  table={n_files}x{rows_per} rows  "
        f"rewritten_files={res[1]} pointer_copied={res[2]}  rows_after={n}"
    )


if __name__ == "__main__":
    main()

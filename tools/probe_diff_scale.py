"""Snapshot-diff scale probe (round 9).

Measures ManifestSinkTable.diff() on a 16-file / 4M-row table, anchor =
batch 2 (3M rows), after: batch 3 appends 1M rows, a keyed MERGE
updates 1k keys, a DV point delete removes 1k rows. Expected change
volume: 1M inserts + 1k deletes + 2k update rows.

1. full keyed diff (one full-outer join over both states),
2. where-restricted keyed diff (zone-map-pruned current side),
3. the bag diff (exceptAll) for comparison.

The claim under test: diff cost tracks the COMPARED volume, so a
restricted diff of a 100-TB table costs the restricted range, not the
table.

Usage: python tools/probe_diff_scale.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_connect_bigquery_storage_write_spark.session import get_spark
from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import ManifestSinkTable


def main() -> None:
    spark = get_spark(app_name="probe-diff", cpus=16, shuffle_partitions=16)
    n = 4_000_000
    root = tempfile.mkdtemp(prefix="probe_diff_")
    sink = ManifestSinkTable(f"{root}/t", write_mode="committed")
    step = n // 4
    for b in range(4):
        sink.write_batch(
            spark.range(b * step, (b + 1) * step)
            .select(F.col("id").alias("k"), (F.col("id") % 1000).alias("v"))
            .repartition(4),
            b,
        )
    upd = spark.range(0, 1_000_000, 1000).select(F.col("id").alias("k"), F.lit(-1).alias("v"))
    t0 = time.perf_counter()
    assert sink.merge_rows_pruned(spark, upd, keys=["k"]) is not None
    t_merge = time.perf_counter() - t0
    t0 = time.perf_counter()
    assert sink.delete_where_dv(spark, [("k", ">=", 2_000_000), ("k", "<", 2_001_000)]) is not None
    t_dv = time.perf_counter() - t0

    t0 = time.perf_counter()
    full = sink.diff(spark, from_batch_id=2, key_cols=["k"])
    n_full = full.count()
    t_full = time.perf_counter() - t0

    t0 = time.perf_counter()
    restricted = sink.diff(
        spark, from_batch_id=2, key_cols=["k"], where=[("k", ">=", 1_900_000), ("k", "<", 2_100_000)]
    )
    n_restr = restricted.count()
    t_restr = time.perf_counter() - t0

    t0 = time.perf_counter()
    bag = sink.diff(spark, from_batch_id=2)
    n_bag = bag.count()
    t_bag = time.perf_counter() - t0

    print(f"rows={n} merge={t_merge:.2f}s dv={t_dv:.2f}s")
    print(f"keyed full diff:       {n_full} change rows in {t_full:.2f}s")
    print(f"keyed restricted diff: {n_restr} change rows in {t_restr:.2f}s")
    print(f"bag diff (exceptAll):  {n_bag} change rows in {t_bag:.2f}s")


if __name__ == "__main__":
    main()

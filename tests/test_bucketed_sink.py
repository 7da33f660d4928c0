"""Bucketed layout inside the manifest sink (VERDICT r9 #4): governed
tables (ACID, time travel, skipping) whose keyed joins/aggs skip the
shuffle via catalog bucketed scans — and whose bucket layout survives
appends, compaction, and pruned merges."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kafka_connect_bigquery_storage_write_spark.sinks import ManifestSinkTable
from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import _bucket_of


@pytest.fixture()
def no_broadcast(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _kv(spark, lo, hi, v="a"):
    return spark.range(lo, hi).select(F.col("id").alias("k"), F.lit(v).alias("v"))


def _mk(spark, tmp_path, name="t", buckets=4):
    return ManifestSinkTable(str(tmp_path / name), write_mode="committed", bucket_spec=(buckets, ["k"]))


def _drop(spark, *names):
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS `{n}`")


def test_bucketed_sink_join_has_no_exchange(spark, tmp_path, no_broadcast):
    """Two multi-batch bucketed sinks: the keyed join between their
    catalog reads runs with zero exchanges; the plain read() control
    shuffles — proving the layout, not AQE, removed it."""
    a = _mk(spark, tmp_path, "a")
    a.write_batch(_kv(spark, 0, 500), 0)
    a.write_batch(_kv(spark, 500, 1000), 1)
    b = _mk(spark, tmp_path, "b")
    b.write_batch(_kv(spark, 0, 1000, v="dim"), 0)
    try:
        ta = a.read_bucketed(spark, "tb_a")
        tb = b.read_bucketed(spark, "tb_b")
        j = ta.groupBy("k").agg(F.count(F.lit(1)).alias("n")).hint("merge").join(tb, "k")
        plan = _plan(j)
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == 1000
        control = _plan(a.read(spark).join(b.read(spark), "k"))
        assert "Exchange" in control, control
    finally:
        _drop(spark, "tb_a", "tb_b")


def test_every_data_file_is_bucket_named_and_manifest_stamped(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.write_batch(_kv(spark, 0, 100), 0)
    for m in sink._list_state().manifests:
        for e in m["files"]:
            assert _bucket_of(e["name"]) is not None
            assert e.get("bucket") == _bucket_of(e["name"])


def test_compaction_preserves_bucket_layout(spark, tmp_path, no_broadcast):
    """compact() on a bucketed sink merges per bucket (files stay
    bucket-named), the co-located join still skips the shuffle, content
    and time travel intact."""
    sink = _mk(spark, tmp_path)
    for bid in range(3):
        sink.write_batch(_kv(spark, bid * 100, (bid + 1) * 100), bid)
    before = sorted(r["k"] for r in sink.read(spark).collect())
    assert sink.compact(spark) is not None
    assert sorted(r["k"] for r in sink.read(spark).collect()) == before
    # every compacted file still carries a bucket id
    for m in sink._list_state().manifests:
        for e in m["files"]:
            assert _bucket_of(e["name"]) is not None, e
    # one file per non-empty bucket after compaction
    assert len(sink.visible_files()) <= 4
    try:
        t = sink.read_bucketed(spark, "tb_c")
        agg = t.groupBy("k").agg(F.sum("k").alias("s"))
        assert "Exchange" not in _plan(agg), _plan(agg)
        assert agg.count() == 300
    finally:
        _drop(spark, "tb_c")
    # time travel to the pre-compaction batches still reads
    assert sink.read_as_of(spark, batch_id=1).count() == 200
    with pytest.raises(ValueError, match="order_by|zorder"):
        sink.compact(spark, order_by=["k"])


def test_pruned_merge_keeps_bucket_layout(spark, tmp_path, no_broadcast):
    """merge_rows_pruned on a bucketed sink: pointer copies keep their
    bucket names, rewritten files are re-bucketed, and the co-located
    read still runs exchange-free afterwards."""
    sink = _mk(spark, tmp_path)
    sink.write_batch(_kv(spark, 0, 100), 0)
    sink.write_batch(_kv(spark, 100, 200), 1)
    upd = spark.createDataFrame([(5, "U"), (900, "NEW")], "k long, v string")
    res = sink.merge_rows_pruned(spark, upd, keys=["k"])
    assert res is not None
    rows = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert rows[5] == "U" and rows[900] == "NEW" and rows[150] == "a" and len(rows) == 201
    for m in sink._list_state().manifests:
        for e in m["files"]:
            assert _bucket_of(e["name"]) is not None, e
    try:
        t = sink.read_bucketed(spark, "tb_m")
        agg = t.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        assert "Exchange" not in _plan(agg), _plan(agg)
        assert agg.count() == 201
    finally:
        _drop(spark, "tb_m")


def test_bucketed_read_refuses_pending_dvs_then_recovers(spark, tmp_path):
    sink = _mk(spark, tmp_path)
    sink.write_batch(_kv(spark, 0, 100), 0)
    assert sink.delete_where_dv(spark, [("k", "==", 7)]) is not None
    with pytest.raises(ValueError, match="compact"):
        sink.read_bucketed(spark, "tb_dv")
    assert sink.read(spark).count() == 99  # merge-on-read path still fine
    assert sink.compact(spark) is not None
    try:
        assert sink.read_bucketed(spark, "tb_dv").count() == 99
    finally:
        _drop(spark, "tb_dv")


def test_vacuum_reclaims_old_bucketed_read_snapshots(spark, tmp_path):
    """read_bucketed hardlink snapshots are reader-lifetime views: vacuum
    reclaims them past the retention window, never before."""
    import os

    sink = _mk(spark, tmp_path)
    sink.write_batch(_kv(spark, 0, 50), 0)
    try:
        assert sink.read_bucketed(spark, "tb_vac").count() == 50
    finally:
        _drop(spark, "tb_vac")
    br = tmp_path / "t" / "_bucketed_reads"
    assert len(os.listdir(br)) == 1
    assert sink.vacuum(retention_s=24 * 3600) == []  # too young: kept
    removed = sink.vacuum(retention_s=0.0)
    assert any(r.startswith("_bucketed_reads/") for r in removed), removed
    assert os.listdir(br) == []
    assert sink.read(spark).count() == 50  # data untouched


def test_bucket_spec_persists_and_validates(spark, tmp_path):
    sink = _mk(spark, tmp_path, buckets=4)
    sink.write_batch(_kv(spark, 0, 10), 0)
    # a later opener without the spec inherits it
    again = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    assert again.bucket_spec == (4, ("k",))
    again.write_batch(_kv(spark, 10, 20), 1)
    for m in again._list_state().manifests:
        for e in m["files"]:
            assert _bucket_of(e["name"]) is not None
    with pytest.raises(ValueError, match="does not match"):
        ManifestSinkTable(str(tmp_path / "t"), write_mode="committed", bucket_spec=(8, ["k"]))


def test_bucketed_sink_zone_map_skipping_still_works(spark, tmp_path):
    """Bucketing composes with data skipping: a range predicate still
    prunes files through the manifest stats."""
    sink = _mk(spark, tmp_path, buckets=2)
    sink.write_batch(_kv(spark, 0, 100), 0)
    sink.write_batch(_kv(spark, 1000, 1100), 1)
    allf = sink.visible_files()
    pruned = sink.visible_files([("k", ">=", 1000)])
    assert len(pruned) < len(allf)
    assert sink.read(spark, where=[("k", ">=", 1000)]).count() == 100

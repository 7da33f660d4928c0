"""File-level copy-on-write MERGE (VERDICT r9 #1).

merge_rows_pruned must (a) keep exact MERGE semantics — last writer wins
per key, NULL keys match NULL — checked against an independent Python
model, (b) rewrite
ONLY the files whose zone-maps/blooms admit an update key — pointer-copying
the rest — and (c) compose with delete vectors, time travel, the change
feed, and replay idempotence like every other sink write path.
"""

from __future__ import annotations

import pytest

from kafka_connect_bigquery_storage_write_spark.sinks import ManifestSinkTable


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _ranged_sink(spark, tmp_path, n_batches=4, rows_per=100, **kw):
    """One file per batch, each holding a DISJOINT key range — the layout
    zone maps are built for (clustered ingest / post-compaction order)."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed", **kw)
    for b in range(n_batches):
        sink.write_batch(
            _kv(spark, [(b * rows_per + i, "x") for i in range(rows_per)]).coalesce(1), b
        )
    return sink


def _content(sink, spark):
    return sorted((r["k"], r["v"]) for r in sink.read(spark).collect())


def _nullsafe_sorted(rows):
    return sorted(rows, key=lambda t: (t[0] is None, t[0] if t[0] is not None else 0, t[1]))


def _lww(*row_sets):
    """Independent MERGE model: apply each (k, v) row set in order, last
    writer wins per key; a Python dict keys None as ONE key, which is
    exactly the NULL-matches-NULL merge rule."""
    state = {}
    for rows in row_sets:
        state.update(dict(rows))
    return _nullsafe_sorted(state.items())


def test_pruned_merge_matches_merge_rows_semantics(spark, tmp_path):
    """merge_rows_pruned content == the last-writer-wins model (updates
    replace, unmatched keys insert)."""
    sink = _ranged_sink(spark, tmp_path)
    base = _content(sink, spark)
    rows = [(5, "U"), (150, "U"), (9_999, "NEW")]
    assert sink.merge_rows_pruned(spark, _kv(spark, rows), keys=["k"]) is not None
    assert _content(sink, spark) == _lww(base, rows)


def test_pruned_merge_rewrites_only_intersecting_files(spark, tmp_path):
    """The O(touched-files) pin: updates confined to one batch's key range
    rewrite ONE file; the other three are pointer copies."""
    sink = _ranged_sink(spark, tmp_path, n_batches=4)
    res = sink.merge_rows_pruned(
        spark, _kv(spark, [(110, "U"), (120, "U")]), keys=["k"], target_files=1
    )
    assert res is not None
    _snap, n_rewritten, n_kept = res
    assert n_kept == 3 and n_rewritten == 1, res
    rows = dict(_content(sink, spark))
    assert rows[110] == "U" and rows[120] == "U" and rows[0] == "x" and len(rows) == 400


def test_pruned_merge_insert_only_copies_everything(spark, tmp_path):
    """Keys beyond every file's bounds: zero files read, all pointer-copied,
    inserts land in the one rewritten file."""
    sink = _ranged_sink(spark, tmp_path, n_batches=3)
    res = sink.merge_rows_pruned(
        spark, _kv(spark, [(10_000, "n1"), (10_001, "n2")]), keys=["k"], target_files=1
    )
    assert res is not None and res[1] == 1 and res[2] == 3, res
    rows = dict(_content(sink, spark))
    assert rows[10_000] == "n1" and len(rows) == 302


def test_pruned_merge_bloom_skips_straddling_files(spark, tmp_path):
    """Scattered keys: every file's [min,max] straddles every key (zone
    maps blind), but the per-file bloom proves absence — only the file
    actually holding the key is rewritten."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed", bloom_columns=("k",))
    sink.write_batch(_kv(spark, [(i, "e") for i in range(0, 200, 2)]).coalesce(1), 0)  # evens
    sink.write_batch(_kv(spark, [(i, "o") for i in range(1, 200, 2)]).coalesce(1), 1)  # odds
    res = sink.merge_rows_pruned(spark, _kv(spark, [(4, "U")]), keys=["k"], target_files=1)
    assert res is not None and res[1] == 1 and res[2] == 1, res
    rows = dict(_content(sink, spark))
    assert rows[4] == "U" and rows[3] == "o" and len(rows) == 200


def test_pruned_merge_key_cap_falls_back_to_ranges(spark, tmp_path):
    """Above max_distinct_keys the per-key test degrades to per-column
    range overlap — coarser but still sound and still pruning."""
    sink = _ranged_sink(spark, tmp_path, n_batches=4)
    updates = _kv(spark, [(101, "U"), (102, "U"), (103, "U")])
    res = sink.merge_rows_pruned(spark, updates, keys=["k"], max_distinct_keys=2, target_files=1)
    assert res is not None and res[2] == 3, res  # ranges [101,103] only overlap file 1
    rows = dict(_content(sink, spark))
    assert rows[101] == rows[102] == rows[103] == "U" and len(rows) == 400


def test_pruned_merge_composite_keys(spark, tmp_path):
    """Composite keys prune conjunctively: a file is touched only if some
    update TUPLE fits every key column's bounds."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    df = spark.createDataFrame(
        [(g, i, "x") for g in (1, 2) for i in range(50)], "g long, k long, v string"
    )
    sink.write_batch(df.filter("g = 1").coalesce(1), 0)
    sink.write_batch(df.filter("g = 2").coalesce(1), 1)
    upd = spark.createDataFrame([(2, 7, "U")], "g long, k long, v string")
    res = sink.merge_rows_pruned(spark, upd, keys=["g", "k"], target_files=1)
    assert res is not None and res[1] == 1 and res[2] == 1, res
    got = {(r["g"], r["k"]): r["v"] for r in sink.read(spark).collect()}
    assert got[(2, 7)] == "U" and got[(1, 7)] == "x" and len(got) == 100


def test_pruned_merge_rejects_duplicate_update_keys(spark, tmp_path):
    sink = _ranged_sink(spark, tmp_path, n_batches=1)
    with pytest.raises(ValueError, match="duplicate keys"):
        sink.merge_rows_pruned(spark, _kv(spark, [(1, "a"), (1, "b")]), keys=["k"])


def test_pruned_merge_op_id_replay_short_circuits(spark, tmp_path):
    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    upd = _kv(spark, [(5, "U")])
    assert sink.merge_rows_pruned(spark, upd, keys=["k"], op_id="b7") is not None
    assert sink.merge_rows_pruned(spark, upd, keys=["k"], op_id="b7") is None  # replayed
    assert dict(_content(sink, spark))[5] == "U"


def test_pruned_keyed_delete(spark, tmp_path):
    """delete=True removes matched keys, ignores unmatched; a delete whose
    keys no file can hold is a no-op returning None (no snapshot burned)."""
    sink = _ranged_sink(spark, tmp_path, n_batches=3)
    res = sink.merge_rows_pruned(
        spark, _kv(spark, [(10, "?"), (11, "?"), (50_000, "?")]), keys=["k"],
        delete=True, target_files=1,
    )
    assert res is not None and res[2] == 2, res  # files 1,2 untouched
    rows = dict(_content(sink, spark))
    assert 10 not in rows and 11 not in rows and len(rows) == 298
    before = sink._latest_snapshot()["index"]
    assert sink.merge_rows_pruned(
        spark, _kv(spark, [(99_999, "?")]), keys=["k"], delete=True
    ) is None
    assert sink._latest_snapshot()["index"] == before


def test_pruned_merge_applies_and_absorbs_delete_vectors(spark, tmp_path):
    """Visible DVs: tombstoned rows must not resurrect, DV-referenced files
    are forced into the rewrite (pointer copies rename, which would orphan
    the DV's basenames), and the new snapshot absorbs the DVs."""
    sink = _ranged_sink(spark, tmp_path, n_batches=3)
    assert sink.delete_where_dv(spark, [("k", "==", 250)]) is not None
    # update touches file 0 only, but file 2 carries the DV -> also rewritten
    res = sink.merge_rows_pruned(spark, _kv(spark, [(5, "U")]), keys=["k"], target_files=1)
    assert res is not None and res[2] == 1, res  # only file 1 pointer-copied
    assert sink.visible_dvs() == []
    rows = dict(_content(sink, spark))
    assert 250 not in rows and rows[5] == "U" and len(rows) == 299


def test_pruned_merge_time_travel_unchanged(spark, tmp_path):
    """The merge is one snapshot: pre-merge history still reads the
    original batch dirs byte-for-byte."""
    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    before = _content(sink, spark)
    assert sink.merge_rows_pruned(spark, _kv(spark, [(5, "U"), (999, "NEW")]), keys=["k"]) is not None
    as_of = sorted((r["k"], r["v"]) for r in sink.read_as_of(spark, batch_id=1).collect())
    assert as_of == before
    rows = dict(_content(sink, spark))
    assert rows[5] == "U" and rows[999] == "NEW"


def test_pruned_merge_stats_survive_for_later_pruning(spark, tmp_path):
    """Pointer-copied entries carry their stats and rewritten files are
    re-stamped: a later pruned READ must still skip files."""
    sink = _ranged_sink(spark, tmp_path, n_batches=4)
    assert sink.merge_rows_pruned(spark, _kv(spark, [(110, "U")]), keys=["k"], target_files=1) is not None
    all_files = sink.visible_files()
    point = sink.visible_files([("k", "==", 350)])
    assert len(point) == 1 and len(all_files) == 4
    got = sink.read(spark, where=[("k", "==", 110)]).collect()
    assert [(r["k"], r["v"]) for r in got] == [(110, "U")]


def test_pruned_merge_then_second_merge_composes(spark, tmp_path):
    """Back-to-back pruned merges (the CDC steady state): keep- pointer
    copies from snapshot n prune again in snapshot n+1."""
    sink = _ranged_sink(spark, tmp_path, n_batches=4)
    assert sink.merge_rows_pruned(spark, _kv(spark, [(10, "U1")]), keys=["k"], target_files=1) is not None
    res = sink.merge_rows_pruned(spark, _kv(spark, [(210, "U2")]), keys=["k"], target_files=1)
    assert res is not None and res[2] == 3, res
    rows = dict(_content(sink, spark))
    assert rows[10] == "U1" and rows[210] == "U2" and len(rows) == 400


# -- null update keys (ADVICE r10) --------------------------------------------


def _content_nullsafe(sink, spark):
    return _nullsafe_sorted((r["k"], r["v"]) for r in sink.read(spark).collect())


def test_pruned_merge_null_keys_match_merge_rows(spark, tmp_path):
    """Null-keyed updates must not crash the driver planning pass and
    must keep the window semantics (NULL key matches NULL key) of the
    last-writer-wins model; a null-free, out-of-range file is still
    pointer-copied."""
    pruned = ManifestSinkTable(str(tmp_path / "a"), write_mode="committed")
    base = [
        [(i, "a") for i in range(100)],
        [(i, "b") for i in range(100, 200)],
        [(None, "n")] + [(i, "c") for i in range(200, 300)],
    ]
    for b, rows in enumerate(base):
        pruned.write_batch(_kv(spark, rows).coalesce(1), b)
    rows = [(None, "U"), (5, "U")]
    res = pruned.merge_rows_pruned(spark, _kv(spark, rows), keys=["k"], target_files=1)
    assert res is not None
    # batch 1 (keys 100-199, no nulls, out of update range) stays a pointer copy
    assert res[2] == 1, res
    got = _content_nullsafe(pruned, spark)
    assert got == _lww(*base, rows)
    assert (None, "U") in got and (5, "U") in got and len(got) == 301


def test_keyed_delete_matches_null_keys(spark, tmp_path):
    """The keyed DELETE uses the merge's NULL-key rule (``_key_match``):
    a NULL-keyed row upserted by one merge is removed by a keyed delete
    of the NULL key — a CDC mirror must not keep rows its source
    deleted. Non-NULL keys outside the delete set survive."""
    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    base = _content(sink, spark)
    assert sink.merge_rows_pruned(spark, _kv(spark, [(None, "U"), (7, "U")]), keys=["k"]) is not None
    assert (None, "U") in _content_nullsafe(sink, spark)
    dels = spark.createDataFrame([(None,), (8,)], "k long")
    assert sink.merge_rows_pruned(spark, dels, keys=["k"], delete=True) is not None
    want = [(k, v) for k, v in _lww(base, [(7, "U")]) if k != 8]
    assert _content_nullsafe(sink, spark) == want


def test_pruned_merge_all_null_update_keys_on_null_free_table(spark, tmp_path):
    """Every update key NULL, table provably null-free: zero files read
    (footer null counts prove absence), the null row inserts."""
    sink = _ranged_sink(spark, tmp_path, n_batches=3)
    res = sink.merge_rows_pruned(spark, _kv(spark, [(None, "U")]), keys=["k"], target_files=1)
    assert res is not None and res[1] == 1 and res[2] == 3, res
    got = _content_nullsafe(sink, spark)
    assert (None, "U") in got and len(got) == 301


def test_pruned_merge_null_keys_range_fallback(spark, tmp_path):
    """Above max_distinct_keys the planner degrades to ranges; a null in
    the update keys must still reach the file holding the null row."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(_kv(spark, [(i, "a") for i in range(100)]).coalesce(1), 0)
    sink.write_batch(_kv(spark, [(None, "n")] + [(i, "c") for i in range(200, 300)]).coalesce(1), 1)
    res = sink.merge_rows_pruned(
        spark, _kv(spark, [(None, "U"), (5, "U"), (50, "U")]), keys=["k"],
        max_distinct_keys=2, target_files=1,
    )
    assert res is not None
    got = dict((k, v) for k, v in _content_nullsafe(sink, spark) if k is not None)
    nulls = [v for k, v in _content_nullsafe(sink, spark) if k is None]
    assert nulls == ["U"] and got[5] == "U" and got[50] == "U" and len(got) == 200


def test_pruned_merge_duplicate_null_keys_rejected(spark, tmp_path):
    sink = _ranged_sink(spark, tmp_path, n_batches=1)
    with pytest.raises(ValueError, match="duplicate keys"):
        sink.merge_rows_pruned(spark, _kv(spark, [(None, "a"), (None, "b")]), keys=["k"])

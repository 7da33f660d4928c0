"""Merge-on-read keyed upserts (VERDICT r10 #2).

``upsert_mor`` must (a) keep exact MERGE semantics (last writer wins per
key, checked against an independent Python model), (b) be
APPEND-ONLY per micro-batch — no visible data file is rewritten or
renamed; superseded row versions die by tombstone — and (c) compose with
compaction, time travel, the change feed, delete vectors and replay
idempotence like every other sink write path.
"""

from __future__ import annotations

import os

import pytest

from kafka_connect_bigquery_storage_write_spark.sinks import ManifestSinkTable


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _ranged_sink(spark, tmp_path, n_batches=4, rows_per=100, **kw):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed", **kw)
    for b in range(n_batches):
        sink.write_batch(
            _kv(spark, [(b * rows_per + i, "x") for i in range(rows_per)]).coalesce(1), b
        )
    return sink


def _content(sink, spark):
    return sorted((r["k"], r["v"]) for r in sink.read(spark).collect())


def test_mor_matches_merge_rows_semantics(spark, tmp_path):
    """upsert_mor's visible content == the last-writer-wins model
    (updates replace, unmatched keys insert)."""
    sink = _ranged_sink(spark, tmp_path)
    model = dict(_content(sink, spark))
    rows = [(5, "U"), (150, "U"), (399, "U"), (1000, "NEW"), (2000, "NEW")]
    res = sink.upsert_mor(spark, _kv(spark, rows), keys=["k"], batch_id=10)
    assert res is not None and res[1] == 3  # three matched keys tombstoned
    model.update(rows)
    assert _content(sink, spark) == sorted(model.items())


def test_mor_is_append_only(spark, tmp_path):
    """The write-amplification pin: every pre-existing visible file
    survives BY NAME (no rewrite, no pointer-copy rename), the only new
    files are the batch's own."""
    sink = _ranged_sink(spark, tmp_path, bloom_columns=("k",))
    pre = {os.path.basename(p) for p in sink.visible_files()}
    res = sink.upsert_mor(spark, _kv(spark, [(0, "U"), (399, "U"), (999, "N")]), keys=["k"], batch_id=9)
    assert res is not None and res[1] == 2
    post = {os.path.basename(p) for p in sink.visible_files()}
    assert pre <= post, "a MOR upsert must not rewrite or rename any visible file"
    assert len(post - pre) == 1  # target_files=1 -> one appended file


def test_mor_replay_and_op_id(spark, tmp_path):
    sink = _ranged_sink(spark, tmp_path)
    upd = _kv(spark, [(1, "U")])
    assert sink.upsert_mor(spark, upd, keys=["k"], batch_id=7, op_id="b7") is not None
    # batch-id short-circuit (the streaming replay path)
    assert sink.upsert_mor(spark, upd, keys=["k"], batch_id=7) is None
    # op-id short-circuit (crash between publish and the caller's cursor)
    assert sink.upsert_mor(spark, upd, keys=["k"], batch_id=7, op_id="b7") is None
    assert _content(sink, spark).count((1, "U")) == 1


def test_mor_pure_insert_publishes_without_dv(spark, tmp_path):
    """A batch matching no existing key goes through the plain marker CAS:
    no DV, so stats-only aggregates stay available."""
    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    res = sink.upsert_mor(spark, _kv(spark, [(500, "P"), (501, "P")]), keys=["k"], batch_id=5)
    assert res == (None, 0)
    assert not sink.visible_dvs()
    assert sink.stats_agg(["k"])["rows"] == 202


def test_mor_duplicate_update_keys_rejected(spark, tmp_path):
    sink = _ranged_sink(spark, tmp_path, n_batches=1)
    with pytest.raises(ValueError, match="duplicate keys"):
        sink.upsert_mor(spark, _kv(spark, [(1, "a"), (1, "b")]), keys=["k"], batch_id=5)


def test_mor_seed_write(spark, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    assert sink.upsert_mor(spark, _kv(spark, [(1, "a")]), keys=["k"], batch_id=0) == (None, 0)
    assert _content(sink, spark) == [(1, "a")]


def test_mor_time_travel(spark, tmp_path):
    """The MOR DV applies exactly from its own batch id onward."""
    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    assert sink.upsert_mor(spark, _kv(spark, [(5, "U"), (900, "N")]), keys=["k"], batch_id=8) is not None
    old = dict(_content := {r["k"]: r["v"] for r in sink.read_as_of(spark, batch_id=1).collect()})
    assert old[5] == "x" and 900 not in old and len(old) == 200
    now = {r["k"]: r["v"] for r in sink.read_as_of(spark, batch_id=8).collect()}
    assert now[5] == "U" and now[900] == "N" and len(now) == 201


def test_mor_compaction_absorbs_tombstones(spark, tmp_path):
    sink = _ranged_sink(spark, tmp_path)
    assert sink.upsert_mor(spark, _kv(spark, [(5, "U"), (205, "U")]), keys=["k"], batch_id=9) is not None
    before = _content(sink, spark)
    assert sink.visible_dvs()
    assert sink.compact(spark) is not None
    assert not sink.visible_dvs()
    assert _content(sink, spark) == before
    # post-compaction reads are tombstone-free single scans again
    assert sink.stats_agg(["k"])["rows"] == 400


def test_mor_change_feed_typing(spark, tmp_path):
    """The batch enters the feed as 'upsert'; the mechanism DV emits NO
    delete change rows (it tombstones superseded versions, not rows)."""
    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    assert sink.upsert_mor(spark, _kv(spark, [(5, "U"), (900, "N")]), keys=["k"], batch_id=6) is not None
    ch = sink.changes(spark, after_batch_id=1, include_deletes=True)
    rows = sorted(
        (r["_change_batch_id"], r["_change_type"], r["k"], r["v"]) for r in ch.collect()
    )
    assert rows == [(6, "upsert", 5, "U"), (6, "upsert", 900, "N")]


def test_mor_feed_consumer_converges(spark, tmp_path):
    """A ChangeFeedConsumer drains a MOR-upserted source into a mirror:
    content converges, the mechanism DV is never applied as a delete."""
    from kafka_connect_bigquery_storage_write_spark.sinks.cdf_consumer import ChangeFeedConsumer

    src = _ranged_sink(spark, tmp_path, n_batches=2)
    assert src.upsert_mor(spark, _kv(spark, [(5, "U"), (900, "N")]), keys=["k"], batch_id=6) is not None
    assert src.delete_where_dv(spark, [("k", ">=", 190)]) is not None  # a REAL delete too
    tgt = ManifestSinkTable(str(tmp_path / "mirror"), write_mode="committed")
    consumer = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    assert consumer.run_available_now(spark) == 4  # 2 inserts + 1 upsert + 1 dv
    assert consumer.poll(spark) == 0
    assert _content(src, spark) == _content(tgt, spark)


def test_mor_null_keys_match_null(spark, tmp_path):
    """Window-merge semantics: a NULL update key replaces the NULL-keyed
    row (eqNullSafe matching + null-count planning)."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(_kv(spark, [(1, "a"), (None, "old")]).coalesce(1), 0)
    res = sink.upsert_mor(spark, _kv(spark, [(None, "new")]), keys=["k"], batch_id=1)
    assert res is not None and res[1] == 1
    got = {(r["k"], r["v"]) for r in sink.read(spark).collect()}
    assert got == {(1, "a"), (None, "new")}


def test_mor_respects_prior_tombstones(spark, tmp_path):
    """Positions already tombstoned by an earlier DV are not re-counted."""
    sink = _ranged_sink(spark, tmp_path, n_batches=1)
    assert sink.delete_where_dv(spark, [("k", "==", 5)]) is not None
    res = sink.upsert_mor(spark, _kv(spark, [(5, "U"), (6, "U")]), keys=["k"], batch_id=4)
    # key 5's old position is already dead; only key 6's is tombstoned
    assert res is not None and res[1] == 1
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got[5] == "U" and got[6] == "U" and len(got) == 100


def test_mor_additive_schema_evolution(spark, tmp_path):
    """An update batch carrying a new nullable column grows the schema;
    pre-evolution rows read the column as null."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed", schema_evolution="additive")
    sink.write_batch(_kv(spark, [(1, "a"), (2, "b")]).coalesce(1), 0)
    upd = spark.createDataFrame([(2, "B", 9)], "k long, v string, extra long")
    assert sink.upsert_mor(spark, upd, keys=["k"], batch_id=1) is not None
    got = sorted((r["k"], r["v"], r["extra"]) for r in sink.read(spark).collect())
    assert got == [(1, "a", None), (2, "B", 9)]


def _pending_seeded(spark, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="pending")
    sink.write_batch(_kv(spark, [(i, "base") for i in range(20)]).coalesce(2), 0)
    sink.commit()
    return sink


def test_mor_pending_invisible_until_commit_then_atomic(spark, tmp_path):
    """R17 pending semantics on the MERGE surface (VERDICT r12 #5): a
    staged multi-batch feed with OVERLAPPING keys across batches is
    invisible everywhere (read, changes, time travel), then one commit()
    flips the converged final state — later staged upserts supersede
    earlier staged rows inside the transaction."""
    sink = _pending_seeded(spark, tmp_path)
    assert sink.upsert_mor(spark, _kv(spark, [(1, "u1"), (2, "u1"), (100, "n1")]), keys=["k"], batch_id=1) is not None
    assert sink.upsert_mor(spark, _kv(spark, [(2, "u2"), (3, "u2")]), keys=["k"], batch_id=2) is not None
    assert sink.upsert_mor(spark, _kv(spark, [(100, "u3"), (4, "u3")]), keys=["k"], batch_id=3) is not None
    pre = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert pre == {i: "base" for i in range(20)}
    assert sink.changes(spark, after_batch_id=0).count() == 0
    published = sink.commit()
    assert published == [1, 2, 3]
    exp = {i: "base" for i in range(20)} | {1: "u1", 2: "u2", 3: "u2", 4: "u3", 100: "u3"}
    assert {r["k"]: r["v"] for r in sink.read(spark).collect()} == exp
    # the feed shows the three batches as upserts only AFTER the epoch
    assert [(b, t) for b, _d, t in sink._change_sources(0)] == [(1, "upsert"), (2, "upsert"), (3, "upsert")]
    # epoch-grain time travel: before-state and after-state both reachable
    assert all(v == "base" for v in {r["k"]: r["v"] for r in sink.read_as_of(spark, epoch=0).collect()}.values())
    assert {r["k"]: r["v"] for r in sink.read_as_of(spark, epoch=1).collect()} == exp


def test_mor_pending_replay_and_reset(spark, tmp_path):
    """A replayed staged batch id is a no-op (R14 under the transaction);
    reset() discards the staged merge entirely — dv json, tombstone dir
    and insert dir — leaving the committed state untouched."""
    sink = _pending_seeded(spark, tmp_path)
    assert sink.upsert_mor(spark, _kv(spark, [(5, "x")]), keys=["k"], batch_id=1) is not None
    assert sink.upsert_mor(spark, _kv(spark, [(5, "x")]), keys=["k"], batch_id=1) is None  # replay
    assert sink.reset() == [1]
    assert {r["k"]: r["v"] for r in sink.read(spark).collect()} == {i: "base" for i in range(20)}
    # transaction gone: maintenance works again and a fresh merge commits
    assert sink.upsert_mor(spark, _kv(spark, [(5, "y")]), keys=["k"], batch_id=2) is not None
    sink.commit()
    assert sink.compact_small_files(spark) is not None
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got[5] == "y" and len(got) == 20


def test_mor_pending_blocks_maintenance_while_open(spark, tmp_path):
    """Rewrites defer with a loud error while a staged merge is open: a
    rewrite's renames would void tombstones that were never visible
    (resurrection at commit with no void signal until then)."""
    sink = _pending_seeded(spark, tmp_path)
    assert sink.upsert_mor(spark, _kv(spark, [(1, "u")]), keys=["k"], batch_id=1) is not None
    for op in (
        lambda: sink.compact_small_files(spark),
        lambda: sink.compact(spark),
        lambda: sink.delete_where_pruned(spark, [("k", "<", 5)]),
    ):
        with pytest.raises(ValueError, match="staged pending-mode merge open"):
            op()
    sink.commit()
    assert sink.compact_small_files(spark) is not None


def test_mor_pending_pure_insert_stages_via_marker(spark, tmp_path):
    """A staged upsert matching no existing key publishes through the
    STAGED marker (no DV) — invisible until the epoch like any pending
    append, and stats-carrying after it."""
    sink = _pending_seeded(spark, tmp_path)
    res = sink.upsert_mor(spark, _kv(spark, [(500, "new")]), keys=["k"], batch_id=1)
    assert res == (None, 0)
    assert {r["k"] for r in sink.read(spark).collect()} == set(range(20))
    assert sink.staged_ids() == [1]
    sink.commit()
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got[500] == "new" and len(got) == 21


def test_mor_pending_vacuum_pins_open_transaction(spark, tmp_path):
    """vacuum must never reclaim an open transaction's insert or
    tombstone dirs, regardless of retention age (commit()/reset()
    releases them, not time)."""
    sink = _pending_seeded(spark, tmp_path)
    assert sink.upsert_mor(spark, _kv(spark, [(1, "u"), (300, "n")]), keys=["k"], batch_id=1) is not None
    removed = sink.vacuum(retention_s=0.0)
    assert removed == []
    sink.commit()
    exp = {i: "base" for i in range(20)} | {1: "u", 300: "n"}
    assert {r["k"]: r["v"] for r in sink.read(spark).collect()} == exp


def test_mor_bucketed_layout_preserved(spark, tmp_path):
    """On a bucketed table the MOR append keeps bucket-named files, and
    after compact() (absorbing the tombstones) read_bucketed works."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed", bucket_spec=(4, ["k"]))
    sink.write_batch(_kv(spark, [(i, "x") for i in range(50)]), 0)
    assert sink.upsert_mor(spark, _kv(spark, [(3, "U"), (100, "N")]), keys=["k"], batch_id=1) is not None
    assert sink.compact(spark) is not None
    import uuid

    name = f"mor_bkt_{uuid.uuid4().hex[:8]}"
    got = {r["k"]: r["v"] for r in sink.read_bucketed(spark, name).collect()}
    spark.sql(f"DROP TABLE `{name}`")
    assert got[3] == "U" and got[100] == "N" and len(got) == 51


def test_mor_crash_race_replay_self_heals(spark, tmp_path, monkeypatch):
    """The one crash window the CAS protocol can't close alone: the MOR
    publish lands, the process dies BEFORE the barrier guard, and a
    compactor that listed BEFORE the publish wins the next snapshot —
    the tombstones go void (dead basenames) and the superseded versions
    resurrect. A replay of the same batch id must detect the void DV
    from manifest metadata and re-tombstone the resurrected copies."""
    import json
    import os
    import uuid

    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    upd = _kv(spark, [(5, "U"), (150, "U"), (900, "N")])

    # the racing compactor's listing happens FIRST (pre-publish state)
    pre_manifests = sink._visible_manifests()
    pre_batch_ids = sink.committed_ids()

    # MOR publish that "crashes" between the dv CAS and the barrier CAS
    def crash(_prior):
        raise RuntimeError("simulated crash before barrier")

    monkeypatch.setattr(sink, "_create_barrier_snapshot", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink.upsert_mor(spark, upd, keys=["k"], batch_id=9)
    monkeypatch.undo()

    # the racing compactor now materializes its PRE-PUBLISH listing and
    # wins snapshot-0 (it saw neither the dv nor the insert batch)
    new_dir = f"compacted-0-{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(sink.root, "data", new_dir)
    paths = [os.path.join(sink.root, "data", m["dir"]) for m in pre_manifests]
    spark.read.schema(sink.schema()).parquet(*paths).coalesce(1).write.parquet(out_dir)
    assert sink._atomic_create(
        os.path.join(sink.root, "_commits", "snapshot-0.json"),
        json.dumps(
            {"index": 0, "compacted_dirs": [new_dir], "absorbed_batch_ids": pre_batch_ids,
             "absorbed_dv_ids": []}  # no per-file stats: readers list the dir
        ),
    )

    # resurrection: matched keys now appear TWICE (compacted old + MOR new)
    dup = (
        sink.read(spark).groupBy("k").count().filter("count > 1").count()
    )
    assert dup == 2, "the void-DV window must resurrect the superseded versions"
    assert sink._mor_needs_repair(9)

    # replaying the batch self-heals: resurrected copies re-tombstoned
    res = sink.upsert_mor(spark, upd, keys=["k"], batch_id=9)
    assert res is not None and res[1] == 2
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got[5] == "U" and got[150] == "U" and got[900] == "N" and len(got) == 201
    assert not sink._mor_needs_repair(9)
    # and a further replay is the normal cheap short-circuit
    assert sink.upsert_mor(spark, upd, keys=["k"], batch_id=9) is None


def test_rewrite_repairs_void_mor_before_absorbing(spark, tmp_path, monkeypatch):
    """Round-11 review: if a compaction runs BEFORE the crashed MOR batch
    is replayed, it must not absorb the void DV as a no-op (which would
    bake the resurrected duplicates in permanently) — every rewrite path
    first self-heals the void publish from the keys recorded in the dv
    commit."""
    import json
    import os
    import uuid

    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    upd = _kv(spark, [(5, "U"), (150, "U"), (900, "N")])
    pre_manifests = sink._visible_manifests()
    pre_batch_ids = sink.committed_ids()

    def crash(_prior):
        raise RuntimeError("simulated crash before barrier")

    monkeypatch.setattr(sink, "_create_barrier_snapshot", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink.upsert_mor(spark, upd, keys=["k"], batch_id=9)
    monkeypatch.undo()
    new_dir = f"compacted-0-{uuid.uuid4().hex[:12]}"
    paths = [os.path.join(sink.root, "data", m["dir"]) for m in pre_manifests]
    spark.read.schema(sink.schema()).parquet(*paths).coalesce(1).write.parquet(
        os.path.join(sink.root, "data", new_dir)
    )
    assert sink._atomic_create(
        os.path.join(sink.root, "_commits", "snapshot-0.json"),
        json.dumps(
            {"index": 0, "compacted_dirs": [new_dir], "absorbed_batch_ids": pre_batch_ids,
             "absorbed_dv_ids": []}
        ),
    )
    assert sink._mor_needs_repair(9)
    # a maintenance compaction arrives FIRST (no replay yet): it must
    # repair, then absorb — never bake the duplicates in
    assert sink.compact(spark) is not None
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got[5] == "U" and got[150] == "U" and got[900] == "N" and len(got) == 201
    assert not sink._mor_needs_repair(9)
    assert not sink.visible_dvs()


def test_rewrite_includes_batch_committed_mid_listing(spark, tmp_path, monkeypatch):
    """Round-11 review: a batch whose marker CAS lands BETWEEN a rewrite's
    snapshot read and its commit-log read must be merged AND absorbed —
    the former listing order could mark it absorbed without merging its
    rows (silent loss). The interleaving is forced by committing a batch
    from inside the snapshot read."""
    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    late = _kv(spark, [(999, "LATE")])
    orig = sink._latest_snapshot
    fired = {"done": False}

    def sneaky():
        snap = orig()
        if not fired["done"]:
            fired["done"] = True
            sink.write_batch(late.coalesce(1), 7)
        return snap

    monkeypatch.setattr(sink, "_latest_snapshot", sneaky)
    assert sink.compact_small_files(spark, small_rows=10**9) is not None
    monkeypatch.undo()
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got.get(999) == "LATE" and len(got) == 201, (
        "the mid-listing batch must be merged, not absorbed-and-lost"
    )
    assert sink.committed_ids() == []  # and it IS absorbed by the snapshot


def test_rewrite_sees_mor_publish_atomically(spark, tmp_path, monkeypatch):
    """ADVICE r11 (high): a MOR publish landing between a rewrite's
    snapshot read and its commit-log read must be seen ENTIRE — insert
    rows AND tombstones come from the same dv-commit listing. The former
    two-listing shape (visible_dvs() first, _visible_state() second)
    could absorb the insert rows without applying the tombstones:
    duplicates baked in, DV left void, and the subsequent repair would
    key-tombstone the batch's own rewritten rows (silent key loss)."""
    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    upd = _kv(spark, [(5, "U"), (150, "U"), (900, "N")])
    orig_snap = sink._latest_snapshot
    fired = {"done": False}

    def sneaky():
        snap = orig_snap()
        if not fired["done"]:
            fired["done"] = True
            # a MOR upsert publishes its dv CAS mid-listing and "crashes"
            # before its barrier guard (the worst interleaving)
            def crash(_prior):
                raise RuntimeError("simulated crash before barrier")

            sink._create_barrier_snapshot = crash
            try:
                with pytest.raises(RuntimeError, match="simulated crash"):
                    sink.upsert_mor(spark, upd, keys=["k"], batch_id=9)
            finally:
                del sink.__dict__["_create_barrier_snapshot"]
        return snap

    monkeypatch.setattr(sink, "_latest_snapshot", sneaky)
    assert sink.compact(spark) is not None
    monkeypatch.undo()
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    dup = sink.read(spark).groupBy("k").count().filter("count > 1").count()
    assert dup == 0, "torn absorb: superseded versions baked in next to the upserts"
    assert got[5] == "U" and got[150] == "U" and got[900] == "N" and len(got) == 201
    # the commit was absorbed entire: no void residue, nothing to repair
    assert not sink._mor_needs_repair(9)
    assert sink.visible_dvs() == []


def test_mor_absorbed_without_dv_verifies_not_recomputes(spark, tmp_path, monkeypatch):
    """ADVICE r11 (high, second half): when a batch is in the latest
    snapshot's absorbed set but one of its MOR DVs is not (the DV was
    committed after the rewrite's listing and went void), the replay /
    repair path must NOT recompute tombstones by key — the batch's own
    rows were rewritten under new basenames, so the basename own-row
    exclusion no longer protects them and a key recompute would delete
    the upserted rows. It verifies the merged state instead and marks
    the void DV repaired."""
    import json
    import uuid

    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    upd = _kv(spark, [(5, "U"), (150, "U"), (900, "N")])
    res = sink.upsert_mor(spark, upd, keys=["k"], batch_id=9)
    assert res is not None and res[1] == 2

    # handcraft a follow-up tombstone-only MOR DV that will go void: it
    # references basenames no rewrite output will ever contain
    rel_dv = os.path.join("_deletes", f"dv-{uuid.uuid4().hex[:12]}")
    spark.createDataFrame(
        [("dead-basename.parquet", 0)], "file string, pos long"
    ).coalesce(1).write.parquet(os.path.join(sink.root, rel_dv))
    ghost_idx = max(sink._dv_commits()) + 1
    assert sink._atomic_create(
        os.path.join(sink.root, "_commits", f"dv-{ghost_idx}.json"),
        json.dumps(
            {"index": ghost_idx, "dir": rel_dv, "rows": 1,
             "files": ["dead-basename.parquet"], "mor": True, "insert": None,
             "keys": ["k"], "read_snapshot": -1, "as_of_batch": 9,
             "as_of_epoch": -1, "op_id": None}
        ),
    )

    # a compaction whose listing predates the ghost DV absorbs batch 9
    # (and its real DV) but not the ghost
    real_dv_commits = type(sink)._dv_commits

    def blind(self):
        return {i: d for i, d in real_dv_commits(self).items() if i != ghost_idx}

    monkeypatch.setattr(type(sink), "_dv_commits", blind)
    assert sink.compact(spark) is not None
    monkeypatch.undo()

    snap = sink._latest_snapshot()
    assert 9 in set(snap["absorbed_batch_ids"])
    assert ghost_idx not in set(snap["absorbed_dv_ids"])
    assert sink._mor_needs_repair(9)

    # replaying the batch must verify-and-mark, never key-recompute
    assert sink.upsert_mor(spark, upd, keys=["k"], batch_id=9) is None
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got.get(5) == "U" and got.get(150) == "U" and got.get(900) == "N", (
        "the key recompute deleted the upserted rows (ADVICE r11 data loss)"
    )
    assert len(got) == 201
    assert not sink._mor_needs_repair(9)
    # a later maintenance pass absorbs the ghost as a no-op
    assert sink.compact(spark) is not None
    assert sink.visible_dvs() == []
    assert len({r["k"] for r in sink.read(spark).collect()}) == 201


def test_mor_verify_raises_on_baked_in_duplicates(spark, tmp_path):
    """_verify_mor_merged fails LOUDLY when the absorbed layout holds
    duplicate rows for a batch key (the torn-absorb signature a foreign
    two-listing writer could bake in) instead of recomputing tombstones."""
    sink = _ranged_sink(spark, tmp_path, n_batches=1)
    upd = _kv(spark, [(5, "U")])
    # simulate the corrupted state: duplicate key 5 appended directly
    sink.write_batch(_kv(spark, [(5, "STALE")]).coalesce(1), 50)
    with pytest.raises(RuntimeError, match="duplicate rows survive"):
        sink._verify_mor_merged(spark, upd, ["k"], batch_id=9)


def test_read_sees_mor_publish_atomically(spark, tmp_path, monkeypatch):
    """ADVICE r11 (medium): read() must take its file list and its
    tombstone relation from ONE dv-commit listing — data-first listing
    let a concurrent MOR publish apply its tombstones against the old
    files while its insert rows were absent: upserted keys transiently
    vanished, a state that never existed."""
    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    upd = _kv(spark, [(5, "U"), (150, "U"), (900, "N")])
    orig_snap = sink._latest_snapshot
    fired = {"done": False}

    def sneaky():
        snap = orig_snap()
        if not fired["done"]:
            fired["done"] = True
            # lands AFTER the reader's dv listing, BEFORE its data listing
            assert sink.upsert_mor(spark, upd, keys=["k"], batch_id=9) is not None
        return snap

    monkeypatch.setattr(sink, "_latest_snapshot", sneaky)
    df = sink.read(spark)
    monkeypatch.undo()
    got = {r["k"]: r["v"] for r in df.collect()}
    assert len(got) == 200 and got[5] == "x" and got[150] == "x", (
        "torn read: tombstones applied without the insert rows (keys vanished)"
    )
    # a fresh read sees the upsert entire
    got2 = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got2[5] == "U" and got2[150] == "U" and got2[900] == "N" and len(got2) == 201


def test_rewrite_repairs_dv_voided_mid_listing(spark, tmp_path, monkeypatch):
    """Round-12 review (TOCTOU between _repair_void_mors and the
    listing): a MOR DV that goes void AFTER the rewrite's repair pass
    but BEFORE its listing — a racing rewrite's snapshot CAS landing in
    that window — must not be absorbed as a no-op (duplicates baked in,
    void signal cleared forever). _rewrite_listing re-derives void-ness
    from the listing being absorbed and loops back through repair."""
    import json
    import uuid

    sink = _ranged_sink(spark, tmp_path, n_batches=2)
    upd = _kv(spark, [(5, "U"), (150, "U"), (900, "N")])
    pre_manifests = sink._visible_manifests()
    pre_batch_ids = sink.committed_ids()

    def crash(_prior):
        raise RuntimeError("simulated crash before barrier")

    monkeypatch.setattr(sink, "_create_barrier_snapshot", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sink.upsert_mor(spark, upd, keys=["k"], batch_id=9)
    monkeypatch.undo()

    real_repair = type(sink)._repair_void_mors
    fired = {"done": False}

    def racing_repair(self, sp):
        real_repair(self, sp)  # finds nothing: the DV is still intact here
        if not fired["done"]:
            fired["done"] = True
            # the racing compactor (whose listing predates the MOR
            # publish) lands its snapshot AFTER the repair pass ran
            new_dir = f"compacted-0-{uuid.uuid4().hex[:12]}"
            paths = [os.path.join(sink.root, "data", m["dir"]) for m in pre_manifests]
            spark.read.schema(sink.schema()).parquet(*paths).coalesce(1).write.parquet(
                os.path.join(sink.root, "data", new_dir)
            )
            assert sink._atomic_create(
                os.path.join(sink.root, "_commits", "snapshot-0.json"),
                json.dumps(
                    {"index": 0, "compacted_dirs": [new_dir],
                     "absorbed_batch_ids": pre_batch_ids, "absorbed_dv_ids": []}
                ),
            )

    monkeypatch.setattr(type(sink), "_repair_void_mors", racing_repair)
    assert sink.compact(spark) is not None
    monkeypatch.undo()
    assert fired["done"]
    dup = sink.read(spark).groupBy("k").count().filter("count > 1").count()
    assert dup == 0, "mid-listing void DV absorbed as a no-op: duplicates baked in"
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got[5] == "U" and got[150] == "U" and got[900] == "N" and len(got) == 201
    assert not sink._mor_needs_repair(9)
    assert sink.visible_dvs() == []


def test_mor_pending_advisor_defers_while_open(spark, tmp_path):
    """The maintenance advisor must not advise an action that would hit
    the open-transaction refusal (the always-clears contract): while a
    staged merge is open, binpack/compact advice is suppressed and the
    transaction is surfaced as staged_merges_open; after commit() the
    advice returns and acting clears it."""
    sink = _pending_seeded(spark, tmp_path)
    assert sink.upsert_mor(spark, _kv(spark, [(1, "u"), (400, "n")]), keys=["k"], batch_id=1) is not None
    rep = sink.maintenance_report(small_rows=1000)
    assert rep["staged_merges_open"] == 1
    assert not rep["binpack_due"] and not rep["compact_due"]
    assert rep["n_visible_dvs"] == 0 and rep["n_void_mor_batches"] == 0
    sink.commit()
    rep = sink.maintenance_report(small_rows=1000)
    assert rep["staged_merges_open"] == 0 and rep["binpack_due"]
    assert sink.compact_small_files(spark, small_rows=1000) is not None
    rep = sink.maintenance_report(small_rows=1000)
    assert not rep["binpack_due"] and rep["n_visible_dvs"] == 0

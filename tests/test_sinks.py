"""Sink-table semantics (SURVEY.md §5 tier 3 restated locally).

Mirrors the reference's emulator integration test: committed mode visible
immediately; pending mode invisible until commit; idempotent replay
(ALREADY_EXISTS); reset discards staged batches.
"""

from __future__ import annotations

import os

import pytest

from kafka_connect_bigquery_storage_write_spark.sinks import AppendResult, ManifestSinkTable, RetryPolicy, UnretryableSinkError, classify_retriable


@pytest.fixture
def kv_df(spark):
    return spark.createDataFrame([("id-0", 123), ("id-1", 123)], "id string, int_value long")


def test_committed_mode_visible_immediately(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(kv_df, 0)
    assert sink.read(spark).count() == 2
    # commit is a no-op in committed mode (reference guarded commit)
    assert sink.commit() == []


def test_pending_mode_invisible_until_commit(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="pending")
    sink.write_batch(kv_df, 0)
    assert sink.read(spark).count() == 0  # written but invisible
    committed = sink.commit()
    assert committed == [0]
    assert sink.read(spark).count() == 2  # atomic epoch publish


def test_pending_epoch_is_atomic_across_batches(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="pending")
    sink.write_batch(kv_df, 0)
    sink.write_batch(kv_df, 1)
    assert sink.read(spark).count() == 0
    assert sink.commit() == [0, 1]
    assert sink.read(spark).count() == 4


def test_idempotent_replay(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    first = sink.write_batch(kv_df, 7)
    replay = sink.write_batch(kv_df, 7)
    assert not first.already_exists and replay.already_exists
    assert sink.read(spark).count() == 2  # not doubled


def test_reset_discards_staged(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="pending")
    sink.write_batch(kv_df, 0)
    assert sink.reset() == [0]
    assert sink.commit() == []
    assert sink.read(spark).count() == 0


def test_write_mode_validated(tmp_path):
    with pytest.raises(ValueError, match="committed|pending"):
        ManifestSinkTable(str(tmp_path / "t"), write_mode="bogus")


def test_retry_classification():
    assert classify_retriable(TimeoutError("x"))
    assert classify_retriable(RuntimeError("connection reset by peer"))
    assert not classify_retriable(ValueError("schema mismatch"))


def test_retry_policy_retries_then_succeeds():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise TimeoutError("transient")
        return "ok"

    assert RetryPolicy(max_attempts=3, backoff_s=0.0).run(flaky) == "ok"
    assert calls["n"] == 3


def test_retry_policy_lets_shutdown_signals_propagate():
    def interrupted():
        raise KeyboardInterrupt

    with pytest.raises(KeyboardInterrupt):
        RetryPolicy(max_attempts=3, backoff_s=0.0).run(interrupted)


def test_retry_policy_unretryable_raises():
    def broken():
        raise ValueError("bad schema")

    with pytest.raises(UnretryableSinkError):
        RetryPolicy(max_attempts=5, backoff_s=0.0).run(broken)


def test_compaction_preserves_data_and_idempotence(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(4):
        sink.write_batch(kv_df, b)
    before = sorted(tuple(r) for r in sink.read(spark).collect())
    snap_idx = sink.compact(spark, target_files=1)
    assert snap_idx == 0
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == before
    assert sink.committed_ids() == []  # all absorbed into compacted-0
    # replay of an absorbed batch id must still be a no-op (R14 across compaction)
    replay = sink.write_batch(kv_df, 2)
    assert replay.already_exists
    assert sink.read(spark).count() == len(before)
    # new batches after compaction remain visible alongside the snapshot
    sink.write_batch(kv_df, 7)
    assert sink.committed_ids() == [7]
    assert sink.read(spark).count() == len(before) + 2


def test_next_microbatch_after_compaction_not_dropped(spark, kv_df, tmp_path):
    """The compacted output must not occupy the micro-batch id space: after
    batches 0..3 are compacted, the stream's next batch id (4) must append
    normally instead of being swallowed as ALREADY_EXISTS."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(4):
        sink.write_batch(kv_df, b)
    sink.compact(spark, target_files=1)
    nxt = sink.write_batch(kv_df, 4)
    assert not nxt.already_exists
    assert sink.committed_ids() == [4]
    assert sink.read(spark).count() == 10  # 4 compacted batches + batch 4


def test_compaction_does_not_clobber_staged_pending_batch(spark, kv_df, tmp_path):
    """Pending mode: a staged-but-uncommitted batch must survive a
    compaction of the committed set (the old shared-id allocation could
    overwrite its data directory)."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="pending")
    sink.write_batch(kv_df, 0)
    sink.write_batch(kv_df, 1)
    assert sink.commit() == [0, 1]
    sink.write_batch(kv_df, 2)  # staged, invisible
    sink.compact(spark, target_files=1)
    assert sink.read(spark).count() == 4  # staged batch still invisible
    assert sink.commit() == [2]
    assert sink.read(spark).count() == 6  # staged data intact post-compaction


def test_vacuum_removes_only_absorbed_dirs(spark, kv_df, tmp_path):
    import os

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(3):
        sink.write_batch(kv_df, b)
    sink.compact(spark, target_files=1)
    sink.write_batch(kv_df, 9)
    removed = sink.vacuum()
    assert removed == ["batch=0", "batch=1", "batch=2"]
    remaining = sorted(os.listdir(tmp_path / "t" / "data"))
    assert remaining[0] == "batch=9" and len(remaining) == 2
    assert remaining[1].startswith("compacted-0-")  # attempt-unique name
    assert sink.read(spark).count() == 8  # 3 batches compacted + 1 new, 2 rows each


def test_compaction_noop_on_single_batch(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(kv_df, 0)
    assert sink.compact(spark) is None


def test_double_compaction(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(3):
        sink.write_batch(kv_df, b)
    sink.compact(spark)
    sink.write_batch(kv_df, 10)
    sink.write_batch(kv_df, 11)
    n = sink.read(spark).count()
    second = sink.compact(spark)
    assert second == 1
    assert sink.read(spark).count() == n
    assert sink.committed_ids() == []
    # superseded compacted-0 and absorbed batch dirs are vacuumable
    removed = sink.vacuum()
    assert any(d.startswith("compacted-0-") for d in removed)
    assert sink.read(spark).count() == n


def test_snapshot_selection_is_numeric_past_ten(spark, kv_df, tmp_path):
    """'snapshot-10' must supersede 'snapshot-9' (lexicographic filename
    sort would pick the stale one and vacuum would then delete the live
    compacted dir — permanent data loss from the 11th compaction on)."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(kv_df, 0)
    for i in range(11):  # snapshots 0..10
        sink.write_batch(kv_df, i + 1)
        assert sink.compact(spark, target_files=1) == i
    expected = 2 * 12  # 12 batches of 2 rows, all folded into compacted-10
    assert sink.read(spark).count() == expected
    sink.vacuum()
    assert sink.read(spark).count() == expected


def test_schema_frozen_and_empty_read(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="pending")
    sink.write_batch(kv_df, 0)
    # still invisible, but read() must produce the frozen schema
    empty = sink.read(spark)
    assert empty.columns == ["id", "int_value"] and empty.count() == 0


# -- concurrent commit CAS (VERDICT r5 #6) ---------------------------------


def test_atomic_create_exactly_one_winner(tmp_path):
    """The conditional-PUT shim: N racing creators of one marker — exactly
    one wins, and the loser still observes fully-written content (never a
    half-state)."""
    import threading

    sink = ManifestSinkTable(str(tmp_path / "t"))
    path = str(tmp_path / "t" / "_commits" / "race.marker")
    barrier = threading.Barrier(8)
    wins = []

    def attempt(i):
        barrier.wait()
        wins.append((i, sink._atomic_create(path, f'{{"writer": {i}}}')))

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [i for i, won in wins if won]
    assert len(winners) == 1
    with open(path) as f:
        import json

        assert json.load(f) == {"writer": winners[0]}


def test_concurrent_pending_commit_exactly_once(spark, kv_df, tmp_path):
    """Two committers racing the same staged epoch: every staged batch
    becomes visible exactly once (epoch union is a set), no crash, no
    half-state for a reader."""
    import threading

    root = str(tmp_path / "t")
    a = ManifestSinkTable(root, write_mode="pending")
    b = ManifestSinkTable(root, write_mode="pending")
    a.write_batch(kv_df, 0)
    a.write_batch(kv_df, 1)
    barrier = threading.Barrier(2)
    results = {}

    def commit(tag, sink):
        barrier.wait()
        results[tag] = sink.commit()

    threads = [threading.Thread(target=commit, args=("a", a)), threading.Thread(target=commit, args=("b", b))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # union of what the two committers published covers both batches...
    assert set(results["a"]) | set(results["b"]) == {0, 1}
    # ...and the reader sees each row set exactly once
    assert sorted(a.committed_ids()) == [0, 1]
    assert a.read(spark).count() == 4
    assert a.staged_ids() == []


def test_concurrent_same_batch_append_one_already_exists(spark, kv_df, tmp_path):
    """Two appends of the SAME batch id racing (replayed task vs zombie):
    the marker CAS lets exactly one win; the other reports ALREADY_EXISTS
    and the rows land once."""
    import threading

    root = str(tmp_path / "t")
    sink = ManifestSinkTable(root, write_mode="committed")
    sink.write_batch(kv_df, 0)  # freeze schema & data dir first (threads only race the marker)
    import os

    os.remove(os.path.join(root, "_commits", "batch-0.marker"))
    barrier = threading.Barrier(2)
    out = {}

    def append(tag):
        barrier.wait()
        out[tag] = sink.write_batch(kv_df, 0)

    threads = [threading.Thread(target=append, args=(t,)) for t in ("x", "y")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(r.already_exists for r in out.values()) == [False, True]
    assert sink.read(spark).count() == 2


def test_concurrent_compaction_single_snapshot(spark, kv_df, tmp_path):
    """Two compactors racing snapshot-0: one snapshot lands, the loser
    removes its orphan directory, data is intact."""
    import os
    import threading

    root = str(tmp_path / "t")
    a = ManifestSinkTable(root, write_mode="committed")
    b = ManifestSinkTable(root, write_mode="committed")
    for i in range(3):
        a.write_batch(kv_df, i)
    barrier = threading.Barrier(2)
    results = {}

    def compact(tag, sink):
        barrier.wait()
        results[tag] = sink.compact(spark)

    threads = [threading.Thread(target=compact, args=("a", a)), threading.Thread(target=compact, args=("b", b))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(results.values(), key=lambda v: (v is None, v)) in ([0, None],)
    snaps = [f for f in os.listdir(os.path.join(root, "_commits")) if f.startswith("snapshot-")]
    assert snaps == ["snapshot-0.json"]
    assert a.read(spark).count() == 6
    # at most one compacted dir remains referenced; no orphan dirs
    data_dirs = [d for d in os.listdir(os.path.join(root, "data")) if d.startswith("compacted-")]
    assert len(data_dirs) == 1 and data_dirs[0].startswith("compacted-0-")


# -- time travel (as-of reads + history) -----------------------------------


def test_read_as_of_epoch_replays_history(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="pending")
    sink.write_batch(kv_df, 0)
    sink.commit()  # epoch 0: batch 0
    sink.write_batch(kv_df, 1)
    sink.write_batch(kv_df, 2)
    sink.commit()  # epoch 1: batches 1,2
    assert sink.read_as_of(spark, epoch=0).count() == 2
    assert sink.read_as_of(spark, epoch=1).count() == 6
    assert sink.read(spark).count() == 6
    hist = sink.history()
    assert [h["batch_ids"] for h in hist] == [[0], [1, 2]]
    assert all(h["kind"] == "epoch" for h in hist)


def test_read_as_of_batch_id_committed_mode(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(3):
        sink.write_batch(kv_df, b)
    assert sink.read_as_of(spark, batch_id=0).count() == 2
    assert sink.read_as_of(spark, batch_id=1).count() == 4
    assert sink.read_as_of(spark, batch_id=2).count() == 6


def test_time_travel_survives_compaction_until_vacuum(spark, kv_df, tmp_path):
    import pytest as _pytest

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(3):
        sink.write_batch(kv_df, b)
    sink.compact(spark)
    # compaction alone keeps the original batch dirs -> time travel valid
    assert sink.read_as_of(spark, batch_id=1).count() == 4
    sink.vacuum()
    with _pytest.raises(ValueError, match="vacuumed"):
        sink.read_as_of(spark, batch_id=1).count()


def test_read_as_of_requires_exactly_one_anchor(spark, kv_df, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"))
    sink.write_batch(kv_df, 0)
    with pytest.raises(ValueError):
        sink.read_as_of(spark)
    with pytest.raises(ValueError):
        sink.read_as_of(spark, epoch=0, batch_id=0)


# -- vacuum retention (ADVICE r6) ---------------------------------------------


def test_vacuum_retention_protects_inflight_attempt(spark, kv_df, tmp_path):
    """An attempt dir whose marker CAS hasn't executed yet is
    indistinguishable from an orphan; vacuum must not reclaim it until
    it is older than the retention window (sink_table.py vacuum)."""
    import os

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(kv_df, 0)
    data_root = tmp_path / "t" / "data"
    # simulate an in-flight write_batch: parquet landed, marker not yet
    inflight = data_root / "batch=0" / "attempt=inflight00000"
    os.makedirs(inflight)
    (inflight / "part-0.parquet").write_bytes(b"x")
    # and an in-flight FIRST write of a brand-new batch id (no marker at all)
    fresh = data_root / "batch=7" / "attempt=inflight11111"
    os.makedirs(fresh)
    (fresh / "part-0.parquet").write_bytes(b"x")
    assert sink.vacuum() == []  # default 24h retention: both survive
    assert inflight.exists() and fresh.exists()
    assert sink.vacuum(retention_s=0.0) == [
        os.path.join("batch=0", "attempt=inflight00000"),
        "batch=7",
    ]
    assert not inflight.exists() and not fresh.exists()
    assert sink.read(spark).count() == 2  # committed attempt untouched


def test_randomized_op_interleavings_preserve_visibility(spark, kv_df, tmp_path):
    """Property test over random op sequences (write / replay / stage /
    commit / reset / compact / vacuum): after EVERY op, the visible
    rowcount must equal 2 x |committed batch ids| — the single invariant
    every manifest feature (idempotent replay, epoch publish, snapshot
    absorption, retention vacuum) exists to preserve. Three seeds x 30
    ops each; any interleaving bug (double-count after compaction,
    vacuum eating a live dir, replay landing twice) breaks the count."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        mode = "pending" if seed % 2 else "committed"
        sink = ManifestSinkTable(str(tmp_path / f"t{seed}"), write_mode=mode)
        next_id = 0
        committed: set[int] = set()
        staged: set[int] = set()
        # seed one write so read() has a frozen schema from op 1 on
        sink.write_batch(kv_df, next_id)
        (staged if mode == "pending" else committed).add(next_id)
        next_id += 1
        for _ in range(30):
            op = rng.choice(["write", "write", "write", "replay", "commit", "reset", "compact", "vacuum"])
            if op == "write":
                sink.write_batch(kv_df, next_id)
                (staged if mode == "pending" else committed).add(next_id)
                next_id += 1
            elif op == "replay" and (committed or staged):
                bid = rng.choice(sorted(committed | staged))
                assert sink.write_batch(kv_df, bid).already_exists
            elif op == "commit":
                got = sink.commit()
                if mode == "pending":
                    assert sorted(got) == sorted(staged)
                    committed |= staged
                    staged.clear()
                else:
                    assert got == []
            elif op == "reset":
                got = sink.reset()
                if mode == "pending":
                    assert sorted(got) == sorted(staged)
                    staged.clear()
                else:
                    assert got == []
            elif op == "compact":
                sink.compact(spark, target_files=1)
            elif op == "vacuum":
                sink.vacuum(retention_s=0.0)
            assert sink.read(spark).count() == 2 * len(committed), (seed, op, sorted(committed))
        # end state: ids are exactly once regardless of path taken
        if committed:
            ids = sink.read(spark).groupBy("id").count().collect()
            assert all(r["count"] == len(committed) for r in ids)


def test_data_skipping_prunes_files(spark, tmp_path):
    """Zone-map skipping (VERDICT r7 #5): batch markers carry per-file
    min/max stats from the parquet footers; a point/range read must open
    FEWER files than a full scan while returning identical rows, the stats
    must survive compaction, and legacy (stat-less) manifests must degrade
    to keep-everything, never wrong answers."""
    import datetime

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    # three batches with disjoint key ranges, 4 files each
    for b in range(3):
        df = (
            spark.range(b * 100, (b + 1) * 100)
            .selectExpr(
                "id AS k",
                "concat('name-', lpad(cast(id as string), 5, '0')) AS name",
                "date_add(date'2024-01-01', cast(id as int)) AS d",
            )
            .repartition(4)
        )
        sink.write_batch(df, b)
    all_files = sink.visible_files()
    assert len(all_files) == 12

    # point predicate: only files whose [min,max] straddles 150 stay
    pred = [("k", "==", 150)]
    pruned = sink.visible_files(pred)
    assert 0 < len(pruned) < len(all_files)
    assert set(pruned) <= set(all_files)
    got = sink.read(spark, where=pred).collect()
    want = sink.read(spark).filter("k = 150").collect()
    assert got == want and len(got) == 1

    # range predicate on a string column (truncation-safe bounds) and a
    # date column (ISO normalization): pruning + identical answers
    for p, sql in [
        ([("name", ">=", "name-00290")], "name >= 'name-00290'"),
        ([("d", "<", datetime.date(2024, 1, 11))], "d < date'2024-01-11'"),
        ([("k", ">", 240), ("k", "<=", 260)], "k > 240 AND k <= 260"),
    ]:
        assert len(sink.visible_files(p)) < len(all_files), p
        got = {tuple(r) for r in sink.read(spark, where=p).collect()}
        want = {tuple(r) for r in sink.read(spark).filter(sql).collect()}
        assert got == want and got, p

    # predicate proving emptiness opens zero files but still answers
    assert sink.visible_files([("k", ">=", 10_000)]) == []
    assert sink.read(spark, where=[("k", ">=", 10_000)]).count() == 0

    # stats survive compaction; clustering (order_by) keeps them USEFUL —
    # a plain coalesce would interleave ranges and every merged file would
    # straddle every key
    assert sink.compact(spark, target_files=6, order_by=["k"]) is not None
    post = sink.visible_files()
    assert 1 < len(post) <= 6
    assert 0 < len(sink.visible_files(pred)) < len(post)
    assert [r["k"] for r in sink.read(spark, where=pred).collect()] == [150]
    assert sink.read(spark).count() == 300

    # unsupported op fails loudly rather than silently scanning
    with pytest.raises(ValueError, match="unsupported predicate op"):
        sink.visible_files([("k", "!=", 1)])


def test_data_skipping_pending_epoch_carries_stats(spark, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="pending")
    for b in range(2):
        sink.write_batch(spark.range(b * 10, (b + 1) * 10).selectExpr("id AS k").coalesce(1), b)
    assert sink.commit() == [0, 1]
    assert len(sink.visible_files()) == 2
    assert len(sink.visible_files([("k", "==", 15)])) == 1
    assert [r["k"] for r in sink.read(spark, where=[("k", "==", 15)]).collect()] == [15]


def test_data_skipping_randomized_predicates_equal_plain_filter(spark, tmp_path):
    """Property check over 24 random predicates (ops x columns x
    literals, incl. out-of-range and boundary literals): a pruned read
    must ALWAYS equal read().filter(...) — zone maps may only skip
    provably-empty files, never change answers."""
    import random

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(4):
        df = (
            spark.range(b * 250, (b + 1) * 250)
            .selectExpr("id AS k", "concat('v', lpad(cast((id * 37) % 1000 as string), 4, '0')) AS s")
            .coalesce(2)
        )
        sink.write_batch(df, b)
    full = sink.read(spark)
    rng = random.Random(99)
    ops = ["==", "<", "<=", ">", ">="]
    sqlop = {"==": "=", "<": "<", "<=": "<=", ">": ">", ">=": ">="}
    for _ in range(24):
        op = rng.choice(ops)
        if rng.random() < 0.5:
            col, lit = "k", rng.choice([-5, 0, 1, 249, 250, 500, 777, 999, 1000, 2000])
            sql = f"k {sqlop[op]} {lit}"
        else:
            col, lit = "s", f"v{rng.randrange(0, 1100):04d}"
            sql = f"s {sqlop[op]} '{lit}'"
        got = sorted(tuple(r) for r in sink.read(spark, where=[(col, op, lit)]).collect())
        want = sorted(tuple(r) for r in full.filter(sql).collect())
        assert got == want, (col, op, lit)
        assert set(sink.visible_files([(col, op, lit)])) <= set(sink.visible_files())


def test_rewrite_delete_where(spark, tmp_path):
    """Copy-on-write DELETE: rows matching the predicate disappear in one
    atomic snapshot; everything else (incl. zone-map pruned reads and
    replay idempotence of absorbed ids) keeps working on the rewritten
    layout."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(3):
        sink.write_batch(spark.range(b * 100, (b + 1) * 100).selectExpr("id AS k", "id * 2 AS v").coalesce(2), b)
    assert sink.read(spark).count() == 300
    snap = sink.delete_where_pruned(spark, [("k", ">=", 100), ("k", "<", 200)])
    assert snap is not None
    assert sink.read(spark).count() == 200
    assert sink.read(spark).filter("k >= 100 AND k < 200").count() == 0
    # pruned reads still correct on the rewritten files
    assert [r["k"] for r in sink.read(spark, where=[("k", "==", 250)]).collect()] == [250]
    # absorbed batch ids stay idempotent
    assert sink.write_batch(spark.range(2).selectExpr("id AS k", "id AS v"), 1).already_exists
    # deleting everything leaves an empty (but readable) table
    sink.delete_where_pruned(spark, [("k", ">=", 0)])
    assert sink.read(spark).count() == 0


def test_rewrite_merge_rows_upsert(spark, tmp_path):
    """Keyed MERGE: updates replace matched keys, new keys insert, all in
    one snapshot; duplicate update keys are rejected."""
    import pytest as _pytest

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(spark.range(10).selectExpr("id AS k", "cast(id * 10 as long) AS v").coalesce(1), 0)
    sink.write_batch(spark.range(10, 20).selectExpr("id AS k", "cast(id * 10 as long) AS v").coalesce(1), 1)
    updates = spark.createDataFrame([(5, 999), (15, 888), (40, 777)], "k long, v long")
    assert sink.merge_rows_pruned(spark, updates, keys=["k"]) is not None
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert len(got) == 21  # 20 original keys + 1 inserted
    assert got[5] == 999 and got[15] == 888 and got[40] == 777
    assert got[6] == 60  # untouched rows preserved
    dup = spark.createDataFrame([(1, 1), (1, 2)], "k long, v long")
    with _pytest.raises(ValueError, match="duplicate keys"):
        sink.merge_rows_pruned(spark, dup, keys=["k"])


def test_delete_where_pruned_rewrites_only_candidate_files(spark, tmp_path):
    """File-level COW delete: zone maps pick the straddling files; every
    other file is carried by hardlink (pointer copy) with its stats —
    verified by inode identity, rewritten-file count, the surviving row
    count, and skipping still working afterward."""
    import os

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(8):
        sink.write_batch(
            spark.range(b * 100, (b + 1) * 100).selectExpr("id AS k", "id * 3 AS v").coalesce(2), b
        )
    all_before = sink.visible_files()
    assert len(all_before) == 16
    inode_before = {os.path.basename(p): os.stat(p).st_ino for p in all_before}
    cand = sink.visible_files([("k", ">=", 150), ("k", "<", 170)])
    assert 0 < len(cand) <= 2  # one batch's straddling files

    snap = sink.delete_where_pruned(spark, [("k", ">=", 150), ("k", "<", 170)])
    assert snap is not None
    after = sink.visible_files()
    # pointer copies keep their ORIGINAL basenames (round 11: stale-DV
    # safety needs table-wide basename uniqueness) — kept vs rewritten
    # distinguishes by inode identity with the originals
    orig_inodes = set(inode_before.values())
    kept = [p for p in after if os.stat(p).st_ino in orig_inodes]
    rewritten = [p for p in after if os.stat(p).st_ino not in orig_inodes]
    assert len(kept) == 16 - len(cand)
    assert len(rewritten) <= 2  # coalesce(target_files=2) of the survivors
    # pointer copy preserved names too (content identity by name survives)
    assert {os.path.basename(p) for p in kept} <= set(inode_before)

    # answers correct and skipping still effective on the new layout
    assert sink.read(spark).count() == 800 - 20
    assert sink.read(spark).filter("k >= 150 AND k < 170").count() == 0
    assert [r["k"] for r in sink.read(spark, where=[("k", "==", 700)]).collect()] == [700]
    assert len(sink.visible_files([("k", "==", 700)])) < len(after)
    # carried stats prune exactly like before for untouched ranges
    assert len(sink.visible_files([("k", "==", 50)])) <= 2

    # a second pruned delete on the snapshot layout also works
    assert sink.delete_where_pruned(spark, [("k", "==", 700)]) is not None
    assert sink.read(spark).filter("k = 700").count() == 0
    assert sink.read(spark).count() == 800 - 20 - 1


def test_delete_where_pruned_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE removes only rows whose predicate is TRUE: a NULL ``k``
    makes ``k < 5`` NULL, so NULL-keyed rows survive — in the candidate
    file that is rewritten and in the non-candidate file that is
    pointer-copied alike."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(
        spark.createDataFrame([(None, "cand")] + [(k, "a") for k in range(10)], "k long, v string").coalesce(1), 0
    )
    sink.write_batch(
        spark.createDataFrame([(None, "kept")] + [(k, "b") for k in range(100, 110)], "k long, v string").coalesce(1), 1
    )
    assert len(sink.visible_files([("k", "<", 5)])) == 1  # only batch 0 is a candidate
    assert sink.delete_where_pruned(spark, [("k", "<", 5)]) is not None
    rows = sink.read(spark).collect()
    assert sorted(r["v"] for r in rows if r["k"] is None) == ["cand", "kept"]
    assert sorted(r["k"] for r in rows if r["k"] is not None) == [*range(5, 10), *range(100, 110)]


def test_empty_predicate_delete_raises_and_changes_nothing(spark, tmp_path):
    """An empty predicate is rejected by both delete paths before any
    side effect — a delete must name the rows it removes — while a read
    keeps treating an empty ``where`` as no filter."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(spark.createDataFrame([(k, "a") for k in range(10)], "k long, v string").coalesce(1), 0)
    assert sink.delete_where_dv(spark, [("k", "<", 2)]) is not None  # _deletes/ is non-empty

    def _layout():
        return {d: sorted(os.listdir(os.path.join(sink.root, d))) for d in ("_commits", "_deletes")}

    before = _layout()
    for delete in (sink.delete_where_pruned, sink.delete_where_dv):
        with pytest.raises(ValueError, match="empty predicate"):
            delete(spark, [])
    assert _layout() == before
    assert sorted(r["k"] for r in sink.read(spark, where=[]).collect()) == list(range(2, 10))


def test_bloom_skipping_prunes_scattered_keys(spark, tmp_path):
    """Bloom-index skipping (round 8): keys scattered by k % 4 make every
    file's [min, max] straddle every key — zone maps keep ALL files — yet
    a point read on a bloomed column must open (nearly) one file, with
    zero false negatives, identical rows, and blooms surviving both
    compaction and the hardlink carryover of file-level COW delete."""
    sink = ManifestSinkTable(
        str(tmp_path / "t"), write_mode="committed", bloom_columns=("k", "name")
    )
    for b in range(4):
        df = spark.range(0, 4000).filter(f"id % 4 = {b}").selectExpr(
            "id AS k", "concat('u-', cast(id AS string)) AS name", "id * 2 AS v"
        ).coalesce(1)
        sink.write_batch(df, b)
    all_files = sink.visible_files()
    assert len(all_files) == 4

    # zone maps alone cannot prune a mid-range key (all ranges straddle it)
    stats_only = [
        e for m in sink._list_state().manifests for e in m["files"]
    ]
    from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import _file_may_match

    assert all(_file_may_match(e["stats"], "k", "==", 1998) for e in stats_only)

    # bloom prunes to the single owning file (fpp may rarely keep 2)
    pruned = sink.visible_files([("k", "==", 1998)])
    assert 1 <= len(pruned) <= 2
    got = sink.read(spark, where=[("k", "==", 1998)]).collect()
    assert len(got) == 1 and got[0]["v"] == 3996

    # string column blooms work the same way
    assert 1 <= len(sink.visible_files([("name", "==", "u-1997")])) <= 2

    # no false negatives: every present key keeps its owning file
    for k in range(0, 4000, 97):
        sub = sink.read(spark, where=[("k", "==", k)]).collect()
        assert len(sub) == 1 and sub[0]["k"] == k

    # absent keys (right dtype, never written) usually prune to zero files
    missing = [sink.visible_files([("k", "==", k)]) for k in range(100_000, 100_050)]
    assert sum(1 for m in missing if len(m) == 0) >= 45  # fpp 1% leaves slack

    # blooms are rebuilt through compaction (clustered -> zone maps also help,
    # but the bloom must exist and point reads still prune)
    assert sink.compact(spark, target_files=4, order_by=["k"]) is not None
    post = sink.visible_files()
    assert 0 < len(sink.visible_files([("k", "==", 1998)])) < len(post)
    assert sink.read(spark, where=[("k", "==", 1998)]).count() == 1

    # file-level COW delete: untouched files carry their blooms via hardlink
    sink2 = ManifestSinkTable(str(tmp_path / "t2"), write_mode="committed", bloom_columns=("k",))
    for b in range(4):
        df = spark.range(0, 4000).filter(f"id % 4 = {b}").selectExpr("id AS k", "id * 2 AS v").coalesce(1)
        sink2.write_batch(df, b)
    assert sink2.delete_where_pruned(spark, [("k", "==", 1998)]) is not None
    assert sink2.read(spark).count() == 3999
    kept = sink2.visible_files([("k", "==", 1999)])
    assert 1 <= len(kept) <= 2, "bloom lost through hardlink carryover"
    assert sink2.read(spark, where=[("k", "==", 1999)]).count() == 1


def test_bloom_unbloomable_types_keep_files(spark, tmp_path):
    """Float/unsupported bloom keys and un-bloomed columns degrade to
    keep — never a wrong prune."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed", bloom_columns=("f", "k"))
    df = spark.range(0, 100).selectExpr("id AS k", "cast(id AS double) / 7 AS f")
    sink.write_batch(df.coalesce(1), 0)
    # float column gets no bloom entry -> predicate keeps the file
    assert len(sink.visible_files([("f", "==", 0.0)])) == 1
    # bloomed int column still prunes nothing existing
    assert len(sink.visible_files([("k", "==", 50)])) == 1


def test_zorder_compaction_multi_column_skipping(spark, tmp_path):
    """Z-ORDER clustered compaction (round 8): on a 2-D uniform grid,
    linear clustering on x makes y-predicates unprunable (every file
    straddles all of y); z-order interleaving gives every output file a
    tight rectangle in BOTH dimensions, so narrow range predicates on x
    alone AND on y alone each prune most files — and reads stay equal."""
    import pyspark.sql.functions as F

    def build(root, **compact_kw):
        sink = ManifestSinkTable(str(root), write_mode="committed")
        grid = spark.range(0, 64 * 64).selectExpr(
            "id % 64 AS x", "id DIV 64 AS y", "id AS payload"
        )
        for b in range(2):
            sink.write_batch(grid.filter(F.pmod("id", F.lit(2)) == b).coalesce(2), b)
        assert sink.compact(spark, target_files=16, **compact_kw) is not None
        return sink

    linear = build(tmp_path / "lin", order_by=["x"])
    z = build(tmp_path / "z", zorder_by=["x", "y"])

    n_lin, n_z = len(linear.visible_files()), len(z.visible_files())
    assert n_lin == 16 and n_z == 16
    x_pred = [("x", ">=", 8), ("x", "<", 16)]
    y_pred = [("y", ">=", 8), ("y", "<", 16)]

    # linear: x prunes, y cannot (each x-sorted file spans all y)
    assert len(linear.visible_files(x_pred)) <= 4
    assert len(linear.visible_files(y_pred)) == n_lin

    # z-order: BOTH dims prune (16 files over a 64x64 grid -> 4x4 tiles;
    # an /8th-wide band intersects at most one tile row/column + slack)
    zx, zy = len(z.visible_files(x_pred)), len(z.visible_files(y_pred))
    assert zx <= 8 and zy <= 8, (zx, zy)
    assert zy < n_z  # the property linear clustering cannot give

    # correctness unchanged through the layout change
    for pred, n_want in ((x_pred, 8 * 64), (y_pred, 8 * 64), (x_pred + y_pred, 8 * 8)):
        got = sorted(r["payload"] for r in z.read(spark, where=pred).collect())
        want = sorted(r["payload"] for r in linear.read(spark, where=pred).collect())
        assert got == want and len(got) == n_want


def test_zorder_rejects_order_by_combo(spark, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(spark.range(10).selectExpr("id AS x", "id AS y"), 0)
    sink.write_batch(spark.range(10, 20).selectExpr("id AS x", "id AS y"), 1)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sink.compact(spark, order_by=["x"], zorder_by=["y"])


def test_stats_agg_serves_from_manifest_with_files_deleted(spark, tmp_path):
    """stats_agg must answer count/min/max WITHOUT opening any data file:
    after deleting every parquet file from disk, the manifest-only answer
    still matches what a real read computed beforehand. Also: empty-file
    tolerance, and a loud error (never a guess) for a stats-less column."""
    import glob
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import ManifestSinkTable

    df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id % 7 AS DOUBLE) * 1.5 AS v")
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(df.filter("k < 400").coalesce(2), 0)
    sink.write_batch(df.filter("k >= 400").coalesce(2), 1)

    real = sink.read(spark).agg(
        F.count(F.lit(1)).alias("n"), F.min("k"), F.max("k"), F.min("v"), F.max("v")
    ).first()
    s = sink.stats_agg(["k", "v"])
    assert s["rows"] == real[0] == 1000
    assert s["min"]["k"] == real[1] and s["max"]["k"] == real[2]
    assert s["min"]["v"] == real[3] and s["max"]["v"] == real[4]

    # the point: delete every data file — the manifest still answers
    removed = 0
    for p in glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True):
        os.remove(p)
        removed += 1
    assert removed > 0
    assert sink.stats_agg(["k", "v"]) == s

    # a column the manifest has no stats for must raise, not guess
    with _pytest.raises(ValueError, match="no usable stats"):
        sink.stats_agg(["missing_col"])


def test_stat_norm_timestamps_chronological_not_lexicographic():
    """ADVICE r8: datetimes normalize to UTC epoch micros (naive == UTC),
    so pruning compares chronologically regardless of tz shape; legacy
    ISO-string stats degrade to keep-the-file, never a wrong prune."""
    import datetime as dt

    from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import _file_may_match, _stat_norm

    aware = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    naive = dt.datetime(2024, 1, 1, 12, 0, 0)
    assert _stat_norm(aware) == _stat_norm(naive) == 1_704_110_400_000_000
    # non-UTC offset normalizes to the same instant
    est = dt.datetime(2024, 1, 1, 7, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=-5)))
    assert _stat_norm(est) == _stat_norm(aware)
    # date at midnight UTC compares chronologically against datetimes
    assert _stat_norm(dt.date(2024, 1, 1)) < _stat_norm(aware)

    # the ADVICE failure case: predicate "<= min-bound instant" with a
    # naive literal against aware-derived stats MUST keep the file (the
    # old isoformat comparison pruned it: '...T12:00:00+00:00' > '...T12:00:00')
    stats = {
        "ts": [
            _stat_norm(aware),
            _stat_norm(dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)),
        ]
    }
    assert _file_may_match(stats, "ts", "<=", naive)
    assert _file_may_match(stats, "ts", "==", naive)
    # a provably-disjoint predicate still prunes
    assert not _file_may_match(stats, "ts", "<", dt.datetime(2024, 1, 1, 0, 0))
    assert not _file_may_match(stats, "ts", ">", dt.datetime(2024, 1, 3))
    # legacy manifests stored ISO strings: str-vs-int comparison -> keep
    legacy = {"ts": ["2024-01-01T12:00:00+00:00", "2024-01-02T00:00:00+00:00"]}
    assert _file_may_match(legacy, "ts", "<", dt.datetime(2023, 1, 1))


def test_timestamp_pruned_read_equals_residual_filter(spark, tmp_path):
    """End-to-end: read(where=ts-predicate) == read().filter(...) even when
    the predicate literal equals a file's min/max bound exactly."""
    import datetime as dt

    from pyspark.sql import functions as F

    df = spark.range(0, 48).select(
        F.col("id").alias("k"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(hours=F.col("id"))).alias("ts"),
    )
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(df.filter("k < 24").coalesce(1), 0)
    sink.write_batch(df.filter("k >= 24").coalesce(1), 1)

    # bound instants of the two files (session tz is UTC)
    for lit in (dt.datetime(2024, 1, 1, 0, 0), dt.datetime(2024, 1, 2, 0, 0), dt.datetime(2024, 1, 2, 23, 0)):
        for op in ("==", "<", "<=", ">", ">="):
            want = sorted(r["k"] for r in sink.read(spark).filter(
                {"==": F.col("ts") == lit, "<": F.col("ts") < lit, "<=": F.col("ts") <= lit,
                 ">": F.col("ts") > lit, ">=": F.col("ts") >= lit}[op]
            ).collect())
            got = sorted(r["k"] for r in sink.read(spark, where=[("ts", op, lit)]).collect())
            assert got == want, (op, lit, got, want)
    # and the pruning is real: a one-file predicate opens one file
    assert len(sink.visible_files([("ts", "<", dt.datetime(2024, 1, 1, 12, 0))])) == 1


def test_zorder_four_columns_stays_non_negative(spark):
    """ADVICE r8: at 4 columns the per-column bits clamp to 15 so the top
    interleaved bit stays below the long sign bit — z-values never wrap
    negative and the all-max row owns the global max z."""
    from pyspark.sql import functions as F

    from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import _zorder_expr

    cols = ["a", "b", "c", "d"]
    df = spark.range(0, 4096).selectExpr(
        "id % 16 AS a", "CAST(id / 16 AS LONG) % 16 AS b",
        "CAST(id / 256 AS LONG) % 16 AS c", "id % 16 AS d",
    )
    bounds = {c: (0.0, 15.0) for c in cols}
    z = df.withColumn("z", _zorder_expr(cols, bounds, bits=16))
    mn, mx = z.agg(F.min("z"), F.max("z")).first()
    assert mn >= 0, mn
    # the row with every column at its max must map to the max z-value
    top = z.filter("a = 15 AND b = 15 AND c = 15 AND d = 15").agg(F.max("z")).first()[0]
    assert top == mx


# ---- merge-on-read delete vectors (round 9, VERDICT r8 #4) ----------------


def _dv_table(spark, tmp_path, nfiles=4, rows=400):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    per = rows // nfiles
    for b in range(nfiles):
        df = spark.range(b * per, (b + 1) * per).selectExpr("id AS k", "id * 2 AS v")
        sink.write_batch(df.coalesce(1), b)
    return sink


def test_dv_delete_no_rewrite_and_read_merge(spark, tmp_path):
    """delete_where_dv tombstones rows WITHOUT touching data files; reads
    merge the DV; read(where=p) still equals read().filter(p)."""
    import glob as _glob

    sink = _dv_table(spark, tmp_path)
    before = sorted(_glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True))
    inodes = {p: os.stat(p).st_ino for p in before}

    res = sink.delete_where_dv(spark, [("k", ">=", 150), ("k", "<", 170)])
    assert res is not None and res[1] == 20
    after = sorted(_glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True))
    assert after == before and all(os.stat(p).st_ino == inodes[p] for p in after)

    assert sink.read(spark).count() == 380
    assert sink.read(spark).filter("k >= 150 AND k < 170").count() == 0
    got = sorted(r["k"] for r in sink.read(spark, where=[("k", "<", 200)]).collect())
    assert got == [k for k in range(200) if not (150 <= k < 170)]
    # pruning still works (zone maps untouched)
    assert len(sink.visible_files([("k", "==", 50)])) == 1

    # second delete of the same range: positions already tombstoned -> None
    assert sink.delete_where_dv(spark, [("k", ">=", 150), ("k", "<", 170)]) is None
    # overlapping delete counts only NEW positions
    res2 = sink.delete_where_dv(spark, [("k", ">=", 165), ("k", "<", 175)])
    assert res2 is not None and res2[1] == 5
    assert sink.read(spark).count() == 375


def test_dv_op_id_replay_idempotent(spark, tmp_path):
    sink = _dv_table(spark, tmp_path)
    res = sink.delete_where_dv(spark, [("k", "==", 7)], op_id="del-7")
    assert res is not None and res[1] == 1
    # replay with the same op id: marker short-circuits before any scan
    assert sink.delete_where_dv(spark, [("k", "==", 7)], op_id="del-7") is None
    assert sink.read(spark).count() == 399


def test_dv_compaction_absorbs_and_restores_stats(spark, tmp_path):
    sink = _dv_table(spark, tmp_path)
    sink.delete_where_dv(spark, [("k", "<", 10)])
    assert len(sink.visible_dvs()) == 1
    with pytest.raises(ValueError, match="delete vectors are pending"):
        sink.stats_agg(["k"])

    snap = sink.compact(spark, target_files=2)
    assert snap is not None
    assert sink.visible_dvs() == []  # absorbed
    assert sink.read(spark).count() == 390
    assert sink.read(spark).filter("k < 10").count() == 0
    s = sink.stats_agg(["k"])
    assert s["rows"] == 390 and s["min"]["k"] == 10 and s["max"]["k"] == 399

    # vacuum reclaims the absorbed DV parquet (and absorbed batch dirs)
    removed = sink.vacuum(retention_s=0.0)
    assert any(r.startswith("_deletes/") for r in removed)
    assert sink.read(spark).count() == 390


def test_dv_then_pruned_delete_rewrites_dv_files(spark, tmp_path):
    """delete_where_pruned must rewrite files a pending DV references —
    pointer-copying them under new names would orphan the DV and
    resurrect its rows."""
    sink = _dv_table(spark, tmp_path)
    sink.delete_where_dv(spark, [("k", "==", 5)])      # file 0
    snap = sink.delete_where_pruned(spark, [("k", ">=", 390)])  # file 3
    assert snap is not None
    assert sink.visible_dvs() == []  # absorbed by the pruned-delete snapshot
    ks = {r["k"] for r in sink.read(spark).collect()}
    assert 5 not in ks and not any(k >= 390 for k in ks)
    assert len(ks) == 400 - 1 - 10


def test_dv_merge_rows_does_not_resurrect(spark, tmp_path):
    sink = _dv_table(spark, tmp_path)
    sink.delete_where_dv(spark, [("k", "==", 42)])
    upd = spark.createDataFrame([(43, 9999)], "k long, v long")
    assert sink.merge_rows_pruned(spark, upd, keys=["k"]) is not None
    rows = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert 42 not in rows and rows[43] == 9999 and len(rows) == 399
    assert sink.visible_dvs() == []


def test_dv_time_travel_interplay(spark, tmp_path):
    """A DV is history at its as-of batch: travel BEFORE it shows the
    rows, travel AT/AFTER applies it; a delete taken on a compacted
    layout makes earlier points unreconstructible -> loud error."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(spark.range(0, 100).selectExpr("id AS k").coalesce(1), 0)
    sink.write_batch(spark.range(100, 200).selectExpr("id AS k").coalesce(1), 1)
    sink.delete_where_dv(spark, [("k", "==", 50)])  # as_of_batch = 1
    sink.write_batch(spark.range(200, 300).selectExpr("id AS k").coalesce(1), 2)

    assert sink.read_as_of(spark, batch_id=0).count() == 100  # pre-delete
    assert sink.read_as_of(spark, batch_id=1).count() == 199  # delete applied
    assert sink.read_as_of(spark, batch_id=2).count() == 299
    assert sink.read(spark).count() == 299

    # compact (absorbs the DV), then delete on the compacted layout
    sink.compact(spark, target_files=2)
    sink.delete_where_dv(spark, [("k", "==", 150)])
    with pytest.raises(ValueError, match="not reconstructible"):
        sink.read_as_of(spark, batch_id=2)
    # the same invalid target must raise even when zone-map pruning drops
    # EVERY file (ADVICE r9: the empty early-return used to skip the DV
    # reconstructibility check, silently diverging from
    # read_as_of().filter(p) in error behavior)
    with pytest.raises(ValueError, match="not reconstructible"):
        sink.read_as_of(spark, batch_id=2, where=[("k", ">=", 10_000)])


def test_dv_barrier_snapshot_protocol(spark, tmp_path):
    """The DV commit publishes a barrier at the next snapshot index; a
    later compaction starts from it and MUST absorb the DV."""
    sink = _dv_table(spark, tmp_path)
    sink.delete_where_dv(spark, [("k", "==", 1)])
    snap = sink._latest_snapshot()
    assert snap is not None and snap.get("barrier") is True
    # a second DV stacks a second barrier
    sink.delete_where_dv(spark, [("k", "==", 2)])
    snap2 = sink._latest_snapshot()
    assert snap2["index"] == snap["index"] + 1 and snap2.get("barrier") is True
    # compaction wins the next index, absorbs both, and reads stay exact
    n = sink.compact(spark, target_files=2)
    assert n == snap2["index"] + 1
    latest = sink._latest_snapshot()
    assert latest.get("barrier") is None
    assert set(latest["absorbed_dv_ids"]) == {0, 1}
    assert sink.read(spark).count() == 398


def test_stats_agg_sum_and_nonnull_from_manifest_only(spark, tmp_path):
    """Round 9 (VERDICT r8 #6): SUM (stamped at write) and COUNT(col)
    (footer null counts) answer from the manifest alone — pinned by
    deleting every data file and asking again — and survive compaction
    and file-level COW delete like min/max do."""
    import glob

    from pyspark.sql import functions as F

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed", sum_columns=("cents", "k"))
    df = spark.range(0, 1000).selectExpr(
        "id AS k",
        "id * 3 AS cents",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id END AS maybe",
    )
    sink.write_batch(df.filter("k < 500").coalesce(2), 0)
    sink.write_batch(df.filter("k >= 500").coalesce(2), 1)

    real = sink.read(spark).agg(
        F.sum("cents"), F.sum("k"), F.count("maybe"), F.count("k")
    ).first()
    s = sink.stats_agg(["k"], sum_cols=["cents", "k"], count_cols=["maybe", "k"])
    assert s["rows"] == 1000
    assert s["sum"]["cents"] == real[0] and s["sum"]["k"] == real[1]
    assert s["nonnull"]["maybe"] == real[2] == 800 and s["nonnull"]["k"] == real[3]

    # survives compaction (rewritten files re-stamped from content)
    assert sink.compact(spark, target_files=2) is not None
    assert sink.stats_agg(["k"], sum_cols=["cents"], count_cols=["maybe"])["sum"]["cents"] == real[0]

    # survives file-level COW delete: kept files carry sums, rewritten
    # files re-stamp, and the aggregate reflects the deletion exactly
    sink.write_batch(df.filter("k < 10").selectExpr("k + 1000 AS k", "cents", "maybe").coalesce(1), 7)
    assert sink.delete_where_pruned(spark, [("k", ">=", 1000)]) is not None
    s2 = sink.stats_agg(["k"], sum_cols=["cents", "k"], count_cols=["maybe"])
    assert s2["rows"] == 1000 and s2["sum"]["k"] == real[1] and s2["nonnull"]["maybe"] == 800

    # the point: no data pages needed — manifest alone answers
    removed = 0
    for p in glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"), recursive=True):
        os.remove(p)
        removed += 1
    assert removed > 0
    s3 = sink.stats_agg(["k"], sum_cols=["cents"], count_cols=["maybe"])
    assert s3["sum"]["cents"] == real[0] and s3["nonnull"]["maybe"] == 800

    # un-stamped column raises, never guesses
    with pytest.raises(ValueError, match="no stamped sum"):
        sink.stats_agg(["k"], sum_cols=["maybe"])


def test_stats_agg_sum_all_null_file_and_unconfigured(spark, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed", sum_columns=("v",))
    sink.write_batch(spark.createDataFrame([(1, None), (2, None)], "k long, v double").coalesce(1), 0)
    sink.write_batch(spark.createDataFrame([(3, 1.5), (4, 2.5)], "k long, v double").coalesce(1), 1)
    s = sink.stats_agg([], sum_cols=["v"], count_cols=["v"])
    assert s["sum"]["v"] == 4.0 and s["nonnull"]["v"] == 2  # all-null file skipped, not 0-poisoned


def test_change_feed_inserts_upserts_and_replay(spark, tmp_path):
    """Round 9 (VERDICT r8 #7): changes(after_batch_id) exposes per-batch
    change rows — appends straight off their batch dirs, MERGE batches
    off CAS'd change logs — and replaying the feed in batch order onto a
    stale copy reconverges it with the source table."""
    from pyspark.sql import functions as F

    sink = ManifestSinkTable(str(tmp_path / "a"), write_mode="committed")
    sink.write_batch(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").coalesce(1), 0)
    sink.write_batch(spark.createDataFrame([(3, 30)], "k long, v long").coalesce(1), 1)
    upd = spark.createDataFrame([(2, 99), (4, 40)], "k long, v long").coalesce(1)
    assert sink.log_changes(upd, 2)
    assert sink.merge_rows_pruned(spark, upd, keys=["k"]) is not None
    assert not sink.log_changes(upd, 2)  # replay: no duplicate log

    feed = sink.changes(spark).orderBy("_change_batch_id", "k").collect()
    assert [(r["k"], r["v"], r["_change_batch_id"], r["_change_type"]) for r in feed] == [
        (1, 10, 0, "insert"), (2, 20, 0, "insert"),
        (3, 30, 1, "insert"),
        (2, 99, 2, "upsert"), (4, 40, 2, "upsert"),
    ]
    # incremental consumption: only batches AFTER the cursor
    tail = sink.changes(spark, after_batch_id=1)
    assert {r["_change_batch_id"] for r in tail.collect()} == {2}

    # replay contract: stale copy (through batch 0) + feed(after 0) == source
    copy = ManifestSinkTable(str(tmp_path / "b"), write_mode="committed")
    copy.write_batch(sink.changes(spark, -1).filter("_change_batch_id = 0").select("k", "v"), 0)
    for b in [1, 2]:
        rows = sink.changes(spark, after_batch_id=b - 1).filter(F.col("_change_batch_id") == b).select("k", "v")
        if copy.schema() is None or not copy.committed_ids() and not copy._latest_snapshot():
            copy.write_batch(rows, b)
        else:
            copy.merge_rows_pruned(spark, rows, keys=["k"])
    a = sorted(tuple(r) for r in sink.read(spark).collect())
    bb = sorted(tuple(r) for r in copy.read(spark).collect())
    assert a == bb == [(1, 10), (2, 99), (3, 30), (4, 40)]

    # the feed survives compaction (batch dirs remain) but not vacuum
    sink.write_batch(spark.createDataFrame([(5, 50)], "k long, v long").coalesce(1), 3)
    assert sink.compact(spark, target_files=1) is not None
    assert sink.changes(spark).count() == 6
    sink.vacuum(retention_s=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        sink.changes(spark).count()


def test_dv_loses_race_to_concurrent_rewrite_and_recomputes(spark, tmp_path, monkeypatch):
    """THE lost-update interleaving the barrier protocol exists for: a
    compactor that LISTED before the DV was committed wins the next
    snapshot index (its rewrite neither applied nor absorbed the DV,
    and the rewritten files carry fresh basenames, voiding it). The
    deleter's barrier CAS must lose, detect the unabsorbed DV, and
    recompute against the fresh layout — no acknowledged delete may
    ever resurrect."""
    sink = _dv_table(spark, tmp_path)
    cls = type(sink)
    real_dv_commits = cls._dv_commits
    real_barrier = cls._create_barrier_snapshot
    state = {"raced": False}

    def racing_barrier(self, prior):
        if not state["raced"]:
            state["raced"] = True
            # simulate a compactor whose one DV-log listing predates our
            # commit (rewrites take dvs from _visible_state's single
            # _dv_commits read, so blind that read)
            monkeypatch.setattr(cls, "_dv_commits", lambda s: {})
            assert real_compact(self, spark, target_files=1) is not None
            monkeypatch.setattr(cls, "_dv_commits", real_dv_commits)
        return real_barrier(self, prior)

    real_compact = cls.compact
    monkeypatch.setattr(cls, "_create_barrier_snapshot", racing_barrier)
    res = sink.delete_where_dv(spark, [("k", "<", 10)])
    assert res is not None and res[1] == 10  # full recompute on the new layout
    assert state["raced"]
    assert sink.read(spark).filter("k < 10").count() == 0
    assert sink.read(spark).count() == 390
    # the voided first DV commit remains, harmless (dead basenames); the
    # NEXT real rewrite absorbs every outstanding id
    assert len(sink.visible_dvs()) >= 1
    monkeypatch.setattr(cls, "_create_barrier_snapshot", real_barrier)
    assert sink.compact(spark, target_files=2) is not None
    assert sink.visible_dvs() == []
    assert sink.read(spark).count() == 390


def test_change_feed_include_deletes_reconstructs_values(spark, tmp_path):
    """CDF completeness: DV deletes surface as 'delete' rows carrying the
    FULL deleted values (tombstones joined back onto their files), placed
    at the DV's as-of batch; replaying inserts+deletes reconverges a
    copy. A vacuumed source raises instead of silently dropping rows."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k long, v long").coalesce(1), 0)
    sink.write_batch(spark.createDataFrame([(4, 40)], "k long, v long").coalesce(1), 1)
    sink.delete_where_dv(spark, [("k", "==", 2)])   # as_of_batch = 1

    feed = sink.changes(spark, include_deletes=True).orderBy("_change_batch_id", "_change_type", "k")
    rows = [(r["k"], r["v"], r["_change_batch_id"], r["_change_type"]) for r in feed.collect()]
    assert rows == [
        (1, 10, 0, "insert"), (2, 20, 0, "insert"), (3, 30, 0, "insert"),
        (2, 20, 1, "delete"),  # full values recovered, placed at as-of batch
        (4, 40, 1, "insert"),
    ]
    # without the flag: insert-only view (backward compatible)
    assert {r["_change_type"] for r in sink.changes(spark).collect()} == {"insert"}

    # replay: inserts then deletes (per batch) onto an empty copy == table
    from pyspark.sql import functions as F

    ins = feed.filter("_change_type = 'insert'").select("k", "v")
    dels = feed.filter("_change_type = 'delete'").select("k", "v")
    replayed = ins.join(dels, ["k", "v"], "left_anti")
    assert sorted(tuple(r) for r in replayed.collect()) == sorted(
        tuple(r) for r in sink.read(spark).collect()
    ) == [(1, 10), (3, 30), (4, 40)]

    # cursor semantics: after batch 1 nothing remains (the DV is at 1)
    assert sink.changes(spark, after_batch_id=1, include_deletes=True).count() == 0

    # vacuum-broken sources must raise (compact absorbs, vacuum reclaims)
    sink.compact(spark, target_files=1)
    sink.vacuum(retention_s=0.0)
    with pytest.raises(ValueError, match="vacuumed|rewritten"):
        sink.changes(spark, include_deletes=True).count()


# -- snapshot diff ------------------------------------------------------------


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_diff_keyed_classifies_insert_delete_update(spark, tmp_path):
    import pyspark.sql.functions as F

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), 0)
    # anchor = batch 0; then: insert 4, delete 3 (DV), update 2
    sink.write_batch(_kv(spark, [(4, "d")]).coalesce(1), 1)
    assert sink.merge_rows_pruned(spark, _kv(spark, [(2, "B")]), keys=["k"]) is not None
    assert sink.delete_where_dv(spark, [("k", "==", 3)]) is not None
    d = sink.diff(spark, from_batch_id=0, key_cols=["k"])
    got = {(r["change_type"], r["k"], r["v"]) for r in d.collect()}
    assert got == {
        ("insert", 4, "d"),
        ("delete", 3, "c"),
        ("update_pre", 2, "b"),
        ("update_post", 2, "B"),
    }, got
    assert d.columns == ["change_type", "k", "v"]
    # unchanged rows never appear
    assert not [r for r in d.collect() if r["k"] == 1]


def test_diff_bag_semantics_without_keys(spark, tmp_path):
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    # duplicate rows are legal without keys: bag semantics must count them
    sink.write_batch(_kv(spark, [(1, "a"), (1, "a"), (2, "b")]).coalesce(1), 0)
    sink.write_batch(_kv(spark, [(1, "a")]).coalesce(1), 1)  # third copy of (1,a)
    d = sink.diff(spark, from_batch_id=0)
    got = sorted((r["change_type"], r["k"], r["v"]) for r in d.collect())
    assert got == [("insert", 1, "a")], got


def test_diff_keyed_rejects_duplicate_keys(spark, tmp_path):
    """Validation is folded into the diff's own key aggregate (ADVICE r9:
    no eager per-side isEmpty scans), so it fires lazily — at action
    time, as a Spark-side raise_error — not at diff() call time."""
    import pytest as _pytest

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(_kv(spark, [(1, "a"), (1, "b")]).coalesce(1), 0)
    d = sink.diff(spark, from_batch_id=0, key_cols=["k"])  # lazy: must not raise yet
    with _pytest.raises(Exception, match="duplicate keys"):
        d.collect()


def test_diff_is_layout_independent_across_compaction(spark, tmp_path):
    """compact() changes files, not content: the diff must be empty."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(3):
        sink.write_batch(_kv(spark, [(b * 2, "x"), (b * 2 + 1, "y")]).coalesce(1), b)
    assert sink.compact(spark, target_files=1) is not None
    assert sink.diff(spark, from_batch_id=2, key_cols=["k"]).count() == 0
    assert sink.diff(spark, from_batch_id=2).count() == 0


def test_dv_after_full_rewrite_orders_after_absorbed_batches(spark, tmp_path):
    """Regression (round 9): a DV taken after a rewrite absorbed every
    batch marker used to stamp as_of_batch = -1 (max of the now-empty
    committed_ids), ordering it BEFORE every historical point — so
    read_as_of to any pre-rewrite batch applied it and raised
    'references a compacted layout'. The stamp must be the max over ALL
    markers ever committed, keeping pre-rewrite history clean."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(2):
        sink.write_batch(_kv(spark, [(b * 10, "a"), (b * 10 + 1, "b")]).coalesce(1), b)
    assert sink.merge_rows_pruned(spark, _kv(spark, [(0, "A")]), keys=["k"]) is not None
    assert sink.delete_where_dv(spark, [("k", "==", 11)]) is not None
    dv = list(sink._dv_commits().values())[0]
    assert dv["as_of_batch"] == 1, dv
    # pre-rewrite history excludes both the merge and the DV
    as_of = {(r["k"], r["v"]) for r in sink.read_as_of(spark, batch_id=0).collect()}
    assert as_of == {(0, "a"), (1, "b")}, as_of
    # current state has both applied
    cur = {(r["k"], r["v"]) for r in sink.read(spark).collect()}
    assert cur == {(0, "A"), (1, "b"), (10, "a")}, cur


def test_diff_keyed_all_columns_are_keys(spark, tmp_path):
    """key_cols covering every column degrades to a presence diff —
    insert/delete only (a zero-field struct compare would be malformed)."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(_kv(spark, [(1, "a"), (2, "b")]).coalesce(1), 0)
    sink.write_batch(_kv(spark, [(3, "c")]).coalesce(1), 1)
    assert sink.delete_where_dv(spark, [("k", "==", 2)]) is not None
    d = sink.diff(spark, from_batch_id=0, key_cols=["k", "v"])
    got = sorted((r["change_type"], r["k"], r["v"]) for r in d.collect())
    assert got == [("delete", 2, "b"), ("insert", 3, "c")], got


def test_diff_where_restricts_both_sides(spark, tmp_path):
    """diff(where=key range) must equal the unrestricted diff filtered to
    that range — the current side goes through the pruned read, the
    historical side through the residual filter."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(_kv(spark, [(i, "a") for i in range(10)]).coalesce(1), 0)
    sink.write_batch(_kv(spark, [(20, "n"), (30, "n")]).coalesce(1), 1)
    assert sink.merge_rows_pruned(spark, _kv(spark, [(3, "U"), (7, "U")]), keys=["k"]) is not None
    assert sink.delete_where_dv(spark, [("k", "==", 5)]) is not None
    full = sink.diff(spark, from_batch_id=0, key_cols=["k"])
    restricted = sink.diff(spark, from_batch_id=0, key_cols=["k"], where=[("k", "<", 25)])
    want = sorted(
        (r["change_type"], r["k"], r["v"]) for r in full.collect() if r["k"] < 25
    )
    got = sorted((r["change_type"], r["k"], r["v"]) for r in restricted.collect())
    assert got == want, (got, want)
    # pin the expected rows explicitly too (separately — an `or` fallback
    # here made the literal dead code, ADVICE r9); tuples in sorted order
    assert want == [
        ("delete", 5, "a"),
        ("insert", 20, "n"),
        ("update_post", 3, "U"),
        ("update_post", 7, "U"),
        ("update_pre", 3, "a"),
        ("update_pre", 7, "a"),
    ], want


def test_read_as_of_where_prunes_and_filters(spark, tmp_path):
    """Pruned time travel: committed-mode batch manifests carry per-file
    stats, so read_as_of(where=point) must equal the residual-filtered
    full travel AND open fewer files (verified by deleting the
    non-matching files and asking again — the zone-map proof)."""
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    for b in range(4):
        sink.write_batch(
            _kv(spark, [(b * 100 + i, "x") for i in range(100)]).coalesce(1), b
        )
    sink.write_batch(_kv(spark, [(999, "late")]).coalesce(1), 4)
    # anchor excludes batch 4
    pred = [("k", ">=", 120), ("k", "<", 180)]
    full = {r["k"] for r in sink.read_as_of(spark, batch_id=3).collect()}
    pruned = {r["k"] for r in sink.read_as_of(spark, batch_id=3, where=pred).collect()}
    assert pruned == {k for k in full if 120 <= k < 180} and len(pruned) == 60
    # destroy the parquet files of every batch the predicate cannot match
    # — batches 0, 2, 3 (batch 1 holds keys 100-199) — keeping the dirs so
    # the travel-validity guard still passes. A pruned read must not open
    # any of them.
    import glob as _glob
    import os as _os

    for m in [sink._committed_manifests()[b] for b in (0, 2, 3)]:
        for f in _glob.glob(str(tmp_path / "t" / "data" / m["dir"] / "*.parquet")):
            _os.remove(f)
    again = {r["k"] for r in sink.read_as_of(spark, batch_id=3, where=pred).collect()}
    assert again == pruned


def test_diff_keys_only_rejects_duplicate_keys(spark, tmp_path):
    """ADVICE r10: in the keys-only branch the duplicate-key guard must
    survive column pruning — duplicate keys raise at action time instead
    of being silently deduplicated."""
    import pytest as _pytest

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(_kv(spark, [(1, "a"), (1, "a")]).coalesce(1), 0)
    sink.write_batch(_kv(spark, [(2, "b")]).coalesce(1), 1)
    d = sink.diff(spark, from_batch_id=0, key_cols=["k", "v"])  # lazy
    with _pytest.raises(Exception, match="duplicate keys"):
        d.collect()


def test_compact_small_files_binpacks_only_the_litter(spark, tmp_path):
    """Incremental OPTIMIZE: small files merge, well-sized files pointer-
    copy BY CONTENT STATS (no data movement), tombstones absorb."""
    import os

    from kafka_connect_bigquery_storage_write_spark.sinks import ManifestSinkTable

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    big = spark.createDataFrame([(i, "b") for i in range(500)], "k long, v string")
    sink.write_batch(big.coalesce(1), 0)
    for b in range(1, 6):  # five tiny appends (streaming litter)
        sink.write_batch(
            spark.createDataFrame([(1000 + b * 10 + i, "s") for i in range(3)], "k long, v string").coalesce(1),
            b,
        )
    before = sorted((r["k"], r["v"]) for r in sink.read(spark).collect())
    big_names = {
        os.path.basename(p) for p in sink.visible_files([("k", "<", 500)])
    }
    res = sink.compact_small_files(spark, small_rows=100)
    assert res is not None
    _snap, n_merged, n_kept = res
    assert (n_merged, n_kept) == (1, 1), res  # 5 tiny files -> 1; big file kept
    assert sorted((r["k"], r["v"]) for r in sink.read(spark).collect()) == before
    # stats survive the pointer copy: pruning still works
    assert len(sink.visible_files([("k", "==", 1011)])) == 1
    # idempotent steady state: nothing left to merge
    assert sink.compact_small_files(spark, small_rows=100) is None


def test_compact_small_files_absorbs_tombstones(spark, tmp_path):
    """Files referenced by visible DVs join the rewrite set regardless of
    size, and the pass absorbs the DVs — cheap MOR maintenance."""
    from kafka_connect_bigquery_storage_write_spark.sinks import ManifestSinkTable

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    big = spark.createDataFrame([(i, "b") for i in range(500)], "k long, v string")
    sink.write_batch(big.coalesce(1), 0)
    assert sink.upsert_mor(
        spark, spark.createDataFrame([(5, "U")], "k long, v string"), keys=["k"], batch_id=1
    ) is not None
    res = sink.compact_small_files(spark, small_rows=100)
    assert res is not None and not sink.visible_dvs()
    got = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert got[5] == "U" and len(got) == 500
    assert sink.stats_agg(["k"])["rows"] == 500  # stats-only path restored


def test_maintenance_report_reads_only_the_manifest(spark, tmp_path):
    """The hourly-cron signal: small-file litter and pending tombstones
    surface from the manifest alone, and acting on the advice clears it."""
    from kafka_connect_bigquery_storage_write_spark.sinks import ManifestSinkTable

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(
        spark.createDataFrame([(i, "b") for i in range(500)], "k long, v string").coalesce(1), 0
    )
    for b in range(1, 4):
        sink.write_batch(
            spark.createDataFrame([(1000 + b, "s")], "k long, v string").coalesce(1), b
        )
    assert sink.upsert_mor(
        spark, spark.createDataFrame([(5, "U")], "k long, v string"), keys=["k"], batch_id=9
    ) is not None
    rep = sink.maintenance_report(small_rows=100)
    assert rep["n_files"] == 5 and rep["n_small_files"] == 4
    assert rep["pending_dv_rows"] == 1 and rep["n_visible_dvs"] == 1
    assert rep["n_void_mor_batches"] == 0
    assert rep["binpack_due"] and rep["compact_due"]  # 4 of 5 files small
    # acting on the advice clears the signal
    assert sink.compact_small_files(spark, small_rows=100) is not None
    rep2 = sink.maintenance_report(small_rows=100)
    assert not rep2["binpack_due"] and not rep2["compact_due"]
    assert rep2["pending_dv_rows"] == 0 and rep2["n_visible_dvs"] == 0


def test_read_as_of_epoch_carries_stats_and_prunes(spark, tmp_path):
    """Epoch manifests carry per-file zone-map stats since the staged-
    merge work (commit() copies them from staged markers), so pruned
    historical reads work on pending-mode tables too: the where= form
    equals the filter form at every epoch, including a staged-merge
    epoch whose insert manifests rode dv commits."""
    import json
    import os

    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="pending")
    lo = spark.createDataFrame([(i, "x") for i in range(50)], "k long, v string")
    hi = spark.createDataFrame([(i, "x") for i in range(100, 150)], "k long, v string")
    sink.write_batch(lo.coalesce(1), 0)
    sink.write_batch(hi.coalesce(1), 1)
    sink.commit()  # epoch 0
    upd = spark.createDataFrame([(5, "U"), (200, "N")], "k long, v string")
    assert sink.upsert_mor(spark, upd, keys=["k"], batch_id=2) is not None
    sink.commit()  # epoch 1: the staged merge
    # the epoch files really carry stats for every batch they publish
    for f in sorted(os.listdir(os.path.join(str(tmp_path / "t"), "_commits"))):
        if f.startswith("epoch-"):
            e = json.load(open(os.path.join(str(tmp_path / "t"), "_commits", f)))
            assert set(e["files"]) == {str(b) for b in e["batch_ids"]}, f
    for epoch in (0, 1):
        for where in ([("k", ">=", 100)], [("k", "==", 5)]):
            pruned = {(r["k"], r["v"]) for r in sink.read_as_of(spark, epoch=epoch, where=where).collect()}
            full = sink.read_as_of(spark, epoch=epoch)
            cond = None
            from pyspark.sql import functions as F

            for c, op, v in where:
                this = {"==": F.col(c) == v, ">=": F.col(c) >= v}[op]
                cond = this if cond is None else (cond & this)
            expect = {(r["k"], r["v"]) for r in full.filter(cond).collect()}
            assert pruned == expect, (epoch, where)
    # epoch-1 history reflects the merge: key 5 updated, 200 inserted
    t1 = {r["k"]: r["v"] for r in sink.read_as_of(spark, epoch=1).collect()}
    assert t1[5] == "U" and t1[200] == "N" and len(t1) == 101
    t0 = {r["k"]: r["v"] for r in sink.read_as_of(spark, epoch=0).collect()}
    assert t0[5] == "x" and 200 not in t0 and len(t0) == 100

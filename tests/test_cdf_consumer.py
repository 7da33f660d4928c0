"""Streaming change-feed consumption (VERDICT r9 #3): a downstream sink
subscribes to an upstream ManifestSinkTable's change feed and converges
under appends + keyed MERGEs + DV deletes — exactly-once via the target's
own idempotence markers, cursor in the consumer's checkpoint."""

from __future__ import annotations

import time

from kafka_connect_bigquery_storage_write_spark.sinks import ManifestSinkTable
from kafka_connect_bigquery_storage_write_spark.sinks.cdf_consumer import ChangeFeedConsumer


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _content(sink, spark):
    return sorted((r["k"], r["v"]) for r in sink.read(spark).collect())


def _mk(spark, tmp_path, name="src"):
    return ManifestSinkTable(str(tmp_path / name), write_mode="committed")


def _merge_logged(src, spark, rows_df, bid):
    """An upstream MERGE commit the way the ingest pipeline writes it:
    change set logged, then the pruned merge applied."""
    rows_df = rows_df.localCheckpoint(eager=True)
    src.log_changes(rows_df, bid, change_type="upsert")
    assert src.merge_rows_pruned(spark, rows_df, keys=["k"]) is not None


def test_available_now_catchup_and_convergence(spark, tmp_path):
    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(i, "a") for i in range(20)]).coalesce(1), 0)
    _merge_logged(src, spark, _kv(spark, [(3, "U"), (99, "NEW")]), 1)
    assert src.delete_where_dv(spark, [("k", "==", 5)]) is not None
    src.write_batch(_kv(spark, [(200, "late")]).coalesce(1), 2)

    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    n = c.run_available_now(spark)
    assert n == 4  # 2 appends + 1 merge + 1 dv
    assert _content(tgt, spark) == _content(src, spark)
    # drained: a second poll finds nothing and changes nothing
    assert c.poll(spark) == 0
    assert _content(tgt, spark) == _content(src, spark)


def test_lost_cursor_replays_idempotently(spark, tmp_path):
    """Crash window: cursor lost AFTER applies — the replay must
    short-circuit on the target's markers, not double-apply."""
    import os

    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(i, "a") for i in range(10)]).coalesce(1), 0)
    _merge_logged(src, spark, _kv(spark, [(1, "U"), (50, "NEW")]), 1)
    assert src.delete_where_dv(spark, [("k", "==", 2)]) is not None
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    c.run_available_now(spark)
    want = _content(tgt, spark)
    os.remove(c._cursor_path())  # simulated checkpoint loss
    c2 = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    c2.run_available_now(spark)
    assert _content(tgt, spark) == want == _content(src, spark)


def test_two_dvs_sharing_one_as_of_batch(spark, tmp_path):
    """The index-grain cursor case: a second DV stamped with the SAME
    as-of batch, committed after the consumer already passed that batch
    id, must still be consumed (a batch-grain cursor would drop it)."""
    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(i, "a") for i in range(10)]).coalesce(1), 0)
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    assert src.delete_where_dv(spark, [("k", "==", 1)]) is not None
    c.run_available_now(spark)
    assert src.delete_where_dv(spark, [("k", "==", 7)]) is not None  # same as_of batch
    c.run_available_now(spark)
    assert _content(tgt, spark) == _content(src, spark)
    assert dict(_content(tgt, spark)).keys() == {0, 2, 3, 4, 5, 6, 8, 9}


def test_streaming_query_converges_multi_trigger(spark, tmp_path):
    """The real StreamingQuery surface: the consumer attached via
    start() converges a mirror across MULTIPLE triggers while the
    source keeps committing appends, merges and DV deletes."""
    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(i, "a") for i in range(50)]).coalesce(1), 0)
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    q = c.start(spark, interval="1 seconds")
    try:
        deadline = time.time() + 120
        # commits land while the stream is running (multi-trigger by
        # construction: each op waits until the mirror caught up)
        ops = [
            lambda: src.write_batch(_kv(spark, [(100 + i, "b") for i in range(10)]).coalesce(1), 1),
            lambda: _merge_logged(src, spark, _kv(spark, [(3, "U"), (250, "NEW")]), 2),
            lambda: src.delete_where_dv(spark, [("k", "==", 7)]),
            lambda: _merge_logged(src, spark, _kv(spark, [(101, "U2")]), 3),
        ]
        for op in ops:
            op()
            while time.time() < deadline:
                if _content(tgt, spark) == _content(src, spark):
                    break
                time.sleep(0.5)
            assert _content(tgt, spark) == _content(src, spark)
    finally:
        q.stop()
    # at least one trigger per op -> multi-trigger exercised
    assert len({bid for bid, _ in c.applied}) >= 4


def test_dv_after_logged_merges_orders_after_them(spark, tmp_path):
    """Regression (round 10): MERGE batches have no batch markers — only
    change commits — so a DV taken after merges used to stamp
    as_of_batch = seed batch, mis-ordering it BEFORE the merges in the
    feed (the consumer deleted, then the replayed merges resurrected)."""
    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(i, "a") for i in range(10)]).coalesce(1), 0)
    _merge_logged(src, spark, _kv(spark, [(1, "U1")]), 1)
    _merge_logged(src, spark, _kv(spark, [(2, "U2")]), 2)
    assert src.delete_where_dv(spark, [("k", "<", 5)]) is not None
    dv = list(src._dv_commits().values())[0]
    assert dv["as_of_batch"] == 2, dv  # orders AFTER the merges it saw
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    c.run_available_now(spark)
    assert _content(tgt, spark) == _content(src, spark)
    assert dict(_content(tgt, spark)).keys() == {5, 6, 7, 8, 9}


def test_poll_cost_reads_changes_not_table(spark, tmp_path):
    """Incremental contract: after catch-up, a new small append is
    consumed as ONE commit without touching earlier batches' dirs —
    proven by making the consumed batches' change files unreadable."""
    src = _mk(spark, tmp_path, "src")
    for b in range(3):
        src.write_batch(_kv(spark, [(b * 10 + i, "a") for i in range(10)]).coalesce(1), b)
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    c.run_available_now(spark)
    src.write_batch(_kv(spark, [(900, "z")]).coalesce(1), 3)
    assert c.poll(spark) == 1
    assert dict(_content(tgt, spark))[900] == "z"
    assert len(_content(tgt, spark)) == 31


def test_contiguous_upserts_apply_as_one_merge(spark, tmp_path):
    """Round-15 batching pin: a contiguous run of upsert commits is ONE
    pruned merge (group op marker), the applied log stays per-commit,
    and the mirror converges to the same state as per-commit applies."""
    import os

    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(i, "a") for i in range(20)]).coalesce(1), 0)
    _merge_logged(src, spark, _kv(spark, [(3, "U1"), (99, "N1")]), 1)
    _merge_logged(src, spark, _kv(spark, [(3, "U2"), (7, "V")]), 2)
    _merge_logged(src, spark, _kv(spark, [(99, "N2")]), 3)
    assert src.delete_where_dv(spark, [("k", "==", 5)]) is not None
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    assert c.run_available_now(spark) == 5
    assert _content(tgt, spark) == _content(src, spark)
    # last-writer-wins inside the run
    got = dict(_content(tgt, spark))
    assert got[3] == "U2" and got[99] == "N2" and got[7] == "V" and 5 not in got
    # ONE group marker for the run, no per-commit markers
    commits = os.listdir(os.path.join(tgt.root, "_commits"))
    assert "mrgop-cdf-g1-3.marker" in commits
    assert not any(m in commits for m in ("mrgop-cdf-b1.marker", "mrgop-cdf-b2.marker", "mrgop-cdf-b3.marker"))
    # the applied log stays per-commit
    assert [(b, k) for b, k in c.applied] == [
        (0, "insert"), (1, "upsert"), (2, "upsert"), (3, "upsert"), (0, "delete"),
    ]


def test_group_replay_after_cursor_loss(spark, tmp_path):
    """Cursor loss replays the same worklist: the group op marker must
    short-circuit the re-merge and the mirror must stay converged."""
    import os

    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(i, "a") for i in range(10)]).coalesce(1), 0)
    _merge_logged(src, spark, _kv(spark, [(1, "U"), (50, "NEW")]), 1)
    _merge_logged(src, spark, _kv(spark, [(2, "W")]), 2)
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    c.run_available_now(spark)
    want = _content(tgt, spark)
    snaps_before = len(tgt.history())
    os.remove(c._cursor_path())
    c2 = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    c2.run_available_now(spark)
    assert _content(tgt, spark) == want == _content(src, spark)
    # marker short-circuit: the replay produced NO new target snapshot
    assert len(tgt.history()) == snaps_before


def test_group_extended_after_crash_converges(spark, tmp_path, monkeypatch):
    """Crash between a group's merge and its cursor advance, with NEW
    upstream commits landing before the retry: the replayed (extended)
    group has a different op id, so it re-merges — and the re-merge must
    be value-idempotent (same converged mirror)."""
    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(i, "a") for i in range(10)]).coalesce(1), 0)
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    c.poll(spark)  # seed consumed
    _merge_logged(src, spark, _kv(spark, [(1, "U1"), (30, "N")]), 1)
    _merge_logged(src, spark, _kv(spark, [(2, "W")]), 2)
    real_advance = ChangeFeedConsumer._advance

    def crash_after_apply(self, cur):
        raise RuntimeError("simulated crash between group apply and advance")

    monkeypatch.setattr(ChangeFeedConsumer, "_advance", crash_after_apply)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        c.poll(spark)
    monkeypatch.setattr(ChangeFeedConsumer, "_advance", real_advance)
    # the group [1,2] WAS merged (marker cdf-g1-2) but the cursor never
    # advanced; a new commit extends the replayed run to [1,2,3]
    _merge_logged(src, spark, _kv(spark, [(1, "U2")]), 3)
    assert c.poll(spark) == 3
    assert c.poll(spark) == 0
    got = dict(_content(tgt, spark))
    assert got[1] == "U2" and got[2] == "W" and got[30] == "N"
    assert _content(tgt, spark) == _content(src, spark)


def test_intra_batch_dup_keys_still_raise_in_group(spark, tmp_path):
    """The merge duplicate-key gate must survive batching: the group's
    last-writer-wins filter keeps every row of the winning batch per
    key, so a malformed change set (duplicate keys INSIDE one commit)
    still reaches merge_rows_pruned's gate and raises."""
    import pytest as _pytest

    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(i, "a") for i in range(10)]).coalesce(1), 0)
    # a malformed producer logs a dup-key change set without merging it
    assert src.log_changes(_kv(spark, [(1, "X"), (1, "Y")]).coalesce(1), 1)
    _merge_logged(src, spark, _kv(spark, [(2, "W")]), 2)  # groups with b1
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    with _pytest.raises(ValueError, match="duplicate keys"):
        c.run_available_now(spark)


def test_lease_refresh_and_advance_per_group(spark, tmp_path, monkeypatch):
    """ADVICE r12's lease rule at the round-15 grain, pinned: one cursor
    advance per applied GROUP and at least one lease refresh before each
    group's source read (the TTL contract is one group's read-and-merge)."""
    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(i, "a") for i in range(10)]).coalesce(1), 0)
    _merge_logged(src, spark, _kv(spark, [(1, "U")]), 1)
    _merge_logged(src, spark, _kv(spark, [(2, "V")]), 2)
    assert src.delete_where_dv(spark, [("k", "==", 3)]) is not None
    assert src.delete_where_dv(spark, [("k", "==", 4)]) is not None
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    advances, registers = [], []
    real_advance, real_register = ChangeFeedConsumer._advance, ChangeFeedConsumer._register
    monkeypatch.setattr(ChangeFeedConsumer, "_advance", lambda s, cur: (advances.append(dict(cur)), real_advance(s, cur))[1])
    monkeypatch.setattr(
        ChangeFeedConsumer, "_register", lambda s, cur=None: (registers.append(1), real_register(s, cur))[1]
    )
    assert c.poll(spark) == 5  # seed + 2-merge group + 2-dv group
    # groups: [b0], [b1,b2], [dv0,dv1] -> exactly 3 advances
    assert len(advances) == 3
    assert advances[-1]["after_batch_id"] == 2 and advances[-1]["applied_dvs"] == [0, 1]
    # poll-start refresh + one per group + one inside each advance
    assert len(registers) >= 1 + 3
    assert _content(tgt, spark) == _content(src, spark)


def test_vanished_batch_raises_instead_of_silent_skip(spark, tmp_path, monkeypatch):
    """ADVICE r10: a batch listed by the worklist whose change source has
    vanished by apply time (concurrent maintenance racing the poll) must
    FAIL the poll, not advance the cursor past the batch — returning
    success would silently drop its rows from the mirror."""
    import pytest as _pytest

    src = _mk(spark, tmp_path, "src")
    src.write_batch(_kv(spark, [(1, "a")]).coalesce(1), 0)
    tgt = _mk(spark, tmp_path, "tgt")
    c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / "ckpt"))
    monkeypatch.setattr(src, "_change_sources", lambda after: [])
    with _pytest.raises(ValueError, match="vanished between listing and apply"):
        c.poll(spark)
    # cursor did NOT advance: a later poll against healed state applies the batch
    assert c.cursor()["after_batch_id"] == -1
    monkeypatch.undo()
    assert c.poll(spark) == 1
    assert _content(tgt, spark) == [(1, "a")]


def test_helper_column_collision_raises(spark, tmp_path):
    """ADVICE r15: the run merge tags rows with ``_cdf_bid``/``_cdf_max``;
    a source carrying a column of either name must fail loudly, naming
    it, instead of having its values silently overwritten."""
    import pytest as _pytest

    for helper in ("_cdf_bid", "_cdf_max"):
        src = _mk(spark, tmp_path, f"src{helper}")
        schema = f"k long, {helper} long"
        src.write_batch(spark.createDataFrame([(1, 10), (2, 20)], schema).coalesce(1), 0)
        upd = spark.createDataFrame([(1, 11)], schema).localCheckpoint(eager=True)
        src.log_changes(upd, 1, change_type="upsert")
        assert src.merge_rows_pruned(spark, upd, keys=["k"]) is not None
        tgt = _mk(spark, tmp_path, f"tgt{helper}")
        c = ChangeFeedConsumer(src, tgt, keys=["k"], checkpoint_dir=str(tmp_path / f"ckpt{helper}"))
        with _pytest.raises(ValueError, match=helper):
            c.run_available_now(spark)

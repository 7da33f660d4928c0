"""Systematic interleaving explorer for the manifest sink protocol.

Every round's external review has found one more two-operation
interleaving bug (round 10: absorb-without-merge; round 11: DV listed
after data; round 12: MOR publish between two DV listings, repair-to-
listing TOCTOU). Each was fixable AND testable with the same mechanics:
monkeypatch a listing step of a victim operation to run a complete
racing operation at that exact point, then assert the final content
against an order-independent model. This module runs that construction
as a GRID instead of one-off regressions: every (victim op, injection
point, racing op) combination, so the next protocol edit that reopens
an interleaving window fails here before an advisor finds it.

Design notes:
- The racing op runs to completion inside the hook (its CAS lands mid-
  victim) — the worst single-interleaving case. The victim may lose its
  snapshot CAS to the racer's barrier (compact/delete return None);
  content-affecting victims contribute to the model only when they
  report success.
- Key ranges are disjoint across ops, so every linearization yields the
  SAME final content — the assertion needs no order reasoning.
- Invariants per scenario: exact content match (keys AND values), no
  duplicate keys, racer replay is a no-op, and a terminal compact
  converges with all DVs absorbed and the maintenance advisor clear.
- read() as victim asserts snapshot atomicity instead: the collected
  rows equal the pre-racer or the post-racer state entire, never a mix.
"""

from __future__ import annotations

import os

import pytest

from kafka_connect_bigquery_storage_write_spark.sinks import ManifestSinkTable


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


SEED = {k: "x" for k in range(100)}
APPEND = {k: "a" for k in range(100, 105)}
UPSERT = {**{k: "U" for k in range(10, 15)}, **{k: "n" for k in range(200, 205)}}
DVDEL = set(range(90, 100))
VICDEL = set(range(0, 5))


def _seeded(spark, tmp_path) -> ManifestSinkTable:
    sink = ManifestSinkTable(str(tmp_path / "t"), write_mode="committed")
    sink.write_batch(_kv(spark, [(k, "x") for k in range(50)]).coalesce(1), 0)
    sink.write_batch(_kv(spark, [(k, "x") for k in range(50, 100)]).coalesce(1), 1)
    return sink


def _racer_append(sink, spark):
    sink.write_batch(_kv(spark, sorted(APPEND.items())).coalesce(1), 50)


def _racer_upsert(sink, spark):
    res = sink.upsert_mor(spark, _kv(spark, sorted(UPSERT.items())), keys=["k"], batch_id=51)
    assert res is not None


def _racer_dvdel(sink, spark):
    res = sink.delete_where_dv(spark, [("k", ">=", 90)])
    assert res is not None and res[1] == len(DVDEL)


def _racer_compact(sink, spark):
    sink.compact(spark)


def _racer_compact_upsert(sink, spark):
    _racer_compact(sink, spark)
    _racer_upsert(sink, spark)


RACERS = {
    "append": (_racer_append, lambda m: m.update(APPEND)),
    "upsert": (_racer_upsert, lambda m: m.update(UPSERT)),
    "dvdel": (_racer_dvdel, lambda m: [m.pop(k) for k in DVDEL]),
    "compact": (_racer_compact, lambda m: None),
    "compact_upsert": (_racer_compact_upsert, lambda m: m.update(UPSERT)),
}
UPSERT_RACERS = ("upsert", "compact_upsert")

# injection points: the instance method whose FIRST call during the
# victim triggers the racer. A victim's first listing (``_list_state``)
# reads the snapshot index, the DV log, the snapshot, the staged markers,
# the batch markers and epochs, then the epoch index: ``_dv_commits``
# lands the racer between the DV log and the snapshot read,
# ``_latest_snapshot`` between the snapshot and the markers,
# ``_committed_manifests`` after the markers. A rewriter's
# first listing is its repair pass's; ``_repair_void_mors`` lands the
# racer between that pass and the listing the rewrite absorbs.
HOOKS = ["_latest_snapshot", "_dv_commits", "_committed_manifests", "_repair_void_mors"]

VICTIMS = {
    "compact": lambda s, sp: s.compact(sp),
    "binpack": lambda s, sp: s.compact_small_files(sp, small_rows=10**9),
    "delete": lambda s, sp: s.delete_where_pruned(sp, [("k", "<", 5)]),
    "dvdel": lambda s, sp: s.delete_where_dv(sp, [("k", "<", 5)]),
}
# delete_where_dv never runs the rewriters' repair pass
GRID = [
    (hook, victim)
    for victim in sorted(VICTIMS)
    for hook in HOOKS
    if not (victim == "dvdel" and hook == "_repair_void_mors")
]


def _inject(monkeypatch, sink, hook: str, racer) -> dict:
    real = getattr(type(sink), hook)
    state = {"fired": False, "in_racer": False}

    def wrapped(self, *a, **kw):
        out = real(self, *a, **kw)
        if not state["fired"] and not state["in_racer"]:
            state["fired"] = True
            state["in_racer"] = True
            try:
                racer()
            finally:
                state["in_racer"] = False
        return out

    monkeypatch.setattr(type(sink), hook, wrapped)
    return state


def _content(sink, spark) -> dict:
    rows = sink.read(spark).collect()
    got = {}
    for r in rows:
        assert r["k"] not in got, f"duplicate key {r['k']} in visible content"
        got[r["k"]] = r["v"]
    return got


@pytest.mark.parametrize("hook,victim", GRID)
@pytest.mark.parametrize("racer", sorted(RACERS))
def test_racer_lands_mid_victim(spark, tmp_path, monkeypatch, victim, hook, racer):
    sink = _seeded(spark, tmp_path)
    racer_fn, racer_model = RACERS[racer]
    state = _inject(monkeypatch, sink, hook, lambda: racer_fn(sink, spark))
    vic_result = VICTIMS[victim](sink, spark)
    monkeypatch.undo()
    assert state["fired"], "injection point never reached"

    expected = dict(SEED)
    racer_model(expected)
    if victim == "dvdel":
        # a merge-on-read delete never loses to a racer: it recomputes
        assert vic_result is not None and vic_result[1] == len(VICDEL), f"dvdel reported {vic_result}"
    if victim in ("delete", "dvdel") and vic_result is not None:
        for k in VICDEL:
            expected.pop(k, None)
    assert _content(sink, spark) == expected

    # racer replay is a no-op (idempotence survives the interleaving)
    if racer == "append":
        assert sink.write_batch(
            _kv(spark, sorted(APPEND.items())).coalesce(1), 50
        ).already_exists
    elif racer in UPSERT_RACERS:
        assert sink.upsert_mor(
            spark, _kv(spark, sorted(UPSERT.items())), keys=["k"], batch_id=51
        ) is None
    assert _content(sink, spark) == expected

    # terminal maintenance converges and clears (None = nothing to do:
    # the victim already absorbed everything, which is itself converged)
    sink.compact(spark)
    assert sink.visible_dvs() == []
    assert _content(sink, spark) == expected
    rep = sink.maintenance_report(small_rows=1)
    assert not rep["binpack_due"] and rep["n_void_mor_batches"] == 0


@pytest.mark.parametrize("victim", ["binpack", "compact", "delete"])
def test_dv_publish_lands_inside_rewrite_listing(spark, tmp_path, monkeypatch, victim):
    """The grid's hooks fire in a rewrite's repair pass, which lists
    first; this one arms after that pass, so a DV delete's commit and
    barrier land inside the listing the rewrite absorbs — between its
    DV log and its snapshot read. The rewrite must list again and apply
    the DV, or lose its CAS to the barrier; absorbing the DV's files
    without it would resurrect the deleted rows."""
    sink = _seeded(spark, tmp_path)
    armed = {}
    real_repair = type(sink)._repair_void_mors

    def arming_repair(self, sp):
        real_repair(self, sp)
        if not armed:
            armed["state"] = _inject(monkeypatch, sink, "_dv_commits", lambda: _racer_dvdel(sink, spark))

    monkeypatch.setattr(type(sink), "_repair_void_mors", arming_repair)
    vic_result = VICTIMS[victim](sink, spark)
    monkeypatch.undo()
    assert armed["state"]["fired"]
    expected = {k: v for k, v in SEED.items() if k not in DVDEL}
    if victim == "delete" and vic_result is not None:
        expected = {k: v for k, v in expected.items() if k not in VICDEL}
    assert _content(sink, spark) == expected


def test_dv_guard_rejects_barrier_over_a_rewrite(spark, tmp_path, monkeypatch):
    """The tombstone guard loop accepts another writer's barrier as
    "files unchanged" only when the barrier copies the layout the DV was
    computed against. Here a compaction whose listing predates the DV
    commit lands its snapshot between the DV CAS and the delete's
    barrier, and a MOR upsert then puts its own barrier on top of that
    compaction: the delete's DV names pre-compaction files, so it is
    void and must be recomputed — a barrier over a real rewrite proves
    nothing about the DV's files."""
    from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import _collect_file_stats

    sink = _seeded(spark, tmp_path)
    pre_files, pre_ids = sink.visible_files(), sink.committed_ids()
    real = type(sink)._create_barrier_snapshot
    fired = {"done": False}

    def racing_barrier(self, prior):
        if not fired["done"]:
            fired["done"] = True
            # the stale compactor materializes its pre-delete listing
            new_dir = "compacted-0-stale"
            out = os.path.join(sink.root, "data", new_dir)
            spark.read.schema(sink.schema()).parquet(*pre_files).coalesce(1).write.parquet(out)
            names = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
            assert sink._cas_snapshot(0, [new_dir], pre_ids, {new_dir: _collect_file_stats(out, names)}, [])
            _racer_upsert(sink, spark)  # its barrier lands on the compaction
        return real(self, prior)

    monkeypatch.setattr(type(sink), "_create_barrier_snapshot", racing_barrier)
    res = sink.delete_where_dv(spark, [("k", "<", 5)])
    monkeypatch.undo()
    assert fired["done"]
    assert res is not None and res[1] == len(VICDEL)
    expected = {k: v for k, v in {**SEED, **UPSERT}.items() if k not in VICDEL}
    assert _content(sink, spark) == expected, "lost delete: the void DV was accepted"
    sink.compact(spark)
    assert sink.visible_dvs() == []
    assert _content(sink, spark) == expected


@pytest.mark.parametrize("hook", ["_dv_commits", "_latest_snapshot", "_committed_manifests"])
@pytest.mark.parametrize("racer", sorted(RACERS))
def test_read_is_atomic_under_racer(spark, tmp_path, monkeypatch, hook, racer):
    """A reader overlapped by any publish sees the OLD state entire or
    the NEW state entire — never tombstones without inserts (or the
    reverse)."""
    sink = _seeded(spark, tmp_path)
    racer_fn, racer_model = RACERS[racer]
    state = _inject(monkeypatch, sink, hook, lambda: racer_fn(sink, spark))
    df = sink.read(spark)
    monkeypatch.undo()
    assert state["fired"]
    got = {}
    for r in df.collect():
        assert r["k"] not in got, f"duplicate key {r['k']} in torn read"
        got[r["k"]] = r["v"]
    pre = dict(SEED)
    post = dict(SEED)
    racer_model(post)
    assert got in (pre, post), "torn read: a state that never existed"
    # and a fresh read sees the publish entire
    assert _content(sink, spark) == post


@pytest.mark.parametrize("hook", ["_dv_commits", "_latest_snapshot"])
def test_stats_agg_not_torn_by_mor_publish(spark, tmp_path, monkeypatch, hook):
    """stats_agg's pending-DV refusal and its manifest listing share one
    dv/snapshot read (round-12 review): a MOR upsert publishing between
    a separate check and listing would slip its insert rows into the
    row-count sum while its tombstones went unchecked — an overcount
    from a state that never existed. The aggregate must be the pre-racer
    value entire, or the documented pending-DV raise."""
    sink = _seeded(spark, tmp_path)
    state = _inject(monkeypatch, sink, hook, lambda: _racer_upsert(sink, spark))
    try:
        total = sink.stats_agg(["k"])["rows"]
    except ValueError as e:
        assert "delete vectors are pending" in str(e)
        total = None
    monkeypatch.undo()
    assert state["fired"]
    assert total in (None, len(SEED)), (
        f"torn stats: {total} rows counted (pre={len(SEED)}, "
        f"torn would be {len(SEED) + len(UPSERT)})"
    )


@pytest.mark.parametrize("hook", ["_dv_commits", "_latest_snapshot"])
def test_read_bucketed_not_torn_by_mor_publish(spark, tmp_path, monkeypatch, hook):
    """read_bucketed's snapshot must be a state that existed: a MOR
    publish landing between the DV check and the file hardlinking must
    not put un-tombstoned superseded versions next to the new rows in
    the bucketed snapshot."""
    sink = ManifestSinkTable(
        str(tmp_path / "t"), write_mode="committed", bucket_spec=(4, ["k"])
    )
    sink.write_batch(_kv(spark, [(k, "x") for k in range(100)]), 0)
    state = _inject(monkeypatch, sink, hook, lambda: _racer_upsert(sink, spark))
    name = f"bread_race_{hook.strip('_')}"
    try:
        rows = sink.read_bucketed(spark, name).collect()
    except ValueError as e:
        assert "delete vectors are pending" in str(e)
        rows = None
    finally:
        monkeypatch.undo()
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    assert state["fired"]
    if rows is not None:
        got = {}
        for r in rows:
            assert r["k"] not in got, f"duplicate key {r['k']} in bucketed snapshot"
            got[r["k"]] = r["v"]
        assert got == SEED, "bucketed snapshot must be the pre-racer state entire"


@pytest.mark.parametrize("hook", HOOKS[:3])
@pytest.mark.parametrize("racer", sorted(RACERS))
def test_vacuum_mid_racer_reclaims_nothing_needed(spark, tmp_path, monkeypatch, hook, racer):
    """vacuum overlapped by a publish must never reclaim anything the
    publish (or any reader) needs: the racer's data survives, content
    converges, and the racer's replay stays a no-op. Seeded with an
    absorbed layout so the vacuum actually has reclaim candidates."""
    sink = _seeded(spark, tmp_path)
    assert sink.compact(spark) is not None  # batch dirs become reclaimable
    racer_fn, racer_model = RACERS[racer]
    state = _inject(monkeypatch, sink, hook, lambda: racer_fn(sink, spark))
    removed = sink.vacuum(retention_s=3600.0)
    monkeypatch.undo()
    assert state["fired"]
    expected = dict(SEED)
    racer_model(expected)
    assert _content(sink, spark) == expected, f"vacuum reclaimed live data: {removed}"
    if racer in UPSERT_RACERS:
        assert sink.upsert_mor(
            spark, _kv(spark, sorted(UPSERT.items())), keys=["k"], batch_id=51
        ) is None
    sink.compact(spark)
    assert sink.visible_dvs() == []
    assert _content(sink, spark) == expected


# -- pending-mode (transactional) scenarios (VERDICT r12 #5) -----------------
#
# The staged-merge protocol adds a new interleaving class: operations
# overlapped by a STAGING publish (whose dv CAS lands mid-victim but is
# invisible until an epoch), and commit() itself as a victim. Staging
# must never tear anything — an uncommitted transaction is not state.

PENDING_UPSERT = {**{k: "P" for k in range(20, 25)}, **{k: "q" for k in range(300, 305)}}


def _pending_seeded(spark, tmp_path) -> ManifestSinkTable:
    sink = ManifestSinkTable(str(tmp_path / "p"), write_mode="pending")
    sink.write_batch(_kv(spark, [(k, "x") for k in range(50)]).coalesce(1), 0)
    sink.write_batch(_kv(spark, [(k, "x") for k in range(50, 100)]).coalesce(1), 1)
    sink.commit()
    return sink


def _racer_stage(sink, spark):
    res = sink.upsert_mor(spark, _kv(spark, sorted(PENDING_UPSERT.items())), keys=["k"], batch_id=61)
    assert res is not None


@pytest.mark.parametrize("hook", ["_dv_commits", "_latest_snapshot", "_committed_manifests"])
def test_pending_staging_never_tears_read(spark, tmp_path, monkeypatch, hook):
    """A read overlapped by a STAGING publish sees the committed state —
    always: the staged dv CAS landing mid-listing must not leak either
    its tombstones or its insert manifest into the read."""
    sink = _pending_seeded(spark, tmp_path)
    state = _inject(monkeypatch, sink, hook, lambda: _racer_stage(sink, spark))
    df = sink.read(spark)
    monkeypatch.undo()
    assert state["fired"]
    got = {}
    for r in df.collect():
        assert r["k"] not in got, f"duplicate key {r['k']} leaked from staged merge"
        got[r["k"]] = r["v"]
    assert got == SEED, "staged (uncommitted) rows or tombstones leaked into a read"
    # the transaction then publishes entire
    sink.commit()
    expected = dict(SEED)
    expected.update(PENDING_UPSERT)
    assert _content(sink, spark) == expected


@pytest.mark.parametrize("hook", ["_dv_commits", "_latest_snapshot"])
def test_read_not_torn_by_commit(spark, tmp_path, monkeypatch, hook):
    """A commit() publishing a staged MERGE mid-listing of a read: the
    read lists the DV log before the epoch, so its listing must not pair
    the epoch's insert dirs with the merge's tombstones still listed as
    unpublished — superseded and new versions side by side, a state that
    never existed. The read is the pre-commit or post-commit state."""
    sink = _pending_seeded(spark, tmp_path)
    _racer_stage(sink, spark)  # staged merge, batch 61
    state = _inject(monkeypatch, sink, hook, lambda: sink.commit())
    df = sink.read(spark)
    monkeypatch.undo()
    assert state["fired"]
    got = {}
    for r in df.collect():
        assert r["k"] not in got, f"duplicate key {r['k']}: torn transaction"
        got[r["k"]] = r["v"]
    assert got in (SEED, {**SEED, **PENDING_UPSERT}), "torn read: a state that never existed"


@pytest.mark.parametrize("hook", ["_staged_manifests", "_dv_commits"])
def test_commit_overlapped_by_staging_publishes_consistently(spark, tmp_path, monkeypatch, hook):
    """A staging publish landing INSIDE commit()'s listing either rides
    that epoch or waits for the next — both consistent; never a torn
    half (insert without tombstones or the reverse), and the follow-up
    commit converges to the full transaction."""
    sink = _pending_seeded(spark, tmp_path)
    sink.write_batch(_kv(spark, sorted(APPEND.items())).coalesce(1), 60)  # staged append
    state = _inject(monkeypatch, sink, hook, lambda: _racer_stage(sink, spark))
    sink.commit()
    monkeypatch.undo()
    assert state["fired"]
    got = _content(sink, spark)
    with_stage = {**SEED, **APPEND, **PENDING_UPSERT}
    without_stage = {**SEED, **APPEND}
    assert got in (with_stage, without_stage), "torn epoch: partial transaction visible"
    sink.commit()  # drains whatever the first epoch missed
    assert _content(sink, spark) == with_stage
    # replay of the staged merge stays a no-op across the epochs
    assert sink.upsert_mor(
        spark, _kv(spark, sorted(PENDING_UPSERT.items())), keys=["k"], batch_id=61
    ) is None
    sink.compact(spark)
    assert _content(sink, spark) == with_stage


@pytest.mark.parametrize("hook", ["_staged_manifests", "_dv_commits"])
def test_commit_races_commit_exactly_once(spark, tmp_path, monkeypatch, hook):
    """Two committers racing one transaction: epoch CAS + set-union
    visibility keep every staged batch exactly-once no matter which
    committer's epoch claims it."""
    sink = _pending_seeded(spark, tmp_path)
    sink.write_batch(_kv(spark, sorted(APPEND.items())).coalesce(1), 60)
    _racer_stage(sink, spark)  # staged merge, pre-existing
    state = _inject(monkeypatch, sink, hook, lambda: sink.commit())
    sink.commit()
    monkeypatch.undo()
    assert state["fired"]
    expected = {**SEED, **APPEND, **PENDING_UPSERT}
    assert _content(sink, spark) == expected
    sink.compact(spark)
    assert sink.visible_dvs() == []
    assert _content(sink, spark) == expected


@pytest.mark.parametrize("hook", ["_committed_manifests", "_dv_commits"])
def test_vacuum_overlapped_by_staging_pins_transaction(spark, tmp_path, monkeypatch, hook):
    """vacuum overlapped by a staging publish must not reclaim the
    transaction's dirs (they carry no marker and no epoch yet — only
    the staged dv json pins them)."""
    sink = _pending_seeded(spark, tmp_path)
    state = _inject(monkeypatch, sink, hook, lambda: _racer_stage(sink, spark))
    sink.vacuum(retention_s=0.0)
    monkeypatch.undo()
    assert state["fired"]
    sink.commit()
    expected = dict(SEED)
    expected.update(PENDING_UPSERT)
    assert _content(sink, spark) == expected, "vacuum reclaimed an open transaction's files"


@pytest.mark.parametrize("hook", ["_dv_commits", "_committed_manifests"])
def test_change_feed_typing_not_torn_by_commit(spark, tmp_path, monkeypatch, hook):
    """A commit() publishing a staged MERGE mid-listing of the change
    feed must never type the merge batch 'insert' (round-13 review): a
    mirror applying an insert-typed merge batch appends duplicates
    instead of merging. The batch appears as 'upsert' or not at all."""
    sink = _pending_seeded(spark, tmp_path)
    _racer_stage(sink, spark)  # staged merge, batch 61
    state = _inject(monkeypatch, sink, hook, lambda: sink.commit())
    sources = sink._change_sources(1)
    monkeypatch.undo()
    assert state["fired"]
    typing = {b: t for b, _d, t in sources}
    assert typing.get(61) in (None, "upsert"), f"merge batch torn to {typing.get(61)!r}"
    # post-commit listing always sees it as an upsert
    assert {b: t for b, _d, t in sink._change_sources(1)}[61] == "upsert"


def test_stats_agg_available_during_open_transaction(spark, tmp_path):
    """Staged-unpublished DVs are not pending read work: stats-only
    aggregates and bucketed reads over the committed state keep working
    while a pending-mode merge is open (round-13 review — the old
    refusal's advice dead-ended in compact()'s deferral)."""
    sink = _pending_seeded(spark, tmp_path)
    assert sink.stats_agg(["k"])["rows"] == len(SEED)
    _racer_stage(sink, spark)
    assert sink.stats_agg(["k"])["rows"] == len(SEED)  # visible state only
    sink.commit()
    with pytest.raises(ValueError, match="delete vectors are pending"):
        sink.stats_agg(["k"])  # now the DVs are real read work
    sink.compact(spark)
    expected = dict(SEED)
    expected.update(PENDING_UPSERT)
    assert sink.stats_agg(["k"])["rows"] == len(expected)


# -- pending x STREAMING-pipeline scenarios (VERDICT r13 #2) ------------------
#
# Round 14 routes pending-mode MOR merges through IngestPipeline
# (foreachBatch stages, an epoch publishes every commit_every_n_batches
# micro-batches). The new interleaving class: the pipeline's staged
# merge — which layers the merge-marker replay protocol on top of the
# sink's staging — racing reads and external finalizers.

PIPE_MERGE = {**{k: "M" for k in range(30, 35)}, **{k: "m" for k in range(400, 405)}}


def _pending_pipe(spark, tmp_path, cadence=None):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_connect_bigquery_storage_write_spark.config import PipelineConfig
    from kafka_connect_bigquery_storage_write_spark.streaming.pipeline import IngestPipeline

    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType(), True)]
    )
    cfg = PipelineConfig(
        sink_path=str(tmp_path / "pp"),
        write_mode="pending",
        upsert_keys=["k"],
        upsert_mode="mor",
        commit_every_n_batches=cadence,
    )
    pipe = IngestPipeline(config=cfg, value_schema=schema, sink_schema=schema)

    def env(rows):
        return _kv(spark, rows).select(
            F.lit("t").alias("topic"),
            F.lit(0).alias("partition"),
            F.col("k").alias("offset"),
            F.col("k").cast("string").alias("key"),
            F.to_json(F.struct("k", "v")).alias("value"),
        )

    return pipe, env


@pytest.mark.parametrize("hook", ["_dv_commits", "_latest_snapshot"])
def test_pipeline_staged_merge_never_tears_read(spark, tmp_path, monkeypatch, hook):
    """A read overlapped by a PIPELINE-staged merge micro-batch (the
    streaming foreachBatch path: merge marker + staged dv CAS) sees the
    committed state entire — staging through the pipeline must be as
    invisible as staging at the sink API."""
    pipe, env = _pending_pipe(spark, tmp_path)
    sink = pipe._sink
    pipe.run_batch(env([(k, "x") for k in SEED]), batch_id=0)
    assert pipe.commit() == [0]
    state = _inject(
        monkeypatch, sink, hook,
        lambda: pipe.run_batch(env(sorted(PIPE_MERGE.items())), batch_id=1),
    )
    df = sink.read(spark)
    monkeypatch.undo()
    assert state["fired"]
    got = {}
    for r in df.collect():
        assert r["k"] not in got, f"duplicate key {r['k']} leaked from pipeline staging"
        got[r["k"]] = r["v"]
    assert got == SEED, "pipeline-staged (uncommitted) micro-batch leaked into a read"
    # replay of the staged micro-batch short-circuits on the merge marker
    assert pipe.run_batch(env(sorted(PIPE_MERGE.items())), batch_id=1).already_exists
    assert pipe.commit() == [1]
    assert _content(sink, spark) == {**SEED, **PIPE_MERGE}


@pytest.mark.parametrize("hook", ["_staged_manifests", "_dv_commits"])
def test_pipeline_cadence_commit_races_finalizer(spark, tmp_path, monkeypatch, hook):
    """An external finalizer's commit() lands MID-staging of the cadence
    micro-batch: the epoch CAS + set-union visibility keep every batch
    exactly-once whichever epoch claims it, and the cadence commit drains
    whatever the external epoch missed."""
    pipe, env = _pending_pipe(spark, tmp_path, cadence=2)
    sink = pipe._sink
    s0 = pipe.run_batch(env([(k, "x") for k in SEED]), batch_id=0)
    assert s0.epoch_batch_ids is None  # mid-epoch: still staged
    state = _inject(monkeypatch, sink, hook, lambda: sink.commit())
    s1 = pipe.run_batch(env(sorted(PIPE_MERGE.items())), batch_id=1)
    monkeypatch.undo()
    assert state["fired"]
    # between the external epoch and the cadence epoch, everything published
    assert sink.commit() == []  # nothing left staged
    assert _content(sink, spark) == {**SEED, **PIPE_MERGE}
    # replay stays a no-op across the racing epochs
    assert pipe.run_batch(env(sorted(PIPE_MERGE.items())), batch_id=1).already_exists
    sink.compact(spark)
    assert _content(sink, spark) == {**SEED, **PIPE_MERGE}


# -- crash points of the merge-on-read publish --------------------------------
#
# delete_where_dv and upsert_mor publish through one tombstone core; its
# durable side effects are the tombstone dir, the dv-<idx>.json CAS, the
# barrier snapshot and the op marker. A crash at the dv CAS or right
# after it, re-run with the same op id (and batch id), must leave the
# grid's invariants intact.

DV_OPS = {
    "dvdel": (
        lambda s, sp: s.delete_where_dv(sp, [("k", ">=", 90)], op_id="crash-del"),
        lambda m: [m.pop(k) for k in DVDEL],
    ),
    "upsert": (
        lambda s, sp: s.upsert_mor(
            sp, _kv(sp, sorted(UPSERT.items())), keys=["k"], batch_id=51, op_id="crash-mor"
        ),
        lambda m: m.update(UPSERT),
    ),
}


def _crash_once(monkeypatch, sink, name, when=lambda *a: True):
    real = getattr(sink, name)
    state = {"fired": False}

    def wrapped(*a, **kw):
        if not state["fired"] and when(*a):
            state["fired"] = True
            raise RuntimeError("simulated crash")
        return real(*a, **kw)

    monkeypatch.setattr(sink, name, wrapped)
    return state


CRASH_POINTS = {
    # the dv-<idx>.json CAS itself raises (nothing published)
    "dv_cas": lambda mp, s: _crash_once(
        mp, s, "_atomic_create", lambda path, _payload: os.path.basename(path).startswith("dv-")
    ),
    # the CAS landed; the process dies before the barrier and the marker
    "after_cas": lambda mp, s: _crash_once(mp, s, "_create_barrier_snapshot"),
}


@pytest.mark.parametrize("crash", sorted(CRASH_POINTS))
@pytest.mark.parametrize("op", sorted(DV_OPS))
def test_dv_publish_crash_point_replays_exactly_once(spark, tmp_path, monkeypatch, op, crash):
    sink = _seeded(spark, tmp_path)
    run, model = DV_OPS[op]
    state = CRASH_POINTS[crash](monkeypatch, sink)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run(sink, spark)
    monkeypatch.undo()
    assert state["fired"]

    run(sink, spark)  # the re-run of the same op
    expected = dict(SEED)
    model(expected)
    assert _content(sink, spark) == expected

    # a second replay is a no-op: no new commit, marker or tombstone
    def _layout():
        return {d: sorted(os.listdir(os.path.join(sink.root, d))) for d in ("_commits", "_deletes")}

    before = _layout()
    assert run(sink, spark) is None
    assert _layout() == before
    assert _content(sink, spark) == expected

    # a terminal compact absorbs every DV
    assert sink.compact(spark) is not None
    assert sink.visible_dvs() == []
    assert _content(sink, spark) == expected

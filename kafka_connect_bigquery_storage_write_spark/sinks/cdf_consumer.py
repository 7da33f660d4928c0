"""Incremental change-feed consumer: sink→sink pipelines compose streamingly.

VERDICT r9 #3: ``ManifestSinkTable.changes()`` is a batch read — a
downstream pipeline could replay the feed by hand (q208) but couldn't
SUBSCRIBE. This module is the Delta ``readChangeFeed``-consumer surface
for the manifest sink: a ``ChangeFeedConsumer`` owns a durable cursor in
its own checkpoint directory, polls the upstream table for change
commits past the cursor, and applies them to a downstream
``ManifestSinkTable`` so the mirror CONVERGES to the source under
appends, keyed MERGEs and DV deletes — reading only batch-sized change
sets per cycle, never the source table.

Reference lineage: this is the consumer half of the reference's
at-least-once → exactly-once delivery story
(BigqueryStorageWriteSinkTask.java:197-199's offset-aligned commit),
re-expressed for table-to-table replication: the "offset" is the
(source batch id, DV index) cursor, and exactly-once comes from the
TARGET's own idempotence markers, not from the cursor.

Exactly-once protocol (crash-safe in every window):
- The worklist applies in GROUPS (round-15): a contiguous run of
  upsert-kind commits is ONE pruned merge of the run's last-writer-wins
  rows; a contiguous run of DV deletes is ONE keyed delete of the union
  key set; insert commits stay per-commit (their idempotence is the
  batch-marker grain). Every group apply is replay-idempotent in the
  target:
  * insert batches  -> ``write_batch(rows, bid)`` (batch-marker CAS);
  * upsert runs     -> ``merge_rows_pruned(op_id="cdf-b<bid>")`` for a
                       singleton, ``op_id="cdf-g<first>-<last>"`` for a
                       run — and a replay whose run EXTENDED past the
                       marker re-merges value-idempotently (matched keys
                       replaced with the same winning rows);
  * DV runs         -> ``merge_rows_pruned(delete=True,
                        op_id="cdf-dv<index>" | "cdf-dvg<i>-<j>")``
                       (re-deleting an already-deleted key is a no-op).
- The cursor (atomic tmp+rename replace; the consumer exclusively owns
  its checkpoint dir, like a streaming query's) advances only AFTER each
  group's apply; a crash between apply and advance replays into the
  op-id short-circuit (or the value-idempotent re-merge). The cursor is
  therefore an optimization (skip re-reading consumed change sets),
  never the correctness mechanism.
- The vacuum lease refreshes once per applied group (was per commit;
  ADVICE r12's rule at the new grain): the TTL must exceed one group's
  read-and-merge.
- DVs are tracked by INDEX, not by their as-of batch: two deletes can
  share one as-of batch id, so a batch-grain cursor alone would drop
  the second one committed after the cursor passed that id.

Ordering: source commits apply in (batch id, kind) order with a batch's
upsert/insert BEFORE DVs stamped as-of that batch — the position
``changes()`` assigns them in the feed.

Scale: one poll lists the source manifest (tiny), reads only the change
files of unconsumed commits, and applies them through the PRUNED merge —
per cycle cost is O(changed rows + touched target files). The upstream
retention contract is inherited from ``changes()``: change sources must
survive until consumed (vacuum after the slowest consumer's cursor).

Streaming attachment: ``start()`` drives ``poll`` from a rate-source
foreachBatch loop — a real StreamingQuery with stop/awaitTermination
lifecycle; ``run_available_now()`` is the availableNow analogue (drain
everything unconsumed, then return).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import ManifestSinkTable


@dataclass
class ChangeFeedConsumer:
    source: ManifestSinkTable
    target: ManifestSinkTable
    keys: list[str]
    checkpoint_dir: str
    # retries for a merge that loses its snapshot CAS to concurrent
    # maintenance on the target (same rule as the ingest pipeline)
    cas_retries: int = 5
    applied: list[tuple] = field(init=False, default_factory=list)

    def __post_init__(self) -> None:
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        self._register()

    # -- cursor ---------------------------------------------------------------
    def _cursor_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "cursor.json")

    def cursor(self) -> dict:
        try:
            with open(self._cursor_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"after_batch_id": -1, "applied_dvs": []}

    # -- consumer registry (consumer-aware vacuum, VERDICT r10 #3) ----------
    #
    # The retention contract — "change sources must survive until the
    # slowest consumer's cursor" — used to be enforced only REACTIVELY
    # (_apply_batch fails loudly on a vacuumed source). Registration makes
    # vacuum PROACTIVE: every consumer mirrors its cursor into
    # <source root>/_consumers/<id>.json (atomic replace, one writer per
    # id), and ``ManifestSinkTable.vacuum`` retains any directory a
    # registered cursor still needs. The id is content-derived from the
    # checkpoint dir + target root, so a restarted consumer reclaims its
    # own registration instead of leaking a new one. ``deregister()``
    # releases the hold (a decommissioned consumer must not pin retention
    # forever); unregistered consumers keep the loud-failure behavior.

    @property
    def consumer_id(self) -> str:
        import hashlib

        key = f"{os.path.abspath(self.checkpoint_dir)}|{os.path.abspath(self.target.root)}"
        return hashlib.blake2b(key.encode(), digest_size=8).hexdigest()

    def _registry_path(self) -> str:
        return os.path.join(self.source.root, "_consumers", f"{self.consumer_id}.json")

    def _register(self, cur: dict | None = None) -> None:
        os.makedirs(os.path.join(self.source.root, "_consumers"), exist_ok=True)
        payload = dict(cur if cur is not None else self.cursor())
        payload["consumer_id"] = self.consumer_id
        payload["target_root"] = os.path.abspath(self.target.root)
        tmp = f"{self._registry_path()}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        os.rename(tmp, self._registry_path())

    def deregister(self) -> None:
        """Release this consumer's vacuum hold on the source's change
        sources (call when the mirror is decommissioned)."""
        try:
            os.remove(self._registry_path())
        except FileNotFoundError:
            pass

    def _advance(self, cur: dict) -> None:
        tmp = f"{self._cursor_path()}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(cur, f)
        os.rename(tmp, self._cursor_path())
        # registry mirror AFTER the cursor: a crash between the two leaves
        # the registry one step behind — vacuum then retains one extra
        # change source, never one too few
        self._register(cur)

    # -- one poll ---------------------------------------------------------------
    def _worklist(self, cur: dict) -> list[tuple[int, str, int]]:
        """Unconsumed source commits as (order_bid, kind, id): batch
        upserts/inserts past the batch cursor plus DV deletes not yet in
        applied_dvs, ordered batch-before-DV at equal as-of id."""
        after = int(cur["after_batch_id"])
        done_dvs = set(cur["applied_dvs"])
        work: list[tuple[int, str, int]] = []
        state = self.source._list_state()
        logged = self.source._change_commits()
        batch_ids = set(state.committed) | set(logged)
        for b in sorted(batch_ids):
            if b > after:
                work.append((b, "batch", b))
        for i, d in sorted(state.dv_commits.items()):
            if d.get("mor"):
                continue  # mechanism DV of a MOR upsert — the batch itself
                # is the change set (applied above as an 'upsert')
            if i not in done_dvs:
                work.append((int(d.get("as_of_batch", -1)), "dv", i))
        # kind order: 'batch' < 'dv' at the same as-of id (changes() places
        # a DV after the batch it was stamped against)
        work.sort(key=lambda t: (t[0], t[1], t[2]))
        return work

    def _apply_batch(self, spark: SparkSession, bid: int) -> str:
        schema = self.source.schema()
        cols = [f.name for f in schema.fields]
        # read exactly THIS batch's change source (one parquet dir), not a
        # filtered union of every later source — O(batch) per apply
        src = [s for s in self.source._change_sources(bid - 1) if s[0] == bid]
        if not src:
            # the batch was listed by _worklist but has no change source
            # now: concurrent maintenance raced the poll. Returning success
            # here would advance the cursor past the batch and silently
            # drop its rows from the mirror (ADVICE r10) — fail loudly like
            # the vacuumed-path below; the caller retries on fresh state.
            raise ValueError(
                f"change source for batch {bid} vanished between listing and "
                "apply (concurrent maintenance?); re-poll against fresh state"
            )
        _b, rel, kind = src[0]
        path = os.path.join(self.source.root, rel)
        if not os.path.exists(path):
            raise ValueError(f"change source for batch {bid} was vacuumed: {rel}")
        if kind != "insert" and self.target.schema() is not None:
            self._apply_upsert_group(spark, [bid])
        elif self.target.schema() is None or not self.target._is_known(bid):
            # the seed of an empty mirror (any kind), or a plain append
            # whose target batch marker is the idempotence CAS
            self.target.write_batch(spark.read.schema(schema).parquet(path).select(*cols), bid)
        return kind

    def _merge(self, spark: SparkSession, rows: DataFrame, op: str, what: str, delete: bool = False) -> None:
        """THE target merge of every group apply: ``merge_rows_pruned``
        under op id ``op``, retried while it loses its snapshot CAS to
        concurrent maintenance. None is also the answer of a no-op
        (and of a replayed op), so completion is read off the op marker."""
        for _ in range(self.cas_retries):
            res = self.target.merge_rows_pruned(spark, rows, keys=self.keys, op_id=op, delete=delete)
            if res is not None or self.target._op_done("mrgop", op):
                return
        raise RuntimeError(f"cdf consumer: {what} lost the CAS {self.cas_retries} times")

    def _apply_upsert_group(self, spark: SparkSession, bids: list[int]) -> None:
        """ONE pruned merge for a contiguous run of upsert-kind commits
        (round-15 optimization: the per-commit loop paid one full merge
        pass — touched-file planning, candidate rewrite, snapshot CAS —
        per source commit; a run of non-overlapping-in-time commits is
        one merge whose update set is the run's last-writer-wins rows).

        Equivalence to the sequential per-commit applies:
        - per key, the surviving row is the one from the HIGHEST batch id
          in the run (``max(_cdf_bid) over key``) — exactly the row the
          last sequential merge would have left;
        - keys absent from the run are untouched either way;
        - intra-batch duplicate keys still reach ``merge_rows_pruned``'s
          own duplicate-key gate, in ANY batch of the run: the window
          pass keeps every row of the winning batch for a key (it does
          not row_number-dedup) AND every row of a ``(key, batch)``
          group holding more than one row, so a malformed change set
          raises as the per-commit apply of that batch did, even when a
          later batch of the run rewrites the key (pinned in
          tests/test_cdf_consumer.py).

        Replay: the group op id is derived from the run's span. A crash
        between the merge and the cursor advance replays the run —
        same span short-circuits on the marker; an EXTENDED span (new
        commits landed before the replay) re-merges value-idempotently
        (matched keys replaced with the same winning rows, unmatched
        inserted once).
        """
        from pyspark.sql import Window

        schema = self.source.schema()
        cols = [f.name for f in schema.fields]
        for helper in ("_cdf_bid", "_cdf_max", "_cdf_n"):
            # the run merge tags rows with these helper columns; a source
            # column of the same name would be silently overwritten
            if helper in cols:
                raise ValueError(
                    f"cdf consumer: source column {helper!r} collides with the "
                    "consumer's run-merge helper column; rename it in the source"
                )
        want = set(bids)
        rels = {
            b: rel
            for b, rel, _t in self.source._change_sources(min(bids) - 1)
            if b in want
        }
        frames = []
        for b in bids:
            rel = rels.get(b)
            if rel is None:
                raise ValueError(
                    f"change source for batch {b} vanished between listing and "
                    "apply (concurrent maintenance?); re-poll against fresh state"
                )
            path = os.path.join(self.source.root, rel)
            if not os.path.exists(path):
                raise ValueError(f"change source for batch {b} was vacuumed: {rel}")
            frames.append(
                spark.read.schema(schema).parquet(path).select(*cols)
                .withColumn("_cdf_bid", F.lit(b).cast("long"))
            )
        rows = frames[0]
        for part in frames[1:]:
            rows = rows.unionByName(part)
        if len(bids) > 1:
            # both windows cluster by the keys: one shuffle, no new action
            rows = (
                rows.withColumn("_cdf_max", F.max("_cdf_bid").over(Window.partitionBy(*self.keys)))
                .withColumn("_cdf_n", F.count(F.lit(1)).over(Window.partitionBy(*self.keys, "_cdf_bid")))
                .filter((F.col("_cdf_bid") == F.col("_cdf_max")) | (F.col("_cdf_n") > 1))
            )
        rows = rows.select(*cols).localCheckpoint(eager=True)
        op = f"cdf-b{bids[0]}" if len(bids) == 1 else f"cdf-g{bids[0]}-{bids[-1]}"
        self._merge(spark, rows, op, f"merge for batches {bids[0]}..{bids[-1]}")

    def _apply_dv(self, spark: SparkSession, dv_indexes: list[int]) -> None:
        """ONE keyed delete for a contiguous run of DV commits: deleting
        the union of the runs' key sets equals the sequential deletes
        (no batch applies between them — contiguity in the ordered
        worklist — so no delete can precede a row it should spare)."""
        rows = self.source._dv_change_rows(spark, -1, indexes=set(dv_indexes))
        if rows is None:
            return
        keys_df = rows.select(*self.keys).distinct().localCheckpoint(eager=True)
        op = (
            f"cdf-dv{dv_indexes[0]}"
            if len(dv_indexes) == 1
            else f"cdf-dvg{dv_indexes[0]}-{dv_indexes[-1]}"
        )
        self._merge(spark, keys_df, op, f"DV {dv_indexes} delete", delete=True)

    def _source_position(self) -> tuple[int, frozenset[int]]:
        """(max committed/change batch id, non-mor DV indexes) — the feed
        position a freshly read table state corresponds to."""
        state = self.source._list_state()
        ids = set(state.committed) | set(self.source._change_commits())
        dvs = frozenset(i for i, d in state.dv_commits.items() if not d.get("mor"))
        return max(ids, default=-1), dvs

    def bootstrap(self, spark: SparkSession) -> int:
        """Snapshot-then-follow attachment (the standard late-subscriber
        CDC pattern, and the path ``vacuum``'s change-source reclaim
        assumes): a consumer registered AFTER historical change sources
        were reclaimed cannot replay the feed from -1 — instead, seed the
        TARGET from the source's CURRENT table state as one batch and set
        the cursor past every commit that state reflects, so the next
        ``poll()`` consumes only future changes. The read and the cursor
        are taken race-free by an optimistic loop (re-read while the
        source position moves). Requires an empty target (an existing
        mirror should just ``poll()``). Returns the rows seeded.
        """
        if self.target.schema() is not None:
            raise ValueError("bootstrap requires an empty target; an existing mirror should poll()")
        for _ in range(5):
            before = self._source_position()
            rows = self.source.read(spark).localCheckpoint(eager=True)
            if self._source_position() == before:
                break
        else:
            raise RuntimeError(
                "bootstrap: the source kept committing during the snapshot read; retry"
            )
        after, dv_ids = before
        n = rows.count()
        if after >= 0 and n > 0:
            self.target.write_batch(rows, after)
        cur = {"after_batch_id": after, "applied_dvs": sorted(dv_ids)}
        self._advance(cur)
        return n

    def poll(self, spark: SparkSession) -> int:
        """Consume everything unconsumed; returns the number of source
        commits applied this cycle. Crash-safe at any point (see module
        docstring); safe to call from a streaming foreachBatch."""
        cur = self.cursor()
        # lease heartbeat at poll START (not only on the idle branch): a
        # live consumer whose applies keep failing (CAS contention, a
        # transient vanished-source race) must still refresh its
        # registration mtime, or a TTL-bounded vacuum would mistake an
        # actively-retrying consumer for an abandoned one and reclaim the
        # very sources it is retrying toward (round-12 review)
        self._register(cur)
        work = self._worklist(cur)
        # change-source types drive the batching decision: contiguous
        # upsert-kind commits fuse into ONE merge, contiguous DVs into
        # ONE keyed delete (round-15; the per-commit loop paid a full
        # merge pass per source commit). Insert commits stay singletons
        # — their idempotence is the target's per-batch marker CAS, and
        # fusing them would change the mirror's batch grain.
        src_types = {
            b: t
            for b, _rel, t in self.source._change_sources(int(cur["after_batch_id"]))
        }
        i = 0
        while i < len(work):
            # refresh the lease BEFORE each group's source read (the
            # per-commit rule of ADVICE r12, at the new grain: one
            # refresh per applied MERGE/WRITE, so the TTL only needs to
            # exceed one group's read-and-merge, not a whole worklist —
            # granularity pinned in tests/test_cdf_consumer.py)
            self._register(cur)
            _order, kind, ident = work[i]
            if kind == "dv":
                group = [ident]
                while i + len(group) < len(work) and work[i + len(group)][1] == "dv":
                    group.append(work[i + len(group)][2])
                self._apply_dv(spark, group)
                cur["applied_dvs"] = sorted(set(cur["applied_dvs"]) | set(group))
                for g in group:
                    self.applied.append((g, "delete"))
                i += len(group)
            elif src_types.get(ident, "upsert") != "insert" and self.target.schema() is not None:
                group = [ident]
                while (
                    i + len(group) < len(work)
                    and work[i + len(group)][1] == "batch"
                    and src_types.get(work[i + len(group)][2], "upsert") != "insert"
                ):
                    group.append(work[i + len(group)][2])
                self._apply_upsert_group(spark, group)
                cur["after_batch_id"] = group[-1]
                for g in group:
                    self.applied.append((g, src_types.get(g, "upsert")))
                i += len(group)
            else:
                # insert commit, or the seed of an empty target (which
                # write_batch-seeds regardless of kind): per-commit apply
                applied_kind = self._apply_batch(spark, ident)
                cur["after_batch_id"] = ident
                self.applied.append((ident, applied_kind))
                i += 1
            self._advance(cur)
        return len(work)

    def run_available_now(self, spark: SparkSession) -> int:
        """Drain until a poll finds nothing (the availableNow trigger)."""
        total = 0
        while True:
            n = self.poll(spark)
            total += n
            if n == 0:
                return total

    def start(self, spark: SparkSession, interval: str = "1 seconds"):
        """Attach the consumer as a real StreamingQuery: a rate source
        drives one poll per trigger (the foreachBatch-poll pattern —
        the driver-side loop Structured Streaming owns: retries,
        lifecycle, stop/awaitTermination)."""
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 1)
            .load()
            .writeStream.foreachBatch(lambda _df, _bid: self.poll(spark))
            .option("checkpointLocation", os.path.join(self.checkpoint_dir, "stream"))
            .trigger(processingTime=interval)
            .queryName(f"cdf-consumer-{os.path.basename(self.target.root)}")
            .start()
        )

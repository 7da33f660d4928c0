"""End-to-end ingest pipeline (SURVEY.md R1–R17 recomposed; E20).

The reference's whole dataflow — Kafka records -> per-partition buffers ->
schema-mapped JSON conversion -> async appends -> dead-lettering ->
offset-aligned commit (reference: BigqueryStorageWriteSinkTask.java:98-245,
BigqueryStreamWriter.java:213-345) — restated on Structured Streaming:

    source (kafka-shaped columns) --from_json--> struct value
      --convert_and_validate (R5,R6)--> _errors column
      --split (R10,R11)--> good -> ManifestSinkTable.write_batch (R9,R14,R17)
                           bad  -> DeadLetterQueue (R12)

What the runtime absorbs (and we therefore do NOT re-implement):
- R15 offset rewind / R16 retry-boundary alignment: checkpointed offset
  ranges make replayed micro-batches identical by construction;
- R18 rebalance filtering: the driver owns offsets;
- R2 partition fan-out: source partitions map to tasks natively.

Works in both execution modes: ``start_stream`` attaches the pipeline as a
foreachBatch sink with checkpointing; ``run_batch`` pushes one batch
DataFrame through the identical path (used by tests, bench, and backfill).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from kafka_connect_bigquery_storage_write_spark.config import PipelineConfig
from kafka_connect_bigquery_storage_write_spark.schema.convert import ERROR_COL, VALID_COL, convert_and_validate, project_to_sink_schema, split_valid
from kafka_connect_bigquery_storage_write_spark.sinks.dlq import DeadLetterQueue
from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import ManifestSinkTable

KAFKA_ENVELOPE = ("topic", "partition", "offset", "key", "value")


def kafka_shaped(df: DataFrame, topic: str, key_col: str, partitions: int = 4) -> DataFrame:
    """Re-encode any DataFrame as Kafka-shaped records.

    Produces the columns a kafka source would yield (topic, partition,
    offset, key, value=JSON payload) so batch fixtures can stand in for a
    broker. Offsets are assigned per partition in key order —
    monotonically increasing within a partition like Kafka's.
    """
    from pyspark.sql import Window as W

    keyed = df.withColumn("key", F.col(key_col).cast("string")).withColumn(
        "partition", F.pmod(F.xxhash64(F.col(key_col)), F.lit(partitions)).cast("int")
    )
    w = W.partitionBy("partition").orderBy("key")
    return keyed.select(
        F.lit(topic).alias("topic"),
        "partition",
        (F.row_number().over(w) - 1).cast("long").alias("offset"),
        "key",
        F.to_json(F.struct(*[c for c in df.columns])).alias("value"),
    )


@dataclass
class BatchStats:
    batch_id: int
    input_rows: int
    written_rows: int
    dlq_rows: int
    already_exists: bool = False
    # pending mode with a commit cadence: the batch ids this micro-batch's
    # trailing epoch published (None = no epoch committed at this batch)
    epoch_batch_ids: list[int] | None = None


@dataclass
class IngestPipeline:
    config: PipelineConfig
    value_schema: T.StructType
    sink_schema: T.StructType | None = None  # defaults to value_schema ("ignore unknown fields" is a no-op)
    avro_schema_json: str | None = None  # required when config.value_format == "avro"
    _sink: ManifestSinkTable = field(init=False)
    _dlq: DeadLetterQueue | None = field(init=False, default=None)
    stats: list[BatchStats] = field(init=False, default_factory=list)

    def __post_init__(self) -> None:
        self._sink = ManifestSinkTable(
            self.config.sink_path,
            write_mode=self.config.write_mode,
            schema_evolution=self.config.sink_schema_evolution,
        )
        if self.config.dlq_path:
            self._dlq = DeadLetterQueue(self.config.dlq_path)
        elif self.config.dlq_topic:
            # duck-typed alternative: the reference's errant-record topic
            from kafka_connect_bigquery_storage_write_spark.sinks.kafka_dlq import KafkaDeadLetterTopic

            self._dlq = KafkaDeadLetterTopic(self.config.dlq_bootstrap_servers, self.config.dlq_topic)
        if self.sink_schema is None:
            self.sink_schema = self.value_schema
        if self.config.value_format == "avro" and not self.avro_schema_json:
            raise ValueError("avro value.format requires avro_schema_json")

    @classmethod
    def for_avro(
        cls,
        config: PipelineConfig,
        avro_schema_json: str,
        sink_schema: T.StructType | None = None,
    ) -> "IngestPipeline":
        """Build an Avro-envelope pipeline, deriving the Spark value schema
        from the Avro schema (the reference's schema-driven path,
        RecordConverter.java:21-22, in Schema-Registry form)."""
        from kafka_connect_bigquery_storage_write_spark.schema.avro import avro_schema_to_spark

        value_schema = avro_schema_to_spark(avro_schema_json)
        if not isinstance(value_schema, T.StructType):
            raise ValueError("top-level Avro schema must be a record")
        return cls(config=config, value_schema=value_schema, sink_schema=sink_schema, avro_schema_json=avro_schema_json)

    # -- the one true batch path (streaming foreachBatch calls this too) ----
    def process_batch(self, df: DataFrame, batch_id: int) -> BatchStats:
        if self.config.value_format == "avro":
            # binary Avro -> canonical JSON string; decode failures become
            # invalid-JSON markers that the permissive parse dead-letters,
            # so both envelopes share one conversion/salvage contract.
            # The ORIGINAL framed bytes ride along base64-encoded: after a
            # decode failure the post-decode `value` is only the error
            # marker, and the DLQ's replay contract needs the real payload.
            from kafka_connect_bigquery_storage_write_spark.schema.avro import avro_decode_to_json

            df = df.withColumn("_raw_value_b64", F.base64(F.col("value").cast("binary")))
            df = avro_decode_to_json(df, "value", self.avro_schema_json, confluent=self.config.avro_confluent)
        # PERMISSIVE parse with a corrupt-record marker so non-struct payloads
        # are detectable (R4) instead of silently becoming all-null structs
        parse_schema = T.StructType(list(self.value_schema.fields) + [T.StructField("_corrupt", T.StringType(), True)])
        parsed = df.withColumn(
            "_value_struct",
            F.from_json(
                F.col("value").cast("string"),
                parse_schema,
                {"columnNameOfCorruptRecord": "_corrupt", "mode": "PERMISSIVE"},
            ),
        )
        validated = convert_and_validate(parsed, "_value_struct", self.value_schema, corrupt_field="_corrupt")
        good, bad = split_valid(validated)

        # cache: the split is consumed twice (sink write + dlq write + counts)
        validated = validated.persist()
        try:
            # one action for both counts instead of count() per branch
            counts = validated.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum((~F.col(VALID_COL)).cast("long")), F.lit(0)).alias("nb"),
            ).collect()[0]
            n_input, n_bad = counts.n, counts.nb
            good_rows = project_to_sink_schema(good, "_value_struct", self.sink_schema)
            if self.config.parallelism_hint:
                good_rows = good_rows.repartition(self.config.parallelism_hint)
            # DLQ first: if the driver crashes between the two writes, the
            # replayed batch short-circuits on the sink's ALREADY_EXISTS, so
            # a sink-first order would lose the bad rows forever. The DLQ
            # write is idempotent (overwrite of its batch= dir), matching
            # the reference's report-before-offset-commit ordering
            # (BigqueryStorageWriteSinkTask.java:86-92).
            if self._dlq is not None and n_bad:
                if set(KAFKA_ENVELOPE) <= set(bad.columns):
                    env = ["topic", "partition", "offset", "key", F.col("value").cast("string").alias("value")]
                    # avro: emit the pre-decode payload too, so undecodable
                    # records stay replayable (value alone would carry only
                    # the '!AVRO_DECODE_ERROR ...' marker for those rows)
                    if "_raw_value_b64" in bad.columns:
                        env.append(F.col("_raw_value_b64").alias("value_raw_b64"))
                    bad_out = bad.select(*env, ERROR_COL)
                else:
                    bad_out = bad.drop("_value_struct")
                self._dlq.write(bad_out, batch_id)
            if self.config.upsert_keys:
                result = self._upsert_batch(good_rows, batch_id, n_rows=n_input - n_bad)
            else:
                result = self._sink.write_batch(good_rows, batch_id)
            stats = BatchStats(
                batch_id=batch_id,
                input_rows=n_input,
                written_rows=0 if result.already_exists else n_input - n_bad,
                dlq_rows=n_bad,
                already_exists=result.already_exists,
            )
            # pending-mode epoch cadence (R17 at the streaming surface,
            # BigqueryStorageWriteSinkTask.java:148-245 — the reference
            # commits pending streams at offset-commit time): every Nth
            # micro-batch publishes the staged transaction in ONE epoch
            # rename. Deterministic under replay — batch ids are
            # checkpoint-monotonic, and re-committing after a crash
            # between commit and checkpoint re-lists an empty staging
            # set (a no-op epoch is never written).
            cadence = self.config.commit_every_n_batches
            if cadence and self.config.write_mode == "pending" and (batch_id + 1) % cadence == 0:
                stats.epoch_batch_ids = self._sink.commit()
            self.stats.append(stats)
            return stats
        finally:
            validated.unpersist()

    def _upsert_batch(self, rows: DataFrame, batch_id: int, n_rows: int | None = None):
        """Apply one micro-batch as a keyed MERGE (CDC ingestion).

        Exactly-once under replay: a ``merge-<batch_id>.marker`` CAS in
        the sink's commit dir short-circuits a replayed batch exactly
        like write_batch's batch markers; if the driver dies between the
        merge and the marker, the replayed merge re-applies the SAME
        changes onto the merged state — a by-value no-op (whole-row
        upserts are idempotent) — and then sets the marker.

        ``n_rows``: the batch's valid-row count when the caller already
        measured it (process_batch's counts aggregate) — saves the
        per-batch isEmpty job (r14 opt).
        """
        from kafka_connect_bigquery_storage_write_spark.sinks.sink_table import AppendResult

        if self._sink._op_done("merge", batch_id):
            return AppendResult(batch_id=batch_id, rows=0, already_exists=True)
        keys = list(self.config.upsert_keys)
        if self.config.upsert_order_col:
            w = Window.partitionBy(*keys).orderBy(F.col(self.config.upsert_order_col).desc())
            rows = rows.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        state = self._sink._list_state() if self.config.upsert_mode != "mor" else None
        if state is not None and (
            self._sink.schema() is None or not state.batch_ids and not state.snap
        ):
            # first batch: nothing to merge onto — plain append seeds the
            # table. COW only: upsert_mor seeds itself (and in pending
            # mode the "is the table empty" test must count STAGED
            # content too — a staged seed followed by a staged merge is
            # one open transaction, not two seeds)
            result = self._sink.write_batch(rows, batch_id)
            self._sink._mark_op("merge", batch_id, seed=True)
            return result
        if rows.isEmpty() if n_rows is None else n_rows == 0:
            # an all-DLQ'd (or empty-trigger) micro-batch has no change
            # set; merge_rows_pruned reports empty updates as None, which
            # the CAS retry loop below would misread as a lost snapshot
            # CAS and wedge on replay (ADVICE r10) — mark the batch
            # applied as a no-op instead (no changelog entry either: CDF
            # consumers skip unknown batch ids by construction)
            self._sink._mark_op("merge", batch_id, rows=0)
            return AppendResult(batch_id=batch_id, rows=0)
        # the deduped change set feeds TWO jobs below (changelog write +
        # merge); checkpoint so the parse/validate/window pipeline runs
        # once, not per consumer (the multi-consumer rule — without this
        # the CDF log doubled q177's wall clock)
        rows = rows.localCheckpoint(eager=True)
        if self.config.upsert_mode == "mor":
            # merge-on-read (round 11): the batch APPENDS and supersedes by
            # tombstone — no changelog write either, because the appended
            # batch dir IS the change set (changes() types it 'upsert').
            # upsert_mor owns replay (batch-id short-circuit), CAS-loss
            # retries and the barrier protocol internally; None here can
            # only mean a replayed/raced publish of this batch id.
            res = self._sink.upsert_mor(rows.sparkSession, rows, keys=keys, batch_id=batch_id)
            self._sink._mark_op("merge", batch_id)
            return AppendResult(batch_id=batch_id, rows=-1, already_exists=res is None)
        # change-data-feed: log this batch's (deduped) change set before
        # merging — the merge materializes the whole table, so without the
        # log a downstream consumer could never read per-batch upserts
        # (sink.changes()). CAS'd and replay-idempotent in every crash
        # window: log-then-crash replays into a no-op re-log; merge-then-
        # crash replays the idempotent merge.
        self._sink.log_changes(rows, batch_id, change_type="upsert")
        # merge_rows_pruned (VERDICT r9 #1) returns None when the snapshot
        # CAS is lost to a concurrent rewriter (compact/vacuum-era
        # maintenance racing this merge). The table is non-empty here (the
        # seed branch above handled empty) and the batch has keys, so None
        # can ONLY mean a lost CAS — retry against the fresh state (the
        # merge re-reads the visible snapshot each call) and create the
        # merge marker ONLY after a snapshot actually landed; marking an
        # un-applied batch would short-circuit replay and silently drop
        # its changes (ADVICE r8). The pruned merge rewrites only the
        # files whose zone-maps/blooms admit an update key — per-batch
        # write amplification is O(touched files), not O(table).
        for _ in range(5):
            if self._sink.merge_rows_pruned(rows.sparkSession, rows, keys=keys) is not None:
                break
        else:
            raise RuntimeError(
                f"merge batch {batch_id}: snapshot CAS lost 5 times to concurrent "
                "maintenance; not marking the batch committed (replay will retry)"
            )
        self._sink._mark_op("merge", batch_id)
        return AppendResult(batch_id=batch_id, rows=-1)

    # -- batch entry (tests/backfill/bench) ---------------------------------
    def run_batch(self, df: DataFrame, batch_id: int = 0) -> BatchStats:
        return self.process_batch(df, batch_id)

    # -- streaming entry ------------------------------------------------------
    def start_stream(self, stream_df: DataFrame, trigger_once: bool = False, **trigger_kwargs) -> StreamingQuery:
        if not self.config.checkpoint_path:
            raise ValueError("checkpoint_path is required for streaming mode")
        writer = (
            stream_df.writeStream.foreachBatch(lambda d, i: self.process_batch(d, i))
            .option("checkpointLocation", self.config.checkpoint_path)
            .queryName("kafka_connect_bigquery_storage_write_spark-ingest")
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        elif trigger_kwargs:
            writer = writer.trigger(**trigger_kwargs)
        return writer.start()

    # -- DLQ replay (the consumer side of R12's contract) --------------------
    def replay_dlq(self, spark, batch_id: int, fix=None, source_batch_ids: list[int] | None = None) -> BatchStats:
        """Re-ingest dead-lettered rows through the SAME validated batch
        path — the replay consumer the DLQ's lineage exists for.

        Consumes only batches not yet tombstoned (or the explicit
        ``source_batch_ids``), and marks them replayed on success: without
        the tombstone, a second replay after later batches dead-letter new
        rows would re-ingest rows the first replay already fixed — and
        because each replay runs under a FRESH batch id, sink idempotence
        would not dedupe them, while still-bad rows would fan out into a
        fresh DLQ copy per replay.

        Avro pipelines restore the ORIGINAL framed bytes from
        ``value_raw_b64`` (the post-decode ``value`` is only the error
        marker for undecodable rows). ``fix`` is the repair step: a
        callable(DataFrame) -> DataFrame applied to the reconstructed
        envelope before re-ingestion (patch payloads, drop unfixables).
        Rows still invalid after the fix dead-letter AGAIN under the new
        batch id — the replay is the normal pipeline, not a side door, so
        validation and sink idempotence apply unchanged.
        """
        if self._dlq is None or not hasattr(self._dlq, "read"):
            raise ValueError(
                "replay_dlq needs a readable DLQ (dlq_path parquet table); a "
                "Kafka DLQ topic is replayed by consuming the topic itself"
            )
        consumed = self._dlq.batch_ids() if source_batch_ids is None else sorted(set(source_batch_ids))
        dlq_rows = self._dlq.read(spark, batch_ids=consumed)
        env = [c for c in KAFKA_ENVELOPE if c != "value" and c in dlq_rows.columns]
        if self.config.value_format == "avro" and "value_raw_b64" in dlq_rows.columns:
            value = F.unbase64(F.col("value_raw_b64")).alias("value")
        else:
            value = F.col("value")
        df = dlq_rows.select(*env, value)
        if fix is not None:
            df = fix(df)
        stats = self.process_batch(df, batch_id)
        # tombstone ONLY after process_batch returns: a crash mid-replay
        # leaves the source batches unconsumed, and the retried replay's
        # sink write short-circuits on ALREADY_EXISTS for its batch id
        self._dlq.mark_replayed(consumed)
        return stats

    # -- commit protocol (R17) -----------------------------------------------
    def commit(self) -> list[int]:
        """Pending mode: atomically publish all staged batches."""
        return self._sink.commit()

    def reset(self) -> list[int]:
        """Discard the open staged transaction (finalize-only abort).

        Also un-marks the discarded MERGE batch ids: reset aborts the
        transaction, so a checkpoint replay (or a manual re-run) must be
        able to RE-stage those batches — a surviving ``merge-<id>.marker``
        would short-circuit them into silent data loss.
        """
        import contextlib as _contextlib
        import os as _os

        discarded = self._sink.reset()
        for b in discarded:
            with _contextlib.suppress(FileNotFoundError):
                _os.remove(self._sink._op_marker("merge", b))
        return discarded

    def read_sink(self, spark) -> DataFrame:
        return self._sink.read(spark)

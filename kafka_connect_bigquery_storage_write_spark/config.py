"""Engine configuration (SURVEY.md R19, R20).

The reference defines six typed config keys with defaults and validates
write.mode against an enum at deploy time (reference:
BigqueryStreamWriteSinkConfig.java:51-69;
BigqueryStorageWriteSinkConnector.java:48-59). The Spark restatement is a
dataclass validated at pipeline build; task parallelism (tasks.max,
BigqueryStorageWriteSinkConnector.java:30-36) is absorbed by Spark's own
executor/task scheduling and appears here only as an optional partition
hint.
"""

from __future__ import annotations

from dataclasses import dataclass

WRITE_MODES = ("committed", "pending")
VALUE_FORMATS = ("json", "avro")
DEFAULT_BUFFER_SIZE = 1000  # rows per append batch, reference default


@dataclass
class PipelineConfig:
    sink_path: str
    dlq_path: str | None = None
    checkpoint_path: str | None = None
    write_mode: str = "committed"
    buffer_size: int = DEFAULT_BUFFER_SIZE
    parallelism_hint: int | None = None  # tasks.max analogue; None = let Spark decide
    value_format: str = "json"  # payload encoding of the Kafka value column
    avro_confluent: bool = True  # Schema-Registry wire framing (magic + schema id)
    # Kafka-topic dead-lettering (the reference's errantRecordReporter
    # surface); both-or-neither, and mutually exclusive with dlq_path —
    # one batch must have one dead-letter destination.
    dlq_topic: str | None = None
    dlq_bootstrap_servers: str | None = None
    # sink schema policy across pipeline (re)deployments: "frozen" (the
    # reference's fixed-schema model) or "additive" (a redeployed pipeline
    # whose sink_schema gained nullable columns keeps writing to the same
    # table; earlier batches read the new columns as null)
    sink_schema_evolution: str = "frozen"
    # CDC/upsert ingestion (round 8, extension beyond the reference's
    # append-only sink): when ``upsert_keys`` is set, each micro-batch's
    # valid rows apply as a keyed MERGE (ManifestSinkTable.merge_rows_pruned —
    # WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT) instead of an
    # append. ``upsert_order_col`` names the column that orders multiple
    # changes to one key WITHIN a batch (latest wins); without it a
    # batch must carry at most one row per key. Composes with
    # write_mode='pending' when upsert_mode='mor' (round 14): each
    # micro-batch STAGES its merge — appended rows + tombstones — and
    # the whole multi-batch transaction publishes at the epoch commit.
    upsert_keys: list[str] | None = None
    upsert_order_col: str | None = None
    # how keyed merges materialize (round 11): "cow" routes each batch
    # through the pruned copy-on-write MERGE (rewrite the straddled
    # files — right for clustered / low-frequency change streams);
    # "mor" routes through merge-on-read (append the batch, tombstone
    # superseded versions, defer all rewriting to compact() — right for
    # scattered / high-frequency change streams, see SCALING.md r11)
    upsert_mode: str = "cow"
    # pending-mode epoch cadence (round 14, the reference's R17 —
    # commit at offset-commit time, BigqueryStorageWriteSinkTask.java:
    # 148-245 — at the streaming surface): publish an epoch every N
    # micro-batches. foreachBatch batch ids are checkpoint-monotonic,
    # so the rule (batch_id + 1) % N == 0 is deterministic under
    # replay, and a replayed batch whose epoch already published
    # re-commits an empty staging set (a no-op). None = commit only
    # when the caller invokes pipeline.commit() (stream stop).
    commit_every_n_batches: int | None = None

    def __post_init__(self) -> None:
        if self.write_mode not in WRITE_MODES:
            raise ValueError(f"write.mode must be one of {WRITE_MODES}, got {self.write_mode!r}")
        if self.value_format not in VALUE_FORMATS:
            raise ValueError(f"value.format must be one of {VALUE_FORMATS}, got {self.value_format!r}")
        if self.buffer_size <= 0:
            raise ValueError(f"buffer.size must be positive, got {self.buffer_size}")
        if self.parallelism_hint is not None and self.parallelism_hint <= 0:
            raise ValueError("parallelism hint must be positive when set")
        if self.sink_schema_evolution not in ("frozen", "additive"):
            raise ValueError(
                f"sink_schema_evolution must be frozen|additive, got {self.sink_schema_evolution!r}"
            )
        if (self.dlq_topic is None) != (self.dlq_bootstrap_servers is None):
            raise ValueError("dlq_topic and dlq_bootstrap_servers must be set together")
        if self.dlq_topic is not None and self.dlq_path is not None:
            raise ValueError("configure either dlq_path (parquet DLQ) or dlq_topic (Kafka DLQ), not both")
        if self.upsert_order_col is not None and self.upsert_keys is None:
            raise ValueError("upsert_order_col requires upsert_keys")
        if self.upsert_mode not in ("cow", "mor"):
            raise ValueError(f"upsert_mode must be cow|mor, got {self.upsert_mode!r}")
        if self.upsert_keys is not None and self.write_mode != "committed" and self.upsert_mode != "mor":
            raise ValueError(
                "write_mode='pending' merges require upsert_mode='mor': a COW merge "
                "rewrites the visible base in place so it cannot stage, while a MOR "
                "merge stages its append + tombstones and publishes atomically at "
                "the epoch commit"
            )
        if self.upsert_mode == "mor" and self.upsert_keys is None:
            raise ValueError("upsert_mode='mor' requires upsert_keys")
        if self.commit_every_n_batches is not None:
            if self.write_mode != "pending":
                raise ValueError("commit_every_n_batches requires write_mode='pending'")
            if self.commit_every_n_batches <= 0:
                raise ValueError("commit_every_n_batches must be positive")

"""Manifest-committed parquet sink table (SURVEY.md R9, R13, R14, R17).

The reference appends row batches to a BigQuery write stream whose
visibility depends on the write mode: COMMITTED (visible per append,
at-least-once) vs PENDING (invisible until an atomic finalize+commit at
offset-commit time) — reference: BigqueryStreamWriter.java:60-63,196,
299-345; BigqueryStorageWriteSinkTask.java:148-245.

Spark restatement: a directory table whose visible contents are defined
by manifest marker files, not by which parquet files exist.

    <root>/_schema.json              frozen table schema (first write wins)
    <root>/data/batch=<id>/attempt=<uuid>/*.parquet
                                     physical rows for one micro-batch —
                                     each append ATTEMPT writes its own
                                     immutable directory; the marker that
                                     wins the CAS names which attempt is
                                     the batch's content (Iceberg/Delta's
                                     unique-data-files + manifest-pointer
                                     rule), so two racing appends of one
                                     batch id can never mix files
    <root>/data/compacted-<n>/*.parquet rows of a copy-on-write rewrite
                                     (compaction, DELETE, MERGE) —
                                     a SEPARATE namespace from micro-batch
                                     ids, referenced only by its snapshot
    <root>/_staged/<id>.marker       batch written but invisible (pending)
    <root>/_commits/batch-<id>.marker  batch visible (committed mode)
    <root>/_commits/epoch-<n>.json   atomic publish of staged batch ids
    <root>/_commits/snapshot-<n>.json rewrite snapshot: the compacted
                                     dir plus the EXPLICIT set of absorbed
                                     micro-batch ids (no watermark — new
                                     micro-batch ids are never shadowed)

- COMMITTED mode: write data dir, then rename a marker into _commits —
  rows visible as soon as the append lands.
- PENDING mode: marker goes to _staged; ``commit()`` publishes ALL staged
  ids in ONE epoch file (tmp + atomic rename) — the whole epoch becomes
  visible at once, mirroring finalize+batchCommitWriteStreams.
  ``reset()`` discards staged markers (finalize-only path,
  BigqueryStreamWriter.java:334-337).
- Idempotence (R14): a batch id that is already staged or committed is
  skipped and reported ALREADY_EXISTS — replays under Structured
  Streaming checkpointing (identical batch ids by construction) are
  therefore exactly-once, like the reference's offset-stamped appends
  (BigqueryStreamWriter.java:281,157-160).

Scale: readers list manifest files (tiny) and read only committed batch
directories; no listing of the data tree, no eventual-consistency window.
Writers never rewrite existing files, so concurrent epochs on a real
cluster contend only on the manifest rename, which the filesystem makes
atomic.

COMMIT PRIMITIVES (VERDICT r5 #6): the manifest layer uses exactly two
filesystem primitives, each one method, each with a direct object-store
mapping:

- ``_atomic_write`` (tmp + ``os.rename``): atomic REPLACE, used only for
  the schema file, whose writers are serialized by the streaming driver.
  POSIX/HDFS-atomic; on an object store a plain PUT (single-key PUTs are
  atomic on S3/GCS) is the substitute.
- ``_atomic_create`` (tmp + ``os.link``): atomic CREATE-IF-ABSENT — the
  compare-and-swap every CONTENDED commit goes through (batch markers,
  epoch publish, compaction snapshots, schema freeze). ``os.link`` fails
  with EEXIST when the target exists and publishes fully-written content
  (the payload is complete in the tmp file before the link lands), so a
  reader can never observe a half-state and exactly ONE of N concurrent
  committers wins. Object-store mapping: S3 conditional PUT
  (``If-None-Match: *``), GCS ``x-goog-if-generation-match: 0``, Azure
  ``If-None-Match: *`` — all server-side CAS on key existence. The
  production-grade alternative remains a real table format
  (Delta/Iceberg/Hudi), whose commit protocols are this same CAS with
  more machinery; everything above the two-method seam (idempotence,
  pending epochs, compaction snapshots) is unchanged by the substitution.

Contention semantics built on the CAS: two concurrent ``commit()``
epochs race on the epoch index — the loser re-lists and retries at the
next index, and because visibility is the SET UNION of epoch batch-id
lists, a batch id published by two racing epochs is still exactly-once
to readers. Two concurrent compactions race on the snapshot index — the
loser deletes its own orphan directory and reports None.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import suppress as contextlib_suppress
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class UnretryableSinkError(Exception):
    """Append failed with a non-retriable cause; rows become corrupt offsets."""


# The reference classifies gRPC codes INTERNAL, ABORTED, CANCELLED,
# FAILED_PRECONDITION, DEADLINE_EXCEEDED, UNAVAILABLE as retriable
# (BigqueryStreamWriter.java:120-127). The filesystem analogue: transient
# IO/timeouts are retriable, logical errors (schema mismatch, bad path,
# permission) are not.
_RETRIABLE_EXC = (TimeoutError, ConnectionError, InterruptedError, BlockingIOError)
_RETRIABLE_MARKERS = ("timeout", "temporarily unavailable", "connection reset", "deadline")


def classify_retriable(exc: BaseException) -> bool:
    if isinstance(exc, _RETRIABLE_EXC):
        return True
    msg = str(exc).lower()
    return any(m in msg for m in _RETRIABLE_MARKERS)


@dataclass
class RetryPolicy:
    max_attempts: int = 3
    backoff_s: float = 0.5

    def run(self, fn):
        attempt = 0
        while True:
            attempt += 1
            try:
                return fn()
            except Exception as exc:  # KeyboardInterrupt/SystemExit propagate
                if not classify_retriable(exc) or attempt >= self.max_attempts:
                    raise UnretryableSinkError(str(exc)) from exc
                time.sleep(self.backoff_s * (2 ** (attempt - 1)))


@dataclass
class AppendResult:
    batch_id: int
    rows: int
    already_exists: bool = False
    staged: bool = False


# ---- data-skipping stats (the Delta/Iceberg zone-map rule) -----------------
#
# Each batch marker records per-file {name, rows, stats: {col: [min, max]}}
# harvested from the parquet FOOTERS (pyarrow metadata read — no data pages
# touched). read(where=...) prunes files whose bounds prove no row can match
# a simple conjunctive predicate; at 100 TB a point/range read must not open
# every file. Bounds from parquet statistics are valid even when the writer
# truncated them (the spec requires truncated min to only decrease and
# truncated max to only increase), so pruning on strings is safe. Stats are
# computed driver-side here (files for one micro-batch); on a real cluster
# the executor that wrote each file returns its stats with the task result —
# the Delta model — and the manifest shape is unchanged.

_PRUNE_OPS = ("==", "<", "<=", ">", ">=")


def _bucket_of(name: str) -> int | None:
    """Bucket id from Spark's bucketed-file naming (``…_NNNNN.c000…``);
    None for non-bucket-named files."""
    import re

    m = re.search(r"_(\d{5})\.", name)
    return int(m.group(1)) if m else None


def _stat_norm(v):
    """Normalize a stats/predicate value for JSON storage + comparison:
    date/datetime -> UTC epoch micros (naive treated as UTC), numeric/
    str/bool as-is, anything else -> None (unprunable, conservatively).

    Epoch micros, NOT isoformat: Spark-written parquet footers yield
    tz-AWARE stats ('...+00:00') while predicate literals are typically
    naive datetimes, and lexicographic ISO order diverges from
    chronological order the moment representations mix — a wrongly
    pruned file violates read(where=p) == read().filter(p) (ADVICE r8).
    A single integer representation makes the comparison tz-shape-proof;
    manifests written before this change stored ISO strings, and a
    str-vs-int comparison raises TypeError which every caller already
    treats as "keep the file" — stale stats degrade to no pruning, never
    to a wrong prune."""
    import datetime

    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days * 86_400_000_000
    return None


def _collect_file_stats(
    data_dir: str,
    files: list[str],
    bloom_columns: tuple[str, ...] = (),
    sum_columns: tuple[str, ...] = (),
) -> list[dict]:
    """Per-file min/max column stats from parquet footers. A column whose
    statistics are missing in ANY row group (or whose type doesn't
    normalize) gets no entry — readers keep such files, never wrong.
    Per-column NULL counts are harvested alongside (free from the same
    footers) so COUNT(col) answers from the manifest. ``bloom_columns``
    additionally get a per-file Bloom filter and ``sum_columns`` a
    per-file SUM (together one column-pruned read of just those columns —
    the only stats passes that touch data pages). Integer sums are exact
    and order-independent; float sums are stamped per file once and
    summed deterministically at query time, but carry the usual float
    association caveat — write integer/decimal-cents columns when the
    aggregate must be exact."""
    import pyarrow.parquet as pq

    out: list[dict] = []
    for name in files:
        md = pq.ParquetFile(os.path.join(data_dir, name)).metadata
        bounds: dict[str, list] = {}
        nulls: dict[str, int] = {}
        poisoned: set[str] = set()
        null_poisoned: set[str] = set()
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                col = c.path_in_schema
                if "." in col:
                    continue  # nested leaves don't map to a top-level column
                st = c.statistics
                if col not in null_poisoned:
                    if st is not None and st.null_count is not None:
                        nulls[col] = nulls.get(col, 0) + st.null_count
                    else:
                        null_poisoned.add(col)
                        nulls.pop(col, None)
                if col in poisoned:
                    continue
                mn = _stat_norm(st.min) if st is not None and st.has_min_max else None
                mx = _stat_norm(st.max) if st is not None and st.has_min_max else None
                if mn is None or mx is None:
                    poisoned.add(col)
                    bounds.pop(col, None)
                    continue
                if col in bounds:
                    bounds[col] = [min(bounds[col][0], mn), max(bounds[col][1], mx)]
                else:
                    bounds[col] = [mn, mx]
        entry = {"name": name, "rows": md.num_rows, "stats": bounds}
        b = _bucket_of(name)
        if b is not None:  # bucket-named file (bucketed table layout)
            entry["bucket"] = b
        if nulls:
            entry["nulls"] = nulls
        want = sorted(
            {c for c in (*bloom_columns, *sum_columns) if c in (md.schema.names or [])}
        )
        if want:
            tbl = pq.read_table(os.path.join(data_dir, name), columns=want)
            blooms = {}
            for c in bloom_columns:
                if c not in want:
                    continue
                b = _bloom_build(tbl.column(c).to_pylist())
                if b is not None:
                    blooms[c] = b
            if blooms:
                entry["bloom"] = blooms
            sums = {}
            for c in sum_columns:
                if c not in want:
                    continue
                import pyarrow.compute as pc

                v = pc.sum(tbl.column(c)).as_py()  # ignores nulls, like SQL SUM
                if isinstance(v, bool) or not isinstance(v, (int, float, type(None))):
                    continue  # unsupported type: no entry, stats_agg raises
                sums[c] = v
            if sums:
                entry["sums"] = sums
        out.append(entry)
    return out


def _file_may_match(stats: dict, col: str, op: str, value) -> bool:
    """Zone-map test: False only when the file's bounds PROVE no row
    matches. Missing stats for the column -> True (keep)."""
    s = stats.get(col)
    v = _stat_norm(value)
    if not s or v is None:
        return True
    mn, mx = s
    try:
        if op == "==":
            return mn <= v <= mx
        if op == "<":
            return mn < v
        if op == "<=":
            return mn <= v
        if op == ">":
            return mx > v
        if op == ">=":
            return mx >= v
    except TypeError:
        return True  # cross-type comparison: stats unusable for this predicate
    return True


# ---- bloom-filter file skipping (the Delta bloom-index rule) ---------------
#
# Zone maps prune RANGES; they are blind to point lookups on keys that are
# SCATTERED across files (every file's [min, max] straddles every key — the
# normal shape for surrogate ids under hash ingest). A per-file Bloom filter
# over the configured columns answers "might this file contain k == v?" with
# no false negatives, so a point read opens ~fpp of the files instead of all
# of them. Stored inline in the manifest entry (m/k + base64 bits); built at
# write time from the file's distinct keys (on a cluster the writing executor
# returns it with the task result, like the stats). Only int/str columns are
# bloomed — float equality is not a sane bloom key; other types fall back to
# "keep". A column whose file exceeds the distinct cap gets no bloom (keep).

_BLOOM_FPP = 0.01
_BLOOM_MAX_DISTINCT = 200_000


def _bloom_key_bytes(v) -> bytes | None:
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return b"i:%d" % v
    if isinstance(v, str):
        return b"s:" + v.encode("utf-8")
    return None


def _bloom_positions(key: bytes, m: int, k: int):
    import hashlib

    h = hashlib.blake2b(key, digest_size=16).digest()
    h1 = int.from_bytes(h[:8], "little")
    h2 = int.from_bytes(h[8:], "little") | 1  # odd => full-period double hashing
    return ((h1 + i * h2) % m for i in range(k))


def _bloom_build(values) -> dict | None:
    """Bloom filter sized for ~_BLOOM_FPP over the distinct keys, or None
    when the column isn't bloomable (no keys / too many / wrong types)."""
    import base64
    import math

    keys = {b for b in (_bloom_key_bytes(v) for v in values) if b is not None}
    if not keys or len(keys) > _BLOOM_MAX_DISTINCT:
        return None
    n = len(keys)
    m = max(64, math.ceil(-n * math.log(_BLOOM_FPP) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    bits = bytearray(m // 8)
    for key in keys:
        for p in _bloom_positions(key, m, k):
            bits[p >> 3] |= 1 << (p & 7)
    return {"m": m, "k": k, "b64": base64.b64encode(bytes(bits)).decode()}


def _bloom_test(bloom: dict, value) -> bool:
    """True = file may contain value; False ONLY when provably absent."""
    import base64

    key = _bloom_key_bytes(value)
    if key is None:
        return True
    bits = base64.b64decode(bloom["b64"])
    return all(
        bits[p >> 3] >> (p & 7) & 1 for p in _bloom_positions(key, bloom["m"], bloom["k"])
    )


def _zorder_expr(cols: list[str], bounds: dict[str, tuple[float, float]], bits: int = 16):
    """Morton/Z-value expression interleaving ``bits`` bits per column —
    pure built-in column arithmetic (shiftleft/shiftright/bitwiseAND), so
    the whole computation stays inside whole-stage codegen. Each column is
    min/max-normalized into [0, 2^bits) first; the interleave puts bit b
    of column i at position b*ncols+i, giving every output file a tight
    hyper-rectangle in ALL named dimensions instead of only the leading
    one (Delta OPTIMIZE ZORDER's rationale: multi-column zone-map
    skipping survives the compaction)."""
    from pyspark.sql import functions as F

    n = len(cols)
    # the interleave's highest bit position is (bits-1)*n + (n-1); clamp so
    # it stays below bit 63 — at 4 columns x 16 bits the top bit would land
    # ON the long sign bit and the largest z-values would wrap negative,
    # splitting the keyspace discontinuously under repartitionByRange and
    # silently degrading clustering for >=4 zorder columns (ADVICE r8)
    bits = min(bits, 63 // n)
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        mn, mx = bounds[c]
        span = (mx - mn) or 1.0
        scaled = F.least(
            F.lit(top).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                ((F.col(c).cast("double") - F.lit(mn)) * F.lit(top / span)).cast("long"),
            ),
        )
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(scaled, b).bitwiseAND(F.lit(1).cast("long")), b * n + i
            )
    return z


def _key_match(updates: DataFrame, keys: list[str]) -> tuple[DataFrame, "Column"]:
    """(distinct update-key relation aliased ``_u_<k>``, eqNullSafe join
    condition) — the ONE definition of merge key matching (NULL keys
    match NULL, as in the upsert window), shared by ``upsert_mor``'s
    tombstone scan, ``_verify_mor_merged`` and ``merge_rows_pruned``'s
    keyed delete so they can never diverge."""
    from pyspark.sql import functions as F

    upd_keys = updates.select(*[F.col(c).alias(f"_u_{c}") for c in keys]).distinct()
    match = None
    for c in keys:
        this = F.col(c).eqNullSafe(F.col(f"_u_{c}"))
        match = this if match is None else (match & this)
    return upd_keys, match


def _check_ops(where: list[tuple] | None) -> None:
    """Reject predicate ops outside the ``(column, op, literal)`` DSL."""
    for _c, op, _v in where or ():
        if op not in _PRUNE_OPS:
            raise ValueError(f"unsupported predicate op {op!r}; use one of {_PRUNE_OPS}")


def _where_cond(where: list[tuple]) -> "Column":
    """The conjunctive ``(column, op, literal)`` predicate DSL as ONE
    Column — shared by the residual read filter, the DV delete scan and
    the copy-on-write delete, so the three can never disagree. SQL
    three-valued logic applies: a row whose predicate is NULL (a NULL
    operand) is neither read nor deleted. An empty predicate is
    rejected: a delete must name the rows it removes (reads skip the
    filter instead, see ``_apply_where``)."""
    from pyspark.sql import functions as F

    if not where:
        raise ValueError("empty predicate: pass at least one (column, op, literal) term")
    _check_ops(where)
    cond = None
    for c, op, v in where:
        col = F.col(c)
        this = {"==": col == v, "<": col < v, "<=": col <= v, ">": col > v, ">=": col >= v}[op]
        cond = this if cond is None else (cond & this)
    return cond


def _apply_where(df: DataFrame, where: list[tuple] | None) -> DataFrame:
    """Apply the predicate DSL as a row filter (the residual half of the
    pruned-read contract)."""
    return df.filter(_where_cond(where)) if where else df


def _entry_may_match(entry: dict, where: list[tuple] | None) -> bool:
    """Combined zone-map + bloom file test for one manifest entry."""
    if not where:
        return True
    stats = entry.get("stats") or {}
    if not all(_file_may_match(stats, c, op, v) for c, op, v in where):
        return False
    blooms = entry.get("bloom") or {}
    for c, op, v in where:
        if op == "==" and c in blooms and not _bloom_test(blooms[c], v):
            return False
    return True


@dataclass(frozen=True)
class _TableState:
    """One validated listing of a sink table's commit log
    (``ManifestSinkTable._list_state``). Every reader, rewriter,
    tombstone publisher, vacuum and change-feed consumer decides from
    exactly one of these — never from a second listing.

    snap          latest snapshot, None before the first rewrite
    dv_commits    the DV log (``_dv_commits``; staged DVs annotated)
    committed     batch id -> ``{"dir", "files"}`` of every committed
                  batch (markers, epochs and live MOR inserts, absorbed
                  ids included); ``"mor": True`` marks merge batches
    staged        batch id -> manifest of every staged marker
    staged_mor    batch id -> insert manifest of every staged-unpublished
                  MOR upsert (lowest dv index wins)
    absorbed      batch ids the snapshot absorbed
    manifests     visible manifests: the snapshot's compacted dirs, then
                  the committed batches it has not absorbed
    batch_ids     sorted ids of those unabsorbed committed batches
    dvs           live DV commits the snapshot has not absorbed
    staged_open   indexes of staged-unpublished DVs (an open transaction)
    """

    snap: dict | None
    dv_commits: dict[int, dict]
    committed: dict[int, dict]
    staged: dict[int, dict]
    staged_mor: dict[int, dict]
    absorbed: frozenset[int]
    manifests: list[dict]
    batch_ids: list[int]
    dvs: list[dict]
    staged_open: list[int]


@dataclass
class ManifestSinkTable:
    root: str
    write_mode: str = "committed"  # committed | pending
    # frozen: first batch's schema is the table's schema forever (the
    #   reference's model — BigQuery tables don't evolve on write).
    # additive: later batches may ADD nullable columns; the table schema
    #   grows to the union, old files read the new columns as null. Type
    #   changes and dropping a required column are always rejected.
    schema_evolution: str = "frozen"
    # columns that get a per-file Bloom filter in the manifest at write
    # time (point-lookup skipping on scattered keys; int/str only)
    bloom_columns: tuple[str, ...] = ()
    # columns that get a per-file SUM in the manifest at write time so
    # SUM/AVG answer from the manifest alone (stats_agg); int/float only
    sum_columns: tuple[str, ...] = ()
    # (n_buckets, key columns): every data file is written hash-bucketed
    # on the keys with the bucket id in its NAME (Spark's `_NNNNN` file
    # convention), so read_bucketed() can re-expose the table to the
    # catalog as a bucketed scan and keyed joins/aggs on a GOVERNED
    # table skip the shuffle (VERDICT r9 #4 — q216's layout, now with
    # the manifest's ACID/time-travel/skipping). Persisted to
    # _bucket.json at first write; later openers inherit it.
    bucket_spec: tuple | None = None
    retry: RetryPolicy = field(default_factory=RetryPolicy)

    def __post_init__(self) -> None:
        if self.write_mode not in ("committed", "pending"):
            raise ValueError(f"write.mode must be committed|pending, got {self.write_mode!r}")
        if self.schema_evolution not in ("frozen", "additive"):
            raise ValueError(f"schema_evolution must be frozen|additive, got {self.schema_evolution!r}")
        for d in ("data", "_staged", "_commits", "_deletes"):
            os.makedirs(os.path.join(self.root, d), exist_ok=True)
        if self.bucket_spec is not None:
            n, cols = self.bucket_spec
            self.bucket_spec = (int(n), (cols,) if isinstance(cols, str) else tuple(cols))
            if self.bucket_spec[0] <= 0 or not self.bucket_spec[1]:
                raise ValueError("bucket_spec must be (n_buckets > 0, key columns)")
        stored = self._stored_bucket_spec()
        if stored is not None:
            if self.bucket_spec is not None and self.bucket_spec != stored:
                raise ValueError(
                    f"bucket_spec {self.bucket_spec} does not match the table's persisted spec {stored}"
                )
            self.bucket_spec = stored

    def _stored_bucket_spec(self) -> tuple | None:
        try:
            with open(os.path.join(self.root, "_bucket.json")) as f:
                d = json.load(f)
            return int(d["n"]), tuple(d["cols"])
        except FileNotFoundError:
            return None

    # -- paths ------------------------------------------------------------
    def _batch_root(self, batch_id: int) -> str:
        return os.path.join(self.root, "data", f"batch={batch_id}")

    def _staged_marker(self, batch_id: int) -> str:
        return os.path.join(self.root, "_staged", f"{batch_id}.marker")

    def _commit_marker(self, batch_id: int) -> str:
        return os.path.join(self.root, "_commits", f"batch-{batch_id}.marker")

    def _schema_path(self) -> str:
        return os.path.join(self.root, "_schema.json")

    def _atomic_write(self, path: str, payload: str) -> None:
        """Atomic replace (object-store mapping: plain single-key PUT)."""
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(payload)
        os.rename(tmp, path)

    def _atomic_create(self, path: str, payload: str) -> bool:
        """Atomic create-if-absent CAS; True iff THIS call created ``path``.

        Local shim for an object store's conditional PUT (see module
        docstring). ``os.link`` is atomic and fails on an existing target,
        and the payload is complete before the link publishes it — no
        reader ever sees a partial marker, no two committers both win.
        """
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(payload)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    # -- bookkeeping --------------------------------------------------------
    def staged_ids(self) -> list[int]:
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(os.path.join(self.root, "_staged")) if f.endswith(".marker")
        )

    def _log_position(self) -> tuple[int, int]:
        """(latest snapshot index, latest epoch index), -1 before the
        first of each. Numeric: 'snapshot-10.json' must beat
        'snapshot-9.json'."""
        last = {"snapshot-": -1, "epoch-": -1}
        for f in os.listdir(os.path.join(self.root, "_commits")):
            for kind in last:
                if f.startswith(kind) and f.endswith(".json"):
                    last[kind] = max(last[kind], int(f[len(kind) : -len(".json")]))
        return last["snapshot-"], last["epoch-"]

    def _latest_snapshot(self) -> dict | None:
        n = self._log_position()[0]
        if n < 0:
            return None
        with open(os.path.join(self.root, "_commits", f"snapshot-{n}.json")) as fh:
            return json.load(fh)

    def _committed_manifests(self) -> dict[int, dict]:
        """Batch markers and epochs: every committed micro-batch id -> its
        manifest ``{"dir": <rel>, "files": [...]}`` (files carry the
        data-skipping stats), ``"mor": True`` on the merge batches an
        epoch published (its ``mor_batch_ids``, stamped at publish, so
        change-feed typing travels with the publish). Markers survive
        compaction, so the id set keeps absorbed replays idempotent
        without any watermark over the shared id space. MOR upserts
        published through a DV commit join in ``_list_state``."""
        entries: dict[int, dict] = {}
        mor_bids: set[int] = set()
        commits = os.path.join(self.root, "_commits")
        for f in os.listdir(commits):
            if f.startswith("batch-") and f.endswith(".marker"):
                with open(os.path.join(commits, f)) as fh:
                    m = json.load(fh)
                entries[int(m["batch_id"])] = {"dir": m["dir"], "files": m["files"]}
            elif f.startswith("epoch-") and f.endswith(".json"):
                with open(os.path.join(commits, f)) as fh:
                    e = json.load(fh)
                mor_bids.update(int(b) for b in e.get("mor_batch_ids", []))
                for bid, d in e["dirs"].items():
                    entries[int(bid)] = {"dir": d, "files": e["files"][bid]}
        for bid in mor_bids & set(entries):
            entries[bid]["mor"] = True
        return entries

    def _staged_manifests(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        for b in self.staged_ids():
            try:
                with open(self._staged_marker(b)) as fh:
                    m = json.load(fh)
            except FileNotFoundError:
                # a racing commit() consumed this marker between the listing
                # and the read — the winner's epoch publishes it; this
                # committer simply doesn't claim it (exactly-once holds:
                # visibility is the set union of epoch batch-id lists)
                continue
            out[b] = {"dir": m["dir"], "files": m["files"]}
        return out

    def _list_state(self) -> _TableState:
        """THE listing of the commit log, in one fixed order:

        1. the latest snapshot index;
        2. the DV log;
        3. the latest snapshot, which must still be at that index;
        4. staged markers;
        5. batch markers and epochs;

        then the latest epoch index again, which must not have moved
        since step 1. If either index moved, list again (at most 5
        times).

        DV log before snapshot (readers): a compaction plus a MOR upsert
        landing after the snapshot read can't pair the old files with
        tombstones taken on the new layout — every listed DV predates
        the listed snapshot. The index check (rewriters): an unchanged
        index proves the listed snapshot was already the latest when the
        DV log was read, so a DV published in between is either listed
        or its barrier (or compaction) takes the next snapshot index and
        the rewrite's own CAS loses — without the check a DV and its
        barrier landing between the two reads would be absorbed unseen
        (a lost delete). DV log before markers: a marker-path batch
        committing in between carries no DV. The epoch check: a commit()
        landing after the DV listing would publish staged merges whose
        DVs were listed unpublished — their inserts visible through the
        epoch, their tombstones not (a torn transaction). Staged markers
        before epochs: commit() publishes its epoch before it drops the
        markers, so a staged batch is never listed in neither place.
        The MOR insert manifests, the visible DVs and the staged-
        transaction members all derive from the ONE DV listing (ADVICE
        r11: an ``upsert_mor`` publishes tombstones and inserts through
        one dv CAS, so a consumer sees both or neither)."""
        for _ in range(5):
            index, epoch = self._log_position()
            dv_commits = self._dv_commits()
            snap = self._latest_snapshot()
            if (snap["index"] if snap else -1) != index:
                continue
            staged = self._staged_manifests()
            committed = self._committed_manifests()
            if self._log_position()[1] == epoch:
                break
        else:
            raise RuntimeError("listing: the commit log moved under 5 listings in a row")
        snap_ = snap or {}
        # merge-on-read upserts publish their insert rows THROUGH the DV
        # commit; a marker/epoch entry for the same id wins, and between
        # two MOR publishes of one batch id (racing zombie replays) the
        # LOWEST dv index wins deterministically. A staged pending-mode
        # insert is invisible until its epoch publishes (_dv_live).
        staged_mor: dict[int, dict] = {}
        mor_bids: set[int] = set()
        for _i, d in sorted(dv_commits.items()):
            ins = d.get("insert")
            if not ins:
                continue
            bid = int(ins["batch_id"])
            mor_bids.add(bid)
            m = {"dir": ins["dir"], "files": ins["files"]}
            if self._dv_live(d):
                committed.setdefault(bid, m)
            elif not d.get("_published"):
                staged_mor.setdefault(bid, m)
        # every dv commit carrying an insert types its batch 'mor' —
        # unfiltered by staged-visibility, so typing and entry come from
        # this one listing (round-13 review: an epoch rename landing
        # between two listings typed merge batches 'insert')
        for bid in mor_bids & set(committed):
            committed[bid]["mor"] = True
        absorbed = frozenset(snap_.get("absorbed_batch_ids", []))
        absorbed_dvs = set(snap_.get("absorbed_dv_ids", []))
        files = snap_.get("files") or {}
        manifests = [
            {"dir": d, "files": files[d] if d in files else self._footer_entries(d)}
            for d in snap_.get("compacted_dirs", [])
        ]
        batch_ids = sorted(set(committed) - absorbed)
        return _TableState(
            snap=snap,
            dv_commits=dv_commits,
            committed=committed,
            staged=staged,
            staged_mor=staged_mor,
            absorbed=absorbed,
            manifests=manifests + [committed[b] for b in batch_ids],
            batch_ids=batch_ids,
            dvs=[d for i, d in sorted(dv_commits.items()) if i not in absorbed_dvs and self._dv_live(d)],
            staged_open=sorted(i for i, d in dv_commits.items() if d.get("staged") and not d.get("_published")),
        )

    def _footer_entries(self, rel_dir: str) -> list[dict]:
        """File entries of a compacted dir whose snapshot carries none
        (written by a rewriter other than ``_cas_snapshot``), harvested
        from the parquet footers like any freshly written file's."""
        base = os.path.join(self.root, "data", rel_dir)
        names = sorted(f for f in os.listdir(base) if f.endswith(".parquet"))
        return _collect_file_stats(base, names, self.bloom_columns, self.sum_columns)

    def _mor_void_dvs(self, state: _TableState, batch_id: int) -> list[int]:
        """MOR DV indexes for ``batch_id`` that are VOID in ``state``
        (``_void_mors``) — the signature of the publish-then-crash-into-
        a-racing-rewrite window, where superseded versions have
        resurrected. Every rewrite
        path either absorbs the DVs it saw or leaves their files
        untouched, so an intact DV is always absorbed or fully visible by
        basename; the check is manifest metadata only (no data files
        opened)."""
        return [
            int(d["index"])
            for d in self._void_mors(state)
            if int(d.get("as_of_batch", -1)) == batch_id
        ]

    def _void_mors(self, state: _TableState) -> list[dict]:
        """The VOID MOR commits among a listing's visible DVs: some
        referenced file is gone from the SAME listing's files and no
        repair verdict (``morfix`` marker) covers the DV. Staged-
        unpublished DVs never get here: no reader applies them and no
        rewrite can invalidate them (rewrites defer while a transaction
        is open), so void-ness is undefined until commit."""
        names = {e["name"] for e, _b in self._listed_entries(state.manifests)}
        return [
            d
            for d in state.dvs
            if d.get("mor")
            and not set(d.get("files", [])) <= names
            and not self._op_done("morfix", f"{int(d.get('as_of_batch', -1))}-{int(d['index'])}")
        ]

    def _mor_needs_repair(self, batch_id: int) -> bool:
        return bool(self._mor_void_dvs(self._list_state(), batch_id))

    def _mor_mark_repaired(self, batch_id: int, void_ids: list[int]) -> None:
        """Record that a repair pass verified/fixed these void DVs — the
        marker is written only AFTER the follow-up tombstones are fully
        published (or the pass proved nothing resurrected), so a crash
        mid-repair just repairs again."""
        for i in void_ids:
            self._mark_op("morfix", f"{batch_id}-{i}", batch_id=batch_id, void_dv=i)

    def committed_ids(self) -> list[int]:
        """Micro-batch ids whose batch= directory is currently visible
        (committed and not yet absorbed into a compaction snapshot)."""
        return self._list_state().batch_ids

    def _is_known(self, batch_id: int) -> bool:
        """A batch id is known if staged, committed, or absorbed by a
        compaction snapshot — replaying any of them is a no-op (R14).
        Staged pending-mode MOR upserts carry no marker (their insert
        rides the staged DV commit), so they count too — without them a
        replayed staged upsert would stage twin files."""
        state = self._list_state()
        return any(batch_id in s for s in (state.staged, state.staged_mor, state.committed, state.absorbed))

    def _freeze_schema(self, df: DataFrame) -> None:
        # CAS: of two concurrent first-writers, one freezes the schema,
        # the other's write silently defers to it (first write wins)
        if not os.path.exists(self._schema_path()):
            self._atomic_create(self._schema_path(), df.schema.json())

    def _evolve_schema(self, df: DataFrame) -> None:
        """Additive evolution: grow the table schema to the union.

        Ordering contract: the schema file is updated BEFORE the batch's
        commit marker, so the moment a batch with new columns becomes
        visible, readers already know about them. The reverse order would
        let a reader see the batch's files under the old schema and
        silently drop the new columns. (A crash between schema update and
        marker leaves a wider schema with no data in the new columns —
        harmless: they read as null, and the replayed batch fills them.)
        """
        current = self.schema()
        if current is None:
            self._atomic_write(self._schema_path(), df.schema.json())
            return
        by_name = {f.name: f for f in current.fields}
        added: list[T.StructField] = []
        for f in df.schema.fields:
            known = by_name.get(f.name)
            if known is None:
                # new columns are forced nullable: rows already in the
                # table have no value for them
                added.append(T.StructField(f.name, f.dataType, nullable=True))
            elif known.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution is additive-only: column {f.name!r} "
                    f"changed type {known.dataType.simpleString()} -> {f.dataType.simpleString()}"
                )
        incoming = set(df.schema.fieldNames())
        for f in current.fields:
            if not f.nullable and f.name not in incoming:
                raise ValueError(f"batch drops required column {f.name!r}; only nullable columns may be omitted")
        if added:
            self._atomic_write(self._schema_path(), T.StructType(list(current.fields) + added).json())

    def schema(self) -> T.StructType | None:
        if not os.path.exists(self._schema_path()):
            return None
        with open(self._schema_path()) as f:
            return T.StructType.fromJson(json.load(f))

    # -- bucketed data files --------------------------------------------------
    def _write_bucketed_files(self, df: DataFrame, out_dir: str) -> None:
        """Write ``df``'s rows as parquet files whose NAMES carry their
        bucket id (Spark's ``part-…_NNNNN.c000…`` convention), hash-
        bucketed and sorted on the spec's key columns. The only public
        API that produces bucket-named files is a catalog write, so the
        rows go through a throwaway EXTERNAL ``bucketBy`` table whose
        files are then moved into ``out_dir`` (the catalog entry is
        dropped; bucket identity lives in the file names, which is
        exactly what a bucketed scan reads back). The repartition onto
        the bucket keys uses the same hash as the bucket layout, so
        each bucket is written by one task → one file per non-empty
        bucket per write."""
        import shutil

        from kafka_connect_bigquery_storage_write_spark.sinks.bucketed import write_bucketed

        n, cols = self.bucket_spec
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"bucketed write: key columns {missing} absent from batch")
        tmp_name = f"kafka_connect_bigquery_storage_write_spark_bwrite_{uuid.uuid4().hex[:12]}"
        tmp_dir = f"{out_dir.rstrip('/')}.bkt-{uuid.uuid4().hex[:8]}"
        write_bucketed(df.repartition(n, *cols), tmp_name, tmp_dir, list(cols), n)
        df.sparkSession.sql(f"DROP TABLE `{tmp_name}`")
        os.makedirs(out_dir, exist_ok=True)
        for f in sorted(os.listdir(tmp_dir)):
            if f.endswith(".parquet"):
                os.rename(os.path.join(tmp_dir, f), os.path.join(out_dir, f))
        shutil.rmtree(tmp_dir, ignore_errors=True)

    def _write_datafiles(self, df: DataFrame, out_dir: str, target_files: int | None = None) -> None:
        """One write seam for every path that materializes data files
        (appends, compactions, COW/merge rewrites): bucketed tables keep
        their bucket layout through ALL of them, everything else is a
        plain (optionally coalesced) parquet write."""
        if self.bucket_spec is not None:
            self._write_bucketed_files(df, out_dir)
        else:
            if target_files is not None:
                df = df.coalesce(target_files)
            df.write.mode("overwrite").parquet(out_dir)

    # -- write path ---------------------------------------------------------
    def write_batch(self, df: DataFrame, batch_id: int) -> AppendResult:
        """Append one micro-batch; idempotent per batch_id (R14)."""
        if self._is_known(batch_id):
            return AppendResult(batch_id=batch_id, rows=0, already_exists=True)
        if self.bucket_spec is not None:
            n, cols = self.bucket_spec
            self._atomic_create(
                os.path.join(self.root, "_bucket.json"), json.dumps({"n": n, "cols": list(cols)})
            )
        if self.schema_evolution == "additive":
            self._evolve_schema(df)
        else:
            self._freeze_schema(df)
        # every attempt writes its OWN immutable directory; the marker CAS
        # below decides which attempt is the batch's content, so a racing
        # zombie append can neither mix files with nor clobber the winner
        rel_dir = os.path.join(f"batch={batch_id}", f"attempt={uuid.uuid4().hex[:12]}")
        data_dir = os.path.join(self.root, "data", rel_dir)

        def _append() -> None:
            # overwrite handles a half-written dir from a failed retry of
            # THIS attempt; other attempts have their own directories
            self._write_datafiles(df, data_dir)

        self.retry.run(_append)
        rows = -1  # row count not recomputed here; callers count upstream if needed
        # footer-only stats pass over this batch's files (data skipping)
        files = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
        payload = json.dumps(
            {"batch_id": batch_id, "dir": rel_dir, "files": _collect_file_stats(data_dir, files, self.bloom_columns, self.sum_columns)}
        )
        marker = self._staged_marker(batch_id) if self.write_mode == "pending" else self._commit_marker(batch_id)
        if not self._atomic_create(marker, payload):
            # lost the CAS to a concurrent append of the same batch id
            # (replayed task racing its zombie): report ALREADY_EXISTS
            # (R14) and drop this attempt's now-unreferenced files
            import shutil

            shutil.rmtree(data_dir, ignore_errors=True)
            return AppendResult(batch_id=batch_id, rows=0, already_exists=True)
        if self.write_mode == "pending":
            return AppendResult(batch_id=batch_id, rows=rows, staged=True)
        return AppendResult(batch_id=batch_id, rows=rows)

    def commit(self) -> list[int]:
        """Pending mode: atomically publish every staged batch (R17).

        No-op in committed mode, exactly like the reference's guarded
        commit (BigqueryStreamWriter.java:339-345).
        """
        if self.write_mode != "pending":
            return []
        # CAS loop on the epoch index: a concurrent committer racing this
        # one makes the create fail; re-list (the winner may have consumed
        # some staged markers) and retry at the next index. Visibility is
        # the set UNION of epoch batch-id lists, so a batch id that lands
        # in two racing epochs is still exactly-once to readers.
        #
        # Staged MERGES (pending-mode upsert_mor) publish through the SAME
        # epoch rename: the epoch's ``dv_indexes`` names their delete
        # vectors (tombstones AND the embedded insert manifests flip live
        # together via _dv_live), and the insert dirs also enter the
        # epoch's ``dirs``/``files`` maps so epoch-based time travel and
        # the committed-manifest scan see them like any published batch.
        # One rename makes the whole multi-batch transaction visible —
        # inserts, upserted rows and tombstones — or none of it.
        while True:
            state = self._list_state()
            all_manifests = {**state.staged, **state.staged_mor}
            staged = sorted(all_manifests)
            if not staged and not state.staged_open:
                return []
            epoch = self._log_position()[1] + 1
            created = self._atomic_create(
                os.path.join(self.root, "_commits", f"epoch-{epoch}.json"),
                json.dumps(
                    {
                        "batch_ids": staged,
                        "dirs": {str(b): m["dir"] for b, m in all_manifests.items()},
                        # per-file zone-map stats ride from staged marker to
                        # epoch so pending-mode tables skip files too
                        "files": {str(b): m["files"] for b, m in all_manifests.items()},
                        "dv_indexes": state.staged_open,
                        # typing travels WITH the publish (round-13
                        # review): a reader listing epochs after this
                        # rename but the DV log before it must still
                        # type these batches 'upsert' in the change feed
                        "mor_batch_ids": sorted(state.staged_mor),
                    }
                ),
            )
            if created:
                break
        for b in state.staged:
            # the racing winner may have already consumed a marker
            with contextlib_suppress(FileNotFoundError):
                os.remove(self._staged_marker(b))
        return staged

    def reset(self) -> list[int]:
        """Discard staged-but-uncommitted batches (finalize-only reset):
        plain staged appends AND staged pending-mode merges. For a staged
        merge the dv-commit json is removed FIRST (it is the only pointer
        that could resurrect the transaction), then its tombstone dir and
        insert dir — a crash in between leaves only pointerless dirs for
        vacuum's retention sweep. Reset and commit() must not race (the
        reference's finalize-only contract: one finalizer per stream,
        BigqueryStreamWriterIntegrationTest.java:103-116); a discarded
        staged dv index MAY be reused by a later merge, which is safe
        because nothing — no epoch, no snapshot, no consumer cursor —
        ever referenced the unpublished index."""
        import shutil

        state = self._list_state()
        for b, m in state.staged.items():
            os.remove(self._staged_marker(b))
            shutil.rmtree(os.path.join(self.root, "data", m["dir"]), ignore_errors=True)
        discarded = set(state.staged)
        for i in state.staged_open:
            d = state.dv_commits[i]
            with contextlib_suppress(FileNotFoundError):
                os.remove(os.path.join(self.root, "_commits", f"dv-{i}.json"))
            if d.get("dir"):
                shutil.rmtree(os.path.join(self.root, d["dir"]), ignore_errors=True)
            ins = d.get("insert")
            if ins:
                discarded.add(int(ins["batch_id"]))
                shutil.rmtree(os.path.join(self.root, "data", ins["dir"]), ignore_errors=True)
        return sorted(discarded)

    # -- maintenance -------------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        target_files: int = 4,
        order_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int | None:
        """Merge everything visible into one compacted directory (the
        small-files fix). Readers before the snapshot rename see the old
        layout, readers after see the compacted one — never a mix: the
        snapshot file is the atomic switch, exactly like the epoch commit.

        ``order_by`` clusters the output (range-partition + sort within
        files) so the merged files carry DISJOINT ranges of the named
        columns — without it, a plain coalesce interleaves the inputs and
        every merged file's zone-map straddles every key, silently
        destroying data skipping on the compacted layout (the reason
        Delta's OPTIMIZE grew ZORDER; a single-column sort is its 1-D
        case).

        The compacted data lives under ``data/compacted-<n>`` — a separate
        namespace from micro-batch ids, so the next live micro-batch
        (whose id keeps counting up) can never be mistaken for compaction
        output, and a staged pending batch can never be clobbered. The
        snapshot records the explicit absorbed-id set; fresh ids above it
        commit normally. Returns the snapshot index, or None if there was
        nothing to compact.
        """
        res = self._cow_rewrite(
            spark,
            lambda _e: True,
            target_files=target_files,
            order_by=order_by,
            zorder_by=zorder_by,
            # a single data dir normally needs no compaction — unless
            # delete vectors are pending, whose absorption is the point
            skip=lambda n_dirs, _n, has_dvs: n_dirs == 0 or (n_dirs <= 1 and not has_dvs),
        )
        return None if res is None else res[0]

    # -- shared rewrite mechanics (one listing, pointer copies, the commit) --

    def _listed_entries(self, manifests: list[dict]) -> list[tuple[dict, str]]:
        """(file entry, base dir) for every file of a listing."""
        return [
            (e, os.path.join(self.root, "data", m["dir"])) for m in manifests for e in m["files"]
        ]

    @staticmethod
    def _pointer_copy(e: dict, base: str, out_dir: str) -> dict:
        """Hardlink an untouched file into the new layout KEEPING its
        basename, carrying every manifest stat. Basenames originate from
        Spark part-file writes (job-uuid-unique table-wide), so a
        pointer copy can never collide — and because both content and
        name survive, any delete vector referencing the file stays VALID
        across the copy (the former deterministic ``keep-NNNNN`` rename
        could reuse a name across snapshots and silently mis-target a
        stale DV's tombstones — round-11 review)."""
        os.link(os.path.join(base, e["name"]), os.path.join(out_dir, e["name"]))
        kept = {"name": e["name"], "rows": e.get("rows"), "stats": e.get("stats") or {}}
        for carry in ("bloom", "nulls", "sums", "bucket"):
            if e.get(carry):
                kept[carry] = e[carry]
        return kept

    def _cas_snapshot(
        self,
        n: int,
        compacted_dirs: list[str],
        absorbed_batch_ids: list[int],
        files: dict[str, list[dict]],
        absorbed_dv_ids: list[int],
        barrier: bool = False,
    ) -> bool:
        """The ONE writer of ``snapshot-<n>.json``: the CAS every rewrite
        (and every barrier) publishes through."""
        payload = {
            "index": n,
            "compacted_dirs": compacted_dirs,
            "absorbed_batch_ids": absorbed_batch_ids,
            "files": files,
            "absorbed_dv_ids": absorbed_dv_ids,
        }
        if barrier:
            payload["barrier"] = True
        return self._atomic_create(
            os.path.join(self.root, "_commits", f"snapshot-{n}.json"), json.dumps(payload)
        )

    def _materialize_rewrite(
        self,
        df: DataFrame,
        new_dir: str,
        out_dir: str,
        target_files: int | None,
        order_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """Write the rewritten rows via an attempt-unique tmp dir and move
        the parquet files into the (possibly pointer-copy-populated)
        output dir. Bucketed tables go through the bucketed seam;
        otherwise ``order_by`` range-clusters and ``zorder_by``
        Z-order-clusters the output (both then sort within files), and
        a plain write coalesces to ``target_files``."""
        import shutil

        from pyspark.sql import functions as F

        tmp_out = os.path.join(self.root, "data", f"{new_dir}.rw-{uuid.uuid4().hex[:8]}")
        if zorder_by:
            row = df.agg(
                *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(zorder_by)],
                *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(zorder_by)],
            ).first()
            bounds = {c: (row[f"mn_{i}"], row[f"mx_{i}"]) for i, c in enumerate(zorder_by)}
            df = (
                df.withColumn("__z", _zorder_expr(zorder_by, bounds))
                .repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            df.write.mode("overwrite").parquet(tmp_out)
        elif order_by:
            df = df.repartitionByRange(target_files, *order_by).sortWithinPartitions(*order_by)
            df.write.mode("overwrite").parquet(tmp_out)
        else:
            self._write_datafiles(df, tmp_out, target_files=target_files)
        for f in sorted(os.listdir(tmp_out)):
            if f.endswith(".parquet"):
                os.rename(os.path.join(tmp_out, f), os.path.join(out_dir, f))
        shutil.rmtree(tmp_out, ignore_errors=True)

    def _rewrite_listing(self, spark: SparkSession) -> _TableState:
        """``_repair_void_mors``, then ONE ``_list_state`` for every
        rewrite path, with void-ness RE-CHECKED against the listing about
        to be absorbed (round-12 review): a MOR DV that goes void BETWEEN
        the repair pass and the listing — a racing rewrite's snapshot CAS
        landing in that window — would otherwise be absorbed as a no-op,
        permanently baking the resurrected superseded versions in AND
        clearing the void signal the replay repair keys on. Any visible
        MOR DV whose referenced basenames are not fully contained in the
        listing (and that carries no morfix verdict) sends the pass back
        through repair for a fresh listing. Basenames are never reused,
        so void-ness is monotone and each retry makes progress (repair
        either publishes a fresh DV, verifies an absorbed batch, or
        records a morfix marker).

        OPEN-TRANSACTION GUARD (pending mode): rewrites refuse while a
        staged-unpublished merge exists — a rewrite's snapshot renames
        the very files the staged tombstones reference, voiding them
        BEFORE they were ever visible (resurrection at commit, with no
        void signal until then). Deferring maintenance across an open
        transaction is the Delta/Iceberg conflict-abort shape; the
        transaction releases it at commit()/reset()."""
        for _ in range(5):
            self._repair_void_mors(spark)
            state = self._list_state()
            if state.staged_open:
                raise ValueError(
                    f"maintenance deferred: staged pending-mode merge open (dv {state.staged_open}); "
                    "commit() or reset() the transaction first"
                )
            if not self._void_mors(state):
                return state
        raise RuntimeError(
            "rewrite: unrepaired void MOR delete vectors kept appearing "
            "mid-listing after 5 repair passes"
        )

    def _repair_void_mors(self, spark: SparkSession) -> None:
        """Pre-rewrite self-heal (round-11 review): a VOID mor DV that a
        rewrite lists and absorbs is applied as a NO-OP (dead basenames),
        which would bake the resurrected superseded versions into the new
        layout permanently and clear the void signal the replay repair
        keys on. So every rewrite path first repairs any void MOR publish
        it can see — the lost tombstones are re-derived from the batch's
        own persisted rows via ``upsert_mor``'s repair branch (key columns
        ride in the dv commit)."""
        state = self._list_state()
        void = {int(d.get("as_of_batch", -1)) for d in self._void_mors(state)}
        seen: set[int] = set()
        for i, d in sorted(state.dv_commits.items()):
            ins = d.get("insert")
            if not d.get("mor") or not ins:
                continue
            b = int(ins["batch_id"])
            if b in seen or b not in void:
                continue
            seen.add(b)
            keys = d.get("keys")
            if not keys:
                raise ValueError(
                    f"void MOR delete vector {i} (batch {b}) predates key "
                    "recording; replay the batch via upsert_mor before rewriting"
                )
            self.upsert_mor(spark, None, keys=list(keys), batch_id=b)

    # -- replay markers: the only code that builds, checks or creates them --
    #
    # ``_commits/<kind>-<op_id>.marker``, one kind per idempotent op:
    # ``mrgop`` (copy-on-write rewrites), ``dvop`` (``delete_where_dv``),
    # ``morop`` (``upsert_mor``), ``morfix`` (a void MOR DV's repair
    # verdict, keyed ``<batch id>-<dv index>``) and ``merge`` (the ingest
    # pipeline's per-batch merge, keyed by batch id). A None or empty op
    # id opts out.

    def _op_marker(self, kind: str, op_id) -> str:
        return os.path.join(self.root, "_commits", f"{kind}-{op_id}.marker")

    def _op_done(self, kind: str, op_id) -> bool:
        """True when ``op_id`` already completed (its marker exists)."""
        return op_id not in (None, "") and os.path.exists(self._op_marker(kind, op_id))

    def _mark_op(self, kind: str, op_id, **info) -> None:
        """CAS the replay marker of a completed (or no-op) ``op_id``."""
        if op_id not in (None, ""):
            self._atomic_create(self._op_marker(kind, op_id), json.dumps({"op_id": op_id, **info}))

    def _cow_rewrite(
        self,
        spark: SparkSession,
        touched,
        transform=None,
        *,
        target_files: int | None,
        order_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        skip=None,
        inserts: bool = False,
        op_id: str | None = None,
    ) -> tuple[int, int, int] | None:
        """THE copy-on-write rewrite every maintenance and row-level write
        op is a short caller of (compact, binpack, DELETE, MERGE):

        1. ONE ``_rewrite_listing`` for data AND DVs (ADVICE r11): the DV
           log is read once, before the batch markers, so a MOR commit is
           seen entire (tombstones + inserts) or not at all, and every
           live DV reference is inside the data listing (files only
           leave visibility via snapshots, which would make this CAS
           lose). Void MOR DVs repair against THIS listing.
        2. ``touched(entry) -> bool`` classifies each listed file; files a
           visible DV references always count as touched (a pointer copy
           would carry the tombstoned rows past the DV's absorption).
        3. Untouched files are pointer-copied with their stats.
        4. Touched files are read and the visible DVs applied.
        5. ``transform(rows) -> rows`` (optional) rewrites them; it must
           keep the table's columns. ``inserts=True`` runs it even when
           no file is touched (a MERGE's unmatched keys still land).
        6. The output is materialized (``_materialize_rewrite``).
        7. One snapshot CAS publishes the new layout, absorbing every
           listed batch and DV.

        ``skip(n_dirs, n_touched, has_dvs) -> bool`` is the caller's
        no-op rule, decided on the listing before any data moves.
        ``op_id`` gives replay idempotence: the ``mrgop-<op_id>.marker``
        is CAS'd on a no-op and on a won snapshot, never on a lost one.
        Returns ``(snapshot_index, n_rewritten_files,
        n_pointer_copied_files)``, or None when the table is empty, the
        op is a no-op, or the snapshot CAS lost (the output dir is
        removed — retry on the fresh state)."""
        import shutil

        if order_by and zorder_by:
            raise ValueError("pass order_by or zorder_by, not both")
        if self.bucket_spec is not None and (order_by or zorder_by):
            # bucketed tables cluster by their bucket spec — a competing
            # order would silently destroy the co-located-join layout
            raise ValueError("bucketed tables cluster by bucket_spec; order_by/zorder_by unsupported")
        state = self._rewrite_listing(spark)
        snap, dvs = state.snap or {}, state.dvs
        if not state.manifests:
            return None
        dv_files = {f for d in dvs for f in d.get("files", [])}
        plan = [
            (e, base, e["name"] in dv_files or touched(e))
            for e, base in self._listed_entries(state.manifests)
        ]
        n_dirs = len(state.manifests)
        if skip is not None and skip(n_dirs, sum(hit for _e, _b, hit in plan), bool(dvs)):
            self._mark_op("mrgop", op_id, rows=0)
            return None
        n_snap = (snap["index"] + 1) if snap else 0
        # attempt-unique output dir (same rule as batch appends): two
        # rewriters racing the same snapshot index write disjoint
        # directories, and only the snapshot-CAS winner's is referenced
        new_dir = f"compacted-{n_snap}-{uuid.uuid4().hex[:12]}"
        out_dir = os.path.join(self.root, "data", new_dir)
        os.makedirs(out_dir, exist_ok=True)
        kept = [self._pointer_copy(e, base, out_dir) for e, base, hit in plan if not hit]
        paths = [os.path.join(base, e["name"]) for e, base, hit in plan if hit]
        if paths or inserts:
            schema = self.schema()
            if paths:
                rows = spark.read.schema(schema).parquet(*paths)
                if dvs:  # tombstoned rows must not survive into the rewrite
                    rows = self._apply_dv(rows, self._dv_relation(spark, dvs)).select(*schema.fieldNames())
            else:
                rows = spark.createDataFrame([], schema)
            if transform is not None:
                rows = transform(rows)
            self._materialize_rewrite(rows, new_dir, out_dir, target_files, order_by, zorder_by)
        # stats survive the rewrite: pointer copies carry theirs, the
        # rewritten files get their own footer bounds (new extents)
        kept_names = {e["name"] for e in kept}
        rewritten = sorted(
            f for f in os.listdir(out_dir) if f.endswith(".parquet") and f not in kept_names
        )
        files = kept + _collect_file_stats(out_dir, rewritten, self.bloom_columns, self.sum_columns)
        if not self._cas_snapshot(
            n_snap,
            [new_dir],
            sorted(state.absorbed | set(state.batch_ids)),
            {new_dir: files},
            sorted(set(snap.get("absorbed_dv_ids", [])) | {d["index"] for d in dvs}),
        ):
            shutil.rmtree(out_dir, ignore_errors=True)
            return None
        self._mark_op("mrgop", op_id, snapshot=n_snap)
        return n_snap, len(rewritten), len(kept)

    def delete_where_pruned(self, spark: SparkSession, where: list[tuple], target_files: int = 2) -> int | None:
        """FILE-LEVEL copy-on-write DELETE: zone maps pick the candidate
        files (exactly ``visible_files(where)``); only those are read,
        filtered and rewritten — every other visible file is carried
        into the new snapshot by hardlink, i.e. a manifest pointer copy,
        no data movement (object-store mapping: the new manifest simply
        references the old objects in place, the Delta/Iceberg COW
        model). Its stats ride along unchanged, so skipping keeps
        working without re-reading footers. At 100 TB a point delete
        rewrites the handful of straddling files, not the table.

        Same predicate language as ``read(where=...)``, with SQL DELETE
        semantics: only rows whose predicate is TRUE go — a row whose
        predicate is NULL survives, in candidate and non-candidate files
        alike. Returns the snapshot index, None when the table is empty
        or the CAS lost.
        """
        from pyspark.sql import functions as F

        doomed = F.coalesce(_where_cond(where), F.lit(False))
        res = self._cow_rewrite(
            spark,
            lambda e: _entry_may_match(e, where),
            lambda rows: rows.filter(~doomed),
            target_files=target_files,
        )
        return None if res is None else res[0]

    def compact_small_files(
        self,
        spark: SparkSession,
        small_rows: int = 100_000,
        target_files: int = 1,
        order_by: list[str] | None = None,
    ) -> tuple[int, int, int] | None:
        """INCREMENTAL compaction (the Delta OPTIMIZE binpack shape):
        merge only the files with fewer than ``small_rows`` rows —
        the steady-state litter of streaming appends and MOR upserts —
        and pointer-copy every already-well-sized file with its stats.
        ``compact()`` is O(table) every run; under continuous ingest the
        table re-pays a full rewrite per maintenance cycle even though
        yesterday's compacted files never changed. This pass is
        O(small files + tombstoned files), which is what a 100-TB table
        runs hourly.

        Delete-vector interplay: files referenced by visible DVs join
        the rewrite set regardless of size, and the new snapshot
        absorbs those DVs — so the pass doubles as cheap tombstone
        absorption for MOR-heavy tables. File row counts come from the
        manifest.
        ``order_by`` clusters the MERGED OUTPUT only (range partition +
        in-file sort); pointer-copied files keep their layout. Bucketed
        tables binpack through the bucket-preserving write seam.
        Returns ``(snapshot_index, n_merged, n_pointer_copied)`` or
        None when there is nothing to do (≤1 small file and no pending
        DVs) or the snapshot CAS was lost.
        """
        return self._cow_rewrite(
            spark,
            lambda e: e["rows"] < small_rows,
            target_files=target_files,
            order_by=order_by,
            # nothing worth merging, no tombstones to absorb
            skip=lambda _dirs, n_touched, has_dvs: n_touched <= 1 and not has_dvs,
        )

    def maintenance_report(self, small_rows: int = 100_000) -> dict:
        """Manifest-only maintenance advisor — the signal an operator (or
        a cron) reads to decide WHICH maintenance pass a table needs,
        without opening a single data file:

            n_files            visible data files
            n_small_files      files under ``small_rows``
            pending_dv_rows    tombstones every read currently anti-joins
            n_visible_dvs      unabsorbed delete-vector commits
            n_void_mor_batches crashed MOR publishes awaiting repair
            binpack_due        >1 small file or any pending DV
                               (``compact_small_files`` is the cheap fix)
            compact_due        small files dominate (>50%) — a full
                               ``compact()``/ordered rewrite pays off

        At 100 TB this is the hourly cron's only read: one snapshot +
        commit-log listing, O(files) dict arithmetic.
        """
        state = self._list_state()
        plan = self._listed_entries(state.manifests)
        n_files = len(plan)
        n_small = sum(1 for e, _b in plan if e["rows"] < small_rows)
        # the advisor reads the VISIBLE state: staged-unpublished DVs
        # (an open pending-mode transaction) are not pending read work,
        # and every rewrite DEFERS while one exists — advising binpack
        # on staged tombstones would make the cron act into the loud
        # open-transaction refusal, breaking the always-clears contract.
        # The open transaction is surfaced explicitly instead. Void-MOR
        # detection runs against the same listing (the report stays a
        # single snapshot + commit-log pass at any batch count).
        dvs = state.dvs
        n_staged_open = len(state.staged_open)
        dv_rows = sum(int(d.get("rows", 0)) for d in dvs)
        n_void = len(self._void_mors(state))
        return {
            "n_files": n_files,
            "n_small_files": n_small,
            "pending_dv_rows": dv_rows,
            "n_visible_dvs": len(dvs),
            "n_void_mor_batches": n_void,
            "staged_merges_open": n_staged_open,
            # thresholds mirror the actions' own no-op conditions so the
            # advice always clears once acted on: compact_small_files
            # no-ops at <=1 small file with no DVs, compact() at <=1 dir;
            # both DEFER while a staged merge is open, so the advice does
            # too (act after commit()/reset())
            "binpack_due": (n_small > 1 or bool(dvs)) and n_staged_open == 0,
            "compact_due": n_files > 1 and n_small * 2 > n_files and n_staged_open == 0,
        }

    # -- merge-on-read delete vectors (Iceberg v2 / Delta DV model) --------
    #
    # delete_where_pruned (file-level COW) still REWRITES every straddling
    # file — at 100 TB a point delete should write a positional tombstone
    # and merge it at read, letting compaction absorb the tombstones later
    # (VERDICT r8 #4). A delete vector here is a parquet relation of
    # (file basename, row position) pairs under <root>/_deletes/, published
    # by a CAS'd commit `_commits/dv-<i>.json` (_publish_tombstones is its
    # one writer). Readers anti-join visible DVs on each scanned row's
    # position (_positions); the rewrite core (_cow_rewrite) applies
    # visible DVs to the data it merges and records them in the new
    # snapshot's ``absorbed_dv_ids``.
    #
    # Concurrency protocol (no lost updates, pure CAS): a DV computed
    # against snapshot s is valid only while no REAL snapshot s+1 rewrites
    # the files it references (parquet part names embed uuids and are never
    # reused, so a stale DV degrades to a no-op — rows RESURRECT rather
    # than corrupt, which is still wrong). So after committing dv-<i>, the
    # deleter CAS-creates snapshot-(s+1) as a BARRIER — a content-identical
    # copy of snapshot s (plus {"barrier": true}). Exactly one of
    # {deleter's barrier, a concurrent compactor's real snapshot} wins
    # index s+1:
    #   * barrier won  -> any later rewrite starts from s+1 and must list
    #     dv-<i>, apply it, and absorb it;
    #   * real snapshot won -> if it lists dv-<i> in absorbed_dv_ids the
    #     compactor applied it (done); if a barrier from ANOTHER deleter
    #     won, files are unchanged — re-guard at s+2; otherwise this DV
    #     raced a rewrite and lost: it is void (dead basenames) and the
    #     delete recomputes against the fresh layout.
    # Void DVs stay in the log unabsorbed until the next rewrite absorbs
    # them as no-ops; they never affect results.

    def _dv_commits(self) -> dict[int, dict]:
        """One listing of the DV log. STAGED delete vectors (pending-mode
        ``upsert_mor``: ``"staged": true`` in the commit) are annotated
        with ``"_published"`` from the SAME directory listing — an epoch
        file naming the index in its ``dv_indexes`` is the atomic publish
        — so every consumer decides staged-visibility and data-visibility
        from one coherent snapshot of ``_commits/`` (the ADVICE r11
        one-listing rule extended to the transaction boundary)."""
        out: dict[int, dict] = {}
        epoch_files: list[str] = []
        commits = os.path.join(self.root, "_commits")
        for f in os.listdir(commits):
            if f.startswith("dv-") and f.endswith(".json"):
                with open(os.path.join(commits, f)) as fh:
                    d = json.load(fh)
                out[int(d["index"])] = d
            elif f.startswith("epoch-") and f.endswith(".json"):
                epoch_files.append(f)
        # parse epoch payloads only when a staged DV exists (round-13
        # review: transaction-free tables — the common case — must not
        # pay O(epochs) json parses per listing for an annotation no
        # entry needs)
        if any(d.get("staged") for d in out.values()):
            published: set[int] = set()
            for f in epoch_files:
                with open(os.path.join(commits, f)) as fh:
                    e = json.load(fh)
                published.update(int(i) for i in e.get("dv_indexes", []))
            for i, d in out.items():
                if d.get("staged"):
                    d["_published"] = i in published
        return out

    @staticmethod
    def _dv_live(d: dict) -> bool:
        """A DV participates in visibility iff it is not a staged
        pending-mode commit, or its staging epoch has published."""
        return not d.get("staged") or bool(d.get("_published"))

    def visible_dvs(self) -> list[dict]:
        """DV commits not yet absorbed by the latest snapshot (includes
        raced-and-void DVs, which no-op via dead basenames). Callers that
        also consume the data listing take both from one ``_list_state``
        instead. Staged pending-mode DVs enter only once their epoch
        publishes."""
        return self._list_state().dvs

    def _dv_relation(self, spark: SparkSession, dvs: list[dict]) -> DataFrame:
        paths = [os.path.join(self.root, d["dir"]) for d in dvs]
        return spark.read.schema("file string, pos long").parquet(*paths).select("file", "pos").distinct()

    @staticmethod
    def _positions(df: DataFrame) -> DataFrame:
        """Tag a parquet scan with each row's position: ``_dv_file`` (the
        file basename) and ``_dv_pos`` (its row index) — the key of a
        delete vector. Must be applied directly on the scan (before other
        projections), while the hidden ``_metadata`` struct is still
        resolvable."""
        from pyspark.sql import functions as F

        return df.withColumn(
            "_dv_file", F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
        ).withColumn("_dv_pos", F.col("_metadata.row_index"))

    @classmethod
    def _apply_dv(cls, df: DataFrame, dvrel: DataFrame) -> DataFrame:
        """Anti-join a file scan against a DV relation (see ``_positions``
        for where it may be applied)."""
        out = cls._positions(df).join(
            dvrel.withColumnRenamed("file", "_dv_file").withColumnRenamed("pos", "_dv_pos"),
            ["_dv_file", "_dv_pos"],
            "left_anti",
        )
        return out.drop("_dv_file", "_dv_pos")

    def _create_barrier_snapshot(self, prior: dict | None) -> bool:
        """CAS a content-identical barrier at the next snapshot index."""
        prior = prior or {}
        return self._cas_snapshot(
            (prior["index"] + 1) if prior else 0,
            list(prior.get("compacted_dirs", [])),
            list(prior.get("absorbed_batch_ids", [])),
            prior.get("files", {}),
            list(prior.get("absorbed_dv_ids", [])),
            barrier=True,
        )

    def _publish_tombstones(
        self, spark: SparkSession, plan, fields, *, op_id, what: str, absorbed_batch=None
    ) -> tuple[int | None, int] | None:
        """THE merge-on-read publish ``delete_where_dv`` and ``upsert_mor``
        are short callers of (the barrier protocol is in the section
        comment above):

        1. take ONE ``_list_state``; its snapshot is ``prior``;
        2. ``plan(state)`` returns the NEW tombstones as a ``(file, pos)``
           relation — the caller picks the candidate files from the
           state's manifests and anti-joins the positions its DVs already
           tombstone — or None when no file is a candidate;
        3. the tombstones are written ONCE; their count and referenced
           files ride the write as observed metrics;
        4. ``dv-<idx>.json`` is CAS'd from the common fields plus
           ``fields(first, state)`` (``first``: this call has not
           published a DV yet), bumping past concurrent publishers'
           indexes;
        5. the guard loop occupies (or inspects) the next snapshot index:
           barrier won or DV absorbed -> done; another writer's barrier
           over ``prior``'s layout -> re-guard; anything else (a real
           rewrite, or a barrier copying one) -> the DV is void,
           recompute (at most 5 attempts). ``absorbed_batch(latest, idx)
           -> bool`` may settle that last case first (MOR's
           absorbed-without-its-DV verify).

        Returns ``(dv_index, n)``; when nothing is left to tombstone,
        None if this call published no DV and ``(None, 0)`` if it did (a
        void-retry found the work done). Replay markers are the
        callers'."""
        import shutil

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        def layout(s: dict | None) -> tuple:
            s = s or {}
            return s.get("compacted_dirs", []), sorted(s.get("absorbed_batch_ids", []))

        commits = os.path.join(self.root, "_commits")
        published = False
        for _attempt in range(5):
            state = self._list_state()
            prior = state.snap
            hits = plan(state)
            n = 0
            if hits is not None:
                rel_dir = os.path.join("_deletes", f"dv-{uuid.uuid4().hex[:12]}")
                out_dir = os.path.join(self.root, rel_dir)
                # the count + distinct-file facts the commit needs ride the
                # write action itself as observed metrics (zero read-back
                # actions; was write + read-back — r14 opt). repartition(1)
                # instead of coalesce(1): coalesce collapses the ENTIRE
                # candidate position scan into one task, while a repartition
                # keeps the scan parallel and shuffles only the matched
                # positions (O(batch), 16B rows) into the single output file.
                obs = Observation()
                (
                    hits.observe(obs, F.count(F.lit(1)).alias("_n"), F.collect_set("file").alias("_files"))
                    .repartition(1)
                    .write.mode("overwrite")
                    .parquet(out_dir)
                )
                got = obs.get
                n = got["_n"]
                if n == 0:
                    shutil.rmtree(out_dir, ignore_errors=True)
            if n == 0:
                return (None, 0) if published else None
            idx = max(state.dv_commits, default=-1) + 1
            while True:  # dv-index CAS (concurrent publishers bump past each other)
                payload = {
                    "index": idx,
                    "dir": rel_dir,
                    "rows": n,
                    "files": sorted(got["_files"]),
                    "read_snapshot": prior["index"] if prior else -1,
                    "as_of_epoch": self._log_position()[1],
                    "op_id": op_id,
                    **fields(not published, state),
                }
                if self._atomic_create(os.path.join(commits, f"dv-{idx}.json"), json.dumps(payload)):
                    break
                idx += 1
            published = True
            # guard loop: occupy (or inspect) the next snapshot index
            guard = prior
            while True:
                if self._create_barrier_snapshot(guard):
                    return idx, n
                latest = self._latest_snapshot()
                if idx in set(latest.get("absorbed_dv_ids", [])):
                    # a real snapshot raced us AND applied this DV
                    return idx, n
                if latest.get("barrier") and layout(latest) == layout(prior):
                    guard = latest  # another writer's barrier over our layout: files unchanged
                    continue
                if absorbed_batch is not None and absorbed_batch(latest, idx):
                    return idx, n
                break  # real snapshot rewrote our files: dv is void; recompute
        raise RuntimeError(f"{what}: lost the snapshot race 5 times to concurrent rewrites")

    def delete_where_dv(
        self, spark: SparkSession, where: list[tuple], op_id: str | None = None
    ) -> tuple[int, int] | None:
        """MERGE-ON-READ row delete: writes a delete vector instead of
        rewriting files. Same predicate language as ``read(where=...)``;
        zone-map/bloom pruning picks the candidate files, only THOSE are
        scanned (for positions, not rewritten). Returns
        ``(dv_index, n_deleted)`` or None when no row matches (or a
        replayed ``op_id`` short-circuits). ``op_id`` gives replay
        idempotence: a CAS'd ``dvop-<op_id>.marker`` makes re-running the
        same logical delete a no-op — without it a replay would no-op
        anyway (positions already tombstoned are excluded), but would
        burn a DV commit per replay.

        At 100 TB: a point delete costs one pruned scan + one tombstone
        parquet of the matching positions — no data rewrite. Reads pay
        one anti-join against the (small) DV relation until compaction
        absorbs it; ``compact()`` restores the zero-join read path.
        """
        from pyspark.sql import functions as F

        cond = _where_cond(where)
        if self._op_done("dvop", op_id):
            return None

        def plan(state):
            cand = self._prune_paths(state.manifests, where)
            if not cand:
                return None
            hits = (
                self._positions(spark.read.schema(self.schema()).parquet(*cand))
                .filter(cond)
                .select(F.col("_dv_file").alias("file"), F.col("_dv_pos").alias("pos"))
            )
            # already-tombstoned positions don't re-delete (exact count)
            dvs = state.dvs
            return hits.join(self._dv_relation(spark, dvs), ["file", "pos"], "left_anti") if dvs else hits

        def fields(_first, state):
            return {
                "where": [[c, op, _stat_norm(v)] for c, op, v in where],
                # ALL batch markers ever committed (absorbed included):
                # after a rewrite absorbs every marker, committed_ids() is
                # empty and the old max(committed_ids) stamp was -1 —
                # ordering this DV BEFORE every historical point, so
                # read_as_of(batch_id=N) for any pre-rewrite N wrongly
                # applied it and then raised "references a compacted
                # layout". A DV taken when batch N was the latest write
                # orders after N regardless of later absorption. CHANGE
                # commits count too (round 10): a MERGE batch in an upsert
                # pipeline has no batch marker — only a change-<id> commit
                # — so a DV taken after merges 1..N used to stamp as-of the
                # seed batch, mis-ordering it BEFORE those merges in the
                # change feed (a feed consumer would delete, then the
                # replayed merges resurrect) and wrongly applying it to
                # pre-merge time travel.
                "as_of_batch": max([*state.committed, *self._change_commits()], default=-1),
            }

        res = self._publish_tombstones(spark, plan, fields, op_id=op_id, what="delete_where_dv")
        idx, n = res or (None, 0)
        self._mark_op("dvop", op_id, rows=n, dv=idx)
        return None if idx is None else (idx, n)

    # -- change-data-feed (round 9, VERDICT r8 #7) -------------------------
    #
    # The Delta CDF surface for this manifest: a downstream pipeline
    # consumes upserts incrementally instead of re-reading the table.
    # Append batches need no extra storage — the batch dir IS the change
    # set ('insert'). MERGE batches materialize the whole merged table
    # into a snapshot, so their per-batch change set must be logged at
    # merge time: ``log_changes`` writes the (deduped) update rows to
    # ``_changes/`` under a CAS'd ``change-<id>.json`` commit — one
    # batch-sized write per batch, never table-sized, idempotent under
    # replay. DV deletes surface as 'delete' change rows on request
    # (include_deletes): the deleted VALUES are reconstructed by joining
    # the DV's (file, pos) tombstones back onto the referenced files —
    # which survive until vacuum, the same retention the rest of the
    # feed already has. A DV orders into the feed at its as_of stamp
    # (it logically follows that batch's changes).

    def log_changes(self, df: DataFrame, batch_id: int, change_type: str = "upsert") -> bool:
        """Record ``df`` as batch ``batch_id``'s change set. Returns False
        (no write) when the batch already has a change log — replay-safe."""
        commit = os.path.join(self.root, "_commits", f"change-{batch_id}.json")
        if os.path.exists(commit):
            return False
        os.makedirs(os.path.join(self.root, "_changes"), exist_ok=True)
        rel = os.path.join("_changes", f"batch-{batch_id}-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        created = self._atomic_create(
            commit, json.dumps({"batch_id": batch_id, "dir": rel, "type": change_type})
        )
        if not created:
            import shutil

            shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
        return created

    def _change_commits(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        commits = os.path.join(self.root, "_commits")
        for f in os.listdir(commits):
            if f.startswith("change-") and f.endswith(".json"):
                with open(os.path.join(commits, f)) as fh:
                    d = json.load(fh)
                out[int(d["batch_id"])] = d
        return out

    def _change_sources(self, after_batch_id: int) -> list[tuple[int, str, str]]:
        """(batch id, relative dir, change type) for every committed batch
        past ``after_batch_id``, oldest first — the feed's source list
        (``changes()`` unions them; an incremental consumer reads them
        one at a time)."""
        logged = self._change_commits()
        # ONE listing feeds both the committed set and the typing: each
        # entry carries its own "mor" flag (round-13 review — a separate
        # MOR listing could miss a merge batch that an epoch rename
        # published in between, typing it 'insert' and making a mirror
        # append duplicates instead of merging)
        committed = self._list_state().committed
        sources: list[tuple[int, str, str]] = []
        for b, m in sorted(committed.items()):
            if b <= after_batch_id:
                continue
            if b in logged:
                sources.append((b, logged[b]["dir"], logged[b].get("type", "upsert")))
            else:
                # a MOR batch's dir IS its change set, and its rows REPLACE
                # matched keys downstream — type 'upsert', not 'insert'
                sources.append(
                    (b, os.path.join("data", m["dir"]), "upsert" if m.get("mor") else "insert")
                )
        # merge batches absorbed into snapshots keep their change commit
        # even though the batch id never got a data dir of its own
        for b, d in sorted(logged.items()):
            if b > after_batch_id and all(b != sb for sb, _dir, _t in sources):
                sources.append((b, d["dir"], d.get("type", "upsert")))
        sources.sort()
        return sources

    def changes(
        self, spark: SparkSession, after_batch_id: int = -1, include_deletes: bool = False
    ) -> DataFrame:
        """Change rows for every committed batch with id > ``after_batch_id``,
        oldest first: the table schema plus ``_change_batch_id`` /
        ``_change_type`` ('insert' for plain appends, 'upsert' for logged
        MERGE batches, and — with ``include_deletes`` — 'delete' rows
        carrying the full deleted values, reconstructed by joining each
        delete vector's (file, pos) tombstones onto its referenced
        files; a DV enters the feed at its as-of batch, which it
        logically follows). Applying the feed in batch-id order onto any
        copy of the pre-feed state — upserting inserts/upserts, anti-
        joining deletes — reconverges it with the source table (the
        replay contract q208 pins). Batch dirs double as insert change
        sets, so the feed stays valid until ``vacuum`` reclaims absorbed
        dirs — the same retention rule as time travel."""
        schema = self.schema()
        if schema is None:
            raise ValueError(f"sink table at {self.root} has never been written")
        sources = self._change_sources(after_batch_id)
        sources.sort()
        from pyspark.sql import functions as F

        cols = [f.name for f in schema.fields]
        out: DataFrame | None = None
        for b, rel, ctype in sources:
            path = os.path.join(self.root, rel)
            if not os.path.exists(path):
                raise ValueError(f"change source for batch {b} was vacuumed: {rel}")
            part = (
                spark.read.schema(schema).parquet(path)
                .select(*cols)
                .withColumn("_change_batch_id", F.lit(b).cast("long"))
                .withColumn("_change_type", F.lit(ctype))
            )
            out = part if out is None else out.unionByName(part)
        if include_deletes:
            dv_rows = self._dv_change_rows(spark, after_batch_id)
            if dv_rows is not None:
                out = dv_rows if out is None else out.unionByName(dv_rows)
        if out is None:
            empty = T.StructType(
                list(schema.fields)
                + [T.StructField("_change_batch_id", T.LongType()), T.StructField("_change_type", T.StringType())]
            )
            return spark.createDataFrame([], empty)
        return out

    def _dv_change_rows(
        self, spark: SparkSession, after_batch_id: int, indexes: set[int] | None = None
    ) -> DataFrame | None:
        """'delete' change rows: each qualifying DV's tombstones joined
        back onto its referenced files to recover the deleted values.
        ``indexes`` narrows to specific DV commits (a change-feed
        consumer tracking applied DVs individually — two DVs can share
        one as-of batch, so batch-grain cursors alone can't address
        them); None keeps the as-of-batch filter only."""
        from pyspark.sql import functions as F

        schema = self.schema()
        cols = [f.name for f in schema.fields]
        # basenames are uuid-unique across the table: one walk of data/
        # maps each referenced file to its directory
        path_of: dict[str, str] = {}
        data_root = os.path.join(self.root, "data")
        for root_dir, _dirs, files in os.walk(data_root):
            for fn in files:
                if fn.endswith(".parquet"):
                    path_of[fn] = os.path.join(root_dir, fn)
        out: DataFrame | None = None
        for i, d in sorted(self._dv_commits().items()):
            if d.get("mor"):
                # a MOR upsert's DV tombstones SUPERSEDED row versions, not
                # logical rows — the upsert batch itself is the change set;
                # surfacing these as 'delete' rows would make a feed
                # consumer delete keys it just upserted
                continue
            asof = int(d.get("as_of_batch", -1))
            if indexes is not None and i not in indexes:
                continue
            if indexes is None and asof <= after_batch_id:
                continue
            dv_dir = os.path.join(self.root, d["dir"])
            missing = [f for f in d.get("files", []) if f not in path_of]
            if missing or not os.path.exists(dv_dir):
                raise ValueError(
                    f"delete vector {i}'s change source was vacuumed or rewritten: "
                    f"{(missing or [d['dir']])[:3]}"
                )
            scan = self._positions(spark.read.schema(schema).parquet(*[path_of[f] for f in d["files"]]))
            dvrel = (
                spark.read.schema("file string, pos long").parquet(dv_dir)
                .withColumnRenamed("file", "_dv_file")
                .withColumnRenamed("pos", "_dv_pos")
                .distinct()
            )
            part = (
                scan.join(dvrel, ["_dv_file", "_dv_pos"])
                .select(*cols)
                .withColumn("_change_batch_id", F.lit(asof).cast("long"))
                .withColumn("_change_type", F.lit("delete"))
            )
            out = part if out is None else out.unionByName(part)
        return out

    def _plan_key_touched(
        self,
        updates: DataFrame,
        keys: list[str],
        max_distinct_keys: int,
        dup_error: str | None = None,
    ):
        """Driver-side touched-file planning shared by ``merge_rows_pruned``
        and ``upsert_mor`` (the Delta touched-file job): collect the update
        keys (distinct, capped) and return a predicate
        ``touched(manifest_entry) -> bool`` that is True unless the entry's
        zone maps / blooms / null counts PROVE no row can match any update
        key. Returns None when ``updates`` has no rows (caller no-ops).
        Above ``max_distinct_keys`` the test degrades to per-column
        [min,max] range overlap — still sound, just coarser. NULL key
        components plan through per-file footer null counts (window-merge
        semantics: NULL matches NULL).

        ``dup_error``: both merge surfaces must reject an updates batch
        carrying duplicate keys; the per-key counts ride the SAME grouped
        collect the key planning already pays (one Spark action instead of
        a separate groupBy/isEmpty job per merge batch — r14 opt). When
        set, raises ``ValueError(dup_error)`` on any duplicated key; above
        the cap the global max-count gate rides the fallback aggregate."""
        from pyspark.sql import functions as F

        grouped = updates.groupBy(*keys).agg(F.count(F.lit(1)).alias("_pkt_n"))
        key_rows = grouped.limit(max_distinct_keys + 1).collect()
        if not key_rows:
            return None
        if len(key_rows) > max_distinct_keys:
            key_tuples = None  # range-overlap fallback
            null_tuples: list[tuple] | None = None
            agg = grouped.agg(
                *([F.max("_pkt_n").alias("dup_mx")] if dup_error else []),
                *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(keys)],
                *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(keys)],
                *[F.max(F.col(c).isNull().cast("int")).alias(f"nl_{i}") for i, c in enumerate(keys)],
            ).first()
            if dup_error and agg["dup_mx"] > 1:
                raise ValueError(dup_error)
            key_ranges = {c: (agg[f"mn_{i}"], agg[f"mx_{i}"]) for i, c in enumerate(keys)}
            null_cols = {c for i, c in enumerate(keys) if agg[f"nl_{i}"]}
        else:
            if dup_error and any(r["_pkt_n"] > 1 for r in key_rows):
                raise ValueError(dup_error)
            # NULL components never match a zone map, and min()/max()/
            # sorted() choke comparing None against values (ADVICE r10) —
            # keep the range/bisect structures null-free and plan
            # null-keyed tuples through the per-file NULL counts instead
            # (window-merge semantics treat NULL keys as equal, so a file
            # holding a null-keyed row MUST be rewritten when an update
            # key carries a NULL in that column)
            all_tuples = [tuple(r)[: len(keys)] for r in key_rows]
            null_tuples = [t for t in all_tuples if any(v is None for v in t)]
            key_tuples = [t for t in all_tuples if all(v is not None for v in t)]
            null_cols = {c for t in null_tuples for c, v in zip(keys, t) if v is None}
            key_ranges = (
                {
                    c: (min(t[i] for t in key_tuples), max(t[i] for t in key_tuples))
                    for i, c in enumerate(keys)
                }
                if key_tuples
                else None
            )
        # sorted per-column values for the single-key bisect fast path
        sorted_vals = sorted(_stat_norm(t[0]) for t in key_tuples) if key_tuples and len(keys) == 1 else None

        def _null_may_match(entry: dict, stats: dict, t: tuple) -> bool:
            # a row matches a null-keyed tuple iff every None component sits
            # in a file that may hold NULLs in that column (footer count
            # unknown or > 0) and every non-None component passes the usual
            # zone-map/bloom test
            nulls = entry.get("nulls") or {}
            blooms = entry.get("bloom") or {}
            for c, v in zip(keys, t):
                if v is None:
                    if nulls.get(c) == 0:
                        return False
                    continue
                if not _file_may_match(stats, c, "==", v):
                    return False
                bl = blooms.get(c)
                if bl is not None and not _bloom_test(bl, v):
                    return False
            return True

        def _touched(entry: dict) -> bool:
            stats = entry.get("stats") or {}
            if not stats:
                return True  # no stats recorded: must rewrite, never wrong
            if key_tuples is None and null_cols:
                # range fallback carrying null keys: coarse per-column test
                # (file may hold NULLs in a null-bearing key column => keep)
                nulls = entry.get("nulls") or {}
                if any(nulls.get(c) != 0 for c in null_cols):
                    return True
            if null_tuples and any(_null_may_match(entry, stats, t) for t in null_tuples):
                return True
            if key_ranges is None:
                return False  # every update key carries a NULL; decided above
            # cheap range gate first (covers the fallback path completely)
            for c in keys:
                if not (
                    _file_may_match(stats, c, ">=", key_ranges[c][0])
                    and _file_may_match(stats, c, "<=", key_ranges[c][1])
                ):
                    return False
            if key_tuples is None:
                return True  # range fallback: overlap on every column => touched
            blooms = entry.get("bloom") or {}
            if sorted_vals is not None:
                import bisect

                s = stats.get(keys[0])
                if s is None:
                    in_range = sorted_vals
                else:
                    try:
                        lo = bisect.bisect_left(sorted_vals, s[0])
                        hi = bisect.bisect_right(sorted_vals, s[1])
                    except TypeError:
                        return True  # cross-type bounds: keep
                    in_range = sorted_vals[lo:hi]
                    if not in_range:
                        return False
                b = blooms.get(keys[0])
                if b is None:
                    return True
                return any(_bloom_test(b, v) for v in in_range)
            for t in key_tuples:  # composite key: first tuple that may match wins
                ok = True
                for c, v in zip(keys, t):
                    if not _file_may_match(stats, c, "==", v):
                        ok = False
                        break
                    bl = blooms.get(c)
                    if bl is not None and not _bloom_test(bl, v):
                        ok = False
                        break
                if ok:
                    return True
            return False

        return _touched

    def merge_rows_pruned(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: list[str],
        target_files: int = 4,
        max_distinct_keys: int = 100_000,
        op_id: str | None = None,
        delete: bool = False,
    ) -> tuple[int, int, int] | None:
        """FILE-LEVEL copy-on-write keyed MERGE (VERDICT r9 #1): rows of
        ``updates`` REPLACE current rows sharing their key and unmatched
        keys insert — the SQL MERGE WHEN MATCHED UPDATE / WHEN NOT
        MATCHED INSERT shape (whole-row updates) as one atomic snapshot.
        With ``delete=True`` matched keys are REMOVED and unmatched keys
        ignored: the keyed DELETE a CDC consumer needs. Key matching is
        ``_key_match``'s everywhere: a NULL key component matches NULL,
        for the upsert window and the keyed delete alike. ``updates``
        must carry the table schema; duplicate keys WITHIN an upsert's
        updates are rejected (ambiguous merge source, the standard MERGE
        error); a keyed delete tolerates them.

        Only the files whose zone-maps/blooms admit at least one update
        key are read and rewritten (``_plan_key_touched``); every other
        visible file is carried into the new snapshot by pointer copy
        with its stats (``_cow_rewrite``). At 100 TB a CDC micro-batch
        touching one key range rewrites the straddling files, not the
        table — write amplification is O(touched files).

        Why pruning is sound: a row with key k can live in file f only
        if EVERY key column of k lies inside f's min/max bounds and
        passes f's bloom (when stamped). A file classified untouched
        therefore provably contains no row matching any update key, so
        pointer-copying it preserves MERGE semantics; matched rows all
        live in touched files, and insert keys land in the rewritten
        output. Files without stats and files referenced by visible
        delete vectors are always rewritten.

        The update keys are collected to the driver for the per-file
        test — the planning metadata pass every MERGE engine does
        (Delta's touched-file job). Above ``max_distinct_keys`` the
        test degrades to per-column [min,max] RANGE overlap — still
        sound, just coarser. ``updates`` must be deterministic (or
        pre-checkpointed, as the ingest pipeline does): its keys are
        collected once and its rows re-read for the rewrite.

        Concurrency/replay: the snapshot CAS races compactions and
        barrier snapshots like every ``_cow_rewrite`` caller (on a loss
        the output dir is removed and None returned — retry on the
        fresh state). ``op_id`` gives replay idempotence via a CAS'd
        ``mrgop-<op_id>.marker``. Returns
        ``(snapshot_index, n_rewritten_files, n_pointer_copied_files)``
        or None (empty table, no-op delete, replayed op_id, lost CAS).
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if self._op_done("mrgop", op_id):
            return None
        schema = self.schema()
        if schema is None:
            # never-written table: still validate the updates batch (the
            # main-path dup gate below rides the key planning this branch
            # skips)
            if not delete:
                dup = updates.groupBy(*keys).count().filter(F.col("count") > 1)
                if not dup.isEmpty():
                    raise ValueError("merge_rows_pruned: updates contain duplicate keys (ambiguous merge source)")
            return None
        if not delete and self.schema_evolution == "additive":
            # an update batch may ADD nullable columns (same contract as
            # write_batch) — without this, a CDC mirror replicating across
            # a source evolution would silently DROP the new column from
            # merged batches (the select(*cols) below projects to the
            # table schema)
            self._evolve_schema(updates)
            schema = self.schema()
        cols = schema.fieldNames()

        touched = self._plan_key_touched(
            updates,
            keys,
            max_distinct_keys,
            # keyed DELETE tolerates duplicate keys (same row set removed)
            dup_error=None if delete else "merge_rows_pruned: updates contain duplicate keys (ambiguous merge source)",
        )
        if touched is None:  # no update keys
            self._mark_op("mrgop", op_id, rows=0)
            return None

        if delete:
            upd_keys, match = _key_match(updates, keys)

            def _merge(rows: DataFrame) -> DataFrame:
                return rows.join(upd_keys, match, "left_anti").select(*cols)
        else:
            def _merge(rows: DataFrame) -> DataFrame:
                tagged = rows.select(*cols).withColumn("_prec", F.lit(0)).unionByName(
                    updates.select(*cols).withColumn("_prec", F.lit(1))
                )
                w = Window.partitionBy(*keys).orderBy(F.col("_prec").desc())
                return (
                    tagged.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_prec", "_rn")
                )

        return self._cow_rewrite(
            spark,
            touched,
            _merge,
            target_files=target_files,
            # no visible file can hold any delete key: the op is a no-op
            skip=(lambda _dirs, n_touched, _dvs: n_touched == 0) if delete else None,
            inserts=not delete,
            op_id=op_id,
        )

    def upsert_mor(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: list[str],
        batch_id: int,
        target_files: int | None = 1,
        max_distinct_keys: int = 100_000,
        op_id: str | None = None,
    ) -> tuple[int | None, int] | None:
        """MERGE-ON-READ keyed upsert (VERDICT r10 #2, the Hudi MOR /
        Iceberg-v2 equality-delete shape on this manifest): update rows
        land as an ordinary APPEND, and the superseded row versions are
        tombstoned by a delete vector instead of rewriting their files —
        write amplification per micro-batch is O(batch rows) + one pruned
        position scan, never O(touched files). The complement to
        ``merge_rows_pruned`` (COW): under continuous small CDC batches
        whose keys straddle many files, COW rewrites the same files every
        batch; MOR defers ALL rewriting to ``compact()``, which absorbs
        the accumulated tombstones in one pass. Reads pay one anti-join
        against the (small) DV relation until then — the standard MOR
        trade.

        Atomicity: the tombstones and the insert rows publish through ONE
        ``dv-<i>.json`` CAS — the commit carries both the (file, pos)
        tombstone relation and the insert manifest (``"mor": true,
        "insert": {batch_id, dir, files}``), so readers see the upsert
        entire or not at all; there is no torn delete-without-insert or
        duplicate-key window. A batch that matches NO existing key (pure
        insert) publishes through the plain batch-marker CAS instead —
        no DV, so stats-only aggregates and bucketed reads stay
        available.

        Concurrency/replay: the position scan runs against a listed
        snapshot and publishes through ``_publish_tombstones``, the
        barrier-snapshot core it shares with ``delete_where_dv`` — if a
        real snapshot rewrote the referenced files first, the tombstones
        are void (dead basenames; old rows would RESURRECT next to the
        new ones) and the scan
        recomputes against the fresh layout, committing a follow-up
        tombstone-only DV (the insert, already published, is never
        re-appended; its own files are excluded from every scan). A
        replayed ``batch_id`` short-circuits via ``_is_known``; ``op_id``
        adds a CAS'd ``morop-`` marker for crash windows between publish
        and the caller's own cursor. Zombie twins racing one batch id
        resolve deterministically: the LOWEST dv index's insert dir wins,
        the loser's dir is unreferenced garbage for vacuum, and both
        tombstone sets (identical content by the replay contract) apply
        harmlessly.

        Feed semantics: the batch enters ``changes()`` as type 'upsert'
        (its dir IS the change set); the mechanism DV is *excluded* from
        delete change rows — it tombstones superseded versions, not
        logical rows — so a ChangeFeedConsumer applies the batch as one
        keyed merge, same as a COW upsert. Time travel applies the DV
        exactly from its own batch id onward.

        PENDING MODE (round 13, the reference's R17 pending semantics
        composed with the MERGE surface): on a ``write_mode="pending"``
        table the upsert STAGES instead of publishing — the insert files
        land but the dv commit carries ``"staged": true`` (pure inserts
        CAS the staged marker like a plain pending append), and NOTHING
        is visible to reads, changes(), stats or consumers until
        ``commit()`` names the dv indexes in an epoch file: one rename
        flips the whole multi-batch transaction — inserts, upserts and
        tombstones — atomically (invisible -> commit -> visible,
        ``BigqueryStreamWriterIntegrationTest.java:103-116``). Within an
        open transaction, later staged upserts tombstone EARLIER staged
        rows too (the candidate scan includes the staged members), so a
        multi-batch CDC feed staged under one epoch converges to its
        final state at publish. ``reset()`` discards the staged merges
        entirely. Maintenance (compact/binpack/zorder/COW ops) defers
        with a loud error while a staged merge is open — a rewrite's
        renames would void never-yet-visible tombstones
        (_rewrite_listing guard); vacuum pins the staged dirs with no
        retention clock. Tombstones are computed against the stage-time
        state, so concurrent COMMITTED writers to the same keys during
        an open transaction are outside the contract (single-finalizer,
        like the reference's pending stream).

        Returns ``(dv_index | None, n_tombstoned)`` — dv_index None for
        the pure-insert path — or None for a replayed/empty batch.
        """
        import shutil

        from pyspark.sql import functions as F

        pending = self.write_mode == "pending"
        if self._op_done("morop", op_id):
            return None
        repair = False
        if self._is_known(batch_id):
            # Replay short-circuit — EXCEPT the one crash window the CAS
            # protocol can't close alone: publish landed, the process died
            # before the barrier guard, and a concurrent real snapshot had
            # already rewritten the referenced files — the tombstones are
            # void (dead basenames) and the superseded versions RESURRECT
            # next to the new rows. Detectable from manifest metadata
            # alone: a mor DV for this batch that is neither absorbed nor
            # fully visible-by-basename. The repair re-runs the tombstone
            # pass with the batch's own persisted rows as the updates (its
            # keys ARE the update keys) and publishes a follow-up
            # tombstone-only DV through the same guard loop.
            state = self._list_state()
            void_ids = self._mor_void_dvs(state, batch_id)
            if not void_ids:
                return None
            ins = state.committed.get(batch_id)
            if ins is None or not os.path.exists(os.path.join(self.root, "data", ins["dir"])):
                # absorbed+vacuumed: a later rewrite applied everything and
                # vacuum reclaimed the batch dir — nothing verifiable
                # remains, so record the conclusion (the morfix marker)
                # rather than leave a permanently-void DV that every later
                # rewrite would re-detect (round-12 review: the
                # _rewrite_listing loop would otherwise never converge)
                self._mor_mark_repaired(batch_id, void_ids)
                return None
            updates = spark.read.schema(self.schema()).parquet(
                os.path.join(self.root, "data", ins["dir"])
            )
            repair = True
            if batch_id in state.absorbed:
                # distinct case (ADVICE r11): the batch was absorbed into
                # a compacted layout (its rows renamed) while this DV was
                # not — recomputing tombstones by key would delete the
                # upserted rows. Verify instead and mark repaired.
                self._verify_mor_merged(spark, updates, keys, batch_id)
                self._mor_mark_repaired(batch_id, void_ids)
                self._mark_op("morop", op_id, rows=0)  # crash-window dedup, like every exit
                return None
        if self.schema() is None:
            # seed write: nothing to tombstone — a plain append IS the
            # merge (dup gate kept standalone here: the seed runs once per
            # table and skips the key planning the fused gate rides on)
            if not repair:
                dup = updates.groupBy(*keys).count().filter(F.col("count") > 1)
                if not dup.isEmpty():
                    raise ValueError("upsert_mor: updates contain duplicate keys (ambiguous merge source)")
            res = self.write_batch(updates, batch_id)
            self._mark_op("morop", op_id, seed=True)
            return None if res.already_exists else (None, 0)
        if not repair and self.schema_evolution == "additive":
            self._evolve_schema(updates)
        schema = self.schema()
        cols = [f.name for f in schema.fields]
        touched = self._plan_key_touched(
            updates,
            keys,
            max_distinct_keys,
            # replay/repair paths re-read the batch's own published rows —
            # already validated at first publish
            dup_error=None if repair else "upsert_mor: updates contain duplicate keys (ambiguous merge source)",
        )
        if touched is None:  # no update rows
            self._mark_op("morop", op_id, rows=0)
            return None
        # omitted NULLABLE columns null-fill (the additive-evolution read
        # contract); a missing required column still fails loudly below
        missing = [c for c in cols if c not in updates.columns and schema[c].nullable]
        if missing:
            updates = updates.select(
                *updates.columns, *[F.lit(None).cast(schema[c].dataType).alias(c) for c in missing]
            )
        if repair:
            # the batch's files already exist and are already published
            data_dir = os.path.join(self.root, "data", ins["dir"])
            insert_manifest = {"batch_id": batch_id, "dir": ins["dir"], "files": ins["files"]}
        else:
            # the insert files are written ONCE, up front; they become
            # visible only at the publish CAS (marker or dv commit)
            rel_dir = os.path.join(f"batch={batch_id}", f"attempt={uuid.uuid4().hex[:12]}")
            data_dir = os.path.join(self.root, "data", rel_dir)
            self.retry.run(
                lambda: self._write_datafiles(updates.select(*cols), data_dir, target_files=target_files)
            )
            files = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
            insert_manifest = {
                "batch_id": batch_id,
                "dir": rel_dir,
                "files": _collect_file_stats(data_dir, files, self.bloom_columns, self.sum_columns),
            }
        own_files = {e["name"] for e in insert_manifest["files"]}
        own_batch_dir = f"batch={batch_id}"

        def plan(state):
            # ONE listing drives the candidate manifests, the staged-
            # transaction members AND the already-tombstoned filter below
            listing = state.manifests
            if pending:
                # staged rows publish in the SAME epoch as this merge, so
                # later staged upserts must tombstone superseded versions
                # inside the open transaction too — plain staged batches
                # and earlier staged MOR inserts join the candidate scan
                # (their tombstones become visible together at commit)
                listing = (
                    listing
                    + [m for _b, m in sorted(state.staged.items())]
                    + [m for _b, m in sorted(state.staged_mor.items())]
                )
            # never tombstone THIS batch's own rows: on a void-retry (or a
            # zombie twin's publish) the batch is already visible and its
            # files contain every update key
            listing = [
                m for m in listing
                if m["dir"] != own_batch_dir and not m["dir"].startswith(own_batch_dir + os.sep)
            ]
            cand = [
                os.path.join(base, e["name"])
                for e, base in self._listed_entries(listing)
                if e["name"] not in own_files and touched(e)
            ]
            if not cand:
                return None
            upd_keys, match = _key_match(updates, keys)
            hits = (
                self._positions(spark.read.schema(schema).parquet(*cand))
                .join(upd_keys, match, "left_semi")
                .select(F.col("_dv_file").alias("file"), F.col("_dv_pos").alias("pos"))
            )
            # already-tombstoned positions don't re-tombstone; in pending
            # mode the open transaction's staged DVs count (they publish
            # with this one)
            dvs = state.dvs + [state.dv_commits[i] for i in state.staged_open] if pending else state.dvs
            return hits.join(self._dv_relation(spark, dvs), ["file", "pos"], "left_anti") if dvs else hits

        def fields(first, _state):
            return {
                "mor": True,
                # the insert manifest rides only the FIRST dv commit
                "insert": insert_manifest if first and not repair else None,
                # key columns ride in the commit so a rewrite can re-derive
                # lost tombstones from the batch dir alone
                # (_repair_void_mors)
                "keys": list(keys),
                # the DV applies exactly from this batch onward: travel to
                # batch_id sees inserts + tombstones, travel before it sees
                # neither
                "as_of_batch": batch_id,
                # pending mode: invisible until an epoch file names this
                # index in dv_indexes (commit()); time travel then derives
                # visibility from that epoch, not as_of_epoch
                "staged": pending,
            }

        def absorbed_batch(latest, idx):
            if batch_id not in set(latest.get("absorbed_batch_ids", [])):
                return False
            # distinct case (ADVICE r11): the racing rewrite absorbed this
            # batch's insert rows — now under NEW basenames — without
            # absorbing this DV. A key-based recompute would tombstone the
            # upserted rows themselves; verify the merged state instead
            # (raises on duplicates), and mark the verified DV repaired so
            # later rewrites don't re-run the verify job for a conclusion
            # already reached.
            self._verify_mor_merged(spark, updates, keys, batch_id)
            if not repair:
                self._mor_mark_repaired(batch_id, [idx])
            return True

        res = self._publish_tombstones(
            spark, plan, fields, op_id=op_id, what="upsert_mor", absorbed_batch=absorbed_batch
        )
        if res is None and not repair:
            # pure insert: publish via the ordinary batch-marker CAS
            # (pending mode: the STAGED marker — invisible until the
            # epoch, exactly like a plain pending append)
            ins_marker = self._staged_marker(batch_id) if pending else self._commit_marker(batch_id)
            if self._atomic_create(ins_marker, json.dumps(insert_manifest)):
                res = (None, 0)
            else:
                shutil.rmtree(data_dir, ignore_errors=True)  # replay raced us
            self._mark_op("morop", op_id, rows=0)
            return res
        # published (or a void-retry found nothing left to tombstone: the
        # racing rewrite read a state already carrying our first DV's
        # effect, or the matched rows were concurrently deleted)
        idx, n = res or (None, 0)
        if repair:
            self._mor_mark_repaired(batch_id, void_ids)
        self._mark_op("morop", op_id, rows=n, dv=idx)
        return idx, n

    def _verify_mor_merged(self, spark: SparkSession, updates: DataFrame, keys: list[str], batch_id: int) -> None:
        """The distinct absorbed-batch/unabsorbed-DV case (ADVICE r11):
        a rewrite absorbed this MOR batch's insert rows — they now live
        under NEW basenames in the compacted layout — while one of the
        batch's DVs stayed unabsorbed (committed after the rewrite's
        listing). Recomputing tombstones BY KEY against that layout
        would tombstone the upserted rows themselves (the own-row
        exclusion is basename-based and the basenames changed): silent
        key deletion. Under the one-listing absorb discipline this
        state is only reachable when the merged content is already
        correct (the absorbing rewrite applied a visible DV — ours or a
        repair twin's — covering the superseded positions), so instead
        of recomputing, VERIFY: a torn absorb's signature is the
        superseded version surviving NEXT TO the new row — duplicate
        visible rows per batch key (keys an ``upsert_mor`` manages are
        unique by the merge contract). Any key showing >1 row raises
        loudly (manual intervention beats silent loss). Keys with 0 or
        1 rows whose values differ from the batch are LATER legitimate
        writes (a delete or a newer upsert landed between the absorb
        and this check), not corruption — a full-row equality check
        here would false-positive on them. Cost: one keyed semi-join +
        aggregate over the update keys (bounded by
        ``max_distinct_keys``)."""
        from pyspark.sql import functions as F

        upd_keys, match = _key_match(updates, keys)
        dup = (
            self.read(spark)
            .join(upd_keys, match, "left_semi")
            .groupBy(*[F.col(c) for c in keys])
            .count()
            .filter(F.col("count") > 1)
        )
        if not dup.isEmpty():
            raise RuntimeError(
                f"upsert_mor batch {batch_id}: the batch was absorbed by a rewrite "
                "without its delete vector and duplicate rows survive for its keys "
                "— refusing the key-based recompute that would delete the upserted "
                "rows with them. Either a torn absorb (two-listing rewrite or "
                "foreign writer) baked superseded versions in permanently, or a "
                "DIFFERENT in-flight upsert on a shared key is mid-void-retry and "
                "its own guard loop is about to tombstone the transient duplicate "
                "— retry this maintenance pass before escalating"
            )

    def _registered_consumers(self) -> list[dict]:
        """Change-feed consumer registrations under <root>/_consumers/
        (written by ``ChangeFeedConsumer``): each carries the consumer's
        cursor — ``after_batch_id`` and ``applied_dvs``."""
        reg_root = os.path.join(self.root, "_consumers")
        out: list[dict] = []
        if os.path.isdir(reg_root):
            for f in sorted(os.listdir(reg_root)):
                if not f.endswith(".json"):
                    continue
                path = os.path.join(reg_root, f)
                try:
                    with open(path) as fh:
                        reg = json.load(fh)
                except FileNotFoundError:
                    # a concurrent deregister() removed it between the
                    # listing and the open — the consumer released its
                    # hold; skip (same handling as _staged_manifests)
                    continue
                try:
                    reg["_mtime"] = os.path.getmtime(path)
                except OSError:
                    reg["_mtime"] = time.time()  # vanished post-read: fresh
                out.append(reg)
        return out

    def vacuum(
        self, retention_s: float = 24 * 3600.0, consumer_ttl_s: float | None = None
    ) -> list[str]:
        """Delete data directories no longer referenced by the manifest:
        batch dirs absorbed by a compaction snapshot and compacted dirs
        superseded by a newer snapshot. Safe to run any time after
        in-flight readers of the pre-compaction layout have finished —
        the snapshot switch means new readers never list these dirs.
        Returns the removed directory names.

        ``retention_s`` guards UNREFERENCED directories (attempt dirs
        under a live batch with no marker pointing at them, and batch
        dirs with no marker at all): an in-flight ``write_batch`` whose
        parquet has landed but whose marker CAS has not yet executed is
        indistinguishable from an orphan, so such dirs are only reclaimed
        once their mtime is older than the retention window (the
        Delta/Iceberg vacuum-retention rule). Manifest-REFERENCED but
        superseded dirs (absorbed batches, old compactions) were durably
        published and carry no writer race, so they are reclaimed
        regardless of age — the only precondition there is the in-flight
        reader one documented above.

        CONSUMER-AWARE (VERDICT r10 #2/#3): registered change-feed
        consumers (``_consumers/<id>.json``, mirrored by
        ``ChangeFeedConsumer`` on every cursor advance) pin their
        unconsumed change sources: batch dirs with id past the slowest
        registered ``after_batch_id``, delete-vector dirs some consumer
        has not applied, and any directory holding a file such a DV's
        change rows must be reconstructed from. Vacuum retains those
        regardless of absorption; everything a registered cursor has
        passed reclaims normally, and with no registrations the behavior
        is unchanged (an unregistered lagging consumer still fails
        LOUDLY on a vacuumed source — retention by registration, error
        by default).
        """
        import shutil

        now = time.time()

        def _old_enough(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) >= retention_s
            except OSError:
                return False  # vanished concurrently; nothing to reclaim

        state = self._list_state()
        committed = {b: m["dir"] for b, m in state.committed.items()}
        absorbed = state.absorbed
        # pending-mode MOR upserts stage through the DV log, not a marker:
        # their batch dirs would otherwise look orphaned and fall to the
        # retention clock — but an OPEN transaction must survive
        # arbitrarily long (commit()/reset() releases it, not time)
        staged = {b: m["dir"] for b, m in (*state.staged.items(), *state.staged_mor.items())}
        live_batches = set(state.batch_ids) | set(staged)
        live_dirs = {committed[b] for b in committed if b in live_batches} | set(staged.values())
        live_compacted = (state.snap or {}).get("compacted_dirs", [])
        # consumer pins: unconsumed change sources survive this vacuum.
        # consumer_ttl_s bounds the pin (ADVICE r11): a registration is a
        # LEASE, refreshed on every poll/advance (ChangeFeedConsumer
        # heartbeats idle polls too), so one whose file mtime is older
        # than the TTL belongs to an abandoned/crashed consumer — ignore
        # it rather than let it pin every change source forever. Such a
        # consumer, if it ever resumes, keeps the documented loud-failure
        # behavior on a reclaimed source. Default None = never expire
        # (the conservative pre-lease behavior). Sizing: the TTL must
        # exceed ONE commit's apply (read + merge) — the consumer
        # refreshes its lease before every source read (per-commit, not
        # just per-poll), so a long WORKLIST never lets the lease go
        # stale, only a single pathologically slow apply could.
        consumers = self._registered_consumers()
        if consumer_ttl_s is not None:
            consumers = [c for c in consumers if now - c.get("_mtime", now) < consumer_ttl_s]
        pinned_bids: set[int] = set()
        pinned_dvs: set[int] = set()
        pinned_files: set[str] = set()
        if consumers:
            min_after = min(int(c.get("after_batch_id", -1)) for c in consumers)
            pinned_bids = {b for b in committed if b > min_after}
            for i, d in state.dv_commits.items():
                if d.get("mor"):
                    # a MOR upsert's change source is its batch dir (pinned
                    # via the id above); the mechanism DV itself is not
                    # consumed by feed consumers
                    continue
                if any(i not in set(c.get("applied_dvs", [])) for c in consumers):
                    pinned_dvs.add(i)
                    pinned_files.update(d.get("files", []))

        def _holds_pinned_file(path: str) -> bool:
            if not pinned_files:
                return False
            for r, _dirs, files in os.walk(path):
                if any(f in pinned_files for f in files):
                    return True
            return False

        removed = []
        data_root = os.path.join(self.root, "data")
        for d in os.listdir(data_root):
            if d.startswith("batch="):
                bid = int(d.split("=", 1)[1])
                if bid in pinned_bids:
                    continue  # unconsumed change source of a lagging consumer
                if bid in live_batches:
                    # the batch is live: drop loser/orphan attempt dirs the
                    # manifest doesn't reference — but only past retention,
                    # because an attempt mid-CAS looks identical to a loser
                    for att in os.listdir(os.path.join(data_root, d)):
                        rel = os.path.join(d, att)
                        if rel in live_dirs or not os.path.isdir(os.path.join(data_root, rel)):
                            continue
                        if _old_enough(os.path.join(data_root, rel)):
                            shutil.rmtree(os.path.join(data_root, rel))
                            removed.append(rel)
                    continue
                if bid not in absorbed and bid not in committed:
                    # no marker anywhere: in-flight first write or crash
                    # orphan — retention decides which
                    if not _old_enough(os.path.join(data_root, d)):
                        continue
            elif d.startswith("compacted-"):
                if d in live_compacted:
                    continue
            else:
                continue
            if _holds_pinned_file(os.path.join(data_root, d)):
                continue  # an unconsumed DV reconstructs change rows from here
            shutil.rmtree(os.path.join(data_root, d))
            removed.append(d)
        # delete-vector dirs: absorbed DVs were applied by a rewrite and
        # are only needed for time travel (same rule as absorbed batch
        # dirs — reclaim regardless of age); committed-but-live DVs stay,
        # as do DVs a registered consumer has not applied yet; dirs with
        # no dv-commit at all are crashed attempts (retention)
        absorbed_dvs = set((state.snap or {}).get("absorbed_dv_ids", []))
        dv_dirs_live = {
            c["dir"]
            for c in state.dv_commits.values()
            if c["index"] not in absorbed_dvs or c["index"] in pinned_dvs
        }
        dv_dirs_committed = {c["dir"] for c in state.dv_commits.values()}
        del_root = os.path.join(self.root, "_deletes")
        for d in os.listdir(del_root):
            rel = os.path.join("_deletes", d)
            full = os.path.join(del_root, d)
            if rel in dv_dirs_live:
                continue
            if rel not in dv_dirs_committed and not _old_enough(full):
                continue
            shutil.rmtree(full)
            removed.append(rel)
        # logged change sets (_changes/, written by log_changes for merge
        # batches): no snapshot ever absorbs them, so the ONLY supersession
        # signal is a registered consumer cursor — with registrations,
        # reclaim the sets every cursor has passed; with none, keep them
        # (the documented feed contract: a change source lives until the
        # slowest consumer has it, and an unregistered lagging consumer
        # still fails loudly rather than silently losing rows). A consumer
        # registering AFTER reclaim bootstraps from the table state, the
        # standard CDC snapshot-then-follow rule.
        if consumers:
            ch_root = os.path.join(self.root, "_changes")
            if os.path.isdir(ch_root):
                logged = self._change_commits()
                keep_dirs = {d["dir"] for b, d in logged.items() if b > min_after}
                committed_ch = {d["dir"] for d in logged.values()}
                for d in os.listdir(ch_root):
                    rel = os.path.join("_changes", d)
                    full = os.path.join(ch_root, d)
                    if rel in keep_dirs:
                        continue
                    if rel not in committed_ch and not _old_enough(full):
                        continue  # crashed log attempt: retention decides
                    shutil.rmtree(full)
                    removed.append(rel)
        # bucketed-read snapshot dirs are hardlink views for in-flight
        # catalog scans: reclaim past the retention window (same rule as
        # unreferenced attempt dirs — a reader older than retention is out
        # of contract)
        br_root = os.path.join(self.root, "_bucketed_reads")
        if os.path.isdir(br_root):
            for d in os.listdir(br_root):
                full = os.path.join(br_root, d)
                if os.path.isdir(full) and _old_enough(full):
                    shutil.rmtree(full)
                    removed.append(os.path.join("_bucketed_reads", d))
        return sorted(removed)

    # -- time travel ---------------------------------------------------------
    def history(self) -> list[dict]:
        """Commit history, oldest first: one entry per committed-mode
        batch marker and per pending-mode epoch, with the batch ids each
        made visible and the marker file's mtime — the audit surface an
        Iceberg `snapshots` table exposes, read straight off the manifest."""
        commits = os.path.join(self.root, "_commits")
        entries: list[dict] = []
        for f in os.listdir(commits):
            path = os.path.join(commits, f)
            if f.startswith("batch-") and f.endswith(".marker"):
                with open(path) as fh:
                    m = json.load(fh)
                entries.append(
                    {"kind": "batch", "id": int(m["batch_id"]), "batch_ids": [int(m["batch_id"])],
                     "committed_at": os.path.getmtime(path)}
                )
            elif f.startswith("dv-") and f.endswith(".json"):
                with open(path) as fh:
                    d = json.load(fh)
                ins = d.get("insert")
                entries.append(
                    {"kind": "mor_upsert" if d.get("mor") else "dv", "id": int(d["index"]),
                     "batch_ids": [int(ins["batch_id"])] if ins else [],
                     "rows_deleted": int(d.get("rows", 0)), "committed_at": os.path.getmtime(path)}
                )
            elif f.startswith("epoch-") and f.endswith(".json"):
                with open(path) as fh:
                    e = json.load(fh)
                entries.append(
                    {"kind": "epoch", "id": int(f[len("epoch-") : -len(".json")]),
                     "batch_ids": [int(b) for b in e["batch_ids"]], "committed_at": os.path.getmtime(path)}
                )
        entries.sort(key=lambda x: (x["committed_at"], x["kind"], x["id"]))
        return entries

    def read_as_of(
        self,
        spark: SparkSession,
        *,
        epoch: int | None = None,
        batch_id: int | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Time-travel read: the table as it was visible after a given
        commit — pending mode: epochs 0..``epoch``; committed mode:
        batch markers with id <= ``batch_id``. Valid until ``vacuum``
        physically removes absorbed directories (the Iceberg
        expire-snapshots trade: compaction alone does NOT break time
        travel because the original batch dirs survive until vacuum).

        ``where`` gives historical reads the same pruned-read contract
        as ``read``: committed-mode batch manifests carry per-file
        stats, so zone maps drop non-matching files before any scan and
        the predicate re-applies as a residual filter —
        ``read_as_of(..., where=p) == read_as_of(...).filter(p)``.
        Epoch manifests carry the staged markers' per-file stats
        (commit() copies them), so pending-mode travel prunes too."""
        if (epoch is None) == (batch_id is None):
            raise ValueError("pass exactly one of epoch= (pending) or batch_id= (committed)")
        _check_ops(where)
        commits = os.path.join(self.root, "_commits")
        state = self._list_state()
        manifests: dict[int, dict] = {}
        published_at: dict[int, int] = {}  # staged dv index -> publishing epoch
        if epoch is not None:
            for f in os.listdir(commits):
                if f.startswith("epoch-") and f.endswith(".json"):
                    e_idx = int(f[len("epoch-") : -len(".json")])
                    with open(os.path.join(commits, f)) as fh:
                        e = json.load(fh)
                    for i in e.get("dv_indexes", []):
                        published_at[int(i)] = min(published_at.get(int(i), e_idx), e_idx)
                    if e_idx > epoch:
                        continue
                    for bid, d in e["dirs"].items():
                        manifests[int(bid)] = {"dir": d, "files": e["files"][bid]}
        else:
            for b, m in state.committed.items():
                # MOR batches publish through a dv commit, not a marker file
                if b <= batch_id and (os.path.exists(self._commit_marker(b)) or m.get("mor")):
                    manifests[b] = m
        schema = self.schema()
        dir_paths = [os.path.join(self.root, "data", m["dir"]) for _, m in sorted(manifests.items())]
        missing = [p for p in dir_paths if not os.path.exists(p)]
        if missing:
            raise ValueError(f"time travel target was vacuumed: {sorted(missing)[:3]}")
        paths = self._prune_paths([m for _, m in sorted(manifests.items())], where)
        if not dir_paths:
            if schema is None:
                raise ValueError(f"sink table at {self.root} has never been written")
            return spark.createDataFrame([], schema)
        # delete-vector interplay: a DV is part of history at the point it
        # was taken — apply exactly those whose as-of stamp precedes the
        # travel target, regardless of later compaction-absorption (travel
        # bypasses compacted layouts by reading the original batch dirs).
        # STAGED DVs (pending-mode merges) become history at the epoch
        # that PUBLISHED them (the epoch's dv_indexes), never at their
        # stage-time as_of_epoch — an uncommitted transaction is not
        # history at all.
        def _dv_in_history(d: dict) -> bool:
            if epoch is not None:
                if d.get("staged"):
                    return published_at.get(int(d["index"]), 1 << 62) <= epoch
                return d.get("as_of_epoch", -1) <= epoch
            return self._dv_live(d) and d.get("as_of_batch", -1) <= batch_id

        dvs = [d for d in state.dv_commits.values() if _dv_in_history(d)]
        if dvs:
            # layout-reconstructibility check against ALL traveled files,
            # not the pruned subset — DV validity is a property of the
            # historical layout, independent of what this read opens, so
            # it runs BEFORE the pruned-empty early return below: an
            # invalid travel target must raise even when zone maps drop
            # every file, keeping read_as_of(where=p) and
            # read_as_of().filter(p) divergence-free in errors too
            # (ADVICE r9)
            traveled = {f for p in dir_paths for f in os.listdir(p) if f.endswith(".parquet")}
            for d in dvs:
                missing_dv = not os.path.exists(os.path.join(self.root, d["dir"]))
                if missing_dv:
                    raise ValueError(f"time travel target's delete vector {d['index']} was vacuumed")
                if not set(d.get("files", [])) <= traveled:
                    # the DV was taken on a compacted layout the traveled
                    # batch dirs don't contain — the historical state is
                    # not representable from surviving artifacts
                    raise ValueError(
                        f"delete vector {d['index']} references a compacted layout; "
                        "this historical point is not reconstructible (compact-then-"
                        "travel across a delete)"
                    )
        if not paths:  # pruning dropped every file of an existing state
            return _apply_where(spark.createDataFrame([], schema), where)
        df = spark.read.schema(schema).parquet(*paths)
        if dvs:
            df = self._apply_dv(df, self._dv_relation(spark, dvs)).select(*[f.name for f in schema.fields])
        return _apply_where(df, where)

    def diff(
        self,
        spark: SparkSession,
        *,
        from_epoch: int | None = None,
        from_batch_id: int | None = None,
        key_cols: list[str] | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Snapshot diff: change rows between a historical state
        (``read_as_of`` semantics — pass exactly one of ``from_epoch`` /
        ``from_batch_id``) and the CURRENT visible state, derived by
        content comparison alone. The complement to ``changes()``: it
        needs no changelog (works for tables whose writers never logged
        change sets) and is layout-independent (COW rewrites, compaction
        and DV absorption are invisible to it because it compares
        logical rows, not files). The Delta `table_changes`-without-CDF /
        Iceberg snapshot-compare shape.

        Without ``key_cols``: bag-semantics diff — ``insert`` rows are
        ``current EXCEPT ALL old``, ``delete`` rows the reverse. With
        ``key_cols`` (unique per state, enforced like merge_rows_pruned): a key
        present in both states with different non-key values emits an
        ``update_pre``/``update_post`` row pair (the CDF vocabulary);
        key-only presence classifies ``insert``/``delete``.

        Scale shape: the keyed diff is ONE key-partitioned pass per side
        (an aggregate whose distribution the full-outer join then reuses
        — no second exchange) plus a struct null-safe comparison — no
        window, no per-row Python; the bag diff is Spark's hash-based
        ExceptAll. Key-uniqueness validation is FOLDED into that same
        aggregate via a ``raise_error`` guard that fires at action time
        (ADVICE r9 — the former eager per-side ``isEmpty`` probes cost
        two extra full scans and made ``diff`` non-lazy), so duplicate
        keys surface as a SparkRuntimeException carrying
        'duplicate keys (key_cols not unique)' when the diff is
        consumed. Both paths inherit time travel's vacuum constraint:
        the historical batch dirs must still exist.

        ``where`` restricts the comparison (a 100-TB diff of one key
        range / partition): BOTH sides get the zone-map-pruned read
        (batch and epoch manifests carry per-file stats). Use predicates
        over columns STABLE across the two states (keys, partition
        columns) — a predicate on a mutable value column classifies a
        row whose update moved it across the predicate boundary as an
        insert/delete rather than an update, faithfully to the filtered
        views but probably not to the question being asked."""
        from pyspark.sql import functions as F

        old = self.read_as_of(spark, epoch=from_epoch, batch_id=from_batch_id, where=where)
        new = self.read(spark, where=where)
        cols = [f.name for f in self.schema().fields]
        if key_cols is None:
            ins = new.exceptAll(old).select(F.lit("insert").alias("change_type"), *cols)
            dels = old.exceptAll(new).select(F.lit("delete").alias("change_type"), *cols)
            return ins.unionByName(dels)
        val_cols = [c for c in cols if c not in key_cols]

        def _grouped(df: DataFrame, payload, side: str, out: str) -> DataFrame:
            # one key-partitioned aggregate per side: the payload struct
            # rides on F.first (deterministic — the guard below raises
            # before any >1-row group can be observed) and duplicate-key
            # validation folds into the SAME pass via raise_error
            g = df.groupBy(*key_cols).agg(
                F.count(F.lit(1)).alias("_n"), F.first(payload).alias("_s")
            )
            return g.select(
                *key_cols,
                F.when(
                    F.col("_n") > 1,
                    F.raise_error(
                        f"diff: {side} state has duplicate keys (key_cols not unique)"
                    ),
                )
                .otherwise(F.col("_s"))
                .alias(out),
            )

        if not val_cols:
            # keys ARE the row: updates are impossible, only presence
            # changes. A full-outer join whose filters CONSUME the guarded
            # payload columns, not left_anti joins on the bare keys —
            # left_anti would let column pruning eliminate the _n/
            # raise_error projection and silently dedupe duplicate keys
            # instead of raising (ADVICE r10)
            o1 = _grouped(old, F.lit(True), "historical", "_pre")
            n1 = _grouped(new, F.lit(True), "current", "_post")
            j = o1.join(n1, key_cols, "full_outer")
            ins = j.filter(F.col("_pre").isNull() & F.col("_post").isNotNull()).select(
                F.lit("insert").alias("change_type"), *cols
            )
            dels = j.filter(F.col("_post").isNull() & F.col("_pre").isNotNull()).select(
                F.lit("delete").alias("change_type"), *cols
            )
            return ins.unionByName(dels)
        o2 = _grouped(old, F.struct(*val_cols), "historical", "_pre")
        n2 = _grouped(new, F.struct(*val_cols), "current", "_post")
        j = o2.join(n2, key_cols, "full_outer")

        def _emit(rows: DataFrame, struct_col: str, change_type: str) -> DataFrame:
            return rows.select(
                F.lit(change_type).alias("change_type"),
                *[F.col(c) for c in key_cols],
                *[F.col(f"{struct_col}.{c}").alias(c) for c in val_cols],
            ).select("change_type", *cols)

        ins = _emit(j.filter(F.col("_pre").isNull()), "_post", "insert")
        dels = _emit(j.filter(F.col("_post").isNull()), "_pre", "delete")
        upd = j.filter(
            F.col("_pre").isNotNull()
            & F.col("_post").isNotNull()
            & ~F.col("_pre").eqNullSafe(F.col("_post"))
        )
        return (
            ins.unionByName(dels)
            .unionByName(_emit(upd, "_pre", "update_pre"))
            .unionByName(_emit(upd, "_post", "update_post"))
        )

    # -- read path ------------------------------------------------------------
    def _dv_free_manifests(self, what: str) -> list[dict]:
        """'No pending DVs' read state for the stats-only and bucketed
        paths (round-12 review, same class as ADVICE r11's torn read):
        the DV-emptiness CHECK and the manifests come from ONE
        ``_list_state``. Checked-then-listed separately, a MOR upsert
        publishing in between would slip its insert rows into a listing
        whose tombstones the check never saw — a bucketed snapshot (or
        stats sum) quietly carrying both the superseded and the new row
        versions. Staged-unpublished DVs (an open pending-mode
        transaction) are NOT pending read work — the visible state
        carries zero tombstones, so stats/bucketed answers over it are
        exact; and the refusal's advice ('run compact() first') would
        dead-end in compact()'s own open-transaction deferral (round-13
        review). Raises the documented pending-DV refusal; otherwise
        returns the visible manifests."""
        state = self._list_state()
        if state.dvs:
            raise ValueError(
                f"{what} unavailable while delete vectors are pending; run compact() first"
            )
        return state.manifests

    def _prune_paths(self, manifests: list[dict], where: list[tuple] | None) -> list[str]:
        _check_ops(where)
        return [
            os.path.join(base, e["name"])
            for e, base in self._listed_entries(manifests)
            if _entry_may_match(e, where)
        ]

    def visible_files(self, where: list[tuple] | None = None) -> list[str]:
        """Absolute paths of the parquet files a read must open, after
        zone-map pruning against ``where`` — a conjunctive list of
        ``(column, op, literal)`` with op in ==, <, <=, >, >=. A file is
        dropped only when its manifest min/max bounds PROVE no row matches;
        files without stats for a column (unsupported column types) are
        always kept. This is the introspection surface the data-skipping
        tests pin: ``len(visible_files(point_pred)) < len(visible_files())``.
        """
        return self._prune_paths(self._list_state().manifests, where)

    def read(self, spark: SparkSession, where: list[tuple] | None = None) -> DataFrame:
        """Visible rows; with ``where``, a pruned read: manifest stats drop
        files that cannot contain a match (zone-map skipping) and the same
        predicates are applied as a residual row filter, so
        ``read(spark, where=p)`` always equals ``read(spark).filter(p)``.
        The file list and the tombstone relation come from ONE
        ``_list_state``, so a concurrent MOR upsert is never seen torn
        (inserts without tombstones or vice versa — ADVICE r11).
        """
        state = self._list_state()
        paths, dvs = self._prune_paths(state.manifests, where), state.dvs
        schema = self.schema()
        if not paths:
            if schema is None:
                raise ValueError(f"sink table at {self.root} has never been written")
            df = spark.createDataFrame([], schema)
        else:
            df = spark.read.schema(schema).parquet(*paths)
            if dvs:
                # merge-on-read: tombstoned positions drop via one anti-join
                # against the DV relation (small; absorbed by compaction)
                df = self._apply_dv(df, self._dv_relation(spark, dvs)).select(*[f.name for f in schema.fields])
        return _apply_where(df, where)

    def read_bucketed(self, spark: SparkSession, name: str | None = None) -> DataFrame:
        """Visible rows exposed as a CATALOG bucketed scan, so keyed
        equi-joins and aggregations on the bucket columns between tables
        sharing the spec run with ZERO exchanges — q216's co-located-join
        layout, now on a GOVERNED table (manifest ACID + time travel +
        skipping + this). Returns ``spark.table(name)``; the caller owns
        the session-scoped catalog entry (``DROP TABLE`` when done).

        Mechanics: every data file was written bucket-named (the
        ``_write_datafiles`` seam keeps the layout through appends,
        compactions and pruned merges; pointer copies preserve names), a
        visible-files SNAPSHOT is hardlinked into ``_bucketed_reads/``
        (so the catalog table keeps reading a consistent state while
        later commits land), and an EXTERNAL ``CLUSTERED BY`` table over
        that directory lets Spark's scan group files by the bucket id in
        their names. Snapshot dirs are reclaimed by ``vacuum`` after the
        retention window.

        Pending delete vectors refuse loudly (run ``compact()`` first):
        the merge-on-read anti-join would re-shuffle the scan, silently
        voiding the zero-exchange property this read exists for — the
        ``stats_agg`` rule, raise rather than quietly degrade."""
        if self.bucket_spec is None:
            raise ValueError("read_bucketed requires a table built with bucket_spec=")
        manifests = self._dv_free_manifests("bucketed read")
        schema = self.schema()
        if schema is None:
            raise ValueError(f"sink table at {self.root} has never been written")
        n, cols = self.bucket_spec
        snap_dir = os.path.join(self.root, "_bucketed_reads", f"snap-{uuid.uuid4().hex[:12]}")
        os.makedirs(snap_dir)
        for p in self._prune_paths(manifests, None):
            base = os.path.basename(p)
            if _bucket_of(base) is None:
                raise ValueError(
                    f"file {base} carries no bucket id (written before bucket_spec was set); "
                    "compact() to re-bucket the table"
                )
            os.link(p, os.path.join(snap_dir, base))
        name = name or f"kafka_connect_bigquery_storage_write_spark_bread_{uuid.uuid4().hex[:10]}"
        ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        keys = ", ".join(f"`{c}`" for c in cols)
        spark.sql(
            f"CREATE TABLE `{name}` ({ddl}) USING parquet "
            f"CLUSTERED BY ({keys}) SORTED BY ({keys}) INTO {n} BUCKETS "
            f"LOCATION '{snap_dir}'"
        )
        return spark.table(name)

    def stats_agg(
        self,
        cols: list[str],
        sum_cols: list[str] | None = None,
        count_cols: list[str] | None = None,
    ) -> dict:
        """count(*) / min / max — and, for columns stamped at write time,
        SUM and COUNT(col) — served from the MANIFEST alone, zero data
        files opened (the Iceberg/Delta stats-only scan: planning metadata
        already holds the answer, so at 100 TB these aggregates cost one
        manifest read instead of a table scan). Returns
        ``{"rows": n, "min": {col: v}, "max": {col: v}}`` plus
        ``"sum": {col: v}`` for ``sum_cols`` (requires the table to be
        built with ``sum_columns=``; AVG = sum/nonnull at the caller) and
        ``"nonnull": {col: n}`` for ``count_cols`` (rows - footer null
        count — free for every column, no configuration). Raises instead
        of guessing when any visible file lacks a requested stat
        (unsupported column types, un-stamped sums) — a
        partial-stats answer would be silently wrong. Integer sums are
        exact; float sums carry the per-file association caveat noted in
        _collect_file_stats. Sums/nulls survive compaction and COW
        rewrites exactly like min/max: rewritten files are re-stamped
        from content, pointer-copied files carry their entries.
        """
        # manifest row counts include tombstoned rows; a stats-only
        # answer would overcount. compact() absorbs the DVs and restores
        # the zero-scan path — raise, never guess. The check and the
        # listing below share ONE _list_state (_dv_free_manifests).
        manifests = self._dv_free_manifests("stats-only aggregates")
        sum_cols = sum_cols or []
        count_cols = count_cols or []
        total = 0
        mins: dict[str, object] = {c: None for c in cols}
        maxs: dict[str, object] = {c: None for c in cols}
        sums: dict[str, object] = {c: None for c in sum_cols}
        nonnull: dict[str, int] = {c: 0 for c in count_cols}
        for m in manifests:
            for e in m["files"]:
                rows = e["rows"]
                total += rows
                if rows == 0:
                    continue  # empty part files have no row groups, hence no stats
                fsums = e.get("sums") or {}
                fnulls = e.get("nulls") or {}
                for c in count_cols:
                    if c not in fnulls:
                        raise ValueError(f"no null count for column {c!r} in file {e.get('name')}")
                    nonnull[c] += rows - fnulls[c]
                st = e.get("stats") or {}
                for c in cols:
                    b = st.get(c)
                    if not b or b[0] is None or b[1] is None:
                        raise ValueError(f"no usable stats for column {c!r} in file {e.get('name')}")
                    mins[c] = b[0] if mins[c] is None else min(mins[c], b[0])
                    maxs[c] = b[1] if maxs[c] is None else max(maxs[c], b[1])
                for c in sum_cols:
                    if c not in fsums:
                        raise ValueError(
                            f"no stamped sum for column {c!r} in file {e.get('name')} "
                            "(build the table with sum_columns=...)"
                        )
                    v = fsums[c]
                    if v is not None:  # None = file has only nulls there
                        sums[c] = v if sums[c] is None else sums[c] + v
        out: dict = {"rows": total, "min": mins, "max": maxs}
        if sum_cols:
            out["sum"] = sums
        if count_cols:
            out["nonnull"] = nonnull
        return out

"""Seeded input generators for the benchmark.

Everything the program under test reads is written here, from the seed
alone: Kafka-shaped envelope files for the ingest workloads and
TPC-H-shaped fixture tables for the query mix. Each generated set lands in
its own cache directory keyed by (workload, seed, size) and is complete
once its ``meta.json`` exists, so a repeated run with the same seed reuses
it. The truth files written beside the envelopes hold the decoded rows and
which of them are corrupt; the correctness check reads those, never the
engine's own decoders.
"""

from __future__ import annotations

import json
import os
import shutil
import struct

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "lineitem"
PARTITIONS = 4
CORRUPT_SHARE = 0.01

# lineitem-shaped record value; the key fields are required, so a payload
# with a null l_orderkey is a validation failure (dead-lettered), not a parse
# failure
VALUE_FIELDS = (
    ("l_orderkey", "long", False),
    ("l_partkey", "long", False),
    ("l_suppkey", "long", False),
    ("l_linenumber", "int", False),
    ("l_quantity", "double", True),
    ("l_extendedprice", "double", True),
    ("l_discount", "double", True),
    ("l_tax", "double", True),
    ("l_returnflag", "string", True),
    ("l_linestatus", "string", True),
    ("l_shipdate", "string", True),
    ("l_version", "long", False),
)
FIELD_NAMES = [f[0] for f in VALUE_FIELDS]
KEY_FIELDS = ("l_orderkey", "l_linenumber")

AVRO_SCHEMA = {
    "type": "record",
    "name": "lineitem",
    "fields": [{"name": n, "type": t} for n, t, _ in VALUE_FIELDS],
}
AVRO_SCHEMA_ID = 7


def _day_strings(days: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(np.datetime64("1995-01-01") + days.astype("timedelta64[D]"), unit="D")


def lineitem_rows(rng: np.random.Generator, n: int, orderkey: np.ndarray, linenumber: np.ndarray) -> dict:
    """Column arrays of ``n`` lineitem-shaped rows with the given keys."""
    quantity = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _day_strings(rng.integers(0, 2500, n)),
    }


# -- Avro (Confluent wire format), written independently of the engine ------
def _zigzag(out: bytearray, v: int) -> None:
    v = (v << 1) ^ (v >> 63)
    while v & ~0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def _avro_record(row: tuple) -> bytes:
    out = bytearray(b"\x00" + struct.pack(">I", AVRO_SCHEMA_ID))
    for (_, kind, _), v in zip(VALUE_FIELDS, row):
        if kind in ("long", "int"):
            _zigzag(out, int(v))
        elif kind == "double":
            out += struct.pack("<d", v)
        else:
            b = v.encode()
            _zigzag(out, len(b))
            out += b
    return bytes(out)


def _avro_values(truth: pa.Table, corrupt: np.ndarray) -> list[bytes]:
    cols = [truth.column(n).to_pylist() for n in FIELD_NAMES]
    out = []
    for i, row in enumerate(zip(*cols)):
        payload = _avro_record(row)
        if corrupt[i] == 1:
            payload = payload[: len(payload) // 2]  # truncated body
        elif corrupt[i] == 2:
            payload = b"\x01" + payload[1:]  # not Confluent-framed
        out.append(payload)
    return out


def _json_values(con: duckdb.DuckDBPyConnection, truth: pa.Table) -> list[str]:
    # corruption kind 2 nulls the required l_orderkey
    fields = ", ".join(
        f"'{n}': " + ("CASE WHEN corrupt = 2 THEN NULL ELSE l_orderkey END" if n == "l_orderkey" else n)
        for n in FIELD_NAMES
    )
    return con.execute(
        f"""SELECT CASE WHEN corrupt = 1 THEN left(j, length(j) // 2) ELSE j END
            FROM (SELECT corrupt, to_json({{{fields}}})::VARCHAR AS j FROM truth)"""
    ).fetch_arrow_table().column(0).to_pylist()


def _set_mtimes(paths: list[str]) -> None:
    # the file source orders a backlog by modification time; distinct,
    # increasing stamps make file order the batch order
    for i, p in enumerate(paths):
        os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))


def _write_envelopes(out_dir: str, truth: pa.Table, values: list, binary: bool) -> list[str]:
    os.makedirs(out_dir)
    file_ids = truth.column("file").to_numpy()
    paths = []
    for f in np.unique(file_ids):
        sel = np.flatnonzero(file_ids == f)
        part = truth.take(sel)
        env = pa.table(
            {
                "topic": pa.array([TOPIC] * len(sel), pa.string()),
                "partition": part.column("partition"),
                "offset": part.column("offset"),
                "key": part.column("key"),
                "value": pa.array([values[i] for i in sel], pa.binary() if binary else pa.string()),
            }
        )
        path = os.path.join(out_dir, f"part-{int(f):05d}.parquet")
        pq.write_table(env, path)
        paths.append(path)
    _set_mtimes(paths)
    return paths


def _backlog_truth(rng: np.random.Generator, n_files: int, rows_per_file: int, upsert: bool) -> pa.Table:
    n = n_files * rows_per_file
    if upsert:
        # keyed CDC: every key is changed exactly three times, the changes
        # scattered over the whole backlog
        n_keys = n // 3
        keys = rng.permutation(np.repeat(np.arange(n_keys), 3))
        keys = np.concatenate([keys, rng.integers(0, n_keys, n - keys.size)])
        orderkey, linenumber = keys // 4, keys % 4 + 1
    else:
        orderkey, linenumber = np.arange(n) // 4, np.arange(n) % 4 + 1
    cols = lineitem_rows(rng, n, orderkey, linenumber)
    cols["l_version"] = np.arange(n, dtype=np.int64)
    file_ids = np.arange(n) // rows_per_file
    partition = ((orderkey * 2654435761 + linenumber) % PARTITIONS).astype(np.int32)
    # Kafka offsets: dense and increasing per partition, in file order
    offset = np.zeros(n, dtype=np.int64)
    for p in range(PARTITIONS):
        sel = partition == p
        offset[sel] = np.arange(int(sel.sum()))
    r = rng.random(n)
    corrupt = np.where(r < CORRUPT_SHARE / 2, 1, np.where(r < CORRUPT_SHARE, 2, 0)).astype(np.int8)
    return pa.table(
        {
            "file": file_ids.astype(np.int32),
            "partition": partition,
            "offset": offset,
            "key": pa.array([f"{o}-{ln}" for o, ln in zip(orderkey.tolist(), linenumber.tolist())]),
            "corrupt": corrupt,
            **cols,
        }
    )


def _finish(out: str, tmp: str, meta: dict) -> dict:
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return meta


def _cached(out: str) -> dict | None:
    try:
        with open(os.path.join(out, "meta.json")) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def ingest_backlog(
    cache: str, workload: str, seed: int, n_files: int, warm_files: int, rows_per_file: int, fmt: str, upsert: bool
) -> dict:
    """Envelope files for one ingest workload: ``src/`` (the measured
    backlog), ``warm/`` (the set-up's warm-up backlog) and
    ``truth.parquet`` (decoded rows of ``src/`` plus the ``corrupt`` flag;
    0 = valid, 1/2 = the two corruption kinds). Returns the meta record
    (records, bytes, files)."""
    out = os.path.join(cache, f"{workload}-s{seed}-f{n_files}x{rows_per_file}-w{warm_files}")
    meta = _cached(out)
    if meta is not None:
        return {**meta, "dir": out}
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, n_files, rows_per_file, upsert])
    con = duckdb.connect()
    meta = {"workload": workload, "seed": seed, "format": fmt}
    for sub, files in (("src", n_files), ("warm", warm_files)):
        truth = _backlog_truth(rng, files, rows_per_file, upsert)
        con.register("truth", truth)
        corrupt = truth.column("corrupt").to_numpy()
        values = _avro_values(truth, corrupt) if fmt == "avro" else _json_values(con, truth)
        paths = _write_envelopes(os.path.join(tmp, sub), truth, values, binary=fmt == "avro")
        con.unregister("truth")
        if sub == "src":
            pq.write_table(truth, os.path.join(tmp, "truth.parquet"))
            meta.update(
                records=truth.num_rows,
                corrupt=int((corrupt > 0).sum()),
                files=len(paths),
                bytes=sum(os.path.getsize(p) for p in paths),
            )
    con.close()
    return {**_finish(out, tmp, meta), "dir": out}


# -- fixture tables for the query mix ----------------------------------------
WORDS = (
    "query row stream the spark line small fast group customer batch sort value hash filter big "
    "data dup part column order scan a slow agg key window table merge vector join"
).split()
PART_ADJ = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")


def _ts(days_from: str, values: np.ndarray, unit: str) -> pa.Array:
    base = np.datetime64(days_from, unit).astype(np.int64)
    return pa.array(base + values, pa.timestamp(unit))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lengths.sum()))]
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(words[pos : pos + ln]))
        pos += ln
    for i in rng.choice(n, max(2, n // 600), replace=False):  # a few exact duplicates
        texts[i] = texts[(i + 1) % n]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n)]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def fixture_tables(cache: str, seed: int, sf: float) -> dict:
    """The ten TPC-H-shaped tables the registered queries read, at scale
    factor ``sf`` (lineitem has 6M x sf rows), one parquet file each."""
    out = os.path.join(cache, f"query_mix-s{seed}-sf{sf}")
    meta = _cached(out)
    if meta is not None:
        return {**meta, "dir": out}
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, int(sf * 1000)])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), max(500, int(50_000 * sf))
    # an odd number of vectors per label: a per-label mean of integer
    # micro-units then never lies exactly halfway between two 6-decimal
    # values, where two engines may round it apart (q93's oracle)
    per_label = max(50, int(2_000 * sf)) | 1
    n_emb = 10 * per_label
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    pick = lambda vals, n: np.array(vals)[rng.integers(0, len(vals), n)]  # noqa: E731
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    ship = _ts("1995-01-02", rng.integers(0, 2500, n_line) * 86_400_000, "ms")
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(pick(PART_ADJ, n_part), " "), pick(PART_NOUN, n_part)),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86_400_000, "ms"),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            **{
                k: v
                for k, v in lineitem_rows(
                    rng, n_line, rng.integers(0, n_ord, n_line), rng.integers(1, 8, n_line)
                ).items()
                if k != "l_shipdate"
            },
            "l_shipdate": ship,
        },
        "events": {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * 86_400 * 10**9, n_events)), "ns"),
            "user_id": rng.integers(0, max(50, n_events // 66), n_events, dtype=np.int64),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()],
        },
        "documents": _documents(rng, n_docs),
        "embeddings": pa.table(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
                "label": rng.permutation(np.repeat(np.arange(10, dtype=np.int32), per_label)),
            }
        ),
    }
    rows = {}
    for name, cols in tables.items():
        t = cols if isinstance(cols, pa.Table) else pa.table(cols)
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
        rows[name] = t.num_rows
    return {**_finish(out, tmp, {"seed": seed, "sf": sf, "rows": rows}), "dir": out}

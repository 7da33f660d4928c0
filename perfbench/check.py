"""Correctness checks, computed outside the engine.

Ingest: the expected sink rows and dead-lettered offsets come from DuckDB
over the generator's truth file, joined with the batch each envelope file
landed in (the file source's own offset log in the checkpoint). They are
compared with what the sink and the DLQ actually hold: row counts, an
order-independent checksum, duplicate keys and duplicate offsets.

Query mix: each result is compared with its registered DuckDB oracle
through ``harness_canon``, the canonicaliser the registry's oracle checks
use.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pyarrow as pa

from gen import FIELD_NAMES, KEY_FIELDS

_COLS = ", ".join(FIELD_NAMES)
_KEYS = ", ".join(KEY_FIELDS)


def batch_files(checkpoint: str) -> pa.Table:
    """(file, batch) for every envelope file the stream committed, read
    from the checkpoint's source log and commit log."""
    done = max((int(os.path.basename(p)) for p in glob.glob(os.path.join(checkpoint, "commits", "[0-9]*"))), default=-1)
    entries = set()
    # plain and compacted log files alike carry one JSON entry per file
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "[0-9]*")):
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                if e["batchId"] <= done:
                    entries.add((int(os.path.basename(e["path"]).split("-")[1].split(".")[0]), e["batchId"]))
    files, batches = zip(*sorted(entries)) if entries else ((), ())
    return pa.table({"file": pa.array(files, pa.int32()), "batch": pa.array(batches, pa.int64())})


def _digest(con, relation: str) -> tuple[int, int]:
    return con.execute(f"SELECT count(*), coalesce(sum(hash({_COLS})::HUGEINT), 0) FROM {relation}").fetchone()


def ingest(truth_path: str, batches: pa.Table, sink_rows: pa.Table, dlq_dir: str, upsert: bool, n_files: int) -> list[str]:
    """Mismatches between the expected and the actual ingest outcome;
    an empty list means the run is correct."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.register("batches", batches)
    con.register("sink", sink_rows)
    con.execute(f"CREATE VIEW truth AS SELECT * FROM read_parquet('{truth_path}')")
    problems = []
    seen = con.execute("SELECT count(*), count(DISTINCT file) FROM batches").fetchone()
    if seen != (n_files, n_files):
        problems.append(f"stream committed {seen[0]} file entries over {seen[1]} distinct files, expected {n_files}")
    # valid rows of committed files; an upsert keeps each key's change from
    # the latest batch (the newest version inside a batch)
    valid = "SELECT t.*, b.batch FROM truth t JOIN batches b USING (file) WHERE t.corrupt = 0"
    if upsert:
        expected = f"""(SELECT * FROM ({valid}) QUALIFY row_number() OVER
                       (PARTITION BY {_KEYS} ORDER BY batch DESC, l_version DESC) = 1)"""
    else:
        expected = f"({valid})"
    want, got = _digest(con, expected), _digest(con, "sink")
    if want != got:
        problems.append(f"sink rows/checksum {got} != expected {want}")
    dup = con.execute(f"SELECT count(*) - count(DISTINCT ({_KEYS})) FROM sink").fetchone()[0]
    if dup:
        problems.append(f"{dup} duplicate keys in the sink")

    dlq_files = glob.glob(os.path.join(dlq_dir, "batch=*", "*.parquet"))
    if dlq_files:
        con.execute(
            f"CREATE VIEW dlq AS SELECT * FROM read_parquet({dlq_files!r}, hive_partitioning = false, union_by_name = true)"
        )
    else:
        con.execute("CREATE VIEW dlq AS SELECT NULL::INT AS partition, NULL::BIGINT AS \"offset\" WHERE false")
    want = con.execute(
        'SELECT count(*), coalesce(sum(hash(partition, "offset")::HUGEINT), 0) FROM truth JOIN batches USING (file) WHERE corrupt > 0'
    ).fetchone()
    got = con.execute('SELECT count(*), coalesce(sum(hash(partition, "offset")::HUGEINT), 0) FROM dlq').fetchone()
    if want != got:
        problems.append(f"dlq rows/checksum {got} != expected {want}")
    dup = con.execute('SELECT count(*) - count(DISTINCT (partition, "offset")) FROM dlq').fetchone()[0]
    if dup:
        problems.append(f"{dup} duplicate offsets in the dlq")
    con.close()
    return problems


def oracle_views(fixture_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(fixture_dir, t + '.parquet')}')")
    return con


def query(con, oracle_sql: str, rows: list[tuple], cols: list[str]) -> str | None:
    """None when the result equals the oracle's, else what differs."""
    from kafka_connect_bigquery_storage_write_spark import harness_canon

    res = con.execute(oracle_sql)
    ocols = [d[0] for d in res.description]
    if sorted(ocols) != sorted(cols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    orows = res.fetchall()
    if len(orows) != len(rows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    if harness_canon.rowset(rows, cols) != harness_canon.rowset(orows, ocols):
        return "values differ from the oracle"
    return None

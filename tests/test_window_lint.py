"""Plan lint: no UNPARTITIONED window over an unbounded relation
(VERDICT r11 #7).

A `Window` with no partition spec plans as a single-partition WindowExec
— the whole input funnels through ONE task (`WindowExec: No Partition
Defined`), which at 100 TB is a driver-shaped bottleneck hiding inside
an otherwise distributed plan. The bench log's warning flood made real
regressions invisible; this lint walks EVERY registered query's
physical plan and fails on any global window whose input is not a
whitelisted bounded-cardinality relation, so a future unbounded global
window becomes a test failure instead of log noise.

Whitelist (the documented bounded relations):
- the `_rps_pid` offsets window of
  `operators/partitioning.py::distributed_rank` — P rows, one per
  shuffle partition (the standard two-phase global-rank restatement);
- q136: the rank over the TOP-30 document-frequency vocabulary
  (post-limit, 30 rows);
- q45: per-source budget shares — one row per corpus source (a
  bounded enum);
- q96: the id assignment over a LIMIT-capped vocabulary;
- q99: per-source quota remainders — one row per source.

Detection parses `windowspecdefinition(partCols..., orderCols...,
frame)` occurrences from the formatted plan: a spec whose FIRST
argument is already an order token (ASC/DESC) or the frame itself has
no partition columns. `WindowGroupLimit` is flagged on an empty first
argument group. Stashed pipeline plans (`_finalize`'s pre-checkpoint
explain) are linted the same way.
"""

from __future__ import annotations

import re

from kafka_connect_bigquery_storage_write_spark.queries import load_all

load_all()

# queries whose global windows are bounded by design (reason documented
# in the module docstring); the _rps_pid pattern is whitelisted by
# column name, not query name, so every user of distributed_rank passes
BOUNDED_GLOBAL_WINDOW_QUERIES = {
    "q136_bm25_ranking",
    "q45_token_budget",
    "q96_vocab_encode",
    "q99_weighted_quota_sample",
}
_BOUNDED_COLUMN_MARKERS = ("_rps_pid",)


def _split_args(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def global_windows(plan: str) -> list[str]:
    """First-argument snippets of every window spec with NO partition
    columns (plus empty-partition WindowGroupLimit nodes)."""
    hits: list[str] = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        start, depth, i = m.end(), 1, m.end()
        while i < len(plan) and depth:
            if plan[i] == "(":
                depth += 1
            elif plan[i] == ")":
                depth -= 1
            i += 1
        args = _split_args(plan[start : i - 1])
        first = args[0] if args else ""
        head = first.split("(")[0] if "(" in first else first
        if first.startswith("specifiedwindowframe") or re.search(r"\b(ASC|DESC)\b", head):
            hits.append(first[:60])
    hits += [
        "WindowGroupLimit []"
        for _ in re.finditer(r"\)\sWindowGroupLimit\b.*?\n\s*Arguments:\s*\[\s*\]", plan)
    ]
    return hits


def test_no_unbounded_global_windows(query_surface):
    """Every registered query's physical plan: global windows only over
    whitelisted bounded relations — the compensating control for the
    bench log's WindowExec warning noise. Reads the shared per-query
    build (conftest.query_surface) instead of sweeping the registry
    itself (round 15: three sweeps -> one)."""
    offenders: dict[str, list[str]] = {}
    for name, q in query_surface.items():
        if q["err"] is not None:  # a broken build is its own loud failure
            offenders[name] = [f"BUILD_ERROR: {q['err']!r:.100}"]
            continue
        plan = q["plan"]
        hits = [
            h
            for h in global_windows(plan)
            if not any(mk in h for mk in _BOUNDED_COLUMN_MARKERS)
        ]
        if hits and name not in BOUNDED_GLOBAL_WINDOW_QUERIES:
            offenders[name] = hits
    assert not offenders, (
        "unpartitioned window over a non-whitelisted relation (single-task "
        f"bottleneck at scale): {offenders}"
    )


def test_get_spark_quiets_window_exec_warning(spark):
    """get_spark raises the WindowExec logger to ERROR, so the allowlisted
    bounded global windows stop flooding the bench log with `No Partition
    Defined`; the lint above is what guards the property itself."""
    from kafka_connect_bigquery_storage_write_spark.session import WINDOW_EXEC_LOGGER, get_spark

    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(WINDOW_EXEC_LOGGER, log4j.Level.WARN)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert get_spark(app_name=spark.sparkContext.appName, cpus=n, shuffle_partitions=n) is spark
    assert str(log4j.LogManager.getLogger(WINDOW_EXEC_LOGGER).getLevel()) == "ERROR"

"""Temporal join query entries: as-of join and range join (custom
operators Spark lacks, built from compositions per SURVEY's strategy)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_connect_bigquery_storage_write_spark.operators.temporal import asof_join
from kafka_connect_bigquery_storage_write_spark.queries import query
from kafka_connect_bigquery_storage_write_spark.sources.tables import load_table, local_rows_df

PRICE_BANDS = [(0, 0.0, 400.0), (1, 400.0, 800.0), (2, 800.0, 1200.0), (3, 1200.0, 1e9)]


@query(
    "q54_asof_join",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts AS p_ts, value AS p_value FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id,
           round(p.p_value, 2) AS p_value,
           p.p_ts              AS p_ts
    FROM clicks c ASOF JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.p_ts
    ORDER BY c.event_id
    """,
)
def q54_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click matched to the user's most recent
    purchase at or before it. Implemented as union + single window pass
    (one shuffle, one sort — no per-row lookups); the oracle is DuckDB's
    native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.round("value", 2).alias("p_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    return asof_join(
        clicks, purchases, by="user_id", left_ts="ts", right_ts="p_ts",
        right_payload=["p_value", "p_ts"], how="inner",
    ).select("event_id", "user_id", "p_value", "p_ts").orderBy("event_id")


@query(
    "q55_range_join_bands",
    oracle="""
    WITH bands(band_id, lo, hi) AS (
      VALUES (0, 0.0, 400.0), (1, 400.0, 800.0), (2, 800.0, 1200.0), (3, 1200.0, 1e9)
    )
    SELECT band_id, count(*) AS n_parts, round(avg(p_retailprice), 2) AS avg_price
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band_id
    ORDER BY band_id
    """,
)
def q55_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join: parts classified into price bands.

    The bands relation broadcasts, so the non-equi predicate evaluates
    stream-side with no shuffle — the right plan for any interval-
    classification join where one side is small."""
    part = load_table(spark, sf_dir, "part")
    bands = local_rows_df(spark, PRICE_BANDS, "band_id int, lo double, hi double")
    return (
        part.join(
            F.broadcast(bands),
            (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi")),
        )
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.round(F.avg("p_retailprice"), 2).alias("avg_price"))
        .orderBy("band_id")
    )


@query(
    "q77_sessionize_events",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 21600000000
                  THEN 1 ELSE 0 END AS is_break
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
               AS session_seq
      FROM seq
    )
    SELECT user_id,
           session_seq,
           count(*)                                              AS n_events,
           min(ts)                                               AS session_start,
           CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS BIGINT) AS duration_s,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def q77_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (6h inactivity gap) rolled up to a session
    panel: events per session, start, duration, value total — the batch
    form of E17's session_window, product-analytics' core primitive.

    One shuffle on user_id serves the break detection, the running
    session counter, and (key-prefix) the final rollup; gap math is exact
    integer microseconds so engines cannot disagree on borderline gaps.
    """
    from kafka_connect_bigquery_storage_write_spark.operators.temporal import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, key="user_id", ts_col="ts", gap_seconds=6 * 3600)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            # integer µs diff, floor-divided: DuckDB `//` twin; both exact
            F.floor((F.max(us) - F.min(us)) / 1_000_000).cast("long").alias("duration_s"),
            # exact-decimal sum (queries/parity.py): double sum order differs
            # across engines; DECIMAL(18,2) over 2-decimal money is exact
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2).cast("double").alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


@query(
    "q97_gap_filled_hourly",
    oracle="""
    WITH hourly AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS hour,
             count(*) AS n_events,
             CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_value
      FROM events WHERE user_id < 20
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS lo,
             time_bucket(INTERVAL '1 hour', max(ts)) AS hi
      FROM events WHERE user_id < 20
    ),
    grid AS (
      SELECT u.user_id, g.hour
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 20) u,
           bounds,
           LATERAL (SELECT unnest(generate_series(bounds.lo, bounds.hi, INTERVAL '1 hour')) AS hour) g
    )
    SELECT g.user_id, g.hour,
           coalesce(h.n_events, 0)    AS n_events,
           coalesce(h.sum_value, 0.0) AS sum_value
    FROM grid g LEFT JOIN hourly h ON h.user_id = g.user_id AND h.hour = g.hour
    ORDER BY g.user_id, g.hour
    """,
)
def q97_gap_filled_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly per-user series: every (user, hour) cell of the
    observation window exists, zero-filled where no events landed — the
    densification step before any rolling-window model or chart reads a
    sparse series.

    Scale shape: the dense grid is GENERATED (sequence + explode over the
    distinct-user relation), never shuffled at event granularity; the
    global [min, max] hour bound is one scalar aggregate broadcast into
    the generator; the left join keys on (user, hour) — the same shuffle
    the hourly aggregation already produced, so AQE sees co-partitioned
    sides. Grid cardinality is n_users * n_hours, independent of event
    count — at 100 TB of events the grid is still tiny next to the facts.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        # exact-decimal sum (same pattern as q77): a raw double sum is
        # partial-aggregation-order dependent, so a half-cent boundary
        # could flip between engines/cluster sizes
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2).cast("double").alias("sum_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
        )
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("user_id", "hour")
    )


@query(
    "q114_series_outliers",
    oracle="""
    WITH hourly AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS hour,
             CAST(round(sum(CAST(value AS DECIMAL(18,2))) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS lo,
             time_bucket(INTERVAL '1 hour', max(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT u.user_id, g.hour
      FROM (SELECT DISTINCT user_id FROM events) u,
           bounds,
           LATERAL (SELECT unnest(generate_series(bounds.lo, bounds.hi, INTERVAL '1 hour')) AS hour) g
    ),
    series AS (
      SELECT g.user_id, g.hour, coalesce(h.cents, 0) AS x
      FROM grid g LEFT JOIN hourly h ON h.user_id = g.user_id AND h.hour = g.hour
    ),
    stats AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM series GROUP BY user_id
    ),
    z AS (
      SELECT s.user_id, s.hour, s.x,
             (CAST(s.x AS DOUBLE) - CAST(t.sx AS DOUBLE) / t.n)
               / sqrt(CAST(t.sxx AS DOUBLE) / t.n
                      - (CAST(t.sx AS DOUBLE) / t.n) * (CAST(t.sx AS DOUBLE) / t.n)) AS zr
      FROM series s JOIN stats t USING (user_id)
      WHERE t.sxx * t.n > t.sx * t.sx
    )
    SELECT user_id, hour,
           CAST(x AS DOUBLE) / 100.0 AS value,
           floor(zr * 10000.0 + 0.5) / 10000.0 AS zscore
    FROM z
    WHERE floor(zr * 10000.0 + 0.5) / 10000.0 >= 3.0
    ORDER BY user_id, hour
    """,
)
def q114_series_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly anomaly detection: z-score each hour of the
    gap-filled series (q97's densification — zero hours COUNT, which is
    what makes a sudden burst an outlier) against that user's own
    mean/std, keep hours with z >= 3. The composition every
    usage-monitoring pipeline runs: densify -> per-key moments ->
    standardize -> threshold.

    Exactness: hourly sums are integer cents; per-user moments (n, Σx,
    Σx²) are exact integers; the degenerate constant-series guard is an
    integer comparison (n*Σx² > (Σx)² ⟺ variance > 0); mean/std/z are
    then identical IEEE doubles on both engines, rounded once with the
    portable floor-half-up pattern. Scale shape: the grid never shuffles
    at event grain; moments ride the same (user) partitioning as the
    densified series; the stats relation is user-grain and joins back
    co-partitioned.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour")).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100).cast("long").alias("cents")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("user_id", F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    )
    series = grid.join(hourly, ["user_id", "hour"], "left").select(
        "user_id", "hour", F.coalesce("cents", F.lit(0)).alias("x")
    )
    stats = series.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    sigma = F.sqrt(F.col("sxx").cast("double") / F.col("n") - mu * mu)
    zr = (F.col("x").cast("double") - mu) / sigma
    z6 = F.floor(zr * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    return (
        series.join(stats, "user_id")
        .filter(F.col("sxx") * F.col("n") > F.col("sx") * F.col("sx"))
        .select("user_id", "hour", (F.col("x").cast("double") / F.lit(100.0)).alias("value"), z6.alias("zscore"))
        .filter(F.col("zscore") >= 3.0)
        .orderBy("user_id", "hour")
    )


@query(
    "q123_interval_join_attribution",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, c.click_id, p.user_id,
           CAST((epoch_us(p.p_ts) - epoch_us(c.c_ts)) // 1000000 AS BIGINT) AS lag_s
    FROM purchases p JOIN clicks c
      ON p.user_id = c.user_id
     AND c.c_ts <= p.p_ts
     AND p.p_ts < c.c_ts + INTERVAL 48 HOURS
    ORDER BY purchase_id, click_id
    """,
)
def q123_interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution interval join: every purchase matched to ALL of the
    user's clicks in the preceding 48 hours — the many-to-many
    time-bounded join behind ad attribution (q54's as-of join keeps only
    the nearest match; attribution models weight the full set).

    This is exactly the STREAM-STREAM inner join shape Structured
    Streaming supports (equality key + event-time interval condition,
    watermark-bounded state); tests/test_streaming_windows.py runs the
    same join as two real file streams with 48h watermarks and pins
    equality with this batch result. Scale shape: one shuffle on
    user_id for both sides, the interval predicate evaluates within the
    co-partitioned join; lag arithmetic in exact integer microseconds.
    """
    ev = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    return (
        purchases.join(
            clicks,
            (purchases.user_id == clicks.user_id)
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 48 HOURS")),
        )
        .select(
            "purchase_id",
            "click_id",
            purchases.user_id.alias("user_id"),
            F.floor((us("p_ts") - us("c_ts")) / 1_000_000).cast("long").alias("lag_s"),
        )
        .orderBy("purchase_id", "click_id")
    )


@query(
    "q133_left_outer_attribution",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, c.click_id, p.user_id,
           CAST((epoch_us(p.p_ts) - epoch_us(c.c_ts)) // 1000000 AS BIGINT) AS lag_s
    FROM purchases p LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND c.c_ts <= p.p_ts
     AND p.p_ts < c.c_ts + INTERVAL 48 HOURS
    ORDER BY purchase_id, click_id
    """,
)
def q133_left_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer attribution (VERDICT r5 #8): q123's interval join with
    UNMATCHED purchases preserved (click_id/lag_s null) — the "organic
    conversion" rows an attribution model needs alongside the attributed
    ones. This is the STREAM-STREAM LEFT OUTER join shape Structured
    Streaming supports (equality key + event-time interval + watermarks
    on both sides; unmatched left rows emit when the watermark proves no
    future click can match); tests/test_streaming_windows.py runs it as
    two real file streams and pins equality with this batch result.
    Scale shape identical to q123: one user_id shuffle each side.
    """
    ev = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    return (
        purchases.join(
            clicks,
            (purchases.user_id == clicks.c_user)
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 48 HOURS")),
            "left",
        )
        .select(
            "purchase_id",
            "click_id",
            "user_id",
            F.floor((us("p_ts") - us("c_ts")) / 1_000_000).cast("long").alias("lag_s"),
        )
        .orderBy("purchase_id", "click_id")
    )


@query(
    "q134_scd2_history",
    oracle="""
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version,
           ts                                  AS valid_from,
           lead(ts) OVER w                     AS valid_to,
           event_type,
           round(value, 2)                     AS value,
           CAST(lead(ts) OVER w IS NULL AS BOOLEAN) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, version
    """,
)
def q134_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: turn an append-only change log into
    versioned validity intervals per key — each change opens a row at
    its event time and closes the previous one ([valid_from, valid_to)),
    the newest row staying open (valid_to null, is_current true). The
    companion to q130's MERGE-latest compaction: q130 materializes the
    CURRENT state, this materializes the full temporal dimension a
    point-in-time join (q54's as-of shape) resolves against.

    Determinism: the version order ties on event_id, so same-timestamp
    changes produce identical interval chains on every engine. Scale
    shape: ONE shuffle on the key; version rank and both interval
    endpoints ride the same window partitioning (lead needs no second
    exchange), and keys are independent — the partition-friendly shape
    SCD builds have at warehouse scale.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "ts", "event_type", F.round("value", 2).alias("value"), "event_id")
        .withColumn("version", F.row_number().over(w).cast("long"))
        .withColumn("valid_to", F.lead("ts").over(w))
        .select(
            "user_id",
            "version",
            F.col("ts").alias("valid_from"),
            "valid_to",
            "event_type",
            "value",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


@query(
    "q139_point_in_time_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts,
             CAST(row_number() OVER w AS BIGINT) AS version,
             lead(ts) OVER w AS valid_to
      FROM events WHERE event_type = 'click'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, p.p_ts,
           c.version AS state_version, c.click_id AS state_click_id,
           round(p.value, 2) AS value
    FROM purchases p LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND c.ts <= p.p_ts
     AND (p.p_ts < c.valid_to OR c.valid_to IS NULL)
    ORDER BY purchase_id
    """,
)
def q139_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against an SCD2 dimension: each purchase is
    enriched with the click-state version whose validity interval
    [valid_from, valid_to) contains the purchase time (open-ended
    current version matches everything after its start) — the canonical
    feature-store lookup that guarantees NO FUTURE LEAKAGE: a training
    example may only see dimension state that existed at event time.
    q134 builds the intervals; this query consumes them, and the ORACLE
    keeps the declarative interval-containment join a warehouse
    dimension table serves.

    Execution is the q54 backward-as-of machinery (``asof_join``: union
    + ONE window pass per user), not an interval join (VERDICT r6 #2):
    the interval join keyed on user_id with containment as a residual
    predicate makes a hot user with C clicks and P purchases evaluate
    C*P pairs inside one task even though at most one version matches —
    a straggler cliff under power-user skew. The as-of form costs
    (C+P)log(C+P) per user — probed at 10^5 clicks x 10^5 purchases on
    ONE key: as-of 2.7s vs interval-join 12.3s and widening
    quadratically (git show 4934493:tools/probe_round7_ops.py).

    Equivalence to interval containment: intervals per user are disjoint
    and half-open with valid_to = the NEXT click's ts, so the latest
    click with ts <= p_ts is exactly the containing version. The one
    edge: several clicks at the SAME ts — version order ties on
    click_id, giving every click but the last a zero-width [t, t)
    interval that can never contain anything; those shadowed versions
    are filtered (valid_to > valid_from) AFTER version numbering, which
    also makes the as-of pick deterministic at tied timestamps.
    """
    from pyspark.sql import Window as W

    from kafka_connect_bigquery_storage_write_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    wc = W.partitionBy("user_id").orderBy("ts", "click_id")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), "ts")
        .withColumn("state_version", F.row_number().over(wc).cast("long"))
        .withColumn("valid_to", F.lead("ts").over(wc))
        .withColumnRenamed("ts", "valid_from")
        # drop zero-width versions (shadowed same-ts clicks): they can't
        # contain any point, and their removal makes the backward as-of
        # pick identical to interval containment
        .filter(F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from")))
        .withColumnRenamed("click_id", "state_click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts"),
        F.round("value", 2).alias("value"),
    )
    return (
        asof_join(
            purchases,
            clicks,
            by="user_id",
            left_ts="p_ts",
            right_ts="valid_from",
            right_payload=["state_version", "state_click_id"],
            how="left",
        )
        .select("purchase_id", "user_id", "p_ts", "state_version", "state_click_id", "value")
        .orderBy("purchase_id")
    )


@query(
    "q159_hourly_autocorrelation",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour,
             CAST(round(sum(CAST(value AS DECIMAL(18,2))) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT time_bucket(INTERVAL '1 hour', min(ts)) AS lo,
             time_bucket(INTERVAL '1 hour', max(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT t.event_type, g.hour
      FROM (SELECT DISTINCT event_type FROM events) t,
           bounds,
           LATERAL (SELECT unnest(generate_series(bounds.lo, bounds.hi, INTERVAL '1 hour')) AS hour) g
    ),
    series AS (
      SELECT g.event_type, g.hour, coalesce(h.cents, 0) AS x
      FROM grid g LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hour = g.hour
    ),
    pairs AS (
      SELECT event_type, x,
             lead(x) OVER (PARTITION BY event_type ORDER BY hour) AS y
      FROM series
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT)  AS sx,  CAST(sum(y) AS BIGINT)  AS sy,
             CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy,
             CAST(sum(x*y) AS BIGINT) AS sxy
      FROM pairs WHERE y IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs,
           floor((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
                 * 1000000.0 + 0.5) / 1000000.0 AS autocorr
    FROM m
    WHERE n * sxx > sx * sx AND n * syy > sy * sy
    ORDER BY event_type
    """,
)
def q159_hourly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's gap-filled hourly value
    series — the persistence/seasonality screen (is this metric bursty or
    mean-reverting?) that decides whether a series needs differencing
    before anomaly thresholds like q114's z-scores are trusted.

    Exactness (q119's recipe on q114's densified series): hourly sums are
    integer cents, the (x_t, x_{t+1}) pair moments are exact int64 sums,
    the degenerate constant-series guard is an integer comparison, and r
    is one identical IEEE expression with a portable floor-half-up round.

    Scale shape: events collapse to (type, hour) grain before anything
    else touches them; the densified series is time-bounded (hours in
    range x |types|), so the per-type lead() window is bounded by the
    calendar, not the corpus — the q97 grid rule; moments ride one
    type-keyed aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour")).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100).cast("long").alias("cents")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("event_type", F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour"))
    )
    series = grid.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("cents", F.lit(0)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    pairs = series.withColumn("y", F.lead("x").over(w)).where(F.col("y").isNotNull())
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
        * (F.col("n") * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
    )
    return (
        m.where(
            (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
            & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
        )
        .select(
            "event_type",
            F.col("n").alias("n_pairs"),
            (F.floor(num / den * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias("autocorr"),
        )
        .orderBy("event_type")
    )


@query(
    "q163_full_outer_attribution",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, c.click_id,
           coalesce(p.user_id, c.user_id) AS user_id,
           CAST((epoch_us(p.p_ts) - epoch_us(c.c_ts)) // 1000000 AS BIGINT) AS lag_s
    FROM purchases p FULL JOIN clicks c
      ON p.user_id = c.user_id
     AND c.c_ts <= p.p_ts
     AND p.p_ts < c.c_ts + INTERVAL 48 HOURS
    ORDER BY purchase_id, click_id
    """,
)
def q163_full_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer attribution: q123's interval join preserving BOTH
    unmatched sides — organic purchases (no prior click, q133's rows)
    AND dead-end clicks that never converted within the window, the rows
    a funnel-leakage analysis needs. Completes the stream-stream join
    family (inner q123, left-outer q133, full-outer here): Structured
    Streaming supports exactly this shape with watermarks on both sides
    — each unmatched row emits when the watermark proves its window
    closed; tests/test_streaming_windows.py runs it as two real file
    streams and pins equality with this batch result.

    Scale shape identical to q123: one user_id shuffle per side, state
    bounded by the 48h watermark horizon.
    """
    ev = load_table(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    return (
        purchases.join(
            clicks,
            (purchases.user_id == clicks.c_user)
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 48 HOURS")),
            "full_outer",
        )
        .select(
            "purchase_id",
            "click_id",
            F.coalesce(F.col("user_id"), F.col("c_user")).alias("user_id"),
            F.floor((us("p_ts") - us("c_ts")) / 1_000_000).cast("long").alias("lag_s"),
        )
        .orderBy("purchase_id", "click_id")
    )


@query(
    "q191_asof_directions",
    oracle="""
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
    b AS (
      SELECT c.event_id, max(p.p_ts) AS b_ts
      FROM clicks c JOIN p ON p.user_id = c.user_id AND p.p_ts <= c.ts
      GROUP BY 1
    ),
    f AS (
      SELECT c.event_id, min(p.p_ts) AS f_ts
      FROM clicks c JOIN p ON p.user_id = c.user_id AND p.p_ts >= c.ts
      GROUP BY 1
    )
    SELECT c.event_id, c.user_id,
           epoch_us(b.b_ts) AS b_us,
           epoch_us(f.f_ts) AS f_us,
           CASE WHEN b.b_ts IS NULL AND f.f_ts IS NULL THEN 'none'
                WHEN f.f_ts IS NULL THEN 'b'
                WHEN b.b_ts IS NULL THEN 'f'
                WHEN epoch_us(c.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(c.ts) THEN 'b'
                ELSE 'f' END AS nearest
    FROM clicks c LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)
    ORDER BY c.event_id
    """,
)
def q191_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join DIRECTION variants — backward (latest right at-or-
    before), forward (earliest right at-or-after), and the composed
    nearest pick (smaller absolute gap, ties backward): the full match
    vocabulary pandas merge_asof exposes, here on asof_join's
    union+window machinery so BOTH directions cost exactly one shuffle
    and one sort each (forward just flips the tie order and reads the
    following frame — no extra join, no per-row lookups). Gaps compare
    in exact integer microseconds; the oracle re-derives both directions
    as correlated min/max joins.
    """
    from kafka_connect_bigquery_storage_write_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    back = asof_join(
        clicks, purchases.select("user_id", F.col("p_ts").alias("b_ts"), F.col("p_ts")),
        by="user_id", left_ts="ts", right_ts="p_ts", right_payload=["b_ts"],
        how="left", direction="backward",
    )
    fwd = asof_join(
        clicks.select("event_id", "user_id", "ts"),
        purchases.select("user_id", F.col("p_ts").alias("f_ts"), F.col("p_ts")),
        by="user_id", left_ts="ts", right_ts="p_ts", right_payload=["f_ts"],
        how="left", direction="forward",
    ).select("event_id", "f_ts")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    joined = back.join(fwd, "event_id", "left")
    nearest = (
        F.when(F.col("b_ts").isNull() & F.col("f_ts").isNull(), "none")
        .when(F.col("f_ts").isNull(), "b")
        .when(F.col("b_ts").isNull(), "f")
        .when(us("ts") - us("b_ts") <= us("f_ts") - us("ts"), "b")
        .otherwise("f")
    )
    return joined.select(
        "event_id",
        "user_id",
        us("b_ts").alias("b_us"),
        us("f_ts").alias("f_us"),
        nearest.alias("nearest"),
    ).orderBy("event_id")


@query(
    "q195_ewma_user_scores",
    oracle="""
    WITH t AS (
      SELECT user_id,
             CAST(floor(date_diff('day', CAST(ts AS DATE), DATE '2024-01-31') / 7) AS BIGINT) AS w,
             CAST(round(value * 1000000) AS BIGINT) AS vmic
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(vmic * (1 << CAST(4 - w AS INT))) AS DOUBLE) / 16000000.0, 6) AS ewma_score
    FROM t
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q195_ewma_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity score per user (half-life one
    week, as-of 2024-01-31) — the freshness weighting behind decayed
    engagement ranking and recency-weighted mixture sampling.

    Exactness across engines: the half-life weight is a POWER OF TWO
    (2^(4 - weeks_ago), weeks_ago in 0..4 over the 30-day fixture), so
    each term value_micros * 2^k is an exact BIGINT — the decayed sum is
    reassociation-free in any aggregation order; the single float step
    is the final divide/round. Scale: one hash aggregate with map-side
    partials, nothing shuffles but (user, 8-byte partial); the grain
    generalizes (day-grain half-life => weight 2^(span-days_ago)) until
    span*|value| approaches 2^63, at which point split the sum by epoch.
    """
    ev = load_table(spark, sf_dir, "events")
    ref = F.lit("2024-01-31").cast("date")
    t = ev.select(
        "user_id",
        F.floor(F.datediff(ref, F.col("ts").cast("date")) / 7).cast("long").alias("w"),
        F.round(F.col("value") * 1000000).cast("long").alias("vmic"),
    )
    term = F.col("vmic") * F.expr("shiftleft(1L, CAST(4 - w AS INT))")
    return (
        t.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(term).cast("double") / 16000000.0, 6).alias("ewma_score"),
        )
        .orderBy("user_id")
    )


@query(
    "q212_event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    cnt AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n_trans,
           round(n_trans * 1.0 / sum(n_trans) OVER (PARTITION BY from_type), 6) AS p
    FROM cnt
    ORDER BY from_type, to_type
    """,
)
def q212_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event journeys:
    P(next event type | current event type), the model behind next-action
    prediction, funnel-leakage attribution, and journey anomaly scoring.

    Scale shape: ONE shuffle on user_id serves the lead() sequencing
    (ties broken by event_id so the successor is engine-deterministic);
    the transition aggregate then lives at |types|^2 grain — 25 rows here,
    a few thousand for any real taxonomy — so the normalizing row-sum
    window runs over a relation that fits in one task regardless of event
    volume. Probabilities are a single double division of two exact
    BIGINTs (IEEE-deterministic), never a float aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "ts", "event_id", F.col("event_type").alias("from_type"))
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    cnt = trans.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n_trans"))
    row_total = Window.partitionBy("from_type")
    return (
        cnt.withColumn("p", F.round(F.col("n_trans") / F.sum("n_trans").over(row_total), 6))
        .orderBy("from_type", "to_type")
    )

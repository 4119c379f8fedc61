"""Temporal join operators: as-of join, band (interval) join, multi-grain
time rollup (SURVEY.md §2b — operators Spark lacks natively, built as
compositions of DataFrame ops; the reference has no temporal surface at all).

Scale design:
- As-of join — the union-sort trick: tag both streams, union, then one
  window pass per key carrying the last order forward (`last(..., ignorenulls)`
  over rows UNBOUNDED PRECEDING). ONE shuffle on the join key, no fan-out, no
  per-event probe — this is how as-of joins stay linear at 100 TB (vs the
  naive join+filter+rank which materializes |events|×|orders-per-user| rows).
- Band join — bucketize time into band-width buckets and explode each left
  row into its 3 candidate buckets; the theta predicate then applies to an
  equi-joined candidate set ~3×|band| instead of the full cross product per
  key. Shuffles scale with data size, not with the square of it.
- Rollup — GROUPING SETS over pre-computed grain columns: one shuffle
  produces hour+day+total grains (vs 3 separate scans/aggs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._memo import memo_persist
from ..registry import query
from ..sources import load_table
from ._util import dsum, sql_dsum

_BAND_SECONDS = 300  # ±5 minutes


@query(
    "join_asof_event_last_order",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate,
             MAX(o_orderkey) AS o_orderkey,
             arg_max(o_totalprice, o_orderkey) AS o_totalprice
      FROM orders
      GROUP BY o_custkey, o_orderdate
    )
    SELECT
      e.event_id,
      e.user_id,
      strftime(CAST(e.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts,
      o.o_orderkey AS last_orderkey,
      o.o_totalprice AS last_totalprice
    FROM events e
    ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof_event_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the user's most recent order at or
    before the event timestamp.

    Orders are first deduped to one row per (custkey, orderdate) — max
    orderkey wins — because an as-of match at a tied timestamp is otherwise
    nondeterministic in any engine.

    Implementation (scale path): union the two streams with a side tag,
    window once per user ordered by (t, side) — side orders orders (0)
    before events (1) at equal timestamps so `ts >= orderdate` is inclusive
    — and carry the last non-null order columns forward. One shuffle on
    user_id; memory per partition is O(1) beyond the sort.
    """
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    o_side = o.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
        F.col("o_totalprice"),
    )
    e_side = e.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = o_side.unionByName(e_side).select(
        "user_id",
        "t",
        "side",
        "event_id",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("last_orderkey"),
        F.last("o_totalprice", ignorenulls=True).over(w).alias("last_totalprice"),
    )
    return merged.where(F.col("side") == 1).select(
        "event_id",
        "user_id",
        # string output: cross-engine pandas timestamp units differ (ns vs µs)
        F.date_format("t", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "last_orderkey",
        "last_totalprice",
    )


@query(
    "join_band_event_pairs",
    oracle=f"""
    SELECT
      a.event_id AS event_a,
      b.event_id AS event_b,
      a.user_id,
      epoch_us(b.ts) - epoch_us(a.ts) AS micros_apart
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts >= a.ts - INTERVAL {_BAND_SECONDS} SECOND
     AND b.ts <= a.ts + INTERVAL {_BAND_SECONDS} SECOND
    """,
)
def join_band_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (interval) self-join: same-user event pairs within ±5 minutes.

    Scale path: bucket ts by the band width; a pair within the band can only
    span adjacent buckets, so exploding the left side into {b-1, b, b+1} and
    equi-joining on (user_id, bucket) bounds candidates at ~3× the true band
    pairs. The exact predicate filters after the equi-join. No quadratic
    blowup: shuffle volume is 3×|events|, and a hot user's cross product is
    confined to one 5-minute bucket at a time.

    micros_apart is exact integer microsecond arithmetic in both engines.
    """
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    bucket = F.floor(micros / (_BAND_SECONDS * 1_000_000))
    left = e.select(
        F.col("event_id").alias("event_a"),
        "user_id",
        F.col("ts").alias("ts_a"),
        micros.alias("us_a"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("bucket"),
    )
    right = e.select(
        F.col("event_id").alias("event_b"),
        F.col("user_id").alias("user_b"),
        micros.alias("us_b"),
        bucket.alias("bucket_b"),
    )
    pairs = left.join(
        right,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("bucket") == F.col("bucket_b"))
        & (F.col("event_a") < F.col("event_b")),
    ).where(
        (F.col("us_b") >= F.col("us_a") - _BAND_SECONDS * 1_000_000)
        & (F.col("us_b") <= F.col("us_a") + _BAND_SECONDS * 1_000_000)
    )
    return pairs.select(
        "event_a",
        "event_b",
        "user_id",
        (F.col("us_b") - F.col("us_a")).alias("micros_apart"),
    )


@query(
    "events_time_rollup_grains",
    oracle=f"""
    SELECT
      CASE WHEN GROUPING(day) = 1 THEN 'total'
           WHEN GROUPING(hour) = 1 THEN 'day' ELSE 'hour' END AS grain,
      strftime(day, '%Y-%m-%d %H:%M:%S') AS day,
      strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
      COUNT(*) AS n_events,
      {sql_dsum('value')} AS total_value
    FROM (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, value
      FROM events
    )
    GROUP BY GROUPING SETS ((day, hour), (day), ())
    """,
)
def events_time_rollup_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hour, day, and total
    grains from ONE shuffle via ROLLUP(day, hour) (hour nests inside day, so
    rollup == these grouping sets). At scale this replaces three scans of
    the fact with one; the grain column disambiguates rows for consumers."""
    e = load_table(spark, sf_dir, "events")
    g = (
        e.select(
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour"),
            "value",
        )
        .rollup("day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
            F.grouping("day").alias("_gd"),
            F.grouping("hour").alias("_gh"),
        )
    )
    grain = (
        F.when(F.col("_gd") == 1, "total").when(F.col("_gh") == 1, "day").otherwise("hour")
    )
    return g.select(
        grain.alias("grain"),
        F.date_format("day", "yyyy-MM-dd HH:mm:ss").alias("day"),
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n_events",
        "total_value",
    )


@query(
    "join_scd2_order_segment",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment AS segment,
             DATE '1992-01-01' AS valid_from,
             CAST(DATE '1995-01-01' + INTERVAL 1 DAY * (c_custkey % 1000) AS DATE)
               AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'UPGRADED-' || c_mktsegment,
             CAST(DATE '1995-01-01' + INTERVAL 1 DAY * (c_custkey % 1000) AS DATE),
             DATE '9999-12-31'
      FROM customer
    )
    SELECT o.o_orderkey, o.o_custkey,
           CAST(o.o_orderdate AS VARCHAR) AS order_date,
           d.segment AS segment_at_order
    FROM orders o
    JOIN dim d
      ON d.c_custkey = o.o_custkey
     AND CAST(o.o_orderdate AS DATE) >= d.valid_from
     AND CAST(o.o_orderdate AS DATE) < d.valid_to
    """,
)
def join_scd2_order_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 point-in-time join: each order picks the dimension
    version VALID AT ITS DATE (half-open [valid_from, valid_to)
    intervals). The version table is synthesized deterministically — every
    customer 'upgrades' segment at a custkey-derived date — so both
    engines build the identical dimension history.

    Plan: the versioned dim is ~2x customer and broadcasts; the interval
    predicate rides the hash join on custkey as a residual filter, so the
    fact shuffles zero times. Half-open intervals guarantee exactly one
    matching version per order — the invariant every SCD2 join must hold
    (row count in == row count out; asserted by the oracle row count).
    """
    c = load_table(spark, sf_dir, "customer")
    switch = F.date_add(F.lit("1995-01-01").cast("date"), (F.col("c_custkey") % 1000).cast("int"))
    v1 = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        switch.alias("valid_to"),
    )
    v2 = c.select(
        "c_custkey",
        F.concat(F.lit("UPGRADED-"), F.col("c_mktsegment")).alias("segment"),
        switch.alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    o = load_table(spark, sf_dir, "orders")
    odate = F.col("o_orderdate").cast("date")
    return (
        o.join(
            F.broadcast(dim),
            (F.col("c_custkey") == F.col("o_custkey"))
            & (odate >= F.col("valid_from"))
            & (odate < F.col("valid_to")),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("string").alias("order_date"),
            F.col("segment").alias("segment_at_order"),
        )
    )


@query(
    "join_asof_nearest_order",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ), back AS (
      SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS bk, o.o_orderdate AS bd
      FROM events e
      ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ), fwd AS (
      SELECT e.event_id, o.o_orderkey AS fk, o.o_orderdate AS fd
      FROM events e
      ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts < o.o_orderdate
    ), paired AS (
      SELECT
        b.event_id, b.user_id, b.ts, b.bk, f.fk,
        epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(b.bd AS TIMESTAMP)) AS dback,
        epoch_us(CAST(f.fd AS TIMESTAMP)) - epoch_us(CAST(b.ts AS TIMESTAMP)) AS dfwd
      FROM back b JOIN fwd f USING (event_id)
    )
    SELECT
      event_id, user_id,
      strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts,
      CASE WHEN dback IS NOT NULL AND (dfwd IS NULL OR dback <= dfwd) THEN bk ELSE fk END
        AS nearest_orderkey,
      CASE
        WHEN dback IS NULL AND dfwd IS NULL THEN NULL
        WHEN dback IS NOT NULL AND (dfwd IS NULL OR dback <= dfwd) THEN 'back'
        ELSE 'fwd'
      END AS direction,
      ROUND(CASE WHEN dback IS NOT NULL AND (dfwd IS NULL OR dback <= dfwd)
                 THEN dback ELSE dfwd END / 60000000.0, 6) AS minutes_apart
    FROM paired
    """,
)
def join_asof_nearest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join: each event matches the temporally
    CLOSEST order of the same user in either direction (backward inclusive,
    forward strict; an exact tie keeps the earlier order) — the
    pandas merge_asof(direction='nearest') semantic.

    Scale path: ONE union of the two streams, ONE shuffle on user_id, two
    window passes over the same sort (backward = last order at-or-before
    via the (t, side) ordering that puts orders before events at equal
    timestamps; forward = first order strictly after, which is exactly the
    following-rows frame of that same sort). Never a per-event range probe.
    The oracle runs DuckDB's native ASOF join twice (once per direction)
    and resolves the winner with the same tie rule.
    """
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    o_side = o.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
    )
    e_side = e.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    base = Window.partitionBy("user_id").orderBy("t", "side")
    wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = base.rowsBetween(1, Window.unboundedFollowing)
    ord_t = F.when(F.col("side") == 0, F.col("t"))
    ord_k = F.when(F.col("side") == 0, F.col("o_orderkey"))
    merged = (
        o_side.unionByName(e_side)
        .select(
            "user_id",
            "t",
            "side",
            "event_id",
            F.last(ord_k, ignorenulls=True).over(wb).alias("bk"),
            F.last(ord_t, ignorenulls=True).over(wb).alias("bt"),
            F.first(ord_k, ignorenulls=True).over(wf).alias("fk"),
            F.first(ord_t, ignorenulls=True).over(wf).alias("ft"),
        )
        .where(F.col("side") == 1)
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    dback = us("t") - us("bt")
    dfwd = us("ft") - us("t")
    back_wins = dback.isNotNull() & (dfwd.isNull() | (dback <= dfwd))
    return merged.select(
        "event_id",
        "user_id",
        F.date_format("t", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.when(back_wins, F.col("bk")).otherwise(F.col("fk")).alias("nearest_orderkey"),
        F.when(dback.isNull() & dfwd.isNull(), F.lit(None).cast("string"))
        .when(back_wins, F.lit("back"))
        .otherwise(F.lit("fwd"))
        .alias("direction"),
        F.round(
            F.when(back_wins, dback).otherwise(dfwd) / 60000000.0, 6
        ).alias("minutes_apart"),
    )


@query(
    "events_time_weighted_avg_daily",
    oracle="""
    WITH base AS (
      SELECT event_type,
             strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             event_id,
             CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS v
      FROM events
    ),
    seg AS (
      SELECT event_type, day, v,
             LEAD(us) OVER (
               PARTITION BY event_type, day ORDER BY us, event_id
             ) - us AS dur
      FROM base
    )
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(dur) AS BIGINT) AS covered_us,
           ROUND(CAST(SUM(v * CAST(dur AS DECIMAL(20,0))) AS DOUBLE)
                 / CAST(SUM(dur) AS DOUBLE), 6) AS twap_value
    FROM seg WHERE dur IS NOT NULL
    GROUP BY event_type, day
    """,
)
def events_time_weighted_avg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event_type, day) — the TSDB
    aggregate (TimescaleDB time_weight / InfluxDB integral) for irregular
    samples, where a plain AVG over-weights bursts: each observation holds
    until the next one of the same series, weight = microseconds held
    (LOCF integral; a day's last observation closes the day, weight 0).

    Exactness: value as DECIMAL(18,6) x DECIMAL(20,0) µs duration (width > 18 forces DuckDB int128 multiply) — products and
    sums stay exact decimals in both engines (no float summation order);
    the single double division at the end is IEEE-deterministic.

    Scale shape: one shuffle on (event_type, day) serves BOTH the lead()
    window and the aggregation (same keys); day-partitioning keeps windows
    bounded, so a year of 100 TB telemetry parallelizes across type x day
    partitions instead of one sort per series.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        F.round("value", 6).cast("decimal(18,6)").alias("v"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("us", "event_id")
    seg = base.select(
        "event_type", "day", "v", (F.lead("us").over(w) - F.col("us")).alias("dur")
    ).where(F.col("dur").isNotNull())
    return seg.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("dur").cast("long").alias("covered_us"),
        F.round(
            F.sum(F.col("v") * F.col("dur").cast("decimal(20,0)")).cast("double")
            / F.sum("dur").cast("double"),
            6,
        ).alias("twap_value"),
    )


@query(
    "events_rolling_median_7d",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS rev
      FROM events GROUP BY 1, 2
    ), win AS (
      SELECT event_type, day, rev,
             list(rev) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS vals
      FROM daily
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day,
           CAST(len(vals) AS INT) AS n_in_window,
           ROUND(list_sort(vals)[CAST((len(vals) + 1) // 2 AS INT)], 6)
             AS rolling_median
    FROM win
    """,
)
def events_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling MEDIAN of daily revenue per event type —
    the robust counterpart of a moving average (one outlier day cannot
    drag it), and a window shape percentile functions cannot express
    (no percentile over a sliding frame): collect the frame, sort, take
    the lower median. An exact order statistic — no interpolation for
    engines to disagree on; the inputs are decimal-exact daily sums.

    Scale shape: the frame is BOUNDED (7 values), so the collected array
    is O(1) per row and the whole computation rides the one (event_type)
    shuffle the daily rollup already produces. Never do this with an
    unbounded frame — that is what the mergeable histogram sketches
    (hist_quantiles_daily_merge) are for.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(dsum("value").alias("rev"))
    w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "event_type",
        "day",
        F.collect_list("rev").over(w7).alias("vals"),
    )
    sorted_vals = F.array_sort("vals")
    n = F.size("vals")
    return win.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        n.cast("int").alias("n_in_window"),
        F.round(
            F.element_at(sorted_vals, ((n + 1) / 2).cast("int")), 6
        ).alias("rolling_median"),
    )


@query(
    "timeseries_robust_stl_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS rev
      FROM events GROUP BY 1, 2
    ), win AS (
      SELECT event_type, day, CAST(rev AS DOUBLE) AS x,
             list(CAST(rev AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS vals,
             dayofweek(day) AS dow
      FROM daily
    ), det AS (
      SELECT event_type, day, dow, x,
             list_sort(vals)[4] AS trend,
             x - list_sort(vals)[4] AS d
      FROM win WHERE len(vals) = 7
    ), seas AS (
      SELECT event_type, dow,
             list_sort(list(ROUND(d, 6)))
               [CAST((COUNT(*) + 1) // 2 AS INT)] AS s
      FROM det GROUP BY 1, 2
    )
    SELECT t.event_type,
           strftime(t.day, '%Y-%m-%d') AS day,
           ROUND(t.x, 6) AS revenue,
           ROUND(t.trend, 6) AS trend,
           ROUND(s.s, 6) AS seasonal,
           ROUND(ROUND(t.d, 6) - s.s, 6) AS remainder
    FROM det t JOIN seas s
      ON t.event_type = s.event_type AND t.dow = s.dow
    """,
)
def timeseries_robust_stl_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style ROBUST decomposition of each event type's daily revenue:
    trend = centered 7-day MEDIAN (an exact order statistic — one outlier
    day cannot bend it, unlike the moving mean in
    timeseries_classical_decomposition), seasonal = per-day-of-week lower
    median of the detrended series, remainder = the rest. Medians make
    every decomposition component robust AND cross-engine exact: order
    statistics on identical inputs cannot drift, where iterated loess (real
    STL) would be float-order-sensitive.

    Full 7-day windows only, so the trend median is over an ODD count —
    the middle element, no interpolation. The seasonal median uses the
    LOWER median (element (n+1) div 2 of the sorted list) so even counts
    also pick a real data point. Daily sums are decimal-exact first.

    Scale shape: the fact collapses to (type, day) rows map-side; the
    bounded 7-row frame collects O(1) values per row; the seasonal rollup
    groups ≤ 7 rows per type. Everything after the first shuffle is
    calendar-bounded, not event-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round("value", 6).cast("decimal(18,6)")).alias("rev"))
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    win = daily.select(
        "event_type",
        "day",
        F.col("rev").cast("double").alias("x"),
        F.collect_list(F.col("rev").cast("double")).over(w7).alias("vals"),
        F.dayofweek("day").alias("dow"),
    )
    trend = F.element_at(F.array_sort("vals"), 4)
    det = win.where(F.size("vals") == 7).select(
        "event_type",
        "day",
        "dow",
        "x",
        trend.alias("trend"),
        (F.col("x") - trend).alias("d"),
    )
    n = F.count(F.lit(1))
    seas = det.groupBy("event_type", "dow").agg(
        F.element_at(
            F.sort_array(F.collect_list(F.round("d", 6))),
            ((n + 1) / 2).cast("int"),
        ).alias("s")
    )
    return det.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("x", 6).alias("revenue"),
        F.round("trend", 6).alias("trend"),
        F.round("s", 6).alias("seasonal"),
        F.round(F.round("d", 6) - F.col("s"), 6).alias("remainder"),
    )


@query(
    "timeseries_cross_correlation_lags",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
               AS t,
             COUNT(*) FILTER (WHERE event_type = 'view') AS x,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS y
      FROM events GROUP BY 1
    ), lags AS (
      SELECT CAST(range AS BIGINT) AS lag FROM range(0, 8)
    ), pairs AS (
      SELECT l.lag, d1.x, d2.y
      FROM lags l
      JOIN daily d1 ON TRUE
      JOIN daily d2 ON d2.t = d1.t + l.lag
    ), sums AS (
      SELECT lag,
             COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sx2, SUM(y * y) AS sy2
      FROM pairs GROUP BY lag
    )
    SELECT lag, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST((n * sx2 - sx * sx) AS DOUBLE)
                        * CAST((n * sy2 - sy * sy) AS DOUBLE)), 6)
             AS xcorr
    FROM sums
    """,
)
def timeseries_cross_correlation_lags(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Windowed cross-correlation between the 'view' and 'purchase' daily
    series at lags 0..7: Pearson r between views(t) and purchases(t+lag),
    the lead-lag diagnostic behind "do views predict purchases days
    later". Counts are integers, so every power sum is EXACT (bigint);
    only the final ratio and sqrt touch doubles — both IEEE-deterministic
    on identical operands.

    Scale shape: the fact collapses to one row per DAY (calendar-bounded)
    before anything else; the lag alignment is an 8-way bounded explode of
    the tiny days table joined on integer day index (equi-join, no range
    scan); the closed-form r comes from one grouped pass over ≤ 8 x days
    rows. The event volume only ever flows through the first map-side agg.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("date")
        ).alias("t")
    ).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
    )
    lags = spark.range(0, 8).select(F.col("id").alias("lag"))
    d1 = daily.select("t", "x")
    d2 = daily.select(F.col("t").alias("t2"), "y")
    pairs = (
        F.broadcast(lags)
        .crossJoin(d1)
        .join(d2, F.col("t2") == F.col("t") + F.col("lag"))
    )
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return sums.select(
        "lag",
        F.col("n").alias("n"),
        F.round(num / den, 6).alias("xcorr"),
    )


# Fixed holiday calendar for the events window (a broadcast-dim stand-in for
# the warehouse's date dimension; testdata events span January 2024).
_HOLIDAYS = ("2024-01-01", "2024-01-15")


@query(
    "timeseries_calendar_effects",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS rev
      FROM events GROUP BY 1, 2
    ), classed AS (
      SELECT event_type, rev,
             CASE
               WHEN strftime(day, '%Y-%m-%d') IN {_HOLIDAYS!r} THEN 'holiday'
               WHEN dayofweek(day) IN (0, 6) THEN 'weekend'
               ELSE 'weekday'
             END AS day_class
      FROM daily
    ), per_class AS (
      SELECT event_type, day_class,
             COUNT(*) AS n_days,
             SUM(rev) AS class_rev
      FROM classed GROUP BY 1, 2
    ), with_total AS (
      SELECT *,
             SUM(class_rev) OVER (PARTITION BY event_type) AS total_rev,
             SUM(n_days) OVER (PARTITION BY event_type) AS total_days
      FROM per_class
    )
    SELECT event_type, day_class, CAST(n_days AS BIGINT) AS n_days,
           ROUND(CAST(class_rev AS DOUBLE) / n_days, 6) AS avg_daily_rev,
           ROUND((CAST(class_rev AS DOUBLE) / n_days)
                 / (CAST(total_rev AS DOUBLE) / total_days), 6) AS lift
    FROM with_total
    """,
)
def timeseries_calendar_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holiday/calendar-join effects table: each event type's average daily
    revenue on holidays vs weekends vs weekdays, with the lift against the
    type's overall daily average — the calendar-dim join every forecast
    pipeline runs before modeling. The holiday list is a tiny literal dim
    (broadcast by construction); day classes come from the calendar, so
    the classification is a projection, not a join against the fact.

    Cross-engine: Spark dayofweek is 1=Sunday..7, DuckDB 0=Sunday..6 —
    the weekend test is written per-dialect but selects the same days; the
    class label is what leaves the plan. Revenue sums stay decimal until
    the final per-day division of exact operands.

    Scale shape: fact -> (type, day) rollup map-side, then a ≤3-row-per-
    type class rollup; the lift denominator is a window over that tiny
    table, never a second fact pass.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round("value", 6).cast("decimal(18,6)")).alias("rev"))
    classed = daily.select(
        "event_type",
        "rev",
        F.when(
            F.date_format("day", "yyyy-MM-dd").isin(*_HOLIDAYS), "holiday"
        )
        .when(F.dayofweek("day").isin(1, 7), "weekend")
        .otherwise("weekday")
        .alias("day_class"),
    )
    per_class = classed.groupBy("event_type", "day_class").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rev").alias("class_rev"),
    )
    w = Window.partitionBy("event_type")
    with_total = per_class.select(
        "event_type",
        "day_class",
        "n_days",
        "class_rev",
        F.sum("class_rev").over(w).alias("total_rev"),
        F.sum("n_days").over(w).alias("total_days"),
    )
    avg_c = F.col("class_rev").cast("double") / F.col("n_days")
    avg_t = F.col("total_rev").cast("double") / F.col("total_days")
    return with_total.select(
        "event_type",
        "day_class",
        "n_days",
        F.round(avg_c, 6).alias("avg_daily_rev"),
        F.round(avg_c / avg_t, 6).alias("lift"),
    )


@query(
    "timeseries_theil_sen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
               AS t,
             CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS rev
      FROM events GROUP BY 1, 2
    ), slopes AS (
      SELECT a.event_type,
             ROUND((b.rev - a.rev) / (b.t - a.t), 6) AS slope
      FROM daily a
      JOIN daily b
        ON a.event_type = b.event_type AND b.t > a.t AND b.t <= a.t + 30
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           list_sort(list(slope))[CAST((COUNT(*) + 1) // 2 AS INT)]
             AS theil_sen_slope
    FROM slopes GROUP BY event_type
    """,
)
def timeseries_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator per event type: the MEDIAN of all
    pairwise slopes (rev_j - rev_i)/(t_j - t_i) over day pairs within a
    30-day horizon — up to 29% of the days can be corrupted before the
    estimate moves (breakdown point), where least squares bends on one
    outlier. Lower median = exact order statistic; slopes divide exact
    doubles by integer day gaps, deterministic in both engines.

    Scale shape: the pairwise join runs on the (type, day) rollup, which
    is CALENDAR-bounded — the 30-day horizon caps fan-out at 30 pairs per
    day regardless of event volume, so the "quadratic" estimator is
    linear in days. The fact itself is touched once, map-side.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("date")
        ).alias("t"),
    ).agg(F.sum(F.round("value", 6).cast("decimal(18,6)")).cast("double").alias("rev"))
    a = daily.select(
        F.col("event_type").alias("et"),
        F.col("t").alias("ta"),
        F.col("rev").alias("ra"),
    )
    slopes = a.join(
        daily,
        (F.col("et") == F.col("event_type"))
        & (F.col("t") > F.col("ta"))
        & (F.col("t") <= F.col("ta") + 30),
    ).select(
        "event_type",
        F.round(
            (F.col("rev") - F.col("ra")) / (F.col("t") - F.col("ta")), 6
        ).alias("slope"),
    )
    n = F.count(F.lit(1))
    return slopes.groupBy("event_type").agg(
        n.alias("n_pairs"),
        F.element_at(
            F.sort_array(F.collect_list("slope")), ((n + 1) / 2).cast("int")
        ).alias("theil_sen_slope"),
    )


@query(
    "timeseries_sma_crossover_signals",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        {sql_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY 1
    ),
    sma AS (
      SELECT day, revenue,
        ROW_NUMBER() OVER (ORDER BY day) AS rn,
        CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (
          ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
          / 5 AS sma5,
        CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (
          ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS DOUBLE)
          / 20 AS sma20
      FROM daily
    ),
    state AS (
      SELECT day, rn, sma5, sma20,
        CASE WHEN ROUND(sma5, 6) > ROUND(sma20, 6) THEN 1
             WHEN ROUND(sma5, 6) < ROUND(sma20, 6) THEN -1
             ELSE 0 END AS cmp,
        LAG(CASE WHEN ROUND(sma5, 6) > ROUND(sma20, 6) THEN 1
                 WHEN ROUND(sma5, 6) < ROUND(sma20, 6) THEN -1
                 ELSE 0 END) OVER (ORDER BY day) AS prev_cmp
      FROM sma
    )
    SELECT day, ROUND(sma5, 4) AS sma5, ROUND(sma20, 4) AS sma20,
      CASE WHEN cmp = 1 THEN 'golden' ELSE 'death' END AS signal
    FROM state
    WHERE rn > 20 AND cmp <> 0 AND prev_cmp IS NOT NULL AND cmp <> prev_cmp
    """,
)
def timeseries_sma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover detection on the daily revenue series: days
    where the 5-day SMA crosses the 20-day SMA (golden cross up, death
    cross down) — the canonical trend-change signal.

    Both SMAs are decimal-exact window sums divided by their fixed frame
    lengths; the crossing state compares ROUNDED 6dp SMAs (so a ulp can
    never invent a cross), the first 20 warm-up days are excluded, and
    flat ties (state 0) emit nothing.

    At 100 TB: one fact aggregation to days, then two frames sharing ONE
    window sort over the day rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(dsum("o_totalprice").alias("revenue"))
    wday = Window.orderBy("day")
    dec = F.col("revenue").cast("decimal(18,6)")
    sma = daily.select(
        "day",
        F.row_number().over(wday).alias("rn"),
        (F.sum(dec).over(wday.rowsBetween(-4, 0)).cast("double") / 5).alias(
            "sma5"
        ),
        (F.sum(dec).over(wday.rowsBetween(-19, 0)).cast("double") / 20).alias(
            "sma20"
        ),
    )
    cmp_ = (
        F.when(F.round("sma5", 6) > F.round("sma20", 6), 1)
        .when(F.round("sma5", 6) < F.round("sma20", 6), -1)
        .otherwise(0)
    )
    state = sma.select(
        "day",
        "rn",
        "sma5",
        "sma20",
        cmp_.alias("cmp"),
        F.lag(cmp_).over(wday).alias("prev_cmp"),
    )
    return state.where(
        (F.col("rn") > 20)
        & (F.col("cmp") != 0)
        & F.col("prev_cmp").isNotNull()
        & (F.col("cmp") != F.col("prev_cmp"))
    ).select(
        "day",
        F.round("sma5", 4).alias("sma5"),
        F.round("sma20", 4).alias("sma20"),
        F.when(F.col("cmp") == 1, "golden").otherwise("death").alias("signal"),
    )


@query(
    "timeseries_bollinger_breaches",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        {sql_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY 1
    ),
    win AS (
      SELECT day, revenue,
        ROW_NUMBER() OVER (ORDER BY day) AS rn,
        CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER f AS DOUBLE) AS s,
        CAST(SUM(CAST(ROUND(revenue * revenue, 6) AS DECIMAL(32,6)))
             OVER f AS DOUBLE) AS ss,
        COUNT(*) OVER f AS n
      FROM daily
      WINDOW f AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    bands AS (
      SELECT day, revenue, rn,
        s / n AS mid,
        sqrt((ss - s * s / n) / (n - 1)) AS sd
      FROM win WHERE rn >= 20
    )
    SELECT day, revenue,
      ROUND(mid, 4) AS sma20,
      ROUND(mid + 2 * sd, 4) AS upper_band,
      ROUND(mid - 2 * sd, 4) AS lower_band,
      CASE WHEN ROUND(revenue - (mid + 2 * sd), 6) > 0 THEN 'above'
           ELSE 'below' END AS breach
    FROM bands
    WHERE ROUND(revenue - (mid + 2 * sd), 6) > 0
       OR ROUND((mid - 2 * sd) - revenue, 6) > 0
    """,
)
def timeseries_bollinger_breaches(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bollinger-band breaches on the daily revenue series: days whose
    revenue closes outside the 20-day moving mean +- 2 sigma envelope —
    the volatility-normalized outlier signal traders (and capacity
    planners) watch. Warm-up days (rn < 20) are excluded.

    Determinism: the rolling mean and the rolling second moment are
    decimal window sums (revenue^2 rounds to 6dp first — products of
    identical doubles); sigma is the sample-variance closed form with
    sqrt (exact); breach membership compares 6dp-rounded differences so
    a ulp can't flip a day in or out.

    At 100 TB: one fact aggregation to days, then both frames share ONE
    window sort over the ~2400-row day rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(dsum("o_totalprice").alias("revenue"))
    f = Window.orderBy("day").rowsBetween(-19, 0)
    win = daily.select(
        "day",
        "revenue",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        F.sum(F.col("revenue").cast("decimal(18,6)")).over(f).cast("double").alias("s"),
        F.sum(
            F.round(F.col("revenue") * F.col("revenue"), 6).cast("decimal(32,6)")
        )
        .over(f)
        .cast("double")
        .alias("ss"),
        F.count(F.lit(1)).over(f).alias("n"),
    )
    nd = F.col("n").cast("double")
    mid = F.col("s") / nd
    sd = F.sqrt((F.col("ss") - F.col("s") * F.col("s") / nd) / (nd - 1))
    bands = win.where(F.col("rn") >= 20).select(
        "day", "revenue", mid.alias("mid"), sd.alias("sd")
    )
    above = F.round(F.col("revenue") - (F.col("mid") + 2 * F.col("sd")), 6) > 0
    below = F.round((F.col("mid") - 2 * F.col("sd")) - F.col("revenue"), 6) > 0
    return (
        bands.where(above | below)
        .select(
            "day",
            "revenue",
            F.round("mid", 4).alias("sma20"),
            F.round(F.col("mid") + 2 * F.col("sd"), 4).alias("upper_band"),
            F.round(F.col("mid") - 2 * F.col("sd"), 4).alias("lower_band"),
            F.when(above, "above").otherwise("below").alias("breach"),
        )
    )


@query(
    "timeseries_rsi_signals",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        {sql_dsum('o_totalprice')} AS revenue
      FROM orders GROUP BY 1
    ),
    deltas AS (
      SELECT day,
        ROW_NUMBER() OVER (ORDER BY day) AS rn,
        revenue - LAG(revenue) OVER (ORDER BY day) AS delta
      FROM daily
    ),
    smoothed AS (
      SELECT day, rn,
        CAST(SUM(CAST(ROUND(GREATEST(delta, CAST(0 AS DOUBLE)), 6)
                      AS DECIMAL(18,6))) OVER f AS DOUBLE) / 14 AS avg_gain,
        CAST(SUM(CAST(ROUND(GREATEST(-delta, CAST(0 AS DOUBLE)), 6)
                      AS DECIMAL(18,6))) OVER f AS DOUBLE) / 14 AS avg_loss
      FROM deltas
      WINDOW f AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    rsi AS (
      SELECT day, rn,
        CASE WHEN avg_loss > 0
          THEN ROUND(100 - 100 / (1 + avg_gain / avg_loss), 4)
          ELSE CAST(100 AS DOUBLE) END AS rsi14
      FROM smoothed WHERE rn >= 15
    ),
    ranked AS (
      SELECT day, rsi14,
        CASE WHEN rsi14 >= 50 THEN 'overbought' ELSE 'oversold' END AS side,
        ROW_NUMBER() OVER (ORDER BY ABS(rsi14 - 50) DESC, day) AS rk
      FROM rsi
    )
    SELECT day, rsi14, side, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 25
    """,
)
def timeseries_rsi_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI (simple-average variant, not Wilder's recursive
    smoothing — that recurrence lives in timeseries_holt_smoothing_daily's
    family) on the daily revenue series, reporting the 25 MOST EXTREME
    days by |RSI - 50| with their side. (A fixed 70/30 cut is not
    scale-stable: an aggregate revenue series mean-reverts toward RSI 50
    as orders-per-day grow, and the classic bands go empty at sf0.01 —
    lesson 9; the top-k form fires at every SF.)

    Determinism: deltas are differences of identical doubles; gains and
    losses round to 6dp before their decimal frame sums; avg_loss = 0
    pins RSI to exactly 100 (the convention) rather than dividing; the
    rank orders by the 4dp-rounded RSI distance with a day tie-break.
    The first 14 deltas are warm-up.

    At 100 TB: day rollup + LAG + one 14-row frame — all three share one
    global day sort over the ~2400-row series (partition by series key
    when this generalizes to per-entity RSI).
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(dsum("o_totalprice").alias("revenue"))
    wd = Window.orderBy("day")
    deltas = daily.select(
        "day",
        F.row_number().over(wd).alias("rn"),
        (F.col("revenue") - F.lag("revenue").over(wd)).alias("delta"),
    )
    f = wd.rowsBetween(-13, 0)
    gain = F.round(F.greatest(F.col("delta"), F.lit(0.0)), 6).cast(
        "decimal(18,6)"
    )
    loss = F.round(F.greatest(-F.col("delta"), F.lit(0.0)), 6).cast(
        "decimal(18,6)"
    )
    smoothed = deltas.select(
        "day",
        "rn",
        (F.sum(gain).over(f).cast("double") / 14).alias("avg_gain"),
        (F.sum(loss).over(f).cast("double") / 14).alias("avg_loss"),
    )
    rsi14 = F.when(
        F.col("avg_loss") > 0,
        F.round(100 - 100 / (1 + F.col("avg_gain") / F.col("avg_loss")), 4),
    ).otherwise(F.lit(100.0))
    rsi = smoothed.where(F.col("rn") >= 15).select("day", rsi14.alias("rsi14"))
    wr = Window.orderBy(F.abs(F.col("rsi14") - 50).desc(), "day")
    return (
        rsi.select(
            "day",
            "rsi14",
            F.when(F.col("rsi14") >= 50, "overbought")
            .otherwise("oversold")
            .alias("side"),
            F.row_number().over(wr).cast("bigint").alias("rk"),
        )
        .where(F.col("rk") <= 25)
    )


@query(
    "timeseries_dow_seasonal_strength",
    oracle=f"""
    WITH daily AS (
      SELECT
        datediff('day', TIMESTAMP '1970-01-01',
                 date_trunc('day', o_orderdate)) % 7 AS dow,
        {sql_dsum('o_totalprice')} AS revenue
      FROM orders
      GROUP BY strftime(o_orderdate, '%Y-%m-%d'),
               datediff('day', TIMESTAMP '1970-01-01',
                        date_trunc('day', o_orderdate)) % 7
    ),
    grp AS (
      SELECT dow, COUNT(*) AS ni,
        CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) AS s,
        CAST(SUM(CAST(ROUND(revenue * revenue, 6) AS DECIMAL(32,6)))
             AS DOUBLE) AS ss
      FROM daily GROUP BY 1
    ),
    folded AS (
      SELECT
        CAST(SUM(ni) AS BIGINT) AS n,
        list_reduce(list(s ORDER BY dow), (a, x) -> a + x) AS sg,
        list_reduce(list(ss ORDER BY dow), (a, x) -> a + x) AS ssg,
        list_reduce(list(ss - s * s / ni ORDER BY dow), (a, x) -> a + x)
          AS ssw
      FROM grp
    )
    SELECT n AS n_days,
      CASE WHEN ssg - sg * sg / n > 0 THEN
        ROUND(CAST(1 AS DOUBLE) - ssw / (ssg - sg * sg / n), 6)
      END AS eta2_dow
    FROM folded
    """,
)
def timeseries_dow_seasonal_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Day-of-week seasonal STRENGTH of the daily revenue series: eta^2 =
    1 - SS_within(dow) / SS_total — the share of daily variance the
    weekly cycle explains (the variance-ratio strength measure STL
    reports, restated as the dow factor's one-way decomposition; 0 = no
    weekly seasonality, 1 = perfectly periodic).

    Determinism: day-of-week is epoch-day mod 7 (never engine
    dayofweek()); per-dow power sums are decimal-exact over the identical
    daily-revenue doubles (squares round to 6dp first); the 7-term
    cross-group sums are ordered folds. A constant series (zero total
    variance) yields NULL.

    At 100 TB: one fact pass to the day rollup, a 7-row rollup over it,
    one fold.
    """
    o = load_table(spark, sf_dir, "orders")
    dow = (
        F.datediff(
            F.date_trunc("day", "o_orderdate"),
            F.lit("1970-01-01").cast("timestamp_ntz"),
        )
        % 7
    )
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        dow.alias("dow"),
    ).agg(dsum("o_totalprice").alias("revenue"))
    grp = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum(F.col("revenue").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum(
            F.round(F.col("revenue") * F.col("revenue"), 6).cast("decimal(32,6)")
        )
        .cast("double")
        .alias("ss"),
    )

    def ordered_fold(expr: F.Column) -> F.Column:
        arr = F.array_sort(F.collect_list(F.struct(F.col("dow"), expr.alias("t"))))
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x["t"])

    nid = F.col("ni").cast("double")
    folded = grp.agg(
        F.sum("ni").cast("bigint").alias("n"),
        ordered_fold(F.col("s")).alias("sg"),
        ordered_fold(F.col("ss")).alias("ssg"),
        ordered_fold(F.col("ss") - F.col("s") * F.col("s") / nid).alias("ssw"),
    )
    sst = F.col("ssg") - F.col("sg") * F.col("sg") / F.col("n").cast("double")
    return folded.select(
        F.col("n").alias("n_days"),
        F.when(sst > 0, F.round(F.lit(1.0) - F.col("ssw") / sst, 6)).alias(
            "eta2_dow"
        ),
    )


@query(
    "timeseries_max_drawdown_daily",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
          AS rev_cents
      FROM orders GROUP BY 1
    ),
    dd AS (
      SELECT day, rev_cents,
        CAST(MAX(rev_cents) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS peak_cents
      FROM daily
    ),
    ranked AS (
      SELECT day, rev_cents, peak_cents,
        peak_cents - rev_cents AS drawdown_cents,
        ROW_NUMBER() OVER (ORDER BY peak_cents - rev_cents DESC, day) AS rk
      FROM dd
    )
    SELECT day AS trough_day, rev_cents, peak_cents, drawdown_cents,
      CASE WHEN peak_cents > 0 THEN ROUND(
        CAST(drawdown_cents AS DOUBLE) / CAST(peak_cents AS DOUBLE), 6)
      END AS drawdown_frac
    FROM ranked WHERE rk = 1
    """,
)
def timeseries_max_drawdown_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maximum drawdown of the daily revenue series: the deepest drop
    below the running historical peak, with the trough day — the risk
    metric every financial/ops time-series monitor computes. Running
    peak is a cumulative MAX window; the argmax row is picked by
    ROW_NUMBER over (drawdown DESC, day), so ties break on the earliest
    trough deterministically.

    Pure integer cents end to end; the one division (drawdown fraction
    of peak) divides exact integers, rounded 6dp.

    At 100 TB: the fact collapses to a per-day rollup first (map-side
    combine); the unbounded windows run over ~2500 day rows.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    daily = o.groupBy(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(F.sum(cents).cast("bigint").alias("rev_cents"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "day",
        "rev_cents",
        F.max("rev_cents").over(w).cast("bigint").alias("peak_cents"),
    )
    draw = (F.col("peak_cents") - F.col("rev_cents")).alias("drawdown_cents")
    rk = F.row_number().over(
        Window.orderBy((F.col("peak_cents") - F.col("rev_cents")).desc(), "day")
    )
    return (
        dd.select("day", "rev_cents", "peak_cents", draw, rk.alias("rk"))
        .where(F.col("rk") == 1)
        .select(
            F.col("day").alias("trough_day"),
            "rev_cents",
            "peak_cents",
            "drawdown_cents",
            F.when(
                F.col("peak_cents") > 0,
                F.round(
                    F.col("drawdown_cents").cast("double")
                    / F.col("peak_cents").cast("double"),
                    6,
                ),
            ).alias("drawdown_frac"),
        )
    )


@query(
    "timeseries_seasonal_naive_error",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
        CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
             AS BIGINT) AS di,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
          AS cents
      FROM orders GROUP BY 1, 2
    ),
    scored AS (
      SELECT cur.priority,
        ROUND(ABS(CAST(cur.cents - prev.cents AS DOUBLE))
              / CAST(prev.cents AS DOUBLE), 6) AS ape,
        ROUND(2.0 * ABS(CAST(cur.cents - prev.cents AS DOUBLE))
              / CAST(cur.cents + prev.cents AS DOUBLE), 6) AS sape
      FROM daily cur JOIN daily prev
        ON cur.priority = prev.priority AND cur.di = prev.di + 7
      WHERE prev.cents > 0 AND cur.cents + prev.cents > 0
    )
    SELECT priority,
      CAST(COUNT(*) AS BIGINT) AS n_days,
      CAST(SUM(CAST(ape AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mape,
      CAST(SUM(CAST(sape AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS smape
    FROM scored GROUP BY priority
    """,
)
def timeseries_seasonal_naive_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast-error baseline: MAPE and sMAPE of the SEASONAL-NAIVE
    forecast (predict each day's per-priority revenue with the value 7
    days earlier) — the floor every real forecasting model must beat,
    and the denominator of MASE-style skill scores. The 7-day shift is
    an equi-join on integer epoch-day indices (never a lag over
    possibly-gapped rows — a missing day must invalidate the pair, not
    silently shift the season).

    Determinism: revenues are integer cents; each APE/sAPE divides
    exact integers (identical doubles), rounded 6dp, then averaged as
    an order-insensitive decimal sum over the exact day count.

    At 100 TB: one fact pass to the (priority, day) rollup; the 7-day
    shift joins the rollup to itself on its own grouping key.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    di = F.datediff(
        F.col("o_orderdate"), F.lit("1990-01-01").cast("timestamp_ntz")
    ).cast("bigint")
    # both sides of the 7-day-shift self-join consume the rollup —
    # persisted + memoized (lesson 27/30, scan_audit-found)
    daily = memo_persist(
        "temporal.snaive_daily",
        spark,
        sf_dir,
        lambda: o.groupBy(
            F.col("o_orderpriority").alias("priority"), di.alias("di")
        ).agg(F.sum(cents).cast("bigint").alias("cents")),
    )
    prev = daily.select(
        F.col("priority").alias("priority_p"),
        F.col("di").alias("di_p"),
        F.col("cents").alias("cents_p"),
    )
    joined = daily.join(
        prev,
        (F.col("priority") == F.col("priority_p"))
        & (F.col("di") == F.col("di_p") + 7),
    ).where((F.col("cents_p") > 0) & (F.col("cents") + F.col("cents_p") > 0))
    diff = F.abs((F.col("cents") - F.col("cents_p")).cast("double"))
    ape = F.round(diff / F.col("cents_p").cast("double"), 6)
    sape = F.round(
        2.0 * diff / (F.col("cents") + F.col("cents_p")).cast("double"), 6
    )
    scored = joined.select(
        "priority",
        ape.cast("decimal(18,6)").alias("ape"),
        sape.cast("decimal(18,6)").alias("sape"),
    )
    return scored.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        (F.sum("ape").cast("double") / F.count(F.lit(1))).alias("mape"),
        (F.sum("sape").cast("double") / F.count(F.lit(1))).alias("smape"),
    )


@query(
    "timeseries_ljung_box_daily",
    oracle="""
    WITH daily AS (
      SELECT
        datediff('day', DATE '1970-01-01', o_orderdate) AS day,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
          AS y
      FROM orders GROUP BY 1
    ),
    consts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS t
      FROM daily
    ),
    demeaned AS (
      SELECT day, CAST(n * y - t AS BIGINT) AS e, n
      FROM daily CROSS JOIN consts
    ),
    led AS (
      SELECT e, n,
        LEAD(e, 1) OVER w AS e1, LEAD(e, 2) OVER w AS e2,
        LEAD(e, 3) OVER w AS e3, LEAD(e, 4) OVER w AS e4,
        LEAD(e, 5) OVER w AS e5, LEAD(e, 6) OVER w AS e6,
        LEAD(e, 7) OVER w AS e7
      FROM demeaned
      WINDOW w AS (ORDER BY day)
    ),
    sums AS (
      SELECT MAX(n) AS n,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e AS DECIMAL(19,0))) AS den,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e1 AS DECIMAL(19,0))) AS s1,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e2 AS DECIMAL(19,0))) AS s2,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e3 AS DECIMAL(19,0))) AS s3,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e4 AS DECIMAL(19,0))) AS s4,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e5 AS DECIMAL(19,0))) AS s5,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e6 AS DECIMAL(19,0))) AS s6,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e7 AS DECIMAL(19,0))) AS s7
      FROM led
    ),
    rhos AS (
      SELECT n,
        unnest([1, 2, 3, 4, 5, 6, 7]) AS k,
        unnest([
          ROUND(CAST(s1 AS DOUBLE) / CAST(den AS DOUBLE), 6),
          ROUND(CAST(s2 AS DOUBLE) / CAST(den AS DOUBLE), 6),
          ROUND(CAST(s3 AS DOUBLE) / CAST(den AS DOUBLE), 6),
          ROUND(CAST(s4 AS DOUBLE) / CAST(den AS DOUBLE), 6),
          ROUND(CAST(s5 AS DOUBLE) / CAST(den AS DOUBLE), 6),
          ROUND(CAST(s6 AS DOUBLE) / CAST(den AS DOUBLE), 6),
          ROUND(CAST(s7 AS DOUBLE) / CAST(den AS DOUBLE), 6)]) AS rho
      FROM sums WHERE den > 0
    )
    SELECT CAST(k AS BIGINT) AS k, rho,
      ROUND(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * CAST(
        SUM(CAST(ROUND(rho * rho / CAST(n - k AS DOUBLE), 6)
            AS DECIMAL(18,6)))
        OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS DOUBLE), 6) AS q_stat
    FROM rhos
    """,
)
def timeseries_ljung_box_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ljung-Box portmanteau test on the daily-revenue series: classical
    ACF rho_k at lags 1..7 (fixed full-series demeaning, denominator
    sum e^2 — the textbook LB autocorrelation, distinct from the
    Pearson-over-pairs lag-1 entry) and the cumulative
    Q_k = n(n+2) sum_{j<=k} rho_j^2/(n-j).

    Integer-demean trick: e'_t = n*y_t - T (exact BIGINT, y integer
    cents) scales every residual by n, and the n^2 factors CANCEL in
    rho = sum e'_t e'_{t+k} / sum e'_t^2 — so both engines divide
    identical exact DECIMAL(38,0) sums and no double is rounded at
    dangerous magnitude (the lesson-7-class ROUND-of-1e9 hazard is
    avoided entirely). Products are cast DECIMAL(19,0) BEFORE
    multiplying (BIGINT*BIGINT would overflow first). rho rounds to
    6dp; each Q term rounds then decimal-cumulates.

    At 100 TB: the fact collapses to day grain immediately; seven LEADs
    ride ONE ordered window over the ~2.4k-row series, and the power
    sums are one aggregate — nothing fact-grain after the rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("day")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).cast("bigint").alias("y"))
    # n and T as windows over the day-grain frame, not a separate
    # aggregate + crossJoin: one orders scan (scan_audit/lesson 27)
    wall = Window.partitionBy()
    demeaned = daily.select(
        "day",
        (
            F.count(F.lit(1)).over(wall) * F.col("y") - F.sum("y").over(wall)
        )
        .cast("bigint")
        .alias("e"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
    )
    w = Window.orderBy("day")
    led = demeaned.select(
        "e",
        "n",
        *[F.lead("e", k).over(w).alias(f"e{k}") for k in range(1, 8)],
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    sums = led.agg(
        F.max("n").alias("n"),
        F.sum(d19("e") * d19("e")).alias("den"),
        *[F.sum(d19("e") * d19(f"e{k}")).alias(f"s{k}") for k in range(1, 8)],
    )
    rho_cols = [
        F.round(
            F.col(f"s{k}").cast("double") / F.col("den").cast("double"), 6
        )
        for k in range(1, 8)
    ]
    rhos = (
        sums.where(F.col("den") > 0)
        .select(
            "n",
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(k) for k in range(1, 8)]).alias("k"),
                    F.array(*rho_cols).alias("rho"),
                )
            ).alias("z"),
        )
        .select("n", F.col("z.k").alias("k"), F.col("z.rho").alias("rho"))
    )
    cum = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    term = F.round(
        F.col("rho") * F.col("rho") / (F.col("n") - F.col("k")).cast("double"),
        6,
    ).cast("decimal(18,6)")
    return rhos.select(
        F.col("k").cast("bigint").alias("k"),
        "rho",
        F.round(
            F.col("n").cast("double")
            * (F.col("n") + 2).cast("double")
            * F.sum(term).over(cum).cast("double"),
            6,
        ).alias("q_stat"),
    )


_DAILY_CENTS_SQL = """
      SELECT datediff('day', DATE '1970-01-01', o_orderdate) AS day,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
          AS y
      FROM orders GROUP BY 1
"""


def _daily_cents(o):
    return o.groupBy(
        F.datediff("o_orderdate", F.lit("1970-01-01")).alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )


@query(
    "timeseries_acf_pacf_table",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    consts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS t
      FROM daily
    ),
    demeaned AS (
      SELECT day, CAST(n * y - t AS BIGINT) AS e FROM daily CROSS JOIN consts
    ),
    led AS (
      SELECT e,
        LEAD(e, 1) OVER w AS e1, LEAD(e, 2) OVER w AS e2,
        LEAD(e, 3) OVER w AS e3, LEAD(e, 4) OVER w AS e4,
        LEAD(e, 5) OVER w AS e5
      FROM demeaned
      WINDOW w AS (ORDER BY day)
    ),
    sums AS (
      SELECT
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e AS DECIMAL(19,0))) AS den,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e1 AS DECIMAL(19,0))) AS s1,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e2 AS DECIMAL(19,0))) AS s2,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e3 AS DECIMAL(19,0))) AS s3,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e4 AS DECIMAL(19,0))) AS s4,
        SUM(CAST(e AS DECIMAL(19,0)) * CAST(e5 AS DECIMAL(19,0))) AS s5
      FROM led
    ),
    rho AS (
      SELECT
        ROUND(CAST(s1 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r1,
        ROUND(CAST(s2 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r2,
        ROUND(CAST(s3 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r3,
        ROUND(CAST(s4 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r4,
        ROUND(CAST(s5 AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r5
      FROM sums WHERE den > 0
    ),
    k2a AS (SELECT *, r1 AS p11, 1 - r1 * r1 AS d2 FROM rho),
    k2b AS (SELECT *, CASE WHEN d2 <> 0
        THEN ROUND((r2 - p11 * r1) / d2, 6) END AS p22 FROM k2a),
    k2c AS (SELECT *, ROUND(p11 - p22 * p11, 6) AS p21 FROM k2b),
    k3a AS (SELECT *,
        r3 - (p21 * r2 + p22 * r1) AS n3,
        1 - (p21 * r1 + p22 * r2) AS d3 FROM k2c),
    k3b AS (SELECT *, CASE WHEN d3 <> 0
        THEN ROUND(n3 / d3, 6) END AS p33 FROM k3a),
    k3c AS (SELECT *, ROUND(p21 - p33 * p22, 6) AS p31,
        ROUND(p22 - p33 * p21, 6) AS p32 FROM k3b),
    k4a AS (SELECT *,
        r4 - (p31 * r3 + p32 * r2 + p33 * r1) AS n4,
        1 - (p31 * r1 + p32 * r2 + p33 * r3) AS d4 FROM k3c),
    k4b AS (SELECT *, CASE WHEN d4 <> 0
        THEN ROUND(n4 / d4, 6) END AS p44 FROM k4a),
    k4c AS (SELECT *, ROUND(p31 - p44 * p33, 6) AS p41,
        ROUND(p32 - p44 * p32, 6) AS p42,
        ROUND(p33 - p44 * p31, 6) AS p43 FROM k4b),
    k5a AS (SELECT *,
        r5 - (p41 * r4 + p42 * r3 + p43 * r2 + p44 * r1) AS n5,
        1 - (p41 * r1 + p42 * r2 + p43 * r3 + p44 * r4) AS d5 FROM k4c),
    k5b AS (SELECT *, CASE WHEN d5 <> 0
        THEN ROUND(n5 / d5, 6) END AS p55 FROM k5a)
    SELECT CAST(k AS BIGINT) AS k, rho, pacf FROM (
      SELECT unnest([1, 2, 3, 4, 5]) AS k,
             unnest([r1, r2, r3, r4, r5]) AS rho,
             unnest([p11, p22, p33, p44, p55]) AS pacf
      FROM k5b
    )
    """,
)
def timeseries_acf_pacf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-identification lag table on the daily-revenue series: ACF
    rho_k at lags 1..5 (the same fixed-demeaning autocorrelations that
    feed timeseries_ljung_box_daily) PLUS the partial autocorrelation
    pacf_k via the Durbin-Levinson recursion unrolled to order 5 — the
    Box-Jenkins AR(p)/MA(q) order-selection instrument (ACF cuts off for
    MA, PACF cuts off for AR).

    Cross-engine determinism: the ACF inputs are exact — the integer-
    demean trick e'_t = n*y_t - T keeps every autocovariance a
    DECIMAL(38,0) sum of BIGINT-cents products, and the n^2 scale cancels
    in the ratio — and every Durbin-Levinson intermediate (each phi_kj)
    is ROUNDED TO 6dp before the next step consumes it, so both engines
    walk the recursion on identical IEEE-double inputs with identical
    operation order (the established round-then-continue discipline).
    Each reflection-coefficient division is when()-guarded on its
    denominator (lesson 38: the guard sits on the projected term itself);
    a zero denominator NULLs that and all deeper pacf values in BOTH
    engines.

    At 100 TB: orders collapses to day grain immediately; five LEADs ride
    one ordered window over the ~2.4k-row series, the power sums are one
    aggregate, and the whole recursion is expression algebra on a 1-row
    frame."""
    o = load_table(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    wall = Window.partitionBy()
    demeaned = daily.select(
        "day",
        (
            F.count(F.lit(1)).over(wall) * F.col("y") - F.sum("y").over(wall)
        )
        .cast("bigint")
        .alias("e"),
    )
    w = Window.orderBy("day")
    led = demeaned.select(
        "e",
        *[F.lead("e", k).over(w).alias(f"e{k}") for k in range(1, 6)],
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    sums = led.agg(
        F.sum(d19("e") * d19("e")).alias("den"),
        *[F.sum(d19("e") * d19(f"e{k}")).alias(f"s{k}") for k in range(1, 6)],
    )
    rho = sums.where(F.col("den") > 0).select(
        *[
            F.round(
                F.col(f"s{k}").cast("double") / F.col("den").cast("double"), 6
            ).alias(f"r{k}")
            for k in range(1, 6)
        ]
    )
    c = F.col
    p = (
        rho.withColumn("p11", c("r1"))
        .withColumn("d2", F.lit(1) - c("r1") * c("r1"))
        .withColumn(
            "p22",
            F.when(
                c("d2") != 0, F.round((c("r2") - c("p11") * c("r1")) / c("d2"), 6)
            ),
        )
        .withColumn("p21", F.round(c("p11") - c("p22") * c("p11"), 6))
        .withColumn("n3", c("r3") - (c("p21") * c("r2") + c("p22") * c("r1")))
        .withColumn(
            "d3", F.lit(1) - (c("p21") * c("r1") + c("p22") * c("r2"))
        )
        .withColumn(
            "p33", F.when(c("d3") != 0, F.round(c("n3") / c("d3"), 6))
        )
        .withColumn("p31", F.round(c("p21") - c("p33") * c("p22"), 6))
        .withColumn("p32", F.round(c("p22") - c("p33") * c("p21"), 6))
        .withColumn(
            "n4",
            c("r4")
            - (c("p31") * c("r3") + c("p32") * c("r2") + c("p33") * c("r1")),
        )
        .withColumn(
            "d4",
            F.lit(1)
            - (c("p31") * c("r1") + c("p32") * c("r2") + c("p33") * c("r3")),
        )
        .withColumn(
            "p44", F.when(c("d4") != 0, F.round(c("n4") / c("d4"), 6))
        )
        .withColumn("p41", F.round(c("p31") - c("p44") * c("p33"), 6))
        .withColumn("p42", F.round(c("p32") - c("p44") * c("p32"), 6))
        .withColumn("p43", F.round(c("p33") - c("p44") * c("p31"), 6))
        .withColumn(
            "n5",
            c("r5")
            - (
                c("p41") * c("r4")
                + c("p42") * c("r3")
                + c("p43") * c("r2")
                + c("p44") * c("r1")
            ),
        )
        .withColumn(
            "d5",
            F.lit(1)
            - (
                c("p41") * c("r1")
                + c("p42") * c("r2")
                + c("p43") * c("r3")
                + c("p44") * c("r4")
            ),
        )
        .withColumn(
            "p55", F.when(c("d5") != 0, F.round(c("n5") / c("d5"), 6))
        )
    )
    return p.select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(k) for k in range(1, 6)]).alias("k"),
                F.array(*[c(f"r{k}") for k in range(1, 6)]).alias("rho"),
                F.array(
                    c("p11"), c("p22"), c("p33"), c("p44"), c("p55")
                ).alias("pacf"),
            )
        ).alias("z")
    ).select(
        c("z.k").cast("bigint").alias("k"),
        c("z.rho").alias("rho"),
        c("z.pacf").alias("pacf"),
    )


@query(
    "timeseries_variance_ratio",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    rets AS (
      SELECT day,
        CAST(ROUND(ln(CAST(y AS DOUBLE) / CAST(LAG(y) OVER (ORDER BY day)
          AS DOUBLE)), 6) AS DECIMAL(18,6)) AS r
      FROM daily
      QUALIFY LAG(y) OVER (ORDER BY day) IS NOT NULL
    ),
    idx AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY day) AS rn,
        SUM(r) OVER (ORDER BY day ROWS BETWEEN 1 PRECEDING
                     AND CURRENT ROW) AS s2,
        SUM(r) OVER (ORDER BY day ROWS BETWEEN 4 PRECEDING
                     AND CURRENT ROW) AS s5,
        SUM(r) OVER (ORDER BY day ROWS BETWEEN 9 PRECEDING
                     AND CURRENT ROW) AS s10
      FROM rets
    ),
    base AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(r) AS DOUBLE) AS sr,
        CAST(SUM(r * r) AS DOUBLE) AS srr
      FROM idx
    ),
    qs AS (
      SELECT q,
        COUNT(*) AS m,
        CAST(SUM(s) AS DOUBLE) AS ss,
        CAST(SUM(s * s) AS DOUBLE) AS sss
      FROM (
        SELECT 2 AS q, s2 AS s, rn FROM idx
        UNION ALL SELECT 5, s5, rn FROM idx
        UNION ALL SELECT 10, s10, rn FROM idx
      ) WHERE rn >= q
      GROUP BY q
    )
    SELECT CAST(q AS BIGINT) AS q, CAST(m AS BIGINT) AS m,
      CASE WHEN (srr - sr * sr / n) / n > 0 THEN ROUND(
        ((sss - ss * ss / m) / m)
        / (CAST(q AS DOUBLE) * ((srr - sr * sr / n) / n)), 6)
      END AS vr
    FROM qs CROSS JOIN base
    ORDER BY q
    """,
)
def timeseries_variance_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lo-MacKinlay variance-ratio diagnostic on daily revenue log
    returns: VR(q) = Var(q-period overlapping return) / (q Var(1-period))
    for q = 2, 5, 10 — VR near 1 means a random walk, below 1 mean
    reversion, above 1 momentum. (The simple population-variance
    overlapping variant, not the heteroskedasticity-robust z — the ratio
    itself is the telemetry.)

    Determinism: each ln return is round-6 then DECIMAL(18,6) (the
    cross-entropy discipline); q-period returns are exact decimal window
    sums of those decimals; all power sums are exact decimal sums cast
    double once; the VR divides identical doubles, round-6. Constant
    series zeroes Var1 -> NULL (matches DuckDB /0 via the guard).

    At 100 TB: the fact collapses to day grain first; three ROWS-frame
    window sums and four aggregates over a ~2.4k-row series.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    w = Window.orderBy("day")
    rets = (
        daily.select(
            "day",
            F.col("y"),
            F.lag("y").over(w).alias("prev"),
        )
        .where(F.col("prev").isNotNull())
        .select(
            "day",
            F.round(
                F.log(F.col("y").cast("double") / F.col("prev").cast("double")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("r"),
        )
    )
    # the lag-1 power sums ride WALL windows on the same frame the
    # q-sums come from, carried through the explode and recovered with
    # max() in the group aggregate — one orders scan (scan_audit/lesson
    # 27; the decimal sums stay order-insensitive)
    wall = Window.partitionBy()
    idx = rets.select(
        "r",
        F.row_number().over(w).alias("rn"),
        F.sum("r").over(w.rowsBetween(-1, 0)).alias("s2"),
        F.sum("r").over(w.rowsBetween(-4, 0)).alias("s5"),
        F.sum("r").over(w.rowsBetween(-9, 0)).alias("s10"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("r").over(wall).cast("double").alias("sr"),
        F.sum(F.col("r") * F.col("r")).over(wall).cast("double").alias("srr"),
    )
    stacked = idx.select(
        F.explode(
            F.arrays_zip(
                F.array(F.lit(2), F.lit(5), F.lit(10)).alias("q"),
                F.array("s2", "s5", "s10").alias("s"),
            )
        ).alias("z"),
        "rn",
        "n",
        "sr",
        "srr",
    ).select(
        F.col("z.q").alias("q"), F.col("z.s").alias("s"), "rn", "n", "sr", "srr"
    )
    j = (
        stacked.where(F.col("rn") >= F.col("q"))
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("s").cast("double").alias("ss"),
            F.sum(F.col("s") * F.col("s")).cast("double").alias("sss"),
            F.max("n").alias("n"),
            F.max("sr").alias("sr"),
            F.max("srr").alias("srr"),
        )
    )
    var1 = (F.col("srr") - F.col("sr") * F.col("sr") / F.col("n")) / F.col(
        "n"
    )
    varq = (F.col("sss") - F.col("ss") * F.col("ss") / F.col("m")) / F.col(
        "m"
    )
    return j.select(
        F.col("q").cast("bigint").alias("q"),
        F.col("m").cast("bigint").alias("m"),
        F.when(
            var1 > 0, F.round(varq / (F.col("q").cast("double") * var1), 6)
        ).alias("vr"),
    ).orderBy("q")


@query(
    "timeseries_hurst_rescaled_range",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    idx AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY day) - 1 AS rn FROM daily
    ),
    blocks AS (
      SELECT w.w, idx.rn // w.w AS bid, idx.rn, idx.y
      FROM idx CROSS JOIN (SELECT unnest([16, 32, 64]) AS w) w
    ),
    complete AS (
      SELECT w, bid, CAST(SUM(y) AS BIGINT) AS t
      FROM blocks GROUP BY w, bid HAVING COUNT(*) = w
    ),
    u AS (
      SELECT b.w, b.bid, b.rn,
        CAST(b.w * b.y - c.t AS BIGINT) AS u
      FROM blocks b JOIN complete c ON b.w = c.w AND b.bid = c.bid
    ),
    pfx AS (
      SELECT w, bid, u,
        SUM(u) OVER (PARTITION BY w, bid ORDER BY rn
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM u
    ),
    per_block AS (
      SELECT w, bid,
        CAST(MAX(p) - MIN(p) AS BIGINT) AS rng,
        SUM(CAST(u AS DECIMAL(19,0)) * CAST(u AS DECIMAL(19,0))) AS su2
      FROM pfx GROUP BY w, bid
    )
    SELECT CAST(w AS BIGINT) AS w,
      CAST(COUNT(*) AS BIGINT) AS n_blocks,
      ROUND(CAST(SUM(CAST(ROUND(
        CAST(rng AS DOUBLE) * sqrt(CAST(w AS DOUBLE))
        / sqrt(CAST(su2 AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
        / COUNT(*), 6) AS mean_rs
    FROM per_block WHERE su2 > 0
    GROUP BY w ORDER BY w
    """,
)
def timeseries_hurst_rescaled_range(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rescaled-range (R/S) statistic of daily revenue at block sizes
    16/32/64 days — the Hurst long-memory diagnostic (mean R/S growing
    like w^H; H=0.5 is a memoryless walk). Emits mean R/S per size; the
    caller regresses ln(R/S) on ln(w) for H.

    Integer construction: within each complete w-day block, deviations
    are scaled u_t = w*y_t - T (exact BIGINT; they sum to 0 so the
    cumulative range needs no zero-anchor), the range of integer prefix
    sums is exact, and R/S = range * sqrt(w) / sqrt(sum u^2) divides
    identical exact operands (sum u^2 as DECIMAL(19,0) products). Each
    block's R/S is round-6 then decimal-averaged. Constant blocks
    (sum u^2 = 0) are excluded in both engines.

    At 100 TB: day-grain after one fact pass; the w-fanout is a 3x
    dimension cross join over ~2.4k rows with per-(w, block) windows.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    idx = daily.select(
        "y", (F.row_number().over(Window.orderBy("day")) - 1).alias("rn")
    )
    ws = spark.range(0, 3).select(
        F.element_at(F.array(F.lit(16), F.lit(32), F.lit(64)), (F.col("id") + 1).cast("int")).alias("w")
    )
    blocks = idx.crossJoin(F.broadcast(ws)).select(
        "w",
        F.floor(F.col("rn") / F.col("w")).alias("bid"),
        "rn",
        "y",
    )
    # per-block count and total as windows over the SAME frame (no
    # aggregate-then-join back: one orders scan, scan_audit/lesson 27)
    wb = Window.partitionBy("w", "bid")
    u = blocks.select(
        "w",
        "bid",
        "rn",
        (F.col("w") * F.col("y") - F.sum("y").over(wb)).cast("bigint").alias(
            "u"
        ),
        F.count(F.lit(1)).over(wb).alias("cnt"),
    ).where(F.col("cnt") == F.col("w")).drop("cnt")
    wp = (
        Window.partitionBy("w", "bid")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pfx = u.select("w", "bid", "u", F.sum("u").over(wp).alias("p"))
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    per_block = pfx.groupBy("w", "bid").agg(
        (F.max("p") - F.min("p")).cast("bigint").alias("rng"),
        F.sum(d19("u") * d19("u")).alias("su2"),
    )
    rs = (
        F.col("rng").cast("double")
        * F.sqrt(F.col("w").cast("double"))
        / F.sqrt(F.col("su2").cast("double"))
    )
    return (
        per_block.where(F.col("su2") > 0)
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.round(
                F.sum(F.round(rs, 6).cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_rs"),
        )
        .select(F.col("w").cast("bigint").alias("w"), "n_blocks", "mean_rs")
        .orderBy("w")
    )


@query(
    "finance_sharpe_sortino_daily",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    rets AS (
      SELECT CAST(ROUND(ln(CAST(y AS DOUBLE)
        / CAST(LAG(y) OVER (ORDER BY day) AS DOUBLE)), 6)
        AS DECIMAL(18,6)) AS r
      FROM daily
      QUALIFY LAG(y) OVER (ORDER BY day) IS NOT NULL
    ),
    m AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(r) AS DOUBLE) AS sr,
        CAST(SUM(r * r) AS DOUBLE) AS srr,
        CAST(SUM(CASE WHEN r < 0 THEN r * r ELSE
          CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS sdd
      FROM rets
    )
    SELECT CAST(n AS BIGINT) AS n_days,
      ROUND(sr / n, 6) AS mean_ret,
      CASE WHEN srr - sr * sr / n > 0 THEN
        ROUND((sr / n) / sqrt((srr - sr * sr / n) / n), 6)
      END AS sharpe,
      CASE WHEN sdd > 0 THEN
        ROUND((sr / n) / sqrt(sdd / n), 6)
      END AS sortino
    FROM m
    """,
)
def finance_sharpe_sortino_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sharpe and Sortino ratios of the daily revenue log-return series
    (risk-free rate 0, unannualized): Sharpe = mean/std, Sortino =
    mean/downside-deviation (sqrt of the mean SQUARED negative return,
    the full-n denominator convention). The risk-adjusted telemetry
    members beside max drawdown (path risk) and Bollinger (band risk).

    Determinism: returns are round-6 decimals; all three power sums are
    exact decimal sums cast double once; population variance and the
    downside second moment divide identical doubles. Constant series ->
    NULL sharpe (zero variance); no negative day -> NULL sortino.

    At 100 TB: one fact pass to day grain, one lag window, one
    aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    w = Window.orderBy("day")
    rets = (
        daily.select("day", "y", F.lag("y").over(w).alias("prev"))
        .where(F.col("prev").isNotNull())
        .select(
            F.round(
                F.log(
                    F.col("y").cast("double") / F.col("prev").cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("r")
        )
    )
    zero = F.lit(0).cast("decimal(18,6)")
    m = rets.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").cast("double").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("double").alias("srr"),
        F.sum(
            F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(
                zero.cast("decimal(37,12)")
            )
        )
        .cast("double")
        .alias("sdd"),
    )
    mean = F.col("sr") / F.col("n")
    var = F.col("srr") - F.col("sr") * F.col("sr") / F.col("n")
    return m.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(mean, 6).alias("mean_ret"),
        F.when(
            var > 0, F.round(mean / F.sqrt(var / F.col("n")), 6)
        ).alias("sharpe"),
        F.when(
            F.col("sdd") > 0,
            F.round(mean / F.sqrt(F.col("sdd") / F.col("n")), 6),
        ).alias("sortino"),
    )


@query(
    "timeseries_changepoint_binseg",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    idx AS (
      SELECT day, y, ROW_NUMBER() OVER (ORDER BY day) AS rn,
        SUM(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS p,
        CAST(SUM(y) OVER () AS BIGINT) AS t,
        CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    g AS (
      SELECT day, rn, n,
        CAST((n - rn) * p - rn * (t - p) AS BIGINT) AS num
      FROM idx WHERE rn < n
    ),
    scored AS (
      SELECT day, rn, n, num,
        CAST(CAST(num AS DECIMAL(19,0)) * CAST(num AS DECIMAL(19,0))
             AS DOUBLE)
          / (CAST(rn AS DOUBLE) * CAST(n - rn AS DOUBLE)) AS gs
      FROM g
    )
    SELECT CAST(day AS BIGINT) AS split_day,
      CAST(rn AS BIGINT) AS n_left,
      CAST(n - rn AS BIGINT) AS n_right,
      ROUND(CAST(num AS DOUBLE)
            / (CAST(rn AS DOUBLE) * CAST(n - rn AS DOUBLE)), 6)
        AS mean_diff_cents
    FROM scored
    QUALIFY ROW_NUMBER() OVER (ORDER BY gs DESC, day) = 1
    """,
)
def timeseries_changepoint_binseg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First binary-segmentation changepoint of daily revenue: the split
    s maximizing the between-segment sum of squares
    G(s) = n_L n_R / n * (mean_L - mean_R)^2 — the variance-decomposition
    changepoint (CUSUM-argmax, which already ships, maximizes the
    centered prefix sum instead; binseg normalizes by segment sizes so
    an early/late split isn't penalized).

    Exact argmax: with prefix sums P_s, G is monotone in
    num^2 / (s(n-s)) with num = (n-s)P_s - s(T-P_s) (exact BIGINT);
    num^2 as DECIMAL(19,0) product cast double divided by exact s(n-s)
    gives both engines the IDENTICAL double, so the (score desc, day)
    argmax cannot flip cross-engine. Emits the left-right mean gap
    (num / (s(n-s))) rather than raw G (cents^2 at 1e25 magnitude is
    not human-meaningful).

    At 100 TB: day-grain after one fact pass; two windows and an argmax
    over ~2.4k candidate splits.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    w = Window.orderBy("day")
    wall = Window.partitionBy()
    idx = daily.select(
        "day",
        F.row_number().over(w).alias("rn"),
        F.sum("y").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "p"
        ),
        F.sum("y").over(wall).cast("bigint").alias("t"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
    )
    g = idx.where(F.col("rn") < F.col("n")).select(
        "day",
        "rn",
        "n",
        (
            (F.col("n") - F.col("rn")) * F.col("p")
            - F.col("rn") * (F.col("t") - F.col("p"))
        )
        .cast("bigint")
        .alias("num"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    denom = F.col("rn").cast("double") * (F.col("n") - F.col("rn")).cast(
        "double"
    )
    scored = g.select(
        "day",
        "rn",
        "n",
        "num",
        ((d19("num") * d19("num")).cast("double") / denom).alias("gs"),
    )
    pick = Window.orderBy(F.col("gs").desc(), "day")
    return (
        scored.select(
            "*", F.row_number().over(pick).alias("pk")
        )
        .where(F.col("pk") == 1)
        .select(
            F.col("day").cast("bigint").alias("split_day"),
            F.col("rn").cast("bigint").alias("n_left"),
            (F.col("n") - F.col("rn")).cast("bigint").alias("n_right"),
            F.round(F.col("num").cast("double") / denom, 6).alias(
                "mean_diff_cents"
            ),
        )
    )


@query(
    "timeseries_cusum_page_alarms",
    oracle=f"""
    WITH daily AS ({_DAILY_CENTS_SQL}),
    consts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS t,
        CAST(ROUND(sqrt(
          (CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                AS DOUBLE)
           - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE) / COUNT(*))
          / COUNT(*)) / 2.0, 0) AS BIGINT) AS k
      FROM daily
    ),
    pfx AS (
      SELECT day,
        SUM(CAST(n * y - t - n * k AS BIGINT)) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        n, k
      FROM daily CROSS JOIN consts
    ),
    s AS (
      SELECT day, n, k,
        p - LEAST(MIN(p) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s_t
      FROM pfx
    )
    SELECT
      CAST(MAX(n) AS BIGINT) AS n_days,
      CAST(MAX(k) AS BIGINT) AS slack_cents,
      CAST(COUNT(CASE WHEN s_t > n * 10 * k THEN 1 END) AS BIGINT)
        AS n_alarm_days,
      ROUND(CAST(MAX(s_t) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 2)
        AS max_cusum_cents
    FROM s
    """,
)
def timeseries_cusum_page_alarms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Page's one-sided CUSUM with slack and threshold (k = sigma/2
    rounded to cents, h = 5 sigma = 10k) on daily revenue: the RESET
    recursion S_t = max(0, S_(t-1) + x_t - mu - k) is not a prefix sum —
    but it equals P_t - min(0, min_(j<=t) P_j) with P the plain prefix
    sum of (x - mu - k), so the whole alarm scan is two ordered windows.
    Counts alarm days (S > h) — the sequential change-DETECTOR beside
    the retrospective changepoint entries (CUSUM-argmax, binseg).

    Integer discipline: deviations are scaled by n
    (n*y - T - n*k, exact BIGINT) so prefix sums and running minima are
    exact integers (never a windowed double sum — DuckDB's segment-tree
    window aggregation sums doubles in a different ORDER than Spark's
    running frame); the only double is sigma, collapsed to the integer
    slack via an identical round. Alarm compare cross-multiplies
    (S' > n*h), never divides.

    At 100 TB: one fact pass to day grain, one aggregate, two ordered
    windows over ~2.4k rows.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = _daily_cents(o)
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    # n / T / the integer slack k as WALL windows over the day frame —
    # the aggregate + crossJoin shape scanned orders twice
    # (scan_audit/lesson 27)
    wall = Window.partitionBy()
    consts = daily.select(
        "day",
        "y",
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("y").over(wall).cast("bigint").alias("t"),
        F.round(
            F.sqrt(
                (
                    F.sum(d19("y") * d19("y")).over(wall).cast("double")
                    - F.sum("y").over(wall).cast("double")
                    * F.sum("y").over(wall).cast("double")
                    / F.count(F.lit(1)).over(wall)
                )
                / F.count(F.lit(1)).over(wall)
            )
            / 2.0,
            0,
        )
        .cast("bigint")
        .alias("k"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pfx = consts.select(
        "day",
        "n",
        "k",
        F.sum(
            (
                F.col("n") * F.col("y") - F.col("t") - F.col("n") * F.col("k")
            ).cast("bigint")
        )
        .over(w)
        .alias("p"),
    )
    s = pfx.select(
        "n",
        "k",
        (F.col("p") - F.least(F.min("p").over(w), F.lit(0))).alias("s_t"),
    )
    return s.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.max("k").cast("bigint").alias("slack_cents"),
        F.count(
            F.when(F.col("s_t") > F.col("n") * 10 * F.col("k"), 1)
        )
        .cast("bigint")
        .alias("n_alarm_days"),
        F.round(
            F.max("s_t").cast("double") / F.max("n").cast("double"), 2
        ).alias("max_cusum_cents"),
    )

"""Hypertable-style multi-granularity rollups (continuous aggregates).

The reference stores raw events and re-aggregates from scratch on
every dashboard poll (dashbord/dashbord.py:60-123 recomputes each
view over the full Mongo collection). A time-series engine instead
maintains a *hierarchy* of time-bucketed aggregates — the
TimescaleDB "hypertable rollup" / continuous-aggregate pattern — in
which each coarser grain re-aggregates the next finer grain's
partials instead of the raw table.

Scale contract (100 TB): the raw table is scanned exactly once, to
produce minute-grain partials; the hour grain aggregates ~1/60th of
that output, the day grain ~1/1440th. Only re-aggregatable measures
(count / sum / min / max) cascade; distinct-style measures need
sketch partials (see analytics.approx_distinct_users for the HLL
form). In a deployed pipeline the finer grain is materialized as a
table (parquet/Delta, partitioned by bucket date) and refreshed
incrementally by the streaming layer; here the registered query
persists the minute partials in-memory, which is the same dataflow
shape in miniature — hour/day read the cached partials, not the
parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def minute_partials(events: DataFrame) -> DataFrame:
    """The finest grain: per-minute event count and value sum."""
    return events.groupBy(
        F.date_trunc("minute", "ts").alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


def _reagg(finer: DataFrame, grain: str) -> DataFrame:
    """Re-aggregate finer-grain partials to `grain` — no raw-table
    access; count and sum cascade as sums of partials."""
    return finer.groupBy(
        F.date_trunc(grain, "bucket_start").alias("bucket_start")
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )


def hypertable_rollup(events: DataFrame, materialize: bool = True) -> DataFrame:
    """minute → hour → day cascade over `events(ts, value)`.

    Returns the union of all three grains:
    ``(grain, bucket_start, n_events, sum_value)`` with sum_value
    rounded to 2dp (cross-engine float discipline — see PERF.md).

    With ``materialize=True`` the minute partials are persisted so the
    plan's hour/day branches read the cached partials (the
    continuous-aggregate dataflow); with ``False`` the cascade is
    still expressed but Catalyst recomputes the minute aggregate per
    branch — use only for plan inspection. The cache is the
    materialized aggregate the caller asked for, so the caller owns
    it: Spark's cache manager keys it by plan (a repeated call over
    the same events reuses the one entry), and
    ``minute_partials(events).unpersist()`` releases it.
    """
    minute = minute_partials(events)
    if materialize:
        minute = minute.persist()
    hour = _reagg(minute, "hour")
    day = _reagg(minute, "day")
    out = (
        minute.withColumn("grain", F.lit("minute"))
        .unionByName(hour.withColumn("grain", F.lit("hour")))
        .unionByName(day.withColumn("grain", F.lit("day")))
    )
    return out.select(
        "grain",
        "bucket_start",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


def gapfill_minutes(events: DataFrame) -> DataFrame:
    """time_bucket_gapfill: the dense minute grid between the corpus
    min/max timestamps, zero-filled where no events landed — what a
    charting/export consumer needs from the hypertable rollup
    (sparse buckets read as missing data, not as zero activity).

    The grid derives from a one-row bounds aggregate broadcast into
    sequence() + explode, so its size is calendar-bounded (~526k rows
    per year at minute grain) and independent of event volume; the
    join back to the minute partials is a left join on the bucket
    key. No driver-side collect anywhere.
    """
    bounds = events.agg(
        F.date_trunc("minute", F.min("ts")).alias("t0"),
        F.date_trunc("minute", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.expr("INTERVAL 1 MINUTE"))
        ).alias("bucket_start")
    )
    minute = minute_partials(events)
    return grid.join(minute, "bucket_start", "left").select(
        "bucket_start",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.round(F.coalesce(F.col("sum_value"), F.lit(0.0)), 2).alias("sum_value"),
    )


def gapfill_locf(events: DataFrame) -> DataFrame:
    """Gap-fill with last-observation-carried-forward imputation: the
    minute grid where empty buckets inherit the most recent observed
    per-minute average (a gauge reading), NULL until the first
    observation. The global time-ordered window is legitimate here —
    unlike data-keyed global windows, the grid is calendar-bounded
    (~526k rows/year), so one partition holds a year comfortably at
    any corpus size; partition by calendar year for longer ranges.
    """
    from pyspark.sql import Window

    bounds = events.agg(
        F.date_trunc("minute", F.min("ts")).alias("t0"),
        F.date_trunc("minute", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.expr("INTERVAL 1 MINUTE"))
        ).alias("bucket_start")
    )
    minute = events.groupBy(
        F.date_trunc("minute", "ts").alias("bucket_start")
    ).agg(
        # floor-based 4dp rounding BEFORE the carry-forward so the
        # propagated value is identical in any engine (text.round4);
        # the mean runs over exact integer CENTS (value is exact
        # 2-dp) — floor(avg(double)) sits on .5 knife edges where a
        # partial-merge-order ulp flips the digit (round-9 audit)
        (
            F.floor(
                F.sum(
                    F.floor(F.col("value") * 100 + 0.5).cast("long")
                )
                * 100.0
                / F.count(F.lit(1))
                + 0.5
            ).cast("long")
            / 10000.0
        ).alias("observed")
    )
    w = Window.orderBy("bucket_start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(minute, "bucket_start", "left")
        .select(
            "bucket_start",
            F.last("observed", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


def rollup_incremental_refresh(events: DataFrame, late_mod: int = 23) -> DataFrame:
    """Incremental continuous-aggregate refresh — the production
    maintenance path for hypertable_rollup: a late-arrivals batch
    (every ``late_mod``-th event, deterministically) invalidates only
    the minute buckets it touches; those buckets are recomputed from
    raw and merged with the untouched standing aggregate.

    Scale shape: the dirty-bucket set is tiny (bounded by the batch's
    time spread, not corpus size) and broadcasts into BOTH the
    anti-join (drop stale buckets) and the semi-join (recompute scan),
    so the refresh cost tracks the late batch — never a full-table
    re-aggregation. The result must equal the full recompute over all
    events, which is the oracle.
    """
    late = events.filter(F.col("event_id") % late_mod == 0)
    base = events.filter(F.col("event_id") % late_mod != 0)
    standing = minute_partials(base)
    dirty = late.select(
        F.date_trunc("minute", "ts").alias("bucket_start")
    ).distinct()
    untouched = standing.join(F.broadcast(dirty), "bucket_start", "left_anti")
    recomputed = minute_partials(
        events.withColumn("bucket_start", F.date_trunc("minute", "ts")).join(
            F.broadcast(dirty), "bucket_start", "left_semi"
        )
    )
    return untouched.unionByName(recomputed).select(
        "bucket_start",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )

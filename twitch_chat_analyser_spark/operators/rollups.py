"""Hierarchical time-series rollups — hypertable-style continuous
aggregates (15 min -> 1 h -> 1 d) over the window-end fact tables.

The reference stores exactly one resolution (15-min buckets,
``job.example.properties:14``) plus the all-time sentinel row; its
dashboard then re-aggregates in SQL per request. At 100 TB a dashboard
hitting the 15-min facts for a year-long chart re-sums ~35k buckets per
key per request — the standard fix (TimescaleDB continuous aggregates,
Druid rollup segments) is a cascade of materialized coarser rollups.

Scale design:
- Each level consumes the PREVIOUS level, never raw events: the 15-min
  facts are already ~4 orders of magnitude smaller than the message
  stream, so the 1 h and 1 d levels are nearly-free aggregations.
- Bucket math is pure integer arithmetic on the window-end epoch-ms
  (``((ts + W-1) div W) * W`` — ceiling to the enclosing coarser
  window-end), exact at any magnitude; no float division that could
  misround at epoch scale.
- The cascade preserves the partitioning key prefix (dims), so with the
  fact table bucketed by dims (storage.write_bucketed) every level
  aggregates shuffle-free.
- Incremental maintenance falls out of the delta streaming mode
  (streaming/pipeline.py): a late 15-min delta re-aggregates into its
  single enclosing 1 h and 1 d bucket — one row per level, the same
  upsert the base table already does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HOUR_MS = 3_600_000
DAY_MS = 86_400_000


def rollup(fact: DataFrame, dims: list[str], value_col: str, to_ms: int) -> DataFrame:
    """Re-bucket a window-end fact table into coarser buckets of width
    ``to_ms`` (ms), summing ``value_col``. A fine window-end that lands
    exactly on a coarse boundary belongs to that coarse window (the
    15-min window ending at 01:00:00 is part of the hour ending
    01:00:00), hence the integer ceiling."""
    bucket = F.expr(f"((timestamp + {to_ms - 1}) div {to_ms}) * {to_ms}")
    return (
        fact.groupBy(*dims, bucket.alias("timestamp"))
        .agg(F.sum(value_col).alias(value_col))
    )


def rollup_hierarchy(fact: DataFrame, dims: list[str], value_col: str) -> DataFrame:
    """The full cascade, stacked with a ``resolution`` tag: the base
    15-min facts plus hourly and daily rollups (daily derived from
    hourly, not from base — the continuous-aggregate chain).

    -> *dims, timestamp, <value_col>, resolution
    """
    # materialize each level once: the stacked union references `fact`
    # from two branches and `hourly` from two more, and Spark does not
    # share subplans across union branches — without this the base
    # aggregation (and everything upstream of it) executes three times.
    # This mirrors what the cascade IS at scale: each level is a
    # materialized serving table derived from the previous one.
    if not fact.isStreaming:
        fact = fact.localCheckpoint(eager=True)
    hourly = rollup(fact, dims, value_col, HOUR_MS)
    if not hourly.isStreaming:
        hourly = hourly.localCheckpoint(eager=True)
    daily = rollup(hourly, dims, value_col, DAY_MS)
    return (
        fact.withColumn("resolution", F.lit("15m"))
        .unionByName(hourly.withColumn("resolution", F.lit("1h")))
        .unionByName(daily.withColumn("resolution", F.lit("1d")))
    )


WINDOW_MS = 900_000


def fill_gaps(
    fact: DataFrame, dims: list[str], value_col: str, step_ms: int = WINDOW_MS
) -> DataFrame:
    """Densify a window-end series: emit every ``step_ms`` bucket
    between each key's first and last observed bucket, zero-filling the
    gaps — what chart rendering and window-function math (lag, moving
    averages) need to be correct over sparse series.

    Plan shape: per-key min/max (one aggregation), ``sequence`` +
    ``explode`` to generate the grid (rows materialize executor-side,
    never on the driver), left join back to facts on (dims, timestamp).
    Grid size is bounded by time-range/step per key — independent of
    raw-event volume, so at 100 TB this costs the same as at 100 GB for
    the same time span.

    -> *dims, timestamp, <value_col> (gaps as 0)
    """
    bounds = fact.groupBy(*dims).agg(
        F.min("timestamp").alias("t_lo"), F.max("timestamp").alias("t_hi")
    )
    grid = bounds.select(
        *dims,
        F.explode(
            F.sequence("t_lo", "t_hi", F.lit(step_ms).cast("long"))
        ).alias("timestamp"),
    )
    return (
        grid.join(fact, [*dims, "timestamp"], "left")
        .na.fill({value_col: 0})
    )


def start_rollup_pipeline(
    spark: SparkSession,
    messages_stream: DataFrame,
    transform,
    dims: list[str],
    value_col: str,
    out_dir: str,
    checkpoint_dir: str,
    name: str = "channel_stats",
    trigger: dict | None = None,
):
    """Streaming continuous-aggregate maintenance: one stream, three
    incrementally-maintained tables (``<name>``, ``<name>_1h``,
    ``<name>_1d``).

    Each micro-batch is aggregated alone (batch/stream duality D4) into
    15-min deltas; because SUM is additive, re-bucketing the BATCH's
    deltas gives exactly the hourly/daily deltas, so every level is the
    same additive journaled merge the base table uses
    (pipeline.additive_merge — exactly-once under replay per target).
    A late event lands additively in its enclosing bucket at every
    resolution with unbounded lateness; the streaming plan itself is
    stateless (state bounding as in AbstractStatsAggregation.java:108-112,
    with the store holding history).

    At 100 TB the coarse levels cost ~nothing: each consumes the batch's
    already-aggregated deltas (tiny), not the raw stream.
    """
    import os

    from ..streaming import bucketstore
    from ..streaming.pipeline import additive_merge

    keys = [*dims, "timestamp"]
    ckpt = os.path.join(checkpoint_dir, name + "_rollup")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        stats = transform(batch_df).localCheckpoint(eager=True)
        # one span agg prices the day-bucket hint for ALL THREE merges
        # (skips bucketstore's per-merge distinct-collect probe job)
        span = stats.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("timestamp").alias("min_ms"),
            F.max("timestamp").alias("max_ms"),
        ).first()
        if span["n"] == 0:
            return
        hint = [0] + list(range(
            int(span["min_ms"] // DAY_MS),
            int(span["max_ms"] // DAY_MS) + 2,
        ))
        # pins the journals to this checkpoint: a fresh one restarts
        # batch ids at 0 and must fail loudly, not watermark-drop every
        # new batch (ADVICE r11)
        sid = bucketstore.stream_identity(ckpt)
        hourly = rollup(stats, dims, value_col, HOUR_MS)
        daily = rollup(hourly, dims, value_col, DAY_MS)
        for suffix, deltas in (("", stats), ("_1h", hourly), ("_1d", daily)):
            additive_merge(
                spark,
                os.path.join(out_dir, name + suffix),
                deltas,
                keys,
                value_col,
                batch_id,
                touched_hint=hint,
                stream_id=sid,
            )

    return (
        messages_stream.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


# --------------------------------------------------------------------------
# registry entries
# --------------------------------------------------------------------------


def _q_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import ingest
    from . import aggregations as agg

    cs = agg.channel_stats(ingest.messages(spark, sf_dir))
    return rollup_hierarchy(cs, ["channel"], "messages")


def _q_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import ingest
    from . import aggregations as agg

    cs = agg.channel_stats(ingest.messages(spark, sf_dir))
    return fill_gaps(cs, ["channel"], "messages")


ROLLUP_QUERIES = {
    "rollup_timeseries_hierarchy": _q_rollup_hierarchy,
    "timeseries_fill_gaps": _q_fill_gaps,
}


def rollup_oracles() -> dict[str, str]:
    from ..registry import chat_ctes

    def bucket(w: int) -> str:
        return f"((timestamp + {w - 1}) // {w}) * {w}"

    return {
        "rollup_timeseries_hierarchy": f"""{chat_ctes()},
hourly AS (
    SELECT channel, {bucket(HOUR_MS)} AS timestamp,
           CAST(sum(messages) AS BIGINT) AS messages
    FROM channel_stats GROUP BY 1, 2
),
daily AS (
    SELECT channel, {bucket(DAY_MS)} AS timestamp,
           CAST(sum(messages) AS BIGINT) AS messages
    FROM hourly GROUP BY 1, 2
)
SELECT channel, timestamp, messages, '15m' AS resolution FROM channel_stats
UNION ALL
SELECT channel, timestamp, messages, '1h' AS resolution FROM hourly
UNION ALL
SELECT channel, timestamp, messages, '1d' AS resolution FROM daily""",
        "timeseries_fill_gaps": f"""{chat_ctes()},
bounds AS (
    SELECT channel, min(timestamp) AS t_lo, max(timestamp) AS t_hi
    FROM channel_stats GROUP BY channel
),
grid AS (
    SELECT channel, unnest(generate_series(t_lo, t_hi, {WINDOW_MS})) AS timestamp
    FROM bounds
)
SELECT g.channel, g.timestamp,
       CAST(coalesce(s.messages, 0) AS BIGINT) AS messages
FROM grid g LEFT JOIN channel_stats s USING (channel, timestamp)""",
    }

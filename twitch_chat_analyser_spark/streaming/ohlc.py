"""Streaming OHLC candle maintenance: the continuous-aggregate twin of
``temporal.ohlc_downsample`` (rollups.start_rollup_pipeline's pattern,
but for NON-additive merge algebra).

Open/close are order statistics, not sums — yet they are still
MERGEABLE: carry the full ``(ms, event_id, value)`` struct and merge by
struct min/max (lexicographic struct ordering = the exact (ms,
event_id) total order the batch operator ranks by), while high/low/
n_events merge by max/min/sum. So each micro-batch is aggregated ALONE
(batch/stream duality), the store merge joins ONLY the candle rows of
the buckets the batch touches, and a late event lands in its enclosing
bucket with unbounded lateness — no watermark, no streaming state; the
store holds history.

STORE LAYOUT (round 7 — closes the round-4/5/6 finding): the store is
bucketed by ``hash(event_type, bucket_ms) % N`` (bucketstore.py).
Per-trigger cost is O(store ∩ touched buckets + batch): a batch of
current events touches the handful of buckets its (type, time-bucket)
keys hash to, and candle history from last month is never opened or
rewritten again — previously the merge full-outer-joined and rewrote
the ENTIRE store every trigger, so state grew with stream lifetime.
Replay safety: n_events is additive (NOT idempotent), so applied batch
ids are journaled per bucket, committed by the same rename that
publishes the bucket — a partially-crashed swap replays exactly the
buckets that missed. A flat store from the pre-bucketing layout is
converted whole, in one atomic swap, by its next merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.temporal import OHLC_BUCKET_MS
from . import bucketstore

_KEYS = ["event_type", "bucket_ms"]
STORE_BUCKETS = bucketstore.STORE_BUCKETS


def ohlc_delta(events: DataFrame, bucket_ms: int = OHLC_BUCKET_MS) -> DataFrame:
    """Per-batch candle state: the mergeable representation (full
    (ms, event_id, value) structs for the open/close extremes).

    -> event_type, bucket_ms, open_s, high, low, close_s, n_events
    """
    ms = F.unix_millis("ts")
    bucket = (F.floor(ms / bucket_ms) * bucket_ms).cast("long")
    key = F.struct(
        ms.alias("ms"), F.col("event_id").alias("event_id"),
        F.col("value").alias("value"),
    )
    return events.groupBy("event_type", bucket.alias("bucket_ms")).agg(
        F.min(key).alias("open_s"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(key).alias("close_s"),
        F.count("*").cast("long").alias("n_events"),
    )


def _merge_candles(old: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Struct-min/max for open/close, max/min/sum for the rest —
    exactly the algebra that makes the merged candle equal the
    from-scratch batch candle for any batching (pinned by the
    stream==batch test). Operates only on the touched buckets' rows."""
    if old is None:
        return delta
    join_keys = _KEYS + ["bucket"]
    # NULL-SAFE equality: a NULL-ts event yields a NULL bucket_ms
    # candle; a plain equi-join never matches NULL=NULL, so each batch
    # would append ANOTHER (event_type, NULL) row instead of merging —
    # stream != batch (the batch twin groups them into one candle)
    cond = None
    for k in join_keys:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"d.{k}"))
        cond = c if cond is None else cond & c
    j = old.alias("o").join(delta.alias("d"), cond, "full_outer")

    def both(fn, col):
        return fn(F.col(f"o.{col}"), F.col(f"d.{col}"))

    return j.select(
        *[F.coalesce(f"o.{k}", f"d.{k}").alias(k) for k in join_keys],
        F.when(
            F.col("o.open_s").isNull(), F.col("d.open_s")
        ).when(
            F.col("d.open_s").isNull(), F.col("o.open_s")
        ).otherwise(both(F.least, "open_s")).alias("open_s"),
        both(F.greatest, "high").alias("high"),
        both(F.least, "low").alias("low"),
        F.when(
            F.col("o.close_s").isNull(), F.col("d.close_s")
        ).when(
            F.col("d.close_s").isNull(), F.col("o.close_s")
        ).otherwise(both(F.greatest, "close_s")).alias("close_s"),
        (
            F.coalesce("o.n_events", F.lit(0))
            + F.coalesce("d.n_events", F.lit(0))
        ).cast("long").alias("n_events"),
    )


def ohlc_merge(
    spark: SparkSession,
    path: str,
    deltas: DataFrame,
    batch_id: int,
    num_buckets: int = STORE_BUCKETS,
    stream_id: str | None = None,
) -> None:
    """Merge one batch's candle deltas into the bucketed store; only
    the buckets the batch touches are read/rewritten (per-bucket
    journaled exactly-once under replay — bucketstore.merge_into;
    ``stream_id`` pins the journal to its checkpoint, ADVICE r11)."""
    bucketstore.merge_into(
        spark, path, deltas, _KEYS, _merge_candles, num_buckets, batch_id,
        stream_id=stream_id,
    )


def serve_candles(spark: SparkSession, path: str) -> DataFrame:
    """Store -> the public candle schema (same columns as
    temporal.ohlc_downsample). Restore-only recovery: a reader must
    never delete an in-flight writer's tmp dir. The store is flat (a
    pre-bucketing layout the next merge converts) or bucketed, never
    both, so the read is exact in every crash window."""
    bucketstore.recover(path, restore_only=True)
    s = bucketstore.read_store(spark, path)
    if s is None:
        raise FileNotFoundError(path)
    return s.select(
        "event_type",
        "bucket_ms",
        F.col("open_s.value").alias("open"),
        "high",
        "low",
        F.col("close_s.value").alias("close"),
        "n_events",
    )


def start_ohlc_pipeline(
    spark: SparkSession,
    events_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    bucket_ms: int = OHLC_BUCKET_MS,
    trigger: dict | None = None,
):
    """readStream(events) -> per-batch candle deltas -> journaled
    struct-merge store. ``serve_candles(spark, out_dir)`` reads it."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ohlc_merge(
            spark, out_dir, ohlc_delta(batch_df, bucket_ms), batch_id,
            stream_id=bucketstore.stream_identity(checkpoint_dir),
        )

    q = (
        events_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    return q

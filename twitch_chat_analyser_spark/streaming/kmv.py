"""Streaming KMV sketch maintenance: per-channel k-minimum-values
distinct sketches kept current per micro-batch — the set-operation
counterpart of streaming/hll.py's register store (union/intersection
estimates over time, not just distinct counts).

Merge algebra: the store holds each channel's k smallest DISTINCT
hash values; merging a batch is ``bottom-k(distinct(store ∪ batch))``.
That operation is idempotent and commutative on sets, so A REPLAYED
MICRO-BATCH IS A NO-OP BY ALGEBRA — no applied-batch journal is needed
(same argument as the HLL max-merge store). The swap is still atomic
(tmp + rename) so a crash mid-write never mixes states.

State: <= k BIGINT rows per channel, forever — bounded by the channel
dimension, never by the stream. STORE LAYOUT (review r9 — the same
round-4/6 finding the sibling OHLC/Markov stores were bucketed to fix):
the store lives on the shared bucketed layout, ``bucket =
hash(channel) % N``, so a trigger reads and rewrites ONLY the buckets
its batch's channels hash to — the old flat swap rewrote the whole
store every trigger (its left-semi split avoided re-SORTING cold
channels but still scanned and rewrote every row). The bottom-k-
distinct algebra is idempotent, so replay needs no journal
(bucketstore.merge_into, batch_id=None), and a flat store from the old
layout is converted whole, in one atomic swap, by its next merge.

Serving: sketches.kmv_overlap_from_sketch over the store gives the
live pairwise audience-overlap estimates; per-channel distinct
estimates come from the same CASE/divide expressions as the batch
operator (bit-identical math). A store is flat or bucketed, never
both; serve reads dedupe (channel, hv) and re-apply the per-channel
bottom-k, so the estimates stay exact in every store state (ADVICE
r9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sketches import (
    KMV_K,
    _kmv_est,
    kmv_kmin,
    kmv_overlap_from_sketch,
)
from . import bucketstore

STORE_BUCKETS = bucketstore.STORE_BUCKETS


def merge_kmv(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    k: int = KMV_K,
    num_buckets: int = STORE_BUCKETS,
) -> None:
    """Merge one micro-batch of messages into the bucketed k-min store:
    ``bottom-k(distinct(store ∪ batch))`` per channel, applied to the
    touched buckets only."""

    def merge_fn(old: DataFrame | None, delta: DataFrame) -> DataFrame:
        parts = delta if old is None else old.unionByName(delta)
        w = Window.partitionBy("channel").orderBy("hv")
        return (
            parts.distinct()
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= k)
            .select("channel", "hv", "bucket")
        )

    bucketstore.merge_into(
        spark,
        path,
        kmv_kmin(batch, k),
        ["channel"],
        merge_fn,
        num_buckets=num_buckets,
        batch_id=None,
    )


def _read_sketch(spark: SparkSession, path: str, k: int = KMV_K) -> DataFrame:
    """Serve-side sketch rows: restore-only heal, then the bucketed or
    flat store. Belt: the per-channel bottom-k is re-applied after the
    dedup — ``bottom-k(old ∪ bottom-k(old ∪ new)) = bottom-k(old ∪
    new)`` (every old row outside the kept set is larger than all of
    it), so it is a no-op in every healthy state and heals any
    residual >k mixture instead of computing n/hk over it (ADVICE
    r9)."""
    bucketstore.recover(path, restore_only=True)
    sk = bucketstore.read_store(spark, path)
    if sk is None:
        # empty/missing store: keep the old plain-read failure mode
        sk = spark.read.parquet(path)
    else:
        sk = sk.drop("bucket")
    w = Window.partitionBy("channel").orderBy("hv")
    return (
        sk.select("channel", "hv")
        .distinct()
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .drop("r")
    )


def serve_estimates(
    spark: SparkSession, path: str, k: int = KMV_K
) -> DataFrame:
    """Store -> per-channel distinct estimate (same expression tree as
    the batch operator, so stream==batch is bit-for-bit). Quantized to
    a milli-unit BIGINT — no derived DOUBLE in a hashable serving
    output (float sweep, round 7).

    -> channel, est_milli
    """
    sk = _read_sketch(spark, path, k)
    return (
        sk.groupBy("channel")
        .agg(F.count("*").alias("n"), F.max("hv").alias("hk"))
        .select(
            "channel",
            F.round(_kmv_est(F.col("n"), F.col("hk"), k) * 1000, 0)
            .cast("long")
            .alias("est_milli"),
        )
    )


def serve_overlap(
    spark: SparkSession, path: str, k: int = KMV_K
) -> DataFrame:
    """Store -> live pairwise audience-overlap estimates (the batch
    operator's pair stage over the maintained sketches). Restore-only:
    readers never delete a concurrent writer's tmp dir."""
    return kmv_overlap_from_sketch(_read_sketch(spark, path, k), k)


def start_kmv_pipeline(
    spark: SparkSession,
    messages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = KMV_K,
    trigger: dict | None = None,
):
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_kmv(spark, out_dir, batch_df, k)

    return (
        messages_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )

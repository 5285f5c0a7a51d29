"""Streaming Markov-transition maintenance: the continuous twin of
``behavior.markov_transitions``.

Two stores make the sequence computation incremental:

- ``last_event/`` — one row per user: the (ts, event_id, event_type)
  struct-MAX of everything seen (the same mergeable-order-statistic
  trick as streaming/ohlc.py's open/close). BUCKETED by
  ``hash(user_id) % N`` (round 7 — closes the round-4/5/6 whole-store-
  rewrite finding): a trigger reads and rewrites ONLY the buckets its
  batch's users hash to, so per-trigger cost is O(batch ∩ buckets),
  not O(|all users ever seen|). The struct-max algebra is idempotent,
  so replay needs no journal (bucketstore.merge_into, batch_id=None).
- ``transitions/`` — additive (src_type, dst_type) counts, maintained
  with streaming.pipeline.additive_merge (which round 7 moved onto the
  bucketed layout too; for this |types|^2-row store — BOUNDED by the
  type alphabet, not the stream — the bucketing is cost-neutral).

Per micro-batch: within-batch adjacent pairs come from the batch's own
per-user lead window (batch/stream duality); the ONE cross-batch pair
per active user comes from joining the user's stored last event to the
batch's first event — read partition-pruned to the batch users'
buckets. Contract: per-user MONOTONE arrival (each user's events
arrive in (ts, event_id) order across batches) — the standard
log-ingestion assumption; an out-of-order straggler would need a
re-sort no per-user-constant state can provide, which is exactly why
the batch operator exists for reprocessing.

Replay safety: the transitions store journals applied batch ids behind
one atomic swap; the last-event store replays as a value no-op by the
max algebra. A replayed micro-batch changes neither.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import bucketstore
from .pipeline import additive_merge

LAST_KEYS = ["user_id"]
STORE_BUCKETS = bucketstore.STORE_BUCKETS


def _batch_last_events(events: DataFrame) -> DataFrame:
    """Per-user (ts, event_id, event_type) struct-max of the batch."""
    key = F.struct(
        F.col("ts").alias("ts"),
        F.col("event_id").alias("event_id"),
        F.col("event_type").alias("event_type"),
    )
    return events.groupBy("user_id").agg(F.max(key).alias("last"))


def _merge_last(old: DataFrame | None, delta: DataFrame) -> DataFrame:
    if old is None:
        return delta
    return (
        old.unionByName(delta)
        .groupBy("user_id", "bucket")
        .agg(F.max("last").alias("last"))
    )


def process_batch(
    spark: SparkSession,
    events: DataFrame,
    transitions_dir: str,
    last_dir: str,
    batch_id: int,
    num_buckets: int = STORE_BUCKETS,
    stream_id: str | None = None,
) -> None:
    """One micro-batch: in-batch pairs + store-boundary pairs into the
    additive transition store; then bucketed struct-max merge of the
    last-event store. ``bucketstore.recover`` first makes any torn
    per-bucket swap whole on BOTH stores, so a crash between renames
    is healed before the batch reads either store
    (otherwise transitions would silently rebuild from empty and lose
    the applied-batch journal with the history)."""
    bucketstore.recover(last_dir)
    bucketstore.recover(transitions_dir)
    events = events.select("user_id", "ts", "event_id", "event_type").cache()
    try:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        in_batch = (
            events.withColumn("dst_type", F.lead("event_type").over(w))
            .filter(F.col("dst_type").isNotNull())
            .select(F.col("event_type").alias("src_type"), "dst_type")
        )
        wf = Window.partitionBy("user_id").orderBy(
            F.asc("ts"), F.asc("event_id")
        )
        first = (
            events.withColumn("rn", F.row_number().over(wf))
            .filter("rn = 1")
            .select("user_id", F.col("event_type").alias("dst_type"))
        )
        # boundary join reads ONLY the buckets the batch's users hash
        # to — the rest of the per-user history is never opened (a flat
        # store, not yet converted by the merge below, is read whole)
        touched = sorted(
            r["bucket"]
            for r in bucketstore.with_bucket(
                events.select("user_id").distinct(), LAST_KEYS, num_buckets
            )
            .select("bucket")
            .distinct()
            .collect()
        )
        store_rows = bucketstore.read_store(spark, last_dir, touched)
        if store_rows is not None:
            # one boundary pair per user: the store holds one row per
            # user, and the re-max is the same algebra it merges with
            prev = (
                store_rows.groupBy("user_id")
                .agg(F.max("last").alias("last"))
                .select(
                    "user_id", F.col("last.event_type").alias("src_type")
                )
            )
            boundary = first.join(prev, "user_id").select(
                "src_type", "dst_type"
            )
            pairs = in_batch.unionByName(boundary)
        else:
            pairs = in_batch
        deltas = pairs.groupBy("src_type", "dst_type").agg(
            F.count("*").cast("long").alias("transitions")
        )
        # SINGLE-bucket layout on purpose: this delta is state-dependent
        # (the boundary join reads the last-event store), so a replay
        # recomputes a DIFFERENT delta — per-bucket journals would leak
        # its rows into never-journaled buckets. One bucket makes the
        # journal all-or-nothing, the old flat-store semantics; the
        # store is |types|^2 rows, so one partition is also the right
        # physical size.
        additive_merge(
            spark, transitions_dir, deltas,
            ["src_type", "dst_type"], "transitions", batch_id,
            bucketize=lambda df: df.withColumn(
                "bucket", F.lit(0).cast("int")
            ),
            stream_id=stream_id,
        )

        # idempotent max algebra: no journal needed; a replayed batch
        # merges to identical values (bucketstore batch_id=None)
        bucketstore.merge_into(
            spark,
            last_dir,
            _batch_last_events(events),
            LAST_KEYS,
            _merge_last,
            num_buckets,
        )
    finally:
        events.unpersist()


def serve_transitions(spark: SparkSession, transitions_dir: str) -> DataFrame:
    """Store -> the public schema of behavior.markov_transitions.

    Restore-only recovery first (never deletes an in-flight writer's
    tmp dir — bucketstore.recover(restore_only=True)); the store is
    flat or bucketed, never both, so the read is exact in every crash
    window."""
    bucketstore.recover(transitions_dir, restore_only=True)
    t = bucketstore.read_store(spark, transitions_dir)
    if t is None:
        raise FileNotFoundError(transitions_dir)
    wsrc = Window.partitionBy("src_type")
    return t.select(
        "src_type",
        "dst_type",
        "transitions",
        F.sum("transitions").over(wsrc).cast("long").alias("src_total"),
    ).withColumn(
        "prob_ppm",
        F.expr(
            "CAST((CAST(transitions AS DECIMAL(38,0)) * 2000000"
            " + src_total) DIV (2 * CAST(src_total AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ),
    )


def start_markov_pipeline(
    spark: SparkSession,
    events_stream: DataFrame,
    transitions_dir: str,
    last_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(
            spark, batch_df, transitions_dir, last_dir, batch_id,
            stream_id=bucketstore.stream_identity(checkpoint_dir),
        )

    return (
        events_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )

"""Incremental distinct-count maintenance: the portable HLL's register
table as a streaming-maintained serving store.

The register representation (operators/sketches.py::hll_registers) is
MAX-MERGEABLE: ``max`` is idempotent, commutative and associative, so

- each micro-batch contributes only its own partial register maxima
  (map-side agg, 256 rows per dimension key — no raw usernames ever
  reach the store);
- merging a batch into the store is a key-max upsert whose REPLAY is a
  no-op by algebra alone — no batch-id journal or ledger needed, unlike
  the additive count sinks (streaming/pipeline.py), because
  ``max(store, batch)`` applied twice equals applied once;
- the serving estimate read from the store after any prefix of batches
  equals the batch computation over the same prefix EXACTLY (pytest
  pins stream == batch bit-for-bit), and any coarser rollup re-merges
  the same registers.

This is the streaming twin of the reference's flush-and-accumulate
pattern (AbstractStatsAggregation.java:108-112) applied to a
non-additive measure: the stream plan stays stateless, long-term state
lives in the store as 2 KB of registers per key instead of the
unbounded distinct-key set.

STORE LAYOUT — per-trigger cost must be O(batch), not O(store): the
store is laid out as ``bucket=<hash(dims) % N>/`` partitions, and each
merge (1) computes which buckets the batch touches (at most N tiny
ints), (2) reads ONLY those partitions (partition pruning — the rest of
the store is never opened), (3) key-max re-aggregates them with the
batch, and (4) swaps only the touched bucket directories. A batch
touching one dimension key rewrites 1/N of the store regardless of how
many keys history has accumulated — the same per-flush-proportional-to-
delta property the reference's accumulate loop has
(AbstractStatsAggregation.java:108-112). Crash safety: buckets that
fully swapped are replay-no-ops by the max algebra; a crash INSIDE one
bucket's two-rename swap strands a ``.old-`` backup, which ``_recover``
restores (live dir missing) or discards (live dir present) before the
next merge or serve — so no bucket's history is ever lost to a torn
swap. A store written by the earlier flat (unbucketed) layout is
converted whole, in one atomic swap, by the first merge that sees it —
a store is flat or bucketed, never both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketches
from . import bucketstore

# Default bucket fan-out for the register store. At 100 TB-scale key
# cardinality this is sized so one bucket's registers fit an executor
# core comfortably (keys/N * 256 rows); tests use small N to exercise
# multi-key buckets.
STORE_BUCKETS = 16


def merge_registers(
    spark: SparkSession,
    store: str,
    batch_regs: DataFrame,
    dims: list[str],
    num_buckets: int = STORE_BUCKETS,
) -> None:
    """Key-max upsert of a batch's partial registers into the bucketed
    parquet register store, on the SHARED bucketed-store machinery
    (bucketstore.merge_into — which this module's round-5 code was
    generalized FROM, and which has since gained the heal-race retake,
    mtime-ordered recovery, whole-store restore, the one-swap flat
    conversion, and fsynced journals the local copy lacked; review r9
    ported the original back onto it). ``batch_id=None`` because the
    max algebra is idempotent — replay is a value no-op, no journal
    needed. Only touched buckets are read and rewritten."""

    def merge_fn(old: DataFrame | None, delta: DataFrame) -> DataFrame:
        parts = delta if old is None else old.unionByName(delta)
        return parts.groupBy(*dims, "reg", "bucket").agg(
            F.max("mrho").alias("mrho")
        )

    bucketstore.merge_into(
        spark,
        store,
        batch_regs,
        dims,
        merge_fn,
        num_buckets=num_buckets,
        batch_id=None,
    )


def start_hll_maintenance(
    spark: SparkSession,
    messages_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    dims: list[str] | None = None,
    trigger: dict | None = None,
):
    """Maintain the register store from a message stream: per trigger,
    aggregate the micro-batch's registers (batch-mode duality D4 — the
    same pure ``hll_registers`` transform) and key-max merge them in.
    The streaming plan itself has zero stateful operators."""
    dims = dims or ["channel"]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_registers(
            spark, store_dir, sketches.hll_registers(batch_df, dims), dims
        )

    return (
        messages_stream.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(checkpoint_dir, "hll"))
        .foreachBatch(sink)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def serve_estimates(
    spark: SparkSession, store_dir: str, dims: list[str] | None = None
) -> DataFrame:
    """Serving read: estimate straight off the stored registers — never
    touches raw events. Heals torn swaps restore-only (never deletes a
    concurrent writer's tmp dir), then reads the bucketed or flat
    store. The per-key register re-max before estimating is a no-op on
    a healthy store and, by the max algebra, keeps any duplicated
    register row from double-counting n_regs (review r9).
    -> *dims, hll_est"""
    dims = dims or ["channel"]
    bucketstore.recover(store_dir, restore_only=True)
    regs = bucketstore.read_store(spark, store_dir)
    if regs is None:
        # empty/missing store: keep the old plain-read failure mode
        regs = spark.read.parquet(store_dir)
    else:
        regs = regs.drop("bucket")
    regs = regs.groupBy(*dims, "reg").agg(F.max("mrho").alias("mrho"))
    return sketches.hll_estimate(regs, dims)

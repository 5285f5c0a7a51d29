"""Streaming register-store maintenance for the portable HLL: stream
result equals batch result bit-for-bit, replays are no-ops by the max
algebra, and rollups re-merge stored registers exactly."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from twitch_chat_analyser_spark.operators import sketches
from twitch_chat_analyser_spark.streaming import hll as shll
from twitch_chat_analyser_spark.streaming import bucketstore
from twitch_chat_analyser_spark.streaming.pipeline import read_message_stream

SCHEMA = "ts string, channel string, username string, message string"


def _messages(spark, n_users: int, channels=("a", "b")):
    rows = [
        (f"2024-01-0{1 + (i % 7)} 10:00:00", c, f"u{c}{i}", "hi")
        for c in channels
        for i in range(n_users)
        for _ in range(2)  # duplicates must not move registers
    ]
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _run_stream(spark, src_dir, store, ckpt):
    q = shll.start_hll_maintenance(
        spark,
        read_message_stream(spark, src_dir, max_files_per_trigger=2),
        store,
        ckpt,
    )
    q.awaitTermination()


def test_streamed_store_equals_batch_estimate_exactly(spark, tmp_path):
    msgs = _messages(spark, 80)
    src = str(tmp_path / "src")
    msgs.repartition(8).write.parquet(src)  # 8 files -> 4 micro-batches
    store = str(tmp_path / "store")
    _run_stream(spark, src, store, str(tmp_path / "ckpt"))

    streamed = {
        r["channel"]: r["hll_est"]
        for r in shll.serve_estimates(spark, store).collect()
    }
    batch = {
        r["channel"]: r["hll_est"]
        for r in sketches.hll_estimate(sketches.hll_registers(msgs)).collect()
    }
    assert streamed == batch  # bit-for-bit, any batching
    # and the store holds registers, not users: <= m rows per channel
    n_rows = spark.read.parquet(store).count()
    assert n_rows <= 2 * sketches.HLL_M


def test_replayed_batch_is_a_noop_by_algebra(spark, tmp_path):
    msgs = _messages(spark, 40, channels=("a",))
    store = str(tmp_path / "store")
    regs = sketches.hll_registers(msgs)
    shll.merge_registers(spark, store, regs, ["channel"])
    once = sorted(map(tuple, spark.read.parquet(store).collect()))
    shll.merge_registers(spark, store, regs, ["channel"])  # replay
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == once


def test_incremental_merge_equals_full_corpus(spark, tmp_path):
    first = _messages(spark, 50)
    second = _messages(spark, 120)  # superset user ids 0..119
    store = str(tmp_path / "store")
    shll.merge_registers(spark, store, sketches.hll_registers(first), ["channel"])
    shll.merge_registers(spark, store, sketches.hll_registers(second), ["channel"])
    inc = {
        r["channel"]: r["hll_est"]
        for r in shll.serve_estimates(spark, store).collect()
    }
    full = {
        r["channel"]: r["hll_est"]
        for r in sketches.hll_estimate(
            sketches.hll_registers(first.unionByName(second))
        ).collect()
    }
    assert inc == full


def test_rollup_re_merges_stored_registers(spark, tmp_path):
    """Coarser grouping (all channels) from the per-channel store: merge
    registers across channels, never re-reading events — and distinct
    counts do NOT sum (shared users), which the register merge handles."""
    msgs = _messages(spark, 60)  # same 60 user ids in both channels? no:
    # usernames embed the channel, so the union is 120 distinct
    store = str(tmp_path / "store")
    shll.merge_registers(spark, store, sketches.hll_registers(msgs), ["channel"])
    regs = spark.read.parquet(store).withColumn("scope", F.lit("all"))
    rollup = sketches.hll_estimate(
        regs.groupBy("scope", "reg").agg(F.max("mrho").alias("mrho")),
        ["scope"],
    ).collect()[0]
    direct = sketches.hll_estimate(
        sketches.hll_registers(msgs.withColumn("scope", F.lit("all")), ["scope"]),
        ["scope"],
    ).collect()[0]
    assert rollup["hll_est"] == direct["hll_est"]
    assert os.path.isdir(store)


def _bucket_files(store: str) -> dict[str, float]:
    """path -> mtime for every data file, keyed by bucket-relative path."""
    out = {}
    for root, _dirs, files in os.walk(store):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, store)] = os.path.getmtime(p)
    return out


def test_merge_touches_only_batch_buckets(spark, tmp_path):
    """Per-trigger cost is O(batch), not O(store): a merge whose batch
    hits one dimension key must leave every other bucket's files
    untouched (same paths, same mtimes) — the fix for the r04
    whole-store-rewrite flag."""
    store = str(tmp_path / "store")
    # seed the store with many channels spread across buckets
    seed = _messages(spark, 10, channels=tuple(f"c{i}" for i in range(12)))
    shll.merge_registers(spark, store, sketches.hll_registers(seed), ["channel"], num_buckets=8)
    buckets_before = {d for d in os.listdir(store) if d.startswith("bucket=")}
    assert len(buckets_before) > 2  # the seed really spread out
    files_before = _bucket_files(store)

    # merge a single-channel batch
    delta = _messages(spark, 25, channels=("c3",))
    shll.merge_registers(spark, store, sketches.hll_registers(delta), ["channel"], num_buckets=8)

    from pyspark.sql import functions as F
    b3 = spark.range(1).select(
        F.pmod(F.hash(F.lit("c3")), F.lit(8)).cast("int").alias("b")
    ).collect()[0]["b"]
    files_after = _bucket_files(store)
    untouched_before = {p: m for p, m in files_before.items()
                        if not p.startswith(f"bucket={b3}/")}
    untouched_after = {p: m for p, m in files_after.items()
                       if not p.startswith(f"bucket={b3}/")}
    assert untouched_before == untouched_after  # bit-for-bit same files
    # and the touched bucket DID change
    assert {p for p in files_after if p.startswith(f"bucket={b3}/")} != \
           {p for p in files_before if p.startswith(f"bucket={b3}/")} or \
           any(files_after[p] != files_before.get(p)
               for p in files_after if p.startswith(f"bucket={b3}/"))

    # correctness after the partial merge: store == batch over the union
    inc = {
        r["channel"]: r["hll_est"]
        for r in shll.serve_estimates(spark, store).collect()
    }
    full = {
        r["channel"]: r["hll_est"]
        for r in sketches.hll_estimate(
            sketches.hll_registers(seed.unionByName(delta))
        ).collect()
    }
    assert inc == full


def test_legacy_flat_store_is_migrated_not_ignored(spark, tmp_path):
    """A register store written by the pre-bucketing flat layout must be
    converted into the bucketed layout on the first merge — not
    silently excluded from the estimate, and not left at a conflicting
    directory depth next to bucket= dirs."""
    store = str(tmp_path / "store")
    first = _messages(spark, 40, channels=("a", "b"))
    # simulate the old layout: registers as plain parquet at the root
    sketches.hll_registers(first, ["channel"]).write.mode(
        "overwrite"
    ).parquet(store)
    assert bucketstore._flat_files(store)

    second = _messages(spark, 70, channels=("a", "b"))
    shll.merge_registers(
        spark, store, sketches.hll_registers(second), ["channel"]
    )
    # flat files gone, only bucket= partitions remain
    assert not bucketstore._flat_files(store)
    assert all(
        e.startswith("bucket=")
        for e in os.listdir(store)
        if not e.startswith((".", "_"))
    )
    # the merged estimate covers BOTH batches exactly (stream == batch)
    got = {
        r["channel"]: r["hll_est"]
        for r in shll.serve_estimates(spark, store).collect()
    }
    both = first.unionByName(second)
    want = {
        r["channel"]: r["hll_est"]
        for r in sketches.hll_estimate(
            sketches.hll_registers(both, ["channel"]), ["channel"]
        ).collect()
    }
    assert got == want


def test_serve_reads_flat_store_and_merge_refuses_mixed_one(spark, tmp_path):
    """serve_estimates answers from a flat store before any merge has
    converted it. A store holding both root part files and bucket=
    dirs breaks the flat-or-bucketed rule (an older release's
    interrupted migration could leave one): the merge refuses it
    loudly instead of converting the flat half over the buckets."""
    import pytest

    store = str(tmp_path / "store")
    first = _messages(spark, 30, channels=("a",))
    sketches.hll_registers(first, ["channel"]).write.mode(
        "overwrite"
    ).parquet(store)
    flat_only = {r["channel"]: r["hll_est"]
                 for r in shll.serve_estimates(spark, store).collect()}
    assert set(flat_only) == {"a"}

    # mixed state: a bucket dir appears next to the flat files
    second = _messages(spark, 30, channels=("b",))
    shll.merge_registers(
        spark, str(tmp_path / "other"),
        sketches.hll_registers(second), ["channel"],
    )
    bdir = next(e for e in os.listdir(str(tmp_path / "other"))
                if e.startswith("bucket="))
    os.rename(os.path.join(str(tmp_path / "other"), bdir),
              os.path.join(store, bdir))
    with pytest.raises(RuntimeError, match="flat or bucketed"):
        shll.merge_registers(
            spark, store, sketches.hll_registers(second), ["channel"]
        )
    # nothing was rewritten: both halves are still on disk
    assert bucketstore._flat_files(store)
    assert os.path.isdir(os.path.join(store, bdir))


def test_torn_bucket_swap_is_recovered(spark, tmp_path):
    """Crash between rename(live -> backup) and rename(tmp -> live):
    the stranded backup must be restored before the next merge or
    serve, so no bucket's history is lost."""
    store = str(tmp_path / "store")
    msgs = _messages(spark, 50, channels=("a", "b", "c"))
    shll.merge_registers(
        spark, store, sketches.hll_registers(msgs), ["channel"],
        num_buckets=4,
    )
    whole = sorted(map(tuple, spark.read.parquet(store).collect()))
    est = {r["channel"]: r["hll_est"]
           for r in shll.serve_estimates(spark, store).collect()}

    # tear one bucket: live dir renamed away to a .old- backup (exactly
    # the state after the first rename of a swap that never finished)
    bdir = next(e for e in os.listdir(store) if e.startswith("bucket="))
    b = bdir.split("=", 1)[1]
    os.rename(os.path.join(store, bdir), f"{store}.old-deadbeef-b{b}")
    assert not os.path.isdir(os.path.join(store, bdir))

    # serve recovers and answers identically
    got = {r["channel"]: r["hll_est"]
           for r in shll.serve_estimates(spark, store).collect()}
    assert got == est
    assert os.path.isdir(os.path.join(store, bdir))
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == whole

    # a stale backup whose live dir EXISTS is discarded, not restored
    os.makedirs(f"{store}.old-cafebabe-b{b}")
    bucketstore.recover(store)
    assert not os.path.isdir(f"{store}.old-cafebabe-b{b}")
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == whole

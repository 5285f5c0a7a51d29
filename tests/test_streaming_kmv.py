"""Streaming KMV store: stream == batch bit-for-bit across batchings,
replay no-op by algebra, bounded state, live overlap serving."""

from __future__ import annotations

import pyspark.sql.functions as F

from twitch_chat_analyser_spark.operators import sketches
from twitch_chat_analyser_spark.streaming import kmv

SCHEMA = "ts timestamp, channel string, username string, message string"


def _msgs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_equals_full_and_replay_noop(spark, tmp_path):
    path = str(tmp_path / "kmv_store")
    b1 = _msgs(spark, [(None, "a", f"u{i}", "m") for i in range(120)])
    b2 = _msgs(
        spark,
        [(None, "a", f"u{i}", "m") for i in range(60, 180)]
        + [(None, "b", f"u{i}", "m") for i in range(50)],
    )
    kmv.merge_kmv(spark, path, b1, k=64)
    kmv.merge_kmv(spark, path, b2, k=64)
    got = _sorted_rows(spark.read.parquet(path).drop("bucket"))
    full = sketches.kmv_kmin(b1.unionByName(b2), k=64)
    assert got == _sorted_rows(full)
    # replaying batch 2 changes NOTHING — min-merge on distinct values
    # is idempotent, no journal required
    kmv.merge_kmv(spark, path, b2, k=64)
    assert _sorted_rows(spark.read.parquet(path).drop("bucket")) == got
    # bounded state: <= k rows per channel
    per = (
        spark.read.parquet(path).drop("bucket")
        .groupBy("channel")
        .count()
        .collect()
    )
    assert all(r["count"] <= 64 for r in per)


def test_stream_pipeline_estimates_and_overlap_match_batch(spark, tmp_path):
    rows1 = [(None, "a", f"u{i}", "m") for i in range(300)]
    rows2 = [(None, "b", f"u{i}", "m") for i in range(150, 450)]
    src = str(tmp_path / "src")
    _msgs(spark, rows1).coalesce(1).write.mode("append").parquet(src)
    _msgs(spark, rows2).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "store")
    q = kmv.start_kmv_pipeline(
        spark, stream, out, str(tmp_path / "ckpt"), k=64
    )
    q.awaitTermination(120)

    full = _msgs(spark, rows1 + rows2)
    # overlap estimates off the maintained store == the batch operator
    got = _sorted_rows(kmv.serve_overlap(spark, out, k=64))
    want = _sorted_rows(sketches.kmv_overlap(full, k=64))
    assert got == want
    # per-channel estimates present for both channels
    ests = {r["channel"]: r["est_milli"]
            for r in kmv.serve_estimates(spark, out, k=64).collect()}
    assert set(ests) == {"a", "b"}
    # within KMV error at k=64 (est_milli is the estimate x1000)
    assert abs(ests["a"] / 1000 - 300) / 300 < 0.5


def test_torn_swap_recovery_restores_history(spark, tmp_path):
    import os

    path = str(tmp_path / "store")
    b1 = _msgs(spark, [(None, "a", f"u{i}", "m") for i in range(100)])
    kmv.merge_kmv(spark, path, b1, k=64)
    before = _sorted_rows(spark.read.parquet(path).drop("bucket"))
    # simulate a crash between the two swap renames: live dir gone,
    # backup stranded
    os.rename(path, path + ".old-deadbeef")
    # any subsequent read or merge must restore the stranded history
    got = _sorted_rows(kmv.serve_estimates(spark, path, k=64))
    assert len(got) == 1
    assert _sorted_rows(spark.read.parquet(path).drop("bucket")) == before


def test_kmv_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The point of the review-r9 port onto bucketstore: a batch
    touching one channel rewrites only that channel's bucket — the old
    flat layout rewrote the WHOLE store every trigger."""
    from test_bucketstore import _bucket_files

    path = str(tmp_path / "store")
    chans = [f"c{i}" for i in range(8)]
    b1 = _msgs(
        spark,
        [(None, ch, f"u{i}", "m") for ch in chans for i in range(20)],
    )
    kmv.merge_kmv(spark, path, b1, k=16, num_buckets=8)
    before = _bucket_files(path)
    assert len(before) >= 3  # channels spread across several buckets

    b2 = _msgs(spark, [(None, "c0", f"v{i}", "m") for i in range(30)])
    kmv.merge_kmv(spark, path, b2, k=16, num_buckets=8)
    after = _bucket_files(path)
    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) == 1  # exactly c0's bucket rewritten
    # and the result still equals the from-scratch batch sketch
    got = _sorted_rows(spark.read.parquet(path).drop("bucket"))
    want = _sorted_rows(sketches.kmv_kmin(b1.unionByName(b2), k=16))
    assert got == want


def test_kmv_legacy_flat_store_is_migrated(spark, tmp_path):
    """A store written by the old flat layout converts into buckets on
    the first merge, with estimates exact before and after."""
    import os

    from twitch_chat_analyser_spark.streaming import bucketstore

    path = str(tmp_path / "store")
    b1 = _msgs(spark, [(None, "a", f"u{i}", "m") for i in range(100)])
    # pre-bucketing layout: flat, no journal (idempotent algebra)
    bucketstore.write_store(path, sketches.kmv_kmin(b1, k=64))
    assert bucketstore._flat_files(path)
    # serve answers from the flat store before any merge
    assert {r["channel"] for r in
            kmv.serve_estimates(spark, path, k=64).collect()} == {"a"}

    b2 = _msgs(spark, [(None, "b", f"u{i}", "m") for i in range(80)])
    kmv.merge_kmv(spark, path, b2, k=64)
    assert not bucketstore._flat_files(path)
    assert all(
        e.startswith("bucket=")
        for e in os.listdir(path)
        if not e.startswith((".", "_"))
    )
    got = _sorted_rows(spark.read.parquet(path).drop("bucket"))
    want = _sorted_rows(sketches.kmv_kmin(b1.unionByName(b2), k=64))
    assert got == want

"""Golden tests for the hierarchical rollup cascade: bucket-boundary
math (a fine window-end exactly on a coarse boundary belongs to that
coarse window) and sum preservation across levels."""

from __future__ import annotations

from pyspark.sql import functions as F

from twitch_chat_analyser_spark.operators import rollups

H = rollups.HOUR_MS


def test_boundary_window_end_belongs_to_that_hour(spark):
    # 15-min fact rows (channel, window-end ts, messages): ends at
    # 00:15, 01:00 (exact boundary), 01:15
    fact = spark.createDataFrame(
        [("a", 900_000, 5), ("a", 3_600_000, 7), ("a", 3_900_000, 2)],
        "channel string, timestamp long, messages long",
    )
    out = {
        r["timestamp"]: r["messages"]
        for r in rollups.rollup(fact, ["channel"], "messages", H).collect()
    }
    # 00:15 and 01:00 both roll into the hour ending 01:00; 01:15 into
    # the hour ending 02:00
    assert out == {3_600_000: 12, 7_200_000: 2}


def test_hierarchy_levels_preserve_totals(spark):
    fact = spark.createDataFrame(
        [("a", 900_000, 5), ("a", 3_600_000, 7), ("b", 90_000_000, 3)],
        "channel string, timestamp long, messages long",
    )
    hier = rollups.rollup_hierarchy(fact, ["channel"], "messages")
    sums = {
        r["resolution"]: r["total"]
        for r in hier.groupBy("resolution")
        .agg(F.sum("messages").alias("total"))
        .collect()
    }
    assert sums == {"15m": 15, "1h": 15, "1d": 15}


def test_streaming_rollup_cascade_matches_batch(spark, tmp_path):
    # Two micro-batches (the second contains a LATE event) through the
    # continuous-aggregate pipeline must equal batch rollups of the full
    # data at every resolution.
    from pyspark.sql import functions as F

    from twitch_chat_analyser_spark.operators import aggregations as agg
    from twitch_chat_analyser_spark.streaming import pipeline as sp

    from test_streaming import BATCH_1, BATCH_2, _mk_messages, _sorted_rows

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def run():
        q = rollups.start_rollup_pipeline(
            spark,
            sp.read_message_stream(spark, src, max_files_per_trigger=1),
            agg.channel_stats,
            ["channel"],
            "messages",
            out,
            ckpt,
        )
        q.awaitTermination()

    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    run()
    _mk_messages(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    run()

    all_msgs = _mk_messages(spark, BATCH_1 + BATCH_2).withColumn(
        "timestamp", F.unix_millis("ts")
    )
    base = agg.channel_stats(all_msgs)
    expected = {
        "channel_stats": base,
        "channel_stats_1h": rollups.rollup(base, ["channel"], "messages", H),
        "channel_stats_1d": rollups.rollup(
            rollups.rollup(base, ["channel"], "messages", H),
            ["channel"], "messages", rollups.DAY_MS,
        ),
    }
    import os

    from twitch_chat_analyser_spark.streaming import pipeline as sp

    for name, exp in expected.items():
        got = sp.read_table(spark, os.path.join(out, name))
        assert _sorted_rows(got) == _sorted_rows(exp), name


def test_rollup_journals_reject_a_fresh_checkpoint(spark, tmp_path):
    """A fresh checkpoint restarts batch ids at 0: pointed at existing
    rollup stores it must fail loudly, not watermark-drop every new
    batch as a replay — the journals record the checkpoint identity
    (ADVICE r11)."""
    import pytest

    from twitch_chat_analyser_spark.operators import aggregations as agg
    from twitch_chat_analyser_spark.streaming import pipeline as sp

    from test_streaming import BATCH_1, BATCH_2, _mk_messages

    src, out = str(tmp_path / "src"), str(tmp_path / "out")

    def run(ckpt):
        rollups.start_rollup_pipeline(
            spark, sp.read_message_stream(spark, src), agg.channel_stats,
            ["channel"], "messages", out, ckpt,
        ).awaitTermination()

    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    run(str(tmp_path / "ckpt1"))
    _mk_messages(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="refusing the watermark replay"):
        run(str(tmp_path / "ckpt2"))


def test_lsh_probe_is_subset_of_brute_force_candidates(spark):
    # Every LSH result must be a true neighbor (exists in the corpus,
    # not the query itself) and, when the bucket holds the whole true
    # top-k, match brute force. Build a corpus with two well-separated
    # clusters: bucketing must never mix them.
    from twitch_chat_analyser_spark.operators import similarity

    rows = []
    for i in range(8):  # planes/queries: axis-ish vectors, cluster A
        rows.append((i, [10.0 + i] * 4 + [0.1] * 4, 0))
    for i in range(8, 16):  # cluster B: opposite sign on the lead dims
        rows.append((i, [-(10.0 + i)] * 4 + [0.1] * 4, 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.lsh_topk(emb, [0, 8], num_planes=4, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # same-cluster vectors share the sign signature; opposite cluster
    # can never appear in the probe bucket
    assert all(n < 8 for n in by_q[0])
    assert all(n >= 8 for n in by_q[8])
    assert len(by_q[0]) == 3 and len(by_q[8]) == 3


def test_fill_gaps_zero_fills_missing_buckets(spark):
    fact = spark.createDataFrame(
        [("a", 900_000, 5), ("a", 2_700_000, 7)],  # missing 1_800_000
        "channel string, timestamp long, messages long",
    )
    out = {
        r["timestamp"]: r["messages"]
        for r in rollups.fill_gaps(fact, ["channel"], "messages").collect()
    }
    assert out == {900_000: 5, 1_800_000: 0, 2_700_000: 7}

"""Additive-delta exactly-once: per-batch deltas + sentinel timestamp=0
totals accumulated in the SINK, zero Spark streaming state, and a
batch-id journal that turns a replayed batch into a no-op."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from twitch_chat_analyser_spark.operators import aggregations as agg
from twitch_chat_analyser_spark.streaming import pipeline as sp

from test_streaming import BATCH_1, _mk_messages, _sorted_rows, _table


@pytest.fixture()
def dirs(tmp_path):
    return (str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt"))


def test_delta_replay_is_exactly_once(spark, dirs):
    src, out, ckpt = dirs
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt, max_files_per_trigger=1)
    expected = _sorted_rows(_table(spark, out, "channel_stats"))

    # restart from the same checkpoint with no new data: nothing re-adds
    sp.run_all(spark, src, out, ckpt, max_files_per_trigger=1)
    assert _sorted_rows(_table(spark, out, "channel_stats")) == expected

    # simulate a sink-side replay of an already-applied batch id: the
    # journal makes the additive merge a no-op
    msgs = _mk_messages(spark, BATCH_1).withColumn(
        "timestamp", F.unix_millis("ts")
    )
    stats = agg.channel_stats(msgs)
    deltas = stats.unionByName(agg.totals(stats, ["channel"], "messages"))
    target = os.path.join(out, "channel_stats")
    applied = sorted(sp._applied_batches(target))
    sp.additive_merge(
        spark, target, deltas, ["channel", "timestamp"], "messages", applied[0]
    )
    assert _sorted_rows(_table(spark, out, "channel_stats")) == expected

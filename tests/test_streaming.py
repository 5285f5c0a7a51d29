"""Shared streaming fixtures: two small message batches (the second
carrying a late event), a message-DataFrame builder, and store
readers. The write path itself is tested in
test_streaming_single_pass.py, test_streaming_delta.py and
test_jdbc_sqlite.py."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import types as T

from twitch_chat_analyser_spark.streaming import pipeline as sp

EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc)


def _mk_messages(spark, rows):
    return spark.createDataFrame(
        [
            (EPOCH + dt.timedelta(milliseconds=ms), ch, u, m)
            for ms, ch, u, m in rows
        ],
        sp.MESSAGE_SCHEMA,
    )


def _msgs(spark, rows):
    """Messages whose offset may be None: a message without a time,
    which the file source admits (it reads every column nullable)."""
    return spark.createDataFrame(
        [
            (None if ms is None else EPOCH + dt.timedelta(milliseconds=ms),
             ch, u, m)
            for ms, ch, u, m in rows
        ],
        T.StructType([
            T.StructField(f.name, f.dataType, True)
            for f in sp.MESSAGE_SCHEMA
        ]),
    )


BATCH_1 = [
    (0, "click", "u1", "spark join"),
    (10_000, "click", "u2", "fast merge"),
    (950_000, "view", "u1", "spark spark"),
]
BATCH_2 = [
    (1_900_000, "click", "u1", "merge"),
    (5, "view", "u3", "late event lands in first bucket"),  # late data
]


def _table(spark, out_dir, name):
    # reads flat and bucketed (day-partitioned) store layouts alike;
    # the physical bucket column is dropped
    return sp.read_table(spark, os.path.join(out_dir, name))


def _sorted_rows(df):
    # NULLs sort last; rows without them keep their natural order
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )

"""The matched-message side output as a day-bucketed append log
(bucketstore.append_into): each trigger's rows land once per
(checkpoint, batch id), a day bucket that reached
``bucketstore.APPEND_MAX_FILES`` part files is folded by the writer itself, and a
crash at either publish rename replays to exact rows."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from twitch_chat_analyser_spark import dims
from twitch_chat_analyser_spark.operators import aggregations as agg
from twitch_chat_analyser_spark.streaming import bucketstore
from twitch_chat_analyser_spark.streaming import pipeline as sp

from test_streaming import BATCH_1, BATCH_2, _mk_messages, _msgs, _sorted_rows
from test_streaming_single_pass import _actual_tables, _expected_tables


def _dirs(tmp_path):
    return (str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt"))


def _feed(spark, rows, src, out, ckpt):
    _mk_messages(spark, rows).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)


def _matched_rows(spark, out):
    return _sorted_rows(sp.read_matched_messages(spark, out))


def _buckets(out):
    """{bucket dir: (part files, journal)} of the side-output store."""
    root = os.path.join(out, sp.MATCHED_DIRNAME)
    got = {}
    for e in sorted(os.listdir(root)):
        d = os.path.join(root, e)
        with open(os.path.join(d, "_applied_batches.json")) as fh:
            journal = json.load(fh)
        files = bucketstore._flat_files(d)
        got[e] = (sorted(os.path.basename(f) for f in files), journal)
    return got


def test_fold_at_max_files_keeps_rows_and_carries_the_journal(
    spark, tmp_path, monkeypatch
):
    """Every trigger adds one part file to the day (one input file, one
    task); the append that finds APPEND_MAX_FILES of them rewrites the
    day into one file set beside its own new file, with every row and
    the journal carried over."""
    monkeypatch.setattr(bucketstore, "APPEND_MAX_FILES", 3)
    src, out, ckpt = _dirs(tmp_path)
    counts = []
    for rows in (BATCH_1, BATCH_2, BATCH_1, BATCH_2):
        _feed(spark, rows, src, out, ckpt)
        (files, journal), = _buckets(out).values()
        counts.append(len(files))
    # 1, 2, 3 linked-plus-new files, then the fold: the three old files
    # become one, next to the batch's new one
    assert counts == [1, 2, 3, 2]
    assert _matched_rows(spark, out) == _expected_tables(
        spark, BATCH_1 + BATCH_2 + BATCH_1 + BATCH_2
    )["messages_matching_phrase"]
    with open(os.path.join(ckpt, "single_pass", "metadata")) as fh:
        qid = json.load(fh)["id"]
    assert journal == {"stream": qid, "ids": [2, 3]}


def test_null_time_bucket_is_folded_too(spark, tmp_path, monkeypatch):
    """Matched messages without a timestamp land in the NULL_BUCKET
    dir, which no event day names; the writer folds it at
    APPEND_MAX_FILES like any day, so its file count stays bounded."""
    monkeypatch.setattr(bucketstore, "APPEND_MAX_FILES", 3)
    src, out, ckpt = _dirs(tmp_path)
    null_dir = f"bucket={bucketstore.NULL_BUCKET}"
    fed, counts = [], []
    for ms in (0, 10_000, 20_000, 30_000):
        rows = [(None, "click", "u1", "fast merge"),
                (ms, "view", "u2", "fast lane")]
        fed += rows
        _msgs(spark, rows).coalesce(1).write.mode("append").parquet(src)
        sp.run_all(spark, src, out, ckpt)
        counts.append(len(_buckets(out)[null_dir][0]))
    assert counts == [1, 2, 3, 2]
    want = agg.messages_matching_phrase(_msgs(spark, fed), dims.phrases_df(spark))
    got = sp.read_matched_messages(spark, out)
    assert Counter(got.collect()) == Counter(want.collect())
    assert got.filter("message_time IS NULL").count() == 8


def test_batch_without_times_against_bucketed_stores(
    spark, tmp_path, monkeypatch
):
    """A micro-batch whose messages all lack a time has no event days.
    Against day-bucketed fact stores it adds nothing to them, and its
    matched rows land in the side output's NULL_BUCKET dir."""
    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    src, out, ckpt = _dirs(tmp_path)
    _feed(spark, BATCH_1, src, out, ckpt)
    tables = ["channel_stats", "user_stats", "emote_stats",
              "user_emote_stats", "phrase_stats"]
    assert all(bucketstore._is_bucketed(os.path.join(out, t)) for t in tables)
    before = {t: _sorted_rows(sp.read_table(spark, os.path.join(out, t)))
              for t in tables}
    _msgs(spark, [(None, "click", "u1", "fast merge")]).coalesce(1).write.mode(
        "append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    assert {t: _sorted_rows(sp.read_table(spark, os.path.join(out, t)))
            for t in tables} == before
    assert f"bucket={bucketstore.NULL_BUCKET}" in _buckets(out)
    got = sp.read_matched_messages(spark, out)
    assert got.filter("message_time IS NULL").count() == 2


def test_replay_after_a_fold_is_a_no_op(spark, tmp_path, monkeypatch):
    """A batch whose append folded the day re-runs after a crash before
    its checkpoint commit: the folded dir's journal already holds the
    batch, so every table and the side output stay exactly as they
    were, part files included."""
    monkeypatch.setattr(bucketstore, "APPEND_MAX_FILES", 2)
    src, out, ckpt = _dirs(tmp_path)
    for rows in (BATCH_1, BATCH_2, BATCH_1):
        _feed(spark, rows, src, out, ckpt)
    want = _expected_tables(spark, BATCH_1 + BATCH_2 + BATCH_1)
    assert _actual_tables(spark, out) == want
    before = _buckets(out)
    (files, journal), = before.values()
    assert journal["ids"] == [1, 2] and len(files) == 2  # batch 2 folded

    # forget batch 2's commit: the restart re-runs it from its offsets
    commits = os.path.join(ckpt, "single_pass", "commits")
    for f in ("2", ".2.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    sp.run_all(spark, src, out, ckpt)
    assert os.path.exists(os.path.join(commits, "2"))  # it really re-ran
    assert _actual_tables(spark, out) == want
    assert _buckets(out) == before


@pytest.mark.parametrize("crash_at", [1, 2])
def test_crash_at_each_publish_rename_replays_to_exact_rows(
    spark, tmp_path, monkeypatch, crash_at
):
    """A crash at the publish's first rename (live -> backup) or its
    second (tmp -> live) fails the batch before its checkpoint commit.
    Reads in between see the previous rows only — a stranded backup is
    restored — and the restart replays the batch to exact rows."""
    src, out, ckpt = _dirs(tmp_path)
    _feed(spark, BATCH_1, src, out, ckpt)
    store = os.path.join(out, sp.MATCHED_DIRNAME)
    real_rename = os.rename
    calls = []

    def crashing_rename(a, b):
        if store in str(a) or store in str(b):
            calls.append((a, b))
            if len(calls) == crash_at:
                raise OSError("injected crash at publish")
        return real_rename(a, b)

    monkeypatch.setattr(bucketstore.os, "rename", crashing_rename)
    with pytest.raises(Exception):
        _feed(spark, BATCH_2, src, out, ckpt)
    monkeypatch.setattr(bucketstore.os, "rename", real_rename)
    backups = [e for e in os.listdir(out) if ".old-" in e]
    # the second rename's crash strands the live day in its backup
    assert len(calls) >= crash_at and len(backups) == crash_at - 1

    assert _matched_rows(spark, out) == _expected_tables(spark, BATCH_1)[
        "messages_matching_phrase"
    ]
    sp.run_all(spark, src, out, ckpt)
    assert _actual_tables(spark, out) == _expected_tables(
        spark, BATCH_1 + BATCH_2
    )
    # no stranded backup or tmp dir beside the store
    beside = [e for e in os.listdir(out) if e.startswith(sp.MATCHED_DIRNAME)]
    assert beside == [sp.MATCHED_DIRNAME]


def test_fresh_checkpoint_writing_only_a_new_day_is_refused(spark, tmp_path):
    """A fresh checkpoint whose batch touches no existing day is still
    refused: the newest live day's journal is probed too."""
    store = str(tmp_path / "log")

    def rows(day):
        return spark.createDataFrame([(day, "m")], "bucket int, text string")

    bucketstore.append_into(spark, store, rows(1), 0, "a", [1])
    with pytest.raises(RuntimeError, match="checkpoint"):
        bucketstore.append_into(spark, store, rows(2), 0, "b", [2])
    assert os.listdir(store) == ["bucket=1"]


def test_batch_dir_layout_is_refused_before_any_write(spark, tmp_path):
    """A side-output root still holding ``batch=<id>`` dirs of the
    retired layout: appending day buckets beside them would make reads
    drop their rows, so run_all and the reader refuse, naming them."""
    src, out, ckpt = _dirs(tmp_path)
    old = os.path.join(out, sp.MATCHED_DIRNAME, "batch=0")
    _mk_messages(spark, BATCH_1).write.parquet(old)
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(RuntimeError, match=r"batch=0"):
        sp.run_all(spark, src, out, ckpt)
    with pytest.raises(RuntimeError, match=r"batch=0"):
        sp.read_matched_messages(spark, out)
    assert os.listdir(out) == [sp.MATCHED_DIRNAME]
    assert os.listdir(os.path.join(out, sp.MATCHED_DIRNAME)) == ["batch=0"]


def test_empty_and_missing_states(spark, tmp_path):
    out = str(tmp_path / "out")
    # nothing written at all
    assert sp.read_matched_messages(spark, out).count() == 0
    # a day bucket holding only a journal has no rows to read
    day = os.path.join(out, sp.MATCHED_DIRNAME, "bucket=19723")
    os.makedirs(day)
    with open(os.path.join(day, "_applied_batches.json"), "w") as fh:
        json.dump([0], fh)
    got = sp.read_matched_messages(spark, out)
    assert got.count() == 0
    assert got.columns == [
        "message_time", "message_channel", "message_user", "message_text",
        "matched_phrase",
    ]

"""Side-output compaction (pipeline.compact_matched_messages): the
exactly-once ``batch=<id>`` append log folds into one consolidated
directory without losing rows, double-counting, or breaking replay —
the unbounded-directory-growth fix for long-running jobs (~17k
dirs/day at a 5 s trigger)."""

from __future__ import annotations

import os
import shutil

from twitch_chat_analyser_spark.streaming import pipeline as sp

from test_streaming import BATCH_1, BATCH_2, _mk_messages, _sorted_rows
from test_streaming_single_pass import _expected_tables


def _dirs(tmp_path):
    return (str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt"))


def _matched_rows(spark, out):
    return _sorted_rows(sp.read_matched_messages(spark, out))


def _batch_dirs(out):
    root = os.path.join(out, sp.MATCHED_DIRNAME)
    return sorted(e for e in os.listdir(root) if e.startswith("batch="))


def test_compaction_preserves_rows_and_bounds_directories(spark, tmp_path):
    src, out, ckpt = _dirs(tmp_path)
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    _mk_messages(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    want = _expected_tables(spark, BATCH_1 + BATCH_2)[
        "messages_matching_phrase"
    ]
    assert _matched_rows(spark, out) == want
    assert _batch_dirs(out) == ["batch=0", "batch=1"]

    folded = sp.compact_matched_messages(spark, out, keep_last=1)
    assert folded == 1  # batch 0 folded; newest kept for replay
    # deferred gc (ADVICE r9): the folded original stays on disk until
    # the NEXT cycle — excluded by marker, so reads are already exact
    assert _batch_dirs(out) == ["batch=-1", "batch=0", "batch=1"]
    assert _matched_rows(spark, out) == want

    # idempotent: nothing newly eligible; this cycle's gc collects the
    # deferred dir
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 0
    assert _batch_dirs(out) == ["batch=-1", "batch=1"]
    assert _matched_rows(spark, out) == want

    # a post-compaction trigger appends normally and folds next cycle
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    want2 = _expected_tables(spark, BATCH_1 + BATCH_2 + BATCH_1)[
        "messages_matching_phrase"
    ]
    assert _matched_rows(spark, out) == want2
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 1
    # segments are immutable: the second fold writes a NEW segment
    # (batch=-2) instead of rewriting batch=-1; batch=1 is deferred
    assert _batch_dirs(out) == ["batch=-1", "batch=-2", "batch=1", "batch=2"]
    assert _matched_rows(spark, out) == want2
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 0
    assert _batch_dirs(out) == ["batch=-1", "batch=-2", "batch=2"]
    assert _matched_rows(spark, out) == want2


def test_folded_originals_deferred_and_reader_grace(spark, tmp_path):
    """Deferred gc (ADVICE r9): a fold leaves the original batch dir on
    disk — excluded by marker, gc'd next cycle — so a serving read that
    LISTED the store just before the fold can still execute its lazy
    plan afterwards instead of failing mid-action with FileNotFound."""
    src, out, ckpt = _dirs(tmp_path)
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    _mk_messages(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    want = _matched_rows(spark, out)

    # a concurrent reader: plan built (paths listed) BEFORE compaction
    pre_listed = sp.read_matched_messages(spark, out)
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 1
    # the folded original is still on disk (deferred), excluded by
    # marker from fresh reads, and the pre-listed plan still executes
    assert "batch=0" in _batch_dirs(out)
    assert _matched_rows(spark, out) == want  # marker excludes it
    assert _sorted_rows(pre_listed) == want  # no FileNotFound mid-action
    # next compaction gc's the deferred dir without re-folding it
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 0
    assert "batch=0" not in _batch_dirs(out)
    assert _matched_rows(spark, out) == want


def test_empty_and_missing_states(spark, tmp_path):
    out = str(tmp_path / "out")
    # nothing written at all
    assert sp.compact_matched_messages(spark, out) == 0
    assert sp.read_matched_messages(spark, out).count() == 0
    # an all-empty batch dir (zero part files) folds without error
    root = os.path.join(out, sp.MATCHED_DIRNAME)
    for i in range(3):
        os.makedirs(os.path.join(root, f"batch={i}"))
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 2
    assert sp.read_matched_messages(spark, out).count() == 0


def test_segment_merge_is_amortized_and_crash_safe(
    spark, tmp_path, monkeypatch
):
    """When too many immutable segments accumulate, a cycle folds the
    segments themselves into one — published like any segment by a
    single atomic rename, with the superseded segments excluded by
    marker (never rewritten in place, so there is no window where
    previously-folded history can be lost)."""
    monkeypatch.setattr(sp, "MATCHED_MAX_SEGMENTS", 2)
    src, out, ckpt = _dirs(tmp_path)

    def feed(rows):
        _mk_messages(spark, rows).coalesce(1).write.mode("append").parquet(src)
        sp.run_all(spark, src, out, ckpt)

    feed(BATCH_1)
    feed(BATCH_2)
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 1  # seg -1
    feed(BATCH_1)
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 1  # seg -2
    feed(BATCH_2)
    # two segments live >= max: this cycle folds batches AND segments
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 1
    want = _expected_tables(spark, BATCH_1 + BATCH_2 + BATCH_1 + BATCH_2)[
        "messages_matching_phrase"
    ]
    assert _matched_rows(spark, out) == want
    # one more cycle collects the deferred originals (ADVICE r9)
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 0
    assert _batch_dirs(out) == ["batch=-3", "batch=3"]
    assert _matched_rows(spark, out) == want

    # crash window of the merge: a superseded segment resurfaces ->
    # excluded by the superseding segment's marker, gc'd next cycle
    import json as _json

    root = os.path.join(out, sp.MATCHED_DIRNAME)
    seg3 = os.path.join(root, "batch=-3")
    shutil.copytree(seg3, os.path.join(root, "batch=-1"))
    # overwrite its marker with what seg -1 really folded
    with open(os.path.join(root, "batch=-1", "_folded.json"), "w") as fh:
        _json.dump({"max_batch": 0, "segments": []}, fh)
    assert _matched_rows(spark, out) == want  # still exact
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 0
    assert "batch=-1" not in _batch_dirs(out)  # gc'd
    assert _matched_rows(spark, out) == want


def test_undead_superseded_segment_stays_excluded(
    spark, tmp_path, monkeypatch
):
    """Durability edge from review: a superseded segment whose gc
    deletion silently failed is re-recorded in the next published
    segment, so its exclusion survives its superseder's removal."""
    src, out, ckpt = _dirs(tmp_path)
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    _mk_messages(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    want = _matched_rows(spark, out)
    # segment batch=-1 folds batch 0
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 1
    assert _matched_rows(spark, out) == want  # batch=0 excluded, once

    # two segment merges while batch=-1's deletion silently fails:
    # merge 1 supersedes -1 (marker on -2 excludes it); merge 2 then
    # REMOVES -2 — without the undead carry-forward, nothing on disk
    # would list -1 any more and batch 0's rows would double-count
    monkeypatch.setattr(sp, "MATCHED_MAX_SEGMENTS", 1)
    real_rmtree = shutil.rmtree

    def stubborn_rmtree(path, *a, **k):
        if path.endswith("batch=-1"):
            return None  # silently fails, like ignore_errors swallowing
        return real_rmtree(path, *a, **k)

    monkeypatch.setattr(sp.shutil, "rmtree", stubborn_rmtree)
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 1  # -2
    _mk_messages(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 1  # -3
    # one more cycle's gc (deferred deletion, ADVICE r9): removes -2
    # while -1's deletion keeps silently failing
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 0
    monkeypatch.setattr(sp.shutil, "rmtree", real_rmtree)
    dirs_now = _batch_dirs(out)
    assert "batch=-1" in dirs_now  # both deletions really failed
    assert "batch=-2" not in dirs_now  # its superseder was removed
    want2 = _expected_tables(
        spark, BATCH_1 + BATCH_2 + BATCH_1 + BATCH_2
    )["messages_matching_phrase"]
    assert _matched_rows(spark, out) == want2  # -1 still excluded
    # next cycle (rmtree healthy again) finally collects it
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 0
    assert "batch=-1" not in _batch_dirs(out)
    assert _matched_rows(spark, out) == want2


def test_crash_at_publish_rename_replays_clean(spark, tmp_path, monkeypatch):
    """Crash DURING the publish rename (before it happens): the tmp dir
    is orphaned, nothing was folded, reads stay exact, and the next
    cycle gc's the tmp and completes the fold."""
    import os as _os

    src, out, ckpt = _dirs(tmp_path)
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    _mk_messages(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    want = _matched_rows(spark, out)

    real_rename = _os.rename

    def crashing_rename(a, b):
        if "batch=-" in str(b):
            raise OSError("injected crash at publish")
        return real_rename(a, b)

    monkeypatch.setattr(sp.os, "rename", crashing_rename)
    import pytest as _pytest

    with _pytest.raises(OSError, match="injected"):
        sp.compact_matched_messages(spark, out, keep_last=1)
    monkeypatch.setattr(sp.os, "rename", real_rename)

    root = os.path.join(out, sp.MATCHED_DIRNAME)
    assert any(e.startswith(".tmp-") for e in os.listdir(root))
    assert _matched_rows(spark, out) == want  # nothing half-published
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 1
    assert not any(e.startswith(".tmp-") for e in os.listdir(root))
    # folded original deferred one cycle (ADVICE r9), then collected
    assert _batch_dirs(out) == ["batch=-1", "batch=0", "batch=1"]
    assert _matched_rows(spark, out) == want
    assert sp.compact_matched_messages(spark, out, keep_last=1) == 0
    assert _batch_dirs(out) == ["batch=-1", "batch=1"]
    assert _matched_rows(spark, out) == want

"""Bucketed streaming-store layout (bucketstore.py): per-trigger merge
touches ONLY the buckets present in the batch, per-bucket torn swaps
heal, and flat stores convert in one swap without losing history or
replay suppression."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from twitch_chat_analyser_spark.streaming import bucketstore, markov, ohlc

SCHEMA = (
    "event_id long, ts string, user_id long, event_type string, "
    "value double, props string"
)


def _events(spark, rows, id0=0):
    return spark.createDataFrame(
        [(id0 + i, ts, u, t, float(v), "{}") for i, (ts, u, t, v) in enumerate(rows)],
        SCHEMA,
    ).withColumn("ts", F.to_timestamp("ts"))


def _bucket_files(store):
    """{bucket dir -> sorted parquet part names} — identity of the
    physical files, to prove untouched buckets were not rewritten."""
    out = {}
    for e in os.listdir(store):
        if e.startswith("bucket="):
            d = os.path.join(store, e)
            out[e] = sorted(
                f for f in os.listdir(d) if not f.startswith(("_", "."))
            )
    return out


def test_ohlc_merge_rewrites_only_touched_buckets(spark, tmp_path):
    store = str(tmp_path / "candles")
    # seed: two events in DIFFERENT hour buckets (ts differ by a day),
    # small N so bucket collisions are possible but keys here separate
    b1 = _events(spark, [
        ("2024-01-01 10:05:00", 1, "view", 10.0),
        ("2024-01-02 10:05:00", 1, "view", 20.0),
    ])
    ohlc.ohlc_merge(spark, store, ohlc.ohlc_delta(b1), 0, num_buckets=8)
    before = _bucket_files(store)
    assert len(before) == 2  # the two candle keys hash apart at N=8

    # batch 2 touches only the 2024-01-02 candle
    b2 = _events(spark, [("2024-01-02 10:20:00", 1, "view", 5.0)], id0=100)
    ohlc.ohlc_merge(spark, store, ohlc.ohlc_delta(b2), 1, num_buckets=8)
    after = _bucket_files(store)
    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) == 1  # exactly one bucket rewritten
    # and the merge result is still the full-history candle set
    got = {
        (r["event_type"], r["bucket_ms"]): (r["low"], r["n_events"])
        for r in ohlc.serve_candles(spark, store).collect()
    }
    assert len(got) == 2
    assert (5.0, 2) in got.values()  # merged candle
    assert (10.0, 1) in got.values()  # untouched candle intact


def test_per_bucket_torn_swap_heals_on_serve(spark, tmp_path):
    store = str(tmp_path / "candles")
    b1 = _events(spark, [("2024-01-01 10:05:00", 1, "view", 10.0)])
    ohlc.ohlc_merge(spark, store, ohlc.ohlc_delta(b1), 0, num_buckets=4)
    (bdir,) = [e for e in os.listdir(store) if e.startswith("bucket=")]
    k = bdir.split("=")[1]
    before = sorted(map(tuple, ohlc.serve_candles(spark, store).collect()))
    # simulate a crash between the two renames of THAT bucket's swap
    os.rename(
        os.path.join(store, bdir), store + f".old-deadbeef-b{k}"
    )
    assert sorted(
        map(tuple, ohlc.serve_candles(spark, store).collect())
    ) == before
    # the restored per-bucket journal still suppresses the replay
    ohlc.ohlc_merge(spark, store, ohlc.ohlc_delta(b1), 0, num_buckets=4)
    assert sorted(
        map(tuple, ohlc.serve_candles(spark, store).collect())
    ) == before


def test_legacy_flat_store_migrates_with_replay_suppression(spark, tmp_path):
    store = str(tmp_path / "candles")
    b1 = _events(spark, [("2024-01-01 10:05:00", 1, "view", 10.0)])
    # write the PRE-bucketing layout: flat parquet + root journal
    bucketstore.write_store(store, ohlc.ohlc_delta(b1), [0])
    assert bucketstore._flat_files(store)

    b2 = _events(spark, [("2024-01-01 10:30:00", 1, "view", 4.0)], id0=100)
    ohlc.ohlc_merge(spark, store, ohlc.ohlc_delta(b2), 1, num_buckets=4)
    # flat files converted into buckets, root journal gone
    assert not bucketstore._flat_files(store)
    assert not os.path.isfile(os.path.join(store, "_applied_batches.json"))
    r = ohlc.serve_candles(spark, store).collect()[0]
    assert (r["open"], r["low"], r["n_events"]) == (10.0, 4.0, 2)
    # batch 0 from the ROOT journal is still suppressed post-conversion
    ohlc.ohlc_merge(spark, store, ohlc.ohlc_delta(b1), 0, num_buckets=4)
    r = ohlc.serve_candles(spark, store).collect()[0]
    assert r["n_events"] == 2


def test_additive_fact_store_day_partitions_leave_history_untouched(
    spark, tmp_path, monkeypatch
):
    from twitch_chat_analyser_spark.streaming import pipeline as sp

    # a threshold of 0 forces the partitioned layout — at the default
    # threshold a store this small stays flat
    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    store = str(tmp_path / "channel_stats")
    day = sp.DAY_MS

    def deltas(ts, ch, n):
        rows = [(ch, ts, n), (ch, 0, n)]  # window row + timestamp=0 total
        return spark.createDataFrame(
            rows, "channel string, timestamp long, messages long"
        )

    # day 1 history
    sp.additive_merge(
        spark, store, deltas(day + 1000, "a", 3),
        ["channel", "timestamp"], "messages", 0,
    )
    before = _bucket_files(store)
    assert set(before) == {"bucket=0", "bucket=1"}  # sentinel + day 1
    # a day-2 trigger touches {day 2, sentinel}; day 1 files untouched
    sp.additive_merge(
        spark, store, deltas(2 * day + 1000, "a", 4),
        ["channel", "timestamp"], "messages", 1,
    )
    after = _bucket_files(store)
    assert set(after) == {"bucket=0", "bucket=1", "bucket=2"}
    assert after["bucket=1"] == before["bucket=1"]  # history not rewritten
    assert after["bucket=0"] != before["bucket=0"]  # totals merged
    got = {
        (r["channel"], r["timestamp"]): r["messages"]
        for r in sp.read_table(spark, store).collect()
    }
    assert got[("a", 0)] == 7  # running total accumulated across days
    assert got[("a", day + 1000)] == 3 and got[("a", 2 * day + 1000)] == 4
    # replay of an applied batch id is a no-op on every partition
    sp.additive_merge(
        spark, store, deltas(2 * day + 1000, "a", 4),
        ["channel", "timestamp"], "messages", 1,
    )
    got2 = {
        (r["channel"], r["timestamp"]): r["messages"]
        for r in sp.read_table(spark, store).collect()
    }
    assert got2 == got


def test_additive_store_flat_under_threshold_migrates_over_it(
    spark, tmp_path, monkeypatch
):
    """Adaptive layout: a small store stays flat (whole-rewrite is one
    job — cheapest); crossing FLAT_STORE_MAX_BYTES converts it to day
    partitions WITH its replay journal, and accumulated values
    survive."""
    import os

    from twitch_chat_analyser_spark.streaming import pipeline as sp

    store = str(tmp_path / "channel_stats")
    day = sp.DAY_MS

    def deltas(ts, n):
        return spark.createDataFrame(
            [("a", ts, n), ("a", 0, n)],
            "channel string, timestamp long, messages long",
        )

    # under threshold: flat layout, root journal
    sp.additive_merge(
        spark, store, deltas(day + 1000, 3),
        ["channel", "timestamp"], "messages", 0,
    )
    assert not any(e.startswith("bucket=") for e in os.listdir(store))
    assert os.path.isfile(os.path.join(store, "_applied_batches.json"))
    # next merge "crosses" the threshold (forced with a threshold of 0)
    # -> one swap converts flat history + journal into day partitions
    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    sp.additive_merge(
        spark, store, deltas(2 * day + 1000, 4),
        ["channel", "timestamp"], "messages", 1,
    )
    assert any(e.startswith("bucket=") for e in os.listdir(store))
    assert not bucketstore._flat_files(store)
    got = {
        (r["channel"], r["timestamp"]): r["messages"]
        for r in sp.read_table(spark, store).collect()
    }
    assert got[("a", 0)] == 7
    # batch 0 from the converted ROOT journal is still suppressed
    sp.additive_merge(
        spark, store, deltas(day + 1000, 3),
        ["channel", "timestamp"], "messages", 0,
    )
    got2 = {
        (r["channel"], r["timestamp"]): r["messages"]
        for r in sp.read_table(spark, store).collect()
    }
    assert got2 == got


def test_markov_last_store_prunes_to_batch_user_buckets(spark, tmp_path):
    tdir, ldir = str(tmp_path / "trans"), str(tmp_path / "last")
    # users 1..8 -> several buckets at N=8
    rows = [("2024-01-01 10:00:0%d" % (i % 10), i, "view", 0.0)
            for i in range(1, 9)]
    markov.process_batch(spark, _events(spark, rows), tdir, ldir, 0)
    before = _bucket_files(ldir)
    assert len(before) >= 2
    # a batch touching ONE user rewrites only that user's bucket
    markov.process_batch(
        spark,
        _events(spark, [("2024-01-01 11:00:00", 1, "click", 0.0)], id0=50),
        tdir, ldir, 1,
    )
    after = _bucket_files(ldir)
    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) == 1
    # boundary pair view->click for user 1 was counted via the store
    got = {(r["src_type"], r["dst_type"]): r["transitions"]
           for r in markov.serve_transitions(spark, tdir).collect()}
    assert got[("view", "click")] == 1


def test_crash_at_every_rename_point_converges_after_replay(
    spark, tmp_path, monkeypatch
):
    """Systematic torn-swap matrix: inject a crash at EVERY os.rename
    call site inside a multi-bucket additive merge, then run recovery +
    replay, and require the final store to equal the uninterrupted
    result — for every injection point. This is the property the
    per-bucket journals + backup renames exist to guarantee."""
    import os as _os

    from twitch_chat_analyser_spark.streaming import bucketstore
    from twitch_chat_analyser_spark.streaming import pipeline as sp

    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    day = sp.DAY_MS

    def deltas(n):
        rows = [("a", day + 1000, n), ("a", 2 * day + 1000, n), ("a", 0, n)]
        return spark.createDataFrame(
            rows, "channel string, timestamp long, messages long"
        )

    def run(store, crash_after: int | None) -> None:
        """One batch-0 merge, optionally crashing after N renames."""
        real_rename = _os.rename
        calls = {"n": 0}

        def flaky_rename(src, dst):
            if crash_after is not None and calls["n"] >= crash_after:
                raise OSError("injected crash")
            calls["n"] += 1
            return real_rename(src, dst)

        monkeypatch.setattr(bucketstore.os, "rename", flaky_rename)
        try:
            sp.additive_merge(
                spark, store, deltas(5),
                ["channel", "timestamp"], "messages", 0,
            )
        except OSError:
            pass
        finally:
            monkeypatch.setattr(bucketstore.os, "rename", real_rename)

    # uninterrupted reference result
    ref_store = str(tmp_path / "ref")
    run(ref_store, crash_after=None)
    want = sorted(
        map(tuple, sp.read_table(spark, ref_store).collect())
    )
    assert want  # sanity: 3 rows

    # 3 buckets x (up to 2 renames each in the swap loop) => probe a
    # generous range of injection points; points past the last rename
    # just succeed
    for k in range(0, 7):
        store = str(tmp_path / f"s{k}")
        run(store, crash_after=k)
        # checkpoint replay: the same batch id runs again, uninjected
        sp.additive_merge(
            spark, store, deltas(5),
            ["channel", "timestamp"], "messages", 0,
        )
        got = sorted(map(tuple, sp.read_table(spark, store).collect()))
        assert got == want, f"crash point {k} diverged"


def test_crash_during_flat_migration_replays_without_double_count(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8 (high): crash injection at every rename point of a
    merge that STARTS from a flat store. The conversion is one
    whole-store swap, so a crash inside it leaves the old flat store
    (healed back by recover if the crash fell between its two renames)
    or the new bucketed one — serving reads see exactly the pre-batch
    rows there, and the replayed batch converges to the uninterrupted
    result without double-counting history or the batch."""
    import os as _os

    from twitch_chat_analyser_spark.streaming import bucketstore
    from twitch_chat_analyser_spark.streaming import pipeline as sp

    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    day = sp.DAY_MS

    def flat_seed(store):
        # pre-bucketing layout: flat parquet spanning TWO day buckets
        # plus the sentinel-day total row, with a root journal
        hist = spark.createDataFrame(
            [("a", day + 1000, 3), ("a", 2 * day + 1000, 4), ("a", 0, 7)],
            "channel string, timestamp long, messages long",
        )
        bucketstore.write_store(store, hist, [0])

    def deltas(n):
        return spark.createDataFrame(
            [("a", 3 * day + 1000, n), ("a", 0, n)],
            "channel string, timestamp long, messages long",
        )

    def run(store, crash_after: int | None) -> None:
        real_rename = _os.rename
        calls = {"n": 0}

        def flaky_rename(src, dst):
            if crash_after is not None and calls["n"] >= crash_after:
                raise OSError("injected crash")
            calls["n"] += 1
            return real_rename(src, dst)

        monkeypatch.setattr(bucketstore.os, "rename", flaky_rename)
        try:
            sp.additive_merge(
                spark, store, deltas(5),
                ["channel", "timestamp"], "messages", 1,
            )
        except OSError:
            pass
        finally:
            monkeypatch.setattr(bucketstore.os, "rename", real_rename)

    ref = str(tmp_path / "ref")
    flat_seed(ref)
    before = sorted(map(tuple, sp.read_table(spark, ref).collect()))
    run(ref, crash_after=None)
    want = sorted(map(tuple, sp.read_table(spark, ref).collect()))
    assert ("a", 0, 12) in want  # 7 converted + 5 delta, applied once

    # renames 0-1 are the conversion's whole-store swap; then bucket 0
    # (2 renames) and the new day-3 bucket (1 rename) publish. Points
    # past the last rename just succeed.
    for k in range(0, 7):
        store = str(tmp_path / f"s{k}")
        flat_seed(store)
        run(store, crash_after=k)
        if k <= 2:
            # crash inside (or right after) the conversion swap: no
            # bucket of the batch is published yet, and the serve read
            # is exact — no mixed flat/bucketed state to double-count
            got = sorted(map(tuple, sp.read_table(spark, store).collect()))
            assert got == before, f"serve at crash point {k}"
        # checkpoint replay of the same batch, uninjected
        sp.additive_merge(
            spark, store, deltas(5),
            ["channel", "timestamp"], "messages", 1,
        )
        got = sorted(map(tuple, sp.read_table(spark, store).collect()))
        assert got == want, f"crash point {k} diverged"
        # conversion committed: flat files + root journal gone
        assert not bucketstore._flat_files(store), f"point {k}"
        assert not os.path.isfile(
            os.path.join(store, "_applied_batches.json")
        ), f"point {k}"


def test_touched_hint_miss_falls_back_to_probe_not_data_loss(
    spark, tmp_path, capsys
):
    """ADVICE r8 (medium): a touched_hint that is NOT a superset of the
    delta's buckets must not silently drop the out-of-hint rows."""
    from twitch_chat_analyser_spark.streaming import bucketstore

    store = str(tmp_path / "s")
    delta = spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    )

    def merge_fn(old, d):
        if old is None:
            return d
        return (
            old.unionByName(d)
            .groupBy("k", "bucket")
            .agg(F.sum("v").alias("v"))
            .select("k", "v", "bucket")
        )

    bucketize = lambda df: df.withColumn(  # noqa: E731
        "bucket", (F.col("k") % 4).cast("int")
    )
    # hint covers ONLY bucket 1; key 2 lives in bucket 2
    bucketstore.merge_into(
        spark, store, delta, ["k"], merge_fn,
        num_buckets=4, batch_id=0, bucketize=bucketize, touched_hint=[1],
    )
    assert "missed" in capsys.readouterr().out
    got = {r["k"]: r["v"] for r in
           bucketstore.read_store(spark, store).collect()}
    assert got == {1: 10, 2: 20}  # nothing lost


def test_writer_swap_survives_concurrent_restore_only_heal(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8 (low): a restore-only reader healing the bucket's
    backup between the writer's two renames must not crash the query —
    the writer retakes the swap and the new data wins."""
    import os as _os

    from twitch_chat_analyser_spark.streaming import bucketstore, ohlc

    store = str(tmp_path / "candles")
    b1 = _events(spark, [("2024-01-01 10:05:00", 1, "view", 10.0)])
    ohlc.ohlc_merge(spark, store, ohlc.ohlc_delta(b1), 0, num_buckets=4)

    real_rename = _os.rename
    state = {"armed": True}

    def racing_rename(src, dst):
        real_rename(src, dst)
        # right after the writer parks live -> .old backup, a reader's
        # recover(restore_only=True) heals it back
        if state["armed"] and ".old-" in str(dst):
            state["armed"] = False
            bucketstore.recover(store, restore_only=True)

    monkeypatch.setattr(bucketstore.os, "rename", racing_rename)
    b2 = _events(spark, [("2024-01-01 10:30:00", 1, "view", 4.0)], id0=9)
    ohlc.ohlc_merge(spark, store, ohlc.ohlc_delta(b2), 1, num_buckets=4)
    monkeypatch.setattr(bucketstore.os, "rename", real_rename)

    r = ohlc.serve_candles(spark, store).collect()[0]
    assert (r["low"], r["n_events"]) == (4.0, 2)  # batch 2 landed once


def test_swap_bucket_double_rename_failure_fails_the_batch(
    tmp_path, monkeypatch
):
    """ADVICE r9 (medium): when the publish rename fails twice (lost
    the heal race again, or a persistent rename error), the bucket
    publish must RAISE — returning success would let Structured Streaming
    commit the batch and lose the bucket's delta forever. The raise
    fails the micro-batch so the checkpoint replays it."""
    import os as _os

    import pytest as _pytest

    store = str(tmp_path / "s")
    dst = os.path.join(store, "bucket=0")
    os.makedirs(dst)
    src = str(tmp_path / "tmp-src")
    os.makedirs(src)

    real_rename = _os.rename

    def flaky_rename(a, b):
        if b == dst:
            raise OSError("injected persistent publish failure")
        return real_rename(a, b)

    monkeypatch.setattr(bucketstore.os, "rename", flaky_rename)
    with _pytest.raises(bucketstore.SwapError):
        bucketstore._publish(store, src, 0)
    # and the error is an OSError so existing crash-injection replay
    # machinery (and foreachBatch) treats it as a batch failure
    assert issubclass(bucketstore.SwapError, OSError)


def test_flat_store_null_bucket_row_converts_to_sentinel(spark, tmp_path):
    """ADVICE r9 (low), through the one-swap conversion: a flat row the
    writer's bucketize cannot place (NULL bucket) converts into the
    reserved NULL_BUCKET — still served, not dropped by a NULL-blind
    filter — and its seeded journal still suppresses replays."""
    store = str(tmp_path / "s")
    bucketstore.write_store(
        store,
        spark.createDataFrame([(1, 10), (None, 99)], "k long, v long"),
        [0],
    )

    def merge_fn(old, d):
        if old is None:
            return d
        return (
            old.unionByName(d)
            .groupBy("k", "bucket")
            .agg(F.sum("v").alias("v"))
            .select("k", "v", "bucket")
        )

    bucketize = lambda df: df.withColumn(  # noqa: E731
        "bucket", (F.col("k") % 4).cast("int")
    )

    def merge(rows, batch_id):
        bucketstore.merge_into(
            spark, store, spark.createDataFrame(rows, "k long, v long"),
            ["k"], merge_fn, num_buckets=4, batch_id=batch_id,
            bucketize=bucketize,
        )

    def served():
        return {
            (r["k"], r["v"])
            for r in bucketstore.read_store(spark, store)
            .select("k", "v")
            .collect()
        }

    merge([], 1)  # an empty batch still converts the store
    assert not bucketstore._flat_files(store)
    assert os.path.isdir(
        os.path.join(store, f"bucket={bucketstore.NULL_BUCKET}")
    )
    assert served() == {(1, 10), (None, 99)}
    # batch 0 (root journal, now seeded into every bucket) replays as
    # a no-op on the sentinel bucket too
    merge([(None, 99)], 0)
    assert served() == {(1, 10), (None, 99)}


def test_merge_routes_null_buckets_to_sentinel(spark, tmp_path):
    """Review r9: a delta row whose custom bucketize yields NULL must
    not be silently dropped by the hint stray guard (~isin is
    NULL-blind) nor crash the no-hint distinct probe — it lands in the
    reserved NULL_BUCKET, journaled and serveable."""
    store = str(tmp_path / "s")
    delta = spark.createDataFrame(
        [(1, 10), (None, 99)], "k long, v long"
    )

    def merge_fn(old, d):
        if old is None:
            return d
        return (
            old.unionByName(d)
            .groupBy("k", "bucket")
            .agg(F.sum("v").alias("v"))
            .select("k", "v", "bucket")
        )

    bucketize = lambda df: df.withColumn(  # noqa: E731
        "bucket", (F.col("k") % 4).cast("int")
    )
    # hint path: the hint covers only bucket 1; the NULL row must
    # trigger the fallback and land in NULL_BUCKET
    bucketstore.merge_into(
        spark, store, delta, ["k"], merge_fn,
        num_buckets=4, batch_id=0, bucketize=bucketize, touched_hint=[1],
    )
    got = {
        (r["k"], r["v"])
        for r in bucketstore.read_store(spark, store).collect()
    }
    assert got == {(1, 10), (None, 99)}
    assert os.path.isdir(
        os.path.join(store, f"bucket={bucketstore.NULL_BUCKET}")
    )
    # replay suppression covers the sentinel bucket too
    bucketstore.merge_into(
        spark, store, delta, ["k"], merge_fn,
        num_buckets=4, batch_id=0, bucketize=bucketize,
    )
    got2 = {
        (r["k"], r["v"])
        for r in bucketstore.read_store(spark, store).collect()
    }
    assert got2 == got
    # no-hint probe path with a NULL row in a FRESH store (the sort
    # that used to raise TypeError on None)
    store2 = str(tmp_path / "s2")
    bucketstore.merge_into(
        spark, store2, delta, ["k"], merge_fn,
        num_buckets=4, batch_id=0, bucketize=bucketize,
    )
    assert bucketstore.read_store(spark, store2).count() == 2


def test_recover_restores_negative_bucket_backup(spark, tmp_path):
    """Review r9: a stranded backup of a NEGATIVE bucket id (pre-1970
    day bucket, NULL_BUCKET sentinel) must be restored, not
    misclassified as a whole-store backup and deleted."""
    store = str(tmp_path / "s")
    bdir = os.path.join(store, "bucket=-5")
    spark.createDataFrame([(1, 10)], "k long, v long").coalesce(
        1
    ).write.parquet(bdir)
    # strand it: live missing, backup present (crash between renames)
    os.rename(bdir, f"{store}.old-deadbeef-b-5")
    bucketstore.recover(store)  # FULL mode — the destructive one
    assert os.path.isdir(bdir)
    assert bucketstore.read_store(spark, store).count() == 1


def test_flat_swap_survives_concurrent_restore_only_heal(
    spark, tmp_path, monkeypatch
):
    """Review r9: the whole-store publish gets the same heal-race
    retake as a bucket publish — a reader restoring the backup between
    the writer's two renames must not kill the query, and the new data
    wins."""
    import os as _os

    path = str(tmp_path / "flat")
    bucketstore.write_store(
        path, spark.createDataFrame([(1, 1)], "k long, v long")
    )
    real_rename = _os.rename
    state = {"armed": True}

    def racing_rename(src, dst):
        real_rename(src, dst)
        if state["armed"] and ".old-" in str(dst):
            state["armed"] = False
            bucketstore.recover(path, restore_only=True)

    monkeypatch.setattr(bucketstore.os, "rename", racing_rename)
    bucketstore.write_store(
        path, spark.createDataFrame([(1, 2)], "k long, v long")
    )
    monkeypatch.setattr(bucketstore.os, "rename", real_rename)
    assert [(r["k"], r["v"]) for r in spark.read.parquet(path).collect()] == [
        (1, 2)
    ]


def test_replay_journal_is_pruned_to_a_watermark(
    spark, tmp_path, monkeypatch
):
    """Review r11: unpruned journals accrue every batch id ever applied
    — O(stream lifetime) json work per trigger on always-touched
    buckets (the sentinel day-0 bucket). The journal now keeps the top
    two ids (watermark semantics: ids are monotone, only id <= max can
    replay), a pre-existing full-history journal shrinks on its next
    write, and old-id replays stay silent no-ops."""
    import json as _json
    import os

    from twitch_chat_analyser_spark.streaming import pipeline as sp

    store = str(tmp_path / "channel_stats")
    day = sp.DAY_MS

    def deltas(ts, n):
        return spark.createDataFrame(
            [("a", ts, n), ("a", 0, n)],
            "channel string, timestamp long, messages long",
        )

    # bucketed store: sentinel bucket=0 is touched by every batch
    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    for b in range(5):
        sp.additive_merge(
            spark, store, deltas(day + 1000, 1),
            ["channel", "timestamp"], "messages", b,
        )
    j = os.path.join(store, "bucket=0", "_applied_batches.json")
    with open(j) as fh:
        ids = _json.load(fh)
    assert ids == [3, 4]  # top-2 watermark, not [0..4]
    # an old id (relocated-checkpoint shape) is a silent no-op
    before = sorted(map(tuple, sp.read_table(spark, store).collect()))
    sp.additive_merge(
        spark, store, deltas(day + 1000, 99),
        ["channel", "timestamp"], "messages", 1,
    )
    assert sorted(map(tuple, sp.read_table(spark, store).collect())) == before
    # a legacy full-history journal shrinks on its next write
    with open(j, "w") as fh:
        _json.dump(list(range(5)), fh)
    sp.additive_merge(
        spark, store, deltas(day + 1000, 1),
        ["channel", "timestamp"], "messages", 5,
    )
    with open(j) as fh:
        assert _json.load(fh) == [4, 5]

    # flat store: same pruning through the root journal
    monkeypatch.undo()
    flat = str(tmp_path / "flat_store")
    for b in range(4):
        sp.additive_merge(
            spark, flat, deltas(day + 1000, 1),
            ["channel", "timestamp"], "messages", b,
        )
    with open(os.path.join(flat, "_applied_batches.json")) as fh:
        assert _json.load(fh) == [2, 3]


def test_journal_records_stream_identity_and_rejects_a_foreign_one(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: the watermark replay test is only sound within ONE
    checkpoint's monotone batch-id sequence. A fresh checkpoint
    restarts ids at 0, so pointing it at an existing store would
    silently drop every new batch until the id passed the old max —
    the journal now records the checkpoint identity and a mismatch
    fails LOUDLY with a remediation hint."""
    import json as _json
    import os

    import pytest

    from twitch_chat_analyser_spark.streaming import pipeline as sp

    day = sp.DAY_MS

    def deltas(n):
        return spark.createDataFrame(
            [("a", day + 1000, n), ("a", 0, n)],
            "channel string, timestamp long, messages long",
        )

    # --- bucketed layout ---
    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    store = str(tmp_path / "bucketed")
    for b in range(3):
        sp.additive_merge(
            spark, store, deltas(1),
            ["channel", "timestamp"], "messages", b,
            stream_id="ckpt-A",
        )
    j = os.path.join(store, "bucket=0", "_applied_batches.json")
    with open(j) as fh:
        rec = _json.load(fh)
    assert rec == {"stream": "ckpt-A", "ids": [1, 2]}
    # same checkpoint: watermark replay stays a silent no-op
    before = sorted(map(tuple, sp.read_table(spark, store).collect()))
    sp.additive_merge(
        spark, store, deltas(99),
        ["channel", "timestamp"], "messages", 0,
        stream_id="ckpt-A",
    )
    assert (
        sorted(map(tuple, sp.read_table(spark, store).collect())) == before
    )
    # a DIFFERENT checkpoint (fresh ids restarting at 0) fails loudly
    with pytest.raises(RuntimeError, match="ckpt-A"):
        sp.additive_merge(
            spark, store, deltas(1),
            ["channel", "timestamp"], "messages", 0,
            stream_id="ckpt-B",
        )
    # the remediation from the message: delete the journals, then the
    # new stream's batches apply from scratch under the new identity
    for d in os.listdir(store):
        f = os.path.join(store, d, "_applied_batches.json")
        if os.path.isfile(f):
            os.remove(f)
    sp.additive_merge(
        spark, store, deltas(5),
        ["channel", "timestamp"], "messages", 0,
        stream_id="ckpt-B",
    )
    with open(j) as fh:
        assert _json.load(fh)["stream"] == "ckpt-B"

    # --- flat layout: same contract through the root journal ---
    monkeypatch.undo()
    flat = str(tmp_path / "flat")
    sp.additive_merge(
        spark, flat, deltas(1),
        ["channel", "timestamp"], "messages", 7, stream_id="ckpt-A",
    )
    with open(os.path.join(flat, "_applied_batches.json")) as fh:
        assert _json.load(fh) == {"stream": "ckpt-A", "ids": [7]}
    with pytest.raises(RuntimeError, match="ckpt-A"):
        sp.additive_merge(
            spark, flat, deltas(1),
            ["channel", "timestamp"], "messages", 0, stream_id="ckpt-B",
        )


def test_legacy_journal_adopts_the_current_stream_identity(
    spark, tmp_path, monkeypatch
):
    """A v1 list journal carries no identity: the first identity-
    carrying merge must keep the watermark behavior (no spurious
    error) and UPGRADE the journal to the v2 dict format."""
    import json as _json
    import os

    from twitch_chat_analyser_spark.streaming import pipeline as sp

    day = sp.DAY_MS

    def deltas(n):
        return spark.createDataFrame(
            [("a", day + 1000, n)],
            "channel string, timestamp long, messages long",
        )

    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    store = str(tmp_path / "s")
    # identity-less writer (legacy callers) produces the v1 list
    sp.additive_merge(
        spark, store, deltas(1),
        ["channel", "timestamp"], "messages", 0,
    )
    j = os.path.join(store, f"bucket={day // sp.DAY_MS}")
    j = os.path.join(j, "_applied_batches.json")
    with open(j) as fh:
        assert isinstance(_json.load(fh), list)
    # identity-carrying merge: no error, format upgraded
    sp.additive_merge(
        spark, store, deltas(1),
        ["channel", "timestamp"], "messages", 1,
        stream_id="ckpt-X",
    )
    with open(j) as fh:
        rec = _json.load(fh)
    assert rec == {"stream": "ckpt-X", "ids": [0, 1]}
    # ...and the replay suppression still reads both formats
    before = sorted(
        map(tuple, sp.read_table(spark, store).collect())
    )
    sp.additive_merge(
        spark, store, deltas(50),
        ["channel", "timestamp"], "messages", 1,
        stream_id="ckpt-X",
    )
    assert (
        sorted(map(tuple, sp.read_table(spark, store).collect())) == before
    )


def test_stream_identity_reads_checkpoint_metadata(tmp_path):
    import json as _json
    import os

    from twitch_chat_analyser_spark.streaming import bucketstore

    ck = str(tmp_path / "ck")
    assert bucketstore.stream_identity(ck) is None  # not started yet
    os.makedirs(ck)
    with open(os.path.join(ck, "metadata"), "w") as fh:
        _json.dump({"id": "3fa9c1d2"}, fh)
    assert bucketstore.stream_identity(ck) == "3fa9c1d2"


def test_fsync_dir_reraises_real_io_errors(tmp_path, monkeypatch):
    """ADVICE r11: _fsync_dir existed to close a power-loss window; a
    swallowed EIO/ENOSPC re-opened it silently on a failing disk. Real
    I/O errors now propagate (the micro-batch fails and replays);
    not-supported errnos stay suppressed (platforms without dir
    fsync)."""
    import errno
    import os

    import pytest

    real_fsync = os.fsync

    def failing(errnum):
        def _f(fd):
            raise OSError(errnum, os.strerror(errnum))
        return _f

    # not-supported: silent no-op
    monkeypatch.setattr(os, "fsync", failing(errno.EINVAL))
    bucketstore._fsync_dir(str(tmp_path))
    monkeypatch.setattr(os, "fsync", failing(errno.ENOTSUP))
    bucketstore._fsync_dir(str(tmp_path))
    # genuine disk failure: must raise
    monkeypatch.setattr(os, "fsync", failing(errno.EIO))
    with pytest.raises(OSError):
        bucketstore._fsync_dir(str(tmp_path))
    monkeypatch.setattr(os, "fsync", failing(errno.ENOSPC))
    with pytest.raises(OSError):
        bucketstore._fsync_dir(str(tmp_path))
    monkeypatch.setattr(os, "fsync", real_fsync)
    bucketstore._fsync_dir(str(tmp_path))  # healthy path still works


def test_read_snapshot_survives_concurrent_swap_and_gc(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 task 3: the merge/compaction publish rename could
    yank files under a long concurrent reader (retry contract). A
    hardlink snapshot must keep serving the EXACT pre-merge rows while
    merges swap buckets and GC backups underneath, and clean itself up
    on exit."""
    import os

    from twitch_chat_analyser_spark.streaming import bucketstore
    from twitch_chat_analyser_spark.streaming import pipeline as sp

    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    store = str(tmp_path / "channel_stats")
    day = sp.DAY_MS

    def deltas(n):
        return spark.createDataFrame(
            [("a", day + 1000, n), ("a", 0, n)],
            "channel string, timestamp long, messages long",
        )

    for b in range(2):
        sp.additive_merge(
            spark, store, deltas(10),
            ["channel", "timestamp"], "messages", b,
        )

    with sp.read_table_snapshot(spark, store) as df:
        before = sorted(map(tuple, df.collect()))
        assert before  # the snapshot saw real rows
        snaps = bucketstore._snapshot_dirs(store)
        assert len(snaps) == 1
        # concurrent writer: three more merges — each swaps every
        # touched bucket (rename old->backup, publish, rmtree backup)
        for b in range(2, 5):
            sp.additive_merge(
                spark, store, deltas(10),
                ["channel", "timestamp"], "messages", b,
            )
        # live store moved on...
        live = sorted(map(tuple, sp.read_table(spark, store).collect()))
        assert live != before
        # ...but the held snapshot re-reads the SAME rows, no
        # FileNotFound, no torn mix of old and new buckets
        again = sorted(map(tuple, df.collect()))
        assert again == before
    # exit removed the snapshot
    assert bucketstore._snapshot_dirs(store) == []


def test_read_snapshot_link_race_retakes_then_falls_back(
    spark, tmp_path, monkeypatch
):
    """The link walk can race a swap (FileNotFoundError mid-walk): it
    must retake, and on unsupported filesystems (plain OSError) fall
    back to the live read instead of failing."""
    from twitch_chat_analyser_spark.streaming import bucketstore
    from twitch_chat_analyser_spark.streaming import pipeline as sp

    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    store = str(tmp_path / "s")
    day = sp.DAY_MS
    sp.additive_merge(
        spark,
        store,
        spark.createDataFrame(
            [("a", day + 1000, 3)],
            "channel string, timestamp long, messages long",
        ),
        ["channel", "timestamp"], "messages", 0,
    )

    real = bucketstore._link_tree
    calls = {"n": 0}

    def flaky(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            os.makedirs(dst, exist_ok=True)
            raise FileNotFoundError("raced a swap")
        return real(src, dst)

    monkeypatch.setattr(bucketstore, "_link_tree", flaky)
    with bucketstore.read_snapshot(spark, store) as df:
        assert df is not None and df.count() > 0
    assert calls["n"] == 2  # one race, one successful retake
    assert bucketstore._snapshot_dirs(store) == []

    def unsupported(src, dst):
        raise OSError("no hardlinks on this fs")

    monkeypatch.setattr(bucketstore, "_link_tree", unsupported)
    with bucketstore.read_snapshot(spark, store) as df:
        # fallback: live read (retry contract), still serves rows
        assert df is not None and df.count() > 0
    assert bucketstore._snapshot_dirs(store) == []


def test_leaked_snapshots_are_gcd_by_the_writer_after_ttl(
    spark, tmp_path, monkeypatch
):
    import os
    import time

    from twitch_chat_analyser_spark.streaming import bucketstore
    from twitch_chat_analyser_spark.streaming import pipeline as sp

    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    store = str(tmp_path / "s")
    day = sp.DAY_MS

    def deltas(n):
        return spark.createDataFrame(
            [("a", day + 1000, n)],
            "channel string, timestamp long, messages long",
        )

    sp.additive_merge(
        spark, store, deltas(1),
        ["channel", "timestamp"], "messages", 0,
    )
    stale = f"{store}.snap-deadbeef"
    fresh = f"{store}.snap-cafecafe"
    os.makedirs(stale)
    os.makedirs(fresh)
    old = time.time() - bucketstore.SNAPSHOT_TTL_SEC - 60
    os.utime(stale, (old, old))
    # the single writer GCs leaked snapshots past TTL on its next merge
    sp.additive_merge(
        spark, store, deltas(1),
        ["channel", "timestamp"], "messages", 1,
    )
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)  # a live reader's snapshot survives

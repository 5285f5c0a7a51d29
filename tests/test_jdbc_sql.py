"""A12 JDBC sink SQL generation: DDL and upsert parity with the
reference's prepareTable/getUpsertSql statements."""

from __future__ import annotations

import os

import pytest

from twitch_chat_analyser_spark.streaming import jdbc


def test_create_table_matches_reference_ddl():
    # ChannelStatsAggregation.java:36-42
    assert jdbc.create_table_sql("channel_stats") == (
        "CREATE TABLE IF NOT EXISTS channel_stats("
        "channel VARCHAR(32) NOT NULL, timestamp BIGINT NOT NULL, "
        "messages BIGINT NOT NULL, PRIMARY KEY(channel, timestamp))"
    )


def test_all_five_tables_have_ddl_and_upserts():
    for table in jdbc.FACT_TABLES:
        ddl = jdbc.create_table_sql(table)
        assert ddl.startswith("CREATE TABLE IF NOT EXISTS")
        assert "PRIMARY KEY" in ddl
        up = jdbc.upsert_sql(table)
        assert "ON CONFLICT" in up and "EXCLUDED." in up


def test_additive_upsert_matches_reference_semantics():
    # ChannelStatsAggregation.java:45-50: cnt = table.cnt + EXCLUDED.cnt
    sql = jdbc.upsert_sql("channel_stats")
    assert sql == (
        "INSERT INTO channel_stats(channel, timestamp, messages) "
        "VALUES (%s, %s, %s) ON CONFLICT(channel, timestamp) "
        "DO UPDATE SET messages = channel_stats.messages + EXCLUDED.messages"
    )


def test_sink_without_driver_raises_not_implemented(spark):
    sink = jdbc.JdbcSink(dsn="postgresql://x", table="channel_stats")
    df = spark.createDataFrame(
        [("c", 0, 1)], "channel string, timestamp long, messages long"
    )
    try:
        import psycopg2  # noqa: F401

        pytest.skip("driver present; sink would attempt a connection")
    except ImportError:
        with pytest.raises(NotImplementedError):
            sink(df, 0)


def _recording_factory(sink_dir, claim_rowcount=1):
    """Connection factory whose psycopg2-shaped recording classes are
    DEFINED IN THIS CLOSURE so cloudpickle ships them by value to the
    Python workers (a module-level class would pickle by reference to
    `test_jdbc_sql`, which workers cannot import). `execute` tracks the
    ledger claim (rowcount 1 = claimed, 0 = replay), `executemany` the
    upserts; commit/rollback dump one JSON file per connection."""

    class RecordingCursor:
        def __init__(self):
            self.stmts = []
            self.executes = []
            self.rowcount = -1

        def execute(self, sql, params=None):
            self.executes.append((sql, tuple(params or ())))
            self.rowcount = claim_rowcount

        def executemany(self, sql, rows):
            self.stmts.append((sql, list(rows)))
            self.rowcount = len(self.stmts[-1][1])

    class RecordingConnection:
        def __init__(self):
            self._cur = RecordingCursor()

        def cursor(self):
            return self._cur

        def _dump(self, kind):
            import json
            import os
            import uuid

            path = os.path.join(sink_dir, f"{kind}-{uuid.uuid4().hex}.json")
            with open(path, "w") as fh:
                json.dump(
                    {
                        "kind": kind,
                        "claims": [
                            {"sql": sql, "params": list(p)}
                            for sql, p in self._cur.executes
                        ],
                        "stmts": [
                            {"sql": sql, "rows": [list(r) for r in rows]}
                            for sql, rows in self._cur.stmts
                        ],
                    },
                    fh,
                )

        def commit(self):
            self._dump("conn")

        def rollback(self):
            self._dump("rollback")

        def close(self):
            pass

    return RecordingConnection


def test_ledger_ddl_and_claim_sql():
    assert jdbc.ledger_table_sql().startswith("CREATE TABLE IF NOT EXISTS")
    assert "PRIMARY KEY(table_name, batch_id, partition_id)" in (
        jdbc.ledger_table_sql()
    )
    assert jdbc.ledger_claim_sql().endswith("ON CONFLICT DO NOTHING")


def test_sink_writes_executor_side_per_partition(spark, tmp_path):
    """The sink must stream partitions through per-executor connections
    — never collect() the micro-batch to the driver. The recording
    connection factory writes one file per opened connection from
    inside the Python workers; with a multi-partition input we expect
    one connection per non-empty partition, each carrying only its
    partition's rows, all through the reference upsert statement, each
    transaction claiming its (table, batch, partition) ledger row."""
    out_dir = str(tmp_path / "writes")
    os.makedirs(out_dir, exist_ok=True)

    sink = jdbc.JdbcSink(
        dsn="unused",
        table="channel_stats",
        batch_size=3,
        connection_factory=_recording_factory(out_dir),
        num_partitions=4,  # pinned replay-stable write parallelism
    )
    rows = [(f"ch{i % 4}", i * 1000, i) for i in range(40)]
    df = spark.createDataFrame(
        rows, "channel string, timestamp long, messages long"
    ).repartition(4)
    sink(df, batch_id=7)

    import json

    files = sorted(os.listdir(out_dir))
    # one committed connection per non-empty partition, executor-side
    assert 2 <= len(files) <= 4
    assert all(f.startswith("conn-") for f in files)
    seen = []
    claimed_pids = set()
    for f in files:
        with open(os.path.join(out_dir, f)) as fh:
            rec = json.load(fh)
        # the additive transaction claims its ledger row first
        assert len(rec["claims"]) == 1
        claim = rec["claims"][0]
        assert claim["sql"] == jdbc.ledger_claim_sql()
        assert claim["params"][:2] == ["channel_stats", 7]
        claimed_pids.add(claim["params"][2])
        for s in rec["stmts"]:
            assert s["sql"] == jdbc.upsert_sql("channel_stats")
            # executemany chunks respect batch_size
            assert len(s["rows"]) <= 3
            seen.extend(tuple(r) for r in s["rows"])
    assert len(claimed_pids) == len(files)  # distinct partition ids
    # every input row written exactly once, none via the driver
    assert sorted(seen) == sorted(rows)


def test_additive_partition_assignment_is_replay_stable(spark, tmp_path):
    """The ledger's exactly-once guarantee requires identical
    row->partition assignment across replays: two runs of the same batch
    must produce the same (partition_id -> rows) mapping, independent of
    the input's incoming partitioning."""
    import json

    def run(tag, df):
        out_dir = str(tmp_path / tag)
        os.makedirs(out_dir, exist_ok=True)
        sink = jdbc.JdbcSink(
            dsn="unused",
            table="channel_stats",
                connection_factory=_recording_factory(out_dir),
            num_partitions=8,
        )
        sink(df, batch_id=3)
        mapping = {}
        for f in os.listdir(out_dir):
            with open(os.path.join(out_dir, f)) as fh:
                rec = json.load(fh)
            pid = rec["claims"][0]["params"][2]
            mapping[pid] = sorted(
                tuple(r) for s in rec["stmts"] for r in s["rows"]
            )
        return mapping

    rows = [(f"ch{i % 5}", i * 1000, i) for i in range(30)]
    schema = "channel string, timestamp long, messages long"
    a = run("a", spark.createDataFrame(rows, schema).repartition(4))
    b = run("b", spark.createDataFrame(rows, schema).coalesce(1))
    assert a == b


def test_sink_replay_skips_applied_partitions(spark, tmp_path):
    """A replayed batch (ledger claim affects 0 rows) must roll back and
    write NOTHING — the double-apply hazard of the additive upsert."""
    out_dir = str(tmp_path / "writes")
    os.makedirs(out_dir, exist_ok=True)

    sink = jdbc.JdbcSink(
        dsn="unused",
        table="channel_stats",
        connection_factory=_recording_factory(out_dir, claim_rowcount=0),
    )
    df = spark.createDataFrame(
        [("c", 0, 1), ("d", 0, 2)],
        "channel string, timestamp long, messages long",
    ).repartition(2)
    sink(df, batch_id=7)

    import json

    files = sorted(os.listdir(out_dir))
    assert files and all(f.startswith("rollback-") for f in files)
    for f in files:
        with open(os.path.join(out_dir, f)) as fh:
            rec = json.load(fh)
        assert rec["stmts"] == []  # no upserts reached the store

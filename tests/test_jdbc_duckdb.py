"""Postgres ON CONFLICT dialect, pinned two ways (VERDICT r8 #6):

1. Golden-string matrix: the EXACT DML the Postgres path would issue —
   every fact table x both paramstyles — asserted against literal
   strings, so a dialect regression is a visible diff, not a runtime
   surprise on a live server.
2. A SECOND live engine: DuckDB shares Postgres's ``ON CONFLICT``
   dialect (conflict target, ``EXCLUDED``, table-qualified SET), so
   every generated statement — DDL, the additive upsert, the ledger
   claim — executes for real against a second engine besides SQLite,
   including through ``PyformatOverQmarkConnection`` (the exact
   pyformat SQL psycopg2 would receive).

Replay-skip detection (cursor.rowcount == 0 after the ledger claim) is
engine-specific: proven live on sqlite3 (tests/test_jdbc_sqlite.py) and
native in psycopg2; DuckDB's DB-API reports rowcount -1, so the claim
statement's EXECUTION is exercised here but skip detection is not.
"""

from __future__ import annotations

import pytest

duckdb = pytest.importorskip("duckdb")

from twitch_chat_analyser_spark.streaming import jdbc as sj  # noqa: E402

GOLDEN_UPSERTS = {
    ("channel_stats", "pyformat"): (
        "INSERT INTO channel_stats(channel, timestamp, messages) "
        "VALUES (%s, %s, %s) ON CONFLICT(channel, timestamp) DO UPDATE "
        "SET messages = channel_stats.messages + EXCLUDED.messages"
    ),
    ("channel_stats", "qmark"): (
        "INSERT INTO channel_stats(channel, timestamp, messages) "
        "VALUES (?, ?, ?) ON CONFLICT(channel, timestamp) DO UPDATE "
        "SET messages = channel_stats.messages + EXCLUDED.messages"
    ),
    ("user_stats", "pyformat"): (
        "INSERT INTO user_stats(channel, username, timestamp, messages) "
        "VALUES (%s, %s, %s, %s) "
        "ON CONFLICT(channel, username, timestamp) DO UPDATE "
        "SET messages = user_stats.messages + EXCLUDED.messages"
    ),
    ("emote_stats", "pyformat"): (
        "INSERT INTO emote_stats(channel, emote, timestamp, occurrences) "
        "VALUES (%s, %s, %s, %s) "
        "ON CONFLICT(channel, emote, timestamp) DO UPDATE "
        "SET occurrences = emote_stats.occurrences + EXCLUDED.occurrences"
    ),
    ("user_emote_stats", "pyformat"): (
        "INSERT INTO user_emote_stats"
        "(channel, emote, username, timestamp, occurrences) "
        "VALUES (%s, %s, %s, %s, %s) "
        "ON CONFLICT(channel, emote, username, timestamp) DO UPDATE "
        "SET occurrences = "
        "user_emote_stats.occurrences + EXCLUDED.occurrences"
    ),
    ("phrase_stats", "pyformat"): (
        "INSERT INTO phrase_stats(channel, phrase_name, timestamp, matches) "
        "VALUES (%s, %s, %s, %s) "
        "ON CONFLICT(channel, phrase_name, timestamp) DO UPDATE "
        "SET matches = phrase_stats.matches + EXCLUDED.matches"
    ),
}

GOLDEN_LEDGER = {
    "pyformat": (
        "INSERT INTO _stream_applied_partitions"
        "(table_name, batch_id, partition_id, n_parts) "
        "VALUES (%s, %s, %s, %s) ON CONFLICT DO NOTHING"
    ),
    "qmark": (
        "INSERT INTO _stream_applied_partitions"
        "(table_name, batch_id, partition_id, n_parts) "
        "VALUES (?, ?, ?, ?) ON CONFLICT DO NOTHING"
    ),
}


def test_generated_dml_matches_golden_strings():
    for (table, style), want in GOLDEN_UPSERTS.items():
        assert sj.upsert_sql(table, style) == want, (table, style)
    for style, want in GOLDEN_LEDGER.items():
        assert sj.ledger_claim_sql(style) == want
    # the two paramstyles differ ONLY by placeholder token, for every
    # table — no statement shape drifts between engines
    for table in sj.FACT_TABLES:
        py = sj.upsert_sql(table, "pyformat")
        qm = sj.upsert_sql(table, "qmark")
        assert py.replace("%s", "?") == qm


def test_every_statement_executes_on_duckdb():
    """DDL + the additive upsert + the ledger claim, live on DuckDB."""
    conn = duckdb.connect()
    cur = conn.cursor()
    for table in sj.FACT_TABLES:
        cur.execute(sj.create_table_sql(table))
    cur.execute(sj.ledger_table_sql())

    for table, (cols, _pk) in sj.FACT_TABLES.items():
        row = tuple(
            "x" if t.startswith("VARCHAR") else 3 for _, t in cols
        )
        add = sj.upsert_sql(table, "qmark")
        cur.execute(add, row)
        cur.execute(add, row)  # accumulates
        got = cur.execute(f"SELECT * FROM {table}").fetchall()
        assert len(got) == 1 and got[0][-1] == 6, table

    claim = sj.ledger_claim_sql("qmark")
    cur.execute(claim, ("channel_stats", 7, 0, 4))
    cur.execute(claim, ("channel_stats", 7, 0, 4))  # conflict -> no error
    n = cur.execute(
        f"SELECT count(*) FROM {sj.LEDGER_TABLE}"
    ).fetchone()[0]
    assert n == 1
    conn.close()


def test_pyformat_sql_runs_on_duckdb_through_the_adapter():
    """The EXACT pyformat statements psycopg2 would receive, executed
    on DuckDB via PyformatOverQmarkConnection — second live engine for
    the adapter besides sqlite3."""
    conn = sj.PyformatOverQmarkConnection(duckdb.connect)
    cur = conn.cursor()
    cur.execute(sj.create_table_sql("channel_stats"))
    sql = sj.upsert_sql("channel_stats", "pyformat")
    cur.executemany(sql, [("a", 0, 2), ("a", 100, 2)])
    cur.executemany(sql, [("a", 0, 5)])
    conn.commit()
    got = dict(
        (ts, v)
        for _, ts, v in conn._conn.execute(
            "SELECT * FROM channel_stats"
        ).fetchall()
    )
    assert got == {0: 7, 100: 2}
    conn.close()


def test_ledger_migration_runs_on_duckdb():
    """The n_parts schema migration (ADVICE r9) live on a second
    engine: applies to a pre-n_parts ledger table, is idempotent on
    re-run (duplicate-column error swallowed), and the claim statement
    works afterwards with the column defaulted on legacy rows."""
    conn = duckdb.connect()
    cur = conn.cursor()
    cur.execute(
        f"CREATE TABLE {sj.LEDGER_TABLE}("
        "table_name VARCHAR(64) NOT NULL, batch_id BIGINT NOT NULL, "
        "partition_id INT NOT NULL, "
        "PRIMARY KEY(table_name, batch_id, partition_id))"
    )
    cur.execute(
        f"INSERT INTO {sj.LEDGER_TABLE} VALUES ('channel_stats', 1, 0)"
    )
    sj.apply_ledger_migrations(conn)
    sj.apply_ledger_migrations(conn)  # idempotent
    claim = sj.ledger_claim_sql("qmark")
    cur = conn.cursor()
    cur.execute(claim, ("channel_stats", 2, 0, 4))
    rows = sorted(
        cur.execute(
            f"SELECT batch_id, n_parts FROM {sj.LEDGER_TABLE}"
        ).fetchall()
    )
    assert rows == [(1, 0), (2, 4)]  # legacy row defaulted to 0
    conn.close()

"""JDBC serving-store sink (A12/A13 production variant): DDL + upsert
SQL generation and a foreachBatch writer for a Postgres-compatible
store — the second per-table writer of ``streaming.pipeline.run_all``
(the default being the journaled parquet store).

The reference creates its own tables at job start
(ChannelStatsAggregation.java:36-42 etc.) and writes every stats row as
two physical rows — the window delta and the ``timestamp=0`` running
total — through one batched ``INSERT ... ON CONFLICT DO UPDATE SET v =
t.v + EXCLUDED.v`` prepared statement (ChannelStatsAggregation.java:
45-63). ``run_all`` emits exactly those per-batch deltas and totals;
this module generates byte-compatible DDL/DML for that one additive
discipline. Additive upserts are not idempotent, so replays need a
guard (the reference needs XA 2PC for the same reason): a (table,
batch, partition) ledger row claimed in the same transaction as the
partition's upserts (``ledger_table_sql``).

No Postgres driver ships in this container, so the psycopg2 default is
import-gated; the SQL generation is pure and unit-tested, and the full
executor-side writer (DDL, upserts, ledger claim, transaction
boundaries, retry/replay skip) additionally executes for real against
in-process SQLite — which shares Postgres's ``ON CONFLICT`` dialect —
both via ``paramstyle="qmark"`` and through the EXACT pyformat SQL
psycopg2 would receive (``PyformatOverQmarkConnection`` adapts the
placeholders at execute time; tests/test_jdbc_sqlite.py).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame

# (table, [(col, sql_type)...], pk) — SURVEY.md §1.3, DDL parity with the
# reference's prepareTable implementations.
FACT_TABLES: dict[str, tuple[list[tuple[str, str]], list[str]]] = {
    "channel_stats": (
        [("channel", "VARCHAR(32)"), ("timestamp", "BIGINT"), ("messages", "BIGINT")],
        ["channel", "timestamp"],
    ),
    "user_stats": (
        [
            ("channel", "VARCHAR(32)"),
            ("username", "VARCHAR(32)"),
            ("timestamp", "BIGINT"),
            ("messages", "INT"),
        ],
        ["channel", "username", "timestamp"],
    ),
    "emote_stats": (
        [
            ("channel", "VARCHAR(32)"),
            ("emote", "VARCHAR(150)"),
            ("timestamp", "BIGINT"),
            ("occurrences", "BIGINT"),
        ],
        ["channel", "emote", "timestamp"],
    ),
    "user_emote_stats": (
        [
            ("channel", "VARCHAR(32)"),
            ("emote", "VARCHAR(150)"),
            ("username", "VARCHAR(32)"),
            ("timestamp", "BIGINT"),
            ("occurrences", "INT"),
        ],
        ["channel", "emote", "username", "timestamp"],
    ),
    "phrase_stats": (
        [
            ("channel", "VARCHAR(32)"),
            ("phrase_name", "VARCHAR(64)"),
            ("timestamp", "BIGINT"),
            ("matches", "BIGINT"),
        ],
        ["channel", "phrase_name", "timestamp"],
    ),
}


def create_table_sql(table: str) -> str:
    """``CREATE TABLE IF NOT EXISTS`` parity
    (ChannelStatsAggregation.java:36-42)."""
    cols, pk = FACT_TABLES[table]
    col_defs = ", ".join(f"{c} {t} NOT NULL" for c, t in cols)
    return (
        f"CREATE TABLE IF NOT EXISTS {table}({col_defs}, "
        f"PRIMARY KEY({', '.join(pk)}))"
    )


# DB-API paramstyle -> positional placeholder token. The generated SQL
# never interpolates values (placeholders only), so the statements are
# engine-portable modulo this token: psycopg2 is pyformat, stdlib
# sqlite3 is qmark — the latter drives the real-engine parity test
# (tests/test_jdbc_sqlite.py) since no Postgres driver ships here.
PARAM_PLACEHOLDERS = {"pyformat": "%s", "qmark": "?"}


def upsert_sql(table: str, paramstyle: str = "pyformat") -> str:
    """One-row additive upsert statement (the reference batches two
    value tuples per stats row — delta + total — through the same
    statement; ChannelStatsAggregation.java:45-50)."""
    cols, pk = FACT_TABLES[table]
    names = [c for c, _ in cols]
    v = names[-1]
    placeholders = ", ".join([PARAM_PLACEHOLDERS[paramstyle]] * len(names))
    return (
        f"INSERT INTO {table}({', '.join(names)}) VALUES ({placeholders}) "
        f"ON CONFLICT({', '.join(pk)}) DO UPDATE SET "
        f"{v} = {table}.{v} + EXCLUDED.{v}"
    )


LEDGER_TABLE = "_stream_applied_partitions"


def ledger_table_sql() -> str:
    """DDL for the replay ledger — run at job setup alongside the fact
    DDL (:func:`create_table_sql`). One row per successfully committed
    (table, batch, partition); ``n_parts`` records the pinned partition
    count the batch was written with, so a mid-batch restart under a
    changed ``num_partitions`` fails loudly instead of silently losing
    or double-applying the re-hashed rows."""
    return (
        f"CREATE TABLE IF NOT EXISTS {LEDGER_TABLE}("
        "table_name VARCHAR(64) NOT NULL, batch_id BIGINT NOT NULL, "
        "partition_id INT NOT NULL, n_parts INT NOT NULL, "
        "PRIMARY KEY(table_name, batch_id, partition_id))"
    )


def ledger_migrations() -> list[str]:
    """Schema-migration DDL for ledger tables created before a column
    was added — ``CREATE TABLE IF NOT EXISTS`` never alters an existing
    table, so a deployment whose ledger predates ``n_parts`` would fail
    every claim INSERT with a column-count error (ADVICE r9). Run these
    at job setup right after :func:`ledger_table_sql`; each statement is
    idempotent-by-guard on engines without ``IF NOT EXISTS`` column
    support (sqlite raises "duplicate column name" — callers may ignore
    that one error, as :func:`apply_ledger_migrations` does).

    Deliberately no ``NOT NULL`` on the added column: DuckDB rejects
    ADD COLUMN with constraints, and the claim INSERT always supplies
    ``n_parts`` anyway — the NOT NULL on freshly-created ledgers
    (:func:`ledger_table_sql`) is belt, not load-bearing."""
    return [
        f"ALTER TABLE {LEDGER_TABLE} ADD COLUMN n_parts INT DEFAULT 0",
    ]


def apply_ledger_migrations(conn) -> None:
    """Bring an existing ledger table up to the current schema on a
    DB-API connection; tolerates already-applied migrations (duplicate-
    column errors) so it can run unconditionally at job setup."""
    for stmt in ledger_migrations():
        cur = conn.cursor()
        try:
            cur.execute(stmt)
        except Exception as e:  # noqa: BLE001 - engine-specific error types
            try:
                conn.rollback()
            except Exception:  # noqa: BLE001 - autocommit engines
                pass  # (DuckDB raises on rollback with no open txn)
            msg = str(e).lower()
            if "duplicate" in msg or "already exists" in msg:
                continue  # migration previously applied
            raise
        else:
            conn.commit()


def ledger_claim_sql(paramstyle: str = "pyformat") -> str:
    """Claim statement: inserts the (table, batch, partition, n_parts)
    marker, or affects 0 rows if a prior attempt already committed
    it."""
    ph = PARAM_PLACEHOLDERS[paramstyle]
    return (
        f"INSERT INTO {LEDGER_TABLE}"
        "(table_name, batch_id, partition_id, n_parts) "
        f"VALUES ({ph}, {ph}, {ph}, {ph}) ON CONFLICT DO NOTHING"
    )


def _pg_connect(dsn: str):  # pragma: no cover - driver not in image
    import psycopg2

    return psycopg2.connect(dsn)


class _PyformatOverQmarkCursor:
    """DB-API cursor translating pyformat positional placeholders
    (``%s``) to qmark (``?``) at execute time. Exact for this module's
    generated SQL, which interpolates no literals — placeholders are the
    only ``%s`` tokens that can appear."""

    def __init__(self, cur):
        self._cur = cur

    @property
    def rowcount(self):
        return self._cur.rowcount

    def execute(self, sql, params=()):
        return self._cur.execute(sql.replace("%s", "?"), params)

    def executemany(self, sql, seq):
        return self._cur.executemany(sql.replace("%s", "?"), seq)

    def fetchone(self):
        return self._cur.fetchone()

    def fetchall(self):
        return self._cur.fetchall()


class PyformatOverQmarkConnection:
    """Paramstyle-adapting DB-API connection: accepts the pyformat SQL
    psycopg2 would receive and executes it on a qmark engine (e.g.
    stdlib sqlite3) — the writer-facing psycopg2 surface (cursor /
    commit / rollback / close) over ``factory()``'s connection. Lets the
    Postgres-dialect statements drive a local engine end-to-end in
    development and tests; module-level (not a closure) so Spark workers
    unpickle it by reference."""

    def __init__(self, factory: Callable):
        self._conn = factory()

    def cursor(self):
        return _PyformatOverQmarkCursor(self._conn.cursor())

    def commit(self):
        self._conn.commit()

    def rollback(self):
        self._conn.rollback()

    def close(self):
        self._conn.close()


def _write_partition(
    rows,
    connection_factory: Callable,
    sql: str,
    names: list[str],
    batch_size: int,
    ledger_key: tuple[str, int],
    paramstyle: str = "pyformat",
    n_parts: int = 0,
    partition_id: int | None = None,
    claim_sql: str | None = None,
    rows_acc=None,
    txn_acc=None,
    skip_acc=None,
) -> None:
    """Executor-side partition writer: one connection per partition,
    executemany in ``batch_size`` chunks (reference batch size 100,
    AbstractStatsAggregation.java:154), one commit per partition —
    partition-atomic like the reference's per-flush transaction.

    The partition's ledger marker for ``ledger_key`` (table, batch_id)
    is claimed INSIDE the same transaction as its upserts: a Spark task
    retry after a successful commit — or a whole foreachBatch replay —
    finds the marker already present (claim affects 0 rows) and skips,
    so the non-idempotent additive upsert is applied exactly once per
    (batch, partition). This is the partition-granular version of the
    atomicity the reference buys with XA 2PC (XAPostgresSink.java:
    122-175). An empty partition still claims its marker, so a
    committed batch always shows num_partitions rows.

    VALID ONLY IF row->partition assignment is reproducible across
    replays — which the caller guarantees by hash-repartitioning the
    batch on the table's key with a PINNED partition count (JdbcSink
    does this; session shuffle settings and AQE coalescing must never
    decide these partition ids)."""
    conn = connection_factory()
    try:
        cur = conn.cursor()
        if partition_id is not None:
            pid = partition_id
        else:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            if ctx is None:
                raise RuntimeError(
                    "ledger-guarded write outside a Spark task needs "
                    "an explicit partition_id — defaulting would "
                    "collapse every partition onto one ledger key "
                    "and silently discard the rest as replays"
                )
            pid = ctx.partitionId()
        cur.execute(
            claim_sql or ledger_claim_sql(paramstyle),
            (ledger_key[0], ledger_key[1], pid, n_parts),
        )
        rc = getattr(cur, "rowcount", None)
        if rc == 0:
            # a completed prior attempt owns this partition — but
            # verify it was written under the SAME pinned partition
            # count, or the replayed rows hash elsewhere and the skip
            # silently loses / double-applies them
            if hasattr(cur, "fetchone") and n_parts:
                ph = PARAM_PLACEHOLDERS[paramstyle]
                cur.execute(
                    f"SELECT n_parts FROM {LEDGER_TABLE} WHERE "
                    f"table_name = {ph} AND batch_id = {ph} AND "
                    f"partition_id = {ph}",
                    (ledger_key[0], ledger_key[1], pid),
                )
                prior = cur.fetchone()
                if prior is not None and prior[0] not in (0, n_parts):
                    raise RuntimeError(
                        f"{ledger_key[0]} batch {ledger_key[1]}: a "
                        f"prior attempt committed partitions under "
                        f"num_partitions={prior[0]}, this run uses "
                        f"{n_parts} — row->partition assignment "
                        "changed mid-batch; restore the original "
                        "setting to finish the batch"
                    )
            conn.rollback()
            if skip_acc is not None:
                skip_acc.add(1)
            return
        if rc != 1:
            raise RuntimeError(
                f"ledger claim reported rowcount {rc!r}; the replay "
                "guard needs the DB-API rowcount contract (0 = "
                "already claimed, 1 = claimed now) — a fail-open "
                "driver here would double-apply additive deltas"
            )
        buf: list[tuple] = []
        written = 0
        for r in rows:
            buf.append(tuple(r[n] for n in names))
            if len(buf) >= batch_size:
                cur.executemany(sql, buf)
                written += len(buf)
                buf.clear()
        if buf:
            cur.executemany(sql, buf)
            written += len(buf)
        conn.commit()
        # observability accumulators (bench/diagnostics): rows upserted
        # and transactions committed per partition. Task retries can
        # over-count accumulator updates — metrics only, never control.
        if rows_acc is not None:
            rows_acc.add(written)
        if txn_acc is not None:
            txn_acc.add(1)
    finally:
        conn.close()


@dataclass
class JdbcSink:
    """foreachBatch callable writing a stats DataFrame through the
    upsert statement EXECUTOR-SIDE: ``foreachPartition`` opens one
    connection per partition and streams that partition's rows through
    executemany batches. The micro-batch is never materialized on the
    driver — at 100 TB the sink scales with executor count, the driver
    only coordinates.

    ``connection_factory`` is an injection seam (tests substitute a
    recording connection; production default is psycopg2 over ``dsn``).

    ``num_partitions`` pins the write parallelism: the batch is
    hash-repartitioned on the table's primary key with this EXPLICIT
    count, so a replayed batch reproduces the identical row->partition
    assignment regardless of session shuffle settings or AQE — the
    invariant the per-partition replay ledger depends on.
    """

    dsn: str
    table: str
    batch_size: int = 100
    connection_factory: Callable | None = None
    num_partitions: int = 32
    paramstyle: str = "pyformat"  # psycopg2; "qmark" for sqlite3
    # optional Spark accumulators (rows upserted / txns committed /
    # replay-skipped partitions) — metrics only, retry-over-countable
    rows_acc: object = None
    txn_acc: object = None
    skip_acc: object = None

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        factory = self.connection_factory
        if factory is None:
            try:
                import psycopg2  # noqa: F401
            except ImportError as e:  # pragma: no cover - driver not in image
                raise NotImplementedError(
                    "JDBC sink needs a Postgres driver (psycopg2); not bundled "
                    "in this environment — use the parquet merge sink instead"
                ) from e
            factory = functools.partial(_pg_connect, self.dsn)
        cols, pk = FACT_TABLES[self.table]
        names = [c for c, _ in cols]
        # additive upserts are not idempotent -> ledger-guard each
        # partition, and make partition ids replay-stable by hash
        # partitioning on the key with a pinned count (see
        # _write_partition)
        out = batch_df.select(*names).repartition(self.num_partitions, *pk)
        self._preflight(factory, batch_id)
        writer = functools.partial(
            _write_partition,
            connection_factory=factory,
            sql=upsert_sql(self.table, self.paramstyle),
            names=names,
            batch_size=self.batch_size,
            ledger_key=(self.table, batch_id),
            paramstyle=self.paramstyle,
            n_parts=self.num_partitions,
            claim_sql=ledger_claim_sql(self.paramstyle),
            rows_acc=self.rows_acc,
            txn_acc=self.txn_acc,
            skip_acc=self.skip_acc,
        )
        out.foreachPartition(writer)

    def _preflight(self, factory: Callable, batch_id: int) -> None:
        """Driver-side ledger sanity pass before each batch:

        - SCHEMA PROBE: a ledger table created before ``n_parts`` was
          added makes every claim INSERT fail with a column-count
          error; detect the missing column up front and fail with the
          migration to run (ADVICE r9, :func:`ledger_migrations`).
        - STALE-LEDGER GUARD: a batch_id BELOW the ledger's max for this
          table means a relocated/rolled-back checkpoint is replaying
          history into an existing store — every claim up to that max
          would find the OLD run's marker and silently discard the new
          run's data. Fail loudly; the operator clears the table's
          ledger rows (or the store) and restarts. (``batch_id ==
          max``, the normal crash-replay of the in-flight batch, passes;
          ADVICE r9 generalized this from the batch-0-only check.)
        - PRUNING: only the current batch can ever replay, so markers
          older than the previous batch are dead weight (~tables x
          partitions rows per trigger, forever); drop them.

        Skipped for connection test-doubles without a query surface
        (no ``fetchone``); every real engine has one.
        """
        ph = PARAM_PLACEHOLDERS[self.paramstyle]
        conn = factory()
        try:
            cur = conn.cursor()
            if not hasattr(cur, "fetchone"):
                return
            try:
                cur.execute(
                    f"SELECT n_parts FROM {LEDGER_TABLE} WHERE 1 = 0"
                )
                cur.fetchall()
            except Exception as e:  # noqa: BLE001 - engine-specific types
                # guarded like apply_ledger_migrations: on autocommit
                # engines (DuckDB) a failed SELECT leaves no open
                # transaction and rollback() itself raises, which would
                # mask the actionable migration error below (ADVICE r10)
                try:
                    conn.rollback()
                except Exception:  # noqa: BLE001
                    pass
                raise RuntimeError(
                    f"{LEDGER_TABLE} is missing or lacks the n_parts "
                    "column (a ledger created by an older version, or "
                    "setup DDL not run) — run ledger_table_sql() then "
                    "jdbc.apply_ledger_migrations(conn) before "
                    "restarting the job"
                ) from e
            cur = conn.cursor()
            cur.execute(
                f"SELECT max(batch_id) FROM {LEDGER_TABLE} "
                f"WHERE table_name = {ph}",
                (self.table,),
            )
            row = cur.fetchone()
            max_b = row[0] if row else None
            if max_b is not None and batch_id < max_b:
                raise RuntimeError(
                    f"{self.table}: ledger already holds batches up to "
                    f"{max_b} but this run is at batch {batch_id} — a "
                    "relocated/rolled-back checkpoint against an "
                    "existing store would silently skip batches up to "
                    f"{max_b} as replays; clear the table's rows from "
                    f"{LEDGER_TABLE} (and decide what to do with the "
                    "accumulated fact rows) before restarting"
                )
            cur.execute(
                f"DELETE FROM {LEDGER_TABLE} WHERE table_name = {ph} "
                f"AND batch_id < {ph}",
                (self.table, batch_id - 1),
            )
            conn.commit()
        finally:
            conn.close()

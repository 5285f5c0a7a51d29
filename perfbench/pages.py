"""The reference dashboard's pages, built with ``plans.api`` over the
fact stores read through ``streaming.pipeline.read_table``, and the
DuckDB SQL each page must equal over the same store rows.

Stores hold per-window rows (``timestamp`` = window end) and the
reference's ``timestamp = 0`` running totals; each page reads the slice
the reference reads.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

from gen import EMOTE_TOKENS, EPOCH_US

EPOCH_MS = EPOCH_US // 1000
HOUR_MS, DAY_MS = 3_600_000, 86_400_000

KINDS = [
    "index", "series", "top_chatters", "top_emotes", "users_leaderboard",
    "emote_leaderboard", "user_page",
]
# the dashboard's range picker, relative to the start of the live stream
RANGES = [
    (EPOCH_MS - 6 * HOUR_MS, EPOCH_MS + HOUR_MS),
    (EPOCH_MS - DAY_MS, EPOCH_MS + HOUR_MS),
    (EPOCH_MS - 3 * DAY_MS, EPOCH_MS + HOUR_MS),
    (EPOCH_MS - 7 * DAY_MS, EPOCH_MS - DAY_MS),
]
CHANNELS = ["click", "signup", "view", "purchase", "error"]
STORE_TABLES = ["channel_stats", "user_stats", "emote_stats", "user_emote_stats"]


@dataclass(frozen=True)
class PageSpec:
    kind: str
    channel: str
    start: int
    end: int
    user: str
    emote: str


class Mix:
    """The seeded page mix: every page kind once per round, in a seeded
    order, so even a short run serves each kind; channel, range, user
    and emote are drawn per request (``users`` draws a username)."""

    def __init__(self, seed: int, users):
        self.rng = random.Random(seed)
        self.users = users
        self.round: list[str] = []
        self.rounds = 0

    def next(self) -> PageSpec:
        if not self.round:
            self.round = self.rng.sample(KINDS, len(KINDS))
            self.rounds += 1
        kind = self.round.pop()
        start, end = self.rng.choice(RANGES)
        return PageSpec(kind, self.rng.choice(CHANNELS), start, end,
                        self.users(self.rng), self.rng.choice(EMOTE_TOKENS))


def build(spark, out_dir: str, spec: PageSpec, tracer, parent=None) -> list:
    """The page's DataFrames (a user page is two queries)."""
    from pyspark.sql import functions as F
    from twitch_chat_analyser_spark import dims
    from twitch_chat_analyser_spark.plans import api
    from twitch_chat_analyser_spark.streaming.pipeline import read_table

    def read(table: str):
        with tracer.span("serve.read_table", parent):
            return read_table(spark, os.path.join(out_dir, table))

    windows = F.col("timestamp") > 0
    totals = F.col("timestamp") == 0
    chans = dims.channels_df(spark)
    bots = dims.EXCLUDED_USERS
    s = spec
    if s.kind == "index":
        return [api.index_page(read("channel_stats").filter(windows),
                               read("user_stats").filter(windows),
                               chans, bots, s.start)]
    if s.kind == "series":
        return [api.channel_series_resampled(read("channel_stats"), s.channel,
                                             s.start, s.end, api.RESAMPLE_POINTS)]
    if s.kind == "top_chatters":
        return [api.top_chatters(read("user_stats"), s.channel, s.start, s.end,
                                 api.TOP_LIMIT)]
    if s.kind == "top_emotes":
        return [api.top_emotes_window(read("emote_stats"), s.channel, s.start,
                                      s.end, 10)]
    if s.kind == "users_leaderboard":
        return [api.users_leaderboard(read("user_stats").filter(totals),
                                      s.channel, chans, bots)]
    if s.kind == "emote_leaderboard":
        return [api.emote_leaderboard(dims.emotes_df(spark),
                                      read("emote_stats").filter(totals),
                                      s.channel)]
    if s.kind == "user_page":
        return [
            api.last_seen(read("user_stats"), s.user, chans),
            api.user_emote_across_channels(
                read("channel_stats"), read("user_emote_stats").filter(totals),
                s.emote, s.user, chans),
        ]
    raise ValueError(f"unknown page kind {s.kind}")


def _norm(v):
    # DuckDB sums are HUGEINT/DECIMAL and Spark's are BIGINT: compare as int
    if v is None or isinstance(v, (bool, str)):
        return v
    return int(v)


def rows(result) -> list:
    """Order-free comparable form of a collected query result."""
    return sorted((tuple(map(_norm, r)) for r in result), key=repr)


def serve(spark, out_dir: str, spec: PageSpec, tracer) -> tuple[list, float, float]:
    """Build and execute one page; returns (results, build s, exec s)."""
    with tracer.span(f"api.{spec.kind}") as page:
        t0 = time.perf_counter()
        with tracer.span(f"api.{spec.kind}.build", page) as b:
            dfs = build(spark, out_dir, spec, tracer, b)
        t1 = time.perf_counter()
        with tracer.span(f"api.{spec.kind}.exec", page):
            out = [rows(df.collect()) for df in dfs]
        t2 = time.perf_counter()
    return out, t1 - t0, t2 - t1


def oracle_sql(spec: PageSpec) -> list[str]:
    """DuckDB SQL for the page over tables ``cs``, ``us``, ``es``, ``ues``
    holding the store rows."""
    from twitch_chat_analyser_spark import dims
    from twitch_chat_analyser_spark.functions.resample import resample_grid
    from twitch_chat_analyser_spark.plans import api

    s = spec
    bots = dims.excluded_users_sql()
    visible = f"(SELECT channel FROM ({dims.channels_values_sql()}) WHERE NOT hidden)"
    in_range = f"timestamp >= {s.start} AND timestamp <= {s.end}"
    if s.kind == "index":
        return [f"""
WITH totals AS (SELECT channel, sum(messages) AS total_messages
                FROM cs WHERE timestamp > 0 GROUP BY channel),
recent AS (SELECT channel, sum(messages) AS recent_messages
           FROM cs WHERE timestamp > 0 AND timestamp >= {s.start} GROUP BY channel),
top_c AS (SELECT channel, username AS top_chatter, m AS top_chatter_messages FROM (
    SELECT channel, username, sum(messages) AS m,
           row_number() OVER (PARTITION BY channel
                              ORDER BY sum(messages) DESC, username) AS rn
    FROM us WHERE timestamp > 0 AND username NOT IN ({bots})
    GROUP BY channel, username) WHERE rn = 1)
SELECT t.channel, t.total_messages, coalesce(r.recent_messages, 0),
       tc.top_chatter, tc.top_chatter_messages
FROM totals t LEFT JOIN recent r USING (channel) LEFT JOIN top_c tc USING (channel)
WHERE t.channel IN {visible}"""]
    if s.kind == "series":
        grid = ", ".join(f"({t})" for t in resample_grid(s.start, s.end, api.RESAMPLE_POINTS))
        return [f"""
WITH base AS (SELECT coalesce(sum(messages), 0) AS base FROM cs
              WHERE channel = '{s.channel}' AND timestamp > 0 AND timestamp < {s.start}),
series AS (SELECT timestamp, sum(messages) OVER (ORDER BY timestamp
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + base AS v
           FROM cs, base WHERE channel = '{s.channel}' AND {in_range}),
grid AS (SELECT * FROM (VALUES {grid}) g(t)),
u AS (SELECT t AS ts, CAST(NULL AS DOUBLE) AS v, 1 AS is_grid FROM grid
      UNION ALL SELECT timestamp, CAST(v AS DOUBLE), 0 FROM series),
filled AS (
    SELECT ts, is_grid,
        max(CASE WHEN is_grid = 0 THEN ts END) OVER w_before AS before_ts,
        last_value(CASE WHEN is_grid = 0 THEN v END IGNORE NULLS) OVER w_before AS before_v,
        min(CASE WHEN is_grid = 0 THEN ts END) OVER w_after AS after_ts,
        first_value(CASE WHEN is_grid = 0 THEN v END IGNORE NULLS) OVER w_after AS after_v,
        min(CASE WHEN is_grid = 0 THEN ts END) OVER () AS first_ts,
        max(CASE WHEN is_grid = 0 THEN ts END) OVER () AS last_ts
    FROM u WINDOW
      w_before AS (ORDER BY ts, is_grid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_after AS (ORDER BY ts, is_grid ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT ts, CAST(CASE WHEN ts <= first_ts THEN coalesce(before_v, after_v)
                     WHEN ts >= last_ts THEN coalesce(after_v, before_v)
                     WHEN before_ts = ts THEN before_v
                     ELSE round(before_v + (ts - before_ts) / (after_ts - before_ts)
                                * (after_v - before_v)) END AS BIGINT)
FROM filled WHERE is_grid = 1"""]
    if s.kind == "top_chatters":
        return [f"""
SELECT username, messages, rank FROM (
    SELECT username, sum(messages) AS messages,
           row_number() OVER (ORDER BY sum(messages) DESC, username) AS rank
    FROM us WHERE channel = '{s.channel}' AND {in_range} AND username NOT IN ({bots})
    GROUP BY username) WHERE rank <= {api.TOP_LIMIT}"""]
    if s.kind == "top_emotes":
        return [f"""
SELECT emote, sum(occurrences) AS occurrences FROM es
WHERE channel = '{s.channel}' AND {in_range}
GROUP BY emote ORDER BY occurrences DESC, emote LIMIT 10"""]
    if s.kind == "users_leaderboard":
        return [f"""
WITH topk AS (SELECT username, messages FROM us
              WHERE timestamp = 0 AND channel = '{s.channel}' AND channel IN {visible}
              ORDER BY messages DESC, username LIMIT {100 + len(dims.EXCLUDED_USERS)})
SELECT username, messages, username IN ({bots}),
       CASE WHEN username NOT IN ({bots}) THEN
           sum(CASE WHEN username IN ({bots}) THEN 0 ELSE 1 END)
               OVER (ORDER BY messages DESC, username
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END
FROM topk"""]
    if s.kind == "emote_leaderboard":
        return [f"""
SELECT e.emote, e.type, t.occurrences FROM ({dims.emotes_values_sql()}) e
LEFT JOIN (SELECT emote, occurrences FROM es
           WHERE timestamp = 0 AND channel = '{s.channel}') t USING (emote)
WHERE t.occurrences > 0 ORDER BY t.occurrences DESC, e.emote LIMIT 1000"""]
    if s.kind == "user_page":
        return [f"""
SELECT channel, max(timestamp) // 1000 FROM us
WHERE username = '{s.user}' AND timestamp > 0 AND channel IN {visible}
GROUP BY channel""", f"""
SELECT c.channel, coalesce(t.occurrences, 0)
FROM (SELECT DISTINCT channel FROM cs) c
LEFT JOIN (SELECT channel, occurrences FROM ues WHERE timestamp = 0
           AND emote = '{s.emote}' AND username = '{s.user}') t USING (channel)
WHERE c.channel IN {visible}"""]
    raise ValueError(f"unknown page kind {s.kind}")


def snapshot(out_dir: str):
    """A DuckDB connection holding the current store rows as tables
    ``cs``, ``us``, ``es``, ``ues`` (read straight from the parquet)."""
    import duckdb

    con = duckdb.connect()
    for name, table in zip(["cs", "us", "es", "ues"], STORE_TABLES):
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(out_dir, table)}/*.parquet')")
    return con


def check(con, served: list[tuple[PageSpec, list]]) -> list[str]:
    """Compare each distinct served page with its DuckDB oracle over the
    store rows in ``con``. Returns the mismatches."""
    import duckdb

    bad, seen = [], set()
    for spec, got in served:
        if spec in seen:
            continue
        seen.add(spec)
        want = [rows(con.execute(q).fetchall()) for q in oracle_sql(spec)]
        if got != want:
            bad.append(f"page {spec} differs from DuckDB {duckdb.__version__}")
    return bad

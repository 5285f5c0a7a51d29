"""The five keyed tumbling-window count aggregations (SURVEY.md §2.A).

Reference: every aggregation is a subclass of the generic
``AbstractStatsAggregation`` (AbstractStatsAggregation.java:28) — keyed
state + window math ``start = ts - (ts % interval)``
(AbstractStatsAggregation.java:70-71) with a processing-time partial
flush. In Spark that entire mechanism IS ``groupBy(window(ts, interval),
keys).count()`` — Catalyst plans a partial (map-side) hash aggregation
before the shuffle and a final aggregation after, which is exactly the
reference's hand-rolled partial-accumulate-then-flush, minus the code.

Every function here is a pure ``DataFrame -> DataFrame`` over the
normalized ``messages`` relation (ingest.py) and runs identically in
batch and behind ``readStream`` (streaming/pipeline.py) — Spark's
batch/stream duality is what the reference approximates with Kafka
replay (README.md:86-101).

Output schema parity (SURVEY.md §1.3): ``timestamp`` is the window-END
epoch-millis (AbstractStatsAggregation.java:77); counts are BIGINT.
The reference's ``timestamp = 0`` all-time-total sentinel rows
(ChannelStatsAggregation.java:44-50) are a derived view for the batch
queries (:func:`totals`, design decision D1) and sink-maintained state
on the streaming write path, which sums :func:`contributions` — each
event's share of its window AND of its total — into the stores.

Scale notes (100 TB):
- The groupBy shuffles on (window, dims) — ~uniform for channel/user
  keys; a hot channel skews ``channel_stats``, which AQE skew-join/
  coalesce handles (enabled in session.py). Cardinality after
  aggregation is tiny relative to input, so the shuffle write is the
  map-side-combined partials, not raw events.
- Emote extraction explodes tokens BEFORE the dim join; the join is a
  broadcast semi-join (dim is thousands of rows), so no shuffle of the
  exploded stream — filter happens map-side, then only matching tokens
  enter the aggregation shuffle.
- Phrase matching is a broadcast nested-loop over a few dozen phrase
  rows — O(msgs x phrases) regexp work distributed map-side, with the
  channel-filter predicate applied before the expensive find-all count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ingest import WINDOW_DURATION


def window_end_ms(ts_col: str = "ts") -> Column:
    """Window-end epoch-millis of the 15-min tumbling window containing
    ``ts_col`` — same bucket math as the reference
    (AbstractStatsAggregation.java:70-71, window end at :77)."""
    return F.unix_millis(F.window(ts_col, WINDOW_DURATION)["end"]).alias("timestamp")


def contributions(
    rows: DataFrame, dims: list[str], value_col: str, weight: str | None = None
) -> DataFrame:
    """Each event row's additive contribution to its windowed count and
    to its ``timestamp = 0`` total: two rows, ``(dims..., window end,
    w)`` and ``(dims..., 0, w)``, where ``w`` is 1 or the ``weight``
    column. ``groupBy(dims, timestamp).sum`` over them is exactly the
    windowed stats plus :func:`totals` of them, in one aggregate — the
    reference's double-row upsert (ChannelStatsAggregation.java:45-63).

    A row with a null ``ts`` contributes nothing, to the total too:
    ``window()`` filters it out (Spark's TimeWindowing rule), as the
    windowed stats drop it.

    -> dims..., timestamp, value_col
    """
    w = F.col(weight) if weight else F.lit(1)
    return rows.select(
        *dims,
        F.explode(F.array(window_end_ms(), F.lit(0).cast("long"))).alias(
            "timestamp"
        ),
        w.cast("long").alias(value_col),
    )


def _windowed_count(
    df: DataFrame, dims: list, agg_col: Column, out_cols: list[str]
) -> DataFrame:
    """Tumbling-window count keyed on dims. Groups on the ``window(ts)``
    STRUCT (not a derived epoch column): the struct is what carries the
    event-time watermark tag, so streaming state eviction and
    too-late-row filtering actually engage when a watermark is set
    (grouping on ``unix_millis(window.end)`` would silently strip it).
    The ms projection happens after the aggregation — identical batch
    results, watermark-compatible streaming."""
    return (
        df.groupBy(F.window("ts", WINDOW_DURATION).alias("w"), *dims)
        .agg(agg_col)
        .select(*dims, F.unix_millis("w.end").alias("timestamp"), *out_cols)
    )


SLIDING_DURATION = "30 minutes"
SLIDING_SLIDE = "15 minutes"


def channel_stats_sliding(msgs: DataFrame) -> DataFrame:
    """Per-channel counts in SLIDING windows (30-min span, 15-min slide)
    — a window family the reference lacks entirely (tumbling only,
    AbstractStatsAggregation.java:70-71); Spark's ``window(ts, span,
    slide)`` gives it in the same one-shuffle plan shape as the tumbling
    aggregations (each event expands to span/slide = 2 window rows
    before the partial aggregate — bounded, data-independent blowup).

    -> channel, timestamp (window-end ms), messages
    """
    return (
        msgs.groupBy(
            F.window("ts", SLIDING_DURATION, SLIDING_SLIDE).alias("w"),
            "channel",
        )
        .agg(F.count("*").alias("messages"))
        .select("channel", F.unix_millis("w.end").alias("timestamp"), "messages")
    )


def channel_stats(msgs: DataFrame) -> DataFrame:
    """Per-channel message counts per window (ChannelStatsAggregation.java:29-33).

    -> channel, timestamp, messages
    """
    return _windowed_count(
        msgs, ["channel"], F.count("*").alias("messages"), ["messages"]
    )


def user_stats(msgs: DataFrame) -> DataFrame:
    """Per-user message counts per window (UserStatsAggregation.java:28-32).

    -> channel, username, timestamp, messages
    """
    return _windowed_count(
        msgs,
        ["channel", "username"],
        F.count("*").alias("messages"),
        ["messages"],
    )


def emote_occurrences(msgs: DataFrame, emotes: DataFrame) -> DataFrame:
    """Emote occurrence events: whitespace-tokenize and keep tokens in the
    known-emote set (EmoteExtractor.java:73-103; split on ``\\s+`` at :92).

    Each occurrence of the same emote in one message counts separately
    (per-token loop EmoteExtractor.java:93-102). The dim join is an
    inner broadcast hash join on the emote PK — set membership applied
    map-side, no shuffle of the exploded token stream.

    -> ts, channel, username, emote
    """
    tokens = msgs.select(
        "ts",
        "channel",
        "username",
        F.explode(F.split("message", r"\s+")).alias("emote"),
    )
    return tokens.join(F.broadcast(emotes.select("emote").distinct()), "emote")


def emote_stats(msgs: DataFrame, emotes: DataFrame) -> DataFrame:
    """Per-(channel, emote) occurrence counts per window
    (EmoteStatsAggregation.java:28-32).

    -> channel, emote, timestamp, occurrences
    """
    return _windowed_count(
        emote_occurrences(msgs, emotes),
        ["channel", "emote"],
        F.count("*").alias("occurrences"),
        ["occurrences"],
    )


def user_emote_stats(msgs: DataFrame, emotes: DataFrame) -> DataFrame:
    """Per-(channel, emote, username) occurrence counts per window
    (UserEmoteStatsAggregation.java:30-34).

    -> channel, emote, username, timestamp, occurrences
    """
    return _windowed_count(
        emote_occurrences(msgs, emotes),
        ["channel", "emote", "username"],
        F.count("*").alias("occurrences"),
        ["occurrences"],
    )


def phrase_matches(msgs: DataFrame, phrases: DataFrame) -> DataFrame:
    """Message x phrase match counts (PhraseExtractor.java:53-91).

    Semantics parity:
    - optional channel filter is a FULL match, case-insensitive
      (Java ``matcher.matches()``, PhraseExtractor.java:62-66) — applied
      BEFORE the expensive find-all so non-applicable channels never run
      the phrase regex;
    - ``matches`` = number of find-all occurrences, case-insensitive
      compile (PhraseExtractor.java:68-72, :111);
    - rows with 0 matches are dropped (:74).

    The phrase dim is broadcast; the cross join is a map-side
    nested-loop over a handful of phrase rows.

    -> ts, channel, username, message, name, log_message, matches
    """
    joined = msgs.crossJoin(F.broadcast(phrases))
    channel_ok = F.col("channel_filter_regex").isNull() | F.expr(
        "channel rlike concat('(?i)^(?:', channel_filter_regex, ')$')"
    )
    return (
        joined.filter(channel_ok)
        .withColumn(
            "matches", F.expr("regexp_count(message, concat('(?i)', regex))")
        )
        .filter(F.col("matches") > 0)
        .select("ts", "channel", "username", "message", "name", "log_message", "matches")
    )


def phrase_stats(msgs: DataFrame, phrases: DataFrame) -> DataFrame:
    """Per-(channel, phrase) total match counts per window
    (PhraseStatsAggregation.java:46-66).

    -> channel, phrase_name, timestamp, matches
    """
    return _windowed_count(
        phrase_matches(msgs, phrases).withColumnRenamed("name", "phrase_name"),
        ["channel", "phrase_name"],
        F.sum("matches").alias("matches"),
        ["matches"],
    )


def messages_matching_phrase(msgs: DataFrame, phrases: DataFrame) -> DataFrame:
    """Side-output append log of messages matching a ``log_message``
    phrase, once per (message, phrase) (PhraseExtractor.java:82-86,
    MessagesMatchingPhraseExporter.java:43-50).

    ``message_time`` is epoch-millis (the reference stores TIMESTAMPTZ;
    ms-BIGINT here keeps the oracle comparison exact — same instant).

    -> message_time, message_channel, message_user, message_text, matched_phrase
    """
    return phrase_matches(msgs, phrases).filter(F.col("log_message")).select(
        F.unix_millis("ts").alias("message_time"),
        F.col("channel").alias("message_channel"),
        F.col("username").alias("message_user"),
        F.col("message").alias("message_text"),
        F.col("name").alias("matched_phrase"),
    )


def totals(stats: DataFrame, dims: list[str], value_col: str) -> DataFrame:
    """All-time running totals — the reference's ``timestamp = 0``
    sentinel rows (AbstractStatsAggregation.java:33,
    ChannelStatsAggregation.java:44-50) as a derived view (SURVEY §7.0 D1).

    -> dims..., timestamp(=0), value_col
    """
    return (
        stats.groupBy(*dims)
        .agg(F.sum(value_col).alias(value_col))
        .select(*dims, F.lit(0).cast("long").alias("timestamp"), value_col)
    )


def totals_from_rows(
    rows: DataFrame, dims: list[str], value_col: str
) -> DataFrame:
    """:func:`totals` computed directly from a per-event stream (each
    row counts 1) instead of from a windowed stats frame.

    Exactly equal to ``totals(<windowed count stats>, dims, value_col)``
    — the sum of per-window counts IS the row count per dims group —
    but with one aggregation pass and one exchange where the stats
    route computed a tumbling-window struct per row and a second
    rollup only to sum the windows away (r14, guide §2.3; measured
    1.9x on channel_stats_totals). Use it whenever the totals are NOT
    derived from an already-needed stats frame.

    Caveat: "exactly equal" holds for rows with a non-null ``ts``. A
    null-``ts`` row has no window, so the windowed route drops it, but
    this function counts it.

    -> dims..., timestamp(=0), value_col
    """
    return totals(
        rows.select(*dims, F.lit(1).cast("long").alias(value_col)),
        dims,
        value_col,
    )

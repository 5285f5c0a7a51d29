"""Seeded benchmark inputs: chat messages and curation documents.

Everything here is a pure function of its parameters and seed: the same
seed writes byte-identical parquet files, and the program under test
only ever sees those files. The ground truth the checks need (planted
duplicate groups, scheduled publish times) stays on the benchmark side.
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# The distinct whitespace tokens of the driver testdata ``documents``
# table (identical at every scale factor), embedded so a run reads
# nothing outside its checkout.
TESTDATA_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Tokens that drive the emote and phrase dims (twitch_chat_analyser_spark
# .dims): chat text is built from the other words, and these are planted
# at the requested shares, so the measured shares are exact parameters.
EMOTE_TOKENS = ["spark", "join", "merge", "vector", "window", "hash", "Kappa"]
PHRASE_WORD = "fast"
CHAT_WORDS = [
    w for w in TESTDATA_WORDS
    if w not in EMOTE_TOKENS and w != PHRASE_WORD
]

# The five dim channels, hidden ``error`` included, with a skewed mix.
CHANNEL_MIX = {
    "click": 0.35, "signup": 0.2, "view": 0.2, "purchase": 0.15, "error": 0.1,
}

MSG_SCHEMA = pa.schema([
    ("ts", pa.timestamp("us", tz="UTC")),
    ("channel", pa.string()),
    ("username", pa.string()),
    ("message", pa.string()),
])
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])

# 2024-01-08T00:00:00Z: the virtual clock every generated message lives on
EPOCH_US = 1_704_672_000_000_000


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k ** s) for k in range(1, n + 1)))


def _write(table: pa.Table, path: str) -> None:
    """Write then rename, so a reader listing the directory never sees
    a half-written file."""
    tmp = f"{os.path.dirname(path)}/.{os.path.basename(path)}.tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


# chat messages
USERS = 2000
USER_ZIPF = 1.1
EMOTE_SHARE = 0.3      # messages carrying one planted emote
PHRASE_SHARE = 0.1     # messages carrying a "fast <word>" phrase
LATE_SHARE = 0.05      # messages stamped before their slot
LATE_MAX_US = 3_600_000_000
MSG_WORDS = (3, 12)


class ChatGenerator:
    """Seeded chat messages. Each message is stamped with its creation
    time on the virtual clock; a ``LATE_SHARE`` of them is stamped up to
    ``LATE_MAX_US`` earlier, so they land out of order in old windows."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.users = [f"user_{k}" for k in range(USERS)]
        self.user_cum = _zipf_cum(USERS, USER_ZIPF)
        self.channels = list(CHANNEL_MIX)
        self.channel_cum = list(itertools.accumulate(CHANNEL_MIX.values()))

    def _text(self) -> str:
        rng = self.rng
        words = [rng.choice(CHAT_WORDS) for _ in range(rng.randint(*MSG_WORDS))]
        if rng.random() < EMOTE_SHARE:
            words.insert(rng.randrange(len(words) + 1), rng.choice(EMOTE_TOKENS))
        if rng.random() < PHRASE_SHARE:
            at = rng.randrange(len(words))
            words[at:at] = [PHRASE_WORD, rng.choice(CHAT_WORDS)]
        return " ".join(words)

    def messages(self, n: int, start_us: int, span_us: int) -> pa.Table:
        """``n`` messages created uniformly in [start, start + span)."""
        rng = self.rng
        ts = []
        for _ in range(n):
            t = start_us + int(rng.random() * span_us)
            if rng.random() < LATE_SHARE:
                t -= 60_000_000 + int(rng.random() * (LATE_MAX_US - 60_000_000))
            ts.append(t)
        return pa.table({
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "channel": rng.choices(self.channels, cum_weights=self.channel_cum, k=n),
            "username": rng.choices(self.users, cum_weights=self.user_cum, k=n),
            "message": [self._text() for _ in range(n)],
        }, schema=MSG_SCHEMA)

    def zipf_user(self, rng: random.Random) -> str:
        return rng.choices(self.users, cum_weights=self.user_cum, k=1)[0]


def history_tables(gen: ChatGenerator, n: int, days: int,
                   files: int) -> list[pa.Table]:
    """A replay corpus spanning ``days`` days before the virtual epoch,
    split into ``files`` time-ordered slices (the Kafka-reprocessing
    input)."""
    span = days * 86_400_000_000
    per = span // files
    return [gen.messages(n // files, EPOCH_US - span + i * per, per)
            for i in range(files)]


def write_tables(tables: list[pa.Table], out_dir: str, prefix: str) -> list[str]:
    """One parquet file per table, named in order. Returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = [os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
             for i in range(len(tables))]
    for t, path in zip(tables, paths):
        _write(t, path)
    return paths


def live_tables(gen: ChatGenerator, rate: int, interval_s: float,
                count: int) -> list[pa.Table]:
    """The open-loop schedule's payloads: file ``i`` holds the messages
    created in the ``i``-th ``interval_s`` slot after the epoch."""
    per = int(rate * interval_s)
    slot = int(interval_s * 1_000_000)
    return [gen.messages(per, EPOCH_US + i * slot, slot) for i in range(count)]


# curation documents
DOCS = 300
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
NEAR_DUP_CHUNK = 4     # copied words between inserted ones
JUNK_SHARE = 0.05      # word salad the perplexity filter drops
SOURCES = 20
SOURCE_ZIPF = 1.2
VOCAB = 200            # words drawn from doc_vocabulary()
SUCCESSORS = 8         # next-word choices per word
SUCCESSOR_ZIPF = 1.0
DOC_WORDS = (30, 90)
LANGS = {"en": 0.7, "es": 0.15, "zh": 0.15}


@dataclass
class Corpus:
    table: pa.Table
    exact_groups: dict[int, list[int]]   # original doc_id -> exact copies
    near_groups: dict[int, list[int]]    # original doc_id -> near copies
    junk: list[int]                      # doc_ids of word-salad documents


def doc_vocabulary() -> list[str]:
    """Two-word compounds of the testdata vocabulary: the testdata's own
    31 words are too few for distinct documents to stay dissimilar under
    word shingles, which collapses the dedup graph."""
    words = [w for w in TESTDATA_WORDS if w not in ("a", "the")]
    return [a + b for a in words for b in words if a != b]


def make_corpus(seed: int, docs: int = DOCS) -> Corpus:
    """Seeded document corpus with planted exact and near duplicates at
    fixed shares and a Zipf source mix. The number of documents of each
    kind is the same for every seed; the seed places them.

    Text is a walk over a word chain (each word has ``SUCCESSORS``
    Zipf-weighted next words), so the corpus has the predictable
    bigrams the perplexity filter is tuned for, while distinct
    documents share few word shingles. Every document opens with the
    stopwords ``the a``, so the hard rules judge length and symbols.
    A near duplicate is its original in runs of ``NEAR_DUP_CHUNK`` words
    with one chain step inserted after each run: most words and bigrams
    are shared, no word 5-gram is, so it survives the exact-span rewrite
    and is left for the MinHash stage to catch. A ``JUNK_SHARE`` of the
    documents ignores the chain (uniform word salad), for the quality
    gate to drop."""
    rng = random.Random(seed)
    words = doc_vocabulary()
    rng.shuffle(words)
    words = words[:VOCAB]
    succ = {w: rng.sample(words, SUCCESSORS) for w in words}
    succ_cum = _zipf_cum(SUCCESSORS, SUCCESSOR_ZIPF)

    def step(w: str) -> str:
        return rng.choices(succ[w], cum_weights=succ_cum, k=1)[0]

    source_cum = _zipf_cum(SOURCES, SOURCE_ZIPF)
    sources = [f"src{i}" for i in range(SOURCES)]
    texts: list[str] = []
    exact: dict[int, list[int]] = {}
    near: dict[int, list[int]] = {}
    originals: list[int] = []
    junk: list[int] = []
    kinds = (["exact"] * round(docs * EXACT_DUP_SHARE)
             + ["near"] * round(docs * NEAR_DUP_SHARE)
             + ["junk"] * round(docs * JUNK_SHARE))
    kinds += ["original"] * (docs - 1 - len(kinds))
    rng.shuffle(kinds)
    # the first document is an original, so every copy has one to copy
    for i, kind in enumerate(["original"] + kinds):
        n = rng.randint(*DOC_WORDS)
        if kind == "junk":
            texts.append(" ".join(["the", "a"] + rng.choices(words, k=n)))
            junk.append(i)
            continue
        if kind == "exact":
            o = rng.choice(originals)
            texts.append(texts[o])
            exact.setdefault(o, []).append(i)
            continue
        if kind == "near":
            o = rng.choice(originals)
            toks, c, out = texts[o].split(), NEAR_DUP_CHUNK, []
            for k in range(0, len(toks), c):
                out += toks[k:k + c]
                nxt = toks[k + c] if k + c < len(toks) else None
                w = out[-1]
                ins = step(w) if w in succ else rng.choice(words)
                while ins == nxt:  # a repeat of the original keeps its 5-grams
                    ins = step(w) if w in succ else rng.choice(words)
                out.append(ins)
            texts.append(" ".join(out))
            near.setdefault(o, []).append(i)
            continue
        toks = [rng.choice(words)]
        for _ in range(n - 1):
            toks.append(step(toks[-1]))
        texts.append(" ".join(["the", "a"] + toks))
        originals.append(i)
    table = pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": rng.choices(list(LANGS), weights=list(LANGS.values()), k=docs),
        "source": rng.choices(sources, cum_weights=source_cum, k=docs),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOC_SCHEMA)
    return Corpus(table, exact, near, junk)


def write_corpus(corpus: Corpus, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _write(corpus.table, path)

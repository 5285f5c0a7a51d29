"""Tests for the seeded benchmark inputs.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import math
import os
import re
import sys
from collections import Counter

import pyarrow.compute as pc
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

N = 20_000


def _bytes(paths):
    out = []
    for p in paths:
        with open(p, "rb") as fh:
            out.append(fh.read())
    return out


def _chat_files(seed, tmp, name):
    g = gen.ChatGenerator(seed)
    hist = gen.write_tables(gen.history_tables(g, 4000, 7, 4), str(tmp / name), "hist")
    live = gen.write_tables(gen.live_tables(g, 1000, 0.25, 8), str(tmp / name), "live")
    return _bytes(hist + live)


def _corpus_file(seed, tmp, name):
    path = str(tmp / name / "docs.parquet")
    gen.write_corpus(gen.make_corpus(seed), path)
    return _bytes([path])


@pytest.mark.parametrize("files", [_chat_files, _corpus_file])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, files):
    a = files(7, tmp_path, "a")
    assert a == files(7, tmp_path, "b")
    assert a != files(8, tmp_path, "c")


def _zipf_share(n, s):
    return 1.0 / sum(1.0 / k ** s for k in range(1, n + 1))


def test_chat_mix_matches_parameters():
    t = gen.ChatGenerator(3).messages(N, gen.EPOCH_US, 3_600_000_000)
    channels = Counter(t.column("channel").to_pylist())
    for ch, share in gen.CHANNEL_MIX.items():
        assert abs(channels[ch] / N - share) < 0.015, ch
    users = Counter(t.column("username").to_pylist())
    top = users.most_common(1)[0]
    assert top[0] == "user_0"
    assert abs(top[1] / N / _zipf_share(gen.USERS, gen.USER_ZIPF) - 1) < 0.1
    # rank-frequency slope of the head follows the requested exponent
    head = [c for _, c in users.most_common(30)]
    xs = [math.log(r) for r in range(1, 31)]
    ys = [math.log(c) for c in head]
    mx, my = sum(xs) / 30, sum(ys) / 30
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum((x - mx) ** 2 for x in xs)
    assert abs(-slope - gen.USER_ZIPF) < 0.2
    texts = t.column("message").to_pylist()
    emotes = set(gen.EMOTE_TOKENS)
    emote_share = sum(any(w in emotes for w in m.split()) for m in texts) / N
    assert abs(emote_share - gen.EMOTE_SHARE) < 0.015
    phrase = re.compile(r"fast\s+\w+")
    assert abs(sum(bool(phrase.search(m)) for m in texts) / N - gen.PHRASE_SHARE) < 0.01


def test_live_files_late_share_and_schedule():
    slot = 250_000
    tables = gen.live_tables(gen.ChatGenerator(4), 1000, 0.25, 80)
    late = total = 0
    for i, t in enumerate(tables):
        assert t.num_rows == 250
        start = gen.EPOCH_US + i * slot
        ts = pc.cast(t.column("ts"), "int64").to_pylist()
        assert max(ts) < start + slot
        late += sum(x < start for x in ts)
        assert min(ts) >= start - gen.LATE_MAX_US
        total += t.num_rows
    assert abs(late / total - gen.LATE_SHARE) < 0.01


def test_corpus_planted_shares():
    c = gen.make_corpus(5, docs=4000)
    texts = c.table.column("text").to_pylist()
    n = len(texts)
    exact = [d for ds in c.exact_groups.values() for d in ds]
    near = [d for ds in c.near_groups.values() for d in ds]
    assert abs(len(exact) / n - gen.EXACT_DUP_SHARE) < 0.015
    assert abs(len(near) / n - gen.NEAR_DUP_SHARE) < 0.02
    assert abs(len(c.junk) / n - gen.JUNK_SHARE) < 0.015
    for orig, copies in c.exact_groups.items():
        assert all(texts[d] == texts[orig] for d in copies)

    def grams(text, k=5):
        w = text.split()
        return {tuple(w[i:i + k]) for i in range(len(w) - k + 1)}

    # a near copy keeps its original's words, but (almost) none of its
    # word 5-grams: the exact-span rewrite leaves it for MinHash
    for orig, copies in c.near_groups.items():
        for d in copies:
            g = grams(texts[d])
            assert len(g & grams(texts[orig])) / len(g) < 0.1
            shared = set(texts[d].split()) & set(texts[orig].split())
            assert len(shared) / len(set(texts[d].split()) | set(texts[orig].split())) >= 0.5
    sources = Counter(c.table.column("source").to_pylist())
    assert abs(sources["src0"] / n / _zipf_share(gen.SOURCES, gen.SOURCE_ZIPF) - 1) < 0.1

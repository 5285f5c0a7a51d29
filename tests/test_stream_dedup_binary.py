"""Streaming dedup (dropDuplicatesWithinWatermark) and binaryFile
multimodal ingest."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from twitch_chat_analyser_spark.operators import multimodal as mm
from twitch_chat_analyser_spark.sources import files as fsrc
from twitch_chat_analyser_spark.streaming import dedup as dd
from twitch_chat_analyser_spark.streaming import pipeline as sp

EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc)


def _mk(spark, rows):
    return spark.createDataFrame(
        [
            (EPOCH + dt.timedelta(milliseconds=ms), ch, u, m)
            for ms, ch, u, m in rows
        ],
        sp.MESSAGE_SCHEMA,
    )


def test_stream_dedup_drops_producer_retries(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # batch 1 carries an in-batch duplicate; batch 2 re-sends a batch-1
    # record (cross-micro-batch retry, within the watermark) plus one
    # genuinely new record.
    _mk(
        spark,
        [
            (0, "click", "u1", "hello"),
            (0, "click", "u1", "hello"),  # in-batch dup
            (5_000, "view", "u2", "world"),
        ],
    ).coalesce(1).write.mode("append").parquet(src)
    _mk(
        spark,
        [
            (0, "click", "u1", "hello"),  # cross-file dup
            (10_000, "click", "u3", "fresh"),
        ],
    ).coalesce(1).write.mode("append").parquet(src)

    q = dd.start_dedup_stream(spark, src, out, ckpt, "10 minutes")
    q.awaitTermination(120)

    got = sorted(
        (r["channel"], r["username"], r["message"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        ("click", "u1", "hello"),
        ("click", "u3", "fresh"),
        ("view", "u2", "world"),
    ]


def test_batch_dedup_same_keys(spark):
    df = _mk(
        spark,
        [(0, "c", "u", "m"), (0, "c", "u", "m"), (1, "c", "u", "m")],
    )
    assert dd.dedup_messages(df).count() == 2


def test_binary_file_source_feeds_multimodal_plumbing(spark, tmp_path):
    media = tmp_path / "media"
    media.mkdir()
    (media / "img_001.png").write_bytes(b"\x89PNG fake payload 1")
    (media / "img_002.jpg").write_bytes(b"\xff\xd8 fake payload two")
    (media / "clip_003.wav").write_bytes(b"RIFF fake audio")
    (media / "notes.txt").write_text("not media")  # pruned by glob

    df = fsrc.read_binary_media(spark, str(media), glob="*.{png,jpg,wav}")
    rows = {r["media_id"]: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["kind"] == "image"
    assert rows[1]["meta"]["mime"] == "image/png"
    assert rows[3]["kind"] == "audio"
    assert bytes(rows[2]["payload"]).startswith(b"\xff\xd8")
    assert rows[2]["meta"]["width"] is None  # filled by decode stage

    # the stubbed decode stage runs end-to-end on this relation
    decoded = mm.decode_features(
        df.filter(F.col("kind") == "image"), fake=True
    ).collect()
    assert {r["media_id"] for r in decoded} == {1, 2}
    assert all(r["n_bytes"] > 0 and r["width"] > 0 for r in decoded)


def test_incremental_corpus_dedup_across_batches_and_replay(spark, tmp_path):
    import os

    from twitch_chat_analyser_spark.streaming import dedup as sd

    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def mk(rows):
        return spark.createDataFrame(rows, sd.DOC_SCHEMA)

    # file 1: one internal duplicate pair (1 ~ 2 after normalization)
    mk(
        [
            (1, "Hello  World", "en", "s", 11),
            (2, "hello world", "en", "s", 11),
            (3, "unique first", "en", "s", 12),
        ]
    ).coalesce(1).write.mode("append").parquet(src)
    sd.start_incremental_corpus_dedup(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()

    # file 2: a historical duplicate (of doc 3) + a new doc
    mk(
        [
            (10, "UNIQUE   first", "en", "s", 12),
            (11, "brand new", "en", "s", 9),
        ]
    ).coalesce(1).write.mode("append").parquet(src)
    sd.start_incremental_corpus_dedup(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()

    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    kept = sorted(r["doc_id"] for r in corpus.collect())
    assert kept == [1, 3, 11]  # 2 in-batch dup, 10 historical dup

    # replay with no new data: nothing changes
    sd.start_incremental_corpus_dedup(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()
    again = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    )
    assert again == kept


def test_minhash_corpus_dedup_near_dups_across_batches(spark, tmp_path):
    import os

    from twitch_chat_analyser_spark.streaming import dedup as sd

    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def mk(rows):
        return spark.createDataFrame(rows, sd.DOC_SCHEMA)

    base = "the quick brown fox jumps over the lazy dog again and again"
    # file 1: docs 1 and 2 are NEAR dups — a tail edit disturbs only
    # the last shingles, so signatures agree on 7/8 slots
    # (deterministic: the hash family is a pure function of the text);
    # 3 is distinct
    mk(
        [
            (1, base, "en", "s", len(base)),
            (2, base.rsplit(" ", 1)[0] + " too", "en", "s", len(base)),
            (3, "completely different text about spark plans", "en", "s", 43),
        ]
    ).coalesce(1).write.mode("append").parquet(src)
    sd.start_minhash_corpus_dedup(
        spark, src, out, ckpt, min_agree=5, max_files_per_trigger=1
    ).awaitTermination()

    # file 2: near-dup of HISTORICAL doc 1 + a genuinely new doc
    mk(
        [
            (10, base.replace("quick", "speedy"), "en", "s", len(base)),
            (11, "fresh unrelated content entirely new words", "en", "s", 42),
        ]
    ).coalesce(1).write.mode("append").parquet(src)
    sd.start_minhash_corpus_dedup(
        spark, src, out, ckpt, min_agree=5, max_files_per_trigger=1
    ).awaitTermination()

    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    kept = sorted(r["doc_id"] for r in corpus.collect())
    assert kept == [1, 3, 11], kept  # 2 in-batch near-dup, 10 historical

    # the signature store holds exactly the survivors
    sigs = spark.read.parquet(os.path.join(out, "signatures"))
    assert sorted({r["doc_id"] for r in sigs.collect()}) == [1, 3, 11]

    # replay with no new data: nothing changes
    sd.start_minhash_corpus_dedup(
        spark, src, out, ckpt, min_agree=5, max_files_per_trigger=1
    ).awaitTermination()
    again = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    )
    assert again == [1, 3, 11]


def test_corpus_prep_stream_matches_batch_pipeline(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from twitch_chat_analyser_spark.operators import textops
    from twitch_chat_analyser_spark.operators.dedup import norm_text
    from twitch_chat_analyser_spark.streaming import dedup as sd

    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # stopword-dense text (the scorer's profile is tiny) so the good
    # docs clear the 0.2 quality gate; doc 3 is punct-heavy and fails it
    good = "the cat and the dog of a friend to a mouse and the bird"
    rows1 = [
        (1, good, "en", "s", len(good)),
        (2, good.upper(), "en", "s", len(good)),          # in-batch dup of 1
        (3, "!!! ??? ### $$$ %%% ^^^", "en", "s", 23),    # punct-heavy -> low quality
        (4, good + " and the fox of a den", "en", "s", 77),
    ]
    rows2 = [
        (10, "  " + good, "en", "s", len(good) + 2),      # historical dup of 1
        (11, "a tale of the sea and a ship to the north and a star",
         "en", "s", 52),
    ]
    mk = lambda rows: spark.createDataFrame(rows, sd.DOC_SCHEMA)
    mk(rows1).coalesce(1).write.mode("append").parquet(src)
    sd.start_corpus_prep_stream(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()
    mk(rows2).coalesce(1).write.mode("append").parquet(src)
    sd.start_corpus_prep_stream(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()

    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    kept = sorted(r["doc_id"] for r in corpus.collect())

    # batch-pipeline equivalent on the full input: quality gate then
    # exact dedup (min doc_id per normalized content)
    all_docs = mk(rows1 + rows2)
    q = textops.quality_score(all_docs).filter(
        F.col("quality_score") >= 0.2
    ).select("doc_id")
    hashed = all_docs.join(q, "doc_id").withColumn("h", F.md5(norm_text()))
    keepers = hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    expect = sorted(r["doc_id"] for r in keepers.collect())
    assert kept == expect

    # metrics: per-batch accounting sums to the corpus totals
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    m = {r["batch_id"]: r for r in metrics.collect()}
    assert m[0]["docs_in"] == 4 and m[1]["docs_in"] == 2
    assert sum(r["docs_new_unique"] for r in m.values()) == len(kept)
    total_tokens = (
        corpus.select(F.size(F.split("text", r"\s+")).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert sum(r["ws_tokens"] for r in m.values()) == total_tokens

    # replay with no new data: corpus and metrics unchanged
    sd.start_corpus_prep_stream(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()
    again = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    )
    assert again == kept


def test_corpus_prep_stream_metrics_are_observed_not_counted(spark, tmp_path):
    """The yield metrics must ride the corpus write's own plan via
    observe() — not separate count()/collect() driver actions. Pinned
    as SQL-execution count per micro-batch: the streaming wrapper + the
    corpus write + the fingerprint write + the one-row metrics write =
    4; every metric computed as a driver action would add one more."""
    import os
    import time

    from twitch_chat_analyser_spark.streaming import dedup as sd

    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        (1, "the cat and the dog of a friend", "en", "s", 31),
        (2, "a tale of the sea and a ship", "en", "s", 28),
    ]
    spark.createDataFrame(rows, sd.DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    sd.start_corpus_prep_stream(spark, src, out, ckpt).awaitTermination()
    time.sleep(1)  # executions post asynchronously
    assert store.executionsCount() - before <= 4
    # and the metrics row still landed
    m = spark.read.parquet(os.path.join(out, "metrics")).collect()
    assert len(m) == 1 and m[0]["docs_in"] == 2


def test_bloom_corpus_dedup_across_batches_and_replay(spark, tmp_path):
    import os

    from twitch_chat_analyser_spark.streaming import dedup as sd

    src = str(tmp_path / "bdocs")
    out = str(tmp_path / "bout")
    ckpt = str(tmp_path / "bckpt")

    def mk(rows):
        return spark.createDataFrame(rows, sd.DOC_SCHEMA)

    def run():
        sd.start_bloom_corpus_dedup(
            spark, src, out, ckpt, max_files_per_trigger=1
        ).awaitTermination()

    mk(
        [
            (1, "Hello  World", "en", "s", 11),
            (2, "hello world", "en", "s", 11),  # in-batch dup of 1
            (3, "unique first", "en", "s", 12),
        ]
    ).coalesce(1).write.mode("append").parquet(src)
    run()

    mk(
        [
            (10, "UNIQUE   first", "en", "s", 12),  # historical dup of 3
            (11, "brand new", "en", "s", 9),
        ]
    ).coalesce(1).write.mode("append").parquet(src)
    run()

    corpus = spark.read.parquet(os.path.join(out, "corpus"))
    kept = sorted(r["doc_id"] for r in corpus.collect())
    # no false negatives: both duplicates are gone; the novel doc is kept
    # (the near-empty filter makes a false positive on it astronomically
    # unlikely, and the draw is deterministic)
    assert kept == [1, 3, 11]

    # the membership state is bounded: <= BLOOM_K bits per surviving key
    from twitch_chat_analyser_spark.operators.frequency import BLOOM_K

    bits = spark.read.parquet(os.path.join(out, "bloombits"))
    assert bits.count() <= BLOOM_K * len(kept)

    # replay with no new data: nothing changes
    run()
    again = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    )
    assert again == kept


def test_minhash_mass_duplicate_batch_candidates_bounded(spark, tmp_path):
    """Adversarial corpus: a batch of R identical docs shares every
    (seed, minhash) slot, so the uncapped candidate join emits
    num_hashes * R^2 rows. The pivot bound caps it at
    num_hashes * block_cap * R while the drop-first-copy contract
    survives (every copy still agrees with the clique's pivots)."""
    import os

    from pyspark.sql import functions as F

    from twitch_chat_analyser_spark.operators.dedup import minhash_signatures
    from twitch_chat_analyser_spark.streaming import dedup as sd

    R, H, CAP = 200, 8, 4
    text = "the same boilerplate paragraph repeated across the crawl forever"
    docs = spark.createDataFrame(
        [(i, text, "en", "s", len(text)) for i in range(R)], sd.DOC_SCHEMA
    )
    sigs = minhash_signatures(docs, H, 3)
    ref = sigs.select(F.col("doc_id").alias("ref_id"), "seed", "minhash")
    assert sd.minhash_slot_candidates(sigs, ref, block_cap=None).count() == H * R * R
    n_capped = sd.minhash_slot_candidates(sigs, ref, block_cap=CAP).count()
    assert n_capped <= H * CAP * R  # linear in R, not quadratic

    # end-to-end through the streaming sink with the cap active: exactly
    # the first copy survives
    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    docs.coalesce(1).write.parquet(src)
    sd.start_minhash_corpus_dedup(
        spark, src, out, str(tmp_path / "ckpt"), block_cap=CAP
    ).awaitTermination()
    kept = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    )
    assert kept == [0]


def test_phash_media_dedup_stream(spark, tmp_path):
    """Streaming NEAR-dup media ingest: a JPEG re-encode of an in-batch
    BMP is dropped, a GIF carrying a HISTORICAL image's luma is dropped
    against the hash store, distinct media survive, and replay with no
    new files changes nothing."""
    import os

    import numpy as np
    from test_multimodal import (
        _bmp_from_px,
        _jpeg_mod,
        _sine_wav,
        _test_image,
        make_gif_gray,
    )

    from twitch_chat_analyser_spark.streaming import dedup as sd

    _, J = _jpeg_mod()
    src = tmp_path / "media"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = _test_image("gradient")
    (src / "img_1.bmp").write_bytes(_bmp_from_px(base))
    (src / "img_2.jpg").write_bytes(J.encode_jpeg(base, quality=90))
    (src / "img_3.bmp").write_bytes(_bmp_from_px(_test_image("checker")))
    (src / "clip_4.wav").write_bytes(_sine_wav(440.0, amp=0.6))
    (src / "clip_5.wav").write_bytes(_sine_wav(440.0, amp=0.3))  # re-gained 4
    sd.start_phash_media_dedup(
        spark, str(src), out, ckpt
    ).awaitTermination()

    kept = sorted(
        r["media_id"]
        for r in spark.read.parquet(os.path.join(out, "media")).collect()
    )
    assert kept == [1, 3, 4], kept  # 2 near-dups 1; 5 is a re-gain of 4

    # second arrival: a GIF of item 1's luma (historical visual
    # near-dup), the 440 Hz tone again (historical audio near-dup), a
    # genuinely new image and a genuinely new tone
    gray = (0.299 * base[:, :, 0] + 0.587 * base[:, :, 1]
            + 0.114 * base[:, :, 2]).round().astype(np.uint8)
    (src / "anim_10.gif").write_bytes(make_gif_gray(gray))
    (src / "img_11.bmp").write_bytes(
        _bmp_from_px(_test_image("checker", 32, 32))
    )
    (src / "clip_12.wav").write_bytes(_sine_wav(440.0, amp=0.5))
    (src / "clip_13.wav").write_bytes(_sine_wav(1800.0, amp=0.6))
    sd.start_phash_media_dedup(
        spark, str(src), out, ckpt
    ).awaitTermination()

    kept = sorted(
        r["media_id"]
        for r in spark.read.parquet(os.path.join(out, "media")).collect()
    )
    # 10 and 12 matched history via the store (each in its own modality)
    assert kept == [1, 3, 4, 11, 13], kept

    # the hash store carries survivors only, 8 bytes each — no payloads
    hashes = spark.read.parquet(os.path.join(out, "phashes"))
    assert sorted({r["media_id"] for r in hashes.collect()}) == [1, 3, 4, 11, 13]
    assert "payload" not in hashes.columns
    assert set(r["modality"] for r in hashes.collect()) == {"visual", "audio"}

    # replay with no new files: the output is unchanged
    sd.start_phash_media_dedup(
        spark, str(src), out, ckpt
    ).awaitTermination()
    again = sorted(
        r["media_id"]
        for r in spark.read.parquet(os.path.join(out, "media")).collect()
    )
    assert again == [1, 3, 4, 11, 13]


def test_paragraph_dedup_stream_matches_batch_scrub(spark, tmp_path):
    """VERDICT r11 task 8: the streaming paragraph scrub over ordered
    micro-batches equals the batch operator over the union, replay is a
    no-op, and the fingerprint store holds hashes only."""
    import os

    from twitch_chat_analyser_spark.operators import llmops
    from twitch_chat_analyser_spark.streaming import dedup as sd

    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    NL = "\n"
    rows1 = [
        # doc 1: all fresh; its footer becomes global boilerplate
        (1, f"alpha body{NL}subscribe now{NL}copyright site", "en", "s", 1),
        # doc 2: repeats doc 1's footer lines + a within-doc self-dup
        (2, f"beta body{NL}beta body{NL}subscribe now", "en", "s", 1),
    ]
    rows2 = [
        # doc 10: historical dups only -> fully scrubbed to ''
        (10, f"subscribe now{NL}copyright site", "en", "s", 1),
        # doc 11: fresh para + historical footer + blank line dropped
        (11, f"gamma body{NL}{NL}copyright site", "en", "s", 1),
    ]

    def mk(rows):
        return spark.createDataFrame(rows, sd.DOC_SCHEMA)

    mk(rows1).coalesce(1).write.mode("append").parquet(src)
    sd.start_paragraph_dedup_stream(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()
    mk(rows2).coalesce(1).write.mode("append").parquet(src)
    sd.start_paragraph_dedup_stream(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()

    got = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_kept"])
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    }
    want = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_kept"])
        for r in llmops.scrub_duplicate_paragraphs(
            mk(rows1 + rows2).select("doc_id", "text")
        ).collect()
    }
    assert got == want
    assert got[10] == ("", 2, 0)  # fully-boilerplate doc kept, emptied
    assert got[11] == ("gamma body", 2, 1)

    # store holds hashes only — no paragraph text, one row per DISTINCT
    # first-seen paragraph
    fps = spark.read.parquet(os.path.join(out, "para_fps"))
    assert set(fps.columns) == {"h", "batch_id", "bucket"}
    n_fp = fps.count()
    assert n_fp == 5  # alpha/subscribe/copyright/beta/gamma

    # replay with no new files: outputs unchanged
    sd.start_paragraph_dedup_stream(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()
    again = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_kept"])
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    }
    assert again == got
    assert spark.read.parquet(os.path.join(out, "para_fps")).count() == n_fp


# --------------------------------------------------------------------------
# The corpus-ingest stores and the IVF index as journaled append logs
# --------------------------------------------------------------------------

_GOOD = [
    "the cat and the dog of a friend to a mouse and the bird",
    "a tale of the sea and a ship to the north and a star",
    "the king of the hill and the queen of a castle by the lake",
    "a song for the road and the rain in a town of the west",
    "the book on the shelf and the lamp by a door to the hall",
    "a walk in the park with the kids and a kite in the wind",
]


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, dd.DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _feed_docs(spark, tmp_path, sf_dir):
    first, second = str(tmp_path / "docs1"), str(tmp_path / "docs2")
    _write_docs(spark, first, [(i, t, "en", "s", len(t))
                               for i, t in enumerate(_GOOD[:3], 1)])
    _write_docs(spark, second, [(10, _GOOD[0], "en", "s", 1),
                                (11, _GOOD[3], "en", "s", 1)])
    return first, second


def _feed_media(spark, tmp_path, sf_dir):
    import random

    first, second = tmp_path / "media1", tmp_path / "media2"
    rnd = random.Random(7)
    for d, ids in ((first, (1, 2)), (second, (3, 4))):
        d.mkdir()
        for i in ids:
            (d / f"img_{i}.png").write_bytes(rnd.randbytes(64))
    return str(first), str(second)


def _feed_embeddings(spark, tmp_path, sf_dir):
    from twitch_chat_analyser_spark import ingest
    from twitch_chat_analyser_spark.streaming import ann

    emb = ingest.load(spark, sf_dir, "embeddings")
    ann.write_codebook(spark, emb, str(tmp_path / "out"), k=8)
    first, second = str(tmp_path / "emb1"), str(tmp_path / "emb2")
    emb.filter("vec_id % 2 = 0").coalesce(1).write.parquet(first)
    emb.filter("vec_id % 2 = 1").coalesce(1).write.parquet(second)
    return first, second


def _append_logs():
    """{log: (start(spark, src, out, ckpt), feed, family)} over every
    streaming append log in streaming/dedup.py and streaming/ann.py."""
    import functools

    from twitch_chat_analyser_spark.streaming import ann

    return {
        "corpus_dedup": (dd.start_incremental_corpus_dedup, _feed_docs,
                         "corpus"),
        "corpus_prep": (dd.start_corpus_prep_stream, _feed_docs, "corpus"),
        "bloom": (dd.start_bloom_corpus_dedup, _feed_docs, "corpus"),
        "paragraph": (dd.start_paragraph_dedup_stream, _feed_docs,
                      "corpus"),
        "minhash": (dd.start_minhash_corpus_dedup, _feed_docs, "corpus"),
        "phash": (functools.partial(dd.start_phash_media_dedup, fake=True),
                  _feed_media, "media"),
        "ivf": (ann.start_ivf_index_stream, _feed_embeddings, "index"),
    }


@pytest.mark.parametrize("log", sorted(_append_logs()))
def test_fresh_checkpoint_is_refused_and_the_log_keeps_its_rows(
    spark, sf_dir, tmp_path, log
):
    """A second stream started with a fresh checkpoint against an
    existing ``out_dir`` restarts its batch ids at 0. It must be
    refused before it publishes anything, not overwrite or drop the
    first stream's rows."""
    import os

    start, feed, family = _append_logs()[log]
    out = str(tmp_path / "out")
    first, second = feed(spark, tmp_path, sf_dir)
    start(spark, first, out, str(tmp_path / "ckpt1")).awaitTermination()

    def rows():
        df = spark.read.parquet(os.path.join(out, family))
        return sorted(map(repr, df.collect()))

    before = rows()
    assert before
    with pytest.raises(Exception, match="checkpoint"):
        start(spark, second, out, str(tmp_path / "ckpt2")).awaitTermination()
    assert rows() == before


@pytest.mark.parametrize(
    "start", [dd.start_incremental_corpus_dedup, dd.start_bloom_corpus_dedup],
    ids=["exact", "bloom"],
)
def test_exact_fingerprint_streams_match_exact_dedup_on_null_text(
    spark, tmp_path, start
):
    """NULL, empty and whitespace-only texts dedup across micro-batches
    as the batch ``exact_dedup`` groups them over the union: the NULL
    texts are one group, the blank ones another."""
    import os

    from twitch_chat_analyser_spark.operators.dedup import exact_dedup

    src, out = str(tmp_path / "docs"), str(tmp_path / "out")
    rows1 = [(1, None, "en", "s", 0), (2, None, "en", "s", 0),
             (3, "  ", "en", "s", 2), (4, "", "en", "s", 0),
             (5, "real text", "en", "s", 9)]
    rows2 = [(6, None, "en", "s", 0), (7, "   ", "en", "s", 3),
             (8, "Real  Text", "en", "s", 10), (9, "other", "en", "s", 5)]
    for rows in (rows1, rows2):
        _write_docs(spark, src, rows)
        start(spark, src, out, str(tmp_path / "ckpt"),
              max_files_per_trigger=1).awaitTermination()
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "corpus")).collect()
    )
    want = sorted(
        r["doc_id"] for r in exact_dedup(
            spark.createDataFrame(rows1 + rows2, dd.DOC_SCHEMA)
        ).collect()
    )
    assert got == want == [1, 3, 5, 9]


def test_history_read_keeps_earlier_batches_only(spark, tmp_path):
    """A replayed batch must not probe its OWN rows, which a crash
    between its publishes can leave in a log: that would dedup the
    batch against itself. A later batch must see them. End to end:
    test_crash_at_history_publish_replays_to_exact_rows."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    fps = spark.createDataFrame([("a", 1), ("b", 2)], "fp string, doc_id long")
    for batch_id in (0, 1):
        dd._sink(spark, out, ckpt, batch_id, {
            "fingerprints": fps.filter(f"doc_id = {batch_id + 1}"),
        })

    def seen(batch_id):
        rows = dd._history(spark, out, "fingerprints", batch_id).collect()
        return sorted(r["doc_id"] for r in rows)

    assert seen(1) == [1]  # the replay of batch 1 sees batch 0 only
    assert seen(2) == [1, 2]
    assert dd._history(spark, str(tmp_path / "none"), "fingerprints", 0) is None


def _batch_survivors(spark, rows, quality_gate):
    """The batch operator over the union: (quality gate, then)
    ``exact_dedup``'s kept doc ids."""
    from twitch_chat_analyser_spark.operators import textops
    from twitch_chat_analyser_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(rows, dd.DOC_SCHEMA)
    if quality_gate:
        q = textops.quality_score(docs).filter(F.col("quality_score") >= 0.2)
        docs = docs.join(q.select("doc_id"), "doc_id")
    return sorted(r["doc_id"] for r in exact_dedup(docs).collect())


@pytest.mark.parametrize("crash_at", [1, 2])
@pytest.mark.parametrize("log", ["corpus_dedup", "corpus_prep"])
def test_crash_at_history_publish_replays_to_exact_rows(
    spark, tmp_path, monkeypatch, log, crash_at
):
    """Batch 1 crashes at its ``crash_at``-th fingerprint-bucket
    publish, after its corpus publish, so with ``crash_at=2`` one
    bucket of its own fingerprints is already live. The restart
    replays the batch, then runs batch 2, which repeats batch 1's
    content. The replay's history read must skip batch 1's own
    fingerprints, or the batch would dedup against itself; batch 2's
    must see them. At the end the corpus equals the batch operator
    over the union, every survivor's fingerprint is stored once, and
    corpus_prep's metrics count every survivor."""
    import os

    from twitch_chat_analyser_spark.streaming import bucketstore

    start, _, _ = _append_logs()[log]
    src, out, ckpt = (str(tmp_path / d) for d in ("docs", "out", "ckpt"))
    fps = os.path.join(out, "fingerprints")
    doc = lambda i, t: (i, t, "en", "s", len(t))  # noqa: E731
    batches = [
        [doc(1, _GOOD[0]), doc(2, _GOOD[1]), doc(3, _GOOD[0].upper())],
        [doc(10, _GOOD[2]), doc(11, _GOOD[3]), doc(12, _GOOD[4]),
         doc(13, "  " + _GOOD[1])],
        [doc(20, _GOOD[3]), doc(21, _GOOD[5])],
    ]
    gate = log == "corpus_prep"
    want2 = _batch_survivors(spark, batches[0] + batches[1], gate)
    want3 = _batch_survivors(spark, batches[0] + batches[1] + batches[2], gate)
    assert 20 not in want3

    def run():
        start(spark, src, out, ckpt,
              max_files_per_trigger=1).awaitTermination()

    def stored(family):
        df = spark.read.parquet(os.path.join(out, family))
        return sorted(r["doc_id"] for r in df.collect())

    _write_docs(spark, src, batches[0])
    run()
    real_rename = os.rename
    publishes = []

    def crashing_rename(a, b):
        if ".tmp-" in str(a) and str(b).startswith(fps + os.sep):
            publishes.append(b)
            if len(publishes) == crash_at:
                raise OSError("injected crash at publish")
        return real_rename(a, b)

    monkeypatch.setattr(bucketstore.os, "rename", crashing_rename)
    _write_docs(spark, src, batches[1])
    with pytest.raises(Exception):
        run()
    monkeypatch.setattr(bucketstore.os, "rename", real_rename)
    assert len(publishes) == crash_at
    assert stored("corpus") == want2  # the corpus publish happened
    own = spark.read.parquet(fps).filter("batch_id = 1").count()
    assert (own > 0) == (crash_at == 2)

    _write_docs(spark, src, batches[2])
    run()
    assert stored("corpus") == stored("fingerprints") == want3
    if gate:
        m = spark.read.parquet(os.path.join(out, "metrics")).collect()
        assert sorted(r["batch_id"] for r in m) == [0, 1, 2]
        assert sum(r["docs_new_unique"] for r in m) == len(want3)


def test_corpus_history_stays_bounded_over_100_triggers(
    spark, tmp_path, monkeypatch
):
    """100 one-document triggers with the fold cap at 4: every bucket of
    the corpus and fingerprint logs holds at most 4 part files, though
    some received more than 4 appends, and the corpus equals
    ``exact_dedup`` over the union."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from twitch_chat_analyser_spark.operators.dedup import exact_dedup
    from twitch_chat_analyser_spark.streaming import bucketstore

    monkeypatch.setattr(bucketstore, "APPEND_MAX_FILES", 4)
    src, out = tmp_path / "docs", str(tmp_path / "out")
    src.mkdir()
    rows = []
    for i in range(100):
        text = f"Doc  {i - 3}" if i % 7 == 3 else f"doc {i}"
        text = None if i % 17 == 5 else text
        rows.append((i, text, "en", "s", 0))
        f = src / f"part-{i:03d}.parquet"
        pq.write_table(pa.table({
            "doc_id": pa.array([i], pa.int64()),
            "text": pa.array([text], pa.string()),
            "lang": ["en"], "source": ["s"],
            "n_chars": pa.array([0], pa.int64()),
        }), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    dd.start_incremental_corpus_dedup(
        spark, str(src), out, str(tmp_path / "ckpt"), max_files_per_trigger=1
    ).awaitTermination()

    for family in ("corpus", "fingerprints"):
        root = os.path.join(out, family)
        counts = {
            e: len(bucketstore._flat_files(os.path.join(root, e)))
            for e in os.listdir(root)
        }
        assert counts and max(counts.values()) <= 4, (family, counts)
        # one row per append: a bucket holding more than 4 was folded
        appends = spark.read.parquet(root).groupBy("bucket").count()
        assert max(r["count"] for r in appends.collect()) > 4
    corpus = spark.read.parquet(os.path.join(out, "corpus")).collect()
    got = sorted(r["doc_id"] for r in corpus)
    want = sorted(
        r["doc_id"]
        for r in exact_dedup(spark.createDataFrame(rows, dd.DOC_SCHEMA)).collect()
    )
    assert got == want

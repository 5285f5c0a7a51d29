"""Streaming IVF index maintenance: incremental assignment equals the
batch ivf_topk plan, probes prune to centroid partitions, replays are
exactly-once."""

from __future__ import annotations

import os

from twitch_chat_analyser_spark import ingest
from twitch_chat_analyser_spark.operators import similarity
from twitch_chat_analyser_spark.streaming import ann

QUERY_IDS = [20, 21, 22]


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos_sim"], 12))
        for r in df.collect()
    )


def test_streamed_index_probe_equals_batch_ivf(spark, tmp_path):
    src = str(tmp_path / "emb")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    emb = ingest.load(spark, "/root/testdata/sf0.001", "embeddings")

    # freeze the codebook, then stream the corpus in two files
    ann.write_codebook(spark, emb, out, k=8)
    half = emb.filter("vec_id % 2 = 0")
    other = emb.filter("vec_id % 2 = 1")
    half.coalesce(1).write.mode("append").parquet(src)
    other.coalesce(1).write.mode("append").parquet(src)
    ann.start_ivf_index_stream(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()

    got = _rows(ann.probe_index(spark, out, QUERY_IDS, k=3))
    expected = _rows(similarity.ivf_topk(emb, QUERY_IDS, num_centroids=8, k=3))
    assert got == expected and len(got) == 9

    # replay from the same checkpoint: index unchanged (no duplicates)
    ann.start_ivf_index_stream(
        spark, src, out, ckpt, max_files_per_trigger=1
    ).awaitTermination()
    n = spark.read.parquet(os.path.join(out, "index")).count()
    assert n == emb.count()


def test_probe_scans_only_its_centroid_partitions(spark, tmp_path):
    src = str(tmp_path / "emb")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    emb = ingest.load(spark, "/root/testdata/sf0.001", "embeddings")
    ann.write_codebook(spark, emb, out, k=8)
    emb.coalesce(1).write.parquet(src)
    ann.start_ivf_index_stream(spark, src, out, ckpt).awaitTermination()

    # the partition filter must reach the scan: filtering one centroid's
    # bucket reads a strict subset of the index rows
    index = spark.read.parquet(os.path.join(out, "index"))
    one = index.filter("bucket = 0")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan
    assert 0 < one.count() < index.count()

"""Streaming ANN index maintenance: an IVF inverted-file index kept up
to date from an embedding stream.

The batch ANN path (`operators/similarity.py::ivf_topk`) assigns the
whole corpus to a codebook every query. A serving deployment instead
maintains the assignment incrementally: each micro-batch of new vectors
is assigned to its nearest centroid against the FROZEN codebook and
appended into a centroid-partitioned store — so a probe reads only its
centroid's partition (partition-pruned scan), and index growth costs
one broadcast join per batch, never a corpus rescan.

Exactly-once: a journaled append log (``bucketstore.append_into``) at
``index/bucket=<centroid id>/``: replays are no-ops, a fresh checkpoint
is refused, and a probe's bucket filter prunes to one directory.

The codebook is written once at stream start (small parquet) and read
back each batch — the same frozen-dim-refresh idiom as the emote dim
(SURVEY §2.A A9); retraining the codebook is a batch-side concern
(``similarity.kmeans_centroids``), after which the index is rebuilt.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.similarity import (
    _assign_to_centroids,
    as_double_vec,
    cosine,
)
from . import bucketstore

EMB_SCHEMA = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"


def assign_to_codebook(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (max cosine, ties to min centroid_id)
    via the broadcast codebook-array + map-side fold argmax
    (a Project, no aggregation — streaming-friendly). ``vecs`` needs (vec_id, v,
    v_nrm); ``centroids`` needs (centroid_id, c, c_nrm).

    Delegates to the batch IVF family's kernel
    (``similarity._assign_to_centroids``) — ONE assignment
    implementation, so the streaming index and the batch ``ivf_topk``
    can never drift out of lockstep on scoring or tie-breaks.

    -> vec_id, v, v_nrm, centroid_id
    """
    return _assign_to_centroids(vecs, centroids)


def write_codebook(
    spark: SparkSession, embeddings: DataFrame, out_dir: str, k: int = 8
) -> str:
    """Freeze a codebook (first-k convention, or pass a kmeans result
    through the same layout) to ``out_dir/codebook``."""
    path = os.path.join(out_dir, "codebook")
    cb = as_double_vec(embeddings).filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("c"),
        F.col("v_nrm").alias("c_nrm"),
    )
    cb.write.mode("overwrite").parquet(path)
    return path


def start_ivf_index_stream(
    spark: SparkSession,
    emb_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Embedding stream -> nearest-centroid assignment against the
    frozen codebook -> centroid-partitioned index append."""
    codebook_path = os.path.join(out_dir, "codebook")
    cb = spark.read.parquet(codebook_path)
    cids = [r[0] for r in cb.select("centroid_id").collect()]  # fold hint

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        centroids = spark.read.parquet(codebook_path)
        assigned = assign_to_codebook(as_double_vec(batch_df), centroids)
        bucket = F.col("centroid_id").cast("int").alias("bucket")
        bucketstore.append_into(
            spark, os.path.join(out_dir, "index"),
            assigned.select("vec_id", "v", "v_nrm", bucket),
            batch_id, bucketstore.stream_identity(checkpoint_dir), cids,
        )

    reader = spark.readStream.schema(EMB_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(emb_dir)
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def probe_index(
    spark: SparkSession, out_dir: str, query_ids: list[int], k: int = 3
) -> DataFrame:
    """Query the maintained index: each query vector reads ONLY its
    centroid's partition (the ``bucket`` equi-join prunes the scan) and
    exact cosine re-ranks inside it. Same semantics as
    ``similarity.ivf_topk`` with the same codebook.

    -> query_id, neighbor_id, cos_sim, rank
    """
    from pyspark.sql import Window

    index = spark.read.parquet(os.path.join(out_dir, "index"))
    queries = index.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("q"),
        F.col("v_nrm").alias("q_nrm"),
        "bucket",
    )
    cos_sim = cosine("q", "v").alias("cos_sim")
    scored = (
        index.select(
            F.col("vec_id").alias("neighbor_id"), "v", "v_nrm", "bucket"
        )
        .join(F.broadcast(queries), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos_sim)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )

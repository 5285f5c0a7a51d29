"""corpus_curation: the ``tools/run_pipeline.py`` operator chain over a
seeded document corpus, ending in committed training shards.

quality gate -> exact-span rewrite -> MinHash pairs -> near-dup clusters
-> temperature mixture -> shards. After the chains, loader clients read
the committed shards back.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
import threading
import time

import gen
from common import pct
from tracing import Tracer, spark_counters

SHARDS = 4
MIN_CHAINS = 2
READ_CLIENTS = 2
READ_WARM_S = 1.0      # untimed shard reads first, so every file is opened once
READ_SECONDS = 3.0
GROUP = "bench-curation"
STAGES = [
    ("gate", "textops.gate_ms"),
    ("span_rewrite", "dedup.span_rewrite_ms"),
    ("minhash_pairs", "dedup.minhash_pairs_ms"),
    ("clusters", "graph.clusters_ms"),
    ("mixture", "sampling.mixture_ms"),
    ("shards", "storage.shards_ms"),
]


def chain(spark, docs_path: str, out: str, tracer, parent=None) -> dict:
    """One curation run, wired as run_pipeline.py wires it; returns its
    frames. Untraced, the plan is run_pipeline.py's own: lazy stages, the
    MinHash pairs computed for both the clusters and their
    representatives. Traced, each stage ends in a materialized barrier
    so its span holds its own work."""
    from pyspark.sql import functions as F
    from twitch_chat_analyser_spark import storage
    from twitch_chat_analyser_spark.operators import dedup, graph, sampling, textops

    sc = spark.sparkContext
    traced = tracer.enabled

    def stage(name: str):
        sc.setJobGroup(f"{GROUP}-{name}", name)
        return tracer.span(f"curation.{name}", parent)

    def settle(df):
        return df.localCheckpoint() if traced else df

    docs = spark.read.parquet(docs_path)
    with stage("gate"):
        labels = (textops.quality_rule_flags(docs).select("doc_id", "quality_pass")
                  .localCheckpoint(eager=False))
        nb = textops.nb_quality_score(docs, labels=labels)
        lm = textops.bigram_lm_surprise(docs, labels=labels)
        keep = (labels.filter("quality_pass")
                .join(nb.filter("nb_pass").select("doc_id"), "doc_id", "left_semi")
                .join(lm.filter("lm_pass").select("doc_id"), "doc_id", "left_semi")
                .select("doc_id"))
        good = settle(docs.join(keep, "doc_id", "left_semi"))
    with stage("span_rewrite"):
        rewritten = dedup.remove_duplicate_spans(good, shingle_k=5)
        corpus = (
            good.select("doc_id", "lang", "source")
            .join(rewritten.filter("n_kept > 0").select("doc_id", "text_dedup"), "doc_id")
            .select("doc_id", F.col("text_dedup").alias("text"), "lang", "source",
                    F.length("text_dedup").cast("long").alias("n_chars"))
            .localCheckpoint(eager=traced)
        )
    with stage("minhash_pairs"):
        pairs = settle(dedup.minhash_dedup_pairs(corpus, 8, 3, 0.5, sort=False))
    with stage("clusters"):
        clusters = graph.dedup_clusters(corpus, pairs)
        reps = settle(graph.cluster_representatives(
            corpus, pairs, textops.quality_score(corpus), clusters=clusters))
        members = clusters.join(reps.select("cluster_id"), "cluster_id",
                                "left_semi").select("doc_id")
        deduped = settle(corpus.join(members, "doc_id", "left_anti").unionByName(
            corpus.join(reps.select(F.col("rep_doc_id").alias("doc_id")),
                        "doc_id", "left_semi")))
    with stage("mixture"):
        mixed = sampling.mixture_temperature(deduped, tau=0.5, budget_fraction=0.8)
        final = settle(deduped.join(mixed.select("doc_id"), "doc_id", "left_semi"))
    with stage("shards"):
        storage.write_training_shards(final, out, epoch=0, shards=SHARDS)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return {"gated": good, "pairs": pairs, "clusters": reps}


def shard_rows(spark, out: str) -> list[tuple]:
    return [tuple(r) for r in spark.read.parquet(out).orderBy("shuffle_rank").collect()]


def digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def run(spark, work: str, seed: int, seconds: int, tracer, cores: int, clock) -> dict:
    phases = {"start": time.time()}
    corpus = gen.make_corpus(seed)
    failures: list[str] = []

    # set-up: stage the corpus and run the chain once. This first chain
    # in the JVM pays every operator's first-run cost, which a JVM pays
    # only once, so set-up is not repeated: a repeat would time a warm
    # chain, which is what the timed chains measure.
    docs_path = os.path.join(work, "corpus", "docs.parquet")
    t0 = time.time()
    gen.write_corpus(corpus, docs_path)
    chain(spark, docs_path, os.path.join(work, "setup"), Tracer(False))
    setup = (t0, time.time())
    phases["setup"] = time.time()

    chains, hashes, final = [], set(), 0   # (wall start, wall end) per chain
    t_start = time.time()
    deadline = time.perf_counter() + seconds
    i = 0
    while i < MIN_CHAINS or time.perf_counter() < deadline:
        out = os.path.join(work, f"shards{i}")
        t0 = time.time()
        with tracer.span("curation.chain") as sid:
            frames = chain(spark, docs_path, out, tracer, sid)
        chains.append((t0, time.time()))
        rows = shard_rows(spark, out)
        final = len(rows)
        hashes.add(digest(rows))
        ids = {r[0] for r in rows}
        for orig, copies in corpus.exact_groups.items():
            if ids & set(copies):
                failures.append(f"planted exact duplicate of doc {orig} survived")
        if i:
            shutil.rmtree(os.path.join(work, f"shards{i - 1}"))
        i += 1
    t_chains = phases["chains"] = time.time()
    # the traced chain's stages are checkpointed, so counting is cheap
    counts = {k: df.count() for k, df in frames.items()} if tracer.enabled else {}
    counts["final"] = final
    if len(hashes) != 1:
        failures.append(f"shards differ between chains of one seed: {sorted(hashes)}")
    if not final or counts.get("clusters") == 0:
        failures.append(f"degenerate curation output: {counts}")

    # loader clients read the committed shards back, closed loop
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    reads: list[tuple[float, float]] = []   # (wall start, wall end)
    lock = threading.Lock()

    def loader(k: int, seconds: float, timed: list) -> None:
        rng = random.Random(seed * 31 + k)
        spark.sparkContext.setJobGroup(f"{GROUP}-read", "shard read")
        stop = time.perf_counter() + seconds
        while time.perf_counter() < stop:
            f = rng.choice(files)
            t0 = time.time()
            ranks = [r[0] for r in spark.read.parquet(f).select("shuffle_rank").collect()]
            t1 = time.time()
            with lock:
                if ranks != sorted(ranks) or not ranks:
                    failures.append(f"shard {os.path.basename(f)} is not rank-ordered")
                timed.append((t0, t1))

    def readers(seconds: float, timed: list) -> None:
        clients = [threading.Thread(target=loader, args=(k, seconds, timed))
                   for k in range(READ_CLIENTS)]
        for c in clients:
            c.start()
        for c in clients:
            c.join()

    readers(READ_WARM_S, [])
    r0 = time.time()
    readers(READ_SECONDS, reads)
    phases["reads"] = r1 = time.time()

    def figures(span) -> dict[str, float]:
        """The end-to-end figures with every interval measured by ``span``."""
        chain_s = [span(*w) for w in chains]
        read_ms = [span(*w) * 1000.0 for w in reads]
        return {
            "setup_s": span(*setup),
            "freshness_p50_ms": pct(chain_s, 0.5) * 1000.0,
            "freshness_p90_ms": pct(chain_s, 0.9) * 1000.0,
            "throughput_per_s": final * len(chain_s) / sum(chain_s),
            "read_p50_ms": pct(read_ms, 0.5),
            "reads_per_s": len(reads) / span(r0, r1),
        }

    result = figures(clock.corrected)
    raw = figures(lambda start, end: end - start)
    layers = {}
    if tracer.enabled:
        for name, metric in STAGES:
            layers[metric] = tracer.median_ms(f"curation.{name}")
        layers["dedup.pairs"] = float(counts["pairs"])
        layers["graph.clusters"] = float(counts["clusters"])
        layers["self.curation_ms"] = tracer.self_ms("curation.chain")
        layers["reads.p90_ms"] = pct([(b - a) * 1000.0 for a, b in reads], 0.9)
        sp = spark_counters(spark, t_start, t_chains, cores, GROUP)
        layers.update(sp)
        layers["spark.jobs_per_chain"] = sp["spark.jobs"] / len(chains)
    counts.update({"attempted": len(chains) + len(reads),
                   "samples.chains": len(chains), "samples.read": len(reads),
                   "shards_sha256": next(iter(hashes)) if len(hashes) == 1 else ""})
    t = phases.pop("start")
    for k, v in phases.items():
        counts[f"phase.{k}_s"], t = round(v - t, 2), v
    return {"metrics": result, "raw": raw, "layers": layers, "failures": failures,
            "counts": counts}

"""live_mixed: open-loop chat ingest through ``run_all`` beside one
closed-loop dashboard client.

A generator thread publishes one file every ``INTERVAL_S`` on a fixed
schedule that never waits for the system; ``run_all`` runs back-to-back
triggers over the growing source directory; one reader thread serves
seeded dashboard pages from the live stores. Freshness is measured
from outside: the checkpoint's file-source log says which batch took
each file, and the batch's commit marker says when it committed.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from datetime import datetime

import gen
import pages
from common import dir_bytes, median, pct
from tracing import Tracer, spark_counters

RATE = 1000            # messages per second, fixed for every run
INTERVAL_S = 0.25      # one published file per slot
HISTORY_MSGS = 20_000  # replayed into fresh stores by each set-up
HISTORY_DAYS = 7
HISTORY_FILES = 4
SETUP_REPS = 2
DRAIN_TIMEOUT_S = 60
QUIET_SECONDS = 8.0    # page mix read on settled stores before the stream
QUIET_CLIENTS = 2
TABLES = ["channel_stats", "user_stats", "emote_stats", "user_emote_stats",
          "phrase_stats"]
SIDE_OUTPUT = "messages_matching_phrase"
READ_GROUP = "bench-read"


class StampedList(list):
    """``merge_metrics`` sink that stamps each record with its arrival
    time, which is when the program's step ended."""

    def append(self, rec):
        super().append((time.time(), rec))


def _progress(p) -> dict:
    return json.loads(p.json) if hasattr(p, "json") else dict(p)


def _file_batches(ck: str) -> dict[str, int]:
    """Source file name -> batch id, from the file-source metadata log."""
    out: dict[str, int] = {}
    for log in glob.glob(os.path.join(ck, "single_pass", "sources", "0", "*")):
        if os.path.basename(log).startswith("."):
            continue
        with open(log) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                name = os.path.basename(e["path"])
                out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def _commit_time(ck: str, batch: int) -> float | None:
    try:
        return os.stat(os.path.join(ck, "single_pass", "commits", str(batch))).st_mtime
    except FileNotFoundError:
        return None


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Reader:
    """Closed-loop dashboard clients: each serves the next page of the
    shared seeded mix as soon as its previous page returns."""

    def __init__(self, spark, out: str, mix: pages.Mix, tracer, attempts: int = 1):
        self.spark, self.out, self.mix, self.tracer = spark, out, mix, tracer
        self.attempts = attempts
        self.lock = threading.Lock()
        # (spec, ms, build ms, exec ms, result, wall start, wall end) per page
        self.served: list[tuple] = []
        self.failures: list[str] = []
        self.retries = 0

    def _serve(self, spec: pages.PageSpec):
        """Serve one page. A read racing a concurrent merge can find its
        store renamed away, healed back or its listed files gone;
        read_table leaves the retry to its caller, so a reader beside
        the stream gets ``attempts`` tries."""
        for attempt in range(self.attempts):
            try:
                return pages.serve(self.spark, self.out, spec, self.tracer)
            except Exception as exc:  # retried, else counted as failed
                with self.lock:
                    if attempt + 1 == self.attempts:
                        self.failures.append(
                            f"page {spec}: {type(exc).__name__}: {exc}"[:500])
                        return None
                    self.retries += 1
        return None

    def loop(self, stop_at: float, rounds: int | None) -> None:
        self.spark.sparkContext.setJobGroup(READ_GROUP, "dashboard page")
        while time.time() < stop_at:
            with self.lock:
                if rounds is not None and self.mix.rounds >= rounds and not self.mix.round:
                    return
                spec = self.mix.next()
            w0, t0 = time.time(), time.perf_counter()
            got = self._serve(spec)
            if got is None:
                continue
            res, b, e = got
            ms = (time.perf_counter() - t0) * 1000.0
            with self.lock:
                self.served.append((spec, ms, b * 1000.0, e * 1000.0, res, w0, time.time()))

    def run(self, clients: int, seconds: float = float("inf"),
            rounds: int | None = None) -> None:
        """Serve for ``seconds``, or until ``rounds`` more rounds are done."""
        stop_at = time.time() + seconds
        if rounds is not None:
            rounds += self.mix.rounds
        threads = [threading.Thread(target=self.loop, args=(stop_at, rounds))
                   for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()


def run(spark, work: str, seed: int, seconds: int, tracer, cores: int, clock) -> dict:
    from twitch_chat_analyser_spark.streaming.pipeline import run_all

    phases = {"start": time.time()}
    chat = gen.ChatGenerator(seed)
    history = gen.history_tables(chat, HISTORY_MSGS, HISTORY_DAYS, HISTORY_FILES)
    n_files = int(seconds / INTERVAL_S)
    live = gen.live_tables(chat, RATE, INTERVAL_S, n_files)
    mix = pages.Mix(seed * 7919 + 1, chat.zipf_user)

    # set-up: stage the replay corpus and drain it into fresh stores,
    # SETUP_REPS times; the last stores carry on into the live phase
    setup_s, replay_s = [], []   # (wall start, wall end)
    for k in range(SETUP_REPS):
        src, out, ck = (os.path.join(work, f"{d}{k}") for d in ("src", "out", "ck"))
        t0 = time.time()
        gen.write_tables(history, src, "hist")
        t1 = time.time()
        run_all(spark, src, out, ck, max_files_per_trigger=HISTORY_FILES)
        setup_s.append((t0, time.time()))
        replay_s.append((t1, time.time()))
        if k:
            for d in ("src", "out", "ck"):
                shutil.rmtree(os.path.join(work, f"{d}{k - 1}"))
    phases["setup"] = time.time()
    first_live_batch = len(glob.glob(os.path.join(ck, "single_pass", "commits", "[0-9]*")))

    # warm the read path once per page kind, all kinds at once, then
    # serve the quiet phase on the settled stores, whose rows DuckDB
    # holds for the checks
    warm = Reader(spark, out, mix, Tracer(False))
    warm.run(len(pages.KINDS), rounds=1)
    phases["warm_pages"] = time.time()
    snapshot = pages.snapshot(out)
    quiet = Reader(spark, out, mix, tracer)
    q0 = time.time()
    quiet.run(QUIET_CLIENTS, QUIET_SECONDS)
    phases["quiet_reads"] = q1 = time.time()

    staged = gen.write_tables(live, os.path.join(work, "staged"), "live")
    hook = StampedList()
    failures: list[str] = []
    progress: list = []

    def stream() -> None:
        try:
            progress.extend(run_all(spark, src, out, ck,
                                    trigger={"processingTime": "0 seconds"},
                                    merge_metrics=hook)[0])
        except Exception as exc:  # reported as a failed run below
            failures.append(f"run_all: {exc!r}")

    writer = threading.Thread(target=stream, name="run_all")
    writer.start()
    deadline = time.time() + 60
    while not spark.streams.active and writer.is_alive() and time.time() < deadline:
        time.sleep(0.05)

    published: list[tuple[str, float, float]] = []   # name, due, actual
    t_start = time.time() + 0.5

    def generator() -> None:
        for i, path in enumerate(staged):
            due = t_start + i * INTERVAL_S
            time.sleep(max(0.0, due - time.time()))
            name = os.path.basename(path)
            os.rename(path, os.path.join(src, name))
            published.append((name, due, time.time()))

    # one dashboard client keeps reading while the stream writes; its
    # pages see stores mid-swap, so they are timed but not compared
    contended = Reader(spark, out, mix, Tracer(False), attempts=5)
    threads = [threading.Thread(target=generator, name="generator"),
               threading.Thread(target=contended.run, args=(1, seconds + 0.5))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    phases["live"] = time.time()

    # drain: every published file must reach a committed batch
    last = os.path.basename(staged[-1])
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline and writer.is_alive():
        b = _file_batches(ck).get(last)
        if b is not None and _commit_time(ck, b) is not None:
            break
        time.sleep(0.1)
    else:
        failures.append("live files not committed before the drain timeout")
    t_end = time.time()
    for q in spark.streams.active:
        q.stop()
    writer.join(timeout=120)
    phases["drain_stop"] = time.time()

    # --- end-to-end figures -------------------------------------------
    batches = _file_batches(ck)
    commits = []   # (scheduled publish, commit) per file
    for name, due, _actual in published:
        c = _commit_time(ck, batches.get(name, -1))
        if c is None:
            failures.append(f"{name} never committed")
        else:
            commits.append((due, c))
    prog = [_progress(p) for p in progress]
    prog = [p for p in prog if p["batchId"] >= first_live_batch and p["numInputRows"] > 0]
    live_rows = sum(p["numInputRows"] for p in prog)
    lat = [s[1] for s in quiet.served]

    def figures(span) -> dict[str, float]:
        """The end-to-end figures with every interval measured by ``span``."""
        fresh = [span(due, c) * 1000.0 for due, c in commits]
        by_kind: dict[str, list[float]] = {}
        for s in quiet.served:
            by_kind.setdefault(s[0].kind, []).append(span(s[5], s[6]) * 1000.0)
        return {
            "setup_s": median([span(*w) for w in setup_s]),
            "freshness_p50_ms": pct(fresh, 0.5),
            "freshness_p90_ms": pct(fresh, 0.9),
            # replays after the first, which also pays the fresh JVM's warm-up
            "throughput_per_s": HISTORY_MSGS * (SETUP_REPS - 1)
            / sum(span(*w) for w in replay_s[1:]),
            # each kind's median page, averaged over the kinds: a pooled
            # median of a few pages per kind jumps between fast and slow kinds
            "read_p50_ms": statistics.fmean(median(v) for v in by_kind.values()),
            "reads_per_s": len(quiet.served) / span(q0, q1),
        }

    result = figures(clock.corrected)
    raw = figures(lambda start, end: end - start)

    # --- checks ---------------------------------------------------------
    failures += warm.failures + quiet.failures + contended.failures
    if live_rows != RATE * INTERVAL_S * n_files:
        failures.append(f"live rows processed {live_rows} != published "
                        f"{int(RATE * INTERVAL_S * n_files)}")
    failures += check_stores(spark, src, out)
    failures += pages.check(snapshot, [(s[0], s[4]) for s in quiet.served])
    snapshot.close()
    phases["checks"] = time.time()
    counts = {"attempted": len(published) + len(quiet.served) + len(contended.served)
              + len(failures),
              "samples.freshness": len(commits), "samples.read": len(lat),
              "samples.contended_read": len(contended.served),
              "samples.triggers": len(prog)}
    t = phases.pop("start")
    for k, v in phases.items():
        counts[f"phase.{k}_s"], t = round(v - t, 2), v

    layers = {}
    if tracer.enabled:
        layers = layer_metrics(spark, tracer, prog[1:] or prog, hook, ck, published,
                               quiet.served, (q0, q1), out, t_start, t_end, cores)
        layers["api.read_retries"] = float(quiet.retries + contended.retries)
        layers["api.contended_read_p50_ms"] = pct([s[1] for s in contended.served], 0.5)
        layers["reads.p90_ms"] = pct(lat, 0.9)
    return {"metrics": result, "raw": raw, "layers": layers, "failures": failures,
            "counts": counts, "replay_corpus": history}


def check_stores(spark, src: str, out: str) -> list[str]:
    """Duality D4: every store the stream built holds exactly the batch
    transform of the same messages, ``timestamp = 0`` totals and the
    side output included. The transform is the registry's DuckDB oracle
    for the write path, fed the generated files."""
    import duckdb
    from twitch_chat_analyser_spark import ingest, registry
    from twitch_chat_analyser_spark.streaming.pipeline import default_pipelines

    oracle = {k: v.replace(ingest.messages_cte_sql(), "SELECT * FROM generated")
              for k, v in registry.write_path_oracles().items()}
    con = duckdb.connect()
    bad = []
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("CREATE TABLE generated AS SELECT ts, epoch_ms(ts) AS timestamp, "
                    f"channel, username, message FROM read_parquet('{src}/*.parquet')")
        for p in default_pipelines(spark):
            got = f"read_parquet('{out}/{p.name}/*.parquet')"
            value = [c for c in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall()
                     if c[0] not in p.keys][0][0]
            dim = ", ".join(k for k in p.keys if k != "timestamp")
            cols = ", ".join(p.keys + [value])
            want = (f"SELECT {cols} FROM ({oracle[p.name]}) UNION ALL "
                    f"SELECT {dim}, 0 AS timestamp, CAST(sum({value}) AS BIGINT) "
                    f"FROM ({oracle[p.name]}) GROUP BY {dim}")
            bad += _differs(con, p.name, f"SELECT {cols} FROM {got}",
                            f"SELECT {cols} FROM ({want})")
        side = f"read_parquet('{out}/{SIDE_OUTPUT}/*/*.parquet', hive_partitioning = false)"
        bad += _differs(con, SIDE_OUTPUT, f"SELECT * FROM {side}",
                        oracle[SIDE_OUTPUT])
    finally:
        con.close()
    return bad


def _differs(con, name: str, got: str, want: str) -> list[str]:
    n = con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want})) UNION ALL "
                    f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))").fetchall()
    if any(r[0] for r in n):
        return [f"store {name} differs from the batch transform ({n})"]
    return []


def layer_metrics(spark, tracer, prog, hook, ck, published, served, quiet_window,
                  out, t_start, t_end, cores) -> dict[str, float]:
    m: dict[str, float] = {}
    d = [p["durationMs"] for p in prog]
    m["pipeline.trigger_ms"] = median([x["triggerExecution"] for x in d])
    m["pipeline.add_batch_ms"] = median([x.get("addBatch", 0) for x in d])
    m["pipeline.query_planning_ms"] = median([x.get("queryPlanning", 0) for x in d])
    m["pipeline.commit_ms"] = median([x.get("commitOffsets", 0) for x in d])
    m["pipeline.rows_per_trigger"] = median([p["numInputRows"] for p in prog])
    m["sources.get_batch_ms"] = median([x.get("getBatch", 0) for x in d])
    ratios = [p["inputRowsPerSecond"] / p["processedRowsPerSecond"]
              for p in prog if p.get("processedRowsPerSecond")]
    m["sources.input_vs_processed_ratio"] = median(ratios)

    # backlog: files published before a trigger started that neither it
    # nor an earlier batch took
    batches = _file_batches(ck)
    live_batch = {n: batches[n] for n, _, _ in published if n in batches}
    backlog = []
    for p in prog:
        t = _iso(p["timestamp"])
        waiting = sum(1 for n, _, a in published
                      if a <= t and live_batch.get(n, 1 << 62) > p["batchId"])
        backlog.append(waiting)
    m["sources.backlog_files_max"] = float(max(backlog, default=0))
    late = [(a - due) * 1000.0 for _, due, a in published]
    m["generator.late_p90_ms"] = pct(late, 0.9)

    # the program's own per-step records, as spans under their trigger
    steps: dict[str, list[float]] = {}
    seen: set[tuple] = set()
    skips = 0
    trigger_span = {}
    for p in prog:
        start = _iso(p["timestamp"])
        trigger_span[p["batchId"]] = tracer.add(
            "pipeline.trigger", start, start + p["durationMs"]["triggerExecution"] / 1000.0)
    for end, rec in hook:
        key = {"span_agg": "pipeline.span_agg_ms", "side_output": "merge.side_output_ms"}.get(
            rec["step"], f"merge.{rec.get('table')}_ms")
        sec = rec.get("merge_sec", rec.get("sec", 0.0))
        steps.setdefault(key, []).append(sec * 1000.0)
        ident = (rec["step"], rec.get("table"), rec["batch_id"])
        skips += ident in seen
        seen.add(ident)
        parent = trigger_span.get(rec["batch_id"])
        if parent is not None:
            tracer.add(key, end - sec, end, parent)
    for key, vals in steps.items():
        m[key] = median(vals)
    m["store.replay_skips"] = float(skips)
    for t in TABLES:
        m[f"store.{t}_bytes"] = float(dir_bytes(os.path.join(out, t)))

    parts: dict[str, list[float]] = {}
    for spec, _ms, b, e, *_ in served:
        parts.setdefault(f"api.{spec.kind}_build_ms", []).append(b)
        parts.setdefault(f"api.{spec.kind}_exec_ms", []).append(e)
    for key, vals in parts.items():
        m[key] = median(vals)
    m["serve.read_table_ms"] = tracer.median_ms("serve.read_table")
    m["self.pipeline_ms"] = tracer.self_ms("pipeline.trigger")
    m["self.api_build_ms"] = median([tracer.self_ms(f"api.{k}.build") for k in pages.KINDS])

    sp = spark_counters(spark, t_start, t_end, cores)
    live_reads = spark_counters(spark, t_start, t_end, cores, READ_GROUP)
    quiet_reads = spark_counters(spark, *quiet_window, cores, READ_GROUP)
    m.update(sp)
    m["spark.jobs_per_read"] = quiet_reads["spark.jobs"] / max(len(served), 1)
    m["spark.jobs_per_trigger"] = (sp["spark.jobs"] - live_reads["spark.jobs"]) / max(len(prog), 1)
    return m


def local1_baseline(spark, work: str, res: dict):
    """Traced runs only: the set-up replay again on ``local[1]``, the
    single-threaded baseline (recorded, not gated). Restarts the
    session on one core and returns it."""
    from common import start_spark
    from twitch_chat_analyser_spark.streaming.pipeline import run_all

    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = start_spark("perfbench-local1")
    src, out, ck = (os.path.join(work, f"local1-{d}") for d in ("src", "out", "ck"))
    gen.write_tables(res["replay_corpus"], src, "hist")
    t0 = time.perf_counter()
    run_all(spark, src, out, ck, max_files_per_trigger=HISTORY_FILES)
    res["layers"]["baseline.local1_replay_msgs_per_s"] = (
        HISTORY_MSGS / (time.perf_counter() - t0))
    return spark

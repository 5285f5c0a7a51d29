#!/usr/bin/env python3
"""Benchmark driver for twitch_chat_analyser_spark.

    python3 perfbench/run.py --workload live_mixed --seed 1 --seconds 8 --trace 0

Run from the repository root. Builds the seeded inputs for the workload,
drives the package through its public functions on ``local[<vCPUs / 2>]``,
checks every output, and prints a human-readable summary followed by one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list, with
``--trace 1`` its ``per_layer`` list (layers a workload does not touch
read 0). Scratch files live in ``perfbench/_work/`` and each run appends
its full record, loadavg and peak RSS included, to
``perfbench/_work/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("live_mixed", "corpus_curation")

# units of the end-to-end figures a run prints but BENCHMARK.json does
# not gate (each is a per-layer figure of the traced run instead)
UNITS = {"freshness_p90_ms": "ms", "throughput_per_s": "1/s", "reads_per_s": "1/s"}

# what each end-to-end metric is called in the workload's own terms
ALIASES = {
    "live_mixed": {
        "freshness_p50_ms": "freshness p50 (publish -> batch commit)",
        "freshness_p90_ms": "freshness p90 (publish -> batch commit)",
        "throughput_per_s": "replay_msgs_per_s (set-up replay)",
        "read_p50_ms": "page_p50_ms (each kind's median, mean over kinds; settled stores)",
        "reads_per_s": "pages_per_s (settled stores, 2 clients)",
    },
    "corpus_curation": {
        "setup_s": "stage corpus + first chain in the JVM",
        "freshness_p50_ms": "curation_s p50 x1000 (corpus -> shards committed)",
        "freshness_p90_ms": "curation_s p90 x1000 (over the few chains of a run)",
        "throughput_per_s": "surviving documents committed per second of chain",
        "read_p50_ms": "shard read p50 (parquet read of the committed shards)",
        "reads_per_s": "shard reads per second",
    },
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "twitch_chat_analyser_spark")):
        print("run.py: twitch_chat_analyser_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import common
    from tracing import Tracer

    vcpus = common.cores()
    cores = common.task_slots(vcpus)
    load_start = os.getloadavg()
    cpu_start = common.cpu_ticks()
    base = os.path.join(HERE, "_work")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.configure_env(work, cores)
    tracer = Tracer(bool(args.trace))
    clock = common.HostClock()

    t0 = time.perf_counter()
    spark = common.start_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        if args.workload == "live_mixed":
            import live as workload
        else:
            import curation as workload
        res = workload.run(spark, work, args.seed, args.seconds, tracer, cores, clock)
        res["metrics"]["peak_rss_mb"] = common.peak_rss_mb(common.jvm_pid(spark))
        if args.trace and args.workload == "live_mixed":
            spark = workload.local1_baseline(spark, work, res)
    finally:
        common.stop_spark(spark)
        clock.stop()
    load_end = os.getloadavg()
    steal = common.steal_share(cpu_start, common.cpu_ticks())
    shutil.rmtree(work, ignore_errors=True)

    e2e = res["metrics"]
    layers = dict(res["layers"])
    layers["run.session_start_s"] = session_s
    layers["run.cpu_steal_share"] = steal
    layers.update({f"traced.{k}": v for k, v in e2e.items()})
    layers.update({f"raw.{k}": v for k, v in res["raw"].items()})
    failures = res["failures"]
    loaded = load_start[0] > vcpus
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "vcpus": vcpus, "cores": cores, "loadavg_start": load_start,
        "loadavg_end": load_end, "loaded_start": loaded, "cpu_steal_share": steal,
        "end_to_end": e2e, "raw": res["raw"], "per_layer": layers, "counts": res["counts"],
        "failures": failures,
    }
    with open(os.path.join(base, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
    if missing:
        failures.append(f"end-to-end metrics not produced: {missing}")
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    attempted = max(int(res["counts"]["attempted"]), len(failures), 1)
    aliases = ALIASES[args.workload]
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"vcpus={vcpus} spark=local[{cores}] loadavg start={load_start[0]:.2f} end={load_end[0]:.2f} "
          f"cpu steal={steal:.3f}"
          + (" LOADED: loadavg above core count at start" if loaded else ""))
    gated = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, v in e2e.items():
        unit = gated.get(name, UNITS.get(name, ""))
        note = "" if name in gated else " [not gated]"
        print(f"  {name:<18} {v:>14.4f} {unit:<6} raw {res['raw'].get(name, v):>12.4f}  "
              f"{aliases.get(name, '')}{note}")
    print(f"  {'error_rate':<18} {len(failures) / attempted:>14.4f} ratio  "
          f"({len(failures)} failed of {attempted} attempted)")
    print(f"  counts: {json.dumps(res['counts'])}")
    for f in failures[:20]:
        print(f"  FAILED: {f}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

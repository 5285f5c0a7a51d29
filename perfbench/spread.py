#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload live_mixed --seeds 1-10 [--trace 0]
    python3 perfbench/spread.py --workload live_mixed --seeds 1-10 --sets 2
    python3 perfbench/spread.py --workload live_mixed --seeds 1-3 --overhead

Runs ``run.py`` once per seed, one run at a time, and prints per metric
the median and the quartile spread (Q3 - Q1) / median, next to the
metric's bound from BENCHMARK.json. A spread above the bound fails the
acceptance check (``setup_s`` excepted: only its median is held to its
bound); a spread above a third of the bound is flagged as not steady
enough to trust. With ``--sets 2`` the seed list runs twice and each
metric's second median is compared with its first: a change in the
metric's worse direction by more than its bound fails.

``--overhead`` runs every seed untraced and traced and prints, per
end-to-end metric, the traced median minus the untraced one: the cost
of tracing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    def run(seed: int, trace: int) -> dict | None:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        if proc.returncode:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return None
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed} trace {trace}: correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if trace == 0 or k.startswith("traced.")),
              flush=True)
        return {k: v["value"] for k, v in res["metrics"].items()}

    if args.overhead:
        plain: dict[str, list[float]] = {}
        traced: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            a, b = run(seed, 0), run(seed, 1)
            if a is None or b is None:
                return 1
            for k, v in a.items():
                plain.setdefault(k, []).append(v)
                traced.setdefault(k, []).append(b[f"traced.{k}"])
        for k in plain:
            u, t = statistics.median(plain[k]), statistics.median(traced[k])
            print(f"{k:<24} untraced={u:<12.5g} traced={t:<12.5g} overhead={t - u:+.5g}")
        return 0

    metrics = {m["name"]: m for m in spec["end_to_end"]}
    sets: list[dict[str, list[float]]] = []
    for n in range(args.sets):
        values: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            res = run(seed, args.trace)
            if res is None:
                return 1
            for k, v in res.items():
                values.setdefault(k, []).append(v)
        sets.append(values)
        print(f"set {n + 1}:")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            share = (q3 - q1) / med if med else float("inf")
            bound = metrics.get(k, {}).get("bound")
            flag = ""
            if bound is not None and k == "setup_s":
                flag = "  (spread not held to the bound)"
            elif bound is not None and share > bound:
                flag = "  <-- ABOVE BOUND"
            elif bound is not None and share >= bound / 3:
                flag = "  <-- above bound/3"
            print(f"  {k:<34} median={med:<12.5g} spread={share:.3f} bound={bound}{flag}")
    if len(sets) > 1 and args.trace == 0:
        print(f"set {len(sets)} against set 1 (share of set 1's median, + is worse):")
        for k, m in metrics.items():
            a, b = statistics.median(sets[0][k]), statistics.median(sets[-1][k])
            worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
            flag = "  <-- ABOVE BOUND" if worse > m["bound"] else ""
            print(f"  {k:<34} {a:<12.5g} -> {b:<12.5g} change={worse:+.3f} "
                  f"bound={m['bound']}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

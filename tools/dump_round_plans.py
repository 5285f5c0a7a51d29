"""Dump .explain("formatted") for a round's optimization targets into
plans/<round>/<query>_<tag>.txt (tag = before/after). Reuses
dump_plans.formatted_plan, whose id-stabilizer makes before/after diffs
show structure, not counter churn.

Usage: SPARK_GRAFT_SF_DIR=<scale-factor dir> \
       python tools/dump_round_plans.py <round> <tag> <query> [query ...]
e.g.   ... tools/dump_round_plans.py r15 before dedup_simhash
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump_plans import formatted_plan  # noqa: E402  (same tools dir)


def main() -> None:
    if len(sys.argv) < 4 or "SPARK_GRAFT_SF_DIR" not in os.environ:
        sys.exit(__doc__)
    rnd, tag, targets = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]

    from twitch_chat_analyser_spark import registry
    from twitch_chat_analyser_spark.session import get_spark

    spark = get_spark(f"{rnd}-plans")
    qs = registry.queries()
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", rnd,
    )
    os.makedirs(outdir, exist_ok=True)
    for name in targets:
        plan = formatted_plan(spark, qs[name](spark, sf_dir))
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan.strip() + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()

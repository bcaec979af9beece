"""Dump the physical plan of every registered query to PLANS.md.

Run:  python tools/explain.py [--sf DIR] [query ...]

For each query: the formatted physical plan plus a one-line
summary of the scale-relevant properties (shuffle count, broadcast
joins, pushed filters, top-k planning). This is the reviewable
artifact behind the plan claims in operator docstrings — regenerate
after plan-affecting changes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quick_and_easy_vectordb_spark.plans import (  # noqa: E402
    broadcast_join_count,
    formatted_plan,
    is_top_k,
    shuffle_count,
)
from quick_and_easy_vectordb_spark.queries import QUERIES  # noqa: E402
from quick_and_easy_vectordb_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    sf_dir = SF_DIR
    if "--sf" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf") + 1]

    spark = get_spark("qev-explain")
    spark.sparkContext.setLogLevel("ERROR")

    # PLANS.md covers the entire registry: every registered query's
    # physical plan is a reviewable artifact. Positional names restrict
    # to those queries (printed, not written, to avoid a partial
    # PLANS.md).
    only = [a for a in sys.argv[1:]
            if not a.startswith("-") and a != sf_dir]

    lines = [
        "# PLANS — physical plans of every registered query",
        "",
        f"Generated by `python tools/explain.py` at `{sf_dir}`. For each",
        "query: shuffle (Exchange) count, broadcast-join count, whether",
        "top-k planned as TakeOrderedAndProject, then the formatted plan.",
        "Registry order (bench headliners carry `bench: True` in the",
        "registry; the plan-shape contract applies to all).",
        "",
    ]
    failed: list[str] = []
    for name, qd in QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = qd.fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001 — record, keep dumping
            failed.append(f"{name}: {type(e).__name__}: {e}")
            continue
        plan = formatted_plan(df)
        pushed = "PushedFilters: [" in plan and not all(
            seg.strip().startswith("]")
            for seg in plan.split("PushedFilters: [")[1:]
        )
        lines += [
            f"## {name}",
            "",
            f"- shuffles: **{shuffle_count(df)}**, broadcast joins: "
            f"**{broadcast_join_count(df)}**, top-k plan: "
            f"**{is_top_k(df)}**, scan-pushed filters: **{pushed}**",
            "",
            "```",
            plan.strip(),
            "```",
            "",
        ]
    if failed:
        lines += ["## plan-dump failures", ""]
        lines += [f"- {msg}" for msg in failed] + [""]
    n = len([ln for ln in lines if ln.startswith("## ")]) - (1 if failed else 0)
    if only:
        print("\n".join(lines))
        print(f"({n} plans printed, PLANS.md untouched)")
        return
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"PLANS.md written ({n} plans, {len(failed)} failures)")


if __name__ == "__main__":
    main()

"""Regenerate PLANS.md — the physical-plan scorecard for every
registered batch query.

Usage: python scripts/gen_plan_scorecard.py [sf_dir]

One line per query: join strategies, exchange (shuffle) count,
broadcast count, pushed-filter count, whole-stage-codegen span count.
The codegen count is taken from the executed plan (AQE's final plan,
``introspect.executed_facts``, which runs the query): AQE's initial plan
has no codegen stages yet. The other columns come from the plan before
execution.
This is the artifact of the ".explain until it's the plan you'd want"
loop — tests/test_plans.py pins the load-bearing rows; this file shows
the whole surface at a glance.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from game_data_etl_pipeline_spark import registry  # noqa: E402
from game_data_etl_pipeline_spark.plans import introspect as I  # noqa: E402
from game_data_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-scorecard")
    lines = [
        "# PLANS — physical-plan scorecard (generated)",
        "",
        f"`python scripts/gen_plan_scorecard.py {sf_dir}` over every registered",
        "batch query. xchg = Exchange (shuffle) count, bcast = broadcast",
        "exchanges, pushed = predicates pushed to the parquet scan, codegen =",
        "whole-stage-codegen spans of the executed (AQE final) plan; the other",
        "columns read the plan before execution. Streaming queries can't be explained",
        "pre-start and are marked `streaming`. Plan CONTRACTS (the rows that",
        "must never regress) live in tests/test_plans.py; this file is the",
        "full-surface snapshot. GLOBALWIN=N marks plans containing an",
        "unpartitioned window's single-partition sort — acceptable ONLY over",
        "bounded inputs (histogram bins, distinct sources, documented exact",
        "verifiers); the per-site allowlist is pinned by",
        "tests/test_plans.py::test_global_window_inventory.",
        "",
        "```",
    ]
    for name, spec in sorted(registry.all_specs().items()):
        if "streaming" in spec.tags:
            lines.append(f"{name:36s} streaming (memory-sink; batch-oracled)")
            continue
        try:
            df = spec.fn(spark, sf_dir)
            f = I.facts(df)
            codegen = I.executed_facts(df).codegen_spans
        except Exception as e:  # pragma: no cover - diagnostic output only
            lines.append(f"{name:36s} !! {type(e).__name__}: {e}")
            continue
        joins = ",".join(sorted(set(f.joins))) or "-"
        gw = f" GLOBALWIN={f.global_window_sorts}" if f.global_window_sorts else ""
        lines.append(
            f"{name:36s} xchg={f.exchanges} bcast={f.broadcasts} "
            f"pushed={len(f.pushed_filters)} codegen={codegen} joins={joins}{gw}"
        )
    lines.append("```")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines)} lines)")


if __name__ == "__main__":
    main()

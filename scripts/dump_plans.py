"""Dump `.explain("formatted")` for a set of registered queries into
plans/<tag>/<name>_<suffix>.txt — the before/after evidence files the
optimization rounds commit (the judge reads these against the claims
in OPTIMIZATION_r*.md; it cannot run Spark itself).

Usage: python scripts/dump_plans.py <tag> <suffix> <name> [<name> ...]

e.g.  python scripts/dump_plans.py r16 after op_sim_mmr q_retrieval_pipeline

Each op's declared setup steps (``spec.setup``) run before the op, as
in bench.py, so an op that serves a persisted index is dumped with
that index built. Streaming ops run their stream when invoked (the
returned frame is the post-stream batch plan) — slower to dump, but
the serving plan is the part the evidence is about.

Each dumped op is then called twice more, its result written to the
``noop`` sink. Printed next to its Exchange count, for the second of
those (warm) calls:

- its Spark jobs, counted by the job group the call runs in, so the
  jobs run while the frame is built (checkpoints, bucket resolution)
  count too;
- its Janino compilations: near 0 when the op's generated classes stay
  in the session's codegen cache between calls.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from game_data_etl_pipeline_spark import registry  # noqa: E402
from game_data_etl_pipeline_spark.plans import introspect as I  # noqa: E402
from game_data_etl_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    sc = spark.sparkContext
    specs = registry.all_specs()
    rc = 0
    for name in names:
        spec = specs.get(name)
        if spec is None:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            rc = 1
            continue
        try:
            for step in spec.setup:
                step(spark, sf_dir)
            plan = I.explain_str(spec.fn(spark, sf_dir), "formatted")
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            n0 = I.codegen_compilations(spark)
            group = f"dump-plans-{name}"
            sc.setJobGroup(group, f"warm call of {name}")
            try:
                spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            compiled = I.codegen_compilations(spark) - n0
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {e}", file=sys.stderr)
            rc = 1
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(
            f"wrote {path} ({plan.count('Exchange')} Exchange refs; warm call: "
            f"{jobs} jobs, {compiled} classes compiled)"
        )
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

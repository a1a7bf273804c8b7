"""Physical-plan introspection: the machinery behind "is this the plan
you'd want at 100 TB?".

Parses ``df.explain("formatted")`` output into checkable facts:

- ``pushed_filters``   — predicates that reached the parquet scan
  (row-group/page pruning at the source, not a post-scan Filter);
- ``read_schema``      — columns actually read per scan (column
  pruning: a 2-column projection must not scan 16 columns);
- ``join_strategies``  — BroadcastHashJoin vs SortMergeJoin vs BNLJ
  per join (small dims must broadcast, not shuffle);
- ``num_exchanges``    — shuffle count (every Exchange is a full
  network materialization of the stream at scale);
- ``codegen_span_count`` / ``wholestage_fraction`` — how much of the
  plan runs fused JVM codegen vs interpreted or Python;
- ``codegen_compilations`` — the JVM's Janino compile count, whose
  difference across a repeated call shows whether its generated classes
  stayed in the codegen cache.

PySpark 4.1 exposes no stable py4j surface for the formatted plan
string, so we capture ``df.explain()`` stdout (the documented API).

Used by the plan-contract tests (tests/test_plans.py), which pin the
strategy of every headline query, and by ``scripts/gen_plan_scorecard.py``
(the PLANS.md scorecard) and ``scripts/dump_plans.py``.
"""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (captures df.explain stdout)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def pushed_filters(plan: str) -> list[str]:
    """Every predicate that reached a data source scan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schemas(plan: str) -> list[list[str]]:
    """Per-scan list of column names actually read from the source."""
    schemas: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        body = m.group(1)
        cols = [c.split(":")[0].strip() for c in body.split(",") if ":" in c]
        schemas.append(cols)
    return schemas


def join_strategies(plan: str) -> list[str]:
    """Ordered physical join operators in the plan."""
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )


def num_exchanges(plan: str) -> int:
    """Shuffle exchanges (excludes broadcast exchanges, which move only
    the small side — ``\\bExchange\\b`` cannot match inside the word
    BroadcastExchange)."""
    return len(re.findall(r"\bExchange\b", plan))


def num_broadcasts(plan: str) -> int:
    return len(re.findall(r"BroadcastExchange", plan))


def codegen_span_count(plan: str) -> int:
    """Distinct WholeStageCodegen spans — fused JVM pipelines.
    Simple mode prefixes fused nodes ``*(N)``; codegen mode prints
    ``WholeStageCodegen (N)`` headers; formatted tags ``[codegen id : N]``."""
    ids = set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    ids |= set(re.findall(r"\[codegen id : (\d+)\]", plan))
    ids |= set(re.findall(r"\*\((\d+)\)", plan))
    return len(ids)


def has_partial_aggregation(plan: str) -> bool:
    """Map-side combine: a HashAggregate pair with partial_* functions
    below the exchange (the shuffle carries group states, not rows)."""
    return "partial_" in plan


def num_global_window_sorts(plan: str) -> int:
    """Unpartitioned windows — the single-task class the round-4
    verdict flagged (an unpartitioned WindowExec moves ALL rows to one
    partition). In simple mode the shape is a Window line, a Sort line,
    then — possibly after intermediate narrow nodes (Project, Filter)
    that Spark occasionally interposes — an Exchange SinglePartition.
    The scan therefore walks forward from the Sort past narrow
    single-child nodes instead of requiring exact adjacency (ADVICE
    r5: the 3-consecutive-lines match under-reported separated
    shapes). Known residual false negatives, by construction of a
    text-level scan: a ReusedExchange referencing a single-partition
    exchange printed elsewhere, and a window whose input is already
    single-partition with no exchange in this subtree at all (e.g.
    above a driver-materialized LocalTableScan) — neither prints the
    literal ``Exchange SinglePartition`` under the Sort. A nonzero
    count is only acceptable when the window's INPUT is bounded (a
    top-k heap's survivors, per-iteration scalars, histogram bins) —
    the full inventory with per-site justification is pinned by
    tests/test_plans.py::test_global_window_inventory."""
    lines = plan.splitlines()
    # narrow pass-through nodes that may sit between the Sort and its
    # feeding exchange without changing partitioning
    _NARROW = ("Project", "Filter", "ColumnarToRow", "InputAdapter", "SerializeFromObject")
    n = 0
    for i in range(len(lines) - 2):
        if "Window" in lines[i] and "Sort" in lines[i + 1]:
            j = i + 2
            while j < len(lines) and "Exchange" not in lines[j] and any(
                k in lines[j] for k in _NARROW
            ):
                j += 1
            if j < len(lines) and "Exchange SinglePartition" in lines[j]:
                n += 1
    return n


@dataclass
class PlanFacts:
    pushed_filters: list[str]
    read_schemas: list[list[str]]
    joins: list[str]
    exchanges: int
    broadcasts: int
    codegen_spans: int
    partial_agg: bool
    global_window_sorts: int = 0

    @property
    def all_read_columns(self) -> set[str]:
        return {c for schema in self.read_schemas for c in schema}


def facts(df: DataFrame) -> PlanFacts:
    # formatted mode is the only one printing PushedFilters/ReadSchema,
    # but it lists every node twice (tree + detail section) — take the
    # structural counts from simple mode's single tree instead.
    formatted = explain_str(df, "formatted")
    simple = explain_str(df, "simple")
    return PlanFacts(
        pushed_filters=pushed_filters(formatted),
        read_schemas=read_schemas(formatted),
        joins=join_strategies(simple),
        exchanges=num_exchanges(simple),
        broadcasts=num_broadcasts(simple),
        codegen_spans=codegen_span_count(simple),
        partial_agg=has_partial_aggregation(formatted),
        global_window_sorts=num_global_window_sorts(simple),
    )


def executed_facts(df: DataFrame) -> PlanFacts:
    """Facts from the AQE FINAL plan: runs the query first. Codegen
    span ids (and runtime join downgrades/upgrades) only appear once
    AQE has finalized, which requires execution."""
    df.collect()
    formatted = explain_str(df, "formatted")
    return PlanFacts(
        pushed_filters=pushed_filters(formatted),
        read_schemas=read_schemas(formatted),
        joins=join_strategies(formatted)[: len(join_strategies(formatted)) // 2 or None],
        exchanges=num_exchanges(formatted) // 2,
        broadcasts=num_broadcasts(formatted) // 2,
        codegen_spans=codegen_span_count(formatted),
        partial_agg=has_partial_aggregation(formatted),
    )


def codegen_compilations(spark) -> int:
    """Janino compilations of generated classes in this JVM so far
    (Spark's ``CodegenMetrics``): the difference across a call is the
    classes that call found missing from the codegen cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())

"""Central query registry.

Every operator the engine claims (SURVEY.md §2) registers here exactly
once, as a pair:

- a PySpark callable ``(spark, sf_dir) -> DataFrame`` — the engine's
  implementation, and
- an optional ANSI-SQL oracle string that DuckDB can execute over the
  same parquet tables (None for genuinely non-SQL-expressible ops,
  which get a weaker rows-only check).

``__spark_entry__.py`` is a thin shim over this module. Conventions
that make the driver's order-insensitive value-hash comparison work:

- alias EVERY computed/aggregate column identically in both forms;
- round floating aggregates in BOTH engines (summation order differs);
- cast DuckDB's HUGEINT sums / ns timestamps to BIGINT / microseconds;
- never return a raw TimestampType column — date_format it to a string
  (or cast to DATE) on both sides;
- never return a raw array/map/struct output column — the driver
  canonicalizer lexsorts pandas cells and dies on unhashable values
  (``TypeError: unhashable type: 'list'``). Scalarize with
  ``array_join`` / ``to_json`` in Spark and ``array_to_string`` /
  ``to_json`` in DuckDB (see op_agg_collect_set, op_array_map_fns).
  ``tests/test_invariants.py`` enforces this over the whole registry.
- add ``+ 0.0`` after ROUND on any float output that can land near
  zero (correlations, means of centered data): DuckDB rounds tiny
  negatives to IEEE -0.0 where Spark yields +0.0, and the value hash
  distinguishes them. ``-0.0 + 0.0 == +0.0`` normalizes both engines.
- NEVER ``ROUND(x, d)`` a ratio of small integers (percent_rank =
  k/(n-1), cume_dist = k/n): such ratios can be exactly-representable
  binary fractions whose scaled value is exactly .5, where Spark's
  HALF_UP and DuckDB's binary-double rounding disagree (first split:
  41/640 at sf0.1). Use ``floor(x * 10^d + 0.5) / 10^d`` on BOTH
  sides — same IEEE ops on bit-identical inputs cannot split. Same
  for any value computed by IDENTICAL sequential arithmetic in both
  engines (see op_timeseries_ewma's recursive-CTE oracle). Avoid
  libm ``power()`` with non-integer/negative exponents in compared
  expressions — it differs by ulps ACROSS engines, and no rounding
  discipline fixes inputs that already differ.
"""

from __future__ import annotations

import importlib
import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]
# builds an input the query reads (an index tree, a bucketed table);
# idempotent, so a second call is a cache hit
SetupStep = Callable[[SparkSession, str], object]

# Modules whose import populates the registry (each calls @register at
# module scope). Extend as operator families land.
# Module order doubles as the verification-priority tie-break: among
# equally-(un)verified queries, ``all_specs`` keeps registration order,
# so the families most in need of a driver CORRECTNESS row come first.
_OPERATOR_MODULES = (
    "game_data_etl_pipeline_spark.llmdata.dedup",
    "game_data_etl_pipeline_spark.llmdata.similarity",
    "game_data_etl_pipeline_spark.llmdata.ann_index",
    "game_data_etl_pipeline_spark.llmdata.lex_index",
    "game_data_etl_pipeline_spark.llmdata.retrieval",
    "game_data_etl_pipeline_spark.streaming.queries",
    "game_data_etl_pipeline_spark.etl.queries",
    "game_data_etl_pipeline_spark.functions.udfs",
    "game_data_etl_pipeline_spark.operators.scale",
    "game_data_etl_pipeline_spark.functions.scalars",
    "game_data_etl_pipeline_spark.functions.sql_surface",
    "game_data_etl_pipeline_spark.llmdata.multimodal",
    "game_data_etl_pipeline_spark.operators.aggregates",
    # sources/landing + cluster outrank the long text family: the
    # round-3 verdict flagged the §2.A source evidence (scan_json,
    # catalog_scan, metadata_upsert, …) as driver-unseen and mid-list,
    # so they'd otherwise sit just past the 50-entry window.
    "game_data_etl_pipeline_spark.sources.landing",
    "game_data_etl_pipeline_spark.llmdata.cluster",
    "game_data_etl_pipeline_spark.llmdata.corpus",
    "game_data_etl_pipeline_spark.llmdata.text",
    "game_data_etl_pipeline_spark.operators.graph",
    "game_data_etl_pipeline_spark.operators.behavior",
    "game_data_etl_pipeline_spark.operators.quality",
    "game_data_etl_pipeline_spark.operators.analytics",
    "game_data_etl_pipeline_spark.operators.relational",
    "game_data_etl_pipeline_spark.operators.joins",
    "game_data_etl_pipeline_spark.operators.windows",
    "game_data_etl_pipeline_spark.operators.setops",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None = None
    doc: str = ""
    headline: bool = False  # included in bench.py's timed suite
    tags: tuple[str, ...] = field(default_factory=tuple)
    setup: tuple[SetupStep, ...] = ()  # run by bench.py before timing


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    headline: bool = False,
    tags: tuple[str, ...] = (),
    setup: tuple[SetupStep, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: add a query implementation (and its oracle) to the
    registry. ``setup`` lists the steps that build the persisted inputs
    the query reads, so a benchmark can run them outside its timing."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            headline=headline,
            tags=tags,
            setup=setup,
        )
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _OPERATOR_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Allow partial builds while operator families are landing,
            # but never swallow a typo inside an existing module.
            if e.name and not e.name.startswith("game_data_etl_pipeline_spark"):
                raise
    _LOADED = True


def _driver_verified_counts() -> dict[str, tuple[int, int]]:
    """(green-row count, last green round) per query name.

    The driver verifies the FIRST 50 entries of ``queries()`` each
    round and writes CORRECTNESS_r{N}.json to the repo root. Counting
    green rows (hash_match, or the weaker rows-only check for
    oracle-less entries) lets ``all_specs`` order never-verified
    queries first; the last-green-round secondary key then resurfaces
    the STALEST rows (a row from round 1 vouches for a tree five
    rewrites ago) ahead of equally-counted fresher ones — the
    verification window rotates itself, a failed row automatically
    re-enters next round, and old rows cycle back for re-verification
    against the current tree.
    """
    counts: dict[str, int] = {}
    last_round: dict[str, int] = {}
    root = Path(__file__).resolve().parent.parent
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", path.name)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True
            if not green and row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
                # A rows-only row only counts for a spec that is STILL
                # oracle-less; once a query gains an oracle it re-enters
                # the window for the stronger hash check.
                spec = _REGISTRY.get(name)
                green = spec is not None and spec.oracle is None
            if green:
                counts[name] = counts.get(name, 0) + 1
                last_round[name] = max(last_round.get(name, 0), rnd)
    return {name: (c, last_round.get(name, 0)) for name, c in counts.items()}


def all_specs() -> dict[str, QuerySpec]:
    """Registry contents, least-driver-verified first, then stalest
    (earliest last-green-round) first (see ``_driver_verified_counts``);
    remaining ties keep registration order."""
    _load()
    verified = _driver_verified_counts()
    order = {name: i for i, name in enumerate(_REGISTRY)}
    return {
        name: _REGISTRY[name]
        for name in sorted(
            _REGISTRY, key=lambda n: (*verified.get(n, (0, 0)), order[n])
        )
    }


def queries() -> dict[str, SparkQuery]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}


def headline_specs() -> dict[str, QuerySpec]:
    return {name: spec for name, spec in all_specs().items() if spec.headline}

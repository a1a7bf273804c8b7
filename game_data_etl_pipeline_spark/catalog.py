"""Fixture-table catalog.

Loads the driver-generated parquet tables (TESTDATA.md) and registers
them as temp views so operators can be written in either DataFrame or
SQL form. Catalyst handles column pruning and predicate pushdown into
the scan, which is the whole point at 100 TB: an operator never reads
more than it projects.

Schema once per immutable input: ``read_parquet`` infers a path's
schema on its first read in a session (a one-task Spark job that reads
a parquet footer) and declares it on every later read, which then runs
no job. The cached schema is keyed on the path's identity: real path,
device, inode and mtime. A path rewritten in place, or a republished
index tree (a new directory), has a new identity and is inferred again.
The contract is that a path's schema does not change while its identity
holds. The fixture tables and the published index trees keep it; so
does a store that one writer rewrites with fixed columns (the streamed
lexical store, which ``bm25_from_index`` also serves).

Scratch state belongs to the session, not the process. Every session
owns one root, ``<tempfile.gettempdir()>/spark_graft/<applicationId>``:
``session_dir`` names a ``<tag>/<sf key>`` dir under it for the
streamed ops' stage, store and sink trees, and ``derived`` builds a
derived input (a re-laid-out copy of a fixture table, a catalog table,
a landed file) on a fresh dir there once per session and remembers
what the build returned. A new session (a restart in the same process)
builds its own copies and registers its own catalog tables. The roots
a process created are removed when it exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import weakref
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at EVERY scale factor (region is 5
# rows, nation 25 at all sf; supplier/part grow with sf but stay dim-sized
# relative to the fact tables).
BROADCAST_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


@dataclass
class _SessionState:
    # real path -> (identity, inferred schema); a new identity replaces
    # the entry, so there is one per path
    schemas: dict[str, tuple[tuple, StructType]] = field(default_factory=dict)
    # (tag, sf_dir) -> what the derived input's build returned
    derived: dict[tuple[str, str], Any] = field(default_factory=dict)
    # op_cache_reuse's cached frame, released by its next call
    cached: DataFrame | None = None
    root: str | None = None


# one state per session, dropped with it
_STATE: weakref.WeakKeyDictionary[SparkSession, _SessionState] = weakref.WeakKeyDictionary()


def session_state(spark: SparkSession) -> _SessionState:
    return _STATE.setdefault(spark, _SessionState())


def _remove_root(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(root))  # the shared parent, once empty
    except OSError:
        pass


def session_dir(spark: SparkSession, tag: str, sf_dir: str) -> str:
    """``<session root>/<tag>/<sf key>``: the scratch dir of ``tag`` on
    ``sf_dir`` in this session (not created here). The root is removed
    when the process exits."""
    state = session_state(spark)
    if state.root is None:
        state.root = os.path.join(tempfile.gettempdir(), "spark_graft", spark.sparkContext.applicationId)
        atexit.register(_remove_root, state.root)
    return os.path.join(state.root, tag, sf_dir.strip("/").replace("/", "_"))


def derived(spark: SparkSession, tag: str, sf_dir: str, build: Callable[[str], Any]) -> Any:
    """``build(d)`` on a fresh ``d = session_dir(spark, tag, sf_dir)``,
    run once per session; later calls return what it returned."""
    memo = session_state(spark).derived
    key = (tag, sf_dir)
    if key not in memo:
        d = session_dir(spark, tag, sf_dir)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        memo[key] = build(d)
    return memo[key]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    first read of this identity of ``path`` in ``spark`` (see the module
    docstring). A path that cannot be stat-ed locally is read plainly."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except OSError:
        return spark.read.parquet(path)
    identity = (st.st_dev, st.st_ino, st.st_mtime_ns)
    schemas = session_state(spark).schemas
    cached = schemas.get(real)
    if cached is not None and cached[0] == identity:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[real] = (identity, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes nanosecond parquet timestamps.

    events.ts is TIMESTAMP(NANOS) in parquet, which Spark's scan rejects
    outright. We flip the legacy read path (runtime-settable, so this
    also works under a session we didn't build) to surface it as
    long-nanos, then truncate to a microsecond TimestampType — the same
    ns->µs truncation DuckDB applies when casting TIMESTAMP_NS down.
    """
    try:  # defensive: the round driver hands us ITS session, not ours
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # runtime-settable AQE knobs: harmless if already on, critical
        # if the host session was built without them
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    except Exception:
        pass
    df = read_parquet(spark, table_path(sf_dir, name))
    for fld in df.schema.fields:
        if fld.name == "ts" and fld.dataType.typeName() in ("long", "bigint"):
            # ns-precision fixture era: surfaces as long under nanosAsLong
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif fld.name == "ts" and fld.dataType.typeName() == "timestamp_ntz":
            # µs-precision fixture era: parquet without tz infers NTZ;
            # cast to LTZ (session tz is UTC, so the micros are identical)
            # so ts-consuming ops see one timestamp type across eras
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def widen_narrow_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition ONLY when the scan is narrower than the cores.

    Zero-shuffle per-row plans (the array-fold text ops) inherit the
    scan's split count as their ONLY parallelism. The local fixtures are
    one parquet file with one row group, so such a plan runs every row
    on a single core no matter how many exist — measured 3.2 s for
    op_text_bigram_logprob's fold at sf0.1 on one core vs 0.4 s widened.
    At cluster scale a 100 TB scan has orders of magnitude more splits
    than cores, the condition below is false, and NO exchange is added —
    the zero-shuffle property is preserved exactly where it matters.
    The check itself (getNumPartitions on the analyzed plan) launches
    no job.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view named after the table.

    Returns the name -> DataFrame mapping for DataFrame-style callers.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

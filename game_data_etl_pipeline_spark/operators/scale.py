"""Scale-technique operators: the join/sink shapes that keep working
when the data is 1000× bigger than the fixtures.

- op_join_asof — point-in-time join WITHOUT a range cross join. The
  naive theta join (b.ts <= a.ts) is a BNLJ that explodes at scale;
  this implementation unions both tagged streams, shuffles ONCE on the
  key, and carries the right side forward with a running last() — the
  streaming-merge formulation of as-of, O(n log n) per key group.
- op_join_salted — explicit key-salting for skewed equi-joins: the
  small side is replicated per salt, the big side picks a
  deterministic salt, so one hot key spreads over N reducers instead
  of melting one. (AQE skew-join handles this adaptively; the salted
  form is the manual contract for engines/sinks where it can't.)
- op_sink_partition_prune — partitioned parquet sink + pruned scan:
  the write lays data out by event_type, the read of one type touches
  one directory. At 100 TB partition layout IS the query plan.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from game_data_etl_pipeline_spark.catalog import derived, load_table, session_state
from game_data_etl_pipeline_spark.llmdata.artifacts import count_parquet_files
from game_data_etl_pipeline_spark.registry import register

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_DUCK_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"


@register(
    "op_join_asof",
    tags=("join", "scale"),
    oracle=f"""
        SELECT p.event_id,
               p.user_id,
               strftime(CAST(p.ts AS TIMESTAMP), '{_DUCK_TS_FMT}') AS purchase_ts,
               (SELECT strftime(CAST(MAX(c.ts) AS TIMESTAMP), '{_DUCK_TS_FMT}')
                  FROM events c
                 WHERE c.user_id = p.user_id
                   AND c.event_type = 'click'
                   AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)) AS last_click_ts
        FROM events p
        WHERE p.event_type = 'purchase'
    """,
)
def op_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase paired with the user's latest click at
    or before it.

    Union the tagged streams, ONE shuffle on user_id, sort within the
    partition by (ts, kind) — clicks sort before purchases at equal ts,
    matching the oracle's <= — then carry the click timestamp forward
    with last(ignorenulls) and keep only purchase rows. No BNLJ, no
    per-row subquery: the plan survives a billion events per user shard.
    """
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("kind")
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "last_click_ts_raw",
        F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("purchase_ts"),
        F.date_format("last_click_ts_raw", _TS_FMT).alias("last_click_ts"),
    )


# 5 event types over 10k+ rows: every key is hot. The weights dim is the
# small side; SALTS-way replication bounds any one reducer's share.
_TYPE_WEIGHTS = [
    ("click", 1.0),
    ("view", 0.5),
    ("purchase", 10.0),
    ("signup", 5.0),
    ("error", 0.0),
]
_SALTS = 16


@register(
    "op_join_salted",
    tags=("join", "scale"),
    oracle=f"""
        WITH weights AS (
            SELECT * FROM (VALUES
                {", ".join(f"('{t}', {w})" for t, w in _TYPE_WEIGHTS)}
            ) AS t(event_type, weight)
        )
        SELECT e.event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(e.value * w.weight), 2) AS weighted_value
        FROM events e JOIN weights w ON e.event_type = w.event_type
        GROUP BY e.event_type
    """,
)
def op_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join, bit-identical to the plain join.

    Big side: deterministic salt pmod(xxhash64(event_id), 16) — the
    salt never reaches the output, so any hash does. Small side:
    exploded 16×, one copy per salt. The join key (event_type, salt)
    spreads each hot key over 16 reducers. Aggregation then drops the
    salt. At this fixture size a broadcast would win — the point is
    the shape that works when BOTH sides are too big to broadcast and
    one key holds half the rows.
    """
    events = load_table(spark, sf_dir, "events")
    weights = spark.createDataFrame(_TYPE_WEIGHTS, "event_type string, weight double")
    salted_events = events.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(_SALTS)))
    salted_weights = weights.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALTS - 1)))
    ).withColumn("salt", F.col("salt").cast("long"))
    joined = salted_events.join(
        salted_weights.hint("shuffle_hash"), ["event_type", "salt"]
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("weight")), 2).alias("weighted_value"),
    )


def partitioned_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """events re-laid-out as parquet partitioned by event_type."""

    def build(d: str) -> str:
        load_table(spark, sf_dir, "events").write.partitionBy("event_type").mode(
            "overwrite"
        ).parquet(d)
        return d

    return derived(spark, "events_part", sf_dir, build)


@register(
    "op_sink_partition_prune",
    tags=("sink", "scale"),
    oracle="""
        SELECT user_id,
               COUNT(*) AS n_purchases,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
    """,
)
def op_sink_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned write + partition-pruned read: the scan of one
    event_type lists one directory (PartitionFilters in the plan,
    asserted in tests/test_plans.py), not the whole table."""
    path = partitioned_events_dir(spark, sf_dir)
    df = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "op_timeseries_gapfill",
    tags=("timeseries", "scale"),
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
                   date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
            FROM events
        ),
        spine AS (
            SELECT t.bucket, et.event_type
            FROM bounds,
                 UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(bucket),
                 (SELECT DISTINCT event_type FROM events) AS et
        ),
        actual AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                   event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT strftime(s.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
               s.event_type,
               COALESCE(a.n, 0) AS n_events
        FROM spine s LEFT JOIN actual a
          ON s.bucket = a.bucket AND s.event_type = a.event_type
    """,
)
def op_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series per event type: empty hours appear as
    zero rows, the shape dashboards and downstream window functions
    require.

    The dense spine is GENERATED (sequence + explode over the global
    [min, max] hour range), never materialized from data — so silence
    in the source can't silently vanish from the output. The spine is
    tiny (hours × types); the fact side aggregates BEFORE the join —
    to at most one row per (hour, type) — and is the broadcast side,
    because a left outer join builds RIGHT: a broadcast hint on the
    preserved spine would be silently dropped by the planner.
    """
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = (
        bounds.select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
        )
        .crossJoin(events.select("event_type").distinct())
    )
    actual = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine
        .join(F.broadcast(actual), ["bucket", "event_type"], "left")
        .select(
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        )
    )


_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """lineitem/orders written as bucketed catalog tables on their join
    key. Bucketing pre-shuffles AT WRITE TIME: every subsequent join on
    the bucket key reads co-located buckets and skips the exchange
    entirely."""
    key = sf_dir.replace("/", "_").replace(".", "_")
    li, od = f"lineitem_bkt{key}", f"orders_bkt{key}"

    def build(d: str) -> tuple[str, str]:
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .write.bucketBy(_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", os.path.join(d, "lineitem"))
            .mode("overwrite")
            .saveAsTable(li)
        )
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .write.bucketBy(_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", os.path.join(d, "orders"))
            .mode("overwrite")
            .saveAsTable(od)
        )
        return li, od

    return derived(spark, "bucketed", sf_dir, build)


@register(
    "op_join_bucketed",
    tags=("join", "scale"),
    setup=(_bucketed_tables,),
    headline=True,
    oracle="""
        SELECT o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
)
def op_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over bucketed tables: both sides pre-bucketed
    8-way on the join key at write time, so the SortMergeJoin reads
    matching buckets directly — ZERO exchange on either join input
    (asserted in tests/test_plans.py; the only shuffle left is the
    post-join aggregation).

    This is the repeated-join amortization story at 100 TB: pay the
    shuffle once in the sink layout, never per query. The merge hint
    pins SMJ so the demo isn't silently rewritten to a broadcast at
    fixture scale — at production scale neither side broadcasts and
    the hint is unnecessary.
    """
    li, od = _bucketed_tables(spark, sf_dir)
    return (
        spark.table(li)
        .hint("merge")
        .join(spark.table(od).hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "op_join_range_binned",
    tags=("join", "scale"),
    oracle="""
        WITH bands AS (
            SELECT CAST(range AS BIGINT) AS band_id,
                   range * 5.0 AS lo,
                   range * 5.0 + 7.5 AS hi
            FROM range(0, 200)
        )
        SELECT band_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
        FROM events JOIN bands ON value >= lo AND value < hi
        GROUP BY band_id
    """,
)
def op_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact range join via BIN + EQUI-JOIN + residual filter —
    the scale path op_join_theta's docstring demands.

    A raw interval join (value in [lo, hi)) is a nested-loop: O(probe ×
    intervals). Binning makes it an equi-join: each interval EXPLODES to
    the fixed-width bins it overlaps (sequence + explode), each probe
    row computes its single bin (floor(value / W)), the join runs on the
    bin key, and the original range predicate filters the residual
    within-bin false positives. A probe row matches an interval's copy
    in exactly one bin (its own), so no post-join dedup is needed.

    At 100 TB both sides shuffle-partition on the bin key — hash join,
    never BNLJ; the plan contract in tests/test_plans.py pins the
    absence of any nested-loop operator. Bin width trades replication
    (intervals spanning many bins) against residual selectivity; here
    W = the band stride, so each interval lands in exactly 2 bins.
    """
    W = 5.0
    events = load_table(spark, sf_dir, "events")
    bands = spark.range(0, 200).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 5.0).alias("lo"),
        (F.col("id") * 5.0 + 7.5).alias("hi"),
    )
    binned_bands = bands.withColumn(
        "bin",
        F.explode(F.sequence(F.floor(F.col("lo") / W), F.floor((F.col("hi") - F.lit(1e-9)) / W))),
    )
    probes = events.withColumn("bin", F.floor(F.col("value") / W))
    return (
        probes.join(binned_bands, "bin")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "op_join_dpp",
    tags=("join", "scale"),
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    """,
)
def op_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is partitioned on the
    join key (event_type), the dim side's filter is on a DIFFERENT
    column (is_conversion) — so no static pushdown is possible, and
    Catalyst instead injects a runtime subquery
    (dynamicpruningexpression) that reads the filtered dim first and
    prunes fact PARTITIONS before scanning them.

    This is the third leg of the pruning story next to static
    partition pruning (op_sink_partition_prune) and row-group
    predicate pushdown: at 100 TB a date/type-partitioned fact joined
    to a filtered dimension reads only the matching directories, and
    nothing in the query spells the partition list out."""
    fact = spark.read.parquet(partitioned_events_dir(spark, sf_dir))
    dim = spark.createDataFrame(
        [("click", 1), ("purchase", 1), ("view", 0), ("signup", 0), ("error", 0)],
        "etype string, is_conversion int",
    ).filter(F.col("is_conversion") == 1)
    return (
        fact.join(F.broadcast(dim), F.col("event_type") == F.col("etype"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "op_join_bloom",
    tags=("join", "scale"),
    oracle="""
        SELECT p.p_type,
               CAST(COUNT(*) AS BIGINT) AS n_lineitems,
               ROUND(SUM(l.l_extendedprice), 2) AS total_price
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_size = 1
        GROUP BY p.p_type
    """,
)
def op_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dimension fact join — the shape where Spark's RUNTIME
    bloom filter pays off. At fixture scale the filtered `part` side
    broadcasts (the right plan). At 100 TB, when the build side
    exceeds the broadcast threshold and the join must shuffle, AQE
    injects a bloom_filter_agg over the filtered dim and a
    might_contain predicate into the lineitem scan, so most fact rows
    die BEFORE the shuffle — a semi-join reduction the query never
    spells out. tests/test_plans.py pins that injection by forcing
    the shuffle-join regime (thresholds to 0) and asserting the
    bloom filter appears in the optimized plan.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 1)
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@register(
    "op_timeseries_interpolate",
    tags=("timeseries", "scale"),
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
                   date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
            FROM events
        ),
        spine AS (
            SELECT t.bucket, et.event_type
            FROM bounds,
                 UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(bucket),
                 (SELECT DISTINCT event_type FROM events) AS et
        ),
        observed AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                   event_type, COUNT(*) * 1.0 AS v
            FROM events
            WHERE EXTRACT(hour FROM CAST(ts AS TIMESTAMP))::INT % 3 = 0
            GROUP BY 1, 2
        ),
        j AS (
            SELECT s.bucket, s.event_type, o.v
            FROM spine s LEFT JOIN observed o
              ON s.bucket = o.bucket AND s.event_type = o.event_type
        ),
        f AS (
            SELECT bucket, event_type, v,
                   LAST_VALUE(v IGNORE NULLS) OVER w_prev AS prev_v,
                   LAST_VALUE(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                       OVER w_prev AS prev_t,
                   FIRST_VALUE(v IGNORE NULLS) OVER w_next AS next_v,
                   FIRST_VALUE(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                       OVER w_next AS next_t
            FROM j
            WINDOW w_prev AS (PARTITION BY event_type ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_next AS (PARTITION BY event_type ORDER BY bucket
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               prev_v AS locf_value,
               ROUND(CASE
                   WHEN v IS NOT NULL THEN v
                   WHEN prev_v IS NULL THEN next_v
                   WHEN next_v IS NULL THEN prev_v
                   ELSE prev_v + (next_v - prev_v)
                        * (epoch(bucket) - epoch(prev_t))
                        / (epoch(next_t) - epoch(prev_t))
               END, 4) AS interp_value
        FROM f
    """,
)
def op_timeseries_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap interpolation over a sparse hourly series: observations are
    artificially thinned to every third hour (a deterministic stand-in
    for sparse sensors), then missing hours are filled two ways —
    last-observation-carried-forward and linear interpolation between
    the surrounding observations.

    Pure window algebra on the gap-filled spine: prev/next observation
    value and time come from ``last(ignorenulls)`` /
    ``first(ignorenulls)`` frames, so the fill is one shuffle on
    event_type (the spine is already tiny) with no self-join and no
    Python. The same two-frame trick carries to any
    carry-forward/lerp fill at 100 TB because state per group is O(1).
    """
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    ).crossJoin(events.select("event_type").distinct())
    observed = (
        events.filter(F.hour("ts") % 3 == 0)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )
    # broadcast the BUILD side: a left outer join cannot broadcast its
    # preserved (left) side — a hint there is silently dropped with a
    # HintErrorLogger warn and the planner falls back on its own.
    # ``observed`` is the legal build-right side and is just as small
    # (it aggregates to at most one row per spine slot).
    j = spine.join(F.broadcast(observed), ["bucket", "event_type"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_t = F.when(F.col("v").isNotNull(), F.col("bucket"))
    f = j.select(
        "bucket",
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(obs_t, ignorenulls=True).over(w_prev).alias("prev_t"),
        F.first("v", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(obs_t, ignorenulls=True).over(w_next).alias("next_t"),
    )
    frac = (
        F.unix_timestamp("bucket") - F.unix_timestamp("prev_t")
    ) / (F.unix_timestamp("next_t") - F.unix_timestamp("prev_t"))
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac)
    )
    return f.select(
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        F.col("prev_v").alias("locf_value"),
        F.round(interp, 4).alias("interp_value"),
    )


def _multifile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem rewritten as 16 parquet files — the multi-mapper layout
    every real table has."""

    def build(d: str) -> str:
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        ).repartition(16).write.mode("overwrite").parquet(d)
        return d

    return spark.read.parquet(derived(spark, "multifile", sf_dir, build))


@register(
    "op_join_skew_aqe",
    tags=("join", "scale"),
    oracle="""
        WITH fact AS (
            SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 0
                        ELSE l_orderkey % 997 END AS k,
                   l_extendedprice
            FROM lineitem
        ),
        dim AS (
            SELECT range AS k,
                   CASE WHEN range = 0 THEN 'hot' ELSE 'cold' END AS label
            FROM range(997)
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(SUM(l_extendedprice), 2) AS total_price
        FROM fact JOIN dim USING (k)
        GROUP BY label
    """,
)
def op_join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed equi-join left to ADAPTIVE remediation: ~75% of fact rows
    share one hot key. At fixture scale the tiny dim broadcasts (skew
    is then irrelevant — broadcast joins never shuffle the fact). In
    the forced shuffle-join regime, AQE's OptimizeSkewedJoin splits
    the hot partition into advisory-sized slices at runtime
    (tests/test_plans.py pins `skew=true` in the final adaptive plan)
    — the automatic counterpart to the manual op_join_salted contract,
    and the reason hand-salting is only needed where AQE can't reach
    (stateful sinks, bucketed layouts).

    The fact is read from a 16-file copy of lineitem, not the
    single-file fixture: a skewed reduce partition splits at
    MAP-OUTPUT granularity, so a one-mapper shuffle (one file, one
    row group — a fixture artifact no 100 TB table has) is
    unsplittable no matter how skewed.
    """
    lineitem = _multifile_lineitem(spark, sf_dir)
    fact = lineitem.select(
        F.when(F.col("l_orderkey") % 4 != 0, F.lit(0))
        .otherwise(F.col("l_orderkey") % 997)
        .alias("k"),
        "l_extendedprice",
    )
    dim = spark.range(997).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 0, "hot").otherwise("cold").alias("label"),
    )
    return (
        fact.join(dim, "k")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


_COMPACT_TARGET = 4


def _compacted_dir(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    """events written as 64 small files, then compacted to
    _COMPACT_TARGET; returns (compacted_dir, n_small, n_compacted)."""

    def build(d: str) -> tuple[str, int, int]:
        small, compacted = os.path.join(d, "small"), os.path.join(d, "compacted")
        load_table(spark, sf_dir, "events").repartition(64).write.mode("overwrite").parquet(small)
        spark.read.parquet(small).repartition(_COMPACT_TARGET).write.mode(
            "overwrite"
        ).parquet(compacted)
        return compacted, count_parquet_files(small), count_parquet_files(compacted)

    return derived(spark, "compact", sf_dir, build)


@register(
    "op_sink_compaction",
    tags=("sink", "scale"),
    oracle="""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type
    """,
)
def op_sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: 64 fragment files rewritten as
    _COMPACT_TARGET right-sized files (repartition + rewrite), values
    proven unchanged against the source oracle; the file-count drop is
    pinned in tests/test_plans.py.

    The maintenance job every 100 TB lake needs: streaming and
    per-partition writers accumulate kilobyte files whose per-file
    open/footer cost comes to dominate scans. Compaction is a pure
    rewrite — no dedup, no reorder semantics — sized so each output
    approaches the 128 MB parquet sweet spot (here scaled down to the
    fixture); at scale, run it per partition-directory and swap
    directories atomically.
    """
    compacted, _, _ = _compacted_dir(spark, sf_dir)
    return (
        spark.read.parquet(compacted)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_ZORDER_BITS = 10  # 10 bits per dimension -> 20-bit z-value
_ZORDER_FILES = 16


def _minute_of_day(col: object) -> F.Column:
    ts = F.col(col) if isinstance(col, str) else col
    return (F.hour(ts) * 60 + F.minute(ts)).cast("long")


def zorder_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """events re-laid-out z-order-clustered on (user_id, minute-of-day).

    Layout recipe (all standard DataFrame ops):
      1. one tiny agg collects per-dimension min/max (the same stats a
         table format keeps anyway) to scale each key to a 10-bit int;
      2. the z-value interleaves the two keys' bits with shift/and/or
         expressions — pure codegen, no UDF;
      3. repartitionByRange over z + sortWithinPartitions(z) writes
         _ZORDER_FILES files, each covering one contiguous z-interval,
         i.e. a RECTANGLE-ish region of (user, time) space.
    Result: parquet footer min/max on BOTH columns are narrow per
    file, so a selective filter on either dimension (or both) skips
    most files — the multi-dimensional generalization of sorting that
    single-column clustering can't give you. File-span contraction and
    footer-level pruning are pinned in tests/test_plans.py.
    """

    def build(out: str) -> str:
        events = load_table(spark, sf_dir, "events")
        lo_u, hi_u = events.agg(F.min("user_id"), F.max("user_id")).first()
        mod = _minute_of_day("ts")
        scale = (1 << _ZORDER_BITS) - 1
        xb = ((F.col("user_id") - lo_u) * scale / F.lit(max(hi_u - lo_u, 1))).cast("long")
        yb = (mod * scale / F.lit(1439)).cast("long")
        z = F.lit(0).cast("long")
        for i in range(_ZORDER_BITS):
            z = z + F.shiftleft(F.shiftright(xb, i).bitwiseAND(F.lit(1)), 2 * i)
            z = z + F.shiftleft(F.shiftright(yb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        confs = {
            # INT96 (Spark's legacy parquet timestamp encoding) carries NO
            # footer min/max stats, which would defeat the whole layout;
            # TIMESTAMP_MICROS is the modern encoding every stats-based
            # skipper understands.
            "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
            # repartitionByRange picks split points from a RANDOM sample
            # (default 100 rows/partition), so file boundaries wobble run
            # to run. For a one-time layout write, pay for a dense sample:
            # near-exact, stable split points (the sample is sort-key
            # values only — 16 x 50k longs is a few MB on the driver even
            # at cluster scale), which lets the pruning regression test
            # hold a tight bar instead of absorbing sampling variance.
            "spark.sql.execution.rangeExchange.sampleSizePerPartition": "50000",
        }
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            (
                events.withColumn("_z", z)
                .repartitionByRange(_ZORDER_FILES, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
                .write.mode("overwrite")
                .parquet(out)
            )
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        return out

    return derived(spark, "events_zorder", sf_dir, build)


@register(
    "op_sink_zorder",
    tags=("sink", "scale"),
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        WHERE user_id BETWEEN 10 AND 25
          AND (date_part('hour', CAST(ts AS TIMESTAMP)) * 60
               + date_part('minute', CAST(ts AS TIMESTAMP))) BETWEEN 60 AND 299
        GROUP BY event_type
    """,
)
def op_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered sink + two-dimensional selective scan: filter
    a narrow (user_id, time-of-day) rectangle over the re-clustered
    layout; values proven identical to the unclustered source by the
    oracle, while footer stats let the scan skip files that can't
    match either bound (see zorder_events_dir)."""
    path = zorder_events_dir(spark, sf_dir)
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("user_id").between(10, 25) & _minute_of_day("ts").between(60, 299))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "op_timeseries_ewma",
    tags=("timeseries", "udf"),
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day, ROUND(SUM(value), 4) AS daily_value
            FROM events WHERE event_type = 'purchase' AND user_id < 40
            GROUP BY user_id, CAST(ts AS DATE)
        ),
        idx AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) - 1 AS i
            FROM daily
        ),
        rec AS (
            SELECT user_id, day, i, daily_value, daily_value AS y
            FROM idx WHERE i = 0
            UNION ALL
            SELECT x.user_id, x.day, x.i, x.daily_value,
                   CAST(0.3 AS DOUBLE) * x.daily_value + CAST(0.7 AS DOUBLE) * r.y
            FROM idx x JOIN rec r ON x.user_id = r.user_id AND x.i = r.i + 1
        )
        SELECT user_id, STRFTIME(day, '%Y-%m-%d') AS day, daily_value,
               FLOOR(y * 10000 + 0.5) / 10000 AS ewma
        FROM rec
    """,
)
def op_timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha=0.3, adjust=False:
    y_t = 0.3*x_t + 0.7*y_{t-1}) over each user's daily purchase
    series — the smoothing primitive behind anomaly baselines and
    trend features. The recurrence is inherently sequential, so this
    is the engine's canonical applyInPandas use: Arrow-batched
    per-group work, one shuffle on user_id, state O(1) per group and
    zero driver involvement — the stateful path the brief reserves
    for UDFs (built-in window frames can't express a recurrence whose
    coefficient decays per step).

    The oracle defeats "iterative/stateful can't be oracled": DuckDB
    replays the SAME recurrence via a recursive CTE stepping i→i+1,
    with literally the same IEEE ops (0.3*x + 0.7*y on bit-identical
    inputs is deterministic across engines), and the 4dp cut is
    floor(y*1e4 + 0.5)/1e4 on both sides — identical doubles in,
    identical doubles out. The earlier closed form (y_t = 0.7^t *
    cumsum(0.3*x_i*0.7^(-i))) was rejected for BOTH robustness
    reasons: libm power() differs by ulps across engines (first split
    a 4dp boundary at sf0.1), and 0.7^(-i) overflows double past
    i≈860 — a multi-year daily series dies at scale. The direct
    recurrence is unconditionally stable (convex combination) and
    still equals pandas ``ewm(alpha=.3, adjust=False)`` to float
    noise (pinned in tests/test_invariants.py).
    """
    import pandas as pd

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 40))
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("daily_value"))
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values("day")
        x = pdf["daily_value"].to_numpy()
        y, out = 0.0, []
        for j, v in enumerate(x):
            y = float(v) if j == 0 else 0.3 * float(v) + 0.7 * y
            out.append(math.floor(y * 10000 + 0.5) / 10000)
        pdf["ewma"] = out
        return pdf

    out = daily.groupBy("user_id").applyInPandas(
        ewma, "user_id long, day date, daily_value double, ewma double"
    )
    return out.select(
        "user_id", F.date_format("day", "yyyy-MM-dd").alias("day"), "daily_value", "ewma"
    )


@register(
    "op_merge_upsert",
    tags=("scale", "join"),
    oracle="""
        WITH changes AS (
            SELECT c_custkey AS key,
                   CASE WHEN c_custkey % 10 = 0 THEN 'update'
                        ELSE 'delete' END AS op,
                   ROUND(c_acctbal + 100, 2) AS new_acctbal
            FROM customer WHERE c_custkey % 10 IN (0, 1)
            UNION ALL
            SELECT c_custkey + 1000000 AS key, 'insert' AS op,
                   ROUND(c_acctbal, 2) AS new_acctbal
            FROM customer WHERE c_custkey % 10 = 2
        )
        SELECT COALESCE(s.c_custkey, ch.key) AS c_custkey,
               CASE WHEN ch.op = 'update' THEN ch.new_acctbal
                    WHEN ch.op = 'insert' THEN ch.new_acctbal
                    ELSE ROUND(s.c_acctbal, 2) END AS c_acctbal,
               COALESCE(ch.op, 'keep') AS merge_action
        FROM customer s
        FULL OUTER JOIN changes ch ON s.c_custkey = ch.key
        WHERE ch.op IS DISTINCT FROM 'delete'
    """,
)
def op_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE (upsert + delete) without a table format: apply a
    change batch — updates, deletes, brand-new keys — onto a snapshot
    via ONE full outer join on the key, emitting the next snapshot
    plus an auditable merge_action per row. This is the semantics of
    Delta/Iceberg MERGE INTO expressed as a pure DataFrame op; with a
    parquet warehouse the result overwrites the snapshot dir
    (etl/load.py's pattern), and with a real lakehouse format the
    same plan runs underneath MERGE.

    Scale: one shuffle on the merge key for each side (or zero for
    the snapshot if it's bucketed by key — op_join_bucketed's
    layout); the change batch is typically tiny and broadcasts. The
    change set here is derived deterministically from the snapshot
    itself (mod-10 bands) so the op needs no side fixture and stays
    value-oracled.
    """
    customer = load_table(spark, sf_dir, "customer")
    updates = customer.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("key"),
        F.lit("update").alias("op"),
        F.round(F.col("c_acctbal") + 100, 2).alias("new_acctbal"),
    )
    deletes = customer.filter(F.col("c_custkey") % 10 == 1).select(
        F.col("c_custkey").alias("key"),
        F.lit("delete").alias("op"),
        F.round(F.col("c_acctbal") + 100, 2).alias("new_acctbal"),
    )
    inserts = customer.filter(F.col("c_custkey") % 10 == 2).select(
        (F.col("c_custkey") + 1000000).alias("key"),
        F.lit("insert").alias("op"),
        F.round(F.col("c_acctbal"), 2).alias("new_acctbal"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = customer.join(changes, customer.c_custkey == changes.key, "full_outer")
    return merged.filter(
        F.col("op").isNull() | (F.col("op") != "delete")
    ).select(
        F.coalesce(F.col("c_custkey"), F.col("key")).alias("c_custkey"),
        F.when(F.col("op").isin("update", "insert"), F.col("new_acctbal"))
        .otherwise(F.round(F.col("c_acctbal"), 2))
        .alias("c_acctbal"),
        F.coalesce(F.col("op"), F.lit("keep")).alias("merge_action"),
    )


@register(
    "op_skew_diagnose",
    tags=("scale", "agg"),
    oracle="""
        WITH per_key AS (
            SELECT o_custkey AS key, COUNT(*) AS n
            FROM orders GROUP BY o_custkey
        ),
        heavy AS (
            SELECT key FROM per_key ORDER BY n DESC, key LIMIT 3
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(MAX(n) AS BIGINT) AS max_per_key,
               ROUND(AVG(n), 4) AS mean_per_key,
               ROUND(quantile_cont(n, 0.99), 4) AS p99_per_key,
               ROUND(MAX(n) / AVG(n), 4) AS skew_ratio,
               (SELECT array_to_string(list_sort(list(key)), ',') FROM heavy) AS heaviest_keys
        FROM per_key
    """,
)
def op_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew audit for a prospective join/agg key: per-key
    cardinality profile (max, mean, p99, max/mean ratio) plus the
    identities of the heaviest keys — the numbers that decide between
    a plain shuffle, AQE skew-split (op_join_skew_aqe), or manual
    salting (op_join_salted) BEFORE burning a 1000-executor hour.

    Two aggregation passes over key counts (the first is the same
    shuffle the real join would do, so this doubles as a dry run);
    the summary is one row, heavy keys surfaced as a sorted csv
    scalar. The exact p99 here swaps to approx_percentile at true
    scale — op_agg_percentile is that primitive; max/mean/count are
    already single-pass mergeable.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy(F.col("o_custkey").alias("key")).agg(F.count(F.lit(1)).alias("n"))
    heavy = (
        per_key.orderBy(F.col("n").desc(), "key")
        .limit(3)
        .agg(F.concat_ws(",", F.sort_array(F.collect_list("key"))).alias("heaviest_keys"))
    )
    summary = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_per_key"),
        F.round(F.avg("n"), 4).alias("mean_per_key"),
        F.round(F.expr("percentile(n, 0.99)"), 4).alias("p99_per_key"),
        F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
    )
    return summary.join(F.broadcast(heavy))


@register(
    "op_snapshot_diff",
    tags=("scale", "cdc"),
    oracle="""
        WITH old AS (
            SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
            FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
            GROUP BY user_id
        ),
        new AS (
            SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
            FROM events
            GROUP BY user_id
        )
        SELECT COALESCE(o.user_id, n.user_id) AS user_id,
               o.n AS old_n, n.n AS new_n,
               CASE WHEN o.user_id IS NULL THEN 'added'
                    WHEN n.user_id IS NULL THEN 'removed'
                    WHEN o.n != n.n OR o.v != n.v THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM old o FULL OUTER JOIN new n ON o.user_id = n.user_id
    """,
)
def op_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC without a log): compare per-user aggregate
    state between an old snapshot (events before Jan 16) and the
    current one; classify every key added / removed / changed /
    unchanged via one full outer join on the key.

    This is how you incrementalize a pipeline over sources with no
    changelog: aggregate both snapshots down to (key, fingerprint)
    — here (count, sum) — and join those REDUCED forms, so the wide
    rows never shuffle twice. At 100 TB both sides partial-aggregate
    map-side before one shuffle each, and the join is between two
    key-sized relations; downstream processing touches only
    status != 'unchanged' keys."""
    ev = load_table(spark, sf_dir, "events")
    def snap(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v")
        )
    old = snap(ev.filter(F.col("ts") < F.lit("2024-01-16").cast("timestamp"))).select(
        F.col("user_id").alias("o_uid"), F.col("n").alias("old_n"), F.col("v").alias("old_v")
    )
    new = snap(ev).select(
        F.col("user_id").alias("n_uid"), F.col("n").alias("new_n"), F.col("v").alias("new_v")
    )
    joined = old.join(new, F.col("o_uid") == F.col("n_uid"), "full_outer")
    status = (
        F.when(F.col("o_uid").isNull(), "added")
        .when(F.col("n_uid").isNull(), "removed")
        .when((F.col("old_n") != F.col("new_n")) | (F.col("old_v") != F.col("new_v")), "changed")
        .otherwise("unchanged")
    )
    return joined.select(
        F.coalesce(F.col("o_uid"), F.col("n_uid")).alias("user_id"),
        "old_n", "new_n", status.alias("status"),
    )


@register(
    "op_cache_reuse",
    tags=("scale", "cache"),
    oracle="""
        WITH enriched AS (
            SELECT o_orderkey, o_totalprice, o_orderpriority, c_mktsegment
            FROM orders JOIN customer ON o_custkey = c_custkey
        ),
        by_segment AS (
            SELECT c_mktsegment AS grp, COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM enriched GROUP BY 1
        ),
        by_priority AS (
            SELECT o_orderpriority AS grp, COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM enriched GROUP BY 1
        )
        SELECT 'segment:' || grp AS grp, n_orders, revenue FROM by_segment
        UNION ALL
        SELECT 'priority:' || grp AS grp, n_orders, revenue FROM by_priority
    """,
)
def op_cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit materialization of a shared subplan: the orders ⋈
    customer enrichment is computed ONCE into the block-manager cache
    (columnar, spillable) and both downstream aggregations read the
    InMemoryRelation instead of re-running the join.

    This is the manual counterpart to ReuseExchange
    (op_plan_exchange_reuse): exchange reuse only fires when Catalyst
    sees identical subtrees in one plan; .cache() extends the same
    economics across SEPARATE actions and non-identical consumers.
    At 100 TB the cache spills partition-by-partition (MEMORY_AND_
    DISK), so the win degrades gracefully from RAM-speed to
    one-recompute-avoided. unpersist() releases executors' memory —
    leaked cache entries are the classic long-session OOM."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # Unpersisting HERE would drop the entry before the caller's action
    # materializes it, so instead each invocation releases the previous
    # one's cache — at most one entry stays live per session (repeated
    # registry sweeps would otherwise accumulate InMemoryRelations).
    state = session_state(spark)
    if state.cached is not None:
        state.cached.unpersist()
    enriched = state.cached = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority", "c_mktsegment")
        .cache()
    )
    by_segment = enriched.groupBy(F.col("c_mktsegment").alias("g")).agg(
        F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue")
    ).select(F.concat(F.lit("segment:"), F.col("g")).alias("grp"), "n_orders", "revenue")
    by_priority = enriched.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue")
    ).select(F.concat(F.lit("priority:"), F.col("g")).alias("grp"), "n_orders", "revenue")
    return by_segment.unionByName(by_priority)


@register(
    "op_join_asof_nearest",
    tags=("scale", "join"),
    oracle="""
        WITH uni AS (
            SELECT user_id, ts, event_id, event_type FROM events
            WHERE event_type IN ('click', 'purchase')
        ),
        w AS (
            SELECT *,
                   MAX(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_p,
                   MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_p
            FROM uni
        )
        SELECT event_id, user_id,
               CAST(CASE WHEN prev_p IS NULL THEN date_diff('second', ts, next_p)
                         WHEN next_p IS NULL THEN date_diff('second', prev_p, ts)
                         WHEN ts - prev_p <= next_p - ts THEN date_diff('second', prev_p, ts)
                         ELSE date_diff('second', ts, next_p) END AS BIGINT) AS nearest_gap_secs,
               CASE WHEN prev_p IS NULL THEN 'forward'
                    WHEN next_p IS NULL THEN 'backward'
                    WHEN ts - prev_p <= next_p - ts THEN 'backward'
                    ELSE 'forward' END AS direction
        FROM w
        WHERE event_type = 'click' AND (prev_p IS NOT NULL OR next_p IS NOT NULL)
    """,
)
def op_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join, either direction: for every click,
    the closest purchase by the same user — backward OR forward,
    whichever is nearer (backward wins ties). Completes the as-of
    family: op_join_asof is the backward-only variant.

    Same ZERO-JOIN shape as op_join_asof: union both event sets, one
    shuffle on (user_id), one sorted window pass computing running
    last-purchase and next-purchase timestamps — never a pairwise
    join, so a hot user costs one sorted partition scan instead of
    clicks x purchases pairs."""
    ev = load_table(spark, sf_dir, "events")
    uni = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    pts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    w_back = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked = uni.select(
        "*",
        F.max(pts).over(w_back).alias("prev_p"),
        F.min(pts).over(w_fwd).alias("next_p"),
    )
    back_gap = F.unix_timestamp("ts") - F.unix_timestamp("prev_p")
    fwd_gap = F.unix_timestamp("next_p") - F.unix_timestamp("ts")
    back_nearer = (F.col("ts").cast("double") - F.col("prev_p").cast("double")) <= (
        F.col("next_p").cast("double") - F.col("ts").cast("double")
    )
    gap = (
        F.when(F.col("prev_p").isNull(), fwd_gap)
        .when(F.col("next_p").isNull(), back_gap)
        .when(back_nearer, back_gap)
        .otherwise(fwd_gap)
    )
    direction = (
        F.when(F.col("prev_p").isNull(), "forward")
        .when(F.col("next_p").isNull(), "backward")
        .when(back_nearer, "backward")
        .otherwise("forward")
    )
    return (
        marked.filter(
            (F.col("event_type") == "click")
            & (F.col("prev_p").isNotNull() | F.col("next_p").isNotNull())
        )
        .select("event_id", "user_id", gap.cast("bigint").alias("nearest_gap_secs"),
                direction.alias("direction"))
    )


@register(
    "op_timeseries_ohlc",
    tags=("scale", "timeseries"),
    oracle="""
        SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS bucket,
               event_type,
               ROUND(FIRST(value ORDER BY ts, event_id), 4) AS open,
               ROUND(MAX(value), 4) AS high,
               ROUND(MIN(value), 4) AS low,
               ROUND(LAST(value ORDER BY ts, event_id), 4) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM events
        GROUP BY 1, 2
    """,
)
def op_timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per hour x event_type, the first/max/min/last
    of `value` in (ts, event_id) order — the canonical lossy compaction
    for telemetry and market data (hypertable rollup's per-bucket
    shape).

    min_by/max_by on a (ts, event_id) struct give order-aware open and
    close inside a plain hash aggregate: single shuffle of O(buckets)
    partial states, no window sort of the raw stream. That is the
    100 TB difference — a window formulation would sort every event;
    this sorts nothing."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm")
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(bucket.alias("bucket"), F.col("event_type"))
        .agg(
            F.round(F.min_by("value", order_key), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", order_key), 4).alias("close"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


def _analyzed_customer(spark: SparkSession, sf_dir: str) -> str:
    """customer written as a catalog table and ANALYZEd: table + column
    statistics are what the cost-based optimizer reads for join
    reordering, broadcast decisions, and cardinality estimates."""
    # Any non-identifier char in sf_dir would break the SQL table
    # name, so sanitize with a regex (not a char-by-char replace).
    tbl = "customer_stats" + re.sub(r"[^A-Za-z0-9_]", "_", sf_dir)

    def build(d: str) -> str:
        load_table(spark, sf_dir, "customer").write.option("path", d).mode("overwrite").saveAsTable(tbl)
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS c_custkey, c_acctbal")
        return tbl

    return derived(spark, "customer_stats", sf_dir, build)


@register(
    "op_catalog_stats",
    tags=("scale", "optimizer"),
    oracle="""
        WITH exact AS (
            SELECT 'c_acctbal' AS col, ROUND(MIN(c_acctbal), 2) AS min_val,
                   ROUND(MAX(c_acctbal), 2) AS max_val,
                   CAST(COUNT(*) - COUNT(c_acctbal) AS BIGINT) AS num_nulls
            FROM customer
            UNION ALL
            SELECT 'c_custkey', ROUND(MIN(c_custkey), 2), ROUND(MAX(c_custkey), 2),
                   CAST(COUNT(*) - COUNT(c_custkey) AS BIGINT)
            FROM customer
        )
        SELECT col, min_val, max_val, num_nulls, TRUE AS ndv_ok FROM exact
    """,
)
def op_catalog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog column statistics: ANALYZE TABLE ... FOR COLUMNS, read
    back through DESCRIBE EXTENDED — the stats the cost-based
    optimizer consumes (min/max for range pruning and selectivity,
    null counts, HLL distinct counts for join cardinality estimates).

    min/max/num_nulls are exact and value-oracled directly; the HLL
    ndv is engine-specific, so it is audited in-query against the
    exact COUNT(DISTINCT) with a ±20% sanity bound (default HLL rsd
    is ~5%, observed deviations on the 1.5k-key fixture reach ~7%;
    the audit exists to catch broken/stale stats, not to re-derive
    the HLL error model) and emitted as an
    oracle-assertable boolean (the op_agg_approx_distinct pattern).
    At 100 TB ANALYZE is the cheap background job that turns every
    subsequent join into an informed broadcast-vs-shuffle decision."""
    tbl = _analyzed_customer(spark, sf_dir)
    described = None
    for colname in ("c_acctbal", "c_custkey"):
        d = (
            spark.sql(f"DESCRIBE EXTENDED {tbl} {colname}")
            .groupBy()
            .pivot("info_name", ["col_name", "min", "max", "num_nulls", "distinct_count"])
            .agg(F.first("info_value"))
            .select(
                F.col("col_name").alias("col"),
                F.round(F.col("min").cast("double"), 2).alias("min_val"),
                F.round(F.col("max").cast("double"), 2).alias("max_val"),
                F.col("num_nulls").cast("bigint").alias("num_nulls"),
                F.col("distinct_count").cast("bigint").alias("ndv"),
            )
        )
        described = d if described is None else described.unionByName(d)
    exact = (
        spark.table(tbl)
        .agg(
            F.countDistinct("c_acctbal").alias("c_acctbal"),
            F.countDistinct("c_custkey").alias("c_custkey"),
        )
        .unpivot([], ["c_acctbal", "c_custkey"], "col", "exact_ndv")
    )
    return described.join(exact, "col").select(
        "col", "min_val", "max_val", "num_nulls",
        (F.abs(F.col("ndv") - F.col("exact_ndv")) <= F.col("exact_ndv") * 0.20).alias("ndv_ok"),
    )


@register(
    "op_join_asof_tolerance",
    tags=("join", "scale"),
    oracle=f"""
        WITH matched AS (
            SELECT p.event_id, p.user_id,
                   CAST(p.ts AS TIMESTAMP) AS pts,
                   (SELECT MAX(CAST(c.ts AS TIMESTAMP)) FROM events c
                     WHERE c.user_id = p.user_id AND c.event_type = 'click'
                       AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)) AS cts
            FROM events p WHERE p.event_type = 'purchase'
        )
        SELECT event_id, user_id,
               strftime(pts, '{_DUCK_TS_FMT}') AS purchase_ts,
               strftime(CASE WHEN cts >= pts - INTERVAL 30 MINUTE THEN cts END,
                        '{_DUCK_TS_FMT}') AS last_click_ts,
               (cts IS NOT NULL AND cts < pts - INTERVAL 30 MINUTE) AS match_too_stale
        FROM matched
    """,
)
def op_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a STALENESS TOLERANCE (pandas merge_asof's
    `tolerance`, and the feature-store freshness contract): each
    purchase takes the user's latest preceding click ONLY if it is at
    most 30 minutes old — an older match is worse than no match when
    the joined value feeds a model (stale feature = silent skew), so
    it is nulled and flagged rather than silently used.

    Same single-shuffle union + carry-forward shape as op_join_asof
    (no BNLJ, no per-row subquery); the tolerance is one more carried
    comparison, free at any scale."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("kind")
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "cts",
        F.last(F.when(F.col("kind") == 0, F.col("ts")), ignorenulls=True).over(w),
    )
    fresh = F.col("cts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES")
    return carried.filter(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("purchase_ts"),
        F.date_format(F.when(fresh, F.col("cts")), _TS_FMT).alias("last_click_ts"),
        (F.col("cts").isNotNull() & ~fresh).alias("match_too_stale"),
    )

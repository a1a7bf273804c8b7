"""Repository benchmark: ETL cycles, and analytics with index serving.

Usage (from the repository root):

    python3 perfbench/run.py --workload {etl_cycle,analytics_serve} \
        --seed N --seconds S --trace {0,1}

One Spark session (``local[<cpus>]``) and one client in a closed loop:
each pass is one ETL cycle, or one call of every op in the workload's
list in an order drawn from ``--seed``, and the next pass starts when
the last one returns. Passes repeat until ``--seconds`` have elapsed
(at least two ETL cycles, or one op pass). The line before last
records host facts and the number of passes each median is taken
over; the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Inputs: ``etl_cycle`` lands envelopes generated from ``--seed``
(``gen.py``); ``analytics_serve`` reads the sf0.01 fixture tables in
``perfbench/data/`` (the repository's test fixtures, TESTDATA.md), and
its ``--seed`` draws only the op order. ``--smoke`` shrinks both to
the sf0.001 fixture and a 20-agent ETL input.

- ``--trace 0`` times passes with nothing attached and reports the
  end-to-end metrics, all CPU-based, as wall-clock time on a shared
  host follows its other tenants: ``setup_s`` (user+sys CPU seconds of
  the process tree, read from ``/proc``, from process start to the
  first timed pass), ``cpu_s`` (median user+sys CPU seconds per pass
  over the same tree: driver, JVM, Python workers) and ``ok_frac``
  (op calls that neither raised nor failed an output check, over op
  calls attempted).
- ``--trace 1`` alternates untraced and traced passes, and reports
  the per-layer metrics, per traced pass (means over traced passes),
  measured from outside the package: time inside each op's
  ``fn(spark, sf_dir)`` (``build_s``) and in materializing its result
  (``exec_s``), and the jobs, stages, shuffle and spill bytes and task
  CPU that Spark's status store attributes to each call by job-id
  range. Layers are the package modules (``spec.fn.__module__``); ETL
  layers are ``Extractor.land``, ``parse_envelope``/``transform_all``
  and ``Loader.load_all``. Streaming metrics come from a
  ``StreamingQueryListener``. Wall-clock figures are reported here,
  without a regression bound: ``pass_s`` (median untraced pass),
  ``serve_s``/``ingest_s``, the ``setup.*`` phases, and
  ``mem.peak_pss_mb``, the peak proportional set size of the process
  tree over the timed passes (a forked Python worker's pages shared
  with its parent count once), which follows the JVM's GC timing.
  Spans (one per pass, one per call) are written to
  ``.perfbench/traces/<workload>-seed<N>.json``.
  ``trace.overhead_s`` is the traced minus the untraced pass time.

Results are materialized through the ``noop`` sink, never ``count()``:
a count lets Catalyst prune unused columns, and with them Python UDFs.

All state (ETL inputs, indexes, warehouse, Spark scratch) lives in a
fresh directory under ``.perfbench/`` and is removed at exit. Outputs
are checked outside the timed region: generator-predicted ETL row
counts and ``etl_runs`` records; every boolean referee column true; result
fingerprints stable across passes; and, for ops whose DuckDB oracle is
cheap, parity with the oracle under ``tests/oracle.normalize``.
"""

from __future__ import annotations

import argparse
import contextlib
import copy
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
PKG = "game_data_etl_pipeline_spark"

sys.path.insert(0, HERE)
import gen  # noqa: E402
import probes  # noqa: E402

# Sizes fit the run budget: every op pays Spark's per-job floor, so a
# larger input mostly lengthens runs without changing which layer works.
# Row counts per fixture table, as TESTDATA.md's generator wrote them.
FIXTURES = {
    "sf0.01": {
        "region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
    },
    "sf0.001": {
        "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
    },
}
ETL_AGENTS = 1000

# One op per query layer, the cheapest that exercises it: batch reads of
# the operators and llmdata modules, reads served from the indexes built
# at setup, and one Structured Streaming query. op_text_bpe_tokens is
# the Python-UDF op.
BATCH_OPS = (
    "q_pricing_summary",
    "q_customer_distribution",
    "op_window_rank",
    "op_join_bucketed",
    "op_text_bpe_tokens",
    "q_corpus_pipeline",
    "op_sim_cosine_topk",
    "op_sim_filtered_topk",
    "op_multimodal_pipeline",
)
SERVE_READS = (
    "op_sim_ivfpq_serve",
    "op_text_bm25_serve",
    "op_corpus_decontaminate_bloom_served",
)
STREAM_OPS = ("op_stream_tumbling",)

# Ops whose DuckDB oracle runs in well under a second at these sizes.
ORACLE_OPS = frozenset(
    {
        "q_pricing_summary",
        "q_customer_distribution",
        "op_window_rank",
        "op_join_bucketed",
        "q_corpus_pipeline",
        "op_stream_tumbling",
    }
)

QUERY_LAYERS = (
    "operators.relational",
    "operators.analytics",
    "operators.windows",
    "operators.scale",
    "llmdata.dedup",
    "llmdata.text",
    "llmdata.corpus",
    "llmdata.similarity",
    "llmdata.multimodal",
    "llmdata.ann_index",
    "llmdata.lex_index",
    "llmdata.retrieval",
    "streaming.queries",
)
LAYER_FIELDS = (
    ("build_s", "s"),
    ("exec_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("task_cpu_s", "s"),
)
ETL_METRICS = (
    ("etl.extract.s", "s"),
    ("etl.extract.bytes", "bytes"),
    ("etl.transform.build_s", "s"),
    ("etl.load.s", "s"),
    ("etl.load.jobs", "count"),
    ("etl.load.stages", "count"),
    ("etl.load.input_bytes", "bytes"),
    ("etl.load.output_bytes", "bytes"),
    ("etl.load.read_amp", "ratio"),
)
SETUP_METRICS = tuple(
    (f"setup.{k}", "s")
    for k in ("session_s", "inputs_s", "index.ann_s", "index.lex_s", "index.bloom_s", "warmup_s")
)
STREAM_METRICS = (
    ("stream.triggers", "count"),
    ("stream.trigger_ms", "ms"),
    ("stream.add_batch_ms", "ms"),
    ("stream.planning_ms", "ms"),
    ("stream.wal_commit_ms", "ms"),
    ("stream.input_rows", "count"),
)
OTHER_METRICS = (
    ("spark.gc_s", "s"),
    ("spark.failed_tasks", "count"),
    ("mem.peak_pss_mb", "MB"),
    ("pass_s", "s"),
    ("serve_s", "s"),
    ("ingest_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.unattributed_s", "s"),
)
PER_LAYER = (
    tuple((f"{layer}.{f}", u) for layer in QUERY_LAYERS for f, u in LAYER_FIELDS)
    + ETL_METRICS
    + SETUP_METRICS
    + STREAM_METRICS
    + OTHER_METRICS
)
END_TO_END = (("setup_s", "s"), ("cpu_s", "s"), ("ok_frac", "ratio"))
WORKLOADS = ("etl_cycle", "analytics_serve")


class Misconfigured(Exception):
    """A precondition failed before anything was timed."""


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read().strip()


def host_facts() -> dict:
    """CPU count and the cgroup CPU limit, as cgroup v2's ``cpu.max``
    reads (``<quota|max> <period>``); cgroup v1 is translated."""
    try:
        cpu_max = _read("/sys/fs/cgroup/cpu.max")
    except OSError:
        try:
            quota = _read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us")
            cpu_max = f"{'max' if quota == '-1' else quota} {_read('/sys/fs/cgroup/cpu/cpu.cfs_period_us')}"
        except OSError:
            cpu_max = "absent"
    return {"nproc": os.cpu_count(), "affinity": len(os.sched_getaffinity(0)), "cpu.max": cpu_max}


def configure_env(state: str) -> int:
    """Point every piece of persisted state at ``state``; return cpus."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if not raw.isdigit() or int(raw) < 1:
        raise Misconfigured(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    os.environ["SPARK_GRAFT_CPUS"] = raw
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    for var, sub in (
        ("SPARK_GRAFT_INDEX_DIR", "ann_index"),
        ("SPARK_GRAFT_LEX_INDEX_DIR", "lex_index"),
        ("SPARK_GRAFT_INDEX_DIR_BLOOM", "bloom_index"),
        ("SPARK_GRAFT_LATE_INDEX_DIR", "late_index"),
    ):
        os.environ[var] = os.path.join(state, sub)
    # Python workers import the package from the checkout under test.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return int(raw)


def import_package():
    sys.path.insert(0, ROOT)
    try:
        pkg = __import__(PKG)
    except ImportError as e:
        raise Misconfigured(f"cannot import {PKG} from {ROOT}: {e}") from e
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise Misconfigured(f"{PKG} imported from {pkg.__file__}, not from the checkout {ROOT}")
    return pkg


def start_session(state: str, cpus: int):
    from game_data_etl_pipeline_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(state, "sql-warehouse"),
            "spark.local.dir": os.path.join(state, "spark-local"),
            # keep the JVM's scratch files, hsperfdata included, in the run's state
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(state, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        check_session(spark.sparkContext, cpus)
    except Misconfigured:
        stop_session(spark)
        raise
    return spark


def check_session(sc, cpus: int) -> None:
    if sc.master != f"local[{cpus}]" or sc.defaultParallelism != cpus:
        raise Misconfigured(f"session is {sc.master} with defaultParallelism {sc.defaultParallelism}, want local[{cpus}]")
    try:
        # a lambda is pickled by value, so workers need not import this file
        worker_file = sc.parallelize([0], 1).map(lambda _: __import__(PKG).__file__).collect()[0]
    except Exception as e:  # noqa: BLE001 — any worker failure is the misconfiguration
        raise Misconfigured(f"Python workers cannot import {PKG}: {e}") from e
    if not os.path.abspath(worker_file).startswith(ROOT + os.sep):
        raise Misconfigured(f"Python workers import {PKG} from {worker_file}, not from {ROOT}")


def check_sf_dir(sf_dir: str, expected: dict[str, int]) -> None:
    import pyarrow.parquet as pq

    for name, n in expected.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.isfile(path):
            raise Misconfigured(f"missing table {path}")
        got = pq.ParquetFile(path).metadata.num_rows
        if got != n:
            raise Misconfigured(f"{path} has {got} rows, expected {n}")


def fingerprint(pdf) -> str:
    from tests.oracle import normalize

    cols, rows = normalize(pdf)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def layer_of(spec) -> str:
    return spec.fn.__module__.removeprefix(PKG + ".")


class Run:
    """State shared by one benchmark run: session, probes, counters."""

    def __init__(self, spark, args, state: str):
        self.spark = spark
        self.args = args
        self.state = state
        self.rng = random.Random(args.seed)
        self.trace = bool(args.trace)
        self.status = probes.SparkStatus(spark) if self.trace else None
        self.tracer = probes.Tracer()
        self.listener = None
        self.attempted = 0
        self.failed = 0
        self.setup: dict[str, float] = {k: 0.0 for k, _ in SETUP_METRICS}
        self.cpu_s: list[float] = []
        # per traced pass: metric -> value
        self.traced: list[dict[str, float]] = []
        self.untraced_in_trace_run: list[float] = []
        if self.trace:
            self.listener = probes.make_stream_listener()
            spark.streams.addListener(self.listener)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: check failed: {what}", file=sys.stderr)

    def timed_passes(self, one_pass, min_passes: int) -> None:
        """Closed loop of passes for ``--seconds``, and at least
        ``min_passes``. A traced run alternates untraced and traced
        passes, at least one of each, so that their difference is the
        tracing overhead."""
        if self.trace:
            min_passes = max(min_passes, 2)
        sampler = probes.MemorySampler()
        self.setup_cpu_s = probes.tree_cpu_s()
        with sampler if self.trace else contextlib.nullcontext():
            deadline = time.perf_counter() + self.args.seconds
            i = 0
            while i < min_passes or time.perf_counter() < deadline:
                traced = self.trace and i % 2 == 1
                cpu0 = probes.tree_cpu_s()
                sampler.active.set()
                elapsed, extra = one_pass(i, traced)
                sampler.active.clear()
                cpu = probes.tree_cpu_s() - cpu0
                if traced:
                    extra["pass_s"] = elapsed
                    self.traced.append(extra)
                elif self.trace:
                    self.untraced_in_trace_run.append(elapsed)
                else:
                    self.cpu_s.append(cpu)
                i += 1
        self.peak_mem = sampler.peak

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_cpu_s,
            "cpu_s": statistics.median(self.cpu_s),
            "ok_frac": 1.0 - self.failed / self.attempted,
        }

    def per_layer(self) -> dict[str, float]:
        out = {name: 0.0 for name, _ in PER_LAYER}
        out.update(self.setup)
        out["mem.peak_pss_mb"] = self.peak_mem / 2**20
        n = len(self.traced)
        for rec in self.traced:
            for k, v in rec.items():
                if k in out:
                    out[k] += v / n
        traced_pass = statistics.median(r["pass_s"] for r in self.traced)
        out["pass_s"] = statistics.median(self.untraced_in_trace_run)
        out["trace.overhead_s"] = traced_pass - out["pass_s"]
        attributed = [
            sum(v for k, v in r.items() if k.endswith((".build_s", ".exec_s")) or k in ("etl.extract.s", "etl.load.s"))
            for r in self.traced
        ]
        out["trace.unattributed_s"] = traced_pass - statistics.median(attributed)
        if out["etl.extract.bytes"]:
            out["etl.load.read_amp"] = out["etl.load.input_bytes"] / out["etl.extract.bytes"]
        return out

    # --- tracing helpers ----------------------------------------------
    def stream_progress_mark(self) -> int:
        return len(self.listener.progress) if self.listener else 0

    def stream_metrics(self, since: int) -> dict[str, float]:
        rows = self.listener.progress[since:]
        out = {"stream.triggers": float(len(rows))}
        for key in ("trigger_ms", "add_batch_ms", "planning_ms", "wal_commit_ms", "input_rows"):
            out[f"stream.{key}"] = sum(r[key] for r in rows)
        return out


# --- op-list workloads ----------------------------------------------------


class OpWorkload:
    def __init__(self, run: Run, sf_dir: str, ops: tuple[str, ...]):
        from game_data_etl_pipeline_spark import registry

        specs = registry.all_specs()
        self.run = run
        self.sf_dir = sf_dir
        self.ops = ops
        self.specs = {name: specs[name] for name in ops}
        for name, spec in self.specs.items():
            if layer_of(spec) not in QUERY_LAYERS:
                raise Misconfigured(f"{name} lives in {spec.fn.__module__}, which is not a benchmark layer")
        self.fingerprints: dict[str, str] = {}

    def check_pass(self) -> None:
        """Warm-up pass: run every op once, collect, and check it."""
        import duckdb

        from tests.oracle import normalize

        duck = duckdb.connect()
        for t in FIXTURES["sf0.01"]:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in self.ops:
            self.run.attempted += 1
            spec = self.specs[name]
            try:
                df = spec.fn(self.run.spark, self.sf_dir)
                pdf = df.toPandas()
                bad = [f.name for f in df.schema.fields if f.dataType.typeName() == "boolean" and not pdf[f.name].all()]
                if bad:
                    self.run.fail(f"{name}: referee columns not all true: {bad}")
                    continue
                if len(pdf) == 0:
                    self.run.fail(f"{name}: empty result")
                    continue
                self.fingerprints[name] = fingerprint(pdf)
                if name in ORACLE_OPS and normalize(pdf) != normalize(duck.execute(spec.oracle).df()):
                    self.run.fail(f"{name}: result differs from its DuckDB oracle")
            except Exception:  # noqa: BLE001 — an op failure is counted, not fatal
                self.run.fail(f"{name}: raised\n{traceback.format_exc()}")
        duck.close()

    def recheck(self) -> None:
        """Re-collect one op's result, after the timed passes, and compare
        it with the check pass."""
        name = self.run.rng.choice(self.ops)
        try:
            pdf = self.specs[name].fn(self.run.spark, self.sf_dir).toPandas()
        except Exception:  # noqa: BLE001
            self.run.fail(f"{name}: raised on recheck\n{traceback.format_exc()}")
            return
        if name in self.fingerprints and fingerprint(pdf) != self.fingerprints[name]:
            self.run.fail(f"{name}: result fingerprint changed between passes")

    def one_pass(self, i: int, traced: bool) -> tuple[float, dict[str, float]]:
        run, spark = self.run, self.run.spark
        order = list(self.ops)
        run.rng.shuffle(order)
        calls = []
        mark = run.stream_progress_mark()
        gc0 = run.status.gc_s() if traced else 0.0
        t0 = time.perf_counter()
        for name in order:
            run.attempted += 1
            try:
                if traced:
                    j0 = run.status.next_job_id()
                a = time.perf_counter()
                df = self.specs[name].fn(spark, self.sf_dir)
                b = time.perf_counter()
                if traced:
                    j1 = run.status.next_job_id()
                df.write.format("noop").mode("overwrite").save()
                c = time.perf_counter()
                if traced:
                    calls.append((name, a, b, c, j0, j1, run.status.next_job_id()))
                else:
                    calls.append((name, a, b, c))
            except Exception:  # noqa: BLE001
                run.fail(f"{name}: raised\n{traceback.format_exc()}")
        elapsed = time.perf_counter() - t0
        extra = {
            "serve_s": sum(c - a for name, a, _, c, *_ in calls if name in SERVE_READS),
            "ingest_s": sum(c - a for name, a, _, c, *_ in calls if name in STREAM_OPS),
        }
        if not traced:
            return elapsed, extra
        status = run.status
        status.drain()
        extra["spark.gc_s"] = status.gc_s() - gc0
        extra.update(run.stream_metrics(mark))
        trace_id, pass_id = probes.Tracer.new_trace(), probes.Tracer.new_id()
        for name, a, b, c, j0, j1, j2 in calls:
            layer = layer_of(self.specs[name])
            built, done = status.jobs(j0, j1), status.jobs(j1, j2)
            run.tracer.span(f"{name}.build", a, b, trace_id=trace_id, parent=pass_id, layer=layer, **built)
            run.tracer.span(f"{name}.exec", b, c, trace_id=trace_id, parent=pass_id, layer=layer, **done)
            extra[f"{layer}.build_s"] = extra.get(f"{layer}.build_s", 0.0) + (b - a)
            extra[f"{layer}.exec_s"] = extra.get(f"{layer}.exec_s", 0.0) + (c - b)
            for f, _ in LAYER_FIELDS[2:]:
                key = f"{layer}.{f}"
                extra[key] = extra.get(key, 0.0) + built[f] + done[f]
            extra["spark.failed_tasks"] = extra.get("spark.failed_tasks", 0.0) + built["failed_tasks"] + done["failed_tasks"]
        run.tracer.span(f"pass{i}", t0, t0 + elapsed, trace_id=trace_id, span_id=pass_id)
        return elapsed, extra


def analytics_serve(run: Run) -> None:
    from game_data_etl_pipeline_spark.llmdata.ann_index import build_ann_index
    from game_data_etl_pipeline_spark.llmdata.dedup import build_bloom_index
    from game_data_etl_pipeline_spark.llmdata.lex_index import build_lex_index

    sf = "sf0.001" if run.args.smoke else "sf0.01"
    sf_dir = os.path.join(HERE, "data", sf)
    if not os.path.relpath(sf_dir).startswith(".."):
        # op_join_bucketed names catalog tables after its sf dir: keep
        # the checkout's own path (which may hold '-') out of the name
        sf_dir = os.path.relpath(sf_dir)
    check_sf_dir(sf_dir, FIXTURES[sf])
    for key, build in (("ann", build_ann_index), ("lex", build_lex_index), ("bloom", build_bloom_index)):
        t = time.perf_counter()
        build(run.spark, sf_dir)
        run.setup[f"setup.index.{key}_s"] = time.perf_counter() - t
    wl = OpWorkload(run, sf_dir, BATCH_OPS + SERVE_READS + STREAM_OPS)
    t = time.perf_counter()
    wl.check_pass()
    run.setup["setup.warmup_s"] = time.perf_counter() - t
    run.timed_passes(wl.one_pass, min_passes=1)
    wl.recheck()


# --- ETL cycles -----------------------------------------------------------


def wait_next_second(last_run_id: str) -> None:
    """ETL run ids have one-second resolution: start each cycle in a new
    second, outside the timed region, so every cycle's id is distinct."""
    while dt.datetime.now(dt.timezone.utc).strftime("%Y%m%d_%H%M%S") <= last_run_id:
        time.sleep(0.02)


def etl_cycle(run: Run) -> None:
    from game_data_etl_pipeline_spark.etl import pipeline as etl_pipeline

    offline = os.path.join(run.state, "api")
    t = time.perf_counter()
    expected, _ = gen.write_envelopes(offline, run.args.seed, 20 if run.args.smoke else ETL_AGENTS)
    run.setup["setup.inputs_s"] = time.perf_counter() - t
    config = copy.deepcopy(etl_pipeline.DEFAULT_CONFIG)
    config["api"].update(offline_dir=offline, request_delay_seconds=0)
    config["landing"]["path"] = os.path.join(run.state, "landing")
    config["warehouse"]["path"] = os.path.join(run.state, "warehouse")
    pipe = etl_pipeline.ETLPipeline(run.spark, config)
    run_ids: list[str] = []

    def cycle() -> None:
        run.attempted += 1
        try:
            out = pipe.run()
        except Exception:  # noqa: BLE001
            run.fail(f"ETL cycle raised\n{traceback.format_exc()}")
            return
        run_ids.append(out["run_id"])
        if out["counts"] != expected:
            run.fail(f"ETL cycle {out['run_id']}: counts {out['counts']} != expected {expected}")

    t = time.perf_counter()
    cycle()
    run.setup["setup.warmup_s"] = time.perf_counter() - t

    def one_pass(i: int, traced: bool) -> tuple[float, dict[str, float]]:
        wait_next_second(run_ids[-1] if run_ids else "")
        if not traced:
            t0 = time.perf_counter()
            cycle()
            return time.perf_counter() - t0, {}
        return traced_cycle(run, pipe, etl_pipeline, cycle, i)

    run.timed_passes(one_pass, min_passes=2)
    # untimed end-of-run checks: one Success record per cycle, tables as predicted
    runs = {r.run_id: r.status for r in pipe.loader.read_etl_runs(run.spark).collect()}
    if len(set(run_ids)) != len(run_ids):
        run.fail(f"duplicate ETL run ids: {run_ids}")
    for rid in run_ids:
        if runs.get(rid) != "Success":
            run.fail(f"etl_runs[{rid}] is {runs.get(rid)!r}, not 'Success'")
    for table, n in expected.items():
        got = pipe.loader.read_table(run.spark, table).count()
        if got != n:
            run.fail(f"warehouse table {table} has {got} rows, expected {n}")


def traced_cycle(run: Run, pipe, etl_pipeline, cycle, i: int) -> tuple[float, dict[str, float]]:
    """One ETL cycle with the extract, transform and load calls wrapped."""
    status = run.status
    spans: list[tuple[str, float, float, int, int]] = []
    landed_bytes = [0]

    def wrap(name, fn, measure_bytes=False):
        def inner(*a, **kw):
            j0, t0 = status.next_job_id(), time.perf_counter()
            out = fn(*a, **kw)
            spans.append((name, t0, time.perf_counter(), j0, status.next_job_id()))
            if measure_bytes:
                landed_bytes[0] += sum(os.path.getsize(p) for p in out.values())
            return out

        return inner

    orig = (pipe.extractor.land, pipe.loader.load_all, etl_pipeline.parse_envelope, etl_pipeline.transform_all)
    pipe.extractor.land = wrap("extract", orig[0], measure_bytes=True)
    pipe.loader.load_all = wrap("load", orig[1])
    etl_pipeline.parse_envelope = wrap("transform", orig[2])
    etl_pipeline.transform_all = wrap("transform", orig[3])
    gc0 = status.gc_s()
    try:
        t0 = time.perf_counter()
        cycle()
        elapsed = time.perf_counter() - t0
    finally:
        del pipe.extractor.land, pipe.loader.load_all
        etl_pipeline.parse_envelope, etl_pipeline.transform_all = orig[2], orig[3]
    status.drain()
    extra = {"spark.gc_s": status.gc_s() - gc0, "etl.extract.bytes": float(landed_bytes[0])}
    trace_id, pass_id = probes.Tracer.new_trace(), probes.Tracer.new_id()
    for name, a, b, j0, j1 in spans:
        jobs = status.jobs(j0, j1)
        run.tracer.span(name, a, b, trace_id=trace_id, parent=pass_id, **jobs)
        extra["spark.failed_tasks"] = extra.get("spark.failed_tasks", 0.0) + jobs["failed_tasks"]
        if name == "extract":
            extra["etl.extract.s"] = extra.get("etl.extract.s", 0.0) + b - a
        elif name == "transform":
            extra["etl.transform.build_s"] = extra.get("etl.transform.build_s", 0.0) + b - a
        else:
            extra["etl.load.s"] = b - a
            for f in ("jobs", "stages", "input_bytes", "output_bytes"):
                extra[f"etl.load.{f}"] = jobs[f]
    run.tracer.span(f"cycle{i}", t0, t0 + elapsed, trace_id=trace_id, span_id=pass_id)
    return elapsed, extra


# --- process lifetime -----------------------------------------------------


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM, which exits when its stdin
    closes; the JVM stops its Python workers itself."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="sf0.001 fixture and a 20-agent ETL input")
    return p.parse_args()


def main() -> int:
    args = parse_args()
    load_before = os.getloadavg()
    os.makedirs(OUT_DIR, exist_ok=True)
    state = tempfile.mkdtemp(prefix="run_", dir=OUT_DIR)
    if not os.path.relpath(state).startswith(".."):
        # op_join_bucketed names catalog tables after its sf dir: keep
        # the checkout's own path (which may hold '-') out of the name
        state = os.path.relpath(state)
    spark = None
    try:
        cpus = configure_env(state)
        import_package()
        t = time.perf_counter()
        spark = start_session(state, cpus)
        run = Run(spark, args, state)
        run.setup["setup.session_s"] = time.perf_counter() - t
        {"etl_cycle": etl_cycle, "analytics_serve": analytics_serve}[args.workload](run)
        if run.trace:
            values, units = run.per_layer(), dict(PER_LAYER)
            run.tracer.write(os.path.join(OUT_DIR, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            values, units = run.end_to_end(), dict(END_TO_END)
    except Misconfigured as e:
        print(f"perfbench: misconfigured: {e}", file=sys.stderr)
        return 2
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(state, ignore_errors=True)
        if os.path.isdir(OUT_DIR) and not os.listdir(OUT_DIR):
            os.rmdir(OUT_DIR)
    passes = len(run.traced) if run.trace else len(run.cpu_s)
    host = {**host_facts(), "loadavg_before": load_before, "loadavg_after": os.getloadavg(), "passes": passes}
    print("host " + json.dumps(host))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

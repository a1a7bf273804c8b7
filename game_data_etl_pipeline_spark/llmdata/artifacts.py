"""Lifecycle of persisted index trees, shared by every index family
(ANN, lexical, Bloom, late-interaction). A family supplies its Spark
writes and any validity checks of its own; everything below is decided
here.

- **Key.** A tree lives at ``<root>/<name>_v<version>/<key>``
  (``TreeFamily.dir``). The root is the family's env var, else
  ``spark-warehouse/<family>``. The key is
  ``<flattened fixture path>_<size>_<mtime_ns>`` of the family's
  source parquet, so a regenerated fixture at the same path gets a
  fresh key and is never served a stale tree.
- **Cache hit.** ``ensure_tree`` returns the live tree when its
  completion marker exists and every family check passes. Otherwise it
  builds, and each cache-miss build bumps ``BUILD_COUNT``.
- **Staged publish.** A build writes into a ``staging_*`` dir next to
  the tree, writes the marker last and renames the dir into place, so
  a reader never sees a partial tree. A build that raises leaves no
  staging dir. A publisher that loses the rename race discards its
  staging dir and trusts the winner's tree (builds are deterministic).
- **Displacement and grace.** A live tree is never deleted in place.
  ``displace`` renames it aside to ``<tree>.trash.<tag>...`` stamped
  with the displacement time, so a reader that resolved the old path
  keeps a consistent snapshot for ``TRASH_GRACE_SEC``. A stale tree
  (failed check), a replaced tree (``publish_tree(replace=True)``) and
  a superseded key all go this way.
- **GC.** After every publish, ``prune_stale_keys`` displaces the other
  keys of the same fixture path and reaps trash older than the grace.
  Keys match by their exact shape, so keys of fixtures whose flattened
  path merely extends this one are left alone, as are ``staging_*``
  dirs (they may be another process's build in flight).

The family-neutral half of a purge lives here too: the tombstone
fixtures (the ``tomb_residue`` predicate, ``TOMB_IDS`` id list), the
one tombstone compaction (``compact_postings``), its purge ledger and
the one builder of offline compacted trees (``ensure_compacted_tree``).
The compaction contract:

- **One transaction.** The survivors and the purge ledger are written
  into the same staging tree, so a published tree always carries the
  evidence of what it deleted and a failed compaction publishes
  nothing. ``publish_compaction`` is that transaction for a tree that
  is rebuilt on every run (a streamed store's compaction).
- **Counts.** ``n_before`` is observed on the compaction's own scan of
  the source and ``n_after`` on its own write of the survivors: no
  extra count job, and the ledger attests to exactly the rows read and
  written.
- **One layout.** Every compacted tree, offline or streamed, holds its
  survivors in ``<tree>/postings`` and its purge ledger at ``<tree>``.
  A family's fold (``Postings.fold``) is the only family-specific
  step: the lexical index re-derives ``df/`` and ``stats/`` next to
  the postings; ANN has none (PQ codes are moved as they are).
- **One validity check.** A compacted tree is current when its ledger
  records the purge it is built for: the id-list digest or the
  residue predicate (``purge_ledger_current``).
- **Upsert trees.** A family's upsert tree is one segmented write,
  ``postings/seg=<s>/<part>=<v>`` (``write_segmented``): segment 0 is
  the base and segment 1 the delta of ``upsert_segments``, the layout a
  streamed store's epochs give.
- **Bloom registry.** A registry tree is a pure function of its
  marker's family map (family -> slice predicate): every registry
  edit republishes the whole tree from one snapshot of the published
  families.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import tempfile
import time
from collections.abc import Callable, Sequence
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from game_data_etl_pipeline_spark.catalog import read_parquet

# how long a displaced tree survives before GC may reap it: long
# enough for any in-flight scan of the old snapshot to finish
TRASH_GRACE_SEC = 600

_WAREHOUSE = Path(__file__).resolve().parents[2] / "spark-warehouse"

# cache-miss builds run by ensure_tree in this process
BUILD_COUNT = 0


def fingerprint_key(sf_dir: str, source_file: str) -> str:
    """Tree key for one fixture: path + (size, mtime_ns) of the source
    parquet."""
    st = os.stat(os.path.join(sf_dir, source_file))
    return f"{_sf_prefix(sf_dir)}_{st.st_size}_{st.st_mtime_ns}"


def _sf_prefix(sf_dir: str) -> str:
    return sf_dir.strip("/").replace("/", "_")


@dataclass(frozen=True)
class TreeFamily:
    """Where one index family keeps its trees."""

    env: str  # env var that overrides the root
    default: str  # root dir name under spark-warehouse
    source: str  # fixture parquet the keys fingerprint
    version: int  # layout version; a bump re-keys every tree

    def root(self) -> str:
        return os.environ.get(self.env, str(_WAREHOUSE / self.default))

    def dir(self, sf_dir: str, name: str = "") -> str:
        """The keyed dir of tree ``name`` (the family's main tree when
        empty) for the fixture at ``sf_dir``."""
        version_dir = f"{name}_v{self.version}" if name else f"v{self.version}"
        return os.path.join(self.root(), version_dir, fingerprint_key(sf_dir, self.source))


def displace(path: str, tag: str) -> None:
    """Rename ``path`` aside to a unique ``.trash.<tag>`` sibling whose
    grace clock starts now (a rename keeps the build-time mtime). A
    no-op when ``path`` is already gone."""
    trash = f"{path}.trash.{tag}{os.getpid()}_{time.time_ns()}"
    try:
        os.rename(path, trash)
        os.utime(trash, None)
    except OSError:
        pass  # a concurrent builder already displaced it


def make_staging(final: str) -> str:
    """A staging dir next to ``final`` (same filesystem, so the
    publish rename is atomic)."""
    os.makedirs(os.path.dirname(final), exist_ok=True)
    return tempfile.mkdtemp(prefix="staging_", dir=os.path.dirname(final))


@contextmanager
def staging_tree(final: str):
    """Yield a staging dir next to ``final``; remove it if the body
    raises. The body ends by publishing the dir."""
    staging = make_staging(final)
    try:
        yield staging
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise


def publish_staging(staging: str, final: str, *, marker: str, force: bool = False) -> None:
    """Rename a fully written staging tree into place as ``final``.
    ``force`` displaces a live ``final`` first. If the rename fails,
    the staging tree is discarded and the existing ``final`` is trusted
    when it holds ``marker``; otherwise the error propagates."""
    if force and os.path.isdir(final):
        displace(final, "replaced")
    try:
        os.rename(staging, final)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.isfile(os.path.join(final, marker)):
            raise


def prune_stale_keys(final: str, sf_dir: str) -> None:
    """Displace the sibling keys of ``final``'s fixture path and reap
    trash trees older than ``TRASH_GRACE_SEC``."""
    version_dir = os.path.dirname(final)
    keep = os.path.basename(final)
    pat = re.compile(rf"^{re.escape(_sf_prefix(sf_dir))}_\d+_\d+(?P<trash>\.trash\..+)?$")
    now = time.time()
    try:
        names = os.listdir(version_dir)
    except OSError:
        return
    for name in names:
        m = pat.match(name)
        if m is None or name == keep:
            continue
        path = os.path.join(version_dir, name)
        if not m.group("trash"):
            displace(path, "gc")
            continue
        try:
            if now - os.path.getmtime(path) < TRASH_GRACE_SEC:
                continue
        except OSError:
            continue  # already reaped by a concurrent pruner
        shutil.rmtree(path, ignore_errors=True)


def publish_tree(
    final: str,
    sf_dir: str,
    marker: str,
    meta: dict,
    build: Callable[[str], dict | None],
    *,
    replace: bool = False,
) -> str:
    """Stage ``build(staging)``, write ``meta`` (plus any fields the
    build returns) as the ``marker`` JSON, publish and prune.
    ``replace`` displaces the live tree: the republish of a tree that
    changes in place (a filter registry)."""
    with staging_tree(final) as staging:
        extra = build(staging) or {}
        with open(os.path.join(staging, marker), "w") as f:
            json.dump({**meta, **extra}, f)
        publish_staging(staging, final, marker=marker, force=replace)
    prune_stale_keys(final, sf_dir)
    return final


def ensure_tree(
    final: str,
    sf_dir: str,
    marker: str,
    meta: dict,
    build: Callable[[str], dict | None],
    valid: Sequence[Callable[[str], bool]] = (),
) -> str:
    """The cache-checked build of one tree: ``final`` itself when its
    ``marker`` exists and every ``valid(final)`` holds; else displace
    the stale tree and ``publish_tree`` a fresh one. Raises if the tree
    in place after the publish still fails a check (a stale tree that
    could not be displaced)."""
    global BUILD_COUNT
    if os.path.isfile(os.path.join(final, marker)):
        if all(ok(final) for ok in valid):
            return final
        displace(final, "stale")
    BUILD_COUNT += 1
    publish_tree(final, sf_dir, marker, meta, build)
    if not all(ok(final) for ok in valid):
        raise RuntimeError(f"{final} fails its validity check after publish")
    return final


def count_parquet_files(root: str) -> int:
    """Parquet files under ``root``: a tree's segment count."""
    return sum(
        sum(1 for f in files if f.endswith(".parquet")) for _dir, _dirs, files in os.walk(root)
    )


def segments_merged(before: str, after: str) -> bool:
    """The merge check of a rewrite: the tree at ``after`` holds at
    least one and strictly fewer parquet files than ``before``."""
    files_before, files_after = count_parquet_files(before), count_parquet_files(after)
    return 0 < files_after < files_before


# --- purge primitives ---------------------------------------------------

# residue tombstone fixture: ~6% of ids (pmod keeps the expression
# total; ids are nonnegative, so DuckDB's % replays it exactly)
TOMB_MOD, TOMB_RESIDUE = 17, 3


def tomb_residue(id_col: str) -> Column:
    """True for the rows of the residue tombstone fixture."""
    return F.pmod(F.col(id_col), F.lit(TOMB_MOD)) == TOMB_RESIDUE


# id-list tombstone fixture, the shape of a real purge request. The ids
# lie in the smallest fixture's id range (0..499), outside the query
# slot (>= 4), and on both sides of the upsert split (4/5 * max), so
# the base and delta segments both lose rows. DuckDB replays the list
# as NOT IN.
TOMB_IDS = (7, 23, 118, 233, 301, 404, 441, 468, 490, 497)
TOMB_IDS_SQL = f"({', '.join(map(str, TOMB_IDS))})"

# The purge ledger a compaction writes at the root of its output tree,
# in the same staging transaction as the survivors.
PURGE_LEDGER = "_purge_ledger.json"


def tombstone_ids_df(spark: SparkSession, id_col: str, ids: Sequence[int] = TOMB_IDS) -> DataFrame:
    """``ids`` as a one-column DataFrame named ``id_col``, built as a
    JVM-side literal explode (a Python local table would plan as Scan
    ExistingRDD, which the serve plan contracts forbid)."""
    return spark.range(1).select(
        F.explode(F.array(*[F.lit(int(i)).cast("long") for i in ids])).alias(id_col)
    )


def purge_ids_digest(ids) -> str:
    """Canonical digest of an id-list purge; the ledger writer and
    every checker derive it here."""
    return hashlib.sha256(",".join(str(i) for i in sorted(int(i) for i in ids)).encode()).hexdigest()


def purge_record(key: str, purge_ids: Sequence[int] | None = None) -> dict:
    """The ledger's record of one purge: the id list ``purge_ids`` with
    its digest, or, when None, the ``tomb_residue`` predicate on
    ``key`` with the digest of its text."""
    if purge_ids is not None:
        ids = sorted(int(i) for i in purge_ids)
        return {"kind": "id_list", "ids": ids, "digest": purge_ids_digest(ids)}
    predicate = f"pmod({key}, {TOMB_MOD}) == {TOMB_RESIDUE}"
    return {
        "kind": "predicate",
        "predicate": predicate,
        "digest": hashlib.sha256(predicate.encode()).hexdigest(),
    }


def write_purge_ledger(dest: str, purge: dict, *, n_before: int, n_after: int) -> None:
    """Write the purge ledger into ``dest``: the ``purge_record`` and
    the row counts. Timestamp-free, so an identical compaction writes
    an identical ledger."""
    with open(os.path.join(dest, PURGE_LEDGER), "w") as f:
        json.dump(
            {
                "version": 1,
                "purge": purge,
                "n_before": int(n_before),
                "n_after": int(n_after),
                "n_purged": int(n_before) - int(n_after),
            },
            f,
        )


@dataclass(frozen=True)
class Postings:
    """The postings layout a tombstone compaction rewrites, and the
    family's fold."""

    key: str  # the row id a purge names
    part: str  # partition column: one segment per value after compaction
    cols: tuple[str, ...]  # the columns kept, in order
    # what the family derives from the compacted postings, written next
    # to them: fold(survivor postings, tree dir)
    fold: Callable[[DataFrame, str], None] | None = None


def upsert_segments(rows: DataFrame, key: str) -> DataFrame:
    """``rows`` with the int column ``seg``: 0 for the base rows
    (``key < max(key) * 4 div 5``), 1 for the delta. The max is a
    broadcast one-row aggregate in the plan of each write that reads
    the result, so no job runs before the writes."""
    split = rows.agg(F.expr(f"max({key}) * 4 div 5").alias("_split"))
    return (
        rows.crossJoin(F.broadcast(split))
        .withColumn("seg", (F.col(key) >= F.col("_split")).cast("int"))
        .drop("_split")
    )


def write_segmented(postings: DataFrame, part: str, dest: str) -> None:
    """Write ``postings`` (with a ``seg`` column) as
    ``dest/seg=<s>/<part>=<v>``, one file per (segment, partition)."""
    (
        postings.repartition("seg", part)
        .write.mode("overwrite")
        .partitionBy("seg", part)
        .parquet(dest)
    )


def compact_postings(
    spark: SparkSession,
    layout: Postings,
    src: str,
    dest: str,
    *,
    purge_ids: Sequence[int] | None = None,
) -> None:
    """The one tombstone compaction: read the postings at ``src``, drop
    the rows whose ``layout.key`` is in ``purge_ids`` (a broadcast
    left-anti join; ``None`` drops the ``tomb_residue`` rows instead),
    rewrite the survivors as one segment per ``layout.part`` value
    under ``dest/postings``, write the purge ledger at ``dest`` and run
    the family's fold into ``dest``. The source is never mutated; the
    caller stages ``dest``."""
    obs_before, obs_after = Observation(), Observation()
    rows = read_parquet(spark, src).select(*layout.cols).observe(obs_before, F.count(F.lit(1)).alias("n"))
    if purge_ids is None:
        survivors = rows.filter(~tomb_residue(layout.key))
    else:
        survivors = rows.join(
            F.broadcast(tombstone_ids_df(spark, layout.key, purge_ids)), layout.key, "left_anti"
        )
    postings = os.path.join(dest, "postings")
    (
        survivors.observe(obs_after, F.count(F.lit(1)).alias("n"))
        .repartition(layout.part)
        .write.mode("overwrite")
        .partitionBy(layout.part)
        .parquet(postings)
    )
    write_purge_ledger(
        dest,
        purge_record(layout.key, purge_ids),
        n_before=obs_before.get["n"],
        n_after=obs_after.get["n"],
    )
    if layout.fold is not None:
        layout.fold(spark.read.parquet(postings), dest)


def ensure_compacted_tree(
    spark: SparkSession,
    sf_dir: str,
    family: TreeFamily,
    layout: Postings,
    src: str,
    tag: str,
    purge_ids: Sequence[int] | None = None,
) -> str:
    """The one builder of offline compacted trees (idempotent):
    ``compact_postings`` of the tree at ``src`` (its ``postings/``)
    into ``family``'s tree ``tag``. A tree whose ledger does not record
    this purge (``purge_ids``, or the residue predicate when None) is
    displaced and rebuilt; ``src`` stays live throughout."""
    purge = purge_record(layout.key, purge_ids)

    def build(staging: str) -> None:
        compact_postings(spark, layout, os.path.join(src, "postings"), staging, purge_ids=purge_ids)

    return ensure_tree(
        family.dir(sf_dir, tag),
        sf_dir,
        "compact_done.json",
        {"version": family.version},
        build,
        valid=(lambda p: purge_ledger_current(p, purge),),
    )


def publish_compaction(final: str, compact: Callable[[str], None]) -> None:
    """Replace ``final`` by the tree ``compact(staging)`` writes,
    published with its purge ledger at its root in one rename, and
    raise unless the ledger records the session TOMB_IDS. For trees
    rebuilt on every run: the previous ``final`` is removed first."""
    shutil.rmtree(final, ignore_errors=True)
    with staging_tree(final) as staging:
        compact(staging)
        publish_staging(staging, final, marker=PURGE_LEDGER)
    check_tomb_meta(final)


def read_purge_ledger(tree: str) -> dict:
    """The purge ledger at ``tree``; a missing ledger raises."""
    path = os.path.join(tree, PURGE_LEDGER)
    if not os.path.isfile(path):
        raise ValueError(
            f"compacted tree {tree} has no purge ledger ({PURGE_LEDGER}) — "
            f"the compaction's deletion evidence is missing; rebuild the tree"
        )
    with open(path) as f:
        return json.load(f)


def check_tomb_meta(tree: str, purge: dict | None = None) -> None:
    """Raise unless the purge ledger at ``tree`` records ``purge`` (a
    ``purge_record``; the session TOMB_IDS id list when None). A
    missing ledger raises too."""
    want = purge or purge_record("", TOMB_IDS)
    got = read_purge_ledger(tree).get("purge", {})
    if (got.get("kind"), got.get("digest")) != (want["kind"], want["digest"]):
        raise ValueError(
            f"compacted tree {tree} was compacted with tomb_ids="
            f"{got.get('ids', got.get('predicate'))} but this build purges "
            f"{want.get('ids', want.get('predicate'))} — the end state no "
            f"longer matches the code; rebuild the tree"
        )


def purge_ledger_current(tree: str, purge: dict) -> bool:
    """Cache check of a compacted tree: True iff ``check_tomb_meta``
    passes for ``purge``; otherwise ``tree`` is displaced, so a tree
    without its ledger, or purged with another list, is rebuilt."""
    try:
        check_tomb_meta(tree, purge)
        return True
    except (OSError, ValueError):  # JSONDecodeError is a ValueError
        displace(tree, "tomb")
        return False


def purge_ledger_referee(
    spark: SparkSession, tree: str, before: DataFrame, after: DataFrame, id_col: str
) -> DataFrame:
    """One-row boolean frame of the id-list purge from ``before`` to
    ``after`` (the persisted trees), both measured on the trees:

    - ``purge_ledger_consistent``: the ledger at ``tree`` records
      an id-list purge with the session TOMB_IDS digest and consistent
      arithmetic, its n_before/n_after equal the row counts of the
      trees, and its n_purged equals the TOMB_IDS hits in ``before``. A
      missing ledger raises in ``read_purge_ledger``.
    - ``tombstones_enforced``: no TOMB_IDS row is left in ``after``, and
      its count is ``before``'s minus those hits."""
    led = read_purge_ledger(tree)
    led_ok = (
        led["purge"].get("kind") == "id_list"
        and led["purge"].get("digest") == purge_ids_digest(TOMB_IDS)
        and led["n_purged"] == led["n_before"] - led["n_after"]
    )
    b_stats = (
        before.join(F.broadcast(tombstone_ids_df(spark, id_col)), id_col, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_purge_hits"))
        .crossJoin(before.agg(F.count(F.lit(1)).alias("n_before")))
    )
    a_stats = after.agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum(F.when(F.col(id_col).isin(*TOMB_IDS), 1).otherwise(0)).alias("n_tomb_left"),
    )
    return b_stats.crossJoin(F.broadcast(a_stats)).select(
        (
            (F.coalesce(F.col("n_tomb_left"), F.lit(0)) == 0)
            & (F.col("n_after") == F.col("n_before") - F.col("n_purge_hits"))
        ).alias("tombstones_enforced"),
        (
            F.lit(bool(led_ok))
            & (F.col("n_before") == F.lit(int(led["n_before"])))
            & (F.col("n_after") == F.lit(int(led["n_after"])))
            & (F.col("n_purge_hits") == F.lit(int(led["n_purged"])))
        ).alias("purge_ledger_consistent"),
    )

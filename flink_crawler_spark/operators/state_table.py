"""The durable URL DB at 100 TB: a bucketed state log under one root.

The reference keeps the URL DB in Flink keyed MapState
(functions/UrlDBFunction.java:94-139) with one checkpoint mechanism; here
the state is data in one directory, the STATE ROOT, and at 100 B tracked
URLs its base must be BUCKETED by the merge key so the per-tick merge
never shuffles the state side:

  * a base is written via ``bucketBy(n, "url").sortBy("url")``, and its
    catalog entry records the bucketing, so every scan reports
    ``outputPartitioning = HashPartitioning(url, n)``
  * ``merge_updates_join`` (operators/merge.py) then plans as a
    bucket-local sort-merge join: the only Exchange is the small
    per-tick delta's, and a ``groupBy("url")`` over the state is
    Exchange-free

Pick ``buckets`` so one bucket ~ a few GB at target scale (e.g. 16384
buckets for a 30 TB state); the bucket count is a physical-layout
constant the state keeps for life, so size it for the END state of the
crawl, not the seed list.

A root holds plain directories, found by listing it through the Hadoop
FileSystem of its URI (local, HDFS, S3A):

  * ``base_t<N>`` — the state as of tick N (bucketed parquet)
  * ``t<N>`` — the merged observations of log tick N (a delta)
  * ``seeds_t<N>`` — a seed micro-batch pending for tick N
  * ``commit_<K>`` — commit K: one small immutable JSON file, written
    whole under a hidden name and renamed into place, holding the tick,
    the simulated clock, the base tick, the base's bucket count and
    column list, and whether seeds are pending (``Marker``)

The highest commit is the marker, and the marker is the only commit
point. The state it names is ``base_t<base>`` folded with the deltas
``t<base+1>`` … ``t<tick>``; the live view (no ``at_tick``) also folds
``seeds_t<tick+1>`` when seeds are pending. Every write goes to an entry
the marker does not name yet and then commits, so a crash before the
commit leaves an orphan that nothing reads (a re-run of that tick
overwrites it), and a crash after it leaves entries the next sweep
deletes. A new base — compaction, or a merge tick — writes
``base_t<N>``, commits, and sweeps every entry the new marker does not
name: the sweep is the retention.

The catalog entry ``<table>`` is a cache of the marker, not the state:
``load_bucketed_state`` re-registers it (``CREATE TABLE … CLUSTERED BY
(url) SORTED BY (url) INTO n BUCKETS LOCATION base_t<base>``) whenever it
is missing — the session catalog is in-memory, so a new process starts
without it — or points at another base. ``state_table=NAME`` keeps its
root at ``<warehouse>/NAME``; a ``state_dir`` is its own root,
registered under a name derived from its path (``state_dir_table``).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

_COMMIT_RE = re.compile(r"commit_(\d+)")
_ENTRY_RE = re.compile(r"(?:base_|seeds_)?t(\d+)")
_ROOTS: dict[str, str] = {}  # table name -> root, for the state_dir roots
_LOCATIONS: dict[str, str] = {}  # table name -> the base its catalog entry points at


class Marker(NamedTuple):
    """One commit of a state log."""

    seq: int  # commit number: the highest one is the committed state
    tick: int  # completed ticks
    clock: int | None  # the simulated clock at that tick (None: never persisted)
    base: int  # the tick base_t<base> holds
    buckets: int  # the base's bucket count
    schema: str  # the base's column list, for a catalog entry made without a write
    seeds: bool = False  # seeds_t<tick+1> is pending


def state_dir_table(state_dir: str) -> str:
    """The catalog name of a ``state_dir`` root, derived from its path."""
    root = os.path.abspath(state_dir)
    name = "state_dir_" + hashlib.sha1(root.encode()).hexdigest()[:12]
    _ROOTS[name] = root
    return name


def _root(spark: SparkSession, table: str) -> str:
    if table in _ROOTS:
        return _ROOTS[table]
    return spark.conf.get("spark.sql.warehouse.dir").rstrip("/") + "/" + table


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) of ``path``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _ls(spark: SparkSession, root: str):
    """(FileSystem, {entry name: Hadoop Path}) of a root directory."""
    fs, p = _fs(spark, root)
    if not fs.exists(p):
        return fs, {}
    return fs, {s.getPath().getName(): s.getPath() for s in fs.listStatus(p)}


def _read_marker(spark: SparkSession, root: str) -> Marker | None:
    """The highest commit under ``root``; None for an empty or missing root.
    A root with other entries and no commit was written by an older
    layout (a ``_LATEST`` + ``state_t<N>`` snapshot directory, or a
    catalog-managed table) and cannot be resumed."""
    fs, entries = _ls(spark, root)
    commits = [int(m.group(1)) for n in entries if (m := _COMMIT_RE.fullmatch(n))]
    if not commits:
        foreign = sorted(n for n in entries if not (_ENTRY_RE.fullmatch(n) or n.startswith(".")))
        if foreign:
            raise ValueError(
                f"{root} holds {foreign[:3]} but no commit marker: state in an older "
                f"format cannot be resumed; delete {root} to restart from seeds"
            )
        return None
    name = f"commit_{max(commits)}"
    stream = fs.open(entries[name])
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    try:
        return Marker(**json.loads(text))
    except (ValueError, TypeError):
        raise ValueError(
            f"corrupt commit marker {root}/{name} (contents {text!r}); "
            f"delete {root} to restart from seeds"
        ) from None


def _commit(spark: SparkSession, root: str, m: Marker) -> Marker:
    """Write commit ``m.seq``: whole under a hidden name, then renamed."""
    fs, tmp = _fs(spark, f"{root}/.commit_{m.seq}.tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(json.dumps(m._asdict()).encode()))
    out.close()
    if not fs.rename(tmp, spark._jvm.org.apache.hadoop.fs.Path(f"{root}/commit_{m.seq}")):
        raise OSError(f"commit {m.seq} of {root} already exists: is another crawl writing it?")
    return m


def _open(spark: SparkSession, table: str, marker: Marker | None) -> tuple[str, Marker]:
    """(root, marker) of a committed state; ``marker`` when the caller has it."""
    root = _root(spark, table)
    m = marker or _read_marker(spark, root)
    if m is None:
        raise ValueError(f"no committed state for {table} at {root}")
    return root, m


def _new_base(spark: SparkSession, table: str, root: str, state: DataFrame, m: Marker) -> Marker:
    """Write the base ``m`` names, commit ``m``, then sweep. The base is
    written through the catalog entry (only saveAsTable writes bucketed
    files), dropped first — its files stay, it has a LOCATION — so
    ``state`` may read the base it replaces."""
    loc = f"{root}/base_t{m.base}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    state.write.mode("overwrite").bucketBy(m.buckets, "url").sortBy("url").format("parquet").option(
        "path", loc
    ).saveAsTable(table)
    _LOCATIONS[table] = loc
    _commit(spark, root, m)
    _sweep(spark, root, m)
    return m


def _sweep(spark: SparkSession, root: str, m: Marker) -> None:
    """Delete every layout entry the marker ``m`` does not name."""
    live = {f"base_t{m.base}", f"commit_{m.seq}", *(f"t{t}" for t in range(m.base + 1, m.tick + 1))}
    if m.seeds:
        live.add(f"seeds_t{m.tick + 1}")
    fs, entries = _ls(spark, root)
    for name, path in entries.items():
        if name not in live and (_ENTRY_RE.fullmatch(name) or _COMMIT_RE.fullmatch(name)):
            fs.delete(path, True)


def save_bucketed_state(
    state: DataFrame, table: str, *, buckets: int = 64, tick: int = 0, now_ms: int | None = None
) -> Marker:
    """Start the state log of ``table`` from ``state`` as the base of
    ``tick``; anything under its root is deleted first, so ``state`` must
    not read it."""
    spark = state.sparkSession
    root = _root(spark, table)
    fs, p = _fs(spark, root)
    fs.delete(p, True)
    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in state.schema)
    return _new_base(spark, table, root, state, Marker(0, tick, now_ms, tick, buckets, schema))


def load_bucketed_state(spark: SparkSession, table: str, *, marker: Marker | None = None) -> DataFrame:
    """The committed base as a bucketed table scan (HashPartitioning(url,
    n), so key-aligned joins and aggregations skip their Exchange). The
    catalog entry is registered again from the marker when it is missing
    or points at another base.

    The entry is left alone when it is current: dropping or refreshing it
    cascades an eviction through every cached frame that references the
    table, which would wipe the crawl tick's persisted caches on each
    read."""
    root, m = _open(spark, table, marker)
    loc = f"{root}/base_t{m.base}"
    if _LOCATIONS.get(table) != loc or not spark.catalog.tableExists(table):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(
            f"CREATE TABLE {table} ({m.schema}) USING parquet CLUSTERED BY (url) SORTED BY (url) "
            f"INTO {m.buckets} BUCKETS LOCATION '{loc}'"
        )
        _LOCATIONS[table] = loc
    return spark.table(table)


def get_state_marker(spark: SparkSession, table: str) -> Marker | None:
    """The committed marker of ``table``'s state log; None when there is none."""
    return _read_marker(spark, _root(spark, table))


def _read_obs(spark: SparkSession, paths: list[str]) -> DataFrame:
    # one path per directory and the known observation schema: no
    # inference job, and no parallel-listing job below the 32-path
    # discovery threshold
    from ..streaming.url_db import OBS_SCHEMA

    return spark.read.schema(OBS_SCHEMA).parquet(*paths)


def tick_merge_bucketed(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    *,
    now_ms: int | None = None,
    marker: Marker | None = None,
) -> DataFrame:
    """The next tick, written as a new base: join-merge the updates into
    the live view (pending seeds included) and commit the result as
    ``base_t<tick>`` (``now_ms`` None keeps the committed clock). Returns
    the new state frame."""
    from .merge import merge_updates_join

    root, m = _open(spark, table, marker)
    merged = merge_updates_join(_view(spark, table, m), updates)
    tick, clock = m.tick + 1, m.clock if now_ms is None else now_ms
    m = _new_base(spark, table, root, merged, m._replace(seq=m.seq + 1, tick=tick, clock=clock, base=tick, seeds=False))
    return load_bucketed_state(spark, table, marker=m)


# ---------------------------------------------------------------------------
# LSM-style delta log: per-tick writes are O(delta), not O(state)
# ---------------------------------------------------------------------------
#
# A log tick writes ONE small plain-parquet delta directory; reads view
# the state as base ⋈ merge(deltas) — a bucket-local join, the delta side
# shuffling into it — and every `state_log_every` ticks compaction folds
# the view into a new base. Per-tick write cost is O(delta); the full
# rewrite is amortized 1/state_log_every. This is the LSM/merge-on-read
# layout Delta/Iceberg implement natively, and the per-batch state files
# plus periodic snapshots of Structured Streaming's state store;
# exactly-once comes from the commit rule in the module docstring.


def stage_pending_seeds(
    spark: SparkSession, table: str, seeds: DataFrame, *, marker: Marker | None = None
) -> Marker:
    """Write merged seed observations as the seeds pending for the next
    tick, replacing an earlier pending set for that tick — a replayed
    micro-batch is idempotent. One pending set per committed tick: commit
    a tick between two distinct batches. Returns the marker."""
    root, m = _open(spark, table, marker)
    seeds.write.mode("overwrite").parquet(f"{root}/seeds_t{m.tick + 1}")
    return m if m.seeds else _commit(spark, root, m._replace(seq=m.seq + 1, seeds=True))


def tick_append_log(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    *,
    now_ms: int | None = None,
    marker: Marker | None = None,
) -> Marker:
    """The next tick, written as a log tick: this tick's pre-merged delta
    — the updates plus any seeds pending for it — as ``t<tick>``, then
    the commit (``now_ms`` None keeps the committed clock). Returns the
    new marker."""
    from .merge import OBS_COLS, merge_crawl_state

    root, m = _open(spark, table, marker)
    tick = m.tick + 1
    obs = updates.select(*OBS_COLS)
    if m.seeds:
        obs = obs.unionByName(_read_obs(spark, [f"{root}/seeds_t{tick}"]))
    # overwrite: re-running a crashed tick replaces its orphan delta
    merge_crawl_state(obs).write.mode("overwrite").parquet(f"{root}/t{tick}")
    clock = m.clock if now_ms is None else now_ms
    return _commit(spark, root, m._replace(seq=m.seq + 1, tick=tick, clock=clock, seeds=False))


def read_state_log(
    spark: SparkSession, table: str, *, at_tick: int | None = None, marker: Marker | None = None
) -> DataFrame:
    """The merged state view: base ⋈ merge(committed deltas + pending
    seeds). Lazy — evaluated by whatever job consumes it (the crawl
    loop's frontier scan).

    ``at_tick`` reads the COMMITTED state as of that tick (time travel;
    pending seeds excluded): the base holds everything up to its tick,
    so any tick between the last new base and the marker is
    reconstructable by folding only the delta prefix — what did the URL
    DB say before the tick that went wrong? History older than the base
    is compacted away: ``at_tick`` below the base tick raises, as does a
    tick past the marker. The retention window is exactly
    ``state_log_every`` ticks.

    All folded directories go through ONE delta-sized groupBy-merge and
    ONE bucket-local join with the base, so the per-scan cost is
    O(state) + O(sum-of-deltas) however many ticks have passed since the
    last compaction (the lattice is order- and partitioning-independent,
    property-pinned in test_merge_lattice_laws). The deltas are file
    scans, which claim no partitioning: the small union shuffles
    normally into the merge."""
    return _view(spark, table, _open(spark, table, marker)[1], at_tick)


def _view(spark: SparkSession, table: str, m: Marker, at_tick: int | None = None, seeds: bool = True) -> DataFrame:
    """The state ``m`` names; see read_state_log. ``seeds=False`` leaves
    the pending seeds out."""
    from .merge import merge_updates_join

    root, tick = _root(spark, table), m.tick
    if at_tick is not None:
        if at_tick < m.base:
            raise ValueError(
                f"state history before tick {m.base} is compacted away "
                f"(requested at_tick={at_tick}; raise state_log_every to "
                f"widen the retention window)"
            )
        if at_tick > tick:
            raise ValueError(f"at_tick={at_tick} is past the committed marker ({tick})")
        tick, seeds = at_tick, False
    paths = [f"{root}/t{t}" for t in range(m.base + 1, tick + 1)]
    if seeds and m.seeds:
        paths.append(f"{root}/seeds_t{tick + 1}")
    base = load_bucketed_state(spark, table, marker=m)
    return merge_updates_join(base, _read_obs(spark, paths)) if paths else base


def compact_state_log(spark: SparkSession, table: str, *, marker: Marker | None = None) -> Marker:
    """Fold the committed deltas into a new base ``base_t<tick>``, commit
    it and sweep what it holds. Seeds pending for the next tick stay
    pending. Returns the marker."""
    root, m = _open(spark, table, marker)
    if m.tick <= m.base:
        return m  # nothing committed since the base: the view IS the base
    merged = _view(spark, table, m, seeds=False)
    return _new_base(spark, table, root, merged, m._replace(seq=m.seq + 1, base=m.tick))

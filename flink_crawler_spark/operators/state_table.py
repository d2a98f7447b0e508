"""Bucketed crawl-state table — the durable URL DB at 100 TB.

The reference keeps the URL DB in Flink keyed MapState
(functions/UrlDBFunction.java:94-139); the batch-loop engine keeps it
as data. At bench scale a plain parquet path suffices
(plans/crawl_loop.py state_dir); at 100 B tracked URLs the state table
must be BUCKETED by the merge key so the per-tick merge never shuffles
the state side:

  * saved via ``bucketBy(n, "url").sortBy("url")`` — Spark records the
    bucketing in the catalog and every scan reports
    ``outputPartitioning = HashPartitioning(url, n)``
  * ``merge_updates_join`` (operators/merge.py) then plans as a
    bucket-local sort-merge join: the only Exchange is the small
    per-tick delta's, and a ``groupBy("url")`` over the state is
    Exchange-free

Pick ``buckets`` so one bucket ~ a few GB at target scale (e.g. 16384
buckets for a 30 TB state table); the bucket count is a physical-layout
constant the table keeps for life, so size it for the END state of the
crawl, not the seed list.

Next to the table's location sits its LOG directory ``<location>__log``
(next to, not inside: the crash-safe swap renames the table, and a
rename moves the table's own directory). It holds plain parquet
directories of merged observations, found by listing it through the
Hadoop FileSystem of its URI (local, HDFS, S3A — no catalog entries):

  * ``t<N>`` — the delta of log-mode tick N (``tick_append_log``)
  * ``seeds_t<N>`` — a seed micro-batch pending for tick N
    (``stage_pending_seeds``), where N is the marker + 1 at ingest

The table's ``crawl.tick`` property is the authoritative marker and
``crawl.base_tick`` says which tick the base table holds. A read folds
the deltas in (base_tick, marker] into the base; the live view (no
``at_tick``) also folds the seeds pending for marker + 1. Anything else
is ignored: a delta past the marker is an orphan of a crash between its
write and the marker flip (re-running that tick overwrites it), and
seeds at or below the marker were absorbed by the tick that reached
them (log mode writes them into that tick's delta, rewrite mode folds
them through its swap). Compaction folds the committed deltas — never
the pending seeds — into the base and sweeps every entry at or below
the new base tick; a rewrite swap sweeps the whole log, which the new
base holds; a table (re)created by ``save_bucketed_state`` starts with
an empty log, so it never reads a dropped namesake's files.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

_ENTRY_RE = re.compile(r"(?:seeds_)?t(\d+)")


def _write_bucketed(state: DataFrame, table: str, buckets: int) -> None:
    state.write.mode("overwrite").bucketBy(buckets, "url").sortBy("url").format(
        "parquet"
    ).saveAsTable(table)


def save_bucketed_state(state: DataFrame, table: str, *, buckets: int = 64) -> None:
    """Persist the crawl state as a bucketed+sorted catalog table, with
    an empty log (files a dropped table of the same name left behind
    are swept)."""
    _write_bucketed(state, table, buckets)
    _sweep(state.sparkSession, _meta(state.sparkSession, table)[1])


def load_bucketed_state(spark: SparkSession, table: str) -> DataFrame:
    """Read the bucketed state; scans report HashPartitioning(url, n) so
    downstream key-aligned joins/aggregations skip their Exchange.

    Recovery: if a tick crashed between the two renames of the swap,
    the previous state survives as ``<table>__old`` — restore it."""
    if not spark.catalog.tableExists(table) and spark.catalog.tableExists(f"{table}__old"):
        spark.sql(f"ALTER TABLE {table}__old RENAME TO {table}")
        # the rename can leave a cached relation with a stale file
        # listing (FAILED_READ_FILE.FILE_NOT_EXIST on the next scan)
        spark.catalog.refreshTable(table)
    # NOTE: no unconditional refreshTable here — refreshing cascades an
    # eviction through every cached frame that references the table,
    # which would wipe the crawl tick's persisted caches on each merge
    # read. The swap refreshes explicitly after its renames instead.
    return spark.table(table)


def _meta(spark: SparkSession, table: str) -> tuple[dict, str]:
    """(table properties, log directory) from one catalog lookup."""
    d = json.loads(spark.sql(f"DESCRIBE TABLE EXTENDED {table} AS JSON").collect()[0][0])
    return d.get("table_properties", {}), d["location"] + "__log"


def _ls(spark: SparkSession, log: str):
    """(FileSystem, {entry name: Hadoop Path}) of a log directory."""
    root = spark._jvm.org.apache.hadoop.fs.Path(log)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return fs, {}
    return fs, {s.getPath().getName(): s.getPath() for s in fs.listStatus(root)}


def _sweep(spark: SparkSession, log: str, up_to: int | None = None) -> None:
    """Delete the log entries of ticks <= up_to (None: every entry)."""
    fs, entries = _ls(spark, log)
    for name, path in entries.items():
        m = _ENTRY_RE.fullmatch(name)
        if up_to is None or (m and int(m.group(1)) <= up_to):
            fs.delete(path, True)


def _read_obs(spark: SparkSession, paths: list[str]) -> DataFrame:
    # one path per directory and the known observation schema: no
    # inference job, and no parallel-listing job below the 32-path
    # discovery threshold
    from ..streaming.url_db import OBS_SCHEMA

    return spark.read.schema(OBS_SCHEMA).parquet(*paths)


def _set_props(spark: SparkSession, table: str, props: dict) -> None:
    kv = ", ".join(f"'{k}'='{int(v)}'" for k, v in props.items() if v is not None)
    if kv:
        spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")


def _swap(spark: SparkSession, table: str, merged: DataFrame, buckets: int, props: dict) -> None:
    """Crash-safe replace: write a staging table and stamp its markers
    BEFORE the renames (saveAsTable creates it propertyless, so the data
    and its markers move together), rename the old state aside
    (recoverable), swap, then drop the backup. A crash in any window
    leaves <table> or <table>__old — load_bucketed_state restores."""
    staging, old = f"{table}__staging", f"{table}__old"
    _write_bucketed(merged, staging, buckets)
    _set_props(spark, staging, props)
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    spark.catalog.refreshTable(table)  # drop the pre-swap file listing


def tick_merge_bucketed(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    *,
    buckets: int = 64,
    merged_transform=None,
    tick: int | None = None,
    now_ms: int | None = None,
) -> DataFrame:
    """One durable tick: join-merge the delta into the live view and
    crash-safely swap the result in as the new base. Returns the new
    state frame.

    ``merged_transform`` (optional) decorates the merged frame before the
    write — the crawl loop uses it to attach ``df.observe`` status
    counters so per-tick metrics ride the state write job instead of
    costing a second action.

    ``tick`` (optional) is stamped as the marker AND the base tick on the
    staging table before the swap, so a crash can never pair the new
    state with a stale (or tick-0) counter. Without it the new table
    carries no markers: the counter resets to 0."""
    from .merge import merge_updates_join

    # the LIVE view, not just the base: committed-but-uncompacted deltas
    # and pending seeds fold in here (with neither, this IS the base scan)
    state, _, log = _view(spark, table)
    merged = merge_updates_join(state, updates)
    if merged_transform is not None:
        merged = merged_transform(merged)
    props = {} if tick is None else {"crawl.tick": tick, "crawl.now_ms": now_ms, "crawl.base_tick": tick}
    _swap(spark, table, merged, buckets, props)
    _sweep(spark, log)  # the new base holds everything the log held
    return load_bucketed_state(spark, table)


def set_state_tick(
    spark: SparkSession, table: str, tick: int, *, now_ms: int | None = None
) -> None:
    """Record the completed tick number (and, optionally, the simulated
    clock) on the state table itself, so a restarted crawl resumes at
    the right now_ms — including refetch-mode clock jumps, which a
    tick-count-derived clock would silently rewind (the batch-loop
    analogue of the reference's checkpointed iteration counter)."""
    _set_props(spark, table, {"crawl.tick": tick, "crawl.now_ms": now_ms})


def get_state_tick(spark: SparkSession, table: str) -> int:
    """Completed-tick number stored on the table; 0 when unset."""
    return int(_meta(spark, table)[0].get("crawl.tick", 0))


def get_state_now_ms(spark: SparkSession, table: str) -> int | None:
    """Persisted simulated clock; None when unset (pre-clock tables)."""
    v = _meta(spark, table)[0].get("crawl.now_ms")
    return int(v) if v is not None else None


# ---------------------------------------------------------------------------
# LSM-style delta log: per-tick writes are O(delta), not O(state)
# ---------------------------------------------------------------------------
#
# tick_merge_bucketed keeps the merge COMPUTE delta-only but still
# REWRITES the whole table every tick (plain parquet has no row-level
# MERGE). The log backend removes that: each tick writes ONE small
# plain-parquet delta directory, reads view the state as
# base ⋈ merge(deltas) — a bucket-local join, the delta side shuffling
# into it — and every `state_log_every` ticks the view is folded back
# into the base with the same crash-safe swap. Per-tick write cost is
# O(delta); the full rewrite is amortized 1/state_log_every. This is the
# LSM/merge-on-read layout Delta/Iceberg implement natively, and the
# per-batch state files plus periodic snapshots of Structured Streaming's
# state store; exactly-once comes from the marker rule in the module
# docstring (write the delta, then flip crawl.tick).


def stage_pending_seeds(spark: SparkSession, table: str, seeds: DataFrame) -> int:
    """Write merged seed observations as the seeds pending for the next
    tick (marker + 1), replacing an earlier pending set for that tick —
    a replayed micro-batch is idempotent. One pending set per marker:
    commit a tick between two distinct batches. Returns the marker."""
    load_bucketed_state(spark, table)  # restore from __old first
    props, log = _meta(spark, table)
    tick = int(props.get("crawl.tick", 0))
    seeds.write.mode("overwrite").parquet(f"{log}/seeds_t{tick + 1}")
    return tick


def tick_append_log(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    *,
    buckets: int,
    tick: int,
    now_ms: int | None = None,
) -> None:
    """One log-mode tick: write this tick's pre-merged delta — the
    updates plus any seeds pending for this tick — as the directory
    ``t<tick>``, then flip the marker. Deltas are plain parquet (read
    back shuffled into the merge), so ``buckets`` does not apply."""
    from .merge import OBS_COLS, merge_crawl_state

    _, log = _meta(spark, table)
    obs = updates.select(*OBS_COLS)
    if f"seeds_t{tick}" in _ls(spark, log)[1]:
        obs = obs.unionByName(_read_obs(spark, [f"{log}/seeds_t{tick}"]))
    # overwrite: re-running a crashed tick replaces its orphan delta
    merge_crawl_state(obs).write.mode("overwrite").parquet(f"{log}/t{tick}")
    set_state_tick(spark, table, tick, now_ms=now_ms)


def read_state_log(
    spark: SparkSession, table: str, *, at_tick: int | None = None
) -> DataFrame:
    """The merged state view: base ⋈ merge(committed deltas + pending
    seeds). Lazy — evaluated by whatever job consumes it (the crawl
    loop's frontier scan).

    ``at_tick`` reads the COMMITTED state as of that tick (time travel;
    pending seeds excluded): the base holds everything up to
    ``crawl.base_tick``, so any tick between the last compaction and the
    marker is reconstructable by folding only the delta prefix — what
    did the URL DB say before the tick that went wrong? History older
    than the base is compacted away: ``at_tick`` below
    ``crawl.base_tick`` raises, as does a tick past the marker. The
    retention window is exactly ``state_log_every`` ticks.

    All folded directories go through ONE delta-sized groupBy-merge and
    ONE bucket-local join with the base, so the per-scan cost is
    O(state) + O(sum-of-deltas) however many ticks have passed since the
    last compaction (the lattice is order- and partitioning-independent,
    property-pinned in test_merge_lattice_laws). The deltas are file
    scans, which claim no partitioning: the small union shuffles
    normally into the merge."""
    return _view(spark, table, at_tick)[0]


def _view(spark: SparkSession, table: str, at_tick: int | None = None, seeds: bool = True):
    """(state view, table properties, log directory); see read_state_log.
    ``seeds=False`` leaves the pending seeds out."""
    from .merge import merge_updates_join

    base = load_bucketed_state(spark, table)
    props, log = _meta(spark, table)
    b0, tick = int(props.get("crawl.base_tick", 0)), int(props.get("crawl.tick", 0))
    if at_tick is not None:
        if at_tick < b0:
            raise ValueError(
                f"state history before tick {b0} is compacted away "
                f"(requested at_tick={at_tick}; raise state_log_every to "
                f"widen the retention window)"
            )
        if at_tick > tick:
            raise ValueError(f"at_tick={at_tick} is past the committed marker ({tick})")
        tick, seeds = at_tick, False
    names = [f"t{t}" for t in range(b0 + 1, tick + 1)] + [f"seeds_t{tick + 1}"] * seeds
    entries = _ls(spark, log)[1]
    paths = [f"{log}/{n}" for n in names if n in entries]
    view = merge_updates_join(base, _read_obs(spark, paths)) if paths else base
    return view, props, log


def compact_state_log(
    spark: SparkSession, table: str, *, buckets: int, merged_transform=None
) -> DataFrame:
    """Fold the committed deltas into the base with the crash-safe swap,
    advance crawl.base_tick, and sweep the folded log entries. Seeds
    pending for the next tick stay pending."""
    merged, props, log = _view(spark, table, seeds=False)
    tick = int(props.get("crawl.tick", 0))
    if tick <= int(props.get("crawl.base_tick", 0)):
        return merged  # nothing committed since the base: the view IS the base
    if merged_transform is not None:
        merged = merged_transform(merged)
    # carry ALL markers through the swap — including the persisted
    # simulated clock: dropping crawl.now_ms here would rewind a
    # refetch-mode crawl that stops on a compaction boundary to
    # start_ms + tick*tick_ms, re-deriving its timer-sleep jumps
    now_ms = props.get("crawl.now_ms")
    _swap(spark, table, merged, buckets, {"crawl.tick": tick, "crawl.now_ms": now_ms, "crawl.base_tick": tick})
    _sweep(spark, log, up_to=tick)
    return load_bucketed_state(spark, table)

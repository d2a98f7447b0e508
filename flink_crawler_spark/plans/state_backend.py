"""Durable crawl state behind one interface: the state backends.

The reference keeps its URL DB in one keyed-state operator with one
checkpoint mechanism (``functions/UrlDBFunction.java``); Structured
Streaming's operators likewise see one versioned state-store interface
with the storage format behind it. Here ``state_backend`` picks one of
four backends, once per crawl, from the ``CrawlConfig`` fields:

  =============================  =================  ===========================
  CrawlConfig                    backend            a tick persists as
  =============================  =================  ===========================
  neither field                  _MemoryBackend     a localCheckpoint (no resume)
  state_dir                      _SnapshotBackend   + parquet ``state_t<N>``,
                                                    ``_LATEST``, retention
  state_table                    _TableBackend      a bucketed-table rewrite swap
  state_table + state_log_every  _LogBackend        a delta, compacted every N
  =============================  =================  ===========================

Every backend offers what the crawl loop and the streaming shell do with
state: ``open`` (resume: state, tick, clock — or None), ``marker`` (just
the tick and clock, no state read), ``seed`` (the tick-0 state),
``frontier`` (select the tick's frontier from the state), ``advance``
(merge one tick's updates and persist the tick), ``close`` (the stats
entries still owed when the loop ends) and ``ingest`` (one streamed
seed micro-batch; durable backends only).

The two real differences between the modes are what the backends do:

  * Cache consumption. A table swap refreshes the table relation, which
    evicts every cached frame derived from it, so the table backends
    count the frontier and fold the tick's history (``fold``) BEFORE
    they write; that count job materializes the tick's caches and the
    write reuses them. The in-memory backends run their checkpoint job
    first (it materializes the caches) and consume them after it.
  * Stats lag. The status counters ride the job that already scans the
    state: the checkpoint job or the rewrite swap, giving post-merge
    counts the same tick. The log backend has no full-state write, so
    its counters ride the next tick's frontier scan of the state view:
    each tick's entry is finalized one tick in arrears, and the last one
    by a single aggregation when the loop ends.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from functools import cached_property
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_crawl_state, merge_updates
from ..operators.state_table import (
    compact_state_log,
    get_state_now_ms,
    get_state_tick,
    load_bucketed_state,
    read_state_log,
    save_bucketed_state,
    set_state_tick,
    stage_pending_seeds,
    tick_append_log,
    tick_merge_bucketed,
)
from ..schemas import FETCH_STATUSES


class Tick(NamedTuple):
    """What ``advance`` reports about one tick."""

    state: DataFrame | None  # None: the state was already final, the tick did not run
    frontier: int  # URLs admitted this tick
    due_ms: int | None  # earliest refetch due time among FETCHED rows (refetch mode)
    stats: list[dict]  # the stats entries this tick finalized
    done: bool  # no UNFETCHED row is left and refetch is off: no later tick can admit


def state_backend(spark: SparkSession, cfg) -> _MemoryBackend:
    """The backend the config names; the only reader of the state fields."""
    if cfg.state_table is not None and cfg.state_dir is not None:
        raise ValueError("state_table and state_dir are mutually exclusive")
    if cfg.state_log_every is not None and cfg.state_table is None:
        raise ValueError("state_log_every requires state_table")
    if cfg.state_table is None:
        return (_MemoryBackend if cfg.state_dir is None else _SnapshotBackend)(spark, cfg)
    if cfg.compact_history is False:
        # not a preference in table mode: lazy trace/parsed frames would
        # reference table versions whose files the next tick's swap
        # deletes — evaluating them later crashes or reads wrong data
        raise ValueError("state_table requires compact_history (got False)")
    return (_LogBackend if cfg.state_log_every else _TableBackend)(spark, cfg)


def _observed_count(obs, *, wait_s: float = 2.0) -> int | None:
    """The first metric of a one-count Observation, or None when it has
    not arrived within ``wait_s``. Never blocks without a deadline: the
    metric is delivered by an asynchronous listener, and AQE's
    empty-relation propagation can fold the CollectMetrics node out of
    the executed plan (exactly when the frontier IS runtime-empty) — the
    Observation then completes with a schemaless empty row, or never.
    Not ``obs.get``: pyspark's toPyRow rejects that empty row, and the
    JVM ``getRow`` waits forever on a metric that never fires.
    ``getRowOrEmpty`` waits at most 100 ms per call."""
    deadline = time.monotonic() + wait_s
    while True:
        opt = obs._jo.getRowOrEmpty()
        if opt.isDefined():
            row = opt.get()
            return int(row.getLong(0)) if row.size() > 0 else None
        if time.monotonic() >= deadline:
            return None


def _obs_counts(metrics: dict) -> dict:
    """Observed status-counter row -> {status: n} with absent statuses
    (None or 0) omitted, keeping the historical groupBy dict shape."""
    return {
        s: int(n)
        for s, n in metrics.items()
        if s != "__min_nft" and n is not None and int(n) > 0
    }


def _due_ms(metrics: dict) -> int | None:
    v = metrics.get("__min_nft")
    return int(v) if v is not None else None


def _release(caches: list[DataFrame]) -> None:
    for f in caches:
        f.unpersist()


class _MemoryBackend:
    """The state lives in localCheckpoint blocks; nothing is durable."""

    # the state is a table whose swap evicts cached frames and deletes
    # the files older lazy frames read (the loop then compacts history)
    evicts_caches = False

    def __init__(self, spark: SparkSession, cfg) -> None:
        self.spark, self.cfg = spark, cfg
        self._front_obs: Observation | None = None

    @cached_property
    def aggs(self) -> list:
        """The status counters and the refetch due-timer aggregate: the
        Flink-counter surface (StatusCounterFunction / DEFAULT_METRIC
        gauges) at zero extra actions. Built once; an Observation is
        made per tick."""
        aggs = []
        if self.cfg.collect_stats:
            aggs += [F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(s) for s in FETCH_STATUSES]
        if self.cfg.refetch:
            # refetch-mode termination needs the earliest due time among
            # tracked FETCHED rows — rides the same job
            aggs.append(F.min(F.when(F.col("status") == "FETCHED", F.col("next_fetch_time"))).alias("__min_nft"))
        return aggs

    def marker(self) -> tuple[int, int | None] | None:
        """(tick, clock) of the committed state, None when there is none;
        the clock is None when it was never persisted."""
        return None

    def open(self) -> tuple[DataFrame, int, int | None] | None:
        """(state, tick, clock) to resume from, None for a fresh crawl."""
        m = self.marker()
        return None if m is None else (self._load(m[0]), *m)

    def seed(self, seeded: DataFrame) -> DataFrame:
        return seeded.localCheckpoint(eager=True)

    def frontier(self, state: DataFrame, tick: int, select) -> DataFrame:
        """``select(state)``, carrying what this backend observes."""
        frontier = select(state)
        if self.cfg.collect_stats:
            return frontier  # the per-tick "frontier" stat is an exact count
        # without stats the count only drives the == 0 termination check:
        # it rides the checkpoint job as a CollectMetrics node, firing
        # once when the persisted frontier materializes inside that job
        self._front_obs = Observation(f"frontier_n_t{tick}")
        return frontier.observe(self._front_obs, F.count(F.lit(1)).alias("n"))

    def advance(self, state, updates, *, tick, now_ms, frontier, caches, fold) -> Tick:
        """Merge one tick's updates into ``state`` and persist the tick.
        ``frontier`` is the tick's persisted frontier, ``caches`` the
        tick's persisted frames (released here once consumed), ``fold``
        the loop's history fold, which still reads them."""
        obs = Observation(f"state_t{tick}") if self.aggs else None
        merged = merge_updates(state, updates)
        if obs is not None:
            merged = merged.observe(obs, *self.aggs)
        # localCheckpoint truncates lineage — without it the state plan
        # grows every tick. This one job also materializes the caches.
        new_state = merged.localCheckpoint(eager=True)
        # a row that is missing, empty or 0 is verified with ONE read of
        # the (already materialized) cache
        n = (self._front_obs is not None and _observed_count(self._front_obs)) or frontier.count()
        fold()
        _release(caches)
        if n > 0:
            self._persist(new_state, tick, now_ms)
        return self._tick(tick, new_state, n, obs)

    def _persist(self, state: DataFrame, tick: int, now_ms: int) -> None:
        pass

    def _tick(self, tick: int, state: DataFrame, n: int, obs: Observation | None) -> Tick:
        """The tick's report from post-merge counters; a tick that admits
        nothing is the terminal one and records no stats entry."""
        metrics = dict(obs.get) if obs is not None else {}
        if not (self.cfg.collect_stats and n > 0):
            return Tick(state, n, _due_ms(metrics), [], False)
        counts = _obs_counts(metrics)
        # frontier admission is UNFETCHED-only (FetchQueue semantics), so
        # none left means no later tick can admit; in refetch mode FETCHED
        # rows re-enter when due and the empty frontier ends the crawl
        done = counts.get("UNFETCHED", 0) == 0 and not self.cfg.refetch
        return Tick(state, n, _due_ms(metrics), [{"tick": tick, "frontier": n, "status_counts": counts}], done)

    def close(self, state: DataFrame) -> list[dict]:
        """Stats entries still owed when the loop ends."""
        return []


def _latest_marker(state_dir: str) -> tuple[int, int | None] | None:
    """(tick, now_ms) from a snapshot directory's ``_LATEST`` marker,
    None when there is none. Format: "tick now_ms", or the pre-clock
    single-token "tick" (now_ms None)."""
    marker = os.path.join(state_dir, "_LATEST")
    if not os.path.exists(marker):
        return None
    with open(marker) as fh:
        content = fh.read().strip()
    try:
        parts = content.split()
        return int(parts[0]), (int(parts[1]) if len(parts) > 1 else None)
    except (ValueError, IndexError):
        raise ValueError(
            f"corrupt checkpoint marker {marker!r} (contents {content!r}); "
            "delete the state_dir to restart from seeds"
        ) from None


class _SnapshotBackend(_MemoryBackend):
    """The in-memory loop plus a parquet snapshot ``state_t<N>`` of every
    tick that admitted URLs, named by the ``_LATEST`` marker."""

    def __init__(self, spark: SparkSession, cfg) -> None:
        super().__init__(spark, cfg)
        self.dir = cfg.state_dir

    def _path(self, tick: int) -> str:
        return os.path.join(self.dir, f"state_t{tick}")

    def marker(self) -> tuple[int, int | None] | None:
        return _latest_marker(self.dir)

    def _load(self, tick: int) -> DataFrame:
        # eager: lazy trace frames must not read a snapshot the retention
        # sweep (or a seed ingest) later replaces
        return self.spark.read.parquet(self._path(tick)).localCheckpoint(eager=True)

    def _commit(self, state: DataFrame, tick: int, now_ms: int) -> None:
        """Write the snapshot, then flip the marker to it (atomically)."""
        state.write.mode("overwrite").parquet(self._path(tick))
        tmp = os.path.join(self.dir, "_LATEST.tmp")
        with open(tmp, "w") as fh:
            fh.write(f"{tick} {now_ms}")  # tick + simulated clock
        os.replace(tmp, os.path.join(self.dir, "_LATEST"))

    def _persist(self, state: DataFrame, tick: int, now_ms: int) -> None:
        self._commit(state, tick, now_ms)
        # retention: keep the newest keep_checkpoints snapshots (older ones
        # only serve manual rollback). Sweep AFTER the marker flips, so a
        # crash mid-sweep still leaves a consistent latest.
        keep = self.cfg.keep_checkpoints
        if keep is not None and keep >= 1:
            snaps = sorted(
                int(m.group(1)) for d in os.listdir(self.dir) if (m := re.fullmatch(r"state_t(\d+)", d))
            )
            for old in snaps[:-keep]:
                shutil.rmtree(self._path(old), ignore_errors=True)

    def ingest(self, obs: DataFrame, *, now_ms: int) -> int:
        """Merge seed observations into the snapshot the marker names
        (``state_t0`` when there is none); returns its tick."""
        m = self.marker()
        if m is None:
            state, tick, clock = merge_crawl_state(obs), 0, None
        else:
            tick, clock = m
            # materialize + cut lineage BEFORE overwriting the path it reads
            state = merge_updates(self.spark.read.parquet(self._path(tick)), obs).localCheckpoint(eager=True)
        os.makedirs(self.dir, exist_ok=True)
        # keep a persisted clock: a refetch-mode crawl may have sleep-jumped
        # it past tick*tick_ms, and the resume would otherwise rewind
        self._commit(state, tick, clock if clock is not None else now_ms)
        return tick


class _TableBackend(_MemoryBackend):
    """The URL DB as a bucketed catalog table (operators/state_table.py):
    each tick join-merges its updates bucket-locally and swaps the result
    in crash-safely, the tick stamped on the new table."""

    evicts_caches = True

    def __init__(self, spark: SparkSession, cfg) -> None:
        super().__init__(spark, cfg)
        self.table, self.buckets = cfg.state_table, cfg.state_buckets

    def _exists(self) -> bool:
        catalog = self.spark.catalog
        return catalog.tableExists(self.table) or catalog.tableExists(f"{self.table}__old")

    def marker(self) -> tuple[int, int | None] | None:
        if not self._exists():
            return None
        # restore the live name from __old first: a crash inside a swap
        # leaves only the backup, and the table carries the marker
        load_bucketed_state(self.spark, self.table)
        return get_state_tick(self.spark, self.table), get_state_now_ms(self.spark, self.table)

    def _load(self, tick: int) -> DataFrame:
        # always the log view: a table run in log mode may carry
        # committed-but-uncompacted deltas and pending seeds, which the
        # bare base would drop
        return read_state_log(self.spark, self.table)

    def seed(self, seeded: DataFrame) -> DataFrame:
        save_bucketed_state(seeded, self.table, buckets=self.buckets)
        set_state_tick(self.spark, self.table, 0)
        return load_bucketed_state(self.spark, self.table)

    def frontier(self, state: DataFrame, tick: int, select) -> DataFrame:
        return select(state)

    def advance(self, state, updates, *, tick, now_ms, frontier, caches, fold) -> Tick:
        # consume the caches before the swap evicts them; this count
        # materializes them and the merge write reuses them
        n = frontier.count()
        fold()
        obs = Observation(f"state_t{tick}") if self.aggs else None
        # the only Exchange in the merge is the delta's; the tick is
        # stamped on the staging table, so it swaps in with the data
        new_state = tick_merge_bucketed(
            self.spark,
            self.table,
            updates,
            buckets=self.buckets,
            merged_transform=(lambda df: df.observe(obs, *self.aggs)) if obs is not None else None,
            tick=tick,
            now_ms=now_ms,
        )
        _release(caches)
        return self._tick(tick, new_state, n, obs)

    def ingest(self, obs: DataFrame, *, now_ms: int) -> int:
        """Stage merged seed observations as the seeds pending for the
        next tick (creating the table at tick 0 if there is none); returns
        the completed-tick counter, which seed ingestion does not advance."""
        seeds = merge_crawl_state(obs)
        if self._exists():
            return stage_pending_seeds(self.spark, self.table, seeds)
        save_bucketed_state(seeds, self.table, buckets=self.buckets)
        set_state_tick(self.spark, self.table, 0, now_ms=now_ms)
        return 0


class _LogBackend(_TableBackend):
    """The table backend with an LSM log: a tick writes one delta-sized
    directory, reads see base ⋈ merge(deltas), and every
    ``state_log_every`` ticks compaction folds the deltas into the base."""

    def __init__(self, spark: SparkSession, cfg) -> None:
        super().__init__(spark, cfg)
        self.every = cfg.state_log_every
        self._state_obs: Observation | None = None
        self._pending: dict | None = None  # the tick whose counts have not arrived

    def frontier(self, state: DataFrame, tick: int, select) -> DataFrame:
        # no full-state write to ride, but the frontier scans the state
        # view anyway: the counters ride that scan, so they describe the
        # PRE-merge state (= last tick's post-merge state). The refetch
        # due-timer is only read on empty-frontier ticks, where the merge
        # is an identity and pre == post.
        self._state_obs = None
        if self.aggs:
            self._state_obs = Observation(f"state_scan_t{tick}")
            state = state.observe(self._state_obs, *self.aggs)
        return select(state)

    def advance(self, state, updates, *, tick, now_ms, frontier, caches, fold) -> Tick:
        n = frontier.count()  # fires the counters of the state-view scan
        fold()
        metrics = dict(self._state_obs.get) if self._state_obs is not None else {}
        stats = []
        if self.cfg.collect_stats:
            if self._pending is not None:
                stats.append({**self._pending, "status_counts": _obs_counts(metrics)})
                self._pending = None
            if not self.cfg.refetch and n == 0 and metrics.get("UNFETCHED") in (None, 0):
                # no UNFETCHED row is left, so no tick can admit again: skip
                # this tick's empty delta and marker advance; the previous
                # tick was the last one that worked
                _release(caches)
                return Tick(None, n, None, stats, True)
        tick_append_log(self.spark, self.table, updates, buckets=self.buckets, tick=tick, now_ms=now_ms)
        _release(caches)
        if tick % self.every == 0:
            # after the release: the compaction swap evicts every cached
            # frame of the table, and this tick reads none of them again
            compact_state_log(self.spark, self.table, buckets=self.buckets)
        if self.cfg.collect_stats and n > 0:
            self._pending = {"tick": tick, "frontier": n}
        return Tick(read_state_log(self.spark, self.table), n, _due_ms(metrics), stats, False)

    def close(self, state: DataFrame) -> list[dict]:
        if self._pending is None:
            return []
        # the last tick's counts never rode a later scan: one aggregation
        # at crawl end, not per tick
        row = state.agg(*self.aggs).collect()[0].asDict()
        return [{**self._pending, "status_counts": _obs_counts(row)}]

"""Durable crawl state behind one interface: the state backends.

The reference keeps its URL DB in one keyed-state operator with one
checkpoint mechanism (``functions/UrlDBFunction.java``); Structured
Streaming's operators likewise see one versioned state-store interface
with the storage format behind it. Here ``state_backend`` picks one of
two backends, once per crawl, from the ``CrawlConfig`` fields:

  ==========================  ==============  ==============================
  CrawlConfig                 backend         a tick persists as
  ==========================  ==============  ==============================
  neither field               _MemoryBackend  a localCheckpoint (no resume)
  state_table or state_dir    _LogBackend     a delta and a commit marker,
                                              compacted every
                                              ``state_log_every`` (4) ticks
  ==========================  ==============  ==============================

``state_table=NAME`` and ``state_dir=PATH`` are the same durable log
(operators/state_table.py): the first keeps its root at
``<warehouse>/NAME``, the second is rooted at PATH under a name derived
from it. Either resumes in a new process from the commit marker.

Every backend offers what the crawl loop and the streaming shell do with
state: ``open`` (resume: state, tick, clock — or None), ``seed`` (the
tick-0 state), ``frontier`` (select the tick's frontier from the
state), ``advance`` (merge one tick's updates and persist the tick) and
``close`` (the stats entries still owed when the loop ends). The log
backend adds ``marker`` (the commit marker, no state read) and
``ingest`` (one streamed seed micro-batch).

The two real differences between the backends:

  * Cache consumption. A new base re-points the table, which evicts
    every cached frame derived from it, so the log backend counts the
    frontier and folds the tick's history (``fold``) BEFORE it writes;
    that count job materializes the tick's caches and the write reuses
    them. The in-memory backend runs its checkpoint job first (it
    materializes the caches) and consumes them after it.
  * Stats lag. The in-memory backend's status counters ride its
    checkpoint job, giving post-merge counts the same tick. The log
    backend has no full-state write, so its counters ride the next
    tick's frontier scan of the state view: each tick's entry is
    finalized one tick in arrears, and the last one by a single
    aggregation when the loop ends.
"""

from __future__ import annotations

import time
from functools import cached_property
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_crawl_state, merge_updates
from ..operators.state_table import (
    Marker,
    compact_state_log,
    get_state_marker,
    load_bucketed_state,
    read_state_log,
    save_bucketed_state,
    stage_pending_seeds,
    state_dir_table,
    tick_append_log,
)
from ..schemas import FETCH_STATUSES


class Tick(NamedTuple):
    """What ``advance`` reports about one tick."""

    state: DataFrame | None  # None: the state was already final, the tick did not run
    frontier: int  # URLs admitted this tick
    sleep_ms: int | None  # the clock an empty refetch tick sleeps to (None: no sleep)
    stats: list[dict]  # the stats entries this tick finalized
    done: bool  # no UNFETCHED row is left and refetch is off: no later tick can admit


def state_backend(spark: SparkSession, cfg) -> _MemoryBackend:
    """The backend the config names; the only reader of the state fields."""
    if cfg.state_table is not None and cfg.state_dir is not None:
        raise ValueError("state_table and state_dir are mutually exclusive")
    if cfg.state_table is None and cfg.state_dir is None:
        if cfg.state_log_every is not None:
            raise ValueError("state_log_every requires state_table or state_dir")
        return _MemoryBackend(spark, cfg)
    if cfg.compact_history is False:
        # not a preference for a durable state: lazy trace/parsed frames
        # would reference bases whose files a later compaction deletes —
        # evaluating them later crashes or reads wrong data
        raise ValueError("state_table and state_dir require compact_history (got False)")
    return _LogBackend(spark, cfg)

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


def _release(caches: list[DataFrame]) -> None:
    for f in caches:
        f.unpersist()


class _MemoryBackend:
    """The state lives in localCheckpoint blocks; nothing is durable."""

    # the state is a table whose new bases evict cached frames and whose
    # sweeps delete the files older lazy frames read (the loop then
    # compacts history)
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

    def open(self, marker: Marker | None = None) -> tuple[DataFrame, int, int | None] | None:
        """(state, tick, clock) to resume from, None for a fresh crawl;
        ``marker`` when the caller has just read it. The clock is None
        when it was never persisted."""
        return None

    def seed(self, seeded: DataFrame) -> DataFrame:
        return seeded.localCheckpoint(eager=True)

    def _sleep_ms(self, tick: int, now_ms: int, n: int, metrics: dict) -> int | None:
        """Where the clock sleeps after a tick that admitted nothing while
        a refetch timer is set: to the tick before the earliest due time
        among FETCHED rows (Flink's per-key timer semantics — the loop
        sleeps to the next timer instead of running empty dataflows
        until it arrives). None: the loop does not sleep."""
        due = metrics.get("__min_nft")
        if n > 0 or not self.cfg.refetch or due is None or due <= now_ms or tick >= self.cfg.max_ticks:
            return None
        return max(now_ms, int(due) - self.cfg.tick_ms)

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
        # a tick that admits nothing is the terminal one and records no
        # stats entry
        metrics = dict(obs.get) if obs is not None else {}
        sleep_ms = self._sleep_ms(tick, now_ms, n, metrics)
        if not (self.cfg.collect_stats and n > 0):
            return Tick(new_state, n, sleep_ms, [], False)
        counts = _obs_counts(metrics)
        # frontier admission is UNFETCHED-only (FetchQueue semantics), so
        # none left means no later tick can admit; in refetch mode FETCHED
        # rows re-enter when due and the empty frontier ends the crawl
        done = counts.get("UNFETCHED", 0) == 0 and not self.cfg.refetch
        entry = {"tick": tick, "frontier": n, "status_counts": counts}
        return Tick(new_state, n, sleep_ms, [entry], done)

    def close(self, state: DataFrame) -> list[dict]:
        """Stats entries still owed when the loop ends."""
        return []


class _LogBackend(_MemoryBackend):
    """The durable state log (operators/state_table.py): a tick writes one
    delta-sized directory and commits, reads see base ⋈ merge(deltas), and
    every ``state_log_every`` ticks compaction folds the deltas into a new
    base."""

    evicts_caches = True

    def __init__(self, spark: SparkSession, cfg) -> None:
        super().__init__(spark, cfg)
        self.table = cfg.state_table or state_dir_table(cfg.state_dir)
        self.buckets, self.every = cfg.state_buckets, cfg.state_log_every or 4
        self.m: Marker | None = None  # the last marker read or committed
        self._state_obs: Observation | None = None
        self._pending: dict | None = None  # the tick whose counts have not arrived

    def marker(self) -> Marker | None:
        """The commit marker of the log, None when there is none."""
        self.m = get_state_marker(self.spark, self.table)
        return self.m

    def open(self, marker: Marker | None = None) -> tuple[DataFrame, int, int | None] | None:
        m = self.m = marker or self.marker()
        # always the log view: committed-but-uncompacted deltas and
        # pending seeds fold in, which the bare base would drop
        return None if m is None else (read_state_log(self.spark, self.table, marker=m), m.tick, m.clock)

    def seed(self, seeded: DataFrame) -> DataFrame:
        self.m = save_bucketed_state(seeded, self.table, buckets=self.buckets)
        return load_bucketed_state(self.spark, self.table, marker=self.m)

    def frontier(self, state: DataFrame, tick: int, select) -> DataFrame:
        # no full-state write to ride, but the frontier scans the state
        # view anyway: the counters ride that scan, so they describe the
        # PRE-merge state (= last tick's post-merge state). The refetch
        # due-timer is only read on empty-frontier ticks, where the merge
        # is an identity and pre == post — so a sleep is known before
        # the tick commits.
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
        # a sleeping tick commits the clock it sleeps to: a crawl resumed
        # after it keeps the jump instead of deriving it again
        sleep_ms = self._sleep_ms(tick, now_ms, n, metrics)
        clock = now_ms if sleep_ms is None else sleep_ms
        self.m = tick_append_log(self.spark, self.table, updates, now_ms=clock, marker=self.m)
        _release(caches)
        if tick % self.every == 0:
            # after the release: the new base evicts every cached frame of
            # the table, and this tick reads none of them again
            self.m = compact_state_log(self.spark, self.table, marker=self.m)
        if self.cfg.collect_stats and n > 0:
            self._pending = {"tick": tick, "frontier": n}
        state = read_state_log(self.spark, self.table, marker=self.m)
        return Tick(state, n, sleep_ms, stats, False)

    def close(self, state: DataFrame) -> list[dict]:
        if self._pending is None:
            return []
        # the last tick's counts never rode a later scan: one aggregation
        # at crawl end, not per tick
        row = state.agg(*self.aggs).collect()[0].asDict()
        return [{**self._pending, "status_counts": _obs_counts(row)}]

    def ingest(self, obs: DataFrame, *, now_ms: int, marker: Marker | None) -> Marker:
        """Stage merged seed observations as the seeds pending for the
        next tick of the log ``marker`` names, or start a log at tick 0
        with clock ``now_ms`` when it is None. Returns the marker, whose
        tick seed ingestion does not advance."""
        seeds = merge_crawl_state(obs)
        if marker is None:
            self.m = save_bucketed_state(seeds, self.table, buckets=self.buckets, now_ms=now_ms)
        else:
            self.m = stage_pending_seeds(self.spark, self.table, seeds, marker=marker)
        return self.m

"""Tracing from outside the program.

The benchmark never edits the package it measures. Instead it replaces,
for the length of a run, the public functions each layer exports with
thin wrappers that record a span around the call. Every module-level
alias is replaced, so ``from ..operators.frontier import select_frontier``
inside the crawl loop is wrapped too.

* ``TickClock`` is the only instrumentation of an untimed-overhead-free
  run: one timestamp at each tick start (``select_frontier``) and one at
  each ``crawl()`` return, from which tick wall times follow.
* ``Tracer`` (traced runs only) keeps spans in memory — name, start,
  end, parent, py4j commands sent — counts py4j commands by wrapping the
  py4j connection's ``send_command``, records memo-cache hits and misses,
  and reads job/stage totals from Spark's status store.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from contextlib import contextmanager

PKG = "flink_crawler_spark"

# span name -> (module, function). The prefix before the first '.' is the
# layer the span belongs to.
LAYER_FUNCS: dict[str, tuple[str, str]] = {
    "loop.crawl": (f"{PKG}.plans.crawl_loop", "crawl"),
    "frontier.select_frontier": (f"{PKG}.operators.frontier", "select_frontier"),
    "robots.check_urls_against_robots": (f"{PKG}.operators.robots", "check_urls_against_robots"),
    "robots.blocked_status_updates": (f"{PKG}.operators.robots", "blocked_status_updates"),
    "fetch.politeness_split": (f"{PKG}.operators.fetch", "politeness_split"),
    "fetch.crawldelay_status_updates": (f"{PKG}.operators.fetch", "crawldelay_status_updates"),
    "fetch.mock_fetch": (f"{PKG}.operators.fetch", "mock_fetch"),
    "fetch.fetch_status_updates": (f"{PKG}.operators.fetch", "fetch_status_updates"),
    "parse.parse_outlinks_slim": (f"{PKG}.operators.parse", "parse_outlinks_slim"),
    "parse.outlink_output": (f"{PKG}.operators.parse", "outlink_output"),
    "urls.clean_urls": (f"{PKG}.plans.crawl_loop", "clean_urls"),
    "urls.seeds_to_state": (f"{PKG}.plans.crawl_loop", "seeds_to_state"),
    "merge.merge_updates": (f"{PKG}.operators.merge", "merge_updates"),
    "merge.merge_crawl_state": (f"{PKG}.operators.merge", "merge_crawl_state"),
    "state_table.write.save_bucketed_state": (f"{PKG}.operators.state_table", "save_bucketed_state"),
    "state_table.write.tick_merge_bucketed": (f"{PKG}.operators.state_table", "tick_merge_bucketed"),
    "state_table.write.tick_append_log": (f"{PKG}.operators.state_table", "tick_append_log"),
    "state_table.read.load_bucketed_state": (f"{PKG}.operators.state_table", "load_bucketed_state"),
    "state_table.read.read_state_log": (f"{PKG}.operators.state_table", "read_state_log"),
    "state_table.compact.compact_state_log": (f"{PKG}.operators.state_table", "compact_state_log"),
    "stream.ingest_seeds_table": (f"{PKG}.streaming.crawl_stream", "ingest_seeds_table"),
}

# memoized family builders of the query layer: builder -> (module, function, cache dict)
MEMO_FUNCS: dict[str, tuple[str, str, str]] = {
    "shingle_tables": (f"{PKG}.queries.base", "shingle_tables", "_SHINGLE_CACHE"),
    "parquet_row_count": (f"{PKG}.queries.base", "parquet_row_count", "_ROW_COUNT_CACHE"),
    "merged_crawl_state": (f"{PKG}.queries.core", "merged_crawl_state", "_MERGED_STATE_CACHE"),
    "near_dup_clusters": (f"{PKG}.queries.dedupq", "near_dup_clusters", "_CLUSTER_CACHE"),
    "minhash_sigs": (f"{PKG}.queries.dedupq", "minhash_sigs", "_SIGS_CACHE"),
    "near_dup_verified_pairs": (f"{PKG}.queries.dedupq", "near_dup_verified_pairs", "_VERIFIED_PAIRS_CACHE"),
    "pq_core": (f"{PKG}.queries.pipelineq3", "_pq_core", "_PQ_CORE_CACHE"),
    "bigram_nll_table": (f"{PKG}.queries.pipelineq5", "bigram_nll_table", "_BIGRAM_NLL_CACHE"),
    "ivf_exact_centroids": (f"{PKG}.queries.simq", "_ivf_exact_centroids_cached", "_IVF_CENT_CACHE"),
}

# eager DataFrame / writer methods: time inside them is action time
ACTIONS = {
    "DataFrame": ("count", "collect", "localCheckpoint", "checkpoint", "toPandas", "toArrow"),
    "DataFrameWriter": ("saveAsTable", "insertInto", "parquet", "save"),
}


class Patcher:
    """Replaces attributes and puts every original back on ``restore``."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object, bool]] = []

    def set(self, owner: object, attr: str, value: object) -> None:
        own = attr in vars(owner)
        self._undo.append((owner, attr, getattr(owner, attr), own))
        setattr(owner, attr, value)

    def replace_function(self, module: str, name: str, make_wrapper) -> None:
        """Wrap ``module.name`` and every module-level alias of it in the package."""
        orig = getattr(importlib.import_module(module), name)
        wrapper = make_wrapper(orig)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    self.set(mod, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig, own in reversed(self._undo):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._undo.clear()


class TickClock:
    """One timestamp at every tick start and one at every crawl() return."""

    def __init__(self) -> None:
        self.crawls: list[tuple[list[float], float]] = []  # (tick starts, end)
        self._ticks: list[float] = []
        self._patcher = Patcher()

    def install(self) -> None:
        def stamp_tick(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                self._ticks.append(time.perf_counter())
                return orig(*a, **k)

            return wrapper

        def stamp_end(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                self._ticks = []
                try:
                    return orig(*a, **k)
                finally:
                    self.crawls.append((self._ticks, time.perf_counter()))
                    self._ticks = []

            return wrapper

        self._patcher.replace_function(f"{PKG}.operators.frontier", "select_frontier", stamp_tick)
        self._patcher.replace_function(f"{PKG}.plans.crawl_loop", "crawl", stamp_end)

    def restore(self) -> None:
        self._patcher.restore()

    def take_tick_seconds(self) -> list[float]:
        """Tick wall times of every crawl() since the last call."""
        out = []
        for starts, end in self.crawls:
            out += [b - a for a, b in zip(starts, starts[1:] + [end])]
        self.crawls = []
        return out


class Tracer:
    """In-memory spans, py4j command counts, memo hits and engine totals."""

    def __init__(self) -> None:
        # [name, start, end, parent index, py4j at start, py4j at end]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.counting = True
        self.harness_s = 0.0  # time of the tracer's own Spark calls
        self.memo_calls: list[tuple[str, bool, float]] = []  # (builder, hit, seconds)
        self.crawl_results: list = []  # CrawlResult of every crawl() call
        self.bytes_written = 0  # files created by state-table writes
        self._patcher = Patcher()
        self._seen_jobs: set[int] = set()

    # ---- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else -1, self.py4j_calls, None]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            rec[5] = self.py4j_calls
            self._stack.pop()

    @contextmanager
    def paused(self):
        """Harness work (job groups, status-store reads): its py4j commands
        are not counted and its time goes to ``harness_s``."""
        prev, self.counting = self.counting, False
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.counting = prev
            if prev:  # outermost pause
                self.harness_s += time.perf_counter() - t0

    def self_seconds(self, start_index: int = 0, end_index: int | None = None, *,
                     by_layer: bool = False) -> dict[str, float]:
        """Self time per span name (or per layer, the name's first part) of
        spans ``start_index:end_index``: duration minus the time its child
        spans cover."""
        spans = self.spans[start_index:end_index]
        child: dict[int, float] = {}
        for rec in spans:
            if rec[3] >= 0:
                child[rec[3]] = child.get(rec[3], 0.0) + (rec[2] - rec[1])
        out: dict[str, float] = {}
        for i, rec in enumerate(spans, start_index):
            key = rec[0].split(".")[0] if by_layer else rec[0]
            out[key] = out.get(key, 0.0) + (rec[2] - rec[1]) - child.get(i, 0.0)
        return out

    def sum_spans(
        self,
        prefix: str,
        start_index: int = 0,
        *,
        inside: str | None = None,
        outermost_in: str | None = None,
        exclusive: bool = False,
        end_index: int | None = None,
    ) -> tuple[float, int, int]:
        """(seconds, count, py4j commands) of spans ``start_index:end_index``
        named ``prefix*``.

        ``inside``: only spans with an ancestor named ``inside*``.
        ``outermost_in``: skip spans with an ancestor named
        ``outermost_in*`` (defaults to ``prefix``, so nested matches are
        not counted twice). ``exclusive``: self time instead of duration."""
        skip = prefix if outermost_in is None else outermost_in
        spans = self.spans[start_index:end_index]
        child: dict[int, float] = {}
        if exclusive:
            for rec in spans:
                if rec[3] >= 0:
                    child[rec[3]] = child.get(rec[3], 0.0) + (rec[2] - rec[1])
        secs, n, calls = 0.0, 0, 0
        for i, rec in enumerate(spans, start_index):
            if not rec[0].startswith(prefix) or self._has_ancestor(rec, skip):
                continue
            if inside is not None and not self._has_ancestor(rec, inside):
                continue
            secs += rec[2] - rec[1] - child.get(i, 0.0)
            n += 1
            calls += rec[5] - rec[4]
        return secs, n, calls

    def _has_ancestor(self, rec: list, prefix: str) -> bool:
        p = rec[3]
        while p >= 0:
            if self.spans[p][0].startswith(prefix):
                return True
            p = self.spans[p][3]
        return False

    def overhead_s(self, start_index: int, end_index: int, harness_s: float) -> float:
        """Time the tracer added to spans ``start_index:end_index``: its own
        Spark calls plus its wrappers, at their per-call cost timed here."""
        n_spans = end_index - start_index
        calls = sum(r[5] - r[4] for r in self.spans[start_index:end_index] if r[3] < start_index)
        probe, fn, n = Tracer(), (lambda: None), 20_000
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("x"):
                fn()
        per_span = (time.perf_counter() - t0) / n
        wrapped = functools.wraps(fn)(lambda: fn() if probe.counting else None)
        t0 = time.perf_counter()
        for _ in range(n):
            wrapped()
        per_call = (time.perf_counter() - t0) / n
        return harness_s + n_spans * per_span + calls * per_call

    def dump(self, path: str, extra: dict | None = None) -> None:
        spans = [
            {"name": n, "start": s, "end": e, "parent": p, "py4j": q1 - q0}
            for n, s, e, p, q0, q1 in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "self_seconds": self.self_seconds(), **(extra or {})}, fh)

    # ---- instrumentation ---------------------------------------------
    def _bytes_written_hooks(self, root: str):
        """Before/after hooks adding the bytes of files the outermost
        state-table write created under ``root`` (nested writes, such as
        the table save inside a log append, are not counted twice)."""
        started, depth = [0.0], [0]

        def before():
            if depth[0] == 0:
                started[0] = time.time()
            depth[0] += 1

        def after(_result):
            depth[0] -= 1
            if depth[0] == 0:
                self.bytes_written += new_file_bytes(root, started[0])

        return before, after

    def install(self, spark, *, tick_job_groups: bool, warehouse_dir: str | None = None) -> None:
        from py4j.clientserver import ClientServerConnection
        from py4j.java_gateway import GatewayConnection

        tracer = self
        for cls in (ClientServerConnection, GatewayConnection):
            orig_send = cls.send_command

            def send_command(conn, command, *a, _orig=orig_send, **k):
                if tracer.counting:
                    tracer.py4j_calls += 1
                return _orig(conn, command, *a, **k)

            self._patcher.set(cls, "send_command", send_command)

        def spanned(name, before=None, after=None):
            def make(orig):
                @functools.wraps(orig)
                def wrapper(*a, **k):
                    if before is not None:
                        before()
                    with tracer.span(name):
                        result = orig(*a, **k)
                    if after is not None:
                        after(result)
                    return result

                return wrapper

            return make

        ticks = [0]

        def tick_group():
            ticks[0] += 1
            if tick_job_groups:
                self.set_job_group(spark, f"tick-{ticks[0]}")

        write_hooks = self._bytes_written_hooks(warehouse_dir) if warehouse_dir else (None, None)
        for name, (module, func) in LAYER_FUNCS.items():
            before = tick_group if name == "frontier.select_frontier" else None
            after = self.crawl_results.append if name == "loop.crawl" else None
            if name.startswith("state_table.write"):
                before, after = write_hooks
            self._patcher.replace_function(module, func, spanned(name, before, after))

        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig_fb = DataStreamWriter.foreachBatch

        def foreach_batch(writer, func):
            def body(batch_df, batch_id):
                with tracer.span("stream.batch_body"):
                    return func(batch_df, batch_id)

            return orig_fb(writer, body)

        self._patcher.set(DataStreamWriter, "foreachBatch", foreach_batch)

        for builder, (module, func, cache_name) in MEMO_FUNCS.items():
            mod = importlib.import_module(module)
            self._patcher.replace_function(module, func, self._memo_wrapper(builder, getattr(mod, cache_name)))

        df = spark.range(1)
        for cls, methods in ((type(df), ACTIONS["DataFrame"]), (type(df.write), ACTIONS["DataFrameWriter"])):
            for m in methods:
                self._patcher.set(cls, m, spanned(f"action.{m}")(getattr(cls, m)))

    def _memo_wrapper(self, builder: str, cache: dict):
        def make(orig):
            @functools.wraps(orig)
            def wrapper(*a, **k):
                n0 = len(cache)
                with self.span(f"builders.{builder}") as rec:
                    result = orig(*a, **k)
                self.memo_calls.append((builder, len(cache) == n0, rec[2] - rec[1]))
                return result

            return wrapper

        return make

    def restore(self) -> None:
        self._patcher.restore()

    def set_job_group(self, spark, group: str) -> None:
        with self.paused():
            spark.sparkContext.setJobGroup(group, group)

    # ---- Spark status store ------------------------------------------
    def harvest_jobs(self, spark) -> list[dict]:
        """Jobs (with their stages' totals) completed since the last call."""
        with self.paused():
            jvm = spark._jvm
            store = spark._jsc.sc().statusStore()
            jobs = store.jobsList(jvm.java.util.ArrayList())
            new = []
            for i in range(jobs.size()):
                j = jobs.apply(i)
                jid = j.jobId()
                if jid in self._seen_jobs:
                    continue
                self._seen_jobs.add(jid)
                group = j.jobGroup()
                ids = j.stageIds()
                new.append(
                    {
                        "id": jid,
                        "group": group.get() if group.isDefined() else None,
                        "stage_ids": [ids.apply(k) for k in range(ids.size())],
                    }
                )
            if not new:
                return []
            wanted = {s for job in new for s in job["stage_ids"]}
            stages: dict[int, dict] = {}
            arr = spark.sparkContext._gateway.new_array(jvm.double, 0)
            slist = store.stageList(jvm.java.util.ArrayList(), False, False, arr, jvm.java.util.ArrayList())
            for i in range(slist.size()):
                s = slist.apply(i)
                sid = s.stageId()
                if sid not in wanted or str(s.status()) != "COMPLETE":
                    continue
                sub, done = s.submissionTime(), s.completionTime()
                wall = done.get().getTime() - sub.get().getTime() if sub.isDefined() and done.isDefined() else 0
                stages[sid] = {
                    "id": sid,
                    "tasks": s.numTasks(),
                    "run_ms": s.executorRunTime(),
                    "wall_ms": wall,
                    "shuffle_write": s.shuffleWriteBytes(),
                    "shuffle_read": s.shuffleReadBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                }
            for job in new:
                job["stages"] = [stages[s] for s in job["stage_ids"] if s in stages]
            return new


def new_file_bytes(root: str, since: float) -> int:
    """Bytes of files under ``root`` modified at or after ``since`` (epoch s)."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def tree_bytes(root: str, prefix: str = "") -> int:
    """Bytes under the entries of ``root`` whose names start with ``prefix``."""
    total = 0
    if not os.path.isdir(root):
        return 0
    for entry in os.listdir(root):
        if entry.startswith(prefix):
            total += new_file_bytes(os.path.join(root, entry), 0.0)
    return total


def engine_totals(jobs: list[dict]) -> dict[str, float]:
    """Sum the status-store numbers of ``jobs`` (as returned by harvest_jobs)."""
    # a stage reused by a later job (its shuffle output already exists)
    # is listed under both jobs: count it once
    stages = list({s["id"]: s for job in jobs for s in job["stages"]}.values())
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "executor_run_s": sum(s["run_ms"] for s in stages) / 1000.0,
        "shuffle_write_b": sum(s["shuffle_write"] for s in stages),
        "shuffle_read_b": sum(s["shuffle_read"] for s in stages),
        "spill_b": sum(s["spill"] for s in stages),
        "serial_stage_ms": sum(s["wall_ms"] for s in stages if s["tasks"] == 1),
    }

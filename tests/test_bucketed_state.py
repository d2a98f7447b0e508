"""Bucketed URL-DB state: the 100 TB merge shape.

Two properties:
  1. merge_updates_join == merge_updates on every lattice case
     (associativity of the fold makes delta pre-aggregation safe).
  2. With the state table bucketed+sorted by url, the tick merge plans
     as a bucket-local sort-merge join — the ONLY Exchange in the plan
     belongs to the small delta; a groupBy(url) over the state is
     Exchange-free.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_crawler_spark.operators.merge import merge_updates, merge_updates_join

OBS = "url string, pld string, status string, status_time long, score double, next_fetch_time long"


def obs(spark, rows):
    return spark.createDataFrame(rows, OBS)


@pytest.fixture()
def lattice_frames(spark):
    state = obs(spark, [
        ("u1", "a.com", "UNFETCHED", 100, 1.0, 500),     # UF + UF updates -> sums
        ("u2", "a.com", "FETCHED", 200, 2.0, 900),       # winner vs UF update
        ("u3", "b.com", "UNFETCHED", 100, 1.0, 500),     # UF beaten by FETCHED update
        ("u4", "b.com", "FETCHED", 300, 1.0, 800),       # two winners: newer time wins
        ("u5", "c.com", "HTTP_NOT_FOUND", 300, 1.0, 800),# tie time: priority breaks
        ("u6", "c.com", "FETCHED", 50, 9.0, 100),        # state-only URL
    ])
    updates = obs(spark, [
        ("u1", "a.com", "UNFETCHED", 150, 2.5, 400),
        ("u1", "a.com", "UNFETCHED", 120, 1.5, 600),
        ("u2", "a.com", "UNFETCHED", 500, 5.0, 100),
        ("u3", "b.com", "FETCHED", 400, 3.0, 999),
        ("u4", "b.com", "FETCHED", 350, 4.0, 700),
        ("u5", "c.com", "FETCHED", 300, 2.0, 700),       # FETCHED prio 25 < 50
        ("u7", "d.com", "UNFETCHED", 10, 0.5, 50),       # brand-new URL
    ])
    return state, updates


def test_join_merge_equals_union_merge(spark, lattice_frames):
    state, updates = lattice_frames
    a = {r["url"]: r.asDict() for r in merge_updates(state, updates).collect()}
    b = {r["url"]: r.asDict() for r in merge_updates_join(state, updates).collect()}
    assert a == b
    # spot-check the lattice itself
    assert a["u1"]["score"] == 5.0 and a["u1"]["status_time"] == 150 and a["u1"]["next_fetch_time"] == 400
    assert a["u2"]["status"] == "FETCHED" and a["u2"]["score"] == 2.0
    assert a["u3"]["status"] == "FETCHED" and a["u3"]["status_time"] == 400
    assert a["u4"]["status_time"] == 350
    assert a["u5"]["status"] == "HTTP_NOT_FOUND"  # priority 50 beats FETCHED 25 at equal time
    assert a["u6"]["status"] == "FETCHED"
    assert a["u7"]["status"] == "UNFETCHED"


def test_bucketed_state_merge_shuffles_only_the_delta(spark, lattice_frames, tmp_path):
    from flink_crawler_spark.operators.state_table import (
        load_bucketed_state,
        save_bucketed_state,
        tick_merge_bucketed,
    )

    state, updates = lattice_frames
    big_state = state.unionByName(
        obs(spark, [(f"http://x/{i}", "x.com", "UNFETCHED", 1, 1.0, 1) for i in range(2000)])
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # bucket count == spark.sql.shuffle.partitions: the delta's
        # groupBy output partitioning then directly satisfies the join's
        # requirement, so the plan needs exactly ONE Exchange. A mismatched
        # bucket count costs a second (delta-side) Exchange — size buckets
        # as a multiple of the shuffle parallelism.
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        save_bucketed_state(big_state, "crawl_state_test", buckets=n_buckets)
        st = load_bucketed_state(spark, "crawl_state_test")

        # groupBy on the bucket key: no Exchange at all
        agg_plan = (
            st.groupBy("url").agg(F.sum("score"))._jdf.queryExecution().executedPlan().toString()
        )
        assert agg_plan.count("Exchange") == 0

        merged = merge_updates_join(st, updates)
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # exactly one Exchange: the delta's. The bucketed state side reads
        # pre-partitioned (HashPartitioning(url, n)) and never shuffles.
        assert plan.count("Exchange") == 1

        # a merge tick's new base keeps the data correct and the table bucketed
        new_state = tick_merge_bucketed(spark, "crawl_state_test", updates)
        got = {r["url"]: r.asDict() for r in new_state.filter(~F.col("url").startswith("http://x/")).collect()}
        want = {r["url"]: r.asDict() for r in merge_updates(state, updates).collect()}
        assert got == want
        plan2 = (
            new_state.groupBy("url").agg(F.sum("score"))._jdf.queryExecution().executedPlan().toString()
        )
        assert plan2.count("Exchange") == 0  # still bucketed on the new base
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        _drop(spark, "crawl_state_test")


def test_crawl_loop_through_bucketed_state_table(spark, tmp_path):
    """CrawlConfig.state_table wires tick_merge_bucketed into the loop:
    the same fixture graph crawled through the default (union re-agg +
    localCheckpoint) path and the bucketed-table path converges to the
    IDENTICAL final state, the table stays bucketed (Exchange-free
    groupBy on the key) after every new base, and a restarted crawl
    resumes from the table instead of the seeds."""
    from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
    from flink_crawler_spark.sources.fixtures import (
        render_pages,
        web_graph_from_adjacency,
    )

    adjacency = {
        "http://d1.com/": ["http://d1.com/a", "http://d1.com/b"],
        "http://d1.com/a": ["http://d2.com/"],
        "http://d1.com/b": ["http://d1.com/a"],
        "http://d2.com/": ["http://d2.com/deep"],
        "http://d2.com/deep": [],
    }
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(
        eager=True
    )
    seeds = spark.createDataFrame([("http://d1.com/", 1.0)], ["url", "score"])
    table = "crawl_state_loop_test"
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        base = crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=8))
        bucketed = crawl(
            spark,
            seeds,
            pages=pages,
            config=CrawlConfig(
                max_ticks=8, state_table=table, state_buckets=n_buckets
            ),
        )
        a = {r["url"]: r.asDict() for r in base.crawl_state.collect()}
        b = {r["url"]: r.asDict() for r in bucketed.crawl_state.collect()}
        assert a == b
        assert b["http://d2.com/deep"]["status"] == "FETCHED"
        # the final table is still bucketed by url: key-aligned agg plans
        # with zero Exchange
        plan = (
            bucketed.crawl_state.groupBy("url")
            .agg(F.sum("score"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") == 0
        # trace survives the new bases (history compaction checkpoints it
        # per tick) and matches the default path's per-operator URL sets
        for op in ("frontier", "fetched", "outlink"):
            sa = {r["url"] for r in base.trace.filter(F.col("operator") == op).collect()}
            sb = {
                r["url"] for r in bucketed.trace.filter(F.col("operator") == op).collect()
            }
            assert sa == sb, op

        # the simulated clock is persisted with the tick (refetch-mode
        # sleep jumps would otherwise rewind on resume)
        from flink_crawler_spark.operators.state_table import get_state_marker

        assert get_state_marker(spark, table).clock == 1_700_000_000_000 + bucketed.ticks * 100_000

        # restart: the table IS the checkpoint — a fresh crawl() call
        # resumes from it (no re-seeding) and stays at the fixpoint
        resumed = crawl(
            spark,
            seeds,
            pages=pages,
            config=CrawlConfig(
                max_ticks=10, state_table=table, state_buckets=n_buckets
            ),
        )
        c = {r["url"]: r.asDict() for r in resumed.crawl_state.collect()}
        assert c == a
        assert resumed.ticks >= bucketed.ticks  # resumed at the stored tick
    finally:
        _drop(spark, table)


def test_crawl_loop_with_state_log_mode(spark, tmp_path):
    """LSM log mode: per-tick writes are delta directories (a base is only
    written at compaction), the state view converges to the identical
    final state as the default loop, and a restarted crawl resumes from
    base+deltas."""
    import os
    import re

    from flink_crawler_spark.operators.state_table import read_state_log
    from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
    from flink_crawler_spark.sources.fixtures import (
        render_pages,
        web_graph_from_adjacency,
    )

    adjacency = {
        "http://l1.com/": ["http://l1.com/a", "http://l2.com/"],
        "http://l1.com/a": ["http://l2.com/b"],
        "http://l2.com/": ["http://l2.com/b"],
        "http://l2.com/b": ["http://l1.com/c"],
        "http://l1.com/c": [],
    }
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(
        eager=True
    )
    seeds = spark.createDataFrame([("http://l1.com/", 1.0)], ["url", "score"])
    base = crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=8))
    want = {r["url"]: r.asDict() for r in base.crawl_state.collect()}

    table = "crawl_state_log_test"
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        res = crawl(
            spark,
            seeds,
            pages=pages,
            config=CrawlConfig(
                max_ticks=8,
                state_table=table,
                state_buckets=n_buckets,
                state_log_every=3,  # compact every 3 ticks
            ),
        )
        got = {r["url"]: r.asDict() for r in res.crawl_state.collect()}
        assert got == want
        assert got["http://l1.com/c"]["status"] == "FETCHED"

        # the base's data files were written at seed time or the last
        # compaction — NOT once per tick (the whole point): between
        # compactions only t<N> delta directories appear in the root,
        # next to the one live base
        entries = os.listdir(_log_dir(spark, table))
        assert [d for d in entries if d.startswith("base_t")] == [f"base_t{(res.ticks // 3) * 3}"]
        # ticks since the last compaction live as delta directories
        deltas = [d for d in entries if re.fullmatch(r"t\d+", d)]
        last_compaction = (res.ticks // 3) * 3
        assert len(deltas) == res.ticks - last_compaction, (deltas, res.ticks)

        # restart: resumes from base+deltas, state unchanged at fixpoint
        resumed = crawl(
            spark, seeds, pages=pages,
            config=CrawlConfig(
                max_ticks=10, state_table=table,
                state_buckets=n_buckets, state_log_every=3,
            ),
        )
        got2 = {r["url"]: r.asDict() for r in read_state_log(spark, table).collect()}
        assert got2 == want
        assert resumed.ticks >= res.ticks
    finally:
        _drop(spark, table)


def test_state_log_time_travel(spark, tmp_path):
    """LSM time travel: between compactions, read_state_log(at_tick=T)
    reconstructs the URL DB exactly as it stood after tick T — equal to
    an independent crawl stopped at max_ticks=T — and history behind
    the compacted base (or past the marker) raises."""
    import pytest

    from flink_crawler_spark.operators.state_table import (
        compact_state_log,
        read_state_log,
    )
    from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
    from flink_crawler_spark.sources.fixtures import (
        render_pages,
        web_graph_from_adjacency,
    )

    adjacency = {
        "http://t1.com/": ["http://t1.com/a", "http://t2.com/"],
        "http://t1.com/a": ["http://t2.com/b"],
        "http://t2.com/": ["http://t2.com/b"],
        "http://t2.com/b": ["http://t1.com/c"],
        "http://t1.com/c": [],
    }
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(
        eager=True
    )
    seeds = spark.createDataFrame([("http://t1.com/", 1.0)], ["url", "score"])
    table = "crawl_state_tt_test"
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        res = crawl(
            spark,
            seeds,
            pages=pages,
            config=CrawlConfig(
                max_ticks=4,
                state_table=table,
                state_buckets=n_buckets,
                state_log_every=100,  # keep every delta: full history
            ),
        )
        assert res.ticks == 4
        for T in (1, 2, 3):
            want = {
                r["url"]: r.asDict()
                for r in crawl(
                    spark, seeds, pages=pages, config=CrawlConfig(max_ticks=T)
                ).crawl_state.collect()
            }
            got = {
                r["url"]: r.asDict()
                for r in read_state_log(spark, table, at_tick=T).collect()
            }
            assert got == want, f"as-of tick {T} diverged"
        with pytest.raises(ValueError):
            read_state_log(spark, table, at_tick=res.ticks + 1)

        # compaction folds the history into the base: the final view is
        # unchanged, but per-tick history is gone
        final = {
            r["url"]: r.asDict() for r in read_state_log(spark, table).collect()
        }
        compact_state_log(spark, table)
        after = {
            r["url"]: r.asDict()
            for r in read_state_log(spark, table, at_tick=res.ticks).collect()
        }
        assert after == final
        with pytest.raises(ValueError):
            read_state_log(spark, table, at_tick=1)
    finally:
        _drop(spark, table)


# ---------------------------------------------------------------------------
# The log layout: bases, deltas and pending seeds under one root, the
# commit-marker rule, the pending-seed rule, the sweeps
# ---------------------------------------------------------------------------


def _log_dir(spark, table):
    """The state root of ``table``: <warehouse>/<table>."""
    import os

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return os.path.join(warehouse, table)


def _fresh(spark, table, rows, *, tick=0):
    from flink_crawler_spark.operators.state_table import save_bucketed_state

    _drop(spark, table)
    save_bucketed_state(obs(spark, rows), table, buckets=4, tick=tick, now_ms=1_000)


def _drop(spark, table):
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(_log_dir(spark, table), ignore_errors=True)


def _marker(spark, table):
    from flink_crawler_spark.operators.state_table import get_state_marker

    return get_state_marker(spark, table)


def _view(spark, table, **kw):
    from flink_crawler_spark.operators.state_table import read_state_log

    return {r["url"]: r.asDict() for r in read_state_log(spark, table, **kw).collect()}


class _Crash(Exception):
    pass


def _crash_on(monkeypatch, name):
    """Make state_table.<name> raise: a crash at that point of a tick."""
    from flink_crawler_spark.operators import state_table

    def boom(*_a, **_k):
        raise _Crash(name)

    monkeypatch.setattr(state_table, name, boom)


BASE_ROWS = [
    ("s", "s.com", "UNFETCHED", 100, 1.0, 100),  # the seed URL, already tracked
    ("f", "f.com", "FETCHED", 100, 1.0, 900),
]
SEED_ROWS = [("s", "s.com", "UNFETCHED", 200, 2.0, 200), ("n", "n.com", "UNFETCHED", 200, 0.5, 200)]


def test_orphan_delta_past_the_marker_is_ignored_and_replaced(spark, monkeypatch):
    """A crash between a delta's write and its commit leaves an orphan
    t<N>: reads ignore it, and re-running tick N overwrites it."""
    import os

    from flink_crawler_spark.operators.state_table import tick_append_log

    table = "log_orphan_test"
    _fresh(spark, table, BASE_ROWS)
    try:
        before = _view(spark, table)
        crashed = obs(spark, [("x", "x.com", "FETCHED", 300, 1.0, 999)])
        with monkeypatch.context() as m:
            _crash_on(m, "_commit")
            with pytest.raises(_Crash):
                tick_append_log(spark, table, crashed)
        assert os.path.isdir(os.path.join(_log_dir(spark, table), "t1"))  # the orphan
        assert _marker(spark, table).tick == 0
        assert _view(spark, table) == before  # ignored

        rerun = obs(spark, [("y", "y.com", "FETCHED", 300, 1.0, 999)])
        tick_append_log(spark, table, rerun)
        after = _view(spark, table)
        assert "y" in after and "x" not in after  # replaced, not appended
        assert _marker(spark, table).tick == 1
    finally:
        _drop(spark, table)


def test_recreated_table_never_reads_a_dropped_namesakes_log(spark):
    """DROP TABLE drops only the catalog entry, a cache of the commit
    marker: the next read re-registers it and sees the same state. A
    table re-created by save_bucketed_state starts from an empty root, so
    it never reads the deltas and pending seeds its namesake left."""
    import os

    from flink_crawler_spark.operators.state_table import (
        save_bucketed_state,
        stage_pending_seeds,
        tick_append_log,
    )

    table = "log_recreate_test"
    _fresh(spark, table, BASE_ROWS)
    try:
        tick_append_log(spark, table, obs(spark, [("old", "o.com", "FETCHED", 300, 1.0, 9)]))
        stage_pending_seeds(spark, table, obs(spark, [("oldseed", "o.com", "UNFETCHED", 300, 1.0, 9)]))
        before = _view(spark, table)
        assert {"old", "oldseed"} <= set(before)
        spark.sql(f"DROP TABLE {table}")  # the root stays behind
        assert _view(spark, table) == before  # re-registered from the marker
        assert spark.catalog.tableExists(table)

        save_bucketed_state(obs(spark, BASE_ROWS), table, buckets=4)
        assert set(_view(spark, table)) == {"s", "f"}
        assert sorted(d for d in os.listdir(_log_dir(spark, table)) if not d.startswith(".")) == [
            "base_t0", "commit_0"
        ]
        tick_append_log(spark, table, obs(spark, []))  # t1 and seeds_t2 in range again
        assert set(_view(spark, table)) == {"s", "f"}
    finally:
        _drop(spark, table)


def _write_steps(spark, table):
    """Each commit-making write of the log: name -> a call that runs it
    on the committed state (a delta tick, a merge tick, a compaction)."""
    from flink_crawler_spark.operators.state_table import (
        compact_state_log,
        tick_append_log,
        tick_merge_bucketed,
    )

    def append():
        tick_append_log(spark, table, obs(spark, [("x", "x.com", "FETCHED", 300, 1.0, 9)]))

    def merge():
        tick_merge_bucketed(spark, table, obs(spark, [("y", "y.com", "FETCHED", 300, 1.0, 9)]), now_ms=2_000)

    return {"append": append, "merge": merge, "compact": lambda: compact_state_log(spark, table)}


def test_crash_before_commit_resumes_the_committed_state(spark, monkeypatch):
    """A crash after a delta or base write but before its commit leaves
    the committed state in force — also for a catalog entry the base
    write already re-pointed, and for a new process (its catalog is
    empty) — and a re-run of the write commits normally."""
    table = "crash_before_commit_test"
    _fresh(spark, table, BASE_ROWS)
    try:
        steps = _write_steps(spark, table)
        for name in ("append", "merge", "compact"):
            if name == "compact":
                steps["append"]()  # something to compact
            committed, before = _marker(spark, table), _view(spark, table)
            with monkeypatch.context() as m:
                _crash_on(m, "_commit")
                with pytest.raises(_Crash):
                    steps[name]()
            assert _marker(spark, table) == committed, name
            assert _view(spark, table) == before, name
            spark.sql(f"DROP TABLE {table}")  # what a new process starts with
            assert _view(spark, table) == before, name
            steps[name]()
            after = _marker(spark, table)
            assert after.seq == committed.seq + 1, name
        assert set(_view(spark, table)) == {"s", "f", "x", "y"}
    finally:
        _drop(spark, table)


def test_crash_after_commit_before_sweep_resumes_the_new_state(spark, monkeypatch):
    """A crash between a new base's commit and its sweep leaves the new
    state in force, with entries the marker no longer names; the next
    new base sweeps them."""
    import os

    table = "crash_before_sweep_test"
    _fresh(spark, table, BASE_ROWS)
    try:
        steps = _write_steps(spark, table)
        steps["append"]()
        for name in ("merge", "compact"):
            with monkeypatch.context() as m:
                _crash_on(m, "_sweep")
                with pytest.raises(_Crash):
                    steps[name]()
            after = _marker(spark, table)
            assert after.base == after.tick, name
            assert os.path.isdir(os.path.join(_log_dir(spark, table), f"base_t{after.base}"))
            spark.sql(f"DROP TABLE {table}")
            assert set(_view(spark, table)) >= {"s", "f", "x"}, name
            if name == "merge":
                assert "y" in _view(spark, table)
                steps["append"]()  # a delta for the compaction below
        entries = sorted(d for d in os.listdir(_log_dir(spark, table)) if not d.startswith("."))
        assert len([d for d in entries if d.startswith("base_t")]) > 1  # not swept yet
        steps["append"]()
        steps["compact"]()
        m = _marker(spark, table)
        entries = sorted(d for d in os.listdir(_log_dir(spark, table)) if not d.startswith("."))
        assert entries == [f"base_t{m.base}", f"commit_{m.seq}"]
        assert set(_view(spark, table)) == {"s", "f", "x", "y"}
    finally:
        _drop(spark, table)


@pytest.mark.parametrize("mode", ["log", "rewrite"])
def test_pending_seeds_are_absorbed_exactly_once(spark, monkeypatch, mode):
    """A staged seed batch shows in the live view, not in the committed
    view; the next committed tick absorbs it once — through a crash
    between the delta write and its commit (log mode) or between a merge
    tick's commit and its sweep (rewrite mode), and through a compaction
    that runs while seeds are pending. UNFETCHED scores SUM in the
    lattice, so a second absorption shows as a grown score."""
    from flink_crawler_spark.operators.state_table import (
        compact_state_log,
        stage_pending_seeds,
        tick_append_log,
        tick_merge_bucketed,
    )

    table = f"log_seeds_{mode}_test"
    _fresh(spark, table, BASE_ROWS)

    def commit(rows):
        """Commit the next tick."""
        upd = obs(spark, rows)
        if mode == "log":
            tick_append_log(spark, table, upd, now_ms=1_000)
        else:
            tick_merge_bucketed(spark, table, upd, now_ms=1_000)

    try:
        assert stage_pending_seeds(spark, table, obs(spark, SEED_ROWS)).tick == 0
        live, committed = _view(spark, table), _view(spark, table, at_tick=0)
        assert live["s"]["score"] == 3.0 and live["n"]["score"] == 0.5
        assert committed["s"]["score"] == 1.0 and "n" not in committed

        tick1 = [("f", "f.com", "FETCHED", 300, 1.0, 900)]
        with monkeypatch.context() as m:
            _crash_on(m, "_commit" if mode == "log" else "_sweep")
            with pytest.raises(_Crash):
                commit(tick1)
        # log mode: the orphan t1 is ignored, the seeds still pending;
        # rewrite mode: the merge committed tick 1, and the seeds it folded
        # are no longer named by the marker, so they are ignored until swept
        assert _marker(spark, table).tick == (0 if mode == "log" else 1)
        assert _view(spark, table)["s"]["score"] == 3.0
        if mode == "log":
            commit(tick1)
        assert _marker(spark, table).tick == 1
        v1 = _view(spark, table)
        assert v1["s"]["score"] == 3.0 and v1["n"]["score"] == 0.5
        assert _view(spark, table, at_tick=1) == v1  # absorbed: committed now

        # a second batch pending across a compaction stays pending
        assert stage_pending_seeds(spark, table, obs(spark, SEED_ROWS[:1])).tick == 1
        compact_state_log(spark, table)
        assert _view(spark, table, at_tick=1)["s"]["score"] == 3.0
        assert _view(spark, table)["s"]["score"] == 5.0
        commit([("f", "f.com", "FETCHED", 400, 1.0, 900)])
        compact_state_log(spark, table)
        v2 = _view(spark, table)
        assert v2["s"]["score"] == 5.0 and v2["n"]["score"] == 0.5
        assert v2 == _view(spark, table, at_tick=2)
        import os

        assert not [
            d for d in os.listdir(_log_dir(spark, table)) if d.startswith(("t", "seeds_"))
        ]  # everything folded was swept
    finally:
        _drop(spark, table)


def test_bucketed_state_merge_query_keeps_one_state_root(spark, sf_dir):
    """Each run of the ``bucketed_state_merge`` query replaces the one
    state root it owns instead of leaving a new root behind in the
    warehouse, and a second run gives the same rows."""
    import glob
    import os

    from flink_crawler_spark.queries.core import BUCKETED_STATE_TABLE, bucketed_state_merge

    def roots():
        return set(glob.glob(_log_dir(spark, "crawl_state_q*")))

    before = roots()
    try:
        first = sorted(tuple(r) for r in bucketed_state_merge(spark, sf_dir).collect())
        second = sorted(tuple(r) for r in bucketed_state_merge(spark, sf_dir).collect())
        assert roots() == before | {_log_dir(spark, BUCKETED_STATE_TABLE)}
        assert os.path.isdir(_log_dir(spark, BUCKETED_STATE_TABLE))
        assert first and second == first
    finally:
        _drop(spark, BUCKETED_STATE_TABLE)

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

        # durable tick swap keeps the data correct and the table bucketed
        new_state = tick_merge_bucketed(spark, "crawl_state_test", updates, buckets=n_buckets)
        got = {r["url"]: r.asDict() for r in new_state.filter(~F.col("url").startswith("http://x/")).collect()}
        want = {r["url"]: r.asDict() for r in merge_updates(state, updates).collect()}
        assert got == want
        plan2 = (
            new_state.groupBy("url").agg(F.sum("score"))._jdf.queryExecution().executedPlan().toString()
        )
        assert plan2.count("Exchange") == 0  # still bucketed after the swap
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS crawl_state_test")
        spark.sql("DROP TABLE IF EXISTS crawl_state_test__staging")


def test_crawl_loop_through_bucketed_state_table(spark, tmp_path):
    """CrawlConfig.state_table wires tick_merge_bucketed into the loop:
    the same fixture graph crawled through the default (union re-agg +
    localCheckpoint) path and the bucketed-table path converges to the
    IDENTICAL final state, the table stays bucketed (Exchange-free
    groupBy on the key) after every swap, and a restarted crawl resumes
    from the table instead of the seeds."""
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
        # trace survives the table swaps (compaction checkpoints it per
        # tick) and matches the default path's per-operator URL sets
        for op in ("frontier", "fetched", "outlink"):
            sa = {r["url"] for r in base.trace.filter(F.col("operator") == op).collect()}
            sb = {
                r["url"] for r in bucketed.trace.filter(F.col("operator") == op).collect()
            }
            assert sa == sb, op

        # the simulated clock is persisted with the tick (refetch-mode
        # sleep jumps would otherwise rewind on resume)
        from flink_crawler_spark.operators.state_table import get_state_now_ms

        assert get_state_now_ms(spark, table) == 1_700_000_000_000 + bucketed.ticks * 100_000

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
        for t in (table, f"{table}__staging", f"{table}__old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_state_crash_recovery_from_old(spark, lattice_frames):
    """tick_merge_bucketed's swap is crash-safe: if a crash lands in the
    window where the live table has been renamed aside but the staging
    table has not yet taken the name, load_bucketed_state restores from
    <table>__old and the crawl resumes from the previous tick's state."""
    from flink_crawler_spark.operators.state_table import (
        load_bucketed_state,
        save_bucketed_state,
    )

    state, _updates = lattice_frames
    table = "crawl_state_crash_test"
    try:
        save_bucketed_state(state, table, buckets=4)
        want = {r["url"]: r.asDict() for r in spark.table(table).collect()}
        # simulate the crash window: live name renamed aside, no staging
        spark.sql(f"ALTER TABLE {table} RENAME TO {table}__old")
        assert not spark.catalog.tableExists(table)
        restored = load_bucketed_state(spark, table)
        got = {r["url"]: r.asDict() for r in restored.collect()}
        assert got == want
        assert spark.catalog.tableExists(table)  # name restored
        assert not spark.catalog.tableExists(f"{table}__old")
    finally:
        for t_ in (table, f"{table}__old", f"{table}__staging"):
            spark.sql(f"DROP TABLE IF EXISTS {t_}")


def test_tick_property_rides_the_swap_atomically(spark, lattice_frames):
    """The crawl.tick counter is stamped on the STAGING table before the
    rename, so the tick and the data replace the live table together —
    no crash window can pair new state with a stale (or missing, i.e.
    tick-0) counter."""
    from flink_crawler_spark.operators.state_table import (
        get_state_tick,
        save_bucketed_state,
        set_state_tick,
        tick_merge_bucketed,
    )

    state, updates = lattice_frames
    table = "crawl_state_tickprop_test"
    try:
        save_bucketed_state(state, table, buckets=4)
        set_state_tick(spark, table, 3)
        tick_merge_bucketed(spark, table, updates, buckets=4, tick=4)
        assert get_state_tick(spark, table) == 4
        # a merge WITHOUT a tick resets the counter to 0 (saveAsTable
        # creates the staging table propertyless, and nothing re-stamps
        # it) — the documented contract callers like ingest_seeds_table
        # must compensate for by always passing tick=
        tick_merge_bucketed(spark, table, updates, buckets=4)
        assert get_state_tick(spark, table) == 0
    finally:
        for t_ in (table, f"{table}__old", f"{table}__staging"):
            spark.sql(f"DROP TABLE IF EXISTS {t_}")


def test_crawl_loop_with_state_log_mode(spark, tmp_path):
    """LSM log mode: per-tick writes are delta tables (the base is only
    rewritten at compaction), the state view converges to the identical
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

        # the base table's data files were written at seed time or the
        # last compaction — NOT once per tick (the whole point): between
        # compactions only t<N> delta directories appear in the table's
        # log directory, next to its location
        warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        log_dir = os.path.join(warehouse, f"{table}__log")
        # ticks since the last compaction live as delta directories
        deltas = [d for d in os.listdir(log_dir) if re.fullmatch(r"t\d+", d)]
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
        for t_ in list(spark.catalog.listTables()):
            if t_.name.startswith(table):
                spark.sql(f"DROP TABLE IF EXISTS {t_.name}")


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
        compact_state_log(spark, table, buckets=n_buckets)
        after = {
            r["url"]: r.asDict()
            for r in read_state_log(spark, table, at_tick=res.ticks).collect()
        }
        assert after == final
        with pytest.raises(ValueError):
            read_state_log(spark, table, at_tick=1)
    finally:
        for t_ in list(spark.catalog.listTables()):
            if t_.name.startswith(table):
                spark.sql(f"DROP TABLE IF EXISTS {t_.name}")


# ---------------------------------------------------------------------------
# The log layout: plain parquet delta and pending-seed directories next to
# the table, the marker rule, the pending-seed rule, the sweeps
# ---------------------------------------------------------------------------


def _log_dir(spark, table):
    import os

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return os.path.join(warehouse, f"{table}__log")


def _fresh(spark, table, rows, *, tick=0):
    from flink_crawler_spark.operators.state_table import (
        save_bucketed_state,
        set_state_tick,
    )

    _drop(spark, table)
    save_bucketed_state(obs(spark, rows), table, buckets=4)
    set_state_tick(spark, table, tick, now_ms=1_000)


def _drop(spark, table):
    import shutil

    for t_ in (table, f"{table}__old", f"{table}__staging"):
        spark.sql(f"DROP TABLE IF EXISTS {t_}")
    shutil.rmtree(_log_dir(spark, table), ignore_errors=True)


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
    """A crash between a delta's write and the marker flip leaves an
    orphan t<N>: reads ignore it, and re-running tick N overwrites it."""
    import os

    from flink_crawler_spark.operators.state_table import get_state_tick, tick_append_log

    table = "log_orphan_test"
    _fresh(spark, table, BASE_ROWS)
    try:
        before = _view(spark, table)
        crashed = obs(spark, [("x", "x.com", "FETCHED", 300, 1.0, 999)])
        with monkeypatch.context() as m:
            _crash_on(m, "set_state_tick")
            with pytest.raises(_Crash):
                tick_append_log(spark, table, crashed, buckets=4, tick=1)
        assert os.path.isdir(os.path.join(_log_dir(spark, table), "t1"))  # the orphan
        assert get_state_tick(spark, table) == 0
        assert _view(spark, table) == before  # ignored

        rerun = obs(spark, [("y", "y.com", "FETCHED", 300, 1.0, 999)])
        tick_append_log(spark, table, rerun, buckets=4, tick=1)
        after = _view(spark, table)
        assert "y" in after and "x" not in after  # replaced, not appended
        assert get_state_tick(spark, table) == 1
    finally:
        _drop(spark, table)


def test_recreated_table_never_reads_a_dropped_namesakes_log(spark):
    """Deltas and pending seeds outlive DROP TABLE (they sit next to the
    table, not inside it); a table re-created under the same name must
    start with an empty log, even when its marker covers the old ticks."""
    from flink_crawler_spark.operators.state_table import (
        set_state_tick,
        stage_pending_seeds,
        tick_append_log,
    )

    table = "log_recreate_test"
    _fresh(spark, table, BASE_ROWS)
    try:
        tick_append_log(spark, table, obs(spark, [("old", "o.com", "FETCHED", 300, 1.0, 9)]), buckets=4, tick=1)
        stage_pending_seeds(spark, table, obs(spark, [("oldseed", "o.com", "UNFETCHED", 300, 1.0, 9)]))
        assert {"old", "oldseed"} <= set(_view(spark, table))
        spark.sql(f"DROP TABLE {table}")  # the log directory stays behind

        from flink_crawler_spark.operators.state_table import save_bucketed_state

        save_bucketed_state(obs(spark, BASE_ROWS), table, buckets=4)
        set_state_tick(spark, table, 1)  # t1 and seeds_t2 would both be in range
        assert set(_view(spark, table)) == {"s", "f"}
    finally:
        _drop(spark, table)


@pytest.mark.parametrize("mode", ["log", "rewrite"])
def test_pending_seeds_are_absorbed_exactly_once(spark, monkeypatch, mode):
    """A staged seed batch shows in the live view, not in the committed
    view; the next committed tick absorbs it once — through a crash
    between the delta write and the marker flip (log mode) or between
    the swap and the sweep (rewrite mode), and through a compaction that
    runs while seeds are pending. UNFETCHED scores SUM in the lattice,
    so a second absorption shows as a grown score."""
    from flink_crawler_spark.operators.state_table import (
        compact_state_log,
        get_state_tick,
        stage_pending_seeds,
        tick_append_log,
        tick_merge_bucketed,
    )

    table = f"log_seeds_{mode}_test"
    _fresh(spark, table, BASE_ROWS)

    def commit(tick, rows):
        upd = obs(spark, rows)
        if mode == "log":
            tick_append_log(spark, table, upd, buckets=4, tick=tick, now_ms=1_000)
        else:
            tick_merge_bucketed(spark, table, upd, buckets=4, tick=tick, now_ms=1_000)

    try:
        assert stage_pending_seeds(spark, table, obs(spark, SEED_ROWS)) == 0
        live, committed = _view(spark, table), _view(spark, table, at_tick=0)
        assert live["s"]["score"] == 3.0 and live["n"]["score"] == 0.5
        assert committed["s"]["score"] == 1.0 and "n" not in committed

        tick1 = [("f", "f.com", "FETCHED", 300, 1.0, 900)]
        with monkeypatch.context() as m:
            _crash_on(m, "set_state_tick" if mode == "log" else "_sweep")
            with pytest.raises(_Crash):
                commit(1, tick1)
        # log mode: the orphan t1 is ignored, the seeds still pending;
        # rewrite mode: the swap committed tick 1, and the seeds it folded
        # sit at or below the marker, so they are ignored until swept
        assert get_state_tick(spark, table) == (0 if mode == "log" else 1)
        assert _view(spark, table)["s"]["score"] == 3.0
        if mode == "log":
            commit(1, tick1)
        assert get_state_tick(spark, table) == 1
        v1 = _view(spark, table)
        assert v1["s"]["score"] == 3.0 and v1["n"]["score"] == 0.5
        assert _view(spark, table, at_tick=1) == v1  # absorbed: committed now

        # a second batch pending across a compaction stays pending
        assert stage_pending_seeds(spark, table, obs(spark, SEED_ROWS[:1])) == 1
        compact_state_log(spark, table, buckets=4)
        assert _view(spark, table, at_tick=1)["s"]["score"] == 3.0
        assert _view(spark, table)["s"]["score"] == 5.0
        commit(2, [("f", "f.com", "FETCHED", 400, 1.0, 900)])
        compact_state_log(spark, table, buckets=4)
        v2 = _view(spark, table)
        assert v2["s"]["score"] == 5.0 and v2["n"]["score"] == 0.5
        assert v2 == _view(spark, table, at_tick=2)
        import os

        assert not [
            d for d in os.listdir(_log_dir(spark, table)) if d.startswith(("t", "seeds_"))
        ]  # everything folded was swept
    finally:
        _drop(spark, table)

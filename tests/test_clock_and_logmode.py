"""Round-5 durability fixes: simulated-clock persistence across every
swap path, the combined refetch+LSM-log+restart mode, and the log-mode
single-state-scan guarantee.

The simulated clock (the commit marker's ``clock``) exists because refetch-mode crawls SLEEP-JUMP it forward to the next
due timer (Flink per-key timer semantics). Any path that rewrites the
state without carrying the clock silently rewinds a resumed crawl to
start_ms + tick*tick_ms, re-burning ticks to re-derive jumps already
taken — these tests pin every such path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
from flink_crawler_spark.sources.fixtures import (
    render_pages,
    web_graph_from_adjacency,
)


@pytest.fixture(scope="module")
def leaf_graph(spark):
    """One seed page with no outlinks: the frontier empties on tick 2,
    so a refetch-enabled crawl sleep-jumps its clock immediately."""
    wg = web_graph_from_adjacency(spark, {"http://solo.com/": []})
    return render_pages(wg).localCheckpoint(eager=True)


def _drop_state_tables(spark, table: str) -> None:
    import glob
    import shutil

    for r in spark.sql(f"SHOW TABLES LIKE '{table}*'").collect():
        spark.sql(f"DROP TABLE IF EXISTS {r['tableName']}")
    # a killed earlier run can leave orphan managed-table locations with
    # no catalog entry — saveAsTable then fails LOCATION_ALREADY_EXISTS
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for d in glob.glob(f"{warehouse}/{table}*"):
        shutil.rmtree(d, ignore_errors=True)


def _seeds(spark):
    return spark.createDataFrame([("http://solo.com/", 1.0)], ["url", "score"])


REFETCH_CFG = dict(refetch=True, refetch_interval_ms=5_000_000, tick_ms=100_000)


# ---------------------------------------------------------------------------
# clock persistence across every swap path
# ---------------------------------------------------------------------------


def test_compact_state_log_preserves_clock(spark, leaf_graph):
    """compact_state_log's new base must carry the committed clock: a
    refetch crawl stopping ON a compaction boundary (tick %
    state_log_every == 0, including the final tick) would otherwise
    resume with a rewound clock."""
    from flink_crawler_spark.operators.state_table import compact_state_log, get_state_marker

    table = "clk_compact_test"
    _drop_state_tables(spark, table)
    try:
        # 3 ticks with state_log_every=3: tick 1 fetches, tick 2 jumps
        # the clock to the refetch timer, tick 3 refetches; the run ends
        # exactly on the compaction boundary
        res = crawl(
            spark, _seeds(spark), pages=leaf_graph,
            config=CrawlConfig(
                max_ticks=3, state_table=table, state_buckets=4,
                state_log_every=3, **REFETCH_CFG,
            ),
        )
        jumped = get_state_marker(spark, table).clock
        assert jumped is not None
        # the sleep jump moved the clock well past tick*tick_ms
        assert jumped > 1_700_000_000_000 + res.ticks * 100_000
        # an explicit re-compaction (a no-op: the base is current) must
        # not strip it
        compact_state_log(spark, table)
        assert get_state_marker(spark, table)[1:3] == (res.ticks, jumped)
    finally:
        _drop_state_tables(spark, table)


def test_ingest_seeds_table_preserves_jumped_clock(spark, leaf_graph):
    """A streaming seed micro-batch must leave the log's jumped clock in
    place (an earlier full-table merge stamped tick-only properties,
    stripping the clock every batch; pending-seed ingestion commits the
    marker with its clock unchanged)."""
    from flink_crawler_spark.operators.state_table import get_state_marker
    from flink_crawler_spark.streaming.crawl_stream import ingest_seeds_table

    table = "clk_ingest_table_test"
    _drop_state_tables(spark, table)
    try:
        crawl(
            spark, _seeds(spark), pages=leaf_graph,
            config=CrawlConfig(
                max_ticks=3, state_table=table, state_buckets=4, **REFETCH_CFG,
            ),
        )
        jumped = get_state_marker(spark, table).clock
        assert jumped is not None and jumped > 1_700_000_000_000 + 3 * 100_000
        new_seeds = spark.createDataFrame([("http://late.com/", 1.0)], ["url", "score"])
        ingest_seeds_table(spark, new_seeds, table, now_ms=1_700_000_000_000, buckets=4)
        assert get_state_marker(spark, table).clock == jumped
    finally:
        _drop_state_tables(spark, table)


def test_ingest_seeds_dir_preserves_jumped_clock(spark, leaf_graph, tmp_path):
    """Seed ingest into a state_dir log must keep the committed tick AND
    clock (an old single-token marker write dropped the clock; a refetch
    crawl then resumed rewound and re-burned ticks re-deriving its
    jumps)."""
    from flink_crawler_spark.operators.state_table import get_state_marker, state_dir_table
    from flink_crawler_spark.streaming.crawl_stream import ingest_seeds_table

    state_dir = str(tmp_path / "state")
    res = crawl(
        spark, _seeds(spark), pages=leaf_graph,
        config=CrawlConfig(max_ticks=3, state_dir=state_dir, **REFETCH_CFG),
    )
    table = state_dir_table(state_dir)
    tick0, jumped = get_state_marker(spark, table)[1:3]
    assert jumped is not None and jumped > 1_700_000_000_000 + res.ticks * 100_000

    new_seeds = spark.createDataFrame([("http://late.com/", 1.0)], ["url", "score"])
    ingest_seeds_table(spark, new_seeds, table, now_ms=1_700_000_000_000)
    assert get_state_marker(spark, table)[1:3] == (tick0, jumped)

    # resume: the crawl continues at the jumped clock — the refetch
    # already taken is not re-derived, and the new seed is fetched
    resumed = crawl(
        spark, _seeds(spark), pages=leaf_graph,
        config=CrawlConfig(max_ticks=res.ticks + 2, state_dir=state_dir, **REFETCH_CFG),
    )
    state = {r["url"]: r.asDict() for r in resumed.crawl_state.collect()}
    # the late seed stays tracked (UNFETCHED: its page is not in the
    # fixture graph, so the mock fetch 404s or leaves it pending — what
    # matters here is the clock, checked below)
    assert "http://late.com/" in state
    # clock never rewound: status times at/after the jump survive
    assert state["http://solo.com/"]["status_time"] >= jumped - 5_000_000


# ---------------------------------------------------------------------------
# combined mode: refetch + LSM state log + restart (r4 features together)
# ---------------------------------------------------------------------------


def test_refetch_log_mode_restart_converges(spark, leaf_graph):
    """The two r4 features composed: a refetch crawl in LSM log mode,
    stopped ON a compaction boundary after a clock jump, resumes to the
    same final state as an uninterrupted run (same ticks, same
    status_times — i.e. the persisted clock and the delta log both
    survived the stop)."""
    from flink_crawler_spark.operators.state_table import read_state_log

    cfg = dict(state_buckets=4, state_log_every=3, **REFETCH_CFG)
    t_once, t_resume = "clk_combined_once", "clk_combined_resume"
    _drop_state_tables(spark, t_once)
    _drop_state_tables(spark, t_resume)
    try:
        # uninterrupted: 6 ticks in one go
        once = crawl(
            spark, _seeds(spark), pages=leaf_graph,
            config=CrawlConfig(max_ticks=6, state_table=t_once, **cfg),
        )
        want = {r["url"]: r.asDict() for r in once.crawl_state.collect()}

        # interrupted: stop at tick 3 (compaction boundary, after the
        # tick-2 clock jump), then resume to 6
        crawl(
            spark, _seeds(spark), pages=leaf_graph,
            config=CrawlConfig(max_ticks=3, state_table=t_resume, **cfg),
        )
        resumed = crawl(
            spark, _seeds(spark), pages=leaf_graph,
            config=CrawlConfig(max_ticks=6, state_table=t_resume, **cfg),
        )
        got = {r["url"]: r.asDict() for r in read_state_log(spark, t_resume).collect()}
        assert got == want
        assert resumed.ticks == once.ticks
    finally:
        _drop_state_tables(spark, t_once)
        _drop_state_tables(spark, t_resume)


# ---------------------------------------------------------------------------
# log-mode metrics ride the frontier scan (no second state scan)
# ---------------------------------------------------------------------------


def test_log_mode_stats_cost_no_extra_jobs(spark, leaf_graph):
    """collect_stats in LSM log mode must ride the frontier job's scan
    of the state view — turning it on may not add per-tick Spark jobs
    (the old implementation ran a separate full-state agg every tick).
    Counted via job groups: the stats arm may exceed the no-stats arm
    only by the single end-of-crawl finalization agg."""
    sc = spark.sparkContext
    table_a, table_b = "clk_jobs_stats", "clk_jobs_nostats"
    _drop_state_tables(spark, table_a)
    _drop_state_tables(spark, table_b)
    base = dict(max_ticks=4, state_buckets=4, state_log_every=3, trace=False)
    try:
        sc.setJobGroup("r5_stats_on", "log-mode crawl, collect_stats=True")
        stats_res = crawl(
            spark, _seeds(spark), pages=leaf_graph,
            config=CrawlConfig(state_table=table_a, collect_stats=True, **base),
        )
        sc.setJobGroup("r5_stats_off", "log-mode crawl, collect_stats=False")
        crawl(
            spark, _seeds(spark), pages=leaf_graph,
            config=CrawlConfig(state_table=table_b, collect_stats=False, **base),
        )
        sc.setJobGroup("r5_done", "")
        tracker = sc.statusTracker()
        n_on = len(tracker.getJobIdsForGroup("r5_stats_on"))
        n_off = len(tracker.getJobIdsForGroup("r5_stats_off"))
        assert n_on <= n_off + 1, (n_on, n_off)
        # and the stats themselves still arrive, one entry per
        # productive tick, with real counts
        assert stats_res.stats, "collect_stats produced no entries"
        assert all(s["status_counts"] for s in stats_res.stats)
        assert any(s["status_counts"].get("FETCHED") for s in stats_res.stats)
    finally:
        sc.setJobGroup("r5_cleanup", "")
        _drop_state_tables(spark, table_a)
        _drop_state_tables(spark, table_b)

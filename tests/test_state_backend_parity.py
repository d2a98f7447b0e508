"""The four durable-state modes of the crawl loop agree.

The in-memory loop (localCheckpoint), ``state_dir`` parquet snapshots,
the bucketed ``state_table`` (a full rewrite swap per tick) and its LSM
log mode (``state_log_every``) must crawl the same graph to the same
final state, the same ``res.ticks`` and the same per-tick ``res.stats``
— with the status counters on and off (stats on, the table log mode
finalizes each tick's counts one tick in arrears; off, every mode stops
one tick later on the empty frontier). A corrupt ``_LATEST`` snapshot
marker is rejected with the same clear error by the loop's resume and by
the streaming seed ingest.
"""

from __future__ import annotations

import glob
import shutil

import pytest

from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
from flink_crawler_spark.sources.fixtures import render_pages, web_graph_from_adjacency

ADJACENCY = {
    "http://l1.com/": ["http://l1.com/a", "http://l2.com/"],
    "http://l1.com/a": ["http://l2.com/b"],
    "http://l2.com/": ["http://l2.com/b"],
    "http://l2.com/b": ["http://l1.com/c"],
    "http://l1.com/c": [],
}
MODES = ["memory", "state_dir", "state_table", "state_log"]
# ticks on this graph: stats on stop when no UNFETCHED row is left; stats
# off stop one tick later, on the first empty frontier
EXPECTED_TICKS = {True: 4, False: 5}


@pytest.fixture(scope="module")
def graph(spark):
    pages = render_pages(web_graph_from_adjacency(spark, ADJACENCY)).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([("http://l1.com/", 1.0)], ["url", "score"])
    return seeds, pages


def _drop_tables(spark, table: str) -> None:
    for r in spark.sql(f"SHOW TABLES LIKE '{table}*'").collect():
        spark.sql(f"DROP TABLE IF EXISTS {r['tableName']}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for d in glob.glob(f"{warehouse}/{table}*"):
        shutil.rmtree(d, ignore_errors=True)


def _run(spark, graph, mode: str, stats: bool, tmp_path) -> tuple[dict, int, list]:
    seeds, pages = graph
    table = f"parity_{mode}_{int(stats)}"
    kw = {
        "memory": {},
        "state_dir": {"state_dir": str(tmp_path / "state")},
        "state_table": {"state_table": table, "state_buckets": 4},
        "state_log": {"state_table": table, "state_buckets": 4, "state_log_every": 3},
    }[mode]
    _drop_tables(spark, table)
    try:
        res = crawl(
            spark, seeds, pages=pages,
            config=CrawlConfig(max_ticks=8, collect_stats=stats, **kw),
        )
        # collect before the table is dropped: table modes return a view
        state = {r["url"]: r.asDict() for r in res.crawl_state.collect()}
        return state, res.ticks, res.stats
    finally:
        _drop_tables(spark, table)


@pytest.fixture(scope="module")
def reference(spark, graph, tmp_path_factory):
    """The in-memory crawl, per stats flag."""
    return {
        stats: _run(spark, graph, "memory", stats, tmp_path_factory.mktemp("ref"))
        for stats in (True, False)
    }


@pytest.mark.parametrize("stats", [True, False], ids=["stats", "nostats"])
@pytest.mark.parametrize("mode", MODES)
def test_state_modes_agree(spark, graph, reference, mode, stats, tmp_path):
    state, ticks, tick_stats = _run(spark, graph, mode, stats, tmp_path)
    want_state, want_ticks, want_stats = reference[stats]
    assert ticks == want_ticks == EXPECTED_TICKS[stats]
    assert state == want_state
    assert state["http://l1.com/c"]["status"] == "FETCHED"
    assert tick_stats == want_stats
    if stats:
        assert [s["tick"] for s in tick_stats] == list(range(1, ticks + 1))
    else:
        assert tick_stats == []


def test_corrupt_snapshot_marker_is_a_clear_error(spark, graph, tmp_path):
    """Resume and seed ingest read the one marker format ("tick" or
    "tick now_ms"); anything else names the marker file instead of
    surfacing as a bare IndexError/ValueError from deep inside."""
    from flink_crawler_spark.streaming.crawl_stream import ingest_seeds

    seeds, pages = graph
    for content in ("", "not-a-tick", "3 soon"):
        state_dir = tmp_path / f"state{len(content)}"
        state_dir.mkdir()
        (state_dir / "_LATEST").write_text(content)
        with pytest.raises(ValueError, match="corrupt checkpoint marker"):
            crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=2, state_dir=str(state_dir)))
        with pytest.raises(ValueError, match="corrupt checkpoint marker"):
            ingest_seeds(spark, seeds, str(state_dir), now_ms=1_700_000_000_000)


def test_table_marker_is_one_catalog_lookup(spark, monkeypatch):
    """A state table's marker reads its tick and clock from one
    ``DESCRIBE TABLE`` (the streaming shell reads it twice per batch)."""
    from flink_crawler_spark.operators import state_table
    from flink_crawler_spark.plans.state_backend import state_backend

    table = "marker_once"
    _drop_tables(spark, table)
    try:
        state = spark.createDataFrame([("http://l1.com/",)], "url string")
        state_table.save_bucketed_state(state, table, buckets=4)
        state_table.set_state_tick(spark, table, 7, now_ms=1_700_000_000_123)
        meta, tables = state_table._meta, []
        monkeypatch.setattr(state_table, "_meta", lambda s, t: tables.append(t) or meta(s, t))
        backend = state_backend(spark, CrawlConfig(state_table=table, state_buckets=4))
        assert backend.marker() == (7, 1_700_000_000_123)
        assert tables == [table]
    finally:
        _drop_tables(spark, table)

"""The state modes of the crawl loop agree.

The in-memory loop (localCheckpoint) and the durable state log — rooted
at a ``state_dir`` or at ``<warehouse>/<state_table>``, compacting every
4 ticks (the default) or every 3 (``state_log``) — must crawl the same
graph to the same final state, the same ``res.ticks`` and the same
per-tick ``res.stats`` — with the status counters on and off (stats on,
the log finalizes each tick's counts one tick in arrears; off, every
mode stops one tick later on the empty frontier). A corrupt commit
marker, and state in an older format, are rejected with a clear error
by the loop's resume and by the streaming seed ingest; a streamed
micro-batch reads the marker once.
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
        "state_dir": {"state_dir": str(tmp_path / "state"), "state_buckets": 4},
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
    """Resume and seed ingest read the one marker format (a JSON commit
    file); anything else names the marker file instead of surfacing as a
    bare error from deep inside."""
    from flink_crawler_spark.operators.state_table import state_dir_table
    from flink_crawler_spark.streaming.crawl_stream import ingest_seeds_table

    seeds, pages = graph
    for content in ("", "not-json", '{"tick": 3}', '{"tick": "soon", "clock": null}'):
        state_dir = tmp_path / f"state{len(content)}"
        state_dir.mkdir()
        (state_dir / "commit_0").write_text(content)
        with pytest.raises(ValueError, match="corrupt commit marker .*commit_0"):
            crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=2, state_dir=str(state_dir)))
        with pytest.raises(ValueError, match="corrupt commit marker"):
            ingest_seeds_table(spark, seeds, state_dir_table(str(state_dir)), now_ms=1_700_000_000_000)


def test_old_format_state_is_a_clear_error(spark, graph, tmp_path):
    """A snapshot directory of the old ``state_dir`` format (``_LATEST`` +
    ``state_t<N>``) and a table root with no commit marker (the old
    catalog-managed table) are refused with an error that names the path
    and says to delete it — never read as an empty state and overwritten."""
    from flink_crawler_spark.operators.state_table import state_dir_table
    from flink_crawler_spark.streaming.crawl_stream import ingest_seeds_table

    seeds, pages = graph
    old = tmp_path / "snapshots"
    (old / "state_t3").mkdir(parents=True)
    (old / "_LATEST").write_text("3 1700000300000")
    with pytest.raises(ValueError, match=f"{old}.*delete"):
        crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=2, state_dir=str(old)))
    with pytest.raises(ValueError, match=f"{old}.*delete"):
        ingest_seeds_table(spark, seeds, state_dir_table(str(old)), now_ms=1_700_000_000_000)
    assert (old / "_LATEST").read_text() == "3 1700000300000"  # left as it was

    table = "old_format_table"
    _drop_tables(spark, table)
    try:
        spark.createDataFrame([("http://l1.com/",)], "url string").write.saveAsTable(table)
        with pytest.raises(ValueError, match=f"{table}.*no commit marker.*delete"):
            crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=2, state_table=table))
    finally:
        _drop_tables(spark, table)


def test_one_marker_read_per_micro_batch(spark, graph, tmp_path, monkeypatch):
    """A streamed micro-batch reads the state log's commit marker once —
    the ingest and the crawl's resume reuse it, and every tick and
    compaction carries the marker it committed."""
    from flink_crawler_spark.operators import state_table
    from flink_crawler_spark.streaming import crawl_stream

    _, pages = graph
    table = "marker_once"
    _drop_tables(spark, table)
    reads, per_batch = [], []
    read = state_table._read_marker
    monkeypatch.setattr(state_table, "_read_marker", lambda s, root: reads.append(root) or read(s, root))
    crawl_fn = crawl_stream.crawl

    def counted_crawl(*a, **k):
        try:
            return crawl_fn(*a, **k)
        finally:
            per_batch.append(len(reads) - sum(per_batch))

    monkeypatch.setattr(crawl_stream, "crawl", counted_crawl)
    seed_file = tmp_path / "seeds.txt"
    seed_file.write_text("http://l1.com/\nhttp://l2.com/\nhttp://l1.com/a\n")
    try:
        q = crawl_stream.continuous_crawl(
            spark, seed_path=str(seed_file), pages=pages, state_table=table, state_buckets=4,
            checkpoint_dir=str(tmp_path / "ckpt"), config=CrawlConfig(state_log_every=2),
            ticks_per_batch=2, seeds_per_batch=1,
        )
        assert q.awaitTermination(300)
        assert q.exception() is None
        # two productive batches of two ticks, compacting at ticks 2 and 4;
        # the third batch's seed is already fetched, so its crawl ends at once
        assert state_table.get_state_marker(spark, table).tick == 4
        assert per_batch == [1, 1, 1]
    finally:
        _drop_tables(spark, table)

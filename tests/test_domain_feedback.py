"""Domain-score feedback loop: moving-average quotas focus the crawl."""

from __future__ import annotations

from flink_crawler_spark.operators.parse import title_scorer
from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
from flink_crawler_spark.sources.fixtures import render_pages, web_graph_from_adjacency


def test_budget_splits_by_domain_moving_average(spark):
    adjacency = {"http://good.com/": [f"http://good.com/p{i}" for i in range(8)]}
    adjacency.update({f"http://good.com/p{i}": [] for i in range(8)})
    adjacency["http://bad.com/"] = [f"http://bad.com/p{i}" for i in range(8)]
    adjacency.update({f"http://bad.com/p{i}": [] for i in range(8)})
    scores = {p: (5.0 if "good" in p else 0.5) for p in adjacency}
    pages = render_pages(web_graph_from_adjacency(spark, adjacency, scores)).localCheckpoint(
        eager=True
    )
    seeds = spark.createDataFrame(
        [("http://good.com/", 1.0), ("http://bad.com/", 1.0)], ["url", "score"]
    )
    res = crawl(
        spark,
        seeds,
        pages=pages,
        scorer=title_scorer,
        config=CrawlConfig(max_ticks=2, trace=False, domain_score_budget=6),
    )
    fetched = {"good.com": 0, "bad.com": 0}
    for r in res.crawl_state.collect():
        if r["status"] == "FETCHED" and r["url"] != f"http://{r['pld']}/":
            fetched[r["pld"]] += 1
    # tick 2 budget=6 split by moving-average scores 5.0 vs 0.5:
    # good gets round(6*5/5.5)=5, bad gets the min-quota 1
    assert fetched["good.com"] == 5
    assert fetched["bad.com"] == 1


def test_no_budget_keeps_uniform_frontier(spark):
    adjacency = {"http://a.com/": ["http://a.com/x"], "http://a.com/x": []}
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([("http://a.com/", 1.0)], ["url", "score"])
    res = crawl(spark, seeds, pages=pages, config=CrawlConfig(max_ticks=3, trace=False))
    st = {r["url"]: r["status"] for r in res.crawl_state.collect()}
    assert st == {"http://a.com/": "FETCHED", "http://a.com/x": "FETCHED"}


# the budget golden below, taken at the lazy and at the folded score
# history (they agreed): the frontier size per tick, and how many pages
# each domain fetched per tick (ticks 1..14)
GOLDEN_FRONTIER = [2, 8, 8, 9, 8, 8, 8, 8, 8, 8, 8, 2, 2, 2]
GOLDEN_FETCHED = {
    "a.com": [1, 4, 6, 6, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2],
    "b.com": [1, 4, 2, 3, 5, 6, 6, 6, 6, 6, 6, 0, 0, 0],
}


def test_budget_crawl_past_the_score_window_golden(spark):
    """A budget crawl that runs well past the 10-score moving-average
    window, pinned to its per-tick frontier counts and its final state.
    Domain a's first 6 pages score 3.0 and the rest 1.0, b's the
    reverse, so the quotas follow the window as it slides: a domain holds
    more than 10 scores from tick 3 on, and a mean over all its scores
    would admit (5, 3) at tick 4, not (6, 3)."""
    n = 50  # pages per domain (max_outlinks: each root links to all of them)
    adjacency, scores = {}, {}
    for d, high_first in (("a", True), ("b", False)):
        kids = [f"http://{d}.com/p{i:02d}" for i in range(n)]
        adjacency[f"http://{d}.com/"] = kids
        scores[f"http://{d}.com/"] = 1.0
        for i, k in enumerate(kids):
            adjacency[k] = []
            scores[k] = 3.0 if (i < 6) == high_first else 1.0
    pages = render_pages(web_graph_from_adjacency(spark, adjacency, scores)).localCheckpoint(
        eager=True
    )
    seeds = spark.createDataFrame(
        [("http://a.com/", 1.0), ("http://b.com/", 1.0)], ["url", "score"]
    )
    start_ms, tick_ms = 1_700_000_000_000, 100_000
    res = crawl(
        spark, seeds, pages=pages, scorer=title_scorer, start_ms=start_ms,
        config=CrawlConfig(max_ticks=14, trace=False, domain_score_budget=8, tick_ms=tick_ms),
    )
    assert res.ticks == 14
    assert [s["frontier"] for s in res.stats] == GOLDEN_FRONTIER
    # a domain's pages share one link score, so they are admitted in url
    # order, each a crawl delay (10 s) after the last: the golden counts
    # spell out the whole final state
    want = {}
    for pld, per_tick in GOLDEN_FETCHED.items():
        urls = iter([f"http://{pld}/"] + [f"http://{pld}/p{i:02d}" for i in range(n)])
        for tick, k in enumerate(per_tick, start=1):
            for slot in range(k):
                want[next(urls)] = ("FETCHED", start_ms + tick * tick_ms + slot * 10_000, 0.0)
        for url in urls:  # discovered at tick 1, never admitted
            want[url] = ("UNFETCHED", start_ms + tick_ms, round(1.0 / n, 6))
    got = {
        r["url"]: (r["status"], r["status_time"], round(r["score"], 6))
        for r in res.crawl_state.collect()
    }
    assert got == want

"""Long-crawl flat-cost regression: the history fold keeps per-tick time flat.

The reference operates as ONE always-on job (CrawlTopologyBuilder.java:
250-466); the batch-loop engine must sustain 1,000+ ticks. The crawl
loop has one history path: every tick checkpoints its trace slice,
parse output and score window, so the budget-mode tick cost does not
grow with the tick count (a lazy history measured 1.9s -> 32s by tick
5 and a driver-JVM OOM before tick 30; the folded one held flat over
200 ticks, SCALE.md). This test pins that path at a CI-sized tick
count with a generous flatness bound — the failure mode it guards
against is a >10x blowup, not a 20% drift.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from flink_crawler_spark.plans.crawl_loop import CrawlConfig, crawl
from flink_crawler_spark.sources.fixtures import render_pages, web_graph_from_adjacency


def _chain_graph(spark, n_pages: int, n_domains: int):
    urls = [f"http://d{i % n_domains}.com/p{i}" for i in range(n_pages)]
    adjacency = {
        u: [urls[i + 1]] if i + 1 < n_pages else [] for i, u in enumerate(urls)
    }
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(
        eager=True
    )
    return pages, urls


def test_compact_budget_crawl_holds_flat_tick_cost(spark):
    import flink_crawler_spark.plans.crawl_loop as cl

    domains, ticks = 4, 24
    pages, urls = _chain_graph(spark, n_pages=ticks * domains + domains, n_domains=domains)
    seeds = spark.createDataFrame([(urls[0], 1.0)], ["url", "score"])
    cfg = CrawlConfig(
        max_ticks=ticks,
        domain_score_budget=domains,
        max_queue_size=None,
        max_duration_sec=1800,
    )
    marks: list[float] = []
    real = time.time

    def spy():
        marks.append(real())
        return marks[-1]

    cl.time.time = spy  # tick boundary = loop-condition evaluation
    try:
        res = crawl(spark, seeds, pages=pages, config=cfg)
    finally:
        cl.time.time = real

    assert res.ticks == ticks  # the chain kept the crawl busy throughout
    tick_times = [b - a for a, b in zip(marks[1:-1], marks[2:])]
    assert len(tick_times) >= ticks - 1
    k = 5
    first = sum(tick_times[:k]) / k
    last = sum(tick_times[-k:]) / k
    # flat: the non-compact failure mode is >10x growth by tick 10 and
    # an OOM soon after; 3x headroom absorbs shared-VM noise
    assert last < 3 * max(first, 0.5), f"tick cost grew: first={first:.2f}s last={last:.2f}s"
    # the chain releases exactly one new URL per tick (serial
    # discovery: page i links only to page i+1), so a busy crawl
    # fetches one page per tick
    st = {r["url"]: r["status"] for r in res.crawl_state.collect()}
    n_fetched = sum(1 for s in st.values() if s == "FETCHED")
    assert n_fetched >= ticks - 1
    # history stayed bounded: the quota plan reads ONE folded frame, not
    # a per-tick union (structure pin — independent of wall clock)
    assert res.stats, "stats should be collected"

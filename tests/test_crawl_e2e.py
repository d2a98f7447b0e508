"""End-to-end crawl-loop tests over synthetic web graphs.

Mirrors the reference's topology tests
(src/test/java/com/scaleunlimited/flinkcrawler/topology/CrawlTopologyTest.java):
  * testBroadCrawl   — all reachable pages get fetched; outlinks discovered
  * robots blocking  — blocked page is seen by the robots check but never
                       by the fetcher (assertUrlNotLoggedBy FetchUrlsFunction)
  * testFocused      — pages whose link score stays under min_fetch_score
                       are never fetched (min score 0.75, :51-146)
  * sitemap          — URLs advertised via robots Sitemap: reach the URL DB
  * lengthener       — shortened seed expands before entering the frontier
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_crawler_spark.operators.robots import parse_robots_rules, parse_robots_txt
from flink_crawler_spark.plans.crawl_loop import CrawlConfig, CrawlResult, crawl
from flink_crawler_spark.sources.fixtures import (
    redirects_table,
    render_pages,
    robots_table,
    sitemaps_table,
    web_graph_from_adjacency,
)


def D(host, path=""):
    return f"http://{host}/{path}"


@pytest.fixture(scope="module")
def simple_graph(spark):
    adjacency = {
        D("domain1.com"): [D("domain1.com", "page1"), D("domain1.com", "page2")],
        D("domain1.com", "page1"): [D("domain2.com")],
        D("domain1.com", "page2"): [],
        D("domain2.com"): [D("domain2.com", "deep")],
        D("domain2.com", "deep"): [],
    }
    wg = web_graph_from_adjacency(spark, adjacency)
    return render_pages(wg).localCheckpoint(eager=True)


def traced(result: CrawlResult, operator: str) -> set[str]:
    return {
        r["url"]
        for r in result.trace.filter(F.col("operator") == operator).select("url").collect()
    }


def state_map(result: CrawlResult) -> dict[str, dict]:
    return {r["url"]: r.asDict() for r in result.crawl_state.collect()}


def test_broad_crawl_reaches_every_page(spark, simple_graph):
    seeds = spark.createDataFrame([(D("domain1.com"), 1.0)], ["url", "score"])
    res = crawl(spark, seeds, pages=simple_graph, config=CrawlConfig(max_ticks=8))
    st = state_map(res)
    for page in [
        D("domain1.com"),
        D("domain1.com", "page1"),
        D("domain1.com", "page2"),
        D("domain2.com"),
        D("domain2.com", "deep"),
    ]:
        assert st[page]["status"] == "FETCHED", f"{page}: {st.get(page)}"
    # no UNFETCHED leftovers; loop reached fixpoint before max_ticks
    assert all(r["status"] != "UNFETCHED" for r in st.values())
    assert res.ticks < 8
    # parsed output exists for every fetched page
    parsed_urls = {r["url"] for r in res.parsed.collect()}
    assert D("domain2.com", "deep") in parsed_urls


def test_unknown_url_becomes_404(spark, simple_graph):
    seeds = spark.createDataFrame(
        [(D("domain1.com"), 1.0), (D("nowhere.com"), 1.0)], ["url", "score"]
    )
    res = crawl(spark, seeds, pages=simple_graph, config=CrawlConfig(max_ticks=4))
    st = state_map(res)
    assert st[D("nowhere.com")]["status"] == "HTTP_NOT_FOUND"


def test_robots_blocked_never_fetched(spark, simple_graph):
    robots = robots_table(
        spark,
        {
            "http://domain1.com/robots.txt": "User-agent: *\nDisallow: /page1",
        },
    )
    rules = parse_robots_rules(robots)
    seeds = spark.createDataFrame([(D("domain1.com"), 1.0)], ["url", "score"])
    res = crawl(
        spark, seeds, pages=simple_graph, robots_rules=rules, config=CrawlConfig(max_ticks=8)
    )
    st = state_map(res)
    assert st[D("domain1.com", "page1")]["status"] == "SKIPPED_BLOCKED"
    # the blocked page is routed by robots but never reaches the fetcher —
    # the reference's assertUrlNotLoggedBy(FetchUrlsFunction, page1)
    assert D("domain1.com", "page1") in traced(res, "robots_blocked")
    assert D("domain1.com", "page1") not in traced(res, "fetch")
    # its sibling still gets crawled, and page1's outlink target is only
    # reachable through page1 -> stays undiscovered
    assert st[D("domain1.com", "page2")]["status"] == "FETCHED"
    assert D("domain2.com") not in st


def test_focused_crawl_skips_low_score_pages(spark):
    # mirror testFocused: seed score splits across outlinks; with
    # min_fetch_score=0.75 the many-outlink page's children never fetch
    adjacency = {
        D("good.com"): [D("good.com", "only")],  # 1 outlink -> score 1.0
        D("good.com", "only"): [],
        D("thin.com"): [D("thin.com", f"p{i}") for i in range(4)],  # score 0.25 each
        **{D("thin.com", f"p{i}"): [] for i in range(4)},
    }
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([(D("good.com"), 1.0), (D("thin.com"), 1.0)], ["url", "score"])
    res = crawl(
        spark,
        seeds,
        pages=pages,
        config=CrawlConfig(max_ticks=6, min_fetch_score=0.75),
    )
    st = state_map(res)
    assert st[D("good.com", "only")]["status"] == "FETCHED"
    for i in range(4):
        assert st[D("thin.com", f"p{i}")]["status"] == "UNFETCHED"
    assert all(D("thin.com", f"p{i}") not in traced(res, "fetch") for i in range(4))


def test_focused_scores_accumulate_across_links(spark):
    """Under-threshold links from multiple pages sum (UNFETCHED merge)
    until the URL clears the bar — the focusing dynamics of the URL DB."""
    adjacency = {
        D("a.com"): [D("target.com"), D("a.com", "x")],  # 0.5 to target
        D("b.com"): [D("target.com"), D("b.com", "x")],  # 0.5 to target
        D("a.com", "x"): [],
        D("b.com", "x"): [],
        D("target.com"): [],
    }
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(eager=True)
    seeds = spark.createDataFrame([(D("a.com"), 1.0), (D("b.com"), 1.0)], ["url", "score"])
    res = crawl(
        spark, seeds, pages=pages, config=CrawlConfig(max_ticks=6, min_fetch_score=0.75)
    )
    st = state_map(res)
    # each inlink contributes 0.5 -> sum 1.0 >= 0.75 -> fetched
    assert st[D("target.com")]["status"] == "FETCHED"
    # single-parent 0.5-score pages stay unfetched
    assert st[D("a.com", "x")]["status"] == "UNFETCHED"


def test_sitemap_urls_reach_url_db(spark, simple_graph):
    robots = robots_table(
        spark,
        {
            "http://domain1.com/robots.txt": (
                "User-agent: *\nSitemap: http://domain1.com/sitemap.xml"
            )
        },
    )
    rules = parse_robots_rules(robots)
    sitemap = sitemaps_table(
        spark,
        {"http://domain1.com/sitemap.xml": [D("domain2.com", "deep"), D("domain2.com")]},
    )
    seeds = spark.createDataFrame([(D("domain1.com", "page2"), 1.0)], ["url", "score"])
    res = crawl(
        spark,
        seeds,
        pages=simple_graph,
        robots_rules=rules,
        sitemap_entries=sitemap,
        config=CrawlConfig(max_ticks=8),
    )
    st = state_map(res)
    # page2 has no outlinks; domain2 pages are reachable ONLY via sitemap
    assert st[D("domain2.com", "deep")]["status"] == "FETCHED"
    assert D("domain2.com", "deep") in traced(res, "sitemap_entries")


def test_lengthener_expands_short_seed(spark, simple_graph):
    redirects = redirects_table(spark, {"http://bit.ly/d1": D("domain1.com")})
    seeds = spark.createDataFrame([("http://bit.ly/d1", 1.0)], ["url", "score"])
    res = crawl(
        spark, seeds, pages=simple_graph, redirects=redirects, config=CrawlConfig(max_ticks=6)
    )
    st = state_map(res)
    assert "http://bit.ly/d1" not in st
    assert st[D("domain1.com")]["status"] == "FETCHED"


def test_crawldelay_spreads_fetches_across_ticks(spark):
    # one domain, 5 pages, crawl delay 60s, tick 100s -> ~2 fetch slots
    # per tick; SKIPPED_CRAWLDELAY rows carry their future slot time
    adjacency = {D("slow.com"): [D("slow.com", f"p{i}") for i in range(5)]}
    adjacency.update({D("slow.com", f"p{i}"): [] for i in range(5)})
    pages = render_pages(web_graph_from_adjacency(spark, adjacency)).localCheckpoint(eager=True)
    robots = robots_table(
        spark, {"http://slow.com/robots.txt": "User-agent: *\nCrawl-delay: 60"}
    )
    rules = parse_robots_rules(robots)
    seeds = spark.createDataFrame([(D("slow.com"), 1.0)], ["url", "score"])
    res = crawl(
        spark,
        seeds,
        pages=pages,
        robots_rules=rules,
        config=CrawlConfig(max_ticks=10, tick_ms=100_000),
    )
    st = state_map(res)
    assert all(st[D("slow.com", f"p{i}")]["status"] == "FETCHED" for i in range(5))
    # politeness forced the crawl to take multiple ticks
    assert res.ticks >= 3


def test_robots_parser_semantics():
    rules = parse_robots_txt(
        """
# comment
User-agent: other-bot
Disallow: /

User-agent: *
Disallow: /private
Allow: /private/ok
Crawl-delay: 2.5
Sitemap: http://x.com/sitemap.xml
""",
        agent="flink-crawler",
    )
    assert rules["disallow"] == ["/private"]
    assert rules["allow"] == ["/private/ok"]
    assert rules["crawl_delay_ms"] == 2500
    assert rules["sitemaps"] == ["http://x.com/sitemap.xml"]

    exact = parse_robots_txt(
        "User-agent: flink-crawler\nDisallow: /x\n\nUser-agent: *\nDisallow: /",
        agent="flink-crawler",
    )
    assert exact["disallow"] == ["/x"]  # exact agent group beats *


def test_max_content_size_truncates(spark, simple_graph):
    """--maxcontentsize (FetchUrlsFunction body truncation): a tiny cap
    still fetches pages, but truncated bodies lose their outlinks, so
    the crawl cannot discover page1/page2 — truncation demonstrably
    reached the parse stage."""
    seeds = spark.createDataFrame([(D("domain1.com"), 1.0)], ["url", "score"])
    res = crawl(
        spark,
        seeds,
        pages=simple_graph,
        config=CrawlConfig(max_ticks=4, max_content_size=10, collect_stats=False, trace=False),
    )
    st = state_map(res)
    assert st[D("domain1.com")]["status"] == "FETCHED"
    # with full bodies the broad-crawl test reaches page1; a 10-byte body
    # has no <a href> left to extract
    assert D("domain1.com", "page1") not in st


def test_failed_sitemap_surfaces_in_trace(spark, simple_graph):
    """F4 HandleFailedSiteMapFunction: an advertised sitemap with no
    entries is logged as a failure side output (operator
    'sitemap_failed') while the good sitemap still passes through."""
    robots = robots_table(
        spark,
        {
            "http://domain1.com/robots.txt": (
                "User-agent: *\n"
                "Sitemap: http://domain1.com/sitemap.xml\n"
                "Sitemap: http://domain1.com/missing-sitemap.xml"
            )
        },
    )
    rules = parse_robots_rules(robots)
    sitemap = sitemaps_table(
        spark,
        {"http://domain1.com/sitemap.xml": [D("domain2.com", "deep")]},
    )
    seeds = spark.createDataFrame([(D("domain1.com", "page2"), 1.0)], ["url", "score"])
    res = crawl(
        spark,
        seeds,
        pages=simple_graph,
        robots_rules=rules,
        sitemap_entries=sitemap,
        config=CrawlConfig(max_ticks=8),
    )
    failed = traced(res, "sitemap_failed")
    assert failed == {"http://domain1.com/missing-sitemap.xml"}
    # the healthy sitemap's entries still reach the URL DB (pass-through)
    assert D("domain2.com", "deep") in traced(res, "sitemap_entries")


def test_refetch_mode_recrawls_due_pages(spark, simple_graph):
    """Continuous re-crawl (UrlDBFunction timer semantics): with
    refetch=True, FETCHED pages re-enter the frontier once their
    next_fetch_time arrives; with the default fetch-once admission they
    never do."""
    seeds = spark.createDataFrame([(D("domain1.com"), 1.0)], ["url", "score"])

    # fetch-once (default): every page fetched exactly once
    once = crawl(
        spark, seeds, pages=simple_graph,
        config=CrawlConfig(max_ticks=8, refetch_interval_ms=200_000),
    )
    fetch_counts = {
        r["url"]: r["n"]
        for r in once.trace.filter(F.col("operator") == "fetch")
        .groupBy("url").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert max(fetch_counts.values()) == 1

    # refetch: interval = 2 ticks -> the seed page re-fetches within the run
    re = crawl(
        spark, seeds, pages=simple_graph,
        config=CrawlConfig(
            max_ticks=8, refetch=True, refetch_interval_ms=200_000, tick_ms=100_000
        ),
    )
    re_counts = {
        r["url"]: r["n"]
        for r in re.trace.filter(F.col("operator") == "fetch")
        .groupBy("url").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert max(re_counts.values()) >= 2, re_counts
    assert re.ticks == 8  # a continuous crawl runs to its tick budget


def test_refetch_timer_sleep_jumps_the_clock(spark, simple_graph):
    """When the frontier is empty but a refetch timer is set, the loop
    sleeps the clock forward to the due time (Flink per-key timer
    semantics) instead of burning empty ticks until it arrives."""
    seeds = spark.createDataFrame([(D("domain1.com"), 1.0)], ["url", "score"])
    # interval = 50 ticks of simulated time; only 6 real ticks allowed —
    # without the clock jump no refetch could ever happen
    res = crawl(
        spark, seeds, pages=simple_graph,
        config=CrawlConfig(
            max_ticks=6, refetch=True,
            refetch_interval_ms=5_000_000, tick_ms=100_000,
        ),
    )
    counts = {
        r["url"]: r["n"]
        for r in res.trace.filter(F.col("operator") == "fetch")
        .groupBy("url").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert max(counts.values()) >= 2, counts
    assert res.ticks <= 6


@pytest.mark.parametrize("bad", [float("inf"), float("-inf"), float("nan")])
def test_config_rejects_non_finite_min_fetch_score(bad):
    # the frontier inlines the threshold into SQL text, where inf/nan
    # would not parse — the config surface refuses them up front
    with pytest.raises(ValueError, match="min_fetch_score"):
        CrawlConfig(min_fetch_score=bad)


def test_mock_fetch_rejects_pages_sharing_frontier_columns(spark, simple_graph):
    """mock_fetch's projection uses bare column names, which resolve only
    while pages and frontier share none: an overlap is refused by name
    instead of surfacing as an AMBIGUOUS_REFERENCE from the planner."""
    from flink_crawler_spark.operators.fetch import mock_fetch

    frontier = spark.createDataFrame(
        [(D("domain1.com"), "domain1.com", 1.0, 0)], "url string, pld string, score double, fetch_time long"
    )
    assert mock_fetch(frontier, simple_graph, now_ms=1).count() == 1
    with pytest.raises(ValueError, match="pld"):
        mock_fetch(frontier, simple_graph.withColumn("pld", F.lit("x")), now_ms=1)


def test_frontier_observation_read_is_bounded(spark):
    """The crawl loop reads the frontier size from an Observation that
    rides the checkpoint job. On AQE's empty-relation path the
    CollectMetrics node is folded out of the plan and the metric arrives
    as an empty row; a metric that never fires must not hang the loop.
    Both come back as None (the loop then counts the cache) within the
    wait bound."""
    import time

    from pyspark.sql import Observation

    from flink_crawler_spark.plans.state_backend import _observed_count

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the observed side is empty at runtime after its shuffle, so AQE
        # replaces the join — and the CollectMetrics below it — with an
        # empty relation
        obs = Observation("aqe_empty")
        empty = spark.range(100).filter("id > 1000").repartition(2)
        other = spark.range(50).withColumnRenamed("id", "k").repartition(2)
        empty.observe(obs, F.count(F.lit(1)).alias("n")).join(
            other, F.col("id") == F.col("k")
        ).localCheckpoint(eager=True)
        assert obs._jo.getRowOrEmpty().get().size() == 0  # the folded path
        assert _observed_count(obs, wait_s=1.0) is None
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # never fires: the JVM getRow() would wait forever
    never = Observation("never_fires")
    spark.range(3).observe(never, F.count(F.lit(1)).alias("n"))
    t0 = time.monotonic()
    assert _observed_count(never, wait_s=0.5) is None
    assert time.monotonic() - t0 < 10

    # a metric that did fire is read as-is
    fired = Observation("fired")
    spark.range(7).observe(fired, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    assert _observed_count(fired) == 7
